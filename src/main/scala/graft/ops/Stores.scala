package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The committed-store lifecycle, written once for every store family
  * (LSH, IVF, IVF-PQ, PQ, kNN graph, MinHash, SimHash, shingle/window
  * stores, image/audio hashes, DSIR models, the inverted and fuzzy-term
  * indexes, the committed edge lists). Families own their layouts and
  * probes; this object owns how a store is built, published, deleted
  * from, appended to and compacted.
  *
  * On-disk conventions (guarded by [[Indexes.IndexFormatVersion]] — any
  * change here is a version bump):
  *  - GENERATION: a write-once directory
  *    `<indexRoot>/<scope>/<family><fingerprint>`, where `scope` is the
  *    sanitized corpus dir and `fingerprint` the inputs'
  *    [[Indexes.corpusFingerprint]]. Family prefixes must never be string
  *    prefixes of one another: [[gcSiblings]] sweeps by prefix.
  *  - `.tmp-<nonce>`: every build and compaction writes
  *    `<dest>.tmp-<nonce>` and publishes with one rename
  *    ([[commitIndexDir]]), so no reader ever sees a half-written dest.
  *  - MANIFEST: `manifest_<family>` beside the generations holds the
  *    pointer files readers resolve ([[Indexes.publishGeneration]]); the
  *    `manifest_` prefix keeps it outside every family glob.
  *  - `<store>.tombstones`: the delete sidecar — plain parquet of key
  *    rows NEXT TO the store (never inside a partitioned layout), folded
  *    at read by [[live]] and physically by compaction. The multi-table
  *    MinHash base is the one exception: its shared sidecar lives at
  *    `<base>/tombstones` ([[Indexes.readMinhashTable]]).
  *  - `batch_id=<id>`: streaming appends and idempotent tombstones land
  *    in batch partitions by dynamic overwrite ([[overwritePartitions]]),
  *    so a replayed micro-batch rewrites its own partition. A store uses
  *    ONE channel: flat appends and batch dirs do not mix in one dir. */
object Stores {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** A corpus dir (or tag) as one safe path segment. */
  private[graft] def pathSegment(scope: String): String =
    scope.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Build-if-missing for a fingerprint-keyed generation
    * `<indexRoot>/<scope>/<family><fp>`: `build` writes the store into a
    * fresh tmp dir, which commits atomically, is published through the
    * family manifest, and only THEN triggers the sibling sweep —
    * [[gcSiblings]] spares whatever the manifest serves, so the flip must
    * land first or the aged superseded generation would be spared too.
    * Returns the generation the manifest serves: steady state (one
    * writer, one corpus per scope) resolves to exactly the built path; a
    * compaction flip resolves to its descendant ([[manifestServes]]).
    *
    * A store counts as built when the manifest serves it or every
    * `committed` subdir ("" = the generation itself) carries `_SUCCESS` —
    * a torn write is rebuilt, never probed. Racing builders are safe:
    * builds are deterministic and the losing rename discards its tmp. */
  def ensure(spark: SparkSession, scope: String, family: String, fp: String,
             committed: Seq[String] = Seq(""))(build: String => Unit): String = {
    val path = s"${Indexes.indexRoot}/${pathSegment(scope)}/$family$fp"
    val mdir = familyManifestDir(scope, family)
    def built = committed.forall(sub =>
      successExists(spark, if (sub.isEmpty) path else s"$path/$sub"))
    if (!manifestServes(spark, mdir, path) && !built) {
      val tmp = tmpBuildPath(path)
      build(tmp)
      commitIndexDir(spark, tmp, path)
      resolveThroughManifest(spark, mdir, path)
      gcSiblings(spark, path, family)
    }
    resolveThroughManifest(spark, mdir, path)
  }

  /** Write a compacted (or rebucketed) generation at `dest`: `write`
    * fills a tmp dir that commits atomically. Write-once: a pre-existing
    * dest wins and the tmp is discarded; the caller owns the reader flip
    * and the old generation's retirement. */
  def compact(spark: SparkSession, dest: String)(write: String => Unit): Unit = {
    val tmp = tmpBuildPath(dest)
    write(tmp)
    commitIndexDir(spark, tmp, dest)
  }

  /** The dynamic-partition-overwrite write every idempotent channel
    * shares: only the partitions `df` touches are replaced, so a replayed
    * batch rewrites its own partitions bit-identically. */
  def overwritePartitions(df: DataFrame, path: String, partitionBy: String*): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(path)

  /** Land `df` as batch `batchId` of a batch-addressed store. */
  def appendBatch(df: DataFrame, batchId: Long, path: String): Unit =
    overwritePartitions(df.withColumn("batch_id", lit(batchId)), path, "batch_id")

  // ---- delete sidecars ------------------------------------------------------

  /** The delete sidecar of a store. */
  def sidecarOf(store: String): String = s"$store.tombstones"

  /** Record deleted keys against a store WITHOUT rewriting it: a
    * physical delete rewrites every file holding a deleted row, so
    * deletes accumulate in the sidecar — folded at read by [[live]],
    * physically at the next compaction (the LSM delete lifecycle). `key`
    * is the store's identity column (`vec_id`, `doc_id` or `name`).
    * `batchId` selects the exactly-once streaming channel (one batch
    * partition per micro-batch) over the plain append. */
  def tombstone(store: String, ids: DataFrame, key: String,
                batchId: Option[Long] = None): Unit =
    writeTombstones(sidecarOf(store), ids.select(col(key)).distinct(), batchId)

  /** [[tombstone]] for callers whose sidecar rows carry more than the
    * key (the inverted index's (doc_id, dl)) or live elsewhere (the
    * MinHash base). */
  private[graft] def writeTombstones(sidecar: String, rows: DataFrame,
                                     batchId: Option[Long]): Unit =
    batchId match {
      case None    => rows.coalesce(1).write.mode("append").parquet(sidecar)
      case Some(b) => appendBatch(rows.coalesce(1), b, sidecar)
    }

  /** A store's distinct deleted `cols`, or None when its sidecar holds no
    * parquet files. */
  def deleted(spark: SparkSession, store: String, cols: String*): Option[DataFrame] =
    sidecarRows(spark, sidecarOf(store), cols)

  private def sidecarRows(spark: SparkSession, sidecar: String,
                          cols: Seq[String]): Option[DataFrame] =
    if (!hasParquetFiles(spark, sidecar)) None
    else Some(graft.engine.Tables.parquetCached(spark, sidecar)
      .select(cols.map(col): _*).distinct())

  /** Read a store with its delete sidecar folded on `key` (a left-anti
    * join): the visible rows are exactly a rebuild on the surviving
    * corpus. No sidecar ⇒ the plain read, so delete-free plans stay
    * byte-identical (partition filters still push below the anti-join
    * when one exists). The anti-join stays unhinted: sidecar volume is
    * bounded by delete traffic since the last compaction, and AQE
    * broadcasts while it fits. `sidecar` overrides [[sidecarOf]]. */
  def live(spark: SparkSession, store: String, key: String,
           sidecar: Option[String] = None): DataFrame = {
    val rows = graft.engine.Tables.parquetCached(spark, store)
    sidecarRows(spark, sidecar.getOrElse(sidecarOf(store)), Seq(key))
      .fold(rows)(del => rows.join(del, Seq(key), "left_anti"))
  }

  // ---- commit, manifest resolution, sibling GC ------------------------------

  private[graft] def tmpBuildPath(dest: String): String =
    s"$dest.tmp-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Publish a finished build atomically: one rename of the
    * session-unique tmp dir makes it visible. Two sessions racing on the
    * same missing store are safe — the loser finds `dest` present (or
    * its rename refused) and discards its own tmp; builds are
    * deterministic, so either winner serves both. */
  private[graft] def commitIndexDir(spark: SparkSession, tmp: String,
                                    dest: String): Unit = {
    val fs = fsOf(spark, dest)
    val (tmpP, destP) = (new Path(tmp), new Path(dest))
    if (fs.exists(destP) || !fs.rename(tmpP, destP)) fs.delete(tmpP, true)
    // a rename racing a just-committed dest can land tmp INSIDE it (hadoop
    // local rename moves src into an existing dst directory) — scrub that
    val nested = new Path(destP, tmpP.getName)
    if (fs.exists(nested)) fs.delete(nested, true)
  }

  private[graft] def successExists(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new Path(path, "_SUCCESS"))

  /** Store presence = actual parquet files, NOT the `_SUCCESS` marker:
    * dynamic-partition-overwrite writes commit WITHOUT a root
    * `_SUCCESS`, and gating a sidecar fold on the marker silently
    * resurrected deleted rows. The glob covers every channel layout: flat
    * files, batch_id dirs, and two-level (sb, batch_id) stores. */
  private[graft] def hasParquetFiles(spark: SparkSession, dir: String): Boolean = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    fs.exists(p) && Seq("*.parquet", "*/*.parquet", "*/*/*.parquet")
      .exists(g => fs.globStatus(new Path(p, g)).nonEmpty)
  }

  /** The manifest a family's generations flip through, beside them. */
  private[graft] def familyManifestDir(scope: String, familyPrefix: String): String =
    s"${Indexes.indexRoot}/${pathSegment(scope)}/${manifestDirName(familyPrefix)}"

  /** The ONE formula for a family's manifest dir name — shared by
    * [[familyManifestDir]] and [[gcSiblings]]' spare pass, so the two can
    * never disagree on which generation is live. */
  private def manifestDirName(familyPrefix: String): String =
    s"manifest_${familyPrefix.stripSuffix("_")}"

  /** Publish `path` unless the manifest already serves its fingerprint,
    * then serve the manifest's answer (falling back to `path` only on an
    * empty-manifest race). A current generation with a DIFFERENT lineage
    * (a new fingerprint, or a rollback) still publishes: that is a real
    * flip. */
  private[graft] def resolveThroughManifest(spark: SparkSession,
                                            manifestDir: String,
                                            path: String): String = {
    if (!manifestServes(spark, manifestDir, path))
      Indexes.publishGeneration(spark, manifestDir, path, lineage = Some(path))
    Indexes.currentGeneration(spark, manifestDir).getOrElse(path)
  }

  /** Does the manifest currently serve `path`'s fingerprint — the current
    * generation IS `path` or descends from it via compaction lineage
    * ([[Indexes.compactionPolicy]] propagates it), AND its directory
    * still exists? Without the lineage check the first ensure after a
    * compaction flip republished the uncompacted store; without the
    * liveness check a generation deleted behind the grace would brick
    * serving. Doubles as [[ensure]]'s build-skip predicate, so a retired
    * fingerprint dir under a live compacted descendant is not rebuilt. */
  private[graft] def manifestServes(spark: SparkSession, manifestDir: String,
                                    path: String): Boolean =
    Indexes.currentGenerationEntry(spark, manifestDir).exists { case (gen, lin) =>
      (gen == path || lin.getOrElse(gen) == path) &&
        fsOf(spark, gen).exists(new Path(gen))
    }

  /** Reclaim superseded generations of one family: siblings of `path`
    * sharing `familyPrefix` with a DIFFERENT fingerprint (including
    * `.tmp-*` leftovers of crashed builds) whose mtime is older than the
    * grace window ([[Indexes.effectiveGcGraceMs]]) — in-flight readers of
    * an old generation finish inside the grace. Runs once per successful
    * build, so the index root keeps one generation per family. */
  private[graft] def gcSiblings(spark: SparkSession, path: String,
                                familyPrefix: String): Unit = {
    Indexes.gcLegacyVersionRoots(spark) // once per JVM: retire superseded vN roots
    val p = new Path(path)
    val fs = fsOf(spark, path)
    val parent = p.getParent
    if (parent != null && fs.exists(parent)) {
      val cutoff = System.currentTimeMillis() - Indexes.effectiveGcGraceMs
      val family = fs.listStatus(parent)
        .filter(_.getPath.getName.startsWith(familyPrefix))
      // Pass 0 — the manifest's CURRENT generation (and the fingerprint
      // root its lineage names) are live whatever their mtime: a
      // compacted dest inside the family dir would otherwise be reclaimed
      // on its own age, undoing a flip readers just resolved. Manifest
      // retirement is [[Indexes.retireGenerations]]' job, never this one.
      val manifestDir = new Path(parent, manifestDirName(familyPrefix))
      val spared: Set[String] =
        if (!fs.exists(manifestDir)) Set.empty
        else Indexes.manifestEntries(fs, manifestDir).lastOption.toSeq.flatMap {
          case (_, ptr) =>
            val (gen, lin) = Indexes.readPointerLines(fs, ptr)
            gen +: lin.toSeq
        }.map(g => new Path(g).toUri.getPath).toSet
      def isSidecar(name: String) = name.endsWith(".tombstones")
      // Pass 1 — generations and orphaned tmp dirs: aged and not current.
      // Sidecars share the family prefix and are EXCLUDED here — reclaiming
      // an aged sidecar while its generation lives would resurrect every
      // deleted row.
      family.foreach { st =>
        val name = st.getPath.getName
        if (!isSidecar(name) && name != p.getName &&
            st.getModificationTime < cutoff &&
            !spared.contains(st.getPath.toUri.getPath))
          fs.delete(st.getPath, true)
      }
      // Pass 2 — a sidecar lives exactly as long as its own generation, AND
      // under the same mtime grace: a bare existence probe can race a
      // commit (or an object store's copy+delete rename) and sweep a live
      // generation's sidecar. Runs after pass 1 so a superseded generation
      // and its sidecar go in the same sweep.
      family.foreach { st =>
        val name = st.getPath.getName
        if (isSidecar(name) && st.getModificationTime < cutoff &&
            !fs.exists(new Path(parent, name.stripSuffix(".tombstones"))))
          fs.delete(st.getPath, true)
      }
    }
  }
}
