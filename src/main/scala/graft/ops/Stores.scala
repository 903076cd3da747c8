package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.engine.Fs

/** The committed-store lifecycle, written once for every store family
  * (LSH, IVF, IVF-PQ, PQ, kNN graph, MinHash, SimHash, shingle/window
  * stores, image/audio hashes, DSIR models, the inverted and fuzzy-term
  * indexes, the committed edge lists, the maintenance queries' demo
  * state). Families own their layouts and probes; this object alone knows
  * how a store generation is named, built, published, resolved, deleted
  * from, appended to, compacted and retired.
  *
  * On-disk conventions (guarded by [[IndexFormatVersion]] — any change
  * here is a version bump):
  *  - GENERATION: a write-once directory
  *    `<indexRoot>/<scope>/<family><fingerprint>`, where `scope` is the
  *    sanitized corpus dir and `fingerprint` the inputs' corpus
  *    fingerprint. Family prefixes must never be string
  *    prefixes of one another: [[gcSiblings]] sweeps by prefix.
  *  - `.tmp-<nonce>`: every build and compaction writes
  *    `<dest>.tmp-<nonce>` and publishes with one rename
  *    ([[commitIndexDir]]), so no reader ever sees a half-written dest.
  *  - MANIFEST: `manifest_<family>` beside the generations (the
  *    `manifest_` prefix keeps it outside every family glob), or any dir
  *    an explicitly managed store names. It holds pointer files
  *    `gen-<seq12>-<nonce8>`, ordered by (sequence, name); the highest
  *    pointer is the generation readers serve ([[currentGeneration]]).
  *    Pointer content: line 1 = the generation path; optional line 2 = its
  *    LINEAGE, the fingerprint generation it descends from by compaction.
  *    A pointer without line 2 roots its own lineage. A manifest serves a
  *    fingerprint path when its current pointer names that path or
  *    descends from it, and the named dir exists ([[servedBy]]).
  *  - `<store>.tombstones`: the delete sidecar — plain parquet of key
  *    rows NEXT TO the store (never inside a partitioned layout), folded
  *    at read by [[live]] and physically by compaction. The multi-table
  *    MinHash base is the one exception: its shared sidecar lives at
  *    `<base>/tombstones`, covering both `sets/` and `bands/`.
  *  - `batch_id=<id>`: streaming appends and idempotent tombstones land
  *    in batch partitions by dynamic overwrite ([[overwritePartitions]]),
  *    so a replayed micro-batch rewrites its own partition. A store uses
  *    ONE channel: flat appends and batch dirs do not mix in one dir.
  *  - LAYOUT: each store table declares one [[Layout]] (partition dirs,
  *    cluster columns, sort columns) that its writers and its compaction
  *    share through [[write]]. The streaming rule lives there alone: a
  *    table whose rows carry `batch_id` (or whose layout names it) is
  *    batch-partitioned, `batch_id` appended to the partition columns
  *    unless the layout places it, and a compaction folds every batch
  *    into batch 0 — the compacted store keeps accepting appends.
  *  - DEMO STATE (the delete/incremental maintenance queries): one
  *    [[ensure]] generation holding the store under `store/`, its sidecar
  *    at `store.tombstones` (MinHash: `store/tombstones`) and any prior
  *    graph under `prevgraph/`, so state, sidecar and prior graph commit,
  *    publish and retire together. */
object Stores {

  /** Bump when any index-producing ALGORITHM or naming changes (plane
    * generation, shingling, signature family, simhash votes, layout, dir
    * names) — the corpus fingerprint only guards against DATA changes;
    * without this tag an algorithm change with unchanged parameters would
    * silently probe a stale index built by the old code, and a naming
    * migration would orphan the old-named dirs.
    *  - v4: the image-hash store gains `dhash_hex`.
    *  - v5: image hashes gain `rhash_hex`; audio hashes `crate`/`cehash_hex`.
    *  - v6: DSIR model stores persist their bucket width; image hashes
    *    gain the per-rotation `r90/r180/r270_hex`.
    *  - v7: the audio-hash store gains the fixed-rate `x4k_hex`/`x6k_hex`.
    *  - v8: the fixed-rate kept-frame convention (floor + sub-64 sentinel).
    *  - v9: the maintenance queries' demo state moves into one [[ensure]]
    *    generation per corpus (`store/`, sidecar, `prevgraph/`). */
  val IndexFormatVersion = "v9"

  /** Root for committed stores (env-overridable; on a cluster this would
    * be a shared filesystem/object-store prefix). */
  val indexRoot: String = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    s"${System.getProperty("java.io.tmpdir")}/graft_indexes") + s"/$IndexFormatVersion"

  /** A corpus dir (or tag) as one safe path segment. */
  private[graft] def pathSegment(scope: String): String =
    scope.replaceAll("[^A-Za-z0-9._-]", "_")

  // ---- GC grace ---------------------------------------------------------------

  /** Grace period before a superseded store generation is reclaimed.
    * Mark-then-sweep with an age gate instead of delete-on-supersede: a
    * generation another live session is mid-query on stays readable until
    * its directory mtime falls the grace period behind the sweep —
    * in-flight reads finish, and only genuinely stale generations (and
    * orphaned tmp dirs from crashed builds) are reclaimed. */
  private[graft] val gcGraceMsDefault: Long =
    sys.env.get("SPARK_GRAFT_INDEX_GC_GRACE_MS").map(_.toLong)
      .getOrElse(15L * 60L * 1000L)

  /** Test hook, THREAD-SCOPED: a `DynamicVariable` override applies only to
    * sweeps the wrapped body itself triggers on this thread, so one
    * suite's forced-immediate grace never reclaims a generation a
    * concurrently running suite still reads. */
  private val gcGraceOverride =
    new scala.util.DynamicVariable[Option[Long]](None)
  private[graft] def withGcGrace[T](ms: Long)(body: => T): T =
    gcGraceOverride.withValue(Some(ms))(body)

  /** The effective (possibly test-overridden) grace window of every store
    * sweep. */
  private[graft] def effectiveGcGraceMs: Long =
    gcGraceOverride.value.getOrElse(gcGraceMsDefault)

  /** Run dirs (durable e2e stages) and legacy version roots get their own,
    * much larger grace: store generations are content-addressed and
    * rebuildable, run dirs are in-flight state, and one stage can outlast
    * the store grace. Floor is 6 h or the store grace, whichever is larger;
    * `SPARK_GRAFT_RUNDIR_GC_GRACE_MS` overrides, and the [[withGcGrace]]
    * test hook still governs. */
  private[graft] val runDirGcGraceMsDefault: Long =
    sys.env.get("SPARK_GRAFT_RUNDIR_GC_GRACE_MS").map(_.toLong)
      .getOrElse(math.max(gcGraceMsDefault, 6L * 60L * 60L * 1000L))
  private[graft] def effectiveRunDirGcGraceMs: Long =
    gcGraceOverride.value.getOrElse(runDirGcGraceMsDefault)

  private val legacyRootsSwept = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One-shot reclaim of SUPERSEDED version roots. A naming migration
    * orphans the old-named generations and manifests forever (no current
    * family glob matches them, and index roots are durable across JVMs),
    * so every migration bumps [[IndexFormatVersion]] and aged sibling
    * `<base>/vN` roots go whole. Grace: the run-dir grace on the root's
    * mtime — a live older-version JVM keeps creating children there, so
    * only abandoned roots age out. Runs once per JVM, piggybacked on the
    * first family sweep. */
  private def gcLegacyVersionRoots(spark: SparkSession): Unit =
    if (legacyRootsSwept.compareAndSet(false, true))
      sweepLegacyVersionRoots(spark)

  /** The sweep body (callable without consuming the once-per-JVM guard).
    * Only STRICTLY OLDER version roots are candidates: upgrades only
    * orphan the past, and `!= current` would let a lingering old binary
    * delete a newer deployment's live root. */
  private[graft] def sweepLegacyVersionRoots(spark: SparkSession): Unit = {
    val base = new Path(indexRoot).getParent
    val fs = Fs.of(spark, indexRoot)
    val current = IndexFormatVersion.stripPrefix("v").toLong
    if (base != null && fs.exists(base)) {
      val cutoff = System.currentTimeMillis() - effectiveRunDirGcGraceMs
      fs.listStatus(base).foreach { st =>
        val name = st.getPath.getName
        // 1..18 digits: fits a Long, so a stray 'v<hugenumber>' dir in
        // the shared base can never crash the sweep (it is skipped)
        if (st.isDirectory && name.matches("v\\d{1,18}") &&
            name.stripPrefix("v").toLong < current &&
            st.getModificationTime < cutoff)
          fs.delete(st.getPath, true)
      }
    }
  }

  // ---- build, compact, append -------------------------------------------------

  /** Build-if-missing for a fingerprint-keyed generation
    * `<indexRoot>/<scope>/<family><fp>`. Warm path: one manifest listing
    * and one pointer read when the manifest already serves `fp`. Cold
    * path: `build` writes the store into a fresh tmp dir, which commits
    * atomically, is published through the family manifest, and only THEN
    * triggers the sibling sweep — [[gcSiblings]] spares whatever the
    * manifest serves, so the flip must land first or the aged superseded
    * generation would be spared too. Returns the generation the manifest
    * serves: steady state (one writer, one corpus per scope) resolves to
    * exactly the built path; a compaction flip resolves to its descendant.
    *
    * A store counts as built when the manifest serves it or every
    * `committed` subdir ("" = the generation itself) carries `_SUCCESS` —
    * a torn write is rebuilt, never probed. Racing builders are safe:
    * builds are deterministic and the losing rename discards its tmp. */
  def ensure(spark: SparkSession, scope: String, family: String, fp: String,
             committed: Seq[String] = Seq(""))(build: String => Unit): String = {
    val path = s"$indexRoot/${pathSegment(scope)}/$family$fp"
    val mdir = familyManifestDir(scope, family)
    servedBy(spark, mdir, path).getOrElse {
      if (committed.forall(sub =>
            successExists(spark, if (sub.isEmpty) path else s"$path/$sub")))
        resolveThroughManifest(spark, mdir, path)
      else {
        val tmp = tmpBuildPath(path)
        build(tmp)
        commitIndexDir(spark, tmp, path)
        val served = resolveThroughManifest(spark, mdir, path)
        gcSiblings(spark, path, family)
        served
      }
    }
  }

  /** Write a compacted (or rebucketed) generation at `dest`: `write`
    * fills a tmp dir that commits atomically. Write-once: a pre-existing
    * dest wins and the tmp is discarded; the caller owns the reader flip
    * ([[publishCompacted]]) and the old generation's retirement. */
  def compact(spark: SparkSession, dest: String)(write: String => Unit): Unit = {
    val tmp = tmpBuildPath(dest)
    write(tmp)
    commitIndexDir(spark, tmp, dest)
  }

  /** The on-disk layout of one store table: `partitionBy` dirs, rows
    * hash-clustered on `clusterBy` (one file per dir when it covers the
    * dir columns) and sorted by `sortBy` within each file. Empty = skip
    * that step. A partition column that varies makes Spark's write
    * re-sort the rows by the partition columns, which drops `sortBy`
    * (files keep shuffle order); the constant batch-0 fold keeps it. */
  final case class Layout(partitionBy: Seq[String] = Nil,
                          clusterBy: Seq[String] = Nil,
                          sortBy: Seq[String] = Nil)

  /** Write `rows` by `layout` — the one writer builds, appends and
    * compactions share, holding the streaming rule of the class scaladoc.
    * `batch` lands the rows as that batch by dynamic overwrite
    * ([[overwritePartitions]]); without it, batch-partitioned rows fold
    * into batch 0 and the write uses `mode`. */
  def write(rows: DataFrame, path: String, layout: Layout,
            mode: String = "overwrite", batch: Option[Long] = None): Unit = {
    val named = layout.partitionBy.contains("batch_id")
    val streaming = batch.isDefined || named || rows.columns.contains("batch_id")
    val stamped =
      if (batch.isDefined) rows.withColumn("batch_id", lit(batch.get))
      else if (streaming) rows.withColumn("batch_id", lit(0L))
      else rows
    val parts = if (streaming && !named) layout.partitionBy :+ "batch_id"
                else layout.partitionBy
    val clustered =
      if (layout.clusterBy.isEmpty) stamped
      else stamped.repartition(layout.clusterBy.map(col): _*)
    val sorted =
      if (layout.sortBy.isEmpty) clustered
      else clustered.sortWithinPartitions(layout.sortBy.map(col): _*)
    if (batch.isDefined) overwritePartitions(sorted, path, parts: _*)
    else sorted.write.mode(mode).partitionBy(parts: _*).parquet(path)
  }

  /** The dynamic-partition-overwrite write every idempotent channel
    * shares: only the partitions `df` touches are replaced, so a replayed
    * batch rewrites its own partitions bit-identically. */
  def overwritePartitions(df: DataFrame, path: String, partitionBy: String*): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(path)

  /** Land `df` as batch `batchId` of a batch-addressed store. */
  def appendBatch(df: DataFrame, batchId: Long, path: String): Unit =
    write(df, path, Layout(), batch = Some(batchId))

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

  // ---- commit ---------------------------------------------------------------

  private[graft] def tmpBuildPath(dest: String): String =
    s"$dest.tmp-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Publish a finished build atomically: one rename of the
    * session-unique tmp dir makes it visible. Two sessions racing on the
    * same missing store are safe — the loser finds `dest` present (or
    * its rename refused) and discards its own tmp; builds are
    * deterministic, so either winner serves both. */
  private[graft] def commitIndexDir(spark: SparkSession, tmp: String,
                                    dest: String): Unit = {
    val fs = Fs.of(spark, dest)
    val (tmpP, destP) = (new Path(tmp), new Path(dest))
    if (fs.exists(destP) || !fs.rename(tmpP, destP)) fs.delete(tmpP, true)
    // a rename racing a just-committed dest can land tmp INSIDE it (hadoop
    // local rename moves src into an existing dst directory) — scrub that
    val nested = new Path(destP, tmpP.getName)
    if (fs.exists(nested)) fs.delete(nested, true)
  }

  private[graft] def successExists(spark: SparkSession, path: String): Boolean =
    Fs.of(spark, path).exists(new Path(path, "_SUCCESS"))

  /** Store presence = actual parquet files, NOT the `_SUCCESS` marker:
    * dynamic-partition-overwrite writes commit WITHOUT a root
    * `_SUCCESS`, and gating a sidecar fold on the marker silently
    * resurrected deleted rows. The glob covers every channel layout: flat
    * files, batch_id dirs, and two-level (sb, batch_id) stores. */
  private[graft] def hasParquetFiles(spark: SparkSession, dir: String): Boolean = {
    val fs = Fs.of(spark, dir)
    val p = new Path(dir)
    fs.exists(p) && Seq("*.parquet", "*/*.parquet", "*/*/*.parquet")
      .exists(g => fs.globStatus(new Path(p, g)).nonEmpty)
  }

  // ---- the generation manifest ------------------------------------------------

  /** The manifest a family's generations flip through, beside them. */
  private[graft] def familyManifestDir(scope: String, familyPrefix: String): String =
    s"$indexRoot/${pathSegment(scope)}/${manifestDirName(familyPrefix)}"

  /** The ONE formula for a family's manifest dir name — shared by
    * [[familyManifestDir]] and [[gcSiblings]]' spare pass, so the two can
    * never disagree on which generation is live. */
  private def manifestDirName(familyPrefix: String): String =
    s"manifest_${familyPrefix.stripSuffix("_")}"

  /** One pointer file of a manifest. Its content (generation, lineage) is
    * read on first use, so resolving the current generation opens one
    * pointer however long the history is. */
  private[graft] final class Pointer(fs: FileSystem, val file: FileStatus) {
    val seq: Long = file.getPath.getName.stripPrefix("gen-").takeWhile(_.isDigit).toLong
    private lazy val lines: (String, String) = {
      val in = fs.open(file.getPath)
      val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      content.split("\n", 2) match {
        case Array(gen)      => (gen, gen)
        case Array(gen, lin) => (gen, if (lin.isEmpty) gen else lin)
      }
    }
    def generation: String = lines._1
    /** The fingerprint generation this one descends from (itself when the
      * pointer records none). */
    def lineage: String = lines._2
  }

  /** A manifest's pointers sorted by (sequence, name) — the name's nonce
    * breaks same-sequence ties deterministically; legacy suffix-less
    * `gen-<seq>` names parse the same, and hidden `.gen-*.tmp` files never
    * match. One listing; empty when the manifest does not exist. */
  private[graft] def pointers(spark: SparkSession, manifestDir: String): Seq[Pointer] = {
    val fs = Fs.of(spark, manifestDir)
    val listed =
      try Option(fs.listStatus(new Path(manifestDir))).getOrElse(Array.empty[FileStatus])
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    listed.toSeq.filter(st => st.isFile && st.getPath.getName.startsWith("gen-"))
      .map(new Pointer(fs, _)).sortBy(p => (p.seq, p.file.getPath.getName))
  }

  /** The pointer readers serve from, or None on an empty/absent manifest. */
  private[graft] def current(spark: SparkSession, manifestDir: String): Option[Pointer] =
    pointers(spark, manifestDir).lastOption

  /** The path readers serve from: the current pointer's generation. One
    * listing + one tiny file read — never touches generation data. */
  def currentGeneration(spark: SparkSession, manifestDir: String): Option[String] =
    current(spark, manifestDir).map(_.generation)

  /** GENERATION MANIFEST — the atomic READER FLIP: an explicitly managed
    * store is addressed through a manifest of monotonically numbered
    * pointer files, and readers resolve [[currentGeneration]] instead of
    * a hard-coded path. The pointer is written tmp-then-rename (one atomic
    * metadata op on HDFS/local; on rename-as-copy object stores the
    * pointer is a single small object, so the PUT itself is the atomic op
    * — manifest-sized, which is why table formats flip pointers rather
    * than directories). A reader that resolved the old generation mid-flip
    * keeps reading it: generations are write-once and retirement is
    * grace-gated. Returns the published sequence.
    *
    * The pointer NAME is publisher-unique (`gen-<seq>-<nonce>`): local
    * rename(2) silently replaces an existing target, so a shared
    * `gen-<seq>` name would lose one of two racing publishes. With a nonce
    * both land, totally ordered by (seq, name), and the loser is ordinary
    * superseded history. The tmp name is unique too, so a racing create
    * never truncates another publisher's content. */
  def publishGeneration(spark: SparkSession, manifestDir: String,
                        generationPath: String,
                        lineage: Option[String] = None): Long = {
    val fs = Fs.of(spark, manifestDir)
    val dir = new Path(manifestDir)
    fs.mkdirs(dir)
    val seq = pointers(spark, manifestDir).lastOption.map(_.seq + 1L).getOrElse(0L)
    val name = f"gen-$seq%012d-${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    val content = generationPath + lineage.map("\n" + _).getOrElse("")
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val dest = new Path(dir, name)
    if (!fs.rename(tmp, dest)) {
      // nothing can legitimately occupy a nonce'd name — treat as a
      // transient fs refusal and surface it rather than spin
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"publishGeneration: rename to unique pointer $dest refused")
    }
    seq
  }

  /** The generation the manifest serves for fingerprint path `path`: the
    * current pointer names `path` or descends from it by compaction
    * lineage ([[publishCompacted]] propagates it), AND its directory still
    * exists. Without the lineage check the first ensure after a compaction
    * flip would republish the uncompacted store; without the liveness
    * check a generation deleted behind the grace would brick serving. Doubles as
    * [[ensure]]'s build-skip predicate, so a retired fingerprint dir under
    * a live compacted descendant is not rebuilt. */
  private def servedBy(spark: SparkSession, manifestDir: String,
                       path: String): Option[String] =
    current(spark, manifestDir)
      .filter(ptr => ptr.generation == path || ptr.lineage == path)
      .map(_.generation)
      .filter(gen => Fs.of(spark, gen).exists(new Path(gen)))

  /** Publish `path` unless the manifest already serves its fingerprint,
    * then serve the manifest's answer (falling back to `path` only on an
    * empty-manifest race). A current generation with a DIFFERENT lineage
    * (a new fingerprint, or a rollback) still publishes: that is a real
    * flip. */
  private[graft] def resolveThroughManifest(spark: SparkSession,
                                            manifestDir: String,
                                            path: String): String =
    servedBy(spark, manifestDir, path).getOrElse {
      publishGeneration(spark, manifestDir, path, lineage = Some(path))
      currentGeneration(spark, manifestDir).getOrElse(path)
    }

  /** The reader flip after a compaction of `src` into `dest`: publish
    * `dest` carrying src's fingerprint lineage (src's own root when src
    * was itself a compaction; src when it was never published here), so
    * the next [[ensure]] recognizes the flipped generation as serving its
    * fingerprint, then retire superseded generations under the grace. */
  def publishCompacted(spark: SparkSession, manifestDir: String,
                       src: String, dest: String): Unit = {
    val root = pointers(spark, manifestDir).reverseIterator
      .find(_.generation == src).fold(src)(_.lineage)
    publishGeneration(spark, manifestDir, dest, lineage = Some(root))
    retireGenerations(spark, manifestDir)
  }

  /** Delete superseded generation DIRS (and their delete sidecars): every
    * generation but the current one whose pointer is older than the grace
    * window ([[effectiveGcGraceMs]]) — in-flight readers finish inside the
    * grace. The grace clock runs from SUPERSESSION, not publication: a
    * generation retires only when the pointer after its LAST occurrence is
    * older than the grace (gating on the generation's own mtime would
    * delete a long-lived current generation the instant a compaction
    * superseded it), and a re-published (rolled-back) generation survives
    * its earlier superseded pointers. The pointer files stay — the
    * manifest's audit log.
    *
    * `scope` restricts deletion to generation paths under a prefix and
    * prunes every pointer naming a retired generation: the per-batch
    * snapshot publisher's guard, since a manifest may also carry
    * non-snapshot paths (a compacted LIVE store the maintenance stream
    * appends into), and its listing must stay bounded by the grace window
    * instead of growing one pointer per batch. Supersession is still
    * judged against the FULL pointer history. Returns the retired paths. */
  def retireGenerations(spark: SparkSession, manifestDir: String,
                        scope: Option[String] = None): Seq[String] = {
    val fs = Fs.of(spark, manifestDir)
    val entries = pointers(spark, manifestDir)
    val gens = entries.map(_.generation)
    val cutoff = System.currentTimeMillis() - effectiveGcGraceMs
    val candidates = gens.dropRight(1).distinct.filterNot(gens.lastOption.contains)
      .filter(gen => scope.forall(gen.startsWith))
    // every successor mtime comes from the one listing, taken BEFORE any
    // deletion: under a rollback history (g1, g2, g1, g3) a pruned pointer
    // of g1 is exactly g2's successor. A candidate's last occurrence is
    // never the current pointer, so its successor always exists.
    candidates.flatMap { gen =>
      val genP = new Path(gen)
      val supersededAt = entries(gens.lastIndexOf(gen) + 1).file.getModificationTime
      if (fs.exists(genP) && supersededAt < cutoff) {
        fs.delete(genP, true)
        val ts = new Path(sidecarOf(gen))
        if (fs.exists(ts)) fs.delete(ts, true)
        if (scope.isDefined)
          entries.filter(_.generation == gen).foreach(p => fs.delete(p.file.getPath, false))
        Some(gen)
      } else None
    }
  }

  // ---- the per-batch snapshot fence ---------------------------------------------

  /** Per-batch snapshot fence for a live-maintained store a streaming
    * reader consumes: derive a MODEL-SIZED merged view via `merge`, write
    * it into a fresh write-once nonce'd generation dir under
    * `<store>.gen/`, flip the manifest pointer strictly AFTER the write,
    * and retire superseded snapshots. Readers resolving
    * [[currentGeneration]] only ever see a complete snapshot. `merge`
    * returning None (nothing to snapshot yet — e.g. an all-filtered first
    * micro-batch) publishes NOTHING and returns None; readers keep their
    * prior.
    *
    * SINGLE publisher per store (see [[retireStoreSnapshots]]); the
    * snapshot must be bounded (it is written `coalesce(1)`) — this fence
    * is for model/count stores a stream consults per batch, not for
    * corpus-sized data. */
  def publishStoreSnapshot(spark: SparkSession, storePath: String,
                           manifestDir: String, batchId: Long)
                          (merge: => Option[DataFrame]): Option[String] =
    merge match {
      case None => None
      case Some(snapshot) =>
        val gen = s"$storePath.gen/b$batchId-" +
          java.util.UUID.randomUUID().toString.take(8)
        snapshot.coalesce(1).write.mode("overwrite").parquet(gen)
        publishGeneration(spark, manifestDir, gen)
        retireStoreSnapshots(spark, storePath, manifestDir)
        Some(gen)
    }

  /** The snapshot sweep [[publishStoreSnapshot]] runs per publish —
    * MANIFEST-DRIVEN, not dir-mtime-driven: an UNPUBLISHED orphan (a crash
    * between the snapshot write and the pointer flip) must never count as
    * a supersessor, or the sweep would delete the generation a reader just
    * resolved; a rollback republish keeps its target, which only the
    * pointer history knows. Published snapshots retire through
    * [[retireGenerations]] scoped to `<store>.gen/` (a compacted live store
    * published through the same manifest is untouchable). Crash ORPHANS —
    * snapshot dirs no pointer ever named, invisible to readers by
    * construction — are reclaimed once their own age passes the grace.
    *
    * SINGLE-PUBLISHER contract: orphan reclaim judges a dir purely by
    * age-vs-grace, so a CONCURRENT publisher's snapshot sitting in its
    * write-to-publish window is indistinguishable from a crash orphan. One
    * publisher per store — what the foreachBatch maintenance stream
    * guarantees (Structured Streaming serializes a query's batches) —
    * makes the race impossible. Do not point a second concurrent publisher
    * or an external sweeper at the same store. */
  def retireStoreSnapshots(spark: SparkSession,
                           storePath: String,
                           manifestDir: String): Seq[String] = {
    val prefix = s"$storePath.gen/"
    val retired = retireGenerations(spark, manifestDir, scope = Some(prefix))
    val fs = Fs.of(spark, storePath)
    val root = new Path(s"$storePath.gen")
    if (!fs.exists(root)) return retired
    // compare by the nonce'd dir NAME: listStatus returns fully-qualified
    // URIs (file:/…) while pointers carry the caller's raw path form
    val referencedNames = pointers(spark, manifestDir).map(_.generation)
      .filter(_.startsWith(prefix)).map(g => new Path(g).getName).toSet
    val cutoff = System.currentTimeMillis() - effectiveGcGraceMs
    val orphans = fs.listStatus(root).toSeq.filter { st =>
      st.isDirectory && !referencedNames.contains(st.getPath.getName) &&
        st.getModificationTime < cutoff
    }
    orphans.foreach(st => fs.delete(st.getPath, true))
    retired ++ orphans.map(_.getPath.toString)
  }

  // ---- sibling GC -------------------------------------------------------------

  /** Reclaim superseded generations of one family: siblings of `path`
    * sharing `familyPrefix` with a DIFFERENT fingerprint (including
    * `.tmp-*` leftovers of crashed builds) whose mtime is older than the
    * grace window ([[effectiveGcGraceMs]]) — in-flight readers of an old
    * generation finish inside the grace. Runs once per successful build,
    * so the index root keeps one generation per family. */
  private[graft] def gcSiblings(spark: SparkSession, path: String,
                                familyPrefix: String): Unit = {
    gcLegacyVersionRoots(spark) // once per JVM: retire superseded vN roots
    val p = new Path(path)
    val fs = Fs.of(spark, path)
    val parent = p.getParent
    if (parent != null && fs.exists(parent)) {
      val cutoff = System.currentTimeMillis() - effectiveGcGraceMs
      val family = fs.listStatus(parent)
        .filter(_.getPath.getName.startsWith(familyPrefix))
      // Pass 0 — the manifest's CURRENT generation (and the fingerprint
      // root its lineage names) are live whatever their mtime: a
      // compacted dest inside the family dir would otherwise be reclaimed
      // on its own age, undoing a flip readers just resolved. Manifest
      // retirement is [[retireGenerations]]' job, never this one.
      val spared: Set[String] =
        current(spark, new Path(parent, manifestDirName(familyPrefix)).toString)
          .toSeq.flatMap(ptr => Seq(ptr.generation, ptr.lineage))
          .map(g => new Path(g).toUri.getPath).toSet
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
