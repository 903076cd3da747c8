package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Indexes, Stores, TextAnalysis}

/** r13 VERDICT #4: the generation manifest gets real consumers — the
  * compaction policy PUBLISHES its new generation and retires superseded
  * ones under the standing grace, probes RESOLVE through
  * [[Stores.currentGeneration]], and a probe racing a compaction reads
  * one consistent generation before, during, and after the flip. Plus the
  * two r13 ADVICE hardenings on the same surface: the policy declines
  * stores whose layout it cannot name, and publish uses nonce'd pointer
  * names so a POSIX rename can never silently replace a rival's pointer. */
object ManifestWireSpec {
  /** Per-run index-root namespace for the FLIP tests: unique, so flips
    * never leak into the real sf-tagged families (or inherit a previous
    * run's leftover manifests — the index root outlives the JVM). */
  val flipNamespace: String =
    s"manifns-${java.util.UUID.randomUUID().toString.take(8)}"

  /** The local filesystem under the test-only `countfs` scheme, counting
    * directory listings and file opens. */
  final class CountingFs extends FilterFileSystem(new RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  }) {
    override def listStatus(f: Path): Array[FileStatus] = {
      CountingFs.listings.incrementAndGet()
      super.listStatus(f)
    }
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      CountingFs.opens.incrementAndGet()
      super.open(f, bufferSize)
    }
  }
  object CountingFs {
    val listings = new java.util.concurrent.atomic.AtomicLong()
    val opens = new java.util.concurrent.atomic.AtomicLong()
  }
}

class ManifestWireSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // the FULL sf0.001 frame, deliberately: ensure* fingerprints corpus
  // FILES, so a `.limit(n)` slice aliases the full corpus's fingerprint
  // and whoever builds first poisons the shared store (the label-less
  // families have no slice discriminator — that is exactly why the
  // sliced families take a `label`). 500 docs; speed is a non-issue.
  private val docs = graft.engine.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  test("probe under concurrent compaction: one consistent generation across the flip") {
    val root = Files.createTempDirectory("manifest_wire").toString
    val gen0 = s"$root/gen0"
    (0 until 3).foreach(i => TextAnalysis.appendInvertedIndexIdempotent(
      docs.where(col("doc_id") % 3 === i), i.toLong, gen0))
    val manifest = s"$root/manifest"
    Stores.publishGeneration(spark, manifest, gen0)
    // query terms that certainly exist: the two most frequent corpus words
    val terms = docs
      .select(explode(graft.ops.TextOps.wordsSafe(col("text"))).as("w"))
      .groupBy("w").count().orderBy(col("count").desc, col("w"))
      .limit(2).select("w").as[String].collect().toSeq.sorted
    def probe(): Seq[(Long, Double)] =
      TextAnalysis.bm25TopKIndexed(spark,
          Stores.currentGeneration(spark, manifest).get, terms, k = 10)
        .as[(Long, Double)].collect().toSeq
    val before = probe()
    assert(before.nonEmpty)
    // a reader that resolved BEFORE the flip (the in-flight snapshot)
    val preResolved = Stores.currentGeneration(spark, manifest).get
    val d = Indexes.compactionPolicy(spark, preResolved, s"$root/gen1",
      maxFiles = 1, manifestDir = Some(manifest))
    assert(d.compacted && d.dest === Some(s"$root/gen1"))
    assert(Stores.currentGeneration(spark, manifest) === Some(s"$root/gen1"),
      "the policy must publish the compacted generation")
    assert(probe() === before, "the flipped probe answers identically")
    // the pre-flip reader keeps its consistent snapshot: generations are
    // write-once and retirement is grace-gated (policy retired under the
    // DEFAULT grace, so the superseded dir must still exist)
    assert(new java.io.File(gen0).exists(),
      "grace-gated: the superseded generation survives the flip")
    assert(TextAnalysis.bm25TopKIndexed(spark, preResolved, terms, k = 10)
      .as[(Long, Double)].collect().toSeq === before)
    // after the grace expires the superseded generation retires; the
    // manifest-resolved probe is unaffected
    Thread.sleep(5)
    Stores.withGcGrace(0L) {
      assert(Stores.retireGenerations(spark, manifest) === Seq(gen0))
    }
    assert(!new java.io.File(gen0).exists())
    assert(probe() === before)
  }

  test("ensure* resolves through the family manifest; re-ensure flips nothing") {
    val sfDir = "/root/testdata/sf0.001"
    val p1 = TextAnalysis.ensureInvertedIndex(spark, docs, sfDir)
    val manifest = graft.ops.Stores.familyManifestDir(sfDir,
      s"inverted_b${TextAnalysis.TermBuckets}_")
    assert(Stores.currentGeneration(spark, manifest) === Some(p1),
      "the build path must publish its generation")
    val pointersAfterFirst = new java.io.File(manifest).listFiles().length
    val p2 = TextAnalysis.ensureInvertedIndex(spark, docs, sfDir)
    assert(p2 === p1, "steady state: the manifest resolves to the same generation")
    assert(new java.io.File(manifest).listFiles().length === pointersAfterFirst,
      "re-ensuring an already-current generation must not publish a new pointer")
  }

  test("ensure* after a manifest-published compaction keeps the flip (no republish)") {
    // ADVICE r14 (medium): compactionPolicy(manifestDir = the FAMILY
    // manifest ensure* resolves through) flips to the compacted dest;
    // the very next ensure* call used to see currentGeneration != its
    // fingerprint path and republish the uncompacted store — silently
    // undoing the flip. The lineage line in the pointer closes it.
    // HERMETIC NAMESPACE: sfDir only keys the index-root tag (the data
    // comes from the frames), so a per-run unique tag keeps this test's
    // flips out of the REAL sf0.001 families other suites' plan audits
    // assert on, and out of a previous run's leftover manifest state.
    val sfDir = ManifestWireSpec.flipNamespace
    val p1 = TextAnalysis.ensureInvertedIndex(spark, docs, sfDir)
    val manifest = graft.ops.Stores.familyManifestDir(sfDir,
      s"inverted_b${TextAnalysis.TermBuckets}_")
    val terms = docs
      .select(explode(graft.ops.TextOps.wordsSafe(col("text"))).as("w"))
      .groupBy("w").count().orderBy(col("count").desc, col("w"))
      .limit(2).select("w").as[String].collect().toSeq.sorted
    val before = TextAnalysis.bm25TopKIndexed(spark, p1, terms, k = 10)
      .as[(Long, Double)].collect().toSeq
    val dest = Files.createTempDirectory("manifest_keepflip").toString + "/c0"
    val d = Indexes.compactionPolicy(spark, p1, dest, maxFiles = 0,
      manifestDir = Some(manifest))
    assert(d.compacted && Stores.currentGeneration(spark, manifest) === Some(dest))
    val pointers = new java.io.File(manifest).listFiles()
      .count(_.getName.startsWith("gen-"))
    val p2 = TextAnalysis.ensureInvertedIndex(spark, docs, sfDir)
    assert(p2 === dest,
      "ensure* must recognize the compacted generation as serving its " +
        "fingerprint (lineage), not flip back to the uncompacted store")
    assert(new java.io.File(manifest).listFiles()
      .count(_.getName.startsWith("gen-")) === pointers,
      "no pointer published: the compaction flip is final")
    assert(TextAnalysis.bm25TopKIndexed(spark, p2, terms, k = 10)
      .as[(Long, Double)].collect().toSeq === before,
      "the served compacted generation answers identically")
    // a compaction OF the compaction propagates the same fingerprint
    // root — the chain case the lineage line exists for
    val dest2 = Files.createTempDirectory("manifest_keepflip").toString + "/c1"
    val d2 = Indexes.compactionPolicy(spark, dest, dest2, maxFiles = 0,
      manifestDir = Some(manifest))
    assert(d2.compacted)
    assert(TextAnalysis.ensureInvertedIndex(spark, docs, sfDir) === dest2,
      "lineage must survive a compaction chain")
    // BUILD-SKIP after retirement (review catch): retire the superseded
    // generations so the FINGERPRINT directory itself is gone — the next
    // ensure must serve the flip WITHOUT re-running the corpus build
    // (pre-fix it found successExists false, paid the full rebuild, and
    // the manifest answer immediately shadowed it)
    Thread.sleep(5)
    Stores.withGcGrace(0L) { Stores.retireGenerations(spark, manifest) }
    assert(!new java.io.File(p1).exists(),
      "retirement must reclaim the superseded fingerprint generation")
    assert(TextAnalysis.ensureInvertedIndex(spark, docs, sfDir) === dest2)
    assert(!new java.io.File(p1).exists(),
      "no wasted rebuild of the retired fingerprint generation")
    // ROLLBACK flip: point the manifest at the (now dead) fingerprint
    // path; the resolver's liveness check sees the dead pointer, ensure
    // REBUILDS the fingerprint generation, and serving continues from
    // it — the disaster-recovery shape.
    Stores.publishGeneration(spark, manifest, p1, lineage = Some(p1))
    assert(TextAnalysis.ensureInvertedIndex(spark, docs, sfDir) === p1,
      "rollback: the republished fingerprint generation serves again")
    assert(new java.io.File(p1).exists(), "the rollback rebuilt the store")
  }

  test("policy declines a store whose layout it cannot name (no mid-policy throw)") {
    val weird = Files.createTempDirectory("policy_weird").toString + "/idx"
    // a genuinely foreign layout: none of the family markers (the r14
    // dispatch widening recognizes doc-keyed report stores now, so the
    // original (doc_id, ntok, s, pos) fixture became a REAL family —
    // this one has no postings/, sets/+bands/, t/key, cell, sb,
    // vec_a/vec_b, codes, or doc-keyed marker)
    docs.select(col("doc_id").as("k1"), length(col("text")).as("v1"))
      .write.mode("overwrite").parquet(weird)
    val dest = Files.createTempDirectory("policy_weird_dst").toString + "/idx"
    val d = Indexes.compactionPolicy(spark, weird, dest, maxFiles = 0)
    assert(!d.compacted && d.dest.isEmpty)
    assert(d.declined.exists(_.contains("unrecognized store layout")),
      s"must decline with a reason: $d")
    assert(!new java.io.File(dest).exists(), "a declined policy writes nothing")
  }

  test("EVERY maintained family: policy compacts + publishes, ensure* serves the flip, content preserved") {
    // r14 VERDICT #2: manifest resolution extends past LSH/inverted to
    // every ensure* family. Per family: build → flip through the policy
    // (maxFiles = 0 forces it) with the FAMILY manifest → re-ensure must
    // serve the compacted generation (no flip-back, no new pointer) and
    // its content must equal the original's row multiset. Flips run in
    // the per-run hermetic namespace (see the keep-flip test).
    val sfDir = ManifestWireSpec.flipNamespace
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cent = spark.read.parquet("/root/repo/fixtures/ivf_centroids.parquet")
    val cb = spark.read.parquet("/root/repo/fixtures/pq_codebooks.parquet")
    val lbl = "manif15"
    val lblSeg = f"${lbl.length}%03d$lbl"
    def content(path: String, subs: Seq[String]): Map[String, Map[String, Long]] =
      subs.map { sub =>
        val p = if (sub.isEmpty) path else s"$path/$sub"
        sub -> spark.read.parquet(p).collect()
          .groupBy(_.toString).map { case (k, v) => (k, v.length.toLong) }
      }.toMap
    val fams: Seq[(String, String, () => String, Seq[String])] = Seq(
      ("simhash", "simhash_",
        () => Indexes.ensureSimhashIndex(spark, docs, sfDir), Seq("")),
      ("shingles", s"shingles_n3_${lblSeg}_",
        () => Indexes.ensureShingleSets(spark, docs, sfDir, 3, lbl), Seq("")),
      ("winhash", s"winhash_k8_${lblSeg}_",
        () => Indexes.ensureWindowHashes(spark, docs, sfDir, 8, lbl), Seq("")),
      ("poswin", s"poswin_n8_${lblSeg}_",
        () => Indexes.ensurePositionedWindows(spark, docs, sfDir, 8, lbl),
        Seq("")),
      ("poswinsrv", s"poswinsrv_n8_${lblSeg}_",
        () => Indexes.ensurePositionedWindowsServing(spark, docs, sfDir, 8, lbl),
        Seq("")),
      ("minhash", "minhash_k8_r2_n3_",
        () => Indexes.ensureMinhashIndex(spark, docs, sfDir, numHashes = 8)
          ._1.stripSuffix("/sets"), Seq("sets", "bands")),
      ("knng", "knng_j3_b3_L8_",
        () => Indexes.ensureKnnGraph(spark, emb, sfDir, j = 3, bBits = 3),
        Seq("")),
      // model-coupled ANN families: the trained model's fingerprint is
      // part of the FAMILY identity (ADVICE r15 — see ensurePqIndex)
      ("pq", s"pq_m8_cb${Indexes.corpusFingerprint(cb)}_",
        () => Indexes.ensurePqIndex(spark, emb, cb, sfDir), Seq("")),
      ("ivf", s"ivf_k16_cc${Indexes.corpusFingerprint(cent)}_",
        () => Indexes.ensureIvfIndex(spark, emb, cent, sfDir, nCells = 16),
        Seq("")),
      ("ivfpq", s"ivfpq_k16_m8_cc${Indexes.corpusFingerprint(cent)}" +
          s"_cb${Indexes.corpusFingerprint(cb)}_",
        () => Indexes.ensureIvfPqIndex(spark, emb, cent, cb, sfDir,
          nCells = 16), Seq("")),
      ("fuzzy", s"fuzzy_b${TextAnalysis.TermBuckets}_",
        () => TextAnalysis.ensureFuzzyTermIndex(spark, docs, sfDir), Seq("")))
    fams.foreach { case (name, prefix, ensure, subs) =>
      val p1 = ensure()
      val manifest = graft.ops.Stores.familyManifestDir(sfDir, prefix)
      assert(Stores.currentGeneration(spark, manifest) === Some(p1),
        s"$name: ensure must publish its generation")
      val before = content(p1, subs)
      val dest = Files.createTempDirectory(s"manif15_$name").toString + "/c0"
      val d = Indexes.compactionPolicy(spark, p1, dest, maxFiles = 0,
        manifestDir = Some(manifest))
      assert(d.compacted && d.declined.isEmpty,
        s"$name: the policy must recognize and compact this family: $d")
      assert(Stores.currentGeneration(spark, manifest) === Some(dest),
        s"$name: the policy must publish the compacted generation")
      val p2 = ensure()
      assert(p2 === dest || p2.stripSuffix("/sets") === dest,
        s"$name: re-ensure must serve the flip, got $p2")
      assert(content(dest, subs) === before,
        s"$name: compaction must preserve the row multiset")
      // rollback flip: restore the fingerprint generation as current —
      // exercises the rollback shape AND returns the shared sf0.001
      // families to steady state for later suites
      Stores.publishGeneration(spark, manifest, p1, lineage = Some(p1))
      assert(ensure() === p1, s"$name: rollback must serve again")
    }
  }

  test("racing publishers on one sequence both land; (seq, name) totally orders them") {
    val manifest = Files.createTempDirectory("manifest_race").toString + "/m"
    // simulate the POSIX race: both publishers computed seq 0; with
    // nonce'd names neither rename can replace the other, so both
    // pointers are durable and the name tiebreak picks one winner
    assert(Stores.publishGeneration(spark, manifest, "/some/genA") === 0L)
    // forge a same-sequence rival the way a racing process would have
    // landed it (unique nonce, same seq)
    val rival = new java.io.File(manifest, "gen-000000000000-zzzzzzzz")
    java.nio.file.Files.writeString(rival.toPath, "/some/genB")
    assert(Stores.currentGeneration(spark, manifest) === Some("/some/genB"),
      "same-seq pointers order by name; the later nonce wins")
    assert(new java.io.File(manifest).listFiles()
      .count(_.getName.startsWith("gen-")) === 2,
      "no publish may ever overwrite a rival's pointer")
    // the next publish sees both and moves PAST the contested sequence
    assert(Stores.publishGeneration(spark, manifest, "/some/genC") === 1L)
    assert(Stores.currentGeneration(spark, manifest) === Some("/some/genC"))
  }

  test("a served fingerprint resolves with one manifest listing and one pointer open") {
    import ManifestWireSpec.CountingFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    val root = Files.createTempDirectory("manifest_reads")
    val gen = Files.createDirectory(root.resolve("g1")).toString
    val manifest = Files.createDirectory(root.resolve("manifest"))
    // a three-pointer history in the on-disk pointer format (line 1 =
    // generation, line 2 = lineage); the last pointer serves `gen`
    Seq(s"$root/g0", s"$root/g0c\n$root/g0", s"$gen\n$gen").zipWithIndex
      .foreach { case (content, i) =>
        Files.writeString(manifest.resolve(f"gen-$i%012d-0000000$i"), content)
      }
    val (lists, opens) = (CountingFs.listings.get, CountingFs.opens.get)
    assert(Stores.resolveThroughManifest(spark, s"countfs://$manifest", gen) === gen)
    assert(CountingFs.listings.get - lists === 1, "manifest listings")
    assert(CountingFs.opens.get - opens === 1, "pointer opens")
    assert(manifest.toFile.list().length === 3, "a served fingerprint publishes nothing")
  }
}
