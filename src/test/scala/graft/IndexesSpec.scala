package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Indexes, Similarity, Stores}

class IndexesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"
  private def emb = graft.engine.Tables.embeddings(spark, sf)

  private lazy val idxPath: String = {
    val dir = Files.createTempDirectory("lsh_idx_spec").toString + "/idx"
    Indexes.writeLshIndex(emb, dir)
    dir
  }

  /** Recursive .parquet count under a path (shared by the pruning and
    * compaction tests). */
  private def parquetFiles(p: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(p)).size
  }

  test("driver bucket keys are bit-identical to the executor expression") {
    val ps = Similarity.planes(64, 64, 42L)
    val sparkKeys = spark.read.parquet(idxPath)
      .select(col("vec_id"), col("t"), col("key"))
      .as[(Long, Int, Long)].collect()
      .map { case (v, t, k) => (v, t) -> k }.toMap
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    vecs.take(50).foreach { case (vid, v) =>
      (0 until 16).foreach { t =>
        val local = Indexes.bucketKeyLocal(v.toArray, ps.slice(t * 4, (t + 1) * 4))
        assert(sparkKeys((vid, t)) === local, s"vec $vid table $t")
      }
    }
  }

  test("indexed probe output == inline lshTopK output (row-exact)") {
    val inline = Similarity.lshTopK(emb, 0L, 10).collect().toSeq
    val indexed = Indexes.lshTopKIndexed(emb, idxPath, 0L, 10).collect().toSeq
    assert(indexed === inline)
  }

  test("probe plan: partition-pruned index scan, no bucketing pass") {
    val probe = Indexes.lshTopKIndexed(emb, idxPath, 0L, 10)
    val plan = probe.queryExecution.executedPlan.toString()
    // the index scan prunes to the query's 16 (t, key) directories
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    val scans = plan.linesIterator.filter(_.contains(idxPath.split('/').last)).mkString("\n")
    assert(scans.nonEmpty)
    // no corpus re-bucketing: bucketing needs the per-table explode
    // (Generate) and 64 plane dots; the probe plan must have neither.
    assert(!plan.contains("Generate"), "probe plan re-buckets via explode")
    val dots = "graft_dot".r.findAllIn(plan).size
    // re-rank needs: dot(e,q), norm(e), plus q's own norm — never 64 plane dots
    assert(dots <= 6, s"probe plan has $dots graft_dot calls — bucketing leaked in:\n$plan")
  }

  test("IVF indexed probe output == inline ivfTopK output (row-exact)") {
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val dir = Files.createTempDirectory("ivf_idx_spec").toString + "/idx"
    Indexes.writeIvfIndex(emb, cent, dir)
    val inline = Similarity.ivfTopK(emb, cent, 0L, 10, nProbe = 4).collect().toSeq
    val indexed = Indexes.ivfTopKIndexed(emb, cent, dir, 0L, 10, nProbe = 4).collect().toSeq
    assert(indexed === inline)
  }

  test("IVF probe plan: partition-pruned cell read, no assignment pass") {
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val dir = Files.createTempDirectory("ivf_idx_spec2").toString + "/idx"
    Indexes.writeIvfIndex(emb, cent, dir)
    val probe = Indexes.ivfTopKIndexed(emb, cent, dir, 0L, 10, nProbe = 4)
    val plan = probe.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"))
    // assignment would need the centroid broadcast join + max_by aggregate;
    // the probe must have neither (re-rank aggregates nothing).
    assert(!plan.contains("max_by"), "probe plan re-assigns cells")
    val dots = "graft_dot".r.findAllIn(plan).size
    assert(dots <= 6, s"probe plan has $dots graft_dot calls — assignment leaked in:\n$plan")
  }

  test("ensureLshIndex builds once, then reuses (same path, _SUCCESS-keyed)") {
    val p1 = Indexes.ensureLshIndex(spark, emb, sf)
    val marker = new java.io.File(p1, "_SUCCESS")
    assert(marker.exists())
    val before = marker.lastModified()
    val p2 = Indexes.ensureLshIndex(spark, emb, sf)
    assert(p2 === p1)
    assert(marker.lastModified() === before, "index was rebuilt on second ensure")
    assert(p1.contains(Indexes.corpusFingerprint(emb)),
      "ensure path must embed the corpus fingerprint")
  }

  test("indexed near-dup pairs == inline bandedNearDupPairs (row-exact)") {
    val dir = Files.createTempDirectory("nd_idx_spec").toString + "/idx"
    Indexes.writeLshIndex(emb, dir, bBits = 6, lTables = 8)
    val inline = Similarity.bandedNearDupPairs(emb, threshold = 0.4)
      .orderBy("vec_a", "vec_b").collect().toSeq
    val indexed = Indexes.bandedNearDupPairsIndexed(emb, dir, threshold = 0.4)
      .orderBy("vec_a", "vec_b").collect().toSeq
    assert(indexed === inline)
    assert(inline.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("regenerated corpus at the same path rotates the index location") {
    val dir = Files.createTempDirectory("fp_spec").toString
    emb.limit(20).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def reread = spark.read.parquet(s"$dir/embeddings.parquet")
    val fp1 = Indexes.corpusFingerprint(reread)
    val path1 = Indexes.ensureLshIndex(spark, reread, dir)
    // regenerate IN PLACE: same directory name, different files
    emb.limit(25).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val fp2 = Indexes.corpusFingerprint(reread)
    val path2 = Indexes.ensureLshIndex(spark, reread, dir)
    assert(fp1 !== fp2, "fingerprint must change when the files change")
    assert(path1 !== path2, "stale index path must not be reused")
  }

  test("batched LSH ANN == per-query indexed probes, and uses GroupedTopK") {
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Indexes.lshTopKBatch(emb, idxPath, queries, k = 10)
    val plan = batch.queryExecution.executedPlan.toString()
    assert(plan.contains("GroupedTopK"), "batch cut must use the bounded-heap operator")
    val got = batch.as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).toSet }
    (0L until 5L).foreach { qid =>
      val single = Indexes.lshTopKIndexed(emb, idxPath, qid, 10)
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === single, s"query $qid")
    }
  }

  test("batched IVF ANN == per-query indexed probes") {
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val dir = Files.createTempDirectory("ivf_batch_spec").toString + "/idx"
    Indexes.writeIvfIndex(emb, cent, dir)
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Indexes.ivfTopKBatch(emb, cent, dir, queries, k = 10, nProbe = 4)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).toSet }
    (0L until 5L).foreach { qid =>
      val single = Indexes.ivfTopKIndexed(emb, cent, dir, qid, 10, nProbe = 4)
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === single, s"query $qid")
    }
  }

  test("batched PQ ANN == per-query indexed probes") {
    val cb = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    val dir = Files.createTempDirectory("pq_batch_spec").toString
    emb.write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val stable = spark.read.parquet(s"$dir/emb.parquet")
    val idx = Indexes.ensurePqIndex(spark, stable, cb, dir)
    val queries = stable.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Indexes.pqTopKBatch(stable, cb, idx, queries, k = 10, rerank = 100)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).toSet }
    (0L until 5L).foreach { qid =>
      val single = Indexes.pqTopKIndexed(stable, cb, idx, qid, 10, rerank = 100)
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === single, s"query $qid")
    }
  }

  test("filtered ANN at full probe width == brute force over the filtered corpus") {
    // exact pre-filter semantics: with every cell probed, the filtered
    // top-k must equal brute force restricted to eligible rows (the query
    // vector rides along for qv extraction; it is excluded from candidates)
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val dir = Files.createTempDirectory("ivf_filter_spec").toString + "/idx"
    Indexes.writeIvfIndex(emb, cent, dir)
    val eligible = emb.where(col("vec_id") % 3 === 1).select(col("vec_id"))
    val got = Indexes.ivfTopKIndexed(emb, cent, dir, queryId = 0L, k = 10,
      nProbe = 16, eligible = Some(eligible)).collect().toSeq
    val restricted = emb.where(col("vec_id") % 3 === 1 || col("vec_id") === 0)
    val want = Similarity.bruteForceTopK(restricted, 0L, 10).collect().toSeq
    assert(got === want)
    // and every returned row satisfies the predicate — no post-filter leak
    got.foreach(r => assert(r.getLong(0) % 3 === 1, r.toString))
    // the batch form at the same width, for query 0, is the same brute force
    val batch = Indexes.ivfTopKBatch(emb, cent, dir,
        emb.where(col("vec_id") === 0L)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 10, nProbe = 16, eligible = Some(eligible))
      .select(col("vec_id"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id")).collect().toSeq
    assert(batch === want)
  }

  test("batched filtered ANN == per-query filtered probes") {
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val dir = Files.createTempDirectory("ivf_fbatch_spec").toString + "/idx"
    Indexes.writeIvfIndex(emb, cent, dir)
    val eligible = emb.where(col("vec_id") % 3 === 1).select(col("vec_id"))
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Indexes.ivfTopKBatch(emb, cent, dir, queries, k = 10,
        nProbe = 8, eligible = Some(eligible))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).toSet }
    (0L until 5L).foreach { qid =>
      val single = Indexes.ivfTopKIndexed(emb, cent, dir, qid, 10, nProbe = 8,
          eligible = Some(eligible))
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === single, s"query $qid")
    }
  }

  test("IVF-PQ at full probe width and corpus-wide rerank equals brute force") {
    // the recall boundary identity: with every cell probed and the ADC cut
    // wider than the corpus, both approximation layers are no-ops and the
    // combined index must reproduce exact brute-force top-k row-for-row
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val cb = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    val dir = Files.createTempDirectory("ivfpq_spec").toString
    emb.write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val stable = spark.read.parquet(s"$dir/emb.parquet")
    val idx = Indexes.ensureIvfPqIndex(spark, stable, cent, cb, dir, nCells = 16)
    val n = stable.count().toInt
    val exact = Similarity.bruteForceTopK(stable, 0L, 10).collect().toSeq
    val got = Indexes.ivfPqTopKIndexed(stable, cent, cb, idx, 0L, 10,
      nProbe = 16, rerank = n).collect().toSeq
    assert(got === exact)
  }

  test("IVF-PQ probe plan: one pruned scan, no assignment, no code recompute") {
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val cb = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    val dir = Files.createTempDirectory("ivfpq_plan_spec").toString
    emb.write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val stable = spark.read.parquet(s"$dir/emb.parquet")
    val idx = Indexes.ensureIvfPqIndex(spark, stable, cent, cb, dir, nCells = 16)
    val probe = Indexes.ivfPqTopKIndexed(stable, cent, cb, idx, 0L, 10, nProbe = 4)
    val plan = probe.queryExecution.executedPlan.toString()
    // candidate generation + ADC scoring is ONE statically pruned scan of
    // the cell-partitioned code table
    assert(plan.contains("PartitionFilters"))
    // cell assignment (centroid broadcast + max_by) and code assignment
    // (pqCodeExpr's per-subspace argmin) must both stay at index-build time
    assert(!plan.contains("max_by"), "probe plan re-assigns cells")
    val dots = "graft_dot".r.findAllIn(plan).size
    assert(dots <= 6, s"probe plan has $dots graft_dot calls — model math leaked in:\n$plan")
  }

  test("batched IVF-PQ ANN == per-query indexed probes") {
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val cb = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    val dir = Files.createTempDirectory("ivfpq_batch_spec").toString
    emb.write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val stable = spark.read.parquet(s"$dir/emb.parquet")
    val idx = Indexes.ensureIvfPqIndex(spark, stable, cent, cb, dir, nCells = 16)
    val queries = stable.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Indexes.ivfPqTopKBatch(stable, cent, cb, idx, queries,
        k = 10, nProbe = 4, rerank = 100)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).toSet }
    (0L until 5L).foreach { qid =>
      val single = Indexes.ivfPqTopKIndexed(stable, cent, cb, idx, qid, 10,
          nProbe = 4, rerank = 100)
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === single, s"query $qid")
    }
  }

  test("superseded index generations are garbage-collected on build") {
    val dir = Files.createTempDirectory("gc_spec").toString
    emb.limit(20).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def reread = spark.read.parquet(s"$dir/embeddings.parquet")
    // thread-scoped immediate reclamation (cannot leak into other suites)
    Stores.withGcGrace(0L) {
      val path1 = Indexes.ensureLshIndex(spark, reread, dir)
      // regenerate twice: each rebuild must reclaim the superseded generation
      emb.limit(25).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val path2 = Indexes.ensureLshIndex(spark, reread, dir)
      emb.limit(30).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val path3 = Indexes.ensureLshIndex(spark, reread, dir)
      assert(Set(path1, path2, path3).size === 3)
      assert(!new java.io.File(path1).exists(), "generation 1 must be reclaimed")
      assert(!new java.io.File(path2).exists(), "generation 2 must be reclaimed")
      assert(new java.io.File(path3, "_SUCCESS").exists())
      // a DIFFERENT family (flat layout) in the same parent is untouched
      val flat = Indexes.ensureLshIndex(spark, reread, dir, partitionByBucket = false)
      val again = Indexes.ensureLshIndex(spark, reread, dir)
      assert(again === path3)
      assert(new java.io.File(flat, "_SUCCESS").exists())
      assert(new java.io.File(path3, "_SUCCESS").exists())
      // no tmp build dirs survive a successful commit cycle
      val leftovers = new java.io.File(path3).getParentFile.listFiles()
        .filter(_.getName.contains(".tmp-"))
      assert(leftovers.isEmpty, s"orphan tmp dirs: ${leftovers.mkString(", ")}")
    }
  }

  test("GC grace: a superseded generation stays readable for in-flight queries") {
    val dir = Files.createTempDirectory("gc_grace_spec").toString
    emb.limit(20).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def reread = spark.read.parquet(s"$dir/embeddings.parquet")
    Stores.withGcGrace(60L * 60L * 1000L) { // 1 h — nothing reclaims mid-test
      val path1 = Indexes.ensureLshIndex(spark, reread, dir)
      // a lazily-planned reader on generation 1 — another session mid-query
      val inflight = spark.read.parquet(path1)
      emb.limit(25).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val path2 = Indexes.ensureLshIndex(spark, reread, dir)
      assert(path2 !== path1)
      // the rebuild must NOT have deleted generation 1 under the reader
      assert(inflight.count() > 0, "superseded generation vanished mid-read")
      assert(new java.io.File(path1, "_SUCCESS").exists())
      assert(new java.io.File(path2, "_SUCCESS").exists())
    }
  }

  test("racing builders: both commit paths converge on one intact generation") {
    val dir = Files.createTempDirectory("race_spec").toString
    emb.limit(20).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val stable = spark.read.parquet(s"$dir/embeddings.parquet")
    val dest = s"$dir/idx_${Indexes.corpusFingerprint(stable)}"
    // two sessions interleave: both observed `dest` missing, both built
    val tmpA = graft.ops.Stores.tmpBuildPath(dest)
    val tmpB = graft.ops.Stores.tmpBuildPath(dest)
    Indexes.writeLshIndex(stable, tmpA)
    Indexes.writeLshIndex(stable, tmpB)
    graft.ops.Stores.commitIndexDir(spark, tmpA, dest) // A wins
    graft.ops.Stores.commitIndexDir(spark, tmpB, dest) // B loses, discards its tmp
    assert(new java.io.File(dest, "_SUCCESS").exists())
    assert(!new java.io.File(tmpA).exists() && !new java.io.File(tmpB).exists(),
      "loser tmp must be discarded")
    // the committed generation contains no nested tmp dir and reads clean
    val nested = new java.io.File(dest).listFiles().filter(_.getName.contains(".tmp-"))
    assert(nested.isEmpty, s"nested tmp in committed index: ${nested.mkString(", ")}")
    assert(spark.read.parquet(dest).count() > 0)
  }

  test("warm corpusFingerprint is metadata-only: zero tail-read passes") {
    val dir = Files.createTempDirectory("fp_memo_spec").toString
    emb.limit(20).write.mode("overwrite").parquet(s"$dir/e.parquet")
    def reread = spark.read.parquet(s"$dir/e.parquet")
    val fp1 = Indexes.corpusFingerprint(reread)
    val warmBefore = Indexes.fingerprintTailReads.get()
    val fp2 = Indexes.corpusFingerprint(reread)
    val fp3 = Indexes.corpusFingerprint(reread)
    assert(fp2 === fp1 && fp3 === fp1)
    assert(Indexes.fingerprintTailReads.get() === warmBefore,
      "warm fingerprint re-read file tails — the per-query driver pread loop is back")
    // changed files: the memo must MISS and the digest must rotate
    emb.limit(25).write.mode("overwrite").parquet(s"$dir/e.parquet")
    val fp4 = Indexes.corpusFingerprint(reread)
    assert(fp4 !== fp1)
    assert(Indexes.fingerprintTailReads.get() === warmBefore + 1)
  }

  /** Walk a physical plan INCLUDING adaptive query stages and subqueries —
    * `collect` alone stops at the AQE/stage leaf wrappers. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val inner = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case _ => p.children.flatMap(allNodes)
    }
    (p +: inner) ++ p.subqueries.flatMap(allNodes)
  }

  test("batch LSH probe: index scan statically prunes to the probed buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Indexes.lshTopKBatch(emb, idxPath, queries, k = 10)
    batch.collect() // finalize the adaptive plan, stages included
    val idxScans = allNodes(batch.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty => s
    }
    assert(idxScans.nonEmpty, "no partitioned scan found — index layout changed?")
    // the probed (t, pkey) pairs ride the scan as LITERAL partition
    // filters (plan-time pruning — no DPP subquery needed since the
    // materialized qKeys made the pairs constants)
    assert(idxScans.forall(_.partitionFilters.nonEmpty),
      "the batch probe full-scans the bucket-partitioned index\n" +
        idxScans.map(_.toString).mkString("\n"))
    // and the pruning is real: the scan must read strictly fewer files
    // than the index holds (5 queries × 16 tables cannot probe every
    // bucket of the near-uniform fixture corpus)
    val readFiles = idxScans.map(_.metrics("numFiles").value).sum
    val allParquet = parquetFiles(idxPath)
    assert(readFiles > 0 && readFiles < allParquet,
      s"static pruning ineffective: read $readFiles of $allParquet index files")
  }

  test("incremental near-dup: no broadcast carries arrays; refine is a shuffle join") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.types.ArrayType
    val docs = graft.engine.Tables.documents(spark, sf)
    val (sets, bands) = Indexes.ensureMinhashIndex(spark, docs, sf)
    val newBatch = docs.where(col("source") === "src0")
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val inc = Indexes.minhashNearDupsIncremental(spark, newBatch, sets, bands, 0.3)
    val rows = inc.collect()
    // every re-ingested doc finds at least its own original at jaccard 1.0
    val selfPairs = rows.filter(r => r.getLong(0) - 100000L == r.getLong(1))
    assert(selfPairs.nonEmpty && selfPairs.forall(_.getDouble(2) == 1.0))
    val nodes = allNodes(inc.queryExecution.executedPlan)
    // the round-5 scale defect: shingle-set ARRAYS must never broadcast —
    // a real ingest batch's sets don't fit in a broadcast
    val arrayBroadcasts = nodes.collect {
      case b: BroadcastExchangeExec
        if b.output.exists(_.dataType.isInstanceOf[ArrayType]) => b
    }
    assert(arrayBroadcasts.isEmpty,
      s"broadcast exchange carries an array column:\n${arrayBroadcasts.mkString("\n")}")
    // the refine joins batch sets by SHUFFLE on new_id (hint-pinned)
    assert(nodes.exists {
      case j: ShuffledHashJoinExec => j.leftKeys.exists(_.toString.contains("new_id"))
      case _ => false
    }, "refine must shuffle-join the batch sets on new_id")
  }

  test("compactLshIndex: folds append-grown files, probe bit-identical") {
    val grown = Files.createTempDirectory("lsh_compact_spec").toString + "/idx"
    // build from one slice, then three appends — each lands extra files
    // inside the touched (t, pkey) dirs
    Indexes.writeLshIndex(emb.where(col("vec_id") % 4 === 0), grown)
    (1 to 3).foreach(m =>
      Indexes.appendLshIndex(emb.where(col("vec_id") % 4 === m), grown))
    val before = Indexes.lshTopKIndexed(emb, grown, 7L, 10)
      .as[(Long, Double)].collect().toSeq
    val compacted = Files.createTempDirectory("lsh_compact_dst").toString + "/idx"
    Indexes.compact(spark, grown, compacted)
    val after = Indexes.lshTopKIndexed(emb, compacted, 7L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(after === before, "compaction must not change probe results")
    assert(parquetFiles(compacted) < parquetFiles(grown),
      s"compaction must shrink the file count " +
        s"(${parquetFiles(grown)} -> ${parquetFiles(compacted)})")
    // same row multiset, canonical layout
    assert(spark.read.parquet(compacted).count() ===
      spark.read.parquet(grown).count())

    // corpus-scaled band width (bBits=6): compaction preserves the
    // source's own pkey values, so there is NO band-width parameter to
    // mismatch (the bug class a caller-supplied bBits default invited:
    // shift=0 re-bucketing would silently empty every probe)
    val grown6 = Files.createTempDirectory("lsh_compact6_spec").toString + "/idx"
    Indexes.writeLshIndex(emb.where(col("vec_id") % 2 === 0), grown6, bBits = 6)
    Indexes.appendLshIndex(emb.where(col("vec_id") % 2 === 1), grown6, bBits = 6)
    val before6 = Indexes.lshTopKIndexed(emb, grown6, 7L, 10, bBits = 6)
      .as[(Long, Double)].collect().toSeq
    assert(before6.nonEmpty)
    val compacted6 = Files.createTempDirectory("lsh_compact6_dst").toString + "/idx"
    Indexes.compact(spark, grown6, compacted6)
    val after6 = Indexes.lshTopKIndexed(emb, compacted6, 7L, 10, bBits = 6)
      .as[(Long, Double)].collect().toSeq
    assert(after6 === before6, "b=6 probe must survive compaction unchanged")

    // cell-partitioned twin: IVF-PQ (codes must survive compaction)
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val cbs = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    val grownPq = Files.createTempDirectory("ivfpq_compact_spec").toString + "/idx"
    Indexes.writeIvfPqIndex(emb.where(col("vec_id") % 2 === 0), cent, cbs, grownPq)
    Indexes.appendIvfPqIndex(emb.where(col("vec_id") % 2 === 1), cent, cbs, grownPq)
    val beforePq = Indexes.ivfPqTopKIndexed(emb, cent, cbs, grownPq, 7L, 10,
      nProbe = 4, rerank = 32).as[(Long, Double)].collect().toSeq
    val compactedPq = Files.createTempDirectory("ivfpq_compact_dst").toString + "/idx"
    Indexes.compact(spark, grownPq, compactedPq)
    val afterPq = Indexes.ivfPqTopKIndexed(emb, cent, cbs, compactedPq, 7L, 10,
      nProbe = 4, rerank = 32).as[(Long, Double)].collect().toSeq
    assert(afterPq === beforePq, "IVF-PQ probe must survive compaction")
    assert(parquetFiles(compactedPq) < parquetFiles(grownPq))
  }

  test("knn graph: per-point top-j equals a window reference over the candidates") {
    import org.apache.spark.sql.expressions.Window
    val got = Indexes.knnGraphIndexed(emb, idxPath, j = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.nonEmpty)
    // every point emits at most j neighbours, all distinct
    got.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.size <= 3, s"point $a has ${rows.size} neighbours")
      assert(rows.map(_._2).size === rows.size)
    }
    // reference: identical candidate derivation, cut by a window instead
    // of the bounded heap — row_number semantics must agree exactly
    val idx = spark.read.parquet(idxPath)
    val e = emb.select(col("vec_id"), col("embedding"))
    val pairs = idx.select(col("t"), col("key"), col("vec_id").as("vec_a"))
      .join(idx.select(col("t"), col("key"), col("vec_id").as("vec_b")), Seq("t", "key"))
      .where(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val scored = pairs
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.ops.Similarity.cosRound(col("emb_a"), col("emb_b"), 6).as("cos"))
    val w = Window.partitionBy(col("vec_a")).orderBy(col("cos").desc, col("vec_b").asc)
    // rn stays in the output so RankLimitRewrite cannot fire — the
    // reference must run a REAL window, not the operator under test
    val want = scored.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
  }

  test("knnGraphDelete: delete-refresh equals a full rebuild on survivors") {
    val path = Files.createTempDirectory("knn_del_spec").toString + "/idx"
    Indexes.writeLshIndex(emb, path, partitionByBucket = false)
    val prev = Indexes.knnGraphIndexed(emb, path, j = 3).localCheckpoint(true)
    val del = emb.where(col("vec_id") % 5 === 1).select(col("vec_id"))
    val delIds = del.as[Long].collect().toSet
    assert(delIds.nonEmpty)
    val got = Indexes.knnGraphDelete(emb, path, del, prev, j = 3)
      .as[(Long, Long, Double)].collect().toSet
    // oracle: rebuild index + graph from scratch on the surviving corpus
    // with the identical banding params
    val survivors = emb.join(del, Seq("vec_id"), "left_anti")
    val rb = Files.createTempDirectory("knn_del_rebuild").toString + "/idx"
    Indexes.writeLshIndex(survivors, rb, partitionByBucket = false)
    val want = Indexes.knnGraphIndexed(survivors, rb, j = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, "delete-refresh must be indistinguishable from a rebuild")
    assert(got.forall { case (a, b, _) => !delIds(a) && !delIds(b) },
      "no deleted id may survive on either edge end")
    // the empty delete batch is the identity (given no tombstones)
    val none = emb.where(col("vec_id") < 0).select(col("vec_id"))
    val idGot = Indexes.knnGraphDelete(emb, path, none, prev, j = 3)
      .as[(Long, Long, Double)].collect().toSet
    val prevSet = prev.as[(Long, Long, Double)].collect().toSet
    assert(idGot === prevSet, "empty delete batch must be a no-op")
  }

  test("graph ANN navigation: entries, hop expansion, and re-rank are exact") {
    // a hand-built store makes every stage hand-checkable: 6 dim-2
    // vectors, 2 cells, a directed edge chain 0→1→5→3→2→4
    val root = Files.createTempDirectory("graphann").toString
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.5f, 0.5f)), (4L, Seq(-1.0f, 0.2f)), (5L, Seq(0.8f, 0.3f))
    ).toDF("vec_id", "embedding")
    Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell", "centroid")
      .write.parquet(s"$root/cent")
    val cent = spark.read.parquet(s"$root/cent")
    Seq((0L, 0), (1L, 0), (5L, 0), (2L, 1), (3L, 1), (4L, 1))
      .toDF("vec_id", "cell").write.parquet(s"$root/ivf")
    Seq((0L, 1L), (1L, 5L), (5L, 3L), (3L, 2L), (2L, 4L))
      .toDF("vec_a", "vec_b").write.parquet(s"$root/graph")
    def search(nProbe: Int, hops: Int): Seq[Long] =
      Indexes.annGraphSearch(e, cent, s"$root/ivf", s"$root/graph",
          queryId = 0L, k = 10, nProbe = nProbe, hops = hops)
        .select("vec_id").as[Long].collect().toSeq
    // query 0 ranks cell 0 first (cos 1.0 vs 0.0); entry = min id = 0
    assert(search(1, 0) === Seq.empty, "hops=0: only the query itself visited")
    assert(search(1, 1) === Seq(1L), "one hop reaches 0→1")
    assert(search(1, 2) === Seq(1L, 5L), "two hops add 5; cos orders 1 first")
    assert(search(1, 3) === Seq(1L, 5L, 3L))
    // saturation: the full reachable chain, re-ranked by cosine to q —
    // hand order: cos(1)≈.994 > cos(5)≈.937 > cos(3)≈.707 > cos(2)=0 > cos(4)≈-.98
    assert(search(1, 10) === Seq(1L, 5L, 3L, 2L, 4L))
    // probing the second cell adds entry min(2,3,4)=2 at zero hops
    assert(search(2, 0) === Seq(2L), "second cell's entry joins the visited set")

    // BEAM variant: with a beam at least as wide as the visited set the
    // cut never binds — identical to the unbounded BFS at every depth
    def beam(nProbe: Int, hops: Int, w: Int): Seq[Long] =
      Indexes.annGraphSearchBeam(e, cent, s"$root/ivf", s"$root/graph",
          queryId = 0L, k = 10, nProbe = nProbe, hops = hops, beamWidth = w)
        .select("vec_id").as[Long].collect().toSeq
    assert(beam(1, 10, 100) === search(1, 10), "wide beam must equal BFS")
    assert(beam(1, 2, 100) === search(1, 2))
    // narrow beam converges greedily: the query's own node (cos 1.0) and
    // its best neighbour hold the two slots — the walk reaches 5 via 1
    // but 5 never enters the beam, so the chain stops at {1, 5}
    assert(beam(1, 10, 2) === Seq(1L, 5L),
      "beam=2 must stall on the query-local optimum")

    // batched navigation == per-query single search (batching shares
    // I/O, never candidates) — three queries with distinct neighbourhoods
    val qs = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Indexes.annGraphSearchBatch(e, cent, s"$root/ivf",
        s"$root/graph", qs, k = 10, nProbe = 2, hops = 2)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq).toMap
    (0L until 3L).foreach { qid =>
      val single = Indexes.annGraphSearch(e, cent, s"$root/ivf",
          s"$root/graph", qid, k = 10, nProbe = 2, hops = 2)
        .as[(Long, Double)].collect().toSeq
      assert(batch.getOrElse(qid, Seq.empty) === single,
        s"batch result for query $qid must equal the single search")
    }
  }

  test("tombstoneLshIndex: logical delete at read, physical at compaction") {
    val path = Files.createTempDirectory("lsh_tomb_spec").toString + "/idx"
    Indexes.writeLshIndex(emb, path) // bucketed default layout
    val del = emb.where(col("vec_id") % 3 === 0).select(col("vec_id"))
    val delIds = del.as[Long].collect().toSet
    // two batches through the sidecar (append-mode accumulation)
    graft.ops.Stores.tombstone(path,
      del.where(col("vec_id") % 2 === 0), "vec_id")
    graft.ops.Stores.tombstone(path,
      del.where(col("vec_id") % 2 === 1), "vec_id")
    val visible = Indexes.readLshIndex(spark, path)
      .select(col("vec_id")).distinct().as[Long].collect().toSet
    assert(visible.intersect(delIds).isEmpty, "tombstoned ids still visible")
    assert(visible.nonEmpty)
    // physical fold: compaction drops tombstoned rows and carries NO
    // sidecar into the new generation
    val compacted = Files.createTempDirectory("lsh_tomb_dst").toString + "/idx"
    Indexes.compact(spark, path, compacted)
    assert(!new java.io.File(s"$compacted.tombstones").exists(),
      "compacted generation must not carry a tombstone sidecar")
    val physIds = spark.read.parquet(compacted)
      .select(col("vec_id")).distinct().as[Long].collect().toSet
    assert(physIds === visible, "compaction must fold exactly the tombstones")
    // probe over the compacted survivors == probe over a from-scratch
    // survivor rebuild (query vec 7 survives: 7 % 3 != 0)
    val rb = Files.createTempDirectory("lsh_tomb_rebuild").toString + "/idx"
    Indexes.writeLshIndex(emb.join(del, Seq("vec_id"), "left_anti"), rb)
    val got = Indexes.lshTopKIndexed(emb, compacted, 7L, 10)
      .as[(Long, Double)].collect().toSeq
    val want = Indexes.lshTopKIndexed(emb, rb, 7L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got === want, "post-compaction probe must match survivor rebuild")
  }

  test("unified deletes: one tombstone batch covers IVF, IVF-PQ, and LSH probes") {
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val cbs = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    val del = emb.where(col("vec_id") % 6 === 2).select(col("vec_id"))
    val delIds = del.as[Long].collect().toSet
    val survivors = emb.join(del, Seq("vec_id"), "left_anti")
    // IVF inverted lists
    val ivf = Files.createTempDirectory("uni_ivf").toString + "/idx"
    Indexes.writeIvfIndex(emb, cent, ivf)
    graft.ops.Stores.tombstone(ivf, del, "vec_id")
    val gotIvf = Indexes.ivfTopKIndexed(emb, cent, ivf, 7L, 10, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    val rbIvf = Files.createTempDirectory("uni_ivf_rb").toString + "/idx"
    Indexes.writeIvfIndex(survivors, cent, rbIvf)
    val wantIvf = Indexes.ivfTopKIndexed(emb, cent, rbIvf, 7L, 10, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(gotIvf === wantIvf, "tombstoned IVF probe must equal survivor rebuild")
    assert(gotIvf.nonEmpty && gotIvf.forall { case (id, _) => !delIds(id) })
    // the probe's static cell pruning must survive the anti-join
    val plan = Indexes.ivfTopKIndexed(emb, cent, ivf, 7L, 10, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"cell pruning lost below the tombstone fold:\n${plan.take(3000)}")
    // IVF-PQ code lists share the sidecar convention
    val pq = Files.createTempDirectory("uni_pq").toString + "/idx"
    Indexes.writeIvfPqIndex(emb, cent, cbs, pq)
    graft.ops.Stores.tombstone(pq, del, "vec_id")
    val gotPq = Indexes.ivfPqTopKIndexed(emb, cent, cbs, pq, 7L, 10,
      nProbe = 4, rerank = 32).as[(Long, Double)].collect().toSeq
    assert(gotPq.nonEmpty && gotPq.forall { case (id, _) => !delIds(id) },
      "tombstoned ids surfaced from the IVF-PQ probe")
    // cell compaction folds physically, like the LSH compactor
    val pqc = Files.createTempDirectory("uni_pq_c").toString + "/idx"
    Indexes.compact(spark, pq, pqc)
    assert(!new java.io.File(s"$pqc.tombstones").exists())
    val physIds = spark.read.parquet(pqc)
      .select(col("vec_id")).distinct().as[Long].collect().toSet
    assert(physIds.intersect(delIds).isEmpty)
    // LSH point probe (the original family) through the same verb
    val lsh = Files.createTempDirectory("uni_lsh").toString + "/idx"
    Indexes.writeLshIndex(emb, lsh)
    graft.ops.Stores.tombstone(lsh, del, "vec_id")
    val gotLsh = Indexes.lshTopKIndexed(emb, lsh, 7L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(gotLsh.nonEmpty && gotLsh.forall { case (id, _) => !delIds(id) })
    // observability describes what probes see: row counts post-delete
    val statRows = Indexes.lshIndexStats(spark, lsh)
      .agg(sum(col("n_rows"))).head().getLong(0)
    assert(statRows === survivors.count() * 16,
      "index stats must reflect the tombstone-folded view (lTables=16 rows/vec)")
    // graph SERVING honors the same tombstones (review catch: entries +
    // re-rank read the IVF index raw, serving recorded deletes): build a
    // graph over everything, tombstone against the IVF index, and no
    // deleted id may be visited or returned
    val g = Files.createTempDirectory("uni_graph").toString + "/g"
    val flatIdx = Files.createTempDirectory("uni_graph_idx").toString + "/idx"
    Indexes.writeLshIndex(emb, flatIdx, partitionByBucket = false)
    Indexes.knnGraphIndexed(emb, flatIdx, j = 3)
      .write.mode("overwrite").parquet(g)
    for (qid <- Seq(7L, 11L)) {
      val served = Indexes.annGraphSearch(emb, cent, ivf, g, qid, 10,
        nProbe = 16, hops = 3).as[(Long, Double)].collect()
      assert(served.nonEmpty && served.forall { case (id, _) => !delIds(id) },
        s"graph search served a tombstoned id for query $qid")
      val beamServed = Indexes.annGraphSearchBeam(emb, cent, ivf, g, qid, 10,
        nProbe = 16, hops = 3, beamWidth = 8).as[(Long, Double)].collect()
      assert(beamServed.forall { case (id, _) => !delIds(id) },
        s"beam search served a tombstoned id for query $qid")
    }
  }

  test("streaming-layout compaction folds into batch 0 and stays append-capable") {
    // ADVICE r12: the old flat fold DROPPED batch_id, so a compacted
    // streaming store could not accept further idempotent appends (flat
    // files next to batch_id= dirs break partition discovery) — the
    // compacted generation now keeps the unified batch_id layout, folded
    // into generation batch 0 (the compactInvertedIndex precedent)
    val grown = Files.createTempDirectory("flat_compact").toString + "/idx"
    Indexes.appendLshIndexIdempotent(emb.where(col("vec_id") % 2 === 0), 0L, grown)
    Indexes.appendLshIndexIdempotent(emb.where(col("vec_id") % 2 === 1), 1L, grown)
    val del = emb.where(col("vec_id") % 5 === 0).select(col("vec_id"))
    graft.ops.Stores.tombstone(grown, del, "vec_id")
    val compacted = Files.createTempDirectory("flat_compact_dst").toString + "/idx"
    Indexes.compact(spark, grown, compacted)
    val out = spark.read.parquet(compacted)
    assert(out.columns.contains("batch_id"),
      "compacted streaming store must keep the unified batch_id layout")
    assert(out.select(col("batch_id")).distinct().as[Long].collect().toSeq ===
      Seq(0L), "everything folds into generation batch 0")
    assert(!out.columns.contains("pkey"), "no silent re-bucketing")
    val delIds = del.as[Long].collect().toSet
    val ids = out.select(col("vec_id")).distinct().as[Long].collect().toSet
    assert(ids.nonEmpty && ids.intersect(delIds).isEmpty,
      "compaction must fold the tombstones physically")
    assert(out.count() ===
      Indexes.readLshIndex(spark, grown).count(),
      "row multiset must match the folded source")
    // the compacted generation ACCEPTS the next micro-batch — partition
    // discovery reads the mixed (folded + fresh) store without error
    Indexes.appendLshIndexIdempotent(emb.limit(2), 7L, compacted)
    val after = spark.read.parquet(compacted)
    assert(after.select(col("batch_id")).distinct().as[Long].collect().toSet ===
      Set(0L, 7L), "post-compaction appends land next to the folded batch")
  }

  test("compaction policy: file-count threshold trips the compactor, imbalance advises reband") {
    // VERDICT r12 #6: the observability table becomes the maintenance
    // trigger — thresholds as code, not a runbook
    val grown = Files.createTempDirectory("policy").toString + "/idx"
    (0 until 6).foreach(i =>
      Indexes.appendLshIndexIdempotent(emb.where(col("vec_id") % 6 === i),
        i.toLong, grown))
    val filesBefore = parquetFiles(grown)
    assert(filesBefore >= 6, "six appends must land at least six files")
    // below threshold: observed, not touched
    val calm = Indexes.compactionPolicy(spark, grown,
      Files.createTempDirectory("policy_no").toString + "/idx",
      maxFiles = filesBefore + 10)
    assert(!calm.compacted && calm.dest.isEmpty && calm.nFiles === filesBefore)
    // above threshold: compacts, store rows identical (lineage folded)
    val dest = Files.createTempDirectory("policy_dst").toString + "/idx"
    val hot = Indexes.compactionPolicy(spark, grown, dest, maxFiles = 5)
    assert(hot.compacted && hot.dest === Some(dest))
    val want = Indexes.readLshIndex(spark, grown)
      .select(col("vec_id"), col("t"), col("key"))
      .as[(Long, Int, Long)].collect().toSet
    val got = Indexes.readLshIndex(spark, dest)
      .select(col("vec_id"), col("t"), col("key"))
      .as[(Long, Int, Long)].collect().toSet
    assert(got === want, "the policy-triggered compaction must preserve rows")
    assert(parquetFiles(dest) < filesBefore, "compaction must shrink file count")
    // a skewed store (half the corpus identical → one hot bucket) trips
    // the reband advisory — which compaction alone cannot fix
    val skewed = (0 until 24).map(i => (i.toLong,
        if (i < 16) Array.tabulate(8)(_.toFloat)
        else Array.tabulate(8)(k => math.sin(i * 31 + k).toFloat)))
      .toDF("vec_id", "embedding")
    val skewIdx = Files.createTempDirectory("policy_skew").toString + "/idx"
    Indexes.writeLshIndex(skewed, skewIdx, bBits = 3, lTables = 2, dim = 8,
      partitionByBucket = false)
    val adv = Indexes.compactionPolicy(spark, skewIdx,
      Files.createTempDirectory("policy_skew_dst").toString + "/idx",
      maxFiles = 10000, maxImbalance = 1.3)
    assert(adv.rebandAdvised, s"hot bucket must advise a reband: $adv")
    assert(!adv.compacted, "imbalance alone must never trigger a re-bucket")
  }

  test("compaction policy dispatches per family: inverted and window stores") {
    import graft.ops.TextAnalysis
    val docs = graft.engine.Tables.documents(spark, sf).limit(60)
    // inverted store: grown by appends, tombstoned; the policy must
    // route to compactInvertedIndex (postings survive, sidecar folds)
    val inv = Files.createTempDirectory("policy_inv").toString + "/idx"
    (0 until 3).foreach(i => TextAnalysis.appendInvertedIndexIdempotent(
      docs.where(col("doc_id") % 3 === i), i.toLong, inv))
    TextAnalysis.tombstoneInvertedIndex(spark, inv,
      docs.where(col("doc_id") % 5 === 0).select(col("doc_id")))
    val invDest = Files.createTempDirectory("policy_inv_dst").toString + "/idx"
    val dInv = Indexes.compactionPolicy(spark, inv, invDest, maxFiles = 1)
    assert(dInv.compacted && dInv.dest === Some(invDest))
    assert(new java.io.File(s"$invDest/postings").exists(),
      "inverted store must compact through its own verb (postings kept)")
    assert(!new java.io.File(s"$invDest.tombstones").exists(),
      "compaction folds the delete sidecar physically")
    assert(!dInv.rebandAdvised,
      "term buckets track term frequency — never a reband target")
    // sb-bucketed window store routes to compactPositionedWindows
    val win = Files.createTempDirectory("policy_win").toString + "/idx"
    graft.ops.Decontamination.positionedWindows(docs, windowN = 2)
      .select(col("doc_id"), col("pos"), col("s"))
      .withColumn("sb", shiftright(col("s"), 48 - Indexes.PosWinDirBits))
      .write.mode("overwrite").partitionBy("sb").parquet(win)
    val winDest = Files.createTempDirectory("policy_win_dst").toString + "/idx"
    val dWin = Indexes.compactionPolicy(spark, win, winDest, maxFiles = 1)
    assert(dWin.compacted)
    assert(new java.io.File(winDest).listFiles()
        .exists(_.getName.startsWith("sb=")),
      "window store must compact back to its bucketed serving layout")
  }

  test("model cache is a bounded LRU: an ad-hoc key stream cannot grow the driver") {
    // r13 ADVICE: the bm25stats family keys on the query's term list, so
    // a serving process answering arbitrary queries used to leak one
    // entry per distinct query forever. Flood with more distinct keys
    // than the cap and the cache must stay capped, while a committed
    // model re-read still hits (access-ordered: recently-used survives).
    val df = emb.limit(1)
    val before = Indexes.modelCacheSize
    (0 until 1200).foreach { i =>
      Indexes.memoModel(df, s"lru_probe_$i")(java.lang.Long.valueOf(i.toLong))
    }
    assert(Indexes.modelCacheSize <= 1024,
      s"cache must stay bounded, holds ${Indexes.modelCacheSize}")
    assert(Indexes.modelCacheSize >= math.min(1024, before),
      "the flood itself must be cached (not silently dropped)")
    // a hot key touched during the flood survives it
    Indexes.memoModel(df, "lru_probe_hot")(java.lang.Long.valueOf(-1L))
    (0 until 500).foreach { i =>
      Indexes.memoModel(df, s"lru_probe2_$i")(java.lang.Long.valueOf(i.toLong))
      Indexes.memoModel(df, "lru_probe_hot")(java.lang.Long.valueOf(-999L))
    }
    assert(Indexes.memoModel(df, "lru_probe_hot")(
      java.lang.Long.valueOf(-999L)) === java.lang.Long.valueOf(-1L),
      "an access-refreshed entry must survive the churn (LRU, not FIFO)")
  }

  test("generation manifest: atomic reader flip, rollback-safe grace-gated retirement") {
    val root = Files.createTempDirectory("manifest").toString
    val manifest = s"$root/manifest"
    // no manifest yet: nothing to serve, nothing to retire
    assert(Stores.currentGeneration(spark, manifest).isEmpty)
    assert(Stores.retireGenerations(spark, manifest).isEmpty)
    def mkGen(n: Int): String = {
      val g = s"$root/gen$n"
      emb.limit(n + 1).write.parquet(g)
      g
    }
    val g0 = mkGen(0); val g1 = mkGen(1); val g2 = mkGen(2)
    assert(Stores.publishGeneration(spark, manifest, g0) === 0L)
    assert(Stores.currentGeneration(spark, manifest) === Some(g0))
    assert(Stores.publishGeneration(spark, manifest, g1) === 1L)
    assert(Stores.currentGeneration(spark, manifest) === Some(g1))
    // retirement respects the grace window: a young superseded generation
    // survives (in-flight readers), an aged one goes
    Stores.withGcGrace(Long.MaxValue) {
      assert(Stores.retireGenerations(spark, manifest).isEmpty)
      assert(new java.io.File(g0).exists())
    }
    Thread.sleep(5) // grace clock runs from SUPERSESSION (successor mtime)
    Stores.withGcGrace(0L) {
      assert(Stores.retireGenerations(spark, manifest) === Seq(g0))
    }
    assert(!new java.io.File(g0).exists(), "aged superseded generation retires")
    assert(new java.io.File(g1).exists(), "the current generation never retires")
    // the flip history survives retirement (pointer files stay)
    assert(Stores.currentGeneration(spark, manifest) === Some(g1))
    // rollback: RE-publishing an old path flips back; its superseded
    // pointer must then never retire the live data dir
    Stores.publishGeneration(spark, manifest, g2)
    Stores.publishGeneration(spark, manifest, g1) // roll back to g1
    assert(Stores.currentGeneration(spark, manifest) === Some(g1))
    Thread.sleep(5)
    Stores.withGcGrace(0L) {
      val retired = Stores.retireGenerations(spark, manifest)
      assert(retired === Seq(g2), s"only the abandoned g2 retires: $retired")
    }
    assert(new java.io.File(g1).exists(),
      "a rolled-back-to generation survives retirement of its old pointer")
    assert(spark.read.parquet(Stores.currentGeneration(spark, manifest).get)
      .count() === 2L)
    // the review-caught race, pinned: an OLD generation superseded JUST
    // NOW must survive a grace larger than the supersession age — the
    // clock runs from supersession, not publication (else a long-lived
    // current generation is deleted under its in-flight readers the
    // instant a compaction flips past it)
    val m2 = s"$root/manifest2"
    val gOld = mkGen(3)
    Stores.publishGeneration(spark, m2, gOld)
    val hourAgo = System.currentTimeMillis() - 60L * 60L * 1000L
    assert(new java.io.File(gOld).setLastModified(hourAgo))
    new java.io.File(m2).listFiles().foreach(f => f.setLastModified(hourAgo))
    Stores.publishGeneration(spark, m2, mkGen(4)) // supersede NOW
    Stores.withGcGrace(10L * 60L * 1000L) {
      assert(Stores.retireGenerations(spark, m2).isEmpty,
        "an aged generation superseded inside the grace window must survive")
    }
    assert(new java.io.File(gOld).exists())
    // age the SUPERSEDING pointer past the grace: now it retires
    new java.io.File(m2).listFiles().foreach(f => f.setLastModified(hourAgo))
    Stores.withGcGrace(10L * 60L * 1000L) {
      assert(Stores.retireGenerations(spark, m2) === Seq(gOld))
    }
  }

  test("positioned-window delete lifecycle: fold at probe, physical fold at compaction") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (0L, "a b c d a b c"),
      (1L, "x a b c y"),
      (2L, "a b c"),
      (3L, "b c a b c")).toDF("doc_id", "text")
    val srv = Files.createTempDirectory("poswin_del").toString + "/idx"
    graft.ops.Decontamination.positionedWindows(docs, windowN = 2)
      .select(col("doc_id"), col("pos"), col("s"))
      .withColumn("sb", shiftright(col("s"), 48 - Indexes.PosWinDirBits))
      .write.mode("overwrite").partitionBy("sb").parquet(srv)
    val before = TextAnalysis.phraseSearch(spark, srv, Seq("a", "b", "c"), 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(before.map(_._1) === Seq(0L, 1L, 2L, 3L))
    // tombstone docs 1 and 3 (replayed: the fold dedups) — probe must
    // equal a store built without them
    val del = Seq(1L, 3L).toDF("doc_id")
    graft.ops.Stores.tombstone(srv, del, "doc_id")
    graft.ops.Stores.tombstone(srv, del, "doc_id")
    val got = TextAnalysis.phraseSearch(spark, srv, Seq("a", "b", "c"), 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got === before.filter(r => r._1 == 0L || r._1 == 2L),
      "tombstoned docs must stop being served by phrase search")
    // physical fold: compacted generation has no sidecar, no deleted
    // rows, identical probe; serving layout (sb dirs) preserved
    val dest = Files.createTempDirectory("poswin_del_c").toString + "/idx"
    Indexes.compact(spark, srv, dest)
    assert(!new java.io.File(s"$dest.tombstones").exists())
    assert(new java.io.File(dest).listFiles().exists(_.getName.startsWith("sb=")),
      "compaction must preserve the bucketed serving layout")
    val left = spark.read.parquet(dest).select(col("doc_id")).distinct()
      .as[Long].collect().toSet
    assert(left === Set(0L, 2L))
    val gotC = TextAnalysis.phraseSearch(spark, dest, Seq("a", "b", "c"), 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(gotC === got, "probe must survive physical delete folding")
    // the idempotent streaming channel: replay rewrites its partition
    val srv2 = Files.createTempDirectory("poswin_del_s").toString + "/idx"
    graft.ops.Decontamination.positionedWindows(docs, windowN = 2)
      .select(col("doc_id"), col("pos"), col("s"))
      .withColumn("sb", shiftright(col("s"), 48 - Indexes.PosWinDirBits))
      .write.mode("overwrite").partitionBy("sb").parquet(srv2)
    graft.ops.Stores.tombstone(srv2, del, "doc_id", Some(5L))
    graft.ops.Stores.tombstone(srv2, del, "doc_id", Some(5L))
    val gotS = TextAnalysis.phraseSearch(spark, srv2, Seq("a", "b", "c"), 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(gotS === got)
    // layout guard: a streaming append onto a NON-streaming serving
    // store (flat sb= files) must fail loudly, not mix layouts
    val boom = intercept[IllegalArgumentException] {
      Indexes.appendPositionedWindowsIdempotent(docs, 7L, srv, 2)
    }
    assert(boom.getMessage.contains("non-streaming"), boom.getMessage)
  }

  test("maintenance cycle: append -> policy compacts -> manifest flips -> retire -> probe identical") {
    // the production loop the round-13 verbs compose: a store grows by
    // idempotent appends, the stats-driven policy compacts it into a
    // fresh generation, the manifest flips readers atomically, grace
    // retires the old generation — and the probe answers identically
    // through every step
    val root = Files.createTempDirectory("cycle").toString
    val gen0 = s"$root/gen0"
    (0 until 4).foreach(i =>
      Indexes.appendLshIndexIdempotent(emb.where(col("vec_id") % 4 === i),
        i.toLong, gen0))
    val manifest = s"$root/manifest"
    Stores.publishGeneration(spark, manifest, gen0)
    def probeRows(path: String): Set[(Long, Int, Long)] =
      Indexes.readLshIndex(spark, path)
        .select(col("vec_id"), col("t"), col("key"))
        .as[(Long, Int, Long)].collect().toSet
    val before = probeRows(Stores.currentGeneration(spark, manifest).get)
    // the policy trips on file count and compacts into gen1
    val gen1 = s"$root/gen1"
    val d = Indexes.compactionPolicy(spark,
      Stores.currentGeneration(spark, manifest).get, gen1, maxFiles = 3)
    assert(d.compacted, s"4 appended batches must trip maxFiles=3: $d")
    Stores.publishGeneration(spark, manifest, gen1)
    assert(probeRows(Stores.currentGeneration(spark, manifest).get) === before,
      "the flipped-to generation must answer identically")
    // retirement reclaims the superseded generation, current survives
    Stores.withGcGrace(0L) {
      assert(Stores.retireGenerations(spark, manifest) === Seq(gen0))
    }
    assert(!new java.io.File(gen0).exists())
    assert(probeRows(Stores.currentGeneration(spark, manifest).get) === before,
      "the probe must survive old-generation retirement")
  }

  test("rebucketLshIndex cuts a probe-capable two-level generation from a streaming store") {
    val grown = Files.createTempDirectory("rebucket").toString + "/idx"
    Indexes.appendLshIndexIdempotent(emb.where(col("vec_id") % 2 === 0), 0L, grown,
      bBits = 4, lTables = 8)
    Indexes.appendLshIndexIdempotent(emb.where(col("vec_id") % 2 === 1), 1L, grown,
      bBits = 4, lTables = 8)
    val dest = Files.createTempDirectory("rebucket_dst").toString + "/idx"
    Indexes.rebucketLshIndex(spark, grown, dest, bBits = 4)
    // the canonical two-level serving layout: pkey partition dirs, no
    // batch lineage, and the point probe answers from it
    val out = spark.read.parquet(dest)
    assert(out.columns.contains("pkey") && !out.columns.contains("batch_id"))
    val got = Indexes.lshTopKIndexed(emb, dest, 0L, 10, bBits = 4, lTables = 8)
    val want = Similarity.lshTopK(emb, 0L, 10, bBits = 4, lTables = 8)
    assert(got.collect().toSeq === want.collect().toSeq,
      "rebucketed generation must serve point probes identically to inline")
    // a wrong band width is caught loudly, never silently re-bucketed
    val bad = Files.createTempDirectory("rebucket_bad").toString + "/idx"
    val e = intercept[IllegalArgumentException] {
      Indexes.rebucketLshIndex(spark, grown, bad, bBits = 2)
    }
    assert(e.getMessage.contains("band-width mismatch"))
  }

  test("minhash delete lifecycle: tombstoned near-dups equal a survivor rebuild") {
    val docs = graft.engine.Tables.documents(spark, sf)
    val base = Files.createTempDirectory("mh_tomb").toString
    Indexes.appendMinhashIndex(docs, s"$base/sets", s"$base/bands")
    val del = docs.where(col("doc_id") % 4 === 1).select(col("doc_id"))
    val delIds = del.as[Long].collect().toSet
    Indexes.tombstoneMinhashIndex(spark, s"$base/sets", del)
    val got = Indexes.minhashNearDupsIndexed(spark, s"$base/sets",
        s"$base/bands", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val rb = Files.createTempDirectory("mh_tomb_rb").toString
    Indexes.appendMinhashIndex(docs.join(del, Seq("doc_id"), "left_anti"),
      s"$rb/sets", s"$rb/bands")
    val want = Indexes.minhashNearDupsIndexed(spark, s"$rb/sets",
        s"$rb/bands", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, "tombstoned derivation must equal a survivor rebuild")
    assert(got.nonEmpty && got.forall { case (a, b2, _) => !delIds(a) && !delIds(b2) })
    // incremental ingest against the tombstoned state must not match
    // deleted corpus docs (a re-ingest of deleted content is NEW, not dup)
    val reingest = docs.where(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val inc = Indexes.minhashNearDupsIncremental(spark, reingest,
        s"$base/sets", s"$base/bands", threshold = 0.3)
      .select(col("corpus_id")).as[Long].collect().toSet
    assert(inc.intersect(delIds).isEmpty,
      "deleted corpus docs must not surface as incremental matches")
    // simhash — the fourth family on the same lifecycle (doc-keyed sigs)
    val sh = Files.createTempDirectory("sh_tomb").toString + "/idx"
    graft.ops.Dedup.simhash(docs).write.mode("overwrite").parquet(sh)
    graft.ops.Stores.tombstone(sh, del, "doc_id")
    val gotSh = Indexes.simhashNearDupsIndexed(spark, sh)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val shRb = Files.createTempDirectory("sh_tomb_rb").toString + "/idx"
    graft.ops.Dedup.simhash(docs.join(del, Seq("doc_id"), "left_anti"))
      .write.mode("overwrite").parquet(shRb)
    val wantSh = Indexes.simhashNearDupsIndexed(spark, shRb)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(gotSh === wantSh, "tombstoned simhash pairs must equal survivor rebuild")
  }

  test("batch probes: an EMPTY query frame returns empty, not a crash") {
    import graft.ops.TextAnalysis
    val none = emb.where(col("vec_id") < 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val cb = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    val root = Files.createTempDirectory("empty_batch_spec").toString
    Indexes.writeIvfIndex(emb, cent, s"$root/ivf")
    Indexes.writeIvfPqIndex(emb, cent, cb, s"$root/ivfpq")
    val pq = Indexes.ensurePqIndex(spark, emb, cb, sf)
    Seq((0L, 1L)).toDF("vec_a", "vec_b").write.parquet(s"$root/graph")
    val eligible = emb.where(col("vec_id") % 3 === 1).select(col("vec_id"))
    TextAnalysis.writeInvertedIndex(graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")), s"$root/inv")
    val noTerms = Seq.empty[(Long, Seq[String])].toDF("query_id", "terms")
    val eligibleDocs = eligible.select(col("vec_id").as("doc_id"))
    val probes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "lsh" -> (() => Indexes.lshTopKBatch(emb, idxPath, none, k = 10)),
      "ivf" -> (() => Indexes.ivfTopKBatch(emb, cent, s"$root/ivf", none,
        k = 10, nProbe = 4)),
      "ivf eligible" -> (() => Indexes.ivfTopKBatch(emb, cent, s"$root/ivf",
        none, k = 10, nProbe = 4, eligible = Some(eligible))),
      "pq" -> (() => Indexes.pqTopKBatch(emb, cb, pq, none, k = 10)),
      "ivf-pq" -> (() => Indexes.ivfPqTopKBatch(emb, cent, cb, s"$root/ivfpq",
        none, k = 10, nProbe = 4)),
      "graph" -> (() => Indexes.annGraphSearchBatch(emb, cent, s"$root/ivf",
        s"$root/graph", none, k = 10, nProbe = 4, hops = 2)),
      "bm25 indexed" -> (() => TextAnalysis.bm25TopKIndexedBatch(spark,
        s"$root/inv", noTerms, k = 10)),
      "bm25 indexed eligible" -> (() => TextAnalysis.bm25TopKIndexedBatch(spark,
        s"$root/inv", noTerms, k = 10, eligible = Some(eligibleDocs))))
    probes.foreach { case (name, probe) =>
      withClue(s"$name: ") { assert(probe().count() === 0L) }
    }
  }

  test("appendLshIndex / appendIvfIndex: appended index equals a rebuild") {
    val half1 = emb.where(col("vec_id") % 2 === 0)
    val half2 = emb.where(col("vec_id") % 2 === 1)
    val grown = Files.createTempDirectory("lsh_append_spec").toString + "/idx"
    Indexes.writeLshIndex(half1, grown)
    Indexes.appendLshIndex(half2, grown)
    val full = Files.createTempDirectory("lsh_append_full").toString + "/idx"
    Indexes.writeLshIndex(emb, full)
    val got = Indexes.lshTopKIndexed(emb, grown, 7L, 10)
      .as[(Long, Double)].collect().toSeq
    val want = Indexes.lshTopKIndexed(emb, full, 7L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got === want, "LSH probe over the appended index must match a rebuild")
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val grownIvf = Files.createTempDirectory("ivf_append_spec").toString + "/idx"
    Indexes.writeIvfIndex(half1, cent, grownIvf)
    Indexes.appendIvfIndex(half2, cent, grownIvf)
    val fullIvf = Files.createTempDirectory("ivf_append_full").toString + "/idx"
    Indexes.writeIvfIndex(emb, cent, fullIvf)
    val gi = Indexes.ivfTopKIndexed(emb, cent, grownIvf, 7L, 10, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    val wi = Indexes.ivfTopKIndexed(emb, cent, fullIvf, 7L, 10, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(gi === wi, "IVF probe over the appended index must match a rebuild")
  }

  test("appendIvfPqIndex: appended combined index equals a rebuild") {
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val cb = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    val half1 = emb.where(col("vec_id") % 2 === 0)
    val half2 = emb.where(col("vec_id") % 2 === 1)
    val grown = Files.createTempDirectory("ivfpq_append_spec").toString + "/idx"
    Indexes.writeIvfPqIndex(half1, cent, cb, grown)
    Indexes.appendIvfPqIndex(half2, cent, cb, grown)
    val full = Files.createTempDirectory("ivfpq_append_full").toString + "/idx"
    Indexes.writeIvfPqIndex(emb, cent, cb, full)
    val got = Indexes.ivfPqTopKIndexed(emb, cent, cb, grown, 7L, 10, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    val want = Indexes.ivfPqTopKIndexed(emb, cent, cb, full, 7L, 10, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(got === want, "IVF-PQ probe over the appended index must match a rebuild")
  }

  test("racing ensureShingleSets builders converge on one committed generation") {
    val docs = graft.engine.Tables.documents(spark, sf)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val paths = Await.result(Future.sequence((1 to 4).map(_ => Future {
      Indexes.ensureShingleSets(spark, docs, sf, shingleN = 4, label = "race_spec")
    })), 120.seconds)
    assert(paths.distinct.size === 1, s"racers must agree on the path: $paths")
    val p = new java.io.File(paths.head)
    assert(new java.io.File(p, "_SUCCESS").exists())
    // no racer's tmp dir survives, and exactly one committed generation
    val siblings = p.getParentFile.listFiles()
      .filter(_.getName.startsWith("shingles_n4_009race_spec_"))
    assert(siblings.map(_.getName).count(!_.contains(".tmp-")) === 1,
      s"one generation expected: ${siblings.map(_.getName).toSeq}")
    assert(!siblings.exists(_.getName.contains(".tmp-")),
      "loser tmp dirs must be discarded")
    // the committed table is complete and readable
    assert(spark.read.parquet(paths.head).count() ===
      graft.ops.Dedup.shingleSets(docs, 4).count())
  }

  test("appendMinhashIndex: post-append index equals a from-scratch rebuild") {
    val docs = graft.engine.Tables.documents(spark, sf)
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 === 1)
    // explicitly-managed index location (NOT an ensureMinhashIndex path —
    // those are write-once content-addressed; see the op's caveat)
    val base = Files.createTempDirectory("mh_append_spec").toString
    val (sets, bands) = (s"$base/sets", s"$base/bands")
    graft.ops.Dedup.shingleSets(a).write.parquet(sets)
    graft.ops.Dedup.lshBandKeys(
        graft.ops.Dedup.minhashSignaturesFromSets(
          graft.ops.Dedup.shingleSets(a), 16), 16, 2)
      .write.parquet(bands)
    Indexes.appendMinhashIndex(b, sets, bands)
    val got = Indexes.minhashNearDupsIndexed(spark, sets, bands, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val want = graft.ops.Dedup.nearDupPairs(docs, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, "appended index must serve the union corpus")
    // the appended batch is now discoverable by the NEXT increment
    val reprobe = b.limit(5)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    val hits = Indexes.minhashNearDupsIncremental(spark, reprobe, sets, bands, 0.3)
      .as[(Long, Long, Double)].collect()
    assert(hits.exists { case (nid, cid, j) => nid - 200000L == cid && j == 1.0 },
      "re-ingested copy of an appended doc must find its original")
  }

  test("ensureLifecycleMinhashIndex: append → probe serves the union corpus") {
    val docs = graft.engine.Tables.documents(spark, sf)
    val batch = docs.where(col("source") === "src0")
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val (sets, bands) = Indexes.ensureLifecycleMinhashIndex(spark, docs, batch, sf)
    val got = Indexes.minhashNearDupsIndexed(spark, sets, bands, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val union = docs.select(col("doc_id"), col("text"))
      .unionAll(batch.select(col("doc_id"), col("text")))
    val want = graft.ops.Dedup.nearDupPairs(union, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, "lifecycle index must serve the union corpus")
    // the append is visible: every appended doc pairs with its original at 1.0
    val batchIds = batch.select(col("doc_id")).as[Long].collect()
    assert(batchIds.nonEmpty &&
      batchIds.forall(id => got.contains((id - 100000L, id, 1.0))),
      "appended docs must find their originals through the grown index")
    // re-execution reuses the committed generation (idempotent query path)
    val again = Indexes.ensureLifecycleMinhashIndex(spark, docs, batch, sf)
    assert(again === ((sets, bands)), "second call must hit the committed index")
  }

  test("semantic dedup: within-cell groups elect min-id reps, cross-cell stays apart") {
    val vecs = Seq(
      (1L, Array(1.00f, 0.00f, 0f, 0f)),  // cluster A
      (2L, Array(0.99f, 0.01f, 0f, 0f)),
      (3L, Array(0.95f, 0.05f, 0f, 0f)),
      (10L, Array(0.00f, 1.00f, 0f, 0f)), // cluster B
      (11L, Array(0.01f, 0.99f, 0f, 0f)),
      (20L, Array(0f, 0f, 1f, 0f))        // orthogonal: shares a cell, no pair
    ).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("cell", "centroid")
    val dir = Files.createTempDirectory("semdedup_spec").toString + "/idx"
    Indexes.writeIvfIndex(vecs, cents, dir)
    val groups = Indexes.semanticDedupGroups(vecs, dir, threshold = 0.9)
      .as[(Long, Long)].collect().toMap
    // A groups to rep 1 with 3 members, B to rep 10 with 2; the orthogonal
    // vector lands in cell 0 (tie -> min cell) but pairs with nothing
    assert(groups === Map(1L -> 3L, 10L -> 2L))
  }

  test("semantic dedup: oversized cell sub-blocks and still finds tight dup pairs") {
    // One centroid -> ONE cell holding all 40 vectors: the degenerate
    // quantizer that used to require-fail. 20 well-separated directions,
    // each with a tight duplicate (cos ≈ 1 within a pair, far below the
    // 0.9 threshold across pairs). Sub-blocking (maxCellSize=8 -> b>=1)
    // must keep every within-pair candidate that shares its sign bucket —
    // for antipodal-free tight pairs the hyperplane rarely splits them —
    // and the job must complete bounded instead of dying on the bound.
    val base = (0 until 20).map { i =>
      val v = Array.fill(32)(0f); v(i) = 1f; v
    }
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 2L, v), (i * 2L + 1L, v.map(x => x * 0.999f + 0.0005f)))
    }.toDF("vec_id", "embedding")
    val cents = Seq((0, Array.fill(32)(1.0))).toDF("cell", "centroid")
    val dir = Files.createTempDirectory("semdedup_block_spec").toString + "/idx"
    Indexes.writeIvfIndex(vecs, cents, dir)
    val groups = Indexes.semanticDedupGroups(vecs, dir, threshold = 0.9,
        maxCellSize = 8L)
      .as[(Long, Long)].collect().toMap
    // Every found group must be a genuine (even, even+1) duplicate pair;
    // sub-blocking may drop pairs split by a plane but must not invent any.
    assert(groups.nonEmpty, "sub-blocked dedup found nothing")
    groups.foreach { case (rep, n) =>
      assert(rep % 2 == 0 && n == 2L, s"unexpected group ($rep, $n)")
    }
    // Exact same-corpus reference: with a fine quantizer there are 20 pairs;
    // sub-blocking must keep the large majority (tight pairs co-bucket).
    assert(groups.size >= 15, s"sub-blocking lost too many pairs: ${groups.size}/20")
  }

  test("semantic dedup: an unsplittable near-identical clique fails loudly") {
    // 40 copies of one direction: no hyperplane separates them, so the
    // post-sub-blocking guard must raise the named error instead of
    // silently running the quadratic join.
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array(1f, 0.001f * i, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0, 0.0, 0.0, 0.0))).toDF("cell", "centroid")
    val dir = Files.createTempDirectory("semdedup_clique_spec").toString + "/idx"
    Indexes.writeIvfIndex(vecs, cents, dir)
    val e = intercept[Exception] {
      Indexes.semanticDedupGroups(vecs, dir, threshold = 0.9, maxCellSize = 4L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    assert(messages(e).exists(_.contains("sub-block bound violated")),
      s"expected the named guard error, got: $e")
  }

  // ---- multi-probe LSH -----------------------------------------------------

  test("multiProbeKeysLocal: base first, each flip differs by one distinct bit") {
    val ps = Similarity.planes(4, 64, 42L)
    val v = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).as[Seq[Float]].head().toArray
    val keys = Indexes.multiProbeKeysLocal(v, ps, nFlips = 2)
    assert(keys.length === 3)
    assert(keys.head === Indexes.bucketKeyLocal(v, ps))
    val flippedBits = keys.tail.map(_ ^ keys.head)
    flippedBits.foreach(b => assert(java.lang.Long.bitCount(b) === 1))
    assert(flippedBits.distinct.length === 2)
  }

  test("multi-probe candidates are a superset; recall >= single-probe recall") {
    def recallOf(got: Seq[Long]): Double = {
      val truth = Similarity.bruteForceTopK(emb, 0L, 10)
        .select(col("vec_id")).as[Long].collect().toSet
      got.count(truth).toDouble / truth.size
    }
    val sp = Indexes.lshTopKIndexed(emb, idxPath, 0L, 10)
      .select(col("vec_id")).as[Long].collect().toSeq
    val mp = Indexes.lshTopKIndexed(emb, idxPath, 0L, 10, nFlips = 2)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(recallOf(mp) >= recallOf(sp),
      s"multi-probe recall ${recallOf(mp)} below single-probe ${recallOf(sp)}")
    // nFlips = 0 degenerates to exactly the single-probe result
    val mp0 = Indexes.lshTopKIndexed(emb, idxPath, 0L, 10, nFlips = 0)
      .collect().toSeq
    assert(mp0 === Indexes.lshTopKIndexed(emb, idxPath, 0L, 10).collect().toSeq)
  }

  test("multi-probe plan: still statically pruned, no bucketing pass") {
    val probe = Indexes.lshTopKIndexed(emb, idxPath, 0L, 10, nFlips = 2)
    val plan = probe.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert(!plan.contains("Generate"), "probe plan re-buckets via explode")
    val dots = "graft_dot".r.findAllIn(plan).size
    assert(dots <= 6, s"probe plan has $dots graft_dot calls — bucketing leaked in:\n$plan")
  }

  test("compaction policy: every recognised layout compacts to its folded rows") {
    import graft.ops.{Dedup, Decontamination, Stores, TextAnalysis}
    val docs = graft.engine.Tables.documents(spark, sf).limit(60)
    val cent = spark.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath)
    val cb = spark.read.parquet(graft.queries.PipelineQueries.pqCodebooksPath)
    def tmp(tag: String) = Files.createTempDirectory(s"layout_$tag").toString + "/idx"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.filterNot(_ == "batch_id").sorted
      df.select(cols.map(col).toSeq: _*).collect().map(_.toString).toSeq.sorted
    }
    val delVec = emb.where(col("vec_id") % 5 === 0).select(col("vec_id"))
    val delDoc = docs.where(col("doc_id") % 5 === 0).select(col("doc_id"))
    def flatDocStore(df: org.apache.spark.sql.DataFrame)(p: String): Unit =
      df.write.mode("overwrite").parquet(p)
    def knnGraphRead(p: String) = {
      val raw = spark.read.parquet(p)
      Stores.deleted(spark, p, "vec_id").fold(raw)(del => raw
        .join(del.withColumnRenamed("vec_id", "vec_a"), Seq("vec_a"), "left_anti")
        .join(del.withColumnRenamed("vec_id", "vec_b"), Seq("vec_b"), "left_anti"))
    }
    def minhashRead(p: String) =
      rows(Indexes.readMinhashTable(spark, s"$p/sets")) ++
        rows(Indexes.readMinhashTable(spark, s"$p/bands"))
    def invertedRead(p: String) = {
      val post = spark.read.parquet(s"$p/postings")
      rows(TextAnalysis.invertedTombstones(spark, p).fold(post)(t =>
        post.join(t.select(col("doc_id")), Seq("doc_id"), "left_anti")))
    }
    // (layout, build a small store, tombstone a few keys, folded rows)
    val table: Seq[(String, String => Unit, String => Unit, String => Seq[String])] = Seq(
      ("lsh bucketed", Indexes.writeLshIndex(emb, _),
        Stores.tombstone(_, delVec, "vec_id"), p => rows(Indexes.readLshIndex(spark, p))),
      ("lsh flat", Indexes.writeLshIndex(emb, _, partitionByBucket = false),
        Stores.tombstone(_, delVec, "vec_id"), p => rows(Indexes.readLshIndex(spark, p))),
      ("lsh streaming", p => (0 until 2).foreach(i => Indexes.appendLshIndexIdempotent(
          emb.where(col("vec_id") % 2 === i), i.toLong, p)),
        Stores.tombstone(_, delVec, "vec_id", Some(0L)),
        p => rows(Indexes.readLshIndex(spark, p))),
      ("ivf cell", Indexes.writeIvfIndex(emb, cent, _),
        Stores.tombstone(_, delVec, "vec_id"), p => rows(Indexes.readLshIndex(spark, p))),
      ("ivf-pq cell", Indexes.writeIvfPqIndex(emb, cent, cb, _),
        Stores.tombstone(_, delVec, "vec_id"), p => rows(Indexes.readLshIndex(spark, p))),
      ("pq codes", flatDocStore(emb.select(col("vec_id"),
          (col("vec_id") % 16).cast("int").as("c0"),
          (col("vec_id") % 7).cast("int").as("c1"))),
        Stores.tombstone(_, delVec, "vec_id"), p => rows(Indexes.readLshIndex(spark, p))),
      ("knn graph", flatDocStore(Indexes.knnGraphIndexed(emb, idxPath, 3)),
        Stores.tombstone(_, delVec, "vec_id"), p => rows(knnGraphRead(p))),
      ("minhash", p => Indexes.appendMinhashIndex(docs, s"$p/sets", s"$p/bands"),
        p => Indexes.tombstoneMinhashIndex(spark, s"$p/sets", delDoc), minhashRead),
      ("inverted", TextAnalysis.writeInvertedIndex(docs, _),
        TextAnalysis.tombstoneInvertedIndex(spark, _, delDoc), invertedRead),
      // the fuzzy store carries no sidecar by design (deletes re-derive df
      // from the inverted index's survivors at probe time)
      ("fuzzy terms", TextAnalysis.writeFuzzyTermIndex(docs, _), _ => (),
        p => rows(spark.read.parquet(p))),
      ("positioned windows serving", p =>
          Decontamination.positionedWindows(docs, windowN = 2)
            .select(col("doc_id"), col("pos"), col("s"))
            .withColumn("sb", shiftright(col("s"), 48 - Indexes.PosWinDirBits))
            .write.mode("overwrite").partitionBy("sb").parquet(p),
        Stores.tombstone(_, delDoc, "doc_id"),
        p => rows(Stores.live(spark, p, "doc_id"))),
      ("positioned windows streaming",
        Indexes.appendPositionedWindowsIdempotent(docs, 3L, _, windowN = 2),
        Stores.tombstone(_, delDoc, "doc_id", Some(3L)),
        p => rows(Stores.live(spark, p, "doc_id"))),
      ("positioned windows report",
        flatDocStore(Decontamination.positionedWindows(docs, windowN = 2)),
        Stores.tombstone(_, delDoc, "doc_id"),
        p => rows(Stores.live(spark, p, "doc_id"))),
      ("simhash", flatDocStore(Dedup.simhash(docs)),
        Stores.tombstone(_, delDoc, "doc_id"),
        p => rows(Stores.live(spark, p, "doc_id"))),
      ("shingle sets", flatDocStore(Dedup.shingleSets(docs, 3)),
        Stores.tombstone(_, delDoc, "doc_id"),
        p => rows(Stores.live(spark, p, "doc_id"))),
      ("window hashes", flatDocStore(Dedup.windowHashes(docs, 4)),
        Stores.tombstone(_, delDoc, "doc_id"),
        p => rows(Stores.live(spark, p, "doc_id"))),
      ("image hashes", flatDocStore(Seq(("a.png", 8, 8, "00ff00ff00ff00ff"),
          ("b.png", 8, 8, "00ff00ff00ff00fe"), ("c.png", 4, 4, "ffffffff00000000"))
          .toDF("name", "width", "height", "ahash_hex")),
        Stores.tombstone(_, Seq("b.png").toDF("name"), "name"),
        p => rows(Stores.live(spark, p, "name"))),
      ("audio hashes", flatDocStore(Seq(("a.wav", 1, 800L, "0123456789abcdef"),
          ("b.wav", 2, 900L, "0123456789abcdee"))
          .toDF("name", "channels", "n_samples", "ehash_hex")),
        Stores.tombstone(_, Seq("a.wav").toDF("name"), "name"),
        p => rows(Stores.live(spark, p, "name"))),
      // counts carry no sidecar: a base plus two appended batches merge
      ("dsir model", p => (0 until 3).foreach(i => Indexes.appendDsirModelStore(
          docs.where(col("doc_id") % 3 === i), col("doc_id") % 2 === 0, p, buckets = 64)),
        _ => (), p => rows(Indexes.readDsirModelCounts(spark, p, buckets = 64))))
    // per layout, per compacted table: (subdir, one file per leaf dir, the
    // sort order of each file's rows). A write partitioned on a column
    // that varies re-sorts its rows by the partition columns and drops the
    // layout's within-file sort, so file order is asserted on the tables
    // without such dirs (the batch_id=0 fold is a constant).
    def flat(sort: String*) = Seq(("", false, sort))
    val dirs = Seq(("", true, Nil))
    val layouts: Map[String, Seq[(String, Boolean, Seq[String])]] = Map(
      "lsh bucketed" -> dirs, "lsh flat" -> flat("t", "key"),
      "lsh streaming" -> flat("t", "key"), "ivf cell" -> dirs,
      "ivf-pq cell" -> dirs, "pq codes" -> flat("vec_id"),
      "knn graph" -> flat("vec_a", "vec_b"),
      "minhash" -> Seq(("sets", false, Seq("doc_id")), ("bands", false, Seq("band", "key"))),
      "inverted" -> Seq(("postings", true, Nil)), "fuzzy terms" -> dirs,
      "positioned windows serving" -> dirs, "positioned windows streaming" -> dirs,
      "positioned windows report" -> flat(), "simhash" -> flat("doc_id"),
      "shingle sets" -> flat("doc_id"), "window hashes" -> flat("doc_id", "pos"),
      "image hashes" -> flat("name"), "audio hashes" -> flat("name"),
      "dsir model" -> dirs)
    def leafFiles(p: String): Map[java.io.File, Seq[java.io.File]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(p)).groupBy(_.getParentFile)
    }
    def ordered(file: java.io.File, sort: Seq[String]): Boolean = {
      val keys = spark.read.parquet(file.getPath).select(sort.map(col): _*).collect()
        .map(r => sort.indices.map(i => (r.get(i) match {
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case v => v
        }).asInstanceOf[Comparable[Any]]))
      keys.toSeq.sliding(2).forall {
        case Seq(a, b) => a.zip(b).map { case (x, y) => x.compareTo(y) }
          .find(_ != 0).forall(_ < 0)
        case _ => true
      }
    }
    table.foreach { case (layout, build, delete, read) =>
      val src = tmp("src")
      build(src)
      delete(src)
      val want = read(src)
      val dest = tmp("dst")
      val d = Indexes.compactionPolicy(spark, src, dest, maxFiles = 0)
      assert(d.declined.isEmpty, s"$layout: the policy must recognise the layout: $d")
      assert(d.compacted && d.dest === Some(dest), s"$layout: $d")
      assert(read(dest) === want,
        s"$layout: the compacted generation must read the folded source rows")
      layouts(layout).foreach { case (sub, oneFile, sort) =>
        val files = leafFiles(if (sub.isEmpty) dest else s"$dest/$sub")
        assert(files.nonEmpty, s"$layout $sub: no files")
        if (oneFile) files.foreach { case (dir, fs) =>
          assert(fs.size === 1, s"$layout: $dir must hold exactly one file")
        }
        if (sort.nonEmpty) files.values.flatten.foreach(f =>
          assert(ordered(f, sort), s"$layout: $f must be sorted by $sort"))
      }
    }
  }

  test("compact: an unrecognised layout throws, names its columns, writes nothing") {
    val src = Files.createTempDirectory("compact_unknown").toString + "/idx"
    Seq((1L, "x")).toDF("id", "payload").write.parquet(src)
    val parent = Files.createTempDirectory("compact_unknown_dst").toFile
    val dest = s"$parent/idx"
    val e = intercept[IllegalArgumentException](Indexes.compact(spark, src, dest))
    assert(e.getMessage.contains("id, payload"), e.getMessage)
    assert(parent.list().isEmpty, "nothing may land at dest, nor a tmp dir beside it")
  }
}
