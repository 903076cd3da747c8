package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale-critical plan shapes the engine is
  * designed around, asserted so a refactor can't silently regress them.
  * All on sf0.001 — plan shape, not data volume, is what's under test. */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("TPC-H-shape joins: pushed date filters, hash joins only, top-k cut") {
    val q3 = plan("q_segment_top_revenue")
    assert(q3.contains("TakeOrderedAndProject(limit=10"), s"Q3 must top-k:\n$q3")
    assert(q3.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"ship-date filter must reach the lineitem scan:\n$q3")
    val q5 = plan("q_region_revenue")
    assert(!q5.contains("BroadcastNestedLoop") && !q5.contains("CartesianProduct"),
      s"the 6-way join must stay hash-based (both supplier conditions are keys):\n$q5")
    assert(q5.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"order-date range must reach the orders scan:\n$q5")
  }

  test("top-k queries use TakeOrderedAndProject, never a global sort") {
    assert(plan("q_flagship_top_median").contains("TakeOrderedAndProject(limit=20"))
    assert(plan("q_ann_brute_force").contains("TakeOrderedAndProject(limit=10"))
  }

  test("dimension and top-k joins broadcast the small side") {
    val geo = plan("q_geo_left_join")
    assert(geo.contains("BroadcastHashJoin"))
    assert(!geo.contains("SortMergeJoin"))
    val semi = plan("q_topk_semi_join")
    assert(semi.contains("LeftSemi"))
    assert(semi.contains("BroadcastHashJoin"))
  }

  test("scans prune to exactly the referenced columns") {
    // events has 6 columns; a value_counts over event_type must read one.
    assert(plan("q_value_counts").contains("FileScan parquet [event_type#"))
    // flagship reads 2 of lineitem's 16 columns.
    assert("""FileScan parquet \[l_suppkey#\d+L,l_extendedprice#\d+\]""".r
      .findFirstIn(plan("q_flagship_top_median")).isDefined)
  }

  test("filters reach the parquet scan (pushdown below mapPartitions input)") {
    assert(plan("q_multimodal_frames").contains("(doc_id#"))
    assert("""DataFilters: \[isnotnull\(doc_id#\d+L\), \(doc_id#\d+L < 100\)\]""".r
      .findFirstIn(plan("q_multimodal_frames")).isDefined)
  }

  test("sampled recall audit: the md5-bucket sample predicate reaches every embeddings scan") {
    // The scale contract of q_semantic_dedup_recall_sampled: sample
    // membership is a pure hash of vec_id, so Catalyst must push it into
    // the parquet scans on EVERY pair side — the brute-force truth side
    // then reads only the sample, and the production pair derivations
    // prune at the source instead of filtering post-join.
    val p = plan("q_semantic_dedup_recall_sampled")
    val sampledScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("DataFilters") &&
        l.contains("conv(substring(md5("))
    assert(sampledScans >= 6,
      s"expected the sample predicate in >= 6 FileScan DataFilters " +
        s"(both sides of brute, cell-pair, and sub-blocked joins), " +
        s"found $sampledScans:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"sampled brute force must not plan an unconditional cartesian:\n$p")
  }

  test("scalar bounds broadcast onto the scan instead of a driver collect") {
    // histogram joins the 1-row (min,max) frame via IdentityBroadcastMode.
    val h = plan("q_histogram")
    assert(h.contains("BroadcastExchange IdentityBroadcastMode"))
  }

  test("decontamination broadcasts the eval side — no corpus shuffle join") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval shingles must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus side must never sort-merge against the eval set")
  }

  test("salted join: salt in the join keys, gone from the output") {
    val p = plan("q_skew_salted_join")
    // the rewrite's signature: the physical join condition carries the
    // salt column (whatever strategy AQE picks), the result does not
    assert(p.contains("__graft_salt"), "salt must appear in the join keys")
    val out = SparkEntry.queries("q_skew_salted_join")(spark, d).columns.toSeq
    assert(!out.contains("__graft_salt"))
  }

  test("bloom decontamination: bit-test Filter on the corpus side, no sort-merge") {
    val p = plan("q_bloom_decontaminate")
    // the prefilter is a plain codegen'd Filter carrying the hash probes —
    // it must plan as a Filter, never as a join against a bitset table
    assert(p.contains("xxhash64"), "bloom bit test missing from the plan")
    assert(!p.contains("SortMergeJoin"),
      "corpus side must never sort-merge against the eval set")
  }

  test("tfidf per-doc cut runs through the bounded-heap operator") {
    val p = plan("q_tfidf_topterms")
    assert(p.contains("GroupedTopK"), "per-doc top-k must use the custom operator")
    assert(!p.contains("Window"), "no full window sort in the tf-idf cut")
  }

  test("ngram doc-freq top-k is TakeOrderedAndProject, domain mix is one scan") {
    assert(plan("q_ngram_docfreq").contains("TakeOrderedAndProject(limit=15"))
    // the mixture audit derives kept-ness per row: exactly one scan of
    // documents, no self-join against a sampled frame
    val mix = plan("q_domain_mix")
    assert("FileScan parquet".r.findAllIn(mix).size === 1)
    assert(!mix.contains("Join"))
  }

  test("sessionize: lag, cumsum, and the session aggregate share ONE exchange") {
    // window partitions by user_id; the (user_id, sess_id) aggregate's
    // clustered distribution is satisfied by that same hash partitioning,
    // so the whole chain must plan a single hash exchange.
    val p = plan("q_sessionize")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
  }

  test("asof join: union + running-last plans one hash exchange, no join") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), s"asof must be join-free:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
  }

  test("rollup/cube plan one Expand feeding one aggregate — not a job per level") {
    val r = plan("q_rollup")
    assert("Expand".r.findAllIn(r).size === 1, r)
    assert("Exchange hashpartitioning".r.findAllIn(r).size === 1, r)
    val c = plan("q_cube")
    assert("Expand".r.findAllIn(c).size === 1, c)
    assert("Exchange hashpartitioning".r.findAllIn(c).size === 1, c)
  }

  test("pivot lowers to one conditional aggregate — not pivotfirst's two exchanges") {
    val p = plan("q_pivot")
    // the pivot-values discovery pass would show as a second scan/aggregate
    assert("FileScan parquet".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("pivotfirst"), p)
  }

  test("melt is a narrow Expand — the group-by owns the only exchange") {
    val p = plan("q_melt")
    assert("Expand".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("salted agg: phase-1 exchange carries the salt, final agg drops it") {
    val p = plan("q_skew_salted_agg")
    // phase 1 shuffles on (user_id, salt): the hot key splits 16 ways
    assert("""Exchange hashpartitioning\(user_id#\d+L, __graft_salt""".r
      .findFirstIn(p).isDefined, p)
    // phase 2 merges partials per bare key — a second, salt-free aggregate
    assert("""HashAggregate\(keys=\[user_id#\d+L\]""".r
      .findFirstIn(p).isDefined, p)
  }

  test("sharded packing: the cumsum window partitions by (source, shard)") {
    val p = plan("q_pack_shards")
    assert("""Window .*partitionbyexpr.*""".r.findFirstIn(p).isDefined ||
      """hashpartitioning\(source#\d+, shard_id#\d+L""".r.findFirstIn(p).isDefined,
      p)
    // the window's sort key must include the shard column, so one giant
    // source can never serialize into a single sort partition
    assert("""Sort \[source#\d+ ASC NULLS FIRST, shard_id#\d+L ASC NULLS FIRST, doc_id#\d+L ASC NULLS FIRST\]""".r
      .findFirstIn(p).isDefined, p)
  }

  test("reservoir sample cuts via GroupedTopK — no per-group window sort") {
    val p = plan("q_reservoir_sample")
    assert(p.contains("GroupedTopK"), p)
    assert(!p.contains("Window"), s"reservoir fell back to a window sort:\n$p")
  }

  test("kmeans step: one cell exchange, no generate below the aggregate") {
    val p = plan("q_kmeans_step")
    assert("Exchange hashpartitioning\\(cell".r.findAllIn(p).size >= 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    // the output fan-out (posexplode of k aggregated rows) must sit ABOVE
    // the aggregate — a Generate below it re-evaluates the k-dot-product
    // assignment per exploded element (measured 2× slower)
    val gen = p.indexOf("Generate")
    val agg = p.indexOf("HashAggregate")
    assert(gen >= 0 && agg >= 0 && gen < agg,
      s"posexplode must be above the aggregate (gen@$gen, agg@$agg):\n$p")
  }

  test("trainer Lloyd iteration: per-dim means on the cell, NO Generate") {
    // the offline k-means/PQ trainers iterate this exact frame shape; a
    // posexplode variant re-evaluates the k-dot-product assignment per
    // exploded ELEMENT (ColumnPruning hoist — measured 2×, round 6)
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.embeddings(spark, d)
    val cent = Array.tabulate(4)(i => Array.tabulate(64)(j => (i + j) / 64.0))
    val assigned = emb.select(
      graft.ops.Similarity.assignCell(col("embedding"),
        graft.ops.Similarity.norm(col("embedding")), cent).as("cell"),
      col("embedding"))
    val p = graft.ops.Similarity.lloydMeansFrame(assigned, "embedding", 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), s"trainer iteration must not explode:\n$p")
    assert("Exchange hashpartitioning\\(cell".r.findAllIn(p).size === 1, p)
  }

  test("dup spans + windowed decontamination plans contain ZERO tokenization") {
    // both serve every side from materialized hash tables — if a regex
    // split appears anywhere in the executed plan, an index stopped
    // serving and the corpus is being re-tokenized per query
    val p1 = plan("q_dup_spans")
    assert(p1.contains("winhash_k5"), s"dup spans must scan the window index:\n$p1")
    assert(!p1.contains("split("), s"dup spans re-tokenizes:\n$p1")
    val p2 = plan("q_window_decontaminate")
    assert(p2.contains("shingles_n5"), s"windowed decon must scan the shingle index:\n$p2")
    assert(!p2.contains("split("), s"windowed decon re-tokenizes:\n$p2")
    val p3 = plan("q_contamination_report")
    assert(p3.contains("poswin_n5"), s"report must scan the positioned-window index:\n$p3")
    assert(!p3.contains("split("), s"contamination report re-tokenizes:\n$p3")
  }

  test("filtered ANN: the metadata predicate reaches the parquet scan") {
    // exact pre-filter semantics ride on the eligible-id scan being a
    // PUSHED predicate, not a post-scan filter — at 100 TB the predicate
    // scan is the cheap side and must stay column-pruned + pushed
    val p = plan("q_ann_filtered")
    assert(p.contains("EqualTo(label,2)"),
      s"label predicate must reach the embeddings scan:\n$p")
    assert(p.contains("PartitionFilters"),
      s"probe must statically prune the cell-partitioned index:\n$p")
  }

  test("bm25: no token explode, 1-row stats broadcast, top-k cut") {
    val p = plan("q_bm25_topk")
    assert(p.contains("TakeOrderedAndProject(limit=25"),
      s"bm25 must cut with a bounded top-k, not a global sort:\n$p")
    // per-doc tf is an array-filter count inside one projection — an
    // explode would shuffle every token of the corpus
    assert(!p.contains("Generate"), s"bm25 explodes tokens:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row stats aggregate must broadcast back:\n$p")
  }

  test("weighted sample: bounded-heap cut, no window sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("GroupedTopK"),
      s"the per-source cut must be the bounded-heap operator:\n$p")
    assert(!p.contains("Window"), s"weighted sample must not window-sort:\n$p")
  }

  test("iqr outliers: per-source fences broadcast back onto a narrow re-scan") {
    val p = plan("q_iqr_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"fences must broadcast (|sources| rows), not shuffle the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not sort-merge:\n$p")
  }

  test("entropy/KL: ONE corpus pass, then counts only — and no pinned-RDD leak") {
    // the (source, term) table feeds four consumers — without the
    // materialization Spark re-executes the scan+explode per reference
    // (four corpus passes). The SCORING plan is audited through the lazy
    // sourceEntropyFromTf surface (the composed sourceEntropy now returns
    // a local |sources|-row frame, whose plan shows nothing): against a
    // cached tf the final plan must read the pinned table and never touch
    // documents or text again.
    val docs = graft.engine.Tables.documents(spark, d)
    val tf = graft.ops.TextAnalysis.termFrequencies(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      tf.count() // materialize so the audit sees the cached read, not the scan
      // Audit by NODE traversal, not string grep: InMemoryRelation PRINTS
      // its build plan (FileScan + Generate) inside the tree even though
      // execution reads the cache, so the string would false-positive.
      // InMemoryTableScanExec is a leaf — collect() stops there, seeing
      // only what actually executes. AQE off so the tree is traversable.
      val exec = SparkTestSession.withConf(spark,
        "spark.sql.adaptive.enabled" -> "false") {
        graft.ops.TextAnalysis.sourceEntropyFromTf(tf)
          .queryExecution.executedPlan
      }
      val leaves = exec.collectLeaves()
      // ReusedExchange is a leaf pointing back at an exchange over the
      // cached table — reuse, not a re-scan.
      assert(leaves.nonEmpty && leaves.forall(l =>
          l.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec] ||
          l.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec]),
        s"scoring must read ONLY the pinned tf table; leaves were " +
          s"${leaves.map(_.nodeName).mkString(", ")}:\n$exec")
      assert(exec.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
        s"tokenization re-runs downstream:\n$exec")
    } finally tf.unpersist(blocking = true)
    // ADVICE r11 regression guard: the composed operator must RELEASE its
    // internal tf pin before returning — a library caller gets no storage
    // leak and no reliance on the Bench/Verify blanket unpersist
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("q_source_entropy")(spark, d).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"sourceEntropy leaked pinned RDDs: ${after -- before}")
  }

  test("batched bm25: corpus scans independent of |queries|, heap cut per query") {
    // the batch contract: N queries cost the same TWO corpus passes as
    // one (tf pass + stats pass) — the scan count must not move with
    // the query count, and the per-query cut is the bounded heap
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, d)
    def corpusScans(n: Int): (Int, String) = {
      val qs = (0L until n.toLong).map(i =>
          (i, Seq("vector", "stream", "join", "hash")(i.toInt % 4) :: "table" :: Nil))
        .toDF("query_id", "terms")
      val p = graft.ops.TextAnalysis.bm25TopKBatch(docs, qs, k = 5)
        .queryExecution.executedPlan.toString
      (p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents.parquet")), p)
    }
    val (two, p2) = corpusScans(2)
    val (twenty, p20) = corpusScans(20)
    assert(two === 2, s"expected exactly 2 corpus scans:\n$p2")
    assert(twenty === two,
      s"corpus scan count moved with |queries| ($two -> $twenty):\n$p20")
    assert(p20.contains("GroupedTopK"), s"per-query cut must be the heap:\n$p20")
  }

  test("indexed bm25: zero corpus scans, postings prune to the terms' buckets") {
    val p = plan("q_bm25_indexed")
    assert(!p.contains("documents.parquet"),
      s"the indexed probe must never touch the corpus:\n$p")
    assert(p.contains("PartitionFilters: [tb"),
      s"term-bucket pruning must reach the postings scan:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=25"),
      s"the cut must be a bounded top-k:\n$p")
  }

  test("indexed bm25 BATCH: zero corpus scans, literal term pushdown, heap cut") {
    // the batch twin makes the same zero-scan claim — audit it separately
    // (review catch: a silent corpus-scan regression would keep the
    // oracle green)
    val p = plan("q_bm25_indexed_batch")
    assert(!p.contains("documents.parquet"),
      s"the batch indexed probe must never touch the corpus:\n$p")
    assert(p.contains("PartitionFilters: [tb"),
      s"term-bucket pruning must reach the postings scan:\n$p")
    // the scan line's path truncates at the family prefix — match on it
    assert(p.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("inverted_b") &&
          l.contains("In(term")),
      s"the term filter must push into the postings scan as literals:\n$p")
    assert(p.contains("GroupedTopK"),
      s"the per-query cut must be the bounded heap:\n$p")
  }

  test("graph ANN search: visited ids push into the embedding scan as literals") {
    // the navigation result is a driver-bounded id set BY DESIGN — the
    // re-rank must reach the parquet scan as an In/InSet filter (point
    // fetch), not materialize the corpus and filter downstream
    val p = plan("q_ann_graph_search")
    val scanLines = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("embeddings.parquet"))
      .toSeq
    assert(scanLines.nonEmpty, s"no embeddings scan found:\n$p")
    assert(scanLines.exists(_.contains("In(vec_id")),
      s"visited-id IN filter must push into the embeddings scan:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=10"),
      s"the re-rank cut must be a bounded top-k:\n$p")
  }

  test("prf expansion: the returned probe is index-served — no corpus scan survives") {
    // stages 1-3 (feedback, candidates, weighting) execute eagerly during
    // construction, with the candidate stage a bounded doc_id point read;
    // the RETURNED frame is the round-2 indexed probe and must carry the
    // family's zero-corpus-scan property
    val p = plan("q_bm25_prf")
    assert(!p.contains("documents.parquet"),
      s"the expanded re-query must serve from the inverted index:\n$p")
    assert(p.contains("PartitionFilters: [tb"),
      s"term-bucket pruning must reach the postings scan:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=25"),
      s"the cut must be a bounded top-k:\n$p")
    val pb = plan("q_bm25_prf_batch")
    assert(!pb.contains("documents.parquet"),
      s"the batch re-query must serve from the inverted index:\n$pb")
    assert(pb.contains("PartitionFilters: [tb"),
      s"term-bucket pruning must reach the postings scan:\n$pb")
  }

  test("graph metrics serve from the committed kNN edge store, never the embeddings") {
    // the committed graph IS the input contract: a metric query that
    // touches embeddings.parquet is silently rebuilding the graph per run
    for (q <- Seq("q_triangle_count", "q_label_prop", "q_label_prop_weighted",
        "q_kcore", "q_bfs_hops", "q_graph_summary", "q_pagerank")) {
      val p = plan(q)
      assert(!p.contains("embeddings.parquet"),
        s"$q must read the committed edge store, not the corpus:\n$p")
      assert(!p.contains("Window"), s"$q must not window-sort:\n$p")
    }
  }

  test("rank idiom rewrites to GroupedTopK (the optimizer rule, per round)") {
    val p = plan("q_rank_idiom")
    assert(p.contains("GroupedTopK"),
      s"RankLimitRewrite did not fire on the registered idiom query:\n$p")
    assert(!p.contains("Window"), s"window survived the rewrite:\n$p")
  }

  test("knn graph: bounded-heap cut, no window, no corpus re-bucketing") {
    val p = plan("q_knn_graph")
    assert(p.contains("GroupedTopK"),
      s"per-point cut must be the bounded-heap operator:\n$p")
    assert(!p.contains("Window"), s"knn graph must not window-sort:\n$p")
    // candidates come from the stored index — bucketing must not re-run
    assert(!p.contains("Generate"), s"knn graph re-buckets via explode:\n$p")
  }

  test("hybrid search: both sub-probes stay indexed — no corpus scan, literal pushdown") {
    val p = plan("q_hybrid_search")
    assert(!p.contains("documents.parquet"),
      s"the lexical side must serve from the inverted index:\n$p")
    assert(p.contains("PartitionFilters: [tb"),
      s"term-bucket pruning must reach the postings scan:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("embeddings.parquet") &&
          l.contains("In(vec_id")),
      s"the vector side must point-fetch visited ids, not scan the corpus:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=10"),
      s"the fused cut must be a bounded top-k:\n$p")
  }

  test("weighted hybrid + filtered graph search stay on their indexed paths") {
    // the weighted twin must inherit q_hybrid_search's zero-corpus-scan
    // property — normalization is a window over the bounded sub-results,
    // never a reason to rescan
    val pw = plan("q_hybrid_weighted")
    assert(!pw.contains("documents.parquet"),
      s"the lexical side must serve from the inverted index:\n$pw")
    assert(pw.contains("PartitionFilters: [tb"),
      s"term-bucket pruning must reach the postings scan:\n$pw")
    assert(pw.contains("TakeOrderedAndProject(limit=10"),
      s"the fused cut must be a bounded top-k:\n$pw")
    // the filtered graph probe point-fetches visited ids like the plain
    // one — the eligibility semi-join must not widen the fetch to a scan
    val pf = plan("q_ann_graph_filtered")
    assert(pf.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("embeddings.parquet") &&
          l.contains("In(vec_id")),
      s"filtered graph search must point-fetch visited ids:\n$pf")
    assert(pf.contains("TakeOrderedAndProject(limit=10"),
      s"the filtered cut must be a bounded top-k:\n$pf")
  }

  test("phrase search: static sb pruning, files read < files in the serving store") {
    // the round-12 `weak` fix: the probe must prune STATICALLY to the
    // phrase windows' sb dirs of the bucketed serving store, never scan
    // every corpus window (the old doc-ordered layout's cost shape)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => allNodes(q.plan)
        case _ => p.children.flatMap(allNodes)
      }
      (p +: inner) ++ p.subqueries.flatMap(allNodes)
    }
    val df = SparkEntry.queries("q_phrase_search")(spark, d)
    df.collect() // finalize the adaptive plan so scan metrics are real
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty => s
    }
    assert(scans.nonEmpty,
      "no partitioned scan — q_phrase_search no longer probes the serving store?")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the phrase probe full-scans the sb-partitioned window store")
    val srvPath = graft.ops.Indexes.ensurePositionedWindowsServing(spark,
      graft.engine.Tables.documents(spark, d), d, windowN = 2, label = "phrase")
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(p)).size
    }
    val readFiles = scans.map(_.metrics("numFiles").value).sum
    val storeFiles = parquetFiles(srvPath)
    assert(readFiles > 0 && readFiles < storeFiles,
      s"static pruning ineffective: read $readFiles of $storeFiles store files")
  }

  test("token-budget gate: broadcast semi-join on source, no shuffle join") {
    val p = plan("q_token_budget_gated")
    assert(p.contains("LeftSemi, BuildRight") || p.contains("LeftSemi, BuildLeft"),
      s"the health gate must land as a broadcast semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sources-sized gate must never shuffle the corpus:\n$p")
  }

  test("image near-dup serving never decodes: hash-store scan only") {
    // decode-once serve-many: the registered query reads the committed
    // imghash store; ImageIO runs at ensure time, not in the probe plan
    val p = plan("q_image_near_dups")
    assert(p.contains("imghash_"),
      s"the probe must scan the committed hash store:\n$p")
    assert(!p.toLowerCase.contains("binaryfile") && !p.contains("mapPartitions"),
      s"no payload scan or decode closure may appear in the serving plan:\n$p")
  }

  test("audio near-dup serving never decodes: hash-store scan only") {
    // the image family's decode-once contract, for sound: javax.sound
    // runs at ensureAudioHashIndex time, never in the probe plan
    for (q <- Seq("q_audio_near_dups", "q_audio_near_dups_incr",
                  "q_image_near_dups_dhash")) {
      val p = plan(q)
      assert(p.contains("audhash_") || p.contains("imghash_"),
        s"$q must scan its committed hash store:\n$p")
      assert(!p.toLowerCase.contains("binaryfile") && !p.contains("mapPartitions"),
        s"$q: no payload scan or decode closure in the serving plan:\n$p")
    }
  }

  test("zipf clone verification joins broadcast the 60-pair side, never sort-merge") {
    // the clone fixture is dimension-sized by construction; a plan that
    // sort-merge-joins it against the corpus would shuffle ~600k tokens
    // of shingle state for a 60-row probe
    for (q <- Seq("q_zipf_clone_jaccard", "q_zipf_clone_minhash")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q must broadcast the clone side:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not sort-merge a 60-row dimension:\n$p")
    }
  }

  test("selection family: broadcast model joins, heap cuts, no range-join blowup") {
    // DSIR scoring joins the ≤256-row bucket model — must broadcast, and
    // the per-doc reduction must stay a hash aggregate (map-side combined)
    val w = plan("q_dsir_weights")
    assert(w.contains("BroadcastHashJoin"), s"lr model must broadcast:\n$w")
    assert(!w.contains("SortMergeJoin"), s"no shuffle join for a 256-row model:\n$w")
    // Gumbel selection is a top-k, never a global sort
    assert(plan("q_dsir_select").contains("TakeOrderedAndProject(limit=50"))
    // hard negatives: broadcast query vector + bounded-heap negative cut
    val hn = plan("q_hard_negatives")
    assert(hn.contains("TakeOrderedAndProject(limit=10"), s"negative cut must heap:\n$hn")
    assert(!hn.contains("SortMergeJoin"), s"query vector must broadcast:\n$hn")
    // the attribution interval join has an equi-key (user_id): the range
    // predicates ride the hash/merge join as post-conditions, never a
    // nested-loop
    val aj = plan("q_attribution_join")
    assert(!aj.contains("BroadcastNestedLoop") && !aj.contains("CartesianProduct"),
      s"attribution join must use its user_id equi-key:\n$aj")
  }

  test("round-18 additions stay on their scale paths") {
    // store-served DSIR weights: the native kernel scores in ONE
    // projection — no explode stage, no model join at all (the lr array
    // rides the plan as a referenced object inside graft_dsir_score)
    val ws = plan("q_dsir_weights_store")
    assert(ws.contains("graft_dsir_score"),
      s"store serving must score with the native kernel:\n$ws")
    assert(!ws.contains("Generate") && !ws.contains("SortMergeJoin"),
      s"no explode stage / model shuffle join in the kernel path:\n$ws")
    // cluster tempering: the condition-free centroid join must be the
    // BROADCAST nested-loop (a shuffled centroid join would regress the
    // assignment's scale shape — and a bare BroadcastHashJoin assert
    // would be satisfied by the unrelated docs-cells equi-join;
    // self-review r18 catch), and the assignment exchange must not carry
    // the embedding payload the temper path never reads
    val ct = plan("q_cluster_temperature")
    assert(ct.contains("BroadcastNestedLoopJoin"),
      s"centroid assignment must broadcast the centroid table:\n$ct")
    assert(!ct.contains("first(embedding"),
      s"the temper path must not shuffle dead embedding payload:\n$ct")
    // 3-D hilbert audit: the n-dim kernel is one codegen'd expression in
    // the scan projection, not a lambda or a join
    val h3 = plan("q_hilbert3_locality")
    assert(h3.contains("graft_hilbert_n"),
      s"the n-dim kernel must appear as a native expression:\n$h3")
    assert(!h3.contains("SortMergeJoin"),
      s"the min/max frame must broadcast:\n$h3")
    // resample-robust audio serving: the decode-once contract carries to
    // the canonical-hash column
    val ar = plan("q_audio_near_dups_resampled")
    assert(ar.contains("audhash_") && !ar.toLowerCase.contains("binaryfile"),
      s"canonical-hash serving must read the committed store:\n$ar")
    // doremi: the CMS-LM model rides as literals (scan-stage fold) — no
    // explode of the token stream survives in the plan
    val dw = plan("q_doremi_weights")
    assert(!dw.contains("Generate"),
      s"LM scoring must stay a scan-stage array fold, not an explode:\n$dw")
  }

  test("round-19 additions stay on their scale paths") {
    // 4-way cross-distance serving: reads the committed image-hash store
    // (16 hex columns/image of state), never a decode — and the exact
    // confirm is a codegen'd least-chain, not an interpreted HOF
    val rn = plan("q_image_near_dups_rot_near")
    assert(rn.contains("imghash_") && !rn.toLowerCase.contains("binaryfile"),
      s"cross-distance serving must read the committed store:\n$rn")
    assert(!rn.contains("ArrayTransform"),
      s"the min-distance confirm must stay unrolled in codegen:\n$rn")
    // selection-pipeline composition: stages are lineage-truncated
    // (localCheckpoint), so the audit branches plan as scans of
    // materialized results — the q_pipeline_e2e planning-bottleneck
    // contract — and no tokenize explode survives into the final plan
    // (the gate scored with the native kernel pre-checkpoint)
    val se = plan("q_selection_e2e")
    assert(se.contains("ExistingRDD"),
      s"stages must be lineage-truncated into materialized scans:\n$se")
    assert(!se.contains("Generate"),
      s"no tokenize explode may survive past the checkpointed stages:\n$se")
  }

  test("round-20 additions stay on their scale paths") {
    // cross-rate audio serving: committed fixed-rate hash columns, never
    // a decode; the min-over-channels confirm is a codegen'd least-chain
    val xr = plan("q_audio_near_dups_xrate")
    assert(xr.contains("audhash_") && !xr.toLowerCase.contains("binaryfile"),
      s"cross-rate serving must read the committed store:\n$xr")
    assert(!xr.contains("ArrayTransform"),
      s"the min-distance confirm must stay unrolled in codegen:\n$xr")
    // n-way langid: the native kernel scores+argmaxes in ONE projection
    // (the DsirScore discipline) — no interpreted HOF, no model join,
    // no explode on the SCORING side (training's grouped count is a
    // separate driver-memoized pass)
    val lm = plan("q_lang_id_multi")
    assert(lm.contains("graft_langid"),
      s"prediction must run the native kernel:\n$lm")
    assert(!lm.contains("ArrayTransform") && !lm.contains("ArrayAggregate"),
      s"no interpreted HOF may survive in the scoring plan:\n$lm")
    assert(!lm.contains("SortMergeJoin"),
      s"the model rides as a plan literal, never a join:\n$lm")
    // the recovered q_image_phash: ONE decode subtree — the window form
    // (no self-join whose second subtree re-runs the mapPartitions)
    val ip = plan("q_image_phash")
    assert("MapPartitions".r.findAllIn(ip).size <= 1,
      s"the decode sweep must appear exactly once (window form):\n$ip")
    // durable selection chain: stages read back from parquet — the
    // lineage truncation is the storage scan itself
    val sd = plan("q_selection_e2e_durable")
    assert(!sd.contains("Generate"),
      s"no tokenize explode may survive past the durable stages:\n$sd")
    // language-mix drift: one native-kernel corpus pass, then windows
    // over the bounded |sources|·|langs| aggregate — never a join back
    // to the corpus, never an interpreted HOF
    val ld = plan("q_lang_mix_drift")
    assert(ld.contains("graft_langid"),
      s"prediction must run the native kernel:\n$ld")
    assert(!ld.contains("SortMergeJoin") && !ld.contains("BroadcastHashJoin"),
      s"mix totals must be window sums over the aggregate, not joins:\n$ld")
    assert(!ld.contains("ArrayTransform") && !ld.contains("ArrayAggregate"),
      s"no interpreted HOF may survive in the drift plan:\n$ld")
    // incremental cross-rate twin: same committed store, batch×corpus
    // banding (never a decode, never an interpreted confirm)
    val xi = plan("q_audio_near_dups_xrate_incr")
    assert(xi.contains("audhash_") && !xi.toLowerCase.contains("binaryfile"),
      s"incremental cross-rate serving must read the committed store:\n$xi")
    assert(!xi.contains("ArrayTransform"),
      s"the ANY-channel min confirm must stay unrolled in codegen:\n$xi")
  }

  test("clean layer: one projection, parse outside filters") {
    import org.apache.spark.sql.catalyst.expressions.{Lower, RegExpExtract, RegExpReplace}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import graft.engine.Clean
    val cleaned = Clean.clean(Clean.readRaw(spark, graft.queries.RentalQueries.rentalCsvPath))
    val projects = cleaned.queryExecution.analyzed.collect { case p: Project => p }.size
    assert(projects <= 3, s"the clean layer must stay a few projections, found $projects Projects")
    def isParse(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.exists(x => x.isInstanceOf[RegExpReplace] || x.isInstanceOf[RegExpExtract])
    Seq("q_clean_layer", "q_raw_profile", "q_multivalue_explode", "q_city_slice",
        "q_geojson_dim").foreach { q =>
      val opt = SparkEntry.queries(q)(spark, d).queryExecution.optimizedPlan
      val parsing = opt.collect { case f: Filter if isParse(f.condition) => f.condition }
      assert(parsing.isEmpty, s"$q: a Filter re-runs the parse:\n${parsing.mkString("\n")}")
    }
    // the cheap raw city match still sits below the parse projection
    val cs = SparkEntry.queries("q_city_slice")(spark, d).queryExecution.optimizedPlan
    val parseProjects = cs.collect {
      case p: Project if p.projectList.exists(isParse) => p
    }
    assert(parseProjects.nonEmpty, s"q_city_slice must parse in a Project:\n$cs")
    parseProjects.foreach { p =>
      assert(p.child.exists {
        case f: Filter => f.condition.exists(_.isInstanceOf[Lower])
        case _ => false
      }, s"the city match must sit below the parse projection:\n$cs")
    }
  }

  test("no registered query plans a CartesianProduct") {
    // Theta joins in the documented quadratic baselines become
    // BroadcastNestedLoopJoin (bounded side); an unconditional
    // CartesianProduct anywhere is a bug.
    SparkEntry.queries.keys.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"CartesianProduct in $q")
    }
  }
}
