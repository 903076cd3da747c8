package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Stage

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash group-by), MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - exact dedup is a single hash-aggregate on a 128-bit digest — the
  *    shuffle carries (digest, doc_id), never the document bodies;
  *  - MinHash signatures are computed in ONE pass over (doc × shingle) rows
  *    with k independent `min` aggregates — no ×k row explosion, one shuffle
  *    keyed by doc_id;
  *  - LSH banding turns the quadratic all-pairs problem into a shuffle on
  *    (band, key) where only same-bucket docs ever meet — the candidate join
  *    is an equi-join Catalyst can hash-partition; exact Jaccard runs only on
  *    candidates;
  *  - all hash functions are md5-derived and deterministic, so results are
  *    reproducible across runs/engines (and oracle-checkable in DuckDB).
  *
  * Exact all-pairs variants ([[allPairsJaccard]]) exist as the correctness
  * baseline; at scale the LSH path ([[nearDupPairs]]) replaces them.
  */
object Dedup {

  /** Exact-duplicate stats: total docs vs distinct md5(text)
    * (`set()`-style dedup, `main_otodom.py:118-129`, lifted to content hash). */
  def exactStats(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_unique"))

  /** Keep one row per distinct text. At scale prefer the digest group-by
    * (min doc_id per md5) over `dropDuplicates(text)` so the shuffle moves
    * 16-byte keys, not document bodies. */
  def dropExactDuplicates(docs: DataFrame): DataFrame = {
    val keep = docs.select(md5(col("text")).as("k"), col("doc_id"))
      .groupBy(col("k")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Universal-hash family for MinHash: the shingle is md5'd ONCE into a
    * 48-bit base, then the k hashes are (base·Aᵢ + Bᵢ) mod P — one digest +
    * k multiply-adds per shingle instead of k digests. All values stay under
    * 2^60, so the arithmetic is overflow-free (and ANSI-safe) in both Spark
    * and the DuckDB oracle. */
  val MinhashP: Long = 1000000007L

  def minhashConsts(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      ((2654435761L * (i + 1)) % MinhashP,
       (40503L * (i + 1) * (i + 7) + 11L) % MinhashP)
    }

  /** `(VALUES (0,a0,b0), ...) consts(i, a, b)` — the identical constants for
    * the DuckDB oracle side. */
  def minhashConstsSqlValues(numHashes: Int): String =
    minhashConsts(numHashes).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }
      .mkString("(VALUES ", ", ", ") consts(i, a, b)")

  /** MinHash signatures from a pre-computed (doc_id, sh) HASHED shingle-set
    * frame: one row per doc, columns h0..h{k-1}. Single shuffle on doc_id; k
    * partial-aggregated mins over the stored 48-bit shingle id (md5 was
    * evaluated once, at shingle-set build). Taking the sets frame as input
    * lets [[nearDupPairs]] shingle the corpus exactly ONCE for both the
    * signature pass and the exact-Jaccard refine.
    *
    * MEASURED ALTERNATIVE (round 4, rejected): the shuffle-free
    * `array_min(transform(sh, ...))` per-row fold — k narrow array
    * traversals, no explode, no aggregate — benched ~2.4× SLOWER at sf0.1
    * (q_minhash_lsh_pairs 1.05 s → 2.53 s): 16 allocated intermediate
    * arrays per document lose to the codegen'd explode + partial hash
    * aggregate, whose map-side combine already collapses each doc's
    * shingles before the (tiny) doc_id shuffle. Keep the explode form. */
  def minhashSignaturesFromSets(sets: DataFrame, numHashes: Int = 16): DataFrame = {
    val sh = sets
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), (col("s") % MinhashP).as("hb"))
    val aggs = minhashConsts(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((col("hb") * a + b) % MinhashP).as(s"h$i")
    }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, sh) shingle-set frame, `sh` = distinct 48-bit shingle ids
    * ([[TextOps.hashedShingleSet]]) — every downstream consumer (signature
    * mins, Jaccard refine, all-pairs baseline) works on the hashed ids, so
    * the fat shingle STRINGS never persist past this projection and never
    * enter a shuffle or cache (8 bytes/shingle instead of ~50 at corpus
    * scale; both DuckDB oracles hash identically, keeping verification
    * exact). Three projections on purpose: the words array materializes
    * once per row before the shingle `transform` touches it — see
    * [[TextOps.shingleSetFromWords]] for why inlining the split into the
    * lambda is O(words²) per document. NULL text is normalized to '' so
    * both engines agree on the fallback shingle [""] (DuckDB's word split
    * of NULL yields NULL, whose fallback would be [NULL] and whose md5
    * would silently drop from the signature min()s). */
  def shingleSets(docs: DataFrame, shingleN: Int = 3): DataFrame =
    docs.select(col("doc_id"),
        TextOps.wordsSafe(col("text")).as("w"))
      .select(col("doc_id"), TextOps.shingleSetFromWords(col("w"), shingleN).as("shs"))
      .select(col("doc_id"), TextOps.hashedShingleSet(col("shs")).as("sh"))

  /** MinHash signatures straight from documents (shingles computed inline). */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 16, shingleN: Int = 3): DataFrame =
    minhashSignaturesFromSets(shingleSets(docs, shingleN), numHashes)

  /** LSH band keys: md5 over the comma-joined row hashes of each band.
    * One output row per (doc, band). */
  def lshBandKeys(signatures: DataFrame, numHashes: Int, bandRows: Int): DataFrame = {
    val bands = (0 until numHashes / bandRows).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until bandRows)
          .map(r => col(s"h${b * bandRows + r}").cast("string")): _*)).as("key"))
    }
    signatures.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs from a signature frame: docs sharing any LSH bucket.
    * The self-join is an equi-join on (band, key) — at scale this shuffles
    * both sides by bucket id and never compares across buckets. */
  def lshCandidatePairsFromSigs(signatures: DataFrame, numHashes: Int = 16,
                                bandRows: Int = 2): DataFrame = {
    val bk = lshBandKeys(signatures, numHashes, bandRows)
    val a = bk.select(col("band"), col("key"), col("doc_id").as("doc_a"))
    val b = bk.select(col("band"), col("key"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Candidate pairs straight from documents. */
  def lshCandidatePairs(docs: DataFrame, numHashes: Int = 16, bandRows: Int = 2,
                        shingleN: Int = 3): DataFrame =
    lshCandidatePairsFromSigs(minhashSignatures(docs, numHashes, shingleN),
      numHashes, bandRows)

  /** Production near-dup dedup: LSH candidates refined by exact Jaccard on
    * the distinct shingle sets. The corpus is shingled exactly once — the
    * persisted (doc_id, sh) frame feeds the signature pass AND both sides
    * of the refine join (at 100 TB this materialization is a checkpoint of
    * a narrow derived table, not a second scan+reshingle of the corpus).
    * Only candidate pairs ever touch the shingle arrays, so the expensive
    * comparison is linear in |candidates|.
    *
    * The fat (doc_id, sh) intermediate is persisted for THIS call only:
    * the pair frame (tiny: above-threshold pairs) is cut, then the cache
    * released ([[graft.engine.Stage]] block-lifetime contract). */
  def nearDupPairs(docs: DataFrame, threshold: Double, numHashes: Int = 16,
                   bandRows: Int = 2, shingleN: Int = 3): DataFrame = {
    val sets = shingleSets(docs, shingleN).persist()
    val pairs = lshCandidatePairsFromSigs(minhashSignaturesFromSets(sets, numHashes), numHashes, bandRows)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), TextOps.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    Stage.cut(pairs, release = sets.unpersist())
  }

  /** DIRECTED containment near-dups — the subset-duplicate detector the
    * symmetric family cannot be: containment(A→B) = |A∩B|/|A| flags a
    * short document quoted/wrapped inside a longer one even when their
    * Jaccard is tiny (minhash bands approximate JACCARD, so such pairs
    * rarely collide there — a different candidate generator is the
    * point, not an optimization). Candidates come from a df-capped
    * RARE-SHINGLE join: two docs pair iff they share ≥ 1 shingle with
    * corpus document frequency in [2, dfCap].
    *
    * Scale contract: the self-join volume is Σ_{rare shingles} df² ≤
    * dfCap · |shingle postings| — LINEAR in the corpus with a stated
    * constant, no quadratic term (common shingles, the quadratic risk,
    * are excluded by the cap). Recall contract, equally stated: a
    * contained doc is found iff ≥ 1 of its shingles is corpus-rare —
    * a document made ENTIRELY of boilerplate shingles is invisible
    * here (it is the symmetric family's territory).
    *
    * Output: (doc_a < doc_b, inter, c_a_in_b_fp, c_b_in_a_fp) for pairs
    * whose LARGER directed containment reaches `thresholdFp` — both
    * directions reported in 1e-6 fixed point (exact integer division;
    * shingle sets are never empty by the [""] fallback, so the divisor
    * is ≥ 1). Same persist/release contract as [[nearDupPairs]]. */
  def containmentPairs(docs: DataFrame, thresholdFp: Long = 850000L,
                       dfCap: Int = 16, shingleN: Int = 3): DataFrame =
    containmentPairsFromSets(shingleSets(docs, shingleN), thresholdFp, dfCap)

  /** [[containmentPairs]] with the shingle sets ALREADY materialized —
    * the serving form: the committed minhash store's `sets/` table
    * ([[graft.ops.Indexes.ensureMinhashIndex]]) holds exactly this frame,
    * so a store-backed caller pays zero re-shingling per run and inherits
    * the store's delete lifecycle (r13 VERDICT #5 — re-deriving the sets
    * was the second most expensive bench entry). Same algorithm, same
    * persist/release contract, same output. */
  private[graft] def containmentPairsFromSets(shingles: DataFrame,
                                              thresholdFp: Long,
                                              dfCap: Int): DataFrame = {
    require(thresholdFp >= 1 && thresholdFp <= 1000000L,
      s"1 <= thresholdFp <= 1e6, got $thresholdFp")
    require(dfCap >= 2 && dfCap <= 1024, s"2 <= dfCap <= 1024, got $dfCap")
    // parallelism must not inherit the source's FILE count (a compact
    // store reads as a handful of splits; the profiler showed the whole
    // explode+df aggregation serialized onto 8 of 32 cores) — spread the
    // sets across the session's shuffle width before the heavy work.
    // Width notes (profiled): every stage here is CPU-bound with tiny
    // shuffle BYTES, so AQE's size-based coalescing serializes them onto
    // a few cores — the explicit widths pin the work to the session's
    // shuffle dial, the same dial that sizes it on a cluster.
    val width = shingles.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val sets = shingles.select(col("doc_id"), col("sh"))
      .repartition(width).persist()
    val ex = sets.select(col("doc_id"), explode(col("sh")).as("h"))
    val rare = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= dfCap)
      .select(col("h"))
    // restrict to RARE-shingle postings once, then self-join the small
    // frame — the earlier shape joined the FULL postings as side B, so
    // the candidate shuffle carried every common-shingle row just to
    // drop it; rareEx is ≤ dfCap·|rare shingles| rows by construction.
    // The h-repartition co-partitions the self-join (zero extra exchange)
    // at pinned width; the pair-repartition feeds distinct's requirement
    // the same way.
    val rareEx = ex.join(rare, Seq("h"))
      .repartition(width, col("h")).persist()
    val cand = rareEx.select(col("h"), col("doc_id").as("doc_a"))
      .join(rareEx.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .repartition(width, col("doc_a"), col("doc_b")).distinct()
    // r20 OPT (guide §2.3): no keyless repartition after the refine joins
    // — it shuffled (and sort-before-repartition-sorted) the array-FAT
    // pair rows for spread the plan already has: `cand` is
    // width-partitioned above, so a broadcast refine join preserves that
    // spread, and a shuffle refine join is width-partitioned by doc_b.
    val pairs = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        // r20 OPT: native intersect-count kernel — see IntersectCount64
        graft.functions.IntersectCount64.of(col("sh_a"), col("sh_b"))
          .as("inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        call_function("div", col("inter") * lit(1000000L), col("n_a"))
          .as("c_a_in_b_fp"),
        call_function("div", col("inter") * lit(1000000L), col("n_b"))
          .as("c_b_in_a_fp"))
      .where(greatest(col("c_a_in_b_fp"), col("c_b_in_a_fp")) >= thresholdFp)
    Stage.cut(pairs, release = { rareEx.unpersist(); sets.unpersist() })
  }

  /** Connected components over near-dup pairs — the keep-one-per-cluster
    * step of dedup: every doc in a near-dup cluster maps to the cluster's
    * minimum doc_id (the canonical survivor).
    *
    * Iterative min-label propagation with pointer jumping (next := next's
    * next squares the propagation distance per round, so convergence is
    * O(log diameter) rounds instead of O(diameter)). The component
    * assignment is the unique fixpoint (min id per component), so the
    * output is execution-independent and oracle-replayable.
    *
    * The LOOP runs on co-partitioned RDDs, not DataFrames — the one place in
    * this engine where the RDD API is the right call, for two reasons the
    * DataFrame API cannot express:
    *  - a single `HashPartitioner` is REUSED across all rounds: the (big)
    *    symmetric edge list is hash-partitioned once and every per-round
    *    join against it is co-partitioned — zero edge shuffles per round.
    *    Catalyst re-plans each iteration from scratch (the lineage cut that
    *    keeps plans bounded also erases partitioning info), so the DataFrame
    *    loop re-shuffled edges every round;
    *  - per-round cost is a couple of narrow RDD jobs with NO optimizer pass
    *    and NO fresh whole-stage-codegen compile. Measured at sf0.1: the
    *    DataFrame loop paid ~0.9 s/round in planning+Janino on a 477-node
    *    graph; the RDD loop pays milliseconds.
    * Parallelism is sized from the materialized edge count (~500k symmetric
    * edges per partition, capped at defaultParallelism) — the pair set is
    * orders of magnitude smaller than the corpus, and AQE cannot size
    * stages across an iterative driver loop.
    *
    * Per-round lineage: each round's labels are cut in `mode` and the
    * previous round released (for [[graft.engine.Stage.Durable]], its
    * checkpoint files deleted), so repeated calls keep only the FINAL
    * round, which serves the returned frame. Block-loss fate per mode:
    * the [[graft.engine.Stage]] scaladoc.
    *
    * SIZE-ADAPTIVE small-graph path: the near-dup pair set is orders of
    * magnitude smaller than the corpus, and below `localEdgeThreshold`
    * edges (default 10⁵ ≈ a few MB) the per-round RDD job-launch overhead
    * dwarfs the work — measured ~1 s of pure scheduling on a 47-edge graph
    * at sf0.1. Such graphs resolve with driver-side union-find (min-root
    * merging ⇒ identical min-label fixpoint) in microseconds. The edge
    * COUNT is always computed distributed first, so the driver never
    * collects an unbounded set — this is the bounded, guarded kind of
    * driver work (like [[graft.ops.Indexes]]' probe-key computation), not a
    * driver-side loop over corpus data. Durable mode always takes the
    * distributed loop: the caller asked for fault-tolerant stages.
    *
    * Output: (doc_id, rep) for every doc appearing in ≥1 pair. */
  def connectedComponents(pairs: DataFrame,
                          mode: Stage.Mode = Stage.Local,
                          localEdgeThreshold: Long = 100000L): DataFrame =
    Stage.withCheckpointDir(pairs.sparkSession, mode) {
      components(pairs, mode, localEdgeThreshold)
    }

  private def components(pairs: DataFrame, mode: Stage.Mode,
                         localEdgeThreshold: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // Edge list materialized ONCE: the upstream (LSH+refine) pipeline must
    // not re-execute in the per-round joins, and the edge count sizes the
    // loop's parallelism.
    val e0 = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].rdd
    val nEdges = Stage.cut(e0, mode)

    if (mode == Stage.Local && nEdges <= localEdgeThreshold) {
      // small-graph path: bounded collect (≤ threshold pairs) + union-find
      // with min-root merging — the root of every set is its minimum id at
      // all times, so find() yields exactly the distributed loop's fixpoint.
      val edges = e0.collect()
      Stage.release(e0, mode)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = parent.keysIterator.map(id => (id, find(id))).toSeq
      return spark.createDataset(labels).toDF("doc_id", "rep")
    }

    val parts = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      nEdges / 500000L + 1L)).toInt
    val part = new org.apache.spark.HashPartitioner(parts)

    // (dst, src) for BOTH directions, hash-partitioned once and pinned for
    // the whole loop — every round's label lookup joins co-partitioned.
    val byDst = e0.flatMap { case (a, b) => Iterator((b, a), (a, b)) }
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var labels: org.apache.spark.rdd.RDD[(Long, Long)] =
      byDst.keys.distinct(parts).map(id => (id, id)).partitionBy(part)
    Stage.cut(labels, mode)
    var changed = 1L
    while (changed > 0) {
      // neighbor-min: edges pick up their dst's label (co-partitioned join,
      // edges never move), min-combined map-side by reduceByKey.
      val nmin = byDst.join(labels, part)
        .map { case (_, (src, rep)) => (src, rep) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      val stepped = labels.leftOuterJoin(nmin, part).mapValues {
        case (rep, o) => (rep, math.min(rep, o.getOrElse(rep)))
      } // (id, (rep, next)) — co-partitioned with labels
      // Pointer jump: next := next's next (always a member id, so total).
      val idToNext = stepped.mapValues(_._2)
      val updated = stepped
        .map { case (id, (rep, next)) => (next, (id, rep)) }
        .join(idToNext, part)
        .map { case (_, ((id, rep), jnext)) => (id, (rep, jnext)) }
      // One materializing action per round: the `changed` tally rides along
      // in an accumulator (retry-safe here — a re-run task can only re-add
      // POSITIVE counts, so `changed == 0` is never reported spuriously).
      val acc = spark.sparkContext.longAccumulator
      val next = updated.map { case (id, (rep, jnext)) =>
        if (jnext < rep) acc.add(1L)
        (id, jnext)
      }.partitionBy(part)
      Stage.cut(next, mode)
      changed = acc.value
      Stage.release(labels, mode)
      labels = next
    }
    byDst.unpersist(false)
    Stage.release(e0, mode)
    labels.toDF("doc_id", "rep")
  }

  /** The dedup MATERIALIZATION: the corpus with every near-dup cluster
    * reduced to its canonical member (the cluster's minimum doc_id — the
    * [[connectedComponents]] representative), singletons untouched. This is
    * the step that actually SHRINKS a training corpus after pair finding:
    * keep a doc iff it has no component label (never appeared in a pair)
    * or it IS its component's representative.
    *
    * Scale shape: the component frame holds only docs that appeared in a
    * near-dup pair (≪ corpus at production dup rates, but NOT bounded by
    * construction — a dup-heavy corpus makes it corpus-scale), so the join
    * strategy is left to AQE: small component frames promote to a runtime
    * broadcast, pathological ones stay a shuffle join instead of OOMing a
    * forced broadcast. The filter is a pure null/equality predicate. */
  def survivors(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.join(connectedComponents(pairs), Seq("doc_id"), "left")
      .where(col("rep").isNull || col("rep") === col("doc_id"))
      .drop("rep")

  /** [[survivors]] with a caller-chosen RETENTION PRIORITY: each near-dup
    * cluster keeps the member maximizing (priority, −doc_id) — production
    * dedup retains the BEST copy (longest text, highest quality score),
    * not the smallest id; ties still break deterministically to the
    * smallest id, so the output is execution-independent and
    * oracle-replayable. Same scale shape as [[survivors]] (the component
    * frame covers only docs that appeared in a pair; join strategy left to
    * AQE); the winner election is ONE `max_by` aggregate over the
    * clustered docs — no per-cluster sort, no window. `priority` is any
    * deterministic Column over the doc row. */
  def survivorsBy(docs: DataFrame, pairs: DataFrame, priority: Column): DataFrame = {
    val comp = connectedComponents(pairs)
    val winners = docs.join(comp, Seq("doc_id"))
      .groupBy(col("rep"))
      .agg(max_by(col("doc_id"), struct(priority, -col("doc_id"))).as("doc_id"))
      .select(col("doc_id"))
    docs.join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(docs.join(winners, Seq("doc_id"), "left_semi"))
  }

  /** Correctness baseline: exact all-pairs n-gram Jaccard above a threshold.
    * Quadratic — only for verification scale / bounded id ranges; the LSH
    * path is the 100 TB answer. */
  def allPairsJaccard(docs: DataFrame, threshold: Double, shingleN: Int = 3): DataFrame = {
    val sets = shingleSets(docs, shingleN)
    val a = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextOps.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact duplicated-SUBSTRING spans — window-granular substring dedup
    * (the "dedup repeated sequences, not just documents/lines" pass of
    * published training-data pipelines): for every document, the maximal
    * DISJOINT token spans covered by k-token windows that occur at least
    * `minCount` times corpus-wide (within-doc repeats count — a doc
    * repeating its own chorus is duplication too). Every token in a span
    * lies inside ≥ 1 duplicated window; spans merge while their window
    * token ranges overlap or touch (position gap ≤ k) and split only
    * across a genuine ≥ 1-token un-duplicated gap — so span token counts are
    * ADDITIVE (the [[graft.queries.PipelineQueries.dupFraction]] coverage
    * metric cannot double-count; a consecutive-positions-only merge would
    * emit overlapping token ranges for gapped window runs — caught by
    * CorpusPropertySpec). Verbatim re-use shows up as long spans
    * even when the documents as wholes are unique, which is exactly the
    * case whole-doc MinHash and line-hash dedup both miss.
    *
    * Scale shape:
    *  - windows are 48-bit rolling hashes (one row per (doc, pos), hash of
    *    the k-token slice) — the corpus-wide frequency pass and the
    *    self-join both move (hash, doc_id, pos) longs, never token text;
    *  - duplicated windows merge into maximal spans with one
    *    gaps-and-islands window function PARTITIONED BY doc_id — the sort
    *    unit is a single document, so the pass parallelizes per doc and
    *    no global sort exists;
    *  - docs shorter than k tokens have no k-window and drop out (they are
    *    [[exactStats]]/[[nearDupPairs]] territory).
    * Output: (doc_id, start_pos, end_pos, n_windows), positions 0-based
    * token offsets, end inclusive; span length = end_pos - start_pos + 1. */
  def duplicatedSpans(docs: DataFrame, k: Int = 5, minCount: Long = 2L): DataFrame =
    duplicatedSpansFromWindows(windowHashes(docs, k), k, minCount)

  /** The positional rolling-window hash table (doc_id, pos, h) — one row
    * per k-window start, h the 48-bit hash of the k-token slice. This is
    * write-once derived corpus state ([[Indexes.ensureWindowHashes]]
    * materializes it); [[duplicatedSpansFromWindows]] and any future
    * window-level consumer read it instead of re-tokenizing. */
  def windowHashes(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"window width must be >= 2 tokens, got $k")
    // the k-gram construction IS TextOps.shingles (same element_at
    // arithmetic the DuckDB oracles mirror) — posexplode supplies the
    // 0-based start position; docs shorter than k explode to nothing
    docs.select(col("doc_id"),
        TextOps.wordsSafe(col("text")).as("w"))
      .select(col("doc_id"),
        posexplode(TextOps.shingles(col("w"), k)).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), TextOps.shingleHash(col("g")).as("h"))
  }

  /** [[duplicatedSpans]] over a precomputed (doc_id, pos, h) window table
    * — the serving form. */
  def duplicatedSpansFromWindows(win: DataFrame, k: Int,
                                 minCount: Long = 2L): DataFrame = {
    val dupHashes = win.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).where(col("c") >= minCount)
      .select(col("h"))
    // gaps-and-islands on TOKEN coverage: a new island starts only when at
    // least one un-duplicated token separates it from the previous
    // window's range — position gap > k (gap == k means the ranges are
    // ADJACENT with zero tokens between them, which is still one maximal
    // covered span)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    win.join(dupHashes, Seq("h"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0L).otherwise(1L))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        (max(col("pos")) + (k - 1)).cast("long").as("end_pos"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
  }

  /** 60-bit SimHash over word unigrams: per-word hash from md5 hex (60 bits
    * fit a signed long safely), then a per-bit signed majority vote.
    *
    * One pass: the 60 bit-votes are 60 conditional-sum aggregates in a single
    * hash aggregate keyed by doc_id — no per-bit row explosion, one shuffle
    * of (doc_id, word-hash) pairs. */
  def simhash(docs: DataFrame): DataFrame = {
    val wordHash = conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long")
    // NULL text normalizes to '' exactly as in [[shingleSets]]: explode of a
    // null words array would emit zero rows and silently DROP the document
    // from the simhash universe, making MinHash and SimHash disagree on
    // which documents exist. With '' the doc contributes one "" word.
    val wh = docs.select(col("doc_id"),
        explode(TextOps.wordsSafe(col("text"))).as("w"))
      .select(col("doc_id"), wordHash.as("h"))
    val votes = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$j")
    }
    val sig = (0 until 60).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    wh.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup candidates: split the 60-bit signature into `bands`
    * chunks; docs sharing any chunk are candidates (hamming-distance
    * pigeonhole: distance < bands ⇒ at least one identical chunk), then the
    * exact hamming filter keeps pairs within `maxHamming`. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3, bands: Int = 4): DataFrame =
    simhashNearDupsFromSigs(simhash(docs), maxHamming, bands)

  /** The banding/join/hamming pass over a precomputed (doc_id, simhash)
    * frame — the ONE implementation behind both the inline path above and
    * the stored-signature path ([[Indexes.simhashNearDupsIndexed]]), so the
    * two can never drift apart. Complete only for maxHamming < bands (a
    * pair at distance `bands` can differ in every chunk), and a chunk
    * needs at least one of the 60 bits. */
  def simhashNearDupsFromSigs(sh: DataFrame, maxHamming: Int = 3,
                              bands: Int = 4): DataFrame = {
    require(bands >= 1 && bands <= 60,
      s"bands must give each chunk at least one of the 60 bits, got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"banding is complete only for maxHamming < bands, " +
        s"got $maxHamming >= $bands")
    val chunkBits = 60 / bands
    val chunks = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1)).as("key"))
    }
    val bk = sh.select(col("doc_id"), col("simhash"), explode(array(chunks: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.band").as("band"), col("c.key").as("key"))
    val a = bk.select(col("band"), col("key"), col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = bk.select(col("band"), col("key"), col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("band", "key")).where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming) // filter BEFORE dedup: smaller distinct
      .distinct()
  }

  /** Banded Hamming near-dups over 64-bit HEX signatures (16 hex chars,
    * e.g. the image aHash/dHash and audio energy-hash families) — the
    * [[simhashNearDupsFromSigs]] blocking for hashes that overflow a
    * signed BIGINT: each hash rides as two 32-bit halves and its distance
    * is the sum of the halves' popcounts.
    *
    * Distance: a row pair's `hamming` is the minimum over `channels` of
    * H(left row's `x` hash, right row's `y` hash). One plain hash is
    * `Seq(h -> h)`; same-channel fingerprints (e.g. fixed-rate audio
    * projections, distinct feature spaces) are `cols.map(c => c -> c)`;
    * a base hash against variant hashes (e.g. the four 90°-rotation
    * aHashes, identity included) is
    * `variants.flatMap(v => Seq(base -> v, v -> base)).distinct`.
    *
    * Sentinels: a channel pair gives a distance only when both hashes are
    * 16 hex chars; otherwise its distance is NULL and the `least` skips
    * it (Spark and DuckDB `least` both ignore NULLs), so a corrupt or
    * too-short hash never pairs, while a row still pairs on any channel
    * both sides carry.
    *
    * Pairs: without `corpus`, `sigs` self-joins and the left row is the
    * one with the smaller id (`id_a < id_b`); with `corpus`, `sigs` is a
    * batch probed against it, giving directional batch→corpus pairs with
    * differing ids, and the corpus never self-joins. Either way the
    * result is (id_a, id_b, hamming ≤ maxHamming), each pair once.
    *
    * Complete for maxHamming < bands by pigeonhole: if H(a.x, b.y) ≤ d,
    * the two hashes differ in at most d of the `bands` disjoint hex
    * chunks, so one chunk matches exactly and the pair meets in that
    * band's bucket of channel (x, y)'s join — banding is pure blocking,
    * never a recall trade. All channels share ONE band join keyed by
    * (channel, band, hex-substring key), and each banded row carries its
    * side's hash halves, so the distance is computed on the candidate
    * row itself, with no confirm join. */
  def hammingNearDups64(sigs: DataFrame, idCol: String,
                        channels: Seq[(String, String)], maxHamming: Int,
                        bands: Int = 8,
                        corpus: Option[DataFrame] = None): DataFrame = {
    require(channels.nonEmpty, "need at least one hash channel")
    require(maxHamming >= 0 && maxHamming < bands,
      s"banding is complete only for maxHamming < bands, " +
        s"got $maxHamming >= $bands")
    require(bands > 0 && 16 % bands == 0,
      s"bands must divide the 16 hex chars evenly, got $bands")
    val chunkHex = 16 / bands
    val hashes = channels.flatMap { case (x, y) => Seq(x, y) }.distinct
    // side `sfx`'s half of hash `h` starting at hex char `from` (1 or 9)
    def half(h: String, from: Int, sfx: String) =
      s"h${hashes.indexOf(h)}_${from}_$sfx"
    // one side of the band join: for each channel, the band keys of that
    // channel's hash on this side (NULL unless 16 hex chars, so a
    // sentinel never joins), plus the id and every hash's halves
    def banded(side: DataFrame, end: ((String, String)) => String,
               sfx: String) = {
      val keys = for ((pair, ch) <- channels.zipWithIndex;
                      c = end(pair); b <- 0 until bands) yield
        struct(lit(ch).as("ch"), lit(b).as("band"),
          when(length(col(c)) === 16,
            substring(col(c), b * chunkHex + 1, chunkHex)).as("key"))
      val halves = for (h <- hashes; from <- Seq(1, 9)) yield
        when(length(col(h)) === 16,
          conv(substring(col(h), from, 8), 16, 10).cast("long"))
          .as(half(h, from, sfx))
      side.select((col(idCol).as(s"id_$sfx") +: halves) :+
          explode(array(keys: _*)).as("k"): _*)
        .select(col("k.ch").as("ch"), col("k.band").as("band"),
          col("k.key").as("key"), col("*"))
        .drop("k")
    }
    def hamming(x: String, y: String) =
      bit_count(col(half(x, 1, "a")).bitwiseXOR(col(half(y, 1, "b")))) +
        bit_count(col(half(x, 9, "a")).bitwiseXOR(col(half(y, 9, "b"))))
    val keep =
      if (corpus.isEmpty) col("id_a") < col("id_b")
      else col("id_a") =!= col("id_b")
    banded(sigs, _._1, "a")
      .join(banded(corpus.getOrElse(sigs), _._2, "b"), Seq("ch", "band", "key"))
      .where(keep)
      .select(col("id_a"), col("id_b"),
        channels.map { case (x, y) => hamming(x, y) }.reduce(least(_, _))
          .cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
