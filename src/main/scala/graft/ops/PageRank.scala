package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Stage

/** Fixed-iteration PageRank in pure integer fixed point — the iterative
  * message-passing family member next to [[Dedup]]'s connected components
  * (pointer jumping): per round, every node divides its rank over its
  * out-edges and accumulates incoming shares, damped against uniform
  * teleport.
  *
  * Why integer fixed point: float PageRank is NOT hash-verifiable — the
  * per-node incoming sum is a float fold whose order differs between
  * Spark's partial aggregation and any oracle. Here ranks live as 1e-12
  * fixed-point BIGINTs: shares are integer divisions (exact, identical in
  * both engines), incoming sums are integer additions (commutative,
  * fold-order-free), and damping is `(dampNum · m) div dampDen`. The
  * quantization error vs real-valued PageRank is ≤ outdeg · 1e-12 per node
  * per round — far below any ranking-relevant difference — and the result
  * is bit-identical everywhere, so a 5-round run replays exactly as 5
  * unrolled CTEs in DuckDB.
  *
  * Scale design: every walk runs on the [[GraphLoop]] co-partitioned
  * RDD harness — the grouped adjacency is hash-partitioned and
  * materialized ONCE; each round is one shuffle-free zipPartitions
  * message pass over it (the integer share map-side combined by
  * destination in the same pass) plus one reduceByKey that moves ≤|V|
  * pre-combined rows per partition — the same message/combine shape
  * GraphX/Pregel lowers to, with no driver-resident state at any point
  * (ranks never collect; the driver holds a few scalars).
  * Dangling nodes cannot exist in a symmetric graph (every node listed has
  * an out-edge); for directed inputs their mass is dropped, which only
  * rescales ranks uniformly — documented rather than redistributed, to
  * keep the per-round cost at one pass.
  *
  * Every walk cuts its output and releases its loop RDDs before
  * returning ([[graft.engine.Stage]] block-lifetime contract).
  */
object PageRank {
  import GraphLoop.{checkIters, checkSeeds}

  /** The one damped walk behind [[pageRankFp]], [[pprFp]] and
    * [[pprBatchFp]]: ranks ride as one per-node vector of P panel values,
    * so each round's message pass touches every edge ONCE and the combine
    * shuffle moves ≤|V| rows of P longs — the panel dimension costs
    * arithmetic, not extra join/shuffle machinery. Empty `panels` is the
    * uniform walk (P = 1, teleport to every node, base `scale / |V|`);
    * otherwise panel p teleports to its seeds only (base
    * `scale / |seeds_p|`). Over `w_fp` edges the shares are weighted
    * ([[GraphLoop.build]]) and `maxWfp` guards overflow: the share
    * numerator r · w ≤ scale · maxWfp must fit in a Long. Returns
    * (panel_id, node, rank_fp) when `batch`, else (node, rank_fp) of the
    * single panel; the frame is cut ([[graft.engine.Stage]]). */
  private def walk(edges: DataFrame, panels: Seq[(Long, Seq[Long])],
                   iters: Int, scale: Long, dampNum: Long, dampDen: Long,
                   dedupEdges: Boolean = false, maxWfp: Long = 1000000L,
                   batch: Boolean = false): DataFrame = {
    checkIters(iters)
    require(dampNum > 0 && dampNum < dampDen, s"0 < dampNum < dampDen")
    panels.foreach { case (_, ss) => checkSeeds(ss) }
    val spark = edges.sparkSession
    import spark.implicits._
    val g = GraphLoop.build(edges, dedupEdges)
    if (g.weighted) {
      require(maxWfp > 0 && scale <= Long.MaxValue / maxWfp,
        s"scale * maxWfp must fit in Long: $scale * $maxWfp")
      require(g.maxW <= maxWfp,
        s"edge weight ${g.maxW} exceeds maxWfp=$maxWfp — raise maxWfp (and " +
          s"check scale * maxWfp still fits in Long) or re-quantize the weights")
    }
    val sizes = if (panels.isEmpty) {
      require(g.nCount > 0, "pageRankFp: empty graph")
      Array(g.nCount)
    } else panels.map(_._2.size.toLong).toArray
    val bases = sizes.map(scale / _)
    val tps = bases.map(b => ((dampDen - dampNum) * b) / dampDen)
    val seedSets = panels.map(_._2.toSet).toArray
    // the per-node vector of `v`, gated to each panel's seeds
    val seeded: Array[Long] => Long => Array[Long] = v => n => Array.tabulate(
      v.length)(p => if (seedSets.isEmpty || seedSets(p)(n)) v(p) else 0L)
    var ranks = GraphLoop.initVector(g.nodes, seeded(bases))
    for (_ <- 1 to iters)
      ranks = GraphLoop.dampedRound(g, ranks, seeded(tps), dampNum, dampDen)
    val pIds = panels.map(_._1).toArray
    Stage.cut(
      if (batch) ranks.flatMap { case (n, rv) =>
        Iterator.range(0, rv.length).map(p => (pIds(p), n, rv(p)))
      }.toDF("panel_id", "node", "rank_fp")
      else ranks.map { case (n, rv) => (n, rv(0)) }.toDF("node", "rank_fp"),
      release = g.release())
  }

  /** `edges`: deduplicated directed (src, dst) pairs — or, with
    * `dedupEdges` set, a duplicate-carrying pair stream that the graph
    * build dedups exactly in its single exchange (see
    * [[GraphLoop.build]]); nodes are `distinct(src) ∪ distinct(dst)`.
    * Returns (node, rank_fp) with rank_fp ≈ pagerank · `scale`, after
    * exactly `iters` rounds from the uniform start (no convergence test —
    * fixed rounds ARE the contract, so two engines can replay it). */
  def pageRankFp(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
                 dampNum: Long = 85L, dampDen: Long = 100L,
                 dedupEdges: Boolean = false): DataFrame =
    walk(edges, Nil, iters, scale, dampNum, dampDen, dedupEdges)

  /** PERSONALIZED PageRank (random walk with restart): teleport mass flows
    * only to `seeds`, so rank concentrates in the seed set's graph
    * neighbourhood. Over a kNN similarity graph this is SEED-SET
    * EXPANSION — "find documents like these curated ones" — the curation
    * primitive behind quality-propagation pipelines, here with the same
    * integer recurrence (and therefore the same hash-verifiability) as
    * [[pageRankFp]]. Seeds absent from the graph contribute nothing (their
    * teleport mass targets a node that has no edges and no output row) —
    * callers seed from the corpus the graph was built over.
    *
    * Over (src, dst, w_fp) edges this is the WEIGHTED walk: each node's
    * rank distributes over its out-edges proportionally to the edge
    * weight, so over a kNN graph with cosine-derived weights the walk
    * follows SIMILARITY MASS — a barely-similar neighbour receives a
    * barely-there share. share = (rank · w) div Σw; `maxWfp` bounds the
    * weights and fails LOUDLY when exceeded, because a silent overflow
    * would corrupt every downstream rank. Equal weights degenerate to
    * exactly the unweighted walk (floor(r·w/(w·k)) ≡ floor(r/k) —
    * spec-pinned). */
  def pprFp(edges: DataFrame, seeds: Seq[Long], iters: Int,
            scale: Long = 1000000000000L, dampNum: Long = 85L,
            dampDen: Long = 100L, maxWfp: Long = 1000000L): DataFrame =
    walk(edges, Seq(0L -> seeds), iters, scale, dampNum, dampDen,
      maxWfp = maxWfp)

  /** [[pprFp]]'s many-panels twin — the walk family's batch column: P
    * seed panels (≤ 16, loudly capped) expand in ONE walk over a single
    * edge materialization, with no driver loop and no per-panel job.
    * Per-panel output is bit-identical to a [[pprFp]] run with that panel
    * (the same integer recurrence — spec-pinned, weighted too). */
  def pprBatchFp(edges: DataFrame, panels: Seq[(Long, Seq[Long])], iters: Int,
                 scale: Long = 1000000000000L, dampNum: Long = 85L,
                 dampDen: Long = 100L): DataFrame = {
    require(panels.nonEmpty && panels.size <= 16,
      s"1 <= |panels| <= 16, got ${panels.size}")
    require(panels.map(_._1).distinct.size == panels.size, "duplicate panel ids")
    walk(edges, panels, iters, scale, dampNum, dampDen, batch = true)
  }

  /** Host-side sequential twin of [[pprFp]] (spec cross-check only). */
  def referencePprFp(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int,
                     scale: Long = 1000000000000L, dampNum: Long = 85L,
                     dampDen: Long = 100L): Map[Long, Long] =
    referencePprWeightedFp(edges.map { case (s, d) => (s, d, 1L) }, seeds,
      iters, scale, dampNum, dampDen)

  /** Host-side sequential twin of the weighted [[pprFp]] (spec
    * cross-check only; w ≤ 0 edges dropped, matching the operator). */
  def referencePprWeightedFp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
                             iters: Int, scale: Long = 1000000000000L,
                             dampNum: Long = 85L, dampDen: Long = 100L)
      : Map[Long, Long] = {
    val pos = edges.filter(_._3 > 0)
    val nodes = (pos.map(_._1) ++ pos.map(_._2)).distinct.sorted
    val base = scale / seeds.size
    val teleport = ((dampDen - dampNum) * base) / dampDen
    val seedSet = seeds.toSet
    val sw = pos.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(v => v -> (if (seedSet(v)) base else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = pos.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => r(s) * w / sw(s) }.sum
      }
      r = nodes.map(v => v ->
        ((if (seedSet(v)) teleport else 0L) +
          dampNum * in.getOrElse(v, 0L) / dampDen)).toMap
    }
    r
  }

  /** Replays [[pageRankFp]]'s integer recurrence host-side for a SMALL
    * in-memory graph — the spec cross-check surface (never a query path):
    * the distributed result must equal this sequential fold exactly,
    * because both are the same integer arithmetic. */
  def referenceFp(edges: Seq[(Long, Long)], iters: Int,
                  scale: Long = 1000000000000L, dampNum: Long = 85L,
                  dampDen: Long = 100L): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val base = scale / n
    val teleport = ((dampDen - dampNum) * base) / dampDen
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = nodes.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) / outdeg(s) }.sum
      }
      r = nodes.map(v => v -> (teleport + dampNum * in.getOrElse(v, 0L) / dampDen)).toMap
    }
    r
  }

  /** HITS (Kleinberg hubs & authorities, as publicly described) in the
    * same integer fixed-point discipline as [[pageRankFp]]: per round,
    * authority(i) = Σ hub(j) over in-edges, hub(i) = Σ authority(j) over
    * out-edges, each vector L1-NORMALIZED back to `scale` — the
    * normalization that makes fixed-iteration HITS well-defined, here an
    * exact integer division (v · scale div Σv, the Σ accumulated in
    * BigInt so any graph size stays exact) instead of the classic L2
    * (whose sqrt is engine-specific libm). Per-node values stay ≤ scale
    * by the L1 invariant, so v · scale ≤ scale² must fit in a Long —
    * enforced on `scale`.
    *
    * Why the LOOP runs on co-partitioned RDDs (the [[Dedup]] connected-
    * components precedent, measured again here): unlike the damped walks
    * (one lineage path per round), every HITS half-round reads its raw
    * vector TWICE (the L1 scalar + the normalize), and the per-round
    * normalization DENOMINATOR is a fresh literal — a DataFrame loop
    * therefore either doubles its plan per half-round (measured 35 s for
    * 4 rounds) or, materialized, pays a fresh whole-stage-codegen
    * compile per half-round because the changing literal defeats the
    * codegen cache (measured ~0.5 s × 8 of pure Janino on a 26k-node
    * graph). On RDDs each half-round is one co-partitioned join (zero
    * shuffle — the edge lists are hash-partitioned ONCE, by src for the
    * authority pass and by dst for the hub pass) + one reduceByKey + a
    * driver L1 fold; no optimizer pass, no codegen, two driver scalars.
    *
    * Returns (node, auth_fp, hub_fp) after exactly `iters` rounds from
    * the uniform start; fixed rounds + integer arithmetic make the run
    * replay as unrolled CTEs in DuckDB, bit for bit.
    *
    * Calling this method RUNS the walk: the loop's L1 folds are driver
    * actions and the returned frame is cut ([[graft.engine.Stage]]). */
  def hitsFp(edges: DataFrame, iters: Int,
             scale: Long = 1000000000L): DataFrame = {
    checkIters(iters)
    require(scale > 0 && scale <= 3000000000L,
      s"scale² must fit in a Long with margin, got $scale")
    val spark = edges.sparkSession
    import spark.implicits._
    // edPairs feeds FOUR downstream builds (count, bySrc, byDst, the
    // nodes union) — persisted so the DataFrame scan + cast runs once,
    // not once per build; released with the loop caches.
    val edPairs = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // partition count sized from the MATERIALIZED edge count, not the
    // source's file count (a compact store would pin the loop to a few
    // cores): the GraphLoop partitioning rule
    val part = GraphLoop.partitioner(spark.sparkContext, edPairs.count())
    val bySrc = edPairs.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byDst = edPairs.map(_.swap).partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node set derived from the two ALREADY-PARTITIONED edge lists:
    // partition i of bySrc/byDst holds exactly the edges
    // whose key hashes to i, so a per-partition key-set union IS the
    // global distinct — no distinct shuffle, no extra partitionBy
    // (preservesPartitioning keeps `part`, which is exact here: the
    // emitted keys are the partition's own key set).
    // KEYS ONLY from each side: bySrc partition i holds the src-keyed
    // rows hashing to i (values are dsts of other partitions), byDst
    // the dst-keyed ones — their key union is the partition-i slice of
    // distinct(src ∪ dst).
    val nodes = bySrc.zipPartitions(byDst, preservesPartitioning = true) {
      (sIt, dIt) =>
        val seen = new java.util.HashSet[Long]()
        sIt.foreach { kv => seen.add(kv._1) }
        dIt.foreach { kv => seen.add(kv._1) }
        val it = seen.iterator()
        new Iterator[(Long, Unit)] {
          def hasNext: Boolean = it.hasNext
          def next(): (Long, Unit) = (it.next(), ())
        }
    }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCount = nodes.count()
    require(nCount > 0, "hitsFp: empty graph")
    // the initial hub vector is L1-NORMALIZED to total ≤ scale (uniform
    // value scale div N), so the L1 ≤ scale invariant holds from round 0
    // and EVERY per-node Long sum in the loop is ≤ scale unconditionally
    // — the first-round in-degree bound the un-normalized uniform start
    // needed is gone. Results are bit-identical to the
    // uniform-`scale` start (and to [[referenceHitsFp]]'s): with a
    // uniform start, round-1 raw values share the constant factor c and
    // floor((a·c)/(b·c)) = floor(a/b), so the first normalization —
    // hence every later round — is invariant to c. c ≥ 1 is enforced:
    require(nCount <= scale,
      s"hitsFp: node count $nCount exceeds scale $scale — the normalized " +
        "uniform start would floor to zero; raise scale")
    val cached = scala.collection.mutable.Buffer.empty[
      org.apache.spark.rdd.RDD[_]]
    // raw(to) = Σ other(from) over the co-partitioned edge list, then
    // L1-renormalize to `scale` with one driver BigInt fold (the fold
    // also FORCES raw into its cache, so each half-round materializes
    // exactly once; the caches release after the output materializes).
    //
    // FUSED HALF-ROUND: both inputs are
    // hash-partitioned by `part`, so the equi-join needs no shuffle —
    // but `RDD.join` still paid per-row Tuple2 allocation + boxing for
    // every edge, and the separate map + reduceByKey re-materialized the
    // full |E| message stream before combining (measured ~0.4 s and
    // ~1.4 s process-CPU per half-round on the 600k-edge sf0.1 purchase
    // graph — 8 half-rounds dominated q_hits at 4.4 s). zipPartitions
    // replaces the join with one primitive LongMap hash-build per
    // partition (vector side) + a streamed probe over the edges that
    // COMBINES into a LongMap keyed by `to` — the map-side partial
    // aggregation happens inside the same pass, so the downstream
    // reduceByKey shuffles ≤ |V| rows per partition instead of |E|
    // messages. Join semantics are preserved exactly: a `from` absent
    // from the vector contributes nothing and creates no output key
    // (the -1 sentinel is safe — vector values are always ≥ 0).
    // Partial per-key sums stay ≤ the global per-node sum ≤ scale, so
    // Long arithmetic cannot overflow (the L1 invariant).
    def halfRound(edgesFromTo: org.apache.spark.rdd.RDD[(Long, Long)],
                  other: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] = {
      val contrib = edgesFromTo.zipPartitions(other) { (eIt, oIt) =>
        val vec = new scala.collection.mutable.LongMap[Long]()
        oIt.foreach { kv => vec.update(kv._1, kv._2) }
        val acc = new scala.collection.mutable.LongMap[Long]()
        eIt.foreach { case (from, to) =>
          val v = vec.getOrElse(from, -1L)
          if (v >= 0L) acc.update(to, acc.getOrElse(to, 0L) + v)
        }
        acc.iterator
      }
      val raw = contrib.reduceByKey(part, _ + _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += raw
      val l1 = raw.aggregate(BigInt(0))((a, kv) => a + kv._2, _ + _)
      if (l1 <= 0) raw.mapValues(_ => 0L)
      else raw.mapValues(v => (BigInt(v) * scale / l1).toLong)
    }
    var hub = nodes.mapValues(_ => scale / nCount)
    var auth = nodes.mapValues(_ => 0L)
    for (_ <- 1 to iters) {
      auth = halfRound(bySrc, hub)
      hub = halfRound(byDst, auth)
    }
    // densify to the full node set (zero-raw nodes never appear in the
    // reduceByKey streams) and exit to the DataFrame surface. Same fused
    // co-partitioned shape as the half-rounds: all three
    // vectors ride `part`, so one zipPartitions replaces two
    // leftOuterJoins (and their Option allocation per node).
    val out = nodes.zipPartitions(auth, hub) { (nIt, aIt, hIt) =>
      val am = new scala.collection.mutable.LongMap[Long]()
      aIt.foreach { kv => am.update(kv._1, kv._2) }
      val hm = new scala.collection.mutable.LongMap[Long]()
      hIt.foreach { kv => hm.update(kv._1, kv._2) }
      nIt.map { case (n, _) =>
        (n, am.getOrElse(n, 0L), hm.getOrElse(n, 0L)) }
    }
      .toDF("node", "auth_fp", "hub_fp")
    Stage.cut(out, release = (Seq(edPairs, bySrc, byDst, nodes) ++ cached)
      .foreach(_.unpersist(blocking = false)))
  }

  /** Host-side sequential twin of [[hitsFp]] (spec cross-check only). */
  def referenceHitsFp(edges: Seq[(Long, Long)], iters: Int,
                      scale: Long = 1000000000L): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    def norm(raw: Map[Long, BigInt]): Map[Long, Long] = {
      val l1 = raw.values.sum
      nodes.map(v => v -> (if (l1 > 0)
        (raw.getOrElse(v, BigInt(0)) * scale / l1).toLong else 0L)).toMap
    }
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      auth = norm(edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => BigInt(hub(e._1))).sum })
      hub = norm(edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => BigInt(auth(e._2))).sum })
    }
    nodes.map(v => v -> (auth(v), hub(v))).toMap
  }
}
