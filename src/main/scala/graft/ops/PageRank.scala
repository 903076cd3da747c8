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
  * Scale design (since r21 all walks run on the [[GraphLoop]]
  * co-partitioned RDD harness — the hitsFp treatment, measured 2.3× on
  * q_hits in r20): the grouped adjacency is hash-partitioned and
  * materialized ONCE; each round is one shuffle-free zipPartitions
  * message pass over it (the per-source integer share computed once, map-
  * side combined by destination in the same pass) plus one reduceByKey
  * that moves ≤|V| pre-combined rows per partition — the same message/
  * combine shape GraphX/Pregel lowers to, with no driver-resident state
  * at any point (ranks never collect; the driver holds a few scalars).
  * Partition count follows the measured edge count (~500k edges per
  * partition, capped at defaultParallelism — the r20 rule: smaller
  * partitions quadruple task overhead for zero wall win; at cluster
  * scale the parallelism cap binds).
  * Dangling nodes cannot exist in a symmetric graph (every node listed has
  * an out-edge); for directed inputs their mass is dropped, which only
  * rescales ranks uniformly — documented rather than redistributed, to
  * keep the per-round cost at one pass.
  *
  * Every walk cuts its output and releases its loop RDDs before
  * returning ([[graft.engine.Stage]] block-lifetime contract).
  */
object PageRank {

  /** The shared damped-walk loop, since r21 on the co-partitioned RDD
    * harness ([[GraphLoop]]) — the hitsFp treatment applied to every
    * unweighted walk: per round ONE zipPartitions message pass (share
    * `div(rank, outdeg)` computed once per source over the grouped
    * adjacency, in-pass map-side combine keyed by destination) plus one
    * ≤|V|-rows-per-partition reduceByKey, instead of the DataFrame
    * loop's per-round re-optimization + 2-3 exchanges + codegen. The
    * integer recurrence is unchanged (all values non-negative, so Scala
    * `/` ≡ SQL `div`; sums commute), so results stay bit-identical —
    * PageRankSpec pins distributed == sequential reference, and the
    * unrolled-CTE oracles replay untouched.
    * The returned frame is cut ([[graft.engine.Stage]]). */
  private def runDamped(edges: DataFrame, iters: Int, dampNum: Long,
                        dampDen: Long,
                        mk: GraphLoop.Graph => (Long => Long, Long => Long),
                        dedupEdges: Boolean = false)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = GraphLoop.build(edges, dedupEdges)
    val (r0, tp) = mk(g)
    var ranks = GraphLoop.initVector(g.nodes, r0)
    for (_ <- 1 to iters)
      ranks = GraphLoop.dampedRound(g, ranks, tp, dampNum, dampDen)
    Stage.cut(ranks.toDF("node", "rank_fp"), release = g.release())
  }

  private def checkIters(iters: Int): Unit =
    require(iters >= 1 && iters <= 16, s"1 <= iters <= 16, got $iters")

  private def checkDamp(dampNum: Long, dampDen: Long): Unit =
    require(dampNum > 0 && dampNum < dampDen, s"0 < dampNum < dampDen")

  private def checkSeeds(seeds: Seq[Long]): Unit = {
    require(seeds.nonEmpty && seeds.size <= 1024,
      s"seed panel must be 1..1024 literals, got ${seeds.size}")
    require(seeds.distinct.size == seeds.size, "duplicate seeds")
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
                 dedupEdges: Boolean = false): DataFrame = {
    checkIters(iters); checkDamp(dampNum, dampDen)
    runDamped(edges, iters, dampNum, dampDen, g => {
      val n = g.nCount
      require(n > 0, "pageRankFp: empty graph")
      val base = scale / n
      val teleport = ((dampDen - dampNum) * base) / dampDen
      (_ => base, _ => teleport)
    }, dedupEdges)
  }

  /** PERSONALIZED PageRank (random walk with restart): teleport mass flows
    * only to `seeds`, so rank concentrates in the seed set's graph
    * neighbourhood. Over a kNN similarity graph this is SEED-SET
    * EXPANSION — "find documents like these curated ones" — the curation
    * primitive behind quality-propagation pipelines, here with the same
    * integer recurrence (and therefore the same hash-verifiability and
    * per-round |E|-join + |V|-agg cost) as [[pageRankFp]]. The seed panel
    * is a bounded literal riding in the plan (an `isin`), never a driver
    * loop. Seeds absent from the graph contribute nothing (their teleport
    * mass targets a node that has no edges and no output row) — callers
    * seed from the corpus the graph was built over. */
  def pprFp(edges: DataFrame, seeds: Seq[Long], iters: Int,
            scale: Long = 1000000000000L, dampNum: Long = 85L,
            dampDen: Long = 100L): DataFrame = {
    checkIters(iters); checkDamp(dampNum, dampDen); checkSeeds(seeds)
    val base = scale / seeds.size
    val teleport = ((dampDen - dampNum) * base) / dampDen
    val seedSet = seeds.toSet
    runDamped(edges, iters, dampNum, dampDen, _ =>
      (n => if (seedSet(n)) base else 0L,
       n => if (seedSet(n)) teleport else 0L))
  }

  /** WEIGHTED personalized walk over a similarity graph: each node's rank
    * distributes over its out-edges proportionally to the edge weight —
    * over a kNN graph with cosine-derived weights the walk follows
    * SIMILARITY MASS, not just connectivity, which is the semantics
    * seed-expansion actually wants (a barely-similar neighbour should
    * receive a barely-there share).
    *
    * `edges`: (src, dst, w_fp) with INTEGER weights; rows with w_fp ≤ 0
    * are dropped up front (they carry no mass, and keeping them could
    * zero a node's weight sum — the one divide-by-zero shape). share =
    * (rank · w) div Σw — exact in Long provided scale · max(w_fp) < 2^63;
    * `maxWfp` is verified against the materialized edges with one cheap
    * fold and fails LOUDLY, because a silent overflow here would
    * corrupt every downstream rank. Equal weights degenerate to exactly
    * [[pprFp]] (floor(r·w/(w·k)) ≡ floor(r/k) — spec-pinned). Since r21
    * the per-edge share runs in [[GraphLoop.dampedRoundWeighted]]'s
    * primitive loop — the per-edge work that kept this walk on the flat
    * DataFrame join in r20 (an interpreted HOF) is two integer ops per
    * edge on the RDD harness. */
  def pprWeightedFp(edges: DataFrame, seeds: Seq[Long], iters: Int,
                    scale: Long = 1000000000000L, dampNum: Long = 85L,
                    dampDen: Long = 100L, maxWfp: Long = 1000000L): DataFrame = {
    checkIters(iters); checkDamp(dampNum, dampDen); checkSeeds(seeds)
    require(maxWfp > 0 && scale <= Long.MaxValue / maxWfp,
      s"scale * maxWfp must fit in Long: $scale * $maxWfp")
    val spark = edges.sparkSession
    import spark.implicits._
    val g = GraphLoop.buildWeighted(edges.where(col("w_fp") > 0))
    require(g.maxW <= maxWfp,
      s"edge weight ${g.maxW} exceeds maxWfp=$maxWfp — raise maxWfp (and " +
        s"check scale * maxWfp still fits in Long) or re-quantize the weights")
    val base = scale / seeds.size
    val teleport = ((dampDen - dampNum) * base) / dampDen
    val seedSet = seeds.toSet
    var ranks = GraphLoop.initVector(g.nodes,
      n => if (seedSet(n)) base else 0L)
    for (_ <- 1 to iters)
      ranks = GraphLoop.dampedRoundWeighted(g, ranks,
        n => if (seedSet(n)) teleport else 0L, dampNum, dampDen)
    Stage.cut(ranks.toDF("node", "rank_fp"), release = g.release())
  }

  /** [[pprFp]]'s many-panels twin — the walk family's batch column: P
    * seed panels expand in ONE walk over a single edge materialization.
    * Since r21 ranks ride as one per-node Array of P panel values on the
    * [[GraphLoop]] harness, so each round's message pass touches every
    * edge ONCE (P integer shares per source in the same probe) and the
    * combine shuffle moves ≤|V| rows of P longs — the panel dimension
    * costs arithmetic, not extra join/shuffle machinery; still linear in
    * the (loudly capped, ≤ 16) panel count, with the edge store and
    * adjacency read ONCE instead of per panel, no driver loop, no
    * per-panel job. Per-panel output is bit-identical to a [[pprFp]] run
    * with that panel (same integer recurrence — spec-pinned). */
  def pprBatchFp(edges: DataFrame, panels: Seq[(Long, Seq[Long])], iters: Int,
                 scale: Long = 1000000000000L, dampNum: Long = 85L,
                 dampDen: Long = 100L): DataFrame = {
    checkIters(iters); checkDamp(dampNum, dampDen)
    require(panels.nonEmpty && panels.size <= 16,
      s"1 <= |panels| <= 16, got ${panels.size}")
    require(panels.map(_._1).distinct.size == panels.size, "duplicate panel ids")
    panels.foreach { case (_, ss) => checkSeeds(ss) }
    val spark = edges.sparkSession
    import spark.implicits._
    // VECTORIZED batch walk (r21 OPT): ranks ride as one Array[Long] of
    // per-panel values per NODE, so every round's message pass and
    // shuffle handle ≤|V| rows of P longs instead of |P|·|V| keyed rows —
    // the panel dimension costs P integer ops inside the same probe, not
    // P times the join/shuffle machinery. Per-panel arithmetic is the
    // identical recurrence (PageRankSpec pins batch == per-panel pprFp).
    val np = panels.size
    val pIds = panels.map(_._1).toArray
    val bases = panels.map(p => scale / p._2.size).toArray
    val tps = bases.map(b => ((dampDen - dampNum) * b) / dampDen)
    val seedSets: Array[Set[Long]] = panels.map(_._2.toSet).toArray
    val g = GraphLoop.build(edges)
    var ranks: org.apache.spark.rdd.RDD[(Long, Array[Long])] =
      g.nodes.mapPartitions(_.map { case (n, _) =>
        (n, Array.tabulate(np)(p => if (seedSets(p)(n)) bases(p) else 0L))
      }, preservesPartitioning = true)
    for (_ <- 1 to iters) {
      val msgs = g.adj.zipPartitions(ranks) { (aIt, rIt) =>
        val rm = new scala.collection.mutable.LongMap[Array[Long]]()
        rIt.foreach(kv => rm.update(kv._1, kv._2))
        val acc = new scala.collection.mutable.LongMap[Array[Long]]()
        aIt.foreach { case (s, ds) =>
          val rv = rm.getOrElse(s, null)
          if (rv != null) {
            val c = new Array[Long](np)
            var any = false
            var p = 0
            while (p < np) {
              c(p) = rv(p) / ds.length; if (c(p) != 0L) any = true; p += 1
            }
            if (any) {
              var i = 0
              while (i < ds.length) {
                val a = acc.getOrElseUpdate(ds(i), new Array[Long](np))
                var q = 0
                while (q < np) { a(q) += c(q); q += 1 }
                i += 1
              }
            }
          }
        }
        acc.iterator
      }
      val agg = msgs.reduceByKey(g.part, (a, b) => {
        var p = 0
        while (p < np) { a(p) += b(p); p += 1 }
        a
      })
      ranks = g.nodes.zipPartitions(agg, preservesPartitioning = true) {
        (nIt, mIt) =>
          val mm = new scala.collection.mutable.LongMap[Array[Long]]()
          mIt.foreach(kv => mm.update(kv._1, kv._2))
          nIt.map { case (n, _) =>
            val m = mm.getOrElse(n, null)
            (n, Array.tabulate(np) { p =>
              val mv = if (m == null) 0L else m(p)
              (if (seedSets(p)(n)) tps(p) else 0L) + dampNum * mv / dampDen
            })
          }
      }
    }
    Stage.cut(ranks.flatMap { case (n, rv) =>
      Iterator.range(0, np).map(p => (pIds(p), n, rv(p)))
    }.toDF("panel_id", "node", "rank_fp"), release = g.release())
  }

  /** Host-side sequential twin of [[pprFp]] (spec cross-check only). */
  def referencePprFp(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int,
                     scale: Long = 1000000000000L, dampNum: Long = 85L,
                     dampDen: Long = 100L): Map[Long, Long] =
    referencePprWeightedFp(edges.map { case (s, d) => (s, d, 1L) }, seeds,
      iters, scale, dampNum, dampDen)

  /** Host-side sequential twin of [[pprWeightedFp]] (spec cross-check
    * only; w ≤ 0 edges dropped, matching the operator). */
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
    // not once per build (ADVICE r14); released with the loop caches.
    val edPairs = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // partition count sized from the MATERIALIZED edge count (the
    // connected-components rule: ~500k edges per partition, capped at
    // defaultParallelism) — neither the source's file count (a compact
    // store would pin the loop to a few cores) nor a blanket full-width
    // spread (per-round work this small pays more in task overhead than
    // it gains)
    val eCount = edPairs.count()
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (eCount / 500000L + 1L).toInt)))
    val bySrc = edPairs.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byDst = edPairs.map(_.swap).partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node set derived from the two ALREADY-PARTITIONED edge lists
    // (r20 OPT): partition i of bySrc/byDst holds exactly the edges
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
    // needed is gone (ADVICE r14). Results are bit-identical to the
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
    // FUSED HALF-ROUND (r20 OPT, guide §2.3/§2.4): both inputs are
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
    // co-partitioned shape as the half-rounds (r20 OPT): all three
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
