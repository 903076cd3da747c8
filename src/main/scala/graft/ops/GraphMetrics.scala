package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Stage

/** Structural graph metrics over the committed similarity/co-occurrence
  * graphs — the descriptive complement to [[PageRank]]'s rank walks:
  * triangle counts + local clustering coefficients (how CLIQUISH a
  * node's neighbourhood is — over a kNN graph, a high-LCC region is a
  * tight near-duplicate/topic cluster, a low-LCC high-degree node is a
  * hub stitching unrelated content) and synchronous label propagation
  * (cheap community detection — the consolidation primitive that turns
  * pairwise near-dup edges into "keep one per community" curation
  * decisions without the components machinery's exactness cost).
  *
  * Hash-verifiability: triangle counts and degrees are exact integers;
  * the clustering coefficient is reported in 1e-6 fixed point via exact
  * integer division ((2·tri·1e6) div (deg·(deg−1))) — same discipline as
  * [[PageRank]], so every row replays bit-identically in any engine.
  * Label propagation is synchronous with a TOTAL deterministic order on
  * updates (max neighbour-label frequency, ties to the smallest label,
  * fixed round count) — no async scheduling nondeterminism.
  *
  * Scale design (the 100 TB story):
  *  - Triangles use the degree-ordered orientation of the classic
  *    MapReduce formulation (Suri & Vassilvitskii's "curse of the last
  *    reducer" fix): every undirected edge is oriented from its
  *    (degree, id)-smaller endpoint, which caps a node's oriented
  *    out-degree at O(√|E|), so wedge generation is O(|E|^{3/2}) total
  *    instead of Σ deg² — a single skewed hub cannot blow up one
  *    reducer. The pipeline is three shuffles: degree agg, wedge
  *    self-join on the pivot, closing-edge semi-join against the edge
  *    set. No driver state; nothing collects.
  *  - Label propagation (and BFS, and the k-core peel) run on the
  *    [[GraphLoop]] co-partitioned RDD harness: per round one
  *    shuffle-free message pass over the grouped adjacency with in-pass
  *    vote combining, plus one ≤|V|-row combine shuffle — the Pregel
  *    lowering without a DataFrame loop's per-round re-optimization,
  *    exchanges and codegen.
  *
  * Cuts and block lifetime: [[graft.engine.Stage]].
  */
object GraphMetrics {
  import GraphLoop.{checkIters, checkSeeds}

  /** Canonical undirected distinct edge set (u < v) from a directed edge
    * list; self-loops dropped (they cannot participate in a triangle and
    * would corrupt degrees). With `maxWeight` the rows keep a `w_fp`
    * column, each pair canonicalized to the MAX over its directed
    * duplicates (over a kNN graph both directions carry the same
    * quantized cosine, so max is the identity; for asymmetric inputs it
    * is a stated deterministic choice). */
  private def undirect(edges: DataFrame, maxWeight: Boolean = false): DataFrame = {
    val w = if (maxWeight) Seq(col("w_fp").cast("long").as("w_fp")) else Nil
    val uv = edges
      .select(least(col("src"), col("dst")).cast("long").as("u") +:
        greatest(col("src"), col("dst")).cast("long").as("v") +: w: _*)
      .where(col("u") =!= col("v"))
    if (maxWeight) uv.groupBy(col("u"), col("v")).agg(max(col("w_fp")).as("w_fp"))
    else uv.distinct()
  }

  /** Both directions of every canonical (u, v[, w_fp]) pair as
    * (src, dst[, w_fp]) from ONE pass — a union of two selects would
    * execute `und`'s derivation twice. */
  private def bothWays(und: DataFrame): DataFrame = {
    val w = und.columns.filter(_ == "w_fp").toSeq
    und.select(explode(array(
        struct(col("u").as("src") +: col("v").as("dst") +: w.map(col): _*),
        struct(col("v").as("src") +: col("u").as("dst") +: w.map(col): _*)))
        .as("e"))
      .select(("src" +: "dst" +: w).map(c => col(s"e.$c").as(c)): _*)
  }

  /** Per-node (node, deg, tri, lcc_fp) over the UNDIRECTED version of
    * `edges` (src, dst): `tri` = number of triangles through the node,
    * `lcc_fp` = local clustering coefficient in 1e-6 fixed point
    * (0 for deg < 2, by convention). Exactly one output row per node
    * with at least one edge.
    *
    * Each triangle {a,b,c} is enumerated exactly ONCE — at its
    * (degree, id)-minimal vertex, as an ordered wedge closed by a
    * semi-join — then credited to all three corners. The oracle may
    * enumerate in plain id order (simpler SQL); the triangle SET is
    * orientation-independent, so counts agree. */
  /** Triangle enumeration shared by [[triangleStats]] and
    * [[graphSummary]]: each triangle once as an ordered (x, y, z) row,
    * via the degree-ordered orientation (object scaladoc). */
  private def trianglesOf(und: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    // orient from the (deg, id)-smaller endpoint: bounds oriented
    // out-degree at O(√|E|) (object scaladoc)
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = Stage.cut(withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("a"),
      when(uFirst, col("v")).otherwise(col("u")).as("b")))
    // wedges at pivot a, leaf pair id-ordered so each candidate triangle
    // appears once; closed iff the id-ordered leaf pair is an edge
    oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.a") === col("o2.a") && col("o1.b") < col("o2.b"))
      .select(col("o1.a").as("x"), col("o1.b").as("y"), col("o2.b").as("z"))
      .join(und, col("y") === col("u") && col("z") === col("v"), "left_semi")
  }

  def triangleStats(edges: DataFrame): DataFrame = {
    val und = Stage.cut(undirect(edges))
    val deg = Stage.cut(und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    val perNode = trianglesOf(und, deg)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          call_function("div",
            lit(2000000L) * coalesce(col("tri"), lit(0L)),
            col("deg") * (col("deg") - 1)))
          .otherwise(lit(0L)).as("lcc_fp"))
  }

  /** Synchronous label propagation over the UNDIRECTED version of
    * `edges`, exactly `iters` rounds from the identity labelling
    * (label = node id). Per round every node adopts its neighbours'
    * most frequent previous-round label, ties broken to the SMALLEST
    * label — a total order, so the fixed-round run is deterministic and
    * replayable (synchronous LPA can oscillate on bipartite structure;
    * fixed rounds ARE the contract, as with [[PageRank.pageRankFp]]).
    * Isolated nodes cannot occur (every node comes from an edge).
    * Over (src, dst, w_fp) edges votes carry the pair's INTEGER weight,
    * so a barely-similar neighbour casts a barely-there vote — the
    * semantics community detection over a similarity graph wants; equal
    * weights degenerate to exactly the unweighted run (spec-pinned).
    * Returns (node, label). */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    checkIters(iters)
    val spark = edges.sparkSession
    import spark.implicits._
    val g = GraphLoop.build(bothWays(
      undirect(edges, maxWeight = edges.columns.contains("w_fp"))))
    var labels = GraphLoop.initVector(g.nodes, n => n)
    for (_ <- 1 to iters) labels = GraphLoop.voteRound(g, labels)
    Stage.cut(labels.toDF("node", "label"), release = g.release())
  }

  /** Synchronous k-core peeling over the UNDIRECTED version of `edges`,
    * exactly `rounds` rounds: each round computes degrees in the current
    * subgraph and removes ALL nodes of degree < k simultaneously (and
    * their edges). Peeling is monotone, so once the k-core is reached the
    * remaining rounds are no-ops — fixed rounds make the run replayable
    * without a convergence test (the [[PageRank.pageRankFp]] contract),
    * and an unconverged R-round peel is a well-defined SUPERSET of the
    * k-core, stated rather than hidden. Returns (node, deg): the
    * surviving nodes that still carry at least one edge, with their
    * degree in the surviving subgraph.
    *
    * Scale: per round one |E| degree reduceByKey + two co-partitioned
    * keep-filters of the edge set — all key-partitioned shuffles, no
    * driver state, linear lineage. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"2 <= k <= 64, got $k")
    checkIters(rounds, "rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    // co-partitioned RDD peel ([[GraphLoop]] scaladoc): per round one
    // degree reduceByKey plus two partitionBy+zip keep-filters (u side,
    // then v side) against the SAME keep set — synchronous removal, the
    // oracle's semi-join pair; degree counts are integer folds, so the
    // surviving subgraph is bit-identical (spec pins distributed ==
    // sequential reference).
    val e0: org.apache.spark.rdd.RDD[(Long, Long)] =
      undirect(edges).as[(Long, Long)].rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eCount = e0.count()
    val part = GraphLoop.partitioner(spark.sparkContext, eCount)
    def degreesOf(e: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] =
      e.mapPartitions(_.flatMap { case (u, v) =>
        Iterator((u, 1L), (v, 1L))
      }).reduceByKey(part, _ + _)
    def keepSide(e: org.apache.spark.rdd.RDD[(Long, Long)],
                 keep: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] =
      e.partitionBy(part).zipPartitions(keep) { (eIt, kIt) =>
        val ks = new scala.collection.mutable.LongMap[Unit]()
        kIt.foreach(kv => ks.update(kv._1, ()))
        eIt.filter(p => ks.contains(p._1))
      }
    var e = e0
    for (_ <- 1 to rounds) {
      val keep = degreesOf(e).filter(_._2 >= k)
      e = keepSide(keepSide(e, keep).map(_.swap), keep).map(_.swap)
    }
    Stage.cut(degreesOf(e).toDF("node", "deg"),
      release = e0.unpersist(blocking = false))
  }

  /** One-row structural health summary of the UNDIRECTED version of
    * `edges`: (nodes, edges, max_deg, wedges, triangles, cc_fp,
    * assort_fp) — the dashboard row a pipeline watches to see a
    * similarity graph drift (a collapsing global clustering coefficient
    * or a swing to disassortativity signals banding/quantizer trouble
    * before any query goes wrong).
    *
    *  - `wedges` = Σ deg·(deg−1)/2; `cc_fp` = global (transitivity)
    *    clustering coefficient 3·triangles/wedges in 1e-6 fixed point.
    *  - `assort_fp` = Newman degree assortativity in 1e-6 fixed point,
    *    computed as floor((r+1)·1e6) − 1e6 over the directed pair list:
    *    r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²). The shift keeps the
    *    integer-divided quantity NON-NEGATIVE (r ≥ −1 always), because
    *    Spark's `div` truncates toward zero while other engines floor —
    *    on non-negative operands they agree, so the row replays exactly.
    *    Degenerate denominators (regular graph / no wedges) report 0 by
    *    stated convention.
    *
    * All sums are exact integer aggregates in DECIMAL(38,0) — at
    * trillion-edge scale Σdeg² · M exceeds a BIGINT, and under ANSI mode
    * a silent Long wrap would corrupt the metric; decimal keeps the
    * arithmetic exact to 38 digits and overflow LOUD. One |E| pass for
    * degrees, one for pair sums, plus the [[trianglesOf]] wedge join. */
  def graphSummary(edges: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val und = Stage.cut(undirect(edges))
    val deg = Stage.cut(und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    val degAgg = deg.agg(
      count(lit(1)).as("nodes"), max(col("deg")).as("max_deg"),
      sum(call_function("div", col("deg") * (col("deg") - 1), lit(2L))
        .cast(dec)).as("wedges"))
    val edgeCnt = und.agg(count(lit(1)).as("edges"))
    val triCnt = trianglesOf(und, deg).agg(count(lit(1)).as("triangles"))
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
    val sums = sym
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .agg(count(lit(1)).cast(dec).as("m"),
        sum((col("da") * col("db")).cast(dec)).as("s_jk"),
        sum(col("da").cast(dec)).as("s_j"),
        sum((col("da") * col("da")).cast(dec)).as("s_jj"))
    val num = col("s_jk") * col("m") - col("s_j") * col("s_j")
    val den = col("s_jj") * col("m") - col("s_j") * col("s_j")
    degAgg.crossJoin(broadcast(edgeCnt)).crossJoin(broadcast(triCnt))
      .crossJoin(broadcast(sums))
      .select(col("nodes"), col("edges"), col("max_deg"),
        col("wedges").cast("long").as("wedges"), col("triangles"),
        when(col("wedges") > 0,
          call_function("div",
            col("triangles").cast(dec) * lit(3000000L), col("wedges")))
          .otherwise(lit(0L)).as("cc_fp"),
        when(den > 0,
          call_function("div", (num + den) * lit(1000000L), den)
            - lit(1000000L))
          .otherwise(lit(0L)).as("assort_fp"))
  }

  /** Sentinel distance for not-yet-reached nodes in [[bfsHops]]: any
    * value strictly greater than the maximum round count (16) works —
    * relaxation only ever compares/increments it, and 1000+16 is nowhere
    * near overflow. Shared with the oracle SQL as a literal. */
  val BfsInf = 1000L

  /** Multi-source BFS over the UNDIRECTED version of `edges`: exactly
    * `rounds` synchronous relaxation rounds (dist_i(v) = min(dist_{i-1}
    * (v), 1 + min over neighbours u of dist_{i-1}(u)), seeds at 0) — the
    * Bellman-Ford lowering, deterministic because min is order-free, so
    * the run replays exactly with unrolled CTEs. Returns (node, hops)
    * for EVERY node, [[BfsInf]] marking nodes unreached within `rounds`
    * hops. Over a similarity graph this is the "how far from the curated
    * seed panel" curation feature. Seeds absent from the graph
    * contribute nothing (no node row exists for them).
    *
    * Scale: per round one co-partitioned message pass + one ≤|V| min
    * combine — the [[GraphLoop]] shape. */
  def bfsHops(edges: DataFrame, seeds: Seq[Long], rounds: Int): DataFrame = {
    checkIters(rounds, "rounds"); checkSeeds(seeds)
    val spark = edges.sparkSession
    import spark.implicits._
    val g = GraphLoop.build(bothWays(undirect(edges)))
    val seedSet = seeds.toSet
    var dist = GraphLoop.initVector(g.nodes,
      n => if (seedSet(n)) 0L else BfsInf)
    for (_ <- 1 to rounds) dist = GraphLoop.minRound(g, dist, BfsInf)
    Stage.cut(dist.toDF("node", "hops"), release = g.release())
  }

  /** Host-side sequential twin of [[bfsHops]] (spec cross-check only). */
  def referenceBfsHops(edges: Seq[(Long, Long)], seeds: Seq[Long],
                       rounds: Int): Map[Long, Long] = {
    val und = edges.map { case (s, d) => (math.min(s, d), math.max(s, d)) }
      .filter { case (u, v) => u != v }.distinct
    val sym = und ++ und.map { case (u, v) => (v, u) }
    val nbrs = sym.groupBy(_._2).map { case (n, xs) => n -> xs.map(_._1) }
    val nodes = sym.map(_._1).distinct
    val seedSet = seeds.toSet
    var dist = nodes.map(n => n -> (if (seedSet(n)) 0L else BfsInf)).toMap
    for (_ <- 1 to rounds) {
      dist = nodes.map { n =>
        val in = nbrs.getOrElse(n, Seq.empty).map(u => dist(u) + 1)
        n -> math.min(dist(n), if (in.isEmpty) BfsInf else in.min)
      }.toMap
    }
    dist
  }

  /** Host-side sequential twin of [[triangleStats]] (spec cross-check
    * only): (node → (deg, tri, lcc_fp)) by brute-force id-ordered
    * triangle enumeration. */
  def referenceTriangleStats(edges: Seq[(Long, Long)])
      : Map[Long, (Long, Long, Long)] = {
    val und = edges.map { case (s, d) => (math.min(s, d), math.max(s, d)) }
      .filter { case (u, v) => u != v }.distinct
    val undSet = und.toSet
    val deg = (und.map(_._1) ++ und.map(_._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val adj = (und ++ und.map { case (u, v) => (v, u) })
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for ((u, v) <- und; w <- adj(u) if w > v && undSet((v, w))) {
      triPerNode(u) += 1; triPerNode(v) += 1; triPerNode(w) += 1
    }
    deg.map { case (n, d) =>
      val t = triPerNode(n)
      n -> (d, t, if (d >= 2) 2000000L * t / (d * (d - 1)) else 0L)
    }
  }

  /** Host-side sequential twin of [[kCore]] (spec cross-check only). */
  def referenceKCore(edges: Seq[(Long, Long)], k: Int, rounds: Int)
      : Map[Long, Long] = {
    var e = edges.map { case (s, d) => (math.min(s, d), math.max(s, d)) }
      .filter { case (u, v) => u != v }.distinct
    def degrees(es: Seq[(Long, Long)]): Map[Long, Long] =
      (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }
    for (_ <- 1 to rounds) {
      val keep = degrees(e).filter(_._2 >= k).keySet
      e = e.filter { case (u, v) => keep(u) && keep(v) }
    }
    degrees(e)
  }

  /** Host-side sequential twin of the weighted [[labelPropagation]]
    * (spec cross-check only; ≤ 0-weight edges dropped, duplicate pairs
    * canonicalized to max weight — matching the operator). */
  def referenceLabelPropagationWeighted(edges: Seq[(Long, Long, Long)],
                                        iters: Int): Map[Long, Long] = {
    val und = edges.filter(_._3 > 0)
      .map { case (s, d, w) => ((math.min(s, d), math.max(s, d)), w) }
      .filter { case ((u, v), _) => u != v }
      .groupBy(_._1).map { case (p, xs) => (p._1, p._2, xs.map(_._2).max) }
      .toSeq
    val sym = und ++ und.map { case (u, v, w) => (v, u, w) }
    val nbrs = sym.groupBy(_._2)
      .map { case (n, xs) => n -> xs.map(e => (e._1, e._3)) }
    val nodes = sym.map(_._1).distinct
    var labels = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = nodes.map { n =>
        val votes = nbrs.getOrElse(n, Seq.empty)
          .groupBy { case (u, _) => labels(u) }
          .map { case (l, xs) => l -> xs.map(_._2).sum }
        n -> (if (votes.isEmpty) labels(n)
              else votes.toSeq.maxBy { case (l, w) => (w, -l) }._1)
      }.toMap
    }
    labels
  }

  /** Host-side sequential twin of [[labelPropagation]] (spec cross-check
    * only). */
  def referenceLabelPropagation(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val und = edges.map { case (s, d) => (math.min(s, d), math.max(s, d)) }
      .filter { case (u, v) => u != v }.distinct
    val sym = und ++ und.map { case (u, v) => (v, u) }
    val nbrs = sym.groupBy(_._2).map { case (n, xs) => n -> xs.map(_._1) }
    val nodes = sym.map(_._1).distinct
    var labels = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = nodes.map { n =>
        val freq = nbrs.getOrElse(n, Seq.empty).map(labels)
          .groupBy(identity).map { case (l, xs) => l -> xs.size }
        n -> (if (freq.isEmpty) labels(n)
              else freq.toSeq.maxBy { case (l, c) => (c, -l) }._1)
      }.toMap
    }
    labels
  }
}
