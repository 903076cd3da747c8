package graft.ops

import scala.collection.mutable.{ArrayBuilder, LongMap}
import scala.reflect.ClassTag
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

/** Shared co-partitioned RDD harness for the fixed-round graph loops — the
  * [[PageRank.hitsFp]] shape, extracted once so every per-round operator
  * (damped walks, label propagation, BFS relaxation) stops paying the
  * DataFrame loop tax: per round a DF loop re-optimizes a growing plan,
  * re-shuffles BOTH join sides (cross-checkpoint plans never reuse each
  * other's exchange partitioning), and pays a fresh whole-stage-codegen
  * pass, while the arithmetic itself is three integer ops per edge. On
  * co-partitioned RDDs each round is ONE zipPartitions pass (primitive
  * LongMap hash-build of the ≤|V| vector side, streamed probe of the
  * grouped adjacency with in-pass map-side combine) plus one reduceByKey
  * that shuffles ≤|V| pre-combined rows per partition instead of |E|
  * messages — no optimizer pass, no codegen, no per-round exchanges of
  * the edge side.
  *
  * Determinism contract (what makes the loops oracle-safe): every loop
  * built on this harness performs integer arithmetic only — integer
  * shares (`/` on non-negative Longs ≡ SQL `div`), commutative integer
  * sums/mins/max-votes — so results are bit-identical to the unrolled-CTE
  * oracles. Specs pin each distributed operator to its sequential
  * host-side reference.
  *
  * Partitioning rule: ~500k edges per partition capped at
  * defaultParallelism — a full-width spread pays more in task overhead
  * than it gains for per-round work this small, while at cluster scale
  * the defaultParallelism cap binds.
  *
  * Callers cut their output and release the graph with
  * `Stage.cut(out, release = g.release())` ([[graft.engine.Stage]]).
  */
private[ops] object GraphLoop {

  /** Grouped out-adjacency plus the co-partitioned node set, materialized
    * and persisted; `cached` lists every persisted RDD for release. Each
    * `adj` row is (src, (dsts, weights, Σw)): `weights` is null on an
    * unweighted graph, whose Σw is the out-degree. `maxW` is the largest
    * edge weight (0 on an empty weighted graph, 1 when unweighted).
    * `nCount` is LAZY — only the uniform-teleport walk needs |V| (for its
    * base rank); seed-teleport walks skip that extra driver action. */
  final class Graph(val adj: RDD[(Long, (Array[Long], Array[Long], Long))],
      val nodes: RDD[(Long, Long)], val part: HashPartitioner,
      val weighted: Boolean, val maxW: Long, val cached: Seq[RDD[_]]) {
    lazy val nCount: Long = nodes.count()
    def release(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** The hitsFp partition-sizing rule (~500k edges/partition, capped at
    * defaultParallelism). */
  def partitioner(sc: org.apache.spark.SparkContext,
                  eCount: Long): HashPartitioner =
    new HashPartitioner(math.max(1,
      math.min(sc.defaultParallelism, (eCount / 500000L + 1L).toInt)))

  def checkIters(n: Int, what: String = "iters"): Unit =
    require(n >= 1 && n <= 16, s"1 <= $what <= 16, got $n")

  def checkSeeds(seeds: Seq[Long]): Unit = {
    require(seeds.nonEmpty && seeds.size <= 1024,
      s"seed panel must be 1..1024 literals, got ${seeds.size}")
    require(seeds.distinct.size == seeds.size, "duplicate seeds")
  }

  /** One source's dst list (and weights) while grouping; `seen` is set
    * only when deduping, and then keeps the FIRST occurrence of each dst. */
  private final class AdjBuilder(dedup: Boolean, weighted: Boolean) {
    private val seen = if (dedup) new LongMap[Unit]() else null
    private val ds = new ArrayBuilder.ofLong()
    private val ws = if (weighted) new ArrayBuilder.ofLong() else null
    private var sw = 0L
    def add(d: Long, w: Long): Unit =
      if (seen == null || !seen.contains(d)) {
        if (seen != null) seen.update(d, ())
        ds += d; if (ws != null) ws += w; sw += w
      }
    def result(): (Array[Long], Array[Long], Long) =
      (ds.result(), if (ws == null) null else ws.result(), sw)
  }

  /** distinct(src ∪ dst) as a `part`-co-partitioned (node, 0L) RDD: one
    * reduceByKey over locally-deduped keys (the grouped adjacency already
    * holds each src once; dsts dedup in-partition before the shuffle). */
  private def nodeSet(adj: RDD[(Long, (Array[Long], Array[Long], Long))],
                      part: HashPartitioner): RDD[(Long, Long)] =
    adj.mapPartitions { it =>
      val seen = new LongMap[Unit]()
      it.flatMap { case (s, (ds, _, _)) =>
        (Iterator.single(s) ++ ds.iterator).filter { n =>
          if (seen.contains(n)) false else { seen.update(n, ()); true }
        }
      }.map((_, 0L))
    }.reduceByKey(part, (a, _) => a)

  /** Materialize the walk graph from an edge DataFrame: persist the edge
    * RDD, size the partitioner from the measured edge count, group the
    * adjacency (all rows of a source hash to one partition, so the
    * per-partition grouping IS the global grouping), derive the node set.
    * Casts mirror the oracles' `::BIGINT`.
    *
    * Weights: the graph is weighted exactly when `edges` has a `w_fp`
    * column — non-negative INTEGER weights (e.g. a 1e-6-quantized cosine).
    * Rows with `w_fp ≤ 0` are dropped here: they carry no mass, and
    * keeping them could zero a source's Σw, the one divide-by-zero shape.
    * `maxW` is measured (one extra fold) only for weighted input, so the
    * walks can guard `scale · maxW < 2^63` loudly. Duplicate (src, dst)
    * rows are kept as parallel edges; label propagation canonicalizes
    * each undirected pair to its max weight before building.
    *
    * With `dedup` set (unweighted input only) the edge stream may carry
    * duplicates: a map-side per-partition set drops repeats BEFORE the
    * shuffle and the in-group dedup makes the result exact — one exchange
    * total where distinct()-then-build paid two. */
  def build(edges: DataFrame, dedup: Boolean = false): Graph = {
    val weighted = edges.columns.contains("w_fp")
    require(!(dedup && weighted),
      "GraphLoop.build: dedup applies to unweighted (src, dst) edges only")
    val spark = edges.sparkSession
    import spark.implicits._
    val raw = (if (weighted) edges.where(col("w_fp") > 0) else edges)
      .select(col("src").cast("long"), col("dst").cast("long"),
        if (weighted) col("w_fp").cast("long") else lit(1L))
      .as[(Long, Long, Long)].rdd
    val pre = if (!dedup) raw else raw.mapPartitions { it =>
      val seen = new LongMap[LongMap[Unit]]()
      it.filter { case (s, d, _) =>
        val m = seen.getOrElseUpdate(s, new LongMap[Unit]())
        if (m.contains(d)) false else { m.update(d, ()); true }
      }
    }
    val es = pre.persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = es.count()
    val maxW = if (!weighted) 1L else if (eCount == 0) 0L else es.map(_._3).max()
    val part = partitioner(spark.sparkContext, eCount)
    val adj = es.map { case (s, d, w) => (s, (d, w)) }.partitionBy(part)
      .mapPartitions({ it =>
        val m = new LongMap[AdjBuilder]()
        it.foreach { case (s, (d, w)) =>
          m.getOrElseUpdate(s, new AdjBuilder(dedup, weighted)).add(d, w)
        }
        m.iterator.map { case (s, b) => (s, b.result()) }
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodeSet(adj, part).persist(StorageLevel.MEMORY_AND_DISK)
    new Graph(adj, nodes, part, weighted, maxW, Seq(es, adj, nodes))
  }

  /** One damped round over per-node rank VECTORS (one entry per teleport
    * panel, P ≥ 1): a zipPartitions probe of the grouped adjacency against
    * the co-partitioned rank vectors with an in-pass combine keyed by dst,
    * a ≤|V|-row reduceByKey, then the teleport-damped update
    * `tp(n) + (dampNum · m) div dampDen` over the full node set (`tp`
    * returns a fresh vector, updated in place). The share of rank r over
    * an edge is `r div outdeg` unweighted — computed ONCE per source — and
    * `(r · w) div Σw` weighted, per edge. All Longs are non-negative, so
    * `/` matches SQL `div` exactly; zero shares are skipped (they add 0 to
    * every sum — bit-identical results). */
  def dampedRound(g: Graph, ranks: RDD[(Long, Array[Long])],
                  tp: Long => Array[Long], dampNum: Long,
                  dampDen: Long): RDD[(Long, Array[Long])] = {
    val msgs = g.adj.zipPartitions(ranks) { (aIt, rIt) =>
      val rm = new LongMap[Array[Long]]()
      rIt.foreach(kv => rm.update(kv._1, kv._2))
      val acc = new LongMap[Array[Long]]()
      var c: Array[Long] = null // the current edge's shares, reused
      aIt.foreach { case (s, (ds, ws, sw)) =>
        val rv = rm.getOrElse(s, null)
        if (rv != null) {
          val np = rv.length
          if (c == null) c = new Array[Long](np)
          var any = false
          var i = 0
          while (i < ds.length) {
            // unweighted: one share per source; weighted: one per edge
            if (i == 0 || ws != null) {
              any = false
              var p = 0
              while (p < np) {
                c(p) = if (ws == null) rv(p) / sw else rv(p) * ws(i) / sw
                if (c(p) != 0L) any = true
                p += 1
              }
            }
            if (any) {
              val a = acc.getOrElseUpdate(ds(i), new Array[Long](np))
              var p = 0
              while (p < np) { a(p) += c(p); p += 1 }
            }
            i += 1
          }
        }
      }
      acc.iterator
    }
    val agg = msgs.reduceByKey(g.part, (a, b) => {
      var p = 0
      while (p < a.length) { a(p) += b(p); p += 1 }
      a
    })
    g.nodes.zipPartitions(agg, preservesPartitioning = true) { (nIt, mIt) =>
      val mm = new LongMap[Array[Long]]()
      mIt.foreach(kv => mm.update(kv._1, kv._2))
      nIt.map { case (n, _) =>
        val r = tp(n)
        val m = mm.getOrElse(n, null)
        if (m != null) {
          var p = 0
          while (p < r.length) { r(p) += dampNum * m(p) / dampDen; p += 1 }
        }
        (n, r)
      }
    }
  }

  /** One synchronous label-propagation round: neighbour labels are
    * vote-summed per destination in-pass — the vote mass is the edge
    * weight, or 1 on an unweighted graph; the combiner is a per-dst
    * LongMap of label → votes, merged by key in the reduce — then each
    * node adopts the max-vote label, ties to the SMALLEST label (the
    * oracle's `ORDER BY c DESC, label ASC`; the direct comparison is exact
    * even at Long.MinValue, where a negation would overflow). Nodes with
    * no incoming votes keep their own id — unreachable in a symmetric
    * graph (every node has an in-edge), kept for parity with the oracle's
    * coalesce. */
  def voteRound(g: Graph, labels: RDD[(Long, Long)]): RDD[(Long, Long)] = {
    val msgs = g.adj.zipPartitions(labels) { (aIt, lIt) =>
      val lm = new LongMap[Long]()
      lIt.foreach(kv => lm.update(kv._1, kv._2))
      val acc = new LongMap[LongMap[Long]]()
      aIt.foreach { case (s, (ds, ws, _)) =>
        val l = lm.getOrElse(s, s)
        var i = 0
        while (i < ds.length) {
          val m = acc.getOrElseUpdate(ds(i), new LongMap[Long]())
          m.update(l, m.getOrElse(l, 0L) + (if (ws == null) 1L else ws(i)))
          i += 1
        }
      }
      acc.iterator
    }
    val agg = msgs.reduceByKey(g.part, (a, b) => {
      b.foreach { case (l, c) => a.update(l, a.getOrElse(l, 0L) + c) }
      a
    })
    g.nodes.zipPartitions(agg, preservesPartitioning = true) { (nIt, vIt) =>
      val vm = new LongMap[LongMap[Long]]()
      vIt.foreach(kv => vm.update(kv._1, kv._2))
      nIt.map { case (n, _) =>
        val votes = vm.getOrElse(n, null)
        if (votes == null || votes.isEmpty) (n, n)
        else {
          var bl = 0L; var bc = Long.MinValue
          votes.foreach { case (l, c) =>
            if (c > bc || (c == bc && l < bl)) { bc = c; bl = l }
          }
          (n, bl)
        }
      }
    }
  }

  /** One synchronous min-relaxation round (multi-source BFS): incoming
    * candidate = dist(src) + 1, combined by min; each node keeps
    * min(old, best incoming). Messages from `inf`-distance sources are
    * skipped — their candidates (inf + 1) can never beat an existing
    * distance ≤ inf, so sums and results are unchanged. `dist` must hold
    * EVERY node (it does: rounds preserve the init vector's node set). */
  def minRound(g: Graph, dist: RDD[(Long, Long)],
               inf: Long): RDD[(Long, Long)] = {
    val msgs = g.adj.zipPartitions(dist) { (aIt, dIt) =>
      val dm = new LongMap[Long]()
      dIt.foreach(kv => dm.update(kv._1, kv._2))
      val acc = new LongMap[Long]()
      aIt.foreach { case (s, (ds, _, _)) =>
        val h = dm.getOrElse(s, inf)
        if (h < inf) {
          val c = h + 1L
          var i = 0
          while (i < ds.length) {
            if (c < acc.getOrElse(ds(i), Long.MaxValue)) acc.update(ds(i), c)
            i += 1
          }
        }
      }
      acc.iterator
    }
    val agg = msgs.reduceByKey(g.part, (a: Long, b: Long) => math.min(a, b))
    dist.zipPartitions(agg, preservesPartitioning = true) { (dIt, mIt) =>
      val mm = new LongMap[Long]()
      mIt.foreach(kv => mm.update(kv._1, kv._2))
      dIt.map { case (n, h) => (n, math.min(h, mm.getOrElse(n, inf))) }
    }
  }

  /** Initial per-node vector co-partitioned with the graph's node set. */
  def initVector[V: ClassTag](nodes: RDD[(Long, Long)],
                              r0: Long => V): RDD[(Long, V)] =
    nodes.mapPartitions(
      _.map { case (n, _) => (n, r0(n)) }, preservesPartitioning = true)
}
