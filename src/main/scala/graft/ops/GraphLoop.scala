package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Shared co-partitioned RDD harness for the fixed-round graph loops
  * (r21 OPT, guide §1.2 step 1 / §2.4) — the [[PageRank.hitsFp]] shape,
  * extracted once so every per-round operator (damped walks, label
  * propagation, BFS relaxation) stops paying the DataFrame loop tax that
  * the r20 HITS measurement named: per round a DF loop re-optimizes a
  * growing plan, re-shuffles BOTH join sides (cross-checkpoint plans
  * never reuse each other's exchange partitioning), and pays a fresh
  * whole-stage-codegen pass, while the arithmetic itself is three integer
  * ops per edge. On co-partitioned RDDs each round is ONE zipPartitions
  * pass (primitive LongMap hash-build of the ≤|V| vector side, streamed
  * probe of the grouped adjacency with in-pass map-side combine) plus one
  * reduceByKey that shuffles ≤|V| pre-combined rows per partition instead
  * of |E| messages — no optimizer pass, no codegen, no per-round
  * exchanges of the edge side.
  *
  * Determinism contract (what makes the port oracle-safe): every loop
  * built on this harness performs the SAME integer arithmetic as its
  * DataFrame predecessor — integer shares (`/` on non-negative Longs ≡
  * SQL `div`), commutative integer sums/mins/max-votes — so results are
  * bit-identical and the unrolled-CTE oracles replay unchanged. Specs pin
  * each distributed operator to its sequential host-side reference.
  *
  * Partitioning rule (measured in r20): ~500k edges per partition capped
  * at defaultParallelism — a full-width spread pays more in task overhead
  * than it gains for per-round work this small, while at cluster scale
  * the defaultParallelism cap binds.
  *
  * Callers cut their output and release the graph with
  * `Stage.cut(out, release = g.release())` ([[graft.engine.Stage]]).
  */
private[ops] object GraphLoop {

  /** Grouped out-adjacency plus the co-partitioned node set, materialized
    * and persisted; `cached` lists every persisted RDD for release.
    * `nCount` is LAZY — only the uniform-teleport walk needs |V| (for its
    * base rank); seed-teleport walks skip that extra driver action. */
  final class Graph(val adj: RDD[(Long, Array[Long])],
      val nodes: RDD[(Long, Long)], val part: HashPartitioner,
      val cached: Seq[RDD[_]]) {
    lazy val nCount: Long = nodes.count()
    def release(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** The hitsFp partition-sizing rule (~500k edges/partition, capped at
    * defaultParallelism). */
  def partitioner(sc: org.apache.spark.SparkContext,
                  eCount: Long): HashPartitioner =
    new HashPartitioner(math.max(1,
      math.min(sc.defaultParallelism, (eCount / 500000L + 1L).toInt)))

  /** Group a co-partitioned pair list into one (src, dsts) row per source
    * WITHIN its partition — all rows of a source hash to one partition,
    * so the per-partition grouping IS the global grouping, and the dst
    * multiset per source is exactly the input edge multiset's.
    *
    * With `dedup` set, each source's dst list keeps only the FIRST
    * occurrence of every dst: because the partitioner colocates all rows
    * of a source, this per-group dedup is exactly a global
    * `distinct(src, dst)` — the caller can feed a duplicate-carrying
    * pair stream and skip its own distinct() exchange (r21 OPT; the
    * walks' sums commute, so dst order never matters). */
  def groupAdj(pairs: RDD[(Long, Long)], part: HashPartitioner,
               dedup: Boolean = false): RDD[(Long, Array[Long])] =
    pairs.partitionBy(part).mapPartitions({ it =>
      if (!dedup) {
        val m = new scala.collection.mutable.LongMap[
          scala.collection.mutable.ArrayBuilder.ofLong]()
        it.foreach { case (s, d) =>
          m.getOrElseUpdate(s,
            new scala.collection.mutable.ArrayBuilder.ofLong()) += d
        }
        m.iterator.map { case (s, b) => (s, b.result()) }
      } else {
        val m = new scala.collection.mutable.LongMap[
          (scala.collection.mutable.LongMap[Unit],
           scala.collection.mutable.ArrayBuilder.ofLong)]()
        it.foreach { case (s, d) =>
          val e = m.getOrElseUpdate(s,
            (new scala.collection.mutable.LongMap[Unit](),
             new scala.collection.mutable.ArrayBuilder.ofLong()))
          if (!e._1.contains(d)) { e._1.update(d, ()); e._2 += d }
        }
        m.iterator.map { case (s, e) => (s, e._2.result()) }
      }
    }, preservesPartitioning = true)

  /** distinct(src ∪ dst) as a `part`-co-partitioned (node, 0L) RDD: one
    * reduceByKey over locally-deduped keys (the grouped adjacency already
    * holds each src once; dsts dedup in-partition before the shuffle). */
  def nodeSet(adj: RDD[(Long, Array[Long])],
              part: HashPartitioner): RDD[(Long, Long)] =
    adj.mapPartitions { it =>
      val seen = new scala.collection.mutable.LongMap[Unit]()
      it.flatMap { case (s, ds) =>
        (Iterator.single(s) ++ ds.iterator).filter { n =>
          if (seen.contains(n)) false else { seen.update(n, ()); true }
        }
      }.map((_, 0L))
    }.reduceByKey(part, (a, _) => a)

  /** Materialize the walk graph from a (src, dst) DataFrame: persist the
    * pair RDD, size the partitioner from the measured edge count, build
    * the grouped adjacency + node set, count nodes. Casts mirror the DF
    * loops' `col(..).cast("long")`.
    *
    * With `dedup` set the edge stream may carry duplicates: a map-side
    * per-partition set drops repeats BEFORE the shuffle (the same byte
    * reduction a distinct()'s partial aggregate buys) and [[groupAdj]]'s
    * in-group dedup makes the result exact — one exchange total where
    * distinct()-then-build paid two (r21 OPT, guide §2.1/§2.3). */
  def build(edges: DataFrame, dedup: Boolean = false): Graph = {
    val spark = edges.sparkSession
    import spark.implicits._
    val raw = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
    val pre = if (!dedup) raw else raw.mapPartitions { it =>
      val seen = new scala.collection.mutable.LongMap[
        scala.collection.mutable.LongMap[Unit]]()
      it.filter { case (s, d) =>
        val m = seen.getOrElseUpdate(s,
          new scala.collection.mutable.LongMap[Unit]())
        if (m.contains(d)) false else { m.update(d, ()); true }
      }
    }
    val pairs = pre.persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = pairs.count()
    val part = partitioner(spark.sparkContext, eCount)
    val adj = groupAdj(pairs, part, dedup)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodeSet(adj, part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    new Graph(adj, nodes, part, Seq(pairs, adj, nodes))
  }

  /** Weighted grouped adjacency: one row per source with parallel dst and
    * weight arrays plus the per-source weight sum Σw — the share
    * denominator, exactly the `sw` the DataFrame loop joined in. `maxW`
    * is the materialized maximum edge weight (0 on an empty graph) for
    * the callers' loud overflow guard. */
  final class WGraph(val adj: RDD[(Long, (Array[Long], Array[Long], Long))],
      val nodes: RDD[(Long, Long)], val maxW: Long,
      val part: HashPartitioner, val cached: Seq[RDD[_]]) {
    def release(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** [[build]]'s weighted twin over (src, dst, w_fp) — caller filters
    * non-positive weights first (their semantics differ per operator). */
  def buildWeighted(edges: DataFrame): WGraph = {
    val spark = edges.sparkSession
    import spark.implicits._
    val triples = edges
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("w_fp").cast("long"))
      .as[(Long, Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCount = triples.count()
    val maxW = if (eCount == 0) 0L else triples.map(_._3).max()
    val part = partitioner(spark.sparkContext, eCount)
    val adj = triples.map { case (s, d, w) => (s, (d, w)) }
      .partitionBy(part)
      .mapPartitions({ it =>
        val m = new scala.collection.mutable.LongMap[
          (scala.collection.mutable.ArrayBuilder.ofLong,
           scala.collection.mutable.ArrayBuilder.ofLong)]()
        it.foreach { case (s, (d, w)) =>
          val b = m.getOrElseUpdate(s,
            (new scala.collection.mutable.ArrayBuilder.ofLong(),
             new scala.collection.mutable.ArrayBuilder.ofLong()))
          b._1 += d; b._2 += w
        }
        m.iterator.map { case (s, (db, wb)) =>
          val ws = wb.result()
          var sw = 0L; var i = 0
          while (i < ws.length) { sw += ws(i); i += 1 }
          (s, (db.result(), ws, sw))
        }
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodeSet(
      adj.mapValues(_._1), part).persist(StorageLevel.MEMORY_AND_DISK)
    new WGraph(adj, nodes, maxW, part, Seq(triples, adj, nodes))
  }

  /** One damped WEIGHTED round: share = (rank · w) div Σw per edge — the
    * per-edge work the grouped DataFrame form could not express without
    * an interpreted HOF (the r20 deferral); in a primitive while-loop it
    * is two integer ops per edge. Same combine/update shape as
    * [[dampedRound]]. */
  def dampedRoundWeighted(g: WGraph, ranks: RDD[(Long, Long)],
                          tp: Long => Long, dampNum: Long,
                          dampDen: Long): RDD[(Long, Long)] = {
    val msgs = g.adj.zipPartitions(ranks) { (aIt, rIt) =>
      val rm = new scala.collection.mutable.LongMap[Long]()
      rIt.foreach(kv => rm.update(kv._1, kv._2))
      val acc = new scala.collection.mutable.LongMap[Long]()
      aIt.foreach { case (s, (ds, ws, sw)) =>
        val r = rm.getOrElse(s, 0L)
        if (r > 0L) {
          var i = 0
          while (i < ds.length) {
            val c = r * ws(i) / sw
            if (c > 0L) acc.update(ds(i), acc.getOrElse(ds(i), 0L) + c)
            i += 1
          }
        }
      }
      acc.iterator
    }
    val agg = msgs.reduceByKey(g.part, _ + _)
    g.nodes.zipPartitions(agg, preservesPartitioning = true) { (nIt, mIt) =>
      val mm = new scala.collection.mutable.LongMap[Long]()
      mIt.foreach(kv => mm.update(kv._1, kv._2))
      nIt.map { case (n, _) =>
        (n, tp(n) + dampNum * mm.getOrElse(n, 0L) / dampDen)
      }
    }
  }

  /** One damped unweighted round: messages from a zipPartitions probe of
    * the grouped adjacency against the co-partitioned rank vector (share
    * = rank / outdeg computed ONCE per source, in-pass combine keyed by
    * dst), then a ≤|V|-row reduceByKey, then the teleport-damped update
    * over the full node set. All Longs are non-negative, so `/` matches
    * SQL `div` exactly; zero ranks/shares are skipped (they contribute 0
    * to every sum — bit-identical results). */
  def dampedRound(g: Graph, ranks: RDD[(Long, Long)], tp: Long => Long,
                  dampNum: Long, dampDen: Long): RDD[(Long, Long)] = {
    val msgs = g.adj.zipPartitions(ranks) { (aIt, rIt) =>
      val rm = new scala.collection.mutable.LongMap[Long]()
      rIt.foreach(kv => rm.update(kv._1, kv._2))
      val acc = new scala.collection.mutable.LongMap[Long]()
      aIt.foreach { case (s, ds) =>
        val r = rm.getOrElse(s, 0L)
        if (r > 0L) {
          val c = r / ds.length
          if (c > 0L) {
            var i = 0
            while (i < ds.length) {
              acc.update(ds(i), acc.getOrElse(ds(i), 0L) + c); i += 1
            }
          }
        }
      }
      acc.iterator
    }
    val agg = msgs.reduceByKey(g.part, _ + _)
    g.nodes.zipPartitions(agg, preservesPartitioning = true) { (nIt, mIt) =>
      val mm = new scala.collection.mutable.LongMap[Long]()
      mIt.foreach(kv => mm.update(kv._1, kv._2))
      nIt.map { case (n, _) =>
        (n, tp(n) + dampNum * mm.getOrElse(n, 0L) / dampDen)
      }
    }
  }

  /** One synchronous label-propagation round: neighbour labels are
    * counted (or weight-summed) per destination in-pass — the combiner is
    * a per-dst LongMap of label → votes, merged by key in the reduce —
    * then each node adopts the max-vote label, ties to the SMALLEST label
    * (the total order the DataFrame loop's `max(struct(c, -label))`
    * encoded; the direct comparison here is exact even at Long.MinValue,
    * where a negation would overflow). Nodes with no incoming votes keep
    * their own id — unreachable in a symmetric graph (every node has an
    * in-edge), kept for exact parity with the DF loop's coalesce. */
  def voteRound(g: Graph, labels: RDD[(Long, Long)]): RDD[(Long, Long)] =
    voteUpdate(g.nodes, g.part,
      g.adj.zipPartitions(labels) { (aIt, lIt) =>
        val lm = new scala.collection.mutable.LongMap[Long]()
        lIt.foreach(kv => lm.update(kv._1, kv._2))
        val acc = new scala.collection.mutable.LongMap[
          scala.collection.mutable.LongMap[Long]]()
        aIt.foreach { case (s, ds) =>
          val l = lm.getOrElse(s, s)
          var i = 0
          while (i < ds.length) {
            val m = acc.getOrElseUpdate(ds(i),
              new scala.collection.mutable.LongMap[Long]())
            m.update(l, m.getOrElse(l, 0L) + 1L)
            i += 1
          }
        }
        acc.iterator
      })

  /** [[voteRound]] with the per-edge INTEGER weight as the vote mass. */
  def voteRoundWeighted(g: WGraph,
                        labels: RDD[(Long, Long)]): RDD[(Long, Long)] =
    voteUpdate(g.nodes, g.part,
      g.adj.zipPartitions(labels) { (aIt, lIt) =>
        val lm = new scala.collection.mutable.LongMap[Long]()
        lIt.foreach(kv => lm.update(kv._1, kv._2))
        val acc = new scala.collection.mutable.LongMap[
          scala.collection.mutable.LongMap[Long]]()
        aIt.foreach { case (s, (ds, ws, _)) =>
          val l = lm.getOrElse(s, s)
          var i = 0
          while (i < ds.length) {
            val m = acc.getOrElseUpdate(ds(i),
              new scala.collection.mutable.LongMap[Long]())
            m.update(l, m.getOrElse(l, 0L) + ws(i))
            i += 1
          }
        }
        acc.iterator
      })

  private def voteUpdate(nodes: RDD[(Long, Long)], part: HashPartitioner,
      msgs: RDD[(Long, scala.collection.mutable.LongMap[Long])])
      : RDD[(Long, Long)] = {
    val agg = msgs.reduceByKey(part, (a, b) => {
      b.foreach { case (l, c) => a.update(l, a.getOrElse(l, 0L) + c) }
      a
    })
    nodes.zipPartitions(agg, preservesPartitioning = true) { (nIt, vIt) =>
      val vm = new scala.collection.mutable.LongMap[
        scala.collection.mutable.LongMap[Long]]()
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
      val dm = new scala.collection.mutable.LongMap[Long]()
      dIt.foreach(kv => dm.update(kv._1, kv._2))
      val acc = new scala.collection.mutable.LongMap[Long]()
      aIt.foreach { case (s, ds) =>
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
      val mm = new scala.collection.mutable.LongMap[Long]()
      mIt.foreach(kv => mm.update(kv._1, kv._2))
      dIt.map { case (n, h) => (n, math.min(h, mm.getOrElse(n, inf))) }
    }
  }

  /** Initial per-node vector co-partitioned with the graph's node set. */
  def initVector(nodes: RDD[(Long, Long)],
                 r0: Long => Long): RDD[(Long, Long)] =
    nodes.mapPartitions(
      _.map { case (n, _) => (n, r0(n)) }, preservesPartitioning = true)
}
