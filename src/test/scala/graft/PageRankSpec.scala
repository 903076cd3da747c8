package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.PageRank

class PageRankSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.pageRankFp(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  test("distributed result equals the sequential integer recurrence exactly") {
    // small asymmetric digraph incl. a node with no in-edges (teleport-only)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val got = run(edges, iters = 5)
    val want = PageRank.referenceFp(edges, iters = 5)
    assert(got === want)
  }

  test("dedupEdges: duplicate-carrying stream equals distinct-then-walk exactly") {
    // duplicates both WITHIN a map partition (caught by the map-side set)
    // and ACROSS partitions (only the in-group dedup can catch those) —
    // repartition(7) scatters the repeats so both paths are exercised
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val dups = base ++ base ++ base.map(identity) ++ Seq((1L, 2L), (4L, 1L))
    val noisy = dups.toDF("src", "dst").repartition(7)
    val got = PageRank.pageRankFp(noisy, iters = 5, dedupEdges = true)
      .as[(Long, Long)].collect().toMap
    assert(got === run(base, iters = 5))
    assert(got === PageRank.referenceFp(base, iters = 5))
  }

  test("two-node cycle: equal ranks, matching the closed recurrence") {
    val got = run(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(got(1L) === got(2L))
    // r_{i+1} = tp + (85 * r_i) / 100, r_0 = scale/2 — replay by hand
    val base = 1000000000000L / 2
    val tp = (15L * base) / 100
    var r = base
    for (_ <- 1 to 5) r = tp + 85L * r / 100
    assert(got(1L) === r)
  }

  test("star graph: center outranks every leaf") {
    val leaves = (2L to 9L)
    val edges = leaves.flatMap(l => Seq((1L, l), (l, 1L)))
    val got = run(edges, iters = 5)
    assert(leaves.forall(l => got(1L) > got(l)))
    assert(leaves.map(got).distinct.size === 1) // symmetric leaves tie
  }

  test("rank mass stays within integer-truncation loss of scale") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 1L))
    val got = run(edges, iters = 5)
    val total = got.values.sum
    assert(total <= 1000000000000L)
    assert(total > 990000000000L, s"mass $total lost more than 1%")
  }

  test("empty graph fails loudly") {
    val e = intercept[IllegalArgumentException] {
      PageRank.pageRankFp(Seq.empty[(Long, Long)].toDF("src", "dst"), 5)
    }
    assert(e.getMessage.contains("empty graph"))
  }

  test("ppr batch: per-panel identity with the single-panel walk") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
      (4L, 5L), (5L, 4L), (1L, 5L))
    val panels = Seq((0L, Seq(1L)), (1L, Seq(3L, 5L)), (2L, Seq(2L, 4L, 999L)))
    def batch(df: org.apache.spark.sql.DataFrame) =
      PageRank.pprBatchFp(df, panels, iters = 5)
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val got = batch(edges.toDF("src", "dst"))
    panels.foreach { case (p, ss) =>
      val single = PageRank.pprFp(edges.toDF("src", "dst"), ss, iters = 5)
        .as[(Long, Long)].collect().toMap
      assert(got(p) === single, s"panel $p")
    }
    // the same panels over w_fp edges (two of them non-positive, dropped):
    // each panel is exactly the sequential weighted walk
    val w = edges.zip(Seq(900000L, 100000L, 0L, 500000L, 600000L, 300000L,
      200000L, 700000L, -5L)).map { case ((s, d), wt) => (s, d, wt) }
    val gotW = batch(w.toDF("src", "dst", "w_fp"))
    panels.foreach { case (p, ss) =>
      assert(gotW(p) === PageRank.referencePprWeightedFp(w, ss, iters = 5),
        s"weighted panel $p")
    }
  }

  test("ppr batch: panel bounds fail loudly") {
    val df = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](
      PageRank.pprBatchFp(df, Seq.empty, 5))
    intercept[IllegalArgumentException](
      PageRank.pprBatchFp(df, Seq((0L, Seq(1L)), (0L, Seq(2L))), 5))
    intercept[IllegalArgumentException](
      PageRank.pprBatchFp(df, Seq((0L, Seq(1L, 1L))), 5))
  }

  test("ppr: distributed equals sequential; mass concentrates near the seed") {
    // chain 1 -> 2 -> 3 -> 4 (and back-edges) with seed {1}
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))
    val got = PageRank.pprFp(edges.toDF("src", "dst"), Seq(1L), iters = 5)
      .as[(Long, Long)].collect().toMap
    val want = PageRank.referencePprFp(edges, Seq(1L), iters = 5)
    assert(got === want)
    // mass concentrates around the restart point: the seed's neighbour
    // (receiving the seed's ENTIRE out-share every round) holds the
    // maximum, and everything reachable is positive. Finer orderings on a
    // 4-node chain are genuinely non-monotone (low-outdeg far nodes funnel
    // mass back), so the binding assertion is the exact equality above.
    assert(got.maxBy(_._2)._1 === 2L)
    assert(got.values.forall(_ > 0L))
  }

  test("hits: distributed equals the sequential integer recurrence exactly") {
    // directed, asymmetric: node 3 is the strong authority (pointed at by
    // 1, 2, 4); node 1 the strong hub (points at 2, 3, 5)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 5L), (2L, 3L), (4L, 3L), (5L, 4L))
    val got = PageRank.hitsFp(edges.toDF("src", "dst"), iters = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val want = PageRank.referenceHitsFp(edges, iters = 4)
    assert(got === want)
    assert(got.maxBy(_._2._1)._1 === 3L, "node 3 is the top authority")
    assert(got.maxBy(_._2._2)._1 === 1L, "node 1 is the top hub")
  }

  test("hits: bipartite graph splits roles; L1 mass conserved within truncation") {
    // customers 100..102 -> parts 1..3
    val edges = Seq((100L, 1L), (100L, 2L), (101L, 1L), (101L, 3L), (102L, 1L))
    val scale = 1000000000L
    val got = PageRank.hitsFp(edges.toDF("src", "dst"), iters = 4, scale)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === PageRank.referenceHitsFp(edges, iters = 4, scale))
    // sources have zero authority, sinks zero hub (no in/out edges)
    assert(Seq(100L, 101L, 102L).forall(got(_)._1 === 0L))
    assert(Seq(1L, 2L, 3L).forall(got(_)._2 === 0L))
    // part 1 (3 buyers) is the top authority
    assert(got.maxBy(_._2._1)._1 === 1L)
    // each normalized vector sums to scale minus per-node truncation
    val aSum = got.values.map(_._1).sum
    val hSum = got.values.map(_._2).sum
    assert(aSum <= scale && aSum > scale - got.size)
    assert(hSum <= scale && hSum > scale - got.size)
  }

  test("ppr: non-seed components get exactly zero rank") {
    val edges = Seq((1L, 2L), (2L, 1L), (10L, 11L), (11L, 10L))
    val got = PageRank.pprFp(edges.toDF("src", "dst"), Seq(1L), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(got(10L) === 0L && got(11L) === 0L)
    assert(got(1L) > 0L && got(2L) > 0L)
  }

  test("ppr: duplicate seeds rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      PageRank.pprFp(Seq((1L, 2L)).toDF("src", "dst"), Seq(1L, 1L), 5)
    }
    assert(e.getMessage.contains("duplicate seeds"))
  }

  test("weighted ppr: distributed equals sequential; zero-weight edges dropped") {
    val edges = Seq((1L, 2L, 900000L), (2L, 1L, 900000L), (1L, 3L, 100000L),
      (3L, 1L, 500000L), (3L, 4L, 0L), (4L, 3L, 600000L))
    val got = PageRank.pprFp(
        edges.toDF("src", "dst", "w_fp"), Seq(1L), iters = 5)
      .as[(Long, Long)].collect().toMap
    val want = PageRank.referencePprWeightedFp(edges, Seq(1L), iters = 5)
    assert(got === want)
    // the heavy edge (w=9e5) carries 9x the light edge's share from the seed
    assert(got(2L) > got(3L))
  }

  test("weighted ppr with equal weights degenerates to exactly pprFp") {
    val unw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val w = unw.map { case (s, d) => (s, d, 777L) }
    val a = PageRank.pprFp(unw.toDF("src", "dst"), Seq(1L, 4L), iters = 5)
      .as[(Long, Long)].collect().toMap
    val b = PageRank.pprFp(w.toDF("src", "dst", "w_fp"),
        Seq(1L, 4L), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(a === b) // floor(r*w/(w*k)) == floor(r/k) exactly
  }

  test("weighted ppr: oversized weight fails loudly, never overflows silently") {
    val e = intercept[IllegalArgumentException] {
      PageRank.pprFp(
        Seq((1L, 2L, 2000000L), (2L, 1L, 1L)).toDF("src", "dst", "w_fp"),
        Seq(1L), iters = 2)
    }
    assert(e.getMessage.contains("exceeds maxWfp"))
  }

  test("graph build: dedup over weighted edges fails loudly") {
    val e = intercept[IllegalArgumentException] {
      PageRank.pageRankFp(Seq((1L, 2L, 5L), (2L, 1L, 5L))
        .toDF("src", "dst", "w_fp"), iters = 2, dedupEdges = true)
    }
    assert(e.getMessage.contains("dedup applies to unweighted"))
  }

  test("weighted ppr query: bounded rows, non-seed, ordered, positive") {
    val out = graft.queries.PipelineQueries.pprWeighted(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty && out.length <= 20)
    assert(!out.map(_.getAs[Long]("node")).exists(Set(0L, 1L, 2L)))
    val ranks = out.map(_.getAs[Long]("rank_fp"))
    assert(ranks.sameElements(ranks.sortBy(-_)) && ranks.forall(_ > 0))
  }

  test("ppr expansion query: bounded rows, non-seed, ordered, positive") {
    val out = graft.queries.PipelineQueries.pprExpand(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty && out.length <= 20)
    val nodes = out.map(_.getAs[Long]("node"))
    assert(!nodes.exists(Set(0L, 1L, 2L)))
    val ranks = out.map(_.getAs[Long]("rank_fp"))
    assert(ranks.sameElements(ranks.sortBy(-_)))
    assert(ranks.forall(_ > 0))
  }

  test("co-purchase query: 20 rows, totally ordered, positive ranks") {
    val out = graft.queries.PipelineQueries.pagerank(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 20)
    val ranks = out.map(_.getAs[Long]("rank_fp"))
    assert(ranks.sameElements(ranks.sortBy(-_)))
    assert(ranks.forall(_ > 0))
  }
}
