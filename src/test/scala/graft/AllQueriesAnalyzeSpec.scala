package graft

import org.scalatest.funsuite.AnyFunSuite

/** Analysis smoke net over EVERY registered query.
  *
  * Round-8 lesson: the driver regenerated the events fixture with a new
  * physical `ts` type and 9 registered queries started failing *analysis* —
  * but no spec exercised them against the real fixtures, so `sbt test`
  * stayed green on 14 of 19 suites while the driver's correctness report
  * silently shrank. This spec forces `queryExecution.executedPlan` (resolve +
  * optimize + plan, no execution) for all of `SparkEntry.queries` against the
  * sf0.001 fixtures, so any fixture-schema drift, renamed column, or broken
  * registration is a red test the day it lands, with no RESULT
  * materialization. Not purely plan-time, though: several query constructors
  * run real driver-side jobs while building (semanticDedupGroups probes cell
  * sizes and the embedding dim with `.head()`; `ensure*Index` builds and
  * writes index parquet on first run) — so a failure here can be an
  * index-build failure surfacing through query construction, and the suite
  * costs index-build time on a cold target dir, not just analysis seconds.
  */
class AllQueriesAnalyzeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  test("every registered query analyzes and physical-plans against the real fixtures") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        // Force full analysis + optimization + physical planning.
        fn(spark, d).queryExecution.executedPlan
        None
      } catch {
        case e: Throwable =>
          Some(s"$name → ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} of ${SparkEntry.queries.size} registered queries failed analysis/planning:\n  " +
        failures.mkString("\n  "))
  }

  test("every registered query has either an oracle or a documented rows-only contract") {
    // The driver records a weaker rows-only check for queries absent from
    // oracleSql; keep that set deliberate, not accidental.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracleSql entries without a query: $orphanOracles")
    assert(noOracle.isEmpty, s"queries without an oracle (add SQL or document): $noOracle")
    // an oracle that interpolates a val declared LATER in its object
    // captures null at init order and reaches DuckDB as the literal
    // string "null" (caught live on q_hybrid_batch — the fix is `lazy`)
    val nulled = SparkEntry.oracleSql.collect {
      case (name, sql) if sql == null || sql.contains("(null)") ||
        sql.contains(" null\n") => name
    }
    assert(nulled.isEmpty,
      s"oracle SQL captured a null interpolation (declare it lazy): $nulled")
  }

  test("registry construction rejects a duplicate query name") {
    val body: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](new Registry(Seq(
      Query("q_a", body, "SELECT 1"), Query("q_b", body, "SELECT 2"),
      Query("q_a", body, "SELECT 3"))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
    // building the registry and reading its bodies evaluates no oracle
    val lazyOracle = new Registry(Seq(Query("q_a", body, sys.error("oracle evaluated"))))
    assert(lazyOracle.queries.keySet == Set("q_a"))
  }

  test("select keeps registry order and fails on names that are not registered") {
    val r = SparkEntry.registry
    assert(r.select(None).map(_.name) == SparkEntry.queries.keys.toSeq)
    val picked = r.select(Some("q_value_counts,q_histogram"))
    assert(picked.map(_.name) == SparkEntry.queries.keys.toSeq
      .filter(Set("q_value_counts", "q_histogram")))
    val e = intercept[IllegalArgumentException](
      r.select(Some("q_histogram,q_histogrm,q_nope")))
    assert(e.getMessage.endsWith(": q_histogrm, q_nope"))
  }
}
