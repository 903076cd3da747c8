package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The dump loop lives in [[dumpAll]] (not inline in main) so the FAILURE
  * path is spec-testable: round 8 proved that a query which writes nothing
  * silently vanishes from the correctness report, and the `_FAILED` +
  * `errors.json` mechanism that fixes it must not itself rot unobserved
  * (VERDICT r9 #2 — VerifyFailurePathSpec exercises it with a
  * deliberately-throwing query). */
object Verify {

  /** Runs each query, writing its result to `outDir/<name>` as parquet.
    * A failed query must leave a VISIBLE artifact: in round 8 a fixture
    * schema change broke 9 queries, each wrote nothing, and the driver's
    * comparator silently graded only the surviving dumps. `_FAILED` markers
    * plus errors.json make absence impossible to mistake for success.
    * Never throws on a query failure; returns name → error message. */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}"
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        val d = Paths.get(s"$outDir/$name")
        Files.createDirectories(d)
        Files.writeString(d.resolve("_FAILED"), msg)
      }
      // Release between queries so 100+ dumps don't accumulate cached
      // blocks (graft.engine.Stage); non-blocking: the next query needn't
      // wait for the drop, it only must not run against a filling block
      // manager.
      graft.engine.Stage.releaseAll(spark, blocking = false)
    }
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    failures.toMap
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-only filter (comma-separated names); unset selects every query.
    val selected = SparkEntry.registry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.Sessions.local(cpus, "graft-verify")
    dumpAll(spark, sfDir, outDir, selected.map(q => (q.name, q.body)))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Exit 0 even with failures: the driver must still grade the queries
    // that DID dump (a non-zero rc could void the whole round, as the
    // bench's rc=1 did in round 8) — the _FAILED markers and errors.json
    // carry the red.
    spark.stop()
  }
}
