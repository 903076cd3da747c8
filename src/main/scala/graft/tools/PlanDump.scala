package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: print the formatted plan of registered queries — the fast way
  * to audit pushdown/pruning/DPP on the real fixture data without writing
  * a throwaway spec. Not part of the driver contract.
  *
  * Usage: runMain graft.tools.PlanDump q_a[,q_b...] [sfDir]
  *
  * Besides registered query names it accepts the internal subplan names of
  * `subplans` below: pipelines whose registered queries collapse to a
  * driver-side result (connected components, greedy selection) before the
  * final frame, so their plan shape is only visible one step earlier.
  *
  * SPARK_GRAFT_PLAN_OUT=<dir> additionally writes each plan's
  * `explain("formatted")` output to `<dir>/<name><SPARK_GRAFT_PLAN_SUFFIX>.txt`
  * (suffix defaults to empty) — the before/after plan artifacts under
  * plans/ are produced this way.
  */
object PlanDump {
  private def semanticDedup(spark: SparkSession, d: String,
                            maxCellSize: Long): DataFrame = {
    val emb = graft.engine.Tables.embeddings(spark, d)
    val cent = spark.read.parquet(
      graft.queries.PipelineQueries.semanticCentroidsPath)
    val idx = graft.ops.Indexes.ensureIvfIndex(spark, emb, cent, d, nCells = 256)
    graft.ops.Indexes.semanticDedupPairs(emb, idx, threshold = 0.4,
      maxCellSize = maxCellSize)
  }

  /** The internal subplans: the semantic-dedup candidate pairs (plain and
    * with every cell sub-blocked), the k-center cell assignment, and the
    * textrank edge stream the walk's graph build consumes — `_distinct`
    * shows the shape with an explicit distinct, whose
    * HashAggregate/Exchange/HashAggregate the build's own single shuffle
    * makes unnecessary. */
  private val subplans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "semantic_dedup_pairs" -> ((s, d) => semanticDedup(s, d, 1L << 16)),
    "semantic_dedup_pairs_blocked" -> ((s, d) => semanticDedup(s, d, 8L)),
    "kcenter_cell_assignment" -> ((s, d) =>
      graft.ops.Selection.ivfCellAssignment(
        graft.engine.Tables.embeddings(s, d),
        s.read.parquet(graft.queries.PipelineQueries.ivfCentroidsPath))),
    "textrank_edges" -> ((s, d) =>
      graft.queries.PipelineQueries.textrankEdges(s, d)),
    "textrank_edges_distinct" -> ((s, d) =>
      graft.queries.PipelineQueries.textrankEdges(s, d).distinct()))

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_ann_lsh").split(",").toSeq
    val d = args.drop(1).headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = graft.engine.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    outDir.foreach(p => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(p)))
    names.foreach { n =>
      val df = subplans.getOrElse(n, graft.SparkEntry.queries(n))(spark, d)
      println(s"===== $n =====")
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(formatted)
      outDir.foreach { p =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, s"$n$suffix.txt"), formatted)
      }
    }
    spark.stop()
  }
}
