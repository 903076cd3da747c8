package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ContextBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Stage
import graft.ops.Dedup

/** Block loss after a cut (the [[graft.engine.Stage]] contract): each case
  * cuts in one mode, drops every block with `Stage.releaseAll`, then
  * consumes the frame. A local stage must fail with Spark's named
  * checkpoint error and never return rows; a durable stage must return
  * the rows it had before the loss. */
class StageLossSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.as[(Long, Long)].collect().toSet

  private def assertBlockLost(df: DataFrame): Unit = {
    val e = intercept[Exception](df.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(chain.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), chain)
  }

  private def withTmp[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("stage-loss")
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def frame: DataFrame =
    spark.range(0, 2000, 1, 4).select(col("id"), (col("id") * 7 % 13).as("v"))

  test("local DataFrame stage: block loss fails with the named checkpoint error") {
    val cut = Stage.cut(frame)
    Stage.releaseAll(spark, blocking = true)
    assertBlockLost(cut)
  }

  test("durable DataFrame stage: block loss re-reads identical rows") {
    withTmp { dir =>
      val expected = rows(frame)
      val cut = Stage.cut(frame, Stage.Durable(dir), "s")
      Stage.releaseAll(spark, blocking = true)
      assert(rows(cut) == expected)
    }
  }

  test("connected components loop: local stage fails, durable stage recomputes") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (21L, 20L)).toDF("doc_a", "doc_b")
    val expected = rows(Dedup.connectedComponents(pairs))
    val local = Dedup.connectedComponents(pairs, Stage.Local,
      localEdgeThreshold = 0L)
    Stage.releaseAll(spark, blocking = true)
    assertBlockLost(local)
    withTmp { dir =>
      val durable = Dedup.connectedComponents(pairs, Stage.Durable(dir),
        localEdgeThreshold = 0L)
      Stage.releaseAll(spark, blocking = true)
      assert(rows(durable) == expected)
    }
  }

  test("durable calls leave the context's checkpoint dir exactly as they found it") {
    val sc = spark.sparkContext
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    def twoDurableCalls(): Unit = withTmp { dir =>
      (1 to 2).foreach(_ => Dedup.connectedComponents(pairs, Stage.Durable(dir),
        localEdgeThreshold = 0L).collect())
    }
    val saved = sc.getCheckpointDir
    try {
      ContextBridge.restoreCheckpointDir(sc, None)
      twoDurableCalls()
      assert(sc.getCheckpointDir === None)
      withTmp { base =>
        sc.setCheckpointDir(s"$base/prior")
        val prior = sc.getCheckpointDir
        twoDurableCalls()
        assert(sc.getCheckpointDir === prior)
        assert(new java.io.File(new java.net.URI(prior.get)).list().isEmpty,
          "the prior dir gained children")
      }
    } finally ContextBridge.restoreCheckpointDir(sc, saved)
  }
}
