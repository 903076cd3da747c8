package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Stage
import graft.queries.PipelineQueries

/** Stage-materialization parity for the e2e pipeline (VERDICT r9 #5):
  * `localCheckpoint` (executor-resident, the local default) and the durable
  * storage round-trip (the cluster-scale prod mode) must be pure
  * implementation choices — same 9 stage rows, same counts, same content
  * fingerprints, on the real fixture. The fingerprints are order-independent
  * (bit_xor folds), so parquet round-trip reordering cannot mask or fake a
  * divergence. */
class PipelineCheckpointModeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  test("storage-checkpointed stages are fingerprint-identical to localCheckpoint") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, Long, String)] =
      df.collect().toSeq.map(r =>
        (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))

    // Cold run (untimed-for-comparison): absorbs the one-time minhash index
    // build + codegen/JIT so the two timed runs below compare warm-vs-warm.
    rows(PipelineQueries.pipelineE2e(spark, d, Stage.Local))

    val t0 = System.nanoTime()
    val local = rows(PipelineQueries.pipelineE2e(spark, d, Stage.Local))
    val tLocal = (System.nanoTime() - t0) / 1e9

    val workDir = Files.createTempDirectory("pipeline-storage-stages").toString
    val t1 = System.nanoTime()
    val stored = rows(PipelineQueries.pipelineE2e(spark, d,
      Stage.Durable(workDir)))
    val tStored = (System.nanoTime() - t1) / 1e9

    info(f"warm localCheckpoint mode: $tLocal%.2f s; warm storage mode: $tStored%.2f s")
    assert(local.size == 9, s"expected 9 stage rows, got ${local.size}")
    assert(stored == local,
      s"stage fingerprints diverged between materialization modes:\n" +
        s"  local : $local\n  stored: $stored")

    // The storage mode really did materialize durable per-stage parquet.
    // (dot-prefixed entries are the run-dir GC heartbeat marker + its crc
    // sidecar — liveness metadata, not stage output)
    val stageDirs = new java.io.File(workDir).list().toSeq
      .filterNot(_.startsWith(".")).sorted
    assert(stageDirs.size == 7, s"expected 7 stage dirs, got $stageDirs")
    assert(stageDirs.forall(n =>
      new java.io.File(s"$workDir/$n/_SUCCESS").exists()),
      s"missing _SUCCESS in one of $stageDirs")
  }

  test("selection chain: storage stages fingerprint-identical to localCheckpoint") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, Long, String)] =
      df.collect().toSeq.map(r =>
        (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))

    // cold run absorbs the minhash index build + codegen
    rows(PipelineQueries.selectionE2e(spark, d, Stage.Local))

    val local = rows(
      PipelineQueries.selectionE2e(spark, d, Stage.Local))
    val workDir = Files.createTempDirectory("selection-storage-stages").toString
    val stored = rows(PipelineQueries.selectionE2e(spark, d,
      Stage.Durable(workDir)))

    assert(local.size == 6, s"expected 6 stage rows, got ${local.size}")
    assert(stored == local,
      s"selection stage fingerprints diverged between materialization modes:\n" +
        s"  local : $local\n  stored: $stored")

    val stageDirs = new java.io.File(workDir).list().toSeq
      .filterNot(_.startsWith(".")).sorted
    assert(stageDirs == Seq("sel1_gate", "sel2_calibrate", "sel3_split",
      "sel4_mix"), s"unexpected stage dirs $stageDirs")
    assert(stageDirs.forall(n =>
      new java.io.File(s"$workDir/$n/_SUCCESS").exists()),
      s"missing _SUCCESS in one of $stageDirs")
  }
}
