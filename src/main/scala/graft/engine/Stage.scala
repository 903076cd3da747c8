package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ContextBridge

/** Stage materialization: the one place that cuts lineage, and the one
  * place that drops every cached block between queries.
  *
  * Block-lifetime contract. A cut MATERIALIZES first, then RELEASES: the
  * stage is computed eagerly, and only then does the caller's release run
  * (the unpersist of inputs the caller persisted for this stage). The
  * returned frame references only the materialized stage, never those
  * inputs, so an operator that cuts its output leaves no cached blocks
  * behind, and [[releaseAll]] between queries holds nothing back.
  *
  * What a stage becomes when its blocks are lost (an executor dies, or
  * [[releaseAll]] drops them while the frame is still referenced):
  *  - [[Local]] (`localCheckpoint`): the blocks live on the executors and
  *    the lineage behind them is gone, so they cannot be recomputed. Using
  *    the frame fails with Spark's `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; it
  *    never returns wrong rows. The cheap mode, right for a single-JVM run
  *    or a restartable job.
  *  - [[Durable]]`(dir)`: the stage is written under `dir` (parquet for a
  *    frame, a reliable checkpoint for an RDD) and read back from there,
  *    so lost blocks are re-read and the rows are identical. The mode for
  *    a cluster run that must survive executor loss.
  * StageLossSpec pins both outcomes. A query must therefore never rely on
  * blocks cached by an earlier query or iteration: disk-backed state (the
  * committed stores, durable stages) is where cross-run state lives.
  */
object Stage {
  sealed trait Mode
  /** Executor-resident `localCheckpoint`: cheapest, lost with its blocks. */
  case object Local extends Mode
  /** Written under `dir` and read back: survives block loss. */
  final case class Durable(dir: String) extends Mode

  /** Materialize `df` now in `mode`, then run `release`. A durable stage
    * is written to `<dir>/<name>` (overwriting an earlier run's) after a
    * heartbeat touch of `dir` (see [[runScopedStageDir]]), and read back
    * through [[Tables.parquetCached]]. */
  def cut(df: DataFrame, mode: Mode = Local, name: String = "",
          release: => Unit = ()): DataFrame = {
    val out = mode match {
      case Local => df.localCheckpoint()
      case Durable(dir) =>
        require(name.nonEmpty, "a durable stage needs a name")
        touchHeartbeat(df.sparkSession, dir)
        val p = s"$dir/$name"
        df.write.mode("overwrite").parquet(p)
        Tables.parquetCached(df.sparkSession, p)
    }
    release
    out
  }

  /** Materialize `rdd` now in `mode`; returns the row count of the job
    * that materialized it. A durable cut writes a reliable checkpoint
    * under the context's checkpoint dir (set by [[withCheckpointDir]]) and
    * drops the in-memory copy once the files exist. */
  def cut(rdd: RDD[_], mode: Mode): Long = mode match {
    case Local =>
      rdd.localCheckpoint()
      rdd.count()
    case Durable(_) =>
      rdd.persist()
      rdd.checkpoint()
      val n = rdd.count()
      rdd.unpersist(false)
      n
  }

  /** Release an RDD stage that a later cut superseded: its blocks
    * ([[Local]]) or its checkpoint files ([[Durable]] — nothing else
    * reclaims them, `spark.cleaner.referenceTracking.cleanCheckpoints`
    * being off by default). */
  def release(rdd: RDD[_], mode: Mode): Unit = mode match {
    case Local => rdd.unpersist(false)
    case Durable(_) => rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Run an operator's RDD cuts with `mode`'s checkpoint dir set on the
    * context: one `setCheckpointDir` (which adds a per-call UUID subdir)
    * for [[Durable]], then the context's prior value put back exactly,
    * `None` included (re-setting it would nest a fresh UUID dir under the
    * prior one). [[Local]] leaves the context alone. The dir is
    * context-wide state: serialize durable operator calls per context. The
    * final stage's files outlive the call, since the returned frame is
    * served from them. */
  def withCheckpointDir[T](spark: SparkSession, mode: Mode)(body: => T): T =
    mode match {
      case Local => body
      case Durable(dir) =>
        val sc = spark.sparkContext
        val prior = sc.getCheckpointDir
        sc.setCheckpointDir(dir)
        try body finally ContextBridge.restoreCheckpointDir(sc, prior)
    }

  /** Drop every cached Dataset and every persisted RDD block of the
    * session, local-checkpoint blocks included (`clearCache` alone leaves
    * those to a driver GC and the asynchronous ContextCleaner). The one
    * release between queries. */
  def releaseAll(spark: SparkSession, blocking: Boolean): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }

  /** The durable mode for this run: stages under
    * `$SPARK_GRAFT_E2E_STAGE_DIR` (default `<java.io.tmpdir>/graft_e2e_stages`),
    * in this application's own dir ([[runScopedStageDir]]). */
  def durableRun(s: SparkSession): Durable =
    Durable(runScopedStageDir(s, sys.env.getOrElse("SPARK_GRAFT_E2E_STAGE_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_e2e_stages")))

  /** `<base>/<applicationId>`: each run writes under its own prefix, so
    * two concurrent runs sharing `base` never overwrite each other's
    * stages; within one run stage writes are sequential driver actions.
    *
    * Superseded run dirs are swept here, mark-then-sweep with the run-dir
    * grace ([[graft.ops.Stores.effectiveRunDirGcGraceMs]], ≥ 6 h by
    * default, since one stage can outlast the index sweep's grace and a
    * concurrent run's live stages must survive;
    * [[graft.ops.Stores.withGcGrace]] overrides it in tests).
    * Liveness is max(dir mtime, `.heartbeat` mtime): every durable cut
    * touches the heartbeat, so a long multi-stage run stays live even
    * where a dir's mtime only moves on child creation. A run never sweeps
    * its own dir. */
  private[graft] def runScopedStageDir(s: SparkSession, base: String): String = {
    val mine = s.sparkContext.applicationId
    val basePath = new Path(base)
    val fs = Fs.of(s, base)
    if (fs.exists(basePath)) {
      val cutoff =
        System.currentTimeMillis() - graft.ops.Stores.effectiveRunDirGcGraceMs
      fs.listStatus(basePath).foreach { st =>
        val hb = new Path(st.getPath, HeartbeatName)
        val lastAlive = math.max(st.getModificationTime,
          if (fs.exists(hb)) fs.getFileStatus(hb).getModificationTime else 0L)
        if (st.getPath.getName != mine && lastAlive < cutoff)
          fs.delete(st.getPath, true)
      }
    }
    s"$base/$mine"
  }

  private val HeartbeatName = ".heartbeat"

  /** Overwriting the heartbeat file moves ITS mtime even where the run
    * dir's own mtime would not (no new direct child). */
  private def touchHeartbeat(s: SparkSession, dir: String): Unit =
    Fs.of(s, dir).create(new Path(dir, HeartbeatName), true).close()
}
