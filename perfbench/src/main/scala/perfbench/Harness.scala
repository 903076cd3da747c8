package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** JVM side of the benchmark. Drives the engine only through public entry
  * points: `graft.engine.Sessions.local`, the `graft.SparkEntry.queries`
  * functions, the query's `QueryExecution` and a `SparkListener`.
  *
  * Usage (all flags required unless noted):
  * {{{
  *   perfbench.Harness --mode setup|run --cores N
  *     [--data DIR --out DIR --passes FILE --result FILE --seconds S
  *      --min-warm N --trace 0|1 --store DIR]
  * }}}
  *
  * `--mode setup` builds the session, answers one trivial query, prints
  * `PERFBENCH_READY` and exits: the caller times JVM launch to that line.
  *
  * `--mode run` then runs passes. Each line of the passes file is one pass,
  * a comma-separated query list. The first line is the cold pass: every
  * result is written as parquet under `--out/<query>` (the job's output,
  * later compared with DuckDB). Every later line is a warm pass, whose
  * results are consumed row by row from `queryExecution.toRdd` and counted.
  * Warm passes run until `--seconds` have passed and at least `--min-warm`
  * passes are done. With `--trace 1`, warm passes alternate untraced and
  * traced in pairs; a traced pass records build/plan/exec spans per query and
  * attributes every Spark job to the span it started in.
  *
  * The result file is one JSON object with every pass's raw samples;
  * `perfbench/run.py` turns them into metrics. Beside it go the oracle SQL
  * of each query (`.oracle.json`) and, when traced, the spans
  * (`.spans.jsonl`).
  */
object Harness {
  private val SpanKey = "perfbench.span"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val t0 = System.nanoTime()
    val spark = graft.engine.Sessions.local(opt("cores"), "perfbench")
    val sessionS = secs(System.nanoTime() - t0)
    require(spark.range(1).collect().length == 1)
    println("PERFBENCH_READY")
    System.out.flush()
    try if (opt("mode") == "run") run(spark, opt, sessionS)
    finally spark.stop()
  }

  private def secs(ns: Long): Double = ns / 1e9

  private def run(spark: SparkSession, opt: Map[String, String], sessionS: Double): Unit = {
    val data = opt("data")
    val out = opt("out")
    val traced = opt("trace") == "1"
    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val minWarm = opt("min-warm").toInt
    val store = Paths.get(opt("store"))
    val passes = Files.readAllLines(Paths.get(opt("passes"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(",").toSeq)
    val registry = graft.SparkEntry.queries
    val host0 = Host.sample()
    val recorder = new Recorder
    val spans = mutable.ArrayBuffer.empty[String]
    val results = mutable.ArrayBuffer.empty[String]

    results += onePass(spark, registry, data, passes.head, "cold", 0,
      None, spans, store, q => { df =>
        df.write.mode("overwrite").parquet(s"$out/$q"); -1L })

    quiesceJit()
    val warmStart = System.nanoTime()
    var i = 1
    while (i < passes.size &&
        (i <= minWarm || System.nanoTime() - warmStart < budgetNs)) {
      // Untraced, traced, traced, untraced, ...: both kinds sit at the same
      // mean position, so late-warm-up speed-ups do not bias the overhead.
      val tracedPass = traced && (i % 4 == 2 || i % 4 == 3)
      if (tracedPass) spark.sparkContext.addSparkListener(recorder)
      results += onePass(spark, registry, data, passes(i), "warm", i,
        if (tracedPass) Some(recorder) else None, spans, store, _ => consume)
      if (tracedPass) spark.sparkContext.removeSparkListener(recorder)
      i += 1
    }
    val host1 = Host.sample()

    val json = new StringBuilder
    json ++= s"""{"session_s":$sessionS,"cores":${spark.sparkContext.defaultParallelism},"""
    json ++= s""""steal_s":${host1.stealS - host0.stealS},"runq_s":${host1.runqS - host0.runqS},"""
    json ++= s""""passes":[${results.mkString(",")}]}"""
    Files.writeString(Paths.get(opt("result")), json.toString)
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(opt("result") + ".oracle.json"),
      passes.head.distinct.flatMap(q => oracle.get(q).map(sql => s"${Json.str(q)}:${Json.str(sql)}"))
        .mkString("{", ",", "}"))
    if (traced) Files.write(Paths.get(opt("result") + ".spans.jsonl"), spans.asJava)
  }

  /** Waits (at most 2 s) until background JIT compilation left over from the
    * cold pass has stopped, so warm passes do not share cores with it. */
  private def quiesceJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 2000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last < 20) quiet + 1 else 0
      last = now
    }
  }

  /** Full-result sink for warm passes: every row of the final RDD is pulled
    * through an executor iterator; only per-partition counts are collected. */
  private def consume(df: DataFrame): Long = {
    val rdd = df.queryExecution.toRdd
    df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }).sum
  }

  private def onePass(spark: SparkSession,
      registry: Map[String, (SparkSession, String) => DataFrame],
      data: String, queries: Seq[String], kind: String, passNo: Int,
      recorder: Option[Recorder], spans: mutable.ArrayBuffer[String],
      store: Path, sink: String => DataFrame => Long): String = {
    val sc = spark.sparkContext
    recorder.foreach(_.reset())
    val storeBefore = Store.snapshot(store)
    val jvm0 = Jvm.sample()
    val rows = mutable.ArrayBuffer.empty[String]
    val passStart = System.nanoTime()
    queries.zipWithIndex.foreach { case (q, qi) =>
      val runId = s"p$passNo.q$qi.$q"
      def phase(p: String): Unit =
        if (recorder.isDefined) sc.setLocalProperty(SpanKey, s"$runId/$p")
      val tq = System.nanoTime()
      var tb, tp = tq
      val outcome = try {
        phase("build")
        val df = registry(q)(spark, data)
        tb = System.nanoTime()
        phase("plan")
        df.queryExecution.executedPlan
        tp = System.nanoTime()
        phase("exec")
        Right(sink(q)(df))
      } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      finally if (recorder.isDefined) sc.setLocalProperty(SpanKey, null)
      val te = System.nanoTime()
      if (recorder.isDefined) {
        def span(name: String, a: Long, b: Long, parent: String) =
          s"""{"run_id":${Json.str(runId)},"span":"$name","parent":${parent},"start_ns":$a,"end_ns":$b}"""
        spans += span("query", tq, te, "null")
        spans += span("build", tq, tb, "\"query\"")
        spans += span("plan", tb, tp, "\"query\"")
        spans += span("exec", tp, te, "\"query\"")
      }
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      rows += (outcome match {
        case Right(n) => s"""{"q":${Json.str(q)},"s":${secs(te - tq)},"build_s":${secs(tb - tq)},"plan_s":${secs(tp - tb)},"exec_s":${secs(te - tp)},"rows":$n}"""
        case Left(err) =>
          System.err.println(s"[perfbench] $q failed: $err")
          s"""{"q":${Json.str(q)},"s":${secs(te - tq)},"error":${Json.str(err)}}"""
      })
    }
    val wall = secs(System.nanoTime() - passStart)
    val jvm1 = Jvm.sample()
    val storeAfter = Store.snapshot(store)
    val layer = recorder.map { r =>
      org.apache.spark.perfbench.Bus.drain(sc)
      "," + r.json
    }.getOrElse("")
    s"""{"kind":"$kind","traced":${recorder.isDefined},"wall_s":$wall,""" +
      s""""cpu_s":${jvm1.cpuS - jvm0.cpuS},"gc_s":${jvm1.gcS - jvm0.gcS},""" +
      s""""jit_s":${jvm1.jitS - jvm0.jitS},"janino":${jvm1.janino - jvm0.janino},""" +
      s""""store_bytes":${storeAfter.values.map(_._1).sum},"store_files":${storeAfter.size},""" +
      s""""store_written_bytes":${Store.written(storeBefore, storeAfter)}""" +
      s"""$layer,"queries":[${rows.mkString(",")}]}"""
  }

  /** Listener that attributes each job, stage and task to the span (build
    * or exec phase of one query run) whose thread started the job. */
  final class Recorder extends SparkListener {
    private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private final class Acc {
      var jobs, stages, tasks = 0L
      var taskNs, inputB, shufR, shufW, spill, result = 0L
    }
    private val acc = mutable.Map.empty[String, Acc]
    private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    def reset(): Unit = synchronized {
      stagePhase.clear(); acc.clear(); stageTasks.clear()
    }
    private def of(phase: String) = acc.getOrElseUpdate(phase, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      val phase = span.map(_.split('/').last).getOrElse("other")
      of(phase).jobs += 1
      e.stageIds.foreach(s => stagePhase.put(s, phase))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      Option(stagePhase.get(e.stageInfo.stageId)).foreach(of(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) Option(stagePhase.get(e.stageId)).foreach { phase =>
        val a = of(phase)
        a.tasks += 1
        a.taskNs += m.executorRunTime * 1000000L
        a.inputB += m.inputMetrics.bytesRead
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.result += m.resultSize
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }

    /** Worst stage's max ÷ (lower) median task run time, over stages with
      * ≥ 2 tasks whose median is at least 1 ms. */
    private def skew: Double = {
      val ratios = stageTasks.values.filter(_.size >= 2).flatMap { ts =>
        val s = ts.sorted
        val med = s((s.size - 1) / 2)
        if (med >= 1) Some(s.last.toDouble / med) else None
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }

    def json: String = synchronized {
      val phases = acc.toSeq.sortBy(_._1).map { case (p, a) =>
        s""""$p":{"jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
          s""""task_s":${a.taskNs / 1e9},"input_bytes":${a.inputB},""" +
          s""""shuffle_read_bytes":${a.shufR},"shuffle_write_bytes":${a.shufW},""" +
          s""""spill_bytes":${a.spill},"result_bytes":${a.result}}"""
      }
      s""""phases":{${phases.mkString(",")}},"task_skew":$skew"""
    }
  }

  private object Jvm {
    final case class Sample(cpuS: Double, gcS: Double, jitS: Double, janino: Long)
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def sample(): Sample = Sample(
      os.getProcessCpuTime / 1e9,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Host counters: VM-wide CPU steal (/proc/stat, 10 ms ticks) and this
    * process's run-queue wait summed over its threads (schedstat, ns). */
  private object Host {
    final case class Sample(stealS: Double, runqS: Double)
    def sample(): Sample = {
      val steal = try {
        val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        cpu(8).toLong / 100.0
      } catch { case _: Exception => 0.0 }
      var runq = 0L
      try {
        val ds = Files.newDirectoryStream(Paths.get("/proc/self/task"))
        try ds.asScala.foreach { t =>
          try runq += Files.readString(t.resolve("schedstat")).trim.split(" ")(1).toLong
          catch { case _: Exception => () }
        } finally ds.close()
      } catch { case _: Exception => () }
      Sample(steal, runq / 1e9)
    }
  }

  /** Files under the store root: path → (bytes, mtime). */
  private object Store {
    def snapshot(root: Path): Map[String, (Long, Long)] =
      if (!Files.isDirectory(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toMap
        catch { case _: java.io.UncheckedIOException => Map.empty }
        finally s.close()
      }
    def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
      after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum
  }

  private object Json {
    def str(s: String): String = "\"" + String.valueOf(s).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
