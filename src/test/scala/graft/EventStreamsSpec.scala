package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Armed/disarmed flag for the injected mid-batch crash — a top-level object
  * so the executor-side UDF closure and the test assert on the SAME static
  * field (local mode: one JVM). */
object CrashInjector { @volatile var armed = true }

/** Structured Streaming twins (SURVEY §2.9): incremental results must agree
  * with the batch plans over the same rows, and watermark semantics must hold
  * (finalize-once in append mode, late data dropped). */
class EventStreamsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  test("hourly window stream (complete mode) equals batch groupBy on same rows") {
    val in = MemoryStream[(Timestamp, Double)]
    val q = EventStreams.hourlyWindowStream(in.toDF().toDF("ts", "value"), "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("hw_complete").start()
    in.addData(
      (ts("2026-01-01T10:05:00Z"), 1.0),
      (ts("2026-01-01T10:55:00Z"), 2.5),
      (ts("2026-01-01T11:05:00Z"), 4.0))
    q.processAllAvailable()
    val got = spark.table("hw_complete").orderBy("hour_start")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("2026-01-01 10:00:00", 2L, 3.5),
      ("2026-01-01 11:00:00", 1L, 4.0)))
    q.stop()
  }

  test("append mode: window emitted once after watermark passes; late row dropped") {
    val in = MemoryStream[(Timestamp, Double)]
    val q = EventStreams.hourlyWindowStream(in.toDF().toDF("ts", "value"), "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("hw_append").start()
    // Rows inside the 10:00 window — not yet emitted (watermark hasn't passed 11:00).
    in.addData((ts("2026-01-01T10:05:00Z"), 1.0), (ts("2026-01-01T10:20:00Z"), 2.0))
    q.processAllAvailable()
    assert(spark.table("hw_append").count() == 0)
    // Event at 12:00 pushes the watermark to 11:30 > 11:00 — 10:00 window finalizes.
    in.addData((ts("2026-01-01T12:00:00Z"), 9.0))
    q.processAllAvailable()
    val emitted = spark.table("hw_append").as[(String, Long, Double)].collect().toSeq
    assert(emitted == Seq(("2026-01-01 10:00:00", 2L, 3.0)))
    // A late row for the already-finalized window is dropped, not re-emitted.
    in.addData((ts("2026-01-01T10:40:00Z"), 7.0))
    q.processAllAvailable()
    assert(spark.table("hw_append").count() == 1)
    q.stop()
  }

  test("stream-stream attribution join equals batch per prefix; late purchase dropped") {
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val q = EventStreams.attributionJoinStream(
        views.toDF().toDF("user_id", "ts"),
        purchases.toDF().toDF("user_id", "ts"),
        withinMinutes = 30, watermark = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("attr").start()

    var fedV = Seq.empty[(Long, Timestamp)]
    var fedP = Seq.empty[(Long, Timestamp)]
    def feed(v: Seq[(Long, Timestamp)], p: Seq[(Long, Timestamp)]): Unit = {
      fedV ++= v; fedP ++= p
      if (v.nonEmpty) views.addData(v)
      if (p.nonEmpty) purchases.addData(p)
      q.processAllAvailable()
    }
    def got(): Set[(Long, Timestamp, Timestamp, Long)] =
      spark.table("attr").as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    def batchTwin(): Set[(Long, Timestamp, Timestamp, Long)] = {
      val ev = (fedV.map { case (u, t) => (u, t, "view") } ++
        fedP.map { case (u, t) => (u, t, "purchase") })
        .toDF("user_id", "ts", "event_type")
      EventStreams.attributionBatch(ev, withinMinutes = 30)
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    }

    // u1: purchase 10 min after the view joins (lag 600); u2's purchase is
    // 60 min out — outside the window; u3 purchases with no view at all
    feed(
      Seq((1L, ts("2026-01-01T10:00:00Z")), (2L, ts("2026-01-01T10:00:00Z"))),
      Seq((1L, ts("2026-01-01T10:10:00Z")), (2L, ts("2026-01-01T11:00:00Z")),
        (3L, ts("2026-01-01T10:05:00Z"))))
    assert(got() === batchTwin())
    assert(got() === Set((1L, ts("2026-01-01T10:00:00Z"),
      ts("2026-01-01T10:10:00Z"), 600L)))

    // a LATER-ARRIVING view joins the purchase already buffered on the
    // other side — both buffers hold rows inside the watermark horizon
    feed(Seq((2L, ts("2026-01-01T10:45:00Z"))), Seq.empty)
    assert(got() === batchTwin())
    assert(got().contains((2L, ts("2026-01-01T10:45:00Z"),
      ts("2026-01-01T11:00:00Z"), 900L)))

    // advance both watermarks to ~13:00 − 1 h, then replay a purchase far
    // behind them: dropped as late, no new pair (the matching view's state
    // horizon has passed — bounded state is the point of the watermark)
    feed(Seq((9L, ts("2026-01-01T13:00:00Z"))),
      Seq((9L, ts("2026-01-01T13:00:01Z"))))
    val before = got().size
    feed(Seq.empty, Seq((1L, ts("2026-01-01T10:12:00Z"))))
    assert(got().size === before)
    q.stop()
  }

  test("left-outer attribution stream: unmatched view emits nulls once, at the horizon") {
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val q = EventStreams.attributionJoinStreamOuter(
        views.toDF().toDF("user_id", "ts"),
        purchases.toDF().toDF("user_id", "ts"),
        withinMinutes = 30, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("attr_outer")
      .start()
    def got(): Seq[(Long, Timestamp, Option[Timestamp], Option[Long])] =
      spark.table("attr_outer")
        .as[(Long, Timestamp, Option[Timestamp], Option[Long])]
        .collect().toSeq.sortBy(r => (r._1, r._2.getTime))
    // u1 converts (emits immediately, matched); u2 never does
    views.addData((1L, ts("2026-01-01T10:00:00Z")), (2L, ts("2026-01-01T10:00:00Z")))
    purchases.addData((1L, ts("2026-01-01T10:10:00Z")))
    q.processAllAvailable()
    assert(got() === Seq((1L, ts("2026-01-01T10:00:00Z"),
      Some(ts("2026-01-01T10:10:00Z")), Some(600L))))
    // u2's null row must NOT appear until the watermark proves no purchase
    // in [10:00, 10:30] can still arrive...
    assert(!got().exists(_._1 == 2L))
    // ...advance event time past 10:30 + 10 min watermark on BOTH sides
    views.addData((9L, ts("2026-01-01T11:30:00Z")))
    purchases.addData((9L, ts("2026-01-01T11:30:01Z")))
    q.processAllAvailable()
    q.processAllAvailable()
    val u2 = got().filter(_._1 == 2L)
    assert(u2 === Seq((2L, ts("2026-01-01T10:00:00Z"), None, None)),
      s"unconverted view must emit exactly one null row, got $u2")
    q.stop()
  }

  test("streaming DSIR gate: stateless scores equal batch per prefix, gate filters") {
    import graft.ops.Selection
    // frozen model trained offline on a tiny target/raw corpus
    val train = Seq(
      (0L, "tgt", "the quick brown fox jumps over the lazy dog"),
      (1L, "tgt", "a quick brown fox runs past the lazy dog"),
      (2L, "raw", "zzz9 qqq8 vvv7 kkk6 jjj5 xxx4 yyy3 www2 uuu1")
    ).toDF("doc_id", "source", "text")
    val model = Selection.dsirModel(train, col("source") === "tgt")
    val in = MemoryStream[(Long, String, String)]
    val q = EventStreams.dsirGateStream(
        in.toDF().toDF("doc_id", "source", "text"),
        model, Selection.DefaultBuckets, minWeightQ = 0L)
      .writeStream.outputMode("append").format("memory").queryName("dsir_gate")
      .start()
    var fed = Seq.empty[(Long, String, String)]
    def feed(rows: (Long, String, String)*): Unit = {
      fed ++= rows; in.addData(rows); q.processAllAvailable()
    }
    def got(): Map[Long, Long] = spark.table("dsir_gate")
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().toMap
    feed((10L, "s", "the quick brown fox jumps over the lazy dog"),
      (11L, "s", "qqq8 vvv7 kkk6 jjj5"))
    feed((12L, "s", "quick brown fox and lazy dog"))
    // the gate keeps exactly the docs the batch scorer puts at >= 0
    val batch = Selection
      .dsirScoredStateless(fed.toDF("doc_id", "source", "text"), model)
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().toMap
    assert(got() === batch.filter(_._2 >= 0L))
    assert(got().contains(10L) && !got().contains(11L)) // junk gated out
    q.stop()
  }

  test("daily active users stream: closed days equal the batch DAU; dedup state evicts") {
    val in = MemoryStream[(Long, Timestamp)]
    val q = EventStreams.dailyActiveUsersStream(
        in.toDF().toDF("user_id", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dau_stream").start()
    def emitted(): Map[String, Long] = spark.table("dau_stream")
      .as[(String, Long)].collect().toMap
    // day 1: users 1, 2 (user 1 twice — morning + evening must count once)
    in.addData(
      (1L, ts("2026-01-01T08:00:00Z")),
      (2L, ts("2026-01-01T12:00:00Z")),
      (1L, ts("2026-01-01T22:00:00Z")))
    q.processAllAvailable()
    assert(emitted().isEmpty, "open day not yet emitted")
    // day 2 activity; then a day far enough ahead that the 25 h watermark
    // (on DAY-TRUNCATED time) passes both day ends and closes days 1 + 2
    in.addData((3L, ts("2026-01-02T09:00:00Z")),
      (1L, ts("2026-01-02T10:00:00Z")))
    q.processAllAvailable()
    in.addData((9L, ts("2026-01-05T06:00:00Z")))
    q.processAllAvailable()
    // one more micro-batch so the post-watermark eviction pass runs
    in.addData((9L, ts("2026-01-05T07:00:00Z")))
    q.processAllAvailable()
    assert(emitted() === Map("2026-01-01" -> 2L, "2026-01-02" -> 2L))
    // dedup state for closed days is gone: numRowsTotal across both
    // stateful operators stays bounded by the open horizon
    val stateRows = q.lastProgress.stateOperators
      .asInstanceOf[Array[org.apache.spark.sql.streaming.StateOperatorProgress]]
      .map(_.numRowsTotal).sum
    assert(stateRows <= 4,
      s"closed-day dedup/agg state must evict, held $stateRows rows")
    q.stop()
  }

  test("runningTotals: per-key state accumulates across micro-batches") {
    val in = MemoryStream[(String, Double)]
    val q = EventStreams.runningTotals(in.toDS())
      .toDF("event_type", "n", "total")
      .writeStream.outputMode("update").format("memory").queryName("rt").start()
    in.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
    q.processAllAvailable()
    in.addData(("a", 3.0))
    q.processAllAvailable()
    // update mode appends each batch's changed rows; the LAST row per key is
    // the current state.
    val last = spark.table("rt").as[(String, Long, Double)].collect()
      .zipWithIndex.groupBy(_._1._1).map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
    assert(last("a") == (("a", 3L, 6.0)))
    assert(last("b") == (("b", 1L, 5.0)))
    q.stop()
  }

  test("streaming weighted sample: state after every batch equals the batch operator") {
    val in = MemoryStream[(Long, String, String)]
    val q = EventStreams.weightedSampleStream(
        in.toDF().toDF("doc_id", "text", "source"), k = 3)
      .toDF("source", "doc_id", "weight", "skey", "ver")
      .writeStream.outputMode("update").format("memory")
      .queryName("ws_stream").start()
    val all = (0L until 20L).map(i =>
      (i, ("w " * (i.toInt % 7 + 1)).trim, if (i < 10) "sA" else "sB"))
    def currentSample(): Set[(String, Long, Long, Double)] = {
      // update mode re-emits the group's whole sample each batch with a
      // bumped version — the max-version rows per source are the state
      val rows = spark.table("ws_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4)))
      val maxVer = rows.groupBy(_._1).view.mapValues(_.map(_._5).max)
      rows.filter(r => r._5 == maxVer(r._1)).map(r => (r._1, r._2, r._3, r._4)).toSet
    }
    def batchSample(prefix: Seq[(Long, String, String)]): Set[(String, Long, Long, Double)] =
      graft.ops.Curation.weightedSample(
          prefix.toDF("doc_id", "text", "source"), k = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    try {
      // batch 1: first 12 docs; batch 2: the rest — batch 2 must be able
      // to evict batch-1 survivors (the merge path, not just the fill path)
      in.addData(all.take(12): _*); q.processAllAvailable()
      assert(currentSample() === batchSample(all.take(12)),
        "after batch 1 the stream state must equal the batch operator on the prefix")
      in.addData(all.drop(12): _*); q.processAllAvailable()
      assert(currentSample() === batchSample(all),
        "after batch 2 the stream state must equal the batch operator on everything")
    } finally q.stop()
  }

  test("streaming kNN-graph maintenance equals a batch rebuild after every prefix, across a restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("kg_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kg_ckpt").toString
    val root = java.nio.file.Files.createTempDirectory("kg_stores").toString
    val (embStore, idxStore, graphStore) =
      (s"$root/emb", s"$root/idx", s"$root/graph")
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def vecs(ids: Range): Seq[(Long, Array[Float])] = ids.map(i =>
      (i.toLong, Array.tabulate(8)(k => math.sin(i * 31 + k).toFloat)))
    def land(ids: Range): Unit =
      vecs(ids).toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = EventStreams.knnGraphMaintenanceStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      embStore, idxStore, graphStore, ckpt,
      j = 3, bBits = 3, lTables = 2, dim = 8)
    def latestGen(): Long = new java.io.File(graphStore).listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).map(_.drop(4).toLong).max
    def assertEqualsRebuild(clue: String): Unit = {
      val ingested = spark.read.parquet(embStore)
        .select("vec_id", "embedding")
      val tmp = java.nio.file.Files.createTempDirectory("kg_rebuild").toString + "/idx"
      graft.ops.Indexes.writeLshIndex(ingested, tmp, bBits = 3, lTables = 2,
        dim = 8, partitionByBucket = false)
      val want = graft.ops.Indexes.knnGraphIndexed(ingested, tmp, j = 3)
        .as[(Long, Long, Double)].collect().toSet
      val got = spark.read.parquet(s"$graphStore/gen=${latestGen()}")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === want, clue)
    }
    // two batches through one query: the maintained graph must equal a
    // from-scratch rebuild over exactly the ingested prefix after EACH
    land(0 until 24)
    val q1 = start(); q1.processAllAvailable()
    assertEqualsRebuild("after batch 0")
    land(24 until 48)
    q1.processAllAvailable(); q1.stop()
    assertEqualsRebuild("after batch 1")
    // recovery: a batch lands while the query is DOWN; the restart resumes
    // from the checkpoint and must keep the incremental == rebuild
    // equivalence (a lost or doubled index/graph write would break it)
    land(48 until 64)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assertEqualsRebuild("after the post-restart batch")
    assert(latestGen() === 2L, "three micro-batches must have committed")
  }

  test("CDC kNN-graph stream: mixed add/delete batches equal a rebuild on survivors, across a restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("cdc_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    val root = java.nio.file.Files.createTempDirectory("cdc_stores").toString
    val (embStore, idxStore, graphStore) =
      (s"$root/emb", s"$root/idx", s"$root/graph")
    val schema = StructType(Seq(StructField("op", StringType),
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def vec(i: Long): Seq[Float] =
      Seq.tabulate(8)(k => math.sin(i * 31 + k).toFloat)
    def land(rows: Seq[(String, Long)]): Unit =
      rows.map { case (op, id) =>
          (op, id, if (op == "add") vec(id) else null)
        }.toDF("op", "vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = EventStreams.knnGraphCdcStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing),
      embStore, idxStore, graphStore, ckpt,
      j = 3, bBits = 3, lTables = 2, dim = 8)
    var live = Set.empty[Long]
    def latestGen(): Long = new java.io.File(graphStore).listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).map(_.drop(4).toLong).max
    def assertEqualsRebuild(clue: String): Unit = {
      val survivors = live.toSeq.map(i => (i, vec(i)))
        .toDF("vec_id", "embedding")
      val tmp = java.nio.file.Files.createTempDirectory("cdc_rb").toString + "/idx"
      graft.ops.Indexes.writeLshIndex(survivors, tmp, bBits = 3, lTables = 2,
        dim = 8, partitionByBucket = false)
      val want = graft.ops.Indexes.knnGraphIndexed(survivors, tmp, j = 3)
        .as[(Long, Long, Double)].collect().toSet
      val got = spark.read.parquet(s"$graphStore/gen=${latestGen()}")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === want, clue)
    }
    // an EMPTY first micro-batch (no store exists yet) must be a no-op,
    // not a stream kill (review catch: the old require threw on it)
    Seq.empty[(String, Long, Seq[Float])].toDF("op", "vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(landing)
    // batch 0 (well, 1 after the empty file): pure adds
    land((0L until 24L).map("add" -> _)); live ++= (0L until 24L)
    val q1 = start(); q1.processAllAvailable()
    assertEqualsRebuild("after the pure-add batch")
    // batch 1: adds AND deletes of earlier ids in one batch
    land((24L until 40L).map("add" -> _) ++ Seq(3L, 7L, 11L).map("delete" -> _))
    live ++= (24L until 40L); live --= Set(3L, 7L, 11L)
    q1.processAllAvailable(); q1.stop()
    assertEqualsRebuild("after the mixed batch")
    // recovery: a delete-heavy batch lands while the stream is DOWN —
    // the restart must fold it against the tombstoned index state
    land(Seq(0L, 24L, 30L).map("delete" -> _) ++ Seq("add" -> 40L))
    live --= Set(0L, 24L, 30L); live += 40L
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assertEqualsRebuild("after the post-restart delete batch")
    // the deleted ids must appear on NO edge end in the final graph
    val finalG = spark.read.parquet(s"$graphStore/gen=${latestGen()}")
      .as[(Long, Long, Double)].collect()
    val dead = Set(3L, 7L, 11L, 0L, 24L, 30L)
    assert(finalG.forall { case (a, b2, _) => !dead(a) && !dead(b2) })
    // re-adding a tombstoned id is REJECTED loudly, not silently
    // swallowed (review catch: every read folds the sidecar forever, so
    // the re-add would never surface — ids are permanent identities)
    land(Seq("add" -> 3L))
    val q3 = start()
    val died = intercept[Throwable] { q3.processAllAvailable() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(died).exists(_.contains("re-adds tombstoned")),
      s"expected the loud re-add contract, got: $died")
    try q3.stop() catch { case _: Throwable => () }
  }

  test("streaming inverted-index maintenance: probes equal a rebuild per prefix, across a restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("inv_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("inv_ckpt").toString
    val idx = java.nio.file.Files.createTempDirectory("inv_store").toString + "/idx"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    def land(m: Int): Unit =
      corpus.where(col("doc_id") % 3 === m).coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = EventStreams.invertedIndexMaintenanceStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing), idx, ckpt)
    val terms = Seq("vector", "stream", "merge", "quantum")
    def check(mods: Seq[Int], clue: String): Unit = {
      val ingested = corpus.where(
        mods.map(m => col("doc_id") % 3 === m).reduce(_ || _))
      val rb = java.nio.file.Files.createTempDirectory("inv_rb").toString + "/idx"
      graft.ops.TextAnalysis.writeInvertedIndex(ingested, rb)
      val want = graft.ops.TextAnalysis.bm25TopKIndexed(spark, rb, terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      val got = graft.ops.TextAnalysis.bm25TopKIndexed(spark, idx, terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      assert(got === want, clue)
    }
    land(0)
    val q1 = start(); q1.processAllAvailable()
    check(Seq(0), "after batch 0")
    land(1)
    q1.processAllAvailable(); q1.stop()
    check(Seq(0, 1), "after batch 1")
    // a batch lands while the stream is DOWN; restart resumes from the
    // checkpoint and the maintained index keeps answering like a rebuild
    land(2)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    check(Seq(0, 1, 2), "after the post-restart batch")
  }

  test("CDC inverted-index stream: add/delete batches equal a survivor rebuild, across a restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("invcdc_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("invcdc_ckpt").toString
    val idx = java.nio.file.Files.createTempDirectory("invcdc_store").toString + "/idx"
    val schema = StructType(Seq(StructField("op", StringType),
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val textOf = corpus.as[(Long, String)].collect().toMap
    def land(rows: Seq[(String, Long)]): Unit =
      rows.map { case (op, id) =>
          (op, id, if (op == "add") textOf(id) else null)
        }.toDF("op", "doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = EventStreams.invertedIndexCdcStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing), idx, ckpt)
    val terms = Seq("vector", "stream", "merge", "quantum")
    var live = Set.empty[Long]
    def check(clue: String): Unit = {
      val survivors = live.toSeq.sorted.map(i => (i, textOf(i)))
        .toDF("doc_id", "text")
      val rb = java.nio.file.Files.createTempDirectory("invcdc_rb").toString + "/idx"
      graft.ops.TextAnalysis.writeInvertedIndex(survivors, rb)
      val want = graft.ops.TextAnalysis.bm25TopKIndexed(spark, rb, terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      val got = graft.ops.TextAnalysis.bm25TopKIndexed(spark, idx, terms, k = 25)
        .as[(Long, Double)].collect().toSeq
      assert(got === want, clue)
    }
    // an EMPTY first micro-batch (no store yet) is a no-op, not a kill
    Seq.empty[(String, Long, String)].toDF("op", "doc_id", "text")
      .coalesce(1).write.mode("append").parquet(landing)
    val add0 = (0L until 60L).filter(textOf.contains)
    land(add0.map("add" -> _)); live ++= add0
    val q1 = start(); q1.processAllAvailable()
    check("after the pure-add batch")
    // mixed batch: more adds plus deletes of earlier docs
    val add1 = (60L until 120L).filter(textOf.contains)
    val del1 = add0.take(7)
    land(add1.map("add" -> _) ++ del1.map("delete" -> _))
    live ++= add1; live --= del1.toSet
    q1.processAllAvailable(); q1.stop()
    check("after the mixed batch")
    // recovery: a delete-heavy batch lands while the stream is DOWN
    val del2 = add1.take(5)
    land(del2.map("delete" -> _))
    live --= del2.toSet
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    check("after the post-restart delete batch")
    // re-adding a tombstoned doc_id is rejected loudly
    land(Seq("add" -> del1.head))
    val q3 = start()
    val died = intercept[Throwable] { q3.processAllAvailable() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(died).exists(_.contains("re-adds tombstoned")),
      s"expected the loud re-add contract, got: $died")
    try q3.stop() catch { case _: Throwable => () }
  }

  test("CDC phrase-store stream: add/delete batches equal a survivor rebuild, across a restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("pwcdc_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pwcdc_ckpt").toString
    val store = java.nio.file.Files.createTempDirectory("pwcdc_store").toString + "/idx"
    val schema = StructType(Seq(StructField("op", StringType),
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val textOf = corpus.as[(Long, String)].collect().toMap
    def land(rows: Seq[(String, Long)]): Unit =
      rows.map { case (op, id) =>
          (op, id, if (op == "add") textOf(id) else null)
        }.toDF("op", "doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = EventStreams.positionedWindowsCdcStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing), store, ckpt, windowN = 2)
    val phrase = Seq("join", "part", "filter")
    var live = Set.empty[Long]
    def check(clue: String): Unit = {
      val survivors = live.toSeq.sorted.map(i => (i, textOf(i)))
        .toDF("doc_id", "text")
      val rb = java.nio.file.Files.createTempDirectory("pwcdc_rb").toString + "/idx"
      graft.ops.Decontamination.positionedWindows(survivors, windowN = 2)
        .select(col("doc_id"), col("pos"), col("s"))
        .withColumn("sb", org.apache.spark.sql.functions.shiftright(col("s"),
          48 - graft.ops.Indexes.PosWinDirBits))
        .write.mode("overwrite").partitionBy("sb").parquet(rb)
      val want = graft.ops.TextAnalysis.phraseSearch(spark, rb, phrase, 2)
        .as[(Long, Long, Int)].collect().toSeq
      val got = graft.ops.TextAnalysis.phraseSearch(spark, store, phrase, 2)
        .as[(Long, Long, Int)].collect().toSeq
      assert(got === want, clue)
    }
    val add0 = (0L until 80L).filter(textOf.contains)
    land(add0.map("add" -> _)); live ++= add0
    val q1 = start(); q1.processAllAvailable()
    check("after the pure-add batch")
    val add1 = (80L until 160L).filter(textOf.contains)
    val del1 = add0.take(9)
    land(add1.map("add" -> _) ++ del1.map("delete" -> _))
    live ++= add1; live --= del1.toSet
    q1.processAllAvailable(); q1.stop()
    check("after the mixed batch")
    // a delete lands while the stream is DOWN; restart replays cleanly
    val del2 = add1.take(4)
    land(del2.map("delete" -> _)); live --= del2.toSet
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    check("after the post-restart delete batch")
    // compaction folds the streaming store (lineage -> batch 0, deletes
    // physical) and the probe answers identically
    val dest = java.nio.file.Files.createTempDirectory("pwcdc_c").toString + "/idx"
    graft.ops.Indexes.compact(spark, store, dest)
    assert(!new java.io.File(s"$dest.tombstones").exists())
    val gotC = graft.ops.TextAnalysis.phraseSearch(spark, dest, phrase, 2)
      .as[(Long, Long, Int)].collect().toSeq
    val gotS = graft.ops.TextAnalysis.phraseSearch(spark, store, phrase, 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(gotC === gotS, "compacted streaming store must answer identically")
    // and the compacted generation still accepts idempotent appends
    val extra = (160L until 170L).filter(textOf.contains)
    graft.ops.Indexes.appendPositionedWindowsIdempotent(
      extra.toSeq.map(i => (i, textOf(i))).toDF("doc_id", "text"), 99L, dest, 2)
    live = live ++ extra
    val rb2 = java.nio.file.Files.createTempDirectory("pwcdc_rb2").toString + "/idx"
    graft.ops.Decontamination.positionedWindows(
        live.toSeq.sorted.map(i => (i, textOf(i))).toDF("doc_id", "text"), 2)
      .select(col("doc_id"), col("pos"), col("s"))
      .withColumn("sb", org.apache.spark.sql.functions.shiftright(col("s"),
        48 - graft.ops.Indexes.PosWinDirBits))
      .write.mode("overwrite").partitionBy("sb").parquet(rb2)
    assert(graft.ops.TextAnalysis.phraseSearch(spark, dest, phrase, 2)
        .as[(Long, Long, Int)].collect().toSeq ===
      graft.ops.TextAnalysis.phraseSearch(spark, rb2, phrase, 2)
        .as[(Long, Long, Int)].collect().toSeq,
      "post-compaction appends must land next to the folded batch")
  }

  test("crash recovery: weighted-sample reservoir survives a restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("ws_cr_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ws_cr_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ws_cr_out").toString + "/sink"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val all = (0L until 20L).map(i =>
      (i, ("w " * (i.toInt % 7 + 1)).trim, "s"))
    def land(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "source").coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = EventStreams.weightedSampleStream(
        spark.readStream.schema(schema).parquet(landing), k = 4)
      .toDF("source", "doc_id", "weight", "skey", "ver")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("epoch", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt).start()
    land(all.take(10))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    land(all.drop(10))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val sink = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(5)))
    val lastEpoch = sink.map(_._5).max
    val got = sink.filter(_._5 == lastEpoch).map(r => (r._1, r._2, r._3, r._4)).toSet
    // a lost reservoir would make the post-restart emission the top-4 of
    // the SECOND file alone; recovered state must merge across the crash
    val want = graft.ops.Curation.weightedSample(
        all.toDF("doc_id", "text", "source"), k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got === want, "post-restart sample must equal batch over all rows")
  }

  test("streaming dedup: first occurrence kept across batches, dup dropped") {
    val in = MemoryStream[(Timestamp, String)]
    val q = EventStreams.dedupStream(in.toDF().toDF("ts", "text"), "1 hour")
      .select("text")
      .writeStream.outputMode("append").format("memory").queryName("dd").start()
    in.addData((ts("2026-01-01T10:00:00Z"), "alpha"), (ts("2026-01-01T10:01:00Z"), "beta"))
    q.processAllAvailable()
    // same content arriving in a LATER batch is recognized via state
    in.addData((ts("2026-01-01T10:05:00Z"), "alpha"), (ts("2026-01-01T10:06:00Z"), "gamma"))
    q.processAllAvailable()
    val got = spark.table("dd").as[String].collect().toSeq.sorted
    assert(got == Seq("alpha", "beta", "gamma"))
    q.stop()
  }

  test("stream-static decontamination finds exactly the batch operator's docs") {
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.contaminationHitsStream(
        in.toDF().toDF("doc_id", "text"), evalSet)
      .writeStream.outputMode("append").format("memory").queryName("decon").start()
    in.addData((1L, "the quick brown fox jumps over the lazy dog"), // verbatim leak
               (3L, "alpha beta gamma delta epsilon zeta"))         // clean
    q.processAllAvailable()
    in.addData((2L, "something quick brown fox entirely different")) // 1 window
    q.processAllAvailable()
    val hitDocs = spark.table("decon").select("doc_id").as[Long].collect().toSet
    assert(hitDocs === Set(1L, 2L))
    // parity with the batch operator over the same rows
    val batchDocs = graft.ops.Decontamination.contaminatedDocs(
        Seq((1L, "the quick brown fox jumps over the lazy dog"),
            (3L, "alpha beta gamma delta epsilon zeta"),
            (2L, "something quick brown fox entirely different")).toDF("doc_id", "text"),
        evalSet)
      .select("doc_id").as[Long].collect().toSet
    assert(batchDocs === hitDocs)
    q.stop()
  }

  test("bloom-prefiltered decontamination stream equals the exact stream") {
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.contaminationHitsStreamBloom(
        in.toDF().toDF("doc_id", "text"), evalSet)
      .writeStream.outputMode("append").format("memory").queryName("deconb").start()
    in.addData((1L, "the quick brown fox jumps over the lazy dog"),
               (3L, "alpha beta gamma delta epsilon zeta"))
    q.processAllAvailable()
    in.addData((2L, "something quick brown fox entirely different"))
    q.processAllAvailable()
    val hitDocs = spark.table("deconb").select("doc_id").as[Long].collect().toSet
    assert(hitDocs === Set(1L, 2L), "bloom gate must pass exactly the true hits")
    q.stop()
  }

  test("windowed decontamination stream: 5-token runs flag, shorter don't") {
    val evalSet = Seq((100L, "bb cc dd ee ff qq rr")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.contaminationHitsStreamBloom(
        in.toDF().toDF("doc_id", "text"), evalSet, shingleN = 5)
      .writeStream.outputMode("append").format("memory").queryName("deconw").start()
    in.addData((1L, "aa bb cc dd ee ff gg"),  // shares the 5-run bb..ff
               (2L, "xx bb cc dd ee yy zz"))  // only a 4-run: must pass
    q.processAllAvailable()
    val hitDocs = spark.table("deconw").select("doc_id").as[Long].collect().toSet
    assert(hitDocs === Set(1L), "only the >= 5-consecutive-token match flags")
    q.stop()
  }

  test("LM-gate stream drops junk per batch with zero streaming state") {
    val ref = Seq.tabulate(20)(i => (100L + i, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val lm = graft.ops.LmScore.trainBigramLm(ref)
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.lmGateStream(
        in.toDF().toDF("doc_id", "text"), lm, maxNll = 1.0)
      .writeStream.outputMode("append").format("memory").queryName("lmg").start()
    in.addData((1L, "the cat sat on the mat"), (2L, "zebra quark fizz bang"))
    q.processAllAvailable()
    in.addData((3L, "short"), (4L, "quux zork blee frob"))
    q.processAllAvailable()
    val kept = spark.table("lmg").select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L),
      "in-distribution and too-short docs pass; junk drops in every batch")
    q.stop()
  }

  test("line-dedup stream cleans each batch against static boilerplate state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-linededup")
    // corpus-derived state: 'cookie notice' is boilerplate
    val corpus = Seq(
      (10L, "cookie notice\nbody a"), (11L, "cookie notice\nbody b"),
      (12L, "cookie notice\nbody c")).toDF("doc_id", "text")
    val boiler = graft.ops.LineDedup.boilerplateLines(corpus, maxDocFreq = 2)
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.lineDedupStream(
      in.toDF().toDF("doc_id", "text"), boiler,
      s"$dir/out", s"$dir/ckpt")
    in.addData((1L, "cookie notice\nfresh content one"))
    q.processAllAvailable()
    in.addData((2L, "fresh content two\ncookie notice\ntail"), (3L, "cookie notice"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out === Map(
      1L -> "fresh content one",
      2L -> "fresh content two\ntail",
      3L -> ""))
  }

  test("streaming clean layer equals the batch clean layer on the raw CSV") {
    // Stage the committed fixture into a landing dir (glob the file so the
    // parent resolves as basePath).
    val dir = java.nio.file.Files.createTempDirectory("graft-landing")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/repo/data/rental_raw.csv"),
      dir.resolve("batch_000.csv"))
    val q = EventStreams.readRawListings(spark, s"$dir/*.csv")
      .select("url", "price_num", "city")
      .writeStream.outputMode("append").format("memory").queryName("cl").start()
    q.processAllAvailable()
    val streamed = spark.table("cl").orderBy("url")
      .as[(String, Option[Double], Option[String])].collect().toSeq
    val batch = graft.engine.Clean.clean(
        graft.engine.Clean.readRaw(spark, "/root/repo/data/rental_raw.csv"))
      .select("url", "price_num", "city").orderBy("url")
      .as[(String, Option[Double], Option[String])].collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 64)
    q.stop()
  }

  test("crash recovery: restart from checkpoint is exactly-once to a file sink") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("cr_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cr_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("cr_out").toString + "/sink"
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def land(rows: Seq[(Timestamp, Double)]): Unit =
      rows.toDF("ts", "value").coalesce(1).write.mode("append").parquet(landing)
    // append mode + parquet sink: the sink's commit log is what makes the
    // restart exactly-once — a replayed micro-batch overwrites, never dups
    def start() = EventStreams.hourlyWindowStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(landing), watermark = "30 minutes")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    // phase 1: the 10:00 window finalizes (watermark 11:30); the 12:00
    // window holds one row of STATE when the query stops
    land(Seq((ts("2026-01-01T10:05:00Z"), 1.0), (ts("2026-01-01T10:20:00Z"), 2.0),
      (ts("2026-01-01T12:00:00Z"), 9.0)))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val phase1 = spark.read.parquet(out)
      .as[(String, Long, Double)].collect().toSeq
    assert(phase1 == Seq(("2026-01-01 10:00:00", 2L, 3.0)))

    // files land while the query is DOWN; the restart must recover the
    // 12:00 window's partial state (9.0) from the checkpoint — losing it
    // would finalize the window as (1, 4.0); replaying from scratch would
    // re-emit the 10:00 window
    land(Seq((ts("2026-01-01T12:05:00Z"), 4.0), (ts("2026-01-01T14:00:00Z"), 1.5)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      ("2026-01-01 10:00:00", 2L, 3.0),
      ("2026-01-01 12:00:00", 2L, 13.0)))
  }

  test("hard failure: a batch that DIES mid-flight replays exactly-once on restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("hf_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hf_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("hf_out").toString + "/sink"
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def land(rows: Seq[(Timestamp, Double)]): Unit =
      rows.toDF("ts", "value").coalesce(1).write.mode("append").parquet(landing)
    // poison pill: the first task to see value 99.0 throws, killing the
    // micro-batch AFTER its offsets hit the WAL but BEFORE the sink commit
    // — the hard-failure window the graceful stop() tests never enter
    CrashInjector.armed = true
    val poison = udf { (v: Double) =>
      if (v == 99.0 && CrashInjector.armed) {
        CrashInjector.armed = false
        throw new RuntimeException("injected mid-batch crash")
      }
      v
    }
    def start() = EventStreams.hourlyWindowStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(landing)
          .withColumn("value", poison(org.apache.spark.sql.functions.col("value"))),
        watermark = "30 minutes")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    // healthy prefix: the 10:00 window finalizes and is IN the sink
    land(Seq((ts("2026-01-01T10:05:00Z"), 1.0), (ts("2026-01-01T10:20:00Z"), 2.0)))
    land(Seq((ts("2026-01-01T12:00:00Z"), 9.0)))
    val q1 = start(); q1.processAllAvailable()
    assert(spark.read.parquet(out).count() === 1)

    // the poison batch: crashes mid-flight on first attempt
    land(Seq((ts("2026-01-01T12:05:00Z"), 99.0), (ts("2026-01-01T14:30:00Z"), 1.5)))
    val died = intercept[Throwable] { q1.processAllAvailable() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(died).exists(_.contains("injected mid-batch crash")), died.toString)
    assert(!CrashInjector.armed, "the injected crash never fired")
    try q1.stop() catch { case _: Throwable => () }

    // restart from the same checkpoint: the UNCOMMITTED batch replays (pill
    // disarmed), and the sink must show the 10:00 window exactly once and
    // the poison row counted exactly once (12:00 window = 9.0 + 99.0)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(
      ("2026-01-01 10:00:00", 2L, 3.0),
      ("2026-01-01 12:00:00", 2L, 108.0)))
  }

  test("crash recovery: sessionize custom state survives a restart exactly-once") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("sess_cr_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sess_cr_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("sess_cr_out").toString + "/sink"
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def land(rows: Seq[(Long, Timestamp, Double)]): Unit =
      rows.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = graft.ops.Sessionize.stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(landing), gapMinutes = 30, watermark = "30 minutes")
      .toDF()
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    // phase 1: user 1 accumulates TWO events of flatMapGroupsWithState
    // state (an OpenSession), user 2 one; watermark 9:45 — nothing closes,
    // everything the operator knows lives in the state store when it stops
    land(Seq((1L, ts("2026-01-01T10:00:00Z"), 1.0),
      (1L, ts("2026-01-01T10:10:00Z"), 2.0),
      (2L, ts("2026-01-01T10:15:00Z"), 8.0)))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 0, "open sessions must not emit")

    // while DOWN: an in-gap event extends user 1's session, and a far
    // event pushes the watermark to 11:30, past both idle deadlines
    land(Seq((1L, ts("2026-01-01T10:20:00Z"), 4.0),
      (3L, ts("2026-01-01T12:00:00Z"), 0.5)))
    val q2 = start(); q2.processAllAvailable(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    // user 1's session must carry its PRE-CRASH accumulation (losing the
    // recovered state would emit (10:20, 10:20, 1, 4.0)); user 2 closes by
    // timeout from recovered state alone; user 3 stays open; nothing dups
    assert(got === Set(
      (1L, ts("2026-01-01T10:00:00Z"), ts("2026-01-01T10:20:00Z"), 3L, 7.0),
      (2L, ts("2026-01-01T10:15:00Z"), ts("2026-01-01T10:15:00Z"), 1L, 8.0)))
  }

  test("streaming incremental dedup equals the batch operator, batch-partitioned sink") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.documents(spark, d)
    val (sets, bands) = graft.ops.Indexes.ensureMinhashIndex(spark, docs, d)
    val reingest = docs.where(org.apache.spark.sql.functions.col("source") === "src0")
      .select((org.apache.spark.sql.functions.col("doc_id") + 100000L).as("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[(Long, String)].collect().toSeq
    assert(reingest.nonEmpty)
    val (b1, b2) = reingest.partition(_._1 % 2 == 0)
    val out = java.nio.file.Files.createTempDirectory("inc_stream_out").toString + "/sink"
    val ckpt = java.nio.file.Files.createTempDirectory("inc_stream_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.incrementalDedupStream(
      in.toDF().toDF("doc_id", "text"), sets, bands, 0.3, out, ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out)
      .select("new_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // per-doc independence (pairs are batch×corpus, never intra-batch):
    // the union over micro-batches must equal one batch-operator pass
    val batch = graft.ops.Indexes.minhashNearDupsIncremental(spark,
        reingest.toDF("doc_id", "text"), sets, bands, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming index maintenance: stream-built index == rebuild; replay is a no-op") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.documents(spark, d)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[(Long, String)].collect().toSeq
    val (b1, rest) = docs.partition(_._1 % 3 == 0)
    val (b2, b3) = rest.partition(_._1 % 3 == 1)
    val base = java.nio.file.Files.createTempDirectory("mh_stream_idx").toString
    val (sets, bands) = (s"$base/sets", s"$base/bands")
    val ckpt = s"$base/ckpt"

    val in = MemoryStream[(Long, String)]
    val q = EventStreams.indexMaintenanceStream(
      in.toDF().toDF("doc_id", "text"), sets, bands, ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()

    // the maintained index serves the full corpus exactly like a rebuild
    val got = graft.ops.Indexes.minhashNearDupsIndexed(spark, sets, bands, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val want = graft.ops.Dedup.nearDupPairs(docs.toDF("doc_id", "text"), 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, "stream-maintained index must equal a rebuild")
    assert(got.nonEmpty)

    // replay: re-running a batch under its original batch_id — including
    // after the documented torn state (sets written, bands missing) —
    // restores the exact table, never duplicates
    val setsBefore = spark.read.parquet(sets).count()
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$bands/batch_id=2"))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.delete(p)) // simulate the torn write
    graft.ops.Indexes.appendMinhashIndexIdempotent(
      b3.toDF("doc_id", "text"), 2L, sets, bands)
    assert(spark.read.parquet(sets).count() === setsBefore,
      "replay must not duplicate sets rows")
    val again = graft.ops.Indexes.minhashNearDupsIndexed(spark, sets, bands, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(again === want, "post-replay index must still equal the rebuild")
  }

  test("file stream over the events fixture equals the batch hourlyWindow") {
    val d = "/root/testdata/sf0.001"
    // Glob (not a bare file path): FileStreamSource requires basePath to be
    // a directory, and a glob's parent resolves as the base.
    EventStreams.runHourlyOnce(spark, s"$d/events*.parquet", "hw_file")
    val streamed = spark.table("hw_file").orderBy("hour_start")
      .as[(String, Long, Double)].collect().toSeq
    val batch = graft.queries.CoreQueries.hourlyWindow(spark, d)
      .as[(String, Long, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("readEvents cold-starts on an EMPTY landing zone and picks up files that land later") {
    // The cloud-landing-zone case the readEvents scaladoc names: the stream
    // must start with zero files present (declared-schema fallback), then
    // process files that arrive afterwards. Regression net for the round-10
    // empty-dir fallback — previously the batch schema peek threw at start.
    val zone = java.nio.file.Files.createTempDirectory("landing-zone").toString
    val events = EventStreams.readEvents(spark, zone)
    assert(events.isStreaming)
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = EventStreams.hourlyWindowStream(events)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory")
      .queryName("hw_cold_start")
      .start()
    try {
      q.processAllAvailable() // zero-file micro-batch: must not throw
      assert(spark.table("hw_cold_start").count() == 0L)
      // First files land after stream start; schema matches the declared one.
      graft.engine.Tables.events(spark, "/root/testdata/sf0.001")
        .write.mode("append").parquet(zone)
      q.processAllAvailable()
      val streamed = spark.table("hw_cold_start").orderBy("hour_start")
        .as[(String, Long, Double)].collect().toSeq
      val batch = graft.queries.CoreQueries
        .hourlyWindow(spark, "/root/testdata/sf0.001")
        .as[(String, Long, Double)].collect().toSeq
      assert(streamed == batch,
        "post-cold-start stream must equal the batch twin once files land")
    } finally q.stop()
  }

  test("CDC image-hash stream: add/delete batches equal a survivor rebuild, across a restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("imgcdc_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("imgcdc_ckpt").toString
    val store = java.nio.file.Files.createTempDirectory("imgcdc_store").toString + "/idx"
    val schema = StructType(Seq(StructField("op", StringType),
      StructField("name", StringType), StructField("content", BinaryType)))
    val fixture = new java.io.File(graft.queries.PipelineQueries.imageFixtureDir)
      .listFiles().map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
    def land(rows: Seq[(String, String)]): Unit =
      rows.map { case (op, n) =>
          (op, n, if (op == "add") fixture(n) else null)
        }.toDF("op", "name", "content").coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = EventStreams.imageHashCdcStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing), store, ckpt)
    var live = Set.empty[String]
    def check(clue: String): Unit = {
      val want = graft.ops.Multimodal.imagePHashesNamed(
          live.toSeq.sorted.map(n => (n, fixture(n))).toDF("name", "content"))
        .toDF().collect().map(r => r.getString(0) -> r.getString(3)).toSet
      val got = graft.ops.Stores.live(spark, store, "name")
        .collect().map(r => r.getString(0) -> r.getString(3)).toSet
      assert(got === want, clue)
      // the near-dup probe over the maintained store equals the rebuild
      val pw = graft.ops.Dedup.hammingNearDups64(
          live.toSeq.sorted.map(n => (n, fixture(n))).toDF("name", "content")
            .transform(d => graft.ops.Multimodal.imagePHashesNamed(d).toDF()),
          "name", Seq("ahash_hex" -> "ahash_hex"), 6, 8)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val pg = graft.ops.Dedup.hammingNearDups64(
          graft.ops.Stores.live(spark, store, "name"),
          "name", Seq("ahash_hex" -> "ahash_hex"), 6, 8)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(pg === pw, s"$clue (pairs)")
    }
    val names = fixture.keys.toSeq.sorted
    val add0 = names.take(10)
    land(add0.map("add" -> _)); live ++= add0
    val q1 = start(); q1.processAllAvailable()
    check("after the pure-add batch")
    // mixed batch: the remaining adds plus a delete of a dup-pair member
    // added EARLIER (gen_00 pairs with this batch's genv_00)
    val add1 = names.drop(10)
    val del1 = Seq("gen_00.png")
    land(add1.map("add" -> _) ++ del1.map("delete" -> _))
    live ++= add1; live --= del1.toSet
    q1.processAllAvailable(); q1.stop()
    check("after the mixed batch")
    // recovery: a delete lands while the stream is DOWN
    val del2 = Seq("plot_lodz.png")
    land(del2.map("delete" -> _)); live --= del2.toSet
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    check("after the post-restart delete batch")
    // compaction folds the lineage + deletes physically, layout kept
    val dest = java.nio.file.Files.createTempDirectory("imgcdc_c").toString + "/c0"
    val d = graft.ops.Indexes.compactionPolicy(spark, store, dest, maxFiles = 0)
    assert(d.compacted && d.declined.isEmpty, s"$d")
    val comp = spark.read.parquet(dest)
    assert(comp.count() === live.size)
    assert(comp.columns.contains("batch_id"),
      "the compacted streaming store must keep its batch_id layout")
  }

  test("CDC audio-hash stream: add/delete batches equal a survivor rebuild, across a restart") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("audcdc_landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("audcdc_ckpt").toString
    val store = java.nio.file.Files.createTempDirectory("audcdc_store").toString + "/idx"
    val schema = StructType(Seq(StructField("op", StringType),
      StructField("name", StringType), StructField("content", BinaryType)))
    val fixture = new java.io.File(graft.queries.PipelineQueries.audioFixtureDir)
      .listFiles().map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
    def land(rows: Seq[(String, String)]): Unit =
      rows.map { case (op, n) =>
          (op, n, if (op == "add") fixture(n) else null)
        }.toDF("op", "name", "content").coalesce(1)
        .write.mode("append").parquet(landing)
    def start() = EventStreams.audioHashCdcStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(landing), store, ckpt)
    var live = Set.empty[String]
    def check(clue: String): Unit = {
      val want = graft.ops.Multimodal.audioPHashesNamed(
          live.toSeq.sorted.map(n => (n, fixture(n))).toDF("name", "content"))
        .toDF().collect().map(r => r.getString(0) -> r.getString(3)).toSet
      val got = graft.ops.Stores.live(spark, store, "name")
        .collect().map(r => r.getString(0) -> r.getString(3)).toSet
      assert(got === want, clue)
      // the near-dup probe over the maintained store equals the rebuild
      val pw = graft.ops.Dedup.hammingNearDups64(
          live.toSeq.sorted.map(n => (n, fixture(n))).toDF("name", "content")
            .transform(d => graft.ops.Multimodal.audioPHashesNamed(d).toDF()),
          "name", Seq("ehash_hex" -> "ehash_hex"), 6, 8)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val pg = graft.ops.Dedup.hammingNearDups64(
          graft.ops.Stores.live(spark, store, "name"),
          "name", Seq("ehash_hex" -> "ehash_hex"), 6, 8)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(pg === pw, s"$clue (pairs)")
    }
    val names = fixture.keys.toSeq.sorted
    val add0 = names.take(10)
    land(add0.map("add" -> _)); live ++= add0
    val q1 = start(); q1.processAllAvailable()
    check("after the pure-add batch")
    // mixed batch: the remaining adds plus a delete of a dup-pair member
    // added EARLIER (gen_00 pairs with this batch's genr_00)
    val add1 = names.drop(10)
    val del1 = Seq("gen_00.wav")
    land(add1.map("add" -> _) ++ del1.map("delete" -> _))
    live ++= add1; live --= del1.toSet
    q1.processAllAvailable(); q1.stop()
    check("after the mixed batch")
    // recovery: a delete lands while the stream is DOWN
    val del2 = Seq("genq_00.wav")
    land(del2.map("delete" -> _)); live --= del2.toSet
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    check("after the post-restart delete batch")
    // compaction folds the lineage + deletes physically, layout kept
    val dest = java.nio.file.Files.createTempDirectory("audcdc_c").toString + "/c0"
    val d = graft.ops.Indexes.compactionPolicy(spark, store, dest, maxFiles = 0)
    assert(d.compacted && d.declined.isEmpty, s"$d")
    val comp = spark.read.parquet(dest)
    assert(comp.count() === live.size)
    assert(comp.columns.contains("batch_id"),
      "the compacted streaming store must keep its batch_id layout")
  }

  test("dsir model maintenance stream == batch rebuild; live gate re-reads the maintained model per batch") {
    val isTarget = col("source") === "tgt"
    val dir = java.nio.file.Files.createTempDirectory("dsir_mms").toString
    val store = s"$dir/model"
    val b1 = Seq((0L, "tgt", "the quick brown fox jumps over the lazy dog"),
      (10L, "raw", "zzz9 qqq8 vvv7 kkk6 jjj5 xxx4 yyy3 www2 uuu1"))
    val b2 = Seq((1L, "tgt", "a quick brown fox runs past the lazy dog"),
      (11L, "raw", "quick brown fox and lazy dog again and again"))
    val in = MemoryStream[(Long, String, String)]
    val q = EventStreams.dsirModelMaintenanceStream(
      in.toDF().toDF("doc_id", "source", "text"), isTarget, store, s"$dir/ck")
    in.addData(b1); q.processAllAvailable()
    // model state A: batch-1 counts only — score a probe doc under it
    val probe = Seq((100L, "raw", "the quick brown fox jumps over the lazy dog"))
    val gin = MemoryStream[(Long, String, String)]
    val out = s"$dir/gated"
    val gq = EventStreams.dsirGateStreamLive(
      gin.toDF().toDF("doc_id", "source", "text"), store,
      minWeightQ = Long.MinValue, out, s"$dir/gck")
    gin.addData(probe); gq.processAllAvailable()
    val sA = spark.read.parquet(out).where(col("batch_id") === 0)
      .select(col("s")).as[Long].head()
    // advance the model while the GATE keeps running, then re-gate the
    // same doc: the score must move — proof the gate reloads the store
    // per batch instead of freezing a plan literal
    in.addData(b2); q.processAllAvailable(); q.stop()
    gin.addData(probe); gq.processAllAvailable(); gq.stop()
    val sB = spark.read.parquet(out).where(col("batch_id") === 1)
      .select(col("s")).as[Long].head()
    assert(sA !== sB, "live gate must observe the advanced model")
    // maintained store == one-shot rebuild over the union corpus, exactly
    val full = graft.ops.Selection.dsirModel(
      (b1 ++ b2).toDF("doc_id", "source", "text"), isTarget)
    assert(graft.ops.Indexes.readDsirModel(spark, store).toSeq === full.toSeq)
    // and the final gate score is the batch scorer's under that model
    assert(sB === graft.ops.Selection.dsirScoredStateless(
      probe.toDF("doc_id", "source", "text"), full)
      .select(col("s")).as[Long].head())
  }

  test("fenced dsir gate never reads a half-landed append; compaction flips atomically") {
    val isTarget = col("source") === "tgt"
    val dir = java.nio.file.Files.createTempDirectory("dsir_fence").toString
    val store = s"$dir/model"
    val mdir = s"$dir/manifest"
    val b1 = Seq((0L, "tgt", "the quick brown fox jumps over the lazy dog"),
      (10L, "raw", "zzz9 qqq8 vvv7 kkk6 jjj5 xxx4 yyy3 www2 uuu1"))
    val b2 = Seq((1L, "tgt", "a quick brown fox runs past the lazy dog"),
      (11L, "raw", "quick brown fox and lazy dog again and again"))
    val probe = Seq((100L, "raw", "the quick brown fox jumps over the lazy dog"))
    // batch 1 through the FENCED maintenance stream → generation A published
    val in = MemoryStream[(Long, String, String)]
    val q = EventStreams.dsirModelMaintenanceStreamFenced(
      in.toDF().toDF("doc_id", "source", "text"), isTarget, store, mdir,
      s"$dir/ck")
    in.addData(b1); q.processAllAvailable(); q.stop()
    val genA = graft.ops.Stores.currentGeneration(spark, mdir).get
    val modelA = graft.ops.Indexes.readDsirModel(spark, genA)
    // a HALF-LANDED append: batch-2 counts land in the MUTABLE store with
    // no publish — exactly what a gate racing an in-flight append sees
    graft.ops.Indexes.appendDsirModelStoreIdempotent(
      b2.toDF("doc_id", "source", "text"), isTarget, 1L, store)
    // the window is REAL: the mutable store's model has already moved
    assert(graft.ops.Indexes.readDsirModel(spark, store).toSeq !== modelA.toSeq,
      "the unfenced direct-path read must observe the half-landed append")
    // the FENCED gate must still score under generation A
    val gin = MemoryStream[(Long, String, String)]
    val out = s"$dir/gated"
    val gq = EventStreams.dsirGateStreamLiveFenced(
      gin.toDF().toDF("doc_id", "source", "text"), mdir,
      minWeightQ = Long.MinValue, out, s"$dir/gck")
    gin.addData(probe); gq.processAllAvailable()
    val s0 = spark.read.parquet(out).where(col("batch_id") === 0)
      .select(col("s")).as[Long].head()
    assert(s0 === graft.ops.Selection.dsirScoredStateless(
      probe.toDF("doc_id", "source", "text"), modelA)
      .select(col("s")).as[Long].head(),
      "fenced gate output must equal the replay under the published snapshot")
    // the append PUBLISHES → the gate flips to the union model
    graft.ops.Indexes.publishDsirModelGeneration(spark, store, mdir, 1L)
    gin.addData(probe); gq.processAllAvailable()
    val s1 = spark.read.parquet(out).where(col("batch_id") === 1)
      .select(col("s")).as[Long].head()
    val full = graft.ops.Selection.dsirModel(
      (b1 ++ b2).toDF("doc_id", "source", "text"), isTarget)
    assert(s1 === graft.ops.Selection.dsirScoredStateless(
      probe.toDF("doc_id", "source", "text"), full)
      .select(col("s")).as[Long].head())
    assert(s0 !== s1, "the publish must advance the fenced gate's model")
    // compaction MID-STREAM: fold the lineage, publish the compacted path
    // through the SAME manifest — an atomic, read-equivalent reader flip
    val compacted = s"$dir/model_c0"
    graft.ops.Indexes.compact(spark, store, compacted)
    graft.ops.Stores.publishGeneration(spark, mdir, compacted)
    gin.addData(probe); gq.processAllAvailable(); gq.stop()
    val s2 = spark.read.parquet(out).where(col("batch_id") === 2)
      .select(col("s")).as[Long].head()
    assert(s2 === s1, "compaction is read-equivalent through the manifest")
    // generations are write-once: A still serves its original snapshot
    assert(graft.ops.Indexes.readDsirModel(spark, genA).toSeq === modelA.toSeq)
  }
}
