package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event queries (SURVEY §2.9).
  *
  * The transformations are plan-shape-identical to their batch versions in
  * [[graft.queries.CoreQueries]] — the same `groupBy(window(...))` logical
  * plan runs incrementally under the micro-batch scheduler with watermark
  * state eviction instead of a one-shot shuffle. At scale the state store is
  * partitioned by the same grouping key as the batch shuffle, so a 1000-
  * executor cluster holds each window's partial aggregate locally and the
  * watermark bounds state size to (watermark horizon / window size) windows
  * per key.
  *
  * Reference behavior: the reference (a batch pandas pipeline,
  * `analytics_otodom.py`) has no streaming mode; this module is the
  * forward-looking twin the builder prompt asks for.
  */
object EventStreams {

  /** File-based stream over an events parquet directory. On a cluster this is
    * the same code path as a cloud-storage landing zone: each micro-batch
    * picks up newly-arrived files, and `maxFilesPerTrigger` bounds batch
    * size. Stream sources need a declared schema, so we peek it from the
    * existing files with a one-time batch footer read — the same
    * schema-adaptive normalization as the batch loader
    * ([[graft.engine.Tables.normalizeEventTs]]) then canonicalizes `ts`
    * to session-TZ `TimestampType` whether the fixture generation wrote
    * TIMESTAMP(NANOS)-as-long or TIMESTAMP(MICROS). An EMPTY landing zone
    * (no files yet — the normal cold start for the cloud use case this
    * scaladoc describes) cannot be peeked, so it falls back to the declared
    * canonical schema; once files land they must match it, which is
    * exactly the contract a production landing zone declares up front. */
  def readEvents(s: SparkSession, dir: String): DataFrame = {
    // Cold-start detection matches the STRUCTURED error condition
    // (SparkThrowable.getCondition, the stable cross-locale identifier Spark
    // 3.4+ assigns every AnalysisException), not message substrings — a
    // wording/locale change can rewrite the message but not the condition,
    // and an unrelated error whose text happened to embed these tokens can
    // no longer masquerade as an empty landing zone (ADVICE r10).
    val coldStartConditions = Set("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")
    val fixtureSchema =
      try s.read.parquet(dir).schema
      catch { case e: org.apache.spark.sql.AnalysisException
          if coldStartConditions.contains(String.valueOf(e.getCondition)) =>
        declaredEventSchema
      }
    graft.engine.Tables.normalizeEventTs(
      s.readStream
        .schema(fixtureSchema)
        .option("maxFilesPerTrigger", "8")
        .parquet(dir))
  }

  /** Canonical events schema (TESTDATA.md fixture shape, MICROS branch of
    * [[graft.engine.Tables.normalizeEventTs]]) — the cold-start fallback
    * when the landing zone has no files to peek yet. */
  private[graft] val declaredEventSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** Streaming twin of [[graft.queries.CoreQueries.hourlyWindow]]: 1-hour
    * tumbling windows of count + sum(value), watermarked so state for windows
    * older than `watermark` behind the max observed event time is evicted.
    * In `append` output mode a window row is emitted exactly once, when the
    * watermark passes its end — the contract a downstream sink needs. */
  def hourlyWindowStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
              col("cnt"), col("sum_value"))

  /** Streaming twin of q_active_users' DAU series
    * ([[graft.queries.CoreQueries.activeUsers]]): per calendar day, the
    * distinct active-user count, emitted exactly once when the watermark
    * closes the day. Two stacked stateful stages, both watermark-bounded
    * on the DAY-TRUNCATED event time `ts_day` — it must be the event-time
    * column AND a dedup key, because `dropDuplicates` evicts state only
    * for keys containing the watermarked column (keys of (user, derived
    * date) alone would grow forever), and truncation makes every
    * duplicate of a user-day share one event time, so the same-day
    * re-appearance can never be late relative to its own key. State is
    * one row per user-day inside the horizon (the exact state the batch
    * `distinct` shuffles — never raw events), evicted roughly two
    * day-boundaries later (the 25 h delay below day granularity). The
    * trailing-7-day WAU stays batch-only by design: its rolling distinct
    * would hold each user-day for 7 days and emit a week late — the
    * batch twin over landed data is the exact form. */
  def dailyActiveUsersStream(events: DataFrame,
                             watermark: String = "25 hours"): DataFrame =
    events
      .select(col("user_id"), date_trunc("day", col("ts")).as("ts_day"))
      .withWatermark("ts_day", watermark)
      .dropDuplicates("user_id", "ts_day")
      .groupBy(window(col("ts_day"), "1 day").as("w"))
      .agg(count(lit(1)).as("dau"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"), col("dau"))

  /** STREAM-STREAM watermarked interval join — the one streaming join shape
    * this module lacked (everything else is stream-static or foreachBatch):
    * view→purchase attribution, each purchase joined to every SAME-USER
    * view it follows within `withinMinutes`. Both sides carry watermarks
    * and the join condition bounds both event times, so Spark derives a
    * state-eviction horizon for BOTH buffers (a view is dropped once the
    * purchase-side watermark passes `view_ts + withinMinutes + watermark`)
    * — without the time bound the view buffer would grow forever. Inner
    * join in append mode: a pair is emitted in the micro-batch where the
    * later side arrives, exactly once through the checkpoint contract.
    *
    * Scale: state is keyed by user_id (the equi-join key), so the stateful
    * shuffle partitions by user — skewless for event data, and the
    * interval predicate prunes buffered rows per key. The batch twin
    * [[attributionBatch]] shares the join/projection builder literally, so
    * the spec's stream==batch assertion pins one definition, not two. */
  def attributionJoinStream(views: DataFrame, purchases: DataFrame,
                            withinMinutes: Int = 30,
                            watermark: String = "1 hour",
                            joinType: String = "inner"): DataFrame =
    attributionJoined(
      views.select(col("user_id"), col("ts").as("view_ts"))
        .withWatermark("view_ts", watermark),
      purchases.select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", watermark),
      withinMinutes, joinType)

  /** LEFT-OUTER variant — the conversion-funnel shape: every view emits,
    * matched ones with their purchases as they arrive, UNMATCHED ones with
    * null purchase columns exactly once, when the watermark proves no
    * in-window purchase can still arrive. This is the streaming semantics
    * batch can't fake: the null row's emission TIME is the state-eviction
    * horizon itself. */
  def attributionJoinStreamOuter(views: DataFrame, purchases: DataFrame,
                                 withinMinutes: Int = 30,
                                 watermark: String = "1 hour"): DataFrame =
    attributionJoinStream(views, purchases, withinMinutes, watermark,
      joinType = "leftOuter")

  /** Batch twin of [[attributionJoinStream]] over a landed events table —
    * the registered-query forms (q_attribution_join inner,
    * q_attribution_outer left-outer). */
  def attributionBatch(events: DataFrame, withinMinutes: Int = 30,
                       joinType: String = "inner"): DataFrame =
    attributionJoined(
      events.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts")),
      events.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts")),
      withinMinutes, joinType)

  /** The ONE join condition + projection all twins share. `lag_secs` is
    * floor((purchase − view) in whole seconds) computed over exact integer
    * MICROS (`div`), not over second-truncated casts — truncating each side
    * first would disagree with the oracle's `(Δus) // 1e6` on sub-second
    * components (null-propagating on unmatched left-outer rows). */
  private def attributionJoined(v: DataFrame, p: DataFrame,
                                withinMinutes: Int,
                                joinType: String): DataFrame =
    v.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") +
            expr(s"INTERVAL $withinMinutes MINUTES"),
        joinType)
      .select(col("user_id"), col("view_ts"), col("purchase_ts"),
        call_function("div",
          unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")),
          lit(1000000L)).as("lag_secs"))

  /** Per-key running state: (event_type → cumulative count, cumulative value
    * sum) maintained across micro-batches via `mapGroupsWithState`. This is
    * the custom-state escape hatch for semantics windowed aggregation can't
    * express (running totals never finalize, so watermark eviction doesn't
    * apply — state size is O(|distinct keys|), fine for low-cardinality
    * keys, and `ProcessingTimeTimeout` would bound it otherwise). */
  def runningTotals(events: Dataset[(String, Double)]): Dataset[(String, Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (String, Long, Double)](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var sum = s0
          rows.foreach { case (_, v) => n += 1; sum += v }
          state.update((n, sum))
          (key, n, sum)
      }
  }

  /** Streaming ingest twin of the batch clean layer: raw CSVs land in a
    * directory (the 100 TB shape: a cloud-storage landing zone written by
    * scrapers), each micro-batch picks up new files with the explicit
    * all-string schema, and [[graft.engine.Clean.clean]] applies — every
    * transform in the clean layer is stateless, so the SAME function serves
    * batch and stream (no watermark needed; this is a map-only pipeline
    * that preserves exactly-once through the file-source + checkpoint
    * contract). */
  def readRawListings(s: SparkSession, dir: String): DataFrame =
    graft.engine.Clean.clean(
      s.readStream
        .schema(graft.engine.Clean.rawSchema)
        .option("header", "true")
        .option("maxFilesPerTrigger", "16")
        .csv(dir))

  /** Streaming exact dedup — the stream twin of
    * [[graft.ops.Dedup.dropExactDuplicates]]: keep the first occurrence of
    * each content digest across micro-batches. State is the digest set,
    * partitioned by digest (same key as the batch shuffle); the event-time
    * watermark bounds it — a digest older than the horizon is evicted, so
    * state is O(docs-per-horizon), not O(corpus). The digest column (16
    * bytes) is what rides the state store, never the document body. */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Streaming decontamination — the STREAM-STATIC join pattern: incoming
    * documents (a landing-zone stream) are shingled statelessly and
    * semi-joined against the STATIC eval-set shingle frame, which Spark
    * re-plans per micro-batch with the broadcast on the static side — no
    * state store, no watermark, exactly the batch operator's join shape
    * ([[graft.ops.Decontamination]]) run incrementally. Emits one row per
    * (doc_id, shingle) hit; per-doc dedup is the caller's choice of
    * `dropDuplicates` scope (unbounded without a watermark — bound it with
    * the ingest-time watermark in production). */
  def contaminationHitsStream(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evShingles = graft.ops.Dedup.shingleSets(evalDocs)
      .select(explode(col("sh")).as("s")).distinct()
    graft.ops.Dedup.shingleSets(docs)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(evShingles), Seq("s"), "left_semi")
  }

  /** [[contaminationHitsStream]] with the [[graft.ops.Bloom]] prefilter on
    * the stream side — the shape for an eval set too large to broadcast
    * raw per micro-batch: the bitset is built ONCE from the static eval
    * frame at stream-construction time (it is a pure expression literal,
    * so it needs no re-planning, no state store, and costs each
    * micro-batch only the codegen'd bit test), and only bloom survivors
    * reach the exact confirm semi-join. Output-identical to the exact
    * stream (zero false negatives + exact confirm; EventStreamsSpec
    * asserts parity). */
  def contaminationHitsStreamBloom(docs: DataFrame, evalDocs: DataFrame,
                                   mBits: Int = 1 << 19, kHashes: Int = 5,
                                   shingleN: Int = 3): DataFrame = {
    // shingleN generalizes the stream to WINDOWED decontamination
    // ([[graft.ops.Decontamination.contaminatedDocsWindowed]]): at n = 5+
    // a hit means the streaming doc shares n consecutive tokens with the
    // eval set, not merely a short shingle.
    val evShingles = graft.ops.Dedup.shingleSets(evalDocs, shingleN)
      .select(explode(col("sh")).as("s")).distinct()
    val sk = graft.ops.Bloom.buildSketch(evShingles, "s", mBits, kHashes)
    graft.ops.Dedup.shingleSets(docs, shingleN)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .where(sk.mightContain(col("s")))
      .join(broadcast(evShingles), Seq("s"), "left_semi")
  }

  /** Streaming LM quality gate — [[graft.ops.LmScore.lmGate]] applied to
    * the streaming frame DIRECTLY: the trained model is three plan
    * literals (two CMS counter tables + the vocabulary size), so the gate
    * is a stateless codegen'd per-row filter — no state store, no
    * stream-static join, no foreachBatch, and every streaming output mode
    * composes. Train offline on the trusted reference
    * ([[graft.ops.LmScore.trainBigramLm]]); refresh the model by
    * restarting the stream — the same lifecycle as the Bloom bitset in
    * [[contaminationHitsStreamBloom]]. */
  def lmGateStream(docs: DataFrame, lm: graft.ops.LmScore.NgramLm,
                   maxNll: Double): DataFrame =
    graft.ops.LmScore.lmGate(docs, lm, maxNll)

  /** Streaming DSIR importance gate — the distribution-match twin of
    * [[lmGateStream]]: each landing document scores against the FROZEN
    * hashed-n-gram bucket model (trained offline by
    * [[graft.ops.Selection.dsirModel]]; ≤256 doubles riding the plan as a
    * literal) via the stateless single-projection scorer, and only docs at
    * least `minWeightQ` (1e-6-quantized log importance units) pass. No
    * state store, no stream-static join — composes with every output
    * mode; refresh the model by restarting the stream, the
    * lmGateStream/Bloom lifecycle. Unseen features hash to buckets the
    * training corpus never touched and read the smoothed zero-count
    * ratio — finite by construction. */
  def dsirGateStream(docs: DataFrame, model: Array[(Long, Double)],
                     buckets: Int, minWeightQ: Long): DataFrame =
    graft.ops.Selection.dsirScoredStateless(docs, model, buckets)
      .where(col("s") >= minWeightQ)

  /** Streaming DSIR MODEL maintenance — the continuous-ingest half of
    * the gate (the [[indexMaintenanceStream]] pattern for the selection
    * family): each landing micro-batch's per-bucket (target, raw) counts
    * append to the committed model store through
    * [[graft.ops.Indexes.appendDsirModelStoreIdempotent]] — batch_id
    * partitions, dynamic overwrite — so the model grows by one
    * batch-sized pass per batch, and a crash-replayed batch rewrites its
    * partition instead of DOUBLE-COUNTING (the one failure a mergeable
    * counts store cannot tolerate silently). Counting happens once per
    * document ever, at ingest.
    *
    * READER FENCE: after each batch's idempotent count append lands, the
    * merged store is snapshotted into a fresh WRITE-ONCE generation dir
    * and the manifest pointer flips atomically
    * ([[graft.ops.Indexes.publishDsirModelGeneration]]). Publication
    * happens strictly AFTER the append completes, so a manifest-resolving
    * reader ([[dsirGateStreamLiveFenced]]) can never observe a
    * half-landed batch — the mutable store path stays the maintenance
    * stream's private replay-idempotence domain, exactly the fencing
    * every other committed store's readers already get from
    * resolveThroughManifest. A crash between append and publish costs
    * nothing: readers keep the previous snapshot, and the replayed batch
    * re-appends idempotently then publishes. Compaction composes: fold
    * the lineage with [[graft.ops.Indexes.compact]], then
    * publish the compacted path through the SAME manifest — readers flip
    * atomically to a read-equivalent generation. */
  def dsirModelMaintenanceStreamFenced(docs: DataFrame, isTarget: Column,
                                       storePath: String, manifestDir: String,
                                       checkpoint: String,
                                       buckets: Int = graft.ops.Selection.DefaultBuckets)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Indexes.appendDsirModelStoreIdempotent(batch.toDF(),
          isTarget, batchId, storePath, buckets)
        graft.ops.Indexes.publishDsirModelGeneration(batch.sparkSession,
          storePath, manifestDir, batchId)
        ()
      }
      .start()

  /** [[dsirGateStream]] against a LIVE maintained model: each micro-batch
    * reloads the model (≤ `buckets` rows — a driver-side blink) and gates
    * the batch with the same native stateless scorer. `foreachBatch`
    * because the model is per-batch state the streaming plan cannot
    * refresh (a plan literal is frozen at start); the sink is the
    * standard batch_id-partitioned idempotent overwrite. A batch replayed
    * after the model advanced re-gates under the newer model: the gate's
    * contract is "the model at processing time".
    *
    * The torn-read window is CLOSED: each gate batch resolves
    * [[graft.ops.Stores.currentGeneration]] and scores against that
    * write-once snapshot — a concurrent append, crash replay, or
    * compaction can never be read mid-flight, because
    * generations are published only after they are completely written
    * and never mutated afterwards (the manifest contract every ensure*
    * reader already relies on). An empty manifest (no maintenance batch
    * published yet) gates on the neutral all-zero prior — every bucket
    * at the identical smoothed ratio, every doc scoring 0 — rather than
    * crashing on a missing store. */
  def dsirGateStreamLiveFenced(docs: DataFrame, manifestDir: String,
                               minWeightQ: Long, outPath: String,
                               checkpoint: String,
                               buckets: Int = graft.ops.Selection.DefaultBuckets)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val model = graft.ops.Stores.currentGeneration(spark, manifestDir)
          .map(gen => graft.ops.Indexes.readDsirModel(spark, gen, buckets))
          .getOrElse(graft.ops.Selection.neutralModel(buckets))
        graft.ops.Stores.appendBatch(
          dsirGateStream(batch.toDF(), model, buckets, minWeightQ),
          batchId, outPath)
      }
      .start()

  /** Continuous-ingest near-dup gate — the streaming twin of
    * [[graft.ops.Indexes.minhashNearDupsIncremental]]: each micro-batch of
    * landing documents is checked against the corpus's MATERIALIZED dedup
    * state (stored `sets/` + `bands/` tables) with the batch operator
    * itself via `foreachBatch`, so the stream inherits its scale shape
    * verbatim — only the micro-batch is tokenized, only narrow band-key /
    * id-pair frames broadcast, the refine shuffle-joins the stored sets.
    * This is the standard production pattern for per-batch logic richer
    * than a streaming plan can express: stream-static joins would reshape
    * the refine around the (corpus-sized) static side per batch, while
    * `foreachBatch` reuses the batch plan that is already right.
    *
    * EXACTLY-ONCE: `foreachBatch` replays a micro-batch after a failure,
    * so the sink write is made idempotent — each batch overwrites ONLY its
    * own `batch_id=` partition (dynamic partition overwrite); a replayed
    * batch rewrites identical rows instead of appending duplicates.
    *
    * `cacheBatchSets = false` on the inner operator: a `persist` per
    * micro-batch would grow the block-manager cache without bound over a
    * long-running stream. */
  def incrementalDedupStream(docs: DataFrame, setsPath: String,
                             bandsPath: String, threshold: Double,
                             outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Stores.appendBatch(graft.ops.Indexes.minhashNearDupsIncremental(
            batch.sparkSession, batch.toDF(), setsPath, bandsPath, threshold,
            cacheBatchSets = false), batchId, outPath)
      }
      .start()

  /** Streaming index MAINTENANCE — the missing half of continuous ingest:
    * [[incrementalDedupStream]] checks each landing batch against the
    * stored dedup state; this stream GROWS that state, so the next batch
    * dedups against everything before it. Each micro-batch's shingle sets
    * and band keys land through
    * [[graft.ops.Indexes.appendMinhashIndexIdempotent]] — batch_id
    * partitions, dynamic overwrite — so the exactly-once story is the
    * sink's own idempotence: a batch replayed after a crash (even one
    * that died between the sets and bands writes, the plain append path's
    * documented torn state) rewrites its partitions bit-identically.
    * Tokenization happens once per document ever, at ingest — the
    * 100 TB property that makes the maintained index cheaper than any
    * periodic rebuild. */
  def indexMaintenanceStream(docs: DataFrame, setsPath: String,
                             bandsPath: String, checkpoint: String,
                             numHashes: Int = 16, bandRows: Int = 2,
                             shingleN: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Indexes.appendMinhashIndexIdempotent(batch.toDF(), batchId,
          setsPath, bandsPath, numHashes, bandRows, shingleN)
      }
      .start()

  /** Streaming boilerplate-line removal — the stream twin of
    * [[graft.ops.LineDedup.cleanDocs]]: each micro-batch of landing
    * documents is cleaned against a STATIC boilerplate line-hash frame
    * (corpus-derived state a batch [[graft.ops.LineDedup.lineDocFreq]]
    * pass produces offline, exactly like the minhash `sets/`/`bands/`
    * tables) via `foreachBatch`, because per-doc line reassembly is a
    * batch aggregate, not a streaming-plan shape. The batch operator's
    * scale contract carries over: line text never enters the dedup
    * decision (hash-only broadcast anti-join), and the sink is the same
    * batch_id-partitioned idempotent overwrite as
    * [[incrementalDedupStream]] — a replayed micro-batch rewrites
    * identical rows. Boilerplate is inherently corpus-frequency state, so
    * a pure per-batch frequency count would miss cross-batch repeats;
    * pinning the boilerplate table as static state is the correct
    * streaming decomposition (refresh it offline as the corpus grows). */
  def lineDedupStream(docs: DataFrame, boilerplate: DataFrame,
                      outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val boiler = boilerplate.select(col("lh"))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Stores.appendBatch(
          graft.ops.LineDedup.cleanDocsAgainst(batch.toDF(), boiler), batchId, outPath)
      }
      .start()
  }

  /** Streaming kNN-GRAPH maintenance — VERDICT r11 #3: compose the
    * idempotent index-append family with
    * [[graft.ops.Indexes.knnGraphIncremental]] so the neighbourhood graph
    * stays current under continuous vector ingest, the way
    * [[weightedSampleStream]] twins its batch operator.
    *
    * Per micro-batch, three idempotent steps: (1) the batch's embeddings
    * land in a `batch_id` partition of the embedding store (dynamic
    * overwrite — a replay rewrites, never duplicates); (2) its banded
    * rows land the same way via
    * [[graft.ops.Indexes.appendLshIndexIdempotent]]; (3) the graph
    * refreshes with the incremental operator — only |batch| + bucket-mates
    * re-rank — and the result lands as a NEW `gen=<batchId>` partition of
    * the graph store, with the PREVIOUS generation (max gen < batchId)
    * as the carry-over input. Exactly-once falls out structurally: all
    * three writes are keyed by batchId, and the refresh itself is a pure
    * function of (embedding store, index, previous generation), all of
    * which a replay sees in the identical state — the crashed attempt's
    * own gen partition, if any, is simply overwritten and was never read
    * (prev strictly excludes gen == batchId).
    *
    * Invariant the spec asserts after EVERY micro-batch prefix and across
    * a checkpoint restart: the latest generation equals
    * [[graft.ops.Indexes.knnGraphIndexed]] rebuilt from scratch over
    * exactly the vectors ingested so far — the same equivalence gate the
    * registered incremental/delete queries carry.
    *
    * Retention: generations before `batchId - 2` are swept after the new
    * generation lands (foreachBatch replays at most the last uncommitted
    * batch, so gen b-1 is the only one a recovery can need; one extra is
    * kept for in-flight readers). Band width is FIXED for the stream's
    * lifetime — re-banding a grown corpus is the offline compaction
    * lifecycle's job, not the ingest path's. */
  def knnGraphMaintenanceStream(emb: DataFrame, embPath: String,
                                indexPath: String, graphPath: String,
                                checkpoint: String, j: Int = 3,
                                bBits: Int = 4, lTables: Int = 8,
                                dim: Int = 64, seed: Long = 42L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF().select(col("vec_id"), col("embedding")).persist()
        try {
          // an EMPTY micro-batch is a no-op (availableNow/no-data batches
          // are normal — the CDC twin's guard, mirrored here after ADVICE
          // r12: on a FIRST empty batch the three writes would land
          // file-less directories and the read-back below would die on
          // 'Unable to infer schema'; on a later one the refresh would
          // rewrite the previous generation verbatim). The graph is
          // unchanged by zero new vectors, so skipping the whole body
          // preserves the latest-gen == rebuild invariant. Guard, not
          // `return` — a non-local return from a foreachBatch closure
          // throws at stream runtime.
          if (!b.isEmpty) {
          graft.ops.Stores.appendBatch(b, batchId, embPath)
          graft.ops.Indexes.appendLshIndexIdempotent(b, batchId, indexPath,
            bBits, lTables, dim, seed)
          landGraphGeneration(s, embPath, graphPath, batchId) { (embAll, prev) =>
            graft.ops.Indexes.knnGraphIncremental(embAll, indexPath,
              b.select(col("vec_id")), prev, j)
          }
          }
        } finally b.unpersist(blocking = false)
      }
      .start()

  /** Step (3) of both kNN-graph streams: land batch `batchId`'s graph as
    * partition `gen=<batchId>` of `graphPath`. `derive(embAll, prev)`
    * refreshes the previous generation (the newest below `batchId`, empty
    * on the first batch) against every vector landed in `embPath` so far;
    * generations older than `batchId - 2` are swept once the new one has
    * landed. */
  private def landGraphGeneration(s: SparkSession, embPath: String,
                                  graphPath: String, batchId: Long)
                                 (derive: (DataFrame, DataFrame) => DataFrame): Unit = {
    import s.implicits._
    val fs = graft.engine.Fs.of(s, graphPath)
    val gPath = new org.apache.hadoop.fs.Path(graphPath)
    def gens(): Seq[Long] =
      if (!fs.exists(gPath)) Seq.empty
      else fs.listStatus(gPath).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("gen=")).map(_.drop(4).toLong)
    val prevGens = gens().filter(_ < batchId)
    val prev =
      if (prevGens.isEmpty) Seq.empty[(Long, Long, Double)].toDF("vec_a", "vec_b", "cos")
      else s.read.parquet(s"$graphPath/gen=${prevGens.max}")
    val embAll = s.read.parquet(embPath).select(col("vec_id"), col("embedding"))
    graft.ops.Stores.overwritePartitions(
      derive(embAll, prev).withColumn("gen", lit(batchId)), graphPath, "gen")
    gens().filter(_ < batchId - 2).foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$graphPath/gen=$g"), true))
  }

  /** Streaming INVERTED-INDEX maintenance — the retrieval twin of
    * [[indexMaintenanceStream]]: each micro-batch of landing documents
    * tokenizes once and lands its postings + scalar partials in
    * batch_id-keyed partitions
    * ([[graft.ops.TextAnalysis.appendInvertedIndexIdempotent]] — dynamic
    * overwrite, so replays rewrite bit-identically), and every
    * [[graft.ops.TextAnalysis.bm25TopKIndexed]] probe immediately serves
    * the grown corpus with zero corpus scans. Spec-asserted: the
    * maintained index answers queries identically to a from-scratch
    * build over every ingested prefix, across a checkpoint restart. */
  def invertedIndexMaintenanceStream(docs: DataFrame, indexPath: String,
                                     checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.TextAnalysis.appendInvertedIndexIdempotent(batch.toDF(),
          batchId, indexPath)
      }
      .start()

  /** CDC-STYLE inverted-index maintenance —
    * [[invertedIndexMaintenanceStream]] generalized to MIXED change
    * batches (VERDICT r12 #5): rows are (op, doc_id, text) with
    * op ∈ {add, delete} (text ignored for deletes). Adds land as
    * idempotent batch_id-partitioned postings/doclens/termstats/scalars
    * partials ([[graft.ops.TextAnalysis.appendInvertedIndexIdempotent]]);
    * deletes land as idempotent (doc_id, dl) tombstones
    * ([[graft.ops.TextAnalysis.tombstoneInvertedIndexIdempotent]] — dl
    * captured from the doclens store at tombstone time, so probes price
    * deletes from the sidecar alone). Every
    * [[graft.ops.TextAnalysis.bm25TopKIndexed]] probe then equals a
    * from-scratch build over (all adds so far − all deletes so far),
    * spec-asserted per prefix and across a checkpoint restart.
    *
    * Loud contracts, mirroring [[knnGraphCdcStream]]: a batch adding AND
    * deleting the same doc_id is rejected (the composition order would
    * silently decide which wins); the first batch must contain adds
    * unless the store already exists; re-adding a tombstoned doc_id is
    * rejected (ids are permanent identities — emit re-added content
    * under a fresh id or compact first); a delete for a doc never
    * ingested is a silent no-op (its dl cannot be captured and nothing
    * serves it). A fully empty batch before any store exists is a no-op.
    * Exactly-once is structural: every write is keyed by batchId and a
    * replay reads the identical store state. */
  def invertedIndexCdcStream(changes: DataFrame, indexPath: String,
                             checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    cdcDocStream(changes, checkpoint, indexPath,
      // postings files, not fs.exists (review catch: a dir left by a
      // crashed first append read as "store exists" and let a
      // delete-only batch fall into a missing-doclens read)
      hasStore = s => graft.ops.Stores.hasParquetFiles(s,
        s"$indexPath/postings"),
      append = (adds, bid) =>
        graft.ops.TextAnalysis.appendInvertedIndexIdempotent(adds, bid,
          indexPath),
      tombstone = (s, dels, bid) =>
        graft.ops.TextAnalysis.tombstoneInvertedIndexIdempotent(s, indexPath,
          dels, bid))

  /** The ONE foreachBatch body both document CDC streams share
    * ([[invertedIndexCdcStream]] / [[positionedWindowsCdcStream]] — a
    * review catch: two verbatim copies had already drifted on the
    * store-existence and re-add-guard checks): add/delete split, the
    * same-id/first-batch/re-add contracts, then the two store verbs the
    * caller binds. The re-add guard reads [[graft.ops.Stores.deleted]],
    * so BOTH sidecar channel layouts (flat append files / batch_id dirs)
    * arm it. Guard-not-`return`:
    * a non-local return from a foreachBatch closure throws at stream
    * runtime. */
  private def cdcDocStream(changes: DataFrame, checkpoint: String,
                           storePath: String,
                           hasStore: SparkSession => Boolean,
                           append: (DataFrame, Long) => Unit,
                           tombstone: (SparkSession, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    cdcChangeStream(changes, checkpoint, storePath, "doc_id", Seq("text"),
      hasStore, append, tombstone)

  /** [[cdcDocStream]] generalized over the identity and payload columns
    * (round 15 — the image family joins the CDC surface, keyed by the
    * STRING column `name` with a binary payload): one body, every store
    * family's add/delete split, same-id / first-batch / re-add
    * contracts, and the two bound store verbs. */
  private def cdcChangeStream(changes: DataFrame, checkpoint: String,
                              storePath: String, idCol: String,
                              payloadCols: Seq[String],
                              hasStore: SparkSession => Boolean,
                              append: (DataFrame, Long) => Unit,
                              tombstone: (SparkSession, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.toDF()
          .select(col("op") +: col(idCol) +: payloadCols.map(col): _*)
          .persist()
        try {
          val adds = b.where(col("op") === "add")
            .select(col(idCol) +: payloadCols.map(col): _*)
          val dels = b.where(col("op") === "delete").select(col(idCol))
          require(adds.join(dels, Seq(idCol), "left_semi").isEmpty,
            s"CDC batch $batchId adds and deletes the same $idCol — " +
              "ambiguous; split the operations across batches")
          val store = hasStore(s)
          val hasAdds = !adds.isEmpty
          val hasDels = !dels.isEmpty
          if (store || hasAdds || hasDels) {
            require(store || hasAdds,
              s"CDC batch $batchId deletes from a store that does not exist yet")
            if (hasAdds) graft.ops.Stores.deleted(s, storePath, idCol).foreach { dead =>
              val clash = adds.select(col(idCol)).join(dead, Seq(idCol), "left_semi")
              require(clash.isEmpty,
                s"CDC batch $batchId re-adds tombstoned $idCol(s) " +
                  s"${clash.limit(5).collect().map(_.get(0)).mkString(", ")} — " +
                  "ids are permanent identities here; emit re-added content " +
                  "under a fresh id, or compact the store to retire the " +
                  "tombstones first")
            }
            if (hasAdds) append(adds, batchId)
            if (hasDels) tombstone(s, dels, batchId)
          }
        } finally b.unpersist(blocking = false)
      }
      .start()

  /** CDC-STYLE image-hash-store maintenance — the multimodal family
    * joins the streaming surface: (op, name, content) change batches,
    * adds DECODE in the micro-batch and land as idempotent batch_id
    * hash partitions ([[graft.ops.Indexes
    * .appendImageHashIndexIdempotent]] — 16 bytes/image of state; the
    * payload itself is never stored), deletes as idempotent name
    * tombstones. Every near-dup probe over the maintained store then
    * equals one over a from-scratch build on (all adds so far − all
    * deletes so far) — spec-asserted, including across a checkpoint
    * restart. Same loud contracts as the document CDC twins. */
  def imageHashCdcStream(changes: DataFrame, storePath: String,
                         checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    cdcChangeStream(changes, checkpoint, storePath, "name", Seq("content"),
      hasStore = s => graft.ops.Stores.hasParquetFiles(s, storePath),
      append = (adds, bid) =>
        graft.ops.Indexes.appendImageHashIndexIdempotent(adds, bid, storePath),
      tombstone = (s, dels, bid) =>
        graft.ops.Stores.tombstone(storePath, dels, "name", Some(bid)))

  /** CDC-STYLE audio-hash-store maintenance — [[imageHashCdcStream]]'s
    * twin for sound: (op, name, content) change batches, adds DECODE
    * (javax.sound PCM → [[graft.ops.Multimodal.energyHash64]]) in the
    * micro-batch and land as idempotent batch_id hash partitions
    * ([[graft.ops.Indexes.appendAudioHashIndexIdempotent]] — 16 bytes of
    * envelope state per recording; the payload itself is never stored),
    * deletes as idempotent name tombstones. Every near-dup probe over
    * the maintained store then equals one over a from-scratch build on
    * (all adds so far − all deletes so far) — spec-asserted, including
    * across a checkpoint restart. Same loud contracts as the document
    * CDC twins. */
  def audioHashCdcStream(changes: DataFrame, storePath: String,
                         checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    cdcChangeStream(changes, checkpoint, storePath, "name", Seq("content"),
      hasStore = s => graft.ops.Stores.hasParquetFiles(s, storePath),
      append = (adds, bid) =>
        graft.ops.Indexes.appendAudioHashIndexIdempotent(adds, bid, storePath),
      tombstone = (s, dels, bid) =>
        graft.ops.Stores.tombstone(storePath, dels, "name", Some(bid)))

  /** CDC-STYLE phrase-store maintenance — [[invertedIndexCdcStream]]'s
    * twin for the positioned-window SERVING store, closing the round-13
    * serving family under streaming: (op, doc_id, text) batches, adds as
    * idempotent (sb, batch_id) window partitions
    * ([[graft.ops.Indexes.appendPositionedWindowsIdempotent]] — sb outer,
    * so [[graft.ops.TextAnalysis.phraseSearch]]'s static pruning serves
    * a streaming store unchanged), deletes as idempotent doc_id
    * tombstones ([[graft.ops.Stores.tombstone]]). Every phrase probe then
    * equals one over a from-scratch build on (all adds so far − all
    * deletes so far), spec-asserted per prefix and across a checkpoint
    * restart. Same loud contracts as the inverted CDC twin: add+delete
    * of one doc_id in one batch rejected; first batch must contain adds
    * unless the store exists; re-adding a tombstoned doc_id rejected
    * (compact first — ids are permanent identities); a delete for a doc
    * never ingested is a silent no-op; exactly-once is structural
    * (batchId-keyed writes). */
  def positionedWindowsCdcStream(changes: DataFrame, storePath: String,
                                 checkpoint: String, windowN: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    cdcDocStream(changes, checkpoint, storePath,
      hasStore = s => graft.ops.Stores.hasParquetFiles(s, storePath),
      append = (adds, bid) =>
        graft.ops.Indexes.appendPositionedWindowsIdempotent(adds, bid,
          storePath, windowN),
      tombstone = (s, dels, bid) =>
        graft.ops.Stores.tombstone(storePath, dels, "doc_id", Some(bid)))

  /** CDC-STYLE kNN-graph maintenance — [[knnGraphMaintenanceStream]]
    * generalized to MIXED change batches: rows are (op, vec_id,
    * embedding) with op ∈ {add, delete} (embedding ignored for deletes),
    * the full change-data-capture ingest shape. Per micro-batch: adds
    * land idempotently (embedding store + banded index, batch_id
    * partitions), deletes land as idempotent index tombstones
    * ([[graft.ops.Stores.tombstone]] on `vec_id`), and the graph
    * refresh COMPOSES the two maintenance operators — incremental for
    * the adds' changed neighbourhood (its index read folds tombstones,
    * so earlier batches' deleted vectors never resurface as candidates),
    * then delete-refresh for the points citing this batch's deleted ids
    * — committing one new gen=batchId graph partition. The composition
    * equals a rebuild over (all adds so far − all deletes so far),
    * spec-asserted per prefix and across a checkpoint restart, by
    * chaining the two operators' individual rebuild-equivalence
    * arguments: incremental gives rebuild-on-(corpus ∪ adds) [deleted
    * ids already absent via tombstoned reads], delete-refresh gives
    * rebuild-on-survivors of that.
    *
    * Loud contracts: a batch adding AND deleting the same vec_id is
    * rejected (the composition order would silently decide which wins),
    * and the first batch must contain adds unless the index already
    * exists (there is no store to delete from). Exactly-once is
    * structural as in the append-only stream: every write is keyed by
    * batchId, and a replay reads the identical store state. */
  def knnGraphCdcStream(changes: DataFrame, embPath: String,
                        indexPath: String, graphPath: String,
                        checkpoint: String, j: Int = 3,
                        bBits: Int = 4, lTables: Int = 8,
                        dim: Int = 64, seed: Long = 42L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val b = batch.toDF()
          .select(col("op"), col("vec_id"), col("embedding")).persist()
        try {
          val adds = b.where(col("op") === "add")
            .select(col("vec_id"), col("embedding"))
          val dels = b.where(col("op") === "delete").select(col("vec_id"))
          require(adds.join(dels, Seq("vec_id"), "left_semi").isEmpty,
            s"CDC batch $batchId adds and deletes the same vec_id — " +
              "ambiguous; split the operations across batches")
          val fs = graft.engine.Fs.of(s, indexPath)
          val hasIndex = fs.exists(new org.apache.hadoop.fs.Path(indexPath))
          val hasAdds = !adds.isEmpty
          val hasDels = !dels.isEmpty
          // a fully EMPTY batch before any store exists is a no-op, not an
          // error (availableNow/no-data micro-batches are normal; review
          // catch: the old require killed the stream on one). NOTE: guard,
          // not `return` — a non-local return from a foreachBatch closure
          // throws at stream runtime.
          if (hasIndex || hasAdds || hasDels) {
          require(hasIndex || hasAdds,
            s"CDC batch $batchId deletes from a store that does not exist yet")
          // IDs ARE IDENTITIES, loudly: re-adding a tombstoned id would be
          // silently swallowed (every read folds the accumulated sidecar),
          // and re-using a live id would duplicate store rows — both are
          // upsert semantics this stream does not implement. Upstream CDC
          // emits content under fresh ids; the tombstone-collision half is
          // CHECKED here (the sidecar is small), the live-collision half
          // is the documented id-uniqueness contract.
          if (hasAdds && hasIndex)
            graft.ops.Stores.deleted(s, indexPath, "vec_id").foreach { dead =>
              val clash = adds.select(col("vec_id")).join(dead, Seq("vec_id"), "left_semi")
              require(clash.isEmpty,
                s"CDC batch $batchId re-adds tombstoned vec_id(s) " +
                  s"${clash.limit(5).as[Long].collect().mkString(", ")} — " +
                  "ids are permanent identities here; emit re-added content " +
                  "under a fresh id, or compact the store to retire the " +
                  "tombstones first")
            }
          if (hasAdds) {
            graft.ops.Stores.appendBatch(adds, batchId, embPath)
            graft.ops.Indexes.appendLshIndexIdempotent(adds, batchId, indexPath,
              bBits, lTables, dim, seed)
          }
          graft.ops.Stores.tombstone(indexPath, dels, "vec_id", Some(batchId))
          landGraphGeneration(s, embPath, graphPath, batchId) { (embAll, prev) =>
            val afterAdds = graft.ops.Indexes.knnGraphIncremental(embAll,
              indexPath, adds.select(col("vec_id")), prev, j)
            graft.ops.Indexes.knnGraphDelete(embAll, indexPath, dels, afterAdds, j)
          }
          }
        } finally b.unpersist(blocking = false)
      }
      .start()

  /** Streaming weighted sample — the continuous-ingest twin of
    * [[graft.ops.Curation.weightedSample]]: maintain each source's
    * current top-`k` A-ES sample across micro-batches in
    * `flatMapGroupsWithState`. Rows are scored with the IDENTICAL
    * [[graft.ops.Curation.aesScore]] columns the batch operator uses (a
    * pure function of doc_id and token count), and a top-k under a TOTAL
    * (key desc, doc_id asc) order is merge-order-independent — so after
    * ANY prefix of micro-batches the maintained state equals the batch
    * operator over exactly the rows ingested so far (EventStreamsSpec
    * asserts it per batch). The A-ES property this inherits: the sample
    * stays a without-replacement weighted sample of everything EVER seen,
    * using O(k) state per source — the streaming reservoir problem with
    * determinism.
    *
    * Each batch emits the group's full current sample tagged with a
    * per-group version; consumers keep the max-version rows per source
    * (update-mode sinks see every revision). Scale: state is k tuples per
    * source, the state store partitions by source exactly like the batch
    * operator's final exchange. */
  def weightedSampleStream(docs: DataFrame, k: Int)
      : Dataset[(String, Long, Long, Double, Long)] = {
    import docs.sparkSession.implicits._
    val (wgt, skey) = graft.ops.Curation.aesScore(col("doc_id"), col("text"))
    def round6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    docs.select(col("source"), col("doc_id"), wgt.as("w"), skey.as("skey"))
      .as[(String, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[(Double, Long, Double)]),
          (String, Long, Long, Double, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(String, Long, Double, Double)],
         state: GroupState[(Long, Seq[(Double, Long, Double)])]) =>
          val (ver0, cur) = state.getOption.getOrElse((0L, Seq.empty))
          val merged = (cur ++ rows.map(r => (r._4, r._2, r._3)))
            .sortBy { case (key, id, _) => (-key, id) }
            .take(k)
          val ver = ver0 + 1
          state.update((ver, merged))
          merged.iterator.map { case (key, id, w) =>
            (src, id, w.toLong, round6(key), ver)
          }
      }
  }

  /** Convenience: run the hourly-window stream over a directory to an
    * in-memory table and block until all currently-available files are
    * processed (complete mode: re-emits all windows each batch — used by
    * tests and local smoke runs; production sinks use append mode). */
  def runHourlyOnce(s: SparkSession, dir: String, tableName: String): Unit = {
    val q = hourlyWindowStream(readEvents(s, dir))
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(tableName)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
