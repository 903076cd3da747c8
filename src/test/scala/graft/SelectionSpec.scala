package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Selection

/** DSIR importance resampling + temperature mixing ([[graft.ops.Selection]]):
  * the math contracts the oracle replay can't express — sign/ordering
  * semantics of the weights, Gumbel selection invariants, and the tempered
  * mixture's direction (alpha < 1 upsamples the tail). */
class SelectionSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val isTarget = col("source") === "tgt"

  /** Target = repeated natural phrase; raw pool has one doc sampled from
    * the target distribution and one junk doc sharing no n-grams. */
  private def corpus = Seq(
    (0L, "tgt", "the quick brown fox jumps over the lazy dog"),
    (1L, "tgt", "the quick brown fox naps under the lazy dog"),
    (2L, "tgt", "a quick brown fox runs past the lazy dog"),
    (10L, "raw", "the quick brown fox jumps over the lazy dog"),
    (11L, "raw", "zzz9 qqq8 vvv7 kkk6 jjj5 xxx4 yyy3 www2 uuu1"),
    (12L, "raw", "quick brown fox and lazy dog again and again")
  ).toDF("doc_id", "source", "text")

  test("importance weights rank in-distribution raw docs above junk") {
    val w = Selection.importanceWeightsQuantized(corpus, isTarget)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(w.keySet === Set(10L, 11L, 12L)) // target rows are never scored
    // the verbatim target clone outscores the partly-matching doc, which
    // outscores the out-of-distribution junk — and junk is net-negative
    // (its features live only in raw mass)
    assert(w(10L) > w(12L) && w(12L) > w(11L))
    assert(w(10L) > 0 && w(11L) < 0)
  }

  test("importance weights are a pure function of corpus content") {
    val a = Selection.importanceWeightsQuantized(corpus, isTarget)
      .as[(Long, String, Long)].collect().toSet
    val b = Selection.importanceWeightsQuantized(corpus, isTarget)
      .as[(Long, String, Long)].collect().toSet
    assert(a === b)
  }

  test("feature buckets stay inside [0, buckets)") {
    val bs = Selection.hashedFeatureBuckets(corpus, 64)
      .select(col("b")).as[Long].collect()
    assert(bs.nonEmpty && bs.forall(b => b >= 0 && b < 64))
    // unigrams + bigrams, bag counts: doc 0 has 9 words -> 9 + 8 features
    val n0 = Selection.hashedFeatureBuckets(corpus.where(col("doc_id") === 0), 64)
      .count()
    assert(n0 === 17)
  }

  test("gumbel top-k: k rows, distinct ids, keys strictly ordered, stable") {
    val sel = Selection.dsirSelect(corpus, isTarget, k = 2)
      .as[(Long, String, Long, Long)].collect()
    assert(sel.length === 2)
    assert(sel.map(_._1).distinct.length === 2)
    assert(sel.map(_._4).toSeq === sel.map(_._4).sorted(Ordering[Long].reverse))
    // the key adds doc-id-seeded Gumbel noise to the weight — re-running
    // selects the identical set (stateless sampling)
    val again = Selection.dsirSelect(corpus, isTarget, k = 2)
      .as[(Long, String, Long, Long)].collect()
    assert(sel.toSeq === again.toSeq)
    // k >= pool size degrades to "all raw docs, ranked"
    val all = Selection.dsirSelect(corpus, isTarget, k = 100).collect()
    assert(all.length === 3)
  }

  test("gumbel noise never produces infinities across the id space") {
    // u = (h48 + 1) / (2^48 + 1) is in the open interval even at the hash
    // extremes; probe the formula over a spread of ids
    val keys = Selection.dsirSelect(corpus, isTarget, k = 100)
      .select(col("kq")).as[Long].collect()
    assert(keys.forall(k => k != Long.MaxValue && k != Long.MinValue))
  }

  private def toyEmb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),     // query
    (1L, Array(0.99f, 0.1f, 0.0f)),    // best hit (rel ≈ .99494)
    (2L, Array(0.99f, 0.101f, 0.0f)),  // near-duplicate of 1 (sim ≈ 1)
    (3L, Array(0.9f, 0.0f, 0.436f)),   // diverse (rel = .9, sim(3,1) ≈ .895)
    (4L, Array(0.0f, 0.7f, 0.7f))      // very diverse, rel = 0
  ).toDF("vec_id", "embedding")

  test("mmr: diversity picks displace the near-duplicate; λ=1 is pure top-k") {
    // λ = 0.3 weighs diversity 7:3 — after picking 1, the orthogonal doc 4
    // (score ≈ 3·0 − 7·.071 = −.50) beats diverse-3 (≈ −3.57) which beats
    // the near-dup 2 (≈ 3·.9948 − 7·.99998 = −4.02): the near-dup is
    // squeezed out of the top-3 entirely
    val mmr = Selection.mmrRerank(toyEmb, queryId = 0L, nCandidates = 4,
      k = 3, lambdaTenths = 3)
      .select(col("rank"), col("vec_id")).as[(Long, Long)].collect().toSeq
    assert(mmr.map(_._2) === Seq(1L, 4L, 3L))
    val pure = Selection.mmrRerank(toyEmb, queryId = 0L, nCandidates = 4,
      k = 3, lambdaTenths = 10)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(pure === Seq(1L, 2L, 3L)) // relevance order, diversity ignored
  }

  test("mmr: ranks are 1..k, ids distinct, k beyond pool degrades gracefully") {
    val all = Selection.mmrRerank(toyEmb, queryId = 0L, nCandidates = 4,
      k = 10, lambdaTenths = 7)
      .select(col("rank"), col("vec_id")).as[(Long, Long)].collect().toSeq
    assert(all.map(_._1) === (1L to 4L))
    assert(all.map(_._2).distinct.length === 4)
    intercept[IllegalArgumentException] {
      Selection.mmrRerank(toyEmb, 0L, nCandidates = 1000, k = 10)
    }
  }

  test("stateless array-path scorer equals the exploded batch path doc-for-doc") {
    val model = Selection.dsirModel(corpus, isTarget)
    assert(model.length === Selection.DefaultBuckets) // every bucket present
    val exploded = Selection.importanceWeightsQuantized(corpus, isTarget)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    val stateless = Selection
      .dsirScoredStateless(corpus.where(!isTarget), model)
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().toMap
    assert(stateless === exploded)
  }

  test("stateless == exploded on the REAL fixture corpus (sf0.001)") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val tgt = col("source") === "src0"
    val model = Selection.dsirModel(docs, tgt)
    val exploded = Selection.importanceWeightsQuantized(docs, tgt)
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().toMap
    val stateless = Selection
      .dsirScoredStateless(docs.where(!tgt), model)
      .select(col("doc_id"), col("s")).as[(Long, Long)].collect().toMap
    assert(stateless === exploded)
    assert(stateless.nonEmpty)
  }

  test("stateless scorer is finite on features the training corpus never saw") {
    // deliberately UNBALANCED totals (tt=34 vs tr=17): the zero-count
    // bucket ratio ln((tr+B)/(tt+B)) is then strictly negative, so unseen
    // features must contribute — on the main `corpus` fixture the totals
    // tie exactly and the smoothed default is 0 by construction, which is
    // correct but proves nothing
    val train = Seq(
      (0L, "tgt", "the quick brown fox jumps over the lazy dog"),
      (1L, "tgt", "a quick brown fox runs past the lazy dog"),
      (2L, "raw", "zzz9 qqq8 vvv7 kkk6 jjj5 xxx4 yyy3 www2 uuu1")
    ).toDF("doc_id", "source", "text")
    val model = Selection.dsirModel(train, isTarget)
    val unseen = Seq((99L, "raw", "totallyunseen wordsoup zxqv blorp"))
      .toDF("doc_id", "source", "text")
    val s = Selection.dsirScoredStateless(unseen, model)
      .select(col("s")).as[Long].collect().head
    // all-unseen features read the smoothed zero-count buckets: finite,
    // raw-leaning (negative) because the target mass dominates the model
    assert(s < 0L && math.abs(s) < 100000000L)
  }

  test("mmr batch: per-query identity with the single-query operator") {
    val emb = toyEmb.union(Seq((5L, Array(0.7f, 0.7f, 0.1f)))
      .toDF("vec_id", "embedding"))
    val batch = Selection.mmrRerankBatch(emb, queryIds = Seq(0L, 5L),
      nCandidates = 4, k = 3, lambdaTenths = 3)
      .select(col("query_id"), col("rank"), col("vec_id"), col("rel"), col("mmr"))
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    for (q <- Seq(0L, 5L)) {
      val single = Selection.mmrRerank(emb, q, nCandidates = 4, k = 3,
        lambdaTenths = 3)
        .select(col("rank"), col("vec_id"), col("rel"), col("mmr"))
        .as[(Long, Long, Double, Double)].collect().toSeq
      assert(batch.filter(_._1 == q).map(r => (r._2, r._3, r._4, r._5)) === single,
        s"batch row set must equal the single operator for query $q")
    }
  }

  test("hard negatives: band membership exact, negative cut at k, order total") {
    val got = Selection.hardNegatives(toyEmb, queryId = 0L,
      posThreshold = 0.95, k = 1)
      .select(col("label"), col("vec_id")).as[(String, Long)].collect().toSeq
    // 1 and 2 sit in the ≥.95 positive band (cos ≈ .9949/.9948); the single
    // hard negative is the best scorer below it (3, cos = .9) — 4 (cos 0)
    // never surfaces
    assert(got === Seq(("pos", 1L), ("pos", 2L), ("hard_neg", 3L)))
    // k larger than the below-band pool returns all of it, positives first
    val all = Selection.hardNegatives(toyEmb, 0L, posThreshold = 0.95, k = 10)
      .select(col("label")).as[String].collect().toSeq
    assert(all === Seq("pos", "pos", "hard_neg", "hard_neg"))
  }

  test("k-center per cell: farthest-point order, exhausted cells stop early") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),    // cell 0 seed (min id)
      (2L, Array(0.95f, 0.31f)),  // near the seed
      (3L, Array(0.8f, 0.6f)),    // farthest from the seed within cell 0
      (4L, Array(0.0f, 1.0f)),    // cell 1 seed
      (5L, Array(0.5f, 0.87f))    // cell 1's only other member
    ).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
      .toDF("cell", "centroid")
    val got = Selection.kCenterPerCell(emb, cents, reps = 3)
      .select(col("cell"), col("rank"), col("vec_id"))
      .as[(Long, Long, Long)].collect().toSeq
    // cell 0: seed 1, then 3 (cos .8 → spread .2 beats 2's .049), then 2;
    // cell 1: seed 4, then 5 — and NO rank-3 row (cell exhausted)
    assert(got === Seq((0L, 1L, 1L), (0L, 2L, 3L), (0L, 3L, 2L),
      (1L, 1L, 4L), (1L, 2L, 5L)))
    // rank-1 rows carry no spread; later ranks do
    val spreads = Selection.kCenterPerCell(emb, cents, reps = 2)
      .select(col("rank"), col("spread")).as[(Long, Option[Double])].collect()
    assert(spreads.filter(_._1 == 1L).forall(_._2.isEmpty))
    assert(spreads.filter(_._1 == 2L).forall(_._2.exists(_ > 0.0)))
  }

  test("temperature mix: alpha=1 is proportional, alpha<1 lifts the tail") {
    val docs = (
      (0L until 90L).map(i => (i, "big", "w " * 40)) ++
      (0L until 10L).map(i => (100 + i, "small", "w " * 4))
    ).toDF("doc_id", "source", "text")
    val at1 = Selection.temperatureMix(docs, alpha = 1.0)
      .select(col("source"), col("p"), col("q"), col("boost"))
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // proportional: q == p (within the 1e-6 quantization), boost == 1
    assert(math.abs(at1("big")._3 - at1("big")._2) < 2e-6)
    assert(math.abs(at1("small")._4 - 1.0) < 2e-5)
    val at03 = Selection.temperatureMix(docs, alpha = 0.3)
      .select(col("source"), col("p"), col("q"), col("boost"))
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // tempering lifts the under-represented source and dampens the head
    assert(at03("small")._4 > 1.0 && at03("big")._4 < 1.0)
    assert(at03("small")._3 > at1("small")._3)
    // shares still sum to ~1
    assert(math.abs(at03.values.map(_._3).sum - 1.0) < 1e-5)
  }

  test("NULL-source docs count as RAW in both the model and the scored pool") {
    // the r18 self-review catch: the oracle's coalesced tgt scores a
    // NULL-source row as raw, so the Spark pool filter must keep it too
    val withNull = corpus.unionByName(
      Seq((20L, null.asInstanceOf[String], "quick brown fox and lazy dog"))
        .toDF("doc_id", "source", "text"))
    val w = Selection.importanceWeightsQuantized(withNull, isTarget)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(w === Set(10L, 11L, 12L, 20L),
      "a NULL-source doc must be scored as raw, not silently dropped")
    // and it participates in the model's raw counts (cr grows)
    val crWith = Selection.bucketCounts(withNull, isTarget, 64)
      .agg(sum(col("cr"))).as[Long].head()
    val crWithout = Selection.bucketCounts(corpus, isTarget, 64)
      .agg(sum(col("cr"))).as[Long].head()
    assert(crWith > crWithout)
  }

  test("cluster-tempered mix groups by LEARNED cells and lifts the tail cluster") {
    // 9 docs embed near axis x (cell 0), 1 near axis y (cell 1) — the
    // "web" source hides two latent domains the source label can't see
    val emb = ((0L until 9L).map(i => (i, Array(1.0f, 0.05f * i))) :+
      (9L, Array(0.1f, 1.0f))).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
      .toDF("cell", "centroid")
    val docs = (0L until 10L).map(i => (i, "web", "w " * 10))
      .toDF("doc_id", "source", "text")
    val m = Selection.clusterTemperatureMix(docs, emb, cents, alpha = 0.3)
      .select(col("cell"), col("n_docs"), col("boost"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(m.keySet === Set(0L, 1L))
    assert(m(0L)._2 === 9L && m(1L)._2 === 1L,
      "assignment must follow the learned geometry, not the source label")
    // tempering lifts the latent tail domain and dampens the head —
    // invisible to source-tempering (ONE source ⇒ boost ≡ 1)
    assert(m(1L)._3 > 1.0 && m(0L)._3 < 1.0)
    val bySource = Selection.temperatureMix(docs, alpha = 0.3)
      .select(col("boost")).as[Double].collect()
    assert(bySource.toSeq === Seq(1.0))
  }

  test("doremi reweighting: hard (high-excess-NLL) domains upweighted, weights sum to 1, η=0 is uniform") {
    val docs = (
      (0L until 4L).map(i => (i, "tgt", "the quick brown fox jumps over the lazy dog")) ++
      (10L until 14L).map(i => (i, "easy", "the quick brown fox jumps over the lazy dog")) ++
      (20L until 24L).map(i => (i, "hard", "zz9 qq8 vv7 kk6 jj5 xx4 yy3 ww2 uu1"))
    ).toDF("doc_id", "source", "text")
    val w = Selection.doremiWeights(docs, col("source") === "tgt", etaTenths = 10)
      .select(col("source"), col("excess"), col("w"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(w.keySet === Set("easy", "hard")) // target domain never weighted
    // the out-of-distribution domain carries the excess loss and the
    // larger weight — the DoReMi direction
    assert(w("easy")._2 === 0.0 && w("hard")._2 > 0.0)
    assert(w("hard")._3 > w("easy")._3)
    assert(math.abs(w.values.map(_._3).sum - 1.0) < 2e-6)
    // η = 0 degrades to the uniform mixture regardless of losses
    val u = Selection.doremiWeights(docs, col("source") === "tgt", etaTenths = 0)
      .select(col("w")).as[Double].collect()
    assert(u.toSeq === Seq(0.5, 0.5))
  }

  test("epoch allocation: linear branch yields the target exactly, decay branch reports the deficit") {
    // one dominant source (under 1 epoch at this budget) and one tail
    // source the tempered mix pushes far past 1 epoch
    val docs = ((1 to 50).map(i => (i.toLong, "big", "a b c d e f g h i j")) ++
      (1 to 2).map(i => (100L + i, "small", "a b c d e")))
      .toDF("doc_id", "source", "text")
    val out = Selection.epochAllocation(docs, budgetTokens = 500L, alpha = 0.5)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6))).toMap
    val (bigU, bigT, bigE, bigEff, bigDef) = out("big")
    val (smallU, smallT, smallE, smallEff, smallDef) = out("small")
    assert(bigU === 500L && smallU === 10L)
    // under one epoch the yield is exactly the target — no deficit
    assert(bigE <= 1.0 && bigEff === bigT && bigDef === 0L)
    // past one epoch the decay bites: effective < target, deficit names
    // exactly the gap — the "add data or rebalance" number
    assert(smallE > 1.0 && smallEff < smallT &&
      smallDef === smallT - smallEff)
    // repetition still yields MORE than the unique tokens alone
    assert(smallEff > smallU)
  }

  test("dsir model store: ensure == rebuild, append == rebuild, replay never double-counts") {
    val dir = java.nio.file.Files.createTempDirectory("dsir_store").toString
    corpus.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    val full = Selection.dsirModel(docs, isTarget)
    // committed ensure over the full corpus == the memoized rebuild,
    // EXACTLY — identical integer counts in, identical IEEE doubles out
    val p1 = graft.ops.Indexes.ensureDsirModelStore(spark, docs, dir, isTarget, "tgt")
    assert(graft.ops.Indexes.readDsirModel(spark, p1).toSeq === full.toSeq)
    // lifecycle generation: base counts + batch through the REAL append
    // path (second parquet file in the same table), merged at read ==
    // full-corpus rebuild — the append==rebuild proof the other committed
    // stores carry
    val base = docs.where(col("doc_id") <= 10)
    val batch = docs.where(col("doc_id") > 10)
    val p2 = graft.ops.Indexes.ensureLifecycleDsirModel(
      spark, base, batch, dir, isTarget, "tgt")
    assert(graft.ops.Indexes.readDsirModel(spark, p2).toSeq === full.toSeq)
    // idempotent streaming append: REPLAYING a batch_id rewrites its own
    // partition — the double-count a mergeable-counts store must never
    // absorb silently
    val p3 = s"$dir/stream_store"
    graft.ops.Indexes.appendDsirModelStoreIdempotent(base, isTarget, 0L, p3)
    graft.ops.Indexes.appendDsirModelStoreIdempotent(batch, isTarget, 1L, p3)
    graft.ops.Indexes.appendDsirModelStoreIdempotent(batch, isTarget, 1L, p3)
    assert(graft.ops.Indexes.readDsirModel(spark, p3).toSeq === full.toSeq)
    // compaction folds the batch lineage into generation batch 0:
    // read-equivalent, layout kept, one file
    val p4 = s"$dir/model_c0"
    graft.ops.Indexes.compact(spark, p3, p4)
    assert(graft.ops.Indexes.readDsirModel(spark, p4).toSeq === full.toSeq)
    // reading a store at the wrong width fails LOUDLY, never folds
    // silently (the totals would be summed over the wider universe)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Indexes.readDsirModel(spark, p4, buckets = 16)
    }
    assert(e.getMessage.contains("different width"))
    // the REVERSE mismatch — a store built NARROWER than the read width —
    // fails identically (r18 ADVICE: max-observed-id inference waves it
    // through and silently derives the wrong smoothing universe)
    val p5 = s"$dir/narrow_store"
    graft.ops.Indexes.appendDsirModelStoreIdempotent(
      base, isTarget, 0L, p5, buckets = 16)
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Indexes.readDsirModel(spark, p5) // default width
    }
    assert(e2.getMessage.contains("different width"))
    // a store whose batches disagree on the universe refuses to merge
    graft.ops.Indexes.appendDsirModelStoreIdempotent(
      batch, isTarget, 1L, p5, buckets = 32)
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.Indexes.readDsirModel(spark, p5, buckets = 16)
    }
    assert(e3.getMessage.contains("mixed widths"))
    // publishing a store with NO count rows is a no-op, not a crash (an
    // all-filtered first micro-batch leaves a schema-only store and must
    // not kill the fenced maintenance stream — self-review r19); readers
    // of the still-empty manifest keep the neutral prior
    val p6 = s"$dir/empty_store"
    graft.ops.Indexes.appendDsirModelStoreIdempotent(
      docs.where(lit(false)), isTarget, 0L, p6)
    assert(graft.ops.Indexes.publishDsirModelGeneration(
      spark, p6, s"$dir/empty_manifest", 0L).isEmpty)
    assert(graft.ops.Stores.currentGeneration(
      spark, s"$dir/empty_manifest").isEmpty,
      "an empty store must not publish a generation")
    // snapshot retirement is MANIFEST-DRIVEN, SCOPED to the .gen prefix,
    // grace-gated from the SUCCESSOR POINTER's mtime, and prunes retired
    // snapshots' pointer files (self-review r19, passes two AND three:
    // generic retirement would recursively delete a non-snapshot path
    // published through the same manifest; dir-mtime supersession let an
    // UNPUBLISHED crash orphan zero-grace-delete the current generation)
    val p7 = s"$dir/retire_store"
    val m7 = s"$dir/retire_manifest"
    // phase 1 — a GENEROUS grace: publishes sweep inline but nothing may
    // retire, including an UNPUBLISHED orphan (crash between snapshot
    // write and pointer flip), which must also never count as a
    // supersessor of anything
    val (g0, g1) = graft.ops.Stores.withGcGrace(60000L) {
      graft.ops.Indexes.appendDsirModelStoreIdempotent(base, isTarget, 0L, p7)
      val a = graft.ops.Indexes.publishDsirModelGeneration(spark, p7, m7, 0L)
      val orphan = new java.io.File(s"$p7.gen/b9-orphan00")
      assert(orphan.mkdirs())
      Thread.sleep(50) // distinct pointer mtimes order the supersession
      graft.ops.Indexes.appendDsirModelStoreIdempotent(batch, isTarget, 1L, p7)
      val b = graft.ops.Indexes.publishDsirModelGeneration(spark, p7, m7, 1L)
      assert(a.isDefined && new java.io.File(a.get).exists(),
        "inside the grace window a superseded snapshot must survive")
      assert(orphan.exists(), "inside the grace window the orphan survives")
      (a, b)
    }
    Thread.sleep(50)
    // phase 2 — grace 0, swept directly: g0's supersessor pointer is now
    // past the window → retired with its pointer files pruned; g1 is the
    // CURRENT generation → kept; the orphan is unreferenced and aged →
    // reclaimed; the mutable store is untouchable by construction
    graft.ops.Stores.withGcGrace(0L) {
      graft.ops.Stores.retireStoreSnapshots(spark, p7, m7)
      val live = new java.io.File(s"$p7.gen").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(!live.exists(n => g0.exists(_.endsWith(n))),
        s"the superseded snapshot must be reclaimed: $live")
      assert(g1.exists(g => live.exists(g.endsWith)),
        s"the current generation must survive every sweep: $live")
      assert(!live.contains("b9-orphan00"), s"orphan must be reclaimed: $live")
      assert(graft.ops.Stores.currentGeneration(spark, m7) === g1)
      assert(graft.ops.Indexes.readDsirModel(spark, p7).toSeq === full.toSeq)
      assert(graft.ops.Indexes.readDsirModel(spark,
        graft.ops.Stores.currentGeneration(spark, m7).get).toSeq === full.toSeq)
    }
    val compacted = spark.read.parquet(p4)
    assert(compacted.columns.contains("batch_id"),
      "compaction must keep the batch-addressed layout")
    assert(compacted.select(col("batch_id")).distinct().count() === 1)
  }
}
