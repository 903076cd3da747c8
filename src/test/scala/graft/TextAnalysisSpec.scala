package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Indexes, TextAnalysis}

class TextAnalysisSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("langId: stopword votes with deterministic ties") {
    val got = Seq(
      "the cat and the dog of the house",
      "der hund und die katze und der vogel",
      "le chat et la maison et le chien",
      "el gato y los perros y el sol",
      "zzz qqq xxx").toDF("text")
      .select(TextAnalysis.langId(col("text")).as("l")).as[String].collect()
    assert(got === Array("en", "de", "fr", "es", "other"))
  }

  test("token counting: whitespace and BPE-ish") {
    val row = Seq("Hello, world! x2").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("t"),
        TextAnalysis.bpeTokenCount(col("text")).as("b"))
      .as[(Int, Int)].collect().head
    assert(row._1 === 3)          // [hello,] [world!] [x2]
    assert(row._2 === 6)          // [hello][,][world][!][x][2]
  }

  test("quality score: in [0,1], longer clean text scores higher") {
    val q = Seq(
      ("good", "the cat and the dog of a house is in the garden " * 10),
      ("junk", "@@@ ### !!! %%% ^^^")).toDF("name", "text")
      .select(col("name"), TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(String, Double)].collect().toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q("good") > q("junk"))
  }

  test("tfidf top terms: rare terms outrank common ones, ties break on term") {
    // 4 docs; "the" appears in all (df=4), each doc has one unique term
    // (df=1). score = tf·N/df: doc 0's "alpha" scores 1·4/1 = 4, its
    // "the" (tf=2) scores 2·4/4 = 2 — the rare term must win rank 1.
    val docs = Seq(
      (0L, "the alpha the"),
      (1L, "the beta"),
      (2L, "the gamma"),
      (3L, "the delta")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(docs, k = 2)
      .as[(Long, String, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.sortBy(r => (-r._5, r._2)).map(r => (r._2, r._5)).toSeq
      }
    assert(top(0L) === Seq(("alpha", 4.0), ("the", 2.0)))
    assert(top(1L) === Seq(("beta", 4.0), ("the", 1.0)))
    assert(top.keySet === Set(0L, 1L, 2L, 3L))
  }

  test("bm25: hand-computed scores, rare term outranks, non-matches dropped") {
    // N=4, Σdl=10; df(cat)=2, df(fish)=1, so idf(cat)=ln 2, idf(fish)=ln 10/3.
    val docs = Seq(
      (0L, "cat dog cat"),
      (1L, "cat mouse"),
      (2L, "dog bird"),
      (3L, "fish fish fish")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, Seq("cat", "fish"), k = 3)
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq === Seq(3L, 0L, 1L), "rank order")
    val byId = got.map(r => r._1 -> r._3).toMap
    // doc 3: ln(10/3)·(3·2.2)/(3 + 1.2·(0.25+0.75·3·4/10))
    assert(math.abs(byId(3L) - 1.814272) < 1e-4)
    // doc 0: ln(2)·(2·2.2)/(2 + 1.38)
    assert(math.abs(byId(0L) - 0.902376) < 1e-4)
    // doc 1: ln(2)·2.2/(1 + 1.2·(0.25+0.75·2·4/10))
    assert(math.abs(byId(1L) - 0.754933) < 1e-4)
  }

  test("bm25: absent query term contributes exactly zero") {
    val docs = Seq((0L, "cat dog"), (1L, "cat cat")).toDF("doc_id", "text")
    val base = TextAnalysis.bm25TopK(docs, Seq("cat"), k = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val withGhost = TextAnalysis.bm25TopK(docs, Seq("cat", "zzzz"), k = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(base === withGhost, "df=0 term must not perturb any score")
  }

  test("bm25 batch: hand scores per query, duplicate collapse, absent terms") {
    val docs = Seq(
      (0L, "cat dog cat"),
      (1L, "cat mouse"),
      (2L, "dog bird"),
      (3L, "fish fish fish")).toDF("doc_id", "text")
    val qs = Seq(
      (0L, Seq("cat", "fish")),
      (1L, Seq("dog", "dog")),      // in-query duplicate collapses
      (2L, Seq("zzzz"))             // fully absent: no rows, not a crash
    ).toDF("query_id", "terms")
    val got = TextAnalysis.bm25TopKBatch(docs, qs, k = 3)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3)
        .sortBy { case (id, s) => (-s, id) }.toSeq).toMap
    // query 0 replays the single-query hand computation (same math,
    // integer-quantized fold — agreement to the 1e-6 grain)
    assert(got(0L).map(_._1) === Seq(3L, 0L, 1L))
    assert(math.abs(got(0L).head._2 - 1.814272) < 1e-4)
    assert(math.abs(got(0L)(1)._2 - 0.902376) < 1e-4)
    // query 1: duplicate 'dog' counts once — same scores as a dedup'd query
    val single = TextAnalysis.bm25TopKBatch(docs,
        Seq((9L, Seq("dog"))).toDF("query_id", "terms"), k = 3)
      .as[(Long, Long, Double)].collect().map(r => r._2 -> r._3).toSet
    assert(got(1L).toSet === single, "duplicate term must collapse")
    // query 2: absent everywhere → zero result rows for that query
    assert(!got.contains(2L))
    // cross-check against the fixture corpus: per-query scores agree with
    // the single-query operator within the quantization grain
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch0 = TextAnalysis.bm25TopKBatch(corpus,
        Seq((0L, Seq("vector", "stream", "merge", "quantum")))
          .toDF("query_id", "terms"), k = 25)
      .as[(Long, Long, Double)].collect().map(r => r._2 -> r._3).toMap
    val single0 = TextAnalysis.bm25TopK(corpus,
        Seq("vector", "stream", "merge", "quantum"), k = 25)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(batch0.keySet === single0.keySet,
      "batch-of-one must select the same top documents as the single op")
    batch0.foreach { case (id, s) =>
      assert(math.abs(s - single0(id)) <= 2e-6, s"doc $id: $s vs ${single0(id)}")
    }
  }

  test("inverted index: probe equals the corpus derivation; appends equal a rebuild") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val terms = Seq("vector", "stream", "merge", "quantum")
    val base = java.nio.file.Files.createTempDirectory("inv_idx").toString + "/idx"
    TextAnalysis.writeInvertedIndex(corpus, base)
    val got = TextAnalysis.bm25TopKIndexed(spark, base, terms, k = 25)
      .as[(Long, Double)].collect().toSeq
    // reference: the corpus-scanning batch operator with the IDENTICAL
    // fixed-point scoring (batch of one query) — scores must be EXACT
    val want = TextAnalysis.bm25TopKBatch(corpus,
        Seq((0L, terms)).toDF("query_id", "terms"), k = 25)
      .as[(Long, Long, Double)].collect().toSeq
      .sortBy { case (_, id, s) => (-s, id) }.map { case (_, id, s) => (id, s) }
    assert(got === want, "indexed probe must equal the corpus derivation exactly")
    // idempotent appends == rebuild, including a replayed batch
    val grown = java.nio.file.Files.createTempDirectory("inv_grow").toString + "/idx"
    TextAnalysis.appendInvertedIndexIdempotent(
      corpus.where(col("doc_id") % 2 === 0), 0L, grown)
    TextAnalysis.appendInvertedIndexIdempotent(
      corpus.where(col("doc_id") % 2 === 1), 1L, grown)
    TextAnalysis.appendInvertedIndexIdempotent(
      corpus.where(col("doc_id") % 2 === 1), 1L, grown) // replay: rewrites, never dups
    val gotGrown = TextAnalysis.bm25TopKIndexed(spark, grown, terms, k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(gotGrown === got, "append-grown index must answer like the rebuild")
    // compaction folds the batch partitions; probes identical, lineage gone
    val compacted = java.nio.file.Files.createTempDirectory("inv_compact")
      .toString + "/idx"
    Indexes.compact(spark, grown, compacted)
    // ONE unified layout: everything folds into generation batch 0, so a
    // compacted store keeps accepting streaming appends
    val gens = spark.read.parquet(s"$compacted/postings")
      .select(col("batch_id")).distinct().as[Long].collect().toSeq
    assert(gens === Seq(0L), s"compaction must fold to generation 0, got $gens")
    val gotCompacted = TextAnalysis.bm25TopKIndexed(spark, compacted, terms, k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(gotCompacted === got, "probe must survive compaction unchanged")
    // ...and a post-compaction append composes (the bootstrap-then-stream
    // lifecycle the unified layout exists for)
    TextAnalysis.appendInvertedIndexIdempotent(
      corpus.where(col("doc_id") < 0), 7L, compacted) // empty batch: layout-compatible
    val gotAfterAppend = TextAnalysis.bm25TopKIndexed(spark, compacted, terms, k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(gotAfterAppend === got)
  }

  test("inverted index delete lifecycle: tombstoned probes equal a survivor rebuild") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val terms = Seq("vector", "stream", "merge", "quantum")
    val del = corpus.where(col("doc_id") % 9 === 4).select(col("doc_id"))
    val base = java.nio.file.Files.createTempDirectory("inv_del").toString + "/idx"
    TextAnalysis.writeInvertedIndex(corpus, base)
    TextAnalysis.tombstoneInvertedIndex(spark, base, del)
    TextAnalysis.tombstoneInvertedIndex(spark, base, del) // replay: distinct fold
    val got = TextAnalysis.bm25TopKIndexed(spark, base, terms, k = 25)
      .as[(Long, Double)].collect().toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("inv_del_rb")
      .toString + "/idx"
    TextAnalysis.writeInvertedIndex(
      corpus.join(del, Seq("doc_id"), "left_anti"), rebuilt)
    val want = TextAnalysis.bm25TopKIndexed(spark, rebuilt, terms, k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(got === want,
      "tombstone-folded probe must equal a rebuild on the surviving corpus")
    // the batch probe folds the same sidecar
    val gotB = TextAnalysis.bm25TopKIndexedBatch(spark, base,
        Seq((0L, terms)).toDF("query_id", "terms"), k = 25)
      .as[(Long, Long, Double)].collect().toSeq.map(r => (r._2, r._3))
      .sortBy { case (id, s) => (-s, id) }
    assert(gotB === want)
    // compaction folds PHYSICALLY: no sidecar at dest, no deleted rows,
    // probe unchanged
    val compacted = java.nio.file.Files.createTempDirectory("inv_del_c")
      .toString + "/idx"
    Indexes.compact(spark, base, compacted)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$compacted.tombstones")))
    val delIds = del.as[Long].collect().toSet
    val left = spark.read.parquet(s"$compacted/postings")
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(left.intersect(delIds).isEmpty, "compaction must drop deleted postings")
    val dlLeft = spark.read.parquet(s"$compacted/doclens")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(dlLeft === left, "doclens must hold exactly the surviving docs")
    val gotC = TextAnalysis.bm25TopKIndexed(spark, compacted, terms, k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(gotC === want, "probe must survive physical delete folding")
    // idempotent streaming tombstones: replay rewrites its partition
    val grown = java.nio.file.Files.createTempDirectory("inv_del_s").toString + "/idx"
    TextAnalysis.appendInvertedIndexIdempotent(corpus, 0L, grown)
    TextAnalysis.tombstoneInvertedIndexIdempotent(spark, grown, del, 1L)
    TextAnalysis.tombstoneInvertedIndexIdempotent(spark, grown, del, 1L)
    val gotS = TextAnalysis.bm25TopKIndexed(spark, grown, terms, k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(gotS === want)
  }

  test("max-score pruned probe: byte-identical to the full read, candidate pushdown") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    // one selective term + two stop-word-adjacent ones: the pruning shape
    val terms = Seq("dup", "scan", "small")
    val base = java.nio.file.Files.createTempDirectory("inv_wand").toString + "/idx"
    TextAnalysis.writeInvertedIndex(corpus, base)
    val pruned = TextAnalysis.bm25TopKIndexedPruned(spark, base, terms,
      k = 10, k1 = 1.2, b = 0.75)
    assert(pruned.isDefined,
      "the pruned path must ENGAGE on the fixture (rare 'dup' + common rest)")
    val got = pruned.get.as[(Long, Double)].collect().toSeq
    val want = TextAnalysis.bm25TopKIndexedFull(spark, base, terms,
        k = 10, k1 = 1.2, b = 0.75, ts = None)
      .as[(Long, Double)].collect().toSeq
    assert(got === want, "pruning must be output-invisible")
    // the final fetch pushes candidate ids into the postings scan
    val p = pruned.get.queryExecution.executedPlan.toString
    assert(p.contains("In(doc_id") || p.contains("doc_id#"),
      s"candidate-id pushdown missing from the final fetch:\n$p")
    // an all-common query declines (falls back) rather than mis-pruning
    assert(TextAnalysis.bm25TopKIndexedPruned(spark, base,
      Seq("scan", "small"), k = 10, k1 = 1.2, b = 0.75).isEmpty)
    // and the public probe returns the same rows either way
    val pub = TextAnalysis.bm25TopKIndexed(spark, base, terms, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(pub === want)
  }

  test("batch max-score pruning: engages, byte-identical to the full batch read") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("inv_bwand").toString + "/idx"
    TextAnalysis.writeInvertedIndex(corpus, base)
    val qs = Seq(
      (0L, Seq("dup", "scan", "small")),
      (1L, Seq("dup", "merge", "vector")),
      (2L, Seq("dup", "stream", "part"))
    ).toDF("query_id", "terms")
    val pruned = TextAnalysis.bm25TopKIndexedBatchPruned(spark, base, qs,
      k = 10, k1 = 1.2, b = 0.75)
    assert(pruned.isDefined,
      "batch pruning must ENGAGE on the fixture (each query: rare 'dup' + common rest)")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
      .as[(Long, Long, Double)].collect().toSeq
    val got = rows(pruned.get)
    val want = rows(TextAnalysis.bm25TopKIndexedBatchFull(spark, base, qs,
      k = 10, k1 = 1.2, b = 0.75, ts = None))
    assert(got === want, "batch pruning must be output-invisible")
    // an all-common query in the batch declines the WHOLE batch
    // (all-or-nothing: a half-pruned batch loses the shared fetch)
    val qsBad = qs.union(Seq((3L, Seq("scan", "merge"))).toDF("query_id", "terms"))
    assert(TextAnalysis.bm25TopKIndexedBatchPruned(spark, base, qsBad,
      k = 10, k1 = 1.2, b = 0.75).isEmpty)
    // and the public batch probe returns identical rows either way
    assert(rows(TextAnalysis.bm25TopKIndexedBatch(spark, base, qs, k = 10)) === want)
  }

  test("RRF fusion: hand-computed ranks, one-sided docs, total order") {
    val lex = Seq((10L, 5.0), (11L, 4.0), (12L, 3.0)).toDF("doc_id", "score")
    val vec = Seq((11L, 0.9), (13L, 0.8)).toDF("doc_id", "cos")
    val got = TextAnalysis.hybridSearchRrf(lex, "score", vec, "cos", k = 10)
      .as[(Long, Double)].collect().toSeq
    def r6(d: Double) =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 11: rank 2 lexical + rank 1 vector; others one-sided
    val want = Seq(
      11L -> r6(1.0 / 62 + 1.0 / 61),
      10L -> r6(1.0 / 61),
      13L -> r6(1.0 / 62),
      12L -> r6(1.0 / 63))
    assert(got === want, s"got $got")
    // score ties break on doc_id: two docs at the same rank in disjoint
    // rankings fuse to the same rrf — order must still be total
    val lex2 = Seq((1L, 5.0)).toDF("doc_id", "score")
    val vec2 = Seq((2L, 0.9)).toDF("doc_id", "cos")
    val tied = TextAnalysis.hybridSearchRrf(lex2, "score", vec2, "cos", k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(tied === Seq(1L -> r6(1.0 / 61), 2L -> r6(1.0 / 61)))
  }

  test("batch RRF fusion equals per-query singles, including a lexical-only query") {
    val lex = Seq((0L, 10L, 5.0), (0L, 11L, 4.0), (1L, 20L, 9.0), (1L, 21L, 8.0),
        (2L, 30L, 1.0))
      .toDF("query_id", "doc_id", "score")
    val vec = Seq((0L, 11L, 0.9), (0L, 13L, 0.8), (1L, 21L, 0.7))
      .toDF("query_id", "doc_id", "cos")
    val got = TextAnalysis.hybridSearchRrfBatch(lex, "score", vec, "cos", k = 10)
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
      .as[(Long, Long, Double)].collect().toSeq
    val want = Seq(0L, 1L, 2L).flatMap { q =>
      TextAnalysis.hybridSearchRrf(
          lex.where(col("query_id") === q).select(col("doc_id"), col("score")),
          "score",
          vec.where(col("query_id") === q).select(col("doc_id"), col("cos")),
          "cos", k = 10)
        .as[(Long, Double)].collect().toSeq.map(r => (q, r._1, r._2))
    }
    assert(got === want, s"batch fusion must equal per-query singles: $got")
  }

  test("weighted fusion: hand-computed normalization, degenerate side, one-sided docs") {
    val lex = Seq((10L, 6.0), (11L, 4.0), (12L, 2.0)).toDF("doc_id", "score")
    val vec = Seq((11L, 0.9), (13L, 0.5)).toDF("doc_id", "cos")
    val got = TextAnalysis.hybridSearchWeighted(lex, "score", vec, "cos",
        k = 10, wLex = 0.5)
      .as[(Long, Double)].collect().toSeq
    // nl: 10→1.0, 11→0.5, 12→0.0; nv: 11→1.0, 13→0.0
    val want = Seq(11L -> 0.75, 10L -> 0.5, 12L -> 0.0, 13L -> 0.0)
    assert(got === want, s"got $got")
    // a one-row (degenerate) side normalizes to 1.0, not NaN
    val one = TextAnalysis.hybridSearchWeighted(
        Seq((1L, 3.3)).toDF("doc_id", "score"), "score",
        Seq((2L, 0.4)).toDF("doc_id", "cos"), "cos", k = 10, wLex = 0.5)
      .as[(Long, Double)].collect().toSeq
    assert(one === Seq(1L -> 0.5, 2L -> 0.5))
  }

  test("phrase search: anchors, multi-hit counts, no partial-window matches") {
    val docs = Seq(
      (0L, "a b c d a b c"), // "a b c" at anchors 0 and 4
      (1L, "a b x b c"),     // both windows present, never consecutive
      (2L, "b c a b"),       // windows in the wrong order
      (3L, "x y z")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("phrase").toString + "/idx"
    graft.ops.Decontamination.positionedWindows(docs, windowN = 2)
      .write.mode("overwrite").parquet(idx)
    val got = TextAnalysis.phraseSearch(spark, idx, Seq("a", "b", "c"), windowN = 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got === Seq((0L, 2L, 0)),
      s"only doc 0 contains the phrase, twice, first at 0 — got $got")
    // a single-window phrase degenerates to a positioned lookup
    val one = TextAnalysis.phraseSearch(spark, idx, Seq("b", "c"), windowN = 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(one === Seq((0L, 2L, 1L), (1L, 1L, 3L), (2L, 1L, 0L))
      .map { case (d, n, p) => (d, n, p.toInt) })
    // the BUCKETED serving layout (sb partition dirs, s-sorted files)
    // answers identically to the doc-ordered store — the r12 `weak` fix
    // changed the probe's layout, never its semantics
    val srv = java.nio.file.Files.createTempDirectory("phrase_srv").toString + "/idx"
    graft.ops.Decontamination.positionedWindows(docs, windowN = 2)
      .select(col("doc_id"), col("pos"), col("s"))
      .withColumn("sb", org.apache.spark.sql.functions.shiftright(col("s"),
        48 - graft.ops.Indexes.PosWinDirBits))
      .write.mode("overwrite").partitionBy("sb").parquet(srv)
    val gotSrv = TextAnalysis.phraseSearch(spark, srv, Seq("a", "b", "c"), windowN = 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(gotSrv === got, "serving layout must answer identically")
    val oneSrv = TextAnalysis.phraseSearch(spark, srv, Seq("b", "c"), windowN = 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(oneSrv === one)
    // the batch twin: one probe, per-phrase outputs identical to the
    // singles — including phrases of DIFFERENT window counts and a
    // window hash shared across phrases ("a b" appears in both)
    val batch = TextAnalysis.phraseSearchBatch(spark, srv, Seq(
        (7L, Seq("a", "b", "c")), (8L, Seq("b", "c")), (9L, Seq("a", "b"))),
        windowN = 2)
      .as[(Long, Long, Long, Int)].collect().toSeq
    def single(p: Seq[String]) =
      TextAnalysis.phraseSearch(spark, srv, p, windowN = 2)
        .as[(Long, Long, Int)].collect().toSeq
    val want = Seq(7L -> Seq("a", "b", "c"), 8L -> Seq("b", "c"),
        9L -> Seq("a", "b"))
      .flatMap { case (pid, p) => single(p).map(r => (pid, r._1, r._2, r._3)) }
    assert(batch === want, "batch phrase search must equal per-phrase singles")
  }

  test("source entropy + KL: hand-computed distributions") {
    val docs = Seq(
      (0L, "a a b", "srcA"),
      (1L, "a b c d", "srcB")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceEntropy(docs)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // srcA: {a:2, b:1}, T=3 → H = ln3 − (2·ln2)/3
    assert(got("srcA")._2 === 2L && got("srcA")._3 === 3L)
    assert(math.abs(got("srcA")._4 - 0.636514) < 1e-4)
    // KL(srcA‖corpus{a:3,b:2,c:1,d:1}) = (2·ln(14/9) + ln(7/6))/3
    assert(math.abs(got("srcA")._5 - 0.345939) < 1e-4)
    // srcB: uniform over 4 → H = ln 4
    assert(math.abs(got("srcB")._4 - 1.386294) < 1e-4)
    assert(math.abs(got("srcB")._5 - 0.111676) < 1e-4)
  }

  test("source entropy: repeat invocation over the same corpus runs ZERO jobs") {
    // VERDICT r12 #7: the eager leak fix re-ran the corpus pass per call;
    // the session memo (keyed on plan + content fingerprint) must make
    // the second call free. Counter assertion, not timing.
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    TextAnalysis.sourceEntropy(docs).count() // warm the memo
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val again = TextAnalysis.sourceEntropy(docs)
      Thread.sleep(1000) // listener events are async; the memo path is sync
      assert(jobs.get() === 0,
        s"memoized sourceEntropy must not launch a corpus job, saw ${jobs.get()}")
      assert(again.count() > 0) // the local frame still answers
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("source entropy: degenerate one-term source has entropy 0") {
    val docs = Seq((0L, "x x x x", "boiler"), (1L, "p q r", "varied"))
      .toDF("doc_id", "text", "source")
    val h = TextAnalysis.sourceEntropy(docs)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(h("boiler") === 0.0)
    assert(h("varied") > 1.0)
  }

  test("pmi pairs: hand-computed collocations, tie-broken lexically") {
    // unigrams a:3 b:2 c:1 (Nu=6); bigrams "a b":2 "b a":1 "a c":1 (Nb=4)
    val docs = Seq((0L, "a b a b"), (1L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiTopPairs(docs, k = 10, minCount = 1)
      .as[(String, String, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "a", 1L)))
    assert(math.abs(got(0)._4 - math.log(3.0)) < 1e-6)    // ln(2·36/(4·3·2))
    assert(math.abs(got(1)._4 - math.log(3.0)) < 1e-6)    // ln(1·36/(4·3·1))
    assert(math.abs(got(2)._4 - math.log(1.5)) < 1e-6)
    // minCount suppresses the singletons
    assert(TextAnalysis.pmiTopPairs(docs, k = 10, minCount = 2).count() === 1L)
  }

  test("fingerprint: whitespace-insensitive, case-insensitive") {
    val fps = Seq("The  quick\tfox", "the quick fox", "the quick cat")
      .toDF("text").select(TextAnalysis.fingerprint(col("text")).as("f"))
      .as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("prf expansion: feedback terms widen the query; equals the hand-composed pipeline") {
    val docs = Seq(
      (0L, "apple banana banana cherry"),
      (1L, "apple banana date"),
      (2L, "cherry date egg egg egg"),
      (3L, "banana fig fig")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("prf_idx").toString + "/idx"
    TextAnalysis.writeInvertedIndex(docs, base)
    val got = TextAnalysis.bm25PrfExpanded(spark, base, docs, Seq("apple"),
        k = 4, nFb = 2, nCand = 4, nExp = 1)
      .as[(Long, Double)].collect().toSeq
    // 'banana' dominates the feedback docs {0, 1} (tf_sum 3, weight
    // 3·4/3 = 4 vs cherry/date at 2) → expansion = [banana]; doc 3
    // (no seed term at all) enters the result through the expansion
    val want = TextAnalysis.bm25TopKIndexed(spark, base,
        Seq("apple", "banana"), k = 4)
      .as[(Long, Double)].collect().toSeq
    assert(got === want)
    assert(got.map(_._1).contains(3L))
  }

  test("prf expansion: seeds absent from the corpus fall back to the unexpanded probe") {
    val docs = Seq((0L, "cat dog"), (1L, "dog emu")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("prf_idx2").toString + "/idx"
    TextAnalysis.writeInvertedIndex(docs, base)
    assert(TextAnalysis.bm25PrfExpanded(spark, base, docs, Seq("zebra"))
      .collect().isEmpty)
  }

  test("fuzzy terms: complete for edit distance <= 1 against a brute-force scan") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("fuzzy").toString + "/idx"
    TextAnalysis.writeFuzzyTermIndex(corpus, base)
    val qterms = Seq("vectr", "quantom", "strem", "join", "zzzzz")
    val got = TextAnalysis.fuzzyMatchTerms(spark, base, qterms, k = 64)
      .as[(String, String, Long, Long)].collect().toSet
    // brute force: every vocabulary term within distance 1 of each query
    val vocab = corpus
      .select(col("doc_id"), org.apache.spark.sql.functions.explode(
        graft.ops.TextOps.wordsSafe(col("text"))).as("term"))
      .distinct().groupBy("term").count()
      .as[(String, Long)].collect()
    val want = (for {
      q <- qterms; (t, df) <- vocab
      d = editDistance(q, t) if d <= 1
    } yield (q, t, d.toLong, df)).toSet
    assert(want.groupBy(_._1).values.forall(_.size <= 64),
      "fixture assumption: every neighborhood fits under the k cut")
    assert(got === want)
    assert(!got.exists(_._1 == "zzzzz"), "no vocabulary term within 1 of zzzzz")
    assert(got.exists(r => r._1 == "join" && r._2 == "join" && r._3 == 0L),
      "exact term must match at distance 0")
  }

  test("fuzzy terms: deletion variants match the Column expression exactly") {
    val terms = Seq("a", "ab", "vector", "zzzzz", "aab")
    val got = terms.toDF("term")
      .select(col("term"), TextAnalysis.deletionVariants(col("term")).as("v"))
      .as[(String, Seq[String])].collect().toMap
    terms.foreach { t =>
      assert(got(t) === TextAnalysis.deletionVariantsLocal(t), s"term $t")
    }
  }

  private def editDistance(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("fuzzy bm25: corrections route to the indexed probe; nothing-corrects is empty") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val fz = java.nio.file.Files.createTempDirectory("fzq").toString + "/idx"
    val inv = java.nio.file.Files.createTempDirectory("fzinv").toString + "/idx"
    TextAnalysis.writeFuzzyTermIndex(corpus, fz)
    TextAnalysis.writeInvertedIndex(corpus, inv)
    // vectr->vector, strem->stream, mergee->merge; zzzzz drops
    val got = TextAnalysis.bm25FuzzyTopK(spark, fz, inv,
        Seq("vectr", "strem", "mergee", "zzzzz"), k = 25)
      .as[(Long, Double)].collect().toSeq
    val want = TextAnalysis.bm25TopKIndexed(spark, inv,
        Seq("merge", "stream", "vector"), k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(got === want)
    assert(TextAnalysis.bm25FuzzyTopK(spark, fz, inv, Seq("zzzzz"))
      .collect().isEmpty)
  }

  test("filtered bm25 batch: per-query identity with the single filtered probe") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val inv = java.nio.file.Files.createTempDirectory("bm25fb").toString + "/idx"
    TextAnalysis.writeInvertedIndex(corpus, inv)
    val eligible = corpus.where(col("doc_id") % 2 === 0).select(col("doc_id"))
    val qs = Seq((0L, Seq("vector", "stream")), (1L, Seq("join", "merge")),
      (2L, Seq("quantum"))).toDF("query_id", "terms")
    val got = TextAnalysis.bm25TopKIndexedBatch(spark, inv, qs, k = 10,
        eligible = Some(eligible))
      .as[(Long, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))
        .sortBy(r => (-r._2, r._1))).toMap
    Seq(0L -> Seq("vector", "stream"), 1L -> Seq("join", "merge"),
      2L -> Seq("quantum")).foreach { case (q, terms) =>
      val single = TextAnalysis.bm25TopKIndexed(spark, inv, terms, k = 10,
          eligible = Some(eligible))
        .as[(Long, Double)].collect().toSeq
      assert(got.getOrElse(q, Seq.empty) === single, s"query $q")
      assert(single.forall(_._1 % 2 == 0))
    }
  }

  test("filtered bm25: global statistics, eligibility is only a candidate cut") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val inv = java.nio.file.Files.createTempDirectory("bm25f").toString + "/idx"
    TextAnalysis.writeInvertedIndex(corpus, inv)
    val terms = Seq("vector", "stream", "merge")
    val eligible = corpus.where(col("doc_id") % 2 === 0).select(col("doc_id"))
    val got = TextAnalysis.bm25TopKIndexed(spark, inv, terms, k = 25,
        eligible = Some(eligible)).as[(Long, Double)].collect().toSeq
    // scores must be the UNFILTERED scores (global df/scalars): the
    // filtered ranking is exactly the full ranking restricted to
    // eligible docs, re-cut to k
    val want = TextAnalysis.bm25TopKIndexed(spark, inv, terms, k = 1000)
      .as[(Long, Double)].collect().toSeq
      .filter(_._1 % 2 == 0).take(25)
    assert(got === want)
    assert(got.nonEmpty && got.forall(_._1 % 2 == 0))
  }

  test("fuzzy correction: tombstoned store equals rebuild-on-survivors (r13 gap)") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val fz = java.nio.file.Files.createTempDirectory("fzdel").toString + "/idx"
    val inv = java.nio.file.Files.createTempDirectory("fzdel_inv").toString + "/idx"
    TextAnalysis.writeFuzzyTermIndex(corpus, fz)
    TextAnalysis.writeInvertedIndex(corpus, inv)
    // kill EVERY doc containing "vector": build-time df still ranks it
    // first for the typo "vectr" — the r13 silent recall hole
    val dead = corpus.where(org.apache.spark.sql.functions.array_contains(
      graft.ops.TextOps.wordsSafe(col("text")), "vector")).select(col("doc_id"))
    assert(dead.count() > 0, "fixture must contain the target term")
    TextAnalysis.tombstoneInvertedIndex(spark, inv, dead)
    val survivors = corpus.join(dead, Seq("doc_id"), "left_anti")
    val fz2 = java.nio.file.Files.createTempDirectory("fzdel2").toString + "/idx"
    val inv2 = java.nio.file.Files.createTempDirectory("fzdel2_inv").toString + "/idx"
    TextAnalysis.writeFuzzyTermIndex(survivors, fz2)
    TextAnalysis.writeInvertedIndex(survivors, inv2)
    val qterms = Seq("vectr", "vector", "strem", "join")
    val got = TextAnalysis.fuzzyMatchTerms(spark, fz, qterms, k = 64,
        tombstonesFrom = Some(inv))
      .as[(String, String, Long, Long)].collect().toSet
    val want = TextAnalysis.fuzzyMatchTerms(spark, fz2, qterms, k = 64)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === want,
      "folded corrections (including surviving df) must equal the rebuild")
    assert(!got.exists(_._2 == "vector"),
      "a term surviving only in deleted docs must stop being a correction target")
    // end to end: the typo now lands on the best LIVE neighbor
    val e2eGot = TextAnalysis.bm25FuzzyTopK(spark, fz, inv, Seq("vectr"), k = 25)
      .as[(Long, Double)].collect().toSeq
    val e2eWant = TextAnalysis.bm25FuzzyTopK(spark, fz2, inv2, Seq("vectr"), k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(e2eGot === e2eWant)
  }

  test("prf batch: per-query identity with the single-query operator") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("prf_batch").toString + "/idx"
    TextAnalysis.writeInvertedIndex(corpus, base)
    val panel = Seq(
      (0L, Seq("vector", "quantum")),
      (1L, Seq("stream", "merge")),
      (2L, Seq("zebra"))) // no hits: per-query seed fallback engages
    val got = TextAnalysis.bm25PrfExpandedBatch(spark, base, corpus, panel, k = 10)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3).sortBy { case (id, s) => (-s, id) }.toSeq)
      .toMap
    panel.foreach { case (q, seeds) =>
      val single = TextAnalysis.bm25PrfExpanded(spark, base, corpus, seeds, k = 10)
        .as[(Long, Double)].collect().toSeq
      assert(got.getOrElse(q, Seq.empty) === single, s"query $q")
    }
  }

  test("prf expansion: tombstoned store equals rebuild-on-survivors end to end") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val seeds = Seq("vector", "quantum")
    val base = java.nio.file.Files.createTempDirectory("prf_del").toString + "/idx"
    TextAnalysis.writeInvertedIndex(corpus, base)
    // delete the top feedback doc so the fold engages in EVERY stage:
    // feedback ranking, candidate df, scalar correction, final scoring
    val top = TextAnalysis.bm25TopKIndexed(spark, base, seeds, k = 1)
      .as[(Long, Double)].collect().head._1
    TextAnalysis.tombstoneInvertedIndex(spark, base, Seq(top).toDF("doc_id"))
    val survivors = corpus.where(col("doc_id") =!= top)
    val rebuilt = java.nio.file.Files.createTempDirectory("prf_del2").toString + "/idx"
    TextAnalysis.writeInvertedIndex(survivors, rebuilt)
    val got = TextAnalysis.bm25PrfExpanded(spark, base, corpus, seeds, k = 25)
      .as[(Long, Double)].collect().toSeq
    val want = TextAnalysis.bm25PrfExpanded(spark, rebuilt, survivors, seeds, k = 25)
      .as[(Long, Double)].collect().toSeq
    assert(got === want)
    assert(!got.map(_._1).contains(top))
  }
}
