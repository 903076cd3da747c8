package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, TextOps}

class DedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),          // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog"),        // near dup of 0
    (3L, "completely different text about spark and data"),
    (4L, "hi"),                                                   // < 3 words: whole-text fallback
    (5L, "hi"),                                                   // exact short dup of 4
  ).toDF("doc_id", "text")

  test("shingles: word 3-grams, whole-text fallback below 3 words") {
    // string layer: the n-gram construction itself
    val strSets = docs
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"), TextOps.shingleSetFromWords(col("w"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(strSets(0L).head === "the quick brown")
    assert(strSets(0L).size === 7)
    assert(strSets(4L) === Seq("hi")) // short docs keep ONE shingle, never vanish
    // hashed layer (what dedup stores/shuffles): same cardinality, and each
    // id is exactly the 48-bit md5 prefix of its string shingle
    val hashed = Dedup.shingleSets(docs, 3).select(col("doc_id"), col("sh").as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(hashed(0L).size === 7)
    def h48(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString, 16)
    assert(hashed(0L).toSet === strSets(0L).map(h48).toSet)
    assert(hashed(4L) === Seq(h48("hi")))
  }

  test("short exact dups survive the LSH path via the fallback shingle") {
    val pairs = Dedup.nearDupPairs(docs, 0.3).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((4L, 5L)))
  }

  test("exact dedup: stats and keep-first") {
    val st = Dedup.exactStats(docs).collect().head
    assert(st.getAs[Long]("n_docs") === 6 && st.getAs[Long]("n_unique") === 4)
    val kept = Dedup.dropExactDuplicates(docs).select("doc_id")
      .as[Long].collect().sorted
    assert(kept === Array(0L, 2L, 3L, 4L))  // docs 1,5 removed, min doc_id kept
  }

  test("survivors: one canonical doc per near-dup cluster, singletons kept") {
    // clusters from the fixture: {0,1,2} (exact+near dups), {4,5} (short
    // dups); doc 3 never pairs. Survivors = min of each cluster + singleton.
    val pairs = Dedup.nearDupPairs(docs, 0.3).select("doc_a", "doc_b")
    val kept = Dedup.survivors(docs, pairs).select("doc_id")
      .as[Long].collect().sorted
    assert(kept === Array(0L, 3L, 4L))
    // the survivor frame keeps the full row, not just ids
    assert(Dedup.survivors(docs, pairs).columns.toSeq === Seq("doc_id", "text"))
  }

  test("survivorsBy: priority elects the best copy, ties to the smallest id") {
    val pairs = Dedup.nearDupPairs(docs, 0.3).select("doc_a", "doc_b")
    // longest-text priority: cluster {0,1,2} keeps 2 ("sleepy" is one char
    // longer than "lazy"); {4,5} ties on length → smaller id 4; singleton 3.
    val byLen = Dedup.survivorsBy(docs, pairs,
        org.apache.spark.sql.functions.length(col("text")))
      .select("doc_id").as[Long].collect().sorted
    assert(byLen === Array(2L, 3L, 4L))
    // inverted priority flips the election inside clusters, never singletons
    val byNegLen = Dedup.survivorsBy(docs, pairs,
        -org.apache.spark.sql.functions.length(col("text")))
      .select("doc_id").as[Long].collect().sorted
    assert(byNegLen === Array(0L, 3L, 4L))
  }

  test("duplicated spans: cross-doc, within-doc, maximal merge, short docs drop") {
    val fixture = Seq(
      (1L, "p q r s t u v"),           // shares the 5-run "q r s t u" with 2
      (2L, "x q r s t u y"),
      (3L, "a b c d e a b c d e"),     // within-doc repeat: ranges touch → ONE span
      (4L, "m n o p q r"),             // exact dup pair: full-doc span
      (5L, "m n o p q r"),
      (6L, "one two")                  // < k tokens: no window, absent
    ).toDF("doc_id", "text")
    val spans = graft.ops.Dedup.duplicatedSpans(fixture, k = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans === Set(
      (1L, 1L, 5L, 1L), (2L, 1L, 5L, 1L),
      (3L, 0L, 9L, 2L), // [0,4] and [5,9] touch with zero tokens between
      (4L, 0L, 5L, 2L), (5L, 0L, 5L, 2L)))
  }

  test("connected components: chain, triangle, disjoint pair, min label wins") {
    // chain 1-2-3-4 (diameter 3, needs >1 round), triangle 10-11-12,
    // disjoint pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // the distributed pointer-jumping loop (forced via threshold 0) must
    // reach the identical fixpoint as the small-graph union-find path
    val distributed = Dedup.connectedComponents(edges, localEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed == got)
  }

  test("connected components: reliable-checkpoint mode gives identical labels") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      val local = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      val reliable = Dedup.connectedComponents(edges, graft.engine.Stage.Durable(dir))
        .as[(Long, Long)].collect().toMap
      assert(reliable === local)
      // the checkpoint files were really written to the reliable dir
      assert(new java.io.File(dir).listFiles().nonEmpty)
      // superseded rounds were reclaimed: only the FINAL labels' rdd-* dir
      // survives (it backs the returned frame); e0 and every intermediate
      // round were deleted on release.
      val rddDirs = new java.io.File(dir).listFiles().flatMap(uuidDir =>
        Option(uuidDir.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("rdd-")))
      assert(rddDirs.length === 1,
        s"expected 1 surviving checkpoint rdd dir, got: ${rddDirs.map(_.getName).mkString(",")}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("minhash LSH: exact dups always collide, distinct docs don't") {
    val pairs = Dedup.lshCandidatePairs(docs)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))            // identical signatures
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("near-dup pipeline: LSH+jaccard ⊆ all-pairs, finds planted pair") {
    val lsh = Dedup.nearDupPairs(docs, 0.3).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val all = Dedup.allPairsJaccard(docs, 0.3).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(all))
    assert(lsh.contains((0L, 1L)) && lsh.contains((0L, 2L)))
  }

  test("near-dup pipeline on fixture docs: LSH candidates ⊆ all-pairs at same threshold") {
    val fixture = graft.engine.Tables.documents(spark, sf)
    val lsh = Dedup.nearDupPairs(fixture, 0.3).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val all = Dedup.allPairsJaccard(fixture, 0.3).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(all))
    assert(lsh.nonEmpty)  // the fixtures contain planted near-dups
  }

  test("simhash: identical text → identical hash; near text → small hamming") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sh(0L) === sh(1L))
    val hamming = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    val hammingFar = java.lang.Long.bitCount(sh(0L) ^ sh(3L))
    assert(hamming < hammingFar)
  }

  test("simhash near-dups: finds exact pair within hamming 3") {
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash banding rejects parameters it cannot serve completely") {
    // one flipped bit in each of the four 15-bit chunks: distance 4, and
    // no chunk in common under 4 bands
    val base = 0x0123456789abcdeL
    val flipped = base ^ (1L << 0) ^ (1L << 15) ^ (1L << 30) ^ (1L << 45)
    val sigs = Seq((0L, base), (1L, flipped)).toDF("doc_id", "simhash")
    for ((maxH, bands) <- Seq((4, 4), (5, 4), (1, 0), (1, 61)))
      intercept[IllegalArgumentException] {
        Dedup.simhashNearDupsFromSigs(sigs, maxH, bands)
      }
    // with one more band a chunk matches, so the distance-4 pair is found
    val pairs = Dedup.simhashNearDupsFromSigs(sigs, maxHamming = 4, bands = 5)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs === Seq((0L, 1L, 4)))
  }

  test("NULL text: MinHash and SimHash see the SAME document universe") {
    // A NULL-text doc must normalize to '' on every dedup path — before the
    // fix, explode of a null words array silently dropped it from simhash
    // while the shingle fallback kept it in minhash.
    val withNull = docs.union(Seq((6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val minhashIds = Dedup.minhashSignatures(withNull)
      .select("doc_id").as[Long].collect().toSet
    val simhashIds = Dedup.simhash(withNull)
      .select("doc_id").as[Long].collect().toSet
    assert(minhashIds === simhashIds)
    assert(simhashIds.contains(6L))
    // NULL and '' are the same document content-wise: identical simhash.
    val sh = Dedup.simhash(withNull.union(Seq((7L, "")).toDF("doc_id", "text")))
      .as[(Long, Long)].collect().toMap
    assert(sh(6L) === sh(7L))
  }

  test("containment: a quoted subset pairs directionally even at tiny Jaccard") {
    val quote = "colorless green ideas sleep furiously every single night"
    val filler = (1 to 60).map(i => s"unique$i filler$i token$i").mkString(" ")
    val corpus = Seq(
      (0L, quote),                      // the short doc
      (1L, s"$filler $quote"),          // container: quote embedded in noise
      (2L, "entirely different content about boats and rivers flowing"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length === 1)
    val (a, b, inter, cab, cba) = got.head
    assert((a, b) === ((0L, 1L)))
    // every shingle of the quote appears in the container
    assert(cab === 1000000L, s"full containment expected, got $cab")
    // while the symmetric Jaccard is far below the near-dup threshold
    assert(inter.toDouble / (inter + 60 * 3) < 0.3)
    assert(cba < 100000L)
  }

  test("containment: all-common shingles are invisible (the stated recall bound)") {
    // 20 copies of the same text: every shingle has df 20 > dfCap 16
    val corpus = (0L until 20L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPairs(corpus, dfCap = 16).collect().isEmpty)
    // with the cap raised the exact dups pair at full mutual containment
    val relaxed = Dedup.containmentPairs(corpus, dfCap = 32)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(relaxed.length === 20 * 19 / 2)
    assert(relaxed.forall(r => r._4 === 1000000L && r._5 === 1000000L))
  }

  test("containment: parameter bounds fail loudly") {
    val df = Seq((0L, "a b c d")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Dedup.containmentPairs(df, thresholdFp = 0))
    intercept[IllegalArgumentException](Dedup.containmentPairs(df, dfCap = 1))
  }
}
