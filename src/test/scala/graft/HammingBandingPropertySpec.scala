package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Property tests for the 64-bit banded Hamming blocking: pigeonhole
  * completeness (banded == brute force whenever maxHamming < bands)
  * must hold for ARBITRARY signature sets and band shapes, not just the
  * 26-image fixture — it is the claim that makes the banding pure
  * blocking rather than a recall trade. Generators are seed-fixed (no
  * scalatest-scalacheck bridge in the offline cache), and signatures
  * are biased toward SHARED PREFIXES so near pairs actually occur. */
class HammingBandingPropertySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** Cluster-shaped corpus: a few base hashes, each with several
    * low-bit-flip variants (near pairs) plus uniform noise rows. */
  private val sigsGen: Gen[List[Long]] = for {
    bases <- Gen.listOfN(6, Gen.choose(Long.MinValue, Long.MaxValue))
    variants <- Gen.listOfN(30, for {
      b <- Gen.oneOf(bases)
      nFlips <- Gen.choose(0, 9)
      bits <- Gen.listOfN(nFlips, Gen.choose(0, 63))
    } yield bits.foldLeft(b)((h, i) => h ^ (1L << i)))
    noise <- Gen.listOfN(20, Gen.choose(Long.MinValue, Long.MaxValue))
  } yield bases ++ variants ++ noise

  /** The generator's hashes plus rotated near-copies: a few hashes come
    * back rotated by 16·k bits with a few flips — the shape of a rotated
    * image re-encode — so the cross distance pairs rows the plain
    * distance keeps apart. */
  private val rotSigsGen: Gen[List[Long]] = for {
    hs <- sigsGen
    copies <- Gen.listOfN(10, for {
      h <- Gen.oneOf(hs)
      k <- Gen.choose(1, 3)
      nFlips <- Gen.choose(0, 4)
      bits <- Gen.listOfN(nFlips, Gen.choose(0, 63))
    } yield bits.foldLeft(java.lang.Long.rotateLeft(h, 16 * k))((x, i) => x ^ (1L << i)))
  } yield hs ++ copies

  /** Each row carries its hash and the hash's three 16-bit rotations,
    * one hex column each — the image store's per-rotation columns. */
  private val hexCols = Seq("ahash_hex", "r90_hex", "r180_hex", "r270_hex")
  private val plain = Seq("ahash_hex" -> "ahash_hex")
  private val cross =
    hexCols.flatMap(v => Seq("ahash_hex" -> v, v -> "ahash_hex")).distinct

  private def rows(hs: Seq[Long]): Seq[(String, Seq[Long])] =
    hs.zipWithIndex.map { case (h, i) =>
      f"s$i%04d" -> (0 to 3).map(k => java.lang.Long.rotateLeft(h, 16 * k))
    }

  private def frame(rs: Seq[(String, Seq[Long])]) =
    rs.map { case (n, v) =>
      (n, f"${v(0)}%016x", f"${v(1)}%016x", f"${v(2)}%016x", f"${v(3)}%016x")
    }.toDF("name" +: hexCols: _*)

  /** Brute force: min over `channels` of H(left's x, right's y) for each
    * (left, right) pair, kept within maxH. */
  private def brute(pairs: Seq[((String, Seq[Long]), (String, Seq[Long]))],
                    channels: Seq[(String, String)], maxH: Int) =
    pairs.map { case ((a, ha), (b, hb)) =>
      (a, b, channels.map { case (x, y) =>
        java.lang.Long.bitCount(ha(hexCols.indexOf(x)) ^ hb(hexCols.indexOf(y)))
      }.min.toLong)
    }.filter(_._3 <= maxH).toSet

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  private val cases = Seq(("plain", sigsGen, plain), ("cross", rotSigsGen, cross))

  test("banded == brute force for every maxHamming < bands (self-join)") {
    var crossOnly = 0
    for ((label, gen, channels) <- cases; seed <- 1L to 5L) {
      val rs = rows(sample(gen, seed).distinct)
      val bands = sample(Gen.oneOf(2, 4, 8, 16), seed + 50)
      val maxH = sample(Gen.choose(0, bands - 1), seed + 90)
      val got = triples(
        Dedup.hammingNearDups64(frame(rs), "name", channels, maxH, bands))
      val pairs =
        for (i <- rs.indices; j <- (i + 1) until rs.length) yield (rs(i), rs(j))
      val want = brute(pairs, channels, maxH)
      assert(got === want, s"$label seed=$seed bands=$bands maxH=$maxH")
      if (label == "cross") crossOnly += want.size - brute(pairs, plain, maxH).size
    }
    assert(crossOnly > 0, "the rotated copies must pair under the cross distance only")
  }

  test("multi-channel banded == min-over-channels brute force; mixed sentinels pair on the shared channel") {
    // property sweep: two channels derived from the generator's hashes
    for (seed <- 21L to 24L) {
      val hs = sample(sigsGen, seed).distinct
      val sigs = hs.zipWithIndex.map { case (h, i) =>
        (f"s$i%04d", h, java.lang.Long.rotateLeft(h, 17) ^ 0x5aL)
      }
      val df = sigs.map { case (n, h1, h2) => (n, f"$h1%016x", f"$h2%016x") }
        .toDF("name", "x1", "x2")
      val maxH = sample(Gen.choose(0, 7), seed + 90)
      val got = triples(
        Dedup.hammingNearDups64(df, "name", Seq("x1" -> "x1", "x2" -> "x2"), maxH))
      val want = (for {
        i <- sigs.indices; j <- (i + 1) until sigs.length
        d = math.min(
          java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2),
          java.lang.Long.bitCount(sigs(i)._3 ^ sigs(j)._3)).toLong
        if d <= maxH
      } yield (sigs(i)._1, sigs(j)._1, d)).toSet
      assert(got === want, s"seed=$seed maxH=$maxH")
    }

    // the mixed-sentinel contract: a row comparable on ONE channel still
    // pairs on that channel; rows with no shared comparable channel never
    // pair
    val h = 0x0123456789abcdefL
    val k = 0x00ff00ff00ff00ffL
    val df = Seq(
      ("a", f"$h%016x", ""),          // channel-1 only
      ("b", f"$h%016x", f"$k%016x"), // both channels
      ("c", "", f"$k%016x")           // channel-2 only
    ).toDF("name", "x1", "x2")
    val got = triples(
      Dedup.hammingNearDups64(df, "name", Seq("x1" -> "x1", "x2" -> "x2"), 6))
    assert(got === Set(("a", "b", 0L), ("b", "c", 0L)),
      s"mixed-sentinel pairs must report on the shared channel only: $got")
  }

  test("multi-channel incremental == directional brute force; mixed sentinel pairs directionally") {
    for (seed <- 31L to 33L) {
      val hs = sample(sigsGen, seed).distinct
      val sigs = hs.zipWithIndex.map { case (h, i) =>
        (f"s$i%04d", h, java.lang.Long.rotateLeft(h, 23) ^ 0x33L)
      }
      val (batch, corpus) = sigs.partition(_._1.stripPrefix("s").toInt % 4 == 0)
      def frame(xs: Seq[(String, Long, Long)]) =
        xs.map { case (n, h1, h2) => (n, f"$h1%016x", f"$h2%016x") }
          .toDF("name", "x1", "x2")
      val maxH = sample(Gen.choose(0, 7), seed + 90)
      val got = triples(Dedup.hammingNearDups64(frame(batch), "name",
        Seq("x1" -> "x1", "x2" -> "x2"), maxH, corpus = Some(frame(corpus))))
      val want = (for {
        (bn, b1, b2) <- batch; (cn, c1, c2) <- corpus
        d = math.min(java.lang.Long.bitCount(b1 ^ c1),
          java.lang.Long.bitCount(b2 ^ c2)).toLong
        if d <= maxH
      } yield (bn, cn, d)).toSet
      assert(got === want, s"seed=$seed maxH=$maxH")
    }

    // mixed sentinel, directionally: the batch row is channel-2-only,
    // the corpus rows channel-1-only and both-channels
    val h = 0x0f0f0f0f0f0f0f0fL
    val k = 0xfedcba9876543210L
    val batch = Seq(("n", "", f"$k%016x")).toDF("name", "x1", "x2")
    val corpus = Seq(
      ("c1", f"$h%016x", ""),          // no shared channel with the batch
      ("c2", f"$h%016x", f"$k%016x")  // pairs via channel 2
    ).toDF("name", "x1", "x2")
    val got = triples(Dedup.hammingNearDups64(batch, "name",
      Seq("x1" -> "x1", "x2" -> "x2"), 6, corpus = Some(corpus)))
    assert(got === Set(("n", "c2", 0L)),
      s"directional mixed-sentinel must pair only on the shared channel: $got")
  }

  test("incremental banded == brute force restricted to batch×corpus") {
    var crossOnly = 0
    for ((label, gen, channels) <- cases; seed <- 11L to 14L) {
      val rs = rows(sample(gen, seed).distinct)
      val (batch, corpus) = rs.partition(_._1.stripPrefix("s").toInt % 5 == 0)
      val maxH = sample(Gen.choose(0, 7), seed + 90)
      val got = triples(Dedup.hammingNearDups64(frame(batch), "name",
        channels, maxH, corpus = Some(frame(corpus))))
      val pairs = for (b <- batch; c <- corpus) yield (b, c)
      val want = brute(pairs, channels, maxH)
      assert(got === want, s"$label seed=$seed maxH=$maxH")
      if (label == "cross") crossOnly += want.size - brute(pairs, plain, maxH).size
    }
    assert(crossOnly > 0, "the rotated copies must pair under the cross distance only")
  }
}
