package graft.tools

import java.io.{DataOutputStream, File, FileOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.SparkSession

/** Cross-scale probe for the MULTIMODAL dedup families (r15 VERDICT #4 /
  * r16 #4: the image family's scale claim was by analogy to the SimHash
  * banding; this measures it, store BUILD cost included — and the audio
  * family brings its own probe the round it registers).
  *
  * `MediaScaleProbe [smallN=300] [factor=10]` generates smallN and
  * smallN×factor synthetic images (PNG) and recordings (WAV) under
  * /tmp, with an engineered near-dup variant every 4th base file (the
  * fixture's genv_ convention at corpus scale), then times per scale:
  *
  *  - store build: `ensureImageHashIndex` / `ensureAudioHashIndex` on a
  *    FRESH index root (decode every payload, commit the hash store);
  *  - near-dup serving: banded Hamming self-join over the committed
  *    store ([[graft.ops.Dedup.hammingNearDups64]] — the
  *    q_image_near_dups / q_audio_near_dups path);
  *  - incremental serving: the variants as the arriving batch against
  *    the rest as the standing corpus (the _incr path).
  *
  * Timing is min-of-3 after an untimed warm pass (the Bench discipline).
  * Output: one line per (family, op, scale) with seconds, plus the ratio
  * table the round's SCALE_RATIOS artifact records. Dev/probe tool: the
  * generated corpora live under /tmp and are never committed. */
object MediaScaleProbe {

  /** splitmix64 finalizer — the probe needs per-file DECORRELATED
    * content: a shift-only seed (first attempt) made every image a
    * brightness-shifted copy of one pattern, and aHash is shift-
    * invariant BY DESIGN, so the corpus collapsed into accidental
    * near-dup cliques and the pair count exploded quadratically. */
  private def mix(z0: Long): Long = graft.ops.TextOps.mix64(z0)

  /** Probe pixel formula — hash mix over (seed, x, y, chan). */
  private def px(seed: Long, x: Int, y: Int, chan: Int): Int =
    (mix(seed * 4063 + x * 31L + y * 61261L + chan) & 0x7fffffffL).toInt % 251

  private def writePng(dir: File, name: String, seed: Long, w: Int, h: Int,
                       bump: Boolean): Unit = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = px(seed, x, y, 0) + (if (bump && x == 0 && y == 0) 3 else 0)
      img.setRGB(x, y, (r << 16) | (px(seed, x, y, 1) << 8) | px(seed, x, y, 2))
    }
    require(ImageIO.write(img, "png", new File(dir, name)), s"no writer: $name")
  }

  private def sampleOf(seed: Long, t: Int): Short =
    ((mix(seed * 7919 + t) & 0x7fffffffL) % 8192L).toShort

  private def writeWav(dir: File, name: String, seed: Long, n: Int,
                       gain: Int): Unit = {
    val o = new DataOutputStream(new FileOutputStream(new File(dir, name)))
    def le16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
    try {
      o.writeBytes("RIFF"); le32(36 + n * 2); o.writeBytes("WAVE")
      o.writeBytes("fmt "); le32(16); le16(1); le16(1); le32(8000)
      le32(16000); le16(2); le16(16)
      o.writeBytes("data"); le32(n * 2)
      var t = 0
      while (t < n) { le16((sampleOf(seed, t) * gain) & 0xffff); t += 1 }
    } finally o.close()
  }

  private def genCorpus(n: Int): (String, String) = {
    val imgDir = new File(s"/tmp/media_probe/img_$n")
    val audDir = new File(s"/tmp/media_probe/aud_$n")
    if (!new File(imgDir, "done").exists()) {
      imgDir.mkdirs(); audDir.mkdirs()
      (0 until n).foreach { i =>
        val (w, h) = (64 + i % 32, 48 + i % 24)
        writePng(imgDir, f"base_$i%06d.png", i.toLong, w, h, bump = false)
        if (i % 4 == 0)
          writePng(imgDir, f"genv_$i%06d.png", i.toLong, w, h, bump = true)
        val len = 800 + i % 400
        writeWav(audDir, f"base_$i%06d.wav", i.toLong, len, gain = 1)
        if (i % 4 == 0)
          writeWav(audDir, f"genv_$i%06d.wav", i.toLong, len, gain = 3)
      }
      new File(imgDir, "done").createNewFile()
    }
    (imgDir.toString, audDir.toString)
  }

  private def time3(warm: () => Unit): Double = {
    warm()
    (0 until 3).map { _ =>
      val t0 = System.nanoTime(); warm(); (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    val smallN = if (args.length > 0) args(0).toInt else 300
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = graft.engine.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-media-probe")
    import org.apache.spark.sql.functions._
    val results = scala.collection.mutable.ArrayBuffer[(String, Int, Double)]()

    // warm the binaryFile-scan + decode + commit paths on the committed
    // fixtures so the first timed build doesn't eat JVM/codegen warmup
    graft.ops.Indexes.ensureImageHashIndex(spark,
      graft.queries.PipelineQueries.imageFixtureDir)
    graft.ops.Indexes.ensureAudioHashIndex(spark,
      graft.queries.PipelineQueries.audioFixtureDir)

    for (n <- Seq(smallN, smallN * factor)) {
      val (imgDir, audDir) = genCorpus(n)
      // store BUILD on a fresh family (one-shot by nature: time the cold
      // ensure once — a rebuild on a fresh root each time would measure
      // the same decode+commit pass 3×; min-of-1 is the honest number)
      def freshBuild(label: String, ensure: () => String): String = {
        val t0 = System.nanoTime()
        val p = ensure()
        results += ((label, n, (System.nanoTime() - t0) / 1e9))
        p
      }
      val imgIdx = freshBuild("image_store_build",
        () => graft.ops.Indexes.ensureImageHashIndex(spark, imgDir))
      val audIdx = freshBuild("audio_store_build",
        () => graft.ops.Indexes.ensureAudioHashIndex(spark, audDir))

      def probe(label: String, body: () => Long): Unit = {
        results += ((label, n, time3(() => body())))
        println(s"  $label n=$n pairs=${body()}")
      }
      val imgSigs = graft.ops.Stores.live(spark, imgIdx, "name")
      val audSigs = graft.ops.Stores.live(spark, audIdx, "name")
      probe("image_near_dups", () => graft.ops.Dedup.hammingNearDups64(
        imgSigs, "name", Seq("ahash_hex" -> "ahash_hex"), 6, 8).count())
      probe("image_near_dups_incr", () => graft.ops.Dedup.hammingNearDups64(
        imgSigs.where(col("name").startsWith("genv_")), "name",
        Seq("ahash_hex" -> "ahash_hex"), 6, 8,
        corpus = Some(imgSigs.where(!col("name").startsWith("genv_")))).count())
      probe("audio_near_dups", () => graft.ops.Dedup.hammingNearDups64(
        audSigs, "name", Seq("ehash_hex" -> "ehash_hex"), 6, 8).count())
      probe("audio_near_dups_incr", () => graft.ops.Dedup.hammingNearDups64(
        audSigs.where(col("name").startsWith("genv_")), "name",
        Seq("ehash_hex" -> "ehash_hex"), 6, 8,
        corpus = Some(audSigs.where(!col("name").startsWith("genv_")))).count())
    }

    println("\n| op | small s | big s | ratio |")
    println("|---|---|---|---|")
    results.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (label, rs) =>
      val small = rs.find(_._2 == smallN).get._3
      val big = rs.find(_._2 == smallN * factor).get._3
      println(f"| $label | $small%.3f | $big%.3f | ${big / small}%.2f× |")
    }
    spark.stop()
  }
}
