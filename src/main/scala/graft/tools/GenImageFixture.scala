package graft.tools

import java.awt.image.BufferedImage
import java.io.File
import javax.imageio.ImageIO

import org.apache.spark.sql.SparkSession

/** One-shot fixture generator for the real image-decode path (run via
  * `sbt "runMain graft.tools.GenImageFixture"`; output is committed).
  *
  * Writes two artifacts under `fixtures/`:
  *  - `images/gen_NN.png` — deterministic synthetic RGB PNGs whose pixel
  *    values follow a closed-form formula;
  *  - `image_manifest.parquet` — the ground-truth (name, width, height,
  *    n_pixels, sum_r, sum_g, sum_b, ahash_hex, dhash_hex) per image.
  *
  * The manifest's channel sums are computed ANALYTICALLY from the formula
  * (plain integer loops — no image object, no codec), so the oracle for
  * `q_image_decode` is independent of the decoder under test: PNG is
  * lossless, so `Multimodal.decodeImages` (ImageIO) must reproduce the
  * formula's sums exactly or the decode is wrong. Any pre-existing
  * `plot_*.png` files in the images dir (real-world charts, committed
  * separately) are also manifested: width/height parsed straight from the
  * PNG IHDR header bytes (codec-independent) and REQUIRED to match ImageIO,
  * channel sums frozen from a one-time decode (regression pinning).
  *
  * Near-dup engineering:
  *  - `genv_NN.png` — one corner pixel's red +3: different bytes, aHash
  *    within Hamming 1 of its original (the exact-group/near-dup case);
  *  - `genb_00_base.png` / `genb_00_ramp.png` — the SAME image without and
  *    with a vertical brightness ramp (+0..+72 per row, clamp-free by
  *    construction): the generator REQUIRES aHash to MISS the pair
  *    (Hamming > 6 — global-mean comparison breaks under a brightness
  *    field) and dHash to CATCH it at Hamming 0 (horizontal gradient signs
  *    are exactly invariant to any per-row brightness shift) — the case
  *    that justifies carrying both fingerprints.
  */
object GenImageFixture {

  /** The synthetic pixel formula (shared with the analytic sums). */
  def rgb(i: Int, x: Int, y: Int): (Int, Int, Int) =
    ((x * 3 + y * 5 + i * 11) % 256, (x * 7 + y * 2 + i * 13) % 256,
      (x + y + i * 29) % 256)

  /** Ramp-pair base formula: channels < 180, so a +72 ramp never clamps. */
  def rgbB(x: Int, y: Int): (Int, Int, Int) =
    ((x * 3 + y * 5) % 180, (x * 7 + y * 2 + 13) % 180, (x + y + 29) % 180)

  /** Factor-2 box-filter resize ground truth ([[graft.ops.Multimodal
    * .resizeImages]]): per output pixel, floor(2×2 block sum / 4) per
    * channel; partial edge blocks dropped. Runs on any (x, y) → (r, g, b)
    * source — the formula for synthetic images, the decoded pixel array
    * for the real charts — with no image object. */
  def resized2Sums(w: Int, h: Int,
                   rgbAt: (Int, Int) => (Int, Int, Int)): (Long, Long, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (yy <- 0 until h / 2; xx <- 0 until w / 2) {
      var (br, bg, bb) = (0L, 0L, 0L)
      for (dy <- 0 until 2; dx <- 0 until 2) {
        val (r, g, b) = rgbAt(xx * 2 + dx, yy * 2 + dy)
        br += r; bg += g; bb += b
      }
      sr += br / 4; sg += bg / 4; sb += bb / 4
    }
    (sr, sg, sb)
  }

  def main(args: Array[String]): Unit = {
    val imagesDir = new File("fixtures/images")
    imagesDir.mkdirs()

    // variant images (near-dup fixtures for the perceptual-hash path):
    // the SAME formula with one corner pixel's red +3 — different file
    // bytes, perceptually identical content. The +3 never clamps for
    // i < 4 (r(0,0,i) = 11·i ≤ 33).
    def variantBump(i: Int, x: Int, y: Int): Int =
      if (x == 0 && y == 0) 3 else 0
    def grayRowOf(i: Int, w: Int, bump: Boolean)(y: Int): Array[Int] =
      Array.tabulate(w) { x =>
        val (r, g, b) = rgb(i, x, y)
        (r + (if (bump) variantBump(i, x, y) else 0) + g + b) / 3
      }
    def aHashOf(i: Int, w: Int, h: Int, bump: Boolean): String =
      f"${graft.ops.Multimodal.aHash64(w, h, grayRowOf(i, w, bump))}%016x"
    def dHashOf(i: Int, w: Int, h: Int, bump: Boolean): String =
      f"${graft.ops.Multimodal.dHash64(w, h, grayRowOf(i, w, bump))}%016x"
    // all four rotation hashes from ONE sweep set, run LITERALLY over
    // the formula grid (the ehash/cehash analytic-manifest contract,
    // for rotations): (canonical, r90, r180, r270). The canonical is
    // minUnsigned(aHashes4) BY DEFINITION — rotAHash64Canonical
    // delegates to exactly that — so the manifest freezes the public
    // function's output without running the rotation loops twice per
    // image (self-review r19).
    def rot4Of(w: Int, h: Int,
               gray: (Int, Int) => Int): (String, String, String, String) = {
      val (r0, r90, r180, r270) = graft.ops.Multimodal.aHashes4(w, h, gray)
      (f"${graft.ops.Multimodal.minUnsigned(r0, r90, r180, r270)}%016x",
        f"$r90%016x", f"$r180%016x", f"$r270%016x")
    }

    val synthetic = (0 until 16).flatMap { i =>
      val (w, h) = (32 + 7 * i, 24 + 5 * i)
      val isVariant = Seq(false) ++ (if (i < 4) Seq(true) else Nil)
      isVariant.map { v =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var (sr, sg, sb) = (0L, 0L, 0L)
        for (y <- 0 until h; x <- 0 until w) {
          val (r0, g, b) = rgb(i, x, y)
          val r = r0 + (if (v) variantBump(i, x, y) else 0)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          sr += r; sg += g; sb += b
        }
        val name = if (v) f"genv_$i%02d.png" else f"gen_$i%02d.png"
        require(ImageIO.write(img, "png", new File(imagesDir, name)),
          s"no PNG writer for $name")
        val ah = aHashOf(i, w, h, v)
        if (v) {
          // the near-dup contract the phash spec asserts: a one-pixel
          // tweak must stay within hamming distance 1 of its original
          val d = java.lang.Long.bitCount(
            java.lang.Long.parseUnsignedLong(ah, 16) ^
              java.lang.Long.parseUnsignedLong(aHashOf(i, w, h, bump = false), 16))
          require(d <= 1, s"variant $name drifted $d bits from its original")
        }
        val (r2r, r2g, r2b) = resized2Sums(w, h, { (x, y) =>
          val (r0, g, b) = rgb(i, x, y)
          (r0 + (if (v) variantBump(i, x, y) else 0), g, b)
        })
        val gray = (x: Int, y: Int) => {
          val (r0, g, b) = rgb(i, x, y)
          (r0 + (if (v) variantBump(i, x, y) else 0) + g + b) / 3
        }
        val (rh, g90, g180, g270) = rot4Of(w, h, gray)
        (name, w, h, w.toLong * h, sr, sg, sb, ah, dHashOf(i, w, h, v),
          r2r, r2g, r2b, rh, g90, g180, g270)
      }
    }

    // ROTATED re-encode of gen_00 (90 degrees clockwise): the commonest
    // real-world image dup the un-rotated hashes miss by construction.
    // R(x', y') = G(y', h-1-x'), dims swap; channel sums are preserved
    // (rotation is a pixel permutation). The generator REQUIRES the
    // plain aHash to MISS the pair (Hamming >= 7) and the canonical
    // rotation hash to match EXACTLY.
    val rotated = {
      val (w, h) = (32, 24) // gen_00 dims
      val (rw, rh2) = (h, w)
      val img = new BufferedImage(rw, rh2, BufferedImage.TYPE_INT_RGB)
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until rh2; x <- 0 until rw) {
        val (r, g, b) = rgb(0, y, h - 1 - x)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        sr += r; sg += g; sb += b
      }
      val name = "genrot_00.png"
      require(ImageIO.write(img, "png", new File(imagesDir, name)),
        s"no PNG writer for $name")
      def rgray(x: Int, y: Int): Int = {
        val (r, g, b) = rgb(0, y, h - 1 - x)
        (r + g + b) / 3
      }
      val grayRow = (y: Int) => Array.tabulate(rw)(x => rgray(x, y))
      val ah = graft.ops.Multimodal.aHash64(rw, rh2, grayRow)
      val dh = graft.ops.Multimodal.dHash64(rw, rh2, grayRow)
      val (rhash, g90, g180, g270) = rot4Of(rw, rh2, rgray)
      val (r2r, r2g, r2b) = resized2Sums(rw, rh2, { (x, y) =>
        val (r, g, b) = rgb(0, y, h - 1 - x); (r, g, b)
      })
      val origA = java.lang.Long.parseUnsignedLong(
        synthetic.find(_._1 == "gen_00.png").get._8, 16)
      val dPlain = java.lang.Long.bitCount(origA ^ ah)
      require(dPlain >= 7,
        s"genrot_00 must be INVISIBLE to the un-rotated aHash, got Hamming $dPlain")
      require(rhash == synthetic.find(_._1 == "gen_00.png").get._13,
        s"rotation-canonical invariance broke: $rhash")
      Seq((name, rw, rh2, rw.toLong * rh2, sr, sg, sb, f"$ah%016x",
        f"$dh%016x", r2r, r2g, r2b, rhash, g90, g180, g270))
    }

    // the brightness-ramp pair: aHash must miss it, dHash must catch it
    val rampPair = {
      val (w, h) = (96, 64)
      def ramp(y: Int): Int = y * 72 / h
      def write(name: String, ramped: Boolean) = {
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var (sr, sg, sb) = (0L, 0L, 0L)
        for (y <- 0 until h; x <- 0 until w) {
          val (r0, g0, b0) = rgbB(x, y)
          val c = if (ramped) ramp(y) else 0
          val (r, g, b) = (r0 + c, g0 + c, b0 + c)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          sr += r; sg += g; sb += b
        }
        require(ImageIO.write(img, "png", new File(imagesDir, name)),
          s"no PNG writer for $name")
        val grayRow = (y: Int) => Array.tabulate(w) { x =>
          val (r, g, b) = rgbB(x, y)
          val c = if (ramped) ramp(y) else 0
          (r + c + g + c + b + c) / 3
        }
        val ah = graft.ops.Multimodal.aHash64(w, h, grayRow)
        val dh = graft.ops.Multimodal.dHash64(w, h, grayRow)
        val (r2r, r2g, r2b) = resized2Sums(w, h, { (x, y) =>
          val (r0, g0, b0) = rgbB(x, y)
          val c = if (ramped) ramp(y) else 0
          (r0 + c, g0 + c, b0 + c)
        })
        val grayB = (x: Int, y: Int) => {
          val (r0, g0, b0) = rgbB(x, y)
          val c = if (ramped) ramp(y) else 0
          (r0 + c + g0 + c + b0 + c) / 3
        }
        val (rh2, g90, g180, g270) = rot4Of(w, h, grayB)
        (name, w, h, w.toLong * h, sr, sg, sb, f"$ah%016x", f"$dh%016x",
          r2r, r2g, r2b, rh2, g90, g180, g270)
      }
      val base = write("genb_00_base.png", ramped = false)
      val ramped = write("genb_00_ramp.png", ramped = true)
      def hx(s: String) = java.lang.Long.parseUnsignedLong(s, 16)
      val dA = java.lang.Long.bitCount(hx(base._8) ^ hx(ramped._8))
      val dD = java.lang.Long.bitCount(hx(base._9) ^ hx(ramped._9))
      require(dA > 6, s"aHash must MISS the ramp pair (got Hamming $dA)")
      require(dD == 0, s"dHash must be exactly ramp-invariant (got $dD)")
      Seq(base, ramped)
    }

    // Real-world PNGs already in the dir: IHDR-parsed dims + frozen sums.
    val real = Option(imagesDir.listFiles()).get.toSeq
      .filter(f => f.getName.startsWith("plot_") && f.getName.endsWith(".png"))
      .sortBy(_.getName)
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        def be32(o: Int) = ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
          ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
        val (wHdr, hHdr) = (be32(16), be32(20)) // PNG IHDR: width@16, height@20
        val img = ImageIO.read(f)
        require(img.getWidth == wHdr && img.getHeight == hHdr,
          s"${f.getName}: ImageIO dims ${img.getWidth}x${img.getHeight} != IHDR ${wHdr}x$hHdr")
        val px = img.getRGB(0, 0, wHdr, hHdr, null, 0, wHdr)
        var (sr, sg, sb) = (0L, 0L, 0L)
        px.foreach { p =>
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        }
        // perceptual hashes frozen from the same one-time decode as the sums
        val grayRow = (y: Int) => Array.tabulate(wHdr) { x =>
          val p = px(y * wHdr + x)
          (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        }
        val hash = graft.ops.Multimodal.aHash64(wHdr, hHdr, grayRow)
        val dh = graft.ops.Multimodal.dHash64(wHdr, hHdr, grayRow)
        val (r2r, r2g, r2b) = resized2Sums(wHdr, hHdr, { (x, y) =>
          val p = px(y * wHdr + x)
          ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
        })
        val grayAt = (x: Int, y: Int) => {
          val p = px(y * wHdr + x)
          (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        }
        val (rh, g90, g180, g270) = rot4Of(wHdr, hHdr, grayAt)
        (f.getName, wHdr, hHdr, wHdr.toLong * hHdr, sr, sg, sb,
          f"$hash%016x", f"$dh%016x", r2r, r2g, r2b, rh, g90, g180, g270)
      }

    // ROTATED+EDITED composite (r19 — the min-pick boundary turned into a
    // served case): a 90°-cw rotation of one synthetic original COMPOSED
    // with a one-block-band brightness edit in the rotated frame.
    // Deterministic search over (original, band side, delta) for the
    // first composite that is
    //   (a) plain-aHash Hamming ≥ 7 from EVERY other image — invisible
    //       to q_image_near_dups, and it perturbs no existing pair set;
    //   (b) canonical-rhash Hamming ≥ 7 from EVERY other image,
    //       INCLUDING its own original — the edit flips which rotation
    //       attains the unsigned min, so the min-pick canonical column
    //       PROVABLY misses the pair (the stated rotAHash64Canonical
    //       boundary, now a generator-REQUIRED fixture);
    //   (c) 4-way cross distance ≤ 6 to its original — the
    //       cross-distance probe (Dedup.hammingNearDups64 over the
    //       base×rotation channels) provably finds it;
    //   (d) dHash Hamming ≥ 7 from every other image — the dhash query
    //       stays unchanged too.
    val compositeSearchPool = synthetic ++ rotated ++ rampPair ++ real
    val composite = {
      def hx(s: String) = java.lang.Long.parseUnsignedLong(s, 16)
      def hd(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      val found = (for {
        ii <- (0 until 16).view
        band <- Seq(0, 1, 2, 3) // top/bottom row-band, left/right col-band
        delta <- Seq(24, 40, 56, 72)
      } yield (ii, band, delta)).map { case (ii, band, delta) =>
        val (w, h) = (32 + 7 * ii, 24 + 5 * ii)
        val (rw, rh2) = (h, w)
        def inBand(x: Int, y: Int): Boolean = band match {
          case 0 => y < rh2 / 8
          case 1 => y >= rh2 - rh2 / 8
          case 2 => x < rw / 8
          case _ => x >= rw - rw / 8
        }
        def rgbC(x: Int, y: Int): (Int, Int, Int) = {
          val (r, g, b) = rgb(ii, y, h - 1 - x) // genrot_00's rotation rule
          if (inBand(x, y))
            (math.min(255, r + delta), math.min(255, g + delta),
              math.min(255, b + delta))
          else (r, g, b)
        }
        def grayC(x: Int, y: Int): Int = {
          val (r, g, b) = rgbC(x, y); (r + g + b) / 3
        }
        (ii, rw, rh2, rgbC _, grayC _)
      }.find { case (ii, rw, rh2, _, grayC) =>
        val (c0, c90, c180, c270) =
          graft.ops.Multimodal.aHashes4(rw, rh2, grayC)
        val crh = graft.ops.Multimodal.minUnsigned(c0, c90, c180, c270)
        val cdh = graft.ops.Multimodal.dHash64(rw, rh2,
          y => Array.tabulate(rw)(x => grayC(x, y)))
        val orig = synthetic.find(_._1 == f"gen_$ii%02d.png").get
        val (o0, o90, o180, o270) =
          (hx(orig._8), hx(orig._14), hx(orig._15), hx(orig._16))
        val d4 = Seq(hd(c0, o0), hd(c0, o90), hd(c0, o180), hd(c0, o270),
          hd(o0, c90), hd(o0, c180), hd(o0, c270)).min
        d4 <= 6 &&
          compositeSearchPool.forall(o => hd(c0, hx(o._8)) >= 7) &&
          compositeSearchPool.forall(o => hd(cdh, hx(o._9)) >= 7) &&
          compositeSearchPool.forall(o => hd(crh, hx(o._13)) >= 7)
      }
      require(found.isDefined, "no rotated+edited composite satisfied the " +
        "4-way contract — widen the (original, band, delta) search grid")
      val (ii, rw, rh2, rgbC, grayC) = found.get
      val img = new BufferedImage(rw, rh2, BufferedImage.TYPE_INT_RGB)
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until rh2; x <- 0 until rw) {
        val (r, g, b) = rgbC(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        sr += r; sg += g; sb += b
      }
      val name = "genrotn_00.png"
      require(ImageIO.write(img, "png", new File(imagesDir, name)),
        s"no PNG writer for $name")
      val grayRow = (y: Int) => Array.tabulate(rw)(x => grayC(x, y))
      val ah = graft.ops.Multimodal.aHash64(rw, rh2, grayRow)
      val dh = graft.ops.Multimodal.dHash64(rw, rh2, grayRow)
      val (rhash, g90, g180, g270) = rot4Of(rw, rh2, grayC)
      val (r2r, r2g, r2b) = resized2Sums(rw, rh2, rgbC)
      println(f"composite genrotn_00: rotated+edited copy of gen_$ii%02d " +
        "(min-pick flipped, 4-way distance within the near-dup band)")
      Seq((name, rw, rh2, rw.toLong * rh2, sr, sg, sb, f"$ah%016x",
        f"$dh%016x", r2r, r2g, r2b, rhash, g90, g180, g270))
    }


    val spark = graft.engine.Sessions.local("4", "graft-gen-image-fixture")
    import spark.implicits._
    (synthetic ++ rotated ++ composite ++ rampPair ++ real)
      .toDF("name", "width", "height", "n_pixels", "sum_r", "sum_g", "sum_b",
        "ahash_hex", "dhash_hex", "rs2_sum_r", "rs2_sum_g", "rs2_sum_b",
        "rhash_hex", "r90_hex", "r180_hex", "r270_hex")
      .coalesce(1)
      .write.mode("overwrite").parquet("fixtures/image_manifest.parquet")
    println(s"wrote ${synthetic.size} synthetic + ${rotated.size} rotated + " +
      s"${composite.size} composite + ${rampPair.size} ramp + " +
      s"${real.size} real images + manifest")
    spark.stop()
  }
}
