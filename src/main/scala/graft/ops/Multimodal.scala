package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Decoded-media feature record (the stub "decode" output). */
case class MediaFeatures(doc_id: Long, n_bytes: Long, byte_sum: Long,
                         head_hex: String, width: Int, height: Int)

/** One sampled frame of a (fake) video payload. */
case class Frame(doc_id: Long, frame_idx: Long, n_bytes: Long, frame_md5: String)

/** Real decoded-image features (JDK ImageIO decode — see
  * [[Multimodal.decodeImages]]). */
case class ImageFeatures(name: String, width: Int, height: Int,
                         n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long)

/** Decoded-content perceptual fingerprints ([[Multimodal.aHash64]] +
  * [[Multimodal.dHash64]] — both off the ONE decoded grid), plus the
  * ROTATION-canonical twin ([[Multimodal.rotAHash64Canonical]]) that a
  * rotated re-encode of the same picture collides on, plus the three
  * per-rotation aHashes it is the min of (r19: the 4-way cross-distance
  * probe needs each rotation's hash individually — a rotation COMPOSED
  * with an edit can flip which rotation attains the min, so the
  * canonical column alone cannot serve rotation+edit composites; +48 B
  * per image of committed state as stored — three 16-char hex strings,
  * +24 B in raw long terms — derived from sweeps the build already
  * runs). */
case class ImagePHash(name: String, width: Int, height: Int,
                      ahash_hex: String, dhash_hex: String,
                      rhash_hex: String, r90_hex: String,
                      r180_hex: String, r270_hex: String)

/** Integer box-filter downsample result ([[Multimodal.resizeImages]]):
  * output dims and EXACT channel sums of the resized raster. */
case class ImageResized(name: String, out_w: Int, out_h: Int,
                        sum_r: Long, sum_g: Long, sum_b: Long)

/** Frame-decimation resample result ([[Multimodal.decimateAudio]]). */
case class AudioDecimated(name: String, channels: Int, rate_out: Int,
                          n_samples: Long, duration_us: Long, abs_sum: Long)

/** Real decoded-audio features (JDK javax.sound.sampled decode — see
  * [[Multimodal.decodeAudio]]). */
case class AudioFeatures(name: String, channels: Int, sample_rate: Int,
                         bits: Int, n_samples: Long, duration_us: Long,
                         abs_sum: Long)

/** Decoded-content audio fingerprint ([[Multimodal.energyHash64]]), plus
  * the CANONICAL-RATE twin ([[Multimodal.energyHash64Canonical]]; `crate`
  * is the effective rate after power-of-2 frame decimation) that a
  * resampled re-encode of the same recording collides on, plus the
  * FIXED-RATE hashes ([[Multimodal.energyHash64AtRate]] at
  * [[Multimodal.xrateTargets]] — r20: the power-of-2 canonical only
  * composes for factor-2 chains, so a 44.1 kHz master and its 16 kHz
  * re-encode land at DIFFERENT canonical rates and never compare; the
  * fixed-rate columns project every recording into the same feature
  * space, +32 B per recording of committed state as stored). */
case class AudioPHash(name: String, channels: Int, n_samples: Long,
                      ehash_hex: String, crate: Int, cehash_hex: String,
                      x4k_hex: String, x6k_hex: String)

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, and a per-partition decode/feature-extract pass.
  *
  * The decode step is a clearly-marked STUB (no codec libraries in this
  * container) — it derives deterministic fake features from the bytes. The
  * Spark-side plumbing is real and is what matters at 100 TB:
  *  - payloads ride a `BinaryType` column next to a typed `meta` struct, so
  *    metadata-only queries prune the (huge) payload column at the parquet
  *    scan and never deserialize bytes;
  *  - feature extraction is `mapPartitions` over a typed Dataset: one
  *    decoder/codec init per partition (not per row), streaming batches,
  *    output re-enters Tungsten via the case-class encoder;
  *  - partition sizing: binary rows are fat, so at scale repartition by
  *    target batch bytes (`spark.sql.files.maxPartitionBytes` down, or an
  *    explicit `repartition`) before the decode pass — never let a single
  *    task hold thousands of decoded frames.
  */
object Multimodal {

  /** Attach an opaque binary payload + typed metadata struct. Here the
    * payload is the UTF-8 encoding of `text` (the fixture tables carry no
    * real media); for real media this is the raw file/frame bytes. NULL text
    * coalesces to an empty payload (mirroring `Dedup.shingleSets`' NULL
    * normalization) — a null binary would NPE the per-partition decode
    * closures downstream. */
  def attachPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", encode(coalesce(col("text"), lit("")), "UTF-8"))
      .withColumn("meta", struct(
        lit("text/plain").as("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes")))

  /** Per-partition decode + feature extraction.
    *
    * STUB: a real implementation would initialize the codec once per
    * partition and decode each payload (image resize, audio resample, video
    * frame-sample). The fake features below are deterministic functions of
    * the bytes so tests and downstream plumbing behave exactly as they
    * would with a real decoder. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real codec init would happen HERE, once per partition
        rows.map { case (id, bytes) =>
          val sum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
          val head = bytes.take(4).map(b => f"$b%02x").mkString
          MediaFeatures(id, bytes.length.toLong, sum, head,
            width = (sum % 640).toInt, height = (sum % 480).toInt)
        }
      }
  }

  /** REAL image decode over a binary column — JDK-native `javax.imageio`
    * (PNG/JPEG/GIF/BMP, zero external deps), replacing the round-1/2 stub
    * for actual image payloads. Input is any frame with a file `path` and a
    * `content` binary column — the exact shape of Spark's built-in
    * `binaryFile` source (`spark.read.format("binaryFile").load(dir)`), so
    * at scale this runs straight off a multi-million-file object-store
    * listing with the scan parallelized by file.
    *
    * Scale shape: `mapPartitions` so ImageIO's reader plumbing initializes
    * per PARTITION, not per row; only (path, content) is projected into the
    * decode pass (column pruning keeps other binaryFile metadata out of the
    * shuffle); output re-enters Tungsten via the case-class encoder. Decoded
    * rasters can be ~50× the compressed bytes, so partition sizing matters:
    * cap `spark.sql.files.maxPartitionBytes` (binaryFile caps single files
    * at 2 GiB) and repartition downstream if features feed a wide shuffle.
    *
    * Features are exact integer channel sums over the sRGB raster —
    * deterministic for a given file, verified against an ANALYTIC oracle
    * (formula-generated fixture PNGs whose true sums are computed without
    * any codec — see graft.tools.GenImageFixture). Undecodable payloads
    * yield a (-1, -1) sentinel row rather than killing the job (at 100 TB
    * some corrupt files are a certainty): the catch is `NonFatal`, not just
    * `IOException`, because malformed headers route ImageIO into
    * `IllegalArgumentException` / `CMMException` / reader index errors too.
    * A dimensions-from-header pre-check rejects rasters above `maxPixels`
    * BEFORE any full-image allocation, so a decompression bomb (tiny file,
    * huge declared raster) degrades to a sentinel instead of an executor
    * OOM. */
  val maxPixels: Long = 64L * 1024 * 1024 // 64 MP ≈ 256 MB ARGB raster

  /** Bomb-guarded decode shared by every image consumer: header-declared
    * dimensions are checked against [[maxPixels]] BEFORE any raster
    * allocation; undecodable/oversized payloads return null (callers emit
    * their sentinel row). */
  private def readImageGuarded(bytes: Array[Byte]): java.awt.image.BufferedImage =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) null
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            // header-declared dimensions — no raster allocated yet
            val (dw, dh) = (reader.getWidth(0).toLong, reader.getHeight(0).toLong)
            if (dw <= 0 || dh <= 0 || dw * dh > maxPixels) null
            else reader.read(0)
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close() // release stream buffers on the hot path
    } catch { case scala.util.control.NonFatal(_) => null }

  def decodeImages(images: DataFrame): Dataset[ImageFeatures] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(
        element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init: ImageIO scans the reader SPI registry once
        javax.imageio.ImageIO.setUseCache(false) // no temp-file spooling
        rows.map { case (name, bytes) =>
          val img = readImageGuarded(bytes)
          if (img == null) ImageFeatures(name, -1, -1, 0L, 0L, 0L, 0L)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            val row = new Array[Int](w)
            while (y < h) { // row-at-a-time: no w*h int buffer for big images
              img.getRGB(0, y, w, 1, row, 0, w)
              var x = 0
              while (x < w) {
                val p = row(x)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            ImageFeatures(name, w, h, w.toLong * h, sr, sg, sb)
          }
        }
      }
  }

  /** REAL image RESIZE — integer k×k box-filter downsample (the thumbnail
    * pass of a multimodal training pipeline, with the family's exactness
    * discipline so it is oracle-gateable): output pixel (X, Y) channel c
    * is floor(Σ over the k×k source block / k²) — pure integer division,
    * no resampling kernel floats to disagree across implementations —
    * and output dims are floor(w/k) × floor(h/k) (a partial edge block
    * is DROPPED, never averaged over a short count). The query surface
    * returns the resized raster's exact channel sums; the fixture
    * generator computes the same sums from its pixel formula with no
    * image object, so a wrong filter, offset, or edge rule cannot
    * hash-match. Same bomb guard + sentinel contract as
    * [[decodeImages]]; one decode per payload, one row pass. */
  def resizeImages(images: DataFrame, factor: Int = 2): Dataset[ImageResized] = {
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    val spark = images.sparkSession
    import spark.implicits._
    images.select(
        element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (name, bytes) =>
          val img = readImageGuarded(bytes)
          if (img == null) ImageResized(name, -1, -1, 0L, 0L, 0L)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val (ow, oh) = (w / factor, h / factor)
            // accumulate per-output-column block sums row by row: one
            // getRGB pass, O(out_w) state — no full-raster buffer
            val accR = new Array[Long](ow)
            val accG = new Array[Long](ow)
            val accB = new Array[Long](ow)
            var (sr, sg, sb) = (0L, 0L, 0L)
            val rowBuf = new Array[Int](w)
            val k2 = factor.toLong * factor
            var y = 0
            while (y < oh * factor) {
              img.getRGB(0, y, w, 1, rowBuf, 0, w)
              var x = 0
              while (x < ow * factor) {
                val ox = x / factor
                val p = rowBuf(x)
                accR(ox) += (p >> 16) & 0xff
                accG(ox) += (p >> 8) & 0xff
                accB(ox) += p & 0xff
                x += 1
              }
              if (y % factor == factor - 1) {
                var ox = 0
                while (ox < ow) {
                  sr += accR(ox) / k2; sg += accG(ox) / k2; sb += accB(ox) / k2
                  accR(ox) = 0L; accG(ox) = 0L; accB(ox) = 0L
                  ox += 1
                }
              }
              y += 1
            }
            ImageResized(name, ow, oh, sr, sg, sb)
          }
        }
      }
  }

  /** REAL audio RESAMPLE — integer frame DECIMATION (keep every
    * `factor`-th FRAME, all channels of it; rate_out = rate / factor):
    * the one resampling rule that is exact by construction — kept
    * samples are source samples, so the fixture formula supplies the
    * decimated |amplitude| sums analytically, and an interpolating
    * resampler's float kernel never enters the contract. Decimating
    * FRAMES (not interleaved samples) keeps multi-channel alignment: a
    * stereo stream keeps L and R of the same instant together. Same
    * guard + sentinel contract as [[decodeAudio]]. */
  def decimateAudio(audio: DataFrame, factor: Int = 2): Dataset[AudioDecimated] = {
    require(factor >= 1, s"decimation factor must be >= 1, got $factor")
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select(
        element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (name, bytes) =>
          val pcm = readPcmGuarded(bytes)
          // rate/factor must stay >= 1 Hz or the duration math divides by
          // zero — a factor exceeding a payload's rate sentinels that
          // payload (self-review catch: the family contract is "degrade,
          // never throw", and rate is per-file so no global require fits)
          if (pcm == null || pcm.rate / factor < 1)
            AudioDecimated(name, -1, -1, 0L, 0L, 0L)
          else {
            val ch = pcm.channels
            val nFrames = pcm.nSamples / ch
            var absSum = 0L
            var kept = 0L
            var f = 0L
            while (f < nFrames) {
              if (f % factor == 0) {
                var c = 0
                while (c < ch) { absSum += pcm.absAt(f * ch + c); c += 1 }
                kept += 1
              }
              f += 1
            }
            val rateOut = pcm.rate / factor
            AudioDecimated(name, ch, rateOut, kept * ch,
              kept * 1000000L / rateOut, absSum)
          }
        }
      }
  }

  /** 64-bit average-hash (aHash) over an 8×8 block grid — the perceptual
    * fingerprint multimodal dedup groups on: re-encoded, renamed, or
    * metadata-tweaked copies of the same picture decode to (nearly) the
    * same pixels, so they collide here even when every byte hash differs.
    *
    * Exactness contract (the analytic-manifest oracle depends on it):
    * pure integer arithmetic end-to-end. Per pixel gray = (r+g+b)/3
    * (integer division); block (bx, by) covers x ∈ [bx·w/8, (bx+1)·w/8)
    * (floor boundaries, same for y); bit by·8+bx is set iff
    * blockSum · totalPixels > totalSum · blockPixels — the cross-multiplied
    * form of "block mean > global mean", division-free so there is no
    * float to disagree across implementations. Images narrower/shorter
    * than 8 px leave their empty blocks at 0. `grayRow(y)` supplies one
    * row of grays — the decoder passes a getRGB row, the fixture
    * generator its formula — so both sides run literally this loop. */
  def aHash64(w: Int, h: Int, grayRow: Int => Array[Int]): Long = {
    val blockSum = new Array[Long](64)
    val blockN = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      val row = grayRow(y)
      var x = 0
      while (x < w) {
        val b = by * 8 + x * 8 / w
        blockSum(b) += row(x); blockN(b) += 1; total += row(x)
        x += 1
      }
      y += 1
    }
    val nPix = w.toLong * h
    var hash = 0L
    var b = 0
    while (b < 64) {
      if (blockN(b) > 0 && blockSum(b) * nPix > total * blockN(b))
        hash |= 1L << b
      b += 1
    }
    hash
  }

  /** 64-bit difference-hash (dHash) over a 9×8 block grid — the
    * GRADIENT-sign fingerprint that complements [[aHash64]]: aHash
    * compares each block against the GLOBAL mean, so any per-row
    * brightness field (a vignette, a scanner lamp gradient, a fade)
    * moves block means relative to the global mean and flips many bits;
    * dHash compares each block only against its HORIZONTAL neighbour,
    * and two horizontally adjacent blocks span the same rows, so adding
    * any f(y) to every pixel of row y adds f-mass proportional to each
    * block's width — cancelling EXACTLY in the cross-multiplied compare
    * (no clamping assumed). The fixture pins this: a vertical-ramp copy
    * that aHash misses at Hamming > 6 pairs at dHash 0.
    *
    * Exactness contract (the analytic-manifest oracle depends on it):
    * pure integer arithmetic end-to-end. Column block cx = x·9/w
    * (floor), row block by = y·8/h; bit by·8+cx (cx ∈ [0,8)) is set iff
    * sum(cx+1,by)·n(cx,by) > sum(cx,by)·n(cx+1,by) — "right block mean >
    * left block mean", division-free. Blocks with no pixels (w < 9 or
    * h < 8) leave their bits 0. `grayRow(y)` supplies one row of grays —
    * decoder and fixture generator run literally this loop. */
  def dHash64(w: Int, h: Int, grayRow: Int => Array[Int]): Long = {
    val sum = Array.ofDim[Long](8, 9)
    val n = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      val row = grayRow(y)
      var x = 0
      while (x < w) {
        val cx = x * 9 / w
        sum(by)(cx) += row(x); n(by)(cx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var by = 0
    while (by < 8) {
      var cx = 0
      while (cx < 8) {
        if (n(by)(cx) > 0 && n(by)(cx + 1) > 0 &&
            sum(by)(cx + 1) * n(by)(cx) > sum(by)(cx) * n(by)(cx + 1))
          hash |= 1L << (by * 8 + cx)
        cx += 1
      }
      by += 1
    }
    hash
  }

  /** Both perceptual hashes in ONE row pass — the serving fusion of
    * [[aHash64]] and [[dHash64]] (each alone is the contract the fixture
    * generators replay; this computes the identical accumulations off a
    * single `grayRow` sweep so the decode path reads the raster once,
    * not twice). MultimodalSpec pins phash2 == (aHash64, dHash64) on
    * random grids, so the fusion can never drift from the spec'd loops. */
  def phash2(w: Int, h: Int, grayRow: Int => Array[Int]): (Long, Long) = {
    val aSum = new Array[Long](64)
    val aN = new Array[Long](64)
    var total = 0L
    val dSum = Array.ofDim[Long](8, 9)
    val dN = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      val row = grayRow(y)
      var x = 0
      while (x < w) {
        val g = row(x)
        val ab = by * 8 + x * 8 / w
        aSum(ab) += g; aN(ab) += 1; total += g
        val cx = x * 9 / w
        dSum(by)(cx) += g; dN(by)(cx) += 1
        x += 1
      }
      y += 1
    }
    val nPix = w.toLong * h
    var ah = 0L
    var b = 0
    while (b < 64) {
      if (aN(b) > 0 && aSum(b) * nPix > total * aN(b)) ah |= 1L << b
      b += 1
    }
    var dh = 0L
    var by = 0
    while (by < 8) {
      var cx = 0
      while (cx < 8) {
        if (dN(by)(cx) > 0 && dN(by)(cx + 1) > 0 &&
            dSum(by)(cx + 1) * dN(by)(cx) > dSum(by)(cx) * dN(by)(cx + 1))
          dh |= 1L << (by * 8 + cx)
        cx += 1
      }
      by += 1
    }
    (ah, dh)
  }

  /** ROTATION-canonical average hash: the unsigned MINIMUM of the four
    * 90°-rotation [[aHash64]] values, each computed by the exact contract
    * loop over the rotated grid (rotation is an integer pixel permutation
    * — no resampling, so the composition stays integer-exact and the
    * fixture generator supplies analytic ground truth by running
    * literally this function over its formula). A ROTATED re-encode's
    * four-rotation multiset equals the original's, so the minima agree
    * EXACTLY — the audio-resample robustness pattern applied to the
    * image family's commonest missed dup (phone shots re-encoded
    * portrait/landscape).
    *
    * Stated boundary: min-pick canonicalization is exact for PURE
    * rotations (any Hamming-0 re-encode of a rotated copy); a rotation
    * COMPOSED with an edit can flip which rotation attains the minimum,
    * so the near+rotated composite needs the 4-way cross distance —
    * served by [[graft.ops.Dedup.hammingNearDups64]] over base×rotation
    * channels (the plain hash banded against all four per-rotation
    * hashes, which the committed store carries as columns; the
    * genrotn_00 fixture is generator-REQUIRED to sit past the min-pick
    * at canonical Hamming ≥ 7 yet within the 4-way distance).
    * Block sums do NOT survive rotation when dims aren't multiples of 8
    * (floor boundaries reflect inexactly), so each rotation hashes its
    * own grid view rather than remapping block sums. */
  def rotAHash64Canonical(w: Int, h: Int, gray: (Int, Int) => Int): Long = {
    val (r0, r90, r180, r270) = aHashes4(w, h, gray)
    minUnsigned(r0, r90, r180, r270)
  }

  /** ALL FOUR 90°-rotation aHashes by accessor — (r0, r90, r180, r270);
    * [[rotAHash64Canonical]] is their unsigned min. The per-rotation
    * values are what the committed store persists individually (r19):
    * the 4-way cross-distance probe compares a plain hash against each
    * rotation's hash, which the min alone cannot answer. */
  def aHashes4(w: Int, h: Int, gray: (Int, Int) => Int): (Long, Long, Long, Long) = {
    val rowBuf = new Array[Int](w)
    val colBuf = new Array[Int](h)
    val grayRow = (y: Int) => {
      var x = 0; while (x < w) { rowBuf(x) = gray(x, y); x += 1 }; rowBuf
    }
    val grayCol = (x: Int) => {
      var y = 0; while (y < h) { colBuf(y) = gray(x, y); y += 1 }; colBuf
    }
    val (r90, r180, r270) = rotatedAHashes(w, h, grayRow, grayCol)
    (aHash64(w, h, grayRow), r90, r180, r270)
  }

  private[graft] def minUnsigned(vs: Long*): Long =
    vs.reduce((a, b) => if (java.lang.Long.compareUnsigned(a, b) <= 0) a else b)

  /** The three NON-identity rotation aHashes from row/COLUMN accessors —
    * the serving-path shape (self-review r18 catch): no full-grid
    * materialization (a 64 MP image would cost +256 MB of scratch per
    * in-flight task — columns read straight from the decoded raster
    * instead), and no re-sweep of the unrotated hash the fused
    * [[phash2]] pass already produced (the canonical value is the
    * unsigned min of the caller's r0 with these three). Row y of r180 is
    * source row h−1−y reversed; row y of r90 is source COLUMN y
    * reversed; row y of r270 is source column w−1−y forward — the same
    * pixel permutations as the contract accessor form, which delegates
    * here so serving == contract by construction (and the manifest
    * cross-check pins it on real decodes). */
  def rotatedAHashes(w: Int, h: Int, grayRow: Int => Array[Int],
                     grayCol: Int => Array[Int]): (Long, Long, Long) = {
    val bufW = new Array[Int](w)
    val bufH = new Array[Int](h)
    val r180 = aHash64(w, h, { y =>
      val src = grayRow(h - 1 - y)
      var x = 0
      while (x < w) { bufW(x) = src(w - 1 - x); x += 1 }
      bufW
    })
    val r90 = aHash64(h, w, { y => // rotated dims: width h, height w
      val src = grayCol(y)
      var x = 0
      while (x < h) { bufH(x) = src(h - 1 - x); x += 1 }
      bufH
    })
    val r270 = aHash64(h, w, y => grayCol(w - 1 - y))
    (r90, r180, r270)
  }

  /** Per-image perceptual hashes from a binaryFile scan: decode (same bomb
    * guard as [[decodeImages]]) → [[phash2]] (the fused aHash + dHash
    * pass) off the one decoded grid → zero-padded hex. Sentinel rows
    * carry width/height −1 and empty hashes so a corrupt payload can
    * never collide into a real dup group. */
  def imagePHashes(images: DataFrame): Dataset[ImagePHash] =
    imagePHashesNamed(images.select(
      element_at(split(col("path"), "/"), -1).as("name"), col("content")))

  /** Gray-grid scratch cap for the perceptual-hash sweep: images up to
    * this many pixels (1 B gray each — 16 MB per in-flight task) hash
    * off one materialized row-major grid; larger ones fall back to the
    * O(w+h) getRGB accessor form so a decompression-bomb-sized raster
    * can never multiply task memory. */
  val maxGrayGridBytes: Long = 16L * 1024 * 1024

  /** (grayRow, grayCol) accessors over a decoded raster, in two forms
    * producing IDENTICAL gray values (gray = (r+g+b)/3 fits a byte;
    * MultimodalSpec pins grid-form hashes == getRGB-form hashes):
    *
    *  - `useGrid = true` (images within [[maxGrayGridBytes]] of scratch):
    *    ONE row-wise getRGB sweep into a w·h-byte gray grid; every hash
    *    pass reads the array. Per-COLUMN getRGB calls (one per column,
    *    TWICE — the r90 and r270 views) otherwise dominate the sweep on
    *    wide charts, each call paying raster/ColorModel dispatch for a
    *    single 1-px column (r20 root-cause of the q_image_phash bench
    *    regression: 4 of the 5 raster passes went through getRGB).
    *  - `useGrid = false` (oversized rasters — the r18 review's 64 MP
    *    decompression-bomb concern): the O(w+h)-scratch getRGB accessor
    *    form, so task memory never scales with a hostile image's area
    *    beyond what the decoded BufferedImage itself already holds. */
  private[graft] def grayAccessors(img: java.awt.image.BufferedImage,
                                   useGrid: Boolean)
      : (Int => Array[Int], Int => Array[Int]) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val rowBuf = new Array[Int](w)
    val grays = new Array[Int](w)
    val cgrays = new Array[Int](h)
    if (useGrid) {
      val grid = new Array[Byte](w * h)
      var gy = 0
      while (gy < h) {
        img.getRGB(0, gy, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val p = rowBuf(x)
          grid(gy * w + x) =
            ((((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3).toByte
          x += 1
        }
        gy += 1
      }
      ((y: Int) => {
        var x = 0
        while (x < w) { grays(x) = grid(y * w + x) & 0xff; x += 1 }
        grays
      },
       (x: Int) => {
        var y = 0
        while (y < h) { cgrays(y) = grid(y * w + x) & 0xff; y += 1 }
        cgrays
      })
    } else {
      val colBuf = new Array[Int](h)
      ((y: Int) => {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val p = rowBuf(x)
          grays(x) = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
          x += 1
        }
        grays
      },
       (x: Int) => {
        img.getRGB(x, 0, 1, h, colBuf, 0, 1)
        var y = 0
        while (y < h) {
          val p = colBuf(y)
          cgrays(y) = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
          y += 1
        }
        cgrays
      })
    }
  }

  /** [[imagePHashes]] over an already-(name, content) frame — the CDC
    * maintenance ingest shape, where payloads arrive as change rows
    * rather than a binaryFile scan. */
  def imagePHashesNamed(named: DataFrame): Dataset[ImagePHash] = {
    val spark = named.sparkSession
    import spark.implicits._
    named.select(col("name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (name, bytes) =>
          val img = readImageGuarded(bytes)
          if (img == null) ImagePHash(name, -1, -1, "", "", "", "", "", "")
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val (grayRow, grayCol) =
              grayAccessors(img, w.toLong * h <= maxGrayGridBytes)
            val (ah, dh) = phash2(w, h, grayRow)
            val (r90, r180, r270) = rotatedAHashes(w, h, grayRow, grayCol)
            val rh = minUnsigned(ah, r90, r180, r270)
            ImagePHash(name, w, h, f"$ah%016x", f"$dh%016x", f"$rh%016x",
              f"$r90%016x", f"$r180%016x", f"$r270%016x")
          }
        }
      }
  }

  /** REAL audio decode (the image path's twin for sound): per-partition
    * `javax.sound.sampled` decode of WAV/AU/AIFF payloads from a
    * binaryFile scan into exact PCM amplitude features — format fields
    * (channels, rate, bits), sample count, integer-exact duration_us, and
    * the sum of |amplitude| over signed 16-bit samples. PCM is lossless,
    * so the features must reproduce the fixture generator's analytic
    * manifest exactly ([[graft.tools.GenAudioFixture]] — the oracle never
    * runs a decoder).
    *
    * Same hardening as [[decodeImages]]: a header-declared
    * `frameLength × frameSize` bomb guard BEFORE any buffer allocation
    * (`maxPcmBytes`); undecodable or non-16-bit-PCM payloads yield a
    * (-1) sentinel row under `NonFatal` instead of killing the job.
    * (Unlike ImageIO there is no per-partition reader state to
    * initialize — `AudioSystem`'s provider lookup consults a static,
    * JVM-cached SPI registry per payload.) */
  val maxPcmBytes: Long = 64L * 1024 * 1024

  /** Decoded 16-bit PCM payload: format fields plus the raw sample
    * bytes. `absAt(i)` reads |sample i| of the interleaved stream with
    * the container's endianness — the indexed-access shape
    * [[energyHash64]] consumes. */
  private final class Pcm(val channels: Int, val rate: Int,
                          val bigEndian: Boolean, val buf: Array[Byte]) {
    val nSamples: Int = buf.length / 2
    def absAt(i: Long): Long = {
      val o = (i << 1).toInt
      val b0 = buf(o).toInt // WAV is LE, AU/AIFF are BE
      val b1 = buf(o + 1).toInt
      val s = (if (bigEndian) (b0 << 8) | (b1 & 0xff)
               else (b1 << 8) | (b0 & 0xff)).toShort
      math.abs(s.toLong)
    }
  }

  /** Bomb-guarded 16-bit PCM decode shared by every audio consumer
    * (the [[readImageGuarded]] contract for sound): header-declared
    * `frameLength × frameSize` checked against [[maxPcmBytes]] BEFORE
    * any buffer allocation; undecodable / non-16-bit-PCM payloads
    * return null (callers emit their sentinel row) under `NonFatal`. */
  private def readPcmGuarded(bytes: Array[Byte]): Pcm =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val frameSize = fmt.getFrameSize
        // channels/rate > 0 guards the per-row feature math (duration_us
        // divides by both) — a header yielding 0 must sentinel, not throw
        if (fmt.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16 || frames <= 0 ||
            fmt.getChannels <= 0 || fmt.getSampleRate.toInt <= 0 ||
            frameSize <= 0 || frames * frameSize > maxPcmBytes) null
        else new Pcm(fmt.getChannels, fmt.getSampleRate.toInt,
          fmt.isBigEndian, in.readAllBytes())
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => null }

  def decodeAudio(audio: DataFrame): Dataset[AudioFeatures] = {
    val spark = audio.sparkSession
    import spark.implicits._
    val sentinel = (name: String) => AudioFeatures(name, -1, -1, -1, 0L, 0L, 0L)
    audio.select(
        element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (name, bytes) =>
          val pcm = readPcmGuarded(bytes)
          if (pcm == null) sentinel(name)
          else {
            var absSum = 0L
            var i = 0L
            while (i < pcm.nSamples) { absSum += pcm.absAt(i); i += 1 }
            AudioFeatures(name, pcm.channels, pcm.rate, 16,
              pcm.nSamples.toLong,
              (pcm.nSamples.toLong / pcm.channels) * 1000000L / pcm.rate,
              absSum)
          }
        }
      }
  }

  /** 64-bit energy-envelope hash over a decoded PCM |amplitude| stream —
    * the audio twin of [[aHash64]], and the fingerprint audio dedup
    * blocks on: a re-encoded, renamed, resampled-header, or
    * volume-scaled copy of the same recording decodes to the same
    * amplitude SHAPE, so it collides here even when every byte hash
    * differs.
    *
    * Exactness contract (the analytic-manifest oracle depends on it):
    * pure integer arithmetic end-to-end. Sample i of n lands in time
    * block i·64/n (floor boundaries — the aHash block formula in one
    * dimension); bit b is set iff blockAbsSum · n > totalAbsSum · blockN
    * — the cross-multiplied form of "block mean |amplitude| > global
    * mean |amplitude|", division-free so no float can disagree across
    * implementations. Streams shorter than 64 samples leave their empty
    * blocks at 0. `absSample(i)` supplies |sample i| — the decoder reads
    * its PCM buffer, the fixture generator its formula — so both sides
    * run literally this loop.
    *
    * Properties the spec pins: (1) exact volume INVARIANCE — scaling
    * every |sample| by a positive integer c cancels in the
    * cross-multiplication, so a louder re-encode fingerprints
    * identically; (2) overflow-free by bound — |sample| ≤ 32768, so
    * blockSum·n and total·blockN are each ≤ 32768·n·(n/64+1) < 2⁶³ for
    * every n ≤ [[maxPcmBytes]]/2 (≈3.4·10⁷), the decode guard's own
    * ceiling. Multi-channel streams hash the interleaved stream as one
    * sequence (channel-agnostic by design — the envelope, not the mix).
    */
  def energyHash64(n: Long, absSample: Long => Long): Long = {
    val blockSum = new Array[Long](64)
    val blockN = new Array[Long](64)
    var total = 0L
    var i = 0L
    while (i < n) {
      val b = (i * 64 / n).toInt
      val a = absSample(i)
      blockSum(b) += a; blockN(b) += 1; total += a
      i += 1
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      if (blockN(b) > 0 && blockSum(b) * n > total * blockN(b))
        hash |= 1L << b
      b += 1
    }
    hash
  }

  /** The canonical-rate band's floor: streams decimate by the largest
    * power-of-2 factor that keeps their rate ≥ this, landing every
    * recording in [4000, 8000) Hz before fingerprinting. */
  val canonicalRateFloor: Int = 4000

  /** Power-of-2 canonical decimation factor: the largest `f = 2^k` with
    * `rate / f >= canonicalRateFloor` (1 for rates already below the
    * floor). Powers of two make the normalization COMPOSE with factor-2
    * resampling exactly: a copy at `rate / 2` gets factor `f / 2`, so
    * both decimate to the IDENTICAL sample stream — the property the
    * resample-robust fingerprint rests on, and why an arbitrary integer
    * ratio (`rate / canonical`) would not work (12000→3 vs 6000→1 keeps
    * different streams). */
  def canonicalDecimation(rate: Int): Int = {
    var f = 1
    while (rate / (f * 2) >= canonicalRateFloor) f *= 2
    f
  }

  /** CANONICAL-RATE energy hash — [[energyHash64]] composed with the
    * integer frame decimation of [[decimateAudio]] at the power-of-2
    * canonical factor (r17 VERDICT #3: the plain hash is volume-invariant
    * but rate-SENSITIVE — a 22.05 kHz re-encode of a 44.1 kHz recording
    * changes `n` and every block boundary, so the family missed the
    * commonest real-world audio dup). Decimating FRAMES keeps
    * multi-channel alignment; kept samples are source samples, so the
    * whole pipeline stays integer-exact and the fixture generator can
    * supply the analytic ground truth by running LITERALLY this loop over
    * its formula (the [[energyHash64]] contract). Volume invariance
    * carries through unchanged (scaling cancels in the
    * cross-multiplication over the decimated stream). */
  def energyHash64Canonical(channels: Int, rate: Int, n: Long,
                            absSample: Long => Long): Long = {
    val factor = canonicalDecimation(rate).toLong
    val ch = channels.toLong
    val nFrames = n / ch
    val keptFrames = (nFrames + factor - 1) / factor
    energyHash64(keptFrames * ch,
      j => absSample((j / ch) * factor * ch + (j % ch)))
  }

  /** Fixed target rates for the cross-rate energy hashes — two universal
    * rates every recording projects into, so recordings from ANY source
    * rate become comparable (unlike the per-recording power-of-2
    * canonical). 4000 divides the 8/16/32/48 kHz family, 6000 the
    * 12/24/6 kHz family — when the target divides a re-encode's rate,
    * the selection composition collapses EXACTLY (see
    * [[energyHash64AtRate]]); otherwise the envelopes still land near. */
  val xrateTargets: Seq[Int] = Seq(4000, 6000)

  /** Energy hash at a FIXED target rate via exact rational nearest-frame
    * selection: kept frame `j` reads source frame `j·rate/target`
    * (integer floor — the zero-order-hold resampler), all channels of
    * the frame, `keptFrames = nFrames·target/rate` (floor,
    * duration-preserving). Integer-exact end-to-end, so the fixture
    * generator supplies analytic ground truth by running literally this
    * loop ([[energyHash64]]'s contract).
    *
    * The composition property the cross-rate family rests on: if a
    * variant was itself produced by exact nearest-frame selection from a
    * master (any zero-order-hold re-encode) and `target` DIVIDES the
    * variant's rate, then selecting the variant down to `target` picks
    * `master[(j·k)·R_m/R_v] = master[j·R_m/target]` — the identical
    * sample stream the master projects to, so the two fixed-rate hashes
    * agree EXACTLY; a rate the target does not divide lands near instead
    * (floor jitter moves individual samples but not the 64-block
    * envelope mass). Rates BELOW the target upsample by frame
    * repetition — envelope-preserving, still exact arithmetic. */
  def energyHash64AtRate(channels: Int, rate: Int, n: Long, target: Int,
                         absSample: Long => Long): Long = {
    require(rate > 0 && target > 0, s"rates must be positive: $rate, $target")
    val ch = channels.toLong
    val keptFrames = xrateKeptFrames(channels, rate, n, target)
    // loud, not silent: a zero-frame projection would hash to the
    // valid-LOOKING all-zero value (the r20 self-review hazard); callers
    // wanting the sentinel behavior go through xrateHex, which gates on
    // the comparability floor before ever reaching this depth
    require(keptFrames >= 1,
      s"fixed-rate projection is empty: $n samples @ $rate Hz -> 0 kept " +
        s"frames at $target Hz; use xrateHex (sentinel) for short clips")
    energyHash64(keptFrames * ch,
      j => absSample((j / ch) * rate / target * ch + (j % ch)))
  }

  /** Kept frames under [[energyHash64AtRate]]'s selection — FLOOR, and
    * floor is load-bearing (self-review r20, second pass): for a
    * variant itself produced by floor-count selection at rate R_v with
    * target | R_v, the nested-floor identity
    * `floor(floor(x)/k) == floor(x/k)` makes the variant's kept count
    * equal the master's UNCONDITIONALLY — a ceiling count (an interim
    * fix here) broke that exactness whenever the master count landed on
    * a multiple of the divisor, silently missing the very dups the
    * family exists to catch. The degenerate-short-clip hazard floor
    * creates (0 kept frames → all-zero hash) is handled by
    * [[xrateMinKeptFrames]]' sentinel instead. ONE source of truth:
    * the hash, the sentinel gate, and the fixture generator's edit
    * construction all read this. */
  private[graft] def xrateKeptFrames(channels: Int, rate: Int, n: Long,
                                     target: Int): Long =
    (n / channels) * target / rate

  /** A fixed-rate hash is COMPARABLE only when its projection carries at
    * least one sample per hash block: below 64 kept frames most blocks
    * are empty, the hash degenerates toward all-zero, and two unrelated
    * sub-second clips would band-match at distance 0 (self-review r20 —
    * the same reason corrupt payloads get an empty sentinel hex). */
  val xrateMinKeptFrames: Long = 64L

  /** The fixed-rate hash as the store/manifest hex column: empty (the
    * sentinel the len==16 banding filters exclude) when the projection
    * is too short to compare — the ONE place the comparability rule
    * lives, called by the decode sweep and the fixture generator. */
  def xrateHex(channels: Int, rate: Int, n: Long, target: Int,
               absSample: Long => Long): String =
    if (xrateKeptFrames(channels, rate, n, target) < xrateMinKeptFrames) ""
    else f"${energyHash64AtRate(channels, rate, n, target, absSample)}%016x"

  /** Per-payload audio fingerprint from a binaryFile scan: guarded PCM
    * decode → [[energyHash64]] → zero-padded hex. Sentinel rows carry
    * channels/n_samples −1 and an empty hash so a corrupt payload can
    * never collide into a dup group (the [[imagePHashes]] contract). */
  def audioPHashes(audio: DataFrame): Dataset[AudioPHash] =
    audioPHashesNamed(audio.select(
      element_at(split(col("path"), "/"), -1).as("name"), col("content")))

  /** [[audioPHashes]] over an already-(name, content) frame — the CDC
    * maintenance ingest shape. */
  def audioPHashesNamed(named: DataFrame): Dataset[AudioPHash] = {
    val spark = named.sparkSession
    import spark.implicits._
    named.select(col("name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (name, bytes) =>
          val pcm = readPcmGuarded(bytes)
          if (pcm == null) AudioPHash(name, -1, -1L, "", -1, "", "", "")
          else {
            val h = energyHash64(pcm.nSamples.toLong, pcm.absAt)
            val ch = energyHash64Canonical(pcm.channels, pcm.rate,
              pcm.nSamples.toLong, pcm.absAt)
            val Seq(x4, x6) = xrateTargets.map(t => xrateHex(
              pcm.channels, pcm.rate, pcm.nSamples.toLong, t, pcm.absAt))
            AudioPHash(name, pcm.channels, pcm.nSamples.toLong, f"$h%016x",
              pcm.rate / canonicalDecimation(pcm.rate), f"$ch%016x", x4, x6)
          }
        }
      }
  }

  /** Frame sampling over a binary payload: the payload is treated as a
    * sequence of `frameBytes`-byte frames; every `stride`-th frame is
    * "decoded" (STUB: fingerprinted) and emitted — the 1→N row shape of real
    * video frame extraction, with the decoder state (here a MessageDigest; in
    * production the codec context) initialized ONCE per partition.
    *
    * Frames are defined on the lowercase-hex encoding of the bytes so the
    * DuckDB oracle can replay the identical slicing byte-exactly
    * (DuckDB 1.0 cannot slice BLOBs; hex is ASCII, so character slicing ==
    * byte slicing × 2). At 100 TB the frame explosion multiplies rows, not
    * payload reads — each payload is read once, and output partitions should
    * be re-sized downstream (`repartition`) if frames feed a shuffle. */
  def sampleFrames(media: DataFrame, frameBytes: Int = 256, stride: Int = 2,
                   maxFrames: Int = Int.MaxValue): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    val hexPerFrame = frameBytes * 2
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder init (real codec context goes here)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, bytes) =>
          val hx = bytes.map(b => f"$b%02x").mkString
          val nFrames = math.min(maxFrames,
            (hx.length + hexPerFrame - 1) / hexPerFrame)
          (0 until nFrames).iterator.collect { case i if i % stride == 0 =>
            val s = hx.substring(i * hexPerFrame,
              math.min((i + 1) * hexPerFrame, hx.length))
            md.reset()
            val h = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
            Frame(id, i.toLong, (s.length / 2).toLong, h)
          }
        }
      }
  }
}
