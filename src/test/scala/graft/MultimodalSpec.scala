package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Multimodal

class MultimodalSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("payload attach + stub feature extraction round-trips deterministically") {
    val docs = Seq((1L, "abc", "en", "srcX", 3L), (2L, "", "en", "srcX", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.attachPayload(docs)
    assert(media.schema("payload").dataType.typeName === "binary")
    assert(media.select("meta.n_bytes").as[Long].collect().sorted === Array(0L, 3L))

    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(feats(0).n_bytes === 3L)
    assert(feats(0).byte_sum === ('a' + 'b' + 'c').toLong)
    assert(feats(0).head_hex === "616263")
    assert(feats(1).n_bytes === 0L && feats(1).head_hex === "")
    // deterministic: same input → same features
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(feats.toSeq === again.toSeq)
  }

  test("NULL text coalesces to an empty payload (no NPE in decode closures)") {
    val docs = Seq((9L, null.asInstanceOf[String], "en", "srcX", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.attachPayload(docs)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.map(f => (f.doc_id, f.n_bytes, f.head_hex)).toSeq === Seq((9L, 0L, "")))
    // empty payload → zero frames, not a crash
    assert(Multimodal.sampleFrames(media).collect().isEmpty)
  }

  test("frame sampling: stride-2 frames, exact boundaries, last frame short") {
    import spark.implicits._
    // 600 chars → 600 bytes → frames of 256B: idx 0 (256B), 1 (256B), 2 (88B);
    // stride 2 keeps idx 0 and 2.
    val docs = Seq((7L, "ab" * 300)).toDF("doc_id", "text")
    val got = graft.ops.Multimodal
      .sampleFrames(graft.ops.Multimodal.attachPayload(docs))
      .collect().sortBy(_.frame_idx)
    assert(got.map(f => (f.frame_idx, f.n_bytes)).toSeq === Seq((0L, 256L), (2L, 88L)))
    // fingerprint = md5 over the lowercase-hex slice (the oracle's domain)
    val hx = ("ab" * 300).getBytes("UTF-8").map(b => f"$b%02x").mkString
    val exp0 = java.security.MessageDigest.getInstance("MD5")
      .digest(hx.substring(0, 512).getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(got.head.frame_md5 === exp0)
  }

  test("real ImageIO decode: exact known-pixel round trip, corrupt → sentinel") {
    // 2x3 RGB image with hand-picked pixels; analytic sums below.
    val img = new java.awt.image.BufferedImage(2, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Seq((10, 20, 30), (40, 50, 60), (70, 80, 90),
                 (100, 110, 120), (130, 140, 150), (160, 170, 180))
    px.zipWithIndex.foreach { case ((r, g, b), i) =>
      img.setRGB(i % 2, i / 2, (r << 16) | (g << 8) | b) }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val frame = Seq(("file:/x/tiny.png", bos.toByteArray),
                    ("file:/x/junk.png", Array[Byte](1, 2, 3)))
      .toDF("path", "content")
    val got = Multimodal.decodeImages(frame).collect().sortBy(_.name)
    val junk = got(0); val tiny = got(1)
    assert(tiny.name === "tiny.png" && tiny.width === 2 && tiny.height === 3)
    assert(tiny.n_pixels === 6L)
    assert(tiny.sum_r === px.map(_._1.toLong).sum)
    assert(tiny.sum_g === px.map(_._2.toLong).sum)
    assert(tiny.sum_b === px.map(_._3.toLong).sum)
    // undecodable bytes become a sentinel row, never an exception
    assert(junk.name === "junk.png" && junk.width === -1 && junk.height === -1)
  }

  test("decompression-bomb header degrades to a sentinel, no raster alloc") {
    // A syntactically valid PNG signature + IHDR declaring a 10⁶×10⁶ raster
    // (10¹² pixels ≈ 4 TB ARGB) with a CORRECT chunk CRC, so the reader
    // parses the header fine and only the maxPixels guard can stop it
    // before allocation.
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = new java.io.ByteArrayOutputStream()
    ihdr.write("IHDR".getBytes("US-ASCII"))
    val dim = 1000000
    Seq(dim, dim).foreach { d =>
      ihdr.write(Array((d >>> 24), (d >>> 16) & 0xff, (d >>> 8) & 0xff, d & 0xff).map(_.toByte))
    }
    ihdr.write(Array[Byte](8, 6, 0, 0, 0)) // depth 8, RGBA, deflate, none, no interlace
    val body = ihdr.toByteArray
    bos.write(Array[Byte](0, 0, 0, 13)) // IHDR data length
    bos.write(body)
    val crc = new java.util.zip.CRC32(); crc.update(body)
    val c = crc.getValue
    bos.write(Array((c >>> 24) & 0xff, (c >>> 16) & 0xff, (c >>> 8) & 0xff, c & 0xff)
      .map(_.toInt.toByte))
    val frame = Seq(("file:/x/bomb.png", bos.toByteArray)).toDF("path", "content")
    val got = Multimodal.decodeImages(frame).collect()
    assert(got.length === 1 && got.head.width === -1 && got.head.height === -1)
  }

  test("fixture decode matches the analytic manifest (q_image_decode path)") {
    import graft.queries.PipelineQueries
    val decoded = PipelineQueries.imageDecode(spark, "")
      .collect().map(_.toSeq).toSeq
    val manifest = spark.read.parquet(PipelineQueries.imageManifestPath)
      .orderBy(col("name"))
      .select("name", "width", "height", "n_pixels", "sum_r", "sum_g", "sum_b")
      .collect().map(_.toSeq).toSeq
    assert(decoded.nonEmpty && decoded === manifest)
  }

  test("aHash64: uniform image hashes 0; half-split sets exactly one half") {
    // uniform: no block mean exceeds the global mean (strict >) → 0
    assert(Multimodal.aHash64(16, 16, _ => Array.fill(16)(77)) === 0L)
    // top half bright, bottom dark → exactly the top 4 block rows set
    val split = Multimodal.aHash64(16, 16,
      y => Array.fill(16)(if (y < 8) 200 else 10))
    assert(split === 0x00000000ffffffffL)
  }

  test("perceptual dedup: byte-different variants land in one dup group") {
    import graft.queries.PipelineQueries
    val rows = PipelineQueries.imagePHash(spark, "").collect()
      .map(r => r.getString(0) ->
        ((r.getString(3), r.getString(4), r.getLong(5)))).toMap
    // every genv_* groups with its gen_* original, under the original's name
    (0 until 4).foreach { i =>
      val (orig, variant) = (f"gen_$i%02d.png", f"genv_$i%02d.png")
      assert(rows(variant)._1 === rows(orig)._1, s"$variant hash differs")
      assert(rows(variant)._2 === orig && rows(orig)._2 === orig)
      assert(rows(variant)._3 === 2L)
    }
    // distinct formulas do NOT collapse: every non-variant image is its
    // own group of 1
    val singles = rows.filterKeys(k => !k.startsWith("genv_")).values
    assert(singles.forall(_._3 <= 2L))
    assert(rows.values.map(_._1).toSet.size === rows.size - 4,
      "exactly the 4 variants share a hash")
    // decoder-side hashes equal the analytic manifest (never-decodes oracle)
    val manifest = spark.read.parquet(PipelineQueries.imageManifestPath)
      .select("name", "ahash_hex").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    rows.foreach { case (n, (h, _, _)) => assert(manifest(n) === h, n) }
  }

  test("image near-dups: banding equals brute force; near pairs beyond exact groups") {
    import graft.queries.PipelineQueries
    val banded = PipelineQueries.imageNearDups(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // brute-force truth from the frozen manifest hashes (host-side)
    val manifest = spark.read.parquet(PipelineQueries.imageManifestPath)
      .select("name", "ahash_hex").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter(_._2.length == 16).sortBy(_._1)
    val brute = (for {
      i <- manifest.indices; j <- (i + 1) until manifest.length
      d = java.lang.Long.bitCount(
        java.lang.Long.parseUnsignedLong(manifest(i)._2, 16) ^
          java.lang.Long.parseUnsignedLong(manifest(j)._2, 16)).toLong
      if d <= 6
    } yield (manifest(i)._1, manifest(j)._1, d)).toSet
    assert(banded === brute,
      "pigeonhole completeness: banded blocking must equal all-pairs truth")
    // the cut must contain TRUE near dups (0 < hamming <= 6), not just
    // the exact-hash groups q_image_phash already finds
    assert(banded.exists(_._3 == 0L) && banded.exists(t => t._3 > 0L),
      s"fixture must exercise both exact and near pairs: $banded")
  }

  test("image hash store: decode-once serving, delete lifecycle, policy compaction flip") {
    import graft.ops.{Dedup, Indexes}
    import graft.queries.PipelineQueries
    // hermetic copy: tombstones/flips must never touch the shared
    // fixture-dir family the registered queries serve from
    val dir = java.nio.file.Files.createTempDirectory("imghash_spec").toString
    val src = new java.io.File(PipelineQueries.imageFixtureDir)
    src.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(dir, f.getName))
    }
    val p1 = Indexes.ensureImageHashIndex(spark, dir)
    val stored = graft.ops.Stores.live(spark, p1, "name")
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    // store == inline decode (decode-once serving is lossless)
    val inline = graft.ops.Multimodal.imagePHashes(
        spark.read.format("binaryFile").load(dir)).toDF()
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(stored === inline)
    // tombstone one member of a known dup pair → its pairs vanish at read
    graft.ops.Stores.tombstone(p1,
      Seq("genv_00.png").toDF("name"), "name")
    val pairs = Dedup.hammingNearDups64(
        graft.ops.Stores.live(spark, p1, "name"), "name",
        Seq("ahash_hex" -> "ahash_hex"), 6, 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.nonEmpty)
    assert(!pairs.exists(p => p._1 == "genv_00.png" || p._2 == "genv_00.png"),
      "a tombstoned image must not candidate for pairs")
    // the policy recognizes the layout and compacts the delete physically
    val manifest = graft.ops.Stores.familyManifestDir(dir, "imghash_")
    val dest = java.nio.file.Files
      .createTempDirectory("imghash_spec_c").toString + "/c0"
    val d = Indexes.compactionPolicy(spark, p1, dest, maxFiles = 0,
      manifestDir = Some(manifest))
    assert(d.compacted && d.declined.isEmpty, s"$d")
    val compacted = spark.read.parquet(dest)
    assert(compacted.count() === stored.size - 1,
      "compaction folds the tombstone physically")
    assert(!new java.io.File(s"$dest.tombstones").exists(),
      "the compacted generation carries no sidecar")
    assert(Indexes.ensureImageHashIndex(spark, dir) === dest,
      "ensure serves the compacted flip (lineage)")
  }

  test("real audio decode matches the analytic manifest; corrupt → sentinel") {
    import graft.queries.PipelineQueries
    val decoded = PipelineQueries.audioDecode(spark, "")
      .collect().map(_.toSeq).toSeq
    val manifest = spark.read.parquet(PipelineQueries.audioManifestPath)
      .orderBy(col("name"))
      .select("name", "channels", "sample_rate", "bits", "n_samples",
        "duration_us", "abs_sum")
      .collect().map(_.toSeq).toSeq
    assert(decoded.nonEmpty && decoded === manifest,
      "javax.sound PCM decode must reproduce the generator's exact sums")
    // corrupt payload and a header-declared bomb both degrade to sentinels
    import spark.implicits._
    val bomb: Array[Byte] = {
      // valid RIFF/fmt header claiming ~2 GiB of PCM data, no actual data
      val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bos)
      o.writeBytes("RIFF"); o.writeInt(Integer.reverseBytes(36 + 0x7fff0000))
      o.writeBytes("WAVE"); o.writeBytes("fmt ")
      o.writeInt(Integer.reverseBytes(16))
      o.writeShort(java.lang.Short.reverseBytes(1).toInt)
      o.writeShort(java.lang.Short.reverseBytes(1).toInt)
      o.writeInt(Integer.reverseBytes(8000)); o.writeInt(Integer.reverseBytes(16000))
      o.writeShort(java.lang.Short.reverseBytes(2).toInt)
      o.writeShort(java.lang.Short.reverseBytes(16).toInt)
      o.writeBytes("data"); o.writeInt(Integer.reverseBytes(0x7fff0000))
      o.close()
      bos.toByteArray
    }
    val junk = Seq(
      ("/x/garbage.wav", Array[Byte](1, 2, 3, 4)),
      ("/x/bomb.wav", bomb))
      .toDF("path", "content")
    val got = Multimodal.decodeAudio(junk).collect()
    assert(got.length === 2 && got.forall(_.channels === -1),
      s"junk/bomb payloads must degrade to sentinels: ${got.toSeq}")
  }

  test("phash2 fusion equals (aHash64, dHash64) on random grids") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(30)
      val grid = Array.fill(h, w)(rnd.nextInt(256))
      def gr(y: Int): Array[Int] = grid(y)
      assert(Multimodal.phash2(w, h, gr) ===
        ((Multimodal.aHash64(w, h, gr), Multimodal.dHash64(w, h, gr))),
        s"trial $trial ${w}x$h")
    }
  }

  test("gray-grid accessor form hashes identically to the getRGB form") {
    // the serving sweep picks grid vs getRGB by raster size
    // (maxGrayGridBytes); both forms must produce bit-identical hashes
    // or the threshold would silently change committed fingerprints
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 10) {
      val w = 1 + rnd.nextInt(50)
      val h = 1 + rnd.nextInt(40)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, rnd.nextInt(0x1000000))
      def hashes(useGrid: Boolean) = {
        val (gr, gc) = Multimodal.grayAccessors(img, useGrid)
        val (ah, dh) = Multimodal.phash2(w, h, gr)
        (ah, dh, Multimodal.rotatedAHashes(w, h, gr, gc))
      }
      assert(hashes(useGrid = true) === hashes(useGrid = false),
        s"trial $trial ${w}x$h")
    }
  }

  test("dHash catches the brightness-ramp pair aHash provably misses") {
    import graft.queries.PipelineQueries
    // decoded hashes must reproduce the manifest's frozen dhash for
    // EVERY image (the analytic-oracle exactness contract)
    val decoded = Multimodal.imagePHashes(
        spark.read.format("binaryFile").load(PipelineQueries.imageFixtureDir))
      .collect().map(p => p.name -> (p.ahash_hex, p.dhash_hex)).toMap
    val manifest = spark.read.parquet(PipelineQueries.imageManifestPath)
      .select("name", "ahash_hex", "dhash_hex").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(decoded === manifest,
      "ImageIO decode must reproduce the formula-side a/d hashes")
    def hx(s: String) = java.lang.Long.parseUnsignedLong(s, 16)
    val (baseA, baseD) = decoded("genb_00_base.png")
    val (rampA, rampD) = decoded("genb_00_ramp.png")
    val dA = java.lang.Long.bitCount(hx(baseA) ^ hx(rampA))
    assert(dA > 6, s"aHash must miss the ramp pair (got $dA)")
    assert(baseD === rampD, "dHash must be exactly ramp-invariant")
    // and the registered queries reflect it: the pair is absent from the
    // aHash near-dups and present in the dHash near-dups at Hamming 0
    val aPairs = PipelineQueries.imageNearDups(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val dPairs = PipelineQueries.imageNearDupsDhash(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(!aPairs.contains(("genb_00_base.png", "genb_00_ramp.png")))
    assert(dPairs.contains(("genb_00_base.png", "genb_00_ramp.png", 0L)))
  }

  test("energyHash64: exact volume invariance, short streams, interleave-agnostic") {
    // volume invariance: scaling every |sample| by a positive integer
    // cancels in the cross-multiplication — bit-identical hashes
    val vals = Array.tabulate(500)(t =>
      math.abs(graft.tools.GenAudioFixture.sampleQ(0, t).toLong))
    val h1 = Multimodal.energyHash64(vals.length.toLong, i => vals(i.toInt))
    for (c <- Seq(2L, 3L, 7L, 1000L)) {
      val hc = Multimodal.energyHash64(vals.length.toLong,
        i => vals(i.toInt) * c)
      assert(hc === h1, s"volume scale ×$c must not move the fingerprint")
    }
    // streams shorter than 64 samples: empty blocks stay 0, no crash,
    // and the populated blocks still threshold correctly
    val short = Array(5L, 1L, 9L)
    val hs = Multimodal.energyHash64(3L, i => short(i.toInt))
    // blocks: i·64/3 → sample 0→block 0, 1→21, 2→42; mean = 5;
    // bits set where value·3 > 15: samples 0 (15 = no) and 2 (27 = yes)
    assert(hs === (1L << 42), f"short-stream hash wrong: $hs%016x")
    assert(Multimodal.energyHash64(0L, _ => 0L) === 0L,
      "empty stream must hash to 0, not divide by zero")
    // multi-channel: the interleaved stream hashes as ONE sequence — a
    // stereo stream whose two channels repeat the mono signal has the
    // identical envelope whenever block boundaries never split a frame
    // (n divisible by 32 → boundary i = 2n·b/64 is always even), so the
    // doubled-interleave hash is bit-identical to the mono hash
    val mono512 = Array.tabulate(512)(t =>
      math.abs(graft.tools.GenAudioFixture.sampleQ(1, t).toLong))
    val h512 = Multimodal.energyHash64(512L, i => mono512(i.toInt))
    val stereo = Array.tabulate(1024)(k => mono512(k / 2))
    assert(Multimodal.energyHash64(1024L, i => stereo(i.toInt)) === h512,
      "doubled-interleave stereo of the same signal must share the envelope")
  }

  test("energyHash64 on random streams: exact scale invariance for arbitrary content") {
    // the fixture pins invariance on the formula stream; this pins it on
    // arbitrary content and lengths (within the documented overflow
    // bound: blockSum·n ≤ 32768·c·(n/64+1)·n < 2⁶³ holds for c ≤ 1e6
    // at n ≤ 5000)
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 10) {
      val n = 1 + rnd.nextInt(5000)
      val vals = Array.fill(n)(rnd.nextInt(32769).toLong)
      val h = Multimodal.energyHash64(n.toLong, i => vals(i.toInt))
      assert(h === Multimodal.energyHash64(n.toLong, i => vals(i.toInt)),
        s"trial $trial: deterministic")
      for (c <- Seq(2L, 17L, 1000L, 1000000L))
        assert(Multimodal.energyHash64(n.toLong, i => vals(i.toInt) * c) === h,
          s"trial $trial n=$n scale ×$c")
    }
  }

  test("audio fingerprints: decode matches the analytic manifest; twins pair as engineered") {
    import graft.queries.PipelineQueries
    // decode must reproduce the generator formula's hash for EVERY file
    val decoded = Multimodal.audioPHashes(
        spark.read.format("binaryFile").load(PipelineQueries.audioFixtureDir))
      .collect().map(p => p.name -> p.ehash_hex).toMap
    val manifest = spark.read.parquet(PipelineQueries.audioManifestPath)
      .select("name", "ehash_hex").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(decoded === manifest,
      "javax.sound decode must reproduce the formula-side energy hashes")
    // the engineered contracts, verified on real WAV payloads:
    for (i <- 0 until 4)
      assert(decoded(f"genv_$i%02d.wav") === decoded(f"genq_$i%02d.wav"),
        s"3×-louder re-master $i must fingerprint identically")
    for (i <- 0 until 2)
      assert(decoded(f"genr_$i%02d.wav") === decoded(f"gen_$i%02d.wav"),
        s"renamed byte-identical copy $i must fingerprint identically")
    val dEdit = java.lang.Long.bitCount(
      java.lang.Long.parseUnsignedLong(decoded("gene_00.wav"), 16) ^
        java.lang.Long.parseUnsignedLong(decoded("genq_00.wav"), 16))
    assert(dEdit >= 1 && dEdit <= 6,
      s"the transposed-blocks edit must sit at Hamming 1..6, got $dEdit")
  }

  test("rotation-canonical image hash: rotated re-encode collides exactly, plain aHash misses it") {
    import graft.queries.PipelineQueries
    val ph = Multimodal.imagePHashes(
        spark.read.format("binaryFile").load(PipelineQueries.imageFixtureDir))
      .collect().map(p => p.name -> p).toMap
    // decode must reproduce the generator formula's canonical hash for
    // EVERY image (the ahash analytic-manifest contract, for rotations)
    val manifest = spark.read.parquet(PipelineQueries.imageManifestPath)
      .select("name", "rhash_hex").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ph.view.mapValues(_.rhash_hex).toMap === manifest)
    val (orig, rot) = (ph("gen_00.png"), ph("genrot_00.png"))
    assert(rot.rhash_hex === orig.rhash_hex,
      "a 90°-rotated re-encode must canonical-fingerprint identically")
    val dPlain = java.lang.Long.bitCount(
      java.lang.Long.parseUnsignedLong(rot.ahash_hex, 16) ^
        java.lang.Long.parseUnsignedLong(orig.ahash_hex, 16))
    assert(dPlain >= 7, s"plain aHash should miss the rotation, got $dPlain")
    // canonical is invariant under ALL four rotations of a raw grid
    val g = Array.tabulate(8, 5)((x, y) => (x * 37 + y * 91) % 256)
    def at(x: Int, y: Int) = g(x)(y)
    val c0 = Multimodal.rotAHash64Canonical(8, 5, at)
    val c90 = Multimodal.rotAHash64Canonical(5, 8, (x, y) => at(y, 5 - 1 - x))
    val c180 = Multimodal.rotAHash64Canonical(8, 5, (x, y) => at(8 - 1 - x, 5 - 1 - y))
    assert(c90 === c0 && c180 === c0)
    // and the registered query finds the engineered pair at distance 0
    val pairs = PipelineQueries.imageNearDupsRotated(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(pairs.contains(("gen_00.png", "genrot_00.png", 0L)) ||
      pairs.contains(("genrot_00.png", "gen_00.png", 0L)), s"$pairs")
  }

  test("4-way cross-distance near-dups: composite found, min-pick provably misses it, banding equals brute force") {
    import graft.queries.PipelineQueries
    val manifest = spark.read.parquet(PipelineQueries.imageManifestPath)
      .select("name", "ahash_hex", "r90_hex", "r180_hex", "r270_hex", "rhash_hex")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5)))
      .filter(_._2.length == 16).sortBy(_._1)
    def hd(a: String, b: String) = java.lang.Long.bitCount(
      java.lang.Long.parseUnsignedLong(a, 16) ^
        java.lang.Long.parseUnsignedLong(b, 16)).toLong
    def d4(a: (String, String, String, String, String, String),
           b: (String, String, String, String, String, String)): Long =
      Seq(hd(a._2, b._2), hd(a._2, b._3), hd(a._2, b._4), hd(a._2, b._5),
        hd(b._2, a._3), hd(b._2, a._4), hd(b._2, a._5)).min
    // pigeonhole completeness of the cross banding: served == all-pairs
    val brute = (for {
      i <- manifest.indices; j <- (i + 1) until manifest.length
      d = d4(manifest(i), manifest(j)) if d <= 6
    } yield (manifest(i)._1, manifest(j)._1, d)).toSet
    val served = PipelineQueries.imageNearDupsRotNear(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(served === brute,
      "cross banding must equal the all-pairs 4-way truth")
    // the engineered rotated+edited composite is FOUND here ...
    val comp = served.find(t => t._2 == "genrotn_00.png" &&
      t._1.matches("gen_\\d+\\.png"))
    assert(comp.isDefined, s"composite pair missing from $served")
    val byName = manifest.map(m => m._1 -> m).toMap
    val (orig, cmp) = (byName(comp.get._1), byName("genrotn_00.png"))
    // ... while the canonical min-pick column provably misses it (the
    // edit flipped which rotation attains the unsigned min) ...
    assert(hd(orig._6, cmp._6) >= 7,
      "the min-pick canonical distance must exceed the band")
    // ... and the plain hash is blind too (it is rotated)
    assert(hd(orig._2, cmp._2) >= 7)
    // identity rides among the variants: plain pairs are a subset
    val plain = PipelineQueries.imageNearDups(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(plain.subsetOf(served.map(t => (t._1, t._2))),
      "4-way pairs must superset the plain near-dup pairs")
    // the INCREMENTAL split equals the directional brute force, and it
    // reports the cross-orientation batch/corpus dup the plain
    // incremental probe is blind to (genv_00's plain hash sits within 1
    // of genrot_00's un-rotation variant)
    val incr = PipelineQueries.imageNearDupsRotIncr(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val bruteIncr = (for {
      a <- manifest if a._1.startsWith("genv_")
      b <- manifest if !b._1.startsWith("genv_")
      d = d4(a, b) if d <= 6
    } yield (a._1, b._1, d)).toSet
    assert(incr === bruteIncr,
      "incremental cross banding must equal the directional truth")
    assert(incr.exists(t => t._1 == "genv_00.png" && t._2 == "genrot_00.png"),
      s"the cross-orientation batch/corpus dup must be reported: $incr")
    val plainIncr = PipelineQueries.imageNearDupsIncr(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(!plainIncr.contains(("genv_00.png", "genrot_00.png")),
      "the plain incremental probe must remain blind to it — the pair " +
        "is this op's reason to exist")
  }

  test("canonical-rate audio hash: resampled copies collide exactly, plain hash misses them") {
    import graft.queries.PipelineQueries
    val ph = Multimodal.audioPHashes(
        spark.read.format("binaryFile").load(PipelineQueries.audioFixtureDir))
      .collect().map(p => p.name -> p).toMap
    // decode must reproduce the generator formula's canonical hash for
    // EVERY file (the ehash contract extended to the decimated stream)
    val manifest = spark.read.parquet(PipelineQueries.audioManifestPath)
      .select("name", "cehash_hex").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ph.view.mapValues(_.cehash_hex).toMap === manifest)
    for (i <- 0 until 2) {
      val (orig, res) = (ph(f"gen_$i%02d.wav"), ph(f"gend_$i%02d.wav"))
      // the half-rate re-encode normalizes onto the identical stream
      assert(res.cehash_hex === orig.cehash_hex,
        s"resampled copy $i must canonical-fingerprint identically")
      assert(res.crate === orig.crate,
        s"both rates must land on the same canonical band member")
      // ...and the rate-sensitive plain hash misses it — the gap this
      // fingerprint exists to close
      val dPlain = java.lang.Long.bitCount(
        java.lang.Long.parseUnsignedLong(res.ehash_hex, 16) ^
          java.lang.Long.parseUnsignedLong(orig.ehash_hex, 16))
      assert(dPlain >= 7, s"plain hash should miss the resample, got $dPlain")
    }
    // volume invariance carries through the decimation unchanged
    for (i <- 0 until 4)
      assert(ph(f"genv_$i%02d.wav").cehash_hex === ph(f"genq_$i%02d.wav").cehash_hex)
    // canonical band: every decodable recording lands in [4000, 8000) Hz
    // (rates below the floor keep factor 1 — none in this fixture)
    ph.values.filter(_.channels > 0).foreach(p =>
      assert(p.crate >= 4000 && p.crate < 8000, s"${p.name}: ${p.crate}"))
    // and the registered query finds the engineered pairs at distance 0
    val pairs = PipelineQueries.audioNearDupsResampled(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(pairs.contains(("gen_00.wav", "gend_00.wav", 0L)) ||
      pairs.contains(("gend_00.wav", "gen_00.wav", 0L)), s"$pairs")
  }

  test("cross-rate audio hash: 44.1k->16k+edit composite found, canonical provably misses, banding equals brute force") {
    import graft.queries.PipelineQueries
    val ph = Multimodal.audioPHashes(
        spark.read.format("binaryFile").load(PipelineQueries.audioFixtureDir))
      .collect().map(p => p.name -> p).toMap
    // decode must reproduce the generator formula's fixed-rate hashes
    // for EVERY file (the ehash contract at both shared target rates)
    val manifest = spark.read.parquet(PipelineQueries.audioManifestPath)
      .select("name", "xr4k_hex", "xr6k_hex").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(ph.view.mapValues(p => (p.x4k_hex, p.x6k_hex)).toMap === manifest)

    def d(a: String, b: String) = java.lang.Long.bitCount(
      java.lang.Long.parseUnsignedLong(a, 16) ^
        java.lang.Long.parseUnsignedLong(b, 16))
    val (master, variant) = (ph("genx_00.wav"), ph("genx_01.wav"))
    // the canonical family lands the pair at DIFFERENT canonical rates
    // (5512 vs 4000) — q_audio_near_dups_resampled is blind to it
    assert(master.crate === 5512 && variant.crate === 4000)
    assert(d(master.cehash_hex, variant.cehash_hex) >= 7,
      "the power-of-2 canonical must miss the cross-rate composite")
    val resampled = PipelineQueries.audioNearDupsResampled(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!resampled.contains(("genx_00.wav", "genx_01.wav")),
      "the canonical query must remain blind — this pair is the xrate op's reason to exist")
    // the shared 4 kHz projection prices only the edit
    assert(d(master.x4k_hex, variant.x4k_hex) >= 1 &&
      d(master.x4k_hex, variant.x4k_hex) <= 6)

    // the registered query finds it; banding equals min-over-channels
    // brute force over the frozen manifest under the ANY-channel
    // contract: a sentinel channel contributes no distance, rows with
    // no comparable channel drop entirely
    val got = PipelineQueries.audioNearDupsXrate(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val rows = manifest.toSeq
      .filter(r => r._2._1.length == 16 || r._2._2.length == 16)
    def chan(a: String, b: String): Option[Int] =
      if (a.length == 16 && b.length == 16) Some(d(a, b)) else None
    val brute = (for {
      (na, (a4, a6)) <- rows
      (nb, (b4, b6)) <- rows if na < nb
      dd <- (chan(a4, b4).toSeq ++ chan(a6, b6).toSeq).minOption
      if dd <= 6
    } yield (na, nb, dd.toLong)).toSet
    assert(got === brute, s"banding must equal all-pairs truth:\n$got\nvs\n$brute")
    assert(got.exists(t => t._1 == "genx_00.wav" && t._2 == "genx_01.wav"),
      s"the engineered cross-rate composite must be reported: $got")
    // the mixed-sentinel fixture pair pairs via its ONLY shared channel
    assert(got.exists(t => t._1 == "genxs_00.wav" && t._2 == "genxs_01.wav"),
      s"the mixed-sentinel pair must be reported via the x6k channel: $got")
    assert(ph("genxs_00.wav").x4k_hex === "" &&
      ph("genxs_00.wav").x6k_hex.length === 16,
      "genxs_00 must be the engineered mixed-sentinel row")
  }

  test("audio near-dup banding equals all-pairs truth over the frozen manifest") {
    import graft.queries.PipelineQueries
    val banded = PipelineQueries.audioNearDups(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val manifest = spark.read.parquet(PipelineQueries.audioManifestPath)
      .select("name", "ehash_hex").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter(_._2.length == 16).sortBy(_._1)
    val brute = (for {
      i <- manifest.indices; j <- (i + 1) until manifest.length
      d = java.lang.Long.bitCount(
        java.lang.Long.parseUnsignedLong(manifest(i)._2, 16) ^
          java.lang.Long.parseUnsignedLong(manifest(j)._2, 16)).toLong
      if d <= 6
    } yield (manifest(i)._1, manifest(j)._1, d)).toSet
    assert(banded === brute,
      "pigeonhole completeness: banded blocking must equal all-pairs truth")
    assert(banded.exists(_._3 == 0L) && banded.exists(t => t._3 > 0L),
      s"fixture must exercise both exact and near pairs: $banded")
  }

  test("audio hash store: decode-once serving, delete lifecycle, policy compaction flip") {
    import graft.ops.{Dedup, Indexes}
    import graft.queries.PipelineQueries
    // hermetic copy: tombstones/flips must never touch the shared
    // fixture-dir family the registered queries serve from
    val dir = java.nio.file.Files.createTempDirectory("audhash_spec").toString
    val src = new java.io.File(PipelineQueries.audioFixtureDir)
    src.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(dir, f.getName))
    }
    val p1 = Indexes.ensureAudioHashIndex(spark, dir)
    val stored = graft.ops.Stores.live(spark, p1, "name")
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    // store == inline decode (decode-once serving is lossless)
    val inline = Multimodal.audioPHashes(
        spark.read.format("binaryFile").load(dir)).toDF()
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(stored === inline)
    // tombstone one member of a known dup pair → its pairs vanish at read
    graft.ops.Stores.tombstone(p1,
      Seq("genv_00.wav").toDF("name"), "name")
    val pairs = Dedup.hammingNearDups64(
        graft.ops.Stores.live(spark, p1, "name"), "name",
        Seq("ehash_hex" -> "ehash_hex"), 6, 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.nonEmpty)
    assert(!pairs.exists(p => p._1 == "genv_00.wav" || p._2 == "genv_00.wav"),
      "a tombstoned recording must not candidate for pairs")
    // the policy recognizes the layout and compacts the delete physically
    val manifest = graft.ops.Stores.familyManifestDir(dir, "audhash_")
    val dest = java.nio.file.Files
      .createTempDirectory("audhash_spec_c").toString + "/c0"
    val d = Indexes.compactionPolicy(spark, p1, dest, maxFiles = 0,
      manifestDir = Some(manifest))
    assert(d.compacted && d.declined.isEmpty, s"$d")
    val compacted = spark.read.parquet(dest)
    assert(compacted.count() === stored.size - 1,
      "compaction folds the tombstone physically")
    assert(!new java.io.File(s"$dest.tombstones").exists(),
      "the compacted generation carries no sidecar")
    assert(Indexes.ensureAudioHashIndex(spark, dir) === dest,
      "ensure serves the compacted flip (lineage)")
  }

  test("resize: exact 2x2 box filter on known pixels; edge drop; corrupt sentinel") {
    // 3x5 image: out dims 1x2 (odd column and 5th row dropped).
    // Pixels (r only; g=2r, b=3r pattern keeps channels distinct):
    //   rows y=0..4, cols x=0..2, r = 10*(y*3+x)
    val img = new java.awt.image.BufferedImage(3, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 3) {
      val r = 10 * (y * 3 + x); val g = (2 * r) % 256; val b = (3 * r) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    import spark.implicits._
    val df = Seq(("/x/k.png", bos.toByteArray),
        ("/x/junk.png", Array[Byte](9, 9, 9)))
      .toDF("path", "content")
    val got = Multimodal.resizeImages(df, factor = 2).collect()
      .map(r => r.name -> r).toMap
    // block (0,0): r ∈ {0,10,30,40} sum 80 → 20; block (0,1): r ∈
    // {60,70,90,100} sum 320 → 80; sum_r = 100. g = 2r exactly (all
    // 2r < 256 here: max r=100 → g=200): floor sums double → 200.
    // b = 3r wraps at r=90,100 (270%256=14, 300%256=44):
    // block(0,0) b {0,30,90,120} → 240/4=60; block(0,1) b
    // {180,210,14,44} → 448/4=112; sum_b = 172.
    val k = got("k.png")
    assert((k.out_w, k.out_h, k.sum_r, k.sum_g, k.sum_b) ===
      ((1, 2, 100L, 200L, 172L)), s"$k")
    val j = got("junk.png")
    assert(j.out_w === -1 && j.sum_r === 0L, "corrupt payload → sentinel")
    // and the registered queries reproduce the analytic manifests whole
    import graft.queries.PipelineQueries
    val ri = PipelineQueries.imageResize(spark, "").collect().map(_.toSeq)
    val mi = spark.sql(s"""SELECT name, CAST(width/2 AS INT), CAST(height/2 AS INT),
        rs2_sum_r, rs2_sum_g, rs2_sum_b
        FROM parquet.`${PipelineQueries.imageManifestPath}` ORDER BY name""")
      .collect().map(_.toSeq)
    assert(ri.nonEmpty && ri === mi)
    val ra = PipelineQueries.audioResample(spark, "").collect().map(_.toSeq)
    val ma = spark.sql(s"""SELECT name, channels, CAST(sample_rate/2 AS INT),
        dec2_n_samples, dec2_duration_us, dec2_abs_sum
        FROM parquet.`${PipelineQueries.audioManifestPath}` ORDER BY name""")
      .collect().map(_.toSeq)
    assert(ra.nonEmpty && ra === ma)
  }

  test("metadata-only query does not need payload decode (column pruning)") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Multimodal.attachPayload(docs).select("doc_id", "source")
      .queryExecution.executedPlan.toString
    // the parquet scan must not read `text` (payload source) for a
    // doc_id/source projection
    assert(plan.contains("ReadSchema") && !plan.contains("text"))
  }
}
