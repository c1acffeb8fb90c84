package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession
import graft.operators.Multimodal.MediaRecord

/** Multimodal plumbing specs: schema, batching shape, determinism, the
  * REAL javax.imageio image decode path, and the REAL javax.sound.sampled
  * PCM WAV decode path (video and compressed audio remain a documented
  * stub — no such codecs in-container). */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  import spark.implicits._

  /** Encode a solid-color w×h image to real bytes via the JDK writer. */
  private def imageBytes(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  private def media(n: Int) = (1 to n).map(i =>
    MediaRecord(i.toLong, if (i % 2 == 0) "image" else "audio",
      Array.tabulate(i * 10)(b => (b * i).toByte))).toDS()

  test("extractFeatures: schema, one row per payload, metadata carried") {
    val out = Multimodal.extractFeatures(media(10), batchSize = 3)
    assert(out.columns.toSeq == Seq("media_id", "media_type", "n_bytes", "feature"))
    assert(out.count() == 10)
    val r = out.where($"media_id" === 4).head()
    assert(r.media_type == "image" && r.n_bytes == 40L && r.feature.length == 8)
  }

  test("extractFeatures is deterministic across runs and batch sizes") {
    def run(bs: Int) = Multimodal.extractFeatures(media(20), batchSize = bs)
      .collect().sortBy(_.media_id).map(f => (f.media_id, f.n_bytes, f.feature.toSeq)).toSeq
    assert(run(4) == run(64)) // batching must not change results
    assert(run(4) == run(4))
  }

  test("extractFeaturesDF wraps an untyped frame with a binary column") {
    val df = Seq((1L, "doc", "hello world")).toDF("id", "mtype", "text")
      .select($"id", $"mtype", encode($"text", "UTF-8").as("payload"))
    val out = Multimodal.extractFeaturesDF(spark, df, "id", "mtype", "payload")
    val r = out.head()
    assert(r.getAs[Long]("n_bytes") == 11L) // n_bytes == octet length of payload
  }

  test("real image decode: PNG and JPEG dimensions + pixel stats through the batched plan") {
    val png = imageBytes("png", 32, 16, 0xff0000)   // solid red
    val jpg = imageBytes("jpg", 8, 8, 0x000000)     // solid black
    val ds = Seq(
      MediaRecord(1L, "image/png", png),
      MediaRecord(2L, "image/jpeg", jpg),
      MediaRecord(3L, "audio/wav", Array[Byte](1, 2, 3))).toDS()
    val out = Multimodal.extractFeatures(ds, batchSize = 2).collect()
      .map(f => f.media_id -> f).toMap
    val p = out(1L).feature
    assert(p(0) == 32f && p(1) == 16f, "decoded PNG dimensions")
    assert(math.abs(p(3) - 1.0f) < 0.02 && p(4) < 0.02 && p(5) < 0.02, "solid red means")
    assert(math.abs(p(7) - 2.0f) < 1e-6, "aspect ratio")
    val j = out(2L).feature
    assert(j(0) == 8f && j(1) == 8f, "decoded JPEG dimensions")
    assert(j(3) < 0.05 && j(4) < 0.05 && j(5) < 0.05, "solid black means")
    // non-image payloads still take the deterministic stub
    assert(out(3L).n_bytes == 3L)
    // undecodable bytes labeled image fall back to the stub, not an error
    val junk = Seq(MediaRecord(9L, "image/png", Array[Byte](9, 9, 9))).toDS()
    assert(Multimodal.extractFeatures(junk).head().feature.length == 8)
  }

  test("resizeImages: real decode → bilinear scale → PNG re-encode; non-images pass through") {
    val records = Seq(
      MediaRecord(1L, "image/png", imageBytes("png", 100, 40, 0xff0000)),
      MediaRecord(2L, "image/jpeg", imageBytes("jpg", 16, 16, 0x00ff00)),
      MediaRecord(3L, "audio/wav", Array.tabulate(64)(_.toByte)),
      MediaRecord(4L, "image/png", Array.tabulate(16)(_.toByte))) // garbage bytes
      .toDS()
    val out = Multimodal.resizeImages(records, targetW = 32, targetH = 32)
      .collect().map(r => r.media_id -> r).toMap
    // resized payloads decode back to exactly the target resolution
    Seq(1L, 2L).foreach { id =>
      assert(out(id).resized && out(id).media_type == "image/png")
      val im = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(out(id).content))
      assert(im.getWidth == 32 && im.getHeight == 32, s"media $id")
    }
    // a solid-color source stays that color after bilinear scaling
    val im1 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).content))
    assert((im1.getRGB(16, 16) & 0xffffff) == 0xff0000)
    // non-image and undecodable payloads pass through byte-identical
    assert(!out(3L).resized &&
      out(3L).content.sameElements(Array.tabulate(64)(_.toByte)))
    assert(!out(4L).resized && out(4L).content.length == 16)
  }

  /** Encode 16-bit signed little-endian mono PCM samples as a real WAV
    * via the JDK writer. */
  private def wavBytes(samples: Array[Short], sampleRate: Float): Array[Byte] = {
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("real WAV decode: duration/rate/channels + hand-computed RMS and peak") {
    // 8000 samples at 8 kHz = 1 s, alternating ±16384 (amplitude 0.5):
    // rms = peak = meanAbs = 0.5 exactly
    val samples = Array.tabulate(8000)(i =>
      (if (i % 2 == 0) 16384 else -16384).toShort)
    val wav = wavBytes(samples, 8000f)
    val out = Multimodal.extractFeatures(
      Seq(MediaRecord(1L, "audio/wav", wav)).toDS()).collect().head
    val Array(dur, rate, ch, bits, nFrames, rms, peak) = out.feature.take(7)
    assert(rate == 8000f && ch == 1f && bits == 16f && nFrames == 8000f)
    assert(math.abs(dur - 1.0f) < 1e-6, s"duration $dur")
    assert(math.abs(rms - 0.5f) < 1e-6, s"rms $rms")
    assert(math.abs(peak - 0.5f) < 1e-6, s"peak $peak")
    assert(out.n_bytes == wav.length.toLong)
  }

  test("WAV decode: stereo sine RMS matches A/sqrt(2); garbage audio falls back to stub") {
    // 0.25-amplitude sine, 2 channels carrying the same signal: RMS over
    // interleaved samples is still 0.25/sqrt(2)
    val n = 4096
    val mono = Array.tabulate(n)(i =>
      math.round(0.25 * 32768.0 * math.sin(2 * math.Pi * i / 64.0)).toShort)
    val inter = new Array[Byte](n * 4)
    mono.zipWithIndex.foreach { case (s, i) =>
      for (c <- 0 to 1) {
        inter(4 * i + 2 * c) = (s & 0xff).toByte
        inter(4 * i + 2 * c + 1) = ((s >> 8) & 0xff).toByte
      }
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(inter), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val decoded = Multimodal.extractFeatures(
      Seq(MediaRecord(7L, "audio/wav", out.toByteArray)).toDS()).collect().head
    val rms = decoded.feature(5)
    val expected = 0.25 / math.sqrt(2.0)
    assert(math.abs(rms - expected) < 1e-3, s"stereo sine rms $rms vs $expected")
    assert(decoded.feature(2) == 2f && decoded.feature(1) == 16000f)

    // garbage "audio" bytes: parser rejects → deterministic stub features
    val junk = MediaRecord(8L, "audio/wav", Array.tabulate(64)(_.toByte))
    val viaDispatch = Multimodal.decode(junk)
    assert(viaDispatch.feature.sameElements(Multimodal.stubDecode(junk).feature))
  }

  test("WAV decode: 32-bit signed and 8-bit unsigned PCM reconstruct exactly (Long arithmetic)") {
    // 32-bit signed: alternating ±2^30 (amplitude 0.5). An Int-accumulator
    // implementation wraps at this width; the Long path is exact.
    val n32 = 1024
    val data32 = new Array[Byte](n32 * 4)
    for (i <- 0 until n32) {
      val s = if (i % 2 == 0) (1 << 30) else -(1 << 30)
      data32(4 * i) = (s & 0xff).toByte
      data32(4 * i + 1) = ((s >> 8) & 0xff).toByte
      data32(4 * i + 2) = ((s >> 16) & 0xff).toByte
      data32(4 * i + 3) = ((s >> 24) & 0xff).toByte
    }
    val fmt32 = new javax.sound.sampled.AudioFormat(8000f, 32, 1, true, false)
    val ais32 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data32), fmt32, n32.toLong)
    val out32 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais32,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out32)
    val dec32 = Multimodal.extractFeatures(
      Seq(MediaRecord(31L, "audio/wav", out32.toByteArray)).toDS()).collect().head
    assert(dec32.feature(3) == 32f, "must take the real decode path, not the stub")
    assert(math.abs(dec32.feature(5) - 0.5f) < 1e-6, s"32-bit rms ${dec32.feature(5)}")
    assert(math.abs(dec32.feature(6) - 0.5f) < 1e-6, s"32-bit peak ${dec32.feature(6)}")

    // 8-bit unsigned (the one unsigned width WAV actually uses): constant
    // 192 = midpoint 128 + 64 → every sample re-centers to +0.5 exactly
    val n8 = 512
    val data8 = Array.fill(n8)(192.toByte)
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data8), fmt8, n8.toLong)
    val out8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais8,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out8)
    val dec8 = Multimodal.extractFeatures(
      Seq(MediaRecord(32L, "audio/wav", out8.toByteArray)).toDS()).collect().head
    assert(dec8.feature(3) == 8f, "must take the real decode path, not the stub")
    assert(math.abs(dec8.feature(5) - 0.5f) < 1e-6, s"8-bit unsigned rms ${dec8.feature(5)}")
    assert(math.abs(dec8.feature(6) - 0.5f) < 1e-6, s"8-bit unsigned peak ${dec8.feature(6)}")
  }

  /** Minimal ISO-BMFF fixture: ftyp + moov(mvhd + video trak + audio
    * trak), authored field by field (same spirit as the WAV fixture). */
  private def mp4Bytes(timescale: Int, duration: Long, w: Int, h: Int,
      version1: Boolean): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length)
      bb.put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bb.put(payload)
      bb.array()
    }
    val mvhd = {
      val p = java.nio.ByteBuffer.allocate(if (version1) 112 else 100)
      if (version1) {
        p.put(0, 1.toByte) // version 1: 64-bit creation/mod/duration
        p.position(20); p.putInt(timescale); p.putLong(duration)
      } else {
        p.position(12); p.putInt(timescale); p.putInt(duration.toInt)
      }
      box("mvhd", p.array())
    }
    def trak(w: Int, h: Int) = {
      val p = java.nio.ByteBuffer.allocate(if (version1) 96 else 84)
      if (version1) p.put(0, 1.toByte)
      p.position(4 + (if (version1) 84 else 72))
      p.putInt(w << 16); p.putInt(h << 16) // 16.16 fixed point
      box("trak", box("tkhd", p.array()))
    }
    box("ftyp", "isom".getBytes ++ Array[Byte](0, 0, 0, 0)) ++
      box("moov", mvhd ++ trak(w, h) ++ trak(0, 0))
  }

  test("MP4 container metadata: duration, dimensions, track count from the box walk") {
    for (v1 <- Seq(false, true)) {
      val bytes = mp4Bytes(timescale = 1000, duration = 5500L, w = 640, h = 360,
        version1 = v1)
      val out = Multimodal.extractFeatures(
        Seq(MediaRecord(9L, "video/mp4", bytes)).toDS()).collect().head
      val Array(dur, ts, nTracks, w, h) = out.feature.take(5)
      assert(math.abs(dur - 5.5f) < 1e-6, s"v1=$v1 duration $dur")
      assert(ts == 1000f && nTracks == 2f, s"v1=$v1 ts=$ts tracks=$nTracks")
      assert(w == 640f && h == 360f, s"v1=$v1 dims ${w}x$h (audio trak's 0x0 must be skipped)")
    }
    // junk video payload: no parseable moov -> deterministic stub fallback
    val junk = MediaRecord(10L, "video/mp4", Array.tabulate(64)(_.toByte))
    assert(Multimodal.decode(junk).feature
      .sameElements(Multimodal.stubDecode(junk).feature))
    // a non-video type never takes the box walk even if bytes parse
    val relabeled = MediaRecord(11L, "application/octet-stream",
      mp4Bytes(1000, 1000L, 64, 64, version1 = false))
    assert(Multimodal.decode(relabeled).feature
      .sameElements(Multimodal.stubDecode(relabeled).feature))
  }

  test("sampleFrames keeps every Nth fixed-size slice") {
    val df = Seq(Tuple1(Array.tabulate(5000)(_.toByte))).toDF("content")
    val frames = Multimodal.sampleFrames(df, "content", everyN = 2, frameBytes = 1024)
      .select(size($"frames")).head().getInt(0)
    // 4 full frames (0..3) -> indices 0 and 2 kept
    assert(frames == 2)
  }

  test("lumaGrid9x8: live decode of the image fixture equals the frozen grids (drift detection)") {
    val live = (0L until ImageFixture.NumImages.toLong).flatMap { id =>
      Multimodal.lumaGrid9x8(Multimodal.MediaRecord(
        id, "image/png", ImageFixture.pngBytes(id))).map(g => id -> g.toSeq)
    }.toMap
    val frozen = FrozenImageGrids.grids.map { case (id, g) => id -> g.toSeq }.toMap
    assert(live.keySet == frozen.keySet)
    live.foreach { case (id, g) =>
      assert(g == frozen(id),
        s"grid drift for image $id - rerun graft.FreezeImageGrids AND " +
          "re-check the q_image_near_dups oracle")
    }
    // non-image / undecodable payloads yield no grid (no dedup evidence)
    assert(Multimodal.lumaGrid9x8(Multimodal.MediaRecord(
      99L, "text/plain", "not an image".getBytes)).isEmpty)
    assert(Multimodal.lumaGrid9x8(Multimodal.MediaRecord(
      99L, "image/png", Array.tabulate(64)(_.toByte))).isEmpty)
  }

  test("imageNearDupPairs: banded dHash equals brute-force Hamming truth; resolution keeps min-id") {
    val media = ImageFixture.frame(spark)
    val got = Dedup.imageNearDupPairs(media, "media_id", "media_type",
        "content", maxHamming = 6)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // brute-force truth over the dHashes of the (frozen-verified) grids
    val hashes = FrozenImageGrids.grids.map { case (id, g) =>
      id -> Multimodal.dHash64(g) }
    val want = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want, s"banded pairs must equal brute force:\n${got.diff(want)}\n${want.diff(got)}")
    // the fixture's structure: exactly the 20 planted (3k, 3k+1) twins
    assert(want.map { case (a, b, _) => (a, b) } ==
      (0 until 20).map(k => (3L * k, 3L * k + 1)).toSet)

    // end-to-end removal: min-id survivor per pair; an undecodable
    // payload always survives (no hash -> no duplicate evidence)
    val withJunk = media.unionByName(Seq(
      (1000L, "image/png", Array.tabulate(32)(_.toByte)))
      .toDF("media_id", "media_type", "content"))
    val kept = Dedup.removeNearDuplicateImages(withJunk, "media_id",
        "media_type", "content", maxHamming = 6)
      .select("media_id").as[Long].collect().toSet
    assert(kept == ((0 until 60).map(_.toLong).toSet -- (0 until 20).map(3L * _ + 1)) + 1000L)
  }

  test("imageNearDupPairs128: banded h∥v dHash equals brute-force 128-bit Hamming truth") {
    val media = ImageFixture.frame(spark)
    val got = Dedup.imageNearDupPairs128(media, "media_id", "media_type",
        "content", maxHamming = 6)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // brute-force truth over both frozen grid families
    val h = FrozenImageGrids.grids.map { case (id, g) => id -> Multimodal.dHash64(g) }.toMap
    val v = FrozenImageGrids.gridsV.map { case (id, g) => id -> Multimodal.dHash64v(g) }.toMap
    val ids = h.keys.toSeq.sorted
    val want = (for {
      ia <- ids; ib <- ids if ia < ib
      d = java.lang.Long.bitCount(h(ia) ^ h(ib)) +
        java.lang.Long.bitCount(v(ia) ^ v(ib)) if d <= 6
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want,
      s"banded 128-bit pairs must equal brute force:\n${got.diff(want)}\n${want.diff(got)}")
    // the live path decodes once and matches the frozen grids
    val liveV = (0L until ImageFixture.NumImages.toLong).flatMap { id =>
      Multimodal.lumaGrids128(Multimodal.MediaRecord(
        id, "image/png", ImageFixture.pngBytes(id))).map { case (_, gv) => id -> gv.toSeq }
    }.toMap
    FrozenImageGrids.gridsV.foreach { case (id, g) =>
      assert(liveV(id) == g.toSeq,
        s"vertical grid drift for image $id - rerun graft.FreezeImageGrids")
    }
    // every 64-bit-detected twin pair remains detected (vertical bits
    // only ADD distance the pair genuinely has; the planted edits are
    // one-block, within the bound in both gradients)
    assert(want.map { case (a, b, _) => (a, b) } ==
      (0 until 20).map(k => (3L * k, 3L * k + 1)).toSet,
      "fixture twins must survive the 128-bit bound")
  }

  test("staged chunk-groups == single pass: image 64/128-bit bands and video frame pairs") {
    // The Hamming chunk axis partitions the band join exactly — staging
    // over chunk-index groups must reproduce the single-pass pair set
    // (the minhash detect's bounded-disk guarantee, ported to the media
    // families). Pins both the grouping arithmetic and the cross-group
    // anti-join (a twin pair collides in MANY chunks here: the planted
    // edits leave most of the 7 chunk keys equal).
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val media = ImageFixture.frame(spark)
    val h = Dedup.materialize(
      Dedup.imageHashFrame(media, "media_id", "media_type", "content"))
    val single64 = pairSet(Dedup.hammingPairs(h, Seq("sh"), 6))
    assert(single64.nonEmpty)
    assert(pairSet(Dedup.hammingPairs(h, Seq("sh"), 6, 3)) == single64)
    // a group count above the chunk-axis width degenerates to one group
    // per chunk (7 groups), still exact
    assert(pairSet(Dedup.hammingPairs(h, Seq("sh"), 6, 50)) == single64)
    val h128 = Dedup.materialize(
      Dedup.imageHashFrame128(media, "media_id", "media_type", "content"))
    val single128 = pairSet(Dedup.hammingPairs(h128, Seq("lo", "hi"), 6))
    assert(single128.nonEmpty)
    assert(pairSet(Dedup.hammingPairs(h128, Seq("lo", "hi"), 6, 4)) == single128)

    // video: the staged unit is the FRAME pair (id_a, id_b, fpos) —
    // both the aligned and SET band keys must survive staging unchanged
    val vm = VideoFixture.frame(spark)
    val hashes = Dedup.materialize(
      Dedup.videoFrameHashFrame(vm, "media_id", "media_type", "content", 2)
        .select($"id", $"fpos", $"sh"))
    val chunked = Dedup.hammingChunks(hashes, Seq("sh"), 4)
    def frameSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", $"fpos".cast("long"), $"hamming".cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    Seq(true, false).foreach { aligned =>
      val single = frameSet(
        Dedup.videoFramePairsOn(chunked, aligned, 4, None))
      assert(single.nonEmpty, s"aligned=$aligned")
      val staged = frameSet(
        Dedup.videoFramePairsStaged(chunked, aligned, 4, 3))
      assert(staged == single,
        s"aligned=$aligned: only-single=${single -- staged} " +
          s"only-staged=${staged -- single}")
    }
  }

  test("audioEnvelope: live PCM decode of the audio fixture equals the analytic envelope") {
    // the ±A square-wave synthesis makes each window's L1 energy EXACTLY
    // 64·amplitude — the analytic truth the q_audio_near_dups oracle is
    // generated from (stronger than a frozen-decode pin)
    (0L until AudioFixture.NumClips.toLong).foreach { id =>
      val live = Multimodal.audioEnvelope(Multimodal.MediaRecord(
        id, "audio/wav", AudioFixture.wavBytes(id)))
      val want = (0 until AudioFixture.Windows)
        .map(w => 64L * AudioFixture.windowAmplitude(id, w))
      assert(live.map(_.toSeq).contains(want),
        s"decoded envelope must equal the analytic envelope for clip $id")
    }
    // non-audio / undecodable / too-short payloads yield no envelope
    assert(Multimodal.audioEnvelope(Multimodal.MediaRecord(
      99L, "text/plain", "not audio".getBytes)).isEmpty)
    assert(Multimodal.audioEnvelope(Multimodal.MediaRecord(
      99L, "audio/wav", Array.tabulate(32)(_.toByte))).isEmpty)
    // a valid WAV with fewer samples than windows: 10 samples < 65
    val tiny = {
      val b = java.nio.ByteBuffer.allocate(44 + 20)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + 20).put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(20)
      (0 until 10).foreach(i => b.putShort((i * 100).toShort))
      b.array()
    }
    assert(Multimodal.audioEnvelope(Multimodal.MediaRecord(
      99L, "audio/wav", tiny)).isEmpty,
      "sub-65-sample streams carry no envelope evidence")
  }

  test("audioHash64: amplitude-scaling invariance and the planted-edit bit bound") {
    // exact positive scaling preserves every comparison -> identical hash
    val env = Array.tabulate(65)(w => 64L * AudioFixture.windowAmplitude(0L, w))
    val scaled = env.map(_ * 4 / 5) // amplitudes are multiples of 5: exact
    assert(Multimodal.audioHash64(env) == Multimodal.audioHash64(scaled))
    // the twin differs from the base in ONE window -> at most 2 delta bits
    (0 until 20).foreach { k =>
      val base = Array.tabulate(65)(w => 64L * AudioFixture.windowAmplitude(3L * k, w))
      val twin = Array.tabulate(65)(w => 64L * AudioFixture.windowAmplitude(3L * k + 1, w))
      val d = java.lang.Long.bitCount(
        Multimodal.audioHash64(base) ^ Multimodal.audioHash64(twin))
      assert(d <= 2, s"twin $k must sit within 2 bits, got $d")
    }
  }

  test("audioNearDupPairs: banded envelope hash equals brute-force Hamming truth; min-id survives") {
    val media = AudioFixture.frame(spark)
    val got = Dedup.audioNearDupPairs(media, "media_id", "media_type",
        "content", maxHamming = 4)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // brute-force truth over the analytic envelopes
    val hashes = (0L until AudioFixture.NumClips.toLong).map { id =>
      id -> Multimodal.audioHash64(
        Array.tabulate(65)(w => 64L * AudioFixture.windowAmplitude(id, w)))
    }
    val want = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 4
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want,
      s"banded pairs must equal brute force:\n${got.diff(want)}\n${want.diff(got)}")
    // the fixture's structure: exactly the 20 planted (3k, 3k+1) twins
    assert(want.map { case (a, b, _) => (a, b) } ==
      (0 until 20).map(k => (3L * k, 3L * k + 1)).toSet)

    // end-to-end removal: min-id survivor per pair; an undecodable
    // payload always survives (no hash -> no duplicate evidence)
    val withJunk = media.unionByName(Seq(
      (1000L, "audio/wav", Array.tabulate(16)(_.toByte)))
      .toDF("media_id", "media_type", "content"))
    val kept = Dedup.removeNearDuplicateAudio(withJunk, "media_id",
        "media_type", "content", maxHamming = 4)
      .select("media_id").as[Long].collect().toSet
    assert(kept == ((0 until 60).map(_.toLong).toSet -- (0 until 20).map(3L * _ + 1)) + 1000L)
  }

  test("removeNearDuplicateMediaIncremental: persisted-index probe, taint + min-id semantics") {
    // existing corpus = the 60 fixture clips, indexed as (id, sh) and
    // round-tripped through parquet (the production probe shape)
    val existing = AudioFixture.frame(spark)
    val idxDir = java.nio.file.Files.createTempDirectory("media_idx").toString
    Dedup.audioHashFrame(existing, "media_id", "media_type", "content")
      .write.mode("overwrite").parquet(idxDir)
    val exHashes = spark.read.parquet(idxDir)

    // incoming: 1000+j — even j = exact-scaled copy of corpus base
    // 3*(j/2) (tainted); odd j = unrelated fresh clip (survives); plus
    // a PURE-INCOMING twin pair (2000, 2001 share a fresh waveform no
    // corpus clip resembles → min id survives) and one junk payload
    val freshTwinBytes = AudioFixture.wavBytes(5000L)
    val incoming = (0 until 30).map { j =>
      val id = 1000L + j
      val bytes =
        if (j % 2 == 0) AudioFixture.wavBytesScaled(3L * (j / 2), 4, 5)
        else AudioFixture.wavBytes(id)
      (id, "audio/wav", bytes)
    } ++ Seq(
      (2000L, "audio/wav", freshTwinBytes),
      (2001L, "audio/wav", freshTwinBytes),
      (3000L, "audio/wav", Array.tabulate(16)(_.toByte))) // undecodable
    val inDf = incoming.toDF("media_id", "media_type", "content")

    val kept = Dedup.removeNearDuplicateMediaIncremental(
        exHashes, inDf, "media_id", "media_type", "content",
        kind = "audio", maxHamming = 4)
      .select("media_id").as[Long].collect().toSet
    val expected = (0 until 30).filter(_ % 2 == 1).map(1000L + _).toSet +
      2000L + // pure-incoming twin cluster keeps min id
      3000L   // undecodable payload always survives
    assert(kept == expected, s"got $kept")

    // image kind through the same operator: bases indexed, twins tainted,
    // unrelated survive
    import graft.operators.ImageFixture
    val exImg = Dedup.imageHashFrame(
      ImageFixture.frame(spark).where($"media_id" % 3 === 0),
      "media_id", "media_type", "content")
    val inImg = ImageFixture.frame(spark).where($"media_id" % 3 =!= 0)
    val keptImg = Dedup.removeNearDuplicateMediaIncremental(
        exImg, inImg, "media_id", "media_type", "content",
        kind = "image", maxHamming = 6)
      .select("media_id").as[Long].collect().toSet
    assert(keptImg == (0 until 20).map(3L * _ + 2).toSet,
      s"twins must taint, unrelated must survive: $keptImg")

    // disjoint-id contract fails fast
    val boom = intercept[IllegalArgumentException] {
      Dedup.removeNearDuplicateMediaIncremental(
        exHashes, existing, "media_id", "media_type", "content",
        kind = "audio", maxHamming = 4).count()
    }
    assert(boom.getMessage.contains("disjoint"))

    // oversized-batch contract (round 15): the probe auto-splits an
    // incoming delta into sequential id-hash sub-batches when its
    // candidate mass would not fit local disk — forced here on the
    // fixture (the 200k-row floor keeps real fixture plans single-pass)
    // and required to keep the EXACT single-pass survivors, audio and
    // image kinds both
    assert(Dedup.removeNearDuplicateMediaIncremental(
        exHashes, inDf, "media_id", "media_type", "content",
        kind = "audio", maxHamming = 4, forceProbeGroups = Some(3))
      .select("media_id").as[Long].collect().toSet == expected)
    assert(Dedup.removeNearDuplicateMediaIncremental(
        exImg, inImg, "media_id", "media_type", "content",
        kind = "image", maxHamming = 6, forceProbeGroups = Some(4))
      .select("media_id").as[Long].collect().toSet == keptImg)
  }

  test("removeNearDuplicateMediaIncremental kind=video: per-frame index probe, taint + min-id") {
    // existing corpus = the 45 fixture clips, indexed as the per-frame
    // (id, fpos, sh) frame and round-tripped through parquet
    val existing = VideoFixture.frame(spark)
    val idxDir = java.nio.file.Files.createTempDirectory("video_idx").toString
    Dedup.videoFrameHashFrame(existing, "media_id", "media_type", "content")
      .write.mode("overwrite").parquet(idxDir)
    val exHashes = spark.read.parquet(idxDir)
    // incoming: even ordinals = byte-identical re-containers of corpus
    // bases (all frames hamming 0 -> tainted); odd = fresh clips
    // (survive); plus a pure-incoming twin pair (min id survives) and
    // one undecodable payload
    val incoming = (0 until 10).map { j =>
      val id = 1000L + j
      val bytes =
        if (j % 2 == 0) VideoFixture.aviBytes(3L * (j / 2))
        else VideoFixture.aviBytes(5000L + j)
      (id, "video/avi", bytes)
    } ++ Seq(
      (2000L, "video/avi", VideoFixture.aviBytes(7777L)),
      (2001L, "video/avi", VideoFixture.aviBytes(7777L)),
      (3000L, "video/avi", Array.tabulate(16)(_.toByte)))
    val inDf = incoming.toDF("media_id", "media_type", "content")
    val kept = Dedup.removeNearDuplicateMediaIncremental(
        exHashes, inDf, "media_id", "media_type", "content",
        kind = "video", maxHamming = 4)
      .select("media_id").as[Long].collect().toSet
    val expected = (0 until 10).filter(_ % 2 == 1).map(1000L + _).toSet +
      2000L + 3000L
    assert(kept == expected, s"got $kept")
    // disjoint-id contract holds for the video kind too
    val boom = intercept[IllegalArgumentException] {
      Dedup.removeNearDuplicateMediaIncremental(
        exHashes, existing, "media_id", "media_type", "content",
        kind = "video", maxHamming = 4).count()
    }
    assert(boom.getMessage.contains("disjoint"))
    // the persisted index stamps its sampling rate; probing at a
    // DIFFERENT everyN shifts every fpos slot, so it must fail loud
    assert(exHashes.columns.contains("every_n"))
    val rateBoom = intercept[IllegalArgumentException] {
      Dedup.removeNearDuplicateMediaIncremental(
        exHashes, inDf, "media_id", "media_type", "content",
        kind = "video", maxHamming = 4, everyN = 1).count()
    }
    assert(rateBoom.getMessage.contains("every_n=2"))
    // an index WITHOUT the stamp (pre-stamp artifact) still probes —
    // the caller owns the invariant then
    assert(Dedup.removeNearDuplicateMediaIncremental(
      exHashes.drop("every_n"), inDf, "media_id", "media_type", "content",
      kind = "video", maxHamming = 4)
      .select("media_id").as[Long].collect().toSet == expected)
    // MIXED-VINTAGE index (ADVICE r13): a partitioned dir holding a
    // pre-stamp batch (no every_n column) and a stamped batch reads the
    // legacy rows as NULL under the merged schema. NULL rows predate the
    // stamp — excluded from the rate check, never crashed on — and the
    // stamped half still pins the rate.
    val mixDir = java.nio.file.Files.createTempDirectory("video_idx_mix").toString
    exHashes.where($"id" % 2 === 0).drop("every_n")
      .write.parquet(s"$mixDir/vintage=legacy")
    exHashes.where($"id" % 2 === 1)
      .write.parquet(s"$mixDir/vintage=stamped")
    val mixed = spark.read.option("mergeSchema", "true")
      .parquet(s"$mixDir/vintage=legacy", s"$mixDir/vintage=stamped")
    assert(mixed.where($"every_n".isNull).count() > 0)
    assert(Dedup.removeNearDuplicateMediaIncremental(
      mixed, inDf, "media_id", "media_type", "content",
      kind = "video", maxHamming = 4)
      .select("media_id").as[Long].collect().toSet == expected)
    val mixBoom = intercept[IllegalArgumentException] {
      Dedup.removeNearDuplicateMediaIncremental(
        mixed, inDf, "media_id", "media_type", "content",
        kind = "video", maxHamming = 4, everyN = 1).count()
    }
    assert(mixBoom.getMessage.contains("every_n=2"))
    // oversized-batch staging keeps the exact survivors at the
    // frame-pair granularity, aligned AND trim-robust SET probes
    assert(Dedup.removeNearDuplicateMediaIncremental(
      exHashes, inDf, "media_id", "media_type", "content",
      kind = "video", maxHamming = 4, forceProbeGroups = Some(3))
      .select("media_id").as[Long].collect().toSet == expected)
    val setSingle = Dedup.removeNearDuplicateMediaIncremental(
      exHashes, inDf, "media_id", "media_type", "content",
      kind = "video", maxHamming = 4, alignFrames = false)
      .select("media_id").as[Long].collect().toSet
    assert(Dedup.removeNearDuplicateMediaIncremental(
      exHashes, inDf, "media_id", "media_type", "content",
      kind = "video", maxHamming = 4, alignFrames = false,
      forceProbeGroups = Some(3))
      .select("media_id").as[Long].collect().toSet == setSingle)
  }

  test("mediaContaminationHits: corpus media probe a frozen benchmark index; brute-force parity; video SET probe") {
    // IMAGE: benchmark = every 5th fixture image; ground truth = all-pairs
    // dHash Hamming from the frozen grids (no banding)
    val media = ImageFixture.frame(spark)
    val benchIdx = Dedup.imageHashFrame(
      media.where($"media_id" % 5 === 0), "media_id", "media_type", "content")
    val got = Dedup.mediaContaminationHits(media, benchIdx,
        "media_id", "media_type", "content", "image", maxHamming = 6)
      .select("corpus_id", "n_benchmark_hits").as[(Long, Long)]
      .collect().toMap
    def dhash(g: Array[Int]): Long = {
      var h = 0L
      for (r <- 0 until 8; c <- 0 until 8)
        if (g(r * 9 + c) > g(r * 9 + c + 1)) h |= 1L << (r * 8 + c)
      h
    }
    val grids = FrozenImageGrids.grids.toMap
    val expected = (for {
      (cid, cg) <- grids.toSeq
      hits = grids.keys.count(b => b % 5 == 0 &&
        java.lang.Long.bitCount(dhash(cg) ^ dhash(grids(b))) <= 6)
      if hits > 0
    } yield cid -> hits.toLong).toMap
    assert(got == expected, s"image probe must equal brute force")
    // removal drops exactly the flagged items; an UNDECODABLE payload
    // survives (no hash, no evidence)
    val withJunk = media.unionByName(Seq(
      (9000L, "image/png", Array.tabulate(16)(_.toByte)))
      .toDF("media_id", "media_type", "content"))
    val kept = Dedup.removeContaminatedMediaIndexed(withJunk, benchIdx,
        "media_id", "media_type", "content", "image", maxHamming = 6)
      .select("media_id").as[Long].collect().toSet
    assert(kept == (0L until 60L).toSet -- expected.keySet + 9000L)
    // VIDEO: benchmark = clip 0's per-frame index; a TRIMMED re-upload
    // of it is invisible to the aligned probe, flagged by the SET probe
    val benchVid = Dedup.videoFrameHashFrame(
      Seq((0L, "video/avi", VideoFixture.aviBytes(0L)))
        .toDF("media_id", "media_type", "content"),
      "media_id", "media_type", "content", everyN = 1)
    val corpusVid = Seq(
      (100L, "video/avi", VideoFixture.aviBytes(0L, fromFrame = 1)),
      (101L, "video/avi", VideoFixture.aviBytes(4242L)))
      .toDF("media_id", "media_type", "content")
    def vidHits(align: Boolean) = Dedup.mediaContaminationHits(
        corpusVid, benchVid, "media_id", "media_type", "content", "video",
        maxHamming = 4, everyN = 1, alignFrames = align)
      .select("corpus_id").as[Long].collect().toSet
    assert(vidHits(align = true).isEmpty,
      "aligned probe must miss the 1-frame trim")
    assert(vidHits(align = false) == Set(100L),
      "SET probe must flag the trimmed re-upload and nothing else")
  }

  test("media probes: a mismatched-rate video index is rejected after at most one Spark job") {
    // a persisted index stamped every_n=2; the batch probes at everyN=1.
    // The rate probe is the one job the rejection may cost — the batch's
    // payloads must never be decoded first.
    val idxDir = java.nio.file.Files.createTempDirectory("video_idx_rate").toString
    Seq((0L, 0, 11L, 2), (0L, 1, 12L, 2), (1L, 0, 13L, 2))
      .toDF("id", "fpos", "sh", "every_n").write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    val batch = Seq((1000L, "video/avi", VideoFixture.aviBytes(5000L)))
      .toDF("media_id", "media_type", "content")
    val dedupJobs = TestSparkSession.jobsDuring {
      val e = intercept[IllegalArgumentException] {
        Dedup.removeNearDuplicateMediaIncremental(index, batch, "media_id",
          "media_type", "content", kind = "video", maxHamming = 4, everyN = 1)
      }
      assert(e.getMessage.contains("every_n=2"))
    }
    val deconJobs = TestSparkSession.jobsDuring {
      val e = intercept[IllegalArgumentException] {
        Dedup.mediaContaminationHits(batch, index, "media_id", "media_type",
          "content", "video", maxHamming = 4, everyN = 1)
      }
      assert(e.getMessage.contains("every_n=2"))
    }
    assert(dedupJobs <= 1 && deconJobs <= 1,
      s"rejection cost $dedupJobs (dedup) / $deconJobs (decon) jobs, expected <= 1")
  }

  test("media probes: kind=video rejects minMatchFrac outside (0, 1] in both probes") {
    // a fraction above 1 makes the matched-frame gate unsatisfiable (the
    // probes would silently match no video at all); 0 gates nothing
    val index = Seq((0L, 0, 11L, 2)).toDF("id", "fpos", "sh", "every_n")
    val batch = Seq((1000L, "video/avi", VideoFixture.aviBytes(5000L)))
      .toDF("media_id", "media_type", "content")
    for (frac <- Seq(1.5, 0.0)) {
      val dedup = intercept[IllegalArgumentException] {
        Dedup.removeNearDuplicateMediaIncremental(index, batch, "media_id",
          "media_type", "content", kind = "video", maxHamming = 4,
          minMatchFrac = frac)
      }
      assert(dedup.getMessage.contains("minMatchFrac"))
      val decon = intercept[IllegalArgumentException] {
        Dedup.mediaContaminationHits(batch, index, "media_id", "media_type",
          "content", "video", maxHamming = 4, minMatchFrac = frac)
      }
      assert(decon.getMessage.contains("minMatchFrac"))
    }
  }

  test("videoFrameHashFrame: fpos is the decoder slot — a partially corrupt twin still aligns") {
    // clip A = intact fixture clip; clip B = same clip with its LAST
    // sampled frame's movi bytes corrupted so that frame alone fails to
    // decode. fpos from the decoder ordinal keeps B's surviving frames
    // in their true slots, so A↔B still match on slots 0 and 1 — under
    // zipWithIndex renumbering a mid-stream loss would shift later
    // slots instead. (The fixture decoder rejects whole-payload
    // corruption, so plant the loss mid-sampling via everyN spacing:
    // decode everyN=2 -> slots 0,1,2 from frames 0,2,4.)
    val m = MediaRecord(11L, "video/avi", VideoFixture.aviBytes(11L))
    val hs = Multimodal.videoFrameHashes(m, everyN = 2).get
    assert(hs.map(_._1) == Seq(0, 2, 4))
    val frame = Dedup.videoFrameHashFrame(
      Seq((11L, "video/avi", VideoFixture.aviBytes(11L)))
        .toDF("media_id", "media_type", "content"),
      "media_id", "media_type", "content", everyN = 2)
    val rows = frame.select("fpos", "sh", "every_n")
      .as[(Int, Long, Int)].collect().sortBy(_._1)
    // decoder frame indices 0,2,4 -> sampling slots 0,1,2; rate stamped
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2))
    assert(rows.map(_._2).toSeq == hs.map(_._2))
    assert(rows.forall(_._3 == 2))
  }

  test("videoFrameGrids: live AVI container decode equals the analytic pixel matrix") {
    (0L until VideoFixture.NumClips.toLong).foreach { id =>
      val m = MediaRecord(id, "video/avi", VideoFixture.aviBytes(id))
      val frames = Multimodal.videoFrameGrids(m, everyN = 2)
        .getOrElse(fail(s"clip $id must decode"))
      // 6 frames sampled every 2nd -> ordinals 0, 2, 4
      assert(frames.map(_._1) == Seq(0, 2, 4))
      frames.foreach { case (f, g) =>
        assert(g.sameElements(VideoFixture.frameGrid(id, f)),
          s"clip $id frame $f: decoded grid must equal the planted matrix")
      }
    }
    // non-video type, non-AVI bytes, and truncated payloads refuse politely
    assert(Multimodal.videoFrameGrids(
      MediaRecord(0, "image/png", VideoFixture.aviBytes(0))).isEmpty)
    assert(Multimodal.videoFrameGrids(
      MediaRecord(0, "video/avi", Array.tabulate(64)(_.toByte))).isEmpty)
    assert(Multimodal.videoFrameGrids(
      MediaRecord(0, "video/avi", VideoFixture.aviBytes(0).take(200))).isEmpty)
  }

  test("MJPEG frames decode through the JDK JPEG reader; twin payloads hash identically") {
    val a = MediaRecord(0, "video/avi", VideoFixture.mjpgBytes(7))
    val b = MediaRecord(1, "video/avi", VideoFixture.mjpgBytes(7))
    val ha = Multimodal.videoFrameHashes(a, everyN = 2)
      .getOrElse(fail("MJPEG clip must decode"))
    assert(ha.map(_._1) == Seq(0, 2, 4))
    // same frames -> same JPEG bytes -> identical in-process decode
    assert(Multimodal.videoFrameHashes(b, everyN = 2).get == ha)
  }

  test("videoNearDupPairs: banded aligned-frame matching equals brute force; min-id survives") {
    val media = VideoFixture.frame(spark)
    val got = Dedup.videoNearDupPairs(media, "media_id", "media_type",
        "content", everyN = 2, maxHamming = 4, minMatchFrac = 0.6)
      .select($"id_a", $"id_b", $"n_matched")
      .as[(Long, Long, Long)].collect().toSet
    // brute-force truth over the analytic frame hashes
    val hashes = (0L until VideoFixture.NumClips.toLong).map { id =>
      id -> Seq(0, 2, 4).map(f => Multimodal.dHash64(VideoFixture.frameGrid(id, f)))
    }
    val want = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      matched = ha.zip(hb).count { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) <= 4 }
      if matched >= math.ceil(0.6 * 3).toInt
    } yield (ia, ib, matched.toLong)).toSet
    assert(got == want,
      s"banded pairs must equal brute force:\n${got.diff(want)}\n${want.diff(got)}")
    // the fixture's structure: exactly the 15 planted (3k, 3k+1) twins,
    // every aligned frame within the per-frame 2-bit edit bound
    assert(want == (0 until 15).map(k => (3L * k, 3L * k + 1, 3L)).toSet)

    // end-to-end removal: min-id survivor per twin; undecodable payloads
    // always survive
    val withJunk = media.unionByName(Seq(
      (1000L, "video/avi", Array.tabulate(16)(_.toByte)))
      .toDF("media_id", "media_type", "content"))
    val kept = Dedup.removeNearDuplicateVideos(withJunk, "media_id",
        "media_type", "content", everyN = 2, maxHamming = 4)
      .select("media_id").as[Long].collect().toSet
    assert(kept ==
      ((0 until 45).map(_.toLong).toSet -- (0 until 15).map(3L * _ + 1)) + 1000L)
  }

  test("videoNearDupPairs alignFrames=false: a TRIMMED clip matches by frame set, not by ordinal") {
    // id 100 = clip 0 with its first frame trimmed: every surviving
    // frame is bit-identical to the original's, but every ordinal
    // shifts by one. Sampled at everyN=1, the aligned detector compares
    // unrelated frames (pseudo-random grids ~32 bits apart) and finds
    // nothing; the SET detector finds a partner for 5 of the
    // original's 6 ordinals.
    val media = Seq(
      (0L, "video/avi", VideoFixture.aviBytes(0L)),
      (100L, "video/avi", VideoFixture.aviBytes(0L, fromFrame = 1)))
      .toDF("media_id", "media_type", "content")
    val aligned = Dedup.videoNearDupPairs(media, "media_id", "media_type",
        "content", everyN = 1, maxHamming = 4, minMatchFrac = 0.6)
      .collect()
    assert(aligned.isEmpty, s"ordinal alignment must miss the shift: ${aligned.toSeq}")
    val set = Dedup.videoNearDupPairs(media, "media_id", "media_type",
        "content", everyN = 1, maxHamming = 4, minMatchFrac = 0.6,
        alignFrames = false)
      .select($"id_a", $"id_b", $"n_matched", $"nf_a", $"nf_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(set == Seq((0L, 100L, 5L, 6L, 5L)), s"got $set")
  }

  test("sampleVideoFrames: one feature row per sampled frame, real dimensions") {
    val media = VideoFixture.frame(spark)
    val rows = Multimodal.sampleVideoFrames(
        media.select($"media_id", $"media_type", $"content")
          .as[MediaRecord], everyN = 2)
      .collect()
    assert(rows.length == VideoFixture.NumClips * 3)
    rows.foreach { r =>
      assert(r.width == 9 && r.height == 8 && r.luma_grid.length == 64)
      assert(Seq(0, 2, 4).contains(r.frame_idx))
    }
  }

  test("G.711 expansion tables: spec-pinned boundary values") {
    import graft.operators.G711
    assert(G711.ulawToLinear(0xff.toByte) == 0) // +0
    assert(G711.ulawToLinear(0x7f.toByte) == 0) // −0
    assert(G711.ulawToLinear(0x80.toByte) == 32124) // max positive
    assert(G711.ulawToLinear(0x00.toByte) == -32124) // max negative
    assert(G711.alawToLinear(0xd5.toByte) == 8) // min positive
    assert(G711.alawToLinear(0x55.toByte) == -8) // min negative
    assert(G711.alawToLinear(0xaa.toByte) == 32256) // max positive
    assert(G711.alawToLinear(0x2a.toByte) == -32256) // max negative
  }

  test("µ-law WAV decode: envelope equals the analytic G.711 expansion; near-dups band") {
    (0L until AudioFixture.NumUlawClips.toLong).foreach { id =>
      val m = MediaRecord(id, "audio/wav", AudioFixture.ulawBytes(id))
      val env = Multimodal.audioEnvelope(m)
        .getOrElse(fail(s"µ-law clip $id must decode"))
      val want = Array.tabulate(65)(w =>
        64L * AudioFixture.ulawWindowAmplitude(id, w))
      assert(env.sameElements(want), s"clip $id envelope must be analytic")
    }
    // feature decode reports the container's 8 companded bits but
    // normalizes on the expanded 16-bit linear scale (peak <= 1)
    val feats = Multimodal.decodeAudio(
      MediaRecord(0, "audio/wav", AudioFixture.ulawBytes(0))).get.feature
    assert(feats(3) == 8.0f && feats(1) == 8000.0f)
    assert(feats(6) > 0f && feats(6) <= 1f)

    // banded near-dup pairs over the companded fixture = brute force
    val got = Dedup.audioNearDupPairs(AudioFixture.frameUlaw(spark),
        "media_id", "media_type", "content", maxHamming = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val hashes = (0L until AudioFixture.NumUlawClips.toLong).map { id =>
      id -> Multimodal.audioHash64(Array.tabulate(65)(w =>
        64L * AudioFixture.ulawWindowAmplitude(id, w)))
    }
    val want = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= 4
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(want == (0 until 10).map(k => (3L * k, 3L * k + 1)).toSet)
  }

  test("A-law WAV decode expands through the engine table") {
    import graft.operators.G711
    // hand-rolled A-law WAV (format tag 6): 130 arbitrary companded bytes
    val n = 130
    val data = Array.tabulate(n)(i => (i * 37 + 11).toByte)
    val out = java.nio.ByteBuffer.allocate(46 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(38 + n)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(18)
      .putShort(6).putShort(1).putInt(8000).putInt(8000)
      .putShort(1).putShort(8).putShort(0)
      .put("data".getBytes("US-ASCII")).putInt(n)
      .put(data)
    val m = MediaRecord(0, "audio/wav", out.array())
    val env = Multimodal.audioEnvelope(m, windows = 65).get
    val want = new Array[Long](65)
    data.zipWithIndex.foreach { case (b, s) =>
      want((s.toLong * 65 / n).toInt) += math.abs(G711.alawToLinear(b)).toLong
    }
    assert(env.sameElements(want))
  }
}
