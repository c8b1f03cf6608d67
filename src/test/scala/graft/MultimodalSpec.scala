package graft

import graft.multimodal.{DispatchCodec, FakeCodec, ImageIoCodec, Media, MediaCodec, MjpegCodec, WavCodec, Y4mCodec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal plumbing: schema round-trip, modality partitioning, stub
  * decode determinism, real resize/frame/pool math, and per-partition
  * batch processing shape.
  */
class MultimodalSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("media table: schema, parquet round-trip, partition pruning by kind") {
    val media = Media.fromDocuments(spark, sfDir)
    assert(media.schema("content").dataType == BinaryType)
    assert(media.schema("meta").dataType.isInstanceOf[StructType])

    val out = TempDirs.create("graft-media")
    Media.writePartitioned(media, out)
    // hive layout: one dir per modality
    val kinds = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(kinds == Set("kind=image", "kind=audio", "kind=video"))

    val back = spark.read.parquet(out)
    assert(back.count() == media.count())
    // payload bytes survive the round-trip exactly
    val origSum = media.agg(sum(length(col("content")))).head().getLong(0)
    val backSum = back.agg(sum(length(col("content")))).head().getLong(0)
    assert(origSum == backSum)
  }

  test("stub decode is deterministic and honors metadata dims") {
    val meta = Media.MediaMeta(4, 3, 3, 16000, 1000L, "fake/v1")
    val bytes = "abcdef".getBytes("UTF-8")
    val g1 = FakeCodec.decode(bytes, meta)
    val g2 = FakeCodec.decode(bytes, meta)
    assert(g1.toSeq == g2.toSeq, "decode must be deterministic")
    assert(g1.length == 4 * 3 * 3)
    assert(g1.forall(v => v >= 0f && v <= 1f))
  }

  test("golden check: fake codec feature output is pinned exactly") {
    // Independent hand-derivation of decode+meanPool on a tiny payload:
    // bytes [0, 255, 128, 64] on a 2x2x1 grid -> [0/255, 255/255, 128/255,
    // 64/255]; meanPool to 2 buckets -> [(0+1)/2, (128/255 + 64/255)/2].
    // Pinning the exact float values means the stub's semantics (unsigned
    // byte, /255 scaling, contiguous bucketing) can't silently drift under
    // a refactor — the spec-level analog of an oracle row.
    val meta = Media.MediaMeta(2, 2, 1, 16000, 0L, "fake/v1")
    val grid = FakeCodec.decode(Array[Byte](0, -1, -128, 64), meta)
    assert(grid.toSeq == Seq(0f, 1f, 128 / 255.0f, 64 / 255.0f))
    val buf = new Array[Float](2)
    val feat = MediaCodec.meanPool(grid, 2, buf)
    assert(feat(0) == (0f + 1f) / 2)
    assert(feat(1) == (128 / 255.0f + 64 / 255.0f) / 2)
  }

  test("ImageIO codec: golden PNG decodes to the exact generator pattern") {
    // golden.png is a checked-in 8x6 RGB image whose pixel (x, y) was
    // generated as r = 36x % 256, g = 51y % 256, b = 17(x+y) % 256
    // (see its sha256 in the commit adding it). PNG is lossless, so the
    // REAL decoder must reproduce those exact bytes — a true pixel-level
    // oracle, not a round-trip self-consistency check.
    val bytes = {
      val in = getClass.getResourceAsStream("/graft/golden.png")
      assert(in != null, "golden.png test resource missing")
      try in.readAllBytes() finally in.close()
    }
    val meta = Media.MediaMeta(8, 6, 3, 0, 0L, "image/png")
    val grid = ImageIoCodec.decode(bytes, meta)
    assert(grid.length == 8 * 6 * 3)
    for (y <- 0 until 6; x <- 0 until 8) {
      val base = (y * 8 + x) * 3
      assert(grid(base) == ((x * 36) % 256) / 255.0f, s"R at ($x,$y)")
      assert(grid(base + 1) == ((y * 51) % 256) / 255.0f, s"G at ($x,$y)")
      assert(grid(base + 2) == (((x + y) * 17) % 256) / 255.0f, s"B at ($x,$y)")
    }
  }

  test("ImageIO codec: extractFeatures over real PNG rows, pinned output") {
    import spark.implicits._
    val bytes = {
      val in = getClass.getResourceAsStream("/graft/golden.png")
      try in.readAllBytes() finally in.close()
    }
    // Two image rows with real PNG payloads + one audio row on the fake
    // path: DispatchCodec must route by codec string within one pass.
    val rows = Seq(
      Media.MediaRow(1L, "image", bytes,
        Media.MediaMeta(8, 6, 3, 0, 0L, "image/png")),
      Media.MediaRow(2L, "image", bytes,
        Media.MediaMeta(8, 6, 3, 0, 0L, "image/png")),
      Media.MediaRow(3L, "audio", Array[Byte](0, -1, -128, 64),
        Media.MediaMeta(2, 2, 1, 16000, 0L, "pcm/fake")))
    val feats = Media.extractFeatures(spark, rows.toDS(), featureDim = 4,
      codec = DispatchCodec)
      .collect().map(f => f.media_id -> f.feature.toSeq).toMap
    // Pin the image feature against an independent in-test derivation of
    // decode + meanPool over the known generator pattern.
    val expectGrid = new Array[Float](8 * 6 * 3)
    for (y <- 0 until 6; x <- 0 until 8) {
      val base = (y * 8 + x) * 3
      expectGrid(base) = ((x * 36) % 256) / 255.0f
      expectGrid(base + 1) = ((y * 51) % 256) / 255.0f
      expectGrid(base + 2) = (((x + y) * 17) % 256) / 255.0f
    }
    val expectFeat = MediaCodec.meanPool(expectGrid, 4, new Array[Float](4))
    assert(feats(1L) == expectFeat.toSeq)
    assert(feats(2L) == expectFeat.toSeq)
    // The audio row took the fake path (its grid is the byte expansion).
    val audioGrid = FakeCodec.decode(Array[Byte](0, -1, -128, 64),
      Media.MediaMeta(2, 2, 1, 16000, 0L, "pcm/fake"))
    val audioFeat = MediaCodec.meanPool(audioGrid, 4, new Array[Float](4))
    assert(feats(3L) == audioFeat.toSeq)
  }

  test("WAV codec: synthesized PCM round-trips to the exact samples") {
    // 16-bit PCM -> float is exact (s / 32768), so encoding a known
    // waveform to a real WAV container and decoding it back must
    // reproduce every sample bit-for-bit — a true sample-level oracle.
    val samples = Array.tabulate(64)(i => ((i * 1021) % 65536 - 32768).toShort)
    val bytes = MultimodalSpec.wavBytes(samples, 16000f, channels = 1)
    // a real RIFF/WAVE container, not raw PCM
    assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    val meta = Media.MediaMeta(0, 0, 1, 16000, 4L, "audio/wav")
    val grid = WavCodec.decode(bytes, meta)
    assert(grid.length == samples.length)
    for (i <- samples.indices)
      assert(grid(i) == samples(i) / 32768.0f, s"sample $i")
    assert(grid.forall(v => v >= -1f && v < 1f))
  }

  test("WAV codec: stereo stays channel-interleaved") {
    // L channel = +8192, R channel = -8192: after decode the interleaved
    // grid must alternate exactly.
    val frames = 32
    val samples = Array.tabulate(frames * 2)(i =>
      if (i % 2 == 0) 8192.toShort else (-8192).toShort)
    val bytes = MultimodalSpec.wavBytes(samples, 8000f, channels = 2)
    val meta = Media.MediaMeta(0, 0, 2, 8000, 4L, "audio/wav")
    val grid = WavCodec.decode(bytes, meta)
    assert(grid.length == frames * 2)
    for (i <- 0 until frames * 2)
      assert(grid(i) == (if (i % 2 == 0) 0.25f else -0.25f), s"sample $i")
  }

  test("WAV codec: extractFeatures routes audio/ rows through the real decoder") {
    import spark.implicits._
    val samples = Array.tabulate(128)(i => ((i % 16) * 2048 - 16384).toShort)
    val bytes = MultimodalSpec.wavBytes(samples, 16000f, channels = 1)
    val rows = Seq(
      Media.MediaRow(1L, "audio", bytes,
        Media.MediaMeta(0, 0, 1, 16000, 8L, "audio/wav")),
      Media.MediaRow(2L, "video", Array[Byte](1, 2, 3, 4),
        Media.MediaMeta(2, 2, 1, 0, 0L, "video/fake")))
    val feats = Media.extractFeatures(spark, rows.toDS(), featureDim = 4,
      codec = DispatchCodec)
      .collect().map(f => f.media_id -> f.feature.toSeq).toMap
    // Pin the audio feature against an in-test derivation over the known
    // samples (decode is exact, so this is equality not tolerance).
    val expectGrid = samples.map(_ / 32768.0f)
    val expectFeat = MediaCodec.meanPool(expectGrid, 4, new Array[Float](4))
    assert(feats(1L) == expectFeat.toSeq)
    // The video row still takes the fake path.
    val videoGrid = FakeCodec.decode(Array[Byte](1, 2, 3, 4),
      Media.MediaMeta(2, 2, 1, 0, 0L, "video/fake"))
    assert(feats(2L) ==
      MediaCodec.meanPool(videoGrid, 4, new Array[Float](4)).toSeq)
  }

  test("Y4M codec: synthesized 4:2:0 frames decode to hand-derived RGB") {
    // 2x2 C420 (one chroma sample per frame). Frame 1: top row at video
    // black (Y=16), bottom row at video white (Y=235), neutral chroma —
    // BT.601 integer conversion gives EXACTLY (0,0,0) and (255,255,255):
    // C=219 -> (298*219+128)>>8 = 65390>>8 = 255. Frame 2: the standard
    // red test point Y=81,U=90,V=240 -> R=(19370+45808+128)>>8=255,
    // G=(19370+3800-23296+128)>>8=0, B=(19370-19608+128)<0 -> clamp 0.
    // All derived by hand here, independent of the codec's code path.
    val f1 = (Array[Byte](16, 16, 235.toByte, 235.toByte),
      Array[Byte](128.toByte), Array[Byte](128.toByte))
    val f2 = (Array.fill[Byte](4)(81),
      Array[Byte](90), Array[Byte](240.toByte))
    val bytes = MultimodalSpec.y4mBytes(2, 2, Seq(f1, f2))
    val meta = Media.MediaMeta(2, 2, 3, 0, 80L, "video/y4m")
    val grid = Y4mCodec.decode(bytes, meta)
    assert(grid.length == 2 * 2 * 2 * 3)
    // frame 1: rows black then white
    assert(grid.slice(0, 6).toSeq == Seq(0f, 0f, 0f, 0f, 0f, 0f))
    assert(grid.slice(6, 12).toSeq == Seq(1f, 1f, 1f, 1f, 1f, 1f))
    // frame 2: all pixels pure red
    for (p <- 0 until 4) {
      val base = 12 + p * 3
      assert(grid(base) == 1f && grid(base + 1) == 0f && grid(base + 2) == 0f,
        s"red pixel $p")
    }
  }

  test("Y4M codec: uniform frame sampling bounds output on long clips") {
    // 10 mono frames, frame i filled with Y=16+20i; maxFrames=4 must pick
    // indices i*10/4 = 0,2,5,7 (the frameOffsets spacing) — gray level
    // (298*(Y-16)+128)>>8 pins WHICH frames were chosen.
    val frames = (0 until 10).map { i =>
      (Array.fill[Byte](4)((16 + 20 * i).toByte), Array.empty[Byte],
        Array.empty[Byte])
    }
    val bytes = MultimodalSpec.y4mBytes(2, 2, frames, chroma = "mono")
    val grid = Y4mCodec.decodeSampled(bytes, maxFrames = 4)
    assert(grid.length == 4 * 2 * 2 * 3)
    val picked = (0 until 4).map(f => grid(f * 12)) // first R of each frame
    val expect = Seq(0, 2, 5, 7).map(i =>
      (((298 * (20 * i) + 128) >> 8) min 255) / 255.0f)
    assert(picked == expect)
  }

  test("MJPEG codec: concatenated JPEG frames split and decode") {
    // Two solid-color 8x6 frames encoded with the JDK's own JPEG writer.
    // JPEG is lossy, so values are pinned within a tolerance — but frame
    // COUNT, dimensions, and which-frame-is-which are exact.
    def jpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, rgb)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", baos))
      baos.toByteArray
    }
    val bytes = jpeg(0xff0000) ++ jpeg(0x0000ff)
    val meta = Media.MediaMeta(8, 6, 3, 0, 66L, "video/mjpeg")
    val grid = MjpegCodec.decode(bytes, meta)
    assert(grid.length == 2 * 8 * 6 * 3)
    def mean(from: Int, stride: Int): Float = {
      val vals = (0 until 48).map(p => grid(from + p * 3 + stride))
      vals.sum / vals.size
    }
    assert(mean(0, 0) > 0.9f && mean(0, 2) < 0.25f, "frame 1 is red")
    val f2 = 8 * 6 * 3
    assert(mean(f2, 2) > 0.9f && mean(f2, 0) < 0.25f, "frame 2 is blue")
  }

  test("video rows route through the real decoders in extractFeatures") {
    import spark.implicits._
    val f1 = (Array.fill[Byte](4)(235.toByte),
      Array[Byte](128.toByte), Array[Byte](128.toByte))
    val y4m = MultimodalSpec.y4mBytes(2, 2, Seq(f1))
    val rows = Seq(
      Media.MediaRow(1L, "video", y4m,
        Media.MediaMeta(2, 2, 3, 0, 40L, "video/y4m")),
      Media.MediaRow(2L, "video", Array[Byte](1, 2, 3, 4),
        Media.MediaMeta(2, 2, 1, 0, 0L, "video/h264"))) // still the stub
    val feats = Media.extractFeatures(spark, rows.toDS(), featureDim = 4,
      codec = DispatchCodec)
      .collect().map(f => f.media_id -> f.feature.toSeq).toMap
    // all-white frame -> every pooled bucket exactly 1.0
    assert(feats(1L) == Seq(1f, 1f, 1f, 1f))
    // unsupported codec fell back to the deterministic fake
    val fakeGrid = FakeCodec.decode(Array[Byte](1, 2, 3, 4),
      Media.MediaMeta(2, 2, 1, 0, 0L, "video/h264"))
    assert(feats(2L) ==
      MediaCodec.meanPool(fakeGrid, 4, new Array[Float](4)).toSeq)
  }

  test("a custom codec drops in without touching pipeline code") {
    import spark.implicits._
    // Constant-grid codec: every feature bucket must then equal 0.5.
    val media = Media.fromDocuments(spark, sfDir).as[Media.MediaRow].limit(10)
    val feats = Media.extractFeatures(spark, media, featureDim = 4,
      codec = MultimodalSpec.HalfCodec).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(_.feature.forall(_ == 0.5f)))
  }

  test("resize: nearest-neighbor index math") {
    // 2x2x1 grid -> 4x4: each source pixel becomes a 2x2 block
    val grid = Array(1f, 2f, 3f, 4f)
    val up = MediaCodec.resize(grid, 2, 2, 1, 4, 4)
    assert(up.length == 16)
    assert(up(0) == 1f && up(3) == 2f && up(12) == 3f && up(15) == 4f)
    val down = MediaCodec.resize(up, 4, 4, 1, 2, 2)
    assert(down.toSeq == grid.toSeq, "resize up then down is identity here")
  }

  test("frame sampling: uniform offsets") {
    assert(MediaCodec.frameOffsets(1000L, 4).toSeq == Seq(0L, 250L, 500L, 750L))
    assert(MediaCodec.frameOffsets(1000L, 1).toSeq == Seq(0L))
  }

  test("extractFeatures: mapPartitions batch shape and feature contract") {
    import spark.implicits._
    val media = Media.fromDocuments(spark, sfDir)
      .as[Media.MediaRow]
      .repartition(4) // several partitions -> several batch passes
    val feats = Media.extractFeatures(spark, media, featureDim = 8)
    val rows = feats.collect()
    assert(rows.length == media.count().toInt)
    assert(rows.forall(_.feature.length == 8))
    assert(rows.forall(_.n_bytes > 0))
    // deterministic across runs (stub decode + pooling are pure)
    val again = Media.extractFeatures(spark, media, featureDim = 8)
      .collect().map(f => f.media_id -> f.feature.toSeq).toMap
    assert(rows.forall(f => again(f.media_id) == f.feature.toSeq))
  }
}

object MultimodalSpec {
  /** Companion-level (no outer capture → serializable) test codec. */
  object HalfCodec extends MediaCodec {
    def decode(content: Array[Byte], meta: Media.MediaMeta): Array[Float] =
      Array.fill(math.max(1, meta.width * meta.height * meta.channels))(0.5f)
  }

  /** Assemble a YUV4MPEG2 stream from raw planes (header + FRAME-delimited
    * planar payloads) — the same byte layout FFmpeg's `-f yuv4mpeg` muxer
    * writes.
    */
  def y4mBytes(w: Int, h: Int,
      frames: Seq[(Array[Byte], Array[Byte], Array[Byte])],
      chroma: String = "420jpeg"): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    baos.write(
      s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C$chroma\n".getBytes("US-ASCII"))
    frames.foreach { case (yp, up, vp) =>
      baos.write("FRAME\n".getBytes("US-ASCII"))
      baos.write(yp); baos.write(up); baos.write(vp)
    }
    baos.toByteArray
  }

  /** Encode interleaved 16-bit samples into a real WAV container via the
    * same JDK audio stack the codec reads with (little-endian PCM).
    */
  def wavBytes(samples: Array[Short], sampleRate: Float,
      channels: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, sampleRate,
      16, channels, channels * 2, sampleRate, false)
    val raw = new Array[Byte](samples.length * 2)
    for (i <- samples.indices) {
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(raw),
      fmt, samples.length / channels)
    val baos = new java.io.ByteArrayOutputStream()
    try AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    finally ais.close()
    baos.toByteArray
  }
}
