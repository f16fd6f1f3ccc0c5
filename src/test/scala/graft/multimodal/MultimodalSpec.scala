package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  /** An MP4 file's leading `ftyp` box (magic at offset 4) and an `mdat`:
    * no supported format, so it sniffs as unknown. */
  private val mp4 = Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++
    Array.fill(4)(0.toByte) ++ Array[Byte](0, 0, 0, 12) ++
    "mdat".getBytes("US-ASCII") ++ Array.fill(4)(0x40.toByte)

  test("synthetic media conforms to the media schema") {
    val df = Multimodal.syntheticMedia(spark, 6)
    assert(df.schema("content").dataType.typeName === "binary")
    assert(df.select("meta.width").head().getInt(0) === 640)
  }

  test("feature extraction is deterministic and drops content") {
    val spark2 = spark
    import spark2.implicits._
    val media = Multimodal.syntheticMedia(spark, 6)
    val f1 = Multimodal.extractFeatures(media, dims = 8).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, dims = 8).collect().sortBy(_.media_id)
    assert(f1.map(_.embedding.toSeq).toSeq === f2.map(_.embedding.toSeq).toSeq)
    assert(f1.forall(_.embedding.length === 8))
    assert(f1.head.n_bytes === "media-payload-0".length)
  }

  test("a second codec drops into the same mapPartitions boundary") {
    val spark2 = spark
    import spark2.implicits._
    val initCount = spark.sparkContext.longAccumulator("codec-inits")
    val decodeCount = spark.sparkContext.longAccumulator("codec-decodes")
    // a stand-in for a real decoder: proves the seam resolves at call time
    // (not hardwired to StubCodec) and that init runs once per partition
    val codec = new Multimodal.MediaCodec {
      override def init(): Unit = initCount.add(1)
      def decode(content: Array[Byte], dims: Int): Array[Float] =
        { decodeCount.add(1); Array.fill(dims)(content.length.toFloat) }
    }
    val media = Multimodal.syntheticMedia(spark, 6).repartition(2)
    val out = Multimodal.extractFeatures(media, dims = 4, codec = codec)
      .collect().sortBy(_.media_id)
    assert(out.head.embedding.toSeq === Seq.fill(4)("media-payload-0".length.toFloat))
    assert(decodeCount.value === 6)
    assert(initCount.value === 2) // once per partition, not per row
  }

  test("the real PPM codec decodes P6 images through the same boundary") {
    val spark2 = spark
    import spark2.implicits._
    // hand-built P6: 2x2 image, header with a comment, maxval 255
    def ppm(pixels: Array[Int]): Array[Byte] = {
      val header = "P6\n# test image\n2 2\n255\n".getBytes("US-ASCII")
      header ++ pixels.flatMap(p =>
        Array(((p >> 16) & 0xff).toByte, ((p >> 8) & 0xff).toByte, (p & 0xff).toByte))
    }
    val white = ppm(Array.fill(4)(0xffffff))
    val black = ppm(Array.fill(4)(0x000000))
    val junk = "not an image at all".getBytes("US-ASCII")
    val media = Seq(
      (0L, "image", white), (1L, "image", black), (2L, "image", junk)
    ).toDF("media_id", "modality", "content")
    val out = Multimodal.extractFeatures(media, dims = 2, codec = Multimodal.PpmCodec)
      .collect().sortBy(_.media_id)
    // white: every block mean is (0.299+0.587+0.114)*255/255 = 1.0
    assert(out(0).embedding.forall(x => math.abs(x - 1.0f) < 1e-6f))
    assert(out(1).embedding.toSeq === Seq(0.0f, 0.0f))
    // failure policy: junk decodes to the zero vector, no task failure
    assert(out(2).embedding.toSeq === Seq(0.0f, 0.0f))
    // and the q54-shaped stub path is untouched by the codec choice: same
    // rows, same schema, different embedding values only
    val stub = Multimodal.extractFeatures(media, dims = 2).collect().sortBy(_.media_id)
    assert(stub.map(_.media_id).toSeq === out.map(_.media_id).toSeq)
    assert(stub.map(_.n_bytes).toSeq === out.map(_.n_bytes).toSeq)
  }

  test("PPM codec handles 2-byte samples (maxval > 255) and rejects maxval > 65535") {
    // valid per the Netpbm spec: maxval in (255, 65536) means 2-byte
    // big-endian samples. 1x1 image, all channels at full scale 65535.
    val wide = "P6\n1 1\n65535\n".getBytes("US-ASCII") ++
      Array.fill(6)(0xff.toByte)
    assert(Multimodal.PpmCodec.decode(wide, 1).toSeq
      .forall(x => math.abs(x - 1.0f) < 1e-6f))
    // half scale: every sample 0x7fff/65535
    val half = "P6\n1 1\n65535\n".getBytes("US-ASCII") ++
      Array.tabulate(6)(i => if (i % 2 == 0) 0x7f.toByte else 0xff.toByte)
    assert(math.abs(Multimodal.PpmCodec.decode(half, 1)(0) - 0x7fff / 65535.0f) < 1e-4f)
    // a 1-byte-sized raster under a 2-byte maxval is truncated -> zero vector
    val short2 = "P6\n1 1\n65535\n".getBytes("US-ASCII") ++ Array.fill(3)(0xff.toByte)
    assert(Multimodal.PpmCodec.decode(short2, 1).toSeq === Seq(0.0f))
    // maxval over the spec ceiling is invalid -> zero vector
    val bad = "P6\n1 1\n70000\n".getBytes("US-ASCII") ++ Array.fill(6)(0xff.toByte)
    assert(Multimodal.PpmCodec.decode(bad, 1).toSeq === Seq(0.0f))
  }

  test("WAV codec decodes PCM audio through the same boundary") {
    val spark2 = spark
    import spark2.implicits._
    // hand-built RIFF/WAVE, 16-bit PCM: header + fmt + data chunks
    def wav(samples: Array[Short], channels: Int, extraChunk: Boolean = false): Array[Byte] = {
      val data = samples.flatMap(s =>
        Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
      val extra = if (extraChunk) // a LIST chunk before fmt: walker must skip it
        "LIST".getBytes("US-ASCII") ++ le32(4) ++ "INFO".getBytes("US-ASCII")
      else Array.emptyByteArray
      val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
        le16(1) ++ le16(channels) ++ le32(8000) ++
        le32(8000 * channels * 2) ++ le16(channels * 2) ++ le16(16)
      val body = extra ++ fmt ++ "data".getBytes("US-ASCII") ++
        le32(data.length) ++ data
      "RIFF".getBytes("US-ASCII") ++ le32(4 + body.length) ++
        "WAVE".getBytes("US-ASCII") ++ body
    }
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // full-scale square wave: RMS = 1.0; silence: RMS = 0
    val loud = wav(Array.tabulate(64)(i =>
      if (i % 2 == 0) Short.MinValue else Short.MaxValue), channels = 1)
    val quiet = wav(Array.fill[Short](64)(0), channels = 1)
    // stereo where L = -R: channel MEAN is zero everywhere
    val cancel = wav(Array.tabulate(64)(i =>
      (if (i % 2 == 0) 1000 else -1000).toShort), channels = 2)
    // first half loud, second half silent: block envelope [~1, 0]
    val half = wav(Array.tabulate(64)(i =>
      if (i < 32) (if (i % 2 == 0) Short.MinValue else Short.MaxValue) else 0), channels = 1)
    val junk = "this is not audio".getBytes("US-ASCII")
    val media = Seq(
      (0L, "audio", loud), (1L, "audio", quiet), (2L, "audio", cancel),
      (3L, "audio", half), (4L, "audio", junk)
    ).toDF("media_id", "modality", "content")
    val out = Multimodal.extractFeatures(media, dims = 2, codec = Multimodal.WavCodec)
      .collect().sortBy(_.media_id)
    assert(out(0).embedding.forall(x => math.abs(x - 1.0f) < 1e-3f), out(0).embedding.toSeq)
    assert(out(1).embedding.toSeq === Seq(0.0f, 0.0f))
    assert(out(2).embedding.toSeq === Seq(0.0f, 0.0f)) // L/R cancel in the mean
    assert(math.abs(out(3).embedding(0) - 1.0f) < 1e-3f &&
      out(3).embedding(1) === 0.0f, out(3).embedding.toSeq)
    assert(out(4).embedding.toSeq === Seq(0.0f, 0.0f)) // poison row policy
    // chunk walking: a LIST chunk ahead of fmt does not derail the parse
    val withList = wav(Array.fill[Short](8)(1000), channels = 1, extraChunk = true)
    assert(Multimodal.WavCodec.decode(withList, 1)(0) > 0f)
    // 8-bit unsigned path: constant 228 = +100/128 over center
    val data8 = Array.fill(16)(228.toByte)
    val wav8 = "RIFF".getBytes("US-ASCII") ++ le32(4 + 24 + 8 + data8.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8) ++
      "data".getBytes("US-ASCII") ++ le32(data8.length) ++ data8
    assert(math.abs(Multimodal.WavCodec.decode(wav8, 1)(0) - 100f / 128f) < 1e-6f)
    // truncated data chunk (declared longer than the bytes): poison
    val truncated = loud.dropRight(10)
    assert(Multimodal.WavCodec.decode(truncated, 2).toSeq === Seq(0.0f, 0.0f))
    // the codecs decode integer PCM at 8/16 bits only; the probe shares
    // their chunk walk but reports any format's duration: 24-bit PCM
    // and IEEE-float (format 3) decode to zero yet probe 1000 ms
    def wavOf(format: Int, bits: Int): Array[Byte] = {
      val data = Array.fill(8000 * bits / 8)(0x40.toByte) // 1 s mono @ 8 kHz
      "RIFF".getBytes("US-ASCII") ++ le32(4 + 24 + 8 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(format) ++ le16(1) ++
        le32(8000) ++ le32(8000 * bits / 8) ++ le16(bits / 8) ++ le16(bits) ++
        "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    }
    for (bytes <- Seq(wavOf(1, 24), wavOf(3, 32))) {
      assert(Multimodal.WavCodec.decode(bytes, 2).toSeq === Seq(0.0f, 0.0f))
      assert(new Multimodal.WavFrameCodec(500L).decodeFrame(bytes, 0L, 2).toSeq ===
        Seq(0.0f, 0.0f))
      assert(Multimodal.WavProbe.probe(bytes) ===
        Multimodal.ProbedMeta(0L, Some("wav"), None, None, Some(1000L)))
    }
    assert(Multimodal.WavCodec.decode(wavOf(1, 16), 1)(0) > 0f)
  }

  test("frame features generate in-partition; WAV frame codec slices time") {
    val spark2 = spark
    import spark2.implicits._
    // 8000 Hz mono PCM16, 2 s: first second loud square wave, then silence
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val samples = Array.tabulate(16000) { i =>
      if (i < 8000) (if (i % 2 == 0) Short.MinValue else Short.MaxValue) else 0: Short
    }
    val data = samples.flatMap(s => Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(4 + 24 + 8 + data.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    val codec = new Multimodal.WavFrameCodec(windowMs = 500)
    // frame at 0 ms: loud; at 1500 ms: silent; window straddling 1000 ms
    // mixes; past the end clamps to empty -> zeros
    assert(math.abs(codec.decodeFrame(wav, 0L, 1)(0) - 1.0f) < 1e-3f)
    assert(codec.decodeFrame(wav, 1500L, 1)(0) === 0.0f)
    val straddle = codec.decodeFrame(wav, 750L, 2) // [750,1250): half loud
    assert(math.abs(straddle(0) - 1.0f) < 1e-3f && straddle(1) === 0.0f)
    assert(codec.decodeFrame(wav, 5000L, 1).toSeq === Seq(0.0f))
    // whole-content decode delegates to WavCodec
    assert(codec.decode(wav, 2).toSeq === Multimodal.WavCodec.decode(wav, 2).toSeq)

    // extractFrameFeatures: frames derive from duration metadata, one
    // content read per row, stub codec deterministic per (content, ms)
    val media = Seq((1L, "video", "payload".getBytes("UTF-8"), ("v", 0, 0, 40000L)))
      .toDF("media_id", "modality", "content", "meta")
      .withColumn("meta", col("meta").cast(Multimodal.mediaSchema("meta").dataType))
    val frames = Multimodal.extractFrameFeatures(media, everyMs = 20000L, dims = 2)
      .collect().sortBy(_.frame_ms)
    assert(frames.map(_.frame_ms).toSeq === Seq(0L, 20000L, 40000L))
    val expect0 = Multimodal.StubCodec.decode("payload:0".getBytes("UTF-8"), 2)
    assert(frames(0).embedding.toSeq === expect0.toSeq)
    assert(frames(0).embedding.toSeq !== frames(1).embedding.toSeq)
  }

  test("Y4M frame codec seeks the nearest frame in a multi-frame container") {
    val spark2 = spark
    import spark2.implicits._
    // 4x4 C420 at 25 fps (40 ms/frame), three frames: dark (0x10),
    // bright (0xE0), left-dark/right-bright gradient. Chroma planes are
    // 2 x (16 >> 2) = 8 bytes of 0x80 per frame (never read by the
    // luminance feature).
    def frame(luma: Int => Int): Array[Byte] =
      "FRAME\n".getBytes("US-ASCII") ++
        Array.tabulate(16)(k => luma(k).toByte) ++ Array.fill(8)(0x80.toByte)
    val y4m = "YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\n".getBytes("US-ASCII") ++
      frame(_ => 0x10) ++ frame(_ => 0xE0) ++
      frame(k => if (k % 4 < 2) 0x10 else 0xE0)
    val c = Multimodal.Y4mFrameCodec
    // frame 0 at 0 ms: dark everywhere
    assert(math.abs(c.decodeFrame(y4m, 0L, 1)(0) - 0x10 / 255f) < 1e-6f)
    // 40 ms = frame 1: bright; NEAREST rounding: 19 ms -> frame 0,
    // 21 ms -> frame 1
    assert(math.abs(c.decodeFrame(y4m, 40L, 1)(0) - 0xE0 / 255f) < 1e-6f)
    assert(math.abs(c.decodeFrame(y4m, 19L, 1)(0) - 0x10 / 255f) < 1e-6f)
    assert(math.abs(c.decodeFrame(y4m, 21L, 1)(0) - 0xE0 / 255f) < 1e-6f)
    // frame 2's gradient shows up in raster-order blocks: first half of
    // each row dark, second half bright -> dims=2 splits rows 0-1 / 2-3,
    // both mixed equally; dims=16 isolates single pixels
    val g16 = c.decodeFrame(y4m, 80L, 16)
    assert(math.abs(g16(0) - 0x10 / 255f) < 1e-6f) // pixel (0,0): dark
    assert(math.abs(g16(3) - 0xE0 / 255f) < 1e-6f) // pixel (0,3): bright
    // past the end clamps to the LAST complete frame (the gradient)
    assert(c.decodeFrame(y4m, 100000L, 16).toSeq === g16.toSeq)
    // whole-content decode = first frame
    assert(c.decode(y4m, 1).toSeq === c.decodeFrame(y4m, 0L, 1).toSeq)
    // poison policy: junk magic and unknown colorspace zero out; a
    // TRUNCATED target frame clamps to the last complete one (frame 1,
    // bright) — same treatment as trailing garbage (MediaFuzzSpec)
    assert(c.decodeFrame("JUNK".getBytes, 0L, 2).toSeq === Seq(0f, 0f))
    val badCs = new String(y4m, "ISO-8859-1").replace("C420", "C999")
    assert(c.decodeFrame(badCs.getBytes("ISO-8859-1"), 0L, 1).toSeq === Seq(0f))
    assert(math.abs(c.decodeFrame(y4m.dropRight(4), 80L, 1)(0) - 0xE0 / 255f) < 1e-6f)

    // the same mapPartitions seam as every frame codec: frames generate
    // in-partition from duration metadata, content read once per row
    val media = Seq((7L, "video", y4m, ("v", 4, 4, 80L)))
      .toDF("media_id", "modality", "content", "meta")
      .withColumn("meta", col("meta").cast(Multimodal.mediaSchema("meta").dataType))
    val frames = Multimodal
      .extractFrameFeatures(media, everyMs = 40L, dims = 1, codec = c)
      .collect().sortBy(_.frame_ms)
    assert(frames.map(_.frame_ms).toSeq === Seq(0L, 40L, 80L))
    assert(frames.map(_.embedding(0)).toSeq ===
      Seq(0L, 40L, 80L).map(ms => c.decodeFrame(y4m, ms, 1)(0)))
  }

  test("probeMeta derives format/dims/duration from untagged bytes; drives the frame plan") {
    val spark2 = spark
    import spark2.implicits._
    // the q136-family fixtures: a 3-frame 4x4 y4m at 25 fps (120 ms), a
    // 2 s 8 kHz mono PCM16 wav, a 3x2 ppm, and junk (below)
    def frame(l: Int): Array[Byte] =
      "FRAME\n".getBytes("US-ASCII") ++ Array.fill(16)(l.toByte) ++ Array.fill(8)(0x80.toByte)
    val y4m = "YUV4MPEG2 W4 H4 F25:1 C420\n".getBytes("US-ASCII") ++
      frame(0x10) ++ frame(0xE0) ++ frame(0x80)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val data = Array.fill(32000)(0.toByte) // 16000 PCM16 mono frames @8kHz = 2 s
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(4 + 24 + 8 + data.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    val ppm = ("P6\n# c\n3 2\n255\n" + "x" * 18).getBytes("ISO-8859-1")
    // each supported magic with a malformed body poisons through the sniff
    // dispatch; so do magics no supported probe reads (FLAC, RIFF/AVI,
    // an MP4 `ftyp` box at offset 4)
    val badY4m = "YUV4MPEG2 W4 F25:1\n".getBytes("US-ASCII") // no H tag
    val badWav = "RIFF".getBytes("US-ASCII") ++ le32(100) ++
      "WAVE".getBytes("US-ASCII") ++ "data".getBytes("US-ASCII") ++ le32(999)
    val badPpm = "P6\n0 2\n255\n".getBytes("US-ASCII")
    val flac = "fLaC".getBytes("US-ASCII") ++ Array.fill(40)(1.toByte)
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(4) ++ "AVI ".getBytes("US-ASCII")
    val media = Seq(
      (1L, y4m), (2L, wav), (3L, ppm), (4L, "garbage".getBytes("US-ASCII")),
      (5L, badY4m), (6L, badWav), (7L, badPpm), (8L, flac), (9L, avi), (10L, mp4))
      .toDF("media_id", "content")
    val out = Multimodal.probeMeta(media).collect().sortBy(_.media_id)
    assert(out(0) === Multimodal.ProbedMeta(1L, Some("y4m"), Some(4), Some(4), Some(120L)))
    assert(out(1) === Multimodal.ProbedMeta(2L, Some("wav"), None, None, Some(2000L)))
    assert(out(2) === Multimodal.ProbedMeta(3L, Some("ppm"), Some(3), Some(2), None))
    for (i <- 3 until 10)
      assert(out(i) === Multimodal.ProbedMeta(i + 1L, None, None, None, None))
    // the sniff answers exactly what the format's own probe answers
    for ((bytes, direct) <- Seq[(Array[Byte], Multimodal.MediaProbe)](
        (y4m, Multimodal.Y4mProbe), (badY4m, Multimodal.Y4mProbe),
        (wav, Multimodal.WavProbe), (badWav, Multimodal.WavProbe),
        (ppm, Multimodal.PpmProbe), (badPpm, Multimodal.PpmProbe)))
      assert(Multimodal.SniffProbe.probe(bytes) === direct.probe(bytes))
    // the probed duration drives the frame plan end to end: 120 ms at
    // everyMs=40 -> frames 0/40/80/120 (120 clamps to the last frame)
    val probed = Multimodal.probeMeta(media).toDF()
      .where(col("duration_ms").isNotNull && col("format") === "y4m")
      .select(col("media_id"), col("duration_ms"))
    val withMeta = media.join(probed, Seq("media_id"))
      .select(col("media_id"), col("content"),
        struct(lit("y4m").as("format"), lit(4).as("width"), lit(4).as("height"),
          col("duration_ms")).as("meta"))
    val frames = Multimodal.extractFrameFeatures(withMeta, everyMs = 40L,
        dims = 1, codec = Multimodal.Y4mFrameCodec)
      .collect().sortBy(_.frame_ms)
    assert(frames.map(_.frame_ms).toSeq === Seq(0L, 40L, 80L, 120L))
    assert(math.abs(frames(0).embedding(0) - 0x10 / 255f) < 1e-6f)
    assert(math.abs(frames(1).embedding(0) - 0xE0 / 255f) < 1e-6f)
    assert(frames(2).embedding(0) === frames(3).embedding(0)) // clamp
  }

  test("SniffFrameCodec routes untagged bytes to the right container codec") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val y4m = ("YUV4MPEG2 W4 H4 F25:1 C420\nFRAME\n").getBytes("US-ASCII") ++
      Array.fill(16)(0x50.toByte) ++ Array.fill(8)(0x80.toByte) ++
      "FRAME\n".getBytes("US-ASCII") ++
      Array.fill(16)(0xD0.toByte) ++ Array.fill(8)(0x80.toByte)
    // 8000 Hz mono PCM16, 125 ms: 62.5 ms full-scale, then silence
    val data = Array.tabulate(2000)(i =>
      if (i < 1000) (if (i % 2 == 0) 0x00 else 0x80).toByte else 0.toByte)
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(4 + 24 + 8 + data.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    val ppm = ("P6\n2 2\n255\n" + "\u00ff" * 6 + "\u0000" * 6).getBytes("ISO-8859-1")
    val sniff = new Multimodal.SniffFrameCodec(wavWindowMs = 100L)
    val wavDirect = new Multimodal.WavFrameCodec(windowMs = 100L)
    // each fixture decodes IDENTICALLY to its direct codec, whole and
    // per frame; a PPM is its own single frame at every offset
    for ((bytes, direct) <- Seq[(Array[Byte], Multimodal.FrameCodec)](
        (y4m, Multimodal.Y4mFrameCodec), (wav, wavDirect))) {
      assert(sniff.decode(bytes, 2).toSeq === direct.decode(bytes, 2).toSeq)
      for (ms <- Seq(0L, 40L, 200L))
        assert(sniff.decodeFrame(bytes, ms, 2).toSeq ===
          direct.decodeFrame(bytes, ms, 2).toSeq)
    }
    assert(sniff.decodeFrame(y4m, 0L, 1).toSeq !== sniff.decodeFrame(y4m, 40L, 1).toSeq)
    assert(sniff.decodeFrame(wav, 0L, 1)(0) > 0f && sniff.decodeFrame(wav, 200L, 1)(0) === 0f)
    val ppmWhole = Multimodal.PpmCodec.decode(ppm, 2)
    assert(ppmWhole.exists(_ != 0f))
    assert(sniff.decode(ppm, 2).toSeq === ppmWhole.toSeq)
    for (ms <- Seq(0L, 40L, 200L))
      assert(sniff.decodeFrame(ppm, ms, 2).toSeq === ppmWhole.toSeq)
    // unrecognized bytes poison to zero, an MP4 `ftyp` box at offset 4
    // among them
    for (junk <- Seq("garbage".getBytes("US-ASCII"), mp4, Array.emptyByteArray, null)) {
      assert(sniff.decode(junk, 3).toSeq === Seq(0f, 0f, 0f))
      assert(sniff.decodeFrame(junk, 0L, 3).toSeq === Seq(0f, 0f, 0f))
    }
  }

  test("frame sampling derives rows from metadata only") {
    val media = Multimodal.syntheticMedia(spark, 3)
    val frames = Multimodal.sampleFrames(media, everyMs = 5000)
    // media 2 is the only video (duration 30000ms) -> frames 0,5000,...,30000
    assert(frames.count() === 7)
    assert(frames.agg(max("frame_ms")).head().getLong(0) === 30000L)
  }

  test("resize plan preserves aspect ratio under the max dimension") {
    val spark2 = spark
    import spark2.implicits._
    val media = Multimodal.syntheticMedia(spark, 1) // image 640x480
    val out = Multimodal.resizePlan(media, maxDim = 320)
      .as[(Long, Int, Int)].head()
    assert(out === ((0L, 320, 240)))
  }
}
