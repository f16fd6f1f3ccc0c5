package graft.multimodal

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Fuzz invariants for the byte-walking media code — pure JVM, no Spark
  * session needed. At corpus scale every malformed-byte branch WILL be
  * hit; the poison contract is "zero vector / all-None metadata, never a
  * throw", and these properties hold it over random garbage, truncations
  * and corruptions of VALID fixtures (the nastier case: plausible
  * headers, impossible payloads), and magic-prefixed junk. */
class MediaFuzzSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int, seed: Long = 42L): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private def frame(l: Int): Array[Byte] =
    "FRAME\n".getBytes("US-ASCII") ++ Array.fill(16)(l.toByte) ++
      Array.fill(8)(0x80.toByte)
  private val y4m = "YUV4MPEG2 W4 H4 F25:1 C420\n".getBytes("US-ASCII") ++
    frame(0x10) ++ frame(0xE0)
  private def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private val wav = "RIFF".getBytes("US-ASCII") ++ le32(4 + 24 + 8 + 64) ++
    "WAVE".getBytes("US-ASCII") ++
    "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
    le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
    "data".getBytes("US-ASCII") ++ le32(64) ++ Array.fill(64)(7.toByte)
  private val ppm = ("P6\n4 2\n255\n" + "x" * 24).getBytes("ISO-8859-1")

  private val garbage: Gen[Array[Byte]] =
    Gen.choose(0, 200).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127)))
      .map(_.map(_.toByte).toArray)

  /** Truncations, single-byte corruptions, and magic-preserving
    * corruptions of each valid fixture. */
  private def mangled(base: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
    Gen.choose(0, base.length).map(base.take),
    for {
      i <- Gen.choose(0, base.length - 1)
      b <- Gen.choose(-128, 127)
    } yield { val c = base.clone(); c(i) = b.toByte; c },
    for { // keep the magic, scramble the rest — the nastiest class
      tail <- Gen.listOfN(base.length - 10, Gen.choose(-128, 127))
    } yield base.take(10) ++ tail.map(_.toByte))

  /** Mangles per fixture — 40 in the suite; set GRAFT_FUZZ_N for a
    * heavier ad-hoc sweep (e.g. 400 per fixture before a release). */
  private val fuzzN = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(40)

  private val cases: Seq[Array[Byte]] =
    samples(garbage, fuzzN) ++
      Seq(y4m, wav, ppm).flatMap(b => samples(mangled(b), fuzzN, seed = 7L)) ++
      Seq(Array.emptyByteArray, null)

  test("fuzz: probes never throw; fields are sane when present") {
    cases.foreach { bytes =>
      for (p <- Seq(Multimodal.SniffProbe, Multimodal.Y4mProbe,
          Multimodal.WavProbe, Multimodal.PpmProbe)) {
        val m = p.probe(bytes) // must not throw
        m.width.foreach(w => assert(w > 0))
        m.height.foreach(h => assert(h > 0))
        m.duration_ms.foreach(d => assert(d >= 0))
      }
    }
  }

  test("fuzz: frame codecs and media codecs never throw, output length = dims") {
    cases.foreach { bytes =>
      for (ms <- Seq(0L, 40L, 999999L)) {
        assert(Multimodal.Y4mFrameCodec.decodeFrame(bytes, ms, 4).length === 4)
        assert(new Multimodal.WavFrameCodec(500L).decodeFrame(bytes, ms, 4).length === 4)
        assert(new Multimodal.SniffFrameCodec().decodeFrame(bytes, ms, 4).length === 4)
      }
      assert(Multimodal.PpmCodec.decode(
        if (bytes == null) Array.emptyByteArray else bytes, 4).length === 4)
      assert(Multimodal.WavCodec.decode(
        if (bytes == null) Array.emptyByteArray else bytes, 4).length === 4)
    }
  }

  test("SniffFrameCodec routes P6 frame lookups to the PPM single frame") {
    // a PPM is its own single frame: decodeFrame at any ms must equal
    // decode, not the zero vector (the scaladoc'd contract)
    val white = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      Array.fill(12)(0xff.toByte)
    val whole = Multimodal.PpmCodec.decode(white, 4)
    assert(whole.exists(_ != 0.0f), "fixture must decode non-zero")
    for (ms <- Seq(0L, 40L, 999999L))
      assert(new Multimodal.SniffFrameCodec().decodeFrame(white, ms, 4).toSeq
        === whole.toSeq)
  }

  test("absurd declared dims poison cleanly (no Int-offset wrap)") {
    val huge = "YUV4MPEG2 W99999999 H99999999 F25:1 C420\nFRAME\nxx"
      .getBytes("US-ASCII")
    assert(Multimodal.Y4mProbe.probe(huge) ===
      Multimodal.ProbedMeta(0L, None, None, None, None))
    assert(Multimodal.Y4mFrameCodec.decodeFrame(huge, 0L, 2).toSeq === Seq(0f, 0f))
    // overlong (10+-digit) numerics are malformed by fiat, never overflow
    val overlong = "YUV4MPEG2 W4 H4 F99999999999999999999:1 C420\nFRAME\n"
      .getBytes("US-ASCII")
    assert(Multimodal.Y4mProbe.probe(overlong).format === None)
    // 9-digit fpsDen is VALID per the cap, but frames is bounded by
    // content size, not the cap: a 1x1 mono stream at F1:999999999 with
    // 9.3M frames (~65 MB — crawl-blob sized) would put
    // frames * 1000 * fpsDen past Long.MaxValue. Duration must poison
    // (None), never wrap negative; the valid header fields survive.
    val denHuge = 999999999L
    val overFrames = Long.MaxValue / (1000L * denHuge) + 1
    val frame = "FRAME\n".getBytes("US-ASCII") :+ 0x40.toByte
    val big = new java.io.ByteArrayOutputStream()
    big.write("YUV4MPEG2 W1 H1 F1:999999999 Cmono\n".getBytes("US-ASCII"))
    (0L until overFrames).foreach(_ => big.write(frame))
    val pm = Multimodal.Y4mProbe.probe(big.toByteArray)
    assert(pm.format === Some("y4m") && pm.duration_ms === None, pm)
    // two frames of the same shape stay in range and positive
    val small = "YUV4MPEG2 W1 H1 F1:999999999 Cmono\n".getBytes("US-ASCII") ++
      frame ++ frame
    assert(Multimodal.Y4mProbe.probe(small).duration_ms ===
      Some(2L * 1000L * denHuge))
    // a 10-digit PPM width is malformed too: 4294967298 wraps a 32-bit
    // accumulator to 2, which would make the 6 raster bytes a "valid"
    // 2x1 image
    val ppmWrap = "P6\n4294967298 1\n255\n".getBytes("US-ASCII") ++
      Array.fill(6)(0xff.toByte)
    assert(Multimodal.PpmProbe.probe(ppmWrap) ===
      Multimodal.ProbedMeta(0L, None, None, None, None))
    assert(Multimodal.PpmCodec.decode(ppmWrap, 2).toSeq === Seq(0f, 0f))
  }

  test("malformed F tag and truncated final frame: probe poisons, codec clamps") {
    // 'F:30' (empty numerator) must return all-None, not throw — the
    // crash class a String.split/toLong parser had
    val badF = "YUV4MPEG2 W4 H4 F:30 C420\nFRAME\n".getBytes("US-ASCII")
    assert(Multimodal.Y4mProbe.probe(badF) ===
      Multimodal.ProbedMeta(0L, None, None, None, None))
    assert(Multimodal.Y4mFrameCodec.decodeFrame(badF, 0L, 1).toSeq === Seq(0f))
    // a stream ending in a TRUNCATED final payload (normal crawl
    // corruption): the probe counts only complete frames, and a seek
    // past the end clamps to the last COMPLETE frame, exactly like
    // trailing garbage would
    val f1 = "FRAME\n".getBytes("US-ASCII") ++
      Array.fill(16)(0x10.toByte) ++ Array.fill(8)(0x80.toByte)
    val f2 = "FRAME\n".getBytes("US-ASCII") ++
      Array.fill(16)(0xE0.toByte) ++ Array.fill(8)(0x80.toByte)
    val truncated = "YUV4MPEG2 W4 H4 F25:1 C420\n".getBytes("US-ASCII") ++
      f1 ++ f2.dropRight(5)
    val m = Multimodal.Y4mProbe.probe(truncated)
    assert(m.duration_ms === Some(40L), m) // ONE complete frame at 25 fps
    val v = Multimodal.Y4mFrameCodec.decodeFrame(truncated, 99999L, 1)
    assert(math.abs(v(0) - 0x10 / 255f) < 1e-6f, v.toSeq) // clamped to frame 0
  }

  test("fuzz: valid fixtures still probe correctly after the fuzz pass (no shared state)") {
    assert(Multimodal.SniffProbe.probe(y4m).format === Some("y4m"))
    assert(Multimodal.SniffProbe.probe(wav).format === Some("wav"))
    assert(Multimodal.SniffProbe.probe(ppm).format === Some("ppm"))
  }
}
