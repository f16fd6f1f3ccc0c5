package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Hand-assembled ISO-BMFF fixtures for [[Multimodal.Mp4Probe]] — shared
  * with MediaFuzzSpec's mangling corpus. */
object Mp4Fixtures {
  def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  def be64(v: Long): Array[Byte] = be32(v >> 32) ++ be32(v & 0xffffffffL)

  def box(t: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32(8L + body.length) ++ t.getBytes("US-ASCII") ++ body
  }

  /** Same box with the `size==1` 64-bit largesize encoding. */
  def largeBox(t: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32(1L) ++ t.getBytes("US-ASCII") ++ be64(16L + body.length) ++ body
  }

  val ftyp: Array[Byte] =
    box("ftyp", "isom".getBytes, be32(512), "isomiso2".getBytes)

  /** mvhd v0: timescale + duration at payload offsets 12/16, padded to
    * the real 100-byte payload. */
  def mvhd0(timescale: Long, duration: Long): Array[Byte] =
    box("mvhd", Array[Byte](0, 0, 0, 0), be32(0), be32(0),
      be32(timescale), be32(duration), Array.fill(80)(0.toByte))

  /** mvhd v1: 64-bit times, timescale at 20, duration u64 at 24. */
  def mvhd1(timescale: Long, duration: Long): Array[Byte] =
    box("mvhd", Array[Byte](1, 0, 0, 0), be64(0), be64(0),
      be32(timescale), be64(duration), Array.fill(80)(0.toByte))

  /** tkhd v0 (84-byte payload): 16.16 width/height at offsets 76/80. */
  def tkhd0(w: Int, h: Int): Array[Byte] =
    box("tkhd", Array.fill(76)(0.toByte), be32(w.toLong << 16), be32(h.toLong << 16))

  val stsz: Array[Byte] = box("stsz", be32(0), be32(0), be32(3))
  val stco: Array[Byte] = box("stco", be32(0), be32(0))

  def trak(w: Int, h: Int, tables: Array[Byte]*): Array[Byte] =
    box("trak", tkhd0(w, h),
      box("mdia", box("minf", box("stbl", tables.flatten.toArray))))

  /** A minimal seekable video file: ftyp, moov{mvhd, video trak with
    * stsz+stco}, mdat. */
  def videoFile(timescale: Long, duration: Long, w: Int, h: Int): Array[Byte] =
    ftyp ++ box("moov", mvhd0(timescale, duration), trak(w, h, stsz, stco)) ++
      box("mdat", Array.fill(32)(0x42.toByte))

  val mp4: Array[Byte] = videoFile(600L, 1230L, 320, 240)

  // ---- full sample-table fixtures for Mp4FrameCodec -------------------

  /** mdhd v0 (24-byte payload): media timescale at offset 12. */
  def mdhd0(timescale: Long): Array[Byte] =
    box("mdhd", Array[Byte](0, 0, 0, 0), be32(0), be32(0),
      be32(timescale), be32(0), be32(0))

  def sttsBox(entries: Seq[(Long, Long)]): Array[Byte] =
    box("stts", be32(0), be32(entries.length),
      entries.flatMap(e => be32(e._1) ++ be32(e._2)).toArray)

  /** stsc from (first_chunk 1-based, samples_per_chunk) pairs, sdi 1. */
  def stscBox(entries: Seq[(Long, Long)]): Array[Byte] =
    box("stsc", be32(0), be32(entries.length),
      entries.flatMap(e => be32(e._1) ++ be32(e._2) ++ be32(1)).toArray)

  def stszTable(sizes: Seq[Int]): Array[Byte] =
    box("stsz", be32(0), be32(0), be32(sizes.length),
      sizes.flatMap(s => be32(s)).toArray)

  def stszUniform(size: Long, count: Long): Array[Byte] =
    box("stsz", be32(0), be32(size), be32(count))

  def stz2Box(bits: Int, sizes: Seq[Int]): Array[Byte] = {
    val packed =
      if (bits == 8) sizes.map(_.toByte).toArray
      else if (bits == 16) sizes.flatMap(s =>
        Seq(((s >> 8) & 0xff).toByte, (s & 0xff).toByte)).toArray
      else sizes.grouped(2).map { g => // 4-bit, high nibble first
        (((g.head & 0xf) << 4) | (if (g.size > 1) g(1) & 0xf else 0)).toByte
      }.toArray
    box("stz2", be32(0), Array[Byte](0, 0, 0), Array(bits.toByte),
      be32(sizes.length), packed)
  }

  def stcoBox(offs: Seq[Long]): Array[Byte] =
    box("stco", be32(0), be32(offs.length), offs.flatMap(be32).toArray)

  def co64Box(offs: Seq[Long]): Array[Byte] =
    box("co64", be32(0), be32(offs.length), offs.flatMap(be64).toArray)

  def trakFull(w: Int, h: Int, mediaTs: Long, tables: Array[Byte]*): Array[Byte] =
    box("trak", tkhd0(w, h),
      box("mdia", mdhd0(mediaTs),
        box("minf", box("stbl", tables.flatten.toArray))))

  /** A complete seekable video file with CORRECT absolute chunk offsets:
    * `sampleBytes` grouped into chunks of `chunkSizes` samples, stsc
    * entries compressed from the chunk-size runs, sample sizes from the
    * actual byte lengths (or the uniform form). Offsets are computed by
    * assembling once with zeros (same byte length), then re-assembling
    * with the real positions — the standard two-pass muxer trick. */
  def seekableFile(
      w: Int, h: Int, mediaTs: Long,
      sampleBytes: Seq[Array[Byte]], chunkSizes: Seq[Int],
      sttsEntries: Seq[(Long, Long)],
      useCo64: Boolean = false, uniform: Boolean = false,
      stz2Bits: Int = 0, dropStsc: Boolean = false): Array[Byte] = {
    require(chunkSizes.sum == sampleBytes.length, "chunk sizes must cover samples")
    val stscEntries = chunkSizes.zipWithIndex
      .foldLeft(Vector.empty[(Long, Long)]) { case (acc, (s, i)) =>
        if (acc.nonEmpty && acc.last._2 == s.toLong) acc
        else acc :+ ((i + 1).toLong, s.toLong)
      }
    val szBox =
      if (stz2Bits > 0) stz2Box(stz2Bits, sampleBytes.map(_.length))
      else if (uniform) stszUniform(sampleBytes.head.length.toLong, sampleBytes.length.toLong)
      else stszTable(sampleBytes.map(_.length))
    def moovOf(offs: Seq[Long]) = box("moov", mvhd0(1000L, 0L),
      trakFull(w, h, mediaTs,
        (Seq(sttsBox(sttsEntries)) ++
          (if (dropStsc) Seq.empty else Seq(stscBox(stscEntries))) ++
          Seq(szBox, if (useCo64) co64Box(offs) else stcoBox(offs))): _*))
    val dummy = moovOf(Seq.fill(chunkSizes.length)(0L))
    val mdatPayload = ftyp.length + dummy.length + 8
    // chunk byte lengths: sum of the member samples' lengths
    val chunkLens = chunkSizes.foldLeft((Vector.empty[Long], 0)) {
      case ((acc, idx), n) =>
        (acc :+ sampleBytes.slice(idx, idx + n).map(_.length.toLong).sum, idx + n)
    }._1
    val offs = chunkLens.scanLeft(mdatPayload.toLong)(_ + _).init
    ftyp ++ moovOf(offs) ++ box("mdat", sampleBytes.flatten.toArray)
  }
}

class Mp4Spec extends AnyFunSuite {
  import Mp4Fixtures._
  import Multimodal.{Mp4Probe, SniffProbe}

  test("v0 mvhd + seekable video trak: format, 16.16 dims, duration ms") {
    val m = Mp4Probe.probe(mp4)
    assert(m.format === Some("mp4"))
    assert(m.width === Some(320) && m.height === Some(240))
    assert(m.duration_ms === Some(1230L * 1000L / 600L)) // 2050
  }

  test("v1 mvhd carries the 64-bit duration") {
    val f = ftyp ++ box("moov", mvhd1(1000L, 5000L), trak(64, 48, stsz, stco))
    val m = Mp4Probe.probe(f)
    assert(m.format === Some("mp4") && m.duration_ms === Some(5000L))
    assert(m.width === Some(64) && m.height === Some(48))
  }

  test("no sample tables = not seekable = all-None (the AVI idx1 contract)") {
    val noCo = ftyp ++ box("moov", mvhd0(600, 1230), trak(320, 240, stsz))
    val noSz = ftyp ++ box("moov", mvhd0(600, 1230), trak(320, 240, stco))
    for (f <- Seq(noCo, noSz)) {
      val m = Mp4Probe.probe(f)
      assert(m === Multimodal.ProbedMeta(0L, None, None, None, None))
    }
    // the 64-bit/compact table variants count too
    val alt = ftyp ++ box("moov", mvhd0(600, 1230), trak(320, 240,
      box("stz2", be32(0), be32(0), be32(3)), box("co64", be32(0), be32(0))))
    assert(Mp4Probe.probe(alt).format === Some("mp4"))
  }

  test("audio-only file: duration with null dimensions") {
    val f = ftyp ++ box("moov", mvhd1(44100L, 441000L), trak(0, 0, stsz, stco))
    val m = Mp4Probe.probe(f)
    assert(m.format === Some("mp4"))
    assert(m.width === None && m.height === None)
    assert(m.duration_ms === Some(10000L))
  }

  test("first SEEKABLE video trak wins; audio trak first is skipped for dims") {
    val f = ftyp ++ box("moov", mvhd0(600, 600),
      trak(0, 0, stsz, stco), // audio
      trak(1920, 1080, stsz, stco), // the video track
      trak(64, 64, stsz, stco))
    val m = Mp4Probe.probe(f)
    assert(m.width === Some(1920) && m.height === Some(1080))
    // a video trak WITHOUT tables contributes neither seekability nor dims
    val f2 = ftyp ++ box("moov", mvhd0(600, 600),
      trak(1920, 1080), trak(64, 48, stsz, stco))
    val m2 = Mp4Probe.probe(f2)
    assert(m2.width === Some(64) && m2.height === Some(48))
  }

  test("size==1 largesize moov parses; size==0 to-end box walks") {
    val f = ftyp ++ largeBox("moov", mvhd0(600, 1230), trak(320, 240, stsz, stco))
    assert(Mp4Probe.probe(f).duration_ms === Some(2050L))
    // a trailing size==0 mdat (extends to EOF) does not break the walk
    val g = mp4 ++ be32(0) ++ "mdat".getBytes ++ Array.fill(16)(1.toByte)
    assert(Mp4Probe.probe(g).format === Some("mp4"))
  }

  test("SniffProbe dispatches ftyp; non-mp4 and corrupt stay all-None") {
    assert(SniffProbe.probe(mp4).format === Some("mp4"))
    assert(SniffProbe.probe("free".getBytes ++ mp4.drop(4)).format === None)
    // moov missing entirely
    assert(Mp4Probe.probe(ftyp ++ box("mdat", Array.fill(8)(0.toByte))).format === None)
    // truncated inside moov: walk stops, file stays un-probed (timescale
    // never parsed) rather than throwing
    assert(Mp4Probe.probe(mp4.take(40)).format === None)
  }
}

/** [[Multimodal.Mp4FrameCodec]]: the stts→stsc→stco/co64→stsz seek the
  * probe's `seekable` flag promises — one bounded read per lookup. */
class Mp4FrameCodecSpec extends AnyFunSuite {
  import Mp4Fixtures._
  import Multimodal.{Mp4FrameCodec, Mp4Probe}

  // five constant-valued 8-byte samples (w=4, h=2 -> sample IS the raw
  // luma plane), chunks [2, 2, 1], media timescale 10, one delta-1 stts
  // run: sample i covers media time [i, i+1), so media t = frameMs / 100
  private val vals = Seq(10, 60, 110, 160, 210)
  private def sample(v: Int) = Array.fill(8)(v.toByte)
  private val five = seekableFile(4, 2, 10L, vals.map(sample), Seq(2, 2, 1),
    Seq((5L, 1L)))

  private def lum(f: Array[Byte], ms: Long): Float =
    Mp4FrameCodec.decodeFrame(f, ms, 1)(0)
  private def expect(v: Int): Float = v / 255f
  private def near(a: Float, v: Int): Boolean = math.abs(a - expect(v)) < 1e-6f

  test("first/mid/last sample seek; past-the-end clamps to the last sample") {
    assert(near(lum(five, 0L), 10))    // first sample, first chunk
    assert(near(lum(five, 250L), 110)) // t=2 -> sample 2, SECOND chunk
    assert(near(lum(five, 320L), 160)) // t=3 -> sample 3, intra-chunk skip
    assert(near(lum(five, 480L), 210)) // t=4 -> last sample, third chunk
    assert(near(lum(five, 999999L), 210)) // far past the end: clamp
    // whole-content decode = the first sample
    assert(near(Mp4FrameCodec.decode(five, 1)(0), 10))
  }

  test("variable sample sizes: the intra-chunk stsz skip lands exactly") {
    // one chunk of four samples with UNEQUAL sizes: resolving sample k
    // must sum the k preceding table entries, not assume a stride
    val bytes = Seq(Array.fill(3)(20.toByte), Array.fill(5)(70.toByte),
      Array.fill(2)(120.toByte), Array.fill(7)(170.toByte))
    val f = seekableFile(0, 0, 1000L, bytes, Seq(4), Seq((4L, 1L)))
    for ((v, i) <- Seq(20, 70, 120, 170).zipWithIndex)
      assert(near(lum(f, i.toLong), v), s"sample $i")
  }

  test("non-uniform stts runs map time to the right sample") {
    // samples 0-1 last 5 media units each, samples 2-4 last 1 each
    val f = seekableFile(4, 2, 1000L, vals.map(sample), Seq(5),
      Seq((2L, 5L), (3L, 1L)))
    assert(near(lum(f, 3L), 10))  // t=3 inside sample 0's [0,5)
    assert(near(lum(f, 7L), 60))  // t=7 inside sample 1's [5,10)
    assert(near(lum(f, 10L), 110)) // first short sample at t=10
    assert(near(lum(f, 12L), 210)) // t=12 -> sample 4
  }

  test("uniform stsz, co64 offsets, and stz2 8-bit tables all seek") {
    val uni = seekableFile(4, 2, 10L, vals.map(sample), Seq(2, 2, 1),
      Seq((5L, 1L)), uniform = true)
    val c64 = seekableFile(4, 2, 10L, vals.map(sample), Seq(2, 2, 1),
      Seq((5L, 1L)), useCo64 = true)
    val z2 = seekableFile(4, 2, 10L, vals.map(sample), Seq(2, 2, 1),
      Seq((5L, 1L)), stz2Bits = 8)
    for (f <- Seq(uni, c64, z2)) {
      assert(near(lum(f, 0L), 10))
      assert(near(lum(f, 250L), 110))
      assert(near(lum(f, 480L), 210))
    }
  }

  test("stz2 4-bit nibble table: high nibble first, odd counts padded") {
    // five samples of 2..6 bytes (all <= 15: the 4-bit regime)
    val bytes = Seq(2, 3, 4, 5, 6).zip(vals).map { case (n, v) =>
      Array.fill(n)(v.toByte) }
    val f = seekableFile(0, 0, 1000L, bytes, Seq(5), Seq((5L, 1L)),
      stz2Bits = 4)
    for ((v, i) <- vals.zipWithIndex)
      assert(near(lum(f, i.toLong), v), s"sample $i")
  }

  test("absent stts degrades to sample 0 (no time base)") {
    def moovOf(offs: Seq[Long]) = box("moov", mvhd0(1000L, 0L),
      trakFull(4, 2, 1000L, stscBox(Seq((1L, 2L))),
        stszTable(Seq(8, 8)), stcoBox(offs)))
    val base = ftyp.length + moovOf(Seq(0L)).length + 8
    val f = ftyp ++ moovOf(Seq(base.toLong)) ++
      box("mdat", (sample(10) ++ sample(60)))
    // any frameMs resolves to sample 0 - without stts there is no clock
    assert(near(lum(f, 0L), 10))
    assert(near(lum(f, 5000L), 10))
  }

  test("absent stsc degrades to one-sample-per-chunk") {
    val f = seekableFile(4, 2, 10L, vals.map(sample), Seq(1, 1, 1, 1, 1),
      Seq((5L, 1L)), dropStsc = true)
    assert(near(lum(f, 0L), 10))
    assert(near(lum(f, 250L), 110))
    assert(near(lum(f, 480L), 210))
  }

  test("corrupt-table fallback: a truncated tail falls back to the last resolvable sample") {
    // drop the final chunk's payload: sample 4 now resolves out of
    // bounds, so a far seek falls back to sample 3 (the truncated-tail clamp)
    val truncated = five.dropRight(8)
    assert(near(lum(truncated, 999999L), 160))
    // in-range samples are untouched
    assert(near(lum(truncated, 0L), 10))
  }

  test("bomb cap: an absurd stsz claim is refused, falls back, never throws") {
    val samples = Seq(sample(10), sample(60))
    def moovOf(offs: Seq[Long]) = box("moov", mvhd0(1000L, 0L),
      trakFull(4, 2, 1000L, sttsBox(Seq((2L, 1L))), stscBox(Seq((1L, 2L))),
        stszTable(Seq(8, 5000000)), stcoBox(offs)))
    val base = ftyp.length + moovOf(Seq(0L)).length + 8
    val f = ftyp ++ moovOf(Seq(base.toLong)) ++
      box("mdat", samples.flatten.toArray)
    // sample 1 claims 5 MB (> MaxSampleBytes AND > the content): the
    // lookup poisons and the seek falls back to sample 0
    assert(Multimodal.Mp4.MaxSampleBytes < 5000000L)
    assert(near(lum(f, 999L), 10))
  }

  test("probe's seekable flag is load-bearing: un-seekable files decode zero") {
    val noCo = ftyp ++ box("moov", mvhd0(600, 1230), trak(320, 240, stsz))
    assert(Mp4Probe.probe(noCo).format === None)
    assert(lum(noCo, 0L) === 0f)
    assert(Mp4Probe.probe(five).format === Some("mp4"))
    assert(!near(lum(five, 0L), 0))
    // degenerate-but-present tables (the probe-presence fixture): the
    // probe says seekable, the codec finds zero samples and poisons
    assert(Mp4Probe.probe(mp4).format === Some("mp4"))
    assert(lum(mp4, 0L) === 0f)
  }

  test("the first seekable VIDEO track wins over an earlier audio track") {
    // an audio trak (no dims) with degenerate tables precedes the video
    // trak; parseTrack must pick the video one — the probe's dims rule
    def moovOf(offs: Seq[Long]) = box("moov", mvhd0(1000L, 0L),
      trak(0, 0, stsz, stco), // audio: seekable but dim-less
      trakFull(4, 2, 10L, sttsBox(Seq((2L, 1L))), stscBox(Seq((1L, 2L))),
        stszTable(Seq(8, 8)), stcoBox(offs)))
    val base = ftyp.length + moovOf(Seq(0L)).length + 8
    val f = ftyp ++ moovOf(Seq(base.toLong)) ++
      box("mdat", (sample(10) ++ sample(60)).toArray)
    val tr = Multimodal.Mp4.parseTrack(f).get
    assert(tr.w === 4 && tr.h === 2 && tr.sampleCount === 2)
    assert(near(lum(f, 0L), 10))
    assert(near(lum(f, 150L), 60))
  }
}
