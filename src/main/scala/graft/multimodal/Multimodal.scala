package graft.multimodal

import graft.core.Checkpoints
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: opaque `binary` content + typed metadata, with
  * decode/feature-extraction as per-partition batch transforms.
  *
  * The decode step itself is a STUB — media codecs are not available in
  * this environment — implemented as a deterministic fake
  * ([[StubCodec.decode]]) so the Spark-side plumbing is real and testable:
  * the schema contract, the `mapPartitions` batch boundary (the Scala
  * analog of `mapInPandas`: one iterator per partition, amortizing codec
  * init across rows), partitioning, and the feature-vector output shape.
  *
  * Scale design: media rows are large (MBs) — the operators never shuffle
  * content bytes. Derived features/metadata project content away *before*
  * any wide operation; repartitioning for codec parallelism uses
  * `repartition(n)` on the id, done while the only columns are (id, uri),
  * not after content is loaded.
  */
object Multimodal {

  /** Canonical media row: opaque bytes + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType), // image | audio | video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  case class MediaFeatures(media_id: Long, modality: String, n_bytes: Long, embedding: Array[Float])

  /** The codec seam: a real decoder (image/audio/video library) drops in
    * here without touching the oracled plan around it. Instances are
    * shipped to executors ([[Serializable]]); [[MediaCodec.init]] runs
    * once per partition before the first decode — where a real codec loads
    * native libraries or allocates decode contexts, the cost the
    * `mapPartitions` batch boundary exists to amortize. */
  trait MediaCodec extends Serializable {
    /** Once-per-partition setup (native lib loading, context allocation). */
    def init(): Unit = ()
    /** Decode content bytes to a fixed-length feature vector. */
    def decode(content: Array[Byte], dims: Int): Array[Float]
  }

  /** STUB codec: deterministic fake decode. Real deployments swap this
    * object for one backed by an actual codec library; everything else in
    * the file is production plumbing. */
  object StubCodec extends MediaCodec {
    /** "Decode" = derive a fixed-length pseudo-embedding from the content
      * bytes (md5-seeded, deterministic). */
    def decode(content: Array[Byte], dims: Int): Array[Float] = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(content)
      Array.tabulate(dims) { i =>
        val b = d(i % d.length) & 0xff
        (b - 128) / 128.0f
      }
    }
  }

  /** The SINGLE P6 header parse shared by [[PpmCodec]] (decode) and
    * [[PpmProbe]] (dims) — the [[Y4m]] one-parser rule: magic, then
    * width, height and maxval as whitespace-separated decimals, `#`
    * comments allowed between them per the Netpbm spec. Numerics are
    * capped at 9 digits as `Y4m`'s are: a 10+-digit field is malformed,
    * never wrapped into a plausible small value. */
  private[multimodal] object Ppm {
    /** `maxval` is −1 when absent or malformed; the raster starts at
      * `rasterStart` (exactly one whitespace byte after maxval). */
    final case class Header(w: Int, h: Int, maxval: Int, rasterStart: Int)

    /** None for a wrong magic or a non-positive / malformed width or
      * height. */
    def parseHeader(content: Array[Byte]): Option[Header] = {
      if (content == null || content.length < 2 ||
          content(0) != 'P' || content(1) != '6') return None
      var pos = 2
      def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\t' || b == '\r'
      def nextInt(): Int = {
        while (pos < content.length &&
            (isWs(content(pos)) || content(pos) == '#')) {
          if (content(pos) == '#') // comment runs to end of line
            while (pos < content.length && content(pos) != '\n') pos += 1
          else pos += 1
        }
        val start = pos
        var v = 0L
        while (pos < content.length && content(pos) >= '0' && content(pos) <= '9') {
          if (pos - start < 9) v = v * 10 + (content(pos) - '0')
          pos += 1
        }
        if (pos == start || pos - start > 9) -1 else v.toInt
      }
      val w = nextInt(); val h = nextInt()
      if (w <= 0 || h <= 0) return None
      val maxval = nextInt()
      Some(Header(w, h, maxval, pos + 1))
    }
  }

  /** REAL codec: binary PPM (P6) image decode — an actual production
    * image format that needs no native library, proving a real decoder
    * drops into the [[MediaCodec]] seam without touching any plan around
    * it. Reads the [[Ppm]] header and the RGB raster, and emits a
    * `dims`-length feature: mean luminance (BT.601 weights) over `dims`
    * equal pixel blocks in raster order, scaled to [0, 1].
    *
    * Failure policy: content that is not valid P6 (wrong magic, truncated
    * raster, junk header) decodes to the zero vector instead of throwing —
    * at corpus scale one poison row must not kill a whole partition task.
    * `init()` is where a native codec would load; PPM needs none. */
  object PpmCodec extends MediaCodec {
    def decode(content: Array[Byte], dims: Int): Array[Float] = {
      val zero = new Array[Float](dims)
      val Ppm.Header(w, h, maxval, pos) = Ppm.parseHeader(content) match {
        case Some(hdr) => hdr
        case None => return zero
      }
      // maxval > 255 means 2-byte big-endian samples (valid P6 per the
      // Netpbm spec, up to 65535); anything outside (0, 65536) is invalid
      val bps = if (maxval > 255) 2 else 1
      if (maxval <= 0 || maxval > 65535 || dims <= 0 ||
          content.length < pos + w.toLong * h * 3 * bps) return zero
      val out = new Array[Float](dims)
      val counts = new Array[Int](dims)
      val n = w * h
      def sample(k: Int): Int =
        if (bps == 1) content(pos + k) & 0xff
        else ((content(pos + k * 2) & 0xff) << 8) | (content(pos + k * 2 + 1) & 0xff)
      var i = 0
      while (i < n) {
        val r = sample(i * 3)
        val g = sample(i * 3 + 1)
        val b = sample(i * 3 + 2)
        val slot = (i.toLong * dims / n).toInt
        out(slot) += (0.299f * r + 0.587f * g + 0.114f * b) / maxval
        counts(slot) += 1
        i += 1
      }
      var j = 0
      while (j < dims) { if (counts(j) > 0) out(j) /= counts(j); j += 1 }
      out
    }
  }

  /** The SINGLE RIFF/WAVE chunk walk shared by [[WavCodec]],
    * [[WavFrameCodec]] and [[WavProbe]]: `fmt ` before or after other
    * chunks, word-aligned sizes per the spec, and a truncated chunk
    * poisons rather than reading partially. Each consumer keeps its own
    * validity rule over the parsed layout: the codecs decode integer PCM
    * ([[pcm]]) only, while the probe reports a duration for any format
    * code and sample width. */
  private[multimodal] object Wav {
    /** The `fmt ` fields and the `data` payload span. */
    final case class Layout(
        format: Int, channels: Int, rate: Long, bits: Int, dataOff: Int, dataLen: Int)

    /** Walk chunks until both a `fmt ` (≥ 16 bytes) and a `data` chunk
      * are seen. None for a wrong magic, a truncated chunk or a missing
      * chunk. */
    def parse(content: Array[Byte]): Option[Layout] = {
      if (content == null || content.length < 12) return None
      def u16(o: Int): Int = (content(o) & 0xff) | ((content(o + 1) & 0xff) << 8)
      def u32(o: Int): Long = u16(o).toLong | (u16(o + 2).toLong << 16)
      def tag(o: Int, s: String): Boolean =
        (0 until 4).forall(i => content(o + i) == s.charAt(i).toByte)
      if (!tag(0, "RIFF") || !tag(8, "WAVE")) return None
      var pos = 12
      var fmt: Option[(Int, Int, Long, Int)] = None
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= content.length && (fmt.isEmpty || dataOff < 0)) {
        val sz = u32(pos + 4)
        if (sz < 0 || sz > Int.MaxValue - 8 || pos + 8 + sz > content.length)
          return None // truncated chunk: poison, not a partial read
        if (tag(pos, "fmt ") && sz >= 16)
          fmt = Some((u16(pos + 8), u16(pos + 10), u32(pos + 12), u16(pos + 22)))
        else if (tag(pos, "data")) { dataOff = pos + 8; dataLen = sz.toInt }
        pos += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
      }
      for ((format, channels, rate, bits) <- fmt if dataOff >= 0)
        yield Layout(format, channels, rate, bits, dataOff, dataLen)
    }

    /** Integer PCM (format 1) at 8-bit (unsigned, offset-128) or 16-bit
      * (signed little-endian) with any channel count: what the codecs
      * decode. */
    def pcm(l: Layout): Boolean =
      l.format == 1 && l.channels > 0 && (l.bits == 8 || l.bits == 16)

    /** Complete sample frames in the data chunk of a [[pcm]] layout. */
    def frames(l: Layout): Int = l.dataLen / (l.channels * (l.bits / 8))

    /** RMS energy of the channel-averaged samples over frames
      * `[first, until)` of a [[pcm]] layout, split into `dims` equal
      * blocks in time order; the zero vector for an empty range. */
    def envelope(
        content: Array[Byte], l: Layout, first: Int, until: Int, dims: Int): Array[Float] = {
      val n = until - first
      if (n <= 0) return new Array[Float](dims)
      val bytesPerSample = l.bits / 8
      val bytesPerFrame = l.channels * bytesPerSample
      val sumSq = new Array[Double](dims)
      val counts = new Array[Int](dims)
      var f = 0
      while (f < n) {
        var c = 0
        var acc = 0.0
        while (c < l.channels) {
          val o = l.dataOff + (first + f) * bytesPerFrame + c * bytesPerSample
          val s =
            if (l.bits == 8) ((content(o) & 0xff) - 128) / 128.0
            else ((content(o) & 0xff) | (content(o + 1) << 8)).toShort / 32768.0
          acc += s
          c += 1
        }
        val m = acc / l.channels
        val slot = (f.toLong * dims / n).toInt
        sumSq(slot) += m * m
        counts(slot) += 1
        f += 1
      }
      Array.tabulate(dims) { j =>
        if (counts(j) > 0) math.sqrt(sumSq(j) / counts(j)).toFloat else 0f
      }
    }
  }

  /** REAL codec #2 — AUDIO: RIFF/WAVE PCM decode (pure byte-walk, no
    * library), extending the seam beyond images: the same `decode(bytes,
    * dims) → Array[Float]` contract holds for a time-domain modality.
    * Walks the chunk list with [[Wav]], accepts [[Wav.pcm]] data, and
    * emits `dims` RMS-energy values over equal frame blocks in time
    * order, channel-averaged, scaled to [0, 1] — the audio analog of the
    * image codec's block luminance (an energy envelope: silence
    * detection, clipping screens, crude AV alignment).
    *
    * Failure policy identical to [[PpmCodec]]: wrong magic, missing or
    * non-PCM `fmt `, truncated data chunk — zero vector, never a task
    * failure. */
  object WavCodec extends MediaCodec {
    def decode(content: Array[Byte], dims: Int): Array[Float] =
      Wav.parse(content) match {
        case Some(l) if dims > 0 && Wav.pcm(l) =>
          Wav.envelope(content, l, 0, Wav.frames(l), dims)
        case _ => new Array[Float](dims)
      }
  }

  /** Frame-addressable codec: decode features at a TIME OFFSET inside
    * the content — the video/audio contract [[sampleFrames]]' metadata
    * plan needs a decode plane for. Extends [[MediaCodec]] so one codec
    * object can serve both whole-content and per-frame extraction. */
  trait FrameCodec extends MediaCodec {
    /** Features for the frame at `frameMs` into the content. */
    def decodeFrame(content: Array[Byte], frameMs: Long, dims: Int): Array[Float]
  }

  /** STUB frame codec: deterministic fake seeded by (content, frame) —
    * the md5 derivation is expressible in SQL (`md5(text || ':' || ms)`),
    * which keeps the frame plumbing oracle-gated like [[StubCodec]]/q54. */
  object StubFrameCodec extends FrameCodec {
    def decode(content: Array[Byte], dims: Int): Array[Float] =
      StubCodec.decode(content, dims)
    def decodeFrame(content: Array[Byte], frameMs: Long, dims: Int): Array[Float] =
      StubCodec.decode(content ++ s":$frameMs".getBytes("UTF-8"), dims)
  }

  /** REAL frame codec: WAV PCM RMS envelope over a `windowMs` window
    * starting at the frame offset — [[WavCodec]]'s whole-content features
    * restricted to a time slice, using the `fmt ` chunk's sample rate to
    * map milliseconds to sample frames. Out-of-range or truncated
    * windows clamp to the available samples; everything else (chunk
    * walking, 8/16-bit paths, poison policy) is [[WavCodec]]'s. */
  class WavFrameCodec(windowMs: Long) extends FrameCodec {
    require(windowMs >= 1, s"WavFrameCodec: windowMs must be >= 1, got $windowMs")
    def decode(content: Array[Byte], dims: Int): Array[Float] =
      WavCodec.decode(content, dims)
    def decodeFrame(content: Array[Byte], frameMs: Long, dims: Int): Array[Float] =
      Wav.parse(content) match {
        case Some(l) if dims > 0 && frameMs >= 0 && Wav.pcm(l) && l.rate > 0 =>
          val total = Wav.frames(l).toLong
          val first = math.min(frameMs * l.rate / 1000, total).toInt
          val until = math.min((frameMs + windowMs) * l.rate / 1000, total).toInt
          Wav.envelope(content, l, first, until, dims)
        case _ => new Array[Float](dims)
      }
  }

  /** The SINGLE YUV4MPEG2 header parse + frame-marker walk shared by
    * [[Y4mFrameCodec]] (seek) and [[Y4mProbe]] (count) — one parser, so
    * the probe's `duration_ms` and the codec's seek offsets can never
    * diverge (and there is exactly one place to harden: the byte-walk
    * `parseInt` is overflow-capped, never `String.toLong`). */
  private[multimodal] object Y4m {
    /** frameBytes fits an Int by [[parseHeader]]'s guard. */
    final case class Header(
        w: Int, h: Int, fpsNum: Long, fpsDen: Long, frameBytes: Int, bodyStart: Int)

    /** None for anything malformed: bad magic, missing/zero/overlong
      * numeric tags, unknown colorspace, absurd frame size. */
    def parseHeader(content: Array[Byte]): Option[Header] = {
      if (content == null) return None
      val magic = "YUV4MPEG2"
      if (content.length < magic.length + 1 ||
          !(0 until magic.length).forall(i => content(i) == magic.charAt(i).toByte))
        return None
      var eol = magic.length
      while (eol < content.length && content(eol) != '\n') eol += 1
      if (eol >= content.length) return None
      var w = -1; var h = -1; var fpsNum = -1L; var fpsDen = -1L
      var chromaShift = -1 // chroma plane bytes = (w*h) >> shift per plane
      var p = magic.length
      // digits only, at most 9 (a 10+-digit dimension or fps term is
      // malformed by fiat — and can never overflow anything downstream)
      def parseInt(from: Int, until: Int): Long = {
        var v = 0L; var i = from
        while (i < until && content(i) >= '0' && content(i) <= '9') {
          v = v * 10 + (content(i) - '0'); i += 1
        }
        if (i == from || i < until || i - from > 9) -1L else v
      }
      while (p < eol) {
        while (p < eol && content(p) == ' ') p += 1
        val start = p
        while (p < eol && content(p) != ' ') p += 1
        if (p > start + 1) {
          val v = start + 1
          content(start) match {
            case 'W' => w = parseInt(v, p).toInt
            case 'H' => h = parseInt(v, p).toInt
            case 'F' =>
              var colon = v
              while (colon < p && content(colon) != ':') colon += 1
              fpsNum = parseInt(v, colon)
              fpsDen = if (colon < p) parseInt(colon + 1, p) else -1L
            case 'C' =>
              val cs = new String(content, v, p - v, "US-ASCII")
              chromaShift =
                if (cs.startsWith("420")) 2      // two (w/2 x h/2) planes
                else if (cs.startsWith("422")) 1 // two (w/2 x h) planes
                else if (cs.startsWith("444")) 0 // two full planes
                else if (cs == "mono") Int.MaxValue // no chroma planes
                else -2                          // unknown colorspace
            case _ => () // I/A/X params don't affect the layout
          }
        }
      }
      if (chromaShift == -1) chromaShift = 2 // spec default is 4:2:0
      if (w <= 0 || h <= 0 || fpsNum <= 0 || fpsDen <= 0 || chromaShift == -2)
        return None
      val lumaBytes = w.toLong * h
      val frameBytes = lumaBytes +
        (if (chromaShift == Int.MaxValue) 0L else 2L * (lumaBytes >> chromaShift))
      if (frameBytes <= 0 || frameBytes > Int.MaxValue) return None
      Some(Header(w, h, fpsNum, fpsDen, frameBytes.toInt, eol + 1))
    }

    /** Walk FRAME markers by offset arithmetic (marker lines read, payload
      * bytes never touched), stopping at the first malformed marker or
      * truncated payload. Returns `(completeFrames, targetLumaOff,
      * lastCompleteLumaOff)` — offsets are −1 when absent. `target < 0`
      * counts only. */
    def walk(content: Array[Byte], hdr: Header, target: Long): (Long, Long, Long) = {
      val fm = "FRAME"
      var off = hdr.bodyStart
      var idx = 0L
      var tgt = -1L
      var last = -1L
      var ok = true
      // seek mode stops at the target frame (the count in `idx` is then
      // PARTIAL — seek callers must not read it); count mode (target < 0)
      // walks everything
      while (ok && off < content.length && !(target >= 0 && tgt >= 0)) {
        if (content.length < off + fm.length ||
            !(0 until fm.length).forall(i => content(off + i) == fm.charAt(i).toByte))
          ok = false
        else {
          var fe = off + fm.length
          while (fe < content.length && content(fe) != '\n') fe += 1
          if (fe >= content.length || content.length < fe + 1L + hdr.frameBytes)
            ok = false // truncated final frame: not counted, walk ends
          else {
            if (idx == target) tgt = fe + 1
            last = fe + 1
            idx += 1
            off = fe + 1 + hdr.frameBytes
          }
        }
      }
      (idx, tgt, last)
    }
  }

  /** REAL video frame codec: YUV4MPEG2 (y4m) — the first MULTI-FRAME
    * container through the [[FrameCodec]] seam, proving frame SEEKING
    * (WavFrameCodec time-slices a single sample stream). The format is
    * public and needs no native library: an ASCII stream header
    * `YUV4MPEG2 W<w> H<h> F<num>:<den> ...\n` followed by frames, each an
    * ASCII `FRAME[params]\n` marker and a fixed-size raw planar YCbCr
    * payload (C420: w*h luma + 2 quarter chroma planes; C422 / C444 /
    * Cmono scale the chroma planes accordingly).
    *
    * Seeking: `frameMs` maps to the NEAREST frame index via the header's
    * fps (`round(ms * num / (1000 * den))`, clamped to the stream), then
    * the codec walks frame markers by OFFSET ARITHMETIC — each hop reads
    * only the marker line, never the payload — and decodes exactly one
    * frame's luma plane: mean luminance over `dims` equal pixel blocks in
    * raster order, scaled to [0, 1] (the PpmCodec feature, per frame).
    *
    * Failure policy matches the other real codecs: malformed header,
    * unknown colorspace, or a truncated / out-of-range frame decodes to
    * the zero vector instead of throwing. */
  object Y4mFrameCodec extends FrameCodec {
    def decode(content: Array[Byte], dims: Int): Array[Float] =
      decodeFrame(content, 0L, dims) // whole-content = the first frame
    def decodeFrame(content: Array[Byte], frameMs: Long, dims: Int): Array[Float] = {
      val zero = new Array[Float](dims)
      if (content == null || dims <= 0 || frameMs < 0) return zero
      Y4m.parseHeader(content) match {
        case None => zero
        case Some(hdr) =>
          // nearest frame for frameMs at num/den fps; anything past the
          // last COMPLETE frame (including a truncated final payload —
          // the normal crawl corruption) clamps to it
          val target = (frameMs * hdr.fpsNum + 500L * hdr.fpsDen) / (1000L * hdr.fpsDen)
          val (_, tgt, last) = Y4m.walk(content, hdr, target)
          val lumaOff = if (tgt >= 0) tgt else last
          if (lumaOff < 0) zero
          else blockMean(content, lumaOff.toInt, hdr.w * hdr.h, dims)
      }
    }
  }

  /** Mean byte value over `dims` equal blocks of `c[off, off + len)`,
    * /255 — the luma-plane feature of [[Y4mFrameCodec]]. */
  private def blockMean(c: Array[Byte], off: Int, len: Int, dims: Int): Array[Float] = {
    val sums = new Array[Double](dims)
    val counts = new Array[Int](dims)
    var k = 0
    while (k < len) {
      val slot = (k.toLong * dims / len).toInt
      sums(slot) += (c(off + k) & 0xff)
      counts(slot) += 1
      k += 1
    }
    Array.tabulate(dims)(j =>
      if (counts(j) > 0) (sums(j) / counts(j) / 255.0).toFloat else 0f)
  }

  /** The supported formats' magic bytes: YUV4MPEG2 (y4m), RIFF/WAVE
    * (wav) or P6 (ppm); None for anything else. */
  private def sniff(c: Array[Byte]): Option[String] = {
    def starts(s: String, at: Int = 0): Boolean =
      c != null && c.length >= at + s.length &&
        (0 until s.length).forall(i => c(at + i) == s.charAt(i).toByte)
    if (starts("YUV4MPEG2")) Some("y4m")
    else if (starts("RIFF") && starts("WAVE", 8)) Some("wav")
    else if (starts("P6")) Some("ppm")
    else None
  }

  /** Magic-byte dispatch to the right FRAME codec — [[SniffProbe]]'s
    * codec twin, for pipelines whose media column is untagged: Y4M to
    * [[Y4mFrameCodec]]'s seek, WAV to a [[WavFrameCodec]] window, PPM
    * to its single frame via [[PpmCodec]]; unrecognized bytes decode to the
    * zero vector (the family's poison rule). Stateless and Serializable
    * like every codec — ships to executors as a closure constant. */
  class SniffFrameCodec(wavWindowMs: Long = 1000L) extends FrameCodec {
    private val wav = new WavFrameCodec(wavWindowMs)
    def decode(content: Array[Byte], dims: Int): Array[Float] = sniff(content) match {
      case Some("y4m") => Y4mFrameCodec.decode(content, dims)
      case Some("wav") => wav.decode(content, dims)
      case Some("ppm") => PpmCodec.decode(content, dims)
      case _ => new Array[Float](dims)
    }
    def decodeFrame(content: Array[Byte], frameMs: Long, dims: Int): Array[Float] =
      sniff(content) match {
        case Some("y4m") => Y4mFrameCodec.decodeFrame(content, frameMs, dims)
        case Some("wav") => wav.decodeFrame(content, frameMs, dims)
        // a PPM is its own single frame: any frameMs resolves to it, the
        // same way decode() routes whole-image P6
        case Some("ppm") => PpmCodec.decode(content, dims)
        case _ => new Array[Float](dims)
      }
  }

  /** One probed-metadata row ([[probeMeta]]'s output): nulls where the
    * format doesn't carry the field or the content is malformed. */
  case class ProbedMeta(
      media_id: Long, format: Option[String],
      width: Option[Int], height: Option[Int], duration_ms: Option[Long])

  /** Header-only metadata inspection — the probe that FILLS the
    * `meta` struct the frame-sampling plans consume: real pipelines
    * receive untagged bytes, and `sampleFrames` / [[extractFrameFeatures]]
    * need `duration_ms` before any decode is planned. A probe reads
    * headers (and, for framed containers, walks marker offsets), never
    * payload. */
  trait MediaProbe extends Serializable {
    def init(): Unit = ()
    /** (format, width, height, duration_ms); all-None for unrecognized
      * or malformed content. */
    def probe(content: Array[Byte]): ProbedMeta
  }

  /** Dispatch on magic bytes: YUV4MPEG2 (y4m), RIFF/WAVE (wav), P6
    * (ppm); anything else probes all-None. The real-world entry point —
    * crawled bytes arrive untagged. */
  object SniffProbe extends MediaProbe {
    def probe(content: Array[Byte]): ProbedMeta = sniff(content) match {
      case Some("y4m") => Y4mProbe.probe(content)
      case Some("wav") => WavProbe.probe(content)
      case Some("ppm") => PpmProbe.probe(content)
      case _ => ProbedMeta(0L, None, None, None, None)
    }
  }

  /** Y4M: width/height/fps from the stream header; duration from the
    * COMPLETE-frame count. Both come from the SAME parser and marker
    * walk the codec seeks with ([[Y4m]]) — probe and codec cannot
    * disagree on layout, and the parse is the hardened byte walk (no
    * `String.toLong`, overflow-capped numerics). */
  object Y4mProbe extends MediaProbe {
    def probe(content: Array[Byte]): ProbedMeta =
      Y4m.parseHeader(content) match {
        case None => ProbedMeta(0L, None, None, None, None)
        case Some(hdr) =>
          val (frames, _, _) = Y4m.walk(content, hdr, target = -1L)
          ProbedMeta(0L, Some("y4m"), Some(hdr.w), Some(hdr.h),
            // frames is bounded by content size, not the 9-digit numeric
            // cap — a pathological 1x1 mono stream at F1:999999999 can
            // push frames * 1000 * fpsDen past Long; poison rather than
            // emit a negative duration
            if (frames > Long.MaxValue / (1000L * hdr.fpsDen)) None
            else Some(frames * 1000L * hdr.fpsDen / hdr.fpsNum))
      }
  }

  /** WAV: sample rate + data-chunk length → duration, from the same
    * [[Wav]] chunk walk the codecs decode with (headers only). Unlike
    * the codecs it accepts any format code and sample width: a
    * non-PCM or 24-bit file still has a duration. */
  object WavProbe extends MediaProbe {
    def probe(content: Array[Byte]): ProbedMeta = Wav.parse(content) match {
      case Some(l) if l.rate > 0 && l.channels > 0 && l.bits > 0 =>
        val frames = l.dataLen / (l.channels.toLong * (l.bits / 8).max(1))
        ProbedMeta(0L, Some("wav"), None, None, Some(frames * 1000L / l.rate))
      case _ => ProbedMeta(0L, None, None, None, None)
    }
  }

  /** PPM (P6): width/height from the [[Ppm]] header; no time axis. */
  object PpmProbe extends MediaProbe {
    def probe(content: Array[Byte]): ProbedMeta = Ppm.parseHeader(content) match {
      case Some(h) => ProbedMeta(0L, Some("ppm"), Some(h.w), Some(h.h), None)
      case None => ProbedMeta(0L, None, None, None, None)
    }
  }

  /** Probe every media row's metadata from its content bytes — the
    * ingestion step that DERIVES the `meta` struct [[sampleFrames]] /
    * [[extractFrameFeatures]] consume, for corpora whose metadata is
    * missing or untrusted. Same `mapPartitions` seam as the decode
    * plane (per-partition `init`, content projected away in the same
    * stage — bytes never survive into the output, never shuffle). */
  def probeMeta(
      media: DataFrame, probe: MediaProbe = SniffProbe): Dataset[ProbedMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        probe.init()
        rows.map { case (id, c) => probe.probe(c).copy(media_id = id) }
      }
  }

  case class FrameFeatures(media_id: Long, frame_ms: Long, embedding: Array[Float])

  /** Per-frame feature extraction — the decode plane behind
    * [[sampleFrames]]' metadata plan, WITHOUT its join shape: joining
    * the frame plan back to content would duplicate multi-MB content
    * rows once per frame through a shuffle. Instead each partition reads
    * a content row ONCE and generates its frames in place (frame offsets
    * derive from `meta.duration_ms`, the same `0 to duration by everyMs`
    * contract as [[sampleFrames]]); content bytes never cross an
    * exchange and never exist twice. */
  def extractFrameFeatures(
      media: DataFrame, everyMs: Long, dims: Int = 16,
      codec: FrameCodec = StubFrameCodec): Dataset[FrameFeatures] = {
    require(everyMs >= 1, s"extractFrameFeatures: everyMs must be >= 1, got $everyMs")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .where(col("meta.duration_ms").isNotNull)
      .select(col("media_id"), col("content"), col("meta.duration_ms"))
      .as[(Long, Array[Byte], Long)]
      .mapPartitions { rows =>
        codec.init()
        rows.flatMap { case (id, content, durationMs) =>
          val bytes = if (content == null) Array.emptyByteArray else content
          (0L to durationMs by everyMs).iterator.map { ms =>
            FrameFeatures(id, ms, codec.decodeFrame(bytes, ms, dims))
          }
        }
      }
  }

  /** Feature extraction over media batches: the `mapPartitions` boundary
    * initializes the codec once per partition — the batch shape a real
    * codec needs. Content bytes never survive this projection. The codec
    * defaults to [[StubCodec]] (this container has no media libraries);
    * swapping in a real [[MediaCodec]] changes nothing else in the plan. */
  def extractFeatures(
      media: DataFrame, dims: Int = 16,
      codec: MediaCodec = StubCodec): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("modality"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        codec.init() // once per partition, before the first decode
        rows.map { case (id, modality, content) =>
          val bytes = if (content == null) Array.emptyByteArray else content // schema allows null
          MediaFeatures(id, modality, bytes.length.toLong, codec.decode(bytes, dims))
        }
      }
  }

  /** Frame sampling plan for video rows: one row per sampled frame index,
    * derived from metadata only (content untouched until decode). */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame =
    media
      .where(col("modality") === "video" && col("meta.duration_ms").isNotNull)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("meta.duration_ms"), lit(everyMs))).as("frame_ms"))

  /** Resize request plan: pure-metadata computation of target dimensions
    * preserving aspect ratio (decode-side work stays in the stub). */
  def resizePlan(media: DataFrame, maxDim: Int): DataFrame = {
    val w = col("meta.width").cast("double")
    val h = col("meta.height").cast("double")
    val scale = least(lit(1.0), lit(maxDim) / greatest(w, h))
    media
      .where(col("modality") === "image")
      .select(col("media_id"),
        round(w * scale).cast("int").as("target_width"),
        round(h * scale).cast("int").as("target_height"))
  }

  /** Deterministic media view over a `documents` table: modality cycles
    * image/audio/video on `doc_id`, dimensions and duration derive from
    * `n_chars`, content is the text's UTF-8 bytes — all reproducible in
    * any SQL engine, which is what lets [[resizePlan]]/[[sampleFrames]]
    * (q52) AND the [[extractFeatures]] decode plane with its md5-seeded
    * [[StubCodec]] (q54) sit under the DuckDB oracle gate rather than
    * being spec-only. Metadata-plane queries never touch `content`
    * (column pruning drops it at the scan). */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      col("text").cast("binary").as("content"),
      struct(
        lit("synthetic").as("format"),
        (lit(320) + pmod(col("n_chars"), lit(1600))).cast("int").as("width"),
        (lit(240) + pmod(col("n_chars") * 7, lit(900))).cast("int").as("height"),
        (col("n_chars") * 40).cast("long").as("duration_ms")).as("meta"))

  /** Media near-duplicate pairs — the perceptual-dedup composition: the
    * [[extractFeatures]] decode plane (codec feature vectors, content
    * bytes projected away inside the `mapPartitions` batch) feeding the
    * embedding near-dup machinery (SRP bucket prefilter + exact-cosine
    * confirm, [[graft.ops.ext.Similarity.embeddingNearDupPairs]]'s shape
    * with the `Dedup.maxBucketSize` skew guard). What a crawl pipeline
    * runs first on image/audio bytes: candidate generation is a short-key
    * bucket join over `dims`-float features — the media content itself
    * never shuffles and is never compared pairwise.
    *
    * Scale shape:
    *  - the decode + SRP signature runs ONCE per media row behind an
    *    eager checkpoint: the census, the guard semi join, and both
    *    self-join sides would otherwise each re-run the codec over the
    *    full corpus (and a REAL codec decode dwarfs any signature
    *    kernel). The checkpoint rows are (id, dims floats, bucket) — far
    *    under the payload ceiling that makes persistence lose;
    *  - `maxBucketSize` bounds candidate pairs to n·cap per bucket
    *    (buckets above the cap contribute no pairs — boilerplate media
    *    corpora have exact-dup mega-groups, and every member of one
    *    lands in ONE bucket because identical bytes decode to identical
    *    features). Uncapped, that one group reintroduces the quadratic
    *    join this operator exists to avoid;
    *  - recall: vectors agreeing on all `planes` SRP signs share a
    *    bucket; exact duplicates always do. Raise recall for genuinely
    *    perturbed media by lowering `planes` (bigger buckets) — the
    *    standard LSH trade, same knob as [[graft.ops.ext.Dedup]] bands.
    *
    * Returns (id_a, id_b), id_a < id_b, cosine ≥ `threshold`. Pairs are
    * unique by construction (one bucket per vector — no cross-band
    * distinct). The result reads the feature checkpoint, so it passes
    * to the enclosing [[graft.core.Checkpoints.scoped]] scope, or to the
    * caller outside one. */
  def mediaNearDupPairs(
      media: DataFrame, dims: Int = 16, planes: Int = 8,
      threshold: Double = 0.9,
      codec: MediaCodec = StubCodec,
      maxBucketSize: Option[Int] = None): DataFrame = Checkpoints.scoped {
    import graft.ops.ext.Similarity
    require(dims >= 1 && planes >= 1, "mediaNearDupPairs: dims/planes must be >= 1")
    require(maxBucketSize.forall(_ >= 1), "mediaNearDupPairs: maxBucketSize must be >= 1")
    val sig = Checkpoints.checkpoint(extractFeatures(media, dims, codec).toDF()
      .select(col("media_id").as("id"), col("embedding").as("vec"))
      .withColumn("bucket", Similarity.srpBucket(col("vec"), planes)))
    val kept = maxBucketSize match {
      case Some(cap) =>
        // map-side partial count collapses even a mega-bucket to one
        // (bucket, n) row per task; singleton buckets pruned too
        val ok = sig.groupBy(col("bucket"))
          .agg(count(lit(1)).as("_bsz"))
          .where(col("_bsz") >= 2 && col("_bsz") <= cap)
          .select(col("bucket"))
        sig.join(ok, Seq("bucket"), "left_semi")
      case None => sig
    }
    val l = kept.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val r = kept.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .where(Similarity.cosineSafe(col("vec_a"), col("vec_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Synthetic media table for tests/demos (documents bytes as fake
    * content). */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val modality = Seq("image", "audio", "video")(i % 3)
      val content = s"media-payload-$i".getBytes("UTF-8")
      (i.toLong, modality, content, ("fake", 640 + i, 480 + i, 10000L * (i + 1)))
    }
    rows.toDF("media_id", "modality", "content", "meta")
      .withColumn("meta", col("meta").cast(mediaSchema("meta").dataType))
  }
}
