package graft.multimodal

import graft.core.Checkpoints
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: opaque `binary` content + typed metadata, with
  * decode/feature-extraction as per-partition batch transforms.
  *
  * The decode step itself is a STUB — graft ships no media decoder —
  * implemented as a deterministic fake
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
    * defaults to [[StubCodec]] (graft ships no media decoder);
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

