package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

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

  test("frame features generate in-partition; custom codec replaces stub") {
    val spark2 = spark
    import spark2.implicits._
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
    // a caller's FrameCodec replaces the stub and sees each frame's offset
    val byMs = new Multimodal.FrameCodec {
      def decode(content: Array[Byte], dims: Int): Array[Float] = new Array[Float](dims)
      def decodeFrame(content: Array[Byte], frameMs: Long, dims: Int): Array[Float] =
        Array.fill(dims)(frameMs.toFloat)
    }
    val custom = Multimodal.extractFrameFeatures(media, everyMs = 20000L, dims = 1, codec = byMs)
      .collect().sortBy(_.frame_ms)
    assert(custom.map(_.embedding(0)).toSeq === Seq(0f, 20000f, 40000f))
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
