package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Multimodal.mediaNearDupPairs]] — the perceptual-dedup composition
  * (codec decode plane → SRP bucket prefilter → exact-cosine confirm).
  * The oracle gate (q171) pins the stub-codec math against DuckDB; this
  * spec pins what the oracle cannot: the REAL-codec path end to end
  * (PPM pixels in, near-dup pair out), the bucket-cap guard, and the
  * feature-plane checkpoint lifecycle.
  */
class MediaNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def mediaOf(rows: Seq[(Long, Array[Byte])]) =
    rows.map { case (id, bytes) => (id, "image", bytes) }
      .toDF("media_id", "modality", "content")
      .repartition(2)

  test("an injected exact-duplicate pairs with its parent (stub codec)") {
    val base = (0L until 6L).map(i => i -> s"media-payload-$i".getBytes("UTF-8"))
    val media = mediaOf(base :+ (100L -> base.head._2)) // same bytes, new id
    val pairs = Multimodal.mediaNearDupPairs(media, dims = 16, planes = 8,
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)),
      "identical bytes must decode to identical features and pair up")
    // every reported pair really clears the cosine threshold (confirmed
    // against the features recomputed independently of the join)
    val feats = Multimodal.extractFeatures(media, dims = 16).collect()
      .map(f => f.media_id -> f.embedding.map(_.toDouble)).toMap
    pairs.foreach { case (a, b) =>
      val (va, vb) = (feats(a), feats(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      assert(cos >= 0.9, s"pair ($a, $b) cosine $cos below threshold")
      assert(a < b, "pairs must be ordered id_a < id_b")
    }
  }

  test("maxBucketSize drops the mega-group, healthy pairs survive") {
    // 20 identical "boilerplate" media (one bucket of 20) + one healthy
    // duplicate pair: with cap 10 the boilerplate bucket contributes no
    // pairs while the pair of 2 still surfaces — the q53 guard behavior
    // on the decode plane
    val boiler = (0L until 20L).map(i => i -> "boilerplate".getBytes("UTF-8"))
    val pairBytes = "rare-payload".getBytes("UTF-8")
    val media = mediaOf(boiler ++ Seq(50L -> pairBytes, 51L -> pairBytes))
    val pairs = Multimodal.mediaNearDupPairs(media, dims = 16, planes = 8,
        threshold = 0.9, maxBucketSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((50L, 51L)), "the healthy pair must survive the cap")
    assert(!pairs.exists { case (a, b) => a < 20L && b < 20L },
      "the over-cap boilerplate bucket must contribute no pairs")
  }

  test("REAL codec end to end: near-identical PPM images pair, a different one does not") {
    // 4x1 P6 images: bright-left/dark-right, the same with one channel
    // nudged (a near-duplicate a byte-level hash would miss), and the
    // inverted pattern (clearly different in feature space)
    def ppm(pixels: Array[Int]): Array[Byte] =
      "P6\n4 1\n255\n".getBytes("US-ASCII") ++ pixels.flatMap(p =>
        Array(((p >> 16) & 0xff).toByte, ((p >> 8) & 0xff).toByte, (p & 0xff).toByte))
    val a = ppm(Array(0xf0f0f0, 0xe8e8e8, 0x101010, 0x181818))
    val b = ppm(Array(0xf0f0ee, 0xe8e8e8, 0x101012, 0x181818)) // nudged
    val c = ppm(Array(0x101010, 0x181818, 0xf0f0f0, 0xe8e8e8)) // inverted
    val media = mediaOf(Seq(1L -> a, 2L -> b, 3L -> c))
    val pairs = Multimodal.mediaNearDupPairs(media, dims = 4, planes = 2,
        threshold = 0.99, codec = Multimodal.PpmCodec)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)),
      s"expected exactly the perceptual near-dup pair, got $pairs")
  }

  private def mediaWithDuration(rows: Seq[(Long, Array[Byte], Long)]) = {
    val df = rows.map { case (id, bytes, dur) =>
      (id, "video", bytes, ("clip", 640, 480, dur))
    }.toDF("media_id", "modality", "content", "meta")
    df.withColumn("meta",
        col("meta").cast(Multimodal.mediaSchema("meta").dataType))
      .repartition(2)
  }

  test("mediaFrameNearDupPairs: a clip embedded in a longer item pairs at full containment") {
    val x = "shared-footage-payload".getBytes("UTF-8")
    val y = "unrelated-payload".getBytes("UTF-8")
    val media = mediaWithDuration(Seq(
      (1L, x, 10000L), // frames at 0, 2500, 5000, 7500, 10000
      (2L, x, 2500L), // the CLIP: frames 0, 2500 — a prefix of item 1's
      (3L, y, 10000L))) // same shape, different footage
    val out = Multimodal.mediaFrameNearDupPairs(media, everyMs = 2500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq((1L, 2L, 2L, 5L, 2L, 1000000L)),
      s"expected the clip pair at containment 1e6 ppm, got ${out.toSeq}")
  }

  test("mediaFrameNearDupPairs: corpus-wide boilerplate frames drop under the cap") {
    val boiler = "intro-card-every-broadcast".getBytes("UTF-8")
    val a = "clip-a-footage".getBytes("UTF-8")
    val media = mediaWithDuration(
      (0L until 10L).map(i => (i, boiler, 5000L)) ++
        Seq((50L, a, 5000L), (51L, a, 2500L)))
    val pairs = Multimodal.mediaFrameNearDupPairs(media, everyMs = 2500,
        maxBucketSize = Some(5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((50L, 51L)),
      s"boilerplate frame buckets (10 media) must drop at cap 5, got $pairs")
  }

  test("mediaFrameNearDupPairs: REAL codec (Y4M) — a shared frame payload pairs two streams") {
    def y4mFrame(b: Int): Array[Byte] =
      "FRAME\n".getBytes("US-ASCII") ++ Array.fill(16)(b.toByte) ++
        Array.fill(8)(0x80.toByte)
    val hdr = "YUV4MPEG2 W4 H4 F25:1 C420\n".getBytes("US-ASCII")
    val long = hdr ++ y4mFrame(0x20) ++ y4mFrame(0xE0) // two distinct frames
    val clip = hdr ++ y4mFrame(0x20) // just the first
    val media = mediaWithDuration(Seq((1L, long, 40L), (2L, clip, 0L)))
    val out = Multimodal.mediaFrameNearDupPairs(media, everyMs = 40,
        codec = Multimodal.Y4mFrameCodec)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5)))
    assert(out.toSeq === Seq((1L, 2L, 1000000L)),
      s"the shared first frame must pair the streams, got ${out.toSeq}")
  }

  test("checkpoint lifecycle: feature-plane blocks release cleanly, caller inputs survive") {
    val sc = spark.sparkContext
    val base = (0L until 6L).map(i => i -> s"media-payload-$i".getBytes("UTF-8"))

    // pair generator outside any scope: the feature checkpoint backs the
    // result and passes to the caller, who frees it once the result
    // materializes — leaving NO blocks behind
    val before = sc.getPersistentRDDs.keySet
    val media = mediaOf(base :+ (100L -> base.head._2))
    val pairs = Multimodal.mediaNearDupPairs(media, dims = 16, planes = 8,
      threshold = 0.9)
    assert(pairs.count() >= 1L)
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "the feature plane must actually be checkpointed")
    graft.core.Checkpoints.release(pairs)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "released feature plane must leave no persistent blocks behind")

    // the frame-fingerprint plane: a scope that keeps only a count
    // frees it on exit
    val clip = "shared-footage-payload".getBytes("UTF-8")
    val clips = mediaWithDuration(Seq((1L, clip, 5000L), (2L, clip, 2500L)))
    val before4 = sc.getPersistentRDDs.keySet
    val framePairs = graft.core.Checkpoints.scoped {
      Multimodal.mediaFrameNearDupPairs(clips, everyMs = 2500).count()
    }
    assert(framePairs === 1L)
    assert((sc.getPersistentRDDs.keySet -- before4).isEmpty,
      "the frame-fingerprint plane must release")

    // caller-owned checkpoint-backed input: the scope never frees it
    val media2 = mediaOf(base).localCheckpoint(true)
    val ckptIds = media2.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    val before3 = sc.getPersistentRDDs.keySet
    graft.core.Checkpoints.scoped {
      Multimodal.mediaNearDupPairs(media2, dims = 16, planes = 8).count()
    }
    assert((sc.getPersistentRDDs.keySet -- before3).isEmpty)
    assert(ckptIds.subsetOf(sc.getPersistentRDDs.keySet),
      "the caller's own checkpoint must survive the scope")
    assert(media2.count() === base.size.toLong,
      "the caller's frame must still be readable after the scope")
    graft.core.Checkpoints.release(media2)
  }

  test("guards reject non-positive knobs") {
    val media = mediaOf(Seq(0L -> "x".getBytes("UTF-8")))
    intercept[IllegalArgumentException] {
      Multimodal.mediaNearDupPairs(media, dims = 0)
    }
    intercept[IllegalArgumentException] {
      Multimodal.mediaNearDupPairs(media, maxBucketSize = Some(0))
    }
  }
}
