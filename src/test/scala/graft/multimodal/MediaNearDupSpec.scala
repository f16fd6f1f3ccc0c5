package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Multimodal.mediaNearDupPairs]] — the perceptual-dedup composition
  * (codec decode plane → SRP bucket prefilter → exact-cosine confirm).
  * The oracle gate (q171) pins the stub-codec math against DuckDB; this
  * spec pins what the oracle cannot: the bucket-cap guard and the
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
