package graft.ops.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Ranking.pavPools]] / [[Ranking.isotonicCalibrate]] /
  * [[Ranking.calibratedFuse]] — exact isotonic score calibration (the
  * score-fusion complement of rank-only RRF). Spec-gated per the ledger:
  * the oracle roster is full, and the operator composes already-oracled
  * parts (calibrationBins is q168's fit table; the serve pass is the
  * q170 typedLit-literal shape).
  */
class IsotonicSpec extends SparkSpec {

  test("pavPools: textbook merge — a decreasing run pools to its weighted mean") {
    // rates .2, .5, .3, .8 -> (0), (1,2 pooled at 4/10), (3)
    val pools = Ranking.pavPools(Seq(
      (0L, 10L, 2L), (1L, 4L, 2L), (2L, 6L, 2L), (3L, 10L, 8L)))
    assert(pools.map(p => (p.bin_lo, p.bin_hi, p.n, p.pos, p.p_ppm)) === Seq(
      (0L, 0L, 10L, 2L, 200000L),
      (1L, 2L, 10L, 4L, 400000L),
      (3L, 3L, 10L, 8L, 800000L)))
  }

  test("pavPools: cascading merge reaches back past earlier pools") {
    // rates .9, .5, .1: (1,2) pool to .3, which then violates .9 -> one pool
    val pools = Ranking.pavPools(Seq(
      (0L, 10L, 9L), (1L, 10L, 5L), (2L, 10L, 1L)))
    assert(pools === Seq(Ranking.IsoPool(0L, 2L, 30L, 15L, 500000L)))
  }

  test("pavPools: monotone output, exact (n, pos) conservation, any input order") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 20) {
      val bins = (0L until 12L).map { b =>
        val n = 1L + rnd.nextInt(50)
        (b, n, rnd.nextInt(n.toInt + 1).toLong)
      }
      val pools = Ranking.pavPools(rnd.shuffle(bins))
      assert(pools.map(_.n).sum === bins.map(_._2).sum, s"trial $trial: n")
      assert(pools.map(_.pos).sum === bins.map(_._3).sum, s"trial $trial: pos")
      // rates monotone non-decreasing, exactly (cross-multiplied)
      pools.sliding(2).foreach {
        case Seq(a, b) =>
          assert(BigInt(a.pos) * b.n <= BigInt(b.pos) * a.n,
            s"trial $trial: pools invert: $a -> $b")
        case _ =>
      }
      // pool ranges tile [first bin, last bin] in order
      assert(pools.head.bin_lo === 0L && pools.last.bin_hi === 11L)
      pools.sliding(2).foreach {
        case Seq(a, b) => assert(b.bin_lo > a.bin_hi)
        case _ =>
      }
    }
  }

  test("pavPools: exact past 2^63 products (web-corpus bin counts)") {
    // n ~ 4e12 rows per bin: pos*n cross products overflow a Long
    // multiply; the BigInt compare must still merge the strict violation
    val big = 4_000_000_000_000L
    val pools = Ranking.pavPools(Seq(
      (0L, big, big / 2L), (1L, big, big / 2L - 1L)))
    assert(pools.length === 1, "the 1-count violation must still merge")
    assert(pools.head.p_ppm === ((BigInt(1000000) * (big - 1L)) / (2L * big)).toLong)
  }

  test("pavPools rejects malformed bins") {
    intercept[IllegalArgumentException] { Ranking.pavPools(Seq((0L, 0L, 0L))) }
    intercept[IllegalArgumentException] { Ranking.pavPools(Seq((0L, 5L, 6L))) }
  }

  test("isotonicCalibrate: calibrated probability is monotone in the raw score") {
    val spark2 = spark
    import spark2.implicits._
    // a noisy-but-rising relationship: label rate grows with conf except
    // one inverted band the fit must pool away
    val rows = (0 until 400).map { i =>
      val conf = i * 2500L // 0 .. 997500 ppm
      val rate = if (i >= 150 && i < 200) 0.9 else i / 400.0
      (conf, if ((i * 2654435761L % 1000) < (rate * 1000).toLong) 1L else 0L)
    }
    val df = rows.toDF("conf", "y").repartition(3)
    val out = Ranking.isotonicCalibrate(df, col("conf"), col("y"), bins = 10)
      .select(col("conf"), col("calib_ppm")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.length === 400)
    out.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._2,
        s"calibration inverted between conf ${a._1} and ${b._1}")
      case _ =>
    }
    assert(out.map(_._2).distinct.length >= 2, "fit must not collapse to one rate")
  }

  test("isotonicCalibrate: fit on labeled data, serve unlabeled; gap bins step down") {
    val spark2 = spark
    import spark2.implicits._
    // fit observes only bins 2 (rate .5) and 7 (rate 1.0); serving rows
    // land in bins 0 (below the first pool -> first pool's rate),
    // 4 (gap -> nearest pooled bin below = bin 2's rate) and 9 (above
    // the last pool -> its rate)
    val fit = Seq((250000L, 0L), (250000L, 1L), (750000L, 1L), (750000L, 1L))
      .toDF("conf", "y")
    val serve = Seq(50000L, 450000L, 950000L).toDF("conf")
    val out = Ranking.isotonicCalibrate(serve, col("conf"), col("y"),
        bins = 10, fitOn = Some(fit))
      .select("conf", "calib_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(50000L -> 500000L, 450000L -> 500000L,
      950000L -> 1000000L))
    // in-sample serve reproduces the pool rates exactly
    val fitted = Ranking.isotonicCalibrate(fit, col("conf"), col("y"), bins = 10)
      .select("conf", "calib_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fitted(250000L) === 500000L && fitted(750000L) === 1000000L)
  }

  test("calibratedFuse: sums per-list probabilities, missing contributes nothing") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq((1L, 10L, 700000L), (1L, 20L, 400000L))
      .toDF("query_id", "doc_id", "calib_ppm")
    val b = Seq((1L, 20L, 500000L), (1L, 30L, 600000L))
      .toDF("query_id", "doc_id", "calib_ppm")
    val out = Ranking.calibratedFuse(Seq(a, b), "doc_id", topK = 5)
      .select("doc_id", "fused_ppm", "n_lists", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (20L, 900000L, 2L, 1L), // 400000 + 500000, two lists
      (10L, 700000L, 1L, 2L),
      (30L, 600000L, 1L, 3L)))
  }
}
