package graft.ops

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class StatsSpec extends SparkSpec {

  test("perLanguage + withEnRollup folds datasets into a wide rollup table") {
    val spark2 = spark
    import spark2.implicits._
    val d1 = Seq(("de"), ("de"), ("en-zh")).toDF("lang")
    val d2 = Seq(("fr"), ("en-zh"), ("en-de")).toDF("lang")
    val wide = Stats.withEnRollup(
      Stats.perLanguage(spark, Seq("a" -> d1, "b" -> d2)))
    val rows = wide.collect().map(r => (r.getString(0),
      Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(rows === Seq(
      ("de", Some(2L), None),
      ("en-*", Some(1L), Some(2L)),
      ("fr", None, Some(1L))))
  }

  test("groupQuantiles selects the floor(p·(n−1))+1 rank per group") {
    val spark2 = spark
    import spark2.implicits._
    val df = ((1 to 10).map(v => ("a", v)) :+ (("b", 42))).toDF("g", "v")
    val out = Stats.groupQuantiles(df, col("g"), col("v"),
        Seq(0.25, 0.5, 0.75, 0.9))
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    // a: n=10 -> ranks floor(p·9)+1 = 3,5,7,9 -> values 3,5,7,9
    assert(out(0) === (("a", 3L, 5L, 7L, 9L)))
    // b: n=1 -> every quantile is the single value
    assert(out(1) === (("b", 42L, 42L, 42L, 42L)))
    // partition-layout independence (the determinism claim)
    val re = Stats.groupQuantiles(df.repartition(7), col("g"), col("v"),
        Seq(0.25, 0.5, 0.75, 0.9))
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(re.toSeq === out.toSeq)
  }

  test("madOutliers: robust census incl. the MAD=0 degenerate group") {
    val spark2 = spark
    import spark2.implicits._
    val df = (Seq(1, 2, 3, 4, 100).map(("a", _)) ++
      Seq(5, 5, 5, 9).map(("b", _))).toDF("g", "v").repartition(3)
    val out = Stats.madOutliers(df, col("g"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // a: med = 3 (rank 3 of 5), devs {2,1,0,1,97} -> mad = 1 (rank 3);
    //    outlier iff dev·1000 > 3500·1 -> only the 100
    // b: med = 5 (rank 2 of 4), devs {0,0,0,4} -> mad = 0 (rank 2);
    //    MAD=0 degenerate: ANY deviation flags -> the 9
    assert(out === Seq(("a", 3L, 1L, 5L, 1L), ("b", 5L, 0L, 4L, 1L)))
    // layout independence of the two-pass rank selection
    val re = Stats.madOutliers(df.repartition(7), col("g"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(re === out)
  }
}
