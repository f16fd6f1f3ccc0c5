package graft.functions

import graft.SparkSpec
import graft.ops.ext.TextStats
import org.apache.spark.sql.functions._

class MisraGriesAggSpec extends SparkSpec {

  private def docs = {
    val spark2 = spark
    import spark2.implicits._
    // source A: "alpha" is 6/12 of the stream (> 1/3 at k=2); source B:
    // "beta" is 5/9 (> 1/3); nothing else crosses 1/(k+1) per group.
    Seq(
      ("A", "alpha alpha alpha noise1 noise2 alpha"),
      ("A", "alpha noise3 noise4 noise5 alpha x1"),
      ("B", "beta beta gamma gamma beta x2"),
      ("B", "beta beta y1")
    ).toDF("source", "text")
  }

  test("per-group heavy hitters: exact threshold set per group") {
    val spark2 = spark
    import spark2.implicits._
    val out = TextStats.heavyHittersBy(docs, col("text"), Seq("source"), k = 2)
      .orderBy("source", "token")
      .as[(String, String, Long)].collect().toSeq
    assert(out === Seq(("A", "alpha", 6L), ("B", "beta", 5L)))
  }

  test("single constant group equals the flat heavyHitters operator") {
    val spark2 = spark
    import spark2.implicits._
    val flat = TextStats.heavyHitters(docs, col("text"), k = 3)
      .as[(String, Long)].collect().toSet
    val grouped = TextStats
      .heavyHittersBy(docs.withColumn("g", lit(1)), col("text"), Seq("g"), k = 3)
      .select("token", "cnt").as[(String, Long)].collect().toSet
    assert(grouped === flat)
  }

  test("sketch merge keeps the superset guarantee under adversarial partitioning") {
    val spark2 = spark
    import spark2.implicits._
    // 400 rows of a token that is 50% of the stream, spread over many
    // partitions so partial sketches MUST merge; candidates may contain
    // extras but can never miss the majority token
    val rows = (1 to 400).map(i =>
      if (i % 2 == 0) ("g", "hot") else ("g", s"cold$i"))
    val tok = rows.toDF("g", "token").repartition(16)
    val cands = tok.groupBy("g")
      .agg(MisraGriesAgg.mg_candidates(col("token"), 3).as("c"))
      .select(explode(col("c"))).as[String].collect()
    assert(cands.contains("hot"), s"majority token missing from $cands")
    assert(cands.length <= 3)
  }

  test("mg_candidates partial-aggregates (ObjectHashAggregate)") {
    val spark2 = spark
    import spark2.implicits._
    val agg = docs
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy("source")
      .agg(MisraGriesAgg.mg_candidates(col("token"), 2).as("c"))
    val byGroup = agg.as[(String, Seq[String])].collect().toMap
    assert(byGroup("A").contains("alpha") && byGroup("B").contains("beta"))
    // the typed aggregate plans as ObjectHashAggregate with a partial
    // stage — per-task sketches fold map-side, only <= k-entry sketches
    // cross the shuffle
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("heavyHittersBy keeps NULL group keys (null-safe confirm join)") {
    val spark2 = spark
    import spark2.implicits._
    val withNull = Seq(
      (Some("A"), "alpha alpha alpha x1 y1 alpha"),
      (None, "ghost ghost ghost z1 z2 ghost"),
      (None, "ghost w1")
    ).toDF("source", "text")
    val out = TextStats.heavyHittersBy(withNull, col("text"), Seq("source"), k = 2)
      .as[(Option[String], String, Long)].collect().toSet
    // the NULL group's majority token must survive the confirm join
    assert(out.contains((None, "ghost", 5L)), out)
    assert(out.contains((Some("A"), "alpha", 4L)), out)
  }

  test("heavyHittersBy plan shape: one sketch pass, broadcast candidate confirm") {
    val spark2 = spark
    import spark2.implicits._
    val plan = TextStats
      .heavyHittersBy(docs.repartition(2), col("text"), Seq("source"), k = 2)
      .queryExecution.sparkPlan.toString
    // the sketch phase is the typed aggregate (ObjectHashAggregate with a
    // map-side partial stage), planned ONCE — group totals ride the
    // candidate rows instead of re-referencing the sketch frame
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2, plan) // partial+final
    assert("graft_mg_candidates".r.findAllIn(
      plan.replace("partial_graft_mg_candidates", "P")).length <= 2, plan)
    // the confirm join broadcasts the <= k x groups candidate frame; the
    // corpus token stream is never on the build side of anything
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("mistyped token column fails analysis, not execution") {
    val spark2 = spark
    import spark2.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, 2)).toDF("g", "t").groupBy("g")
        .agg(MisraGriesAgg.mg_candidates(col("t"), 2)).collect()
    }
    assert(e.getMessage.contains("string token column"), e.getMessage)
  }
}
