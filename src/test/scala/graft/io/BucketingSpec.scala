package graft.io

import graft.SparkSpec
import graft.ops.Skew
import org.apache.spark.sql.functions.col

class BucketingSpec extends SparkSpec {

  test("bucketed join plans without any shuffle exchange") {
    val spark2 = spark
    import spark2.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val facts = (1 to 100).map(i => (i.toLong % 10, s"f$i")).toDF("k", "payload")
      val dims = (0 to 9).map(i => (i.toLong, s"d$i")).toDF("k", "name")
      Bucketing.writeBucketed(facts, "graft_facts", "k", 4)
      Bucketing.writeBucketed(dims, "graft_dims", "k", 4)
      val joined = spark.table("graft_facts").join(spark.table("graft_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() === 100)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_facts")
      spark.sql("DROP TABLE IF EXISTS graft_dims")
    }
  }

  test("recurring LSH dedup: self-join over a bucketed signature table has no Exchange") {
    val spark2 = spark
    import spark2.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      // the recurring-dedup layout: persist (id, band) bucketed+sorted by
      // band once at signature time; every later candidate-pair run then
      // self-joins with zero shuffle — at 100 TB this removes the one
      // remaining Exchange from the whole dedup pipeline
      val sig = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z")).toDF("doc_id", "band")
      Bucketing.writeBucketed(sig, "graft_sig", "band", 4)
      val t = spark.table("graft_sig")
      val l = t.select(col("band"), col("doc_id").as("id_a"))
      val r = t.select(col("band"), col("doc_id").as("id_b"))
      val pairs = l.join(r, Seq("band"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(pairs.as[(Long, Long)].collect().toSeq === Seq((1L, 2L)))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_sig")
    }
  }

  test("salted join produces the same result as a plain join") {
    val spark2 = spark
    import spark2.implicits._
    // skewed: 90% of rows share key 1
    val large = (1 to 200).map(i => (if (i <= 180) 1L else i.toLong, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (190L, "cold")).toDF("k", "name")
    val plain = large.join(small, "k").select("k", "v", "name")
    val salted = Skew.saltedJoin(large, small, "k", factor = 4, entropyCols = Seq("v"))
      .select("k", "v", "name")
    assert(salted.collect().sortBy(r => (r.getLong(0), r.getInt(1))) ===
      plain.collect().sortBy(r => (r.getLong(0), r.getInt(1))))
  }
}
