package graft.functions

import graft.SparkSpec
import graft.ops.ext.Dedup
import org.apache.spark.sql.functions._

class ShingleMinhashExprSpec extends SparkSpec {

  // edge cases: empty, shorter-than-n, exactly-n, multi-byte UTF-8 (2-, 3-
  // and 4-byte code points shift the byte offsets of every later shingle),
  // repeated content, whitespace
  private val inputs: Seq[String] = Seq(
    "",
    "abcd",
    "abcde",
    "abcdef",
    "hello world, a perfectly ordinary document",
    "héllo wörld ünïcode",
    "日本語のテキストです",
    "emoji 😀 inside 🎉 text",
    "aaaaaaaaaaaaaaaaaaaa",
    "  leading and trailing  ",
    null)

  /** The composable interpreted reference form (round-1 q41 shape). */
  private def interpretedForm = {
    val mask = when(length(col("text")) >= 5, lit(""))
      .otherwise(lit(null).cast("string"))
    Seq(
      concat(Dedup.minhashPair(Dedup.shingles(col("text"), 5)).getField("a"), mask).as("a"),
      concat(Dedup.minhashPair(Dedup.shingles(col("text"), 5)).getField("b"), mask).as("b"))
  }

  test("matches the interpreted minhashPair∘shingles composition, nulls included") {
    val spark2 = spark
    import spark2.implicits._
    val df = inputs.toDF("text")
    val got = df
      .select(ShingleMinhashExpr.shingle_minhash(col("text"), 5).as("m"))
      .select(col("m.a"), col("m.b")).as[(Option[String], Option[String])].collect()
    val want = df.select(interpretedForm: _*)
      .as[(Option[String], Option[String])].collect()
    inputs.zip(got).zip(want).foreach { case ((in, g), w) =>
      assert(g === w, s"for input <$in>")
    }
  }

  test("matches on real documents at sf0.001") {
    val spark2 = spark
    import spark2.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = docs
      .select(col("doc_id"), ShingleMinhashExpr.shingle_minhash(col("text"), 5).as("m"))
      .select(col("doc_id"), col("m.a"), col("m.b"))
      .orderBy(col("doc_id"))
      .as[(Long, Option[String], Option[String])].collect()
    val want = docs.select((col("doc_id") +: interpretedForm): _*)
      .orderBy(col("doc_id"))
      .as[(Long, Option[String], Option[String])].collect()
    assert(got.length > 0)
    assert(got === want)
  }

  test("stays inside whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select(ShingleMinhashExpr.shingle_minhash(col("n_name"), 3).as("m"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_shingle_minhash"), plan)
    assert(df.count() === 25)
  }
}
