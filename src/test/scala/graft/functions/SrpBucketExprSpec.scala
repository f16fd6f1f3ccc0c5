package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.ops.ext.Similarity

/** [[SrpBucketExpr]] — the interpreted-vs-codegen discipline for the SRP
  * bucket kernel: bit-equality against the interpreted tree it replaced
  * ([[Similarity.srpBucketInterpreted]] — the exact form every DuckDB
  * oracle replays), across float and double arrays, negatives, zeros,
  * empties, nulls, null elements, NaN and ±Infinity.
  */
class SrpBucketExprSpec extends SparkSpec {

  private def compare(schemaElem: DataType, vecs: Seq[Any], planes: Int): Unit = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("vec", ArrayType(schemaElem, containsNull = true), nullable = true)))
    val rows = vecs.zipWithIndex.map { case (v, i) => Row(i, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 2), schema)
    val out = df.select(col("id"),
        Similarity.srpBucket(col("vec"), planes).as("k"),
        Similarity.srpBucketInterpreted(col("vec"), planes).as("f"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (id, k, f) =>
      assert(k === f, s"row $id (${vecs(id)}): kernel $k != interpreted $f")
    }
  }

  test("kernel == interpreted on double arrays incl. NaN/Inf/-0.0/null-element") {
    val rnd = new scala.util.Random(11)
    val random = (0 until 40).map(_ =>
      Seq.fill(1 + rnd.nextInt(20))(rnd.nextGaussian()))
    val edge: Seq[Any] = Seq(
      Seq(0.0, 0.0), Seq(-0.0, -0.0), Seq(1.0), Seq(-1.0),
      Seq.empty[Double], null,
      Seq[Any](1.0, null, 2.0), // null element -> bucket 0
      Seq(Double.NaN, 1.0), // NaN poisons every plane -> all bits per Spark's nan-safe >=
      Seq(Double.PositiveInfinity, Double.NegativeInfinity), // per-plane Inf-Inf=NaN or ±Inf
      Seq(Double.MaxValue, Double.MaxValue), // overflow to +Inf in the sum
      Seq(1e-320, -1e-320)) // subnormals
    compare(DoubleType, random ++ edge, planes = 8)
    compare(DoubleType, random, planes = 1)
    compare(DoubleType, random, planes = 63)
  }

  test("kernel == interpreted on float arrays (per-element widening)") {
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 40).map(_ =>
      Seq.fill(1 + rnd.nextInt(33))(rnd.nextFloat() * 2f - 1f)) ++
      Seq(Seq(Float.NaN), Seq(0.123f, -0.456f, Float.MaxValue))
    compare(FloatType, vecs, planes = 8)
  }

  test("deterministic across calls and sign-cache growth orders") {
    // probe a HIGH plane/dim first so the cache grows out of order, then
    // verify small shapes still agree with the interpreted tree
    val big = Seq(Seq.fill(100)(0.5), Seq.fill(3)(-0.25))
    compare(DoubleType, big, planes = 16)
    compare(DoubleType, Seq(Seq(1.0, -2.0)), planes = 2)
  }

  test("srp_bucket matches the interpreted tree and plans as a kernel") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(Seq(0.5f, -0.25f, 1.0f)).toDF("vec")
    val viaKernel = df.select(SrpBucketExpr.srp_bucket(col("vec"), 8).as("b"))
      .as[Long].head()
    val viaTree = df.select(Similarity.srpBucketInterpreted(col("vec"), 8).as("b"))
      .as[Long].head()
    assert(viaKernel === viaTree)
    // the similarity path plans the kernel, not the interpreted HOF tree
    val plan = df.select(Similarity.srpBucket(col("vec"), 8))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_srp_bucket"), plan)
  }

  test("non-numeric-array input is an analysis-time failure") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(Seq(1, 2, 3)).toDF("vec")
    val e = intercept[Exception] {
      df.select(Similarity.srpBucket(col("vec"), 4)).collect()
    }
    assert(e.getMessage.contains("array<float|double>") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
