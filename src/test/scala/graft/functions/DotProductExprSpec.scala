package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DotProductExprSpec extends SparkSpec {

  /** The interpreted fold the kernel replaced — kept here as the
    * bit-equivalence reference. */
  private def interpDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  test("kernel is bit-identical to the interpreted double fold") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic pseudo-random float vectors incl. negatives, tiny and
    // large magnitudes; summation order matters so values must be varied
    def vec(seed: Int, n: Int): Seq[Float] =
      (0 until n).map(i => (((seed * 31 + i) * 2654435761L % 2001) - 1000) / 7.0f)
    val rows = (0 until 50).map(i => (vec(i, 64), vec(i + 1, 64))) ++
      Seq((Seq(0.1f), Seq(0.2f)), (Seq.empty[Float], Seq.empty[Float]))
    val df = rows.toDF("a", "b")
    val out = df.select(
      DotProductExpr.dot_product(col("a"), col("b")).as("k"),
      interpDot(col("a"), col("b")).as("i"))
      .as[(Option[Double], Option[Double])].collect()
    out.foreach { case (k, i) => assert(k === i) } // exact, not approx
    // double-array inputs too
    val dd = df.select(col("a").cast("array<double>").as("a"),
      col("b").cast("array<double>").as("b"))
    val out2 = dd.select(
      DotProductExpr.dot_product(col("a"), col("b")).as("k"),
      interpDot(col("a"), col("b")).as("i"))
      .as[(Option[Double], Option[Double])].collect()
    out2.foreach { case (k, i) => assert(k === i) }
  }

  test("null semantics match zip_with padding: mismatch/null element/null array") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f)))),        // length mismatch
      (Some(Seq(Some(1.0f), None)), Some(Seq(Some(3.0f), Some(4.0f)))),  // null element
      (None, Some(Seq(Some(1.0f)))),                                     // null array
      (Some(Seq(Some(2.0f))), Some(Seq(Some(4.0f))))                     // clean
    ).toDF("a", "b")
    val out = df.select(
      DotProductExpr.dot_product(col("a"), col("b")).as("k"),
      interpDot(col("a"), col("b")).as("i"))
      .as[(Option[Double], Option[Double])].collect()
    assert(out.toSeq === Seq(
      (None, None), (None, None), (None, None), (Some(8.0), Some(8.0))))
  }

  test("dot_product is exact; Similarity.dot plans it, not zip_with") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(DotProductExpr.dot_product(col("a"), col("b")).as("d"))
      .as[Double].head() === 11.0)
    // the similarity path now plans the kernel, not the interpreted HOF
    val plan = df.select(graft.ops.ext.Similarity.dot(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_dot"), plan)
    assert(!plan.contains("zip_with"), plan)
  }

  test("mistyped call fails analysis as AnalysisException, not an internal throw") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(DotProductExpr.dot_product(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("array<float|double>"), e.getMessage)
  }
}
