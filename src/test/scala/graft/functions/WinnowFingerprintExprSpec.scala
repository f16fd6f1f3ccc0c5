package graft.functions

import graft.SparkSpec
import graft.ops.ext.Dedup
import org.apache.spark.sql.functions._

class WinnowFingerprintExprSpec extends SparkSpec {

  private val k = 5
  private val w = 8

  /** The composable interpreted reference form: shingle hashes via
    * `conv(substring(md5(shingle), 1, 8), 16, 10)`, window minima via
    * slice + array_min, then distinct + sort; null-masked when there are
    * fewer than w shingles. */
  private def interpretedForm: org.apache.spark.sql.Column = interpretedForm(k, w)

  private def interpretedForm(k: Int, w: Int) = {
    val h = transform(Dedup.shingles(col("text"), k),
      x => conv(substring(md5(x), 1, 8), 16, 10).cast("long"))
    val wins = transform(sequence(lit(1), greatest(size(h) - (w - 1), lit(1))),
      i => array_min(slice(h, i, lit(w))))
    when(size(h) >= w, array_sort(array_distinct(wins)))
  }

  test("matches the interpreted slice/array_min composition, nulls included") {
    val spark2 = spark
    import spark2.implicits._
    val inputs: Seq[String] = Seq(
      "",
      "short",
      "hello world, an ordinary document long enough to winnow",
      "héllo wörld ünïcode with enough further characters",
      "日本語のテキストですもっと長いテキストが必要です",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaa", // all-identical shingles -> 1 fp
      "x" * (w + k - 2), // one char short of the first full window -> null
      "x" * (w + k - 1), // exactly one full window
      null)
    val df = inputs.toDF("text")
    val interp = df.select(interpretedForm.as("fp")).as[Option[Seq[Long]]].collect()
    val kernel = df.select(WinnowFingerprintExpr.winnow(col("text"), k, w).as("fp"))
      .as[Option[Seq[Long]]].collect()
    assert(kernel.toSeq === interp.toSeq)
  }

  test("large windows (w = 64) match the interpreted form — deque minimum path") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic pseudo-random text long enough for many w=64 windows;
    // exercises the monotonic deque across ascending/descending hash runs
    // (the naive rescan and the deque must agree on every window's min)
    val rnd = new scala.util.Random(42)
    val long = (1 to 600).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val inputs: Seq[String] = Seq(
      long,
      long.take(64 + k - 2), // one short of a full window -> null
      long.take(64 + k - 1), // exactly one window
      "z" * 200) // all-identical shingles -> single fingerprint
    val df = inputs.toDF("text")
    val interp = df.select(interpretedForm(k, 64).as("fp")).as[Option[Seq[Long]]].collect()
    val kernel = df.select(WinnowFingerprintExpr.winnow(col("text"), k, 64).as("fp"))
      .as[Option[Seq[Long]]].collect()
    assert(kernel.toSeq === interp.toSeq)
  }

  test("documents sharing a long substring share a fingerprint value") {
    val spark2 = spark
    import spark2.implicits._
    // the winnowing guarantee: a common substring of >= w+k-1 chars forces
    // a shared window-min
    val shared = "this exact passage appears verbatim in both documents"
    val docs = Seq(
      (1L, s"prefix one ${shared} suffix alpha"),
      (2L, s"a completely different opening ${shared} and closing"),
      (3L, "unrelated content with no overlap whatsoever at all here")
    ).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        WinnowFingerprintExpr.winnow(col("text"), k, w).as("fp"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("winnowCandidatePairs surfaces substring-sharing documents once") {
    val spark2 = spark
    import spark2.implicits._
    val shared = "this exact passage appears verbatim in both documents"
    val docs = Seq(
      (1L, s"prefix one ${shared} suffix alpha"),
      (2L, s"a completely different opening ${shared} and closing"),
      (3L, "unrelated content with no overlap whatsoever at all here")
    ).toDF("doc_id", "text")
      .withColumn("_fp", WinnowFingerprintExpr.winnow(col("text"), k, w))
    val pairs = Dedup.winnowCandidatePairs(docs, "doc_id", col("_fp"))
      .as[(Long, Long)].collect().toSeq
    assert(pairs === Seq((1L, 2L))) // several shared fps -> ONE pair row
  }
}
