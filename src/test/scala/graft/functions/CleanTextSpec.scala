package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class CleanTextSpec extends SparkSpec {

  private def cleanStr(s: String): String =
    CleanText.clean(UTF8String.fromString(s)).toString

  test("NFC composition: decomposed accents, singletons, Hangul jamo") {
    // e + combining acute -> é
    assert(cleanStr("café") === "café")
    // U+212B ANGSTROM SIGN is an NFC singleton -> U+00C5
    assert(cleanStr("Å") === "Å")
    // Hangul L+V+T jamo compose to a precomposed syllable (가 + ㄱ = 각)
    assert(cleanStr("각") === "각")
    // already-NFC text is untouched (including precomposed é)
    assert(cleanStr("café déjà") === "café déjà")
    // NFC, not NFKC: the ﬁ ligature and fullwidth chars survive
    assert(cleanStr("ﬁle Ａ") === "ﬁle Ａ")
  }

  test("control strip: C0 minus tab/newline/CR, DEL, C1") {
    assert(cleanStr("abc") === "abc")
    assert(cleanStr("keep\tthese\nthree\rchars") === "keep\tthese\nthree\rchars")
    assert(cleanStr("vtffdel") === "vtffdel")
    // C1 range (mojibake debris) goes; U+00A0 nbsp and above stay
    assert(cleanStr("xyz w") === "xyz w")
    assert(cleanStr("") === "")
    assert(cleanStr("") === "")
  }

  test("fast path returns the input object unchanged for clean NFC text") {
    val in = UTF8String.fromString("already clean ascii text")
    assert(CleanText.clean(in) eq in)
  }

  test("invalid UTF-8 input is U+FFFD-replaced, output always valid") {
    // 0xC3 alone is a truncated two-byte sequence
    val bad = UTF8String.fromBytes(Array[Byte]('a'.toByte, 0xC3.toByte, 'b'.toByte))
    assert(!bad.isValid)
    val out = CleanText.clean(bad)
    assert(out.isValid)
    assert(out.toString === "a�b")
  }

  test("DataFrame path: codegen'd expression, null passthrough") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      Some("café ok"), Some("plain"), None
    ).toDF("text")
    val got = df.select(CleanTextExpr.clean_text(col("text")).as("c"))
      .as[Option[String]].collect()
    assert(got.toSeq === Seq(Some("café ok"), Some("plain"), None))
    // the kernel call sits inside whole-stage codegen (no UDF boundary) —
    // over a non-local source (a local Seq constant-folds to LocalTableScan)
    val ranged = spark.range(4)
      .select(CleanTextExpr.clean_text(concat(lit("x́ "), col("id"))).as("c"))
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_clean_text"), plan)
    assert(ranged.as[String].collect().forall(_.startsWith("x́ ")))
  }
}
