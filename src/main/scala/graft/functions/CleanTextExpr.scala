package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization + control-character strip — the first text
  * transform of a crawl-ingest pipeline (the same cleanup CCNet/Dolma run
  * before any hashing, so that byte-different but canonically-equal
  * documents dedup together). Spark has no built-in normalizer; a Scala
  * UDF would break whole-stage codegen on the hottest full-corpus scan, so
  * this is a native expression like the signature kernels.
  *
  * Semantics (engine-portable, DuckDB oracle
  * `regexp_replace(nfc_normalize(s), '[:ctrl-class:]', '', 'g')`):
  *
  *   1. canonical composition (NFC) — `e + U+0301` becomes `é`, singleton
  *      compatibility is NOT applied (NFC, not NFKC: ligatures and width
  *      variants are meaningful content);
  *   2. strip C0 controls except `\t` `\n` `\r`, plus DEL and the C1 range
  *      U+0080–U+009F (mojibake debris from mis-decoded windows-1252).
  *
  * Invalid UTF-8 input follows the repo-wide kernel policy: bytes are
  * decoded with U+FFFD replacement (the `UTF8String.toString` path), so the
  * output is always valid UTF-8. Normalization itself needs the decoded
  * form anyway — this kernel is the one place a byte-level walk would buy
  * nothing, since NFC is defined on code points.
  *
  * Scale: map-side only, linear in corpus bytes, inside whole-stage
  * codegen. The fast path (already-NFC, no controls — i.e. nearly every
  * real document) allocates nothing: `Normalizer.isNormalized` is a scan,
  * and the control check rides the same pass.
  */
case class CleanTextExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    CleanText.clean(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CleanText.clean($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_clean_text"
}

object CleanTextExpr {
  /** Column-level entry point: `clean_text($"text")`.
    * Plans as `graft_clean_text`. */
  def clean_text(c: Column): Column =
    GraftColumnBridge.column(CleanTextExpr(GraftColumnBridge.expression(c)))
}

object CleanText {

  /** True for the characters the cleaner strips: C0 minus `\t\n\r`, DEL,
    * and C1. Everything ≥ U+00A0 passes — one comparison on the hot path. */
  @inline private def stripped(c: Char): Boolean =
    if (c >= 0xA0) false
    else (c < 0x20 && c != '\t' && c != '\n' && c != '\r') || (c >= 0x7F)

  /** Static kernel shared by interpreted eval and generated code. */
  def clean(value: UTF8String): UTF8String = {
    val raw = value.toString // invalid UTF-8 -> U+FFFD (repo kernel policy)
    // fast path: valid, already NFC, control-free -> return the input as-is
    // (the isValid gate keeps the "output is always valid UTF-8" promise:
    // invalid inputs must go through the U+FFFD-replacing rebuild below)
    var hasCtrl = false
    var i = 0
    val n = raw.length
    while (i < n && !hasCtrl) { if (stripped(raw.charAt(i))) hasCtrl = true; i += 1 }
    if (!hasCtrl && value.isValid && Normalizer.isNormalized(raw, Normalizer.Form.NFC))
      return value
    val nfc = Normalizer.normalize(raw, Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var j = 0
    while (j < nfc.length) {
      val c = nfc.charAt(j)
      if (!stripped(c)) sb.append(c)
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
