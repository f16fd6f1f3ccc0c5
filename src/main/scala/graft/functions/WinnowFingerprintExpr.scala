package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprint (the MOSS local fingerprinting
  * algorithm, Schleimer/Wilkerson/Aiken 2003): hash every `k`-char
  * shingle, slide a window of `w` consecutive shingle hashes, keep the
  * minimum of each window — the resulting small, position-robust hash set
  * has the guarantee that any two documents sharing a substring of at
  * least `w + k - 1` characters share at least one fingerprint value.
  *
  * This expression returns the SORTED DISTINCT window-min values (an
  * `array<bigint>` of unsigned-32 hashes) — the set form both engines can
  * agree on regardless of tie positions. Null for texts with fewer than
  * `w + k - 1` characters (no full window).
  *
  * Shingle hashing matches the rest of the family:
  * `conv(substring(md5(substr(text, i, k)), 1, 8), 16, 10)` — raw-byte
  * code-point walk like [[ShingleMinhash]] (the `substr`-equivalent path).
  * The per-window minimum is a monotonic-deque sliding minimum — O(m)
  * total regardless of `w`, so large-window fingerprinting (sparser
  * fingerprints per document) costs the same as w = 8.
  *
  * Scale: map-side only, linear in corpus bytes — near-dup candidate
  * generation then joins on exploded fingerprint values (short int keys),
  * the same bucketed-join shape as MinHash LSH with a different
  * recall/precision trade (substring-match guarantee vs set-similarity
  * probability).
  */
case class WinnowFingerprintExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(k >= 1, s"shingle size k must be >= 1, got $k")
  require(w >= 1, s"window size w must be >= 1, got $w")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true // null for short texts too

  override protected def nullSafeEval(input: Any): Any =
    Winnow.eval(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.Winnow.eval($c, $k, $w);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow"
}

object WinnowFingerprintExpr {
  /** Column-level entry point: `winnow($"text", k = 5, w = 8)`.
    * Plans as `graft_winnow`. */
  def winnow(c: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(WinnowFingerprintExpr(GraftColumnBridge.expression(c), k, w))
}

/** Static kernel shared by interpreted eval and generated code. */
object Winnow {

  /** Sorted distinct window-min shingle hashes, or null when the text has
    * fewer than `w` full shingles. */
  def eval(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val (offsets, count) = ShingleMinhash.codePointOffsets(bytes)
    val m = count - k + 1 // number of shingles
    if (m < w) return null

    val md = Md5Kernel.md
    val digest = new Array[Byte](16)
    val h = new Array[Long](m)
    var s = 0
    while (s < m) {
      val from = offsets(s)
      md.update(bytes, from, offsets(s + k) - from)
      md.digest(digest, 0, 16)
      h(s) = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
        ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
      s += 1
    }

    // Sliding-window minimum via monotonic deque: O(m) for any w (each
    // index is pushed and popped at most once), vs the naive O(m·w) rescan.
    // Only the min VALUE enters the distinct set, so tie handling is
    // irrelevant to the result. The deque holds indices of a strictly
    // increasing run of hash values; front is the current window's min.
    val fp = new java.util.TreeSet[java.lang.Long]()
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0 // live entries are dq(head until tail)
    var i = 0
    while (i < m) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) fp.add(h(dq(head)))
      i += 1
    }
    val out = new Array[Any](fp.size)
    var o = 0
    val it = fp.iterator()
    while (it.hasNext) { out(o) = it.next().longValue; o += 1 }
    new GenericArrayData(out)
  }
}
