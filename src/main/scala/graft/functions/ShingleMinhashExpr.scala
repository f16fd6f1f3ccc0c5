package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing the character-shingle MinHash pair
  * of a text column in ONE generated loop:
  * `text -> struct<a: string, b: string>` where `a`/`b` are the minima of
  * the first/last 16 hex chars of `md5(shingle)` over all `n`-char
  * shingles of the text.
  *
  * Semantically identical to the composable interpreted form
  * `Dedup.minhashPair(Dedup.shingles(text, n))` (masked to null for texts
  * shorter than `n` characters) and to the DuckDB oracle
  * `list_min(list_transform(shingles, x -> substr(md5(x), 1, 16)))`:
  * lexicographic order on 16 lowercase-hex chars equals unsigned numeric
  * order on the corresponding 64-bit half of the digest, so the kernel
  * tracks two unsigned-long minima and hex-formats them once at the end.
  *
  * Why this exists: Spark's higher-order array functions
  * (`transform`/`aggregate`) are interpreted, not codegen'd — the
  * composable form allocates a `UTF8String` per shingle, evaluates one
  * interpreted md5 `Expression` tree per shingle, and boxes the fold
  * accumulator per step. At one shingle per character position of every
  * document this dominated the round-1 bench (88.9s of 210s at sf0.1).
  * This expression does the same math as a static JVM loop over the
  * text's UTF-8 bytes inside whole-stage codegen: no per-shingle
  * allocation beyond the digest, no interpreted expression trees.
  *
  * Scale: map-side only, no shuffle — cost is linear in total corpus
  * characters, the floor for any shingle-based signature.
  */
case class ShingleMinhashExpr(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  // analysis-time coercion/type error instead of a Janino compile failure
  // at runtime
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("a", StringType, nullable = true),
    StructField("b", StringType, nullable = true)))

  // null for null input AND for texts shorter than n characters
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ShingleMinhash.eval(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.ShingleMinhash.eval($c, $n);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_shingle_minhash"
}

object ShingleMinhashExpr {
  /** Column-level entry point: `shingle_minhash($"text", 5)`. Plans as
    * `graft_shingle_minhash`. */
  def shingle_minhash(c: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleMinhashExpr(GraftColumnBridge.expression(c), n))
}

/** Static kernel shared by interpreted eval and generated code.
  *
  * Operates on RAW text bytes (no U+FFFD normalization, unlike
  * [[TokenHash]]): the interpreted counterpart is `substr`, which walks
  * UTF8String bytes directly via `numBytesForFirstByte`. */
object ShingleMinhash {

  /** UTF-8 encoded length of the code point starting with this lead byte —
    * delegated to `UTF8String.numBytesForFirstByte` so the walk agrees
    * with Spark's own `substr` even on malformed lead bytes (a hand-rolled
    * table previously treated continuation bytes as 2-byte leads and would
    * silently diverge from the interpreted form on invalid UTF-8). */
  private def charLen(lead: Byte): Int = UTF8String.numBytesForFirstByte(lead)

  /** Code-point start offsets of `bytes` plus an end sentinel: shingle s of
    * width n covers the byte range [offsets(s), offsets(s+n)) — exactly the
    * UTF-8 bytes of the n-char substring, so an md5 over the range matches
    * `md5(substr(text, s+1, n))`. Returns (offsets, codePointCount). */
  private[functions] def codePointOffsets(bytes: Array[Byte]): (Array[Int], Int) = {
    val numBytes = bytes.length
    val offsets = new Array[Int](numBytes + 1)
    var count = 0
    var i = 0
    while (i < numBytes) {
      offsets(count) = i
      count += 1
      i += charLen(bytes(i))
    }
    offsets(count) = numBytes
    (offsets, count)
  }

  /** Returns `struct<a, b>` of the two 16-hex-char minima, or null when
    * the text has fewer than `n` code points (so shingle count is zero —
    * the same rows the interpreted form null-masks). */
  def eval(text: UTF8String, n: Int): InternalRow = {
    val bytes = text.getBytes
    val (offsets, count) = codePointOffsets(bytes)
    if (count < n) return null

    val md = Md5Kernel.md
    val digest = new Array[Byte](16)
    var minA = 0L
    var minB = 0L
    var s = 0
    val last = count - n
    while (s <= last) {
      val from = offsets(s)
      md.update(bytes, from, offsets(s + n) - from)
      md.digest(digest, 0, 16) // completes AND resets the digest
      val a = Md5Kernel.beLong(digest, 0)
      val b = Md5Kernel.beLong(digest, 8)
      if (s == 0 || java.lang.Long.compareUnsigned(a, minA) < 0) minA = a
      if (s == 0 || java.lang.Long.compareUnsigned(b, minB) < 0) minB = b
      s += 1
    }
    new GenericInternalRow(Array[Any](Md5Kernel.hex16(minA), Md5Kernel.hex16(minB)))
  }
}
