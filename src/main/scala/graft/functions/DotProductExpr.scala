package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Dot product of two numeric arrays as ONE codegen'd fold — the hot
  * loop of the whole similarity family ([[graft.ops.ext.Similarity]]):
  * brute-force cosine top-k, SRP bucketing, embedding near-dup, ANN
  * re-rank all evaluate a dot per candidate PAIR. The declarative form
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is an interpreted
  * higher-order chain that allocates the zipped array per pair and
  * boxes per element; this kernel is an allocation-free primitive loop.
  *
  * Semantics: elements are read as DOUBLE (float inputs widen per
  * element — the arithmetic every oracle performs via
  * `CAST(embedding AS DOUBLE[])`), products and the left-to-right sum
  * are double — bit-identical to the interpreted fold on
  * `array<double>` inputs. Null result when either array is null, the
  * lengths differ, or any element is null (`zip_with` pads the shorter
  * side with null and a null poisons the interpreted fold — same
  * outcome).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => t
    case other => throw new IllegalArgumentException(
      s"graft_dot: needs array<float|double>, got $other")
  }

  /** A mistyped call (e.g. `graft_dot` over `array<int>`) must surface as
    * an AnalysisException with this message, not a raw internal throw from
    * [[elemType]] during analysis (round-9 advice). Integer arrays are
    * rejected rather than silently cast: the caller decides the widening
    * (and pays its allocation) explicitly via `cast("array<double>")`. */
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float|double> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val leftFloat = elemType(left) == FloatType
  private lazy val rightFloat = elemType(right) == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dotOrNull(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
      java.lang.Double ${ev.value}_r = graft.functions.DotProduct.dotOrNull(
        $a, $b, $leftFloat, $rightFloat);
      if (${ev.value}_r == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = ${ev.value}_r.doubleValue();
      }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

object DotProductExpr {
  /** Column-level entry point; plans as `graft_dot`. */
  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}

object DotProduct {
  /** Left-to-right double fold; null (boxed) on length mismatch or any
    * null element — mirroring the zip_with/aggregate null semantics. */
  def dotOrNull(
      a: ArrayData, b: ArrayData,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
