package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Intersection SIZE of two SORTED long arrays by linear merge walk — the
  * per-pair hot loop of the LSH-prefiltered Jaccard join
  * ([[graft.ops.ext.Dedup.lshJaccardPairs]]).
  *
  * `array_intersect` builds a hash set from one side PER ROW — in a pair
  * join that's one allocation + rehash per CANDIDATE PAIR, and the
  * intersected ARRAY it returns is materialized only to be measured with
  * `size`. With both sides sorted once per DOCUMENT (below the join), the
  * per-pair cost collapses to an allocation-free two-pointer walk
  * producing the count directly.
  *
  * Inputs MUST be sorted ascending and duplicate-free (the caller sorts
  * its distinct [[TokenHashSetExpr]] sets); unsorted input silently
  * undercounts — this is an internal engine primitive, not a general
  * array function.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(LongType, containsNull = false), ArrayType(LongType, containsNull = false))

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersect.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedIntersect.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_intersect_count"
}

object SortedIntersectCountExpr {
  /** Column-level entry point: `sorted_intersect_count($"a", $"b")`.
    * Plans as `graft_sorted_intersect_count`. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCountExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}

object SortedIntersect {
  /** Two-pointer merge count over sorted, duplicate-free long arrays. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
