package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Signed-random-projection bucket id as ONE codegen'd loop — the
  * candidate-generation key of the whole embedding near-dup / bucketed
  * ANN family ([[graft.ops.ext.Similarity.srpBucket]] call sites: q37's
  * bucket table, q40/q66/q171's near-dup prefilters).
  *
  * The interpreted form evaluates, PER ROW, `planes` zip_with+aggregate
  * folds — and inside them an md5 expression tree per (plane, dim) just
  * to derive the ±1 hyperplane sign that is a CONSTANT of (plane, dim):
  * 8 planes × 16 dims = 128 interpreted md5 evaluations per row. The
  * kernel computes each sign once into a lazily-grown static table
  * ([[SrpBucket.signs]]) and folds the projection as a primitive loop.
  *
  * Bit-equal to the interpreted expression (spec-held in
  * SimilarityKernelSpec):
  *  - signs: `conv(substring(md5("p<plane>:<dim>"), 1, 4), 16, 10) % 2`
  *    = the parity of the digest's SECOND byte;
  *  - per-plane projection: left-to-right double sum of ±element
  *    (float elements widen per element; `x * -1.0` is an exact sign
  *    flip, so conditional negation matches the multiply);
  *  - bit rule: Spark's nan-safe `proj >= 0` — true for NaN (Spark
  *    orders NaN above every double) and for -0.0;
  *  - null handling: an EMPTY array (its `sequence(0, -1)` zip pads
  *    null) and any NULL element poison every plane's fold to null,
  *    whose `when(...).otherwise(0)` yields bucket 0 — the kernel
  *    returns 0L for both. A NULL ARRAY yields bucket 0 on the
  *    interpreted tree too; this expression propagates null like every
  *    UnaryExpression, and the [[srp_bucket]] entry point restores the
  *    contract with a `coalesce(..., 0L)` — which also pins the output
  *    non-nullable, matching the interpreted sum-of-whens.
  */
case class SrpBucketExpr(child: Expression, planes: Int)
    extends UnaryExpression {

  require(planes >= 1 && planes <= 63,
    s"graft_srp_bucket: planes must be in [1, 63], got $planes")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double>, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any =
    SrpBucket.bucket(input.asInstanceOf[ArrayData], isFloat, planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SrpBucket.bucket($c, $isFloat, $planes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_srp_bucket"
}

object SrpBucketExpr {
  /** Column-level entry point: `srp_bucket($"vec", 8)` — coalesced to 0L
    * so a null vector buckets to 0 exactly like the interpreted tree
    * (see the null-handling note above). */
  def srp_bucket(c: Column, planes: Int): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftColumnBridge.column(SrpBucketExpr(GraftColumnBridge.expression(c), planes)),
      org.apache.spark.sql.functions.lit(0L))
}

object SrpBucket {

  /** signs(plane)(dim) ∈ {+1, -1}: the deterministic hyperplane
    * components, computed once per (plane, dim) process-wide. Grown under
    * a lock; read lock-free through the volatile reference. */
  @volatile private var table: Array[Array[Byte]] = Array.empty

  private def computeSign(plane: Int, dim: Int): Byte = {
    val md = Md5Kernel.md
    md.update(s"p$plane:$dim".getBytes("UTF-8"))
    val digest = md.digest()
    // conv(substring(md5, 1, 4), 16, 10) % 2 = parity of digest byte 1
    if ((digest(1) & 1) == 0) 1 else -1
  }

  private def grow(plane: Int, dims: Int): Array[Byte] = synchronized {
    var t = table
    if (t.length <= plane) {
      val nt = new Array[Array[Byte]](plane + 1)
      System.arraycopy(t, 0, nt, 0, t.length)
      t = nt
    }
    val old = if (t(plane) == null) new Array[Byte](0) else t(plane)
    if (old.length < dims) {
      val ns = new Array[Byte](math.max(dims, math.max(16, old.length * 2)))
      System.arraycopy(old, 0, ns, 0, old.length)
      var i = old.length
      while (i < ns.length) { ns(i) = computeSign(plane, i); i += 1 }
      t(plane) = ns
    }
    table = t
    t(plane)
  }

  /** The plane's sign array, at least `dims` long. */
  def signs(plane: Int, dims: Int): Array[Byte] = {
    val t = table
    if (plane < t.length) {
      val s = t(plane)
      if (s != null && s.length >= dims) return s
    }
    grow(plane, dims)
  }

  /** Bucket id; 0 for empty arrays or any null element (see the
    * expression scaladoc for why that matches the interpreted tree). */
  def bucket(vec: ArrayData, isFloat: Boolean, planes: Int): Long = {
    val n = vec.numElements()
    if (n == 0) return 0L
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return 0L
      i += 1
    }
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val sg = signs(p, n)
      var acc = 0.0
      var j = 0
      while (j < n) {
        val x = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        acc += (if (sg(j) > 0) x else -x)
        j += 1
      }
      // Spark's nan-safe >=: NaN sorts above every double, -0.0 == 0.0
      if (acc >= 0.0 || java.lang.Double.isNaN(acc)) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}
