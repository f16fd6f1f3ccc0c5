package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact bounded top-k-by-key as a typed aggregate — the k smallest
  * `(key, id)` pairs per group, each carrying one BIGINT payload.
  *
  * This is the aggregate dual of the rank-window top-k
  * ([[graft.ops.ext.Sampling.weightedSampleStratified]]'s shape): the
  * window path sorts rows inside each task, relies on
  * `InferWindowGroupLimit` to prune beyond-rank rows below the exchange,
  * then sorts again to rank; the aggregate path keeps a k-entry binary
  * heap per group, folds map-side in the partial stage
  * (`ObjectHashAggregate` — NO sort anywhere), and ships only serialized
  * ≤k-entry heaps across the shuffle. Unlike [[MisraGriesAgg]] the
  * result is EXACT and partition-independent — the k smallest under a
  * total order need no confirm pass — so it is directly
  * oracle-comparable.
  *
  * Ordering contract: ascending `(key, id)` — id is BIGINT so numeric
  * tie-break matches `ORDER BY skey, id` in any SQL engine (a string
  * tie-break would order "10" before "9" and silently diverge from the
  * window path on key collisions).
  *
  * Scale shape: buffer is 3 primitive arrays of length k, independent of
  * group size; update is O(log k) worst-case and O(1) for the common
  * below-threshold reject once the heap fills.
  */
case class TopKByKeyAgg(
    first: Expression,
    second: Expression,
    third: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByKeyAgg.Heap]
  with TernaryLike[Expression] {

  require(k >= 1, s"graft_topk_by_key: k must be >= 1, got $k")

  private def keyExpr = first
  private def idExpr = second
  private def payExpr = third

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (keyExpr.dataType == LongType && idExpr.dataType == LongType &&
        payExpr.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint key, bigint id, bigint payload), got " +
          s"(${keyExpr.dataType.catalogString}, ${idExpr.dataType.catalogString}, " +
          s"${payExpr.dataType.catalogString})")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("skey", LongType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("weight", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk_by_key"

  override def createAggregationBuffer(): TopKByKeyAgg.Heap =
    new TopKByKeyAgg.Heap(k)

  override def update(
      buffer: TopKByKeyAgg.Heap, input: InternalRow): TopKByKeyAgg.Heap = {
    val kv = keyExpr.eval(input)
    val iv = idExpr.eval(input)
    val pv = payExpr.eval(input)
    // a null in any operand skips the row, mirroring SQL aggregate nulls
    if (kv != null && iv != null && pv != null)
      buffer.add(kv.asInstanceOf[Long], iv.asInstanceOf[Long], pv.asInstanceOf[Long])
    buffer
  }

  override def merge(
      buffer: TopKByKeyAgg.Heap, other: TopKByKeyAgg.Heap): TopKByKeyAgg.Heap = {
    var i = 0
    while (i < other.size) {
      buffer.add(other.keys(i), other.ids(i), other.pays(i))
      i += 1
    }
    buffer
  }

  /** Ascending (key, id) — ready to explode in rank order. */
  override def eval(buffer: TopKByKeyAgg.Heap): Any = {
    val idx = Array.range(0, buffer.size)
    // boxed sort with an explicit comparator (size <= k, cost trivial)
    val boxed = idx.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, (a: Integer, b: Integer) => {
      val c = java.lang.Long.compare(buffer.keys(a), buffer.keys(b))
      if (c != 0) c else java.lang.Long.compare(buffer.ids(a), buffer.ids(b))
    })
    new GenericArrayData(boxed.map { i =>
      new GenericInternalRow(
        Array[Any](buffer.keys(i), buffer.ids(i), buffer.pays(i))): Any
    })
  }

  override def serialize(buffer: TopKByKeyAgg.Heap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      out.writeLong(buffer.keys(i)); out.writeLong(buffer.ids(i))
      out.writeLong(buffer.pays(i))
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByKeyAgg.Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val h = new TopKByKeyAgg.Heap(k)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      h.add(in.readLong(), in.readLong(), in.readLong())
      i += 1
    }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByKeyAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByKeyAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKByKeyAgg =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object TopKByKeyAgg {

  /** Bounded max-heap over (key, id) — the root is the WORST kept entry,
    * so a full heap rejects most rows with one comparison. Not
    * thread-safe (Spark aggregation buffers are per-task). */
  final class Heap(val k: Int) {
    val keys = new Array[Long](k)
    val ids = new Array[Long](k)
    val pays = new Array[Long](k)
    var size = 0

    /** true if entry (ka, ia) ranks WORSE (greater) than (kb, ib). */
    @inline private def gt(ka: Long, ia: Long, kb: Long, ib: Long): Boolean =
      ka > kb || (ka == kb && ia > ib)

    def add(key: Long, id: Long, pay: Long): Unit = {
      if (size < k) {
        var i = size
        keys(i) = key; ids(i) = id; pays(i) = pay
        size += 1
        // sift up
        while (i > 0 && gt(keys(i), ids(i), keys((i - 1) / 2), ids((i - 1) / 2))) {
          swap(i, (i - 1) / 2); i = (i - 1) / 2
        }
      } else if (gt(keys(0), ids(0), key, id)) {
        keys(0) = key; ids(0) = id; pays(0) = pay
        // sift down
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = 2 * i + 2
          var w = i
          if (l < size && gt(keys(l), ids(l), keys(w), ids(w))) w = l
          if (r < size && gt(keys(r), ids(r), keys(w), ids(w))) w = r
          if (w == i) done = true
          else { swap(i, w); i = w }
        }
      }
    }

    @inline private def swap(i: Int, j: Int): Unit = {
      val tk = keys(i); keys(i) = keys(j); keys(j) = tk
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
      val tp = pays(i); pays(i) = pays(j); pays(j) = tp
    }
  }

  /** Column-level entry point; plans as `graft_topk_by_key`. */
  def topKByKey(key: Column, id: Column, payload: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKByKeyAgg(
        GraftColumnBridge.expression(key),
        GraftColumnBridge.expression(id),
        GraftColumnBridge.expression(payload), k)
        .toAggregateExpression())
}
