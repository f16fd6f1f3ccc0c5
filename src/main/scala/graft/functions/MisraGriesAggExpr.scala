package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitter CANDIDATES as a typed aggregate — the
  * engine's first `TypedImperativeAggregate`, the extension point
  * SURVEY §2.9 reserved. Usable inside any `groupBy`, which the flat
  * whole-corpus `mapPartitions` pass
  * ([[graft.ops.ext.TextStats.heavyHitters]]) structurally cannot be:
  * per-SOURCE / per-LANGUAGE heavy-hitter tables fall out of
  * `groupBy(source).agg(mg_candidates(token, k))`.
  *
  * Semantics: returns a (sorted, deduplicated) array of at most `k`
  * tokens that is a SUPERSET of every token occurring more than
  * `1/(k+1)` of the group's stream — the classic Misra–Gries guarantee.
  * Like the flat pass, candidates are order-dependent (which extras
  * survive depends on partitioning), so downstream callers MUST exact-
  * confirm ([[graft.ops.ext.TextStats.heavyHittersBy]]); only the
  * confirmed set is deterministic and oracle-comparable.
  *
  * Scale shape: the buffer is a bounded `k`-counter map of short
  * strings, independent of group size. Partial aggregation applies —
  * per-task sketches fold map-side and only serialized `<= k`-entry
  * sketches cross the shuffle (ObjectHashAggregate). The merge is the
  * mergeable-summaries reduction (Agarwal et al., PODS 2012): pointwise
  * counter sum, then subtract the (k+1)-th largest count and drop
  * non-positives — error bounds add, the superset guarantee survives,
  * so the two-phase distributed run keeps the single-pass contract.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGriesAgg.Sketch]
  with UnaryLike[Expression] {

  require(k >= 1, s"graft_mg_candidates: k must be >= 1, got $k")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string token column, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_mg_candidates"

  override def createAggregationBuffer(): MisraGriesAgg.Sketch =
    new MisraGriesAgg.Sketch(k)

  override def update(
      buffer: MisraGriesAgg.Sketch, input: InternalRow): MisraGriesAgg.Sketch = {
    val v = child.eval(input)
    // null tokens don't exist in the exploded-tokens contract; skipping
    // (not counting) them mirrors every aggregate's null behavior
    if (v != null) buffer.add(v.asInstanceOf[UTF8String])
    buffer
  }

  override def merge(
      buffer: MisraGriesAgg.Sketch,
      other: MisraGriesAgg.Sketch): MisraGriesAgg.Sketch = {
    buffer.mergeIn(other); buffer
  }

  /** Sorted (UTF8String byte order) for a stable, inspectable output;
    * determinism of the SET still requires the exact-confirm pass. */
  override def eval(buffer: MisraGriesAgg.Sketch): Any = {
    val arr: Array[AnyRef] = buffer.counters.keysIterator
      .map(_.asInstanceOf[AnyRef]).toArray
    java.util.Arrays.sort(arr, null) // UTF8String natural order = byte order
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override def serialize(buffer: MisraGriesAgg.Sketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.counters.size)
    buffer.counters.foreach { case (tok, cnt) =>
      val b = tok.getBytes
      out.writeInt(b.length); out.write(b); out.writeLong(cnt)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MisraGriesAgg.Sketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new MisraGriesAgg.Sketch(k)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      s.counters.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
}

object MisraGriesAgg {

  /** Bounded k-counter Misra–Gries summary. Not thread-safe (Spark
    * aggregation buffers are per-task). */
  final class Sketch(val k: Int) {
    val counters: scala.collection.mutable.HashMap[UTF8String, Long] =
      scala.collection.mutable.HashMap.empty

    /** The streaming MG step: count if tracked or a slot is free,
      * otherwise decrement everyone (dropping zeros). The token is
      * CLONED before storage — Spark reuses UnsafeRow-backed
      * UTF8Strings across input rows. */
    def add(token: UTF8String): Unit =
      counters.get(token) match {
        case Some(c) => counters.update(token, c + 1)
        case None if counters.size < k => counters.update(token.clone(), 1L)
        case None =>
          val dead = List.newBuilder[UTF8String]
          counters.foreach { case (key, c) =>
            if (c == 1L) dead += key else counters.update(key, c - 1)
          }
          dead.result().foreach(counters.remove)
      }

    /** Mergeable-summaries merge: pointwise sum, then if over k entries
      * subtract the (k+1)-th largest count from all and drop
      * non-positives — at most k survive (those strictly above it). */
    def mergeIn(other: Sketch): Unit = {
      other.counters.foreach { case (tok, c) =>
        // `other` is a deserialized shuffle-local sketch; its keys are
        // heap-backed (fromBytes / cloned), safe to store directly
        counters.update(tok, counters.getOrElse(tok, 0L) + c)
      }
      if (counters.size > k) {
        val vals = counters.valuesIterator.toArray
        java.util.Arrays.sort(vals)
        val cut = vals(vals.length - 1 - k) // the (k+1)-th largest
        val dead = List.newBuilder[UTF8String]
        counters.foreach { case (key, c) =>
          if (c - cut <= 0L) dead += key else counters.update(key, c - cut)
        }
        dead.result().foreach(counters.remove)
      }
    }
  }

  /** Column-level entry point; plans as `graft_mg_candidates`. */
  def mg_candidates(token: Column, k: Int): Column =
    GraftColumnBridge.column(
      MisraGriesAgg(GraftColumnBridge.expression(token), k)
        .toAggregateExpression())
}
