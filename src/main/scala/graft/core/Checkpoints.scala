package graft.core

import scala.collection.mutable.ArrayBuffer
import scala.runtime.NonLocalReturnControl

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** One owner for the frames graft operators materialize.
  *
  * `Dataset.localCheckpoint(eager = true)` persists the query's internal
  * RDD (MEMORY_AND_DISK) and replaces the logical plan with a [[LogicalRDD]]
  * over it. `Dataset.unpersist()` does NOT free those blocks — it only
  * uncaches CacheManager entries, and a checkpoint never registers one —
  * so without help the blocks live until the ContextCleaner happens to GC
  * the unreferenced RDD. A local checkpoint truncates lineage, so its
  * blocks are the ONLY copy of the data: freeing one that a live frame
  * still reads makes every later action over that frame fail.
  *
  * ==The scope contract==
  *
  * Operators materialize through [[checkpoint]] (`localCheckpoint(true)`)
  * and [[persist]] (`persist(MEMORY_AND_DISK)`) inside
  * [[scoped]]` { … }`. Each call registers the frame with the innermost
  * scope open on the calling thread (a plain, non-inheritable
  * `ThreadLocal`: a thread started inside a scope does not see it).
  *
  *  - '''Normal exit''' frees every registered persist, and every
  *    registered checkpoint the result does not read — found by walking
  *    the [[LogicalRDD]] leaves of the result's analyzed plan (every frame
  *    of a tuple or case-class result). Checkpoints the result
  *    still reads pass to the enclosing scope; with none open they stay
  *    with the caller, who may free them with [[release]].
  *  - '''Exception exit''' frees everything the scope registered, then
  *    rethrows. A `return` out of the body is a normal exit. A checkpoint
  *    whose own materializing job fails is never registered: Spark has
  *    already marked its internal RDD persisted, and its partial blocks
  *    wait for the ContextCleaner.
  *  - '''Caller frames''' — anything the scope did not register, such as
  *    checkpoint-backed inputs — are never touched.
  *  - '''Early free''': [[free]] releases exactly the registered frame
  *    passed (by identity, never by walking lineage), for loops that
  *    supersede a round before the scope ends.
  *
  * With no scope open, [[checkpoint]] and [[persist]] behave exactly as
  * the Spark calls they wrap: the caller owns the result.
  */
object Checkpoints {

  /** A registered frame; `rdd` is a checkpoint's only copy, `None` for a
    * persist (freed through the CacheManager). */
  private final class Owned(val frame: Dataset[_], val rdd: Option[RDD[_]]) {
    def free(): Unit = rdd match {
      case Some(r) => r.unpersist(blocking = false)
      case None => frame.unpersist(blocking = false)
    }
  }

  /** The open scopes of this thread, innermost first. */
  private val open = ThreadLocal.withInitial[List[ArrayBuffer[Owned]]](() => Nil)

  /** Run `body` owning every frame it materializes (see the contract). */
  def scoped[T](body: => T): T = {
    val owned = ArrayBuffer.empty[Owned]
    open.set(owned :: open.get)
    val result = try body catch {
      case r: NonLocalReturnControl[_] => close(owned, r.value); throw r
      case t: Throwable =>
        open.set(open.get.tail)
        owned.foreach(_.free())
        throw t
    }
    close(owned, result)
    result
  }

  private def close(owned: ArrayBuffer[Owned], result: Any): Unit = {
    open.set(open.get.tail)
    val read = readRdds(result)
    val (kept, dead) = owned.partition(_.rdd.exists(r => read(r.id)))
    dead.foreach(_.free())
    open.get.headOption.foreach(_ ++= kept)
  }

  private def readRdds(x: Any): Set[Int] = x match {
    case ds: Dataset[_] => leafRdds(ds).map(_.id).toSet
    case p: Product => p.productIterator.flatMap(readRdds).toSet
    case _ => Set.empty
  }

  private def leafRdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd }

  private def own[T](ds: Dataset[T], rdd: Option[RDD[_]]): Dataset[T] = {
    open.get.headOption.foreach(_ += new Owned(ds, rdd))
    ds
  }

  /** `ds.localCheckpoint(true)`, owned by the innermost open scope. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.localCheckpoint(true)
    own(c, leafRdds(c).headOption)
  }

  /** `ds.persist(MEMORY_AND_DISK)`, owned by the innermost open scope. */
  def persist[T](ds: Dataset[T]): Dataset[T] =
    own(ds.persist(StorageLevel.MEMORY_AND_DISK), None)

  /** Free `ds` now if an open scope on this thread registered this very
    * frame; anything else — a projection over a registered frame, a
    * caller's frame — is left alone. */
  def free(ds: Dataset[_]): Unit =
    open.get.iterator
      .flatMap(owned => owned.find(_.frame eq ds).map(o => (owned, o)))
      .nextOption()
      .foreach { case (owned, o) => owned -= o; o.free() }

  /** Unpersist the RDD blocks behind every [[LogicalRDD]] leaf of `df`'s
    * analyzed plan (non-blocking). No-op for frames that were never
    * checkpointed. For callers outside operators that are done with a
    * checkpoint-backed result: it walks the WHOLE lineage. */
  def release(df: DataFrame): Unit = releaseExcept(df)

  /** [[release]] restricted to checkpoints the walked plan OWNS: any
    * [[LogicalRDD]] leaf that also appears in one of the `keep` frames'
    * plans is left persisted. */
  def releaseExcept(df: DataFrame, keep: DataFrame*): Unit = {
    val keepIds = keep.flatMap(leafRdds).map(_.id).toSet
    leafRdds(df).filterNot(r => keepIds(r.id)).foreach(_.unpersist(blocking = false))
  }
}
