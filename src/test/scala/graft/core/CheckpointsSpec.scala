package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class CheckpointsSpec extends SparkSpec {

  private def frame(n: Long): DataFrame = spark.range(n).toDF("id")

  /** Whether every checkpoint block set `df` reads is still persisted. */
  private def live(df: DataFrame): Boolean = {
    val ids = df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.id
    }
    assert(ids.nonEmpty, "not checkpoint-backed")
    ids.forall(spark.sparkContext.getPersistentRDDs.contains)
  }

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  test("normal exit frees what the result does not read, keeps what it does") {
    var read, unread: DataFrame = null
    var cache: DataFrame = null
    val out = Checkpoints.scoped {
      read = Checkpoints.checkpoint(frame(5))
      unread = Checkpoints.checkpoint(frame(6))
      cache = Checkpoints.persist(frame(7))
      assert(cache.count() === 7L && cached(cache))
      read.where(col("id") > 1L)
    }
    assert(live(read))
    assert(!live(unread))
    assert(!cached(cache))
    assert(out.count() === 3L)
    Checkpoints.release(out)
  }

  test("a tuple result keeps every frame in it") {
    var a, b: DataFrame = null
    val (x, y) = Checkpoints.scoped {
      a = Checkpoints.checkpoint(frame(2))
      b = Checkpoints.checkpoint(frame(3))
      (a.select(col("id")), b.select(col("id")))
    }
    assert(live(a) && live(b))
    assert(x.count() + y.count() === 5L)
    Checkpoints.release(x)
    Checkpoints.release(y)
  }

  test("an exception frees every registered frame and rethrows") {
    var ckpt: DataFrame = null
    var cache: DataFrame = null
    val before = materializations
    val e = intercept[IllegalStateException] {
      Checkpoints.scoped {
        ckpt = Checkpoints.checkpoint(frame(4))
        cache = Checkpoints.persist(frame(5))
        cache.count()
        throw new IllegalStateException("operator failed")
      }
    }
    assert(e.getMessage === "operator failed")
    assert(!live(ckpt))
    assert(!cached(cache))
    assert(materializations === before)
  }

  private def returnsEarly(made: Array[DataFrame]): DataFrame = Checkpoints.scoped {
    made(0) = Checkpoints.checkpoint(frame(3))
    made(1) = Checkpoints.checkpoint(frame(4))
    if (made.nonEmpty) return made(0).select(col("id"))
    made(1)
  }

  test("a return out of the body is a normal exit") {
    val made = new Array[DataFrame](2)
    val out = returnsEarly(made)
    assert(live(made(0)) && !live(made(1)))
    assert(out.count() === 3L)
    Checkpoints.release(out)
  }

  test("checkpoint-backed caller inputs survive the scope") {
    val input = frame(6).localCheckpoint(true)
    val out = Checkpoints.scoped {
      Checkpoints.checkpoint(input.where(col("id") < 3L)).count()
      input.where(col("id") >= 3L)
    }
    assert(live(input))
    assert(out.count() === 3L)
    assert(input.count() === 6L)
    Checkpoints.release(input)
  }

  test("a nested scope's result is adopted by the outer scope and freed at its exit") {
    var inner: DataFrame = null
    val out = Checkpoints.scoped {
      inner = Checkpoints.scoped(Checkpoints.checkpoint(frame(4)))
      assert(live(inner)) // the inner scope passed it up
      inner.count()
    }
    assert(out === 4L)
    assert(!live(inner)) // the outer result reads nothing
  }

  test("with no scope open the caller owns the result") {
    val c = Checkpoints.checkpoint(frame(3))
    val p = Checkpoints.persist(frame(4))
    Checkpoints.free(c) // not registered: a no-op
    assert(live(c) && cached(p))
    Checkpoints.scoped(c.count())
    assert(live(c) && cached(p))
    Checkpoints.release(c)
    p.unpersist()
  }

  test("early free is by identity: a projection over a checkpoint frees nothing") {
    var c: DataFrame = null
    var p: DataFrame = null
    Checkpoints.scoped {
      c = Checkpoints.checkpoint(frame(5))
      p = Checkpoints.persist(frame(6))
      Checkpoints.free(c.select(col("id")))
      Checkpoints.free(p.select(col("id")))
      assert(live(c) && cached(p))
      Checkpoints.free(c)
      Checkpoints.free(p)
      assert(!live(c) && !cached(p))
      1
    }
  }

  test("a thread started inside a scope does not see it") {
    var c: DataFrame = null
    Checkpoints.scoped {
      val t = new Thread(() => c = Checkpoints.checkpoint(frame(3)))
      t.start()
      t.join()
      1
    }
    assert(live(c)) // registered with no scope: the thread's caller owns it
    Checkpoints.release(c)
  }
}
