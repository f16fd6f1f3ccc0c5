package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class WorkloadSpec extends AnyFunSuite {

  test("the curate pass order is drawn from the seed: same seed, same order") {
    for (seed <- 0L to 20L; k <- 0 to 3) {
      val order = CurateWorkload.order(seed, k)
      assert(order == CurateWorkload.order(seed, k))
      assert(order.sorted == CurateWorkload.Passes.sorted)
    }
    val firstRounds = (0L to 20L).map(CurateWorkload.order(_, 0)).toSet
    assert(firstRounds.size > 5, "seeds should give different orders")
  }

  test("every curate pass is an oracled query") {
    CurateWorkload.Passes.foreach { q =>
      assert(graft.SparkEntry.queries.contains(q), q)
      assert(graft.SparkEntry.oracleSql.contains(q), q)
    }
  }

  test("a pass's fingerprint changes with any row, value or order") {
    val rows = Seq(Row(1L, "a b", 0.5), Row(2L, null, Double.NaN))
    val fp = CurateWorkload.fingerprint(rows)
    assert(fp.startsWith("2:"))
    assert(fp == CurateWorkload.fingerprint(rows.map(r => Row.fromSeq(r.toSeq))))
    assert(fp != CurateWorkload.fingerprint(rows.reverse))
    assert(fp != CurateWorkload.fingerprint(rows.take(1)))
    assert(fp != CurateWorkload.fingerprint(Seq(Row(1L, "a b", 0.25), rows(1))))
  }
}
