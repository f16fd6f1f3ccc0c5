package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ReportsSpec extends SparkSpec {

  test("sourceReport rolls up dup, contamination, and alpha rates per source") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "w x y z a b c d", "s1"), // 8 tokens, 15 chars, 8 alpha
      (2L, "w x y z a b c d", "s1"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog", "s1"), // contaminated
      (4L, "mm nn oo pp", "s2") // clean, 4 tokens, 11 chars, 8 alpha
    ).toDF("doc_id", "text", "source")
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val out = Reports.sourceReport(docs, col("text"), "doc_id", "source",
        bench, col("text"), n = 8)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // global contamination p0 = 1*1e6 div 4 = 250000 ppm; pseudoN = 25:
    //   s1 shrunk = (1*1e6 + 25*250000) div (3+25) = 7250000 div 28 = 258928
    //   s2 shrunk = (0     + 25*250000) div (1+25) = 6250000 div 26 = 240384
    // (the 1-doc clean source is NOT gated at 0: it pulls to the prior)
    assert(out.toSeq === Seq(
      // s1: 3 docs, 25 tokens, 1 dup (3333 bp), 1 contaminated (3333 bp),
      // alpha = (8+8+35)*10000 div (15+15+43) = 510000 div 73 = 6986
      ("s1", 3L, 25L, 3333L, 3333L, 258928L, 6986L),
      // s2: 1 doc, 4 tokens, clean, alpha = 80000 div 11 = 7272
      ("s2", 1L, 4L, 0L, 0L, 240384L, 7272L)))
    // layout independence of the dup election and rollup
    val re = Reports.sourceReport(docs.repartition(5), col("text"), "doc_id",
        "source", bench, col("text"), n = 8)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(re.toSeq === out.toSeq)
  }

  test("ksDistance: hand-computed binned KS over every group pair") {
    val spark2 = spark
    import spark2.implicits._
    // bins=4, width=1. CDFs in ppm:
    //   a: [0,0,1,1]  -> [500000, 1000000, 1000000, 1000000]
    //   b: [2,2,3,3]  -> [0, 0, 500000, 1000000]       (disjoint from a)
    //   c: [0,1,2,3]  -> [250000, 500000, 750000, 1000000] (uniform)
    //   d: [0,0,1,1]  -> identical to a
    val rows =
      Seq(0L, 0L, 1L, 1L).map(("a", _)) ++ Seq(2L, 2L, 3L, 3L).map(("b", _)) ++
      Seq(0L, 1L, 2L, 3L).map(("c", _)) ++ Seq(0L, 0L, 1L, 1L).map(("d", _))
    val df = rows.toDF("src", "v")
    val out = Reports.ksDistance(df, col("v"), col("src"), bins = 4, binWidth = 1L)
    val got = out.as[(String, String, Long)].collect().sortBy(p => (p._1, p._2))
    assert(got.toSeq === Seq(
      ("a", "b", 1000000L), ("a", "c", 500000L), ("a", "d", 0L),
      ("b", "c", 500000L), ("b", "d", 1000000L), ("c", "d", 500000L)))
    graft.core.Checkpoints.release(out)
    // values past the last bin clamp into it; layout independence
    val capped = Reports.ksDistance(
      (rows ++ Seq(("b", 999L))).toDF("src", "v").repartition(5),
      col("v"), col("src"), bins = 4, binWidth = 1L)
    val g2 = capped.as[(String, String, Long)].collect().sortBy(p => (p._1, p._2))
    // b gains a 5th point in bin 3: CDF [0, 0, 400000, 1000000] -> KS vs a
    // still 1000000 (bin 1), vs c now 500000 (bin 1), vs d 1000000
    assert(g2.toSeq === Seq(
      ("a", "b", 1000000L), ("a", "c", 500000L), ("a", "d", 0L),
      ("b", "c", 500000L), ("b", "d", 1000000L), ("c", "d", 500000L)))
    graft.core.Checkpoints.release(capped)
  }

  test("KS family malformed-input policy: nulls drop, negatives clamp to bin 0, batch = baseline") {
    val spark2 = spark
    import spark2.implicits._
    // neg and pos are IDENTICAL distributions once the family policy
    // applies (-5 clamps to bin 0, the null drops); allnull must
    // disappear entirely (not feed a 0-denominator ANSI division).
    val rows: Seq[(String, java.lang.Long)] = Seq(
      ("neg", -5L: java.lang.Long), ("neg", 0L: java.lang.Long),
      ("neg", 1L: java.lang.Long), ("neg", null),
      ("pos", 0L: java.lang.Long), ("pos", 0L: java.lang.Long),
      ("pos", 1L: java.lang.Long),
      ("far", 2L: java.lang.Long), ("far", 2L: java.lang.Long),
      ("far", 3L: java.lang.Long),
      ("allnull", null), ("allnull", null))
    val df = rows.toDF("src", "v")
    val out = Reports.ksDistance(df, col("v"), col("src"), bins = 4, binWidth = 1L)
    val got = out.as[(String, String, Long)].collect().sortBy(p => (p._1, p._2))
    // exactly the 3 pairs over {far, neg, pos}: allnull is gone
    assert(got.toSeq === Seq(
      ("far", "neg", 1000000L), ("far", "pos", 1000000L), ("neg", "pos", 0L)))
    graft.core.Checkpoints.release(out)
  }

  test("shrunkRates: small groups pull to the global prior, large groups hold") {
    val spark2 = spark
    import spark2.implicits._
    // global: 500 of 1000 flagged (p0 = 500000 ppm). Group "big": 499/998
    // (~p0); group "tiny": 1/1 (raw 1e6); group "none": 0/1 (raw 0).
    val rows =
      (0L until 998L).map(i => ("big", i % 2 == 0)) ++ // 499 true
      Seq(("tiny", true), ("none", false))
    val out = Reports.shrunkRates(rows.toDF("src", "flag"), col("src"), col("flag"),
        pseudoN = 10L)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // expected floor math: p0 = 500*1e6 // 1000 = 500000
    //   big:  raw 499*1e6//998 = 500000; shrunk (499e6 + 10*500000)//1008 = 500000
    //   none: raw 0;      shrunk (0 + 5e6)//11 = 454545
    //   tiny: raw 1e6;    shrunk (1e6 + 5e6)//11 = 545454
    assert(out === Seq(
      ("big", 998L, 500000L, 500000L),
      ("none", 1L, 0L, 454545L),
      ("tiny", 1L, 1000000L, 545454L)))
    // layout independence
    val re = Reports.shrunkRates(rows.toDF("src", "flag").repartition(7),
        col("src"), col("flag"), pseudoN = 10L)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(re === out)
  }

  test("sourceOverlap: distinct-content Jaccard per pair, zero pairs absent") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      ("A", "x"), ("A", "x"), ("A", "y"), ("A", "z"), // dup x collapses
      ("B", "y"), ("B", "z"), ("B", "w"),
      ("C", "q")
    ).toDF("source", "text").repartition(3)
    val out = Reports.sourceOverlap(docs, col("source"), col("text"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // A∩B = {y, z}: |A|=3, |B|=3 -> jaccard = 2e6 // 4 = 500000;
    // C shares nothing -> no (A,C)/(B,C) rows
    assert(out === Seq(("A", "B", 3L, 3L, 2L, 500000L)))
  }

  test("sourceOverlap maxSources cap: a universal hash stops asserting overlap") {
    val spark2 = spark
    import spark2.implicits._
    // "boiler" is shared by ALL THREE sources, "y" by exactly two; at
    // maxSources = 2 the universal hash is dropped from the intersection
    // counts, but the per-source SIZES stay true (boiler still counts
    // toward each source's distinct-content size)
    val docs = Seq(
      ("A", "boiler"), ("A", "y"),
      ("B", "boiler"), ("B", "y"),
      ("C", "boiler")
    ).toDF("source", "text").repartition(3)
    val capped = Reports.sourceOverlap(docs, col("source"), col("text"),
        maxSources = 2)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // only (A,B) via y survives; sizes are the TRUE 2/2/1 counts
    assert(capped === Seq(("A", "B", 2L, 2L, 1L, 333333L)))
    // uncapped control: boiler contributes (A,B), (A,C), (B,C)
    val full = Reports.sourceOverlap(docs, col("source"), col("text"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(full.map(r => (r._1, r._2)) === Seq(("A", "B"), ("A", "C"), ("B", "C")))
    assert(full.head === (("A", "B", 2L, 2L, 2L, 1000000L)))
    // degenerate parameterization fails fast on the driver
    val e = intercept[IllegalArgumentException] {
      Reports.sourceOverlap(docs, col("source"), col("text"), maxSources = 1)
    }
    assert(e.getMessage.contains("maxSources"))
  }

  test("sourceOverlap and shrunkRates plan ONE corpus pass (checkpoint-fed)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(("A", "x"), ("A", "y"), ("B", "y"))
      .toDF("source", "text").repartition(2)
    // every consumer (sizes census, pair fold, both broadcasts) must read
    // the checkpointed hash-set table — a source fixture node surviving
    // into the final plan means the corpus got re-planned
    val op = Reports.sourceOverlap(docs, col("source"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!op.contains("LocalTableScan"),
      s"sourceOverlap re-planned the corpus past the checkpoint:\n$op")
    assert(op.contains("Scan ExistingRDD"), s"expected checkpoint scan:\n$op")
    val sp = Reports.shrunkRates(
        Seq(("A", true), ("B", false)).toDF("src", "flag").repartition(2),
        col("src"), col("flag"), pseudoN = 5L)
      .queryExecution.executedPlan.toString
    assert(!sp.contains("LocalTableScan"),
      s"shrunkRates re-planned the corpus past the checkpoint:\n$sp")
  }
}
