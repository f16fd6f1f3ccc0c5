package graft

import org.scalatest.funsuite.AnyFunSuite

/** Capacity budget for the ONE bare JSON line `graft.Bench` prints: the
  * harness parses it from a ~2000-char output tail, and a silent overflow
  * already cost round 8 its artifact (BENCH_r08 parsed:null). This spec
  * fails BEFORE the artifact does — at build time, not bench time — and
  * pins the >=160-query capacity the round-9 verdict asked for.
  */
class BenchLineSpec extends AnyFunSuite {

  /** Worst-case synthetic roster: every key the widest real shape (a
    * uniform 2 chars after the round-13 base-36 change, for any roster
    * up to #1295), every value SATURATED — since round 11 `printedValue`
    * caps printed values at 99.9 s (true values in bench_stats.json), so
    * the widest possible printed entry is structurally bounded: box
    * contention can no longer widen the line past this spec's budget at
    * runtime (the round-10 ADVICE failure mode, where a contended
    * >=10 s min tripped the 1900-char guard at the END of a paid-for
    * suite). */
  private def syntheticLine(n: Int): String = {
    // keys mirror the real roster's shapes exactly: q01..q99 then q100..
    val mins = (1 to n).map(i => f"q$i%02d_synthetic_name" -> 1e9)
    Bench.buildLine(mins, runsPerQuery = 3, failures = 0,
      sfDir = "/root/testdata/sf0.1")
  }

  test("178 saturated-worst-case queries fit the harness tail budget") {
    val line = syntheticLine(178)
    assert(line.length <= Bench.MaxLineChars,
      s"178-query worst-case line is ${line.length} chars (> ${Bench.MaxLineChars})")
  }

  test("the CURRENT roster fits with >=6 queries of worst-case headroom") {
    val mins = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 1e9)
    val line = Bench.buildLine(mins, 3, 0, "/root/testdata/sf0.1")
    // 10 chars = one worst-case entry (`,"xx":99.9`). The reserved floor
    // was 12 through round 13; round 14 burned ledger lever (c2) —
    // deliberately lowering it to 6 (documented in CLAUDE.md + README) to
    // admit q167/q168, since lever (b) field-trim stays blocked by the
    // unverifiable driver parse contract. 6 worst-case queries of guard
    // margin still dwarf any single round's roster growth.
    assert(line.length + 6 * 10 <= Bench.MaxLineChars,
      s"roster line ${line.length} chars leaves <6 queries of headroom")
  }

  test("base-36 keys: 2-char zero-padded, reversible, unique on the roster") {
    assert(Bench.shortKey("q01_agg") == "01")
    assert(Bench.shortKey("q09_orderby_limit") == "09")
    assert(Bench.shortKey("q10_argmax") == "0a")
    assert(Bench.shortKey("q35_stats") == "0z")
    assert(Bench.shortKey("q36_x") == "10")
    assert(Bench.shortKey("q118_bpe_apply") == "3a")
    assert(Bench.shortKey("q159_kappa") == "4f")
    // the cross-round pairing rule the README legend documents
    assert(Integer.parseInt(Bench.shortKey("q118_bpe_apply"), 36) == 118)
    val names = SparkEntry.queries.keys.toSeq
    assert(names.map(Bench.shortKey).distinct.size == names.size,
      "short bench keys must stay unique")
    assert(names.map(Bench.shortKey).forall(_.length == 2),
      "every roster key must print the uniform 2-char shape")
  }

  test("values are 1-decimal, saturated, -1-safe; sentinel stays out of total") {
    val line = Bench.buildLine(
      Seq("q01_agg" -> 1.234, "q02_x" -> 0.05, "q103_y" -> 123.4, "q04_z" -> -1.0),
      3, 1, "sf")
    assert(line.contains("\"01\":1.2") && line.contains("\"02\":0.1"),
      s"unexpected value formatting in: $line")
    assert(line.contains("\"2v\":99.9"), s"saturation missing in: $line")
    assert(line.contains("\"04\":-1.0"), s"failure sentinel mangled in: $line")
    // the failure sentinel must not leak into the printed total
    assert(line.contains("\"value\":124.684"), s"total wrong in: $line")
  }

  test("a tab or newline in the sf dir still makes valid JSON; plain input prints unchanged") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper
    for (sf <- Seq("/data/sf\t0.1", "/data/sf0.1\n", "/data/sf\u00010.1")) {
      val line = Bench.buildLine(Seq("q01_agg" -> 1.0), 3, 0, sf)
      assert(json.readTree(line).get("sf").asText() === sf.stripPrefix("/data/"))
    }
    assert(Bench.buildLine(Seq("q01_agg" -> 1.0), 3, 0, "/data/sf0.1") ===
      """{"metric":"total","value":1.000,"unit":"sec","runs_per_query":3,"failures":0,""" +
        """"queries":{"01":1.0},"sf":"sf0.1"}""")
  }
}
