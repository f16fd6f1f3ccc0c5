package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query seconds.
  *
  * Queries execute through the `noop` sink, which forces the *complete*
  * physical plan (sorts, projections, window functions) — `count()` would
  * let Catalyst prune everything not needed for the row count and
  * under-report. One warm-up pass (q05) absorbs session/codegen startup so
  * per-query numbers measure the plan, not JVM warming.
  *
  * Each query runs SPARK_GRAFT_RUNS times (default 3) back to back and the
  * reported per-query number is the MIN; `target/bench_stats.json` carries
  * the full {min, median, max} spread under full query names, with each
  * run's Janino compile count (`compiles`, one entry per run: the
  * generated classes that missed Spark's codegen cache — a timing-free
  * counter of what a plan change adds or removes). A
  * single-sample snapshot on a noisy shared box repeatedly manufactured
  * 4-7 s phantom regressions on untouched queries (three rounds of judge
  * re-runs refuting them), and round 8 showed even the median of 3 is
  * contaminated when box contention spans two of the three runs (driver
  * q73 median 8.03 s vs min 2.94 vs the locally measured 2.6 s). The MIN
  * of N runs is the contention-immune estimator of plan cost — external
  * load can only ever ADD time — so the headline number is the min and
  * the spread file is where run-to-run noise is visible.
  *
  * The printed line must stay COMPACT and BARE: the calling harness
  * captures only the last ~2000 characters of output and parses the JSON
  * line out of it (build.sbt sets `run / outputStrategy := StdoutOutput`
  * so sbt does not prefix it with "[info] "). Hence per-query keys in the
  * printed line are the short "qNN" prefix (full names in the stats
  * file), values are 1-decimal seconds (3-decimal fidelity lives in the
  * stats file), and the per-query spread map is NOT printed.
  *
  * Line construction is factored into [[buildLine]] so BenchLineSpec can
  * assert the capacity budget (>=160 queries inside the 1900-char guard)
  * without running a single query — round 8 lost its artifact to a silent
  * overflow and round 9's fix left only ~9 queries of headroom at
  * 2-decimal, so the budget is now a spec, not a hope.
  */
object Bench {

  /** Printed keys are the query's numeric prefix rendered in BASE-36,
    * zero-padded to 2 chars ("q118_bpe_apply" -> "3a", "q09_x" -> "09")
    * — the CLAUDE.md-ledger lever (c), burned in round 13 when the
    * worst-case line hit 1,763 of 1,768 budgeted chars at 159 queries
    * and the next query could not ship. Every query up to #1295 now
    * prints a uniform 2-char key (decimal keys were 3 chars from #100),
    * restoring ~19 worst-case queries of headroom. This is the SECOND
    * and last key change (round 11 dropped the leading `q`): BENCH_r12
    * "118" rows pair with BENCH_r13+ "3a" rows via
    * `Integer.parseInt(key, 36)`; full names live in the stats file and
    * the README carries the legend. */
  def shortKey(n: String): String = {
    val b = java.lang.Long.toString(
      java.lang.Long.parseLong(n.takeWhile(_ != '_').stripPrefix("q")), 36)
    if (b.length < 2) "0" + b else b
  }

  /** Printed per-query values SATURATE at 99.9 s: a contended box can
    * inflate a min past 10 s (round-9 notes record 3-7x in-suite
    * inflation pre-gc-fix), and an entry widening past its budgeted
    * chars used to trip the 1900-char guard at the END of the suite —
    * discarding the whole session's artifact after paying its runtime
    * (the round-10 ADVICE item). True values always live in
    * bench_stats.json; failures print as their sentinel -1.0 unchanged. */
  def printedValue(v: Double): String =
    if (v < 0) "-1.0" else f"${math.min(v, 99.9)}%.1f"

  /** The ONE bare JSON line the harness parses from its ~2000-char output
    * tail. Per-query values at 1 decimal: the headline `value` (total) and
    * the stats file keep 3 decimals, so nothing is lost — the printed map
    * exists for cross-round per-query diffing where 0.1 s resolution is
    * already below the box's same-day noise floor. The `sf` field prints
    * the scale-factor BASENAME ("sf0.1"), not the full dir (round-12
    * re-budget for q158/q159: −15 chars restores the 12-query worst-case
    * headroom without another per-query key change; the driver's artifact
    * already records the numeric sf at top level, and the full dir stays
    * in bench_stats.json). */
  def buildLine(mins: Seq[(String, Double)], runsPerQuery: Int,
                failures: Int, sfDir: String): String = {
    val qs = mins.map { case (k, mn) => "\"" + shortKey(k) + "\":" + printedValue(mn) }
      .mkString("{", ",", "}")
    val total = mins.map(_._2).filter(_ >= 0).sum
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","runs_per_query":$runsPerQuery,"failures":$failures,"queries":$qs,"sf":${jsonString(sfShort)}}"""
  }

  /** Hard cap from the harness's ~2000-char tail window (with margin). */
  val MaxLineChars = 1900

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)

    // Saturation-path test hook (round-11 verdict item 4), NEVER set by the
    // driver: SPARK_GRAFT_SYNTH_SLEEP_SECS=N injects a synthetic query
    // "q00_synth_sleep" that just sleeps N seconds, so the whole chain —
    // run → stats file (true seconds) → printed line (saturated at 99.9) —
    // can be exercised end-to-end without a real 100 s workload or a
    // deliberately contended box. Use with SPARK_GRAFT_ONLY=q00_synth_sleep
    // SPARK_GRAFT_RUNS=1; the exercise record lives in PLANS.md.
    val synthSleepSecs = sys.env.get("SPARK_GRAFT_SYNTH_SLEEP_SECS").map(_.toDouble)
    val SynthName = "q00_synth_sleep"

    /** Janino compiles so far in this JVM (with a `local` master, the
      * executors' code generation too). */
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    /** One run's seconds and Janino compiles. */
    def run(name: String): (Double, Long) = {
      if (name == SynthName) {
        val t0 = System.nanoTime()
        Thread.sleep((synthSleepSecs.get * 1000).toLong)
        return ((System.nanoTime() - t0) / 1e9, 0L)
      }
      spark.catalog.clearCache() // isolate queries: no cross-query caches
      // nudge the ContextCleaner: it only reclaims shuffle files, broadcast
      // blocks, and released checkpoint blocks when driver GC runs, and an
      // 8 GB heap can go many queries without one — by the tail of a
      // 340-run suite the accumulated state was inflating late queries
      // (q83 in-suite 42 s vs 6 s isolated) before this was added. Outside
      // the timed region.
      System.gc()
      val c0 = compiles()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        // some builders materialize internal localCheckpoints
        // (persistSignatures, eager curation stages); the frame is fully
        // consumed here, so release them now instead of waiting for the
        // ContextCleaner to notice the dropped reference
        graft.core.Checkpoints.release(df)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return (-1.0, compiles() - c0)
      }
      ((System.nanoTime() - t0) / 1e9, compiles() - c0)
    }

    val runsPerQuery = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3).max(1)

    /** {min, median, max} over `runsPerQuery` back-to-back runs, each
      * run's compiles, and the hypervisor steal%% across the region
      * ([[graft.core.Steal]] — the per-query contention adjudicator;
      * stats-file only, never the printed line). Any failed run poisons the whole triple to -1.0 — a
      * query that starts throwing must never read as a speedup, and a
      * flaky one must not hide behind its two good runs. */
    def runStats(name: String): (Double, Double, Double, Double, Seq[Long]) = {
      val m = new graft.core.Steal.Meter
      val (ts, cs) = Seq.fill(runsPerQuery)(run(name)).unzip
      val steal = m.pct()
      if (ts.exists(_ < 0)) (-1.0, -1.0, -1.0, steal, cs)
      else {
        val s = ts.sorted
        (s.head, s(s.length / 2), s.last, steal, cs)
      }
    }

    run("q05_join5") // warm-up: joins, aggregation, codegen, parquet reader

    // iteration aid: SPARK_GRAFT_ONLY=q41_shingle_minhash,q24_jaccard
    // benches a comma-separated subset (driver runs leave it unset)
    val known = SparkEntry.queries.keySet ++ synthSleepSecs.map(_ => SynthName)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { o => // a typo'd name would otherwise silently bench nothing
      val unknown = o -- known
      if (unknown.nonEmpty)
        System.err.println(
          s"[bench] WARNING: unknown queries in SPARK_GRAFT_ONLY: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val names = known.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val suiteMeter = new graft.core.Steal.Meter
    val results = names.map(n => n -> runStats(n))
    val suiteSteal = suiteMeter.pct()
    def fmt(v: Double): String = f"$v%.3f"
    require(results.map(x => shortKey(x._1)).distinct.size == results.size,
      "short qNN bench keys must stay unique")
    val st = results.map { case (k, (mn, med, mx, steal, cs)) =>
      "\"" + k + "\":{\"min\":" + fmt(mn) + ",\"median\":" + fmt(med) + ",\"max\":" + fmt(mx) +
        ",\"steal_pct\":" + fmt(steal) + ",\"compiles\":" + cs.mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    // failures are -1.0 per query AND surfaced as an explicit count, so a
    // query that starts throwing can never read as a speedup
    val failures = results.count(_._2._1 < 0)
    val statsPath = java.nio.file.Paths.get("target", "bench_stats.json")
    java.nio.file.Files.createDirectories(statsPath.getParent)
    java.nio.file.Files.write(statsPath,
      (s"""{"runs_per_query":$runsPerQuery,"sf":${jsonString(sfDir)},""" +
        s""""suite_steal_pct":${fmt(suiteSteal)},"stats":$st}""").getBytes("UTF-8"))
    // quiet Spark's shutdown logging so nothing lands after the JSON line
    // inside the harness's tail window
    spark.sparkContext.setLogLevel("ERROR")
    val line = buildLine(results.map { case (k, (mn, _, _, _, _)) => k -> mn },
      runsPerQuery, failures, sfDir)
    // hard guard: the harness parses the line from a ~2000-char output
    // tail — a silently over-long line cost round 8 its bench artifact
    // (BENCH_r08 parsed:null). Fail loudly instead. BenchLineSpec asserts
    // the >=160-query capacity ahead of time.
    require(line.length <= MaxLineChars,
      s"bench line ${line.length} chars exceeds the harness tail budget " +
        "(drop a digit or shorten keys before adding more queries)")
    println(line)
    spark.stop()
  }

  /** A JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or newline in a path or in hand-written
    * SQL would otherwise write a line the consumer's JSON parser rejects.
    * Shared by the printed line, `bench_stats.json` and Verify's
    * `oracle_sql.json`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The session Bench, Verify and Explain run on: `local[cpus]` with as
    * many shuffle partitions, UTC timestamps, and small file splits.
    *
    * The test tables are one file with ONE parquet row group each, and
    * parquet only splits at row-group boundaries — so every scan (and all
    * map-side work before the first Exchange) runs as a single task
    * regardless of the split settings. That is a local-bench artifact,
    * deliberately NOT worked around with artificial repartition() in the
    * queries: cluster inputs arrive as many files/row groups and
    * parallelize naturally. The settings are kept for inputs that DO
    * split (multi-row-group files). */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
