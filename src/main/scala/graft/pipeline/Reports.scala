package graft.pipeline

import graft.core.Checkpoints
import graft.core.IntCols.floorDiv
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.ext.{Contamination, Dedup}

/** Corpus health reporting — the dashboard numbers a curation run is
  * steered by, computed as ONE composed query instead of five ad-hoc
  * scans. */
object Reports {

  /** Per-source corpus report card: document and token counts, exact-dup
    * rate, benchmark-contamination rate, alphabetic ratio — each in
    * integer basis points (engine-exact) — and the GATING-RATE column
    * `contam_shrunk_ppm`: the contamination rate pulled toward the
    * global rate with `gatePseudoN` pseudo observations (the
    * [[shrunkRates]] fold). The raw `contam_bp` answers "what fraction
    * leaked"; the shrunk ppm is what a gate should COMPARE AGAINST A
    * THRESHOLD — a 3-document source with one leaked doc must not be
    * gated at the same "33%" a 3-million-document source at 33% is.
    *
    * Scale shape: all per-doc signals (token count, char counts, content
    * hash, n-gram hashes) are map-side; the dup election shuffles 16-byte
    * content hashes and joins back on the SAME key; the
    * contamination flag is [[Contamination.contaminationHits]]' broadcast-
    * benchmark probe; the final rollup partial-aggregates to one row per
    * source per task. The per-source table is EAGERLY CHECKPOINTED
    * (≤ #sources rows by construction) before the shrinkage global reads
    * it — the [[shrunkRates]] q158 discipline: the round-19 runtime audit
    * refuted the reuse this scaladoc previously claimed (AQE reuses only
    * byte-identical exchanges; per-consumer column pruning breaks
    * identity, so the global rollup re-executed the ENTIRE per-source
    * pipeline, contamination probe included — 8 parquet scans without
    * the barrier, reused=0). Nothing shuffles document text.
    *
    * Output, one row per source: `(source, n_docs, n_tokens, dup_bp,
    * contam_bp, contam_shrunk_ppm, alpha_bp)`, all BIGINT. */
  def sourceReport(
      docs: DataFrame,
      textCol: Column,
      idCol: String,
      sourceCol: String,
      benchmark: DataFrame,
      benchmarkText: Column,
      n: Int = 8,
      gatePseudoN: Long = 25L): DataFrame = Checkpoints.scoped {
    val base = docs.select(
      col(sourceCol).as("source"),
      col(idCol).as("_id"),
      // token count via the byte-walk kernel (spec'd size(split) parity;
      // the q62/q106/q76 precedent) — not an interpreted corpus re-split
      graft.ops.ext.TextStats.tokenCount(textCol).cast("long").as("_ntok"),
      length(textCol).cast("long").as("_nchar"),
      graft.functions.AlphaCountExpr.alpha_count(textCol).cast("long").as("_nalpha"),
      md5(textCol).as("_h"))
    val firsts = base.groupBy(col("_h")).agg(min(col("_id")).as("_keep"))
    val hits = Contamination
      .contaminationHits(docs, textCol, idCol, benchmark, benchmarkText, n)
      .select(col(idCol).as("_id"), lit(1L).as("_contam"))
    val per = Checkpoints.checkpoint(base.join(firsts, Seq("_h"))
      .join(hits, Seq("_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_ntok")).as("n_tokens"),
        sum((col("_id") =!= col("_keep")).cast("long")).as("_ndup"),
        coalesce(sum(col("_contam")), lit(0L)).as("_ncontam"),
        sum(col("_nchar")).as("_nc"),
        sum(col("_nalpha")).as("_na")))
    val global = per.agg(sum(col("n_docs")).as("_gn"), sum(col("_ncontam")).as("_gx"))
    per.crossJoin(broadcast(global))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("_ndup * 10000 div n_docs").as("dup_bp"),
        expr("_ncontam * 10000 div n_docs").as("contam_bp"),
        shrunkPpm(col("_ncontam"), col("n_docs"), col("_gx"), col("_gn"),
          gatePseudoN).as("contam_shrunk_ppm"),
        when(col("_nc") > 0, expr("_na * 10000 div _nc"))
          .otherwise(lit(0L)).as("alpha_bp"))
  }

  /** Binned two-sample Kolmogorov–Smirnov distance between every pair
    * of groups — the distribution-shift audit between corpus slices
    * (sources, crawls, time windows): which slices draw their
    * lengths/scores from a DIFFERENT distribution and need re-weighting
    * or investigation before training.
    *
    * `valueCol` is an integer signal, non-negative by contract (token
    * count, quality ppm, …); it is binned to `least(bins-1, value div
    * binWidth)`. Malformed rows: nulls DROP, negatives CLAMP to bin 0.
    * The KS statistic `max |CDF_a - CDF_b|` is EXACT on the binned
    * distributions (binning error is bounded by the largest single-bin
    * mass — the classic sketch trade, but deterministic and
    * engine-exact, unlike a sampled KS). CDFs are integer ppm; division
    * is floor on both engines (pmod form here, `//` in the oracle), all
    * operands non-negative.
    *
    * Scale shape: the ONLY corpus-sized work is the map-side
    * `(group, bin)` partial count — the shuffle carries at most
    * `groups x bins` rows per task. Everything downstream (dense grid,
    * per-group CDF windows, the pair join) runs on that bounded table:
    * at any corpus size the pair join is `groups² x bins` rows, a
    * driver-scale relation for realistic group counts. Window functions
    * here partition over ≤ `bins` rows — never a corpus window.
    *
    * Output: `(group_a, group_b, ks_ppm)` for every unordered group
    * pair, `group_a < group_b`. */
  def ksDistance(
      df: DataFrame,
      valueCol: Column,
      groupCol: Column,
      bins: Int = 64,
      binWidth: Long = 1L): DataFrame = Checkpoints.scoped {
    require(bins >= 2, s"ksDistance: bins must be >= 2, got $bins")
    require(binWidth >= 1, s"ksDistance: binWidth must be >= 1, got $binWidth")
    // floorDiv is identical to the oracle's `//` (operands here are
    // non-negative, so truncation would agree too — pmod keeps the form
    // uniform with the engine's other fixed-point math).
    // `counts` is referenced by the group census, the dense-grid join,
    // and BOTH pair-join sides — without materialization the corpus scan
    // (with the signal kernel) re-plans FOUR times. The table is bounded
    // at groups x bins rows, so an eager localCheckpoint collapses the
    // whole operator to ONE corpus pass for negligible pinned storage.
    // Malformed-input policy: null values DROP (an all-null group
    // disappears instead of feeding a 0-denominator ANSI division);
    // negative values CLAMP to bin 0 — otherwise a negative bin silently
    // misses the 0..bins-1 grid and shrinks the group's CDF denominator.
    // NB the null filter must hit the VALUE, not the bin: greatest/least
    // SKIP null operands in Spark, so a null value's "bin" would come
    // out as bins-1, not null — silently counting missing data as the
    // top bin.
    val counts = Checkpoints.checkpoint(df
      .where(valueCol.isNotNull)
      .select(groupCol.as("group"),
        greatest(lit(0L),
          least(lit(bins - 1L), floorDiv(valueCol.cast("long"), lit(binWidth)))).as("bin"))
      .groupBy(col("group"), col("bin")).agg(count(lit(1)).as("c")))
    // dense (group x bin) grid: a missing bin still carries the running
    // CDF, and the pair join below needs every bin present on both sides
    val grid = counts.select(col("group")).distinct()
      .crossJoin(df.sparkSession.range(bins).select(col("id").as("bin")))
    val dense = grid.join(counts, Seq("group", "bin"), "left")
      .select(col("group"), col("bin"), coalesce(col("c"), lit(0L)).as("c"))
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("group").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("group")
    val cdf = dense.select(col("group"), col("bin"),
      floorDiv(sum(col("c")).over(wCum) * 1000000L, sum(col("c")).over(wAll))
        .as("cdf_ppm"))
    val a = cdf.select(col("group").as("group_a"), col("bin"), col("cdf_ppm").as("_pa"))
    val b = cdf.select(col("group").as("group_b"), col("bin"), col("cdf_ppm").as("_pb"))
    a.join(b, Seq("bin")).where(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(max(abs(col("_pa") - col("_pb"))).as("ks_ppm"))
  }

  /** Empirical-Bayes shrunk per-group rates: the rate of a boolean flag
    * per group, pulled toward the GLOBAL rate with `pseudoN` pseudo
    * observations — `shrunk = (x_g + k·p0) / (n_g + k)` in integer ppm.
    * The quality-prior a curation gate wants for rare slices: a domain
    * with 3 documents and one bad one should NOT be gated at a "33%"
    * rate the way a 3-million-document domain at 33% is; small groups
    * pull to the prior, large groups dominate it.
    *
    * All-BIGINT floor math (non-negative operands): `p0` is the global
    * ppm rate, `shrunk_ppm = (x_g·1e6 + k·p0) div (n_g + k)`.
    *
    * Scale shape: one map-side partial-aggregated `groupBy` (the only
    * corpus-sized work), then a 1-row global rollup of the per-group
    * table broadcast-cross-joined back — nothing after the first
    * partial aggregation exceeds the group count. Output:
    * `(group, n_docs, raw_ppm, shrunk_ppm)`. */
  def shrunkRates(
      df: DataFrame, groupCol: Column, flagCol: Column,
      pseudoN: Long): DataFrame = Checkpoints.scoped {
    require(pseudoN >= 1, s"shrunkRates: pseudoN must be >= 1, got $pseudoN")
    val M = 1000000L
    // the <=groups-row table is read twice (rates + the pooled prior);
    // eagerly checkpoint it or BOTH references re-plan the corpus
    // aggregation from the scan (the q158 multi-consumer discipline —
    // plan-audited: two parquet scans without it, one with)
    val per = Checkpoints.checkpoint(df.groupBy(groupCol.as("group"))
      .agg(count(lit(1)).as("n"),
        sum(when(flagCol, 1L).otherwise(0L)).as("x")))
    val global = per.agg(sum(col("n")).as("_gn"), sum(col("x")).as("_gx"))
    per.crossJoin(broadcast(global))
      .select(col("group"), col("n").as("n_docs"),
        floorDiv(col("x") * M, col("n")).as("raw_ppm"),
        shrunkPpm(col("x"), col("n"), col("_gx"), col("_gn"), pseudoN).as("shrunk_ppm"))
  }

  /** The ONE shrinkage fold ([[shrunkRates]] and [[sourceReport]]'s
    * gating column): `(x·1e6 + k·p0) div (n + k)` with `p0 = gx·1e6 div
    * gn`, all-BIGINT floor math on non-negative operands. */
  private def shrunkPpm(x: Column, n: Column, gx: Column, gn: Column, pseudoN: Long): Column = {
    val M = 1000000L
    floorDiv(x * M + lit(pseudoN) * floorDiv(gx * M, gn), n + lit(pseudoN))
  }

  /** Cross-source content-overlap matrix — the companion diagnostic to
    * [[ksDistance]]: KS says two sources' DISTRIBUTIONS drifted apart,
    * this says how much literal CONTENT they share (mirror sites, feed
    * re-publishers, a crawl that ingested one corpus twice under two
    * names). Per unordered source pair: distinct-content set sizes,
    * intersection, and Jaccard in ppm. `contentCol` picks the equality
    * granularity — full text for exact mirrors, a token-prefix for
    * shared-boilerplate detection.
    *
    * Scale shape: ONE corpus pass — `groupBy(content-md5)` with a
    * map-side-partial `collect_set(source)`, so the single corpus-sized
    * Exchange carries 16-byte hashes + tiny source sets, never the text
    * (a naive distinct-keys-then-self-join form re-planned the corpus
    * scan and its md5 kernel FOUR times — plan-audited). The per-hash
    * source set is capped at #sources, so the in-row pair expansion is
    * ≤ sources²/2 per hash — linear in corpus size, no degenerate-bucket
    * quadratic (the q22 guard concern does not arise). The hash-set
    * table is eagerly `localCheckpoint`ed (the sizes census and the pair
    * fold both read it — the q158 multi-consumer discipline); per-source
    * sizes are a tiny aggregate, broadcast back.
    *
    * Output: (`source_a`, `source_b`, `size_a`, `size_b`,
    * `intersection`, `jaccard_ppm`), source_a < source_b, all counts
    * BIGINT; pairs sharing nothing are absent (inner join — the
    * all-pairs zero matrix at 10^4 sources is noise, not signal).
    * Non-null group and content required — filter upstream.
    *
    * `maxSources` caps the per-hash source-set fan-out (the
    * [[graft.ops.ext.Dedup]] `maxBucketSize` rule): a hash shared by
    * MORE than `maxSources` groups is dropped from the intersection
    * counts — at source granularity (10²) the cap never fires, but at
    * URL-level grouping (10⁴+) a universal boilerplate hash would
    * otherwise expand quadratically in-row. Per-source `size_a`/`size_b`
    * stay TRUE distinct-content counts (capped hashes still belong to
    * each source's set; they just stop asserting cross-source overlap),
    * so a fired cap UNDERCOUNTS intersections, never inflates. */
  def sourceOverlap(
      docs: DataFrame, group: Column, contentCol: Column,
      maxSources: Int = 1024): DataFrame = Checkpoints.scoped {
    require(maxSources >= 2,
      s"sourceOverlap: maxSources must be >= 2, got $maxSources")
    val sets = Checkpoints.checkpoint(docs.select(group.as("g"), md5(contentCol).as("h"))
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("g"))).as("gs")))
    val sizes = sets.select(explode(col("gs")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("sz"))
    sets
      .where(size(col("gs")) >= 2 && size(col("gs")) <= maxSources)
      .select(explode(flatten(transform(col("gs"), (a, i) =>
        transform(slice(col("gs"), i + lit(2), size(col("gs"))), b =>
          struct(a.as("source_a"), b.as("source_b")))))).as("p"))
      .groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("intersection"))
      .join(broadcast(sizes.select(col("g").as("source_a"), col("sz").as("size_a"))),
        "source_a")
      .join(broadcast(sizes.select(col("g").as("source_b"), col("sz").as("size_b"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("size_a"), col("size_b"),
        col("intersection"),
        expr("(1000000 * intersection) div (size_a + size_b - intersection)")
          .as("jaccard_ppm"))
  }
}
