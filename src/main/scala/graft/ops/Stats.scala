package graft.ops

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-dataset / per-language statistics
  * (reference: DbpediaDgraphSparkApp.scala:140-179).
  *
  * The reference computes, per dataset: total triples, distinct subjects
  * ("nodes"), distinct predicates — then a wide per-language table by
  * full-outer-joining each dataset's `groupBy(lang).count` on `lang`, with
  * an `en-*` union rollup.
  *
  * Scale note (the dominant cost of the whole reference pipeline, SURVEY
  * §2.4): exact `select(c).distinct().count` is two full shuffles per
  * metric; `approx_count_distinct` (HyperLogLog++, one
  * map-side-combinable aggregation, no shuffle of distinct values) is the
  * only sane distinct count at 100 TB — q33 calls it directly.
  */
object Stats {

  /** Wide per-language stats: one row per lang, one column per dataset
    * (full-outer-join fold on `lang`, reference :154-158). All inputs are
    * tiny aggregates (≤ #languages rows) — the joins broadcast. */
  def perLanguage(spark: SparkSession, datasets: Seq[(String, DataFrame)]): DataFrame = {
    import spark.implicits._
    datasets
      .map { case (label, df) =>
        df.groupBy(col("lang")).count().withColumnRenamed("count", label)
      }
      .foldLeft(Seq.empty[String].toDF("lang")) { case (acc, df) =>
        acc.join(df, Seq("lang"), "full_outer")
      }
  }

  /** The `en-*` rollup view: all non-en-prefixed languages plus one summed
    * `en-*` row (reference :163-172). */
  def withEnRollup(langStats: DataFrame): DataFrame = {
    // both union branches consume the (N-aggregation, N-join) input plan —
    // cache it like the reference (:158) so it computes once
    val cached = Checkpoints.persist(langStats)
    cached
      .where(!col("lang").startsWith("en-"))
      .union(
        cached
          .where(col("lang").startsWith("en-"))
          .withColumn("lang", lit("en-*"))
          .groupBy(col("lang"))
          .sum())
      .orderBy(col("lang"))
  }

  /** Exact per-group quantiles of an INTEGER metric by deterministic rank
    * selection: the p-quantile of a group of n values is the value at
    * sorted position `floor(p·(n−1)) + 1` (1-based) — the "lower"
    * interpolation rule. Unlike `percentile`/`quantile_cont`, which
    * interpolate BETWEEN ranks in floating point (two engines' `a+(b−a)·f`
    * vs `a·(1−f)+b·f` disagree in the last ulp), rank selection returns an
    * actual data value — integer-exact and engine-portable, which is what
    * makes distribution thresholds (e.g. "cut documents below the p25
    * token count") reproducible across the stack.
    *
    * Scale shape: ONE shuffle on the group key; the per-group sort is the
    * window's spill-safe ExternalSorter, `n` comes from the same pass
    * (count over the unordered partition), and each quantile is a
    * conditional max in the final (tiny, one-row-per-group) aggregation.
    * For a single global quantile over 100 TB prefer approx_percentile;
    * this operator is for per-group thresholds where groups fit a task's
    * sort spill budget.
    *
    * Output: the group column plus one BIGINT `p<NN>` column per requested
    * quantile (NN = percent, e.g. 0.25 → `p25`). NULL metric values must
    * be filtered upstream: engines disagree on where NULLs sort (Spark
    * ASC puts them first, DuckDB last), so a NULL would shift every rank
    * in its group differently per engine. */
  def groupQuantiles(
      df: DataFrame,
      group: Column,
      value: Column,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"groupQuantiles: quantiles must be in [0, 1], got $ps")
    import org.apache.spark.sql.expressions.Window
    val ranked = df
      .select(group.as("_gq_g"), value.cast("long").as("_gq_v"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_gq_g")).orderBy(col("_gq_v"))).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_gq_g"))))
    val aggs = ps.map { p =>
      val name = s"p${math.round(p * 100)}"
      // floor(p·(n−1)) is exact in double for any feasible group size
      max(when(col("_rn") ===
        floor(lit(p) * (col("_n") - 1).cast("double")).cast("long") + 1L,
        col("_gq_v"))).as(name)
    }
    ranked.groupBy(col("_gq_g")).agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("_gq_g", "group")
  }

  /** Robust per-group outlier census via median absolute deviation — the
    * distribution gate that survives the exact skew a curation pipeline
    * exists to catch: a mean/stddev z-score is dragged by the outliers
    * it is hunting, the median/MAD pair is not. A row is an outlier when
    * `|x − median| · 1000 > threshMilli · MAD` (default 3500 = the
    * conventional 3.5 robust-z cut); when MAD = 0 (a majority-constant
    * group) any deviating row is an outlier — the standard degenerate
    * case, kept because a 60%-boilerplate group SHOULD flag its tail.
    *
    * Both medians use [[groupQuantiles]]' rank-selection rule (lower
    * interpolation, integer-exact, engine-portable) — MAD inherits the
    * same cross-engine determinism, so the census is hash-gateable.
    *
    * Scale shape: two rank-selection passes (each one shuffle on the
    * group key + a spill-safe window sort) and one broadcast join of the
    * per-group medians back onto the rows; the final census is a
    * partial-aggregated groupBy. The two per-group median frames
    * (≤ #groups rows by construction) are EAGERLY CHECKPOINTED — each
    * feeds two consumers, and un-checkpointed every consumer re-planned
    * the full corpus pass behind it (round-19 sweep; the algorithm's
    * floor is exactly three corpus passes: median, MAD, census).
    * Same envelope as [[groupQuantiles]]:
    * right for per-group thresholds where a group fits a task's sort
    * spill budget — for a single global gate at 100 TB use
    * approx_percentile twice instead.
    *
    * Output per group: (`group`, `med`, `mad`, `n`, `n_out`), BIGINT.
    * NULL metric values must be filtered upstream (rank rule). */
  def madOutliers(
      df: DataFrame,
      group: Column,
      value: Column,
      threshMilli: Long = 3500L): DataFrame = {
    val rows = df.select(group.as("_g"), value.cast("long").as("_v"))
    val med = Checkpoints.checkpoint(groupQuantiles(rows, col("_g"), col("_v"), Seq(0.5))
      .select(col("group").as("_g"), col("p50").as("med")))
    val dev = rows.join(broadcast(med), "_g")
      .withColumn("_dev", abs(col("_v") - col("med")))
    val mad = Checkpoints.checkpoint(groupQuantiles(dev, col("_g"), col("_dev"), Seq(0.5))
      .select(col("group").as("_g"), col("p50").as("mad")))
    dev.join(broadcast(mad), "_g")
      .groupBy(col("_g"))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("_dev") * 1000L > lit(threshMilli) * col("mad"), 1L)
          .otherwise(0L)).as("n_out"))
      .withColumnRenamed("_g", "group")
  }
}
