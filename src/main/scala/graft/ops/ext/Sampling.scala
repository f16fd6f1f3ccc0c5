package graft.ops.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * `rand()`-based sampling is non-reproducible across runs, engines, and
  * partition layouts; hash sampling keys each row's fate to its IDENTITY:
  * the same row is in or out of the sample no matter how the data is
  * partitioned, re-run, or which engine evaluates it (md5 is the same
  * everywhere — the property every other graft kernel already leans on).
  * This also gives consistent sampling ACROSS tables: sampling two tables
  * by the same join key yields matching rows, which `rand()` cannot do.
  *
  * Scale shape: a per-row predicate over a scan — map-side only, no
  * shuffle, pushdown-friendly for everything else in the plan.
  */
object Sampling {

  /** Uniform hash of a key into [0, 1): the first 8 md5 hex chars as an
    * unsigned 32-bit integer over 2^32. */
  def hashFraction(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("double") /
      lit(4294967296.0)

  /** Keep rows whose key hashes under `rate`. */
  def sampleByHash(df: DataFrame, key: Column, rate: Double): DataFrame =
    df.where(hashFraction(key) < rate)

  /** Deterministic train/val/test split: label each row by where its key
    * hash falls in the cumulative `fractions` ranges (fractions must sum
    * to <= 1; any remainder goes to the LAST label). Identity-keyed like
    * [[sampleByHash]], so membership is stable across runs, engines, and
    * repartitions — and two tables split on the same join key land their
    * matching rows in the same split. */
  def hashSplit(
      df: DataFrame,
      key: Column,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"hashSplit: fractions must be non-empty and sum to <= 1, got $fractions")
    val h = hashFraction(key)
    val cuts = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val labeled = fractions.map(_._1).zip(cuts).dropRight(1)
      .foldRight(lit(fractions.last._1): Column) { case ((label, cut), els) =>
        when(h < cut, label).otherwise(els)
      }
    df.withColumn("split", labeled)
  }

  /** The integer A-Res key derivation EVERY weighted sampler below
    * (flat, stratified window, stratified aggregate) shares — one
    * definition, so no two paths can rank differently. Adds `_w`
    * (weight, contract >= 1), `_u`/`_f` intermediates, and the ranking
    * key as `keyName`.
    *
    * Rows with a null id or null/invalid weight are EXCLUDED here: the
    * weights ≥ 1 contract makes them malformed, and without the filter
    * the paths would diverge on them — a null skey sorts NULLS FIRST
    * into the window sample and is silently skipped by the typed
    * aggregate. */
  private def withAresKey(
      df: DataFrame, idCol: String, weightCol: Column,
      seed: Long, keyName: String): DataFrame = {
    val u = conv(substring(md5(
      concat_ws("#", lit(seed.toString), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val fMax = Importance.flog2(1L << 46) // u folded into flog2's domain
    df
      .withColumn("_w", weightCol.cast("long")) // contract: weights >= 1
      .where(col(idCol).isNotNull && col("_w").isNotNull)
      .withColumn("_u", pmod(u, lit(1L << 46)))
      .withColumn("_f", Importance.flog2Col(col("_u") + 1L))
      .withColumn(keyName, expr(s"(($fMax - _f) * 1048576) div _w"))
  }

  /** Deterministic WEIGHTED sampling without replacement — the
    * quality-weighted subsample step (keep k documents with inclusion
    * odds ∝ weight: rarity score, curation weight, token count).
    * Efraimidis–Spirakis A-Res reservoir keys (item key `u^(1/w)`,
    * keep the k largest) made integer-exact: with `u` the 60-bit md5
    * of (seed, id) folded into flog2's domain (mod 2^46) and
    * F = flog2(2^46),
    *
    *   s = ((F − flog2(u + 1)) · 2^20) div w     (≈ −log2(u)/w scaled)
    *
    * and the sample is the k SMALLEST s (ties by id) — a monotone
    * transform of the A-Res key under Mitchell's piecewise-linear log2,
    * so the weighted-inclusion argument carries (approximately, as with
    * every fixed-point surrogate here), computed entirely in BIGINT so
    * both engines rank identically (a float `pow(u, 1/w)` would be
    * ulp-hazardous). Weights must be ≥ 1 (integer; scale fractional
    * quality weights up before calling).
    *
    * Scale shape: `s` is a map-side expression; the top-k is
    * `orderBy(...).limit(k)` = TakeOrderedAndProject — per-partition
    * heaps of k, one k-row collect to the driver-side final heap, no
    * global sort, no shuffle of the corpus. Like [[hashFraction]], the
    * outcome is a function of row identity + seed, reproducible across
    * runs, engines, and partition layouts. */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: Column,
      k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"weightedSample: k must be >= 1, got $k")
    withAresKey(df, idCol, weightCol, seed, "_s")
      .orderBy(col("_s").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("_w").as("weight"), col("_s").as("skey"))
  }

  /** Per-stratum [[weightedSample]] — exactly `k` weighted picks per
    * stratum (quality-weighted per-language subsampling, the
    * production combination of the exact-k and weighted samplers): the
    * same integer A-Res key, ranked within each stratum. The
    * per-stratum top-k is a rank window whose partial
    * `WindowGroupLimit` prunes beyond-rank rows BELOW the exchange
    * (the exact-k sampler's shape) — ~k rows per stratum per task
    * shuffle, never a stratum funnel of raw rows. */
  def weightedSampleStratified(
      df: DataFrame, idCol: String, stratumCol: String, weightCol: Column,
      k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"weightedSampleStratified: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val byStratum = Window.partitionBy(col("stratum"))
      .orderBy(col("skey").asc, col(idCol).asc)
    withAresKey(df, idCol, weightCol, seed, "skey")
      .withColumn("stratum", col(stratumCol).cast("string"))
      .withColumn("_rnk", row_number().over(byStratum))
      .where(col("_rnk") <= k)
      .select(col(idCol), col("stratum"), col("_w").as("weight"), col("skey"))
  }

  /** [[weightedSampleStratified]] through the exact
    * [[graft.functions.TopKByKeyAgg]] typed aggregate instead of the
    * rank window — identical output (same integer A-Res keys, same
    * numeric id tie-break; equivalence spec-gated), different physical
    * shape: the window path sorts within tasks, prunes with
    * `InferWindowGroupLimit`, then sorts again to rank; the aggregate
    * path keeps a k-entry heap per stratum in an `ObjectHashAggregate`
    * — NO sort anywhere before the ≤k-row-per-stratum explode, and the
    * only corpus-sized work is the map-side partial fold. Prefer this
    * form when strata are few and wide (the window's per-task sort is
    * pure overhead); the window form when `df` is already partitioned
    * by the stratum. Requires a BIGINT-castable id. */
  def weightedSampleStratifiedAgg(
      df: DataFrame, idCol: String, stratumCol: String, weightCol: Column,
      k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"weightedSampleStratifiedAgg: k must be >= 1, got $k")
    withAresKey(df, idCol, weightCol, seed, "skey")
      .withColumn("stratum", col(stratumCol).cast("string"))
      .groupBy(col("stratum"))
      .agg(graft.functions.TopKByKeyAgg.topKByKey(
        col("skey"), col(idCol).cast("long"), col("_w"), k).as("picks"))
      .select(col("stratum"), explode(col("picks")).as("e"))
      .select(col("e.id").as(idCol), col("stratum"),
        col("e.weight").as("weight"), col("e.skey").as("skey"))
  }

  /** Leakage-safe split: [[hashSplit]] keyed by the near-dup CLUSTER's
    * canonical id instead of the document's own — every member of a
    * cluster lands in the SAME split, so a training document's
    * near-duplicate can never sit in the eval split inflating the
    * number the split exists to measure (the within-corpus sibling of
    * benchmark decontamination: q59 guards against OUTSIDE overlap,
    * this guards the corpus's own train/eval cut). Input is a
    * clustered frame (`Components.dedupClusters` output or any
    * (id, canonical) mapping); singleton docs are their own canonical,
    * so un-clustered corpora degrade to plain [[hashSplit]].
    *
    * Map-side: the split is a hash of a column that already exists —
    * no join, no shuffle beyond what produced the clusters. */
  def clusterSafeSplit(
      clustered: DataFrame, canonicalCol: String,
      fractions: Seq[(String, Double)]): DataFrame =
    hashSplit(clustered, col(canonicalCol).cast("string"), fractions)

  /** Stratified sample: per-stratum rates (e.g. per language/source),
    * with `defaultRate` for strata not in the map — the downsample-the-
    * overrepresented-language step of corpus curation. */
  def stratifiedSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    val rateCol = coalesce(element_at(typedLit(rates), stratum), lit(defaultRate))
    df.where(hashFraction(key) < rateCol)
  }

  /** EXACTLY `k` rows per stratum (fewer when the stratum is smaller) —
    * the build-an-eval-set operation, where rate sampling's binomial
    * count jitter is exactly what you don't want. Rows are ranked within
    * each stratum by the identity hash (ties broken by the key string),
    * so the chosen k are a uniform, reproducible draw: stable across
    * runs, engines, and partitionings, and ADDING corpus rows only ever
    * swaps individual members (each new row either hashes into the top k
    * of its stratum or doesn't — no global reshuffle of the sample).
    *
    * Scale shape: one shuffle on the stratum; Spark 4's WindowGroupLimit
    * prunes beyond-rank-k rows map-side BEFORE the exchange, so the
    * shuffle carries ~k rows per (stratum × task), not the corpus.
    * Returns the input columns plus the BIGINT hash rank `smp_rank`
    * (1-based) — callers wanting a smaller cut filter on it for free.
    *
    * `key` must uniquely identify rows (a doc id): rows SHARING a key
    * value tie on both sort columns, and which of them takes the rank is
    * partition-order dependent — exactly the irreproducibility this
    * operator exists to rule out. */
  def stratifiedFixedK(
      df: DataFrame,
      key: Column,
      stratum: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"stratifiedFixedK: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratum)
      .orderBy(md5(key.cast("string")), key.cast("string"))
    df.withColumn("smp_rank", row_number().over(w).cast("long"))
      .where(col("smp_rank") <= k)
  }

  /** Token-budget data mixture: the "data mixing" step of a training run —
    * given per-source mixture weights and a total token budget, select a
    * reproducible subset of each source worth `floor(weight · budget)`
    * tokens. Sources absent from `weights` contribute nothing (a mixture
    * IS a whitelist). Within a source, rows are taken in identity-hash
    * order ([[stratifiedFixedK]]'s uniform draw) until the RUNNING token
    * total would still fit the source's budget — so the selected set is a
    * deterministic function of row identities alone: stable across runs,
    * engines, partitionings, and appends (a new row displaces at most the
    * tail of its own source's take).
    *
    * Counting the running total in TOKENS (not rows) is the point: mixture
    * weights in the literature (and loss accounting in training) are token
    * shares, and per-document token counts vary by orders of magnitude.
    *
    * Scale shape: one shuffle on `source`; the running sum is a window
    * cumulative sum over each source's hash-ordered stream (spill-safe
    * sort, no buffering of the partition); everything else is map-side.
    * The output keeps the input columns plus `mix_tokens` (the row's token
    * count) — callers re-aggregate for realized-share reporting.
    *
    * `key` must uniquely identify rows, for the same reason as
    * [[stratifiedFixedK]]. */
  def tokenBudgetMix(
      df: DataFrame,
      key: Column,
      source: Column,
      tokens: Column,
      totalBudget: Long,
      weights: Map[String, Double]): DataFrame = {
    require(totalBudget > 0, s"tokenBudgetMix: totalBudget must be > 0, got $totalBudget")
    require(weights.nonEmpty && weights.values.forall(w => w >= 0 && w <= 1),
      s"tokenBudgetMix: weights must be in [0, 1], got $weights")
    import org.apache.spark.sql.expressions.Window
    val budget = element_at(
      typedLit(weights.map { case (s, w) => s -> math.floor(w * totalBudget).toLong }),
      source)
    val w = Window.partitionBy(source)
      .orderBy(md5(key.cast("string")), key.cast("string"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the mixture IS a whitelist — filter BEFORE the window so unlisted
    // sources never reach the shuffle (pushes to the scan; with a
    // source-partitioned layout this is partition pruning). The budget
    // comparison would drop them anyway (element_at on a missing key is
    // NULL, and NULL <= cum filters), but only after shuffling them.
    df.where(source.isInCollection(weights.keys.toSeq))
      .withColumn("mix_tokens", tokens.cast("long"))
      .withColumn("_cum", sum(col("mix_tokens")).over(w))
      .where(col("_cum") <= budget)
      .drop("_cum")
  }

  /** Exact integer square root — `floor(√x)` with a ±1 correction step, so
    * the result is right even if the double `sqrt` rounds across an
    * integer (floor-of-double alone mis-rounds near perfect squares once
    * counts pass 2^52). Engine-exact: the same three-way CASE runs
    * verbatim in the oracle. */
  def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    when((s0 + 1) * (s0 + 1) <= x, s0 + 1)
      .when(s0 * s0 > x, s0 - 1)
      .otherwise(s0)
  }

  /** Temperature-balanced mixture: per-source token budgets proportional
    * to `√(source token count)` — the α = 0.5 sampling temperature that
    * upweights low-resource slices (multilingual pretraining's standard
    * rebalance; Conneau et al. 2020 use α = 0.3, T5 α ≈ 0.7 — 0.5 is the
    * exactly-computable point: [[isqrt]] keeps every budget INTEGER
    * arithmetic end to end, where a general `pow(n, α)` would hang the
    * gate on cross-engine float `pow`). Rows are then taken per source in
    * the same identity-hash order as [[tokenBudgetMix]], so the take is a
    * pure function of row identities.
    *
    * Fully distributed — no driver collect at all: source totals are a
    * #sources-row aggregate, the weight sum a one-row broadcast scalar,
    * and budgets broadcast back into the corpus join. One shuffle on
    * source for the window cumsum, same as tokenBudgetMix. */
  def temperatureMix(
      df: DataFrame,
      key: Column,
      source: Column,
      tokens: Column,
      totalBudget: Long): DataFrame = {
    require(totalBudget > 0, s"temperatureMix: totalBudget must be > 0, got $totalBudget")
    import org.apache.spark.sql.expressions.Window
    val totals = df.groupBy(source.as("_src"))
      .agg(sum(tokens.cast("long")).as("_n"))
      .select(col("_src"), isqrt(col("_n")).as("_w"))
    val wsum = totals.agg(sum(col("_w")).as("_wsum"))
    val budgets = totals.crossJoin(broadcast(wsum))
      .select(col("_src"),
        expr(s"${totalBudget}L * _w div _wsum").as("_budget"))
    val w = Window.partitionBy(source)
      .orderBy(md5(key.cast("string")), key.cast("string"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(budgets), source === col("_src"))
      .withColumn("mix_tokens", tokens.cast("long"))
      .withColumn("_cum", sum(col("mix_tokens")).over(w))
      .where(col("_cum") <= col("_budget"))
      .drop("_src", "_budget", "_cum")
  }

  /** Waterfilling token allocation — the UniMax-flavoured budget split
    * (Chung et al. 2023: cap every source at an equal share instead of
    * size-proportional sampling, so small sources are not starved and big
    * ones do not dominate): give every source an EQUAL number of tokens,
    * except sources too small to use their share, whose leftover is
    * redistributed equally among the rest. Closed form over capacities
    * sorted ascending: walking up, the first source whose capacity can
    * hold the equal share of what remains fixes the water level `T =
    * (budget - smaller capacities) div (#sources remaining)`, and every
    * source gets `min(capacity, T)` (all of them get their capacity when
    * even the largest cannot absorb its share, i.e. budget >= total). All
    * arithmetic BIGINT with integral division — engine-exact; flooring
    * only under-fills, so `sum(alloc) <= budget` always holds.
    *
    * Scale shape: one partial-aggregated shuffle reduces the corpus to a
    * #sources-row capacity table; the windows walk THAT — single-task but
    * bounded by source cardinality, the same trained-model-size bound as
    * [[tokenBudgetMix]]'s weight table, never by corpus size.
    *
    * Output: `(source, cap, alloc)`, caps/allocs BIGINT. */
  def waterfillAlloc(
      df: DataFrame,
      source: Column,
      tokens: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"waterfillAlloc: budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("cap"), col("source"))
    val all = Window.orderBy(col("cap"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.groupBy(source.as("source"))
      .agg(sum(tokens.cast("long")).as("cap"))
      .withColumn("_i", row_number().over(ord).cast("long"))
      .withColumn("_nsrc", count(lit(1)).over(all))
      .withColumn("_before",
        coalesce(sum(col("cap")).over(
          Window.orderBy(col("cap"), col("source"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // equal share of what remains if every source from here up took it
      .withColumn("_cand", expr(s"(${budget}L - _before) div (_nsrc - _i + 1)"))
      // the water level: the first row (capacity asc) whose capacity holds
      // its share — min-flagged-index then that row's share
      .withColumn("_mi", min(when(col("_cand") <= col("cap"), col("_i"))).over(all))
      .withColumn("_t", max(when(col("_i") === col("_mi"), col("_cand"))).over(all))
      .select(col("source"), col("cap"),
        when(col("_t").isNull, col("cap")) // budget >= total: everyone full
          .otherwise(least(col("cap"), col("_t"))).as("alloc"))
  }
}
