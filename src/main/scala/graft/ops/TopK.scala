package graft.ops

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Top-k / arg-max per group via window ranking.
  *
  * The canonical top-k shape of the engine (reference:
  * DbpediaDgraphSparkApp.scala:121-137, 206-217): count, rank with
  * `row_number` over a per-group window with a *deterministic tie-break*,
  * filter by rank, then semi-join the selection back against the fact
  * table.
  *
  * Scale notes (100 TB):
  *  - the ranked relation is an aggregate over (group, value) — orders of
  *    magnitude smaller than the fact table; Spark computes it with partial
  *    (map-side) aggregation, one shuffle on the group+value key, then one
  *    shuffle on the group key for the window.
  *  - the semi-join back is planned as a *broadcast* hash semi-join because
  *    the top-k side is tiny (k × #groups rows); AQE converts at runtime if
  *    static stats are missing. No shuffle touches the fact table.
  *  - persisting the top-k side ([[Checkpoints.persist]]) mirrors the
  *    reference's `.cache()` and avoids recomputation across the multiple
  *    actions that consume it.
  */
object TopK {

  /** Rank values per group by descending count with a deterministic
    * tie-break on the value itself, keep ranks <= k. */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[Column],
      valueCols: Seq[Column],
      k: Int,
      rankCol: String = "k"): DataFrame = {
    val w = Window.partitionBy(groupCols: _*)
      .orderBy(col("count").desc +: valueCols.map(_.asc): _*)
    df.groupBy(groupCols ++ valueCols: _*).count()
      .withColumn(rankCol, row_number().over(w))
      .where(col(rankCol) <= k)
  }

  /** Per-language top-k predicates of a triple table: `(p, lang)`
    * (reference: DbpediaDgraphSparkApp.scala:123-129). `en-*` languages are
    * excluded from the ranking. */
  def topKPredicatesPerLang(triples: DataFrame, k: Int): DataFrame =
    Checkpoints.persist(topKPerGroup(
      triples.where(!col("lang").contains("-")),
      groupCols = Seq(col("lang")),
      valueCols = Seq(col("p")),
      k = k)
      .select(col("p"), col("lang")))

  /** Keep only triples whose `(p, predicate-lang)` is in the top-k set;
    * `en-xx` rows match against the `en` ranking (reference:
    * DbpediaDgraphSparkApp.scala:131-137). Broadcast semi-join: the fact
    * side is never shuffled. */
  def filterToTopK(triples: DataFrame, topK: DataFrame): DataFrame =
    triples
      .withColumn("node-lang", Columns.predicateLang(col("lang")))
      .join(
        broadcast(topK.withColumn("node-lang", col("lang"))),
        Seq("p", "node-lang"),
        "left_semi")
      .drop("node-lang")

  /** Most frequent value per group (arg-max), tie-break on the value
    * (reference: DbpediaDgraphSparkApp.scala:206-212). */
  def argMaxPerGroup(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    topKPerGroup(df, Seq(groupCol), Seq(valueCol), k = 1)
      .select(groupCol, valueCol)

  /** Generic per-group arg-max over existing rows (no aggregation): keep the
    * first row of each group under `orderCols`. Same window shape as
    * [[topKPerGroup]] — callers must make `orderCols` a total order (add a
    * unique tie-break column) for deterministic results. */
  def argMaxRow(df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(groupCols: _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }
}
