package graft.ops

import graft.core.Implicits._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-dataset triple cleanup transforms
  * (reference: DbpediaDgraphSparkApp.scala:180-260).
  *
  * Each transform is a pure `DataFrame => DataFrame` over `(s, p, o, lang)`;
  * config flags select stages via the fluent conditional. All stages are
  * native-expression projections — one codegen pass per dataset, no
  * shuffles except where aggregation is inherent (datatype disambiguation).
  */
object Cleanup {

  val SkosPrefLabel = "<http://www.w3.org/2004/02/skos/core#prefLabel>"

  /** labels: optional blank-node subjects, optional language-tag strip
    * (reference :181-185). */
  def labels(df: DataFrame, externaliseUris: Boolean, removeLanguageTags: Boolean): DataFrame =
    df.when(externaliseUris).call(_.withColumn("s", Columns.blank("s")))
      .when(removeLanguageTags).call(_.withColumn("o", Columns.removeLangTag(col("o"))))

  /** infobox: winning-type disambiguation, negative date filter, object
    * re-rendering, optional blank nodes (reference :199-222), over the
    * [[DataTypes.withDataTypeExact]] rows and their winning types, which
    * the caller computes once and shares with schema inference. Returns
    * `(s, p, o, lang)`.
    *
    * Scale: the winning-type relation is one row per predicate — broadcast
    * into the semi join; the fact table is never shuffled. */
  def infoboxWith(withTypes: DataFrame, winning: DataFrame, externaliseUris: Boolean): DataFrame = {
    DataTypes.disambiguate(withTypes, winning)
      .when(externaliseUris).call(_.withColumn("s", Columns.blank("s")))
      .when(externaliseUris).call(_.withColumn("v",
        when(col("t") === DataTypes.Uri, Columns.blank(col("v"))).otherwise(col("v"))))
      .select(col("s"), col("p"),
        DataTypes.renderObject(col("v"), col("t")).as("o"), col("lang"))
  }

  /** interlanguage links / page links / article categories: optional blank
    * nodes on both ends (reference :225-240). */
  def uriPairs(df: DataFrame, externaliseUris: Boolean): DataFrame =
    df.when(externaliseUris).call(_.withColumn("s", Columns.blank("s")))
      .when(externaliseUris).call(_.withColumn("o", Columns.blank("o")))

  /** skos categories: prefLabel objects stay literal (lang-tag-stripped if
    * requested); everything else gets blank nodes (reference :243-247). */
  def skos(df: DataFrame, externaliseUris: Boolean, removeLanguageTags: Boolean): DataFrame =
    df.when(externaliseUris).call(_.withColumn("s", Columns.blank("s")))
      .when(externaliseUris).call(_.withColumn("o",
        when(col("p") === SkosPrefLabel, col("o")).otherwise(Columns.blank(col("o")))))
      .when(removeLanguageTags).call(_.withColumn("o",
        when(col("p") === SkosPrefLabel, Columns.removeLangTag(col("o"))).otherwise(col("o"))))

  /** geo coordinates: GeoJSON synthesis + optional blank subjects
    * (reference :250-260). */
  def geo(df: DataFrame, externaliseUris: Boolean): DataFrame =
    GeoJson.pointsToGeoJson(df)
      .when(externaliseUris).call(_.withColumn("s", Columns.blank("s")))
}
