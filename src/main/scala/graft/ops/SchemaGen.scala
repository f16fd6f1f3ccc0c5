package graft.ops

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dgraph schema relation generation
  * (reference: DbpediaDgraphSparkApp.scala:263-330).
  *
  * The schema relation is `(dataset, p, lang, t, i)`: per predicate its
  * Dgraph data type `t` and index spec `i`. It unions a static per-dataset
  * predicate table with predicates *inferred from data* (the infobox
  * predicates joined with their most frequent RDF datatype).
  *
  * Spark-first difference: the reference maps RDF datatype -> Dgraph type ->
  * index spec with Scala-`Map` UDFs it must mark non-deterministic to avoid
  * double evaluation (reference :266-285). We use `element_at(typedLit(map))`
  * — a native expression that stays in whole-stage codegen and needs no
  * such workaround.
  */
object SchemaGen {

  /** RDF datatype -> Dgraph type (reference :266-272). */
  val dgraphDataTypes: Map[String, String] = Map(
    DataTypes.Uri -> "[uid]",
    "<http://www.w3.org/2001/XMLSchema#date>" -> "datetime",
    "<http://www.w3.org/2001/XMLSchema#double>" -> "float",
    "<http://www.w3.org/2001/XMLSchema#integer>" -> "int",
    "<http://www.w3.org/2001/XMLSchema#string>" -> "string")

  /** Dgraph type -> index spec (reference :277-285). */
  val dgraphIndices: Map[String, String] = Map(
    "uid" -> "@reverse",
    "[uid]" -> "@reverse",
    "datetime" -> "@index(day)",
    "float" -> "@index(float)",
    "int" -> "@index(int)",
    "string" -> "@index(fulltext)")

  def dgraphDataType(t: Column): Column = element_at(typedLit(dgraphDataTypes), t)

  def dgraphIndex(t: Column): Column = element_at(typedLit(dgraphIndices), t)

  /** Static predicates of the fixed-schema datasets (reference :292-314).
    * `langTag` reflects the removeLanguageTags flag: "" or " @lang". */
  def staticPredicates(spark: SparkSession, langTag: String): DataFrame = {
    import spark.implicits._
    Seq(
      ("labels", "<http://www.w3.org/2000/01/rdf-schema#label>", "any", s"string$langTag", "@index(fulltext)"),
      ("article_categories", "<http://purl.org/dc/terms/subject>", "any", "[uid]", "@reverse"),
      ("skos_categories", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "any", "uid", "@reverse"),
      ("skos_categories", "<http://www.w3.org/2004/02/skos/core#prefLabel>", "any", s"string$langTag", "@index(fulltext)"),
      ("skos_categories", "<http://www.w3.org/2004/02/skos/core#related>", "any", "[uid]", "@reverse"),
      ("skos_categories", "<http://www.w3.org/2004/02/skos/core#broader>", "any", "[uid]", "@reverse"),
      ("interlanguage_links", "<http://www.w3.org/2002/07/owl#sameAs>", "any", "[uid]", "@reverse"),
      ("page_links", "<http://dbpedia.org/ontology/wikiPageWikiLink>", "any", "[uid]", "@reverse"),
      ("geo_coordinates", "<http://www.georss.org/georss/point>", "any", "geo", "@index(geo)"))
      .toDF("dataset", "p", "lang", "t", "i")
  }

  /** The xid predicate row, unioned in when URIs are externalised
    * (reference :263). */
  def xidPredicate(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("external_ids", "<xid>", "any", "string", "@index(exact)"))
      .toDF("dataset", "p", "lang", "t", "i")
  }

  /** Infobox predicates with data-inferred type and index
    * (reference :316-323). `winningTypes` is [[TopK.argMaxPerGroup]] output
    * `(p, t)`; the join attaches the winning RDF type to every infobox
    * row, which also determines the observed `lang` set per predicate.
    *
    * Scale: `winningTypes` has one row per predicate — broadcast it; the
    * per-(dataset,p,lang,t,i) `distinct` is a partial-aggregated shuffle of
    * a relation bounded by #predicates x #languages, not by triple count. */
  def inferredInfoboxPredicates(infoboxTriples: DataFrame, winningTypes: DataFrame): DataFrame =
    infoboxTriples
      .join(broadcast(winningTypes), "p")
      .withColumn("t", dgraphDataType(col("t")))
      .withColumn("lang", Columns.predicateLang(col("lang")))
      .select(lit("infobox_properties").as("dataset"), col("p"), col("lang"),
        col("t"), dgraphIndex(col("t")).as("i"))
      .distinct()

  /** Full schema relation: static ++ inferred (++ xid), distinct, sorted
    * (reference :290-330). Small (≤ ~#predicates rows) — single file.
    *
    * The relation is persisted ([[Checkpoints.persist]]) under the
    * single-partition coalesce: both schema writes consume it (reference
    * :329-330), and without the cache the infobox join+distinct runs
    * twice. An open scope owns the cache; with none open it stays, since
    * `unpersist()` on the coalesced result cannot reach it. */
  def schema(
      spark: SparkSession,
      infoboxTriples: DataFrame,
      winningTypes: DataFrame,
      langTag: String = "",
      externaliseUris: Boolean = false): DataFrame = {
    import graft.core.Implicits._
    Checkpoints.persist(staticPredicates(spark, langTag)
      .unionByName(inferredInfoboxPredicates(infoboxTriples, winningTypes))
      .distinct()
      .when(externaliseUris).call(_.unionByName(xidPredicate(spark)))
      // explicit columns: the reference's bare .sort() is a no-op Catalyst
      // removes; sort for real so the relation honors the "sorted" contract
      .sort("dataset", "p", "lang", "t", "i"))
      .coalesce(1)
  }

  /** Render schema rows to text lines `<p>: t i .` — predicates containing
    * `@` or `~` are dropped (reference :333-346, 358-367). */
  def schemaLines(schema: DataFrame, indexed: Boolean): DataFrame = {
    val base = schema.where(!col("p").contains("@") && !col("p").contains("~"))
    val value =
      if (indexed) concat(col("p"), lit(": "), col("t"), lit(" "), col("i"), lit(" ."))
      else concat(col("p"), lit(": "), col("t"), lit(" ."))
    base.select(value.as("value"), col("dataset"), col("lang"))
  }
}
