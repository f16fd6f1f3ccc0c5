package graft.ops

import graft.SparkSpec
import graft.io.Rdf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `<dgraph.type>` triple synthesis from the written RDF datasets
  * (reference: DbpediaDgraphSparkApp.scala:409-442).
  *
  * Runs over the *read-back* of the written RDF files (the deliberate
  * materialization boundary of [[graft.io.Rdf.writeAll]]) so the type rows
  * reflect exactly what was written, without recomputing the cleanup DAG.
  *
  * Test-local reference: the second pass that [[IdTypes]] fuses with the
  * xids, kept unchanged as the oracle of IdTypesSpec's equality test.
  */
object TypesGen {

  private def typed(df: DataFrame, typeName: String): DataFrame =
    df.withColumn("p", lit("<dgraph.type>"))
      .withColumn("o", lit("\"" + typeName + "\""))

  /** Article/Category/Concept type triples from the per-dataset RDF frames.
    *
    * One global `.distinct()` dedups everything (same single-Exchange
    * rationale as `uriOccurrences`: the final distinct's partial
    * HashAggregate already dedups every source map-side, so per-source
    * pre-distincts — the reference's shape, DbpediaDgraphSparkApp.scala:
    * 409-433 — would add 8 redundant shuffles). The type literal is
    * attached BEFORE the distinct so an s that is both an Article source
    * and a Category object keeps both type rows, exactly as the
    * reference's union-of-distincts produces. */
  def types(
      labelsRdf: DataFrame,
      infoboxRdf: DataFrame,
      interlangRdf: DataFrame,
      pageLinksRdf: DataFrame,
      categoryRdf: DataFrame,
      skosRdf: DataFrame,
      geoRdf: DataFrame): DataFrame = {
    val articles = Seq(
      labelsRdf.select(col("s"), col("lang")),
      infoboxRdf.select(col("s"), col("lang")),
      interlangRdf.select(col("s"), col("lang")),
      interlangRdf.select(col("o").as("s"), col("lang")),
      pageLinksRdf.select(col("s"), col("lang")),
      categoryRdf.select(col("s"), col("lang")),
      geoRdf.select(col("s"), col("lang")))
      .reduce(_.unionByName(_))
    val articleTypes = typed(articles, "Article")
    val categoryTypes = typed(categoryRdf.select(col("o").as("s"), col("lang")), "Category")
    val skosTypes = typed(skosRdf.select(col("s"), col("lang")), "Concept")
    articleTypes
      .unionByName(categoryTypes)
      .unionByName(skosTypes)
      .distinct()
      .select(col("s"), col("p"), col("o"), col("lang"))
  }
}

class IdTypesSpec extends SparkSpec {

  /** Gather distinct `(s, lang)` URI occurrences from the datasets.
    * Mirrors the reference's source list: subjects of all datasets, objects
    * of the link datasets, skos objects only for related/broader, plus the
    * static skos Concept URI. Test-local reference: the xid pass that
    * [[IdTypes]] fuses with the types, kept unchanged as the oracle of the
    * xid equality test. */
  private def uriOccurrences(
      spark: SparkSession,
      labels: DataFrame,
      infobox: DataFrame,
      interlang: DataFrame,
      pageLinks: DataFrame,
      categories: DataFrame,
      skos: DataFrame,
      geo: DataFrame): DataFrame = {
    import spark.implicits._
    val sources = Seq(
      labels.select(col("s"), col("lang")),
      infobox.select(col("s"), col("lang")),
      interlang.select(col("s"), col("lang")),
      interlang.select(col("o").as("s"), col("lang")),
      pageLinks.select(col("s"), col("lang")),
      pageLinks.select(col("o").as("s"), col("lang")),
      categories.select(col("s"), col("lang")),
      categories.select(col("o").as("s"), col("lang")),
      skos.select(col("s"), col("lang")),
      skos.where(col("p").isin(IdTypes.SkosRelated, IdTypes.SkosBroader)).select(col("o").as("s"), col("lang")),
      Seq((IdTypes.SkosConcept, "any")).toDF("s", "lang"),
      geo.select(col("s"), col("lang")))
    sources.reduce(_.unionByName(_)).distinct()
  }

  private def hashExchanges(df: DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString).length

  private def triples(rows: Seq[(String, String, String, String)]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("s", "p", "o", "lang")
  }

  // fixture with one victim per divergence channel between the legacy
  // passes: an invalid predicate (dropped by the writer, so NOT typed but
  // still an xid) and an infobox datatype-disambiguation loser (in the xid
  // domain but not in the written file's Article domain)
  private def fixture = {
    val spark2 = spark
    import spark2.implicits._
    def t(rows: (String, String, String)*): DataFrame =
      rows.map { case (s, p, o) => (s, p, o, "de") }.toDF("s", "p", "o", "lang")
    val intT = "<http://www.w3.org/2001/XMLSchema#integer>"
    (
      t(("<A>", "<http://www.w3.org/2000/01/rdf-schema#label>", "\"Ah\"@de"),
        ("<B>", "<bad@pred>", "\"invalid predicate\"")),
      // propA's winning type is integer: <E>'s string row loses and is
      // dropped from the written infobox file
      t(("<A>", "<propA>", "\"1\"^^" + intT),
        ("<F>", "<propA>", "\"2\"^^" + intT),
        ("<E>", "<propA>", "\"abc\"")),
      t(("<A>", "<owl#sameAs>", "<X>")),
      t(("<A>", "<linksTo>", "<D>")),
      t(("<A>", "<subject>", "<Cat1>")),
      t(("<Cat1>", IdTypes.SkosBroader, "<Cat2>"),
        ("<Cat1>", graft.ops.Cleanup.SkosPrefLabel, "\"lbl\"@de")),
      t(("<G>", "<http://www.georss.org/georss/point>", "\"1.0 2.0\"")))
  }

  private def collectSet(df: DataFrame): Set[(String, String, String, String)] = {
    val spark2 = spark
    import spark2.implicits._
    df.as[(String, String, String, String)].collect().toSet
  }

  test("fused xids equal the legacy uriOccurrences pass") {
    val (labels, infobox, interlang, pageLinks, categories, skos, geo) = fixture
    val withTypes = DataTypes.withDataTypeExact(infobox)
    val winning = DataTypes.mostFrequentTypePerPredicate(withTypes)
    val agg = IdTypes.rolesAggregate(spark, labels, infobox,
      DataTypes.disambiguate(withTypes, winning),
      interlang, pageLinks, categories, skos, geo)
    val legacy = IdTypes.xidTriples(uriOccurrences(spark,
      labels, infobox, interlang, pageLinks, categories, skos, geo))
    assert(collectSet(IdTypes.xids(agg)) === collectSet(legacy))
    // the invalid-predicate subject and the disambiguation loser ARE xids
    val ids = collectSet(IdTypes.xids(agg)).map(_._3)
    assert(ids.contains("\"B\"") && ids.contains("\"E\""), ids)
  }

  test("fused types equal TypesGen over the written files' read-back") {
    val (labels, infobox, interlang, pageLinks, categories, skos, geo) = fixture
    val withTypes = DataTypes.withDataTypeExact(infobox)
    val winning = DataTypes.mostFrequentTypePerPredicate(withTypes)
    val survivors = DataTypes.disambiguate(withTypes, winning)
    for (ext <- Seq(false, true)) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-idtypes-$ext").toString
      // the legacy path: clean, WRITE, and read back every dataset — the
      // materialization boundary the fused pass must reproduce exactly
      val cleaned = Seq(
        "labels" -> Cleanup.labels(labels, ext, removeLanguageTags = false),
        "infobox" -> Cleanup.infoboxWith(withTypes, winning, ext),
        "interlang" -> Cleanup.uriPairs(interlang, ext),
        "pageLinks" -> Cleanup.uriPairs(pageLinks, ext),
        "categories" -> Cleanup.uriPairs(categories, ext),
        "skos" -> Cleanup.skos(skos, ext, removeLanguageTags = false),
        "geo" -> Cleanup.geo(geo, ext)
      ).map { case (name, df) => name -> Rdf.writeAll(Seq(name -> df), tmp)(name) }.toMap
      val legacy = TypesGen.types(
        cleaned("labels"), cleaned("infobox"), cleaned("interlang"),
        cleaned("pageLinks"), cleaned("categories"), cleaned("skos"), cleaned("geo"))
      val agg = IdTypes.rolesAggregate(spark, labels, infobox, survivors,
        interlang, pageLinks, categories, skos, geo)
      val fused = collectSet(IdTypes.types(agg, ext))
      assert(fused === collectSet(legacy), s"externaliseUris=$ext")
      // divergence victims: B (invalid predicate) and E (disambiguation
      // loser) are absent from the type rows; the geo-only subject G is
      // typed Article
      def blankOf(u: String) = "_:" + java.security.MessageDigest.getInstance("MD5")
        .digest(u.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def sub(u: String) = if (ext) blankOf(u) else u
      val subjects = fused.map(_._1)
      assert(!subjects.contains(sub("<B>")), subjects)
      assert(!subjects.contains(sub("<E>")), subjects)
      assert(fused.contains((sub("<G>"), "<dgraph.type>", "\"Article\"", "de")))
    }
  }

  // the single-Exchange plan contract: the 13-source union dedups in ONE
  // shuffle — per-source pre-distincts would add an Exchange per source
  // for nothing, since the aggregate's partial HashAggregate dedups
  // map-side
  test("rolesAggregate dedups across sources in a single Exchange") {
    val spark2 = spark
    import spark2.implicits._
    val labels = triples(Seq(("<a>", "<l>", "\"x\"@de", "de")))
    val links = triples(Seq(("<a>", "<w>", "<b>", "de"), ("<a>", "<w>", "<b>", "de")))
    val empty = triples(Seq.empty)
    val agg = IdTypes.rolesAggregate(spark, labels, empty, empty, empty,
      links, empty, empty, empty)
    val got = agg.select("s", "lang").as[(String, String)].collect().toSet
    // <a> appears as labels-subject and twice as links-subject: once
    assert(got === Set(("<a>", "de"), ("<b>", "de"), (IdTypes.SkosConcept, "any")))
    assert(hashExchanges(agg) === 1, agg.queryExecution.executedPlan.toString)
  }

  test("xidTriples renders blank node + xid literal") {
    val spark2 = spark
    import spark2.implicits._
    val xid = IdTypes.xidTriples(Seq(("<http://x/A>", "de")).toDF("s", "lang"))
      .as[(String, String, String, String)].head()
    val md5A = java.security.MessageDigest.getInstance("MD5")
      .digest("<http://x/A>".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(xid === ((s"_:$md5A", "<xid>", "\"http://x/A\"", "de")))
  }

  test("types keeps both roles of a dual-typed node from one aggregate Exchange") {
    val spark2 = spark
    import spark2.implicits._
    // <c> is a category object AND a labels subject -> Article + Category
    val labels = triples(Seq(("<c>", "<l>", "\"x\"@de", "de")))
    val cats = triples(Seq(("<a>", "<s>", "<c>", "de"), ("<a>", "<s>", "<c>", "de")))
    val skos = triples(Seq(("<c2>", "<p>", "\"k\"@de", "de")))
    val empty = triples(Seq.empty)
    val agg = IdTypes.rolesAggregate(spark, labels, empty, empty, empty,
      empty, cats, skos, empty)
    val types = IdTypes.types(agg, externaliseUris = false)
    val got = types.select(col("s"), col("o")).as[(String, String)].collect().toSet
    assert(got === Set(
      ("<c>", "\"Article\""), ("<c>", "\"Category\""),
      ("<a>", "\"Article\""), ("<c2>", "\"Concept\"")))
    assert(hashExchanges(agg) === 1, agg.queryExecution.executedPlan.toString)
  }
}
