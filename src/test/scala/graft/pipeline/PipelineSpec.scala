package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

/** End-to-end: micro ttl fixtures -> parquet -> cleaned RDF + schema files
  * (the reference's full two-stage pipeline at toy scale). */
class PipelineSpec extends SparkSpec {

  private def writeTtl(dir: Path, name: String, lines: Seq[String]): String = {
    val f = dir.resolve(name)
    Files.write(f, lines.mkString("", " .\n", " .\n").getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private val XsdInt = "^^<http://www.w3.org/2001/XMLSchema#integer>"

  test("ttl -> parquet -> rdf + schema end-to-end") {
    val tmp = Files.createTempDirectory("graft-e2e")
    val pq = tmp.resolve("parquet").toString
    val out = tmp.resolve("rdf").toString

    val label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    val sameAs = "<http://www.w3.org/2002/07/owl#sameAs>"
    val subject = "<http://purl.org/dc/terms/subject>"
    val wikiLink = "<http://dbpedia.org/ontology/wikiPageWikiLink>"
    val prefLabel = "<http://www.w3.org/2004/02/skos/core#prefLabel>"
    val point = "<http://www.georss.org/georss/point>"
    def de(r: String) = s"<http://de.dbpedia.org/resource/$r>"
    def fr(r: String) = s"<http://fr.dbpedia.org/resource/$r>"

    val fixtures: Seq[(String, Seq[(String, Seq[String])])] = Seq(
      "labels" -> Seq(
        "de" -> Seq(s"${de("A")} $label " + "\"Ah\"@de", s"${de("B")} $label " + "\"Beh\"@de"),
        "fr" -> Seq(s"${fr("A")} $label " + "\"Oh\"@fr")),
      "infobox_properties" -> Seq(
        "de" -> Seq(
          s"${de("A")} <http://de.dbpedia.org/property/pop> " + "\"5\"" + XsdInt,
          s"${de("B")} <http://de.dbpedia.org/property/pop> " + "\"7\"" + XsdInt,
          s"${de("B")} <http://de.dbpedia.org/property/pop> " + "\"unknown\""),
        "fr" -> Seq(s"${fr("A")} <http://fr.dbpedia.org/property/pop> " + "\"6\"" + XsdInt)),
      "interlanguage_links" -> Seq(
        "de" -> Seq(s"${de("A")} $sameAs ${fr("A")}",
          s"${de("A")} $sameAs <http://es.dbpedia.org/resource/A>")),
      "page_links" -> Seq(
        "de" -> Seq(s"${de("A")} $wikiLink ${de("B")}")),
      "article_categories" -> Seq(
        "de" -> Seq(s"${de("A")} $subject ${de("Kategorie:K")}")),
      "skos_categories" -> Seq(
        "de" -> Seq(s"${de("Kategorie:K")} $prefLabel " + "\"K\"@de")),
      "geo_coordinates" -> Seq(
        "de" -> Seq(s"${de("A")} $point " + "\"51.0 10.0\"")))

    fixtures.foreach { case (dataset, perLang) =>
      val langPaths = perLang.map { case (lang, lines) =>
        val d = Files.createDirectories(tmp.resolve(s"ttl/$dataset/$lang"))
        lang -> Seq(writeTtl(d, s"$dataset.ttl", lines))
      }
      val n = TtlToParquet.run(spark, langPaths, s"$pq/$dataset.parquet")
      assert(n === perLang.map(_._2.size).sum)
    }

    val counts = ParquetToRdf.run(spark, pq, out,
      RdfConfig(languages = Some(Seq("de", "fr")), writeTypes = true))

    assert(counts("labels") === 3)
    // infobox: string-typed minority row for pop(de) dropped by disambiguation
    assert(counts("infobox_properties") === 3)
    // interlang: es target outside selected languages dropped
    assert(counts("interlanguage_links") === 1)

    // written RDF is real text: check one full line
    val spark2 = spark
    import spark2.implicits._
    val labels = spark.read.textFile(s"$out/labels.rdf/lang=de").collect().sorted
    assert(labels.head ===
      "<http://de.dbpedia.org/resource/A> <http://www.w3.org/2000/01/rdf-schema#label> \"Ah\"@de .")

    // geo object was rewritten to escaped GeoJSON with lon/lat swap
    val geo = spark.read.textFile(s"$out/geo_coordinates.rdf/lang=de").collect().head
    assert(geo.contains("\\\"coordinates\\\":[10.0,51.0]"))

    // schema files: infobox predicate typed int, indexed variant has @index
    val schema = spark.read.textFile(s"$out/schema.dgraph/dataset=infobox_properties/lang=de")
      .collect()
    assert(schema.contains("<http://de.dbpedia.org/property/pop>: int ."))
    val indexed = spark.read.textFile(s"$out/schema.indexed.dgraph/dataset=infobox_properties/lang=de")
      .collect()
    assert(indexed.contains("<http://de.dbpedia.org/property/pop>: int @index(int) ."))

    // types.rdf assigns Article to subjects
    val types = spark.read.textFile(s"$out/types.rdf/lang=de").collect()
    assert(types.contains(
      "<http://de.dbpedia.org/resource/A> <dgraph.type> \"Article\" ."))

    // manifest audit: same counts as the count-back path (equivalence),
    // plus a persisted per-file artifact every sink dir verifies against
    val counts2 = ParquetToRdf.run(spark, pq, out,
      RdfConfig(languages = Some(Seq("de", "fr")), writeTypes = true,
        writeManifests = true))
    assert(counts2 === counts)
    assert(counts.size === 7, counts.keySet) // types.rdf is written, not counted
    for (d <- Seq("labels.rdf", "geo_coordinates.rdf", "types.rdf", "schema.dgraph",
        "schema.indexed.dgraph")) {
      assert(new java.io.File(s"$out/$d/_manifest.jsonl").exists(), d)
      val bad = graft.io.Manifest.verifyTextDir(spark, s"$out/$d")
        .where(org.apache.spark.sql.functions.col("status") =!= "ok").count()
      assert(bad === 0L, d)
    }
    // the manifest is invisible to the sinks' own readers
    assert(spark.read.textFile(s"$out/labels.rdf").count() === counts("labels"))
  }

  test("ParquetToRdf.run frees its caches, also when it throws") {
    val tmp = Files.createTempDirectory("graft-e2e-cache")
    val pq = tmp.resolve("parquet").toString
    val label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    val pop = "<http://de.dbpedia.org/property/pop>"
    def de(r: String) = s"<http://de.dbpedia.org/resource/$r>"
    Seq(
      "labels" -> Seq(s"${de("A")} $label " + "\"Ah\"@de"),
      "infobox_properties" -> Seq(s"${de("A")} $pop " + "\"5\"" + XsdInt,
        s"${de("B")} $pop " + "\"x\"")
    ).foreach { case (dataset, lines) =>
      val d = Files.createDirectories(tmp.resolve(s"ttl/$dataset/de"))
      TtlToParquet.run(spark, Seq("de" -> Seq(writeTtl(d, s"$dataset.ttl", lines))),
        s"$pq/$dataset.parquet")
    }
    // the top-k table, the winning types and the schema relation are each
    // cached while the call runs; none may outlive it
    val cfg = RdfConfig(writeTypes = true)
    val before = materializations
    val counts = ParquetToRdf.run(spark, pq, tmp.resolve("rdf").toString, cfg)
    assert(counts("infobox_properties") === 1)
    assert(materializations === before)
    // an output path under a regular file fails the first write, the
    // schema files, after all three caches were made
    val blocker = Files.write(tmp.resolve("blocker"), Array[Byte](1))
    intercept[Exception](ParquetToRdf.run(spark, pq, blocker.resolve("rdf").toString, cfg))
    assert(materializations === before)
  }

  test("externalised-uris pipeline: blank nodes, xids, stripped lang tags") {
    val tmp = Files.createTempDirectory("graft-e2e-ext")
    val pq = tmp.resolve("parquet").toString
    val out = tmp.resolve("rdf").toString
    val label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    val a = "<http://de.dbpedia.org/resource/A>"

    val d = Files.createDirectories(tmp.resolve("ttl/labels/de"))
    val path = writeTtl(d, "labels.ttl", Seq(s"$a $label " + "\"Ah\"@de"))
    TtlToParquet.run(spark, Seq("de" -> Seq(path)), s"$pq/labels.parquet")

    // languages = None: the zero-config path — object languages come from
    // the lang= partition-directory listing (empty here: no interlanguage
    // dataset on disk at all, which must not fail the run)
    ParquetToRdf.run(spark, pq, out,
      RdfConfig(languages = None,
        externaliseUris = true, removeLanguageTags = true))

    val spark2 = spark
    import spark2.implicits._
    // md5("<http://de.dbpedia.org/resource/A>") pins the blank node id
    val md5A = java.security.MessageDigest.getInstance("MD5")
      .digest(a.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val labels = spark.read.textFile(s"$out/labels.rdf/lang=de").collect()
    assert(labels.contains(s"_:$md5A $label " + "\"Ah\" ."), labels.toSeq)
    val xids = spark.read.textFile(s"$out/external_ids.rdf/lang=de").collect()
    assert(xids.contains(s"_:$md5A <xid> " + "\"http://de.dbpedia.org/resource/A\" ."),
      xids.toSeq)
    // schema includes the xid predicate when uris are externalised
    val schema = spark.read.textFile(s"$out/schema.indexed.dgraph/dataset=external_ids/lang=any")
      .collect()
    assert(schema.contains("<xid>: string @index(exact) ."))
  }
}
