package graft.pipeline

import graft.core.Checkpoints
import graft.core.Implicits._
import graft.io.{ParquetIO, Publish, Rdf, Ttl}
import graft.io.PartitionedWrite._
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline configuration (reference: DbpediaDgraphSparkApp.scala:42-63).
  *
  * `writeManifests`: land a `_manifest.jsonl` ([[graft.io.Manifest]])
  * inside every RDF dataset dir and both schema dirs, and derive the
  * audit counts from the manifests' per-file rows instead of a second
  * count — the audit becomes per-file and RESTARTABLE (a transfer or
  * restore later verifies against the manifest without re-counting the
  * corpus). Count equivalence with the count-back path is spec-held. */
case class RdfConfig(
    languages: Option[Seq[String]] = None,
    topInfoboxPropertiesPerLang: Option[Int] = Some(100),
    externaliseUris: Boolean = false,
    removeLanguageTags: Boolean = false,
    writeTypes: Boolean = false,
    writeManifests: Boolean = false)

/** Stage 1 — ttl -> language-partitioned parquet
  * (reference: DbpediaToParquetSparkApp.scala).
  *
  * One dataset at a time: per-language ttl reads, union, one range-shuffle
  * write with sorted files. The optional `enUris` branch re-reads English
  * ttl of a companion dataset tagged `en-<lang>` (reference :78-81).
  */
object TtlToParquet {

  def run(
      spark: SparkSession,
      langPaths: Seq[(String, Seq[String])],
      outPath: String,
      enUrisPaths: Seq[(String, Seq[String])] = Seq.empty): Long = {
    val frames = langPaths.map { case (lang, paths) => Ttl.readLang(spark, lang, paths) } ++
      enUrisPaths.map { case (lang, paths) => Ttl.readLang(spark, s"en-$lang", paths) }
    require(frames.nonEmpty, "TtlToParquet.run: no input ttl paths given")
    val all = frames.reduce(_.unionByName(_))
    ParquetIO.writeTriples(all, outPath)
    spark.read.parquet(outPath).count()
  }

  /** [[run]] with the language list and ttl paths auto-discovered from the
    * release directory tree ([[graft.io.Discovery]]) — the zero-config
    * entry point a user pointing the engine at a DBpedia release gets
    * (reference DbpediaToParquetSparkApp.scala:44-46: languages and
    * datasets default to directory listings). `langs = None` means "every
    * language present on disk". */
  def runDiscovered(
      spark: SparkSession,
      base: String, release: String, dataset: String,
      name: String,
      outPath: String,
      langs: Option[Seq[String]] = None): Long = {
    val languages = langs.getOrElse(graft.io.Discovery.languages(spark, base, release, dataset))
    val (main, enUris) =
      graft.io.Discovery.langPaths(spark, base, release, dataset, name, languages)
    // a typo'd dataset name would otherwise surface as a bare 'empty.reduce'
    require(main.nonEmpty,
      s"no ttl files found for dataset '$name' under $base/$release/$dataset " +
        s"(languages searched: ${languages.mkString(", ")})")
    run(spark, main, outPath, enUris)
  }
}

/** Stage 2 — parquet triples -> cleaned RDF text + Dgraph schema files
  * (reference: DbpediaDgraphSparkApp.scala — the main engine).
  *
  * Faithful re-composition of the reference program on the graft ops:
  * dataset reads with language pruning, per-dataset cleanup, schema
  * inference, RDF writes with read-back, optional xids and type triples.
  */
object ParquetToRdf {

  def run(spark: SparkSession, parquetBase: String, outBase: String,
      cfg: RdfConfig): Map[String, Long] = Checkpoints.scoped {
    // the scope frees the caches the ops below make (the top-k and
    // winning-type tables, the schema relation) when the call ends
    val metrics = graft.core.SpillMetrics.register(spark)
    val langs = cfg.languages

    def read(name: String): DataFrame = ParquetIO.readDataset(spark, parquetBase, name, langs)

    val labelTriples = read("labels")
    val allInfoboxTriples = read("infobox_properties")
    // object-language set from the lang= directory listing — no second
    // read of the dataset (the reference re-scans it for the distinct)
    val interlangTriples = read("interlanguage_links")
      .where(Columns.nodeLang(col("o")).isin(
        Languages.objectLanguages(langs, ParquetIO.partitionValues(
          spark, s"$parquetBase/interlanguage_links.parquet", "lang")): _*))
    val pageLinksTriples = read("page_links")
    val categoryTriples = read("article_categories")
    val skosTriples = read("skos_categories")
    val geoTriples = read("geo_coordinates")
      .where(col("p") === "<http://www.georss.org/georss/point>")

    // top-k infobox predicate selection (reference :121-137)
    val infoboxTriples = cfg.topInfoboxPropertiesPerLang match {
      case Some(k) =>
        TopK.filterToTopK(allInfoboxTriples, TopK.topKPredicatesPerLang(allInfoboxTriples, k))
      case None => allInfoboxTriples
    }

    // cleanup transforms
    val labels = Cleanup.labels(labelTriples, cfg.externaliseUris, cfg.removeLanguageTags)
    val withTypes = DataTypes.withDataTypeExact(infoboxTriples)
    val winning = DataTypes.mostFrequentTypePerPredicate(withTypes)
    val infobox = Cleanup.infoboxWith(withTypes, winning, cfg.externaliseUris)
    val interlang = Cleanup.uriPairs(interlangTriples, cfg.externaliseUris)
    val pageLinks = Cleanup.uriPairs(pageLinksTriples, cfg.externaliseUris)
    val categories = Cleanup.uriPairs(categoryTriples, cfg.externaliseUris)
    val skosCategories = Cleanup.skos(skosTriples, cfg.externaliseUris, cfg.removeLanguageTags)
    val geoCoordinates = Cleanup.geo(geoTriples, cfg.externaliseUris)

    // schema relation + files (reference :263-372)
    val langTag = if (cfg.removeLanguageTags) "" else " @lang"
    val schema = SchemaGen.schema(spark, infoboxTriples, winning, langTag, cfg.externaliseUris)
    timed("schema files") {
      writeSchema(SchemaGen.schemaLines(schema, indexed = false), s"$outBase/schema.dgraph")
      writeSchema(SchemaGen.schemaLines(schema, indexed = true), s"$outBase/schema.indexed.dgraph")
    }

    // types + xids derive from ONE fused (s, lang) aggregation over the
    // in-memory frames (IdTypes), not from a re-read of the written files.
    // Column pruning gives each consumer (one branch per type flag, plus
    // the xids) its own aggregate Exchange, so nothing reuses the
    // aggregate within the write's plan; the types alone read it three
    // times, so it is cached for the call (run's scope frees it).
    val idTypes = if (cfg.writeTypes || cfg.externaliseUris) {
      val agg = IdTypes.rolesAggregate(spark, labelTriples, infoboxTriples,
        DataTypes.disambiguate(withTypes, winning),
        interlangTriples, pageLinksTriples, categoryTriples, skosTriples, geoTriples)
      val aggP = if (cfg.writeTypes) Checkpoints.persist(agg) else agg
      (if (cfg.writeTypes) Seq("types" -> IdTypes.types(aggP, cfg.externaliseUris)) else Nil) ++
        (if (cfg.externaliseUris) Seq("external_ids" -> IdTypes.xids(aggP)) else Nil)
    } else Nil

    // RDF writes with read-back (reference :401-442), FUSED: every sink
    // runs as ONE job over a single range-shuffle (each dataset's plan is
    // a branch of the union — still evaluated exactly once, inside this
    // job) and lands via metadata-only renames with set-aside/restore
    // (Rdf.writeAll). The per-dataset form paid a job boundary + a shuffle
    // per sink, with small datasets underfilling their tasks — measured
    // 22.0 s -> fused at the 2 GB protocol point (PLANS.md). The trade:
    // per-dataset wall-clock attribution collapses into one phase line
    // (per-dataset ROW counts survive in the audit below).
    val datasets = Seq(
      "labels" -> labels,
      "infobox_properties" -> infobox,
      "interlanguage_links" -> interlang,
      "page_links" -> pageLinks,
      "article_categories" -> categories,
      "skos_categories" -> skosCategories,
      "geo_coordinates" -> geoCoordinates)
    val written = timed("write datasets (fused)") {
      Rdf.writeAll(datasets ++ idTypes, outBase)
    }

    // the audit counts the seven cleaned datasets; types and xids are
    // written, and manifested, but not counted
    val counts = if (cfg.writeManifests) timed("manifest audit") {
      // one distributed scan per sink dir writes the per-file manifest
      // AND yields the dataset count (sum of per-file n_rows) — same audit
      // read the count-back does, but the artifact persists: a later
      // transfer/restore verifies per-file (Manifest.verifyTextDir)
      // without re-counting. An empty dataset deleted its dir (writeAll
      // contract) — it counts 0 and gets no manifest.
      val manifests = (Seq("schema.dgraph", "schema.indexed.dgraph") ++
          written.keys.toSeq.map(_ + ".rdf"))
        .filter(d => ParquetIO.exists(spark, s"$outBase/$d"))
        .map(d => d -> graft.io.Manifest.writeForTextDir(spark, s"$outBase/$d"))
        .toMap
      datasets.map { case (name, _) =>
        name -> manifests.get(s"$name.rdf").fold(0L)(
          _.agg(coalesce(sum(col("n_rows")), lit(0L))).head().getLong(0))
      }.toMap
    } else timed("count-back audit") {
      datasets.map { case (name, _) => name -> written(name).count() }.toMap
    }
    println(metrics.summary) // the reference's operational perf gauge
    counts
  }

  /** Wall-clock per pipeline phase — the stage-level perf gauge
    * (the reference prints per-dataset stats; BASELINE.md's numbers are
    * stage wall-clocks, so phases are what a perf regression shows up in). */
  private def timed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[pipeline] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
    r
  }

  /** Schema text sink: single sorted file per (dataset, lang) partition
    * (reference :333-372), replacing `path` through [[Publish.replace]].
    * The relation is tiny — `coalesce(1)` is correct at any scale. */
  private[graft] def writeSchema(lines: DataFrame, path: String): Unit =
    Publish.replace(lines.sparkSession, path) { staging =>
      lines
        .coalesce(1)
        .writePartitionedBy(Seq(col("dataset"), col("lang")), Seq.empty, Seq(col("value")))
        .text(staging)
    }
}
