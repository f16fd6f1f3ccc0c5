package graft.pipeline

import graft.core.Checkpoints
import graft.core.Implicits._
import graft.io.{ParquetIO, Rdf, Ttl}
import graft.io.PartitionedWrite._
import graft.ops._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
    printStats: Boolean = false,
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

  val datasetNames = Seq("labels", "interlanguage_links", "page_links",
    "article_categories", "skos_categories", "geo_coordinates", "infobox_properties")

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
        TopK.filterToTopK(allInfoboxTriples,
          Checkpoints.adopt(TopK.topKPredicatesPerLang(allInfoboxTriples, k)))
      case None => allInfoboxTriples
    }

    // cleanup transforms
    val labels = Cleanup.labels(labelTriples, cfg.externaliseUris, cfg.removeLanguageTags)
    val withTypes = DataTypes.withDataTypeExact(infoboxTriples)
    val winning = Checkpoints.adopt(DataTypes.mostFrequentTypePerPredicate(withTypes))
    val infobox = Cleanup.infoboxWith(withTypes, winning, cfg.externaliseUris)
    val interlang = Cleanup.uriPairs(interlangTriples, cfg.externaliseUris)
    val pageLinks = Cleanup.uriPairs(pageLinksTriples, cfg.externaliseUris)
    val categories = Cleanup.uriPairs(categoryTriples, cfg.externaliseUris)
    val skosCategories = Cleanup.skos(skosTriples, cfg.externaliseUris, cfg.removeLanguageTags)
    val geoCoordinates = Cleanup.geo(geoTriples, cfg.externaliseUris)

    // schema relation + files (reference :263-372)
    val langTag = if (cfg.removeLanguageTags) "" else " @lang"
    // SchemaGen.schema's plan, its cache owned here (both writes read it)
    val schema = Checkpoints.persist(SchemaGen.relation(
      spark, infoboxTriples, winning, langTag, cfg.externaliseUris)).coalesce(1)
    timed("schema files") {
      writeSchema(SchemaGen.schemaLines(schema, indexed = false), s"$outBase/schema.dgraph")
      writeSchema(SchemaGen.schemaLines(schema, indexed = true), s"$outBase/schema.indexed.dgraph")
    }

    // RDF writes with read-back (reference :401-407), FUSED: all seven
    // dataset sinks run as ONE job over a single range-shuffle (each
    // dataset's cleanup plan is a branch of the union — still evaluated
    // exactly once, inside this job) and land via metadata-only renames
    // (Rdf.writeAll). The per-dataset form paid seven job boundaries +
    // seven shuffles, with small datasets underfilling their tasks —
    // measured 22.0 s -> fused at the 2 GB protocol point (PLANS.md).
    // The trade: per-dataset wall-clock attribution collapses into one
    // phase line (per-dataset ROW counts survive in the audit below).
    val written = timed("write datasets (fused)") {
      Rdf.writeAll(Seq(
        "labels" -> labels,
        "infobox_properties" -> infobox,
        "interlanguage_links" -> interlang,
        "page_links" -> pageLinks,
        "article_categories" -> categories,
        "skos_categories" -> skosCategories,
        "geo_coordinates" -> geoCoordinates), outBase)
    }

    // types + xids derive from ONE fused (s, lang) aggregation (IdTypes):
    // the legacy shape ran two global distincts over ~the same domain,
    // with the types pass re-reading every gzip file it had just written.
    // Output equality with the legacy operators is spec-asserted
    // (IdTypesSpec); when both sinks run, the shared aggregate is cached
    // across them for this block's scope.
    if (cfg.writeTypes || cfg.externaliseUris) Checkpoints.scoped {
      val agg = IdTypes.rolesAggregate(spark, labelTriples, infoboxTriples,
        DataTypes.disambiguate(withTypes, winning),
        interlangTriples, pageLinksTriples, categoryTriples, skosTriples, geoTriples)
      val shared = cfg.writeTypes && cfg.externaliseUris
      val aggP = if (shared) Checkpoints.persist(agg) else agg
      if (cfg.writeTypes) timed("write types") {
        Rdf.write(IdTypes.types(aggP, cfg.externaliseUris), s"$outBase/types.rdf")
      }
      if (cfg.externaliseUris) timed("write external_ids") {
        Rdf.write(IdTypes.xids(aggP), s"$outBase/external_ids.rdf")
      }
    }

    val counts = if (cfg.writeManifests) timed("manifest audit") {
      // one distributed scan per sink writes the per-file manifest AND
      // yields the dataset count (sum of per-file n_rows) — same audit
      // read the count-back does, but the artifact persists: a later
      // transfer/restore verifies per-file (Manifest.verifyTextDir)
      // without re-counting. An empty dataset deleted its dir (Rdf.write
      // contract) — it counts 0 and gets no manifest.
      Seq("schema.dgraph", "schema.indexed.dgraph").foreach { d =>
        val dir = s"$outBase/$d"
        if (dirExists(spark, dir))
          graft.io.Manifest.writeForTextDir(spark, dir)
      }
      written.map { case (name, _) =>
        val dir = s"$outBase/$name.rdf"
        name -> (if (!dirExists(spark, dir)) 0L
        else {
          graft.io.Manifest.writeForTextDir(spark, dir)
            .agg(coalesce(sum(col("n_rows")), lit(0L))).head().getLong(0)
        })
      }
    } else timed("count-back audit") {
      written.map { case (name, df) => name -> df.count() }
    }
    println(metrics.summary) // the reference's operational perf gauge
    counts
  }

  private def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
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
    * (reference :333-372). The relation is tiny — `coalesce(1)` is correct
    * at any scale. */
  private def writeSchema(lines: DataFrame, path: String): Unit =
    lines
      .coalesce(1)
      .writePartitionedBy(Seq(col("dataset"), col("lang")), Seq.empty, Seq(col("value")))
      .mode(SaveMode.Overwrite)
      .text(path)
}

/** The NIGHTLY-INGEST composition — the standing-corpus consumer of the
  * corpus-sig-table fast path ([[Curation.writeCorpusSigTables]] + the
  * table-backed [[Curation.curateIncremental]]): build the corpus's
  * signature tables ONCE, then run each night's batch against them,
  * optionally folding the accepted survivors' signatures back in so
  * tomorrow's batch also dedups against tonight's admissions.
  *
  * This is the shape that REALIZES the measured 1.5–1.85× nightly win
  * (PLANS.md round-19/20 corpus-sig-table measurements): the per-call
  * [[Curation.curateIncremental]] re-derives the corpus md5-distinct and
  * band-key frames every night (two full corpus scans + their
  * aggregation exchanges); here those legs are paid once at
  * [[buildTables]] time, and every nightly anti join reads Exchange-free
  * bucketed scans.
  *
  * Refresh cadence: [[runBatch]]'s `refreshTables` APPENDS the
  * survivors' (batch-sized) signature rows to the bucketed tables —
  * cheap, keeps the standing set current between rebuilds. Appended
  * band keys are new by construction for survivors (they passed the
  * band-key anti join), except under a capped oversized bucket, where a
  * duplicate key only costs the semi join a row (the
  * [[graft.ops.ext.Dedup.dedupAgainstCorpusKeys]] contract). Rebuild
  * with [[buildTables]] (SaveMode.Overwrite) when the corpus itself is
  * re-curated or compacted. */
object NightlyIngest {

  /** Pay the corpus legs once: persist the standing corpus's signature
    * side as bucketed catalog tables (see
    * [[Curation.writeCorpusSigTables]]). Also the REBUILD hook. */
  def buildTables(
      corpus: DataFrame, textCol: org.apache.spark.sql.Column,
      tablePrefix: String, numHashes: Int = 2,
      buckets: Int = 32): Curation.CorpusSigTables =
    Curation.writeCorpusSigTables(corpus, textCol, tablePrefix, numHashes, buckets)

  /** One night's run: curate `batch` against the standing tables
    * (identical output to the per-call [[Curation.curateIncremental]]
    * by construction — spec-held), then fold the accepted survivors'
    * signatures into the tables when `refreshTables`. Returns the
    * surviving batch rows (checkpoint-backed, the curate contract). */
  def runBatch(
      batch: DataFrame,
      tables: Curation.CorpusSigTables,
      textCol: org.apache.spark.sql.Column,
      idCol: String, sourceCol: String,
      benchmark: DataFrame,
      minDocs: Long = 20, minAlphaBp: Int = 8000,
      maxBucketSize: Int = 1000, n: Int = 8,
      refreshTables: Boolean = true): DataFrame = {
    val survivors = Curation.curateIncremental(batch, tables, textCol,
      idCol, sourceCol, benchmark, minDocs, minAlphaBp, maxBucketSize, n)
    // isEmpty on the checkpoint-backed survivors is a cheap short
    // circuit: an all-duplicate night must not write empty append files
    if (refreshTables && !survivors.isEmpty) {
      val mhCols = (0 until tables.numHashes).map(i => s"mh$i")
      graft.io.Bucketing.appendBucketed(
        survivors.select(md5(textCol).as("_h")),
        tables.hashesTable, "_h", tables.buckets)
      graft.io.Bucketing.appendBucketed(
        graft.ops.ext.Dedup.corpusBandKeys(
          graft.ops.ext.Dedup.withMinhashSignature(
            survivors, textCol, tables.numHashes), Seq(mhCols)),
        tables.bandsTable, "_band", tables.buckets)
    }
    survivors
  }

  /** The composed multi-night shape: build the tables from the standing
    * corpus, then run the batches in order. With `refreshTables` (the
    * default), batch `i+1` dedups against corpus + accepted(1..i) — the
    * continuously-fed pipeline's actual contract (an admitted document
    * must shield tomorrow's recrawl of it). Returns per-batch survivor
    * frames. */
  def run(
      corpus: DataFrame, batches: Seq[DataFrame],
      textCol: org.apache.spark.sql.Column,
      idCol: String, sourceCol: String,
      benchmark: DataFrame, tablePrefix: String,
      minDocs: Long = 20, minAlphaBp: Int = 8000,
      numHashes: Int = 2, maxBucketSize: Int = 1000, n: Int = 8,
      buckets: Int = 32, refreshTables: Boolean = true): Seq[DataFrame] = {
    val tables = buildTables(corpus, textCol, tablePrefix, numHashes, buckets)
    batches.map(b => runBatch(b, tables, textCol, idCol, sourceCol,
      benchmark, minDocs, minAlphaBp, maxBucketSize, n, refreshTables))
  }
}
