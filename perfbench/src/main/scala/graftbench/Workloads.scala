package graftbench

import graft.SparkEntry
import graft.io.{Discovery, ParquetIO, Rdf, Ttl}
import graft.ops.{DataTypes, IdTypes, SchemaGen, TopK}
import graft.ops.ext.{Components, Contamination, Dedup, TextStats}
import graft.pipeline.{ParquetToRdf, RdfConfig, TtlToParquet}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable
import scala.util.Random

/** One benchmark workload: a closed loop of operations, each a call into
  * graft's public entry points. `exec` is the timed part of an operation;
  * the function it returns is the untimed follow-up (output check, release
  * of checkpoints) and throws if the output is wrong. */
trait Workload {
  def name: String

  /** Reads and verifies the generated inputs on a fresh session. */
  def load(spark: SparkSession): Unit

  /** The operations of round `k`, in the order they run; round -1 is the
    * untimed warm-up. */
  def ops(k: Int): Seq[String]

  /** With `check`, the follow-up also keeps the operation's outputs where
    * they can be compared with the expected ones. */
  def exec(spark: SparkSession, op: String, check: Boolean): () => Unit

  /** The workload's per-layer figures: from the traced round's spans, and
    * from its layer functions timed alone afterwards. */
  def layers(spark: SparkSession, round: Seq[Span], listener: SpanListener): Map[String, Double]

  /** Facts for the report that are not timings (sizes, counts). */
  def facts: Map[String, Any] = Map.empty
}

object Workload {
  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** `curate`: the five composed curation passes of `SparkEntry.queries`,
  * each built, planned and run into the `noop` sink, in a seed-shuffled
  * order per round. */
final class CurateWorkload(tables: String, seed: Long, out: String, tracer: Tracer,
    traced: Boolean) extends Workload {
  import Workload._

  val name = "curate"

  /** Most persisted RDDs an operation left behind after
    * `core.Checkpoints.release` (trace only). */
  var maxBlocksAfterRelease = 0

  def load(spark: SparkSession): Unit =
    require(spark.read.parquet(s"$tables/documents.parquet").count() > 0, "empty documents table")

  def ops(k: Int): Seq[String] = CurateWorkload.order(seed, k)

  /** Fingerprint of each pass's result in the warm-up round, whose output
    * is compared with the oracle; every timed run of the pass must
    * reproduce it, whatever ran before it in the seed's order. */
  private val checkedResult = mutable.Map.empty[String, String]

  def exec(spark: SparkSession, op: String, check: Boolean): () => Unit = {
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = tracer.span("SparkEntry.construct")(SparkEntry.queries(op)(spark, tables))
    if (traced) tracer.span("plans.plan")(df.queryExecution.executedPlan)
    tracer.span("exec")(noop(df))
    () => {
      val got = CurateWorkload.fingerprint(df.collect().toSeq)
      if (check) {
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$op")
        checkedResult(op) = got
      } else require(checkedResult.get(op).contains(got),
        s"$op: result $got differs from the checked warm-up result ${checkedResult.get(op)}")
      graft.core.Checkpoints.release(df)
      if (traced) maxBlocksAfterRelease = math.max(maxBlocksAfterRelease,
        spark.sparkContext.getPersistentRDDs.size - before)
    }
  }

  /** Construction and planning self times of the round's passes, and the
    * curation stages' ops.ext kernels, each alone on the documents table
    * with q73's benchmark split. */
  def layers(spark: SparkSession, round: Seq[Span], listener: SpanListener): Map[String, Double] = {
      val construct = round.filter(_.name == "SparkEntry.construct")
      val docs = spark.read.parquet(s"$tables/documents.parquet")
      val text = col("text")
      val pool = docs.where(col("doc_id") % 37 =!= 0)
      val bench = docs.where(col("doc_id") % 37 === 0)
      def layer(n: String)(df: => DataFrame): (String, Double) = {
        val t0 = System.nanoTime()
        tracer.span(s"ops.ext.$n")(noop(df))
        s"ops.ext.${n}_s" -> (System.nanoTime() - t0) / 1e9
      }
      val pairs = Dedup.lshCandidatePairs(Dedup.withMinhashSignature(pool, text, 2), "doc_id",
        Seq("mh0", "mh1"), maxBucketSize = Some(1000))
      Map(
        "SparkEntry.construct_s" -> construct.map(tracer.selfSeconds).sum,
        "SparkEntry.construct_jobs" -> listener.total(construct.map(_.id)).jobs.toDouble,
        "plans.plan_s" -> round.filter(_.name == "plans.plan").map(tracer.selfSeconds).sum,
        "core.blocks_after_release" -> maxBlocksAfterRelease.toDouble,
        layer("good_sources")(TextStats.goodSources(pool, text, "source", 20, 8100)),
        layer("exact_dup")(Dedup.exactDupGroups(pool, col("doc_id"), text)),
        layer("lsh_pairs")(pairs),
        layer("dedup_clusters")(Components.dedupClusters(pool, pairs, "doc_id")),
        layer("decontaminate")(Contamination.decontaminate(pool, text, "doc_id", bench, text, 8)))
  }
}

object CurateWorkload {
  val Passes = Seq("q73_curate", "q83_curate_gated", "q94_curate_best", "q127_curate_soft",
    "q139_curate_incremental")

  /** Round `k`'s pass order: a function of the seed alone; the warm-up
    * round (-1) runs them in the listed order. */
  def order(seed: Long, k: Int): Seq[String] =
    if (k < 0) Passes else new Random(seed * 7919 + k).shuffle(Passes)

  /** Row count and SHA-256 of the rows in result order. */
  def fingerprint(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes(StandardCharsets.UTF_8)))
    s"${rows.size}:${md.digest().map(b => f"$b%02x").mkString}"
  }
}

/** `etl`: the paper's two-stage batch job. Stage 1 converts each dataset's
  * ttl to language-partitioned parquet; stage 2 turns the parquet into
  * RDF text and Dgraph schema at the heaviest configuration. The warm-up
  * round runs the same calls restricted to two languages (a quarter of
  * the data; one alone would leave no interlanguage links) into its own
  * output tree. `triples` holds the generated count of
  * each `<dataset>/<lang>` slice. */
final class EtlWorkload(ttl: String, triples: Map[String, Long], out: String, tracer: Tracer)
    extends Workload {
  import Workload._

  val name = "etl"
  val Release = "release-bench"
  val Datasets = Seq("page_links", "infobox_properties", "labels", "article_categories",
    "interlanguage_links", "geo_coordinates", "skos_categories")
  val WarmLangs = Seq("es", "fr")
  private val pq = s"$out/parquet"
  private val rdf = s"$out/rdf"
  private val cfg = RdfConfig(languages = None, topInfoboxPropertiesPerLang = Some(100),
    externaliseUris = true, writeTypes = true)
  /** Stage-2 dataset counts and schema line counts of the first full pass;
    * every later pass must reproduce them. */
  var stage2: Option[Map[String, Long]] = None

  def load(spark: SparkSession): Unit = {
    val langs = Discovery.languages(spark, ttl, Release, "core")
    require(langs.sorted == Seq("de", "en", "es", "fr"), s"unexpected ttl languages $langs")
  }

  def ops(k: Int): Seq[String] = {
    val pass = Datasets.map("ingest/" + _) :+ "export"
    if (k < 0) pass.map("warm:" + _) else pass
  }

  def exec(spark: SparkSession, op: String, check: Boolean): () => Unit = {
    val warm = op.startsWith("warm:")
    val langs = if (warm) Some(WarmLangs) else None
    val base = if (warm) s"$out/warm" else out
    op.stripPrefix("warm:") match {
      case "export" =>
        val counts = tracer.span("pipeline.export")(
          ParquetToRdf.run(spark, s"$base/parquet", s"$base/rdf", cfg.copy(languages = langs)))
        () => {
          val seen = counts ++ Seq("schema.dgraph", "schema.indexed.dgraph")
            .map(d => d -> textLines(new File(s"$base/rdf/$d")))
          require(seen.values.forall(_ > 0), s"empty stage-2 output: $seen")
          if (!warm) {
            stage2.foreach(s => require(s == seen, s"stage-2 counts changed: $s -> $seen"))
            stage2 = Some(seen)
          }
        }
      case ingest =>
        val ds = ingest.stripPrefix("ingest/")
        val n = tracer.span("pipeline.ingest")(TtlToParquet.runDiscovered(
          spark, ttl, Release, "core", ds, s"$base/parquet/$ds.parquet", langs))
        val want = triples.collect { case (k, v) if k.startsWith(s"$ds/") &&
          langs.forall(_.contains(k.stripPrefix(s"$ds/"))) => v }.sum
        () => require(n == want, s"$op: stage 1 counted $n triples, generated $want")
    }
  }

  private def textLines(dir: File): Long = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    files(dir).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().count(_.nonEmpty).toLong finally src.close()
    }.sum
  }

  /** The stage spans of the traced pass, and each stage's layer functions
    * timed alone, in pipeline order, over the pass's stage-1 output. */
  def layers(spark: SparkSession, round: Seq[Span], listener: SpanListener): Map[String, Double] = {
    var acc = Seq("pipeline.ingest", "pipeline.export")
      .map(n => s"${n}_s" -> round.filter(_.name == n).map(_.seconds).sum).toMap
    def layer[A](n: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = tracer.span(n)(body)
      acc += (s"${n}_s" -> (acc.getOrElse(s"${n}_s", 0.0) + (System.nanoTime() - t0) / 1e9))
      r
    }
    val scratch = s"$out/layers"
    Datasets.foreach { ds =>
      val (main, _) = layer("io.discover") {
        Discovery.langPaths(spark, ttl, Release, "core", ds,
          Discovery.languages(spark, ttl, Release, "core"))
      }
      val parsed = main.map { case (l, paths) => Ttl.readLang(spark, l, paths) }.reduce(_ unionByName _)
      layer("io.ttl_parse")(noop(parsed))
      val cached = parsed.cache()
      cached.count()
      layer("io.parquet_write")(ParquetIO.writeTriples(cached, s"$scratch/$ds.parquet"))
      cached.unpersist(true)
    }
    def read(ds: String) = ParquetIO.readDataset(spark, pq, ds, None)
    val infobox = layer("ops.topk") {
      val all = read("infobox_properties")
      val top = TopK.filterToTopK(all, TopK.topKPredicatesPerLang(all, 100))
      noop(top)
      top
    }
    val (withTypes, winning) = layer("ops.datatypes") {
      val wt = DataTypes.withDataTypeExact(infobox)
      val win = DataTypes.mostFrequentTypePerPredicate(wt)
      noop(win)
      (wt, win)
    }
    layer("ops.schema") {
      val schema = SchemaGen.schema(spark, infobox, winning, " @lang", externaliseUris = true)
      noop(SchemaGen.schemaLines(schema, indexed = false))
      noop(SchemaGen.schemaLines(schema, indexed = true))
      schema.unpersist()
    }
    layer("ops.idtypes")(noop(IdTypes.rolesAggregate(spark, read("labels"), infobox,
      DataTypes.disambiguate(withTypes, winning), read("interlanguage_links"),
      read("page_links"), read("article_categories"), read("skos_categories"),
      read("geo_coordinates"))))
    layer("io.rdf_write")(Rdf.writeAll(Datasets.map(ds => ds -> read(ds)), s"$scratch/rdf"))
    val ttlBytes = dirBytes(new File(ttl))
    val rdfTriples = stage2.map(_.filter(kv => Datasets.contains(kv._1)).values.sum).getOrElse(0L)
    acc ++ Map(
      "io.parquet_bytes_per_ttl_byte" -> dirBytes(new File(pq)).toDouble / ttlBytes,
      "io.rdf_gz_bytes_per_triple" -> Datasets.map(ds => dirBytes(new File(s"$rdf/$ds.rdf"))).sum
        .toDouble / math.max(1L, rdfTriples))
  }

  override def facts: Map[String, Any] = Map(
    "ttl_bytes" -> dirBytes(new File(ttl)),
    "triples" -> triples.values.sum,
    "stage2" -> stage2.getOrElse(Map.empty))
}
