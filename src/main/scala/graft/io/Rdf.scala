package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PartitionedWrite._

/** RDF text sink/source: lines `"s p o ."` in gzip'd, lang-partitioned,
  * sorted text files.
  *
  * Reference behavior (DbpediaDgraphSparkApp.scala:491-542): drop predicates
  * containing `@`/`~` (not allowed by Dgraph), range-partition by
  * `(lang, p, s)` so each part file holds a contiguous predicate/subject
  * range, sort files by `p, s, o`, project to the single text line, gzip.
  * [[writeAll]] returns the *read-back* of the files just written, so
  * downstream consumers (the count-back audit) read materialized data
  * instead of recomputing the whole lineage — a deliberate
  * common-subexpression boundary that we keep: at 100 TB, re-running the
  * cleanup DAG for each downstream consumer would multiply the work, while
  * the re-read is a cheap columnar-less text scan of the (much smaller,
  * gzip'd) output.
  */
object Rdf {

  /** Predicates containing '@' or '~' are invalid downstream. */
  def validPredicates(df: DataFrame): DataFrame =
    df.where(!col("p").contains("@") && !col("p").contains("~"))

  /** The `"s p o ."` line projection — single definition shared by
    * [[line]] and [[writeAll]] so the format cannot diverge. */
  private def lineColumns: Seq[org.apache.spark.sql.Column] = Seq(
    concat(col("s"), lit(" "), col("p"), lit(" "), col("o"), lit(" .")).as("value"),
    col("lang"))

  /** Render one RDF line per triple: `s p o .` */
  def line(df: DataFrame): DataFrame = df.select(lineColumns: _*)

  /** Write datasets as RDF text in ONE Spark job — the stage-2 sink, one
    * range-shuffle and one publish for every dataset `ParquetToRdf.run`
    * writes (the seven cleaned datasets plus `types` and `external_ids`).
    * The reference pays one job boundary + one range-shuffle per dataset,
    * and small datasets underfill their tasks. Here every dataset's
    * cleaned triples union into a single range-shuffle on
    * `(dataset, lang, p, s)` (file sizes track the DATA distribution
    * across all datasets at once), gzip text lands under a staging dir
    * partitioned `dataset=<name>/lang=<code>`, and each `dataset=` dir is
    * FS-renamed (a metadata-only move) to `<name>.rdf/lang=<code>`, files
    * sorted by `(p, s, o)` (ParquetIOSpec).
    *
    * Each `dataset=` dir is published through [[Publish.publish]]: the
    * old output is set aside until the new data is in place, so a failed
    * job or rename leaves it readable (RdfFailureSpec, PublishSpec). A
    * dataset with no surviving rows gets no staging dir, and its existing
    * output is deleted — a rerun never reads back a PREVIOUS run's files
    * from the same path (the reference skips the write and would).
    * Returns the read-back per dataset. */
  def writeAll(
      named: Seq[(String, DataFrame)], outBase: String): Map[String, DataFrame] = {
    require(named.nonEmpty, "writeAll: no datasets given")
    require(named.map(_._1).distinct.size == named.size,
      "writeAll: dataset names must be unique")
    // names become `dataset=<name>` partition dirs and are renamed by
    // LITERAL path below — a name needing Hive escaping (space, '%', '=')
    // would be written escaped and missed by the rename
    named.foreach { case (name, _) =>
      require(name.matches("[A-Za-z0-9_.-]+"),
        s"writeAll: dataset name '$name' must be [A-Za-z0-9_.-]+")
    }
    val spark = named.head._2.sparkSession
    val tagged = named.map { case (name, df) =>
      validPredicates(df).select(
        lit(name).as("dataset"), col("s"), col("p"), col("o"), col("lang"))
    }.reduce(_.unionByName(_))
    val staging = new Path(s"$outBase/.rdf_fused_staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Publish.stage(fs, staging) {
      tagged.writePartitionedBy(Seq(col("dataset"), col("lang")), Seq(col("p"), col("s")),
          Seq(col("o")), Some(lineColumns :+ col("dataset")))
        .option("compression", "gzip")
        .text(staging.toString)
    }
    val out = named.map { case (name, _) =>
      val target = new Path(s"$outBase/$name.rdf")
      Publish.publish(fs, new Path(staging, s"dataset=$name"), target,
        new Path(s"$outBase/.rdf_old_$name"))
      name -> read(spark, target.toString)
    }.toMap
    fs.delete(staging, true) // _SUCCESS + any empty remnants
    out
  }

  /** Read RDF text back into `(s, p, o, lang)`.
    *
    * Native-expression parse (same rationale as [[Ttl.parse]]): strip the
    * trailing ` .`, split at the first two spaces. The reference does this
    * with a typed map over `(String, String)` (DbpediaDgraphSparkApp.scala:535);
    * we stay in codegen.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    if (ParquetIO.exists(spark, path)) {
      val spo = split(col("value").substr(lit(1), length(col("value")) - 2), " ", 3)
      spark.read.text(path)
        .select(
          element_at(spo, 1).as("s"),
          element_at(spo, 2).as("p"),
          element_at(spo, 3).as("o"),
          col("lang"))
    } else {
      ParquetIO.emptyTriples(spark)
    }
}
