package graft.io

import graft.core.Implicits._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import PartitionedWrite._

/** Language-partitioned Parquet triple storage.
  *
  * Write layout (reference: DbpediaToParquetSparkApp.scala:85-95,
  * README.md:175-181): `path/lang=<code>/part-*.parquet`, files
  * range-partitioned by `s`, rows sorted by `s, p, o` within files.
  *
  * Read side (reference: DbpediaDgraphSparkApp.scala:474-489) prunes
  * languages with an `isin` filter that Catalyst turns into hive partition
  * pruning — at 100 TB only the selected `lang=` directories are listed and
  * scanned.
  *
  * Scale fix over the reference: existence is checked through the Hadoop
  * `FileSystem`, not `java.io.File` (which is only correct on the local FS).
  */
object ParquetIO {

  val tripleSchema: StructType = StructType(Seq(
    StructField("s", StringType), StructField("p", StringType),
    StructField("o", StringType), StructField("lang", StringType)))

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Missing-input fallback: empty relation with the triple schema
    * (reference: DbpediaDgraphSparkApp.scala:485-488). */
  def emptyTriples(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tripleSchema)

  /** Read a triple dataset, substituting an empty relation when absent. */
  def readTriples(spark: SparkSession, path: String): DataFrame =
    if (exists(spark, path)) spark.read.parquet(path) else emptyTriples(spark)

  /** Read `base/<dataset>.parquet` with optional language pruning. */
  def readDataset(
      spark: SparkSession,
      base: String,
      dataset: String,
      languages: Option[Seq[String]] = None): DataFrame =
    readTriples(spark, s"$base/$dataset.parquet")
      .when(languages.isDefined)
      .call(_.where(col("lang").isin(languages.get: _*)))

  /** Distinct values of a hive partition column under `path`, read from
    * the directory NAMES — an O(#values) filesystem listing with zero data
    * scanned, vs the one-job `select(col).distinct()` alternative that
    * reads footers and partition metadata of every file. Valid because
    * [[writeTriples]] always lays datasets out as `path/lang=<code>/...`;
    * language codes need no hive unescaping. Missing path -> empty. */
  def partitionValues(spark: SparkSession, path: String, column: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(column + "="))
      .map(_.substring(column.length + 1))
      .sorted
  }

  /** Write triples partitioned by lang, range-partitioned by `s`, sorted
    * `s,p,o` within files. One shuffle; even file sizes under language skew.
    * Replaces `path` through [[Publish.replace]]: a failed rerun leaves the
    * old output readable. */
  def writeTriples(df: DataFrame, path: String): Unit =
    Publish.replace(df.sparkSession, path) { staging =>
      df.writePartitionedBy(Seq(col("lang")), Seq(col("s")), Seq(col("p"), col("o")))
        .parquet(staging)
    }
}
