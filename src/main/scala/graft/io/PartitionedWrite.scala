package graft.io

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Dataset, Row}

/** Partitioned, sorted, evenly-sized file writing.
  *
  * Reimplements the semantics of spark-extension's
  * `Dataset.writePartitionedBy(partitionCols, moreFileCols, fileOrderCols,
  * partitions, projection)` the reference uses for every sink (reference:
  * DbpediaToParquetSparkApp.scala:85-95, PartitionSparkApp.scala:46-54,
  * DbpediaDgraphSparkApp.scala:500-516), minus the explicit `partitions`
  * count no graft sink sets: the range shuffle takes
  * `spark.sql.shuffle.partitions`. The expansion is exactly what the
  * reference's PartitionSparkApp demonstrates by hand:
  *
  *   repartitionByRange(partitionCols ++ moreFileCols)   // shuffle #1
  *     .sortWithinPartitions(all given columns)          // no extra shuffle
  *     .write.partitionBy(partitionCols)
  *
  * Scale design (100 TB): `repartitionByRange` samples range boundaries, so
  * partition sizes track the *data* distribution, not the key cardinality —
  * small languages get few files, large languages many, all roughly even.
  * The local sort is spill-safe (ExternalSorter) and gives sorted row groups
  * inside each file, which enables parquet min/max pruning on `s`/`p` for
  * downstream readers. Exactly one shuffle per write; no global sort.
  */
object PartitionedWrite {

  implicit class PartitionedWriter[T](val ds: Dataset[T]) extends AnyVal {

    /** @param partitionCols  hive-style directory partition columns (e.g. `lang`)
      * @param moreFileCols   extra range-partitioning columns: rows sharing
      *                       (partitionCols ++ moreFileCols) land in one file
      * @param fileOrderCols  additional within-file ordering columns
      * @param projection     optional final projection (must retain partitionCols)
      */
    def writePartitionedBy(
        partitionCols: Seq[Column],
        moreFileCols: Seq[Column] = Seq.empty,
        fileOrderCols: Seq[Column] = Seq.empty,
        projection: Option[Seq[Column]] = None): DataFrameWriter[Row] = {
      require(partitionCols.nonEmpty, "partitionCols must not be empty")
      val df: DataFrame = ds.toDF()
      val rangeCols = partitionCols ++ moreFileCols
      val sorted = df.repartitionByRange(rangeCols: _*)
        .sortWithinPartitions(rangeCols ++ fileOrderCols: _*)
      val projected = projection.map(p => sorted.select(p: _*)).getOrElse(sorted)
      // partitionBy needs names: require the partition columns to be plain
      // attribute references (they are, at every reference call site).
      val partitionNames = partitionCols.map(columnName)
      projected.write.partitionBy(partitionNames: _*)
    }
  }

  /** Name of a plain attribute-reference column (`$"lang"` -> "lang"). */
  private[graft] def columnName(c: Column): String = {
    val s = c.toString
    require(!s.exists(ch => ch == '(' || ch == ' '),
      s"partition column must be a plain attribute reference, got: $s")
    s.stripPrefix("`").stripSuffix("`")
  }
}
