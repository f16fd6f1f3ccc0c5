package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output-manifest generation — the audit artifact a production sink
  * writes next to its data: one row per data file with its size, row
  * count, and an order-insensitive content checksum. Downstream
  * consumers (and re-runs) verify completeness against the manifest
  * instead of re-listing and re-counting the output, and a transfer
  * that dropped or truncated a file is caught per file without reading
  * the rest of the dataset.
  *
  * Scale shape: row counts and checksums come from ONE distributed scan
  * of the written output (`input_file_name` groupBy — map-side partial
  * aggregation, one shuffle of per-file partial rows); file sizes come
  * from a driver-side Hadoop FS listing (metadata RPCs only, no data
  * read). The manifest itself is per-file metadata — thousands of rows
  * even at 100 TB, trivially joinable and writable.
  */
object Manifest {

  /** Manifest for a parquet output directory: one row per data file,
    * `(file, bytes, n_rows, content_sum)` ordered by `file` — `file`
    * relative to `dir`, `content_sum` the XOR fold (`bit_xor`) of
    * per-row 60-bit md5 hashes of the JSON-rendered row. XOR makes the
    * checksum insensitive to row order WITHIN a file (parquet readers
    * split files into several tasks, and task order is not
    * deterministic) and overflow-free under ANSI mode; any changed row
    * flips it. (A row duplicated AND another dropped in the same file
    * can cancel in the XOR — `n_rows` changes unless the counts also
    * balance, which is outside what a per-file checksum defends.) */
  def forParquetDir(spark: SparkSession, dir: String): DataFrame =
    forDir(spark, spark.read.parquet(dir), dir)

  /** [[forParquetDir]] with EXTRA per-file aggregate columns appended —
    * for sinks whose summary statistics can ride the SAME single audit
    * scan instead of a second pass over the written data (the
    * trainingShards shape: per-file token sums + the file's partition
    * values make the per-shard summary a metadata-only rollup of the
    * manifest). Extras see the written files' rows (data + partition
    * columns); each must be an aggregate expression. Extra fields land
    * in the `_manifest.jsonl` too (via [[writeForParquetDirWith]]) —
    * harmless to [[verifyParquetDir]], which selects its four audit
    * fields by name. */
  def forParquetDirWith(
      spark: SparkSession, dir: String,
      extras: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    forDir(spark, spark.read.parquet(dir), dir, extras)

  /** [[forParquetDir]] for a TEXT output directory (the RDF / schema
    * sinks' format — gzip included; partition dirs like `lang=` become
    * columns and participate in the content hash). Same manifest shape,
    * same audit semantics. */
  def forTextDir(spark: SparkSession, dir: String): DataFrame =
    forDir(spark, spark.read.text(dir), dir)

  private def forDir(
      spark: SparkSession, df: DataFrame, dir: String,
      extras: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty): DataFrame = {
    val rowHash = conv(
      substring(md5(to_json(struct(df.columns.map(col): _*))), 1, 15), 16, 10)
      .cast("long")
    // input_file_name() yields the URI form ("file:///tmp/x%20y/part.pq",
    // "hdfs://nn/path"); decode through java.net.URI so a space or `%` in
    // a user-supplied directory joins against the FS listing's DECODED
    // path instead of reading as missing+extra false alarms. (url_decode
    // would also turn a literal `+` into a space — URI.getPath does not.)
    // The udf runs on the per-file POST-aggregation frame, never per row.
    val uriPath = udf((s: String) => new java.net.URI(s).getPath)
    val extraAggs = extras.map { case (name, c) => c.as(name) }
    val stats = df
      .withColumn("_file", input_file_name())
      .withColumn("_rh", rowHash)
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("n_rows"),
        (expr("bit_xor(_rh)").as("content_sum") +: extraAggs): _*)
      .withColumn("_path", uriPath(col("_file")))
    val base = {
      val p = new Path(dir).toUri.getPath
      if (p.endsWith("/")) p else p + "/"
    }
    val sizes = {
      val rows = listDataFiles(spark, dir)
      spark.createDataFrame(rows).toDF("_path", "bytes")
    }
    // LEFT join FROM the FS listing: a data file contributing ZERO rows
    // to the scan has no stats group, but must still get a manifest/audit
    // row (n_rows = 0, content_sum = 0 — the XOR identity) or a dropped-
    // in zero-row parquet file would be invisible to verifyParquetDir.
    sizes
      .join(stats, Seq("_path"), "left")
      .select(Seq(
        regexp_replace(col("_path"), "^" + java.util.regex.Pattern.quote(base), "")
          .as("file"),
        col("bytes"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("content_sum"), lit(0L)).as("content_sum")) ++
        extras.map { case (name, _) => col(name) }: _*)
      .orderBy(col("file"))
  }

  /** Recursive data-file listing (driver-side FS metadata only):
    * (absolute path, bytes); hidden and `_SUCCESS`-style files skipped. */
  private[graft] def listDataFiles(
      spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[(String, Long)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (!st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        out += ((st.getPath.toUri.getPath, st.getLen))
    }
    walk(path)
    out.result()
  }

  /** The restore-side half of the audit: verify a parquet directory
    * against its own `_manifest.jsonl` (written by
    * [[writeForParquetDir]] before the transfer/restore being checked).
    * Returns one row per file union-ed across both sides, `status` one
    * of `ok` / `missing` (in manifest, not on disk) / `extra` (on disk,
    * not in manifest) / `bytes_mismatch` / `rows_mismatch` /
    * `content_mismatch`, with the expected/actual triples alongside —
    * `WHERE status <> 'ok'` is the alarm list, empty = verified.
    *
    * The manifest is read as RAW lines through Hadoop FS (its
    * underscore prefix hides it from Spark's path readers by design);
    * the live side is ONE distributed scan ([[forParquetDir]]). Both
    * frames are per-file metadata, so the full-outer join is trivial at
    * any corpus size. What it defends: dropped/extra/truncated-but-
    * readable files, any changed row (via the XOR content sum), row
    * drops/duplications (via counts). A file truncated into parquet
    * UNREADABILITY fails the scan itself — also a detection, just not a
    * per-file status row. */
  def verifyParquetDir(spark: SparkSession, dir: String): DataFrame =
    verifyDir(spark, dir, forParquetDir)

  /** [[verifyParquetDir]] for a TEXT output directory (pairs with
    * [[writeForTextDir]]). */
  def verifyTextDir(spark: SparkSession, dir: String): DataFrame =
    verifyDir(spark, dir, forTextDir)

  private def verifyDir(
      spark: SparkSession, dir: String,
      scan: (SparkSession, String) => DataFrame): DataFrame = {
    import spark.implicits._
    // an audit must see the CURRENT disk state: invalidate anything the
    // session cached over this path (a relation cached before the
    // transfer would otherwise serve pre-transfer data to the scan)
    spark.catalog.refreshByPath(dir)
    val path = new Path(dir, "_manifest.jsonl")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"verifyParquetDir: no _manifest.jsonl under $dir")
    val in = fs.open(path)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toVector
      finally in.close()
    val expected = spark.read.json(spark.createDataset(lines))
      .select(col("file"),
        col("bytes").cast("long").as("exp_bytes"),
        col("n_rows").cast("long").as("exp_rows"),
        col("content_sum").cast("long").as("exp_sum"))
    val actual = scan(spark, dir)
      .select(col("file"),
        col("bytes").as("act_bytes"),
        col("n_rows").as("act_rows"),
        col("content_sum").as("act_sum"))
    expected.join(actual, Seq("file"), "full_outer")
      .withColumn("status",
        when(col("exp_bytes").isNull, lit("extra"))
          .when(col("act_bytes").isNull, lit("missing"))
          .when(col("exp_bytes") =!= col("act_bytes"), lit("bytes_mismatch"))
          .when(col("exp_rows") =!= col("act_rows"), lit("rows_mismatch"))
          .when(col("exp_sum") =!= col("act_sum"), lit("content_mismatch"))
          .otherwise(lit("ok")))
      .select(col("file"), col("status"), col("exp_bytes"), col("act_bytes"),
        col("exp_rows"), col("act_rows"), col("exp_sum"), col("act_sum"))
      .orderBy(col("file"))
  }

  /** Write the manifest as a single JSONL file `<dir>/_manifest.jsonl`
    * (underscore-prefixed: parquet readers of `dir` ignore it). Returns
    * the manifest that was written, as a local frame over the collected
    * rows: nothing is cached, so nothing is left to free, even when the
    * write throws. */
  def writeForParquetDir(spark: SparkSession, dir: String): DataFrame =
    writeManifest(spark, dir, forParquetDir)

  /** [[writeForParquetDir]] with [[forParquetDirWith]]'s extra per-file
    * aggregate columns — one scan yields both the audit artifact and the
    * sink's summary inputs. */
  def writeForParquetDirWith(
      spark: SparkSession, dir: String,
      extras: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    writeManifest(spark, dir, forParquetDirWith(_, _, extras))

  /** [[writeForParquetDir]] for a TEXT output directory. */
  def writeForTextDir(spark: SparkSession, dir: String): DataFrame =
    writeManifest(spark, dir, forTextDir)

  private def writeManifest(
      spark: SparkSession, dir: String,
      scan: (SparkSession, String) => DataFrame): DataFrame = {
    val scanned = scan(spark, dir)
    val m = spark.createDataFrame( // per-file metadata: small by contract
      java.util.Arrays.asList(scanned.collect(): _*), scanned.schema)
    val lines = m.toJSON.collect()
    val path = new Path(dir, "_manifest.jsonl")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(path, true)
    try os.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally os.close()
    m
  }
}
