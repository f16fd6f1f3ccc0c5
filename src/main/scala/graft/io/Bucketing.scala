package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed tables for shuffle-free co-located joins.
  *
  * Writing both sides of a recurring join bucketed (and sorted) by the join
  * key lets Spark plan a sort-merge join with NO exchange on either side —
  * the per-bucket files are already hash-partitioned identically. At 100 TB
  * this converts the dominant repeated cost (full shuffle of the fact
  * table per join) into a one-time layout cost at ingest.
  *
  * Bucketing requires the session catalog (`saveAsTable`); bucket count
  * should match the target parallelism (e.g. shuffle.partitions) and both
  * sides must agree on it.
  */
object Bucketing {

  /** Persist `df` as a bucketed, sorted catalog table. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** APPEND to an existing bucketed table with the same spec — the
    * refresh half of a standing-corpus table (nightly accepted rows fold
    * in without rewriting the corpus). Spark verifies the existing
    * table's bucketing spec matches and fails loudly on a mismatch; the
    * appended files are bucketed by the same hash, so reads stay
    * Exchange-free. */
  def appendBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Append)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
