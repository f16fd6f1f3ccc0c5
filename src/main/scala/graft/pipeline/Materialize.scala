package graft.pipeline

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Manifest
import graft.ops.ext.{Packing, TextStats}

/** The last mile of a training-data pipeline: turn a curated corpus into
  * on-disk training shards — deterministically shuffled, sequence-packed,
  * shard-partitioned, manifested. Everything upstream (dedup, gating,
  * decontamination) decides WHAT trains; this decides WHERE each document
  * lands, reproducibly: the same corpus, seed, and geometry always
  * produce byte-identical shard assignments (asserted in the spec via the
  * manifest's content checksums).
  *
  * Composition (each stage is an already-gated operator):
  *  1. [[Packing.shuffleOrder]] — seeded identity-hash global order, the
  *     corpus shuffle step (two-phase distributed rank, no global window);
  *  2. [[Packing.sequenceLayout]] — pack each stratum's token stream into
  *     `seqLen`-token sequences in that order (distributed prefix sum);
  *  3. shard id = `seq_first div seqsPerShard` — consecutive sequences
  *     form one shard, so a shard is a contiguous slice of the training
  *     stream and epoch ordering is just shard-id ordering;
  *  4. a `partitionBy(shard)` parquet write, rows sorted by position
  *     within each shard, plus the manifest sidecar
  *     ([[Manifest.writeForParquetDirWith]]).
  *
  * Scale shape: document text crosses exactly two exchanges — the join
  * attaching the shuffle order (id-keyed) and the shard-keyed write
  * repartition. The layout itself runs on narrow `(ord, stratum, n)`
  * rows; ONE scan of the written output yields both the manifest (with
  * per-file token sums and partition values as extra columns) and the
  * returned per-shard summary — a metadata-only rollup of the per-file
  * frame, no second pass over the shard tree (round 20; the old shape
  * re-read every shard for the n_tok sums the manifest didn't carry).
  */
object Materialize {

  /** Write `docs` as packed training shards under `outDir`; returns the
    * per-shard summary `(stratum, shard, n_docs, n_tokens)` ordered by
    * (stratum, shard). Shards are per-stratum: each stratum packs its
    * own token stream (the [[Packing.sequenceLayout]] contract), so a
    * multilingual corpus yields per-language shard sequences.
    *
    * `writeManifest` (default ON — the shards ARE the artifact a
    * transfer or restore touches) lands a `_manifest.jsonl` with
    * per-file row counts, order-insensitive content checksums, and
    * per-file token sums + partition values as extra fields;
    * [[Manifest.verifyParquetDir]] later audits a restored shard tree
    * per-file without re-reading row data. The manifest's per-shard-dir
    * row counts equal the returned summary's `n_docs` — spec-held
    * (MaterializeSpec), the same count-equivalence contract as the RDF
    * sinks' manifest audit — and the summary itself is rolled up FROM
    * the manifest scan (metadata-only, spec-held against a recount). */
  def trainingShards(
      docs: DataFrame, textCol: Column, idCol: String, stratumCol: String,
      seqLen: Long, seqsPerShard: Long, seed: Long,
      outDir: String, writeManifest: Boolean = true): DataFrame = Checkpoints.scoped {
    require(seqsPerShard >= 1,
      s"trainingShards: seqsPerShard must be >= 1, got $seqsPerShard")
    val spark = docs.sparkSession
    val base = docs
      .withColumn("_text", textCol)
      .withColumn("_n", TextStats.tokenCount(textCol).cast("long"))
      .select(col(idCol).cast("long").as("id"),
        col(stratumCol).cast("string").as("stratum"),
        col("_text").as("text"), col("_n").as("n_tok"))
    val order = Packing.shuffleOrder(docs, idCol, seed).select(col("id"), col("ord"))
    val withOrd = base.join(order, Seq("id"))
    val layout = Packing.sequenceLayout(
        withOrd.select(col("ord").as("id"), col("stratum"), col("n_tok")),
        "id", "stratum", "n_tok", seqLen)
      .select(col("id").as("ord"), col("seq_first"), col("seq_last"),
        col("off_start"), col("n_seqs"))
    withOrd.join(layout, Seq("ord"))
      .withColumn("shard", expr(s"seq_first div ${seqsPerShard}L"))
      .repartition(col("stratum"), col("shard"))
      .sortWithinPartitions(col("stratum"), col("shard"), col("ord"))
      .write.mode("overwrite").partitionBy("stratum", "shard").parquet(outDir)
    if (writeManifest) {
      // ONE scan of the written shards yields both the audit artifact
      // and the summary: the manifest's extra per-file columns carry the
      // file's partition values and token sum (a file lives in exactly
      // one (stratum, shard) dir, so first() is deterministic), and the
      // returned summary is a metadata-only rollup of the per-file frame
      // — the old shape paid a SECOND scan of the shard tree for the
      // n_tok sums the manifest didn't carry. The summary checkpoint is
      // ≤ #shards rows.
      val m = Manifest.writeForParquetDirWith(spark, outDir, Seq(
        "stratum" -> first(col("stratum")),
        "shard" -> first(col("shard")),
        "n_tok_sum" -> sum(col("n_tok"))))
      Checkpoints.checkpoint(m
        .groupBy(col("stratum"), col("shard"))
        .agg(sum(col("n_rows")).as("n_docs"),
          coalesce(sum(col("n_tok_sum")), lit(0L)).as("n_tokens"))
        .orderBy(col("stratum"), col("shard")))
    } else spark.read.parquet(outDir)
      .groupBy(col("stratum"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("stratum"), col("shard"))
  }
}
