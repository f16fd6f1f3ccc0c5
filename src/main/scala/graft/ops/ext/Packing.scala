package graft.ops.ext

import graft.core.Checkpoints
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-budget sharding: pack documents, in a deterministic order, into
  * consecutive shards of ~`budget` tokens each (per stratum — e.g. per
  * language) — the step that turns a curated corpus into fixed-size
  * training shards.
  *
  * The naive formulation is a running sum over
  * `Window.partitionBy(stratum).orderBy(id)` — which funnels EVERY row of
  * a stratum through ONE task (a window partition is sorted and evaluated
  * on a single task). For a 100 TB corpus where one language is half the
  * data, that is the textbook scale-killer.
  *
  * This implementation computes the exact same prefix sum distributed,
  * with the classic two-phase scan:
  *
  *  1. range-repartition by `(stratum, id)` and sort within partitions —
  *     partition i holds a contiguous slice of the total order, and every
  *     partition is bounded by `partitions`, not by stratum size;
  *  2. one pass collects per-(partition, stratum) token totals — at most
  *     `partitions + #strata` rows, a driver-side bound like any
  *     aggregate-of-partitions;
  *  3. the driver prefixes those totals into per-(partition, stratum)
  *     offsets (tiny), broadcast back;
  *  4. a second pass over the SAME cached partitioning emits each row's
  *     exclusive running total = partition offset + local cumsum.
  *
  * The result is independent of the partitioning (a prefix sum over a
  * total order is well-defined), so the nondeterministic range-sampling
  * boundaries never show in the output — only `(stratum, id)` order does.
  */
object Packing {

  /** `(id, stratum, n, running, shard)` for every input row: `running` =
    * exclusive per-stratum prefix sum of `n` in `(stratum, id)` order,
    * `shard` = `running / budget` — rows sharing a shard id form one
    * ~budget-token training shard. */
  def tokenShards(
      df: DataFrame,
      idCol: String, stratumCol: String, nCol: String,
      budget: Long,
      partitions: Int = 0): DataFrame = Checkpoints.scoped {
    require(budget > 0, s"tokenShards: budget must be positive, got $budget")
    val spark = df.sparkSession
    import spark.implicits._

    val typed = df.select(
      col(idCol).cast("long").as("id"),
      col(stratumCol).cast("string").as("stratum"),
      col(nCol).cast("long").as("n"))
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    // cache the partitioned form: both passes MUST see the identical
    // range boundaries (range sampling is not deterministic across
    // separate executions of the same plan)
    val parts = Checkpoints.persist(typed
      .repartitionByRange(p, col("stratum"), col("id"))
      .sortWithinPartitions(col("stratum"), col("id"))
      .as[(Long, String, Long)])

    // pass 1: per-(partition, stratum) totals, in in-partition order
    val partTotals: Array[(Int, Seq[(String, Long)])] = parts
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (_, stratum, n) =>
          acc.update(stratum, acc.getOrElse(stratum, 0L) + n)
        }
        Iterator.single((pid, acc.toSeq))
      }
      .collect()

    // driver: prefix totals per stratum across partitions (partition ids
    // follow range order, so pid order == (stratum, id) order)
    val offsets: Map[(Int, String), Long] = {
      val running = scala.collection.mutable.Map.empty[String, Long]
      partTotals.sortBy(_._1).flatMap { case (pid, strata) =>
        strata.map { case (stratum, total) =>
          val before = running.getOrElse(stratum, 0L)
          running.update(stratum, before + total)
          ((pid, stratum), before)
        }
      }.toMap
    }
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    // pass 2: local exclusive cumsum + broadcast offset. The result is
    // EAGERLY local-checkpointed: the offsets are only valid for the exact
    // partitioning pass 1 saw, so the output must never be recomputed from
    // a re-sampled repartitionByRange — the checkpoint pins the values (and
    // turns a lost-block worst case into a loud failure instead of
    // silently wrong offsets), and the big input cache goes with the scope.
    Checkpoints.checkpoint(parts
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val local = scala.collection.mutable.Map.empty[String, Long]
        it.map { case (id, stratum, n) =>
          val before = local.getOrElse(stratum, 0L)
          local.update(stratum, before + n)
          val running = bcOffsets.value.getOrElse((pid, stratum), 0L) + before
          (id, stratum, n, running)
        }
      }
      .toDF("id", "stratum", "n", "running")
      // integral division, not double `/` + cast: running exceeds 2^53 on
      // a 100 TB corpus and the double quotient goes inexact right at the
      // shard boundaries
      .withColumn("shard", expr(s"running div ${budget}L")))
  }

  /** Reference formulation (window cumsum): identical output, but each
    * stratum funnels through a single task — test/oracle use only. */
  private[graft] def tokenShardsWindow(
      df: DataFrame, idCol: String, stratumCol: String, nCol: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("stratum")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(
        col(idCol).cast("long").as("id"),
        col(stratumCol).cast("string").as("stratum"),
        col(nCol).cast("long").as("n"))
      .withColumn("running", sum(col("n")).over(w) - col("n"))
      .withColumn("shard", expr(s"running div ${budget}L"))
  }

  /** Fixed-length training-sequence layout: pack each stratum's token
    * stream (documents concatenated in `(stratum, id)` order) into
    * length-`seqLen` sequences and report, per document, where it lands —
    * `seq_first`/`seq_last` (inclusive sequence indices), `off_start` (the
    * offset of its first token inside `seq_first`), and `n_seqs`. This is
    * the layout table a training-data writer materializes fixed-length
    * samples from: a document crossing a boundary is SPLIT across
    * consecutive sequences, the standard packed-pretraining contract
    * (boundaries later masked in attention; Raffel et al. 2020, §2.2
    * "packing").
    *
    * Same two-phase distributed prefix sum as [[tokenShards]] (never a
    * per-stratum window funnel) and the same integral-division contract:
    * `running` exceeds 2^53 on a 100 TB corpus, so every index is computed
    * with `div`/`%`, not double math. Zero-token documents occupy no
    * sequence: they report the boundary position they sit at
    * (`seq_first = seq_last = running div seqLen`, `off_start = running %
    * seqLen`) with `n_seqs = 0`. */
  def sequenceLayout(
      df: DataFrame,
      idCol: String, stratumCol: String, nCol: String,
      seqLen: Long,
      partitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"sequenceLayout: seqLen must be positive, got $seqLen")
    tokenShards(df, idCol, stratumCol, nCol, budget = seqLen, partitions)
      .withColumnRenamed("shard", "seq_first")
      .withColumn("seq_last",
        when(col("n") > 0, expr(s"(running + n - 1) div ${seqLen}L"))
          .otherwise(col("seq_first")))
      .withColumn("off_start", col("running") % seqLen)
      .withColumn("n_seqs",
        when(col("n") > 0, col("seq_last") - col("seq_first") + lit(1L))
          .otherwise(lit(0L)))
  }

  /** Materialized packed training sequences — [[sequenceLayout]] emits
    * the layout TABLE; this emits the SAMPLES: one row per
    * `seqLen`-token sequence of each stratum's packed token stream,
    * documents split at boundaries per the packed-pretraining contract
    * (the text a fixed-length training loader actually reads).
    *
    * Plan: the layout join ships each document's token array once; the
    * explode yields one row per (document × overlapped sequence) —
    * bounded by `total_tokens/seqLen + n_docs`, NOT quadratic — with
    * the piece slice computed map-side; the single (stratum, seq)
    * shuffle then assembles pieces, each group bounded by `seqLen`
    * tokens across its pieces (per-group state is capped by
    * construction, the opposite of an unbounded collect_list). Piece
    * order inside a sequence is pinned by the prefix-sum offset
    * (strictly increasing across a stratum's contributing docs), so
    * `sort_array` makes the assembly deterministic under any task
    * order.
    *
    * Output: `(stratum, seq_id, n_toks, text)`; every sequence holds
    * exactly `seqLen` tokens except each stratum's last. */
  def packedSequences(
      docs: DataFrame, textCol: Column, idCol: String, stratumCol: String,
      seqLen: Long, partitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"packedSequences: seqLen must be positive, got $seqLen")
    val toks = docs.select(
      col(idCol).cast("long").as("id"),
      col(stratumCol).cast("string").as("stratum"),
      Dedup.tokens(textCol).as("_toks"))
      .withColumn("_n", size(col("_toks")).cast("long"))
    val layout = sequenceLayout(
      toks.select(col("id"), col("stratum"), col("_n").as("n_tok")),
      "id", "stratum", "n_tok", seqLen, partitions)
      .select(col("id"), col("running"), col("seq_first"), col("seq_last"))
    val pieces = toks.where(col("_n") > 0)
      .join(layout, Seq("id"))
      .select(col("stratum"), col("running"), col("_toks"), col("_n"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .withColumn("_st", greatest(lit(0L), col("seq_id") * seqLen - col("running")))
      .withColumn("_en", least(col("_n"), (col("seq_id") + 1) * seqLen - col("running")))
      .select(col("stratum"), col("seq_id"), col("running"),
        slice(col("_toks"), (col("_st") + 1).cast("int"),
          (col("_en") - col("_st")).cast("int")).as("_piece"))
    pieces
      .groupBy(col("stratum"), col("seq_id"))
      .agg(sort_array(collect_list(struct(col("running"), col("_piece")))).as("_ps"))
      .select(col("stratum"), col("seq_id"),
        aggregate(col("_ps"), lit(0L),
          (acc, p) => acc + size(p.getField("_piece"))).as("n_toks"),
        array_join(flatten(transform(col("_ps"), _.getField("_piece"))), " ").as("text"))
  }

  /** Distributed global rank: every row's 1-based position in `(key, id)`
    * order (`key` descending when `desc`; `id` ascending breaks ties) —
    * the same two-phase scan as [[tokenShards]], never a single-task
    * global window. Partition i of the range layout holds a contiguous
    * slice of the total order, pass 1 collects one row count per
    * partition (a `partitions`-sized driver bound), pass 2 adds the
    * prefixed offsets to a local index. The output is pinned with an
    * eager local checkpoint for the same reason as [[tokenShards]]: the
    * offsets are only valid for the exact range boundaries pass 1 saw.
    *
    * Output: `(id, key, rank)`, all BIGINT. */
  def rankBy(
      df: DataFrame,
      idCol: String, keyCol: Column,
      desc: Boolean = false,
      partitions: Int = 0): DataFrame = Checkpoints.scoped {
    val spark = df.sparkSession
    import spark.implicits._
    val typed = df.select(
      col(idCol).cast("long").as("id"),
      keyCol.cast("long").as("key"))
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val ord =
      if (desc) Seq(col("key").desc, col("id").asc)
      else Seq(col("key").asc, col("id").asc)
    val parts = Checkpoints.persist(typed
      .repartitionByRange(p, ord: _*)
      .sortWithinPartitions(ord: _*)
      .as[(Long, Long)])

    val counts: Array[(Int, Long)] = parts
      .mapPartitions { it =>
        Iterator.single((TaskContext.getPartitionId(), it.size.toLong))
      }
      .collect()
    val offsets: Map[Int, Long] = {
      var running = 0L
      counts.sortBy(_._1).map { case (pid, c) =>
        val before = running; running += c; (pid, before)
      }.toMap
    }
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    Checkpoints.checkpoint(parts
      .mapPartitions { it =>
        val base = bcOffsets.value.getOrElse(TaskContext.getPartitionId(), 0L)
        var i = 0L
        it.map { case (id, key) => i += 1; (id, key, base + i) }
      }
      .toDF("id", "key", "rank"))
  }

  /** Serpentine (boustrophedon) shard balancing — the LPT-flavoured
    * alternative to [[tokenShards]]' contiguous cuts: rank documents by
    * token count DESCENDING and deal them out in snake order (0,1,…,S-1,
    * S-1,…,1,0, repeat), so every shard receives one document from each
    * size band and shard loads stay within one document of each other
    * even under heavy-tailed document sizes — where contiguous cuts put
    * all the giants in shard 0. The rank is [[rankBy]]'s distributed
    * two-phase scan; the snake assignment is per-row integer math on it.
    *
    * Output: `(id, n, rank, shard)`, all BIGINT. */
  def snakeShards(
      df: DataFrame,
      idCol: String, nCol: Column,
      numShards: Int,
      partitions: Int = 0): DataFrame = {
    require(numShards >= 1, s"snakeShards: numShards must be >= 1, got $numShards")
    val s = numShards.toLong
    rankBy(df, idCol, nCol, desc = true, partitions)
      .withColumnRenamed("key", "n")
      .withColumn("_r", expr(s"(rank - 1) % ${2 * s}L"))
      .withColumn("shard",
        when(col("_r") < s, col("_r")).otherwise(lit(2 * s - 1) - col("_r")))
      .drop("_r")
  }

  /** Deterministic global training order: every row's position under a
    * seeded identity-hash permutation — the corpus-shuffle step before
    * sequence packing, reproducible across runs, engines, and partition
    * layouts (same contract as [[Sampling.hashFraction]]: the order is a
    * function of row IDENTITY, not of physical layout or `rand()`). The
    * 60-bit md5 prefix is the sort key; the id itself breaks the
    * astronomically-unlikely ties. Same two-phase distributed rank as
    * [[rankBy]] — never a single-task window.
    *
    * Output: `(id, key, ord)` — `key` the hash sort key, `ord` the
    * 1-based position. */
  def shuffleOrder(df: DataFrame, idCol: String, seed: Long,
      partitions: Int = 0): DataFrame =
    rankBy(df, idCol,
      conv(substring(md5(concat_ws("#", lit(seed.toString), col(idCol).cast("string"))), 1, 15), 16, 10)
        .cast("long"),
      desc = false, partitions)
      .withColumnRenamed("rank", "ord")

  /** Length-bucketed batching report — the dynamic-padding training
    * loader's layout: documents are bucketed by token count (`bucket = n
    * div bucketWidth`), each bucket's documents are dealt, in id order,
    * into consecutive batches of `batchSize`, and every sequence in a
    * batch is padded to the batch's max length. The output is one row per
    * batch with its padding waste — the number a data engineer reads to
    * pick `bucketWidth` (waste falls as buckets narrow, batch-fill
    * falls as they over-narrow).
    *
    * The naive formulation ranks within each bucket via
    * `Window.partitionBy(bucket)` — a per-bucket single-task funnel, and
    * buckets are FEW (seq lengths up to a few thousand over a fixed
    * width) while holding billions of rows each at corpus scale: the
    * textbook window scale-killer. This uses [[tokenShards]]' two-phase
    * distributed scan specialized to a unit increment (the per-bucket
    * dense index IS a prefix sum of ones), carrying the token count
    * through pass 2 so no join is needed to recover it. One extra
    * shuffle total (the final per-(bucket, batch) aggregation, partial
    * map-side).
    *
    * Output: `(bucket, batch_id, n_docs, max_len, sum_tokens,
    * pad_waste)`, all BIGINT; `pad_waste = n_docs·max_len − sum_tokens`.
    */
  def lengthBucketBatches(
      docs: DataFrame,
      idCol: String, nCol: Column,
      bucketWidth: Long, batchSize: Long,
      partitions: Int = 0): DataFrame = Checkpoints.scoped {
    require(bucketWidth >= 1,
      s"lengthBucketBatches: bucketWidth must be >= 1, got $bucketWidth")
    require(batchSize >= 1,
      s"lengthBucketBatches: batchSize must be >= 1, got $batchSize")
    val spark = docs.sparkSession
    import spark.implicits._
    val typed = docs.select(
        col(idCol).cast("long").as("id"),
        nCol.cast("long").as("n"))
      .withColumn("bucket", expr(s"n div ${bucketWidth}L"))
      .select(col("id"), col("bucket"), col("n"))
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    // same contract as tokenShards: both passes must see identical range
    // boundaries, hence the cache; partition i holds a contiguous slice
    // of (bucket, id) order so per-partition counts prefix into offsets
    val parts = Checkpoints.persist(typed
      .repartitionByRange(p, col("bucket"), col("id"))
      .sortWithinPartitions(col("bucket"), col("id"))
      .as[(Long, Long, Long)])

    val partCounts: Array[(Int, Seq[(Long, Long)])] = parts
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val acc = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        it.foreach { case (_, bucket, _) =>
          acc.update(bucket, acc.getOrElse(bucket, 0L) + 1L)
        }
        Iterator.single((pid, acc.toSeq))
      }
      .collect() // ≤ partitions + #buckets rows — a driver-side bound

    val offsets: Map[(Int, Long), Long] = {
      val running = scala.collection.mutable.Map.empty[Long, Long]
      partCounts.sortBy(_._1).flatMap { case (pid, buckets) =>
        buckets.map { case (bucket, cnt) =>
          val before = running.getOrElse(bucket, 0L)
          running.update(bucket, before + cnt)
          ((pid, bucket), before)
        }
      }.toMap
    }
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    // per-row dense per-bucket index -> batch id; checkpoint pins the
    // values to the exact range boundaries pass 1 saw (see tokenShards)
    val assigned = Checkpoints.checkpoint(parts
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val local = scala.collection.mutable.Map.empty[Long, Long]
        it.map { case (_, bucket, n) =>
          val before = local.getOrElse(bucket, 0L)
          local.update(bucket, before + 1L)
          val idx = bcOffsets.value.getOrElse((pid, bucket), 0L) + before
          (bucket, idx / batchSize, n)
        }
      }
      .toDF("bucket", "batch_id", "n"))
    assigned
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("n")).as("max_len"),
        sum(col("n")).as("sum_tokens"))
      .withColumn("pad_waste",
        col("n_docs") * col("max_len") - col("sum_tokens"))
  }

  /** Overlapping token-window chunking — the embedding/RAG prep step
    * ([[sequenceLayout]] packs a global stream; this splits each
    * document independently): windows of `chunkSize` tokens advancing by
    * `stride` (`stride < chunkSize` = overlap), last window short, a
    * document never yields zero chunks. Pure map-side generate — each
    * task chunks its own scan split, nothing shuffles but the caller's
    * ordering.
    *
    * Output: (idCol, chunk_id, n_toks, chunk) — chunk_id dense from 0
    * per document, `chunk` the space-joined token window. */
  def chunkDocs(
      docs: DataFrame, textCol: Column, idCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkDocs: chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"chunkDocs: stride must be in [1, chunkSize], got $stride")
    docs
      .withColumn("_toks", Dedup.tokens(textCol))
      .withColumn("_n", size(col("_toks")))
      .withColumn("_nch",
        when(col("_n") <= chunkSize, lit(1))
          .otherwise(expr(s"((_n - $chunkSize + $stride - 1) div $stride) + 1")))
      .select(col(idCol), col("_toks"), col("_n"),
        explode(sequence(lit(0), col("_nch") - 1)).as("chunk_id"))
      .select(col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        least(lit(chunkSize), col("_n") - col("chunk_id") * stride)
          .cast("long").as("n_toks"),
        array_join(
          slice(col("_toks"), col("chunk_id") * stride + 1, lit(chunkSize)),
          " ").as("chunk"))
  }
}
