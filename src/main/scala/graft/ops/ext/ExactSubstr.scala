package graft.ops.ext

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicate-substring detection for training corpora: find, per
  * document, the maximal token spans every position of which is covered by
  * a `k`-token window whose exact content occurs at least `minCount` times
  * in the WHOLE corpus (including repeats within the same document). The
  * relational re-expression of the suffix-array "ExactSubstr" dedup of
  * Lee et al., "Deduplicating Training Data Makes Language Models Better"
  * (ACL 2022): a suffix array is a single-machine index, so at corpus
  * scale the same contract — every duplicated run of ≥ k tokens is found,
  * shorter overlaps are not — comes from sliding-window hashing, which is
  * embarrassingly parallel and needs no index build.
  *
  * Scale shape — the window-hash kernel (the dominant cost: O(tokens·k)
  * interpreted string building + md5 per document) runs EXACTLY ONCE: the
  * per-doc hash arrays are cached, then both passes explode from the
  * cache. Pass 1 explodes hashes straight into a partial-aggregated
  * `groupBy(hash).count` (the shuffle carries one long per DISTINCT hash
  * per map partition, and the boilerplate mega-hash collapses map-side
  * exactly where it is most frequent); pass 2 explodes positions and
  * joins against the duplicated-hash set on 8-byte keys. The cache is a
  * ~1× corpus temporary (8 bytes/token, the same order as the text
  * itself) and is released before the call returns — the result is
  * eagerly checkpointed first, same discipline as [[Packing.tokenShards]]
  * (the cache fill is an explicit action: the two passes are otherwise
  * INDEPENDENT stages that the scheduler may run concurrently, each
  * racing to compute the kernel itself). The final span merge is one
  * window per document, bounded by document length. Window content is
  * hashed with the engine-portable 60-bit md5 ([[Contamination.ngramHashes]]),
  * so a SQL oracle computes identical hashes; collisions at 2^60 only
  * ever MERGE a span they would at worst slightly widen.
  */
object ExactSubstr {

  /** Maximal duplicated token spans: `(idCol, span_start, span_end)`,
    * 1-based inclusive token indices, ordered within a document. A span is
    * a maximal run of positions covered by duplicated `k`-windows; two
    * windows merge when their coverage overlaps or touches (start
    * distance ≤ k). Documents with no duplicated window are absent —
    * callers mask or drop the spans, or aggregate them into per-doc
    * duplication metrics. EAGER: the result is computed and checkpointed
    * at call time so the hash cache can be released before returning.
    *
    * All windows share length `k` and arrive sorted by start, so span
    * ends are monotone and the classic gaps-and-islands lag/cumsum merge
    * needs no running-max. */
  def duplicatedSpans(
      docs: DataFrame,
      text: Column,
      idCol: String = "doc_id",
      k: Int = 16,
      minCount: Long = 2L): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"duplicatedSpans: k must be >= 1, got $k")
    require(minCount >= 2L, s"duplicatedSpans: minCount must be >= 2, got $minCount")
    // one kernel evaluation per document, materialized before either pass
    // reads it (see object Scaladoc for the concurrency rationale)
    val hashed = Checkpoints.persist(docs
      .select(col(idCol), Contamination.ngramHashes(text, k).as("nghs")))
    hashed.count()
    // pass 1: corpus-wide occurrence count per window hash — no ids, no
    // positions: the narrowest possible shuffle, fully map-side partial
    val dupHashes = hashed
      .select(explode(col("nghs")).as("ngh"))
      .groupBy(col("ngh")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("ngh"))
    // pass 2: positions of duplicated windows, then per-doc island merge
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    Checkpoints.checkpoint(hashed
      .select(col(idCol), posexplode(col("nghs")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"), col("col").as("ngh"))
      .join(dupHashes, Seq("ngh"))
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("island",
        sum(when(col("prev").isNull || col("pos") - col("prev") > k, 1L)
          .otherwise(0L)).over(byDoc))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end")))
  }

  /** Cut duplicated spans out of the text — the consumer Lee et al.'s
    * pipeline actually runs (the paper REMOVES the duplicated bytes from
    * the training copy; reporting spans is only the intermediate). Takes
    * the span table [[duplicatedSpans]] emits and returns the input rows
    * plus `text_trimmed`: the document's tokens with every position
    * inside any `[span_start, span_end]` range dropped, space-joined.
    * Whitespace is therefore NORMALIZED (runs of whitespace become one
    * space) for every document — the uniform contract keeps clean
    * documents and trimmed documents on the same code path, with no
    * CaseWhen branch around the token rebuild (CaseWhen would exclude it
    * from codegen subexpression elimination). A document whose every
    * token is covered trims to the empty string.
    *
    * Scale shape: spans collapse to one small array per document (they
    * are maximal merged islands — few per doc by construction), shipped
    * to the corpus by a left join on the id; the token filter is per-row
    * array work, O(tokens × spans-per-doc), map-side after the join. No
    * token-level explode, no second shuffle of the corpus. The filter is
    * the codegen kernel [[graft.functions.TrimSpansExpr]] — same math as
    * the interpreted `filter(tokens, …) × exists(spans, …)` probe
    * (equivalence spec-asserted across the tokenizer's edge cases), but a
    * static loop over primitive span bounds instead of a boxed lambda
    * tree per (token, span). */
  def trimSpans(
      docs: DataFrame,
      text: Column,
      spans: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val spanArr = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    val sp = coalesce(col("_spans"),
      array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
    // coalesce preserves the previous interpreted form's null contract:
    // concat_ws rendered a null text's (null) token array as "", never null
    docs.join(spanArr, Seq(idCol), "left")
      .withColumn("text_trimmed",
        graft.functions.TrimSpansExpr.trim_spans(coalesce(text, lit("")), sp))
      .drop("_spans")
  }
}
