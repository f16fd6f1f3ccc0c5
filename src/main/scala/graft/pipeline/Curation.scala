package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints
import graft.ops.ext.{Contamination, Dedup, TextStats}

/** The composed end-to-end curation pass a training-data pipeline runs
  * over a raw corpus — the capstone proving the individual operators
  * compose into one multi-stage plan:
  *
  *  1. SOURCE GATE — drop whole sources failing corpus-level quality
  *     thresholds ([[TextStats.goodSources]]; C4's "bad domains" pass)
  *  2. PII GATE — drop documents containing any email/IPv4/phone match
  *     ([[TextStats]] patterns; count-free early filter)
  *  3. EXACT DEDUP — one keeper (min id) per identical-text group
  *     ([[Dedup.exactDupGroups]])
  *  4. NEAR-DUP CLUSTERS — documents sharing the one MinHash band
  *     bucket, under the degenerate-bucket guard; keep each cluster's
  *     min-id canonical ([[Dedup.bandClusters]]: with one band the
  *     buckets ARE the components, so no pair join or component rounds)
  *  5. DECONTAMINATE — drop documents sharing any token n-gram with the
  *     benchmark set ([[Contamination.decontaminate]])
  *
  * Returns the surviving documents (all input columns), EAGERLY
  * materialized (checkpoint-backed): the pipeline runs when `curate`
  * is called, and its [[Checkpoints.scoped]] scope frees every internal
  * cache and checkpoint before returning (or throwing). Stage order
  * matters and is deliberate: cheap whole-source and per-row gates run
  * before the (shuffling) dedup stages so the clustering sees the
  * smallest possible corpus, and decontamination runs LAST so a dropped
  * near-duplicate can't shield its surviving canonical from the
  * benchmark check.
  *
  * Scale shape: stages 1-2 are scan-bound with one source-cardinality
  * aggregation; stage 3 shuffles 16-byte content hashes; stage 4 is one
  * checkpointed (id, band key) projection and one partial-aggregated
  * per-bucket aggregate joined back to it, never a pair list; stage 5
  * explodes corpus n-grams map-side into a broadcast. No stage
  * materializes the corpus more than its own shuffle requires.
  */
object Curation {

  /** Stages 1-3 (source gate → per-doc gate → exact dedup), shared by
    * [[curate]] and [[curateSoft]]. Returns `(exactDeduped, piiFree)`,
    * BOTH persisted (MEMORY_AND_DISK) in the caller's scope:
    *
    *  - `exactDeduped` is the reuse point — the signature kernel, the
    *    near-dup anti join, and the decontamination scan all read it;
    *    uncached, the stages re-execute once per consumer.
    *  - `piiFree` exists because stage 3 consumes it TWICE (the keeper
    *    election and the semi join back), and DataFrame plans share no
    *    common subtrees — uncached, the ENTIRE gate re-executes per
    *    consumer (round-20 measurement: with the rarity gate on, the
    *    gate plan itself contains four source-gated corpus passes, so
    *    the doubled consumer cost q83 ~0.9 s of an ~3.0 s floor). Its
    *    cache is short-lived by design: the caller frees it as soon as
    *    its first eager materialization has filled `exactDeduped`'s
    *    cache (the stage-4 cluster checkpoint), so the two
    *    corpus-sized entries never coexist past stage 4. */
  private def gateAndExactDedup(
      docs: DataFrame,
      textCol: Column,
      idCol: String,
      sourceCol: String,
      minDocs: Long,
      minAlphaBp: Int,
      gate: Option[TextStats.QualityThresholds]): (DataFrame, DataFrame) = {

    // 1. source gate: survivor sources broadcast into a semi join.
    // With the rarity gate on, the gate plan re-derives the source-gated
    // frame FOUR times (scan signals + two rarity explodes + the token
    // total) — checkpoint the ≤#sources survivor list once (the
    // small-by-construction rule) so those re-plans skip the corpus
    // aggregation behind it. Without rarity the gate runs once and the
    // checkpoint job would be pure overhead (measured-per-shape rule).
    val gs = TextStats.goodSources(docs, textCol, sourceCol, minDocs, minAlphaBp)
    val gsSide =
      if (gate.exists(_.maxMeanRarity.isDefined)) Checkpoints.checkpoint(gs) else gs
    val gated = docs.join(broadcast(gsSide), Seq(sourceCol), "left_semi")

    // 2. per-document gate: PII-only by default; with `gate` set, the
    // composed quality stack ([[TextStats.qualityFilter]] — length,
    // alpha ratio, PII, repetition, optional rarity) replaces it. Both
    // forms are per-row filters over the source-gated frame (the
    // composed gate's optional rarity pass aggregates over it once).
    val piiFree = gate match {
      case Some(th) => TextStats.qualityFilter(gated, textCol, idCol, th)
      case None => gated.where(
        // rlike (first-match) over extract-all-then-count-zero: the
        // predicate is identical ("contains no match"), but a PII-heavy
        // page costs O(first match), not O(all matches + array)
        !textCol.rlike(TextStats.EmailRe) &&
          !textCol.rlike(TextStats.Ipv4Re) &&
          !textCol.rlike(TextStats.PhoneRe))
    }

    // 3. exact dedup: keep the min-id document of each identical-text
    // group. piiFree persisted — see the Scaladoc (two consumers here,
    // re-planning the whole gate each otherwise)
    val piiFreeCached = Checkpoints.persist(piiFree)
    val keepers = Dedup.exactDupGroups(piiFreeCached, col(idCol), textCol)
      .select(col("keeper").as(idCol))
    (Checkpoints.persist(piiFreeCached.join(keepers, Seq(idCol), "left_semi")),
      piiFreeCached)
  }

  /** Ids of the [[Dedup.bandClusters]] members that are not their
    * cluster's canonical — the rows stage 4 drops. */
  private def nonCanonical(clusters: DataFrame, idCol: String): DataFrame =
    clusters.where(col(idCol) =!= col("canonical_id")).select(col(idCol))

  def curate(
      docs: DataFrame,
      textCol: Column,
      idCol: String,
      sourceCol: String,
      benchmark: DataFrame,
      minDocs: Long = 20,
      minAlphaBp: Int = 8000,
      numHashes: Int = 2,
      maxBucketSize: Int = 1000,
      n: Int = 8,
      gate: Option[TextStats.QualityThresholds] = None,
      keepBest: Boolean = false): DataFrame = Checkpoints.scoped {

    val (exactDeduped, piiFree) = gateAndExactDedup(
      docs, textCol, idCol, sourceCol, minDocs, minAlphaBp, gate)

    // 4. near-dup clusters: one guarded LSH band, so the clusters are the
    // buckets themselves ([[Dedup.bandClusters]]). Default keeps each
    // cluster's min-id canonical; `keepBest` instead elects the
    // highest-token-count member (keep the longest/cleanest copy, not
    // whichever crawled first). Survivors: everything but the
    // non-canonical bucket members.
    val clusters = Dedup.bandClusters(
      Dedup.withMinhashSignature(exactDeduped, textCol, numHashes), idCol,
      (0 until numHashes).map(i => s"mh$i"), maxBucketSize,
      score = Option.when(keepBest)(TextStats.tokenCount(textCol).cast("long")))
    // the eager cluster checkpoint above filled exactDeduped's cache —
    // piiFree has no reader left (stage 3 ran during the fill)
    Checkpoints.free(piiFree)
    val nearDeduped =
      exactDeduped.join(nonCanonical(clusters, idCol), Seq(idCol), "left_anti")

    // 5. decontaminate against the benchmark.
    // The survivors are materialized eagerly (localCheckpoint — same
    // treatment Packing/ExactSubstr give their reuse points) so nothing
    // the scope frees is read again. The returned frame is checkpoint-
    // backed (survivor-sized, typically a small fraction of the corpus).
    Checkpoints.checkpoint(Contamination.decontaminate(nearDeduped, textCol, idCol,
      benchmark, textCol, n))
  }

  /** SOFT curation — [[curate]]'s stages with the near-dup DROP swapped
    * for down-weighting by [[Dedup.bandClusters]]' `cluster_size`: every
    * post-gate, exact-deduped, decontaminated document survives, carrying
    * its dup cluster's `canonical_id`, `cluster_size`, and the basis-point
    * training-loss weight `10000 div size`. The pipeline to run when
    * duplicates carry signal (popular quotes, licenses, canonical docs)
    * but must not be over-trained on — hard removal (exact dedup of
    * byte-identical copies, PII/source gates, benchmark decontamination)
    * still applies; only NEAR-dup multiplicity converts to weight.
    *
    * Weights measure multiplicity in the post-exact-dedup pool, BEFORE
    * decontamination removes rows — a near-dup family that loses a member
    * to the benchmark check keeps the weight of its full observed size
    * (the multiplicity signal is about repetition in the wild, not about
    * what survives this particular filter chain). Same eager,
    * scoped lifecycle as [[curate]].
    *
    * Output: all input columns + `canonical_id`, `cluster_size`,
    * `weight_bp`. */
  def curateSoft(
      docs: DataFrame,
      textCol: Column,
      idCol: String,
      sourceCol: String,
      benchmark: DataFrame,
      minDocs: Long = 20,
      minAlphaBp: Int = 8000,
      numHashes: Int = 2,
      maxBucketSize: Int = 1000,
      n: Int = 8,
      gate: Option[TextStats.QualityThresholds] = None): DataFrame = Checkpoints.scoped {

    val (exactDeduped, piiFree) = gateAndExactDedup(
      docs, textCol, idCol, sourceCol, minDocs, minAlphaBp, gate)

    // 4. near-dup clusters -> weights (no drop), from the same bucket
    // aggregate [[curate]] drops by
    val clusters = Dedup.bandClusters(
      Dedup.withMinhashSignature(exactDeduped, textCol, numHashes), idCol,
      (0 until numHashes).map(i => s"mh$i"), maxBucketSize)
    Checkpoints.free(piiFree) // filled exactDeduped above; no reader left
    val weights = clusters.withColumn("weight_bp", expr("10000 div cluster_size"))

    // 5. decontaminate, then attach the weights (inner join on the doc
    // id: every clean doc has exactly one weight row by construction)
    Checkpoints.checkpoint(Contamination.decontaminate(exactDeduped, textCol, idCol,
        benchmark, textCol, n)
      .join(weights, Seq(idCol)))
  }

  /** INCREMENTAL curation — the daily-ingest shape: curate a NEW BATCH
    * against a STANDING corpus. [[curate]] answers "what survives from
    * this corpus"; this answers "what is genuinely new AND clean in
    * today's crawl", which is the question a continuously-fed pipeline
    * actually asks. Stages, cheapest first, with both corpus
    * comparisons BEFORE within-batch clustering (an already-known row
    * must not seed a batch cluster and shield its batch-mates):
    *
    *  1-3. source gate, PII gate, exact dedup WITHIN the batch
    *       ([[gateAndExactDedup]] — batch-level source statistics, the
    *       same contract as [[curate]] on its input frame);
    *  4. exact anti join against corpus content hashes — the corpus
    *     ships one 32-byte distinct md5 per unique text, never text;
    *  5. near-dup anti join against corpus MinHash band keys
    *     ([[Dedup.dedupAgainstCorpus]] — distinct tagged keys only);
    *  6. near-dup clusters WITHIN the remaining batch (guarded band
    *     buckets, [[Dedup.bandClusters]]), min-id canonical survives;
    *  7. benchmark decontamination.
    *
    * Scale shape: every corpus-sized frame reduces to short keys before
    * crossing an exchange (md5s, band keys, benchmark n-gram hashes);
    * batch-side work is batch-sized throughout. Same eager, scoped
    * lifecycle as [[curate]]. Returns surviving
    * batch rows with their input columns. */
  def curateIncremental(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: Column,
      idCol: String,
      sourceCol: String,
      benchmark: DataFrame,
      minDocs: Long = 20,
      minAlphaBp: Int = 8000,
      numHashes: Int = 2,
      maxBucketSize: Int = 1000,
      n: Int = 8): DataFrame = Checkpoints.scoped {

    // the `_h` exact-hash column and the mh0..mhN signature columns ride
    // the passthrough batch frame through stages 4-6 and are dropped
    // before return — a caller column with one of those names would be
    // silently overwritten and swallowed (the qualityGate/gopherSignals
    // collision-guard class). Checked FIRST — it only inspects
    // batch.columns, so a rejected batch costs no stage work.
    val mhCols = (0 until numHashes).map(i => s"mh$i")
    val clash = batch.columns.toSet.intersect(mhCols.toSet + "_h")
    require(clash.isEmpty,
      s"curateIncremental: batch columns ${clash.mkString(", ")} collide " +
        s"with the internal working columns (_h, mh0..mh${numHashes - 1}) " +
        "— rename them or change numHashes")

    val (exactDeduped, piiFree) = gateAndExactDedup(
      batch, textCol, idCol, sourceCol, minDocs, minAlphaBp, None)

    // 4. exact against corpus: 32-byte hash anti join
    val freshExact = exactDeduped.withColumn("_h", md5(textCol))
      .join(corpus.select(md5(textCol).as("_h")).distinct(), Seq("_h"), "left_anti")
      .drop("_h")

    // 5. near-dup against corpus: one tagged band of all hashes.
    // `fresh` is BATCH-sized but its lineage carries the gate and BOTH
    // corpus-side legs (md5 distinct + corpus band keys); its two
    // downstream consumers (the cluster checkpoint and the near-dup anti
    // join) would re-execute those corpus legs per consumer — measured
    // as the dominant marginal of q139's floor (S4 +1.25 s of 3.2 s,
    // PLANS round 18). One eager batch-sized checkpoint runs the corpus
    // legs exactly once.
    val sigNew = Dedup.withMinhashSignature(freshExact, textCol, numHashes)
    val fresh = Checkpoints.checkpoint(Dedup.dedupAgainstCorpus(sigNew,
      Dedup.withMinhashSignature(corpus, textCol, numHashes), idCol, Seq(mhCols)))
    // the eager checkpoint above filled exactDeduped's cache — piiFree
    // (stage-3's double-consumed input) has no reader left
    Checkpoints.free(piiFree)

    // 6. within-batch clusters over what is left: the guarded buckets of
    // the one band, min-id canonical survives
    val clusters = Dedup.bandClusters(fresh, idCol, mhCols, maxBucketSize)
    val nearDeduped = fresh.join(nonCanonical(clusters, idCol), Seq(idCol), "left_anti")
      .drop(mhCols: _*)

    // 7. decontaminate; eager materialize (the curate contract)
    Checkpoints.checkpoint(Contamination.decontaminate(nearDeduped, textCol, idCol,
      benchmark, textCol, n))
  }
}
