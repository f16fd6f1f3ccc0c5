package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints
import graft.ops.ext.{Components, Contamination, Dedup, TextStats}

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
  *  4. NEAR-DUP CLUSTERS — MinHash-band candidate pairs under the
  *     degenerate-bucket guard, closed into components; keep each
  *     cluster's min-id canonical ([[Dedup.lshCandidatePairs]] +
  *     [[Components.dedupClusters]])
  *  5. DECONTAMINATE — drop documents sharing any token n-gram with the
  *     benchmark set ([[Contamination.decontaminate]])
  *
  * Returns the surviving documents (all input columns), EAGERLY
  * materialized (checkpoint-backed): the pipeline runs when `curate`
  * is called, and its [[Checkpoints.scoped]] scope frees every internal
  * cache and checkpoint before returning (or throwing). Stage order
  * matters and is deliberate: cheap whole-source and per-row gates run
  * before the (shuffling) dedup stages so the pair machinery sees the
  * smallest possible corpus, and decontamination runs LAST so a dropped
  * near-duplicate can't shield its surviving canonical from the
  * benchmark check.
  *
  * Scale shape: stages 1-2 are scan-bound with one source-cardinality
  * aggregation; stage 3 shuffles 16-byte content hashes; stage 4 is the
  * guarded band join (pairs linear in corpus under the cap) plus the
  * endpoint-only component rounds; stage 5 explodes corpus n-grams
  * map-side into a broadcast. No stage materializes the corpus more than
  * its own shuffle requires.
  */
object Curation {

  /** Stages 1-3 (source gate → per-doc gate → exact dedup), shared by
    * [[curate]] and [[curateSoft]]. Returns `(exactDeduped, piiFree)`,
    * BOTH persisted (MEMORY_AND_DISK) in the caller's scope:
    *
    *  - `exactDeduped` is the reuse point — the signature kernel, the
    *    component vertices, the near-dup semi join, and the
    *    decontamination scan all read it; uncached, the stages
    *    re-execute once per consumer.
    *  - `piiFree` exists because stage 3 consumes it TWICE (the keeper
    *    election and the semi join back), and DataFrame plans share no
    *    common subtrees — uncached, the ENTIRE gate re-executes per
    *    consumer (round-20 measurement: with the rarity gate on, the
    *    gate plan itself contains four source-gated corpus passes, so
    *    the doubled consumer cost q83 ~0.9 s of an ~3.0 s floor). Its
    *    cache is short-lived by design: the caller frees it as soon as
    *    its first eager materialization has filled `exactDeduped`'s
    *    cache (the stage-4 signature checkpoint), so the two
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

    // 4. near-dup clusters: guarded band pairs -> components -> keepers.
    // Default keeps each cluster's min-id canonical; `keepBest` instead
    // elects the highest-token-count member ([[Components.representatives]]
    // — keep the longest/cleanest copy, not whichever crawled first)
    val sig = Dedup.withMinhashSignature(exactDeduped, textCol, numHashes)
    // persistSignatures: the census + guard + both self-join sides would
    // otherwise re-run the minhash kernel over the (cached) corpus 3x;
    // the stage's own scope frees the checkpointed (id, bands) projection
    // once the cluster build materializes (dedupClusters is eager)
    val clusters = Checkpoints.scoped {
      val pairs = Dedup.lshCandidatePairs(sig, idCol,
        (0 until numHashes).map(i => s"mh$i"), maxBucketSize = Some(maxBucketSize),
        persistSignatures = true)
      // the eager signature checkpoint above filled exactDeduped's cache —
      // piiFree has no reader left (stage 3 ran during the fill); free
      // its corpus-sized entry before the cluster stage allocates
      Checkpoints.free(piiFree)
      Components.dedupClusters(exactDeduped, pairs, idCol)
    }
    val canonical =
      if (keepBest) {
        val quality = exactDeduped.select(col(idCol),
          TextStats.tokenCount(textCol).cast("long").as("score"))
        Components.representatives(clusters, quality, idCol)
          .where(col("kept") === 1L)
          .select(col(idCol))
      } else {
        clusters
          .where(col(idCol) === col("canonical_id"))
          .select(col(idCol))
      }
    val nearDeduped = exactDeduped.join(canonical, Seq(idCol), "left_semi")

    // 5. decontaminate against the benchmark.
    // The survivors are materialized eagerly (localCheckpoint — same
    // treatment Packing/ExactSubstr give their reuse points) so nothing
    // the scope frees is read again. The returned frame is checkpoint-
    // backed (survivor-sized, typically a small fraction of the corpus).
    Checkpoints.checkpoint(Contamination.decontaminate(nearDeduped, textCol, idCol,
      benchmark, textCol, n))
  }

  /** SOFT curation — [[curate]]'s stages with the near-dup DROP swapped
    * for down-weighting ([[Components.clusterWeights]]): every post-gate,
    * exact-deduped, decontaminated document survives, carrying its dup
    * cluster's `canonical_id`, `cluster_size`, and the basis-point
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

    // 4. near-dup clusters -> weights (no drop): guarded band pairs,
    // components, partial-aggregated size counts
    val sig = Dedup.withMinhashSignature(exactDeduped, textCol, numHashes)
    // the stage's scope frees the signature checkpoint (the curate() pattern)
    val clusters = Checkpoints.scoped {
      val pairs = Dedup.lshCandidatePairs(sig, idCol,
        (0 until numHashes).map(i => s"mh$i"), maxBucketSize = Some(maxBucketSize),
        persistSignatures = true)
      Checkpoints.free(piiFree) // filled exactDeduped above; no reader left
      Components.dedupClusters(exactDeduped, pairs, idCol)
    }
    val weights = Components.clusterWeights(clusters, idCol)

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
    *  6. near-dup clusters WITHIN the remaining batch (guarded pairs →
    *     connected components), min-id canonical survives;
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
      n: Int = 8): DataFrame = {
    val mhCols = (0 until numHashes).map(i => s"mh$i")
    curateIncrementalCore(
      batch,
      corpus.select(md5(textCol).as("_h")).distinct(),
      Dedup.corpusBandKeys(
        Dedup.withMinhashSignature(corpus, textCol, numHashes), Seq(mhCols)),
      textCol, idCol, sourceCol, benchmark,
      minDocs, minAlphaBp, numHashes, maxBucketSize, n)
  }

  /** Names of the persisted standing-corpus signature tables
    * [[writeCorpusSigTables]] lands and the table-backed
    * [[curateIncremental]] overload consumes. `numHashes` is part of the
    * contract: the batch side must derive the SAME signature family the
    * tables were written with (a mismatch would silently match nothing —
    * the media `_meta.jsonl` lesson — so the overload takes it from
    * here, never as a free parameter; the writer additionally STAMPS
    * numHashes into the bands table's properties — [[SigFamilyProp]] —
    * and the overload verifies the stamp, so a hand-built instance
    * that lies about the family fails loudly). `buckets` rides along
    * for the refresh path ([[graft.pipeline.NightlyIngest]]'s appends
    * must match the written bucketing spec). */
  final case class CorpusSigTables(
      hashesTable: String, bandsTable: String, numHashes: Int,
      buckets: Int = 32)

  /** Persist the standing corpus's signature side as BUCKETED catalog
    * tables — the nightly-ingest fast path for [[curateIncremental]].
    * The per-call shape derives the corpus md5-distinct and band-key
    * frames from the raw corpus EVERY night (two full corpus scans +
    * their aggregation exchanges); these tables pay that once at corpus
    * build/refresh time, and the nightly anti joins then read
    * hash-partitioned parquet with NO Exchange and no re-derivation on
    * the corpus side ([[graft.io.Bucketing]] — Dedup.scala's standing-
    * corpus note). Refresh cadence is the caller's: the tables are a
    * snapshot of the corpus at write time, exactly like the corpus
    * frame the per-call shape would scan. */
  def writeCorpusSigTables(
      corpus: DataFrame, textCol: Column, tablePrefix: String,
      numHashes: Int = 2, buckets: Int = 32): CorpusSigTables = {
    require(tablePrefix.nonEmpty, "writeCorpusSigTables: empty tablePrefix")
    val mhCols = (0 until numHashes).map(i => s"mh$i")
    val t = CorpusSigTables(
      s"${tablePrefix}_hashes", s"${tablePrefix}_bands", numHashes, buckets)
    graft.io.Bucketing.writeBucketed(
      corpus.select(md5(textCol).as("_h")).distinct(), t.hashesTable, "_h", buckets)
    graft.io.Bucketing.writeBucketed(
      Dedup.corpusBandKeys(
        Dedup.withMinhashSignature(corpus, textCol, numHashes), Seq(mhCols)),
      t.bandsTable, "_band", buckets)
    // stamp the signature family INTO the table (not just the returned
    // case class): a nightly job restarting from config re-constructs
    // CorpusSigTables by hand, and a numHashes that disagrees with what
    // the bands table was actually written with would make the band-key
    // semi join silently match nothing (Dedup.dedupAgainstCorpusKeys'
    // band-structure contract). The table-backed curateIncremental
    // verifies this stamp before running.
    corpus.sparkSession.sql(
      s"ALTER TABLE ${t.bandsTable} SET TBLPROPERTIES " +
        s"('$SigFamilyProp'='$numHashes')")
    t
  }

  /** Table property carrying the `numHashes` a bands table was written
    * with — the loud half of the [[CorpusSigTables]] contract. */
  private[graft] val SigFamilyProp = "graft.sig.numHashes"

  /** [[curateIncremental]] against persisted [[CorpusSigTables]] instead
    * of the raw standing corpus — identical output by construction (the
    * tables hold exactly the two frames the per-call shape derives;
    * spec-asserted in CurationSpec), with the corpus legs' derivation
    * cost moved out of the nightly path. */
  def curateIncremental(
      batch: DataFrame,
      corpusTables: CorpusSigTables,
      textCol: Column,
      idCol: String,
      sourceCol: String,
      benchmark: DataFrame,
      minDocs: Long,
      minAlphaBp: Int,
      maxBucketSize: Int,
      n: Int): DataFrame = {
    val spark = batch.sparkSession
    // verify the caller's claimed signature family against the stamp the
    // table writer left: a hand-built CorpusSigTables (config restart)
    // whose numHashes disagrees with the written table would otherwise
    // silently match nothing. A missing stamp is equally loud — every
    // sanctioned writer stamps, so absence means the table was not
    // written by writeCorpusSigTables (or predates the contract).
    val stamped = spark.sql(s"SHOW TBLPROPERTIES ${corpusTables.bandsTable}")
      .where(col("key") === SigFamilyProp)
      .collect().headOption.map(_.getString(1))
    stamped match {
      case None => throw new IllegalArgumentException(
        s"curateIncremental: ${corpusTables.bandsTable} carries no " +
          s"'$SigFamilyProp' property — not written by " +
          "writeCorpusSigTables (a bands table without a checkable " +
          "signature family risks a silent no-op dedup); rewrite it")
      case Some(v) => require(v == corpusTables.numHashes.toString,
        s"curateIncremental: ${corpusTables.bandsTable} was written with " +
          s"numHashes=$v but this CorpusSigTables claims " +
          s"${corpusTables.numHashes} — the band keys would silently " +
          "match nothing; use the written value or rebuild the tables")
    }
    curateIncrementalCore(
      batch,
      spark.table(corpusTables.hashesTable),
      spark.table(corpusTables.bandsTable),
      textCol, idCol, sourceCol, benchmark,
      minDocs, minAlphaBp, corpusTables.numHashes, maxBucketSize, n)
  }

  /** Shared body of the two [[curateIncremental]] shapes: the corpus
    * side arrives ALREADY reduced to its distinct content hashes
    * (`_h`) and distinct tagged band keys (`_band`) — either derived
    * in-plan from the raw corpus or read from persisted bucketed
    * tables. */
  private def curateIncrementalCore(
      batch: DataFrame,
      corpusHashes: DataFrame,
      corpusBands: DataFrame,
      textCol: Column,
      idCol: String,
      sourceCol: String,
      benchmark: DataFrame,
      minDocs: Long,
      minAlphaBp: Int,
      numHashes: Int,
      maxBucketSize: Int,
      n: Int): DataFrame = Checkpoints.scoped {

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
      .join(corpusHashes, Seq("_h"), "left_anti")
      .drop("_h")

    // 5. near-dup against corpus: one tagged band of all hashes.
    // `fresh` is BATCH-sized but its lineage carries the gate and BOTH
    // corpus-side legs (md5 distinct + corpus band keys); its three
    // downstream consumers (the pair generator, the cluster vertex set,
    // the canonical semi join) would re-execute those corpus legs per
    // consumer — measured as the dominant marginal of q139's floor
    // (S4 +1.25 s of 3.2 s, PLANS round 18). One eager batch-sized
    // checkpoint runs the corpus legs exactly once.
    val sigNew = Dedup.withMinhashSignature(freshExact, textCol, numHashes)
    val fresh = Checkpoints.checkpoint(
      Dedup.dedupAgainstCorpusKeys(sigNew, corpusBands, idCol, Seq(mhCols)))
    // the eager checkpoint above filled exactDeduped's cache — piiFree
    // (stage-3's double-consumed input) has no reader left
    Checkpoints.free(piiFree)

    // 6. within-batch clusters over what is left. persistSignatures off:
    // the input is already a materialized checkpoint whose mh columns
    // are plain stored fields — a second signature checkpoint would cost
    // a job and save only a column projection (the measure-per-shape
    // rule; q144 precedent)
    val pairs = Dedup.lshCandidatePairs(fresh, idCol, mhCols,
      maxBucketSize = Some(maxBucketSize),
      persistSignatures = false)
    val clusters = Components.dedupClusters(fresh, pairs, idCol)
    val canonical = clusters
      .where(col(idCol) === col("canonical_id")).select(col(idCol))
    val nearDeduped = fresh.join(canonical, Seq(idCol), "left_semi")
      .drop(mhCols: _*)

    // 7. decontaminate; eager materialize (the curate contract)
    Checkpoints.checkpoint(Contamination.decontaminate(nearDeduped, textCol, idCol,
      benchmark, textCol, n))
  }
}
