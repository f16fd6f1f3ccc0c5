package graft.ops.ext

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * All operators are pure native-expression DataFrame code (no UDFs): the
  * per-document signature math runs inside whole-stage codegen over the
  * token array of each row — no explode, no per-token shuffle.
  *
  * Scale design (100 TB of documents):
  *  - signatures are computed map-side; the only shuffles are the final
  *    group-by / self-join on *short* keys (hash / band signature), never on
  *    document text.
  *  - LSH banding turns the quadratic all-pairs problem into a per-bucket
  *    join: candidate pairs are generated only for documents agreeing on at
  *    least one band. Degenerate buckets (e.g. empty documents, shared
  *    boilerplate) are the classic skew hazard — the `maxBucketSize` guard
  *    drops them before any join (see [[lshCandidatePairsMultiBand]]).
  *  - exact dedup hashes the text (fixed-width key) instead of grouping by
  *    the full text column, so the shuffle moves 32-byte keys, not bodies.
  *  - recurring dedup runs: persist the signature table bucketed+sorted by
  *    band ([[graft.io.Bucketing]]) — the nightly candidate self-join then
  *    plans with ZERO Exchange (proven in BucketingSpec).
  */
object Dedup {

  /** Whitespace tokens of a text column.
    *
    * Quirk (shared deliberately with the SQL-engine equivalent
    * `string_split_regex(trim(text), '\s+')` so oracles match): empty or
    * whitespace-only text yields `[""]` — one empty token — not an empty
    * array. Filter empty documents upstream where the distinction matters. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Character n-gram shingles: the classic MinHash input unit for
    * near-dup detection that must survive tokenization differences.
    * Texts shorter than `n` yield an empty array. Guarded with
    * `slice`/`greatest` instead of a `when` branch: Spark's
    * `sequence(1, stop)` counts DOWN for stop < 1 (garbage end-relative
    * substrings), and a CaseWhen wrapper would exclude the array from
    * codegen subexpression elimination in downstream folds. */
  def shingles(text: Column, n: Int): Column = {
    val count = length(text) - (n - 1)
    slice(
      transform(sequence(lit(1), greatest(count, lit(1))), i => text.substr(i, lit(n))),
      lit(1), greatest(count, lit(0)))
  }

  /** Exact-duplicate groups: one row per distinct content hash with the
    * surviving (minimum) id and the duplicate count. */
  def exactDupGroups(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol).as("content_hash"))
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_docs"))

  /** One MinHash value: the minimum over tokens of a seeded deterministic
    * hash. The "hash family" is md5 of `seed:token`, compared
    * lexicographically on the hex string — deterministic across engines and
    * platforms (no JVM hashCode). */
  def minhash(tokensCol: Column, seed: Int): Column =
    array_min(transform(tokensCol, w => md5(concat(lit(s"$seed:"), w))))

  /** Two MinHash values from ONE md5 per element: the 64-bit hex halves of
    * a single digest act as two independent hash functions, and both minima
    * are tracked in a single fold — one interpreted pass, one md5 per
    * element (HOFs don't codegen; see [[simhash]]). Returns
    * `struct<a: string, b: string>`. */
  def minhashPair(elements: Column): Column = {
    val hashes = transform(elements, x => md5(x))
    aggregate(hashes,
      struct(lit("~").as("a"), lit("~").as("b")), // '~' sorts after hex digits
      (acc, h) => struct(
        least(acc.getField("a"), substring(h, 1, 16)).as("a"),
        least(acc.getField("b"), substring(h, 17, 16)).as("b")))
    // deliberately NO when-guard here: wrapping the fold in CaseWhen makes
    // the optimizer distribute per-field extraction over the branches and
    // evaluate the whole fold once per field (measured 3x slower). Empty
    // input yields the "~" sentinel — callers null it out with a cheap
    // emptiness condition of their own (see q41).
  }

  /** MinHash signature columns `mh0..mh{n-1}` for each document.
    *
    * Computed by the codegen'd [[graft.functions.TokenMinhashExpr]] kernel
    * (one generated loop over the text bytes, all seeds per token in one
    * pass) — semantically identical to `minhash(tokens(textCol), i)` per
    * column (equivalence held by TokenHashExprsSpec) and ~10x faster: the
    * interpreted HOF form evaluates one md5 expression tree per
    * (token, seed) with per-step boxing. */
  def withMinhashSignature(df: DataFrame, textCol: Column, numHashes: Int): DataFrame = {
    val sig = graft.functions.TokenMinhashExpr.token_minhash(textCol, numHashes)
    // the kernel stays in its own Project below the per-column element_at
    // extraction: CollapseProject refuses to inline a non-cheap expression
    // referenced more than once, so the kernel runs exactly once per row
    // (plan-asserted in TokenHashExprsSpec)
    val withSig = df.withColumn("_graft_mhs", sig)
    (0 until numHashes).foldLeft(withSig) { (acc, i) =>
      acc.withColumn(s"mh$i", element_at(col("_graft_mhs"), i + 1))
    }.drop("_graft_mhs")
  }

  /** LSH banding: documents whose signature agrees on a whole band (here:
    * hashes [bandStart, bandStart+bandSize)) are candidate duplicates.
    *
    * The self-join shuffles only `(band_key, id)` pairs. `id1 < id2`
    * dedups the symmetric pairs. `maxBucketSize` engages the skew guard
    * ([[guardBuckets]]) — recommended at scale.
    */
  def lshCandidatePairs(
      signatures: DataFrame,
      idCol: String,
      bandCols: Seq[String],
      maxBucketSize: Option[Int] = None,
      saltOversized: Boolean = false,
      persistSignatures: Boolean = false): DataFrame =
    lshCandidatePairsMultiBand(signatures, idCol, Seq(bandCols), maxBucketSize,
      saltOversized, persistSignatures)

  /** Default for the `persistSignatures` flag when the caller has NOT
    * measured their shape: true iff recomputing `signatures` is
    * non-trivial — the plan contains (a) any operator beyond
    * scan/project/filter (joins, aggregates, generates, unions: real
    * recompute), or (b) an EXPENSIVE expression inside a project/filter
    * (graft codegen kernels, regex, higher-order folds, UDFs — the
    * minhash/simhash signature kernels that made persistence a measured
    * 1.7-1.9x on q22/q24/q119's derived upstreams). A bare
    * scan+project+filter of cheap columns returns false: a parquet
    * re-read per band leg is cheaper than pinning the projection in
    * executor storage.
    *
    * Additionally, frames whose estimated row width exceeds
    * [[MaxAutoPersistRowBytes]] auto-disable even with an expensive
    * upstream — the payload HALF of the q144 ratio caught statically: a
    * per-document collection payload (token-hash sets, shingle arrays)
    * prices pinning at corpus x payload bytes, and when candidates are
    * few the duplicate kernel runs are cheaper than writing every
    * document's multi-KB set to block storage. Width is estimated
    * payload-aware ([[estimatedRowBytes]]): collections are priced at a
    * nominal 64 elements (Catalyst's defaultSize assumes ONE element and
    * would call an unbounded set 8 bytes), strings at short-key width.
    *
    * This is a HEURISTIC over the plan, not a measurement — callers
    * with a measured shape keep passing the flag explicitly (q144's
    * containment shape loses with persistence despite an expensive
    * upstream because the candidate set is winnow-capped, while q24's
    * same-payload LSH shape wins on dense candidates; no static test
    * sees the candidate half of the ratio). Driver-side plan inspection
    * only; nothing executes. */
  def autoPersistSignatures(signatures: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{
      Expression, HigherOrderFunction, Like, RLike, RegExpExtract,
      RegExpExtractAll, RegExpReplace, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    val plan = signatures.queryExecution.optimizedPlan
    def expensive(e: Expression): Boolean = e.exists {
      case _: HigherOrderFunction | _: ScalaUDF => true
      case _: RegExpExtract | _: RegExpExtractAll | _: RegExpReplace => true
      case _: Like | _: RLike => true
      case k => k.getClass.getName.startsWith("graft.functions.")
    }
    val worthPersisting = plan.exists {
      case p @ (_: Project | _: Filter) => p.expressions.exists(expensive)
      case p => p.children.nonEmpty // any non-leaf beyond project/filter
    }
    worthPersisting &&
      plan.output.map(a => estimatedRowBytes(a.dataType)).sum <= MaxAutoPersistRowBytes
  }

  /** Estimated-row-width ceiling past which [[autoPersistSignatures]]
    * refuses: fixed-width signature rows (ids + minhash/simhash columns)
    * sit far under it; a per-document collection payload sails past. */
  val MaxAutoPersistRowBytes = 256L

  /** Payload-aware per-row byte estimate of a column for the auto-persist
    * guard. Deliberately NOT Catalyst's `defaultSize`, which prices an
    * array at ONE element: collections here are per-document payloads
    * (token-hash sets, shingles, embeddings) priced at a nominal 64
    * elements; strings at the short-key/hex width the signature currency
    * actually uses; binary as media payload. */
  private[ext] def estimatedRowBytes(dt: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, _) => 64L * estimatedRowBytes(et)
      case MapType(kt, vt, _) => 64L * (estimatedRowBytes(kt) + estimatedRowBytes(vt))
      case st: StructType => st.fields.map(f => estimatedRowBytes(f.dataType)).sum
      case StringType => 32L
      case BinaryType => 1024L
      case other => other.defaultSize.toLong
    }
  }

  /** LSH band key over signature columns.
    *
    * coalesce: concat_ws silently SKIPS nulls, which would let signatures
    * agreeing on zero positions collide into one band (band values here
    * are fixed-width md5 hex, so the separator itself cannot collide). */
  private def bandKey(bandCols: Seq[String]): Column =
    md5(concat_ws("|", bandCols.map(c => coalesce(col(c), lit("\u0000"))): _*))

  /** The LSH skew guard: drop pathological buckets (all-identical
    * boilerplate — the degenerate case that makes one band bucket
    * quadratic) before the self-join. With a cap, candidate pairs are
    * bounded by `n * cap / 2` — LINEAR in corpus size, which is the whole
    * point of LSH at 100 TB. Singleton buckets are pruned too (they can
    * produce no pairs), so the join only ever sees bucket-sharing rows.
    *
    * Shape: map-side partial count per band (combiners collapse even a
    * 100M-row boilerplate bucket to one (band, n) row per task), then a
    * semi-join of the keyed rows against the surviving buckets — AQE
    * broadcasts the survivor list when it is small. A
    * `Window.partitionBy(band)` count would be one shuffle fewer but
    * buffers whole buckets in the window operator — exactly the rows the
    * guard exists to bound. */
  private def guardBuckets(
      keyed: DataFrame,
      maxBucketSize: Option[Int],
      saltOversized: Boolean = false): DataFrame =
    maxBucketSize match {
      case Some(cap) if saltOversized => saltBuckets(keyed, cap)
      case Some(cap) =>
        val ok = keyed.groupBy(col("band"))
          .agg(count(lit(1)).as("_bsz"))
          .where(col("_bsz") >= 2 && col("_bsz") <= cap)
          .select(col("band"))
        keyed.join(ok, Seq("band"), "left_semi")
      case None => keyed
    }

  /** The salting alternative to dropping: a bucket of size `s > cap` is
    * split into `ceil(s/cap)` deterministic sub-buckets (salt = a hash of
    * the id modulo the split count), and pairs form only within a
    * sub-bucket. Cost stays bounded (expected sub-bucket size ≈ cap →
    * pairs ≤ ~n·cap/2) while recall inside a mega-bucket degrades to
    * ≈ 1/splits instead of zero — the right trade when boilerplate
    * buckets still contain genuine near-dups worth surfacing. Pick drop
    * (default) when oversized buckets are known junk, salt when they are
    * not; both keep the join linear in corpus size. */
  private def saltBuckets(keyed: DataFrame, cap: Int): DataFrame = {
    val sizes = keyed.groupBy(col("band"))
      .agg(count(lit(1)).as("_bsz"))
      .where(col("_bsz") >= 2) // singleton buckets can produce no pairs
    keyed.join(sizes, Seq("band")) // map-side partial count, then AQE-broadcastable join
      .withColumn("_splits", ceil(col("_bsz") / lit(cap)).cast("long"))
      .withColumn("band",
        when(col("_splits") > 1,
          md5(concat(col("band"), lit("#"),
            pmod(conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10).cast("long"),
              col("_splits")).cast("string"))))
          .otherwise(col("band")))
      .drop("_bsz", "_splits")
  }

  /** Multi-band LSH: a pair is a candidate if it agrees on ANY band. With a
    * single band each document sits in exactly one bucket, so pairs are
    * unique by construction and the cross-band `distinct` (a full shuffle
    * of the pair set — the most expensive step) is skipped.
    *
    * `maxBucketSize` applies the skew guard ([[guardBuckets]]) per band:
    * buckets larger than the cap contribute no candidate pairs (their
    * members can still pair in the other bands) — or, with
    * `saltOversized`, are split into capped sub-buckets ([[saltBuckets]])
    * for bounded cost with partial in-bucket recall.
    *
    * `persistSignatures` (multi-band only): each band leg re-plans
    * `signatures` on BOTH sides of its self-join, so a DERIVED signature
    * frame (e.g. [[withMinhashSignature]]'s kernel over an upstream
    * transform) is planned 2x per band (plan-asserted in CorpusOpsSpec). The flag materializes the (id + band
    * columns) projection ONCE via an eager `localCheckpoint` and every
    * leg reads the checkpointed rows — upstream runs exactly once. The
    * result reads the checkpoint, so it passes to the enclosing
    * [[graft.core.Checkpoints.scoped]] scope, or to the caller outside
    * one. Leave the flag off when
    * `signatures` is already a bare scan — a parquet re-read per leg is
    * cheaper than pinning the projection in executor storage. */
  def lshCandidatePairsMultiBand(
      signatures: DataFrame,
      idCol: String,
      bands: Seq[Seq[String]],
      maxBucketSize: Option[Int] = None,
      saltOversized: Boolean = false,
      persistSignatures: Boolean = false): DataFrame = Checkpoints.scoped {
    // single-band callers benefit too: the census + guard semi join +
    // both self-join sides each re-plan `signatures` even with one band
    val src =
      if (persistSignatures)
        Checkpoints.checkpoint(
          signatures.select((idCol +: bands.flatten).distinct.map(col): _*))
      else signatures
    val perBand = bands.map { bandCols =>
      val keyed = guardBuckets(
        src.select(bandKey(bandCols).as("band"), col(idCol).as("id")),
        maxBucketSize, saltOversized)
      val l = keyed.select(col("band"), col("id").as("id_a"))
      val r = keyed.select(col("band"), col("id").as("id_b"))
      l.join(r, Seq("band"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
    }
    val all = perBand.reduce(_.unionByName(_))
    if (bands.size > 1) all.distinct() else all
  }

  /** LSH-prefiltered Jaccard: exact token-set Jaccard computed ONLY on
    * band-sharing candidate pairs — the composition that replaces the
    * quadratic all-pairs join for near-dup detection.
    *
    * `sig` carries, per document: the id, the signature band columns, and
    * the pre-distinct'd token set `setCol`. The token sets ride through the
    * single band-key shuffle (a few hundred bytes per row for int-hashed
    * tokens) — cheaper at any scale than re-joining the pair list back to
    * the corpus twice to fetch them.
    *
    * With `maxBucketSize` set (recommended), candidate pairs — and hence
    * the per-pair intersection work — are bounded by `n * cap / 2`: linear
    * in corpus size. Uncapped, one boilerplate bucket reintroduces the
    * quadratic blow-up this operator exists to avoid. Recall trade: only
    * pairs agreeing on the full band are scored, and buckets above the cap
    * are dropped wholesale (dedup exact boilerplate with
    * [[exactDupGroups]] upstream). */
  def lshJaccardPairs(
      sig: DataFrame,
      idCol: String,
      bandCols: Seq[String],
      setCol: String,
      threshold: Double,
      maxBucketSize: Option[Int] = None,
      saltOversized: Boolean = false,
      persistSignatures: Boolean = false): DataFrame = Checkpoints.scoped {
    // For LONG-hashed sets (the production currency, TokenHashSetExpr)
    // the sets are sorted ONCE PER DOCUMENT below the join and the
    // per-PAIR intersection is the allocation-free merge walk
    // (SortedIntersectCountExpr) instead of array_intersect's per-pair
    // hash-set build + intersected-array materialization (~10% on q24
    // end-to-end; the win is per-pair allocation pressure at the 10^9-pair
    // scale). Sorting doesn't change set semantics — the sets are
    // distinct, and Jaccard is order-blind. Other element types keep the
    // general array_intersect path.
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // containsNull must be false: SortedIntersectCountExpr's inputTypes
    // demand non-nullable elements (a null would reach getLong and
    // miscount), and Catalyst cannot implicitly cast a nullable-element
    // array down to a non-nullable one — a nullable-element long array
    // (e.g. built via transform) keeps the general array_intersect path.
    val sortedMerge = sig.schema(setCol).dataType match {
      case ArrayType(LongType, false) => true
      case _ => false
    }
    val setExpr = if (sortedMerge) array_sort(col(setCol)) else col(setCol)
    // the (band, id, sorted set) projection is planned by the census, the
    // guard semi join, and BOTH self-join sides — `persistSignatures`
    // materializes it once (eager localCheckpoint), the
    // editConfirmedPairs pattern
    val keyedPlan =
      sig.select(bandKey(bandCols).as("band"), col(idCol).as("id"), setExpr.as("set"))
    val keyed = guardBuckets(
      if (persistSignatures) Checkpoints.checkpoint(keyedPlan) else keyedPlan,
      maxBucketSize, saltOversized)
    val l = keyed.select(col("band"), col("id").as("id_a"), col("set").as("set_a"))
    val r = keyed.select(col("band"), col("id").as("id_b"), col("set").as("set_b"))
    val joined = l.join(r, Seq("band")).where(col("id_a") < col("id_b"))
    if (sortedMerge) {
      val inter = graft.functions.SortedIntersectCountExpr
        .sorted_intersect_count(col("set_a"), col("set_b"))
      joined
        // sub-projection: the merge walk is referenced by numerator and
        // denominator — CollapseProject keeps the non-cheap expression in
        // its own Project so it runs once per pair
        .select(col("id_a"), col("id_b"), col("set_a"), col("set_b"),
          inter.as("_int"))
        .select(col("id_a"), col("id_b"),
          (col("_int").cast("double") /
            (size(col("set_a")) + size(col("set_b")) - col("_int")).cast("double")).as("jac"))
        .where(col("jac") >= threshold)
    } else {
      joined
        .select(col("id_a"), col("id_b"),
          jaccardPreDistinct(col("set_a"), col("set_b")).as("jac"))
        .where(col("jac") >= threshold)
    }
  }

  /** Candidate near-dup pairs from winnowing fingerprints: documents
    * sharing ANY fingerprint value are candidates — the substring-match
    * dual of [[lshCandidatePairsMultiBand]] (winnowing guarantees a shared
    * value for any >= w+k-1-char common substring, where MinHash banding
    * is probabilistic on set similarity).
    *
    * Shape: explode to one (fingerprint, id) row per fingerprint — the
    * fingerprint long IS the join key (8 bytes, never text) — guard
    * pathological fingerprint values (ubiquitous boilerplate substrings)
    * with `maxBucketSize`, self-join per value, and collapse pairs that
    * share several fingerprints with one final distinct. */
  def winnowCandidatePairs(
      docs: DataFrame,
      idCol: String,
      fpCol: Column,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val keyed = guardBuckets(
      docs.select(col(idCol).as("id"), explode(fpCol).as("band"))
        .select(col("band"), col("id")),
      maxBucketSize)
    val l = keyed.select(col("band"), col("id").as("id_a"))
    val r = keyed.select(col("band"), col("id").as("id_b"))
    l.join(r, Seq("band"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Overlap-coefficient (containment) near-dup pairs — the QUOTE /
    * inclusion detector symmetric Jaccard structurally misses: a short
    * document fully quoted inside a long one has overlap
    * `|A∩B| / min(|A|,|B|)` = 1 while its Jaccard `|A∩B| / |A∪B|` ≈
    * `|A| / |B|` — arbitrarily small. Candidates come from WINNOWING
    * fingerprints, whose shared-substring guarantee is the right
    * prefilter for inclusion (MinHash bands target Jaccard and
    * systematically miss containment pairs — the small side's signature
    * is dominated by the big side's extra tokens); the exact pass scores
    * the overlap coefficient on sorted token-hash sets with the merge
    * kernel.
    *
    * Scale shape: candidates are guard-bounded ([[guardBuckets]] via
    * [[winnowCandidatePairs]] — linear under the cap); the two set
    * attachments join the pair frame on 8-byte ids, each document's set
    * computed and sorted ONCE below them; the per-pair loop is the
    * allocation-free merge walk. Output: `(id_a, id_b, n_a, n_b, inter,
    * overlap)` for pairs with `overlap >= threshold`. */
  def containmentPairs(
      docs: DataFrame, textCol: Column, idCol: String,
      threshold: Double,
      k: Int = 5, w: Int = 8,
      maxBucketSize: Option[Int] = None,
      persistSignatures: Boolean = false): DataFrame = Checkpoints.scoped {
    val cand = winnowCandidatePairs(docs, idCol,
      graft.functions.WinnowFingerprintExpr.winnow(textCol, k, w), maxBucketSize)
    // the sorted-set projection is joined on BOTH pair sides — the
    // token-hash-set kernel + sort re-run per side unless persisted
    // (eager localCheckpoint).
    // Measured at sf0.1 (cap 50): the flag LOSES here (~1.6 -> 1.7 s) —
    // few candidates survive the winnow guard, so writing every doc's
    // multi-KB set to block storage costs more than the duplicate
    // kernel runs. Turn it on only when candidates are dense relative
    // to the corpus.
    val setsPlan = docs.select(col(idCol).as("_sid"),
      array_sort(graft.functions.TokenHashSetExpr.token_hash_set(textCol)).as("_set"))
    val sets = if (persistSignatures) Checkpoints.checkpoint(setsPlan) else setsPlan
    cand
      .join(sets.select(col("_sid").as("id_a"), col("_set").as("set_a")), Seq("id_a"))
      .join(sets.select(col("_sid").as("id_b"), col("_set").as("set_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("set_a")).cast("long").as("n_a"),
        size(col("set_b")).cast("long").as("n_b"),
        graft.functions.SortedIntersectCountExpr
          .sorted_intersect_count(col("set_a"), col("set_b"))
          .cast("long").as("inter"))
      .withColumn("overlap",
        col("inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .where(col("overlap") >= threshold)
  }

  /** 32-bit SimHash from token hashes: per bit position, the majority vote
    * of all token hashes' bits, weighted +1/-1.
    *
    * `conv(md5-prefix, 16, 10)` gives a deterministic unsigned 32-bit token
    * hash identical across engines.
    *
    * Perf note: higher-order array functions are *interpreted* (not
    * codegen'd), so the naive form — 32 independent per-bit aggregates —
    * re-evaluates the md5 token-hash array 32 times. This version folds the
    * token array ONCE with a 32-wide vote-array accumulator (`zip_with`
    * against constant bit masks), then reduces votes to the signature —
    * md5 runs once per token, a ~10x win measured at sf0.1. */
  def simhash(tokensCol: Column, bits: Int = 32): Column = {
    val masks = array((0 until bits).map(j => lit(1L << j)): _*)
    val hashes = transform(tokensCol, w => conv(substring(md5(w), 1, 8), 16, 10).cast("long"))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash of the whitespace tokens of a text column, via the codegen'd
    * [[graft.functions.SimhashExpr]] kernel — same semantics as
    * `simhash(tokens(text))` (equivalence held by TokenHashExprsSpec),
    * one tight generated loop instead of an interpreted 32-wide fold. */
  def simhashText(text: Column, bits: Int = 32): Column =
    graft.functions.SimhashExpr.simhash(text, bits)

  /** SimHash near-dup pairs within Hamming distance `maxDist`, found
    * WITHOUT an all-pairs join: the pigeonhole banding for Hamming space
    * (Manku/Jain/Sarma, WWW 2007 §3). Split the `bits`-bit signature into
    * `maxDist + 1` equal blocks — two signatures differing in at most
    * `maxDist` bits MUST agree on at least one whole block — so candidate
    * generation is `maxDist + 1` equi self-joins on (block index, block
    * value), and the exact `bit_count(a XOR b) <= maxDist` check runs only
    * on candidates. Complete by construction (the pigeonhole cover misses
    * no qualifying pair); precision is enforced by the confirm filter.
    *
    * Scale shape: signatures are one codegen kernel per row ([[simhashText]]);
    * the per-block shuffles carry (block key, id, 8-byte signature) — the
    * signature rides through the band shuffle so the confirm is a per-row
    * filter, never a join back to the corpus. `maxBucketSize` engages the
    * same census guard as MinHash LSH ([[guardBuckets]]): identical
    * boilerplate collapses to ONE signature whose block buckets go
    * quadratic uncapped — dropping over-cap buckets bounds candidates at
    * n·cap/2 per block. Block width is `bits / (maxDist+1)`: at corpus
    * scale use 64-bit signatures (16-bit blocks at d=3) — 8-bit blocks
    * have only 256 bucket values and everything collides.
    *
    * Output: (id_a, id_b, dist BIGINT), id_a < id_b, distinct. */
  def simhashHammingPairs(
      df: DataFrame,
      idCol: String,
      textCol: Column,
      maxDist: Int = 3,
      bits: Int = 32,
      maxBucketSize: Option[Int] = None,
      persistSignatures: Boolean = false): DataFrame = Checkpoints.scoped {
    val blocks = maxDist + 1
    require(bits % blocks == 0,
      s"simhashHammingPairs: bits ($bits) must divide into maxDist+1 ($blocks) blocks")
    val w = bits / blocks
    // each of the maxDist+1 block legs re-plans `sig` on BOTH sides of
    // its self-join, i.e. the simhash kernel (and everything upstream of
    // `df`) is planned 2x per leg — 8 evaluations at d=3.
    // `persistSignatures` materializes the (id, sim) projection ONCE via
    // an eager localCheckpoint — 16 bytes/row — and the legs read the
    // checkpointed rows. Off by default:
    // over a bare parquet scan the per-leg kernel re-run is cheap and
    // needs no executor storage.
    val sigPlan = df.select(col(idCol).as("id"), simhashText(textCol, bits).as("sim"))
    val sig = if (persistSignatures) Checkpoints.checkpoint(sigPlan) else sigPlan
    val perBlock = (0 until blocks).map { j =>
      // block j's value; the literal index in the key keeps block j of one
      // doc from colliding with block i of another
      val blockVal = shiftright(col("sim"), j * w).bitwiseAND(lit((1L << w) - 1))
      val keyed = guardBuckets(
        sig.select(
          md5(concat_ws("|", lit(j.toString), blockVal.cast("string"))).as("band"),
          col("id"), col("sim")),
        maxBucketSize)
      val l = keyed.select(col("band"), col("id").as("id_a"), col("sim").as("_sim_a"))
      val r = keyed.select(col("band"), col("id").as("id_b"), col("sim").as("_sim_b"))
      l.join(r, Seq("band"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("_sim_a"), col("_sim_b"))
    }
    perBlock.reduce(_.unionByName(_))
      .distinct() // a pair can agree on several blocks
      .withColumn("dist", bit_count(col("_sim_a").bitwiseXOR(col("_sim_b"))).cast("long"))
      .where(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Token-set Jaccard similarity of two text columns: |A ∩ B| / |A ∪ B|
    * over distinct tokens. Integer set sizes divided as doubles —
    * bit-identical across engines. */
  def jaccard(tokensA: Column, tokensB: Column): Column =
    jaccardPreDistinct(array_distinct(tokensA), array_distinct(tokensB))

  /** [[jaccard]] for inputs already deduplicated — the form to use in pair
    * joins: distinct the token arrays once per *document* (below the join),
    * not once per pair, and derive |A ∪ B| as |A| + |B| - |A ∩ B| instead
    * of materializing the union array per pair. */
  def jaccardPreDistinct(setA: Column, setB: Column): Column = {
    val inter = size(array_intersect(setA, setB))
    inter.cast("double") / (size(setA) + size(setB) - inter).cast("double")
  }

  /** Incremental (cross-corpus) dedup: the rows of a NEW batch that are
    * NOT LSH band-matches of any document in the existing CORPUS — the
    * ingestion-time pass that admits only novel documents, without ever
    * re-pairing the corpus against itself.
    *
    * A new document is a duplicate when ANY of its band keys equals the
    * corpus's key for the SAME band; keys are tagged with their band index
    * before the join so band `i` can only match band `i`. Both sides must
    * carry the signature columns named in `bands` (from
    * [[withMinhashSignature]]).
    *
    * Scale shape: the corpus contributes only its DISTINCT tagged band
    * keys (33-byte md5-derived strings — partial-agged map-side, never
    * document text), the new batch explodes to |bands| keyed rows per doc,
    * and the match is a semi join on those short keys followed by an anti
    * join on ids — the corpus documents themselves are never shuffled. On
    * a standing corpus the band-key table is exactly what
    * [[graft.io.Bucketing]]'s bucketed signature tables persist, making
    * the nightly run's semi join Exchange-free on the corpus side. */
  def dedupAgainstCorpus(
      newSigs: DataFrame,
      corpusSigs: DataFrame,
      idCol: String,
      bands: Seq[Seq[String]]): DataFrame =
    dedupAgainstCorpusKeys(
      newSigs, corpusBandKeys(corpusSigs, bands), idCol, bands)

  /** The standing-corpus side of [[dedupAgainstCorpus]] as its own
    * frame: the DISTINCT tagged band keys (33-byte strings, one column
    * `_band`). This is exactly the table a nightly pipeline should
    * PERSIST — written bucketed on `_band` ([[graft.io.Bucketing]]),
    * the nightly semi join plans with no Exchange and no re-derivation
    * on the corpus side (see
    * [[graft.pipeline.Curation.writeCorpusSigTables]]). */
  def corpusBandKeys(
      corpusSigs: DataFrame, bands: Seq[Seq[String]]): DataFrame = {
    require(bands.nonEmpty, "corpusBandKeys: at least one band required")
    corpusSigs
      .select(explode(array(taggedBandKeys(bands): _*)).as("_band"))
      .distinct()
  }

  /** [[dedupAgainstCorpus]] with the corpus side ALREADY reduced to its
    * distinct tagged band keys (a [[corpusBandKeys]] frame or a
    * persisted bucketed table of one). `corpusKeys` must carry the
    * single `_band` column and be distinct — a duplicated key would not
    * change the semi-join semantics, only its cost.
    *
    * BAND-STRUCTURE CONTRACT: `corpusKeys` must have been derived with
    * the SAME `bands` split (same band count, same signature columns per
    * band) as the `bands` argument here. The tag carries only the band
    * INDEX plus the md5 of that band's values, so a table persisted
    * under a different split (say two 1-hash bands vs one 2-hash band)
    * produces keys that can never equal the batch side's — the semi
    * join silently matches nothing and every batch row passes as
    * "novel" (a silent NO-OP dedup, the media `_meta.jsonl` class).
    * Raw frames derived in the same plan cannot diverge; PERSISTED
    * tables can — use the guarded path
    * ([[graft.pipeline.Curation.writeCorpusSigTables]] + the
    * table-backed `curateIncremental`, which stamps the signature
    * family into the table's properties and verifies it at read) rather
    * than hand-persisting a [[corpusBandKeys]] frame. */
  def dedupAgainstCorpusKeys(
      newSigs: DataFrame,
      corpusKeys: DataFrame,
      idCol: String,
      bands: Seq[Seq[String]]): DataFrame = {
    require(bands.nonEmpty, "dedupAgainstCorpusKeys: at least one band required")
    val dupIds = newSigs
      .select(col(idCol), explode(array(taggedBandKeys(bands): _*)).as("_band"))
      .join(corpusKeys.select(col("_band")), Seq("_band"), "left_semi")
      .select(col(idCol))
      .distinct()
    newSigs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Band keys tagged with their band index (band `i` can only match
    * band `i`) — unqualified col() refs, resolved by the .select each
    * side applies against its own frame. */
  private def taggedBandKeys(bands: Seq[Seq[String]]): Seq[Column] =
    bands.zipWithIndex.map { case (b, i) =>
      concat_ws("#", lit(i.toString), bandKey(b))
    }

  /** Corpus-level exact LINE deduplication — the C4/CCNet/RefinedWeb
    * sub-document pass that document-level dedup cannot express: nav
    * bars, cookie banners, and license footers repeat across MILLIONS of
    * otherwise-distinct pages, so the dedup unit must be the line. Every
    * line keeps exactly its FIRST corpus occurrence (smallest
    * (id, position)) and later occurrences are dropped; each document's
    * surviving lines are rejoined in original order.
    *
    * Scale shape: the first-occurrence election is `min(struct(id, pos,
    * line))` grouped by the line's md5 — a partial-aggregable min, so a
    * boilerplate line occurring a billion times collapses to one row per
    * task map-side BEFORE the shuffle (a window row_number formulation
    * would instead sort every occurrence of the hottest line in one
    * task — the exact skew this operator exists to absorb). One more
    * shuffle regroups survivors per document; the per-document total for
    * `n_removed` is a map-side projection of the input joined back on id.
    * Keying on md5 means a (2⁻¹²⁸) collision aliases two lines — the
    * standard trade of every hash-keyed dedup in this library.
    *
    * @return (idCol, clean_text, n_kept, n_removed); documents whose
    *         every line was dropped return clean_text = "". `textCol`
    *         must be non-null: a NULL text explodes to zero lines but
    *         sizes to NULL, making its n_removed NULL rather than 0 —
    *         coalesce upstream if NULLs are possible. */
  def dropDuplicateLines(
      docs: DataFrame, textCol: Column, idCol: String,
      sep: String = "\n"): DataFrame = {
    val qsep = java.util.regex.Pattern.quote(sep)
    val lines = docs
      .select(col(idCol), posexplode(split(textCol, qsep)).as(Seq("pos", "line")))
    val kept = lines
      .groupBy(md5(col("line")).as("_lh"))
      .agg(min(struct(col(idCol), col("pos"), col("line"))).as("_w"))
      .select(col("_w").getField(idCol).as(idCol),
        col("_w").getField("pos").as("pos"),
        col("_w").getField("line").as("line"))
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          sep).as("clean_text"))
    docs
      .select(col(idCol), size(split(textCol, qsep)).cast("long").as("_n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("_n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** LSH candidate recall/precision against exact all-pairs Jaccard — the
    * dedup analogue of [[Similarity.recallAtK]] (measure, don't guess):
    * one row of `{n_exact, n_cand, n_hit, recall_bp, precision_bp}` for
    * the production [[lshCandidatePairs]] path versus ground truth.
    * Recall here is the number that tunes `numHashes`/bands (a 2-hash
    * single band catches a Jaccard-J pair with probability ~J²); candidate
    * precision bounds the downstream exact-verify cost.
    *
    * The truth side is an all-pairs join — quadratic BY DESIGN; run it on
    * a bounded sample of the corpus (the [[Similarity.recallAtK]]
    * eval-on-a-sample contract). The candidate side is the production
    * code path itself, guard included. `thresholdBp` keeps the threshold
    * predicate all-integer (`inter·10⁴ ≥ t·(union)`), engine-exact at the
    * boundary; both sides are computed ONCE and combined in one
    * full-outer join, and empty truth/candidate sets report a vacuous
    * 10000 bp rather than dividing by zero. */
  def lshRecallEval(
      docs: DataFrame, textCol: Column, idCol: String,
      thresholdBp: Int, numHashes: Int = 2,
      maxBucketSize: Option[Int] = None): DataFrame = {
    require(thresholdBp >= 0 && thresholdBp <= 10000,
      s"lshRecallEval: thresholdBp must be in [0, 10000], got $thresholdBp")
    val sig = withMinhashSignature(docs, textCol, numHashes)
    val cand = lshCandidatePairs(
      sig, idCol, (0 until numHashes).map("mh" + _), maxBucketSize)
    val sets = docs.select(
      col(idCol).as("_id"), array_distinct(tokens(textCol)).as("_set"))
    val exact = sets.select(col("_id").as("id_a"), col("_set").as("set_a"))
      .join(sets.select(col("_id").as("id_b"), col("_set").as("set_b")),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("_i"),
        (size(col("set_a")) + size(col("set_b"))).cast("long").as("_sz"))
      .where(col("_i") * 10000 >= lit(thresholdBp.toLong) * (col("_sz") - col("_i")))
      .select(col("id_a"), col("id_b"))
    exact.withColumn("_e", lit(1L))
      .join(cand.withColumn("_c", lit(1L)), Seq("id_a", "id_b"), "full_outer")
      .agg(
        coalesce(sum(col("_e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("_c")), lit(0L)).as("n_cand"),
        coalesce(sum(col("_e") * col("_c")), lit(0L)).as("n_hit"))
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        when(col("n_exact") > 0, expr("n_hit * 10000 div n_exact"))
          .otherwise(lit(10000L)).as("recall_bp"),
        when(col("n_cand") > 0, expr("n_hit * 10000 div n_cand"))
          .otherwise(lit(10000L)).as("precision_bp"))
  }

  /** WITHIN-document repeated-line removal — the intra-doc sibling of
    * [[dropDuplicateLines]] (which elects first occurrences
    * corpus-wide): keep each line's first occurrence inside its own
    * document, drop later repeats (navigation blocks, footers, template
    * chrome repeated through one page). Entirely per-row array work —
    * a single `filter` whose predicate is first-occurrence-by-position —
    * so the operator is scan-bound with NO shuffle at any scale, where
    * the corpus-wide variant necessarily shuffles on the line hash.
    * Quadratic in lines-per-document (array_position walk per element),
    * which is the right trade for real page line counts (10²).
    *
    * @return (idCol, clean_text, n_lines, n_removed) */
  def dropRepeatedLinesInDoc(
      docs: DataFrame, textCol: Column, idCol: String,
      sep: String = "\n"): DataFrame = {
    val qsep = java.util.regex.Pattern.quote(sep)
    docs
      .withColumn("_la", split(textCol, qsep))
      // 0-based lambda index vs 1-based array_position: first occurrence
      // keeps the element whose position equals its own index + 1
      .withColumn("_kept",
        filter(col("_la"), (l, i) => array_position(col("_la"), l) === i + 1))
      .select(col(idCol),
        array_join(col("_kept"), sep).as("clean_text"),
        size(col("_la")).cast("long").as("n_lines"),
        (size(col("_la")) - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** Edit-distance-confirmed near-duplicate pairs: LSH band candidates
    * (the linear-under-cap generator) re-checked with a BOUNDED
    * Levenshtein distance over a fixed-length text prefix. The classic
    * "MinHash recalls, edit distance confirms" two-stage — Jaccard
    * (q24) is order-blind, while edit distance also catches reorderings
    * and is the metric template-dedup thresholds are usually stated in.
    *
    * Scale shape: candidate pairs are linear under the bucket cap; each
    * side's prefix is projected BELOW the join (id → prefix is a narrow
    * shuffle of ≤ `prefixLen`-char strings, never full documents), and
    * the per-pair cost is the bit-parallel Myers kernel
    * ([[graft.functions.LevenshteinKernel]], builtin-equal), O(prefixLen)
    * WORD operations instead of the banded DP's O(maxDist · prefixLen)
    * cell steps — the bound that keeps the confirm affordable at 10^9
    * candidate pairs.
    *
    * Output: (id_a, id_b, edit_dist) for confirmed pairs only,
    * edit_dist ≤ maxDist. */
  def editConfirmedPairs(
      docs: DataFrame, textCol: Column, idCol: String,
      numHashes: Int = 2, prefixLen: Int = 64, maxDist: Int = 16,
      maxBucketSize: Option[Int] = None,
      persistSignatures: Boolean = false): DataFrame = Checkpoints.scoped {
    require(prefixLen >= 1, s"editConfirmedPairs: prefixLen >= 1, got $prefixLen")
    require(maxDist >= 0, s"editConfirmedPairs: maxDist >= 0, got $maxDist")
    // the prefixes ride THROUGH the single band-key shuffle (the
    // [[lshJaccardPairs]] payload pattern — a 64-char prefix is cheaper
    // per row than q24's token sets), so the confirm is a per-row
    // expression on the joined frame; the previous form re-joined the
    // pair table to the corpus twice to fetch prefixes, shuffling the
    // (larger) candidate set two more times — measured 7.0 s -> ~1 s at
    // sf0.1
    val bandCols = (0 until numHashes).map("mh" + _)
    // the (band, id, prefix) projection is planned by the census, the
    // guard semi join, and BOTH self-join sides — the minhash kernel
    // over full text re-runs with each. `persistSignatures` materializes
    // it once (eager localCheckpoint, ~100 bytes/row).
    val keyedPlan = withMinhashSignature(docs, textCol, numHashes)
      .select(bandKey(bandCols).as("band"), col(idCol).as("id"),
        substring(textCol, 1, prefixLen).as("_pfx"))
    val keyed = guardBuckets(
      if (persistSignatures) Checkpoints.checkpoint(keyedPlan) else keyedPlan,
      maxBucketSize)
    val l = keyed.select(col("band"), col("id").as("id_a"), col("_pfx").as("_pa"))
    val r = keyed.select(col("band"), col("id").as("id_b"), col("_pfx").as("_pb"))
    l.join(r, Seq("band"))
      .where(col("id_a") < col("id_b"))
      // bounded levenshtein returns -1 past the bound — the banded early
      // exit; the -1 sentinel doubles as the confirm filter. The Myers
      // kernel is builtin-3-arg-equal (LevenshteinExprSpec) and turns the
      // per-pair banded DP (~2,100 cell steps at 64/16) into ~64 word
      // steps — the measured bulk of this operator's runtime
      .withColumn("edit_dist",
        graft.functions.LevenshteinBoundedExpr.graft_levenshtein(
          col("_pa"), col("_pb"), maxDist).cast("long"))
      .where(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** Incremental cluster assignment: route NEW documents to existing
    * dedup clusters by LSH band membership — the arriving-batch half of
    * incremental dedup ([[incrementalBandKeys]] tells you which docs are
    * dupes; this tells you WHICH cluster each one belongs to). A new
    * document matching several bands lands in the lowest matching
    * representative (the same min-id canonicalization the CC clusters
    * use); an unmatched document keeps a NULL assignment (it seeds a new
    * cluster).
    *
    * Scale shape: the existing corpus collapses to one (band → min rep)
    * row per band BEFORE the join (map-side partial min, short md5
    * keys); the new batch joins on the band key and re-aggregates per
    * document — both shuffles carry short keys, never text. */
  def assignToClusters(
      existing: DataFrame, newDocs: DataFrame, textCol: Column, idCol: String,
      numHashes: Int = 2): DataFrame = {
    val bandCols = (0 until numHashes).map("mh" + _)
    def banded(df: DataFrame): DataFrame =
      withMinhashSignature(df, textCol, numHashes)
        .select(col(idCol), bandKey(bandCols).as("band"))
    val reps = banded(existing).groupBy(col("band"))
      .agg(min(col(idCol)).as("_rep"))
    banded(newDocs)
      .join(reps, Seq("band"), "left")
      .groupBy(col(idCol))
      .agg(min(col("_rep")).as("assigned_cluster"))
  }
}
