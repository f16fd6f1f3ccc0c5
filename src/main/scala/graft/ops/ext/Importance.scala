package graft.ops.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-matching data selection and count-based LM scoring —
  * the "which raw documents resemble my target corpus" operators a
  * pretraining-data pipeline runs after dedup and before mixing.
  *
  * Both operators here are INTEGER-EXACT end to end: the logarithm every
  * formulation needs is Mitchell's piecewise-linear log2 (exact at powers
  * of two, linear between, monotone) in 2^16 fixed point, so the DuckDB
  * oracle reproduces every score bit for bit with `length(bin(x))`
  * arithmetic — no float log, no cross-engine rounding skew.
  *
  * Scale shape:
  *  - DSIR bucket statistics are two partial-aggregated counts over a
  *    FIXED number of hash buckets (default 4096) — the only collected
  *    state is ≤ `buckets` rows (the trained model, same bound class as
  *    the IVF centroid collect), and scoring is a map-side fold against
  *    the broadcast literal table: the corpus is never shuffled.
  *  - The bigram-LM passes join exploded bigrams to corpus count tables
  *    on 8-BYTE KERNEL HASH keys (`bigramHashTriples` — round 10; they
  *    shuffled "w1 w2" strings before): count tables are corpus-sized,
  *    so nothing broadcasts and the joins shuffle on their natural keys
  *    with map-side partial aggregation, but every exploded row and
  *    count-table key is a long, and no bigram string is ever built.
  *    The oracle applies the identical md5-prefix hashing, so the
  *    (astronomically rare) hash-collision count merge is engine-exact.
  */
object Importance {

  /** Fixed-point scale (2^16) for the piecewise-linear log2. */
  val Scale = 65536L

  /** Largest argument [[flog2]] accepts: x·S must stay inside a signed
    * long, so x < 2^47 ≈ 1.4·10^14 — far above any count a 100 TB corpus
    * produces (10^13 tokens), and the same bound DuckDB's BIGINT
    * arithmetic needs in [[flog2Sql]]. */
  val MaxFlog2Arg: Long = (1L << 47) - 1

  /** Mitchell's approximation: flog2(x) = (e + (x - 2^e)/2^e) · S for
    * e = floor(log2 x) — computed as e·S + (x·S >> e) − S, all integer.
    * Requires 1 ≤ x ≤ [[MaxFlog2Arg]]. The SQL twin is [[flog2Sql]];
    * equivalence is spec-held across the domain. */
  def flog2(x: Long): Long = {
    require(x >= 1 && x <= MaxFlog2Arg, s"flog2: x must be in [1, 2^47), got $x")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    e * Scale + ((x * Scale) >> e) - Scale
  }

  /** Catalyst twin of [[flog2]] over a BIGINT column/expression (x ≥ 1):
    * `bin(x)` length gives the exponent e, and `(x·S) >> e` is the exact
    * integer `(x·S) div 2^e` for positive x — the same value DuckDB's
    * `(x*S) // (1 << e)` yields in [[flog2Sql]]. */
  def flog2Col(x: Column): Column = {
    val e = (length(bin(x)) - 1).cast("int")
    e.cast("long") * Scale +
      call_function("shiftright", x.cast("long") * Scale, e) - Scale
  }

  /** DuckDB spelling of [[flog2]] for oracle SQL; `x` must be a BIGINT
    * SQL expression (parenthesize compound expressions). */
  def flog2Sql(x: String): String =
    s"((length(bin($x))-1)*$Scale + (($x)*$Scale) // (1::BIGINT << (length(bin($x))-1)) - $Scale)"

  /** Adjacent-token bigrams as "w1 w2" strings; < 2 tokens → empty. */
  def bigrams(text: Column): Column = {
    val toks = Dedup.tokens(text)
    val n = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
      (a, b) => concat_ws(" ", a, b))
  }

  /** Feature-hash bucket in [0, buckets): first 8 md5 hex chars mod
    * buckets — portable to the oracle as
    * `CAST(('0x' || substr(md5(f),1,8)) AS BIGINT) % buckets`. */
  def featureBucket(f: Column, buckets: Int): Column =
    conv(substring(md5(f), 1, 8), 16, 10).cast("long") % buckets

  /** Bucket ids of every adjacent-token bigram, via the codegen n-gram
    * hash kernel — the hot-path form of
    * `transform(bigrams(text), f => featureBucket(f, buckets))`: the
    * kernel's 60-bit hash IS the first 15 md5 hex chars of the same
    * space-joined bigram ([[graft.functions.TokenNgramHashExpr]],
    * equivalence spec-held), so its top 32 bits (`>> 28`) equal the
    * first 8 hex chars [[featureBucket]] converts — bit-identical
    * buckets, zero bigram strings or interpreted md5 trees built
    * (measured 2.9 s → see PLANS.md q107). Oracle SQL is unchanged. */
  def bigramBuckets(text: Column, buckets: Int): Column =
    transform(
      graft.functions.TokenNgramHashExpr.token_ngram_hashes(text, 2),
      h => shiftright(h, 28) % buckets)

  /** Per-bigram hash triple `(fh, w1h, w2h)` — the 60-bit kernel hash of
    * the bigram plus the hashes of its two tokens, positionally aligned
    * from the 2-gram and 1-gram kernel arrays. The LM operators join and
    * count on THESE 8-byte keys instead of "w1 w2" strings: the explode
    * and every count-table shuffle carry longs, and no bigram string or
    * interpreted md5 tree is ever built. Hash collisions (60-bit md5
    * prefixes) merge the colliding types' counts — the oracle applies
    * the identical hashing, so both engines merge identically; at any
    * real vocabulary the collision odds are ~|V|²/2^60. */
  private[ext] def bigramHashTriples(text: Column): Column = {
    val bg = graft.functions.TokenNgramHashExpr.token_ngram_hashes(text, 2)
    val un = graft.functions.TokenNgramHashExpr.token_ngram_hashes(text, 1)
    val m = size(bg)
    zip_with(bg,
      zip_with(slice(un, lit(1), m), slice(un, lit(2), m),
        (a, b) => struct(a.as("w1h"), b.as("w2h"))),
      (f, w) => struct(f.as("fh"),
        w.getField("w1h").as("w1h"), w.getField("w2h").as("w2h")))
  }

  /** A trained DSIR model: per-bucket log-likelihood-ratio weights, the
    * weight an UNSEEN bucket gets (both counts zero — just the smoothing
    * constant), and the bucket count the features hash into. ≤ `buckets`
    * entries — driver/broadcast-sized by construction. */
  final case class DsirModel(weights: Map[Long, Long], default: Long, buckets: Int)

  /** Train DSIR-style importance weights (Xie et al., NeurIPS 2023 —
    * "Data Selection for Language Models via Importance Resampling"):
    * per hashed-bigram bucket, the log-likelihood ratio of the TARGET
    * distribution (rows where `isTarget`) versus the RAW distribution
    * (all rows), with add-one smoothing:
    *
    *   w_b = flog2(tc_b+1) − flog2(rc_b+1) + flog2(R+B) − flog2(T+B)
    *
    * where tc/rc are target/raw occurrence counts of bucket b, T/R the
    * total feature counts and B the bucket count. The aggregation is
    * map-side partial over ≤ B buckets; the collect is bounded by B —
    * the same driver-side bound class as the IVF centroid collect. */
  def trainDsir(
      docs: DataFrame, textCol: Column,
      isTarget: Column, buckets: Int = 4096): DsirModel = {
    require(buckets >= 2, s"trainDsir: buckets must be >= 2, got $buckets")
    val counts = docs
      .select(isTarget.as("_t"), explode(bigramBuckets(textCol, buckets)).as("bkt"))
      .groupBy(col("bkt"))
      .agg(count(lit(1)).as("rc"),
        sum(when(col("_t"), 1L).otherwise(0L)).as("tc"))
      .collect()
    val totR = counts.map(_.getAs[Long]("rc")).sum
    val totT = counts.map(_.getAs[Long]("tc")).sum
    val cst = flog2(totR + buckets) - flog2(totT + buckets)
    DsirModel(
      counts.map { r =>
        r.getAs[Long]("bkt") ->
          (flog2(r.getAs[Long]("tc") + 1) - flog2(r.getAs[Long]("rc") + 1) + cst)
      }.toMap,
      default = cst, // tc = rc = 0: flog2(1) − flog2(1) + cst
      buckets = buckets)
  }

  /** Score rows under a trained model: one map-side fold per row against
    * the broadcast literal weight table — no join, no shuffle. Buckets
    * the model never saw fall back to `model.default`. High scores = resembles the
    * target; selection is a threshold or top-k over `dsir_score`.
    *
    * Output: (idCol, n_feats, dsir_score) for every input row —
    * featureless documents score 0. */
  def applyDsir(
      df: DataFrame, textCol: Column, idCol: String,
      model: DsirModel): DataFrame = {
    val wmap = typedLit(model.weights)
    df
      .withColumn("_bk", bigramBuckets(textCol, model.buckets))
      .select(col(idCol),
        size(col("_bk")).cast("long").as("n_feats"),
        aggregate(col("_bk"), lit(0L),
          (acc, b) => acc + coalesce(element_at(wmap, b), lit(model.default)))
          .as("dsir_score"))
  }

  /** Train-and-score in one call (the q107 entry point): weights trained
    * on `docs` itself, so every feature bucket is covered and the
    * default never fires. */
  def dsirScores(
      docs: DataFrame, textCol: Column, idCol: String,
      isTarget: Column, buckets: Int = 4096): DataFrame =
    applyDsir(docs, textCol, idCol, trainDsir(docs, textCol, isTarget, buckets))

  /** Per-document add-one-smoothed bigram LM log-probability (the
    * count-based stand-in for perplexity filtering, CCNet-style): for
    * each bigram (w1,w2),
    *
    *   lp = flog2(cnt(w1,w2) + 1) − flog2(cnt(w1) + V)
    *
    * (V = corpus vocabulary size) summed per document. More negative =
    * more surprising under the corpus's own bigram model. Differs from
    * [[TextStats.bigramRarity]] in being a calibrated (smoothed,
    * vocabulary-normalized) log-probability rather than an inverse-ratio
    * sum — the quantity a perplexity threshold actually cuts on.
    *
    * Output: (idCol, n_bigrams, lm_logprob) for every input row; < 2
    * tokens → (0, 0).
    */
  def bigramLogProb(docs: DataFrame, textCol: Column, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = docs
      .select(col(idCol), explode(bigramHashTriples(textCol)).as("t"))
      .select(col(idCol), col("t.fh"), col("t.w1h"))
    val uni = docs
      .select(explode(
        graft.functions.TokenNgramHashExpr.token_ngram_hashes(textCol, 1)).as("w1h"))
      .groupBy(col("w1h")).agg(count(lit(1)).as("cnt1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    // cnt2 as a WINDOW over the pair stream, not a groupBy + self-join:
    // DataFrame plans share no common subtrees, so `pairs.groupBy(fh)`
    // as a second consumer re-planned the whole corpus explode (the
    // bm25 df-as-window pattern; round-19 sweep). The window exchanges
    // pairs by fh — the exchange the join needed anyway.
    val scored = pairs
      .withColumn("cnt2", count(lit(1)).over(Window.partitionBy(col("fh"))))
      .join(uni, Seq("w1h"))
      .crossJoin(broadcast(vocab)) // one-row scalar, broadcast by design
      .withColumn("lp", flog2Col(col("cnt2") + 1L) - flog2Col(col("cnt1") + col("v")))
      .groupBy(col(idCol))
      .agg(sum(col("lp")).as("lm_logprob"), count(lit(1)).as("n_bigrams"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_logprob"), lit(0L)).as("lm_logprob"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): rank
    * every document by its per-bigram LM negative log-probability WITHIN
    * its language and cut into `nBuckets` equal groups — head (closest
    * to the LM), middle, tail; CCNet keeps head+middle and drops or
    * down-weights tail. The cut key is the fixed-point mean NLL
    * `(−lm_logprob · 2^16) div n_bigrams` — negated FIRST so the integer
    * division runs on non-negative operands (Spark's truncating `div`
    * and DuckDB's flooring `//` agree there); add-one smoothing makes
    * `lm_logprob ≤ 0` always, and bigram-less docs take a sentinel worst
    * score (deepest tail). Buckets are NTILE semantics (equal sizes,
    * earlier buckets get the remainder), ties ranked by id — identical
    * in every engine.
    *
    * Output: (idCol, langCol, n_bigrams, avg_nll, bucket), bucket 1 =
    * head … nBuckets = tail.
    *
    * Scale shape: scoring is [[bigramLogProb]]'s (two corpus-token
    * shuffles on 8-byte hash keys); the bucket cut windows over
    * (id, lang, two longs) rows only — never text. */
  def perplexityBuckets(
      docs: DataFrame, textCol: Column, idCol: String, langCol: String,
      nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, s"perplexityBuckets: nBuckets must be >= 1, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val scored = bigramLogProb(docs, textCol, idCol)
    val w = Window.partitionBy(col(langCol)).orderBy(col("avg_nll"), col(idCol))
    docs.select(col(idCol), col(langCol))
      .join(scored, Seq(idCol))
      .withColumn("avg_nll", when(col("n_bigrams") > 0L,
        expr("((0 - lm_logprob) * 65536) div n_bigrams")).otherwise(lit(1L << 62)))
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .select(col(idCol), col(langCol), col("n_bigrams"), col("avg_nll"), col("bucket"))
  }

  /** Per-document KNESER-NEY smoothed bigram log-probability — the
    * KenLM-class smoothing the add-one model ([[bigramLogProb]]) is a
    * stand-in for. Absolute discount D = 3/4 (Chen & Goodman 1999's
    * fixed-discount variant, exact in quarters), continuation backoff:
    *
    *   P(w2|w1) = (c(w1w2) − D)/c(w1) + D·N1+(w1·)/c(w1) · N1+(·w2)/N_bi
    *
    * with c(w1) the CONTEXT total (Σ_w2 c(w1w2)), N1+(w1·)/N1+(·w2) the
    * distinct successor/predecessor counts, N_bi the distinct bigram
    * types. Scoring is over the corpus's own bigrams, so c(w1w2) ≥ 1 and
    * no unseen-event branch is needed.
    *
    * Fixed-point: each term is scaled by `scale` and floored
    * independently (deterministic integer div on both engines):
    *
    *   t1 = scale·(4c₁₂ − 3) div 4c₁
    *   t2 = 3·scale·N1+(w1·)·N1+(·w2) div (4c₁·N_bi)
    *   lp = flog2(t1 + t2 + 1) − flog2(scale)
    *
    * Headroom: `3·scale·N1+(w1·)·N1+(·w2)` and `4·c₁·N_bi` must stay
    * under 2^63 — at the default 2^20 scale that holds while
    * N1+(w1·)·N1+(·w2) < 2^41 and c₁·N_bi < 2^61; shrink `scale` for
    * corpora beyond (the [[TextStats.unigramRarity]] headroom
    * convention).
    *
    * Scale shape: the model is computed at bigram-TYPE level — `bi`
    * (distinct bigrams) carries its context and predecessor statistics
    * as WINDOW columns (w1h- and w2h-partitioned — the same two
    * exchanges the former join formulation paid, without re-planning
    * the corpus explode per derived table) plus the one-row N_bi
    * scalar, and the per-type `lp` is what the corpus pair stream joins
    * (ONE shuffle on the bigram key); the per-doc fold is a
    * partial-aggregated groupBy. The corpus stream is never joined more
    * than once.
    *
    * Output: (idCol, n_bigrams, kn_logprob) for every input row; < 2
    * tokens → (0, 0). */
  def kneserNeyLogProb(
      docs: DataFrame, textCol: Column, idCol: String,
      scale: Long = 1L << 20): DataFrame = {
    require(scale >= 1, s"kneserNeyLogProb: scale must be >= 1, got $scale")
    val pairs = docs
      .select(col(idCol), explode(bigramHashTriples(textCol)).as("t"))
      .select(col(idCol), col("t.fh"), col("t.w1h"), col("t.w2h"))
    // w1h/w2h are functions of the bigram the hash denotes; max() makes
    // the (astronomically rare, oracle-mirrored) collision case
    // deterministic rather than first-seen
    val bi = pairs.groupBy(col("fh")).agg(count(lit(1)).as("c12"),
      max(col("w1h")).as("w1h"), max(col("w2h")).as("w2h"))
    // context totals and the N1+ successor/predecessor counts as WINDOWS
    // over the type table, not groupBy + self-joins: each of the three
    // derived tables (ctx, pre — and their joins back) was a separate
    // consumer of `bi`, re-planning the full corpus explode + type
    // aggregation per consumer (5 corpus explodes total; round-19
    // sweep, the bm25 df-as-window pattern). The two window exchanges
    // (w1h, w2h) are the exchanges the two joins needed anyway. `bi`
    // stays an aggregation — N1+ counts are DISTINCT-type counts, which
    // a window over the occurrence stream cannot express (count-distinct
    // over a window is unsupported; collect_set funnels hot contexts).
    // The one remaining extra consumer is the N_bi scalar (a one-row
    // aggregate has no window form over an unbounded type table) —
    // 3 corpus explodes total: scoring stream, type chain, scalar.
    import org.apache.spark.sql.expressions.Window
    val wCtx = Window.partitionBy(col("w1h"))
    val wPre = Window.partitionBy(col("w2h"))
    val nbi = bi.agg(count(lit(1)).as("nb"))
    val typeLp = bi
      .withColumn("c1", sum(col("c12")).over(wCtx))
      .withColumn("n1w1", count(lit(1)).over(wCtx))
      .withColumn("n1w2", count(lit(1)).over(wPre))
      .crossJoin(broadcast(nbi)) // one-row scalar, broadcast by design
      .withColumn("t1", expr(s"($scale * (4 * c12 - 3)) div (4 * c1)"))
      .withColumn("t2", expr(s"(3 * $scale * n1w1 * n1w2) div (4 * c1 * nb)"))
      .select(col("fh"),
        (flog2Col(col("t1") + col("t2") + 1L) - lit(flog2(scale))).as("lp"))
    val scored = pairs
      .join(typeLp, Seq("fh"))
      .groupBy(col(idCol))
      .agg(sum(col("lp")).as("kn_logprob"), count(lit(1)).as("n_bigrams"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("kn_logprob"), lit(0L)).as("kn_logprob"))
  }
}
