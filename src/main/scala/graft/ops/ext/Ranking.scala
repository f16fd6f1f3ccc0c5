package graft.ops.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking combination and ranking-quality evaluation — the retrieval
  * layer of a training-data pipeline (decontamination-by-retrieval,
  * neighbor audits, hybrid candidate generation for dedup review) needs
  * both: fuse the lexical and semantic rankers' candidate lists, and
  * score any ranker against labeled ground truth.
  *
  * Both operators follow the house fixed-point discipline: scores are
  * BIGINT (floor division on non-negative operands — Spark `div` and
  * DuckDB `//` agree), so results are engine-exact and hash-gateable.
  * The reference has no ranking layer (its queries are ETL); these are
  * extension operators in the q106/q25 retrieval family.
  */
object Ranking {

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
    * N per-query candidate rankings: `score(d) = Σ_r floor(scale / (kc +
    * rank_r(d)))` over the rankings that contain `d`. RRF is the
    * standard zero-tuning hybrid-retrieval combiner — rank-only, so a
    * BM25 integer score and a cosine double never need calibrating onto
    * one scale, and a document missing from one list simply contributes
    * nothing (no sentinel rank).
    *
    * Each input must carry (`query_id`, `idCol`, `rnk`) with `rnk`
    * 1-based within its query — the `bm25TopK` / `cosineTopK` /
    * `coverageTopK` output contract. `kc` defaults to the paper's 60.
    * A malformed input that repeats (`query_id`, id) WITHIN one list
    * (impossible under a `row_number` contract, possible from a hand-
    * built frame) is deduped to its BEST rank before the fold — one
    * list contributes at most once per document to `rrf_score`, and
    * `n_lists` counts LISTS, never rows.
    *
    * Scale shape: the inputs are top-k lists — queries×k rows each, never
    * corpus-sized — so the union, the (query, doc) fold, and the final
    * top-k window all run on bounded data. The per-query fold partial-
    * aggregates before its shuffle; the window's rank filter is a
    * foldable `rnk <= topK` (InferWindowGroupLimit prunes map-side).
    *
    * Output: (`query_id`, idCol, `rrf_score`, `n_lists`, `rnk`), BIGINT
    * score/count/rank, ties on score broken by id — a total order. */
  def rrfFuse(
      rankings: Seq[DataFrame], idCol: String, topK: Int,
      kc: Long = 60L, scale: Long = 1000000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    val slim = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col("query_id"), col(idCol),
        col("rnk").cast("long").as("rnk"), lit(i).as("_li"))
    }
    // per-(list, query, doc) best rank: the duplicate-row guard (the two
    // folds shuffle the same queries×k×lists rows twice — bounded inputs
    // by contract, so the extra Exchange is noise next to the retrieval
    // passes that feed this)
    val fused = slim.reduce(_ union _)
      .groupBy(col("query_id"), col(idCol), col("_li"))
      .agg(min(col("rnk")).as("rnk"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(expr(s"$scale div ($kc + rnk)")).as("rrf_score"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col(idCol))
    fused
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topK)
      .select(col("query_id"), col(idCol), col("rrf_score"),
        col("n_lists"), col("rnk"))
  }

  /** Query-term-coverage ranking — the cheap lexical recall baseline
    * (and RRF fusion partner for [[graft.ops.ext.TextStats.bm25TopK]]):
    * each document scored by how many DISTINCT query terms it contains,
    * ties by id. No tf, no idf — exactly the candidate generator a
    * contamination audit wants when the benchmark string may be quoted
    * with reordered words.
    *
    * Scale shape: the queries are a LITERAL handful by contract, so their
    * tokenized term sets are embedded as array literals (the q170
    * typedLit rule — a model-bounded table is plan data, not a join
    * side) and coverage is `size(array_intersect(distinct-doc-tokens,
    * query-terms))` per (doc, query literal). The corpus token stream is
    * never exploded and never joined: the old explode + broadcast-join +
    * groupBy form shipped hundreds of (doc, token) generator rows per
    * document through a (query, doc) aggregation exchange to compute
    * what one codegen'd array intersect reads off the projection
    * (round-19 measurement in PLANS.md). Only the queries-per-doc
    * generator (|queries| rows per doc, zero-coverage rows filtered
    * before any exchange) and the WindowGroupLimit-pruned top-k window
    * remain. Documents matching no term are absent.
    *
    * Output: (`query_id`, idCol, `coverage`, `rnk`), all BIGINT. */
  /** Driver-side replica of the ENGINE tokenizer ([[Dedup.tokens]] =
    * `split(trim(s), "\\s+")`) — exact for ANY input, not just trimmed
    * ASCII: Spark `trim` strips ONLY 0x20 space characters (Java
    * `String.trim` would also strip every char <= U+0020, so a leading
    * tab/newline/CR changes the term set), and Spark `split` runs with
    * limit -1 (keeps trailing empty tokens, where one-arg `String.split`
    * drops them). Both sides run the same Java regex engine, so the body
    * agrees once the edges do; parity vs the in-plan form is spec-held
    * on the tab/CR/newline edge fixtures (RankingSpec). */
  private[ext] def driverTokens(s: String): Seq[String] = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e).split("\\s+", -1).toSeq
  }

  def coverageTopK(
      docs: DataFrame, textCol: Column, idCol: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val qTerms: Seq[(Long, Seq[String])] = queries.map { case (qid, t) =>
      (qid, driverTokens(t).distinct)
    }
    val qlit = typedLit(qTerms.map { case (qid, ts) => (qid, ts) })
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("coverage").desc, col(idCol))
    docs
      .select(col(idCol), array_distinct(Dedup.tokens(textCol)).as("_dt"))
      .select(col(idCol), col("_dt"), explode(qlit).as("_q"))
      .select(col(idCol), col("_q._1").as("query_id"),
        size(array_intersect(col("_dt"), col("_q._2"))).cast("long").as("coverage"))
      .where(col("coverage") > 0)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col(idCol), col("coverage"), col("rnk"))
  }

  /** Binary-relevance nDCG@k of a neighbor ranking against labeled
    * ground truth — the graded companion to `recallAtK`: recall says how
    * many relevant neighbors surfaced, nDCG says how HIGH they ranked
    * (an ANN index that buries every true neighbor at rank k scores the
    * same recall but much worse nDCG).
    *
    * Fixed-point discipline where it matters: the irrational discounts
    * `1/log2(i+1)` are precomputed ONCE here in Scala as `floor(scale /
    * log2(i+1))` longs and injected into the plan as literals — the
    * oracle embeds the SAME constants, so no engine ever evaluates a
    * float log and the result hashes exactly. `DCG = Σ disc(rnk)` over
    * relevant hits; `IDCG = Σ disc(1..min(R,k))` where `R` = the query's
    * corpus-wide relevant count (its label's population minus the query
    * itself — the `cosineTopK` contract, which never ranks the query);
    * `ndcg_ppm = floor(1e6·DCG/IDCG)`, NULL when R = 0 (no relevant
    * documents exist — the metric's undefined case).
    *
    * Scale shape: `ranking` is queries×k rows. The only corpus-sized
    * input is `labels`; it contributes one equi join onto the ranking's
    * neighbor ids and one partial-aggregated per-label census (≤ #labels
    * rows, broadcast back). The corpus itself never shuffles.
    *
    * @param ranking (q_id, n_id, rnk) — `cosineTopK`-shaped, rnk 1-based
    * @param labels  (id, label) — non-null labels for every ranked id
    * @return one row per query: (q_id, dcg_s, idcg_s, ndcg_ppm) */
  def ndcgAtK(
      ranking: DataFrame, labels: DataFrame, k: Int,
      scale: Long = 1000000000L): DataFrame = {
    val discs = ndcgDiscounts(k, scale)
    val prefix = discs.scanLeft(0L)(_ + _).tail // prefix(i) = Σ disc(1..i)
    val nLab = labels.select(col("id").as("n_id"), col("label").as("_n_lab"))
    val qLab = labels.select(col("id").as("q_id"), col("label").as("_q_lab"))
    val census = labels.groupBy(col("label").as("_q_lab"))
      .agg(count(lit(1)).as("_lab_n"))
    ranking
      // truncate to depth k FIRST: a deeper list (nDCG@5 over a top-10
      // ranking) must not feed rnk > k into the k-entry discount lookup
      // (ANSI element_at throws past the table) — the truncation IS the
      // metric's @k, mirrored by the oracle's `WHERE rnk <= k`
      .where(col("rnk") <= k)
      .join(nLab, "n_id")
      .join(qLab, "q_id")
      .groupBy(col("q_id"), col("_q_lab"))
      .agg(sum(when(col("_n_lab") === col("_q_lab"),
        element_at(typedLit(discs), col("rnk").cast("int")))
        .otherwise(0L)).as("dcg_s"))
      .join(broadcast(census), "_q_lab")
      .withColumn("_r", col("_lab_n") - 1L)
      .select(col("q_id"), col("dcg_s"),
        when(col("_r") > 0,
          element_at(typedLit(prefix), least(col("_r"), lit(k.toLong)).cast("int")))
          .otherwise(0L).as("idcg_s"))
      .withColumn("ndcg_ppm",
        when(col("idcg_s") > 0,
          expr("(1000000 * dcg_s) div idcg_s")))
  }

  /** The literal discount table [[ndcgAtK]] and its oracle share:
    * `disc(i) = floor(scale / log2(i+1))` for i = 1..k. */
  def ndcgDiscounts(k: Int, scale: Long = 1000000000L): Seq[Long] =
    (1 to k).map(i =>
      math.floor(scale / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** Kendall rank correlation (tau-a) between two rankers' top-k lists,
    * per query — the pairwise-order agreement a ranker-swap audit wants
    * ([[rrfFuse]]'s diagnostic dual: before fusing BM25 with coverage,
    * measure whether they ORDER shared candidates the same way; after
    * replacing exact cosine with IVF, measure how much order survived).
    * Computed over the documents BOTH lists rank (the standard top-k
    * restriction): of the `m(m−1)/2` unordered pairs, `tau = (C − D) /
    * pairs`. Ranks from `row_number` contracts are strict, so tau-a is
    * exact — no tie correction term.
    *
    * All-BIGINT: `tau_ppm` uses the pmod FLOOR division form because the
    * numerator can be negative (reversed order → −1e6); the division is
    * `div` on longs (never routed through a double), so the result is
    * exact for any list depth whose scaled numerator fits a long —
    * `|C−D|·1e6 < 2^63`, i.e. up to ~9.2e12 pairs (k ≈ 4.3e6), far past
    * any top-k contract. Queries with fewer than 2 common documents have
    * no pairs and are absent — the metric's undefined case, kept absent
    * rather than faked as 0.
    *
    * Scale shape: inputs are queries×k frames (the [[rrfFuse]] contract),
    * so the equi self-join on `query_id` generates ≤ k² rows per query —
    * bounded by construction, never corpus-sized.
    *
    * @param a,b (query_id, idCol, rnk) rankings, rnk strict 1-based
    * @return per query: (query_id, pairs, concordant, discordant,
    *         tau_ppm), all BIGINT */
  def kendallTau(a: DataFrame, b: DataFrame, idCol: String): DataFrame = {
    val l = a.select(col("query_id"), col(idCol),
      col("rnk").cast("long").as("_ra"))
    val r = b.select(col("query_id"), col(idCol),
      col("rnk").cast("long").as("_rb"))
    val m = l.join(r, Seq("query_id", idCol))
    val i = m.select(col("query_id"), col(idCol).as("_i"),
      col("_ra").as("_rai"), col("_rb").as("_rbi"))
    val j = m.select(col("query_id"), col(idCol).as("_j"),
      col("_ra").as("_raj"), col("_rb").as("_rbj"))
    val sgn = (col("_rai") - col("_raj")) * (col("_rbi") - col("_rbj"))
    i.join(j, "query_id").where(col("_i") < col("_j"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("pairs"),
        sum(when(sgn > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sgn < 0, 1L).otherwise(0L)).as("discordant"))
      // exact FLOOR division on the (possibly negative) numerator —
      // all-long arithmetic, DuckDB `//` parity (the shared helper)
      .withColumn("tau_ppm", graft.core.IntCols.floorDiv(
        (col("concordant") - col("discordant")) * 1000000L, col("pairs")))
  }

  /** Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) truncated
    * at depth k, per query — [[kendallTau]]'s top-weighted complement:
    * tau treats a swap at ranks 1-2 and 9-10 identically, RBO weights
    * agreement at depth `d` by `(1−p)·p^(d−1)`, so head agreement
    * dominates — the right lens when only the top of the fused list is
    * ever consumed. `p` (persistence, default 0.9) is the standard
    * "how deep does the user look" knob.
    *
    * Fixed-point by the [[ndcgAtK]] literal-table trick: a document both
    * lists rank enters every depth `d ≥ max(rank_a, rank_b)`, so its
    * total contribution is the SUFFIX SUM `Σ_{d≥max}` of the per-depth
    * weights `floor(scale·(1−p)·p^(d−1)/d)` — precomputed ONCE here as
    * longs ([[rboSuffixWeights]]) and looked up per common document via
    * `element_at`. No engine evaluates a float power. `rbo_ppm`
    * normalizes by the identical-lists total (`Σ_r suffix(r)`, exact on
    * the same floored table), so 1e6 = identical top-k lists; queries
    * sharing no documents are absent (score 0, the undefined-denominator
    * case never arises because the normalizer is a Scala constant > 0).
    *
    * Lists deeper than `k` are truncated (a document whose max rank
    * exceeds `k` enters no prefix ≤ k, so it carries zero RBO@k mass —
    * the filter IS the metric's truncation, and it keeps the
    * `element_at` lookup inside the k-entry table under ANSI);
    * `common` therefore counts documents both lists rank WITHIN depth k.
    *
    * Scale shape: one equi join of two queries×k frames + one partial-
    * aggregated fold — bounded by construction.
    *
    * @return per query: (query_id, common, rbo_s, rbo_ppm), BIGINT */
  def rboAtK(
      a: DataFrame, b: DataFrame, idCol: String, k: Int,
      pMilli: Long = 900L, scale: Long = 1000000000L): DataFrame = {
    val suffix = rboSuffixWeights(k, pMilli, scale)
    val maxS = suffix.sum // Σ_r suffix(r): the identical-lists total
    // a tiny caller-supplied scale can floor every per-depth weight to 0;
    // fail fast on the driver instead of an in-plan ANSI divide-by-zero
    require(maxS > 0,
      s"rboAtK: suffix-weight total is 0 at scale=$scale, pMilli=$pMilli, " +
        s"k=$k — raise scale so floor(scale*(1-p)*p^(d-1)/d) > 0 somewhere")
    val l = a.select(col("query_id"), col(idCol),
      col("rnk").cast("long").as("_ra"))
    val r = b.select(col("query_id"), col(idCol),
      col("rnk").cast("long").as("_rb"))
    l.join(r, Seq("query_id", idCol))
      .where(greatest(col("_ra"), col("_rb")) <= k)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("common"),
        sum(element_at(typedLit(suffix),
          greatest(col("_ra"), col("_rb")).cast("int"))).as("rbo_s"))
      .withColumn("rbo_ppm", expr(s"(1000000 * rbo_s) div $maxS"))
  }

  /** The literal suffix-weight table [[rboAtK]] consumes: entry `d0` is
    * `Σ_{d=d0..k} floor(scale·(1−p)·p^(d−1)/d)` with `p = pMilli/1000` —
    * the total RBO mass a document entering the intersection at depth
    * `d0` collects through depth k. Floored per-depth BEFORE summing, so
    * the table (and every statistic built on it) is integer-exact and
    * engine-portable. */
  def rboSuffixWeights(
      k: Int, pMilli: Long = 900L, scale: Long = 1000000000L): Seq[Long] = {
    require(k >= 1, s"rboSuffixWeights: k must be >= 1, got $k")
    require(pMilli >= 1 && pMilli <= 999,
      s"rboSuffixWeights: pMilli must be in [1, 999], got $pMilli")
    val p = pMilli / 1000.0
    val w = (1 to k).map(d =>
      math.floor(scale * (1.0 - p) * math.pow(p, d - 1.0) / d).toLong)
    w.indices.map(i => w.drop(i).sum)
  }
}
