package graft.ops.ext

import graft.core.Checkpoints
import graft.core.IntCols.floorDiv
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language identification, and document fingerprinting.
  *
  * Everything is per-row native-expression math over the token array —
  * map-side only, no shuffle, full whole-stage codegen. At 100 TB these
  * operators are scan-bound, which is the best possible shape.
  */
object TextStats {

  /** Single shared tokenizer (see [[Dedup.tokens]] for the empty-text
    * quirk contract) — one definition so dedup and text-stats can never
    * tokenize differently. */
  def tokens(text: Column): Column = Dedup.tokens(text)

  /** Whitespace token count — codegen byte-walk kernel
    * ([[graft.functions.TokenCountExpr]]), exactly `size(tokens(text))`
    * without materializing the array. */
  def tokenCount(text: Column): Column =
    graft.functions.TokenCountExpr.token_count(text)

  /** BPE-ish subword count: runs of letters, runs of digits, and single
    * punctuation characters each count as one token (a cheap, deterministic
    * approximation of byte-pair-encoded token counts for budget planning).
    * Formulated as three `regexp_extract_all` counts — lookaround-free, so
    * the same regexes run on RE2-based engines. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+"), lit(0))) +
      size(regexp_extract_all(text, lit("[0-9]+"), lit(0))) +
      size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality metrics: chars, tokens, avg token length, stopword ratio,
    * alphabetic ratio. Ratios are double divisions of exact ints —
    * bit-identical across engines. */
  def withQuality(df: DataFrame, textCol: Column, stopwords: Seq[String]): DataFrame = {
    val toks = tokens(textCol)
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(stopwords: _*)))
    val nChar = length(textCol)
    val nAlpha = graft.functions.AlphaCountExpr.alpha_count(textCol)
    // true mean token length: total non-whitespace chars / token count
    val nNonWs = length(regexp_replace(textCol, "\\s", ""))
    df.withColumn("n_chars_m", nChar.cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("avg_token_len", nNonWs.cast("double") / nTok.cast("double"))
      .withColumn("stopword_ratio", nStop.cast("double") / nTok.cast("double"))
      .withColumn("alpha_ratio", nAlpha.cast("double") / nChar.cast("double"))
  }

  /** Per-language marker vocabularies for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — language ID at corpus scale is a
    * scan-bound scoring pass; swap in real profiles without changing the
    * plan shape. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** Score one marker set: the number of tokens in the set. */
  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*)))

  /** Language-ID heuristic: argmax marker score, ties broken by marker-list
    * order, `und` when no marker hits. Pure `when` chain — one codegen
    * pass, no shuffle. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = langMarkers.map { case (code, markers) => (code, markerScore(toks, markers)) }
    // language i wins iff its score is strictly greater than every earlier
    // score and >= every later score (ties go to the earlier entry)
    scored.zipWithIndex.foldRight(lit("und"): Column) { case (((code, score), i), els) =>
      val beatsEarlier = scored.take(i).map { case (_, s) => score > s }
      val tiesLater = scored.drop(i + 1).map { case (_, s) => score >= s }
      val wins = (beatsEarlier ++ tiesLater :+ (score > 0)).reduce(_ && _)
      when(wins, code).otherwise(els)
    }
  }

  /** Order-independent document fingerprint: md5 of the sorted distinct
    * token list. Stable under token reordering — a bag-of-words content
    * address for fuzzy-dedup bookkeeping. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Winnowing fingerprint set (sorted distinct window-min shingle
    * hashes): the substring-matching complement to [[fingerprint]] — any
    * two documents sharing >= w+k-1 consecutive characters share a value.
    * Codegen'd kernel; see [[graft.functions.WinnowFingerprintExpr]]. */
  def winnowFingerprint(text: Column, k: Int = 5, w: Int = 8): Column =
    graft.functions.WinnowFingerprintExpr.winnow(text, k, w)

  /** PII pattern counts for redaction/filter decisions. All patterns are
    * lookaround-free (RE2-compatible), so the same regexes run on any
    * engine. Counts, not spans — corpus policy usually thresholds
    * ("drop documents with > k emails"), and counting keeps the pass
    * scan-bound. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9][0-9 -]{7,}[0-9]"

  def piiCounts(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.select(idCol,
      size(regexp_extract_all(textCol, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(textCol, lit(Ipv4Re), lit(0))).cast("long").as("n_ipv4"),
      size(regexp_extract_all(textCol, lit(PhoneRe), lit(0))).cast("long").as("n_phones"))

  /** PII REDACTION — the release-side sibling of [[piiCounts]]: emails,
    * IPv4 addresses, and phone numbers replaced with typed placeholders
    * (`<EMAIL>`, `<IP>`, `<PHONE>`), applied in that fixed order so the
    * oracle's replace chain reproduces the output byte for byte. Counts
    * come from the SAME patterns before replacement, so `n_redactions`
    * always equals the number of substitutions made. Pure per-row
    * codegen'd regexp work — scan-bound, no shuffle. */
  def redactPii(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.select(idCol,
      (size(regexp_extract_all(textCol, lit(EmailRe), lit(0))) +
        size(regexp_extract_all(textCol, lit(Ipv4Re), lit(0))) +
        size(regexp_extract_all(textCol, lit(PhoneRe), lit(0)))).cast("long")
        .as("n_redactions"),
      regexp_replace(
        regexp_replace(
          regexp_replace(textCol, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as("redacted"))

  /** Longest equal-token run in the sorted token array = the most frequent
    * token's count. One fold, wide accumulator (HOFs are interpreted —
    * never fold twice); shared by [[withRepetition]] and [[qualityGate]]. */
  private def topRunLength(toks: Column): Column =
    aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** The interpreted (ntok, ndist, top) triple — the spec-held reference
    * [[graft.functions.TokenStatsExpr]] replaced in the hot paths
    * ([[withRepetition]], [[withScanSignals]]): token count, distinct
    * count, and max-multiplicity-as-sorted-run-length, each a separate
    * pass over the materialized token array. Kept as the parity oracle
    * (TokenHashExprsSpec) and the form every DuckDB oracle replays. */
  def tokenStatsInterpreted(textCol: Column): Column = {
    val toks = tokens(textCol)
    struct(
      size(toks).cast("long").as("ntok"),
      size(array_distinct(toks)).cast("long").as("ndist"),
      topRunLength(toks).cast("long").as("top"))
  }

  /** Repetition metrics (the Gopher-style repetition filters): fraction of
    * non-distinct tokens and the most frequent token's share. One
    * byte-walk kernel per row ([[graft.functions.TokenStatsExpr]]) —
    * map-side, scan-bound, no shuffle (the relational alternative,
    * explode + groupBy(doc, token), shuffles the full token stream). */
  def withRepetition(df: DataFrame, textCol: Column): DataFrame = {
    val ts = graft.functions.TokenStatsExpr.token_stats(textCol)
    df.withColumn("_ts", ts)
      .withColumn("distinct_ratio",
        col("_ts").getField("ndist").cast("double") /
          col("_ts").getField("ntok").cast("double"))
      .withColumn("top_token_frac",
        col("_ts").getField("top").cast("double") /
          col("_ts").getField("ntok").cast("double"))
      .drop("_ts")
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    * lines that (a) end in terminal punctuation (`. ! ? "`), (b) have at
    * least `minWords` whitespace words, and (c) contain none of
    * `badSubstrings` (case-insensitive — the "javascript" / boilerplate
    * rule); then gate the DOCUMENT on retaining at least `minLines`
    * lines (C4's three-sentence page rule). Adds `c4_lines` / `c4_kept`
    * (BIGINT counts), `c4_text` (kept lines rejoined), and `c4_pass`.
    *
    * Filtering, not scoring: the dropped navigation/menu/footer lines
    * never reach tokenization, dedup, or packing downstream — run it
    * FIRST in a curation chain so later stages price only real prose.
    *
    * Shape: one `filter` lambda over the split line array per row —
    * map-side, scan-bound, no shuffle (interpreted HOF; the predicate
    * is cheap string ops, and the array is built once). */
  def c4LineFilter(
      df: DataFrame, textCol: Column, minWords: Int = 3, minLines: Int = 1,
      badSubstrings: Seq[String] = Seq("javascript", "lorem ipsum", "{")): DataFrame = {
    require(minWords >= 1 && minLines >= 0,
      s"c4LineFilter: bad minWords=$minWords / minLines=$minLines")
    val lines = split(textCol, "\n")
    val kept = filter(lines, l => {
      val t = trim(l)
      // \z (absolute end), not $: Java's $ matches BEFORE a final line
      // terminator, so a CRLF line ("sentence.\r") would pass here while
      // RE2 engines (DuckDB's regexp_matches with '$') reject it — and
      // the stray \r would ride into c4_text
      val endsOk = t.rlike("[.!?\"]\\z")
      val enoughWords = size(split(t, "\\s+")) >= minWords
      val lowered = lower(t)
      val noBad = badSubstrings
        .map(b => !lowered.contains(b.toLowerCase)).reduce(_ && _)
      endsOk && enoughWords && noBad
    })
    df.withColumn("c4_lines", size(lines).cast("long"))
      .withColumn("c4_kept", size(kept).cast("long"))
      .withColumn("c4_text", array_join(kept, "\n"))
      .withColumn("c4_pass", col("c4_kept") >= minLines)
  }

  /** Gopher line-and-word shape signals — the LAST named rules of the
    * Gopher quality stack (Rae et al. 2021 §A1.1) the gate family did
    * not yet expose: the fraction of lines STARTING with a bullet
    * character (reject > 90%), the fraction of lines ENDING with an
    * ellipsis (reject > 30%), the fraction of words containing at
    * least one ASCII alphabetic character (reject < 80%), and the
    * symbol-to-word ratio — non-overlapping `#` / `...` / `…` matches
    * per word (reject > 10%; the Unicode ellipsis counts here for the
    * same reason the ellipsis-LINE rule counts it — Gopher's symbol
    * ratio is defined over hashes and ellipses, and mid-line `…` spam
    * is the same signal as mid-line `...`). Adds `n_lines`, `bullet_line_ppm`,
    * `ellipsis_line_ppm`, `alpha_word_ppm`, `symbol_word_ppm` (integer
    * ppm — identical BIGINTs on any engine) and `gopher_shape_pass`
    * under the paper's thresholds.
    *
    * Bullet alphabet: `- * • ‣ ▪` after any leading whitespace (`^\s*`,
    * so tab- and form-indented bullet spam counts — the paper's "bullet
    * point"); ellipsis = `...` or `…` at the line end, with an optional
    * trailing `\r` so CRLF documents measure correctly (a bare `\z`
    * would read ellipsis-spam CRLF pages as 0 — ANTI-conservative for a
    * reject rule, the opposite of c4LineFilter's safe direction). Lines
    * = `split("\n")`; blank text is ONE empty line (neither bullet nor
    * ellipsis) and ONE empty token (not alphabetic), so a blank doc
    * reads (1, 0, 0, 0) and fails on alpha words, never on division.
    *
    * Shape: two interpreted `filter` lambdas over the line array plus
    * one token filter per row — map-side, scan-bound, no shuffle; the
    * predicates are cheap, and each array materializes ONCE as a temp
    * column (the withScanSignals pattern — filter lambdas are
    * CodegenFallback, so subexpressions nested inside them are excluded
    * from codegen dedup; inline copies would re-split the text per
    * consumer). */
  def gopherSignals(
      df: DataFrame, textCol: Column,
      maxBulletPpm: Long = 900000L, maxEllipsisPpm: Long = 300000L,
      minAlphaWordPpm: Long = 800000L,
      maxSymbolPpm: Long = 100000L): DataFrame = {
    // n_lines and n_tokens are >= 1 by split's [""] quirk — the ppm
    // divisions can never hit zero; non-negative operands, so floorDiv
    // == truncation == DuckDB `//`
    val nLines = size(col("_glines")).cast("long")
    val nToks = size(col("_gtoks")).cast("long")
    df.withColumn("_glines", split(textCol, "\n"))
      .withColumn("_gtoks", tokens(textCol))
      .withColumn("n_lines", nLines)
      .withColumn("bullet_line_ppm",
        floorDiv(size(filter(col("_glines"), l => l.rlike("^\\s*[-*•‣▪]")))
          .cast("long") * 1000000L, nLines))
      .withColumn("ellipsis_line_ppm",
        floorDiv(size(filter(col("_glines"), l => l.rlike("(\\.\\.\\.|…)\\r?\\z")))
          .cast("long") * 1000000L, nLines))
      .withColumn("alpha_word_ppm",
        floorDiv(size(filter(col("_gtoks"), w => w.rlike("[A-Za-z]")))
          .cast("long") * 1000000L, nToks))
      .withColumn("symbol_word_ppm",
        floorDiv(size(regexp_extract_all(textCol, lit("#|\\.\\.\\.|…"), lit(0)))
          .cast("long") * 1000000L, nToks))
      .withColumn("gopher_shape_pass",
        col("bullet_line_ppm") <= maxBulletPpm &&
          col("ellipsis_line_ppm") <= maxEllipsisPpm &&
          col("alpha_word_ppm") >= minAlphaWordPpm &&
          col("symbol_word_ppm") <= maxSymbolPpm)
      .drop("_glines", "_gtoks")
  }

  /** N-gram repetition metrics — the rest of the Gopher repetition rule
    * family (Rae et al. 2021 §A1.1: top n-gram character fraction for
    * small n, duplicated n-gram character fraction for large n;
    * [[withRepetition]] covers the token-level pair). Adds
    * `top{n}gram_ppm` (characters in occurrences of the MOST FREQUENT
    * n-gram / total n-gram characters, parts-per-million) and
    * `dup{n}gram_ppm` (characters in occurrences of every n-gram seen
    * >= 2 times / total). Fractions are integer ppm — `(chars * 10^6)
    * div total` — so every engine computes the identical BIGINT.
    *
    * Ties for most-frequent resolve to the LEXICALLY SMALLEST n-gram
    * (first in sorted order, strict-greater replacement) — mirrored by
    * `ORDER BY cnt DESC, gram` in the oracle.
    *
    * Shape: ONE codegen'd byte walk per row
    * ([[graft.functions.NgramRepExpr]]) — map-side, scan-bound like
    * every quality metric. The relational alternative (explode n-grams,
    * groupBy(doc, gram)) shuffles ~n× the corpus text; the interpreted
    * sorted-array fold ([[ngramRepetitionInterpreted]], kept as the
    * kernel's equivalence reference) priced q153 at ~12 s at sf0.1 —
    * the house byte-walk move, measured ~10x. */
  def ngramRepetition(df: DataFrame, textCol: Column, n: Int): DataFrame = {
    require(n >= 1, s"ngramRepetition: n must be >= 1, got $n")
    val repCol = s"_ngrep$n"
    df.withColumn(repCol, graft.functions.NgramRepExpr.ngram_rep(textCol, n))
      .withColumn(s"top${n}gram_ppm", col(repCol).getField("top"))
      .withColumn(s"dup${n}gram_ppm", col(repCol).getField("dup"))
      .drop(repCol)
  }

  /** The interpreted sorted-array-fold form of [[ngramRepetition]] —
    * retained ONLY as the kernel's equivalence reference (spec-gated),
    * the same pattern as every `graft/functions` kernel's interpreted
    * twin. One `aggregate` per n, wide run-settling accumulator (the
    * one-fold rule). */
  private[graft] def ngramRepetitionInterpreted(
      df: DataFrame, textCol: Column, n: Int): DataFrame = {
    require(n >= 1, s"ngramRepetitionInterpreted: n must be >= 1, got $n")
    val toks = tokens(textCol)
    // null text -> null grams -> null metrics, matching the kernel's
    // nullSafeEval (the family's null-in-null-out convention)
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .when(textCol.isNotNull, array().cast("array<string>"))
    // floorDiv: exact integer division for non-negative operands (no `div`
    // Column function, and double `/` + cast mis-truncates near-exact quotients)
    val zero = lit(0L)
    val rep = aggregate(
      array_sort(grams),
      struct(lit(null).cast("string").as("prev"), zero.as("plen"), zero.as("run"),
        zero.as("best"), zero.as("blen"), zero.as("dup"), zero.as("tot")),
      (acc, g) => {
        val glen = length(g).cast("long")
        val run0 = acc.getField("run"); val plen0 = acc.getField("plen")
        val same = acc.getField("prev") === g // null prev -> null -> otherwise
        // run ends: fold prev's run into dup/best before starting g's
        val settledDup = acc.getField("dup") +
          when(run0 >= 2L, run0 * plen0).otherwise(zero)
        val settledBest = when(run0 > acc.getField("best"), run0)
          .otherwise(acc.getField("best"))
        val settledBlen = when(run0 > acc.getField("best"), plen0)
          .otherwise(acc.getField("blen"))
        struct(g.as("prev"),
          glen.as("plen"),
          when(same, run0 + 1L).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("best")).otherwise(settledBest).as("best"),
          when(same, acc.getField("blen")).otherwise(settledBlen).as("blen"),
          when(same, acc.getField("dup")).otherwise(settledDup).as("dup"),
          (acc.getField("tot") + glen).as("tot"))
      },
      acc => {
        // settle the final run, then scale
        val run0 = acc.getField("run"); val plen0 = acc.getField("plen")
        val dup = acc.getField("dup") +
          when(run0 >= 2L, run0 * plen0).otherwise(zero)
        val best = when(run0 > acc.getField("best"), run0)
          .otherwise(acc.getField("best"))
        val blen = when(run0 > acc.getField("best"), plen0)
          .otherwise(acc.getField("blen"))
        val tot = acc.getField("tot")
        struct(
          when(tot > 0L, floorDiv(best * blen * 1000000L, tot)).otherwise(zero).as("top"),
          when(tot > 0L, floorDiv(dup * 1000000L, tot)).otherwise(zero).as("dup"))
      })
    val repCol = s"_ngrep$n"
    df.withColumn(repCol, rep)
      .withColumn(s"top${n}gram_ppm", col(repCol).getField("top"))
      .withColumn(s"dup${n}gram_ppm", col(repCol).getField("dup"))
      .drop(repCol)
  }

  /** Top-k characteristic terms per document by tf-idf — the keyword-
    * extraction / topic-tagging pass of a curation pipeline.
    *
    * The idf factor is INTEGER-SCALED: `score = tf * ((scale * N) div df)`
    * (all BIGINT) rather than `tf * ln(N/df)`. Rank order is identical for
    * fixed tf whenever df differs, and the integer arithmetic is exactly
    * reproducible on every engine — a float `ln` differs in the last ulp
    * across math libraries, which flips near-tie rankings and breaks
    * cross-engine verification. Ties rank by term ascending.
    *
    * Scale shape: tf is one partial-agged shuffle of (doc, term) pairs; df
    * is a count WINDOW over tf partitioned by term — NOT a groupBy +
    * self-join: DataFrame plans share no common subtrees, so
    * `tf.groupBy(term)` as a second consumer of tf re-planned the ENTIRE
    * corpus scan + explode + tf aggregation a second time (round-18 bm25
    * explain audit, swept here in round 19); the window pays one exchange
    * of the already-aggregated tf frame instead of a full second corpus
    * pass. N comes from a one-row aggregate joined in as a broadcast
    * (kept in-plan; no driver action). The final top-k window
    * repartitions by doc; Spark's WindowGroupLimit prunes rank > k
    * map-side before that shuffle.
    *
    * Returns `(idCol, term, tf, df, score, rnk)`, `rnk <= k`. */
  def tfIdfTopTerms(
      docs: DataFrame, textCol: Column, idCol: String,
      k: Int, scale: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol), explode(tokens(textCol)).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr(s"($scale * n_docs) div df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  /** BM25-scored retrieval: top-`k` documents per query, the ranking that
    * backs retrieval-based pipeline stages (decontamination-by-retrieval,
    * quality-by-similar-known-good, eval-set neighbor audits). Okapi shape
    * with Robertson's saturation: `score = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl))`.
    *
    * All arithmetic is fixed-point BIGINT (the q67 idf precedent, scale
    * 10^6): `idf_s = (S·N) div df` (the monotone linear-idf surrogate —
    * rank-equivalent to log-idf at fixed other factors and EXACTLY
    * reproducible cross-engine, where float `ln` last-ulp skew flips
    * near-ties), `dl/avgdl = (dl·N) div Σdl` in micro-units, `k1`/`b`
    * passed as micro-scaled integers. Headroom: contributions stay under
    * 2^63 to ~10^6 docs × 10^4-token texts at the default scale; shrink
    * the scale for bigger corpora.
    *
    * Scale shape: the query side (a literal handful of strings) explodes
    * to distinct terms and BROADCASTS twice — once to prune per-doc tf to
    * query terms before any per-term aggregation (df is computed on the
    * pruned stream: the full-vocabulary groupBy never happens), once to
    * attach query ids. `dl` rides the (doc, term) tf shuffle as a
    * constant-per-key max — no corpus-wide dl join. Corpus totals
    * (N, Σdl) are a one-row scan-side aggregate, cross-joined broadcast.
    * Final per-(query, doc) fold partial-aggregates before its shuffle;
    * WindowGroupLimit prunes rank > k map-side.
    *
    * Returns `(query_id, idCol, score, rnk)`, `rnk <= k`, ties broken by
    * id. Documents matching no query term are absent (score 0). */
  def bm25TopK(
      docs: DataFrame, textCol: Column, idCol: String,
      queries: Seq[(Long, String)], k: Int,
      k1Micro: Long = 1200000L, bMicro: Long = 750000L,
      scale: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val S = scale
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(array_distinct(tokens(col("qtext")))).as("term"))
    val qd = q.select("term").distinct()
    // dl via the graft_token_count kernel (spec'd size(split(trim,\s+))
    // parity): the generator row would otherwise evaluate the split
    // TWICE per row (once for size in the projection, once exploded),
    // and the corpus-totals pass below re-splits the whole corpus only
    // to take lengths — the one-pass byte walk serves both (q62/q106
    // measured precedent)
    val dlCol = graft.functions.TokenCountExpr.token_count(textCol).cast("long")
    val tok = docs.select(col(idCol), dlCol.as("dl"),
      explode(tokens(textCol)).as("term"))
    // prune to query terms BEFORE the tf groupBy: the shuffle carries only
    // matching (doc, term) rows, and dl rides it as a constant-per-key max
    val tfq = tok.join(broadcast(qd), "term")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // df as a WINDOW over tfq, not a groupBy+self-join: DataFrame plans
    // share no common subtrees, so `tfq.groupBy(term)` re-planned the
    // ENTIRE corpus scan + explode a second time (round-18 explain
    // audit); the window pays one exchange of the query-term-bounded
    // tfq frame instead of a full second corpus pass
    val st = docs.agg(count(lit(1)).as("n_docs"),
      sum(dlCol).as("sum_dl"))
    val scored = tfq
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("term"))))
      .join(broadcast(q), "term")
      .crossJoin(broadcast(st))
      .withColumn("idf_s", expr(s"($S * n_docs) div df"))
      .withColumn("lnorm", expr(s"($S - $bMicro) + ($bMicro * dl * n_docs) div sum_dl"))
      .withColumn("denom", expr(s"tf * $S + ($k1Micro * lnorm) div $S"))
      .withColumn("tfac", expr(s"(tf * ($k1Micro + $S) * $S) div denom"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("idf_s") * col("tfac")).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col(idCol))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col(idCol), col("score"), col("rnk"))
  }

  /** Corpus-relative unigram rarity — the perplexity-PROXY quality score
    * of CCNet-style pipelines: documents dominated by tokens rare in (or
    * absent from) the corpus's own top-`topV` vocabulary score high, and a
    * curation pass drops or down-weights the tail. A real LM perplexity
    * needs a trained model; the unigram surrogate needs only the corpus
    * and keeps the same filtering behavior for the junk it exists to
    * catch (gibberish, encoding noise, wrong-language fragments).
    *
    * Integer-surrogate arithmetic (q67's idf trick): per-token rarity is
    * `(scale * n_total) div count` — BIGINT throughout, no float log, so
    * scores are EXACTLY reproducible cross-engine. Out-of-vocabulary
    * tokens take the maximum rarity `scale * n_total` (a count-1 token's
    * score at count 1 scaled by its absence from the top-V cut).
    *
    * Scale shape: one partial-agged token count whose top-V cut is a
    * TakeOrdered (bounded by `topV`, never the distinct-token count);
    * the corpus total is a scan-side sum via the [[tokenCount]] byte-walk
    * kernel — no split, no array, no interpreted higher-order fold (the
    * q62/q106 measured precedent; `sum(size(tokens(text)))` re-split the
    * whole corpus only to take lengths). Both broadcast into the
    * per-token left join — the exploded corpus stream never shuffles on
    * the token — and the per-doc fold is a partial-aggregated groupBy on
    * the id. The two exploded passes (top-V counts, per-token scoring)
    * are the algorithm's floor: the top-V model must exist before any
    * token can be scored, and the exploded stream is corpus-sized — too
    * big to checkpoint by construction.
    * Returns `(idCol, rarity_sum, n_tok)`; mean rarity =
    * rarity_sum / n_tok, left to the caller to keep the output integer.
    *
    * At extreme corpus sizes mind the headroom: `scale * n_total` must
    * stay under 2^63 (defaults hold to ~9×10^12 tokens; shrink `scale`
    * beyond that). */
  def unigramRarity(
      docs: DataFrame, textCol: Column, idCol: String,
      topV: Int = 1000, scale: Long = 1000000L): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(textCol)).as("w"))
    val topv = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topV)
    val n = docs.agg(sum(tokenCount(textCol)).cast("long").as("n_total"))
    tok.join(broadcast(topv), Seq("w"), "left")
      .crossJoin(broadcast(n))
      .withColumn("rar", coalesce(
        expr(s"($scale * n_total) div c"), expr(s"$scale * n_total")))
      .groupBy(col(idCol))
      .agg(sum(col("rar")).as("rarity_sum"), count(lit(1)).as("n_tok"))
  }

  /** Naive-Bayes text classifier — the fastText-style quality/domain
    * classifier of CCNet/C4-descended pipelines, trained and applied in
    * one Spark job: `seedLabel` (boolean, non-null where `isSeed`) rule-
    * labels a seed slice (e.g. "looks like wiki" vs "looks like spam"),
    * token log-odds are learned from seed counts, and EVERY document is
    * scored map-side against the broadcast model.
    *
    * Arithmetic is INTEGER fixed-point end to end ([[Importance.flog2]]'s
    * Mitchell log2 at 2^16 scale — the same units as the DSIR weights),
    * so scores are engine-exact: a token occurrence contributes
    * `flog2(c_pos+1) − flog2(c_neg+1) + flog2(total_neg+V) −
    * flog2(total_pos+V)` (add-1-smoothed class likelihood ratio), the
    * document adds the prior `flog2(n_pos) − flog2(n_neg)` once, and
    * out-of-vocabulary tokens contribute nothing (the restricted-
    * vocabulary NB convention). `pred` = score > 0.
    *
    * Scale shape: the model is a seed-slice token count (partial-agged)
    * cut to the top-`topV` tokens by TakeOrdered — bounded by `topV`,
    * never by the distinct-token count — and broadcast; class totals and
    * doc priors are one-row broadcast scalars. The exploded corpus never
    * shuffles on the token (broadcast left join), and the per-doc fold is
    * a partial-aggregated groupBy on the id: the classifier costs one
    * scan of the corpus plus one of the seed slice.
    *
    * Both seed classes must be non-empty (flog2 needs args ≥ 1).
    * Output: `(idCol, n_iv, score, pred)` — in-vocab token count, the
    * fixed-point log-odds (BIGINT), and the boolean verdict. */
  def nbClassify(
      docs: DataFrame, textCol: Column, idCol: String,
      isSeed: Column, seedLabel: Column,
      topV: Int = 1000): DataFrame = Checkpoints.scoped {
    val seeds = docs.where(isSeed)
      .select(explode(tokens(textCol)).as("w"), seedLabel.as("_pos"))
    // ≤ topV rows by construction — eagerly checkpointed (the round-18
    // small-by-construction rule): the counts feed the weight projection
    // AND the class totals, and downstream the model is both broadcast-
    // joined and aggregated. Without the barrier each consumer re-plans
    // the full seed explode + aggregation (the old shape additionally
    // re-exploded the seeds a SECOND time for the totals, semi-joining
    // back against the model — the totals over the restricted vocabulary
    // are just the sum of the model's own counts, the nbClassifyMulti
    // formulation; round-19 explain audit, values identical)
    val counts = Checkpoints.checkpoint(seeds
      .groupBy(col("w"))
      .agg(sum(when(col("_pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("_pos"), 1L).otherwise(0L)).as("c_neg"))
      .orderBy((col("c_pos") + col("c_neg")).desc, col("w")).limit(topV))
    val model = counts
      .withColumn("w_tok",
        Importance.flog2Col(col("c_pos") + 1L) -
          Importance.flog2Col(col("c_neg") + 1L))
      .select(col("w"), col("w_tok"))
    // class totals over the RESTRICTED vocabulary (the model the scorer
    // actually uses), not the unbounded seed vocabulary
    val totals = counts
      .agg(sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"))
      .select(
        (Importance.flog2Col(col("t_neg") + topV.toLong) -
          Importance.flog2Col(col("t_pos") + topV.toLong)).as("norm"))
    val prior = docs.where(isSeed)
      .agg(sum(when(seedLabel, 1L).otherwise(0L)).as("n_pos"),
        sum(when(!seedLabel, 1L).otherwise(0L)).as("n_neg"))
      .select((Importance.flog2Col(col("n_pos")) -
        Importance.flog2Col(col("n_neg"))).as("prior"))
    docs.select(col(idCol), explode_outer(tokens(textCol)).as("w"))
      .join(broadcast(model), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("w_tok").isNotNull, 1L).otherwise(0L)).as("n_iv"),
        coalesce(sum(col("w_tok")), lit(0L)).as("_s"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(prior))
      .select(col(idCol), col("n_iv"),
        (col("prior") + col("_s") + col("n_iv") * col("norm")).as("score"))
      .withColumn("pred", col("score") > 0L)
  }

  /** MULTICLASS Naive Bayes — [[nbClassify]]'s K-way form: the TRAINED
    * language/domain identifier (q26's `langId` is a fixed marker
    * heuristic; this learns its lexicon from a rule-labeled seed
    * slice). `classes` is the caller's explicit label set, so the model
    * shape and the plan are fixed at build time, never data-dependent;
    * every class must appear in the seeds (flog2 domain). Per class:
    *
    *   score_c = flog2(n_c) + Σ_iv flog2(cnt_c(w)+1) − n_iv·flog2(t_c+topV)
    *
    * (seed-doc prior, add-1 token likelihoods, restricted-vocabulary
    * normalizer — all Mitchell-log2 fixed point, engine-exact);
    * `pred` = argmax, ties to the FIRST class in `classes` order.
    *
    * Scale shape = [[nbClassify]]: one TakeOrdered-bounded model
    * (topV rows × K counts) broadcast into the exploded corpus's LEFT
    * join (never a token shuffle), K per-class sums in one
    * partial-aggregated per-doc fold, scalars broadcast.
    * Output: `(idCol, n_iv, pred, score)`. */
  def nbClassifyMulti(
      docs: DataFrame, textCol: Column, idCol: String,
      isSeed: Column, classCol: Column, classes: Seq[String],
      topV: Int = 1000): DataFrame = Checkpoints.scoped {
    require(classes.nonEmpty && classes.distinct == classes,
      s"nbClassifyMulti: classes must be non-empty and distinct, got $classes")
    val ks = classes.indices
    val seeds = docs.where(isSeed)
      .select(explode(tokens(textCol)).as("w"), classCol.as("_c"))
    val counts = classes.zipWithIndex.map { case (c, i) =>
      sum(when(col("_c") === c, 1L).otherwise(0L)).as(s"c$i")
    }
    // ≤ topV rows by construction — eager checkpoint (the nbClassify
    // rationale): model feeds BOTH the weight projection (broadcast into
    // the corpus join) and the class-totals aggregate; un-checkpointed,
    // each consumer re-plans the full seed explode + aggregation
    val model = Checkpoints.checkpoint(seeds.groupBy(col("w"))
      .agg(counts.head, counts.tail: _*)
      .orderBy(ks.map(i => col(s"c$i")).reduce(_ + _).desc, col("w"))
      .limit(topV))
    val weighted = ks.foldLeft(model) { (m, i) =>
        m.withColumn(s"w$i", Importance.flog2Col(col(s"c$i") + 1L))
      }
      .select((col("w") +: ks.map(i => col(s"w$i"))): _*)
    val totals = model
      .agg(sum(col("c0")).as("t0"),
        ks.tail.map(i => sum(col(s"c$i")).as(s"t$i")): _*)
      .select(ks.map(i =>
        Importance.flog2Col(col(s"t$i") + topV.toLong).as(s"norm$i")): _*)
    val priors = docs.where(isSeed)
      .agg(sum(when(classCol === classes.head, 1L).otherwise(0L)).as("n0"),
        classes.zipWithIndex.tail.map { case (c, i) =>
          sum(when(classCol === c, 1L).otherwise(0L)).as(s"n$i")
        }: _*)
      .select(ks.map(i => Importance.flog2Col(col(s"n$i")).as(s"p$i")): _*)
    val perDoc = docs.select(col(idCol), explode_outer(tokens(textCol)).as("w"))
      .join(broadcast(weighted), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("w0").isNotNull, 1L).otherwise(0L)).as("n_iv"),
        ks.map(i => coalesce(sum(col(s"w$i")), lit(0L)).as(s"s$i")): _*)
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(priors))
    val scored = ks.foldLeft(perDoc) { (d, i) =>
      d.withColumn(s"sc$i",
        col(s"p$i") + col(s"s$i") - col("n_iv") * col(s"norm$i"))
    }.withColumn("_arr", array(ks.map(i => col(s"sc$i")): _*))
    scored.select(col(idCol), col("n_iv"),
      element_at(typedLit(classes),
        array_position(col("_arr"), array_max(col("_arr"))).cast("int")).as("pred"),
      array_max(col("_arr")).as("score"))
  }

  /** Precision/recall curve over binned classifier scores — the
    * threshold-tuning table read before a classifier ([[nbClassify]], a
    * quality gate) is allowed to drop corpus data: one row per score bin
    * with the cumulative confusion counts for "keep everything scoring
    * ≥ this bin". Bins are `score div binWidth` (truncating division —
    * identical for negatives in Spark's `div` and DuckDB's `//`), so the
    * curve's resolution — and the one small window below — is bounded by
    * the caller's `binWidth`, never by corpus size.
    *
    * Scale shape: the per-bin confusion counts are a partial-aggregated
    * groupBy (one shuffle of ≤ #bins rows); the cumulative sweep is a
    * single-partition window over the BIN table only — the bounded-
    * cardinality aggregate-of-aggregates pattern (q91's quantile cut),
    * NOT a window over rows. Total positives ride the SAME window
    * operator as an unbounded frame — NOT a second aggregate of `bins`:
    * DataFrame plans share no common subtrees, so `bins.agg(...)` as a
    * second consumer re-planned the caller's ENTIRE scoring lineage
    * (q134: the full NB apply pass, twice — round-19 explain audit;
    * the round-18 bm25/q139 lesson).
    *
    * Output per bin, descending-threshold order: `(threshold, n, tp, fp,
    * precision_bp, recall_bp)` — `threshold = bin · binWidth` (the bin's
    * zero-ward edge), counts BIGINT, ratios in basis points via integer
    * division. */
  def prCurve(
      scored: DataFrame, scoreCol: Column, labelCol: Column,
      binWidth: Long): DataFrame = {
    require(binWidth >= 1, s"prCurve: binWidth must be >= 1, got $binWidth")
    import org.apache.spark.sql.expressions.Window
    val bins = scored
      .select(scoreCol.cast("long").as("_score"),
        labelCol.cast("long").as("_y"))
      .withColumn("bin", expr(s"_score div ${binWidth}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("pos"))
    val sweep = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bins
      .withColumn("tp", sum(col("pos")).over(sweep))
      .withColumn("fp", sum(col("n") - col("pos")).over(sweep))
      .withColumn("_tot", sum(col("pos")).over(whole))
      .select(
        (col("bin") * binWidth).as("threshold"), col("n"), col("tp"), col("fp"),
        expr("(10000L * tp) div (tp + fp)").as("precision_bp"),
        when(col("_tot") > 0, expr("(10000L * tp) div _tot"))
          .otherwise(lit(0L)).as("recall_bp"))
  }

  /** Reliability table for a ppm-confidence classifier — [[prCurve]]'s
    * calibration companion: PR tells you WHERE to threshold, this tells
    * you whether the scores MEAN what they claim (a gate that keeps
    * "90%-confident-good" documents of which only 60% are good is lying
    * to every downstream mixture weight computed from it). Confidences
    * in [0, 1e6] ppm are cut into `bins` equal-width buckets; per
    * non-empty bucket: count, positives, mean claimed confidence, the
    * observed positive rate, and their absolute gap — all BIGINT via
    * floor division on non-negative operands (engine-portable).
    * Malformed confidences follow the KS family's clamp policy: null
    * rows drop, out-of-range clamps into the edge bins (1e6 itself
    * lands in the top bin, not a phantom bins+1th) — and the clamp
    * applies to the VALUE, not just the bin index: a 1.2e6 confidence
    * contributes 1e6 to the top bin's `avg_conf_ppm`, so the averages
    * and gaps stay inside [0, 1e6] no matter what the caller feeds in.
    *
    * Scale shape: ONE partial-aggregated groupBy to ≤ bins rows — the
    * shuffle carries three counters per task per bin.
    *
    * Output per bin, ascending: (`bin`, `n`, `pos`, `avg_conf_ppm`,
    * `acc_ppm`, `gap_ppm`). */
  def calibrationBins(
      scored: DataFrame, confCol: Column, labelCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"calibrationBins: bins must be >= 1, got $bins")
    val M = 1000000L
    val bw = M / bins
    scored
      .select(confCol.cast("long").as("_c0"), labelCol.cast("long").as("_y"))
      .where(col("_c0").isNotNull && col("_y").isNotNull)
      .withColumn("_c", least(greatest(col("_c0"), lit(0L)), lit(M)))
      .withColumn("bin", least(expr(s"_c div ${bw}L"), lit(bins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("pos"),
        sum(col("_c")).as("_cs"))
      .select(col("bin"), col("n"), col("pos"),
        expr("_cs div n").as("avg_conf_ppm"),
        expr("(1000000 * pos) div n").as("acc_ppm"))
      .withColumn("gap_ppm", abs(col("avg_conf_ppm") - col("acc_ppm")))
  }

  /** Expected calibration error — the bin-weighted mean of a
    * [[calibrationBins]] table's gaps (Naeini et al., AAAI 2015), plus
    * the max gap (MCE): the two numbers a model card quotes. One row:
    * (`n_docs`, `bins_used`, `ece_ppm`, `mce_ppm`). Runs entirely on
    * the ≤ bins-row reliability table, so a caller who needs both the
    * bins AND the scalars checkpoints the table once and scans the
    * corpus once. An input that filters to ZERO rows returns the
    * all-zeros row (not NULLs — a model-card writer reads `n_docs = 0`,
    * never `NULL`). */
  def eceFromBins(binsTable: DataFrame): DataFrame =
    binsTable
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_docs"),
        count(lit(1)).as("bins_used"),
        coalesce(expr("sum(n * gap_ppm) div sum(n)"), lit(0L)).as("ece_ppm"),
        coalesce(max(col("gap_ppm")), lit(0L)).as("mce_ppm"))

  /** Per-source vocabulary divergence from the corpus-wide token
    * distribution — the mix-health monitor behind "which slice drifted":
    * a KL-style surrogate over the corpus's top-`topV` vocabulary,
    * add-1 smoothed, in Mitchell-log2 2^16 fixed point so the number is
    * engine-exact. Per token w of source s:
    *
    *   term_w = c_sw · (flog2(c_sw+1) + flog2(T+V) − flog2(c_w+1) − flog2(T_s+V))
    *
    * (c_sw / c_w the source / corpus counts of w over the restricted
    * vocabulary, T_s / T their totals); `kl_per_token = Σ term div T_s`
    * ≈ T_s·KL(p_s‖p)/T_s in 2^16-scaled log2 units. A high value =
    * this source's word mix diverges from the corpus (drifted crawl,
    * wrong language, spam injection); the restricted-vocabulary add-1
    * surrogate can go slightly negative on near-identical mixes — it
    * is a monitoring statistic, not a true KL.
    *
    * Scale shape: ONE corpus-stream shuffle — the (source, token)
    * partial-aggregated count, restricted map-side to the broadcast
    * top-V cut first. The top-V model (≤ topV rows by construction) is
    * eagerly checkpointed — it feeds the corpus-total scalar AND the
    * broadcast restriction, and un-checkpointed each consumer re-planned
    * the full corpus explode + vocabulary aggregation; per-source totals
    * ride the (≤ sources × topV)-row count frame as a WINDOW, never a
    * second consumer (round-19 sweep: 5 corpus explodes → the 2-explode
    * model/score floor).
    * Output: `(source, n_top_tokens, kl_sum, kl_per_token)`. */
  def sourceDivergence(
      docs: DataFrame, textCol: Column, sourceCol: String,
      topV: Int = 1000): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(sourceCol).as("source"),
      explode(tokens(textCol)).as("w"))
    val topv = Checkpoints.checkpoint(tok.groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      .orderBy(col("c_w").desc, col("w")).limit(topV))
    val t = topv.agg(sum(col("c_w")).as("t_all"))
    val sw = tok.join(broadcast(topv), Seq("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"), max(col("c_w")).as("c_w"))
    sw.withColumn("t_s",
        sum(col("c_sw")).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(t))
      .withColumn("term", col("c_sw") * (
        Importance.flog2Col(col("c_sw") + 1L) +
          Importance.flog2Col(col("t_all") + topV.toLong) -
          Importance.flog2Col(col("c_w") + 1L) -
          Importance.flog2Col(col("t_s") + topV.toLong)))
      .groupBy(col("source"))
      .agg(max(col("t_s")).as("n_top_tokens"), sum(col("term")).as("kl_sum"))
      .withColumn("kl_per_token",
        when(col("n_top_tokens") > 0, expr("kl_sum div n_top_tokens"))
          .otherwise(lit(0L)))
  }

  /** Source-level quality gating (the C4/Gopher "drop bad domains" pass):
    * keep documents whose SOURCE passes corpus-level quality thresholds —
    * at least `minDocs` documents and an aggregate alphabetic ratio of at
    * least `minAlphaPct` percent. Individual documents are judged by their
    * provenance, not their own text: a boilerplate-heavy domain is dropped
    * wholesale even when single pages look clean.
    *
    * The ratio test is RATIO-OF-SUMS compared in integers
    * (`sum(alpha) * 10000 >= sum(chars) * minAlphaBp`, basis points) — no
    * float division anywhere, so the gate is exactly reproducible
    * cross-engine and safe from per-doc zero-token edge cases.
    *
    * Scale shape: one partial-agged per-source aggregation (sources are
    * few relative to documents), then the surviving source list — bounded
    * by the source cardinality — broadcasts into a semi join: the corpus
    * is never shuffled. Returns `(idCol, sourceCol)` of surviving docs. */
  def sourceQualityFilter(
      docs: DataFrame, textCol: Column, idCol: String, sourceCol: String,
      minDocs: Long, minAlphaBp: Int): DataFrame =
    docs.join(
        broadcast(goodSources(docs, textCol, sourceCol, minDocs, minAlphaBp)),
        Seq(sourceCol), "left_semi")
      .select(col(idCol), col(sourceCol))

  /** The surviving-source list behind [[sourceQualityFilter]] — bounded by
    * source cardinality, the thing to broadcast into a semi join. */
  def goodSources(
      docs: DataFrame, textCol: Column, sourceCol: String,
      minDocs: Long, minAlphaBp: Int): DataFrame =
    docs.select(col(sourceCol),
        length(textCol).cast("long").as("nc"),
        graft.functions.AlphaCountExpr.alpha_count(textCol).cast("long").as("na"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("na")).as("sa"), sum(col("nc")).as("sc"))
      .where(col("n_docs") >= minDocs &&
        col("sa") * 10000 >= col("sc") * minAlphaBp)
      .select(col(sourceCol))

  /** Thresholds for [[qualityGate]] — the Gopher-style rule stack as one
    * config. Every per-document comparison is INTEGER (basis points /
    * scaled counts on both sides), so verdicts are exactly reproducible
    * cross-engine; `maxMeanRarity = None` keeps the gate purely per-row
    * scan-bound (no corpus pass at all). */
  final case class QualityThresholds(
      minTokens: Long = 10,
      maxTokens: Long = 100000,
      minAlphaBp: Int = 6000,
      maxPii: Long = 0,
      minDistinctBp: Int = 2000,
      maxTopTokenBp: Int = 2500,
      maxMeanRarity: Option[Long] = None,
      rarityTopV: Int = 1000,
      rarityScale: Long = 1000000L,
      shapeRules: Option[GopherShapeThresholds] = None)

  /** Thresholds for the [[gopherSignals]] line-and-word shape rules when
    * composed into [[qualityGate]] via `QualityThresholds.shapeRules`.
    * Defaults are the Gopher paper's (Rae et al. 2021 §A1.1) — the same
    * defaults as the standalone operator. */
  final case class GopherShapeThresholds(
      maxBulletPpm: Long = 900000L,
      maxEllipsisPpm: Long = 300000L,
      minAlphaWordPpm: Long = 800000L,
      maxSymbolPpm: Long = 100000L)

  /** Adds the per-row signal columns `_len_ok/_alpha_ok/_pii_ok/_rep_ok`
    * (booleans; temps dropped) — [[qualityGate]]'s scan-bound half. Pure
    * Column math; each interpreted fold lands in its own column (single
    * evaluation per row). */
  private def withScanSignals(
      df: DataFrame, textCol: Column, t: QualityThresholds): DataFrame = {
    val base = df.withColumn("_tstats",
        graft.functions.TokenStatsExpr.token_stats(textCol))
      .withColumn("_ntok", col("_tstats").getField("ntok"))
      .withColumn("_ndist", col("_tstats").getField("ndist"))
      .withColumn("_best", col("_tstats").getField("top"))
      .withColumn("_npii",
        (size(regexp_extract_all(textCol, lit(EmailRe), lit(0))) +
          size(regexp_extract_all(textCol, lit(Ipv4Re), lit(0))) +
          size(regexp_extract_all(textCol, lit(PhoneRe), lit(0)))).cast("long"))
      .withColumn("_na", graft.functions.AlphaCountExpr.alpha_count(textCol).cast("long"))
      .withColumn("_nc", length(textCol).cast("long"))
      .withColumn("_len_ok",
        col("_ntok") >= t.minTokens && col("_ntok") <= t.maxTokens)
      .withColumn("_alpha_ok", col("_na") * 10000 >= col("_nc") * t.minAlphaBp)
      .withColumn("_pii_ok", col("_npii") <= t.maxPii)
      .withColumn("_rep_ok",
        col("_ndist") * 10000 >= col("_ntok") * t.minDistinctBp &&
          col("_best") * 10000 <= col("_ntok") * t.maxTopTokenBp)
      .drop("_tstats", "_ntok", "_ndist", "_best", "_npii", "_na", "_nc")
    // optional Gopher shape rules, computed by the STANDALONE operator
    // (the gate and [[gopherSignals]] can never score differently); its
    // named output columns are folded into one `_shape_ok` signal so the
    // gate's surface stays the quality struct alone. Still pure per-row
    // scan-bound work.
    t.shapeRules.fold(base) { g =>
      // the fold below DROPS gopherSignals' output names — a caller
      // whose frame already carries one would silently lose that column
      val clash = base.columns.toSet.intersect(Set("n_lines",
        "bullet_line_ppm", "ellipsis_line_ppm", "alpha_word_ppm",
        "symbol_word_ppm", "gopher_shape_pass"))
      require(clash.isEmpty,
        s"qualityGate(shapeRules): input columns ${clash.mkString(", ")} " +
          "collide with gopherSignals' outputs (the gate folds and drops " +
          "them) — rename them, or run gopherSignals standalone")
      gopherSignals(base, textCol, g.maxBulletPpm, g.maxEllipsisPpm,
          g.minAlphaWordPpm, g.maxSymbolPpm)
        .withColumn("_shape_ok", col("gopher_shape_pass"))
        .drop("n_lines", "bullet_line_ppm", "ellipsis_line_ppm",
          "alpha_word_ppm", "symbol_word_ppm", "gopher_shape_pass")
    }
  }

  /** Folds the `_*_ok` signal columns (plus a rarity verdict) into the
    * `quality` struct and drops them — the tail both of [[qualityGate]]'s
    * rarity branches share.
    * When [[withScanSignals]] added a `_shape_ok` signal (shapeRules set)
    * the struct gains `shape_ok` and `pass` conjoins it; with shapeRules
    * unset the struct shape is EXACTLY the historical five-field form, so
    * every existing oracled gate query is schema-stable. */
  private def foldSignals(df: DataFrame, rarityOk: Column): DataFrame = {
    val shaped = df.columns.contains("_shape_ok")
    val fixed = Seq(
      col("_len_ok").as("len_ok"),
      col("_alpha_ok").as("alpha_ok"),
      col("_pii_ok").as("pii_ok"),
      col("_rep_ok").as("rep_ok"))
    val shape = if (shaped) Seq(col("_shape_ok").as("shape_ok")) else Nil
    val passAll = Seq(col("_len_ok"), col("_alpha_ok"), col("_pii_ok"),
        col("_rep_ok"), rarityOk) ++
      (if (shaped) Seq(col("_shape_ok")) else Nil)
    df.withColumn("quality", struct(
        fixed ++ shape ++ Seq(
          rarityOk.as("rarity_ok"),
          passAll.reduce(_ && _).as("pass")): _*))
      .drop("_len_ok", "_alpha_ok", "_pii_ok", "_rep_ok", "_shape_ok",
        "_rsum", "_rtok")
  }

  /** The COMPOSED quality gate — the Gopher/CCNet rule stack (length,
    * alphabetic ratio, PII, repetition, optional corpus-relative unigram
    * rarity) as ONE operator: returns the input columns plus a `quality`
    * struct of per-signal verdicts
    * `(len_ok, alpha_ok, pii_ok, rep_ok, rarity_ok, pass)`. A curation
    * pass filters on `quality.pass`; an audit keeps the struct to see WHY
    * each document fell. Setting `QualityThresholds.shapeRules` composes
    * the [[gopherSignals]] line-and-word shape rules in as a sixth signal
    * `shape_ok` (computed BY the standalone operator, so the two can
    * never diverge); left unset, the struct keeps its historical
    * five-signal shape.
    *
    * Scale shape: with `maxMeanRarity = None` the whole gate is one
    * per-row scan-bound projection — no shuffle, no corpus pass, the
    * cheapest possible 100 TB filter. With rarity enabled it adds
    * [[unigramRarity]]'s machinery (top-V TakeOrdered + broadcast joins,
    * corpus stream never shuffles on the token) plus one id-keyed join of
    * the per-doc rarity sums back onto the corpus. Documents with no
    * tokens have no rarity row: their `rarity_ok` is vacuously true (they
    * fail `len_ok` anyway).
    *
    * All verdicts are integer comparisons ([[QualityThresholds]]), so the
    * gate is exactly reproducible on any engine — no float thresholds. */
  def qualityGate(
      docs: DataFrame, textCol: Column, idCol: String,
      t: QualityThresholds): DataFrame = {
    // `quality` is the gate's OUTPUT column: an input already carrying
    // one would be silently replaced (and then swallowed entirely by
    // qualityFilter's drop) — the gopherSignals collision-guard class
    require(!docs.columns.contains("quality"),
      "qualityGate: input already has a 'quality' column (the gate's " +
        "output name) — rename it; the gate would replace it and " +
        "qualityFilter would drop it")
    val base = withScanSignals(docs, textCol, t)
    t.maxMeanRarity match {
      case Some(mx) =>
        val rar = unigramRarity(docs, textCol, idCol, t.rarityTopV, t.rarityScale)
          .select(col(idCol), col("rarity_sum").as("_rsum"), col("n_tok").as("_rtok"))
        foldSignals(base.join(rar, Seq(idCol), "left"),
          coalesce(col("_rsum") <= col("_rtok") * mx, lit(true)))
      case None =>
        foldSignals(
          base.withColumn("_rsum", lit(null).cast("long"))
            .withColumn("_rtok", lit(null).cast("long")),
          lit(true))
    }
  }

  /** [[qualityGate]] reduced to the keep-list filter: survivors only, the
    * `quality` struct dropped — the form a curation pipeline composes. */
  def qualityFilter(
      docs: DataFrame, textCol: Column, idCol: String,
      t: QualityThresholds): DataFrame =
    qualityGate(docs, textCol, idCol, t)
      .where(col("quality.pass"))
      .drop("quality")

  /** Bigram conditional rarity — the count-based LM (KenLM-proxy) quality
    * signal one order above [[unigramRarity]]: per document, the sum of
    * `scale · C(w1) / C(w1 w2)` over its bigrams — the integer-scaled
    * inverse of the corpus conditional probability `P(w2|w1)`. Documents
    * whose word TRANSITIONS are unusual (shuffled text, keyword stuffing,
    * wrong-language runs) score high even when every individual word is
    * common — exactly the failure mode unigram rarity cannot see.
    *
    * All arithmetic is integer (`div` on counts), so scores are
    * engine-exact. Every document bigram exists in the corpus counts by
    * construction (it contributed), so there is no OOV branch; rarity is
    * `>= scale` always, with `= scale` meaning "w1 is always followed by
    * w2".
    *
    * Scale shape: the bigram count rides the pair stream as a WINDOW on
    * its 8-byte hash key (one exchange — the one the join needed; a
    * groupBy-self-join formulation re-planned the corpus explode, the
    * round-19 sweep class), plus one partial-aggregated unigram table
    * equi-joined on short token keys; nothing broadcasts because the
    * bigram vocabulary is corpus-sized, and nothing needs to. Docs with
    * < 2 tokens report (0, 0). */
  def bigramRarity(
      docs: DataFrame, textCol: Column, idCol: String,
      scale: Long = 1000000L): DataFrame = {
    // join keys are the 60-bit kernel hashes (Importance.bigramHashTriples
    // — explode and count-table shuffles carry 8-byte longs, no bigram
    // string is ever built; the oracle applies the identical md5-prefix
    // hash so a collision merges counts identically on both engines)
    val pairs = docs
      .select(col(idCol), explode(Importance.bigramHashTriples(textCol)).as("t"))
      .select(col(idCol), col("t.fh"), col("t.w1h"))
    val uni = docs
      .select(explode(
        graft.functions.TokenNgramHashExpr.token_ngram_hashes(textCol, 1)).as("w1h"))
      .groupBy(col("w1h")).agg(count(lit(1)).as("cnt1"))
    // cnt2 as a WINDOW over the pair stream, not a groupBy + self-join
    // (the bigramLogProb/bm25 pattern — a second consumer of `pairs`
    // re-planned the whole corpus explode; round-19 sweep). The window
    // exchanges pairs by fh — the exchange the join needed anyway.
    val scored = pairs
      .withColumn("cnt2", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fh"))))
      .join(uni, Seq("w1h"))
      .withColumn("rar", expr(s"($scale * cnt1) div cnt2"))
      .groupBy(col(idCol))
      .agg(sum(col("rar")).as("bigram_rarity_sum"),
        count(lit(1)).as("n_bigrams"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("bigram_rarity_sum"), lit(0L)).as("bigram_rarity_sum"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  /** One BPE statistics pass — the counting step of tokenizer-vocabulary
    * induction, which at corpus scale IS a distributed job: the top
    * adjacent-character pairs over the corpus vocabulary, each pair
    * weighted by its words' corpus frequencies (the quantity whose argmax
    * is the next BPE merge).
    *
    * Scale shape: the corpus collapses to its DISTINCT-word frequency
    * table first (one shuffle, partial-aggregated — vocabulary is
    * millions of rows where the corpus is billions), pairs explode from
    * that small table only, and the pair count is a second
    * partial-aggregated shuffle bounded by |alphabet|². Counts are BIGINT
    * and the (cnt DESC, pair) order total, so the top-N is engine-exact.
    *
    * Character (not byte) pairs: both Spark `substr` and DuckDB slicing
    * are character-based, so multi-byte text behaves identically on both
    * engines; a production byte-level BPE would swap in a binary kernel. */
  def bpePairStats(docs: DataFrame, textCol: Column, topN: Int): DataFrame = {
    require(topN >= 1, s"bpePairStats: topN must be >= 1, got $topN")
    val words = docs.select(explode(tokens(textCol)).as("w"))
      // length >= 2: a 1-char word has no pairs (and Spark's sequence(1, 0)
      // would count DOWN, not empty — see Dedup.shingles)
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topN)
  }

  /** Iterative BPE merge training — the actual tokenizer-induction loop
    * [[bpePairStats]] is one counting pass of: k rounds of (count
    * weighted adjacent symbol pairs over the vocabulary → take the
    * argmax pair → merge it everywhere). Returns the learned merge
    * table `(merge_rank, pair, merged, cnt)` — the model artifact a BPE
    * tokenizer ships.
    *
    * Scale shape: BPE state is the VOCABULARY (distinct words +
    * frequencies), not the corpus — one corpus-wide count builds it,
    * cached across rounds. Each round is one partial-aggregated pair
    * count over the vocab plus a TakeOrdered(1); the only driver state
    * is the single argmax row per round (bounded by k), and the merge
    * application is a map-side `replace` on the symbol string.
    *
    * Symbol sequences are DOUBLE-SPACE joined ("a  b  c"), which makes
    * left-to-right non-overlapping `replace` of "a␣␣b" → "ab" EXACTLY
    * BPE's greedy-left merge semantics — the separator is consumed with
    * the pair, so runs like "a a a" merge to [aa, a], never overlap, on
    * both engines identically. Ties break (cnt DESC, pair ASC) — a
    * total order, so the learned merges are engine-exact and the DuckDB
    * oracle unrolls the same k stages. */
  def bpeTrainMerges(
      docs: DataFrame, textCol: Column, k: Int): DataFrame = Checkpoints.scoped {
    require(k >= 1, s"bpeTrainMerges: k must be >= 1, got $k")
    val spark = docs.sparkSession
    val vocab = Checkpoints.persist(docs.select(explode(tokens(textCol)).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        array_join(
          transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1))),
          "  ").as("sym")))
    vocab.count() // materialize once; every round reads the cached vocab
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var cur = vocab
    for (r <- 1 to k) {
      val syms = split(col("sym"), "  ")
      val n = greatest(size(syms) - 1, lit(0))
      val top = cur
        .select(col("wc"),
          explode(zip_with(slice(syms, lit(1), n), slice(syms, lit(2), n),
            (a, b) => concat(a, lit("  "), b))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect() // the argmax row — the round's entire driver state
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val merged = pair.replace("  ", "")
        merges += ((r.toLong, pair, merged, cnt))
        cur = cur.withColumn("sym", replace(col("sym"), lit(pair), lit(merged)))
      }
    }
    spark.createDataFrame(merges.result())
      .toDF("merge_rank", "pair", "merged", "cnt")
  }

  /** Apply a learned BPE merge list ([[bpeTrainMerges]] order matters:
    * rank ascending) to every document: per-token symbol sequences run
    * through the same double-space `replace` chain, then per-document
    * subword counts — the REAL "how many tokens will the tokenizer
    * emit" number a token-budget pipeline needs ([[tokenCount]] is the
    * whitespace heuristic; this is the trained answer). Entirely
    * map-side: the merge list is k literals baked into the projection,
    * one fold over the token array per row, no shuffle at any scale.
    *
    * Output: (idCol, n_words, n_subwords) — 1-char words contribute one
    * subword each (they never had pairs to merge). */
  def bpeSegmentCounts(
      docs: DataFrame, textCol: Column, idCol: String,
      merges: Seq[String]): DataFrame =
    docs.select(col(idCol),
      tokenCount(textCol).cast("long").as("n_words"),
      graft.functions.BpeSubwordsExpr.bpe_subwords(textCol, merges).as("n_subwords"))

  /** The interpreted transform+substr fold form of [[bpeSegmentCounts]] —
    * retained ONLY as the kernel's equivalence reference (spec-gated). */
  private[graft] def bpeSegmentCountsInterpreted(
      docs: DataFrame, textCol: Column, idCol: String,
      merges: Seq[String]): DataFrame = {
    val toks = tokens(textCol)
    // chars double-space-joined, then each merge applied in rank order
    val seg = (w: Column) => {
      // slice/greatest guard (the Dedup.shingles pattern): sequence(1, 0)
      // counts DOWN for an empty word, so clamp then slice to length
      val sym0 = array_join(
        slice(
          transform(sequence(lit(1), greatest(length(w), lit(1))),
            i => w.substr(i, lit(1))),
          lit(1), greatest(length(w), lit(0))), "  ")
      merges.foldLeft(sym0) { (s, m) =>
        replace(s, lit(m), lit(m.replace("  ", "")))
      }
    }
    docs
      .withColumn("_sub",
        aggregate(toks, lit(0L),
          (acc, w) => acc + size(split(seg(w), "  ")).cast("long")))
      .select(col(idCol),
        size(toks).cast("long").as("n_words"),
        col("_sub").as("n_subwords"))
  }

  /** Unigram-LM tokenizer training (SentencePiece-style, Kudo 2018) —
    * the PRUNE-based half of the tokenizer family ([[bpeTrainMerges]] is
    * the merge-based half): seed a candidate vocabulary, segment the
    * corpus under the current piece scores, re-estimate scores from the
    * usage counts, segment again, and prune candidates EM never uses.
    *
    * Deterministic fixed-point variant, engine-exact by construction:
    *
    *  - candidates = every character (the fallback alphabet, always
    *    kept) plus the `topBigrams` most frequent character bigrams
    *    (weighted count DESC, piece ASC — a total order);
    *  - piece scores are Laplace-smoothed Mitchell log2
    *    ([[Importance.flog2Col]], 2^16 fixed point):
    *    score_r(x) = flog2(cnt_r(x) + 1), normalizer flog2(T_r + V);
    *  - segmentation is greedy longest-match: a bigram starting at
    *    position i is BENEFICIAL iff it is a candidate and
    *    score(bg) + flog2(T + V) > score(c1) + score(c2) (strict — ties
    *    fall to single characters). Within a maximal run of consecutive
    *    beneficial positions, bigrams start at even offsets from the run
    *    start — the closed form of left-to-right greedy consumption, so
    *    BOTH engines express it with plain window functions instead of a
    *    per-word recurrence;
    *  - two EM rounds: round 1 scores from the seed counts (cnt0),
    *    round 2 from round-1 usage (cnt1); output carries cnt2 and
    *    logp_fp = flog2(cnt2+1) − flog2(T2+V), and `kept` = 1 for every
    *    character and every bigram the final segmentation still uses —
    *    the prune decision.
    *
    * Scale shape (the [[bpeTrainMerges]] discipline): ALL work runs on
    * the VOCABULARY (distinct words with frequencies), never the corpus —
    * one corpus-wide word count builds it. The candidate set is MODEL-
    * BOUNDED (alphabet + `topBigrams` rows — the BPE-merges / IVF-
    * centroids driver-state class), so counts collect to the driver and
    * each round's scores embed as a `typedLit` map literal: a round is
    * then ONE job — map-side lookups + the three window specs sharing
    * the hash(w) distribution + a partial-aggregated piece count — with
    * no broadcast builds and no scalar crossJoins (the join formulation
    * measured 2.5× slower end-to-end on the same data). Driver-side
    * [[Importance.flog2]] is the spec-held bit-exact twin of
    * [[Importance.flog2Col]], so literal scores equal column scores.
    *
    * Output: (piece, piece_len, cnt0, cnt1, cnt2, logp_fp, kept) — all
    * counts BIGINT, kept ∈ {0, 1}. */
  def unigramLmVocab(docs: DataFrame, textCol: Column,
      topBigrams: Int = 64): DataFrame = Checkpoints.scoped {
    require(topBigrams >= 1, s"unigramLmVocab: topBigrams must be >= 1, got $topBigrams")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession

    val vocab = docs.select(explode(tokens(textCol)).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    // per-word char positions: c at i, the bigram starting at i, and its
    // second char — checkpointed ONCE (feeds both censuses and both
    // segmentation rounds; the q167 multi-consumer discipline)
    val pos = Checkpoints.checkpoint(vocab.select(col("w"), col("wc"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .withColumn("c", col("w").substr(col("i"), lit(1)))
      .withColumn("bg",
        when(col("i") < length(col("w")), col("w").substr(col("i"), lit(2))))
      .withColumn("c2",
        when(col("i") < length(col("w")), col("w").substr(col("i") + 1, lit(1)))))

    // candidate censuses: every char (alphabet-bounded collect) + the
    // top-`topBigrams` bigrams (TakeOrdered) — the model-bounded state
    val charCnt: Map[String, Long] = pos
      .groupBy(col("c").as("piece")).agg(sum(col("wc")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bgCnt: Map[String, Long] = pos.where(col("bg").isNotNull)
      .groupBy(col("bg").as("piece")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(topBigrams)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cand0: Map[String, Long] = charCnt ++ bgCnt
    val v = cand0.size.toLong

    // one greedy segmentation pass under the given candidate counts;
    // returns the (piece -> weighted usage count) map — emitted pieces
    // are always candidates, so the result is model-bounded too
    def segmentRound(cand: Map[String, Long]): Map[String, Long] = {
      if (cand.isEmpty) return Map.empty
      val scores = cand.map { case (p, c) => p -> Importance.flog2(c + 1) }
      val norm = Importance.flog2(cand.values.sum + v)
      val scoreMap = typedLit(scores)
      def s(key: Column): Column = try_element_at(scoreMap, key)
      val byW = Window.partitionBy(col("w")).orderBy(col("i"))
      val st = pos
        .withColumn("ben",
          coalesce(s(col("bg")) + lit(norm) > s(col("c")) + s(col("c2")),
            lit(false)))
        // running non-beneficial count = island id of each beneficial run
        .withColumn("grp", sum(when(!col("ben"), 1L).otherwise(0L)).over(byW))
        // run start, even-offset bigram starts, consumed = prior started
        .withColumn("rs", min(when(col("ben"), col("i")))
          .over(Window.partitionBy(col("w"), col("grp"))))
        .withColumn("isStart", col("ben") && (col("i") - col("rs")) % 2 === 0)
        .withColumn("consumed",
          coalesce(lag(col("isStart"), 1).over(byW), lit(false)))
      st.select(col("wc"),
          when(col("isStart"), col("bg"))
            .when(!col("consumed"), col("c")).as("piece"))
        .where(col("piece").isNotNull)
        .groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    val cnt1 = segmentRound(cand0)
    val cnt2 = segmentRound(cand0.map { case (p, _) => p -> cnt1.getOrElse(p, 0L) })

    val t2 = cnt2.values.sum
    val rows = cand0.toSeq.sortBy(_._1).map { case (p, c0) =>
      val c1 = cnt1.getOrElse(p, 0L)
      val c2 = cnt2.getOrElse(p, 0L)
      // code points, not UTF-16 units — the engine/oracle `length()`
      val plen = p.codePointCount(0, p.length).toLong
      (p, plen, c0, c1, c2,
        Importance.flog2(c2 + 1) - Importance.flog2(t2 + v),
        if (plen == 1L || c2 >= 1) 1L else 0L)
    }
    spark.createDataFrame(rows)
      .toDF("piece", "piece_len", "cnt0", "cnt1", "cnt2", "logp_fp", "kept")
  }

  /** Apply a trained unigram-LM vocabulary ([[unigramLmVocab]] output) to
    * every document: per-document word and PIECE counts under the same
    * greedy segmentation the trainer ran — the [[bpeSegmentCounts]] dual
    * for the prune-based family, and the REAL tokens-per-doc number a
    * token-budget pipeline wants from this tokenizer.
    *
    * The vocab frame is model-bounded (alphabet + topBigrams rows), so
    * it collects to the driver, the per-position decision reduces to a
    * BIGRAM SET membership (benefit is a pure function of the bigram:
    * score(bg) + norm > score(c1) + score(c2), precomputed here), and
    * the whole operator is MAP-SIDE: one
    * [[graft.functions.UnigramPiecesExpr]] kernel call per document
    * runs the greedy recurrence `start_i = ben_i && !start_{i-1}` over
    * the text bytes (the interpreted twin,
    * [[unigramPiecesInterpreted]], is spec-held equivalent), and
    * pieces(w) = len(w) − starts(w). Scores are the smoothed final-count
    * scores flog2(cnt2+1) with normalizer flog2(T2+V), where V is the
    * FULL candidate count (all vocab rows, kept or pruned) — the exact
    * normalizer inside the trainer's shipped `logp_fp`, so segmentation
    * here agrees with any consumer that reconstructs scores from
    * logp_fp. This is the model the trainer ships, one EM step past the
    * segmentation that produced cnt2 (exactly how SentencePiece serves
    * its final piece table). */
  def unigramSegmentCounts(
      docs: DataFrame, textCol: Column, idCol: String,
      vocab: DataFrame): DataFrame = {
    // ALL candidate rows collect (model-bounded): kept pieces carry the
    // scores; the normalizer is flog2(T2 + V) with V = the FULL candidate
    // count — the trainer's shipped logp_fp normalizer, so a consumer
    // reconstructing scores from logp_fp agrees with this apply pass on
    // every near-tie position (pruned pieces have cnt2 = 0 by the kept
    // rule, so the kept-only sum IS T2 — only V needs the full table)
    val all = vocab.select(col("piece"), col("piece_len"),
      col("cnt2"), col("kept")).collect()
    val kept = all.filter(_.getLong(3) == 1L)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(kept.nonEmpty, "unigramSegmentCounts: empty kept vocabulary")
    val score = kept.map { case (p, _, c) => p -> Importance.flog2(c + 1) }.toMap
    val norm = Importance.flog2(kept.map(_._3).sum + all.length)
    // whether a position is beneficial depends ONLY on its bigram string
    // (score(bg) + norm > score(c1) + score(c2), chars always kept), so
    // the whole decision table precomputes driver-side: one <= topBigrams
    // entry membership probe per position instead of three score lookups
    // over the full piece table — same segmentation, bit for bit
    val benSet: Seq[String] = kept.collect {
      case (bg, 2L, _) =>
        val cut = bg.offsetByCodePoints(0, 1) // split by CODE POINT
        val ben = (for {
          sb <- score.get(bg)
          s1 <- score.get(bg.substring(0, cut))
          s2 <- score.get(bg.substring(cut))
        } yield sb + norm > s1 + s2).getOrElse(false)
        bg -> ben
    }.filter(_._2).map(_._1).sorted.toSeq
    docs.select(col(idCol),
      tokenCount(textCol).cast("long").as("n_words"),
      graft.functions.UnigramPiecesExpr.unigram_pieces(textCol, benSet)
        .as("n_pieces"))
  }

  /** The interpreted higher-order twin of
    * [[graft.functions.UnigramPiecesExpr]]'s kernel — the serve fold
    * [[unigramSegmentCounts]] shipped with before the kernel, kept as
    * the spec-held equivalence reference (UnigramLmSpec asserts kernel
    * == fold on multi-byte/degenerate inputs; the same
    * interpreted-vs-codegen discipline as every kernel in
    * `graft/functions`). */
  private[ext] def unigramPiecesInterpreted(
      textCol: Column, benefitBigrams: Seq[String]): Column = {
    val benMap = typedLit(benefitBigrams.map(_ -> true).toMap)
    def starts(w: Column): Column = {
      // slice/greatest guard (the Dedup.shingles pattern): sequence(1, 0)
      // counts DOWN for a 1-char word, so clamp then slice to n
      val n = length(w) - 1
      val idxs = slice(sequence(lit(1), greatest(n, lit(1))),
        lit(1), greatest(n, lit(0)))
      val ben = transform(idxs,
        i => coalesce(try_element_at(benMap, w.substr(i, lit(2))), lit(false)))
      // greedy recurrence in ONE fold: start_i = ben_i && !start_{i-1}
      aggregate(ben,
        struct(lit(false).as("prev"), lit(0L).as("n")),
        (acc, b) => {
          val st = b && !acc.getField("prev")
          struct(st.as("prev"),
            (acc.getField("n") + when(st, 1L).otherwise(0L)).as("n"))
        },
        acc => acc.getField("n"))
    }
    aggregate(tokens(textCol), lit(0L),
      (acc, w) => acc + length(w).cast("long") - starts(w))
  }

  /** Vocabulary coverage / out-of-vocabulary rate per group — the
    * tokenizer-evaluation dual of [[bpePairStats]]: given the corpus's own
    * top-`topV` token vocabulary (count desc, token asc — a total order),
    * how many of each group's tokens fall OUTSIDE it. The per-source OOV
    * rate is what flags a corpus slice a fixed vocabulary serves badly
    * (wrong language, code, boilerplate markup) before training on it.
    *
    * Scale shape: the vocabulary is one partial-aggregated shuffle of the
    * token-count table followed by a TakeOrdered top-V (driver holds V
    * short strings — the same trained-model bound as [[unigramRarity]]),
    * broadcast back into a left join; the exploded corpus then partial-
    * aggregates per group WITHOUT ever shuffling on the token. Counts are
    * BIGINT and `oov_bp` is integer division — engine-exact. */
  def vocabCoverage(
      docs: DataFrame, textCol: Column, groupCol: String, topV: Int): DataFrame = {
    require(topV >= 1, s"vocabCoverage: topV must be >= 1, got $topV")
    val tok = docs.select(col(groupCol), explode(tokens(textCol)).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(topV)
      .select(col("w"), lit(1L).as("_in"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("_in")), lit(0L)).as("_cov"))
      .select(col(groupCol), col("n_tokens"),
        (col("n_tokens") - col("_cov")).as("n_oov"),
        expr("(n_tokens - _cov) * 10000 div n_tokens").as("oov_bp"))
  }

  /** EXACT heavy hitters — every token whose corpus frequency exceeds
    * `N / (k+1)` — found with BOUNDED memory, never a full token groupBy.
    *
    * The full `groupBy(token)` shuffles the entire vocabulary; on a 100 TB
    * web corpus that is billions of distinct keys shuffled to find the
    * handful of frequent ones. Instead, the two-pass sketch-then-confirm
    * shape (Misra–Gries 1982):
    *
    *  1. CANDIDATES — each scan task streams its documents through a
    *     k-counter Misra–Gries summary (`mapPartitions`: genuinely
    *     per-partition imperative state, the documented exception). MG
    *     guarantees a surviving counter for every token with in-partition
    *     frequency > N_p/(k+1); any GLOBAL heavy hitter has that in at
    *     least one partition (pigeonhole over the partition sums), so the
    *     union of per-task candidates is a SUPERSET of the true heavy
    *     hitters. At most k × tasks short strings reach the driver — a
    *     sketch-size bound, independent of data volume.
    *  2. CONFIRM — exact counts for candidate tokens only: explode, keep
    *     tokens in the (tiny, broadcast) candidate set, partial-aggregated
    *     groupBy over ≤ k × tasks distinct keys, then the exact integer
    *     threshold `cnt * (k+1) > N`.
    *
    * False candidates cost only their confirm-count; misses are impossible,
    * so the output is EXACTLY the frequency-threshold set — engine-portable
    * (the oracle is a plain `HAVING cnt*(k+1) > total`), unlike the sketch
    * estimates a `count_min`-style one-pass would give.
    *
    * Output: `(token, cnt BIGINT)` — tokens with `cnt*(k+1) > N`. */
  def heavyHitters(docs: DataFrame, textCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"heavyHitters: k must be >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._

    // pass 1: per-partition Misra–Gries candidates. The tokenizer must
    // stay equivalent to [[tokens]] (trim + split on \s+) — a stage-1
    // tokenization mismatch could DROP a heavy hitter from the candidate
    // set, which is the one error the confirm pass cannot repair.
    val candidates: Array[String] = docs
      .select(coalesce(textCol.cast("string"), lit("")).as("t")).as[String]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          t.trim.split("\\s+").foreach { w =>
            counters.get(w) match {
              case Some(c) => counters.update(w, c + 1)
              case None if counters.size < k => counters.update(w, 1L)
              case None => // all k slots held: decrement everyone, drop zeros
                val dead = List.newBuilder[String]
                counters.foreach { case (key, c) =>
                  if (c == 1L) dead += key else counters.update(key, c - 1)
                }
                dead.result().foreach(counters.remove)
            }
          }
        }
        counters.keysIterator
      }
      .distinct()
      .collect() // bounded: <= k per task, short strings

    // pass 2: exact confirm over candidates only. N is one scalar
    // aggregate; the semi filter is a broadcast literal set, so the only
    // shuffle carries <= k x tasks distinct token keys.
    val n = docs.select(sum(tokenCount(textCol)).cast("long")).as[Long].head()
    docs.select(explode(tokens(textCol)).as("token"))
      .where(col("token").isInCollection(candidates))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * lit((k + 1).toLong) > lit(n))
  }

  /** Exact PER-GROUP heavy hitters — the per-source / per-language
    * heavy-hitter table the flat [[heavyHitters]] pass structurally
    * cannot express (its Misra–Gries sketch is a whole-corpus
    * `mapPartitions`). Same sketch, re-housed as the engine's first
    * `TypedImperativeAggregate` ([[graft.functions.MisraGriesAgg]]):
    * usable inside `groupBy`, partial-aggregated map-side, only
    * bounded `<= k`-entry sketches cross the shuffle.
    *
    * Same two-phase contract as the flat operator:
    *  1. SKETCH — `groupBy(groupCols).agg(mg_candidates(token, k),
    *     count(*))` in ONE corpus pass: per-group candidate superset
    *     (Misra–Gries guarantee per group — merges preserve it, see the
    *     aggregate's Scaladoc) plus the group's exact token total.
    *  2. CONFIRM — exact counts for candidate (group, token) pairs only:
    *     the exploded candidate frame (`<= k x groups` short rows — the
    *     same broadcast-bounded model contract as the NB topV table) is
    *     broadcast-joined against the token stream, so the only shuffle
    *     carries candidate keys; then the exact integer threshold
    *     `cnt * (k+1) > N_group`.
    *
    * Output: `(groupCols..., token, cnt BIGINT)` — per group, tokens
    * with `cnt * (k+1) > N_group`. Deterministic (the sketch pass only
    * ever affects WHICH extras get confirm-counted away) and plain-SQL
    * oracleable, like the flat operator. */
  def heavyHittersBy(
      docs: DataFrame, textCol: Column, groupCols: Seq[String],
      k: Int): DataFrame = {
    require(k >= 1, s"heavyHittersBy: k must be >= 1, got $k")
    require(groupCols.nonEmpty,
      "heavyHittersBy: no group columns — use heavyHitters for the flat pass")
    val gcols = groupCols.map(col)
    val tok = docs.select(gcols :+ explode(tokens(textCol)).as("token"): _*)
    val sketch = tok.groupBy(gcols: _*)
      .agg(graft.functions.MisraGriesAgg.mg_candidates(col("token"), k).as("cands"),
        count(lit(1)).as("n"))
    // n rides the candidate rows so `sketch` is planned ONCE (a second
    // reference would re-run the sketch pass over the corpus)
    val cand = sketch.select(
      groupCols.map(c => col(c).as(s"_c_$c")) ++
        Seq(col("n").as("_c_n"), explode(col("cands")).as("_c_token")): _*)
    // null-safe on the GROUP keys: groupBy keeps a null group and sketches
    // it, so the confirm join must not drop it (a plain equi join's
    // EqualTo never matches NULL = NULL); tokens are non-null by the
    // exploded-tokens contract
    val joinCond = groupCols.map(c => col(c) <=> col(s"_c_$c"))
      .reduce(_ && _) && col("token") === col("_c_token")
    tok.join(broadcast(cand), joinCond)
      .groupBy(gcols :+ col("token"): _*)
      .agg(count(lit(1)).as("cnt"), max(col("_c_n")).as("n")) // n constant/group
      .where(col("cnt") * lit((k + 1).toLong) > col("n"))
      .select(gcols ++ Seq(col("token"), col("cnt")): _*)
  }

  /** Cohen's kappa agreement between two binary labelers — the
    * annotation-QC statistic of a labeled-data pipeline (two annotators,
    * an annotator vs a model, or two model versions): observed agreement
    * corrected for the agreement their marginals would produce by
    * chance, `kappa = (po - pe) / (1 - pe)`.
    *
    * All-BIGINT fixed point (ppm): `po`, the raters' marginal rates, and
    * the chance term `pe = pa·pb + (1-pa)(1-pb)` stay in [0, 1e6]; their
    * products fit comfortably in longs. The kappa numerator CAN be
    * negative (systematic disagreement) — division here is the pmod
    * FLOOR form, matching the oracle's `//` on negatives, so no sign
    * decomposition is needed. `pe = 1` (both raters constant) yields a
    * NULL kappa, the statistic's undefined case.
    *
    * Scale shape: ONE map-side partial aggregate to a single 2x2
    * contingency row — the shuffle carries four counters per task,
    * nothing else. Rater columns must be non-null booleans (filter
    * upstream; a NULL would silently drop from the sums).
    *
    * Output, one row: `(n_docs, po_ppm, pe_ppm, kappa_ppm)`. */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val M = 1000000L
    val agg = df.agg(
      count(lit(1)).as("n"),
      sum(when(raterA === raterB, 1L).otherwise(0L)).as("agree"),
      sum(when(raterA, 1L).otherwise(0L)).as("a1"),
      sum(when(raterB, 1L).otherwise(0L)).as("b1"))
    val m = agg.select(col("n"),
      when(col("n") > 0, floorDiv(col("agree") * M, col("n"))).as("po_ppm"),
      when(col("n") > 0, floorDiv(col("a1") * M, col("n"))).as("_pa"),
      when(col("n") > 0, floorDiv(col("b1") * M, col("n"))).as("_pb"))
    m.select(col("n"), col("po_ppm"),
        floorDiv(col("_pa") * col("_pb") + (lit(M) - col("_pa")) * (lit(M) - col("_pb")),
          lit(M)).as("pe_ppm"))
      .select(col("n").as("n_docs"), col("po_ppm"), col("pe_ppm"),
        when(col("pe_ppm") < M,
          floorDiv((col("po_ppm") - col("pe_ppm")) * M, lit(M) - col("pe_ppm")))
          .as("kappa_ppm"))
  }

  /** Fleiss' kappa for m >= 2 binary raters — [[cohenKappa]]'s
    * multi-rater generalization (three annotators, or a rule vs two model
    * versions): mean pairwise agreement corrected for the chance
    * agreement of the pooled marginals. Per item with `x` of `m` raters
    * voting true, the agreeing pair count is `x² + (m−x)² − m` out of
    * `m(m−1)`; `P̄e = p̄² + (1−p̄)²` on the pooled true-rate `p̄`.
    *
    * All-BIGINT ppm like [[cohenKappa]]: the kappa numerator can be
    * negative, so its division is the pmod FLOOR form (DuckDB `//`
    * parity); `pe = 1e6` (every rater constant) yields NULL. Rater
    * columns must be non-null booleans — filter upstream.
    *
    * Scale shape: ONE map-side partial aggregate to a single row — the
    * shuffle carries three counters (n, Σx, Σ(x²+(m−x)²)) per task.
    *
    * Output, one row: (n_docs, m_raters, po_ppm, pe_ppm, kappa_ppm). */
  def fleissKappa(df: DataFrame, raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, "fleissKappa: need at least 2 raters")
    val M = 1000000L
    val m = raters.size.toLong
    val x = raters.map(r => when(r, 1L).otherwise(0L)).reduce(_ + _)
    val agg = df.agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"),
      sum(x * x + (lit(m) - x) * (lit(m) - x)).as("sq"))
    val p = agg.select(col("n"),
        when(col("n") > 0,
          floorDiv((col("sq") - col("n") * m) * M, col("n") * (m * (m - 1)))).as("po_ppm"),
        when(col("n") > 0, floorDiv(col("sx") * M, col("n") * m)).as("_pt"))
      .select(col("n"), col("po_ppm"),
        floorDiv(col("_pt") * col("_pt") + (lit(M) - col("_pt")) * (lit(M) - col("_pt")),
          lit(M)).as("pe_ppm"))
    p.select(col("n").as("n_docs"), lit(m).as("m_raters"),
      col("po_ppm"), col("pe_ppm"),
      when(col("pe_ppm") < M,
        floorDiv((col("po_ppm") - col("pe_ppm")) * M, lit(M) - col("pe_ppm")))
        .as("kappa_ppm"))
  }

  /** Krippendorff's alpha for binary ratings with MISSING values — the
    * agreement statistic [[cohenKappa]]/[[fleissKappa]] cannot provide
    * when raters SKIP items (the normal shape of a human-label pass:
    * every annotator rates a subset). Rater columns are nullable
    * booleans; null = "did not rate". Nominal-binary form on the
    * coincidence matrix:
    *
    *   Do = (1/n) Σ_i 2·x_i·(n_i−x_i)/(n_i−1)   over items with n_i ≥ 2
    *   De = 2·T·(n−T)/(n·(n−1))                 (n = Σn_i, T = Σx_i)
    *   alpha = 1 − Do/De
    *
    * Items with fewer than 2 ratings are UNPAIRABLE and excluded from
    * every sum — the statistic's defining behavior. Unlike the kappa
    * family's population-form pe, De keeps its (n−1) small-sample
    * correction: that correction is what makes alpha comparable across
    * differently-sized label passes.
    *
    * All-BIGINT ppm ([[graft.core.IntCols.floorDiv]] floor division —
    * DuckDB-mirrorable): the per-item Do term floors once per item (≤ 1
    * ppm each, the KS-family convention), De floors twice via the
    * overflow-safe two-stage `((2T·1e6 div n)·(n−T)) div (n−1)`, and
    * `alpha_ppm = (De−Do)·1e6 div De` floors on a possibly-negative
    * numerator. De = 0 (every rating the same category) yields NULL
    * alpha — the undefined case, never a fake 1e6.
    *
    * Scale shape: ONE map-side partial aggregate to a single row — the
    * shuffle carries three counters (n, T, Σterm) per task, the
    * [[fleissKappa]] shape.
    *
    * Output, one row: (`n_pairable`, `do_ppm`, `de_ppm`, `alpha_ppm`). */
  def krippendorffAlpha(df: DataFrame, raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, "krippendorffAlpha: need at least 2 raters")
    val M = 1000000L
    val x = raters.map(r => when(r.isNotNull && r, 1L).otherwise(0L)).reduce(_ + _)
    val nn = raters.map(r => when(r.isNotNull, 1L).otherwise(0L)).reduce(_ + _)
    val items = df.select(x.as("_x"), nn.as("_n")).where(col("_n") >= 2)
    val agg = items.agg(
      coalesce(sum(col("_n")), lit(0L)).as("n"),
      coalesce(sum(col("_x")), lit(0L)).as("t"),
      coalesce(sum(floorDiv(lit(2L) * col("_x") * (col("_n") - col("_x")) * M,
        col("_n") - 1L)), lit(0L)).as("_st"))
    agg.select(col("n").as("n_pairable"),
        when(col("n") > 0, floorDiv(col("_st"), col("n"))).as("do_ppm"),
        when(col("n") > 1,
          floorDiv(floorDiv(lit(2L) * col("t") * M, col("n")) * (col("n") - col("t")),
            col("n") - 1L)).as("de_ppm"))
      .withColumn("alpha_ppm",
        when(col("de_ppm") > 0,
          floorDiv((col("de_ppm") - col("do_ppm")) * M, col("de_ppm"))))
  }
}
