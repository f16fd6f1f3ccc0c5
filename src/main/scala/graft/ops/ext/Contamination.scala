package graft.ops.ext

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: find documents that
  * share any token n-gram with an evaluation/benchmark set — the standard
  * n-gram-overlap contamination check run before training.
  *
  * Scale shape: the benchmark side is tiny relative to the corpus (eval
  * sets are ~10^4-10^6 rows), so its distinct n-gram set broadcasts; the
  * corpus side explodes its n-grams MAP-SIDE straight into the broadcast
  * semi/inner join — the full corpus n-gram list (tokens × n rows) is
  * never shuffled or materialized. Per-doc aggregation only runs on the
  * (rare) matching rows.
  */
object Contamination {

  /** Token n-grams as space-joined strings; fewer than `n` tokens yields
    * an empty array. Tokenization shared with [[TextStats.tokens]] so
    * contamination checks and text stats can never disagree. Guarded with
    * `slice`/`greatest` instead of a `when` branch, same as
    * [[Dedup.shingles]]: `sequence(1, stop)` counts DOWN for stop < 1,
    * and a CaseWhen wrapper would exclude the array from codegen
    * subexpression elimination when a plan references it twice. */
  def tokenNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"tokenNgrams: n must be >= 1, got $n")
    val toks = TextStats.tokens(text)
    val count = size(toks) - (n - 1)
    slice(
      transform(sequence(lit(1), greatest(count, lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n)))),
      lit(1), greatest(count, lit(0)))
  }

  /** Per-row n-gram hash array — the map-side per-document form every
    * pass below explodes. Each element is the 60-bit hash of one n-gram
    * (15 md5 hex chars — positive in a signed long): the join/broadcast
    * currency. An 8-gram string averages ~50 bytes; hashing shrinks the
    * broadcast table and every probe comparison ~6x, and the post-join
    * distinct shuffles longs instead of text. Collision odds at benchmark
    * scale (~10^6 n-grams into 2^60) are negligible, and the md5
    * arithmetic is engine-portable, so the DuckDB oracle computes the
    * identical hashes. Computed by the codegen'd
    * [[graft.functions.TokenNgramHashExpr]] kernel (digest fed straight
    * from token byte ranges, no n-gram string materialized) —
    * semantically identical to
    * `transform(tokenNgrams(text, n), ng => conv(substring(md5(ng), 1, 15), 16, 10).cast("long"))`
    * (equivalence held by TokenHashExprsSpec) except on NULL text, where
    * the kernel null-propagates while the interpreted composition yields
    * an empty array. Every caller explodes the array (NULL and [] both
    * produce zero rows) — a new consumer relying on empty-ARRAY semantics
    * for NULL text (e.g. `size(...) === 0`) must guard NULLs itself. */
  private[graft] def ngramHashes(text: Column, n: Int): Column =
    graft.functions.TokenNgramHashExpr.token_ngram_hashes(text, n)

  /** Per-document contamination hits: `(idCol, n_hits)` for every corpus
    * document sharing at least one n-gram with the benchmark, where
    * `n_hits` counts DISTINCT shared n-grams (via [[ngramHashes]]). Clean
    * documents are absent — a decontamination pass anti-joins the corpus
    * against this result. */
  def contaminationHits(
      corpus: DataFrame, corpusText: Column, idCol: String,
      benchmark: DataFrame, benchmarkText: Column,
      n: Int = 8): DataFrame = {
    val bench = benchmark
      .select(explode(ngramHashes(benchmarkText, n)).as("ngh"))
      .distinct()
    corpus
      .select(col(idCol), explode(ngramHashes(corpusText, n)).as("ngh"))
      .join(broadcast(bench), Seq("ngh"))
      .groupBy(col(idCol))
      .agg(count_distinct(col("ngh")).as("n_hits"))
  }

  /** The corpus minus contaminated documents (broadcast anti join on id). */
  def decontaminate(
      corpus: DataFrame, corpusText: Column, idCol: String,
      benchmark: DataFrame, benchmarkText: Column,
      n: Int = 8): DataFrame = {
    val hits = contaminationHits(corpus, corpusText, idCol, benchmark, benchmarkText, n)
      .select(col(idCol))
    corpus.join(broadcast(hits), Seq(idCol), "left_anti")
  }

  /** SEMANTIC contamination: corpus rows whose embedding reaches cosine
    * `minCos` against ANY benchmark vector — the paraphrase-robust
    * sibling of the n-gram family above. A reworded benchmark question
    * shares no 8-gram with the original but keeps its embedding; modern
    * eval-leakage audits run this embedding-level check alongside the
    * lexical one.
    *
    * Scale shape: benchmark embeddings are eval-set sized, so they
    * BROADCAST; the corpus streams through a broadcast LEFT-SEMI
    * nested-loop join whose condition is the codegen'd dot-product
    * kernel ([[Similarity.cosineSafe]]). The semi join short-circuits at
    * the FIRST matching benchmark vector per corpus row, no per-pair
    * rows ever materialize, and the corpus side plans ZERO Exchanges
    * (spec-asserted) — scan-bound at any corpus size. For benchmark
    * sets too large to broadcast, prefilter candidates with SRP buckets
    * ([[Similarity]]'s LSH path) before the exact check. */
  def semanticContaminationHits(
      corpus: DataFrame, vecCol: Column,
      benchmark: DataFrame, benchVecCol: Column, minCos: Double): DataFrame = {
    require(minCos >= -1.0 && minCos <= 1.0,
      s"semanticContaminationHits: minCos must be in [-1, 1], got $minCos")
    val bench = benchmark.select(benchVecCol.as("_bvec"))
    corpus.join(broadcast(bench),
      Similarity.cosineSafe(vecCol, col("_bvec")) >= minCos, "left_semi")
  }

  /** [[semanticContaminationHits]] with the SRP-bucket prefilter the
    * exact form's scaladoc prescribes for LARGE benchmarks: both sides
    * get a [[Similarity.srpBucket]] signature, the semi join becomes a
    * broadcast HASH join keyed on the bucket (each corpus row probes
    * hash slots instead of scanning every benchmark vector), and the
    * exact cosine runs only on bucket-sharing pairs. Still zero corpus
    * Exchanges (spec-asserted).
    *
    * Recall trade (the [[Similarity.embeddingNearDupPairs]] contract):
    * only pairs agreeing on the probed sign bits are compared, so
    * borderline paraphrases on the other side of a hyperplane can be
    * missed — but an EXACT embedding copy always shares its own bucket,
    * so verbatim leakage recall is 1 by construction. `multiProbe`
    * (default ON, the standard recall lever for hyperplane-straddling
    * paraphrases) probes the exact bucket plus each one-bit-flip
    * neighbor — `planes+1` probes, implemented by exploding the
    * BENCHMARK side to its probe set before the broadcast, so the
    * corpus still computes one bucket per row and ships nowhere: a
    * perturbed copy whose projection crosses exactly one hyperplane
    * (the dominant near-miss at high cosine, since each additional
    * straddle is another independently unlikely sign flip) is
    * recovered at the cost of a `(planes+1)×` larger broadcast —
    * eval-set sized either way. Use the exact form when the benchmark
    * broadcast is affordable; this one when the per-row benchmark scan
    * is the bottleneck.
    *
    * Working columns are `_graft_srp_`-prefixed and RESERVED: a corpus
    * already carrying one would be silently overwritten (the round-12
    * ADVICE bug), so the operator refuses loudly instead. */
  def semanticContaminationHitsSrp(
      corpus: DataFrame, vecCol: Column,
      benchmark: DataFrame, benchVecCol: Column, minCos: Double,
      planes: Int = 8, multiProbe: Boolean = true): DataFrame = {
    require(minCos >= -1.0 && minCos <= 1.0,
      s"semanticContaminationHitsSrp: minCos must be in [-1, 1], got $minCos")
    require(planes >= 1 && planes <= 62,
      s"semanticContaminationHitsSrp: planes must be in [1, 62], got $planes")
    val Bkt = "_graft_srp_bkt"; val BVec = "_graft_srp_bvec"; val Probe = "_graft_srp_probe"
    val reserved = corpus.columns.toSet.intersect(Set(Bkt, BVec, Probe))
    require(reserved.isEmpty,
      s"semanticContaminationHitsSrp: corpus carries reserved working column(s) " +
        s"${reserved.toSeq.sorted.mkString(", ")} — rename them before calling")
    val bench0 = benchmark.select(benchVecCol.as(BVec))
      .withColumn(Bkt, Similarity.srpBucket(col(BVec), planes))
    val bench =
      if (multiProbe) {
        val probes = col(Bkt) +: (0 until planes).map(p => col(Bkt).bitwiseXOR(lit(1L << p)))
        bench0.select(col(BVec), explode(array(probes: _*)).as(Probe))
      } else bench0.withColumnRenamed(Bkt, Probe)
    corpus.withColumn(Bkt, Similarity.srpBucket(vecCol, planes))
      .join(broadcast(bench),
        col(Bkt) === col(Probe) &&
          Similarity.cosineSafe(vecCol, col(BVec)) >= minCos,
        "left_semi")
      .drop(Bkt)
  }

  /** A Bloom filter over the benchmark's n-gram hashes as a PLAIN COLUMN
    * predicate — packed `Array[Long]` bit words shipped as a literal, bit
    * tests via `element_at` + bitwiseAND against a 64-entry power-of-two
    * mask literal. No UDF: the test stays inside whole-stage codegen.
    * Two probe positions per hash (k=2), drawn from disjoint bit ranges of
    * the 60-bit [[ngramHashes]] (low bits and bits 29+), so `mBits` may be
    * any power of two up to 2^29.
    *
    * All build/probe sites first mask the hash to its low 60 bits
    * ([[HashMask60]]): [[ngramHashes]] is 60-bit non-negative already, but
    * an arbitrary negative LONG would otherwise hit the build/probe shift
    * mismatch (local `>>>` vs Column `shiftright`, which is arithmetic)
    * and produce Bloom FALSE NEGATIVES — the one failure mode a Bloom
    * prefilter must never have. Masking makes the sign bit unreachable,
    * so the two shift semantics agree by construction.
    *
    * @param hashes distinct benchmark n-gram hash values ([[ngramHashes]])
    * @param mBits  filter size in bits (power of two)
    */
  private[graft] val HashMask60: Long = (1L << 60) - 1

  private[graft] def bloomBuild(hashes: Array[Long], mBits: Int): Array[Long] = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0 && mBits <= (1 << 29),
      s"bloomBuild: mBits must be a power of two in [64, 2^29], got $mBits")
    val words = new Array[Long](mBits / 64)
    val mask = (mBits - 1).toLong
    for (h0 <- hashes; h = h0 & HashMask60; idx <- Seq(h & mask, (h >>> 29) & mask))
      words((idx / 64).toInt) |= 1L << (idx % 64)
    words
  }

  private[graft] def bloomMightContain(h0: Column, words: Array[Long], mBits: Int): Column = {
    val h = h0.bitwiseAND(lit(HashMask60))
    val wordsLit = typedLit(words)
    val pow2 = typedLit(Array.tabulate(64)(i => 1L << i))
    // pure integer bit math: word index = idx >> 6, bit mask via a 64-entry
    // power-of-two literal (dynamic shiftleft would need expr()); `/` on
    // Columns is DOUBLE division — avoid it in a per-n-gram hot filter
    def bitSet(idx: Column): Column = {
      val word = element_at(wordsLit, shiftright(idx, 6).cast("int") + 1)
      val mask = element_at(pow2, idx.bitwiseAND(lit(63L)).cast("int") + 1)
      word.bitwiseAND(mask) =!= 0L
    }
    val m = (mBits - 1).toLong
    bitSet(h.bitwiseAND(lit(m))) && bitSet(shiftright(h, 29).bitwiseAND(lit(m)))
  }

  /** [[decontaminate]] with a map-side Bloom prefilter between the corpus
    * n-gram Generate and the exact confirm join: the bit test is a plain
    * codegen'd Filter in the same whole-stage pass as the explode+md5, and
    * it drops ~all clean n-gram rows BEFORE any join machinery — so the
    * confirm join, the distinct, and the per-doc aggregation only ever see
    * Bloom positives (true hits + ~0.4% false positives at the default
    * ~32 bits/element, k=2). A Bloom filter has no false negatives, so the
    * result is IDENTICAL to [[decontaminate]].
    *
    * Why this matters at 100 TB: the exact path feeds EVERY corpus n-gram
    * (~tokens-per-doc rows per document) into the join; with the
    * prefilter, the join input is linear in the HIT rate.
    *
    * THIS variant still collects the benchmark hash set once on the
    * driver and broadcasts the confirm side — the same bounded driver
    * action the exact path performs, right whenever the benchmark fits a
    * broadcast (the common case: eval sets are ~10^4-10^6 rows). For a
    * benchmark too large to collect or broadcast, use
    * [[decontaminateBloomJoin]], which builds the bit array distributed
    * and confirms via a shuffle join. */
  def decontaminateBloom(
      corpus: DataFrame, corpusText: Column, idCol: String,
      benchmark: DataFrame, benchmarkText: Column,
      n: Int = 8): DataFrame = {
    val hashes = benchmark
      .select(explode(ngramHashes(benchmarkText, n)).as("ngh"))
      .distinct()
      .collect().map(_.getLong(0))
    // the confirm join's build side is seeded from the ALREADY-collected
    // hash array (a local relation) — re-using the benchmark frame here
    // would run the whole explode+md5+distinct a second time
    val bench = {
      val spark = corpus.sparkSession
      import spark.implicits._
      hashes.toSeq.toDF("ngh")
    }
    // next power of two >= 32 bits/element, clamped to [64, 2^29]
    val target = math.min(1L << 29, math.max(64L, hashes.length.toLong * 32))
    val mBits = java.lang.Long.highestOneBit(target * 2 - 1).toInt
    val words = bloomBuild(hashes, mBits)
    val hits = corpus
      .select(col(idCol), explode(ngramHashes(corpusText, n)).as("ngh"))
      .where(bloomMightContain(col("ngh"), words, mBits))
      .join(broadcast(bench), Seq("ngh"))
      .select(col(idCol))
      .distinct()
    corpus.join(broadcast(hits), Seq(idCol), "left_anti")
  }

  /** Distributed Bloom build: the benchmark's exact hash set never
    * reaches the driver. Each hash maps to its two (word index, bit)
    * contributions map-side; a `bit_or` aggregate collapses them per
    * word (partial aggregation does most of the OR-ing before the
    * shuffle — there are only mBits/64 distinct keys); the driver
    * collects at most mBits/64 (word, bits) rows — the SAME array the
    * filter must hold to ship as a plan literal, never the element set.
    *
    * @param benchHashes single LONG column `ngh` of n-gram hashes
    */
  private[graft] def bloomBuildDistributed(benchHashes: DataFrame, mBits: Int): Array[Long] = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0 && mBits <= (1 << 29),
      s"bloomBuildDistributed: mBits must be a power of two in [64, 2^29], got $mBits")
    val mask = (mBits - 1).toLong
    val pow2 = typedLit(Array.tabulate(64)(i => 1L << i))
    // 60-bit mask first — see bloomBuild: keeps arithmetic shiftright
    // identical to the local build's logical shift for any input hash
    val h = col("ngh").bitwiseAND(lit(HashMask60))
    val words = new Array[Long](mBits / 64)
    benchHashes
      .select(explode(array(
        h.bitwiseAND(lit(mask)),
        shiftright(h, 29).bitwiseAND(lit(mask)))).as("idx"))
      .select(shiftright(col("idx"), 6).cast("int").as("w"),
        element_at(pow2, col("idx").bitwiseAND(lit(63L)).cast("int") + 1).as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("bits"))
      .collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** The scale form of [[decontaminateBloom]] — for a benchmark too large
    * to collect or broadcast. The exact hash set never exists in one
    * place: the bit array is built distributed
    * ([[bloomBuildDistributed]] — the driver holds only the mBits/64 bit
    * words it must embed as the filter literal anyway, capped at 64 MB by
    * the 2^29-bit ceiling), and the confirm is a SHUFFLE semi join of the
    * Bloom-positive corpus n-grams (linear in hit rate) against the
    * benchmark hash table. Result identical to [[decontaminate]] — the
    * prefilter has no false negatives.
    *
    * The distinct benchmark hash set is checkpoint-materialized once and
    * read three times (count for sizing, Bloom build, confirm join). */
  def decontaminateBloomJoin(
      corpus: DataFrame, corpusText: Column, idCol: String,
      benchmark: DataFrame, benchmarkText: Column,
      n: Int = 8): DataFrame = Checkpoints.scoped {
    val bench = Checkpoints.checkpoint(benchmark
      .select(explode(ngramHashes(benchmarkText, n)).as("ngh"))
      .distinct())
    // next power of two >= 32 bits/element, clamped to [64, 2^29] — same
    // sizing as decontaminateBloom (~0.4% false positives at k=2 until
    // the cap, degrading gracefully past it: only prefilter selectivity
    // suffers, never correctness)
    val target = math.min(1L << 29, math.max(64L, bench.count() * 32))
    val mBits = java.lang.Long.highestOneBit(target * 2 - 1).toInt
    val words = bloomBuildDistributed(bench, mBits)
    val hits = corpus
      .select(col(idCol), explode(ngramHashes(corpusText, n)).as("ngh"))
      .where(bloomMightContain(col("ngh"), words, mBits))
      .join(bench, Seq("ngh"), "left_semi")
      .select(col(idCol))
      .distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** The corpus's most-repeated n-grams — the report a curation pipeline
    * turns into a boilerplate blocklist (headers, navigation chrome,
    * license banners repeat verbatim across millions of pages). Returns
    * the top `k` by occurrence count (ties to the smaller hash), counting
    * only n-grams seen at least `minCount` times.
    *
    * Scale shape: the explode feeds a map-side partial count on 8-byte
    * hashes — the single shuffle carries one (hash, partial) row per
    * distinct n-gram per task, and the boilerplate hashes (the skew) are
    * exactly the ones partial aggregation collapses best. The final top-k
    * is a TakeOrdered, not a sort of the full count table. */
  def topNgrams(
      docs: DataFrame, textCol: Column,
      n: Int, minCount: Long, k: Int): DataFrame =
    docs
      .select(explode(ngramHashes(textCol, n)).as("ngh"))
      .groupBy(col("ngh")).agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= minCount)
      .orderBy(col("n_occ").desc, col("ngh"))
      .limit(k)

  /** Per-document contamination FRACTION — the graded signal behind the
    * binary [[contaminationHits]] flag: of each corpus document's
    * DISTINCT n-grams, how many appear in the benchmark set, in basis
    * points. The GPT-3-style overlap report: a doc quoting one benchmark
    * sentence scores low; a verbatim benchmark copy scores 10000 — the
    * threshold a partial-overlap policy actually cuts on.
    *
    * Scale shape: same as [[contaminationHits]] — the benchmark's
    * distinct hash set broadcasts with a presence marker, the corpus's
    * per-doc distinct n-grams explode map-side into the broadcast LEFT
    * join (every corpus row kept, hit or not), and the one shuffle is the
    * per-doc count aggregation on (id, long) rows.
    *
    * Output: (idCol, n_ngrams, n_hits, contam_bp) for every corpus
    * document; documents with fewer than `n` tokens report (0, 0, 0). */
  def contaminationFraction(
      corpus: DataFrame, corpusText: Column, idCol: String,
      benchmark: DataFrame, benchmarkText: Column,
      n: Int = 8): DataFrame = {
    val bench = benchmark
      .select(explode(ngramHashes(benchmarkText, n)).as("ngh"))
      .distinct()
      .withColumn("_hit", lit(1L))
    val perDoc = corpus
      .select(col(idCol), explode(array_distinct(ngramHashes(corpusText, n))).as("ngh"))
      .join(broadcast(bench), Seq("ngh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_hits"))
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_ngrams"), lit(0L)) > 0,
          expr("(10000 * n_hits) div n_ngrams")).otherwise(lit(0L)).as("contam_bp"))
  }

  /** Per-BENCHMARK-item coverage — [[contaminationFraction]]'s mirror
    * image, answering the question an eval owner asks: for each
    * benchmark document, what fraction of ITS distinct n-grams appear
    * anywhere in the training corpus (`coverage_bp` near 10⁴ = this
    * eval item is effectively memorizable; the decontamination ops
    * protect the corpus, this measures what the corpus already holds).
    *
    * Scale shape FLIPS from the forward direction: here the BENCHMARK
    * side is small and broadcasts; the corpus stream is filtered
    * map-side against the broadcast benchmark-hash set, and only the
    * matched hashes — bounded by the benchmark's distinct n-gram count,
    * never corpus size — reach the distinct + join. The corpus is
    * scanned once with zero corpus-sized shuffles. */
  def benchmarkCoverage(
      corpus: DataFrame, corpusText: Column,
      benchmark: DataFrame, benchmarkText: Column, idCol: String,
      n: Int = 8): DataFrame = {
    val bg = benchmark
      .select(col(idCol), explode(array_distinct(ngramHashes(benchmarkText, n))).as("ngh"))
    val benchKeys = bg.select(col("ngh")).distinct()
    val found = corpus
      .select(explode(ngramHashes(corpusText, n)).as("ngh"))
      .join(broadcast(benchKeys), Seq("ngh"), "left_semi")
      .distinct() // ≤ benchmark's distinct n-grams — small by contract
      .withColumn("_hit", lit(1L))
    val per = bg.join(broadcast(found), Seq("ngh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_covered"))
    // items too short to have any n-gram still report (0, 0, 0)
    benchmark.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(coalesce(col("n_ngrams"), lit(0L)) > 0,
          expr("(10000 * n_covered) div n_ngrams")).otherwise(lit(0L))
          .as("coverage_bp"))
  }

  /** Per-document n-gram NOVELTY — how much of each document is text the
    * corpus has not seen in any earlier document (by id order): the
    * count of its distinct n-grams whose corpus-wide FIRST occurrence is
    * this document, as a fraction in basis points. The diversity dual of
    * [[topNgrams]]' boilerplate view — a curation pass ranks documents
    * by marginal new content, and a near-zero `novel_bp` tail is the
    * same signal exact-substring dedup acts on, computed an order of
    * magnitude cheaper.
    *
    * Scale shape: per-doc distinct n-gram hashes are one map-side kernel
    * + `array_distinct`; the first-occurrence election is a partial-
    * aggregated `min(id)` on 8-byte hash keys, and the join back is on
    * the SAME key — the exchange partitioning is reused, so the data
    * shuffles once. Documents shorter than `n` tokens have no n-grams
    * and are absent (same contract as [[contaminationHits]]).
    *
    * Output: `(idCol, n_ngrams, n_novel, novel_bp)`, BIGINT. */
  def ngramNovelty(
      docs: DataFrame, textCol: Column, idCol: String,
      n: Int = 8): DataFrame = {
    val dh = docs.select(col(idCol),
      explode(array_distinct(ngramHashes(textCol, n))).as("ngh"))
    val first = dh.groupBy(col("ngh")).agg(min(col(idCol)).as("_first"))
    dh.join(first, Seq("ngh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col(idCol) === col("_first"), 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_ngrams"), col("n_novel"),
        expr("n_novel * 10000 div n_ngrams").as("novel_bp"))
  }
}
