package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions computing whitespace-token hash signatures
  * in ONE generated loop per document: the MinHash signature family
  * ([[TokenMinhashExpr]]), the SimHash fingerprint ([[SimhashExpr]]), and
  * the distinct token-hash set ([[TokenHashSetExpr]]).
  *
  * Semantically identical to the composable interpreted forms
  * (`Dedup.minhash(Dedup.tokens(text), seed)` /
  * `Dedup.simhash(Dedup.tokens(text))`) and to the DuckDB oracle
  * `list_min(list_transform(string_split_regex(trim(text), '\s+'),
  * w -> md5(seed || ':' || w)))`: lexicographic order on 32 lowercase-hex
  * chars equals unsigned numeric order on the 128-bit digest, so the
  * kernel tracks two unsigned-long minima per seed and hex-formats once at
  * the end. Equivalence is held by TokenHashExprsSpec across empty,
  * whitespace-only, multi-byte and emoji inputs.
  *
  * Why this exists (same story as [[ShingleMinhashExpr]]): Spark's
  * higher-order array functions are interpreted, not codegen'd — the
  * composable forms build a `UTF8String` per token, evaluate an
  * interpreted md5 expression tree per (token, seed), and box every fold
  * step. These expressions do the same math as a static JVM loop over the
  * text's UTF-8 bytes inside whole-stage codegen.
  *
  * All three accept anything Spark implicitly casts to string
  * (`ImplicitCastInputTypes`) — the same coercion the interpreted
  * `split(trim(col))` forms get — and reject uncastable types at analysis
  * time.
  *
  * Scale: map-side only, no shuffle — cost is linear in corpus bytes
  * (x numHashes digests for the MinHash family), the floor for
  * token-signature computation.
  */
case class TokenMinhashExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  // Signature width is capped by the static seed-prefix table
  // (TokenHash.MaxSeeds = 32): a fixed table keeps the generated kernel a
  // branch-free loop over pre-encoded prefixes. 32 hashes ≫ the 2-16 the
  // LSH band schemes here use; if wider signatures are ever needed, derive
  // prefixes on demand ("<seed>:" UTF-8-encoded) instead of raising the
  // table size. Plan-build-time failure, matching the interpreted form's
  // behavior of only defining seeds it has prefixes for.
  require(numHashes >= 1 && numHashes <= TokenHash.MaxSeeds,
    s"numHashes must be in [1, ${TokenHash.MaxSeeds}], got $numHashes")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.minhash(input.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.minhash($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_token_minhash"
}

object TokenMinhashExpr {
  /** Column-level entry point: `token_minhash($"text", 4)` — array of
    * `numHashes` 32-hex MinHash values (seeds 0..n-1). Works on any
    * session; plans as `graft_token_minhash`. */
  def token_minhash(c: Column, numHashes: Int): Column =
    GraftColumnBridge.column(TokenMinhashExpr(GraftColumnBridge.expression(c), numHashes))
}

/** SimHash fingerprint of the whitespace tokens of a text column — the
  * codegen'd equivalent of `Dedup.simhash(Dedup.tokens(text))`. */
case class SimhashExpr(child: Expression, bits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.simhash(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.simhash($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}

object SimhashExpr {
  /** Column-level entry point: `simhash($"text")`.
    * Plans as `graft_simhash`. */
  def simhash(c: Column, bits: Int = 32): Column =
    GraftColumnBridge.column(SimhashExpr(GraftColumnBridge.expression(c), bits))
}

/** Distinct unsigned-32-bit token hashes of a text column, first-occurrence
  * order — the codegen'd equivalent of
  * `array_distinct(transform(tokens(text), w ->
  * conv(substring(md5(w), 1, 8), 16, 10).cast("long")))`, the per-document
  * token-set representation Jaccard pair joins carry. One digest per token
  * in a generated loop instead of one interpreted md5 expression tree per
  * token (the interpreted form measured ~2s per scan of 5k docs at sf0.1,
  * and pair-join plans evaluate it once per join side). */
/** 60-bit hashes of the whitespace-token n-grams of a text column — the
  * codegen'd equivalent of `transform(Contamination.tokenNgrams(text, n),
  * ng -> conv(substring(md5(ng), 1, 15), 16, 10).cast("long"))`, the
  * per-document currency of the decontamination and boilerplate-ranking
  * passes. The interpreted form materializes every n-gram as a space-
  * joined `UTF8String` and evaluates an interpreted md5 tree per n-gram;
  * the kernel feeds the digest straight from the token byte ranges with
  * single-space separators — no n-gram string is ever built. Fewer than
  * `n` tokens yields an empty array (the `tokenNgrams` contract). */
case class TokenNgramHashExpr(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, s"n must be >= 1, got $n")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.ngramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.ngramHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_token_ngram_hashes"
}

object TokenNgramHashExpr {
  /** Column-level entry point: `token_ngram_hashes($"text", 8)`.
    * Plans as `graft_token_ngram_hashes`. */
  def token_ngram_hashes(c: Column, n: Int): Column =
    GraftColumnBridge.column(TokenNgramHashExpr(GraftColumnBridge.expression(c), n))
}

/** `size(split(trim(text), "\s+"))` as one codegen'd byte walk — the
  * token-count column every budget/packing/layout query projects; the
  * declarative form materializes the full token array per row only to
  * take its length. */
case class TokenCountExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.tokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.tokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_token_count"
}

object TokenCountExpr {
  /** Column-level entry point: `token_count($"text")`.
    * Plans as `graft_token_count`. */
  def token_count(c: Column): Column =
    GraftColumnBridge.column(TokenCountExpr(GraftColumnBridge.expression(c)))
}

/** `length(regexp_replace(s, "[^A-Za-z]", ""))` as one codegen'd byte
  * walk — the alphabetic-count column of every quality gate; the
  * declarative form runs the regex engine AND allocates the stripped
  * string per row only to take its length. */
case class AlphaCountExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.alphaCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.alphaCount($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_alpha_count"
}

object AlphaCountExpr {
  /** Column-level entry point: `alpha_count($"text")`.
    * Plans as `graft_alpha_count`. */
  def alpha_count(c: Column): Column =
    GraftColumnBridge.column(AlphaCountExpr(GraftColumnBridge.expression(c)))
}

/** [[graft.ops.ext.TextStats.bpeSegmentCounts]]'s subword total as one
  * codegen'd walk — the interpreted form builds a per-CHARACTER symbol
  * string through transform+substr inside an aggregate fold (the exact
  * pattern that priced q153 at 12 s before its kernel) and re-splits it
  * per word; the kernel does the identical replace-chain math on plain
  * JVM strings. Merges are plan literals (the trained model is bounded
  * driver state, like every model the engine bakes into plans). */
case class BpeSubwordsExpr(child: Expression, merges: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {

  private val mergesArr: Array[String] = merges.toArray
  private val collapsedArr: Array[String] = merges.map(_.replace("  ", "")).toArray

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.bpeSubwordCounts(input.asInstanceOf[UTF8String], mergesArr, collapsedArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeMerges", mergesArr, "java.lang.String[]")
    val c = ctx.addReferenceObj("bpeCollapsed", collapsedArr, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      in => s"graft.functions.TokenHash.bpeSubwordCounts($in, $m, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_bpe_subwords"
}

object BpeSubwordsExpr {
  /** Column-level entry point: `bpe_subwords($"text", merges)`. */
  def bpe_subwords(c: Column, merges: Seq[String]): Column =
    GraftColumnBridge.column(BpeSubwordsExpr(GraftColumnBridge.expression(c), merges))
}

/** [[graft.ops.ext.TextStats.unigramSegmentCounts]]'s piece total as one
  * codegen'd walk — the interpreted serve fold runs a nested
  * transform+aggregate with a struct accumulator and a small-map probe
  * per character position of every token (priced ~2.6 s of q172's 3.5 s
  * at sf0.1); the kernel does the identical greedy recurrence over the
  * text's UTF-8 bytes ([[TokenHash.unigramPieces]]). The beneficial
  * bigrams are plan literals (the trained model is bounded driver state,
  * the [[BpeSubwordsExpr]] precedent). */
case class UnigramPiecesExpr(child: Expression, bigrams: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {

  private val benSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(4, bigrams.size * 2))
    bigrams.foreach(b => s.add(UTF8String.fromString(b)))
    s
  }

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.unigramPieces(input.asInstanceOf[UTF8String], benSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("unigramBen", benSet, "java.util.HashSet")
    defineCodeGen(ctx, ev,
      in => s"graft.functions.TokenHash.unigramPieces($in, $b)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_unigram_pieces"
}

object UnigramPiecesExpr {
  /** Column-level entry point: `unigram_pieces($"text", benefitBigrams)`. */
  def unigram_pieces(c: Column, bigrams: Seq[String]): Column =
    GraftColumnBridge.column(UnigramPiecesExpr(GraftColumnBridge.expression(c), bigrams))
}

/** [[graft.ops.ext.TextStats.ngramRepetition]]'s metrics as ONE codegen'd
  * byte walk — the interpreted form builds an n-gram string array per row
  * (slice + concat per element), sorts it, and folds a 7-field struct
  * accumulator through interpreted HOFs; at sf0.1 that priced q153 at
  * ~12 s, the slowest query in the suite. The kernel does the same math
  * over token byte spans with a per-row hash map (measured ~10x).
  * Returns `struct<top: bigint, dup: bigint>` (ppm). */
case class NgramRepExpr(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, s"graft_ngram_rep: n must be >= 1, got $n")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("top", LongType, nullable = false),
    StructField("dup", LongType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.ngramRep(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.ngramRep($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_ngram_rep"
}

object NgramRepExpr {
  /** Column-level entry point: `ngram_rep($"text", n)`.
    * Plans as `graft_ngram_rep`. */
  def ngram_rep(c: Column, n: Int): Column =
    GraftColumnBridge.column(NgramRepExpr(GraftColumnBridge.expression(c), n))
}

case class TokenHashSetExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.tokenHashSet(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.tokenHashSet($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_token_hash_set"
}

object TokenHashSetExpr {
  /** Column-level entry point: `token_hash_set($"text")`.
    * Plans as `graft_token_hash_set`. */
  def token_hash_set(c: Column): Column =
    GraftColumnBridge.column(TokenHashSetExpr(GraftColumnBridge.expression(c)))
}

/** Duplicated-span removal kernel
  * ([[graft.ops.ext.ExactSubstr.trimSpans]]'s hot loop): drops every
  * token whose 1-based position falls inside any `[span_start, span_end]`
  * range and space-joins the survivors — the codegen'd equivalent of
  * `concat_ws(" ", filter(tokens(text), (t, i) => !exists(spans, ...)))`.
  * Same O(tokens × spans) probe, but as a static loop over primitive
  * long arrays inside whole-stage codegen: the interpreted form allocates
  * a `UTF8String` per token and evaluates a boxed lambda tree per
  * (token, span). Spans-per-doc is small by construction (maximal merged
  * islands), so the probe stays linear in practice. */
case class TrimSpansExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType,
    ArrayType(StructType(Seq(
      StructField("span_start", LongType),
      StructField("span_end", LongType)))))

  override def dataType: DataType = StringType

  override protected def nullSafeEval(text: Any, spans: Any): Any =
    TokenHash.trimSpans(text.asInstanceOf[UTF8String], spans.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"graft.functions.TokenHash.trimSpans($t, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_trim_spans"
}

object TrimSpansExpr {
  /** Column-level entry point: `trim_spans($"text", $"spans")`. */
  def trim_spans(text: Column, spans: Column): Column =
    GraftColumnBridge.column(TrimSpansExpr(
      GraftColumnBridge.expression(text), GraftColumnBridge.expression(spans)))
}

/** Per-document token statistics — `(ntok, ndist, top)` in ONE byte walk:
  * token count, distinct-token count, and the most frequent token's
  * multiplicity. The interpreted form the quality gate ran per row
  * (`size(split)`, `size(array_distinct(toks))`,
  * `aggregate(array_sort(toks), ...)`) materializes the token array,
  * builds a hash set, SORTS the array, and folds it through an
  * interpreted struct accumulator — four passes, three of them
  * allocating, one of them O(n log n). The kernel tokenizes once and
  * counts multiplicities in a thread-local open-addressed table keyed by
  * (FNV hash, byte-slice equality) — exact string equality, not hash
  * approximation.
  *
  * Identical to the interpreted triple by construction (spec-held in
  * TokenHashExprsSpec against [[graft.ops.ext.TextStats
  * .tokenStatsInterpreted]]): tokenization is the shared
  * [[TokenHash.forEachToken]] split contract (the `[""]` empty-text
  * quirk included — blank text reads (1, 1, 1)), distinctness is
  * post-U+FFFD-normalization byte equality (exactly `array_distinct`'s
  * equality after `split`'s String round-trip), and the max RUN length
  * of a sorted array is the max MULTIPLICITY. */
case class TokenStatsExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("ntok", LongType, nullable = false),
    StructField("ndist", LongType, nullable = false),
    StructField("top", LongType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    TokenHash.tokenStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHash.tokenStats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_token_stats"
}

object TokenStatsExpr {
  /** Column-level entry point: `token_stats($"text")`.
    * Plans as `graft_token_stats`. */
  def token_stats(c: Column): Column =
    GraftColumnBridge.column(TokenStatsExpr(GraftColumnBridge.expression(c)))
}

/** Static kernels shared by interpreted eval and generated code.
  *
  * Tokenization reproduces `split(trim(text), "\s+")` exactly:
  * `UTF8String.trim()` (strips 0x20 only — same as Spark/DuckDB `trim`),
  * then `java.util.regex` split semantics with limit -1 on the ASCII
  * class `[ \t\n\x0B\f\r]` (Java `\s` without UNICODE_CHARACTER_CLASS):
  * a leading separator yields a leading empty token, a trailing separator
  * a trailing empty token, and empty input yields one empty token — the
  * `[""]` quirk [[graft.ops.ext.Dedup.tokens]] documents. Whitespace
  * bytes are all < 0x80, so byte-level splitting never cuts a multi-byte
  * code point.
  *
  * Malformed UTF-8: Spark's `split` round-trips through a Java String,
  * substituting invalid sequences with U+FFFD, so these kernels normalize
  * invalid input the same way ([[normalizedBytes]]) — raw-byte hashing
  * would silently diverge from the interpreted forms there. (The shingle
  * kernel deliberately does NOT normalize: its interpreted counterpart is
  * `substr`, which walks raw bytes.)
  */
object TokenHash {

  val MaxSeeds = 32

  /** Seed prefixes `"0:".getBytes .. "31:".getBytes` for the md5 family
    * `md5(seed + ":" + token)`. */
  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(MaxSeeds)(i => s"$i:".getBytes("UTF-8"))

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Trimmed text bytes with invalid UTF-8 already U+FFFD-substituted —
    * the byte stream the interpreted `split(trim(text))` path hashes.
    * `isValid` is a single cheap scan; valid input (the normal case) pays
    * no copy. */
  private def normalizedBytes(text: UTF8String): Array[Byte] = {
    val t = if (text.isValid()) text else UTF8String.fromString(text.toString)
    t.trim().getBytes
  }

  /** Visits each token as a `(start, end)` byte range of the trimmed text.
    * Token iteration implements Pattern.split(input, -1) over separator
    * runs — see the object doc for the exact quirks mirrored. */
  private def forEachToken(bytes: Array[Byte])(f: (Int, Int) => Unit): Unit = {
    val n = bytes.length
    var tokenStart = 0
    var i = 0
    while (i < n) {
      if (isSpace(bytes(i))) {
        f(tokenStart, i)
        while (i < n && isSpace(bytes(i))) i += 1
        tokenStart = i
      } else {
        i += 1
      }
    }
    f(tokenStart, n) // final token; empty when the text ended in a separator
  }

  /** Unsigned-32 token hash: first 4 digest bytes, big-endian — identical
    * to `conv(substring(md5(w), 1, 8), 16, 10)`. */
  private def head32(digest: Array[Byte]): Long =
    ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)

  /** MinHash signature: for each seed in 0..numHashes-1, the minimum over
    * tokens of `md5(seed + ":" + token)` as a 32-hex string. Never null —
    * even empty text has the one empty token. */
  def minhash(text: UTF8String, numHashes: Int): ArrayData = {
    val bytes = normalizedBytes(text)
    val md = Md5Kernel.md
    val digest = new Array[Byte](16)
    val minHi = new Array[Long](numHashes)
    val minLo = new Array[Long](numHashes)
    var first = true
    forEachToken(bytes) { (from, until) =>
      var s = 0
      while (s < numHashes) {
        md.update(seedPrefixes(s))
        md.update(bytes, from, until - from)
        md.digest(digest, 0, 16) // completes AND resets the digest
        val hi = Md5Kernel.beLong(digest, 0)
        val lo = Md5Kernel.beLong(digest, 8)
        if (first ||
            java.lang.Long.compareUnsigned(hi, minHi(s)) < 0 ||
            (hi == minHi(s) && java.lang.Long.compareUnsigned(lo, minLo(s)) < 0)) {
          minHi(s) = hi
          minLo(s) = lo
        }
        s += 1
      }
      first = false
    }
    val out = new Array[Any](numHashes)
    var s = 0
    while (s < numHashes) { out(s) = Md5Kernel.hex32(minHi(s), minLo(s)); s += 1 }
    new GenericArrayData(out)
  }

  /** SimHash: per bit position the +1/-1 majority vote over the unsigned
    * 32-bit token hash. */
  def simhash(text: UTF8String, bits: Int): Long = {
    val bytes = normalizedBytes(text)
    val md = Md5Kernel.md
    val digest = new Array[Byte](16)
    val votes = new Array[Int](bits)
    forEachToken(bytes) { (from, until) =>
      md.update(bytes, from, until - from)
      md.digest(digest, 0, 16)
      val h = head32(digest)
      var j = 0
      while (j < bits) {
        votes(j) += (if (((h >>> j) & 1L) != 0L) 1 else -1)
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  /** Token COUNT under the same split semantics as every kernel here —
    * `size(split(trim(text), "\s+"))` without materializing the array:
    * empty text counts 1 (the `[""]` quirk), leading/trailing separators
    * count their empty tokens. */
  def tokenCount(text: UTF8String): Int = {
    val bytes = normalizedBytes(text)
    var c = 0
    forEachToken(bytes)((_, _) => c += 1)
    c
  }

  /** Unigram-LM greedy piece count over the whitespace tokens — the
    * codegen'd equivalent of the interpreted serve fold in
    * [[graft.ops.ext.TextStats.unigramSegmentCounts]]:
    * `Σ_tokens (length(w) − starts(w))` with
    * `start_i = benSet(w.substr(i, 2)) && !start_{i-1}` (1-based char
    * positions — the served model's whole decision table is the
    * beneficial-bigram set). Split-based form, so bytes are
    * U+FFFD-normalized first ([[normalizedBytes]]) and positions walk
    * CODE POINTS via `numBytesForFirstByte` — `length(w)` and
    * `substr(i, 2)` both count characters on the interpreted path.
    * Probes wrap the bigram's byte span in a no-copy UTF8String; no
    * token array, no index array, no struct accumulator per position. */
  def unigramPieces(text: UTF8String, ben: java.util.HashSet[UTF8String]): Long = {
    val bytes = normalizedBytes(text)
    var pieces = 0L
    forEachToken(bytes) { (from, until) =>
      var nChars = 0L
      var starts = 0L
      var prev = false
      if (from < until) {
        var o0 = from
        var o1 = math.min(until,
          o0 + UTF8String.numBytesForFirstByte(bytes(o0)))
        nChars = 1L
        while (o1 < until) {
          val o2 = math.min(until,
            o1 + UTF8String.numBytesForFirstByte(bytes(o1)))
          nChars += 1L
          val st = !prev &&
            ben.contains(UTF8String.fromBytes(bytes, o0, o2 - o0))
          if (st) starts += 1L
          prev = st
          o0 = o1
          o1 = o2
        }
      }
      pieces += nChars - starts
    }
    pieces
  }

  /** ASCII-letter count — `length(regexp_replace(s, "[^A-Za-z]", ""))`
    * as a raw byte walk: letters are single-byte in UTF-8 and multi-byte
    * sequences never contain ASCII-range bytes, so the byte count equals
    * the char count (invalid UTF-8 decodes to U+FFFD on the interpreted
    * path — also not a letter). No copy, no regex engine, no stripped
    * string allocated. */
  def alphaCount(text: UTF8String): Int = {
    val n = text.numBytes
    var i = 0
    var c = 0
    while (i < n) {
      val x = text.getByte(i)
      if ((x >= 'A' && x <= 'Z') || (x >= 'a' && x <= 'z')) c += 1
      i += 1
    }
    c
  }

  /** 60-bit n-gram hashes in n-gram order: for each window of `n`
    * consecutive tokens, the first 15 hex chars of
    * `md5(tokens joined by single spaces)` as an (always positive) long —
    * identical to `conv(substring(md5(ng), 1, 15), 16, 10)` over the
    * interpreted `tokenNgrams` strings (15 hex chars = the digest's top
    * 60 bits = first big-endian long >>> 4). The digest is fed from the
    * token byte ranges plus literal ' ' separators, so no n-gram string
    * is materialized. Fewer than `n` tokens yields an empty array. */
  /** Token byte spans of `bytes` as (starts, ends, count) — the
    * grow-by-doubling collection [[ngramHashes]] and [[ngramRep]] share
    * (one definition, so span semantics can never drift between the
    * n-gram kernels). */
  private def tokenSpans(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var count = 0
    forEachToken(bytes) { (from, until) =>
      if (count == starts.length) {
        starts = java.util.Arrays.copyOf(starts, count * 2)
        ends = java.util.Arrays.copyOf(ends, count * 2)
      }
      starts(count) = from
      ends(count) = until
      count += 1
    }
    (starts, ends, count)
  }

  def ngramHashes(text: UTF8String, n: Int): ArrayData = {
    val bytes = normalizedBytes(text)
    val (starts, ends, count) = tokenSpans(bytes)
    val m = count - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val md = Md5Kernel.md
    val digest = new Array[Byte](16)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(bytes, starts(i + j), ends(i + j) - starts(i + j))
        j += 1
      }
      md.digest(digest, 0, 16)
      out(i) = Md5Kernel.beLong(digest, 0) >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }

  /** N-gram repetition metrics — [[graft.ops.ext.TextStats
    * .ngramRepetition]]'s kernel: one walk collects per-distinct-gram
    * occurrence counts and character lengths, then derives
    *
    *   top_ppm = chars of the most frequent n-gram's occurrences / total
    *   dup_ppm = chars of all n-grams occurring >= 2 times / total
    *
    * in parts-per-million BIGINT. Gram identity is the byte sequence of
    * the n tokens joined by single spaces; character length is the
    * codepoint count (valid UTF-8 after [[normalizedBytes]], so
    * non-continuation bytes = codepoints — matching `length()` and
    * DuckDB `len()`); most-frequent ties resolve to the byte-order
    * smallest gram (`UTF8String.compareTo` = the interpreted
    * `array_sort` order = DuckDB's binary collation). Fewer than n
    * tokens yields (0, 0). */
  def ngramRep(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = normalizedBytes(text)
    val (starts, ends, count) = tokenSpans(bytes)
    val m = count - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L))
    val charLens = new Array[Int](count)
    var t = 0
    while (t < count) {
      var c = 0
      var i = starts(t)
      while (i < ends(t)) { if ((bytes(i) & 0xc0) != 0x80) c += 1; i += 1 }
      charLens(t) = c
      t += 1
    }
    // value = [occurrences, gram char length]
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < m) {
      var blen = n - 1
      var clen = (n - 1).toLong
      var j = 0
      while (j < n) {
        blen += ends(i + j) - starts(i + j)
        clen += charLens(i + j)
        j += 1
      }
      val gb = new Array[Byte](blen)
      var off = 0
      j = 0
      while (j < n) {
        if (j > 0) { gb(off) = ' '; off += 1 }
        val w = ends(i + j) - starts(i + j)
        System.arraycopy(bytes, starts(i + j), gb, off, w)
        off += w
        j += 1
      }
      val g = UTF8String.fromBytes(gb)
      val e = counts.get(g)
      if (e == null) counts.put(g, Array(1L, clen)) else e(0) += 1
      i += 1
    }
    var tot = 0L
    var dup = 0L
    var bestCnt = 0L
    var bestLen = 0L
    var bestGram: UTF8String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue()(0)
      val len = e.getValue()(1)
      tot += cnt * len
      if (cnt >= 2) dup += cnt * len
      if (cnt > bestCnt ||
          (cnt == bestCnt && (bestGram == null || e.getKey.compareTo(bestGram) < 0))) {
        bestCnt = cnt; bestLen = len; bestGram = e.getKey
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      if (tot > 0) bestCnt * bestLen * 1000000L / tot else 0L,
      if (tot > 0) dup * 1000000L / tot else 0L))
  }

  /** Trained-BPE subword count — [[graft.ops.ext.TextStats
    * .bpeSegmentCounts]]'s kernel: per word, the double-space-joined
    * CODEPOINT symbol string (Spark `substr` iterates codepoints, so the
    * kernel must too — `charAt` would split surrogate pairs), the merge
    * list applied in rank order as literal all-occurrence replaces
    * (Java `String.replace` = Spark's `replace` = left-to-right
    * non-overlapping), then `count("  ") + 1` parts — the exact
    * interpreted-fold semantics including the empty-word/one-subword
    * quirk. `collapsed(k)` is `merges(k)` with its separators removed,
    * precomputed by the expression. */
  def bpeSubwordCounts(
      text: UTF8String, merges: Array[String], collapsed: Array[String]): Long = {
    val bytes = normalizedBytes(text)
    val (starts, ends, count) = tokenSpans(bytes)
    var total = 0L
    var t = 0
    while (t < count) {
      val w = new String(bytes, starts(t), ends(t) - starts(t), "UTF-8")
      if (w.isEmpty) total += 1 // split("", "  ") = [""] in the fold
      else {
        val sb = new java.lang.StringBuilder(w.length * 3)
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          if (i > 0) sb.append("  ")
          sb.appendCodePoint(cp)
          i += Character.charCount(cp)
        }
        var sym = sb.toString
        var k = 0
        while (k < merges.length) {
          sym = sym.replace(merges(k), collapsed(k))
          k += 1
        }
        var parts = 1L
        var idx = sym.indexOf("  ")
        while (idx >= 0) { parts += 1; idx = sym.indexOf("  ", idx + 2) }
        total += parts
      }
      t += 1
    }
    total
  }

  /** Space-joined tokens outside every `[span_start, span_end]` 1-based
    * token-position range — [[TrimSpansExpr]]'s runtime. The output buffer
    * is bounded by the trimmed input length: kept token bytes plus
    * single-space separators never exceed the original tokens plus their
    * (≥ 1 byte) separator runs. */
  def trimSpans(text: UTF8String, spans: ArrayData): UTF8String = {
    val bytes = normalizedBytes(text)
    val n = spans.numElements()
    val starts = new Array[Long](n)
    val ends = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = spans.getStruct(i, 2)
      starts(i) = r.getLong(0)
      ends(i) = r.getLong(1)
      i += 1
    }
    val buf = new Array[Byte](bytes.length)
    var outLen = 0
    var pos = 0L // 1-based token position, incremented per visited token
    var firstOut = true
    forEachToken(bytes) { (from, until) =>
      pos += 1
      var covered = false
      var j = 0
      while (j < n && !covered) {
        if (pos >= starts(j) && pos <= ends(j)) covered = true
        j += 1
      }
      if (!covered) {
        if (!firstOut) { buf(outLen) = ' '; outLen += 1 }
        System.arraycopy(bytes, from, buf, outLen, until - from)
        outLen += until - from
        firstOut = false
      }
    }
    UTF8String.fromBytes(buf, 0, outLen)
  }

  /** Distinct token hashes, first-occurrence order — matches
    * `array_distinct` over the interpreted per-token hash. Token counts
    * are small (a document's whitespace tokens), so a JDK LinkedHashSet is
    * fine here. */
  def tokenHashSet(text: UTF8String): ArrayData = {
    val bytes = normalizedBytes(text)
    val md = Md5Kernel.md
    val digest = new Array[Byte](16)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    forEachToken(bytes) { (from, until) =>
      md.update(bytes, from, until - from)
      md.digest(digest, 0, 16)
      seen.add(head32(digest))
    }
    val out = new Array[Any](seen.size)
    var i = 0
    val it = seen.iterator()
    while (it.hasNext) { out(i) = it.next().longValue; i += 1 }
    new GenericArrayData(out)
  }

  /** Thread-confined multiplicity table for [[tokenStats]]: open
    * addressing at load ≤ 0.5, slots live for the current generation
    * only (no clearing between rows), exact byte-slice equality on hash
    * collision. Grows by rehash when a document's distinct-token count
    * fills half the table. */
  private final class StatsScratch {
    var cap = 1024 // power of two
    var hashes = new Array[Int](cap)
    var froms = new Array[Int](cap)
    var untils = new Array[Int](cap)
    var counts = new Array[Int](cap)
    var gens = new Array[Int](cap)
    var gen = 0
    var ndist = 0
    var top = 0

    def reset(): Unit = {
      // the generation stamp must never wrap into values stale slots
      // still hold (a ~2^31-row task thread would otherwise misread a
      // stale slot as live and byte-compare against a PREVIOUS row's
      // offsets); zeroing the stamps at the ceiling restarts cleanly
      if (gen == Int.MaxValue) { java.util.Arrays.fill(gens, 0); gen = 0 }
      gen += 1
      ndist = 0
      top = 0
    }

    /** Release a monster row's growth: the scratch is thread-confined and
      * PERSISTENT, so one document with millions of distinct tokens would
      * otherwise pin its peak table (5 int arrays × cap) on the task
      * thread for the rest of the executor's life. Shrinking costs one
      * small allocation on the rare row that tripped it. */
    def maybeShrink(): Unit = if (cap > (1 << 21)) {
      cap = 1024
      hashes = new Array[Int](cap)
      froms = new Array[Int](cap)
      untils = new Array[Int](cap)
      counts = new Array[Int](cap)
      gens = new Array[Int](cap)
      gen = 0
    }

    private def fnv(bytes: Array[Byte], from: Int, until: Int): Int = {
      var h = 0x811c9dc5
      var i = from
      while (i < until) { h = (h ^ (bytes(i) & 0xff)) * 0x01000193; i += 1 }
      h
    }

    private def slicesEqual(bytes: Array[Byte], f1: Int, u1: Int,
        f2: Int, u2: Int): Boolean = {
      if (u1 - f1 != u2 - f2) return false
      var i = f1
      var j = f2
      while (i < u1) {
        if (bytes(i) != bytes(j)) return false
        i += 1
        j += 1
      }
      true
    }

    private def grow(): Unit = {
      val oc = cap
      val oh = hashes; val of = froms; val ou = untils
      val on = counts; val og = gens
      cap = cap << 1
      hashes = new Array[Int](cap)
      froms = new Array[Int](cap)
      untils = new Array[Int](cap)
      counts = new Array[Int](cap)
      gens = new Array[Int](cap)
      var s = 0
      while (s < oc) {
        if (og(s) == gen) {
          var slot = oh(s) & (cap - 1)
          while (gens(slot) == gen) slot = (slot + 1) & (cap - 1)
          gens(slot) = gen
          hashes(slot) = oh(s)
          froms(slot) = of(s)
          untils(slot) = ou(s)
          counts(slot) = on(s)
        }
        s += 1
      }
    }

    def add(bytes: Array[Byte], from: Int, until: Int): Unit = {
      if ((ndist + 1) << 1 > cap) grow()
      val h = fnv(bytes, from, until)
      var slot = h & (cap - 1)
      while (true) {
        if (gens(slot) != gen) {
          gens(slot) = gen
          hashes(slot) = h
          froms(slot) = from
          untils(slot) = until
          counts(slot) = 1
          ndist += 1
          if (top < 1) top = 1
          return
        } else if (hashes(slot) == h &&
            slicesEqual(bytes, froms(slot), untils(slot), from, until)) {
          val c = counts(slot) + 1
          counts(slot) = c
          if (c > top) top = c
          return
        }
        slot = (slot + 1) & (cap - 1)
      }
    }
  }

  private val statsScratch = new ThreadLocal[StatsScratch] {
    override def initialValue(): StatsScratch = new StatsScratch
  }

  /** (token count, distinct tokens, max token multiplicity) — see
    * [[TokenStatsExpr]] for the parity contract. */
  def tokenStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = normalizedBytes(text)
    val st = statsScratch.get()
    st.reset()
    var ntok = 0L
    forEachToken(bytes) { (from, until) =>
      ntok += 1
      st.add(bytes, from, until)
    }
    val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](ntok, st.ndist.toLong, st.top.toLong))
    st.maybeShrink()
    out
  }
}
