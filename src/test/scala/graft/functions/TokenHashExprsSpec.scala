package graft.functions

import graft.SparkSpec
import graft.ops.ext.Dedup
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

class TokenHashExprsSpec extends SparkSpec {

  // tokenization edge cases: empty, whitespace-only (leading/trailing
  // separators produce empty tokens under split-with-limit(-1) semantics),
  // every ASCII whitespace class char, multi-byte UTF-8, emoji, repeated
  // tokens (SimHash votes are per-occurrence, not per-distinct-token)
  private val inputs: Seq[String] = Seq(
    "",
    " ",
    "  ",
    "\t",
    "a",
    "a b c",
    "  padded on both sides  ",
    "tab\tseparated\ttokens",
    "mixed \t\n\f\r whitespace run",
    "\tleading tab",
    "trailing tab\t",
    "héllo wörld ünïcode",
    "日本語 の テキスト",
    "emoji 😀 inside 🎉 text",
    "dup dup dup distinct",
    "nbsp is-not-ascii-whitespace",
    null)

  test("token_minhash matches the interpreted minhash per seed, nulls included") {
    val spark2 = spark
    import spark2.implicits._
    val df = inputs.toDF("text")
    val interp = df.select(
      (0 until 4).map(i => Dedup.minhash(Dedup.tokens(col("text")), i).as(s"mh$i")): _*)
      .as[(Option[String], Option[String], Option[String], Option[String])].collect()
    val kernel = df.select(
      (0 until 4).map(i =>
        element_at(TokenMinhashExpr.token_minhash(col("text"), 4), i + 1).as(s"mh$i")): _*)
      .as[(Option[String], Option[String], Option[String], Option[String])].collect()
    assert(kernel.toSeq === interp.toSeq)
  }

  test("simhash kernel matches the interpreted fold, nulls included") {
    val spark2 = spark
    import spark2.implicits._
    val df = inputs.toDF("text")
    val interp = df.select(Dedup.simhash(Dedup.tokens(col("text"))).as("sh"))
      .as[Option[Long]].collect()
    val kernel = df.select(SimhashExpr.simhash(col("text")).as("sh"))
      .as[Option[Long]].collect()
    assert(kernel.toSeq === interp.toSeq)
  }

  test("withMinhashSignature (kernel-backed) matches per-seed interpreted minhash") {
    val spark2 = spark
    import spark2.implicits._
    val df = inputs.filter(_ != null).zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val viaHelper = Dedup.withMinhashSignature(df, col("text"), 3)
      .select("doc_id", "mh0", "mh1", "mh2")
      .as[(Int, String, String, String)].collect().sortBy(_._1)
    val interp = df.select(col("doc_id"),
        Dedup.minhash(Dedup.tokens(col("text")), 0).as("mh0"),
        Dedup.minhash(Dedup.tokens(col("text")), 1).as("mh1"),
        Dedup.minhash(Dedup.tokens(col("text")), 2).as("mh2"))
      .as[(Int, String, String, String)].collect().sortBy(_._1)
    assert(viaHelper.toSeq === interp.toSeq)
  }

  test("token_hash_set matches the interpreted distinct token-hash array") {
    val spark2 = spark
    import spark2.implicits._
    val df = inputs.toDF("text")
    val interp = df.select(
      array_distinct(transform(Dedup.tokens(col("text")),
        w => conv(substring(md5(w), 1, 8), 16, 10).cast("long"))).as("toks"))
      .as[Option[Seq[Long]]].collect()
    val kernel = df.select(TokenHashSetExpr.token_hash_set(col("text")).as("toks"))
      .as[Option[Seq[Long]]].collect()
    assert(kernel.toSeq === interp.toSeq)
  }

  test("token_ngram_hashes matches the interpreted tokenNgrams+hash composition") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.Contamination
    // NULL text differs by design: the kernel null-propagates (standard
    // UnaryExpression convention, like every other kernel here) while the
    // interpreted slice/greatest composition collapses NULL to an empty
    // array — indistinguishable after the explode() every caller applies
    // (both produce zero rows). Compare the non-null inputs exactly and
    // pin both null behaviors explicitly.
    val df = inputs.filter(_ != null).toDF("text")
    for (n <- Seq(1, 2, 3, 8)) {
      val interp = df.select(
        transform(Contamination.tokenNgrams(col("text"), n),
          ng => conv(substring(md5(ng), 1, 15), 16, 10).cast("long")).as("h"))
        .as[Seq[Long]].collect()
      val kernel = df.select(
        TokenNgramHashExpr.token_ngram_hashes(col("text"), n).as("h"))
        .as[Seq[Long]].collect()
      assert(kernel.toSeq === interp.toSeq, s"n=$n")
    }
    val nulls = Seq(Option.empty[String]).toDF("text")
    assert(nulls.select(TokenNgramHashExpr.token_ngram_hashes(col("text"), 2).as("h"))
      .as[Option[Seq[Long]]].head() === None)
    assert(nulls.select(Contamination.tokenNgrams(col("text"), 2).as("g"))
      .as[Option[Seq[String]]].head() === Some(Seq()))
  }

  test("trim_spans kernel matches the interpreted filter×exists probe") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.TextStats
    // span sets per input: none, one, several, overlapping, all-covering,
    // out-of-range — crossed with every tokenizer edge case above
    val spanSets: Seq[Seq[(Long, Long)]] = Seq(
      Seq.empty,
      Seq((1L, 1L)),
      Seq((2L, 3L)),
      Seq((1L, 2L), (2L, 4L)), // overlap
      Seq((1L, 999L)),         // covers everything
      Seq((50L, 60L)))         // beyond any token
    val rows = for {
      (t, i) <- inputs.zipWithIndex
      (ss, j) <- spanSets.zipWithIndex
    } yield (i.toLong * 100 + j, t, ss.map { case (a, b) => (a, b) })
    val df = rows.toDF("id", "text", "sp")
      .withColumn("sp", col("sp").cast(
        "array<struct<span_start:bigint,span_end:bigint>>"))
    val interp = df.select(col("id"), concat_ws(" ",
        filter(TextStats.tokens(col("text")), (t, i) =>
          !exists(col("sp"), s =>
            (i + 1).cast("long") >= s.getField("span_start") &&
              (i + 1).cast("long") <= s.getField("span_end")))).as("out"))
      .as[(Long, String)].collect().sortBy(_._1)
    // coalesce mirrors the operator's composition: the old concat_ws form
    // rendered a null text as "", and trimSpans preserves that contract
    val kernel = df.select(col("id"),
        TrimSpansExpr.trim_spans(coalesce(col("text"), lit("")), col("sp")).as("out"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(kernel === interp)
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct sets") {
    val spark2 = spark
    import spark2.implicits._
    val cases = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)), // partial overlap
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)), // identical
      (Seq(1L, 2L), Seq(3L, 4L)), // disjoint
      (Seq.empty[Long], Seq(1L, 2L)), // empty left
      (Seq(1L), Seq.empty[Long]), // empty right
      (Seq(Long.MinValue, -1L, 0L, Long.MaxValue), Seq(-1L, Long.MaxValue))) // extremes
    val df = cases.toDF("a", "b")
    val expected = df.select(size(array_intersect(col("a"), col("b")))).as[Int].collect()
    val kernel = df.select(
      SortedIntersectCountExpr.sorted_intersect_count(col("a"), col("b"))).as[Int].collect()
    assert(kernel.toSeq === expected.toSeq)
    // and through the production path: lshJaccardPairs results are
    // unchanged by the sorted-merge swap (mini corpus, exact values)
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")).toDF("doc_id", "text")
    val sig = Dedup.withMinhashSignature(docs, col("text"), 2)
      .withColumn("toks", TokenHashSetExpr.token_hash_set(col("text")))
    val pairs = Dedup.lshJaccardPairs(sig, "doc_id", Seq("mh0", "mh1"), "toks",
        threshold = 0.0)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(pairs(0)._3 === 3.0 / 5.0) // |{a,b,c}| / |{a,b,c,d,e}|
  }

  test("token_count and alpha_count match their interpreted forms, nulls included") {
    val spark2 = spark
    import spark2.implicits._
    val df = (inputs :+ "mixés Ünïcode 北京 a1b2 -- ::").toDF("text")
    val tc = df.select(
      TokenCountExpr.token_count(col("text")).as("k"),
      size(split(trim(col("text")), "\\s+")).as("i"))
      .as[(Option[Int], Option[Int])].collect()
    tc.foreach { case (k, i) => assert(k === i, s"token_count $k vs $i") }
    val ac = df.select(
      AlphaCountExpr.alpha_count(col("text")).as("k"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("i"))
      .as[(Option[Int], Option[Int])].collect()
    ac.foreach { case (k, i) => assert(k === i, s"alpha_count $k vs $i") }
    // literal inputs through the Column entries
    assert(spark.range(1).select(TokenCountExpr.token_count(lit("a  b")),
        AlphaCountExpr.alpha_count(lit("ab1é北")))
      .collect().head.toSeq === Seq(2, 2)) // é/北 are not ASCII letters
  }

  test("token_stats matches the interpreted (ntok, ndist, top) triple") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(21)
    // random docs over a small vocab (forces real multiplicities), a doc
    // with >512 distinct tokens (forces the scratch table to grow and
    // rehash mid-row), and a high-multiplicity doc
    val vocab = Seq("the", "a", "dup", "x1", "yy", "zzz", "é", "北")
    val random = (0 until 40).map(_ =>
      (0 until rnd.nextInt(60)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val wide = (0 until 3000).map(i => s"tok$i").mkString(" ")
    val heavy = ("spam " * 500) + "ham"
    val df = (inputs ++ random ++ Seq(wide, heavy)).toDF("text")
    // compare FIELD-wise: a NULL text yields a null struct from the
    // kernel but a struct of null fields from the interpreted form —
    // every consumer reads fields, where both sides read null
    val fields = Seq("ntok", "ndist", "top")
    val got = df.select(
        (fields.map(f => TokenStatsExpr.token_stats(col("text")).getField(f).as(s"k_$f")) ++
          fields.map(f => graft.ops.ext.TextStats.tokenStatsInterpreted(col("text"))
            .getField(f).as(s"i_$f"))): _*)
      .collect()
    got.foreach { r =>
      (0 until 3).foreach { i =>
        assert(r.isNullAt(i) === r.isNullAt(i + 3), s"${fields(i)} nullness: $r")
        if (!r.isNullAt(i))
          assert(r.getLong(i) === r.getLong(i + 3), s"${fields(i)}: $r")
      }
    }
    // literal inputs: trim strips the outer spaces -> [dup, a, dup];
    // a leading TAB survives trim -> leading empty token quirk
    def stats(s: String) =
      spark.range(1).select(TokenStatsExpr.token_stats(lit(s))).collect().head.getStruct(0).toSeq
    assert(stats(" dup a dup ") === Seq(3L, 2L, 2L))
    assert(stats("\tdup a dup") === Seq(4L, 3L, 2L)) // ["", dup, a, dup]
  }

  test("token_stats scratch shrinks after a monster row and stays correct") {
    import org.apache.spark.unsafe.types.UTF8String
    // >2^20 distinct tokens forces the table past the retention bound;
    // the NEXT row must still compute on the shrunk table
    val monster = (0 until 1100000).map(i => "t" + i).mkString(" ")
    val r1 = TokenHash.tokenStats(UTF8String.fromString(monster))
    assert(r1.getLong(0) === 1100000L)
    assert(r1.getLong(1) === 1100000L)
    assert(r1.getLong(2) === 1L)
    val r2 = TokenHash.tokenStats(UTF8String.fromString("a b a"))
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((3L, 2L, 2L)))
  }

  test("quality gate keeps ONE token_stats kernel instance in the optimized plan") {
    val spark2 = spark
    import spark2.implicits._
    // the _ntok/_ndist/_best getFields must reference one shared kernel
    // column — CollapseProject refuses to inline non-cheap multi-use
    // expressions; this pins that (repartition defeats
    // ConvertToLocalRelation constant-folding the kernel away)
    val df = Seq((1L, "a b a"), (2L, "c d")).toDF("doc_id", "text").repartition(2)
    val out = graft.ops.ext.TextStats.qualityGate(df, col("text"), "doc_id",
      graft.ops.ext.TextStats.QualityThresholds())
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.split("graft_token_stats", -1).length - 1 === 1, plan)
  }

  test("ngram_rep kernel matches the interpreted sorted-fold over the edge corpus") {
    val spark2 = spark
    import spark2.implicits._
    val df = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val kernel = graft.ops.ext.TextStats.ngramRepetition(df, col("text"), n)
        .select(col("doc_id"), col(s"top${n}gram_ppm"), col(s"dup${n}gram_ppm"))
        .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1)
      val interp = graft.ops.ext.TextStats.ngramRepetitionInterpreted(df, col("text"), n)
        .select(col("doc_id"), col(s"top${n}gram_ppm"), col(s"dup${n}gram_ppm"))
        .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1)
      assert(kernel === interp, s"n=$n")
    }
  }

  test("ngramRepetition keeps ONE kernel instance per n in the optimized plan") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "a b a b c")).toDF("doc_id", "text").repartition(2)
    val out = graft.ops.ext.TextStats.ngramRepetition(df, col("text"), 2)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.split("graft_ngram_rep", -1).length - 1 === 1, plan)
  }

  test("withMinhashSignature keeps ONE kernel instance in the optimized plan") {
    val spark2 = spark
    import spark2.implicits._
    // CollapseProject must not inline the kernel into the N element_at
    // projections (it refuses for non-cheap multi-use expressions) — else
    // the kernel would run N times per row. spark.range source: a local
    // Seq would be constant-folded into a LocalRelation entirely.
    val src = spark.range(3).select(concat(lit("a b "), col("id").cast("string")).as("text"))
    val df = Dedup.withMinhashSignature(src, col("text"), 4)
    val plan = df.queryExecution.optimizedPlan.toString
    assert("graft_token_minhash".r.findAllMatchIn(plan).length === 1, plan)
  }

  test("kernels coerce castable input, reject the rest at analysis time") {
    val got = spark.range(1).select(
        TokenMinhashExpr.token_minhash(lit("a b"), 2).as("mhs"),
        SimhashExpr.simhash(lit("a b")).as("sh"),
        TokenHashSetExpr.token_hash_set(lit("a b a")).as("ths"))
      .collect().head
    assert(got.getSeq[String](0).length === 2)
    assert(got.getSeq[String](0).forall(_.length === 32))
    assert(got.getSeq[Long](2).length === 2) // 'a b a' -> {h(a), h(b)}
    // ImplicitCastInputTypes: an int coerces to string — the same coercion
    // the interpreted split(trim(col)) forms get
    val coerced = spark.range(1)
      .select(SimhashExpr.simhash(lit(42)) === SimhashExpr.simhash(lit("42"))).collect().head
    assert(coerced.getBoolean(0))
    intercept[AnalysisException] { // no implicit array -> string cast
      spark.range(1).select(SimhashExpr.simhash(array(lit(1)))).collect()
    }
  }
}
