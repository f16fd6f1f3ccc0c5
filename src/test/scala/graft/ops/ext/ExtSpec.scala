package graft.ops.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("containmentPairs catches the quoted document Jaccard misses") {
    val spark2 = spark
    import spark2.implicits._
    val quote = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val docs = Seq(
      (1L, quote), // short doc...
      (2L, ("intro paragraph with many extra tokens here now " * 4) + quote +
        (" and a long trailing discussion of unrelated matters " * 4)), // ...quoted inside
      (3L, "completely different content about other topics entirely friends")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, col("text"), "doc_id",
        threshold = 0.8, maxBucketSize = Some(100))
      .select("id_a", "id_b", "overlap")
      .as[(Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSeq === Seq((1L, 2L)))
    assert(out.head._3 >= 0.9) // every token of the quote is in doc 2
    // the SAME pair under symmetric Jaccard sits far below threshold:
    // containment is a different semantic, not a tuned-down Jaccard
    val sig = Dedup.withMinhashSignature(docs, col("text"), 2)
    val jac = Dedup.lshJaccardPairs(
      sig.withColumn("set",
        array_sort(graft.functions.TokenHashSetExpr.token_hash_set(col("text")))),
      "doc_id", Seq("mh0", "mh1"), "set", threshold = 0.0)
      .where(col("id_a") === 1L && col("id_b") === 2L)
      .select("jac").as[Double].collect()
    assert(jac.isEmpty || jac.head < 0.5, jac.toSeq)
  }

  test("exact dedup groups identical texts and keeps the min id") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y")).toDF("doc_id", "text")
    val out = Dedup.exactDupGroups(docs, col("doc_id"), col("text"))
      .select("keeper", "n_docs").as[(Long, Long)].collect().sorted
    assert(out === Array((1L, 2L), (3L, 1L)))
  }

  test("dropDuplicateLines keeps each line's first corpus occurrence only") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a\nb\nc"), (2L, "b\nd"), (3L, "a")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateLines(docs, col("text"), "doc_id")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, "a\nb\nc", 3L, 0L), // owns the first occurrence of all its lines
      (2L, "d", 1L, 1L), // "b" already seen in doc 1
      (3L, "", 0L, 1L))) // every line a dup -> empty doc, counts say why
    // layout-independence: first occurrence is (id, pos)-min, not
    // partition order
    val re = Dedup.dropDuplicateLines(docs.repartition(5), col("text"), "doc_id")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(re.toSeq === out.toSeq)
    // the skew guard: the first-occurrence election is a PARTIAL min —
    // a boilerplate line repeated across a partition collapses to one
    // row per task before the line-hash shuffle
    val plan = Dedup.dropDuplicateLines(docs, col("text"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), plan)
  }

  test("identical texts share minhash signatures; disjoint texts differ") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c"), (2L, "c b a"), (3L, "p q r")).toDF("doc_id", "text")
    val sig = Dedup.withMinhashSignature(docs, col("text"), 3)
      .select("doc_id", "mh0", "mh1", "mh2").as[(Long, String, String, String)]
      .collect().sortBy(_._1)
    assert(sig(0)._2 === sig(1)._2 && sig(0)._3 === sig(1)._3) // same token set
    assert(sig(0)._2 !== sig(2)._2)
  }

  test("dedupAgainstCorpus drops band matches, band index is respected") {
    val spark2 = spark
    import spark2.implicits._
    // synthetic signature columns: the function only reads the band cols.
    // n1 matches the corpus in band 0, n2 in band 1, n3 nowhere; n4's
    // band-0 value equals the corpus's band-1 value — the index tag must
    // keep that from matching
    val corpus = Seq((100L, "AA", "BB")).toDF("doc_id", "s0", "s1")
    val fresh = Seq(
      (1L, "AA", "xx"), (2L, "yy", "BB"), (3L, "zz", "ww"), (4L, "BB", "qq")
    ).toDF("doc_id", "s0", "s1")
    val out = Dedup.dedupAgainstCorpus(fresh, corpus, "doc_id",
        Seq(Seq("s0"), Seq("s1")))
      .select(col("doc_id")).as[Long].collect().sorted
    assert(out === Array(3L, 4L))
  }

  test("lsh candidate pairs surface same-band documents once") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b"), (2L, "b a"), (3L, "z w")).toDF("doc_id", "text")
    val sig = Dedup.withMinhashSignature(docs, col("text"), 2)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0", "mh1"))
      .as[(Long, Long)].collect().toSeq
    assert(pairs === Seq((1L, 2L)))
  }

  test("multi-band lsh unions bands and dedups cross-band pairs") {
    val spark2 = spark
    import spark2.implicits._
    // docs 1,2 agree on band A only; 3,4 agree on band B only; 1,2 ALSO
    // agree on band B -> the (1,2) pair must appear once, not twice
    val sig = Seq(
      (1L, "x", "p"), (2L, "x", "p"), (3L, "y", "q"), (4L, "z", "q")
    ).toDF("doc_id", "mhA", "mhB")
    val pairs = Dedup.lshCandidatePairsMultiBand(sig, "doc_id",
        Seq(Seq("mhA"), Seq("mhB")))
      .as[(Long, Long)].collect().sorted
    assert(pairs === Array((1L, 2L), (3L, 4L)))
  }

  test("degenerate-bucket guard bounds pair counts on boilerplate skew") {
    val spark2 = spark
    import spark2.implicits._
    // 10 boilerplate docs share one band value (would be 45 pairs), two
    // legit near-dups share another
    val sig = ((1L to 10L).map(i => (i, "boiler")) ++ Seq((20L, "x"), (21L, "x")))
      .toDF("doc_id", "mh0")
    val unguarded = Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0"))
      .as[(Long, Long)].collect()
    val guarded = Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0"), maxBucketSize = Some(5))
      .as[(Long, Long)].collect()
    assert(unguarded.length === 45 + 1)
    assert(guarded.toSeq === Seq((20L, 21L))) // mega-bucket dropped wholesale
  }

  test("salted guard keeps some in-bucket pairs at bounded cost") {
    val spark2 = spark
    import spark2.implicits._
    // 12 boilerplate docs in one bucket (66 pairs unguarded) + a clean pair
    val sig = ((1L to 12L).map(i => (i, "boiler")) ++ Seq((20L, "x"), (21L, "x")))
      .toDF("doc_id", "mh0")
    val unguarded = Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0"))
      .as[(Long, Long)].collect().toSet
    val salted = Dedup.lshCandidatePairs(sig, "doc_id", Seq("mh0"),
        maxBucketSize = Some(3), saltOversized = true)
      .as[(Long, Long)].collect().toSet
    assert(salted.subsetOf(unguarded)) // salting never invents pairs
    assert(salted.contains((20L, 21L))) // small buckets untouched
    val boiler = salted - ((20L, 21L))
    // 12 docs over ceil(12/3)=4 sub-buckets: far fewer than 66 pairs but
    // (unless the salt hash degenerates, which it doesn't here) nonzero
    assert(boiler.nonEmpty && boiler.size < 66)
  }

  test("guard applies per band: capped in one band, pairable in another") {
    val spark2 = spark
    import spark2.implicits._
    // band A is degenerate (all docs agree); band B splits them cleanly
    val sig = Seq(
      (1L, "same", "p"), (2L, "same", "p"), (3L, "same", "q"), (4L, "same", "q"),
      (5L, "same", "r"))
      .toDF("doc_id", "mhA", "mhB")
    val pairs = Dedup.lshCandidatePairsMultiBand(sig, "doc_id",
        Seq(Seq("mhA"), Seq("mhB")), maxBucketSize = Some(3))
      .as[(Long, Long)].collect().sorted
    assert(pairs === Array((1L, 2L), (3L, 4L))) // band A contributed nothing
  }

  test("lsh-prefiltered jaccard pairs agree with all-pairs jaccard on candidates") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), // near-dups: jac 3/5
      (3L, "a b c d"),                  // exact dup of 1
      (4L, "p q r s"), (5L, "t u v w")  // unrelated
    ).toDF("doc_id", "text")
    val toks = array_distinct(Dedup.tokens(col("text")))
    val sig = Dedup.withMinhashSignature(docs, col("text"), 2)
      .select(col("doc_id"), col("mh0"), col("mh1"), toks.as("toks"))
    val lsh = Dedup.lshJaccardPairs(sig, "doc_id", Seq("mh0", "mh1"), "toks",
        threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    // the all-pairs (recall oracle) form: every pair, same threshold
    val a = docs.select(col("doc_id").as("id_a"), toks.as("ta"))
    val b = docs.select(col("doc_id").as("id_b"), toks.as("tb"))
    val allPairs = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccardPreDistinct(col("ta"), col("tb")).as("jac"))
      .where(col("jac") >= 0.5).as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(allPairs)) // LSH never invents pairs
    // identical token sets always share every band -> exact dups are found
    assert(lsh.contains((1L, 3L, 1.0)))
    // scored pairs carry the same jac value as the exact form
    lsh.foreach { case (x, y, j) => assert(allPairs.contains((x, y, j))) }
  }

  test("nullable-element long sets fall back to the general intersect path") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    // long-hashed token sets with NULLABLE elements (a when() inside
    // transform makes containsNull=true): the sorted-merge kernel demands
    // non-nullable input and Catalyst can't cast nullable down, so this
    // must route to array_intersect — analyzing, not failing
    val toksNullable = array_sort(transform(array_distinct(Dedup.tokens(col("text"))),
      t => when(length(t) > 0, xxhash64(t))))
    val sig = Dedup.withMinhashSignature(docs, col("text"), 2)
      .select(col("doc_id"), col("mh0"), col("mh1"), toksNullable.as("toks"))
    val pairs = Dedup.lshJaccardPairs(sig, "doc_id", Seq("mh0", "mh1"), "toks",
        threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    assert(pairs.contains((1L, 3L, 1.0)), pairs)
  }

  test("simhash of identical token bags is equal, near for overlapping") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "q r s t")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), Dedup.simhash(Dedup.tokens(col("text"))).as("sh"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(out(0)._2 === out(1)._2)
    assert(out(0)._2 !== out(2)._2)
  }

  test("shingles of short texts are empty, minhashPair of empty is the sentinel") {
    val spark2 = spark
    import spark2.implicits._
    val out = Seq("ab", "abcdef").toDF("text")
      .select(Dedup.shingles(col("text"), 5).as("sh"),
        Dedup.minhashPair(Dedup.shingles(col("text"), 5)).as("m"))
      .select(col("sh"), col("m.a"))
      .as[(Seq[String], String)].collect()
    assert(out(0) === ((Seq.empty[String], "~"))) // callers null the sentinel out
    assert(out(1)._1 === Seq("abcde", "bcdef"))
    assert(out(1)._2.length === 16)
    assert(out(1)._2 !== "~")
  }

  test("jaccard on token sets") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("a b c", "b c d")).toDF("x", "y")
    val j = df.select(Dedup.jaccard(Dedup.tokens(col("x")), Dedup.tokens(col("y"))))
      .as[Double].head()
    assert(j === 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("lshRecallEval: identical-set pairs are caught; empty truth is vacuous") {
    val spark2 = spark
    import spark2.implicits._
    // docs 1 and 2 have the same token SET (Jaccard 1 -> truth pair, and
    // identical minhashes -> band candidate); 3 shares nothing
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma alpha beta"),
      (3L, "totally different words entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.lshRecallEval(docs, col("text"), "doc_id", thresholdBp = 9000)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(out === ((1L, 1L, 1L, 10000L, 10000L)))
    // pairwise-disjoint corpus: no truth pair, no band collision -> the
    // vacuous-10000 guards instead of a divide-by-zero
    val disjoint = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "ee ff"))
      .toDF("doc_id", "text")
    val vac = Dedup.lshRecallEval(disjoint, col("text"), "doc_id", thresholdBp = 5000)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(vac === ((0L, 0L, 0L, 10000L, 10000L)))
  }

  /** The single-band composition [[Dedup.bandClusters]] replaces, next
    * to it: `(doc_id, canonical_id, cluster_size)` sorted. Canonicals
    * come from `Components.dedupClusters` over the guarded pairs (or,
    * with `score`, `Components.representatives`' `rep_id`), sizes from
    * `Components.clusterWeights`. */
  private def bandParity(sig: DataFrame, bandCols: Seq[String], cap: Int,
      score: Option[String] = None): (Seq[(Long, Long, Long)], Seq[(Long, Long, Long)]) = {
    val spark2 = spark
    import spark2.implicits._
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bandCols, maxBucketSize = Some(cap))
    val clusters = Components.dedupClusters(sig, pairs, "doc_id")
    val weights = Components.clusterWeights(clusters, "doc_id")
    val old = score match {
      case Some(s) => Components.representatives(clusters,
          sig.select(col("doc_id"), col(s).as("score")), "doc_id")
        .join(weights.select("canonical_id", "cluster_size").distinct(), "canonical_id")
        .select(col("doc_id"), col("rep_id"), col("cluster_size"))
      case None => weights.select("doc_id", "canonical_id", "cluster_size")
    }
    val expected = old.as[(Long, Long, Long)].collect()
    val out = Dedup.bandClusters(sig, "doc_id", bandCols, cap, score.map(col))
    val actual = out.as[(Long, Long, Long)].collect()
    graft.core.Checkpoints.release(out)
    (expected.toSeq.sorted, actual.toSeq.sorted)
  }

  /** Signature rows with `k` band columns, cap 4. `null` values are
    * null signature entries. */
  private def bandFixture(k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def all(v: String) = Seq.fill(k)(v)
    val rows: Seq[(Long, Seq[String], Long)] =
      (1L to 3L).map(i => (i, all(s"single$i"), i)) ++          // singletons
        (10L to 13L).zip(Seq(1L, 3L, 3L, 2L))                    // exactly cap: tie 11/12
          .map { case (i, sc) => (i, all("cap"), sc) } ++
        (20L to 24L).map(i => (i, all("over"), i)) ++            // cap + 1
        Seq(30L, 31L).map(i => (i, all("pair"), 5L)) ++          // tie on score
        Seq(40L, 41L).map(i => (i, null +: Seq.fill(k - 1)("n"), i)) ++ // a null entry
        Seq((45L, Seq(null, "p") ++ Seq.fill(k - 2)("q"), 1L),    // nulls in different
          (46L, Seq("p", null) ++ Seq.fill(k - 2)("q"), 1L)) ++   // slots: no collision
        Seq(43L, 44L).map(i => (i, Seq.fill[String](k)(null), 1L)) ++ // all null
        Seq((50L, all("t"), 7L), (51L, all("t"), 9L), (52L, all("t"), 9L))
    val schema = StructType(StructField("doc_id", LongType) +:
      (0 until k).map(i => StructField(s"mh$i", StringType)) :+
      StructField("score", LongType))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, mh, sc) => Row(id +: mh :+ sc: _*) }),
      schema)
  }

  test("bandClusters equals pairs + connected components on one band") {
    // checked against the old composition (new == old) for every case in
    // bandFixture, at 2 and 8 band columns, default and score form:
    //  - singletons: their own canonical, size 1
    //  - a bucket of exactly cap rows is clustered (the guard is
    //    inclusive); cap + 1 rows fall apart into singletons
    //  - a null band entry keys as a value: 40/41 cluster; 45/46 (nulls in
    //    different slots) stay apart; all-null 43/44 cluster
    //  - score ties go to the smaller id (11 over 12, 30 over 31, 51 over 52)
    for (k <- Seq(2, 8); score <- Seq(None, Some("score"))) {
      val (expected, actual) = bandParity(bandFixture(k), (0 until k).map(i => s"mh$i"), 4, score)
      assert(actual === expected, s"k=$k score=$score")
      val byId = actual.map(r => r._1 -> r).toMap
      assert(byId(13L)._3 === 4L && byId(20L) === ((20L, 20L, 1L)), s"k=$k")
      assert(byId(45L)._3 === 1L && byId(43L)._3 === 2L, s"k=$k")
    }
    // and on real MinHash signatures: 1/2 share a token set, 3 does not
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "d c b a a"), (3L, "x y z"), (4L, "a b c d"))
      .toDF("doc_id", "text").withColumn("score", length(col("text")).cast("long"))
    for (k <- Seq(2, 8); score <- Seq(None, Some("score"))) {
      val sig = Dedup.withMinhashSignature(docs, col("text"), k)
      val (expected, actual) = bandParity(sig, (0 until k).map(i => s"mh$i"), 10, score)
      assert(actual === expected, s"k=$k score=$score")
      assert(actual.count(_._3 == 3L) === 3, s"k=$k")
    }
  }

  test("bandClusters pins null ids, repeated ids and non-integral scores") {
    val spark2 = spark
    import spark2.implicits._
    def clusters(rows: Seq[(java.lang.Long, String)], cap: Int) = {
      val out = Dedup.bandClusters(rows.toDF("doc_id", "mh0"), "doc_id", Seq("mh0"), cap)
      val r = out.as[(Option[Long], Option[Long], Long)].collect().toSeq.sorted
      graft.core.Checkpoints.release(out)
      r
    }
    // a null id is its own cluster (canonical null, size 1) and is never
    // canonical or counted in a size; the non-null rows equal the old
    // composition (the null id forms no pair there either)
    val withNull = Seq[(java.lang.Long, String)]((null, "b"), (60L, "b"), (61L, "b"))
    assert(clusters(withNull, 3) === Seq((None, None, 1L),
      (Some(60L), Some(60L), 2L), (Some(61L), Some(60L), 2L)))
    val nullDf = withNull.toDF("doc_id", "mh0")
    val oldNonNull = Components.clusterWeights(Components.dedupClusters(nullDf,
        Dedup.lshCandidatePairs(nullDf, "doc_id", Seq("mh0"), Some(3)), "doc_id"), "doc_id")
      .where(col("doc_id").isNotNull)
      .select("doc_id", "canonical_id", "cluster_size").as[(Long, Long, Long)].collect()
    assert(oldNonNull.toSeq.sorted === Seq((60L, 60L, 2L), (61L, 60L, 2L)))
    // ... but its row counts toward the guard, as in the pair self-join:
    // three rows over a cap of 2 leave every row a singleton
    assert(clusters(withNull, 2) === Seq((None, None, 1L),
      (Some(60L), Some(60L), 1L), (Some(61L), Some(61L), 1L)))
    // a repeated id inside one bucket: equal to the old composition
    // (clusterWeights counts rows, so size 3)
    val dupRows = Seq((70L, "d"), (70L, "d"), (71L, "d")).toDF("doc_id", "mh0")
    val (expected, actual) = bandParity(dupRows, Seq("mh0"), 10)
    assert(actual === expected)
    assert(actual === Seq((70L, 70L, 3L), (70L, 70L, 3L), (71L, 70L, 3L)))
    // a repeated id across two buckets: NOT equal. Components close over
    // the shared id (every row -> 2); bandClusters keeps each bucket its
    // own cluster, so the row of 8 in bucket w points to 7
    val bridged = Seq((7L, "w"), (8L, "w"), (8L, "v"), (2L, "v")).toDF("doc_id", "mh0")
    val (cc, bands) = bandParity(bridged, Seq("mh0"), 10)
    assert(cc.map(_._2).distinct === Seq(2L))
    assert(bands === Seq((2L, 2L, 2L), (7L, 7L, 2L), (8L, 2L, 2L), (8L, 7L, 2L)))
    // the score must be integral (its order is reversed bitwise)
    val e = intercept[IllegalArgumentException](Dedup.bandClusters(
      dupRows, "doc_id", Seq("mh0"), 10, Some(lit(1.5))))
    assert(e.getMessage.contains("integral"))
  }
}

class SimilaritySpec extends SparkSpec {

  test("cosine top-1 finds the exact duplicate vector") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.001f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("id", "vec")
    val out = Similarity.cosineTopK(vecs.where(col("id") === 0), vecs, k = 1)
      .as[(Long, Long, Int)].collect()
    assert(out === Array((0L, 1L, 1)))
  }

  test("ivf finds the near-duplicate when it shares the probed centroid") {
    val spark2 = spark
    import spark2.implicits._
    // centroids = ids 0,1 (x-axis and y-axis); 10 is a near-dup of 0
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (10L, Array(0.99f, 0.01f)), (11L, Array(0.01f, 0.99f))
    ).toDF("id", "vec")
    val out = Similarity.ivfTopK(vecs, vecs.where(col("id") === 0),
        numCentroids = 2, k = 1, nprobe = 1)
      .as[(Long, Long, Int)].collect()
    assert(out === Array((0L, 10L, 1)))
  }

  test("ivf centroid assignment is map-side: one shuffle in the whole plan") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (10L, Array(0.99f, 0.01f)), (11L, Array(0.01f, 0.99f))
    ).toDF("id", "vec")
    val out = Similarity.ivfTopK(vecs, vecs.where(col("id") === 0),
      numCentroids = 2, k = 1, nprobe = 1)
    // the only hash-partitioned Exchange allowed is the final per-query
    // top-k window AFTER the broadcast probe join; assignment itself must
    // not shuffle the corpus
    val plan = out.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).length
    assert(shuffles <= 1, plan)
  }

  test("lloyd-trained centroids beat the first-K seed on clustered data") {
    val spark2 = spark
    import spark2.implicits._
    def v(c: Int, j1: Double, j2: Double): Array[Double] = {
      val a = new Array[Double](3); a(c) = 1.0
      a((c + 1) % 3) = j1; a((c + 2) % 3) = j2; a
    }
    // seed trap: the first K=3 ids all sit in cluster 0, so the untrained
    // quantizer starts with every centroid on ONE cluster; 24 more vectors
    // split evenly across three orthogonal clusters with deterministic
    // jitter
    val corpus = (Seq(
      (0L, v(0, 0.02, -0.03)), (1L, v(0, -0.04, 0.01)), (2L, v(0, 0.05, 0.04))) ++
      (3L to 26L).map(i =>
        (i, v((i % 3).toInt, ((i * 7) % 11 - 5) / 100.0, ((i * 13) % 11 - 5) / 100.0)))
    ).toDF("id", "vec")
    val queries = Seq(
      (100L, v(0, 0.01, 0.0)), (101L, v(1, 0.01, 0.0)), (102L, v(2, 0.01, 0.0))
    ).toDF("id", "vec")
    val brute = Similarity.cosineTopK(queries, corpus, k = 3)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    def recall(iters: Int): Double = {
      val got = Similarity.ivfTopK(corpus, queries, numCentroids = 3, k = 3,
          nprobe = 1, lloydIters = iters)
        .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
      (got intersect brute).size.toDouble / brute.size
    }
    val untrained = recall(0)
    val trained = recall(4)
    assert(trained > untrained, s"trained=$trained untrained=$untrained")
    // 8/9 measured: one boundary vector is assigned to a different cell
    // than the query probes — honest IVF behavior at nprobe=1, not a bug
    assert(trained >= 8.0 / 9, s"trained recall $trained")
  }

  test("zero-norm vectors rank last, not first, and fail near-dup thresholds") {
    val spark2 = spark
    import spark2.implicits._
    // 0/0 cosine is NaN, which Spark orders ABOVE every real double — an
    // unguarded descending top-k would rank the zero vector FIRST and an
    // unguarded `>= threshold` would pass (NaN compares greater). cosineSafe
    // pins it to -1: always last, always below any non-negative threshold.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.001f)),
      (2L, Array(0.0f, 0.0f))
    ).toDF("id", "vec")
    val ranked = Similarity.cosineTopK(vecs.where(col("id") === 0), vecs, k = 2)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(ranked === Array((0L, 1L, 1), (0L, 2L, 2)))
    val pairs = Similarity.embeddingNearDupPairs(vecs, planes = 2, threshold = 0.0)
      .as[(Long, Long)].collect()
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)))
    // direct kernel check (bucket-independent): the guarded cosine is -1,
    // never NaN, so `>= 0` filters it on both Spark and the DuckDB oracle
    val safe = vecs.where(col("id") === 0).crossJoin(
        vecs.where(col("id") === 2).select(col("vec").as("vec2")))
      .select(Similarity.cosineSafe(col("vec"), col("vec2"))).as[Double].head()
    assert(safe === -1.0)
  }

  test("srp buckets put identical vectors together") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq((0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "vec")
    val b = vecs.select(Similarity.srpBucket(col("vec"), 8)).as[Long].collect()
    assert(b(0) === b(1))
  }

  test("semanticDedup closes near-dup pairs into clusters, keeps min id") {
    val spark2 = spark
    import spark2.implicits._
    // cos(0,1) and cos(1,2) pass the 0.99 threshold but cos(0,2) = 0.98
    // does NOT — {0,1,2} must still collapse into ONE cluster through the
    // transitive closure; 3 is orthogonal, a singleton keeping itself
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.995f, 0.0998f)),
      (2L, Array(0.98f, 0.199f)), (3L, Array(-0.1f, 1.0f))
    ).toDF("id", "vec")
    val direct = Similarity.embeddingNearDupPairs(vecs, planes = 2, threshold = 0.99)
      .as[(Long, Long)].collect()
    assert(!direct.contains((0L, 2L)), direct.toSeq) // only the closure links 0 and 2
    val out = Similarity.semanticDedup(vecs, planes = 2, threshold = 0.99)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array((0L, 0L, 1L), (1L, 0L, 0L), (2L, 0L, 0L), (3L, 3L, 1L)))
  }

  test("pqEncode maps each subspace to its nearest codebook entry") {
    val spark2 = spark
    import spark2.implicits._
    // seeds (= codebook entries, in id order): per subspace the codebooks
    // are s0: {0->[1,0], 1->[0,1]}, s1: {0->[0,1], 1->[1,0]}
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (10L, Array(0.9f, 0.1f, 0.2f, 0.8f)), // near seed 0 in both subspaces
      (11L, Array(0.1f, 0.8f, 0.9f, 0.1f))  // near seed 1 in both subspaces
    ).toDF("id", "vec")
    val codes = Similarity.pqEncode(vecs, m = 2, numCodes = 2)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toMap
    assert(codes(0L) === Seq(0, 0))
    assert(codes(1L) === Seq(1, 1))
    assert(codes(10L) === Seq(0, 0))
    assert(codes(11L) === Seq(1, 1))
  }

  test("pqTopK ranks by asymmetric distance over codes and finds the near-dup") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (10L, Array(0.9f, 0.1f, 0.2f, 0.8f)),
      (11L, Array(0.1f, 0.8f, 0.9f, 0.1f))
    ).toDF("id", "vec")
    val out = Similarity.pqTopK(vecs, vecs.where(col("id") === 0),
        m = 2, numCodes = 2, k = 2)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    // 10 shares query 0's codes (ADC distance = distance to the codes'
    // reconstruction), 11/1 reconstruct to the other entries
    assert(out.map(r => (r._1, r._2)).head === ((0L, 10L)))
  }

  test("pq probe plan: corpus never shuffles before the top-k window") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)), (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (10L, Array(0.9f, 0.1f, 0.2f, 0.8f)), (11L, Array(0.1f, 0.8f, 0.9f, 0.1f))
    ).toDF("id", "vec")
    val plan = Similarity.pqTopK(vecs, vecs.where(col("id") === 0),
      m = 2, numCodes = 2, k = 1).queryExecution.executedPlan.toString
    // encode is map-side against the codebook literal; the broadcast probe
    // join adds no Exchange; the only hash Exchange is the final window
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length <= 1, plan)
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("pq lloyd training strictly reduces quantization error off-seed") {
    val spark2 = spark
    import spark2.implicits._
    // seeds sit at the corners; the data mass sits between them, so
    // recentering each cell on its mean strictly improves the objective
    val corpus = ((0L to 1L).map {
      case 0L => (0L, Array(1.0f, 0.0f, 0.0f, 1.0f))
      case _  => (1L, Array(0.0f, 1.0f, 1.0f, 0.0f))
    } ++ (10L to 29L).map { i =>
      val t = ((i * 7) % 10).toFloat / 30f // deterministic jitter in [0, 0.3)
      if (i % 2 == 0) (i, Array(0.8f - t, 0.2f + t, 0.1f + t, 0.9f - t))
      else (i, Array(0.2f + t, 0.9f - t, 0.8f - t, 0.1f + t))
    }).toDF("id", "vec")
    def quantErr(iters: Int): Double = {
      val books = Similarity.pqCodebooks(corpus, m = 2, numCodes = 2, lloydIters = iters)
      val rows = corpus.select(col("id"), col("vec").cast("array<double>"))
        .as[(Long, Seq[Double])].collect()
      rows.map { case (_, v) =>
        (0 until 2).map { s =>
          val sub = v.slice(s * 2, (s + 1) * 2)
          books(s).map { case (_, cv, _) =>
            sub.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
          }.min
        }.sum
      }.sum
    }
    val untrained = quantErr(0)
    val trained = quantErr(3)
    assert(trained < untrained, s"trained=$trained untrained=$untrained")
  }

  test("pq recall vs exact L2 on clustered vectors") {
    val spark2 = spark
    import spark2.implicits._
    // four axis-aligned clusters in 4-d, 6 members each with deterministic
    // jitter; queries at the cluster centers. With numCodes=4 (one seed
    // per cluster) the reconstructions separate the clusters, so the top-3
    // ADC neighbors of each query should mostly be its own cluster's
    // members — compare against exact L2 brute force.
    def v(c: Int, j: Float): Array[Float] = {
      val a = Array.fill(4)(j / 10); a(c) = 1.0f - j / 20; a
    }
    val corpus = (0L to 3L).map(i => (i, v(i.toInt, 0f)))
      .++((4L to 27L).map(i => (i, v((i % 4).toInt, ((i * 3) % 5 + 1).toFloat / 10))))
      .toDF("id", "vec")
    val queries = (100L to 103L).map(i => (i, v((i % 4).toInt, 0.05f))).toDF("id", "vec")
    val exact = {
      val q = queries.select(col("id").as("q_id"), col("vec").cast("array<double>").as("qv"))
      val c = corpus.select(col("id").as("n_id"), col("vec").cast("array<double>").as("nv"))
      val d = Similarity.dot(col("qv"), col("qv")) -
        lit(2.0) * Similarity.dot(col("qv"), col("nv")) +
        Similarity.dot(col("nv"), col("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("l2").asc, col("n_id"))
      q.join(c, col("q_id") =!= col("n_id")).withColumn("l2", d)
        .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
        .select(col("q_id"), col("n_id")).as[(Long, Long)].collect().toSet
    }
    val got = Similarity.pqTopK(corpus, queries, m = 2, numCodes = 4, k = 3)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall (exact=$exact got=$got)")

    // pqRerankTopK with a full-width shortlist IS exact L2: every
    // candidate gets rescored full-precision, so quantization error can
    // only affect candidates that never reach the top anyway
    val rerankFull = Similarity.pqRerankTopK(corpus, queries,
        m = 2, numCodes = 4, k = 3, shortlist = 28)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    assert(rerankFull === exact, s"full-shortlist rerank must equal exact")
    // a modest shortlist already dominates raw-ADC recall
    val rerank8 = Similarity.pqRerankTopK(corpus, queries,
        m = 2, numCodes = 4, k = 3, shortlist = 8)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    val rerankRecall = (rerank8 intersect exact).size.toDouble / exact.size
    assert(rerankRecall >= recall,
      s"rerank recall $rerankRecall < ADC recall $recall")
  }

  test("ivfPqTopK probes coarse cells and ranks by ADC over codes") {
    val spark2 = spark
    import spark2.implicits._
    // centroids = ids 0,1 (opposite corners); 10 near 0, 11 near 1.
    // codebooks seeded from the same two ids (numCodes=2).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (10L, Array(0.9f, 0.1f, 0.2f, 0.8f)),
      (11L, Array(0.1f, 0.8f, 0.9f, 0.1f))
    ).toDF("id", "vec")
    val out = Similarity.ivfPqTopK(vecs, vecs.where(col("id") === 0),
        numCentroids = 2, m = 2, numCodes = 2, k = 1, nprobe = 1)
      .as[(Long, Long, Int)].collect()
    // query 0 probes its own cell {0, 10}; 10 shares 0's codes -> top ADC
    assert(out === Array((0L, 10L, 1)))
    // nprobe=2 widens to both cells but ADC still ranks the code-sharing
    // neighbor first
    val wide = Similarity.ivfPqTopK(vecs, vecs.where(col("id") === 0),
        numCentroids = 2, m = 2, numCodes = 2, k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(wide.head._2 === 10L)
    assert(wide.length === 3)
    // one map-side pass: the corpus never shuffles before the top-k window
    val plan = Similarity.ivfPqTopK(vecs, vecs.where(col("id") === 0),
      numCentroids = 2, m = 2, numCodes = 2, k = 1, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length <= 1, plan)
  }

  test("ivfPqResidualTopK: residual codes reconstruct cell members exactly") {
    val spark2 = spark
    import spark2.implicits._
    // centroids = ids 0,1; codebook seeds = ids 0..3, so the residuals of
    // 2 and 3 (cell-0 members) are codebook entries. 10 duplicates 2's
    // vector: its residual matches seed 2's entry exactly, so querying 10
    // reconstructs 2 with ZERO ADC error -> rank 1 ahead of the centroid
    // itself (whose residual is the zero vector, reconstruction = c).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.2f, 0.8f)),
      (3L, Array(1.1f, -0.1f, -0.2f, 1.2f)),
      (10L, Array(0.9f, 0.1f, 0.2f, 0.8f)),
      (11L, Array(1.05f, -0.05f, -0.15f, 1.15f))
    ).toDF("id", "vec")
    val out = Similarity.ivfPqResidualTopK(vecs, vecs.where(col("id") === 10),
        numCentroids = 2, m = 2, numCodes = 4, k = 3, nprobe = 1)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(out.head._2 === 2L, out.mkString(","))
    // corpus never shuffles before the final top-k window
    val plan = Similarity.ivfPqResidualTopK(vecs, vecs.where(col("id") === 10),
      numCentroids = 2, m = 2, numCodes = 4, k = 1, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length <= 1, plan)
  }

  test("residual codes beat non-residual at equal code budget on offset clusters") {
    val spark2 = spark
    import spark2.implicits._
    // two clusters far apart, members offset from their centroid by one of
    // two patterns. Non-residual codes must spend entries covering BOTH
    // cluster positions; residual codes only cover the (shared) offset
    // patterns, so at numCodes=4 the residual form separates neighbors the
    // plain form conflates.
    def member(c: Array[Float], d: Array[Float]): Array[Float] =
      c.zip(d).map { case (a, b) => a + b }
    val cA = Array(10f, 0f, 0f, 10f); val cB = Array(0f, 10f, 10f, 0f)
    val d1 = Array(0.3f, -0.3f, 0.1f, -0.1f); val d2 = Array(-0.3f, 0.3f, -0.1f, 0.1f)
    val vecs = Seq(
      (0L, cA), (1L, cB), (2L, member(cA, d1)), (3L, member(cA, d2)),
      (10L, member(cA, d1)), (11L, member(cA, d2)),
      (12L, member(cB, d1)), (13L, member(cB, d2))
    ).toDF("id", "vec")
    val res = Similarity.ivfPqResidualTopK(vecs, vecs.where(col("id") === 10),
        numCentroids = 2, m = 2, numCodes = 4, k = 1, nprobe = 1)
      .as[(Long, Long, Int)].collect()
    // 10 == member(cA, d1) == id 2 exactly; residual ADC finds it
    assert(res.head._2 === 2L, res.mkString(","))
  }

  test("recallAtK counts exact-set hits per query in basis points") {
    val spark2 = spark
    import spark2.implicits._
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3)).toDF("q_id", "n_id", "rnk")
    val approx = Seq((1L, 10L, 1), (1L, 12L, 2), (1L, 99L, 3),
      (2L, 50L, 1), (2L, 51L, 2), (2L, 52L, 3)).toDF("q_id", "n_id", "rnk")
    val out = Similarity.recallAtK(approx, exact, 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // query 1: 2/3 hits -> 6666 bp; query 2: 0/3 -> 0 bp (still reported)
    assert(out.toSeq === Seq((1L, 2L, 6666L), (2L, 0L, 0L)))
  }

  test("quantizeInt8: codes, clipping, and exact error bounds") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq((1L, Array(0.5f, -1.0f, 0.1f))).toDF("id", "vec")
    val out = Similarity.quantizeInt8(vecs, scale = 256)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    val (_, q0, q1, q2, nClipped, sumQ, maxErr) = out(0)
    assert(q0 === 127L) // 0.5*256+0.5 = 128.5 -> 128, clipped to 127
    assert(q1 === -128L) // -256 clipped to -128
    assert(q2 === 26L) // 0.1f*256 = 25.6000004 -> floor(26.1) = 26
    assert(nClipped === 2L)
    assert(sumQ === 127L - 128L + 26L)
    assert(maxErr === 0.5) // the -1.0 element reconstructs to -0.5
  }

  test("mrlRecallAtK: prefix truncation loses the tail-heavy neighbor") {
    val spark2 = spark
    import spark2.implicits._
    // full cosine vs q=(1,0,0): id 1 = 0.994 (winner), id 2 = 0.894 —
    // but the d=2 prefix of id 2 is exactly (1,0) -> trunc cos 1.0, so
    // the truncated index returns id 2 and recall@1 drops to zero
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.5f))
    ).toDF("id", "vec")
    val q = vecs.where(col("id") === 0)
    val lossy = Similarity.mrlRecallAtK(q, vecs, d = 2, k = 1)
      .as[(Long, Long, Long)].collect()
    assert(lossy === Array((0L, 0L, 0L)))
    // at d = full dimension the slice is the identity: recall 10000 bp
    val full = Similarity.mrlRecallAtK(q, vecs, d = 3, k = 1)
      .as[(Long, Long, Long)].collect()
    assert(full === Array((0L, 1L, 10000L)))
  }

  test("ivfCellStats: counts, integer shares, and tie to the smaller cid") {
    val spark2 = spark
    import spark2.implicits._
    // centroids = ids 0,1; id 12 is exactly equidistant (cos 0.707 to
    // both) -> the strictly-greater fold keeps the first = smaller cid
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (10L, Array(0.99f, 0.01f)), (11L, Array(0.01f, 0.99f)),
      (12L, Array(0.7f, 0.7f))
    ).toDF("id", "vec")
    val out = Similarity.ivfCellStats(vecs, numCentroids = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array((0L, 3L, 6000L), (1L, 2L, 4000L)))
    // assignment is map-side: the only hash Exchange is the K-key count
    val plan = Similarity.ivfCellStats(vecs, numCentroids = 2)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).length
    assert(shuffles <= 1, plan)
  }
}

class ComponentsSpec extends SparkSpec {

  test("representatives elects the best-quality member per cluster") {
    val spark2 = spark
    import spark2.implicits._
    // cluster {1,2,3} (canonical 1), singleton {9}; 2 has the top score;
    // 5 and 7 tie -> smaller id 5 wins in cluster {5,7} (canonical 5)
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L), (5L, 5L), (7L, 5L))
      .toDF("doc_id", "canonical_id")
    val quality = Seq((1L, 10L), (2L, 50L), (3L, 30L), (9L, 1L), (5L, 4L), (7L, 4L))
      .toDF("doc_id", "score")
    val out = Components.representatives(clusters, quality)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 1L, 2L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 2L, 0L),
      (5L, 5L, 5L, 1L), (7L, 5L, 5L, 0L), (9L, 9L, 9L, 1L)))
  }

  private def cc(vertices: Seq[Long], edges: Seq[(Long, Long)], maxIter: Int = 20,
      driverMax: Long = Components.DriverFinishMaxEdges) = {
    val spark2 = spark
    import spark2.implicits._
    Components.connectedComponents(
        vertices.toDF("id"), edges.toDF("id_a", "id_b"), maxIter = maxIter,
        driverFinishMaxEdges = driverMax)
      .as[(Long, Long)].collect().sortBy(_._1)
  }

  test("pairs collapse transitively; isolated vertices keep their own id") {
    // A~B, B~C (A~C never listed) + isolated D — on BOTH engines: the
    // driver union-find (default at this size) and the distributed
    // rounds (driverMax 0 forces them)
    for (dm <- Seq(Components.DriverFinishMaxEdges, 0L)) {
      val out = cc(Seq(1L, 2L, 3L, 4L), Seq((2L, 1L), (2L, 3L)), driverMax = dm)
      assert(out === Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)), s"driverMax=$dm")
    }
  }

  test("two components stay separate") {
    for (dm <- Seq(Components.DriverFinishMaxEdges, 0L)) {
      val out = cc(Seq(1L, 2L, 10L, 11L, 12L),
        Seq((1L, 2L), (10L, 11L), (11L, 12L)), driverMax = dm)
      assert(out === Array((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (12L, 10L)),
        s"driverMax=$dm")
    }
  }

  test("a path graph converges across multiple rounds") {
    // diameter 6: labels need several propagation rounds to reach the
    // end — driverMax 0 pins the LOOP (the default would short-circuit
    // a fixture this small into the union-find)
    val path = (0L until 6L).map(i => (i, i + 1))
    val out = cc(0L to 6L, path, driverMax = 0L)
    assert(out.forall(_._2 === 0L))
    assert(out === cc(0L to 6L, path), "driver finish must match the rounds")
  }

  test("no edges: every vertex is its own component") {
    for (dm <- Seq(Components.DriverFinishMaxEdges, 0L)) {
      val out = cc(Seq(5L, 6L), Seq.empty, driverMax = dm)
      assert(out === Array((5L, 5L), (6L, 6L)), s"driverMax=$dm")
    }
  }

  test("driver finish and distributed rounds agree on a mixed clique/chain/isolate graph") {
    // the parity fixture both engines must label identically: a clique,
    // a chain deep enough to need propagation, reversed/duplicate edges,
    // and isolates
    val vertices = 0L to 30L
    val edges = Seq((3L, 1L), (1L, 2L), (2L, 3L)) ++ // clique, shuffled
      (10L until 20L).map(i => (i + 1, i)) ++ // reversed chain
      Seq((25L, 26L), (25L, 26L)) // duplicate edge
    val fast = cc(vertices, edges)
    val loop = cc(vertices, edges, driverMax = 0L)
    assert(fast === loop)
    val star = ccStar(vertices, edges)
    val starLoop = ccStar(vertices, edges, driverMax = 0L)
    assert(star === fast)
    assert(starLoop === fast)
  }

  test("superseded round checkpoints are released, not left for the ContextCleaner") {
    val spark2 = spark
    import spark2.implicits._
    val sc = spark.sparkContext
    // diameter 6 -> several propagation rounds, each localCheckpoint'ed
    // (driverMax 0 — the loop is what this test audits)
    val before = sc.getPersistentRDDs.keySet
    val out = cc(0L to 6L, (0L until 6L).map(i => (i, i + 1)), driverMax = 0L)
    assert(out.forall(_._2 === 0L))
    val leaked = sc.getPersistentRDDs.keySet -- before
    // only the FINAL round's checkpoint may remain (the returned frame
    // references its blocks); every superseded round and the edge cache
    // were released inside the call
    assert(leaked.size <= 1, s"leaked persistent RDDs: $leaked")
  }

  test("driver finish leaves no persistent blocks at all") {
    val spark2 = spark
    import spark2.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = cc(0L to 6L, (0L until 6L).map(i => (i, i + 1)))
    assert(out.forall(_._2 === 0L))
    val outStar = ccStar(0L to 6L, (0L until 6L).map(i => (i, i + 1)))
    assert(outStar.forall(_._2 === 0L))
    // the fast path unpersists its edge cache / releases its init
    // checkpoint before returning; the label table is a local relation
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("distributed CC rounds that throw free every cache and checkpoint made") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    // An edge UDF runs only while round 1 reads the edges into the
    // symmetrized cache (hashToMin) or the init checkpoint (star); no
    // later round reads them again, so a UDF cannot fail a later round.
    // A test-only optimizer rule fails one instead: it throws on the
    // first plan that reads a checkpoint the call made (hashToMin's
    // round 2, the star's first loop round), after the edge cache and a
    // round checkpoint exist.
    val floor = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
    object FailLaterRound extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (plan.collectLeaves().exists {
          case l: LogicalRDD => l.rdd.id > floor.get
          case _ => false
        }) throw new IllegalStateException("round unreadable")
        plan
      }
    }
    val edges = (0L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val vertices = (0L to 6L).toDF("id")
    spark.experimental.extraOptimizations = Seq(FailLaterRound)
    try {
      val leaks = Seq[(String, () => Any)](
          "hashToMin" -> (() => Components.connectedComponents(
            vertices, edges, driverFinishMaxEdges = 0L)),
          "star" -> (() => Components.connectedComponentsStar(
            vertices, edges, driverFinishMaxEdges = 0L))).flatMap { case (name, run) =>
        val before = materializations
        floor.set(spark.sparkContext.emptyRDD[Int].id)
        val e = intercept[Exception](run())
        floor.set(Int.MaxValue)
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.toString.contains("round unreadable")), s"$name: $e")
        val after = materializations
        if (after == before) None else Some((name, before, after))
      }
      assert(leaks.isEmpty)
    } finally spark.experimental.extraOptimizations = Nil
  }

  private def ccStar(vertices: Seq[Long], edges: Seq[(Long, Long)], maxIter: Int = 25,
      driverMax: Long = Components.DriverFinishMaxEdges) = {
    val spark2 = spark
    import spark2.implicits._
    Components.connectedComponentsStar(
        vertices.toDF("id"), edges.toDF("id_a", "id_b"), maxIter = maxIter,
        driverFinishMaxEdges = driverMax)
      .as[(Long, Long)].collect().sortBy(_._1)
  }

  test("star contraction matches hash-to-min on transitive pairs + isolates") {
    for (dm <- Seq(Components.DriverFinishMaxEdges, 0L)) {
      val out = ccStar(Seq(1L, 2L, 3L, 4L), Seq((2L, 1L), (2L, 3L)), driverMax = dm)
      assert(out === Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)), s"driverMax=$dm")
    }
  }

  test("star contraction converges on a deep path within O(log² n) rounds") {
    // diameter 40: hash-to-min would need 40 rounds; star contraction is
    // diameter-independent — maxIter 10 suffices where hash-to-min's
    // per-diameter bound would be exceeded (driverMax 0 pins the rounds)
    val path = (0L until 40L).map(i => (i, i + 1))
    val out = ccStar(0L to 40L, path, maxIter = 10, driverMax = 0L)
    assert(out.forall(_._2 === 0L))
  }

  test("star contraction: duplicate and reversed edges, multiple components") {
    for (dm <- Seq(Components.DriverFinishMaxEdges, 0L)) {
      val out = ccStar(Seq(1L, 2L, 10L, 11L, 12L),
        Seq((1L, 2L), (2L, 1L), (10L, 11L), (12L, 11L), (11L, 12L)), driverMax = dm)
      assert(out === Array((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (12L, 10L)),
        s"driverMax=$dm")
    }
  }

  test("star contraction: no edges is a no-op") {
    for (dm <- Seq(Components.DriverFinishMaxEdges, 0L))
      assert(ccStar(Seq(5L, 6L), Seq.empty, driverMax = dm) ===
        Array((5L, 5L), (6L, 6L)), s"driverMax=$dm")
  }

  test("dedupClusters yields the keep-list semantics") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val clusters = Components.dedupClusters(docs, pairs)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(clusters === Array((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L)))
    // keep-list = docs that are their own canonical
    val keep = clusters.filter { case (id, canon) => id == canon }.map(_._1)
    assert(keep === Array(10L, 20L))
  }

  test("pageRank: three hand-computed integer rounds on a cycle graph") {
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst").repartition(2)
    val out = Components.pageRank(edges, iterations = 3)
      .as[(Long, Long)].collect().sortBy(_._1)
    // round 1: contribs 2<-500000, 3<-1500000, 1<-1000000
    //   -> r1 = (1000000, 575000, 1425000)
    // round 2: r2 = (1361250, 575000, 1063750)
    // round 3: r3 = (1054187, 728531, 1217281)   (floor at every div)
    assert(out === Array((1L, 1054187L), (2L, 728531L), (3L, 1217281L)))
  }

  test("pageRank: dangling sinks absorb; dup edges and self-loops drop") {
    val spark2 = spark
    import spark2.implicits._
    // 5 -> 6 (listed twice) + a self-loop; 6 has no out-edges
    val edges = Seq((5L, 6L), (5L, 6L), (6L, 6L)).toDF("src", "dst")
      .repartition(3)
    val out = Components.pageRank(edges, iterations = 2)
      .as[(Long, Long)].collect().sortBy(_._1)
    // 5 gets only the base each round; 6 gets base + 0.85 * r(5)
    // r1 = (150000, 1000000); r2 = (150000, 150000 + 127500)
    assert(out === Array((5L, 150000L), (6L, 277500L)))
    // partition-layout independence of the whole loop
    val re = Components.pageRank(edges.repartition(7), iterations = 2)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(re === out)
  }

  test("pageRank danglingRedistribute: mass conserved on a sink-heavy graph") {
    val spark2 = spark
    import spark2.implicits._
    // 1 -> 2 -> 3 with 3 a pure sink: the absorb default bleeds 0.85 of
    // the sink's rank every round; the canonical variant folds the
    // dangling total back in (D div |V| each) and total mass stays
    // ~|V|*1e6 within floor error
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").repartition(2)
    val cons = Components.pageRank(edges, iterations = 3,
      danglingRedistribute = true).as[(Long, Long)].collect()
    val total = cons.map(_._2).sum
    // per round the floor losses are <= 1 per share, per node, per edge:
    // 3 rounds x (1 + 3 + 2) well under 20 micro-units on 3e6
    assert(math.abs(total - 3000000L) <= 20L,
      s"mass not conserved: $total vs 3000000")
    // hand-checked round 1: share = 1e6/3; r1 = (433333, 1283333, 1283333)
    val r1 = Components.pageRank(edges, iterations = 1,
      danglingRedistribute = true).as[(Long, Long)].collect().sortBy(_._1)
    assert(r1 === Array((1L, 433333L), (2L, 1283333L), (3L, 1283333L)))
    // the absorb default on the same fixture LOSES mass (the contrast
    // that makes the flag worth shipping)
    val absorbed = Components.pageRank(edges, iterations = 3)
      .as[(Long, Long)].collect().map(_._2).sum
    assert(absorbed < 2500000L, s"absorb variant should bleed: $absorbed")
    // no dangling nodes -> the two contracts agree exactly
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val a = Components.pageRank(cycle, iterations = 3)
      .as[(Long, Long)].collect().sortBy(_._1)
    val b = Components.pageRank(cycle, iterations = 3,
      danglingRedistribute = true).as[(Long, Long)].collect().sortBy(_._1)
    assert(a === b)
  }
}

class PackingSpec extends SparkSpec {

  test("distributed prefix sum equals the window formulation, any partition count") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic pseudo-random sizes over 3 strata
    val df = (0L until 500L).map { i =>
      (i, Seq("en", "de", "fr")((i % 3).toInt), (i * 37 % 91) + 1)
    }.toDF("doc_id", "lang", "n_tok").repartition(11) // scrambled input layout
    val expected = Packing.tokenShardsWindow(df, "doc_id", "lang", "n_tok", budget = 400)
      .select("id", "stratum", "n", "running", "shard")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    for (p <- Seq(1, 4, 32)) {
      val got = Packing.tokenShards(df, "doc_id", "lang", "n_tok", budget = 400, partitions = p)
        .select("id", "stratum", "n", "running", "shard")
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
      assert(got.toSeq === expected.toSeq, s"partitions=$p")
    }
  }

  test("shards respect the budget: every shard's tokens fit, except single oversized docs") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "en", 300L), (2L, "en", 300L), (3L, "en", 300L), (4L, "en", 900L))
      .toDF("doc_id", "lang", "n_tok")
    val out = Packing.tokenShards(df, "doc_id", "lang", "n_tok", budget = 500)
      .select("id", "shard").as[(Long, Long)].collect().sortBy(_._1)
    // running: 0, 300, 600, 900 -> shards 0, 0, 1, 1
    assert(out.toSeq === Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
  }

  test("packedSequences materializes the layout: boundary splits, full coverage") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "a", "t1 t2 t3 t4"),
      (2L, "a", (1 to 10).map("u" + _).mkString(" ")),
      (3L, "a", "v1 v2 v3"),
      (5L, "a", " "),                                  // zero-ish: one "" token? no — single empty token
      (4L, "b", (1 to 25).map("w" + _).mkString(" "))
    ).toDF("doc_id", "lang", "text")
    val out = Packing.packedSequences(docs, col("text"), "doc_id", "lang", seqLen = 10L)
      .as[(String, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    val a = out.filter(_._1 == "a")
    val b = out.filter(_._1 == "b")
    // NOTE doc 5's "text" of one space still tokenizes to [""] (split
    // semantics) -> it contributes one empty token to the stream
    assert(a.map(_._4).mkString(" ").split(" ", -1).filter(_.nonEmpty).toSeq ===
      ("t1 t2 t3 t4 " + (1 to 10).map("u" + _).mkString(" ") + " v1 v2 v3")
        .split(" ").toSeq)
    // every sequence is full except the stratum's last
    assert(a.dropRight(1).forall(_._3 === 10L), a.toSeq)
    assert(b.map(_._3).toSeq === Seq(10L, 10L, 5L))
    assert(b.head._4 === (1 to 10).map("w" + _).mkString(" "))
    // boundary split: doc 2's tokens straddle sequences 0 and 1
    assert(a(0)._4.endsWith("u6") && a(1)._4.startsWith("u7"), a.toSeq)
  }

  test("sequenceLayout: boundary splits, offsets, and zero-token docs") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "a", 4L), (2L, "a", 10L), (3L, "a", 3L), (5L, "a", 0L),
      (4L, "b", 25L)
    ).toDF("doc_id", "lang", "n_tok").repartition(5)
    val out = Packing.sequenceLayout(df, "doc_id", "lang", "n_tok", seqLen = 10)
      .select("id", "n", "running", "seq_first", "seq_last", "off_start", "n_seqs")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 4L, 0L, 0L, 0L, 0L, 1L),   // fits inside sequence 0
      (2L, 10L, 4L, 0L, 1L, 4L, 2L),  // tokens 4..13 straddle the boundary
      (3L, 3L, 14L, 1L, 1L, 4L, 1L),
      (4L, 25L, 0L, 0L, 2L, 0L, 3L),  // own stratum: spans three sequences
      (5L, 0L, 17L, 1L, 1L, 7L, 0L))) // zero tokens: position only, no seq
  }
}

class WeightedSampleSpec extends SparkSpec {

  test("weightedSample is deterministic and favors heavy items") {
    val spark2 = spark
    import spark2.implicits._
    // 200 light items (w=1) + 200 heavy (w=50): a 100-sample should be
    // dominated by heavy items under A-Res inclusion odds
    val df = (0L until 400L).map(i => (i, if (i < 200) 1L else 50L))
      .toDF("doc_id", "w")
    def run(parts: Int) = Sampling.weightedSample(
        df.repartition(parts), "doc_id", col("w"), k = 100, seed = 7L)
      .select("doc_id").as[Long].collect().toSet
    val a = run(2)
    assert(a.size === 100)
    val heavy = a.count(_ >= 200L)
    assert(heavy > 80, s"heavy items in sample: $heavy") // odds 50:1
    // layout-independent: identical sample under a different partitioning
    assert(run(13) === a)
    // different seed -> different sample
    val b = Sampling.weightedSample(df, "doc_id", col("w"), k = 100, seed = 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(b !== a)
  }

  test("weightedSampleStratified takes exactly k per stratum with the same keys") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 300L).map(i => (i, Seq("x", "y", "z")((i % 3).toInt), i % 7 + 1))
      .toDF("doc_id", "lang", "w")
    val out = Sampling.weightedSampleStratified(df, "doc_id", "lang", col("w"),
        k = 10, seed = 7L)
      .as[(Long, String, Long, Long)].collect()
    assert(out.groupBy(_._2).view.mapValues(_.length).toMap ===
      Map("x" -> 10, "y" -> 10, "z" -> 10))
    // per-stratum picks are that stratum's k smallest GLOBAL keys: the
    // stratified sampler agrees with the flat sampler restricted to x
    val flatX = Sampling.weightedSample(df.where(col("lang") === "x"),
        "doc_id", col("w"), k = 10, seed = 7L)
      .select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._2 == "x").map(_._1).toSet === flatX)
  }

  test("null id/weight rows are excluded by EVERY weighted-sample path") {
    val spark2 = spark
    import spark2.implicits._
    // one null weight + one null id among valid rows: without the shared
    // withAresKey filter the window path would sample the null-skey row
    // (NULLS FIRST) and the aggregate path would skip it
    val df = Seq(
      (Some(1L), "x", Some(5L)), (Some(2L), "x", Some(5L)),
      (Some(3L), "x", None), (None, "x", Some(5L)), (Some(4L), "x", Some(5L)))
      .toDF("doc_id", "lang", "w")
    val win = Sampling.weightedSampleStratified(df, "doc_id", "lang", col("w"),
        k = 10, seed = 7L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val agg = Sampling.weightedSampleStratifiedAgg(df, "doc_id", "lang", col("w"),
        k = 10, seed = 7L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(win.map(_._1).toSeq === Seq(1L, 2L, 4L))
    assert(agg === win)
    val flat = Sampling.weightedSample(df, "doc_id", col("w"), k = 10, seed = 7L)
      .select("doc_id").as[Long].collect().sorted
    assert(flat.toSeq === Seq(1L, 2L, 4L))
  }

  test("weightedSampleStratifiedAgg: row-identical to the window path, no sort in plan") {
    val spark2 = spark
    import spark2.implicits._
    // weights repeat, so skey COLLISIONS happen and the id tie-break is
    // actually exercised across the two paths
    val df = (0L until 300L).map(i => (i, Seq("x", "y", "z")((i % 3).toInt), i % 7 + 1))
      .toDF("doc_id", "lang", "w")
    val win = Sampling.weightedSampleStratified(df, "doc_id", "lang", col("w"),
        k = 10, seed = 7L)
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._2, r._4, r._1))
    val agg = Sampling.weightedSampleStratifiedAgg(df.repartition(5), "doc_id", "lang",
        col("w"), k = 10, seed = 7L)
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._2, r._4, r._1))
    assert(agg === win)
    // physical shape: ObjectHashAggregate (partial + final), zero Sort
    val plan = Sampling.weightedSampleStratifiedAgg(df.repartition(5), "doc_id",
        "lang", col("w"), k = 10, seed = 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Sort "), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("graft_topk_by_key: exact k smallest under merge, SQL-callable, typed errors") {
    val spark2 = spark
    import spark2.implicits._
    // many partitions force partial heaps + merges; duplicate keys check
    // the (key, id) tie-break inside the heap
    val df = (0L until 500L).map(i => (i % 50, i, i * 2)).toDF("k", "id", "p")
      .repartition(7)
    df.createOrReplaceTempView("tkk_in")
    val out = spark.sql(
      "SELECT explode(graft_topk_by_key(k, id, p, 5)) AS e FROM tkk_in")
      .select("e.skey", "e.id", "e.weight")
      .as[(Long, Long, Long)].collect().toSeq
    val exp = (0L until 500L).map(i => (i % 50, i, i * 2))
      .sortBy(r => (r._1, r._2)).take(5)
    assert(out === exp)
    // mistyped call fails analysis with the aggregate's own message
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk_by_key(CAST(k AS STRING), id, p, 5) FROM tkk_in")
        .collect()
    }
    assert(err.getMessage.contains("graft_topk_by_key"), err.getMessage)
  }
}

class ContaminationSpec extends SparkSpec {

  test("tokenNgrams: sliding n-grams, empty under n tokens") {
    val spark2 = spark
    import spark2.implicits._
    val out = Seq("a b c d", "a b").toDF("text")
      .select(Contamination.tokenNgrams(col("text"), 3).as("ng"))
      .as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq.empty)
  }

  test("contaminationHits finds overlapping docs, decontaminate drops them") {
    val spark2 = spark
    import spark2.implicits._
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "prefix the quick brown fox jumps over the lazy dog suffix"), // contains a bench 8-gram
      (11L, "completely unrelated text with enough tokens to form eight grams easily"),
      (12L, "the quick brown fox jumps over the lazy cat entirely")) // 8-gram "the...lazy" shared
      .toDF("doc_id", "text")
    val hits = Contamination.contaminationHits(
        corpus, col("text"), "doc_id", bench, col("text"), n = 8)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(hits.map(_._1).toSeq === Seq(10L, 12L))
    assert(hits.forall(_._2 >= 1))
    val clean = Contamination.decontaminate(
        corpus, col("text"), "doc_id", bench, col("text"), n = 8)
      .select(col("doc_id")).as[Long].collect()
    assert(clean.toSeq === Seq(11L))
  }

  test("benchmark n-gram set is broadcast; corpus n-grams never shuffle") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val plan = Contamination.contaminationHits(
      df, col("text"), "doc_id", df, col("text"), n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    // corpus n-grams reach the broadcast join straight from their Generate
    // (no Exchange on the stream side before the join); the hash Exchanges
    // in the plan are the tiny bench-side distinct and the two-phase
    // count_distinct over the (rare) matching rows only
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length <= 3, plan)
    val joinToGenerate = plan.substring(
      plan.indexOf("BroadcastHashJoin"), plan.indexOf("Generate explode"))
    assert(!joinToGenerate.contains("Exchange"), plan)
  }

  test("bloom filter: no false negatives; fpr is small; test is a Column op") {
    val spark2 = spark
    import spark2.implicits._
    val hashes = Array.tabulate(1000)(i => (i.toLong * 2654435761L) & ((1L << 60) - 1))
    val mBits = 1 << 15 // 32 bits/element for 1000 elements
    val words = Contamination.bloomBuild(hashes, mBits)
    val probes = (hashes.map((_, true)) ++
      Array.tabulate(10000)(i => (((i.toLong + 7) * 40503954739L + 13) & ((1L << 60) - 1), false)))
      .toSeq.toDF("h", "member")
    val hit = probes
      .select(col("member"), Contamination.bloomMightContain(col("h"), words, mBits).as("maybe"))
      .as[(Boolean, Boolean)].collect()
    assert(hit.filter(_._1).forall(_._2)) // every inserted hash tests positive
    val fp = hit.count(r => !r._1 && r._2).toDouble / hit.count(!_._1)
    assert(fp < 0.05, s"false positive rate $fp") // ~0.4% expected at 32 bits/elem
  }

  test("decontaminateBloom equals exact decontamination") {
    val spark2 = spark
    import spark2.implicits._
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "prefix the quick brown fox jumps over the lazy dog suffix"),
      (11L, "completely unrelated text with enough tokens to form eight grams easily"),
      (12L, "the quick brown fox jumps over the lazy cat entirely"),
      (13L, "short")
    ).toDF("doc_id", "text")
    val exact = Contamination.decontaminate(
        corpus, col("text"), "doc_id", bench, col("text"), n = 8)
      .select(col("doc_id")).as[Long].collect().sorted
    val bloom = Contamination.decontaminateBloom(
        corpus, col("text"), "doc_id", bench, col("text"), n = 8)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(bloom === exact)
    assert(exact.toSeq === Seq(11L, 13L))
  }

  test("bloomBuildDistributed builds the identical bit array without a hash collect") {
    val spark2 = spark
    import spark2.implicits._
    val hashes = Array.tabulate(1000)(i => (i.toLong * 2654435761L) & ((1L << 60) - 1))
    val mBits = 1 << 15
    val local = Contamination.bloomBuild(hashes, mBits)
    val dist = Contamination.bloomBuildDistributed(
      hashes.toSeq.toDF("ngh").repartition(8), mBits)
    assert(dist === local)
  }

  test("bloom build/probe agree on negative hashes (no false negatives)") {
    val spark2 = spark
    import spark2.implicits._
    // ngramHashes is 60-bit non-negative, but the bloomBuild* contract only
    // says LONG: negative inputs must not hit the arithmetic-vs-logical
    // shiftright mismatch (sign bit is masked off before either shift)
    val hashes = Array.tabulate(200)(i => -1L - i.toLong * 987654321L)
    val mBits = 1 << 13
    val local = Contamination.bloomBuild(hashes, mBits)
    val dist = Contamination.bloomBuildDistributed(
      hashes.toSeq.toDF("ngh").repartition(4), mBits)
    assert(dist === local)
    val allIn = hashes.toSeq.toDF("ngh")
      .select(Contamination.bloomMightContain(col("ngh"), local, mBits).as("maybe"))
      .as[Boolean].collect()
    assert(allIn.forall(identity), "negative inserted hash tested negative")
  }

  test("decontaminateBloomJoin equals exact decontamination; confirm join is a shuffle") {
    val spark2 = spark
    import spark2.implicits._
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "prefix the quick brown fox jumps over the lazy dog suffix"),
      (11L, "completely unrelated text with enough tokens to form eight grams easily"),
      (12L, "the quick brown fox jumps over the lazy cat entirely"),
      (13L, "short")
    ).toDF("doc_id", "text")
    val joined = Contamination.decontaminateBloomJoin(
      corpus, col("text"), "doc_id", bench, col("text"), n = 8)
    assert(joined.select(col("doc_id")).as[Long].collect().sorted.toSeq === Seq(11L, 13L))
    // the scale contract: the confirm side is never FORCED to broadcast —
    // no broadcast hint anywhere in the plan (unlike q68's exact path,
    // which hints both its joins), so a benchmark beyond the broadcast
    // ceiling plans as a shuffle join from its real stats, while a small
    // one may still legitimately broadcast
    val analyzed = joined.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), analyzed)
    assert(analyzed.contains("LeftSemi"), analyzed)
  }

  test("bloom prefilter sits between the Generate and the confirm join, codegen'd") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val plan = Contamination.decontaminateBloom(
        df, col("text"), "doc_id", df, col("text"), n = 8)
      .queryExecution.executedPlan.toString
    // the corpus n-gram stream reaches the CONFIRM join (the inner join,
    // rendered after the outer anti join) straight from its Generate
    // through the bloom Filter — no Exchange on the stream side
    val joinIdx = plan.indexOf("BroadcastHashJoin",
      plan.indexOf("BroadcastHashJoin") + 1)
    val genIdx = plan.indexOf("Generate explode")
    assert(joinIdx >= 0 && genIdx > joinIdx, plan)
    val streamSide = plan.substring(joinIdx, genIdx)
    assert(!streamSide.contains("Exchange"), plan)
    // the bit test is a plain Filter (element_at + bit math, no UDF)
    assert(streamSide.contains("Filter") && plan.contains("element_at"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("topNgrams ranks repeated n-grams, thresholds, and caps at k") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq("a b c", "a b d", "a b e", "b c x", "b c y").toDF("text")
    // bigrams: "a b" x3, "b c" x3 (once in doc 1, twice as prefix of docs
    // 4-5), others once
    val out = Contamination.topNgrams(docs, col("text"), n = 2, minCount = 2, k = 5)
      .as[(Long, Long)].collect()
    assert(out.length === 2)
    assert(out.forall(_._2 === 3L))
    assert(out.map(_._1).sorted === out.map(_._1)) // ties ordered by hash asc
  }

  test("semantic decontamination: cosine-threshold hits match brute force, corpus never shuffles") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),   // exact benchmark copy: cos 1
      (2L, Seq(0f, 1f, 0f, 0f)),   // orthogonal to both: cos 0
      (3L, Seq(1f, 1f, 0f, 0f)),   // cos 1/sqrt(2) ~ 0.707 to b1
      (4L, Seq(0f, 0f, 0f, 0f)))   // zero vector: cosineSafe pins to -1
      .toDF("vec_id", "embedding").repartition(2)
    val bench = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 0f, 1f, 0f)).toDF("embedding")

    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().sorted.toSeq
    val hits = Contamination.semanticContaminationHits(
      corpus, col("embedding"), bench, col("embedding"), minCos = 0.75)
    assert(ids(hits) === Seq(1L))
    // lowering the bar below cos(45deg) pulls in the paraphrase-like 3
    assert(ids(Contamination.semanticContaminationHits(
      corpus, col("embedding"), bench, col("embedding"), minCos = 0.7)) ===
      Seq(1L, 3L))
    // brute-force reference: max cosine per corpus row, any threshold
    val brute = corpus.crossJoin(bench.select(col("embedding").as("b")))
      .groupBy(col("vec_id"))
      .agg(max(graft.ops.ext.Similarity.cosineSafe(col("embedding"), col("b"))).as("mx"))
      .where(col("mx") >= 0.75)
    assert(ids(brute.select(col("vec_id"))) === ids(hits))
    // plan: benchmark broadcast, semi short-circuit, ZERO corpus Exchange
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"), plan)

    // the SRP-prefiltered form: an EXACT embedding copy always shares
    // its own bucket (recall 1 on verbatim leakage), results are a
    // subset of the exact form's, and the join becomes a broadcast HASH
    // join on the bucket — still zero corpus Exchanges
    val srp = Contamination.semanticContaminationHitsSrp(
      corpus, col("embedding"), bench, col("embedding"), minCos = 0.75)
    assert(ids(srp) === Seq(1L)) // the verbatim copy
    assert(ids(srp).toSet.subsetOf(ids(hits).toSet))
    assert(srp.columns.toSeq === corpus.columns.toSeq) // working cols dropped
    val srpPlan = srp.queryExecution.executedPlan.toString
    assert(srpPlan.contains("BroadcastHashJoin") && srpPlan.contains("LeftSemi"), srpPlan)
    assert(!srpPlan.contains("Exchange hashpartitioning"), srpPlan)
  }

  test("SRP contamination multi-probe: one-bit straddlers recovered, corpus still never shuffles") {
    val spark2 = spark
    import spark2.implicits._
    // Scala replica of Similarity.planeSign (md5 of "p<plane>:<dim>",
    // first 4 hex chars, parity) so the fixture can be CONSTRUCTED at a
    // known Hamming distance instead of hoping one straddles
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sign(p: Int, i: Int): Double =
      if (java.lang.Long.parseLong(md5hex(s"p$p:$i").substring(0, 4), 16) % 2 == 0) 1.0 else -1.0
    val planes = 4; val dims = 64
    // dims (a, c) such that plane 0's projection of e_a + e_c is exactly 0
    // (bucket bit 1 by the >=0 convention) while planes 1..3 project to
    // ±2 — so a small bump on c flips plane 0's bit and ONLY plane 0's
    val (da, dc) = (for {
      a <- 0 until dims; c <- 0 until dims if a != c
      if sign(0, a) == 1.0 && sign(0, c) == -1.0
      if (1 until planes).forall(p => sign(p, a) == sign(p, c))
    } yield (a, c)).head
    def vec(bump: Float): Seq[Float] = {
      val v = Array.fill(dims)(0.0f); v(da) = 1.0f; v(dc) = 1.0f + bump; v.toSeq
    }
    val b = vec(0.0f)
    // cos(b, perturbed) = 2.05/(sqrt(2)*sqrt(1+1.05^2)) ~ 0.9997 >= 0.999,
    // but plane 0's projection crosses zero: Hamming distance exactly 1
    val corpus = Seq(
      (1L, b), // verbatim benchmark copy
      (2L, vec(0.05f)), // one-bit straddler
      (3L, { val v = Array.fill(dims)(0.0f); v((da + 7) % dims) = 1.0f; v.toSeq })) // clean
      .toDF("vec_id", "embedding").repartition(2)
    val bench = Seq(Tuple1(b)).toDF("embedding")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().sorted.toSeq
    val exact = Contamination.semanticContaminationHits(
      corpus, col("embedding"), bench, col("embedding"), minCos = 0.999)
    assert(ids(exact) === Seq(1L, 2L))
    val single = Contamination.semanticContaminationHitsSrp(
      corpus, col("embedding"), bench, col("embedding"), minCos = 0.999,
      planes = planes, multiProbe = false)
    assert(ids(single) === Seq(1L)) // the straddler is single-probe's documented miss
    val multi = Contamination.semanticContaminationHitsSrp(
      corpus, col("embedding"), bench, col("embedding"), minCos = 0.999,
      planes = planes)
    assert(ids(multi) === Seq(1L, 2L)) // recovered; recall >= single-probe
    assert(ids(multi).toSet.subsetOf(ids(exact).toSet))
    // corpus side still plans ZERO Exchanges: the probe explosion lives
    // on the broadcast benchmark side
    val plan = multi.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)

    // measured recall on the 10-family fixture (bench = family bases,
    // corpus = 50 perturbed members + 50 singletons): multi >= single,
    // both sound vs exact
    def family(f: Int, k: Int): Seq[Float] = {
      val v = Array.fill(dims)(0.0f); v(f) = 1.0f; v(f + 1 + k) += 0.01f; v.toSeq
    }
    val fams = for (f <- 0 until 10; k <- 0 until 5) yield ((f * 5 + k).toLong, family(f, k))
    val singles = for (i <- 0 until 50) yield {
      val v = Array.fill(dims)(0.0f); v(i % dims) = 1.0f; v((i * 7 + 3) % dims) = -1.0f
      (1000L + i, v.toSeq)
    }
    val corpus2 = (fams ++ singles).toDF("vec_id", "embedding").repartition(3)
    val bench2 = (0 until 10).map { f =>
      val v = Array.fill(dims)(0.0f); v(f) = 1.0f; Tuple1(v.toSeq)
    }.toDF("embedding")
    val exact2 = ids(Contamination.semanticContaminationHits(
      corpus2, col("embedding"), bench2, col("embedding"), minCos = 0.999)).toSet
    assert(exact2 === fams.map(_._1).toSet) // all members, no singletons
    val single2 = ids(Contamination.semanticContaminationHitsSrp(
      corpus2, col("embedding"), bench2, col("embedding"), minCos = 0.999,
      planes = planes, multiProbe = false)).toSet
    val multi2 = ids(Contamination.semanticContaminationHitsSrp(
      corpus2, col("embedding"), bench2, col("embedding"), minCos = 0.999,
      planes = planes)).toSet
    assert(single2.subsetOf(multi2) && multi2.subsetOf(exact2))
    info(f"family recall: single=${single2.size / 50.0}%.2f multi=${multi2.size / 50.0}%.2f")

    // reserved working names refuse loudly instead of silently
    // overwriting (the round-12 ADVICE bug)
    val clash = corpus.withColumn("_graft_srp_bkt", lit(1))
    val e = intercept[IllegalArgumentException] {
      Contamination.semanticContaminationHitsSrp(
        clash, col("embedding"), bench, col("embedding"), minCos = 0.999)
    }
    assert(e.getMessage.contains("_graft_srp_bkt"))
  }
}

class SamplingSpec extends SparkSpec {

  test("hash sampling is deterministic and partition-independent") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 1000L).toDF("id")
    val a = Sampling.sampleByHash(df, col("id"), 0.3).as[Long].collect().sorted
    val b = Sampling.sampleByHash(df.repartition(7), col("id"), 0.3)
      .as[Long].collect().sorted
    assert(a.toSeq === b.toSeq) // identity-keyed: layout cannot change the sample
    // rate is approximately honored (md5 uniformity; wide tolerance)
    assert(a.length > 200 && a.length < 400, a.length)
    // nested sampling property: a lower rate yields a subset
    val c = Sampling.sampleByHash(df, col("id"), 0.1).as[Long].collect().sorted
    assert(c.toSeq.forall(a.contains))
  }

  test("hashSplit labels are exhaustive, disjoint, and consistent with sampleByHash") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 1000L).toDF("id")
    val split = Sampling.hashSplit(df, col("id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .as[(Long, String)].collect()
    assert(split.length === 1000) // every row labeled exactly once
    val byLabel = split.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byLabel.keySet === Set("train", "val", "test"))
    assert(byLabel("train").size > 700 && byLabel("train").size < 900)
    // the train split IS the 0.8 hash sample: same identity-keyed fate
    val sampled = Sampling.sampleByHash(df, col("id"), 0.8).as[Long].collect().toSet
    assert(byLabel("train") === sampled)
  }

  test("stratified rates apply per stratum with a default") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 300L).map(i => (i, Seq("en", "de", "fr")((i % 3).toInt)))
      .toDF("id", "lang")
    val out = Sampling.stratifiedSample(df, col("id"), col("lang"),
        Map("en" -> 1.0, "de" -> 0.0), defaultRate = 0.5)
      .as[(Long, String)].collect()
    val byLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang("en") === 100) // rate 1.0 keeps every en row
    assert(!byLang.contains("de")) // rate 0.0 keeps none
    val fr = byLang.getOrElse("fr", 0)
    assert(fr > 25 && fr < 75, fr) // default 0.5 on 100 rows
  }

  test("fixed-k sampling: exact counts, stability under growth and layout") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 300L).map(i => (i, Seq("en", "de", "fr")((i % 3).toInt)))
      .toDF("id", "lang")
    val out = Sampling.stratifiedFixedK(df, col("id"), col("lang"), k = 10)
      .as[(Long, String, Long)].collect()
    val byLang = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byLang.keySet === Set("en", "de", "fr"))
    assert(byLang.values.forall(_.size === 10)) // EXACTLY k, no binomial jitter
    // small strata yield all their rows
    val tiny = Sampling.stratifiedFixedK(df.where(col("id") < 5),
        col("id"), col("lang"), k = 10)
      .as[(Long, String, Long)].collect()
    assert(tiny.length === 5)
    // partition layout cannot change the sample
    val relaid = Sampling.stratifiedFixedK(df.repartition(7), col("id"), col("lang"), k = 10)
      .as[(Long, String, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(relaid === out.map(r => (r._1, r._2)).toSet)
    // growth swaps members, never reshuffles: ranks of surviving members
    // only ever IMPROVE when rows are removed, so the k=5 cut of the
    // corpus is a subset of... (and the k=10 sample contains the k=5 one)
    val k5 = Sampling.stratifiedFixedK(df, col("id"), col("lang"), k = 5)
      .as[(Long, String, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(k5.subsetOf(out.map(r => (r._1, r._2)).toSet))
  }

  test("tokenBudgetMix takes hash-ordered rows within each source budget") {
    val spark2 = spark
    import spark2.implicits._
    // md5("1") < md5("2") < md5("3") (c4ca… < c81e…? no — c4c < c81 since
    // '4' < '8'; and both < ecc…), so source A's hash order is 1, 2, 3
    val df = Seq(
      (1L, "A", 4), (2L, "A", 4), (3L, "A", 4),
      (9L, "B", 100)
    ).toDF("id", "src", "ntok")
    val out = Sampling.tokenBudgetMix(df, col("id"), col("src"), col("ntok"),
        totalBudget = 20L, weights = Map("A" -> 0.5))
      .select(col("id"), col("mix_tokens")).as[(Long, Long)].collect().sortBy(_._1)
    // budget floor(0.5·20)=10: cumulative 4, 8, 12 -> rows 1 and 2 fit;
    // B is not in the mixture -> dropped entirely
    assert(out.toSeq === Seq((1L, 4L), (2L, 4L)))
    // layout-independence: the take is a function of identities alone
    val re = Sampling.tokenBudgetMix(df.repartition(5), col("id"), col("src"),
        col("ntok"), totalBudget = 20L, weights = Map("A" -> 0.5))
      .select(col("id"), col("mix_tokens")).as[(Long, Long)].collect().sortBy(_._1)
    assert(re.toSeq === out.toSeq)
  }

  test("isqrt is exact at perfect squares and their neighbors") {
    val spark2 = spark
    import spark2.implicits._
    val xs = Seq(0L, 1L, 3L, 4L, 8L, 9L, 999999999999L, 1000000000000L)
    val out = xs.toDF("x").select(Sampling.isqrt(col("x"))).as[Long].collect()
    assert(out.toSeq === Seq(0L, 1L, 1L, 2L, 2L, 3L, 999999L, 1000000L))
  }

  test("temperatureMix: sqrt-proportional budgets upweight the small source") {
    val spark2 = spark
    import spark2.implicits._
    // source a: 5 docs x 7 tokens = 35 -> isqrt 5; b: 25 x 1 = 25 ->
    // isqrt 5; wsum 10, budget 20 -> 10 tokens EACH despite b having
    // 5x fewer tokens than... a's 35: the rebalance at work.
    // a keeps 1 doc (cum 7 <= 10 < 14), b keeps 10 of its 1-token docs.
    val docs = ((0L until 5L).map(i => (i, "a", 7L)) ++
      (100L until 125L).map(i => (i, "b", 1L))).toDF("id", "src", "ntok")
    val out = Sampling.temperatureMix(docs, col("id"), col("src"), col("ntok"),
        totalBudget = 20L)
      .groupBy(col("src")).agg(count(lit(1)).as("n"), sum(col("mix_tokens")).as("tok"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(("a", 1L, 7L), ("b", 10L, 10L)))
    // layout-independent, like every deterministic sampler here
    val re = Sampling.temperatureMix(docs.repartition(7), col("id"), col("src"),
        col("ntok"), totalBudget = 20L)
      .groupBy(col("src")).agg(count(lit(1)).as("n"), sum(col("mix_tokens")).as("tok"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(re === out)
  }
}

class TextStatsSpec extends SparkSpec {

  test("ngramRepetition matches a brute-force run-settling fold, edge cases included") {
    val spark2 = spark
    import spark2.implicits._
    def brute(text: String, n: Int): (Long, Long) = {
      val toks = text.trim.split("\\s+").toSeq
      if (toks.size < n) return (0L, 0L)
      val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
      val cnt = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tot = grams.map(_.length.toLong).sum
      val maxC = cnt.values.max
      val top = cnt.filter(_._2 == maxC).keys.min // ties: lexically smallest
      val dup = cnt.collect { case (g, c) if c >= 2 => c * g.length }.sum
      (maxC * top.length * 1000000L / tot, dup * 1000000L / tot)
    }
    val texts = Seq(
      "a b a b c",              // dominant bigram
      "b a b a",                // top gram not first in text order
      "x y z x",                // all-distinct: tie -> lexically smallest
      "hello",                  // shorter than n
      "",                       // empty text -> one empty token
      "a b c d e a b c d e a b c d e", // 5-gram repetition
      "w w w w w w",            // single token repeated
      "héllo wörld héllo wörld naïve",  // multi-byte chars (len = codepoints)
      "日本 語 日本 語 テスト") // CJK 3-byte codepoints
    for (n <- Seq(2, 5)) {
      val fixture = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = TextStats.ngramRepetition(fixture, col("text"), n)
        .select(col("doc_id"), col(s"top${n}gram_ppm"), col(s"dup${n}gram_ppm"))
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      texts.zipWithIndex.foreach { case (t, i) =>
        val (topE, dupE) = brute(t, n)
        assert(out(i) === ((i.toLong, topE, dupE)), s"n=$n text='$t'")
      }
      // the codegen kernel and the interpreted sorted-array fold are the
      // same function (the house kernel-equivalence gate)
      val interp = TextStats.ngramRepetitionInterpreted(fixture, col("text"), n)
        .select(col("doc_id"), col(s"top${n}gram_ppm"), col(s"dup${n}gram_ppm"))
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(out === interp, s"kernel != interpreted at n=$n")
    }
  }

  test("c4LineFilter applies the three line rules and the min-lines doc gate") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "This is a proper sentence.\n- bullet nav\nshort\n" +
        "please enable javascript now.\nAnother good sentence here!"),
      (2L, "Only one good sentence here.\nnothing else"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextStats.c4LineFilter(df, col("text"), minWords = 3, minLines = 2)
      .select("doc_id", "c4_lines", "c4_kept", "c4_text", "c4_pass")
      .as[(Long, Long, Long, String, Boolean)].collect().sortBy(_._1)
    // doc 1: bullet (no terminal punct), short fragment, and the
    // javascript line (punct + words OK — only the substring rule drops
    // it) all go; the two real sentences stay -> passes the 2-line gate
    assert(out(0) === ((1L, 5L, 2L,
      "This is a proper sentence.\nAnother good sentence here!", true)))
    assert(out(1) === ((2L, 2L, 1L, "Only one good sentence here.", false)))
    assert(out(2) === ((3L, 1L, 0L, "", false)))
    // CRLF text: the line ends "\r" after the \n split — \z (unlike
    // Java's $) does NOT match before it, agreeing with RE2 engines and
    // keeping stray \r out of c4_text
    val crlf = Seq((9L, "A good crlf sentence.\r\nAnother fine sentence here."))
      .toDF("doc_id", "text")
    val got = TextStats.c4LineFilter(crlf, col("text"), minWords = 3, minLines = 1)
      .select("c4_kept", "c4_text").as[(Long, String)].collect().head
    assert(got === ((1L, "Another fine sentence here.")))
  }

  test("gopherSignals: bullet/ellipsis line ppm, alpha-word ppm, the paper thresholds") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      // 4 lines: 2 bullets (one indented, one •), 1 ellipsis tail, 1 prose
      (1L, "- first item\n  • second item\nto be continued...\nA real sentence here."),
      // CRLF line ends "...\r" — the \r?-tolerant anchor must count it
      // (a reject rule that misses CRLF spam is anti-conservative);
      // unicode ellipsis on the final line
      (2L, "ends with dots...\r\nreally ends…"),
      // 90%+ bullets, TAB-indented -> ^\s* must still see them
      (3L, (1 to 10).map(i => s"\t* item $i").mkString("\n")),
      // all-numeric words -> alpha_word_ppm 0 -> fails the alpha rule
      (4L, "123 456 789"),
      (5L, ""),
      // hashtag spam: 4 words, 3 '#' + one '.....' = ONE non-overlapping
      // '...' match -> 4 symbols / 4 words -> fails the 10% symbol rule
      (6L, "#a #b #c word.....")
    ).toDF("doc_id", "text")
    val out = TextStats.gopherSignals(df, col("text"))
      .select("doc_id", "n_lines", "bullet_line_ppm", "ellipsis_line_ppm",
        "alpha_word_ppm", "symbol_word_ppm", "gopher_shape_pass")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // doc 1: 4 lines, 2 bullets (500000), 1 ellipsis (250000); 13
    // whitespace tokens of which only "-" and "•" lack an ASCII letter;
    // symbols: the one "continued..." ellipsis over 13 words
    assert(out(0)._2 === 4L)
    assert(out(0)._3 === 500000L)
    assert(out(0)._4 === 250000L)
    assert(out(0)._5 === 846153L) // 11 * 1e6 div 13
    assert(out(0)._6 === 76923L) // 1 * 1e6 div 13 — under the 10% rule
    assert(out(0)._7 === true)
    // doc 2: BOTH lines count — the "...\r" CRLF tail and the
    // unicode-… absolute end -> 2 of 2
    assert(out(1)._2 === 2L)
    assert(out(1)._4 === 1000000L)
    // the symbol alphabet includes the Unicode ellipsis (same alphabet
    // as the line rule): "dots..." + "ends…" = 2 symbols / 5 tokens
    assert(out(1)._6 === 400000L)
    assert(out(1)._7 === false) // 100% ellipsis lines fails the 30% rule
    // doc 3: 100% tab-indented bullet lines -> fails the 90% rule
    assert(out(2)._3 === 1000000L)
    assert(out(2)._7 === false)
    // doc 4: zero alpha words -> fails the 80% rule
    assert(out(3)._5 === 0L)
    assert(out(3)._7 === false)
    // blank doc: one empty line, one empty token -> all-zero ppm, fails
    // on alpha words, never divides by zero
    assert(out(4) === ((5L, 1L, 0L, 0L, 0L, 0L, false)))
    // doc 6: 3 '#' + ONE non-overlapping '...' inside '.....' = 4
    // symbols / 4 words = 1000000 ppm -> fails the 10% symbol rule
    assert(out(5)._6 === 1000000L)
    assert(out(5)._7 === false)
  }

  test("bpePairStats counts corpus-frequency-weighted adjacent char pairs") {
    val spark2 = spark
    import spark2.implicits._
    // "low" ×3 and "lower" ×1 (classic BPE example): lo = 3+1, ow = 3+1,
    // we = 1, er = 1; the 1-char word "a" contributes nothing
    val docs = Seq("low low lower a", "low").toDF("text")
    val out = TextStats.bpePairStats(docs, col("text"), topN = 10)
      .as[(String, Long)].collect()
    assert(out.toSeq === Seq(("lo", 4L), ("ow", 4L), ("er", 1L), ("we", 1L)))
    // the argmax (first row by cnt DESC, pair ASC) is the next merge
    assert(out.head._1 === "lo")
    // scale shape: two partial-aggregated shuffles (word freq, pair
    // count) and a TakeOrdered top-N — never a global sort of the corpus
    val plan = TextStats.bpePairStats(docs, col("text"), topN = 10)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length === 2, plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("bigramRarity: hand-computed inverse conditional probabilities") {
    val spark2 = spark
    import spark2.implicits._
    // corpus: "a b" x2, "a c", "x" -> C1(a)=3, C2(a,b)=2, C2(a,c)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    val out = TextStats.bigramRarity(docs, col("text"), "doc_id", scale = 100L)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 150L, 1L), // 100*3/2 = 150: "b follows a" 2 of 3 times
      (2L, 150L, 1L),
      (3L, 300L, 1L), // 100*3/1 = 300: the rare transition scores higher
      (4L, 0L, 0L))) // <2 tokens -> no bigrams, reported as zeros
  }

  test("unigram rarity: hand-computed scores, OOV pinned to max rarity") {
    val spark2 = spark
    import spark2.implicits._
    // counts: a=3 b=1 c=1, N=5; topV=2 keeps a (c=3) and b (ties at c=1,
    // token asc beats c); rarity a = 5e6 div 3 = 1666666, b = 5e6,
    // OOV c = 5e6 (max)
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextStats.unigramRarity(docs, col("text"), "doc_id", topV = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 1666666L + 1666666L + 5000000L, 3L),
      (2L, 1666666L + 5000000L, 2L)))
  }

  test("token and subword counts") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq("hello world 42").toDF("text")
    assert(df.select(TextStats.tokenCount(col("text"))).as[Int].head() === 3)
    assert(df.select(TextStats.subwordCount(col("text"))).as[Int].head() === 3)
    assert(Seq("don't stop").toDF("text")
      .select(TextStats.subwordCount(col("text"))).as[Int].head() === 4) // don ' t stop
  }

  test("langId picks the language with most marker hits") {
    val spark2 = spark
    import spark2.implicits._
    val out = Seq("the cat of the house", "der hund und die katze", "xyzzy plugh")
      .toDF("text").select(TextStats.langId(col("text"))).as[String].collect()
    assert(out === Array("en", "de", "und"))
  }

  test("fingerprint is order-independent") {
    val spark2 = spark
    import spark2.implicits._
    val out = Seq("a b c", "c a b", "a b d").toDF("text")
      .select(TextStats.fingerprint(col("text"))).as[String].collect()
    assert(out(0) === out(1))
    assert(out(0) !== out(2))
  }

  test("pii counts match emails, ipv4, phones") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "mail a@b.com and c.d+x@e.org, host 10.0.0.1, call +1 555 010 0199"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextStats.piiCounts(df, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 2L, 1L, 1L)))
    assert(out(1) === ((2L, 0L, 0L, 0L)))
  }

  test("repetition metrics: distinct ratio and top-token fraction") {
    val spark2 = spark
    import spark2.implicits._
    val out = TextStats.withRepetition(
        Seq("a a a b", "a b c d").toDF("text"), col("text"))
      .select(col("distinct_ratio"), col("top_token_frac"))
      .as[(Double, Double)].collect()
    assert(out(0) === ((0.5, 0.75))) // {a,b}/4 tokens; "a" x3 of 4
    assert(out(1) === ((1.0, 0.25)))
  }

  test("tfIdfTopTerms ranks rare terms above common ones at equal tf") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "common rare common"), // tf(common)=2 df=3; tf(rare)=1 df=1
      (2L, "common other"),
      (3L, "common other")
    ).toDF("doc_id", "text")
    val out = TextStats.tfIdfTopTerms(docs, col("text"), "doc_id", k = 2)
      .select("doc_id", "term", "tf", "df", "score", "rnk")
      .as[(Long, String, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._6))
    // doc 1: rare scores 1 * (3e6 div 1) = 3e6; common scores 2 * (3e6 div 3) = 2e6
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._5, r._6)).toSeq ===
      Seq(("rare", 3000000L, 1L), ("common", 2000000L, 2L)))
    // docs 2/3: other (df=2) beats common (df=3) despite equal tf
    assert(out.filter(_._1 == 2L).map(_._2).toSeq === Seq("other", "common"))
    // rnk caps at k
    assert(out.forall(_._6 <= 2L))
  }

  test("bm25TopK matches the fixed-point Okapi formula; non-matching docs absent") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "hash join hash"),      // dl=3: tf(hash)=2, tf(join)=1
      (2L, "hash scan"),           // dl=2: tf(hash)=1
      (3L, "join join join join"), // dl=4: tf(join)=4
      (4L, "filler words only")    // dl=3: matches nothing
    ).toDF("doc_id", "text")
    // the documented fixed-point arithmetic, reimplemented independently
    val S = 1000000L; val k1 = 1200000L; val b = 750000L
    val n = 4L; val sumDl = 12L
    def contrib(tf: Long, dl: Long, df: Long): Long = {
      val idf = (S * n) / df
      val lnorm = (S - b) + (b * dl * n) / sumDl
      val denom = tf * S + (k1 * lnorm) / S
      idf * ((tf * (k1 + S) * S) / denom)
    }
    val exp = Map( // query "hash join": df(hash)=2, df(join)=2
      1L -> (contrib(2, 3, 2) + contrib(1, 3, 2)),
      2L -> contrib(1, 2, 2),
      3L -> contrib(4, 4, 2))
    val q = TextStats.bm25TopK(docs, col("text"), "doc_id",
      queries = Seq((7L, "hash join")), k = 3)
    val out = q.as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    assert(out.map(_._2).toSeq.sorted === Seq(1L, 2L, 3L)) // doc 4 absent
    out.foreach { case (qid, id, score, _) =>
      assert(qid === 7L)
      assert(score === exp(id), s"doc $id")
    }
    // ranking follows the scores (doc1 has both terms -> top)
    assert(out.map(_._2).toSeq === exp.toSeq.sortBy(e => (-e._2, e._1)).map(_._1))
    // scale claim: query terms / df / stats all reach the corpus via
    // broadcast joins — no full-vocabulary shuffle on the big side
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sourceQualityFilter gates whole sources by ratio-of-sums and min count") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "cleanalpha texthere", "good"), // alpha 18 of 19 chars -> ~94%
      (2L, "also very cleantext", "good"),
      (3L, "1234 5678 90!! ####", "noisy"), // alpha 0
      (4L, "9999 ---- ++++ @@@@", "noisy"),
      (5L, "clean but alone here", "tiny") // fails minDocs
    ).toDF("doc_id", "text", "source")
    val out = TextStats.sourceQualityFilter(
        docs, col("text"), "doc_id", "source", minDocs = 2, minAlphaBp = 7000)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out === Array((1L, "good"), (2L, "good")))
    // scale claim: the corpus streams through a broadcast semi join — the
    // only Exchange in the plan belongs to the per-source aggregation
    val plan = TextStats.sourceQualityFilter(
        docs, col("text"), "doc_id", "source", minDocs = 2, minAlphaBp = 7000)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length <= 1, plan)
  }

  test("qualityGate: each rule fells exactly its victim; pass needs all") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // passes everything
      (2L, "a b"),                               // too short
      (3L, "1234 5678 9012 3456"),               // alpha ratio 0
      (4L, "word word word word word"),          // repetition
      (5L, "mail me at me@example.com now okay") // PII
    ).toDF("doc_id", "text")
    val t = TextStats.QualityThresholds(
      minTokens = 3, maxTokens = 10, minAlphaBp = 7000, maxPii = 0,
      minDistinctBp = 8000, maxTopTokenBp = 3000)
    val out = TextStats.qualityGate(docs, col("text"), "doc_id", t)
      .select(col("doc_id"), col("quality.len_ok"), col("quality.alpha_ok"),
        col("quality.pii_ok"), col("quality.rep_ok"), col("quality.rarity_ok"),
        col("quality.pass"))
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(out(0) === ((1L, true, true, true, true, true, true)))
    assert(out(1)._2 === false && out(1)._7 === false) // len
    assert(out(2)._3 === false && out(2)._7 === false) // alpha
    assert(out(3)._5 === false && out(3)._7 === false) // repetition
    assert(out(4)._4 === false && out(4)._7 === false) // pii
    // keep-list form preserves the input schema
    assert(TextStats.qualityFilter(docs, col("text"), "doc_id", t)
      .columns.toSeq === Seq("doc_id", "text"))
    // without rarity the gate is one scan-bound projection — no Exchange
    val plan = TextStats.qualityGate(docs, col("text"), "doc_id", t)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("qualityGate rarity rule: corpus-relative, integer-exact") {
    val spark2 = spark
    import spark2.implicits._
    // top-1 vocab = "the" (c=4); n_total=8; rarity(the) = (1e6*8)/4 = 2e6,
    // OOV = 8e6. doc 1 mean = 2e6 passes, doc 2 mean = 8e6 fails at 4e6.
    val docs = Seq(
      (1L, "the the the the"),
      (2L, "zzz qqq xxx www")
    ).toDF("doc_id", "text")
    val t = TextStats.QualityThresholds(
      minTokens = 1, minAlphaBp = 0, minDistinctBp = 0, maxTopTokenBp = 10000,
      maxMeanRarity = Some(4000000L), rarityTopV = 1)
    val out = TextStats.qualityGate(docs, col("text"), "doc_id", t)
      .select(col("doc_id"), col("quality.rarity_ok"), col("quality.pass"))
      .as[(Long, Boolean, Boolean)].collect().sortBy(_._1)
    assert(out === Array((1L, true, true), (2L, false, false)))
  }

  test("qualityGate shapeRules: gopherSignals composes as a sixth signal") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // passes everything
      // 10/10 bullet lines (ppm 1000000 > 900000) and 20/40 alpha words
      // (500000 < 800000) fail SHAPE; every other gate signal passes
      // (40 tokens, 13 distinct = 3250bp, top token 10/40 = 2500bp,
      // alpha chars 100/160 = 6250bp, no PII)
      (2L, (1 to 10).map(i => s"- item number $i").mkString("\n"))
    ).toDF("doc_id", "text")
    val t = TextStats.QualityThresholds(
      minTokens = 3, maxTokens = 100, minAlphaBp = 5000, maxPii = 0,
      minDistinctBp = 2000, maxTopTokenBp = 2600,
      shapeRules = Some(TextStats.GopherShapeThresholds()))
    val gated = TextStats.qualityGate(docs, col("text"), "doc_id", t)
    // the struct gains shape_ok between rep_ok and rarity_ok
    val fields = gated.schema("quality").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(fields === Seq("len_ok", "alpha_ok", "pii_ok", "rep_ok",
      "shape_ok", "rarity_ok", "pass"))
    val out = gated
      .select(col("doc_id"), col("quality.len_ok"), col("quality.alpha_ok"),
        col("quality.pii_ok"), col("quality.rep_ok"), col("quality.shape_ok"),
        col("quality.pass"))
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(out(0) === ((1L, true, true, true, true, true, true)))
    // bullet spam fails ONLY shape; pass conjoins it
    assert(out(1) === ((2L, true, true, true, true, false, false)))
    // the gate's verdict IS the standalone operator's (shared code path)
    val standalone = TextStats.gopherSignals(docs, col("text"))
      .select("doc_id", "gopher_shape_pass")
      .as[(Long, Boolean)].collect().sortBy(_._1).map(_._2).toSeq
    assert(out.map(_._6).toSeq === standalone)
    // still one scan-bound projection — no Exchange, no extra columns
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(gated.columns.toSeq === Seq("doc_id", "text", "quality"))
    // shapeRules unset keeps the historical five-signal struct EXACTLY
    // (oracled gate queries are schema-stable)
    val legacy = TextStats.qualityGate(docs, col("text"), "doc_id",
        TextStats.QualityThresholds())
      .schema("quality").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(legacy === Seq("len_ok", "alpha_ok", "pii_ok", "rep_ok",
      "rarity_ok", "pass"))
    // a caller column named like gopherSignals' outputs would be silently
    // dropped by the gate's fold — guarded with a loud require instead
    val clashing = docs.withColumn("n_lines", lit(99L))
    val e = intercept[IllegalArgumentException] {
      TextStats.qualityGate(clashing, col("text"), "doc_id", t)
    }
    assert(e.getMessage.contains("n_lines"))
    // without shapeRules the same frame passes through untouched
    assert(TextStats.qualityGate(clashing, col("text"), "doc_id",
      TextStats.QualityThresholds()).columns.contains("n_lines"))
    // and the gate's own output name is guarded the same way: a caller
    // `quality` column would be replaced, then swallowed by qualityFilter
    val eq = intercept[IllegalArgumentException] {
      TextStats.qualityGate(docs.withColumn("quality", lit(1)),
        col("text"), "doc_id", TextStats.QualityThresholds())
    }
    assert(eq.getMessage.contains("quality"))
  }

  test("vocabCoverage: per-group OOV against the corpus top-V vocabulary") {
    val spark2 = spark
    import spark2.implicits._
    // counts: the=3, then cat/dog/zzz tie at 1 -> token-asc tie-break
    // admits "cat"; vocab(topV=2) = {the, cat}
    val docs = Seq(
      ("s1", "the the cat"),
      ("s2", "the dog zzz")
    ).toDF("source", "text")
    val out = TextStats.vocabCoverage(docs, col("text"), "source", topV = 2)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(
      ("s1", 3L, 0L, 0L), // all of "the the cat" covered
      ("s2", 3L, 2L, 6666L))) // dog, zzz OOV -> 2*10000 div 3
    // the corpus token stream aggregates per group without a token
    // shuffle: vocab is broadcast, so the only hash Exchanges are the
    // vocab count itself and the per-group aggregate
    val plan = TextStats.vocabCoverage(docs, col("text"), "source", topV = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("cohenKappa: textbook contingency, perfect/constant/adversarial raters") {
    val spark2 = spark
    import spark2.implicits._
    def run(pairs: Seq[(Boolean, Boolean)]): (Long, Long, Long, Option[Long]) = {
      val df = pairs.toDF("ra", "rb")
      val r = TextStats.cohenKappa(df, col("ra"), col("rb")).collect().head
      (r.getLong(1), r.getLong(2),
        r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }
    // the textbook 2x2: n=50, both-yes 20, both-no 15, A-only 10, B-only 5
    // po = 0.70, pa = 0.60, pb = 0.50, pe = 0.50, kappa = 0.40
    val textbook =
      Seq.fill(20)((true, true)) ++ Seq.fill(15)((false, false)) ++
      Seq.fill(10)((true, false)) ++ Seq.fill(5)((false, true))
    assert(run(textbook) === ((700000L, 500000L, 50L, Some(400000L))))
    // perfect agreement with mixed marginals: kappa = 1
    assert(run(Seq((true, true), (false, false)))._4 === Some(1000000L))
    // both raters constant: pe = 1, kappa undefined -> NULL
    assert(run(Seq((true, true), (true, true)))._4 === None)
    // systematic disagreement at uneven marginals: negative kappa, and the
    // floor-division reference (Math.floorDiv, the oracle's `//`) must
    // match exactly — the engine's pmod form floors on negatives too
    val adv = Seq((true, false), (false, true), (true, true))
    val (po, pe, n, kappa) = run(adv)
    def floorRef(po: Long, pe: Long): Long =
      Math.floorDiv((po - pe) * 1000000L, 1000000L - pe)
    assert(n === 3L && po === 333333L && pe === 555555L)
    assert(kappa === Some(floorRef(po, pe)))
    assert(kappa.get < 0L, s"adversarial raters must score negative: $kappa")
  }

  test("fleissKappa: hand-computed 3-rater cases incl. perfect/constant/negative") {
    val spark2 = spark
    import spark2.implicits._
    def run(xs: Seq[Int]): (Long, Long, Long, Long, Option[Long]) = {
      // encode each item's true-vote count x as three boolean raters
      val df = xs.map(x => (x >= 1, x >= 2, x >= 3)).toDF("ra", "rb", "rc")
      val r = TextStats.fleissKappa(df, Seq(col("ra"), col("rb"), col("rc")))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }
    // votes (3,0,3,1,2): sx=9, sq=37 -> po=733333, pt=600000, pe=520000,
    // kappa = 213333e6 // 480000 = 444443 (hand-computed)
    assert(run(Seq(3, 0, 3, 1, 2)) ===
      ((5L, 3L, 733333L, 520000L, Some(444443L))))
    // unanimous on every item with mixed marginals: kappa = 1
    assert(run(Seq(3, 0))._5 === Some(1000000L))
    // every rater constant true: pe = 1e6 -> NULL (undefined)
    assert(run(Seq(3, 3))._5 === None)
    // maximal within-item splits: negative kappa, floor-division parity
    val (_, _, po, pe, kappa) = run(Seq(1, 2))
    assert(po === 333333L && pe === 500000L)
    assert(kappa === Some(Math.floorDiv((po - pe) * 1000000L, 1000000L - pe)))
    assert(kappa.get === -333334L, s"floor (not truncate) on negatives: $kappa")
  }

  test("krippendorffAlpha: missing ratings, hand-computed, degenerate NULL") {
    val spark2 = spark
    import spark2.implicits._
    def run(rows: Seq[(Option[Boolean], Option[Boolean], Option[Boolean])]) = {
      val df = rows.toDF("ra", "rb", "rc").repartition(2)
      val r = TextStats.krippendorffAlpha(df, Seq(col("ra"), col("rb"), col("rc")))
        .collect().head
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (r.getLong(0), opt(1), opt(2), opt(3))
    }
    val T = Some(true); val F = Some(false); val N = Option.empty[Boolean]
    // hand case: (T,T,-), (T,F,-), (F,F,F), (T,-,-): the 1-rating item is
    // UNPAIRABLE -> n = 7, T = 3, Do = 2/7, De = 2*3*4/(7*6) = 4/7,
    // alpha = 1 - Do/De = 0.5; ppm floors: do 285714, de 571428, and
    // 285714e6 div 571428 lands EXACTLY on 500000
    assert(run(Seq((T, T, N), (T, F, N), (F, F, F), (T, N, N))) ===
      ((7L, Some(285714L), Some(571428L), Some(500000L))))
    // perfect agreement with mixed categories: Do = 0 -> alpha = 1e6
    assert(run(Seq((T, T, T), (F, F, F)))._4 === Some(1000000L))
    // every rating the same category: De = 0 -> NULL (undefined)
    assert(run(Seq((T, T, T), (T, T, N)))._4 === None)
    // nothing pairable at all: NULL statistics (the kappa-family
    // undefined convention), never a throw
    assert(run(Seq((T, N, N), (N, F, N))) === ((0L, None, None, None)))
    // worst case: every pairable item split -> alpha < 0, floor parity
    val (n, dd, de, a) = run(Seq((T, F, N), (F, T, N)))
    assert(n === 4L && a.get < 0L)
    assert(a === Some(Math.floorDiv((de.get - dd.get) * 1000000L, de.get)))
  }
}

class EventsSpec extends SparkSpec {

  test("funnel enforces strict step order and stalls on the missed step") {
    val spark2 = spark
    import spark2.implicits._
    def ev(u: Long, t: String, ty: String) = (u, t, ty)
    val events = Seq(
      // user 1 completes in order
      ev(1L, "2024-01-01 00:00:00", "view"),
      ev(1L, "2024-01-01 00:01:00", "click"),
      ev(1L, "2024-01-01 00:02:00", "purchase"),
      // user 2: purchase BEFORE the click -> depth 2, not completed
      ev(2L, "2024-01-01 00:00:00", "view"),
      ev(2L, "2024-01-01 00:00:30", "purchase"),
      ev(2L, "2024-01-01 00:01:00", "click"),
      // user 3: view and purchase but never clicks -> the missed middle
      // step stalls the funnel at depth 1
      ev(3L, "2024-01-01 00:00:00", "view"),
      ev(3L, "2024-01-01 00:05:00", "purchase"),
      // user 4: clicks without ever viewing -> depth 0
      ev(4L, "2024-01-01 00:00:00", "click"),
      // user 5: a LATER second purchase after the click does complete
      ev(5L, "2024-01-01 00:00:00", "view"),
      ev(5L, "2024-01-01 00:00:10", "purchase"),
      ev(5L, "2024-01-01 00:01:00", "click"),
      ev(5L, "2024-01-01 00:02:00", "purchase")
    ).toDF("user_id", "ts_s", "event_type")
      .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"), col("event_type"))
    val out = Events.funnel(events, Seq("view", "click", "purchase"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 3L, true), (2L, 2L, false), (3L, 1L, false),
      (4L, 0L, false), (5L, 3L, true)))
  }

  test("retentionCohorts builds the day-offset triangle on distinct users") {
    val spark2 = spark
    import spark2.implicits._
    val events = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 23:00:00"), // same day: one cell
      (1L, "2024-01-03 01:00:00"),                              // day 2 offset
      (2L, "2024-01-01 00:00:00"), (2L, "2024-01-02 00:00:00"),
      (3L, "2024-01-02 12:00:00")                               // later cohort
    ).toDF("user_id", "ts_s").select(col("user_id"), to_timestamp(col("ts_s")).as("ts"))
    val out = Events.retentionCohorts(events)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val day0 = 19723L // 2024-01-01 in epoch days
    assert(out === Seq(
      (day0, 0L, 2L),      // users 1 and 2 join on day 0
      (day0, 1L, 1L),      // user 2 returns next day
      (day0, 2L, 1L),      // user 1 returns two days later
      (day0 + 1, 0L, 1L))) // user 3's own cohort
  }

  test("sessionize counts gap-separated sessions per user") {
    val spark2 = spark
    import spark2.implicits._
    val events = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"), // session 1
      (1L, "2024-01-01 01:00:00"), // session 2 (50min gap > 30min)
      (2L, "2024-01-01 00:00:00")
    ).toDF("user_id", "ts_s").select(col("user_id"), to_timestamp(col("ts_s")).as("ts"))
    val out = Events.sessionize(events, 1800)
      .select("user_id", "n_sessions", "n_events").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(out === Array((1L, 2L, 3L), (2L, 1L, 1L)))
  }

  test("tumblingAgg buckets on epoch boundaries") {
    val spark2 = spark
    import spark2.implicits._
    val events = Seq(
      ("a", "2024-01-01 00:10:00", 1.0), ("a", "2024-01-01 00:50:00", 2.0),
      ("a", "2024-01-01 01:10:00", 4.0)
    ).toDF("event_type", "ts_s", "value")
      .select(col("event_type"), to_timestamp(col("ts_s")).as("ts"), col("value"))
    val out = Events.tumblingAgg(events, 3600)
      .select("bucket", "n_events", "sum_value").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(out === Array((1704067200L, 2L, 3.0), (1704070800L, 1L, 4.0)))
  }
}

class ExactSubstrSpec extends SparkSpec {

  private def spans(docs: Seq[(Long, String)], k: Int) = {
    val spark2 = spark
    import spark2.implicits._
    ExactSubstr.duplicatedSpans(docs.toDF("doc_id", "text"), col("text"), k = k)
      .as[(Long, Long, Long)].collect().sortBy(s => (s._1, s._2))
  }

  test("cross-document duplicated window yields the shared span") {
    // "b c d" (k=3) occurs in both docs at different offsets; nothing else repeats
    val out = spans(Seq(
      (1L, "a b c d e"),
      (2L, "x b c d")), k = 3)
    assert(out === Array((1L, 2L, 4L), (2L, 2L, 4L)))
  }

  test("within-document repetition counts toward the corpus threshold") {
    // "p q" occurs twice inside one document — ExactSubstr counts corpus
    // occurrences, not distinct documents
    val out = spans(Seq((1L, "p q x x p q"), (2L, "m n o")), k = 2)
    // dup windows at pos 1 and 5 (gap 4 > k=2: two islands); "x x" occurs once
    assert(out === Array((1L, 1L, 2L), (1L, 5L, 6L)))
  }

  test("overlapping and touching windows merge into one maximal span") {
    // both docs contain the 4-token run "a b c d": k=2 windows at pos
    // 1,2,3 overlap pairwise -> single span covering tokens 1..4
    val out = spans(Seq((1L, "a b c d"), (2L, "a b c d")), k = 2)
    assert(out === Array((1L, 1L, 4L), (2L, 1L, 4L)))
  }

  test("documents shorter than k and unique documents are absent") {
    val out = spans(Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "q"), (4L, "r s t u")), k = 3)
    assert(out.map(_._1).distinct === Array(1L, 2L))
  }

  test("duplicationStats sums covered tokens per document") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "p q x y z p q"), (2L, "p q")).toDF("doc_id", "text")
    // "p q" at (1,1), (1,6), (2,1): doc 1 has two islands of 2 tokens each
    val out = ExactSubstr.duplicationStats(docs, col("text"), k = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array((1L, 2L, 4L), (2L, 1L, 2L)))
  }

  test("trimSpans cuts span tokens and keeps clean documents (normalized)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "p q x y z p q"), // spans [1,2] and [6,7] -> "x y z" survives
      (2L, "p q"),           // fully covered -> empty
      (3L, "m  n   o")       // clean; multi-space collapses to single
    ).toDF("doc_id", "text")
    val sp = ExactSubstr.duplicatedSpans(docs, col("text"), k = 2)
    val out = ExactSubstr.trimSpans(docs, col("text"), sp)
      .select(col("doc_id"), col("text_trimmed"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out === Array((1L, "x y z"), (2L, ""), (3L, "m n o")))
  }
}

/** Round-19 lineage-sweep plan guards: the multi-consumer fixes are
  * pinned by GENERATE counts in the executed plan (the corpus-explode
  * proxy — a reintroduced groupBy-self-join consumer re-plans the
  * explode and the count regresses). Fixtures repartition(2) so
  * ConvertToLocalRelation cannot fold the kernels out (CLAUDE.md). */
class SweepPlanSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  private def gens(df: org.apache.spark.sql.DataFrame): Int =
    "Generate".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("tfIdfTopTerms plans exactly ONE corpus explode (df rides a window)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "c d e"))
      .toDF("doc_id", "text").repartition(2)
    assert(gens(TextStats.tfIdfTopTerms(docs, col("text"), "doc_id", k = 2)) === 1)
  }

  test("bigramLogProb plans three explodes (pairs window chain, uni, vocab)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "b c d"))
      .toDF("doc_id", "text").repartition(2)
    assert(gens(Importance.bigramLogProb(docs, col("text"), "doc_id")) === 3)
  }

  test("kneserNeyLogProb plans three explodes (score stream, type chain, N_bi)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "b c d"))
      .toDF("doc_id", "text").repartition(2)
    assert(gens(Importance.kneserNeyLogProb(docs, col("text"), "doc_id")) === 3)
  }

  test("nbClassify post-construction plan has ONE explode; prCurve adds no second aggregate pass") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b", "en"), (2L, "b c", "de"), (3L, "a c", "en"),
        (4L, "c d", "de"))
      .toDF("doc_id", "text", "lang").repartition(2)
    val scored = TextStats.nbClassify(docs, col("text"), "doc_id",
      isSeed = col("doc_id") <= 2, seedLabel = col("lang") === "en", topV = 10)
    // the model job ran at construction (checkpoint); the remaining plan
    // explodes the corpus once for scoring
    assert(gens(scored) === 1)
    val curve = TextStats.prCurve(scored, col("score"),
      (col("doc_id") % 2 === 0).cast("long"), binWidth = 65536L)
    // total positives ride the sweep window — prCurve must not re-plan
    // the scoring explode a second time
    assert(gens(curve) === 1)
  }

  test("sourceDivergence post-construction plan has ONE explode (topv checkpointed, totals windowed)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b a", "s1"), (2L, "b c", "s2"), (3L, "a", "s1"))
      .toDF("doc_id", "text", "source").repartition(2)
    assert(gens(TextStats.sourceDivergence(docs, col("text"), "source", topV = 3)) === 1)
  }

  // ---- round-20 guards: the rest of the round-19 swept surface. Each
  // fixed shape failed its count BEFORE the sweep (PLANS round-19 table);
  // these asserts keep a refactor from silently reintroducing the
  // multi-consumer subtree on the operators where it cost the most.

  /** Corpus-fixture scans surviving in the POST-construction plan — 0
    * for operators whose corpus work ran behind an eager checkpoint
    * (their remaining leaves are `Scan ExistingRDD`, never the fixture's
    * LocalTableScan). */
  private def localScans(df: org.apache.spark.sql.DataFrame): Int =
    "LocalTableScan".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("sourceReport post-construction plan re-scans NOTHING (was 8 scans incl. a duplicated contamination probe)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "w x y z a b c d", "s1"), (2L, "w x y z a b c d", "s1"),
      (3L, "the quick brown fox jumps over the lazy dog", "s1"),
      (4L, "mm nn oo pp", "s2")
    ).toDF("doc_id", "text", "source").repartition(2)
    val bench = Seq("the quick brown fox jumps over the lazy dog")
      .toDF("text").repartition(2)
    val out = graft.pipeline.Reports.sourceReport(
      docs, col("text"), "doc_id", "source", bench, col("text"), n = 8)
    // the per-source table is ≤ #sources and eagerly checkpointed; the
    // shrinkage global must read IT, not re-run the corpus pipeline
    assert(localScans(out) === 0)
    assert(gens(out) === 0)
  }

  test("knnLabelEval post-construction plan reads only the checkpointed hits (was 8 scans, 4 duplicated ranking lineage)") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1), (11L, Array(0.9f, 0.1f), 1),
      (20L, Array(0.0f, 1.0f), 2), (21L, Array(0.1f, 0.9f), 2)
    ).toDF("id", "vec", "label").repartition(2)
    val queries = Seq((0L, Array(1.0f, 0.02f), 1), (1L, Array(0.02f, 1.0f), 2))
      .toDF("id", "vec", "label").repartition(2)
    val out = Similarity.knnLabelEval(corpus, queries, k = 3)
    // both per-query folds (relevance/DCG and the vote table) must read
    // the queries×k hits checkpoint, never the cosine ranking lineage
    assert(localScans(out) === 0)
  }

  test("unigramRarity plans exactly TWO explodes with a splitless kernel n_total") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "b c d"))
      .toDF("doc_id", "text").repartition(2)
    val out = TextStats.unigramRarity(docs, col("text"), "doc_id", topV = 3)
    // the two exploded passes (top-V model, per-token scoring) are the
    // algorithm's documented floor; a third Generate means a consumer
    // re-planned the token stream
    assert(gens(out) === 2)
    // n_total must ride the byte-walk kernel, not a third corpus split
    assert(out.queryExecution.executedPlan.toString.contains("graft_token_count"))
  }

  test("bigramRarity plans exactly TWO explodes (cnt2 is a window, not a pair-stream self-join)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "b c d"))
      .toDF("doc_id", "text").repartition(2)
    // pairs explode + unigram explode; the groupBy-self-join cnt2 form
    // re-planned the corpus bigram explode as a THIRD Generate
    assert(gens(TextStats.bigramRarity(docs, col("text"), "doc_id")) === 2)
  }

  test("madOutliers census is the only remaining corpus pass (median frames checkpointed)") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(("g1", 1L), ("g1", 2L), ("g1", 100L), ("g2", 5L), ("g2", 6L))
      .toDF("g", "v").repartition(2)
    val out = graft.ops.Stats.madOutliers(rows, col("g"), col("v"))
    // med and mad (≤ #groups each) are eager checkpoints; the returned
    // census may scan the fixture exactly ONCE — the documented
    // three-corpus-pass floor leaves one pass in the returned lineage
    assert(localScans(out) === 1)
  }
}
