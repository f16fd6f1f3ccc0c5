package graft.ops.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RedactPiiSpec extends SparkSpec {

  test("redactPii replaces each PII class with its typed placeholder") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "mail me at jo.doe+x@site.org today"),
      (2L, "server 192.168.0.1 and backup 10.0.0.2"),
      (3L, "call +1 555 0100 42 now"),
      (4L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = TextStats.redactPii(docs, col("text"), col("doc_id"))
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 1L, "mail me at <EMAIL> today"),
      (2L, 2L, "server <IP> and backup <IP>"),
      (3L, 1L, "call <PHONE> now"),
      (4L, 0L, "nothing sensitive here")))
  }
}

class ChunkLineSpec extends SparkSpec {

  test("chunkDocs windows with overlap, short tail, never zero chunks") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, (1 to 10).map("t" + _).mkString(" ")), // 10 toks: 4/3 -> 3 chunks
      (2L, "a b"), // under one window -> 1 chunk
      (3L, "x")).toDF("doc_id", "text")
    val out = Packing.chunkDocs(docs, col("text"), "doc_id", chunkSize = 4, stride = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 2L, "a b"),
      (3L, 0L, 1L, "x")))
    // every token is covered by at least one chunk; overlap = size-stride
    val covered = out.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered === (1 to 10).map("t" + _).toSet)
  }

  test("dropRepeatedLinesInDoc keeps first occurrences per doc, no shuffle") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "nav\nbody one\nnav\nbody two\nnav"),
      (2L, "only\nlines"),
      (3L, "nav")).toDF("doc_id", "text") // doc 3 reuses doc 1's line: must stay
    val out = Dedup.dropRepeatedLinesInDoc(docs, col("text"), "doc_id")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, "nav\nbody one\nbody two", 5L, 2L),
      (2L, "only\nlines", 2L, 0L),
      (3L, "nav", 1L, 0L))) // intra-doc only: cross-doc repeats survive
    val plan = Dedup.dropRepeatedLinesInDoc(docs, col("text"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan) // scan-bound at any scale
  }
}

class BpeTrainSpec extends SparkSpec {

  test("bpeTrainMerges learns the classic low/lower/lowest merges in order") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "low lower lowest")).toDF("doc_id", "text")
    val out = TextStats.bpeTrainMerges(docs, col("text"), k = 3)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    // round 1: "l o" and "o w" both count 3; pair-asc tie-break picks "l o"
    // round 2: "lo w" count 3 beats everything
    // round 3: "low e" count 2 (lower + lowest)
    assert(out.toSeq === Seq(
      (1L, "l  o", "lo", 3L),
      (2L, "lo  w", "low", 3L),
      (3L, "low  e", "lowe", 2L)))
  }

  test("bpeSegmentCounts segments under the learned merges") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "low lower lowest"), (2L, "ow")).toDF("doc_id", "text")
    val merges = Seq("l  o", "lo  w", "low  e") // ranks 1..3 from the spec above
    val out = TextStats.bpeSegmentCounts(docs, col("text"), "doc_id", merges)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // low -> [low]; lower -> [lowe, r]; lowest -> [lowe, s, t]
    assert(out.toSeq === Seq((1L, 3L, 6L), (2L, 1L, 2L)))
    // map-side: no Exchange anywhere in the segmentation plan
    val plan = TextStats.bpeSegmentCounts(docs, col("text"), "doc_id", merges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("bpe_subwords kernel matches the interpreted fold over edge inputs") {
    val spark2 = spark
    import spark2.implicits._
    // codepoint symbols (emoji are supplementary — charAt would split
    // them), multi-byte merges, empty/whitespace text, repeated runs
    val docs = Seq(
      (1L, "low lower lowest"), (2L, "ow"), (3L, ""), (4L, "  "),
      (5L, "héllo héllo wörld"), (6L, "😀😀a b😀"), (7L, "aaa aaaa a"),
      (8L, "日本語 語語"))
      .toDF("doc_id", "text")
    for (merges <- Seq(
        Seq("l  o", "lo  w", "low  e"),
        Seq("a  a", "aa  aa"),
        Seq("😀  😀", "h  é", "語  語"),
        Seq.empty[String])) {
      val kernel = TextStats.bpeSegmentCounts(docs, col("text"), "doc_id", merges)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val interp = TextStats.bpeSegmentCountsInterpreted(docs, col("text"), "doc_id", merges)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(kernel === interp, s"merges=$merges")
    }
  }

  test("greedy-left merge: an odd run merges non-overlapping from the left") {
    val spark2 = spark
    import spark2.implicits._
    // "aaa" must become [aa, a] after merging (a,a) — never overlap
    val docs = Seq((1L, "aaa aaa bb")).toDF("doc_id", "text")
    val out = TextStats.bpeTrainMerges(docs, col("text"), k = 2)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    // round 1: "a a" counts 2 per "aaa" word-occurrence -> 4; "b b" -> 1
    assert(out(0) === ((1L, "a  a", "aa", 4L)))
    // round 2 state: "aa  a" (greedy-left), so the top pair is "aa a" (2)
    assert(out(1) === ((2L, "aa  a", "aaa", 2L)))
  }
}

class SnapshotsSpec extends SparkSpec {

  test("diffByContent classifies added/removed/changed/same") {
    val spark2 = spark
    import spark2.implicits._
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma EDITED"), (4L, "delta")).toDF("doc_id", "text")
    val out = Snapshots.diffByContent(oldSnap, newSnap, "doc_id", col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, "removed"), (2L, "same"), (3L, "changed"), (4L, "added")))
  }

  test("diff hashes below the join: no text column crosses the Exchange") {
    val spark2 = spark
    import spark2.implicits._
    // parquet-backed fixture: a LocalRelation would constant-fold the md5
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val snap = spark.read.parquet(dir)
    val plan = Snapshots.diffByContent(snap, snap, "doc_id", col("text"))
      .queryExecution.optimizedPlan.toString
    // md5 is applied in the projections under the join, not above it
    assert(plan.indexOf("md5") > plan.indexOf("Join"), plan)
  }

  test("applyChangelog: upsert, delete, delete-then-re-add, insert, untouched") {
    val spark2 = spark
    import spark2.implicits._
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"))
      .toDF("doc_id", "text")
    val log = Seq(
      (2L, 1L, "upsert", "two v2"),   // update
      (3L, 1L, "delete", ""),         // delete
      (4L, 1L, "delete", ""),         // delete...
      (4L, 2L, "upsert", "four back"), // ...then re-add wins by version
      (5L, 1L, "upsert", "five"),     // insert (not in base)
      (6L, 1L, "upsert", "six"),      // insert...
      (6L, 2L, "delete", "")          // ...then deleted: never appears
    ).toDF("doc_id", "version", "op", "text")
    val out = Snapshots.applyChangelog(base, log, "doc_id", "version", "op")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 0L, "one"),       // untouched: base survives at version 0
      (2L, 1L, "two v2"),
      (4L, 2L, "four back"),
      (5L, 1L, "five")))
  }

  test("applyChangelog aggregates, never windows: one shuffle with partial agg") {
    val spark2 = spark
    import spark2.implicits._
    val base = Seq((1L, "a")).toDF("doc_id", "text")
    val log = Seq((1L, 1L, "upsert", "b")).toDF("doc_id", "version", "op", "text")
    val plan = Snapshots.applyChangelog(base, log, "doc_id", "version", "op")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // partial_max below the exchange: hot ids collapse map-side
    assert(plan.contains("partial_max") || plan.contains("partial"), plan)
  }
}

class LengthBucketSpec extends SparkSpec {

  test("lengthBucketBatches: buckets, id-order batches, padding waste") {
    val spark2 = spark
    import spark2.implicits._
    // bucketWidth=10, batchSize=2: bucket 0 holds n<10, bucket 1 n in [10,20)
    val df = Seq(
      (1L, 4L), (2L, 9L), (3L, 7L), // bucket 0: batches [1,2], [3]
      (4L, 12L), (5L, 19L)          // bucket 1: batch [4,5]
    ).toDF("doc_id", "n_tok")
    val out = Packing.lengthBucketBatches(df, "doc_id", col("n_tok"),
        bucketWidth = 10L, batchSize = 2L)
      .select("bucket", "batch_id", "n_docs", "max_len", "sum_tokens", "pad_waste")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      (0L, 0L, 2L, 9L, 13L, 5L),  // pad 4 -> 9: waste 5
      (0L, 1L, 1L, 7L, 7L, 0L),   // singleton batch: no waste
      (1L, 0L, 2L, 19L, 31L, 7L)))
  }

  test("lengthBucketBatches is partition-count independent") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 300L).map(i => (i, (i * 13 % 97) + 1))
      .toDF("doc_id", "n_tok").repartition(7)
    def run(p: Int) = Packing.lengthBucketBatches(df, "doc_id", col("n_tok"),
        bucketWidth = 16L, batchSize = 8L, partitions = p)
      .select("bucket", "batch_id", "n_docs", "max_len", "sum_tokens", "pad_waste")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = run(1)
    for (p <- Seq(4, 32)) assert(run(p) === expected, s"partitions=$p")
    // every doc lands in exactly one batch
    assert(expected.map(_._3).sum === 300L)
  }
}

class CorpusHealthSpec extends SparkSpec {

  test("benchmarkCoverage grades each eval item against the corpus") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),       // fully in corpus
      (2L, "alpha beta gamma delta epsilon zeta eta theta NEW tail"), // partial
      (3L, "utterly different words that the corpus never saw here"), // uncovered
      (4L, "too short")                                              // < n tokens
    ).toDF("doc_id", "text")
    val out = Contamination.benchmarkCoverage(corpus, col("text"),
        bench, col("text"), "doc_id", n = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === (1L, 1L, 1L, 10000L))
    val (_, n2, c2, bp2) = out(1)
    assert(n2 === 3L && c2 === 1L && bp2 === 3333L) // 1 of its 3 8-grams known
    assert(out(2)._3 === 0L && out(2)._4 === 0L)
    assert(out(3) === (4L, 0L, 0L, 0L)) // too short: reported, not dropped
  }

  test("sourceDivergence flags the drifted source, not the matched ones") {
    val spark2 = spark
    import spark2.implicits._
    // srcA/srcB share the corpus-dominant mix; srcC is disjoint spam
    def rep(s: String, k: Int) = Seq.fill(k)(s).mkString(" ")
    val docs = Seq(
      (1L, "a", rep("the cat sat on the mat", 5)),
      (2L, "a", rep("the dog sat on the rug", 5)),
      (3L, "b", rep("the cat sat on the rug", 5)),
      (4L, "b", rep("the dog sat on the mat", 5)),
      (5L, "c", rep("zzz qqq xxx www vvv uuu", 5))
    ).toDF("doc_id", "source", "text")
    val out = TextStats.sourceDivergence(docs, col("text"), "source", topV = 50)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val byS = out.map(r => r._1 -> r._4).toMap
    // the disjoint source diverges far above the matched pair
    assert(byS("c") > byS("a") && byS("c") > byS("b"), out)
    assert(byS("c") > 2 * math.max(byS("a"), byS("b")).max(1L), out)
  }
}

class NbClassifySpec extends SparkSpec {

  test("nbClassify learns seed token odds and scores all docs map-side") {
    val spark2 = spark
    import spark2.implicits._
    // seeds: ids 1-4 labeled by rule (pos = "good" docs); 5-6 unlabeled
    val docs = Seq(
      (1L, "good clean prose text", true, true),
      (2L, "good useful prose words", true, true),
      (3L, "spam junk noise click", true, false),
      (4L, "junk spam garbage click", true, false),
      (5L, "clean prose and words", false, false), // pos-flavored holdout
      (6L, "click spam now", false, false),        // neg-flavored holdout
      (7L, "zzz qqq xxx", false, false)            // fully OOV
    ).toDF("doc_id", "text", "seed", "label")
    val out = TextStats.nbClassify(docs, col("text"), "doc_id",
        isSeed = col("seed"), seedLabel = col("label"), topV = 100)
      .select("doc_id", "n_iv", "score", "pred")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // holdouts classify with their flavor; OOV doc falls back to the prior
    assert(byId(5L)._4 === true, out)
    assert(byId(6L)._4 === false, out)
    assert(byId(7L)._2 === 0L, out)
    // balanced classes -> prior = flog2(2) - flog2(2) = 0
    assert(byId(7L)._3 === 0L, out)
    // seeds score on their own side
    assert(byId(1L)._4 === true && byId(3L)._4 === false, out)
  }

  test("nbClassifyMulti learns a K-way lexicon and classifies holdouts") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "der hund und die katze", true, "de"),
      (2L, "die sonne und der mond", true, "de"),
      (3L, "the cat and the dog", true, "en"),
      (4L, "the sun and the moon", true, "en"),
      (5L, "el gato y el perro", true, "es"),
      (6L, "el sol y la luna", true, "es"),
      (7L, "der mond und die sterne", false, ""),  // de holdout
      (8L, "the stars and the sky", false, ""),    // en holdout
      (9L, "la luna y el cielo", false, ""),       // es holdout
      (10L, "zzz qqq xxx", false, "")              // OOV -> prior argmax
    ).toDF("doc_id", "text", "seed", "lang")
    val out = TextStats.nbClassifyMulti(docs, col("text"), "doc_id",
        col("seed"), col("lang"), classes = Seq("de", "en", "es"), topV = 100)
      .select("doc_id", "n_iv", "pred")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val pred = out.map(r => r._1 -> r._3).toMap
    assert(pred(7L) === "de" && pred(8L) === "en" && pred(9L) === "es", out.toSeq)
    // seeds classify to their own class
    assert(pred(1L) === "de" && pred(3L) === "en" && pred(5L) === "es")
    // fully-OOV doc: n_iv = 0, argmax of priors alone -> FIRST class wins
    // the balanced tie (2/2/2 seeds)
    assert(out.find(_._1 == 10L).get._2 === 0L && pred(10L) === "de")
  }

  test("nbClassify scoring join broadcasts the model: corpus never shuffles on token") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "a b", true, true), (2L, "c d", true, false), (3L, "a c", false, false))
      .toDF("doc_id", "text", "seed", "label")
    val plan = TextStats.nbClassify(docs, col("text"), "doc_id",
        col("seed"), col("label"), topV = 10)
      .queryExecution.executedPlan.toString
    // every join in the score path is broadcast (model, totals, prior)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}

class EvalOpsSpec extends SparkSpec {

  test("knnLabelEval: votes, accuracy, and integer DCG/nDCG") {
    val spark2 = spark
    import spark2.implicits._
    // 2-d clusters: label 1 near (1,0), label 2 near (0,1); one query per
    // cluster plus a query whose neighborhood is mixed 2:1 against it
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1), (11L, Array(0.9f, 0.1f), 1),
      (12L, Array(0.95f, 0.05f), 1),
      (20L, Array(0.0f, 1.0f), 2), (21L, Array(0.1f, 0.9f), 2),
      (22L, Array(0.05f, 0.95f), 2)
    ).toDF("id", "vec", "label")
    val queries = Seq(
      (0L, Array(1.0f, 0.02f), 1),  // deep in cluster 1
      (1L, Array(0.02f, 1.0f), 2),  // deep in cluster 2
      (2L, Array(0.6f, 0.55f), 2)   // boundary, k=3 majority goes to 1
    ).toDF("id", "vec", "label")
    val out = Similarity.knnLabelEval(corpus, queries, k = 3)
      .select("q_id", "label", "maj_label", "acc", "n_rel", "dcg", "ndcg_bp")
      .as[(Long, Int, Int, Boolean, Long, Long, Long)].collect().sortBy(_._1)
    val w = Similarity.dcgWeights(3)
    assert(out(0) === (0L, 1, 1, true, 3L, w.sum, 10000L))
    assert(out(1) === (1L, 2, 2, true, 3L, w.sum, 10000L))
    // the boundary query leans toward cluster 1 -> misclassified, and
    // its single same-label neighbor sits at some rank r: dcg = w(r),
    // ideal = w(1) -> ndcg_bp = 10^4 * w(r) / w(1)
    val (_, lbl, maj, acc, nRel, dcg, ndcg) = out(2)
    assert(lbl === 2 && maj === 1 && !acc && nRel === 1L)
    assert(w.contains(dcg) && ndcg === 10000L * dcg / w.head)
  }

  test("contrastivePairs mines same-label positives and hard negatives") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1), (11L, Array(0.9f, 0.1f), 1),
      (12L, Array(0.8f, 0.2f), 1),
      (20L, Array(0.6f, 0.7f), 2),   // nearest wrong-label: HARD negative
      (21L, Array(0.0f, 1.0f), 2)    // far wrong-label: easy
    ).toDF("id", "vec", "label")
    val anchors = Seq((0L, Array(1.0f, 0.05f), 1)).toDF("id", "vec", "label")
    val out = Similarity.contrastivePairs(corpus, anchors, kPos = 2, kNeg = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._2, r._4))
    assert(out.toSeq === Seq(
      (0L, "neg", 20L, 1L), (0L, "neg", 21L, 2L),  // hard negative ranks first
      (0L, "pos", 10L, 1L), (0L, "pos", 11L, 2L))) // 12 pruned at kPos=2
  }

  test("contrastivePairs prunes beyond-rank rows below the exchange (WindowGroupLimit)") {
    val spark2 = spark
    import spark2.implicits._
    // the corpus must exceed the rank cap: InferWindowGroupLimit skips
    // plans whose known maxRows is already <= the limit (nothing to prune)
    val corpus = (1L to 10L).map(i => (i, Array(i.toFloat, 1.0f), (i % 2).toInt))
      .toDF("id", "vec", "label")
    val anchors = Seq((0L, Array(1.0f, 0.05f), 1)).toDF("id", "vec", "label")
    // the per-kind rank cap is a non-foldable when(); only the explicit
    // literal max(kPos, kNeg) conjunct lets InferWindowGroupLimit fire —
    // without it the full anchors×corpus row set shuffles into the window
    val plan = Similarity.contrastivePairs(corpus, anchors, kPos = 2, kNeg = 3)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("clusterSafeSplit: cluster members co-travel; matches hashSplit on canonical") {
    val spark2 = spark
    import spark2.implicits._
    val clustered = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),  // one cluster
      (4L, 4L), (5L, 5L), (6L, 5L)
    ).toDF("doc_id", "canonical_id")
    val out = Sampling.clusterSafeSplit(clustered, "canonical_id",
        Seq("train" -> 0.5, "eval" -> 0.5))
      .select("doc_id", "canonical_id", "split")
      .as[(Long, Long, String)].collect()
    // every cluster maps to exactly one split
    for ((_, g) <- out.groupBy(_._2)) assert(g.map(_._3).distinct.length === 1)
    // and the split equals hashSplit applied to the canonical key
    val ref = Sampling.hashSplit(clustered, col("canonical_id").cast("string"),
        Seq("train" -> 0.5, "eval" -> 0.5))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.map(r => r._1 -> r._3).toMap === ref)
  }

  test("prCurve: cumulative confusion over descending bins") {
    val spark2 = spark
    import spark2.implicits._
    // scores with known bins at width 10: bin 2 {25+,26+}, bin 1 {15-},
    // bin 0 {5+}, bin -1 {-3-} (truncating div: -3 div 10 = 0... use -13)
    val df = Seq(
      (25L, 1L), (26L, 1L), (15L, 0L), (5L, 1L), (-13L, 0L)
    ).toDF("score", "y")
    val out = TextStats.prCurve(df, col("score"), col("y"), binWidth = 10L)
      .select("threshold", "n", "tp", "fp", "precision_bp", "recall_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(-_._1)
    assert(out.toSeq === Seq(
      (20L, 2L, 2L, 0L, 10000L, 6666L),  // keep >= bin 2: both positives
      (10L, 1L, 2L, 1L, 6666L, 6666L),
      (0L, 1L, 3L, 1L, 7500L, 10000L),
      (-10L, 1L, 3L, 2L, 6000L, 10000L)))
  }

  test("prCurve sweep windows over bins, not rows") {
    val spark2 = spark
    import spark2.implicits._
    // 1000 rows, 4 bins: the window input is the 4-row bin table
    val df = (0L until 1000L).map(i => (i % 40, (i % 3 == 0).compareTo(false).toLong))
      .toDF("score", "y")
    val out = TextStats.prCurve(df, col("score"), col("y"), binWidth = 10L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.length === 4)
    // the final (lowest-threshold) row covers everything
    val last = out.minBy(_._1)
    assert(last._3 + last._4 === 1000L) // tp + fp = all rows
  }

  test("calibrationBins/ece: gaps, clamps, and the weighted fold") {
    val spark2 = spark
    import spark2.implicits._
    // bin 2 (conf 250k): 1 of 4 positive -> perfectly calibrated;
    // bin 9 via clamp: conf 1e6 and an out-of-range 1.2e6 land in the
    // TOP bin, claimed ~1.1e6 avg... keep in-range: three 900k rows,
    // none positive -> gap 900k; null label drops
    val rows = Seq(
      (250000L, 1L), (250000L, 0L), (250000L, 0L), (250000L, 0L),
      (900000L, 0L), (900000L, 0L), (900000L, 0L))
      .toDF("conf", "y")
    val bins = TextStats.calibrationBins(rows, col("conf"), col("y"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(bins === Seq(
      (2L, 4L, 1L, 250000L, 250000L, 0L),
      (9L, 3L, 0L, 900000L, 0L, 900000L)))
    val e = TextStats.ece(rows, col("conf"), col("y"))
      .as[(Long, Long, Long, Long)].collect().head
    // ece = (4*0 + 3*900000) div 7, mce = 900000
    assert(e === ((7L, 2L, 2700000L / 7L, 900000L)))
  }

  test("calibrationBins: edge confidences clamp into real bins, VALUES clamped too") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq((1000000L, 1L), (1200000L, 1L), (-5L, 0L))
      .toDF("conf", "y")
    val bins = TextStats.calibrationBins(rows, col("conf"), col("y"), bins = 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // 1e6 and the out-of-range 1.2e6 land in bin 9, the negative in bin 0
    assert(bins.view.mapValues(_._2).toMap === Map(9L -> 2L, 0L -> 1L))
    // the clamp applies to the summed VALUE: bin 9 averages (1e6+1e6)/2,
    // never (1e6+1.2e6)/2, so avg/gap stay inside [0, 1e6]
    assert(bins(9L) === ((9L, 2L, 2L, 1000000L, 1000000L, 0L)))
    assert(bins(0L) === ((0L, 1L, 0L, 0L, 0L, 0L)))
  }

  test("ece on an input that filters to zero rows returns zeros, not NULLs") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq((250000L, 1L)).toDF("conf", "y").where(col("y") === 99L)
    val e = TextStats.ece(rows, col("conf"), col("y"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(e === ((0L, 0L, 0L, 0L)))
  }
}
