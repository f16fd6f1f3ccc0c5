package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  test("curate drops by source, PII, exact dup, near dup, and contamination") {
    val spark2 = spark
    import spark2.implicits._
    // every stage has exactly one victim:
    //  1 survives everything
    //  2 is an exact duplicate of 1 (higher id -> dropped at stage 3)
    //  3 is a near duplicate of 1 (same token set reordered -> same
    //    minhash band; higher id -> non-canonical, dropped at stage 4)
    //  4 contains an email (dropped at stage 2)
    //  5 shares an 8-gram with the benchmark (dropped at stage 5)
    //  6 is from a numeric junk source (whole source dropped at stage 1)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (3L, "theta eta zeta epsilon delta gamma beta alpha", "good"),
      (4L, "clean words here but mail me at someone@example.com today", "good"),
      (5L, "prefix the quick brown fox jumps over the lazy dog suffix", "good"),
      (6L, "1234 5678 9012 3456 7890 1234 5678 9012", "junk")
    ).toDF("doc_id", "text", "source")
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val out = Curation.curate(docs, col("text"), "doc_id", "source", bench,
        minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(out === Array(1L))
    // and with the benchmark empty, the contamination victim survives
    val noBench = Curation.curate(docs, col("text"), "doc_id", "source",
        bench.where(lit(false)),
        minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(noBench === Array(1L, 5L))
  }

  test("curateIncremental: every stage drops its victim against the corpus") {
    val spark2 = spark
    import spark2.implicits._
    // batch victims, one per stage:
    //  1 genuinely new -> survives
    //  2 contains an email (PII gate)
    //  3 exact duplicate of 1 WITHIN the batch (higher id)
    //  4 exact duplicate of corpus doc 100
    //  5 near duplicate (reordered tokens, same band) of corpus doc 101
    //  6 near duplicate of batch doc 1 (within-batch cluster, higher id)
    //  7 shares an 8-gram with the benchmark
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (2L, "clean words here but mail me at someone@example.com today", "good"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (4L, "this exact sentence already lives in the corpus", "good"),
      (5L, "nu mu lambda kappa iota psi chi phi", "good"),
      (6L, "theta eta zeta epsilon delta gamma beta alpha", "good"),
      (7L, "prefix the quick brown fox jumps over the lazy dog suffix", "good")
    ).toDF("doc_id", "text", "source")
    val corpus = Seq(
      (100L, "this exact sentence already lives in the corpus", "good"),
      (101L, "phi chi psi iota kappa lambda mu nu", "good")
    ).toDF("doc_id", "text", "source")
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val out = Curation.curateIncremental(batch, corpus, col("text"), "doc_id",
        "source", bench, minDocs = 1, minAlphaBp = 5000, numHashes = 2,
        maxBucketSize = 100, n = 8)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(out === Array(1L))
    // with an empty corpus and benchmark, only batch-internal stages act
    val emptyCorpus = corpus.where(lit(false))
    val out2 = Curation.curateIncremental(batch, emptyCorpus, col("text"),
        "doc_id", "source", bench.where(lit(false)), minDocs = 1,
        minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(out2 === Array(1L, 4L, 5L, 7L))
  }

  test("curate keepBest elects the longest cluster member, not the min id") {
    val spark2 = spark
    import spark2.implicits._
    // 1 and 3 share a token set (same minhash band); 3 has MORE tokens
    // (a superset doc), so keepBest elects 3 where the default keeps 1
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (3L, "theta eta zeta epsilon delta gamma beta alpha alpha beta", "good"),
      (7L, "completely different words live in this document here", "good")
    ).toDF("doc_id", "text", "source")
    val noBench = Seq.empty[String].toDF("text")
    def run(best: Boolean) = Curation.curate(docs, col("text"), "doc_id", "source",
        noBench, minDocs = 1, minAlphaBp = 5000, numHashes = 2,
        maxBucketSize = 100, n = 8, keepBest = best)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(run(false) === Array(1L, 7L))
    assert(run(true) === Array(3L, 7L))
  }

  test("curate with the composed quality gate drops what PII-only keeps") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.ext.TextStats
    // doc 7 is PII-free but pure repetition: the default (PII-only) stage
    // 2 keeps it; the composed gate's repetition rule fells it
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (7L, "spam spam spam spam spam spam spam spam", "good")
    ).toDF("doc_id", "text", "source")
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    def run(gate: Option[TextStats.QualityThresholds]) =
      Curation.curate(docs, col("text"), "doc_id", "source", bench,
          minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100,
          n = 8, gate = gate)
        .select(col("doc_id")).as[Long].collect().sorted
    assert(run(None) === Array(1L, 7L))
    assert(run(Some(TextStats.QualityThresholds(
      minTokens = 3, maxTokens = 100, minAlphaBp = 5000, maxPii = 0,
      minDistinctBp = 5000, maxTopTokenBp = 3000))) === Array(1L))
  }

  test("curate releases its internal caches — only the survivor checkpoint remains") {
    val spark2 = spark
    import spark2.implicits._
    val sc = spark.sparkContext
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (3L, "theta eta zeta epsilon delta gamma beta alpha", "good")
    ).toDF("doc_id", "text", "source")
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val before = sc.getPersistentRDDs.keySet
    val out = Curation.curate(docs, col("text"), "doc_id", "source", bench,
      minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
    val leaked = sc.getPersistentRDDs.keySet -- before
    // curate is eager: by return time the stage-3 persist and the
    // component loop's checkpoints are released; only the survivor
    // checkpoint (which `out` references) may remain
    assert(leaked.size <= 1, s"leaked persistent RDDs: $leaked")
    assert(out.select(col("doc_id")).as[Long].collect().sorted === Array(1L))
    graft.core.Checkpoints.release(out)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("curateIncremental releases its internal caches — only the survivor checkpoint remains") {
    val spark2 = spark
    import spark2.implicits._
    val sc = spark.sparkContext
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "good")
    ).toDF("doc_id", "text", "source")
    val corpus = Seq(
      (100L, "iota kappa lambda mu nu xi omicron pi", "good")
    ).toDF("doc_id", "text", "source")
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val before = sc.getPersistentRDDs.keySet
    val out = Curation.curateIncremental(batch, corpus, col("text"), "doc_id",
      "source", bench, minDocs = 1, minAlphaBp = 5000, numHashes = 2,
      maxBucketSize = 100, n = 8)
    val leaked = sc.getPersistentRDDs.keySet -- before
    // by return time the stage-3 persist, the batch-sized `fresh`
    // checkpoint (round 18), and the component loop's checkpoints are
    // all released; only the survivor checkpoint `out` references remains
    assert(leaked.size <= 1, s"leaked persistent RDDs: $leaked")
    assert(out.select(col("doc_id")).as[Long].collect().sorted === Array(1L))
    graft.core.Checkpoints.release(out)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("curateIncremental rejects batch columns that collide with signature names") {
    val spark2 = spark
    import spark2.implicits._
    val batch = Seq((1L, "alpha beta gamma", "good", 9L))
      .toDF("doc_id", "text", "source", "mh0")
    val corpus = Seq((100L, "iota kappa lambda", "good"))
      .toDF("doc_id", "text", "source")
    val bench = Seq("unrelated").toDF("text")
    val e = intercept[IllegalArgumentException] {
      Curation.curateIncremental(batch, corpus, col("text"), "doc_id",
        "source", bench, minDocs = 1, minAlphaBp = 5000, numHashes = 2,
        maxBucketSize = 100, n = 8)
    }
    assert(e.getMessage.contains("mh0"))
  }

  test("curateIncremental rejects a batch column named _h, before any work registers") {
    val spark2 = spark
    import spark2.implicits._
    val sc = spark.sparkContext
    val batch = Seq((1L, "alpha beta gamma", "good", "x"))
      .toDF("doc_id", "text", "source", "_h")
    val corpus = Seq((100L, "iota kappa lambda", "good"))
      .toDF("doc_id", "text", "source")
    val bench = Seq("unrelated").toDF("text")
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Curation.curateIncremental(batch, corpus, col("text"), "doc_id",
        "source", bench, minDocs = 1, minAlphaBp = 5000, numHashes = 2,
        maxBucketSize = 100, n = 8)
    }
    assert(e.getMessage.contains("_h"))
    // the guard is hoisted above every stage: a rejected batch must not
    // leave a persist marker behind (the ADVICE round-18 error path)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("curate does not release caller-supplied checkpoint-backed inputs") {
    val spark2 = spark
    import spark2.implicits._
    // checkpoint-backed inputs: the caller's only copy of the data. A
    // blanket release of every LogicalRDD leaf in the lazy plan would
    // free these blocks; the scoped release must leave them readable.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (3L, "theta eta zeta epsilon delta gamma beta alpha", "good")
    ).toDF("doc_id", "text", "source").localCheckpoint(true)
    val bench = Seq("the quick brown fox jumps over the lazy dog")
      .toDF("text").localCheckpoint(true)
    val out = Curation.curate(docs, col("text"), "doc_id", "source", bench,
      minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
    assert(out.select(col("doc_id")).as[Long].collect().sorted === Array(1L))
    // the inputs' checkpoint blocks must still be there
    assert(docs.count() === 3L)
    assert(bench.count() === 1L)
    // and one curate's (checkpoint-backed) output feeds another curate
    val out2 = Curation.curate(out, col("text"), "doc_id", "source", bench,
      minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
    assert(out2.select(col("doc_id")).as[Long].collect().sorted === Array(1L))
    assert(out.count() === 1L) // first output survives the second call
    graft.core.Checkpoints.release(out)
    graft.core.Checkpoints.release(out2)
    graft.core.Checkpoints.release(docs)
    graft.core.Checkpoints.release(bench)
  }

  test("curateSoft keeps near dups with weights, still hard-drops the rest") {
    val spark2 = spark
    import spark2.implicits._
    // the curate fixture: 1/2 exact dups, 3 a near dup of 1, 4 PII,
    // 5 contaminated, 6 junk source
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (3L, "theta eta zeta epsilon delta gamma beta alpha", "good"),
      (4L, "clean words here but mail me at someone@example.com today", "good"),
      (5L, "prefix the quick brown fox jumps over the lazy dog suffix", "good"),
      (6L, "1234 5678 9012 3456 7890 1234 5678 9012", "junk")
    ).toDF("doc_id", "text", "source")
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val out = Curation.curateSoft(docs, col("text"), "doc_id", "source", bench,
        minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"), col("weight_bp"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // 2 (exact dup), 4 (PII), 5 (contaminated), 6 (junk source) still
    // hard-dropped; 3 SURVIVES at half weight in 1's cluster
    assert(out.toSeq === Seq(
      (1L, 1L, 2L, 5000L),
      (3L, 1L, 2L, 5000L)))
  }

  // the first test's fixture (one victim per stage) and the second
  // test's incremental fixture, shared by the lifecycle specs below
  private def curateFixture = {
    val spark2 = spark
    import spark2.implicits._
    (Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (3L, "theta eta zeta epsilon delta gamma beta alpha", "good"),
      (4L, "clean words here but mail me at someone@example.com today", "good"),
      (5L, "prefix the quick brown fox jumps over the lazy dog suffix", "good"),
      (6L, "1234 5678 9012 3456 7890 1234 5678 9012", "junk")
    ).toDF("doc_id", "text", "source"),
      Seq("the quick brown fox jumps over the lazy dog").toDF("text"))
  }

  private def incrementalFixture = {
    val spark2 = spark
    import spark2.implicits._
    (Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (2L, "clean words here but mail me at someone@example.com today", "good"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "good"),
      (4L, "this exact sentence already lives in the corpus", "good"),
      (5L, "nu mu lambda kappa iota psi chi phi", "good"),
      (6L, "theta eta zeta epsilon delta gamma beta alpha", "good"),
      (7L, "prefix the quick brown fox jumps over the lazy dog suffix", "good")
    ).toDF("doc_id", "text", "source"),
      Seq(
        (100L, "this exact sentence already lives in the corpus", "good"),
        (101L, "phi chi psi iota kappa lambda mu nu", "good")
      ).toDF("doc_id", "text", "source"))
  }

  private val curations: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "curate" -> { (docs, bench) =>
      Curation.curate(docs, col("text"), "doc_id", "source", bench,
        minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
    },
    "curateSoft" -> { (docs, bench) =>
      Curation.curateSoft(docs, col("text"), "doc_id", "source", bench,
        minDocs = 1, minAlphaBp = 5000, numHashes = 2, maxBucketSize = 100, n = 8)
    },
    "curateIncremental" -> { (_, bench) =>
      val (batch, corpus) = incrementalFixture
      Curation.curateIncremental(batch, corpus, col("text"), "doc_id",
        "source", bench, minDocs = 1, minAlphaBp = 5000, numHashes = 2,
        maxBucketSize = 100, n = 8)
    })

  test("a curation pass that throws in stage 5 frees every cache and checkpoint it made") {
    // the benchmark is read only by decontamination, so a benchmark text
    // column that throws fails the pass after stages 1-4 have persisted
    // the exact-dedup reuse point and checkpointed the cluster rounds
    val boom = udf((s: String) => {
      if (s != null) throw new IllegalStateException("benchmark text unreadable")
      s
    })
    val (docs, bench) = curateFixture
    val badBench = bench.select(boom(col("text")).as("text"))
    val leaks = curations.flatMap { case (name, run) =>
      // a cache entry left by an earlier case would be reused, hiding
      // this case's own leak of the same plan
      spark.catalog.clearCache()
      val before = materializations
      val e = intercept[Exception](run(docs, badBench))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.toString.contains("benchmark text unreadable")), s"$name: $e")
      val after = materializations
      if (after == before) None else Some((name, before, after))
    }
    assert(leaks.isEmpty)
  }

  test("curation passes run a pinned number of Spark jobs") {
    // the counts of the eager passes on the fixture above, with no cached
    // plan left to reuse. They pin two things: the lifecycle bookkeeping
    // (what is freed, and when) adds or removes no job, and stage 4 runs
    // as one bucket checkpoint plus an aggregate (Dedup.bandClusters),
    // not the pair self-join and component rounds it replaced, which ran
    // 24 / 25 / 30 jobs here
    val (docs, bench) = curateFixture
    val counts = curations.map { case (name, run) =>
      spark.catalog.clearCache()
      var out: DataFrame = null
      val jobs = jobsOf { out = run(docs, bench) }
      graft.core.Checkpoints.release(out)
      name -> jobs
    }
    assert(counts === Seq("curate" -> 16, "curateSoft" -> 16,
      "curateIncremental" -> 24))
  }
}
