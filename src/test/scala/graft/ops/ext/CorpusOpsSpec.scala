package graft.ops.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-9 corpus operators: Hamming-ball pairs, bounded-memory heavy
  * hitters, distributed rank / serpentine shards / shuffle order,
  * embedding drift, waterfilling allocation, soft-dedup weights, n-gram
  * novelty. Each is checked against a brute-force or hand-computed
  * reference and, where the operator's contract is layout independence,
  * against a repartitioned run. */
class CorpusOpsSpec extends SparkSpec {

  test("simhashHammingPairs matches the brute-force Hamming filter (complete cover)") {
    val spark2 = spark
    import spark2.implicits._
    // three boilerplate variants (near-identical token sets -> close
    // signatures), two unrelated docs
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "the quick brown fox jumps over the lazy dog again and twice"),
      (4L, "entirely different content about astronomy telescopes and stars"),
      (5L, "unrelated text regarding cooking recipes with garlic and basil"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashHammingPairs(docs, "doc_id", col("text"), maxDist = 3)
      .as[(Long, Long, Long)].collect().sortBy(p => (p._1, p._2))
    // brute force: all pairs, exact popcount filter
    val sig = docs.select(col("doc_id"), Dedup.simhashText(col("text")).as("s"))
    val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.s").bitwiseXOR(col("b.s"))).cast("long").as("d"))
      .where(col("d") <= 3)
      .as[(Long, Long, Long)].collect().sortBy(p => (p._1, p._2))
    assert(got.toSeq === brute.toSeq)
    assert(got.nonEmpty, "fixture must produce at least one close pair")
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhashHammingPairs bucket cap drops oversized blocks like the LSH guard") {
    val spark2 = spark
    import spark2.implicits._
    // 6 identical docs: every block bucket has size 6 > cap 5 -> no pairs
    val docs = (1L to 6L).map(i => (i, "same text for every single doc"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashHammingPairs(docs, "doc_id", col("text"),
      maxDist = 3, maxBucketSize = Some(5))
    assert(capped.count() === 0L)
    val uncapped = Dedup.simhashHammingPairs(docs, "doc_id", col("text"), maxDist = 3)
    assert(uncapped.count() === 15L) // 6 choose 2
  }

  test("persistSignatures: block legs read ONE checkpointed signature projection") {
    val spark2 = spark
    import spark2.implicits._
    // repartition blocks ConvertToLocalRelation: over a bare LocalRelation
    // the optimizer would constant-fold the kernel out of the plan
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "entirely different content about astronomy telescopes and stars"))
      .toDF("doc_id", "text").repartition(2)
    // flag OFF: each of the maxDist+1 = 4 block legs re-plans the kernel
    // on BOTH self-join sides — 8 planned kernel evaluations total
    val off = Dedup.simhashHammingPairs(docs, "doc_id", col("text"), maxDist = 3)
    val kernelCountOff = "graft_simhash".r
      .findAllIn(off.queryExecution.optimizedPlan.toString).length
    assert(kernelCountOff === 8, s"expected 2x4 kernel legs, got $kernelCountOff")
    // flag ON: the kernel ran ONCE during checkpoint materialization —
    // the result plan reads the checkpointed rows and plans ZERO kernels
    val on = Dedup.simhashHammingPairs(docs, "doc_id", col("text"), maxDist = 3,
      persistSignatures = true)
    val planOn = on.queryExecution.optimizedPlan.toString
    assert(!planOn.contains("graft_simhash"), planOn)
    assert(planOn.contains("LogicalRDD"), planOn)
    // identical output, then release the operator-owned checkpoint
    val offRows = off.as[(Long, Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    val onRows = on.as[(Long, Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(onRows === offRows)
    graft.core.Checkpoints.release(on)
  }

  test("persistSignatures: multi-band LSH computes a derived signature frame once") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "unrelated words entirely here now")).toDF("doc_id", "text")
      .repartition(2) // block ConvertToLocalRelation (see above)
    val sig = Dedup.withMinhashSignature(docs, col("text"), numHashes = 4)
    val bands = Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3"))
    // 2 bands x both self-join sides = 4 planned kernel evaluations
    val off = Dedup.lshCandidatePairsMultiBand(sig, "doc_id", bands)
    assert("graft_token_minhash".r
      .findAllIn(off.queryExecution.optimizedPlan.toString).length === 4)
    val on = Dedup.lshCandidatePairsMultiBand(sig, "doc_id", bands,
      persistSignatures = true)
    val planOn = on.queryExecution.optimizedPlan.toString
    assert(!planOn.contains("graft_token_minhash"), planOn)
    val offRows = off.as[(Long, Long)].collect().sortBy(identity).toSeq
    val onRows = on.as[(Long, Long)].collect().sortBy(identity).toSeq
    assert(onRows === offRows)
    graft.core.Checkpoints.release(on)
  }

  test("heavyHitters returns exactly the frequency-threshold set, any layout") {
    val spark2 = spark
    import spark2.implicits._
    // "a" in every doc (freq 40), "b" in half (20), the rest unique
    val docs = (1L to 40L).map { i =>
      val b = if (i % 2 == 0) " b" else s" u$i"
      (i, s"a$b w$i")
    }.toDF("doc_id", "text")
    // N = 120 tokens; k = 3 -> threshold N/(k+1) = 30: only "a" qualifies
    val got = TextStats.heavyHitters(docs, col("text"), k = 3)
      .as[(String, Long)].collect().toSeq.sorted
    assert(got === Seq(("a", 40L)))
    // k = 5 -> threshold 20: "a" qualifies, "b" at exactly 20 does NOT
    // (strict >) — the boundary case
    val k5 = TextStats.heavyHitters(docs, col("text"), k = 5)
      .as[(String, Long)].collect().toSeq.sorted
    assert(k5 === Seq(("a", 40L)))
    // k = 7 -> threshold 15: both
    val k7 = TextStats.heavyHitters(docs, col("text"), k = 7)
      .as[(String, Long)].collect().toSeq.sorted
    assert(k7 === Seq(("a", 40L), ("b", 20L)))
    // layout independence: the per-partition sketch may emit different
    // CANDIDATES under a different partitioning, but the confirmed
    // output must not move
    val re = TextStats.heavyHitters(docs.repartition(7), col("text"), k = 7)
      .as[(String, Long)].collect().toSeq.sorted
    assert(re === k7)
  }

  test("rankBy matches the single-task window reference on any layout") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 30L), (2L, 10L), (3L, 30L), (4L, 50L), (5L, 10L))
      .toDF("id", "n")
    val got = Packing.rankBy(df.repartition(4), "id", col("n"), desc = true)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // desc by n, id breaks ties: 4(50)->1, 1(30)->2, 3(30)->3, 2(10)->4, 5(10)->5
    assert(got.toSeq === Seq((1L, 30L, 2L), (2L, 10L, 4L), (3L, 30L, 3L),
      (4L, 50L, 1L), (5L, 10L, 5L)))
    val asc = Packing.rankBy(df, "id", col("n"), desc = false)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(asc.toSeq === Seq((1L, 30L, 3L), (2L, 10L, 1L), (3L, 30L, 4L),
      (4L, 50L, 5L), (5L, 10L, 2L)))
  }

  test("snakeShards balances heavy-tailed loads within one max item") {
    val spark2 = spark
    import spark2.implicits._
    // heavy-tailed sizes: 100, 90, ..., plus a tail of small docs
    val rows = ((1L to 10L).map(i => (i, 110L - i * 10L)) ++
      (11L to 30L).map(i => (i, 5L))).toDF("doc_id", "n_tok")
    val out = Packing.snakeShards(rows, "doc_id", col("n_tok"), numShards = 4)
    val loads = out.groupBy(col("shard")).agg(sum(col("n")).as("load"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(loads.length === 4)
    val ls = loads.map(_._2)
    // serpentine keeps shard loads within the largest item of each other
    assert(ls.max - ls.min <= 100L, s"loads: ${ls.toSeq}")
    // shard ids cycle 0..S-1 then S-1..0 in rank order
    val byRank = out.orderBy(col("rank")).select(col("shard"))
      .as[Long].collect().toSeq
    assert(byRank.take(8) === Seq(0L, 1L, 2L, 3L, 3L, 2L, 1L, 0L))
  }

  test("shuffleOrder is a seeded permutation, stable across layouts") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = Packing.shuffleOrder(df, "doc_id", seed = 42L)
      .select(col("id"), col("ord")).as[(Long, Long)].collect().sortBy(_._1)
    assert(a.map(_._2).sorted.toSeq === (1L to 100L).toSeq) // a permutation
    assert(a.map(_._2).toSeq !== (1L to 100L).toSeq) // that actually shuffles
    val b = Packing.shuffleOrder(df.repartition(7), "doc_id", seed = 42L)
      .select(col("id"), col("ord")).as[(Long, Long)].collect().sortBy(_._1)
    assert(b.toSeq === a.toSeq)
    val c = Packing.shuffleOrder(df, "doc_id", seed = 43L)
      .select(col("id"), col("ord")).as[(Long, Long)].collect().sortBy(_._1)
    assert(c.toSeq !== a.toSeq) // a different seed is a different order
  }

  test("dimensionDrift computes exact per-dim means and shift") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (3L, Seq(3.0f, 0.5f)), // slice A (odd ids)
      (2L, Seq(0.0f, 1.0f)), (4L, Seq(2.0f, 1.5f))) // slice B
      .toDF("id", "vec")
    val out = Similarity.dimensionDrift(vecs, col("vec"), col("id") % 2 === 1)
      .as[(Long, Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(out.length === 2)
    val (d0, d1) = (out(0), out(1))
    assert(d0 === ((0L, 2L, 2L, 2.0, 1.0, 1.0)))
    assert(d1 === ((1L, 2L, 2L, 0.25, 1.25, 1.0)))
  }

  test("waterfillAlloc: equal shares, small sources keep their capacity, never over budget") {
    val spark2 = spark
    import spark2.implicits._
    // capacities: a=100, b=400, c=1000
    val docs = (Seq.fill(1)("a") ++ Seq.fill(4)("b") ++ Seq.fill(10)("c"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s, 100L) }
      .toDF("id", "src", "tok")
    def alloc(budget: Long): Map[String, Long] =
      Sampling.waterfillAlloc(docs, col("src"), col("tok"), budget)
        .as[(String, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    // budget >= total: everyone full
    assert(alloc(2000L) === Map("a" -> 100L, "b" -> 400L, "c" -> 1000L))
    // tight budget, all sources capped by the level: 300 -> 100 each
    assert(alloc(300L) === Map("a" -> 100L, "b" -> 100L, "c" -> 100L))
    // a (100) takes its capacity, remainder splits equally: (900-100)/2=400
    assert(alloc(900L) === Map("a" -> 100L, "b" -> 400L, "c" -> 400L))
    // flooring under-fills, never overshoots
    assert(alloc(500L) === Map("a" -> 100L, "b" -> 200L, "c" -> 200L))
    val total = alloc(799L).values.sum
    assert(total <= 799L, s"allocated $total > budget")
  }

  test("ngramNovelty credits first occurrences by id order") {
    val spark2 = spark
    import spark2.implicits._
    // 3-grams; doc 1 owns "a b c"/"b c d"; doc 2 repeats them + adds one;
    // doc 3 is all fresh; doc 4 is too short for any 3-gram
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d e"), (3L, "x y z w"), (4L, "p q"))
      .toDF("doc_id", "text")
    val out = Contamination.ngramNovelty(docs, col("text"), "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 2L, 2L, 10000L), // both 3-grams first seen here
      (2L, 3L, 1L, 3333L), // "c d e" is new, the other two are doc 1's
      (3L, 2L, 2L, 10000L)))
    // doc 4 absent: shorter than n
    // layout independence of the min-id election
    val re = Contamination.ngramNovelty(docs.repartition(5), col("text"), "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(re.toSeq === out.toSeq)
  }
}
