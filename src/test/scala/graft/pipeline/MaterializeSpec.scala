package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaterializeSpec extends SparkSpec {

  /** The `_`-prefixed manifest is invisible to Spark path readers (by
    * design); read it as raw JSONL lines. */
  private def readManifest(dir: String) = {
    import scala.jdk.CollectionConverters._
    val spark2 = spark
    import spark2.implicits._
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(dir, "_manifest.jsonl"))
      .asScala.toSeq
    spark.read.json(spark.createDataset(lines))
  }

  private def fixture(n: Int) = {
    val spark2 = spark
    import spark2.implicits._
    (0 until n).map { i =>
      val lang = if (i % 3 == 0) "de" else "en"
      val words = (0 to i % 7).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, lang, words)
    }.toDF("doc_id", "lang", "text")
  }

  test("trainingShards writes partitioned, packed, manifested shards") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val docs = fixture(100)
    val summary = Materialize.trainingShards(docs, col("text"), "doc_id", "lang",
        seqLen = 16L, seqsPerShard = 2L, seed = 7L, outDir = dir)
      .as[(String, Long, Long, Long)].collect()
    // every document lands in exactly one shard
    assert(summary.map(_._3).sum === 100L)
    // shards are contiguous per stratum from 0
    for ((lang, shards) <- summary.groupBy(_._1))
      assert(shards.map(_._2).sorted.toSeq === (0L until shards.length).toSeq, lang)
    // read-back: ids partition cleanly, text survives, layout is coherent
    val back = spark.read.parquet(dir)
    assert(back.count() === 100)
    assert(back.select("id").distinct().count() === 100)
    // within a stratum, shard order == position order: a doc's first
    // sequence never precedes a lower shard's range
    val rows = back.select("stratum", "shard", "ord", "seq_first")
      .as[(String, Long, Long, Long)].collect()
    for ((_, g) <- rows.groupBy(_._1)) {
      val byOrd = g.sortBy(_._3)
      assert(byOrd.map(_._4).toSeq === byOrd.map(_._4).sorted.toSeq)
      assert(byOrd.map(_._2).toSeq === byOrd.map(_._2).sorted.toSeq)
      // geometry: shard = seq_first div seqsPerShard
      assert(g.forall(r => r._2 === r._4 / 2))
    }
    // manifest: one row per data file, written next to the data
    val manifest = readManifest(dir)
    assert(manifest.count() > 0)
    val nFiles = graft.io.Manifest.listDataFiles(spark, dir)
      .count(!_._1.endsWith("_manifest.jsonl"))
    assert(manifest.count() === nFiles)
  }

  test("trainingShards is deterministic: same seed, same checksums; new seed reshuffles") {
    val spark2 = spark
    import spark2.implicits._
    val docs = fixture(60)
    def checksums(dir: String, seed: Long): Map[String, Long] = {
      Materialize.trainingShards(docs, col("text"), "doc_id", "lang",
        seqLen = 16L, seqsPerShard = 2L, seed = seed, outDir = dir)
      readManifest(dir)
        .select("file", "content_sum")
        .as[(String, Long)].collect().toMap
    }
    val d1 = java.nio.file.Files.createTempDirectory("graft-shards-a").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-shards-b").toString
    val d3 = java.nio.file.Files.createTempDirectory("graft-shards-c").toString
    val a = checksums(d1, seed = 7L)
    val b = checksums(d2, seed = 7L)
    // identical geometry + seed -> byte-identical shard contents
    assert(a.keySet.map(_.split('/').init.mkString("/")) ===
      b.keySet.map(_.split('/').init.mkString("/")))
    def byDir(m: Map[String, Long]) =
      m.groupBy(_._1.split('/').init.mkString("/")).view
        .mapValues(_.values.toSet).toMap
    assert(byDir(a) === byDir(b))
    // a different seed produces a different assignment
    val c = checksums(d3, seed = 8L)
    assert(byDir(a) !== byDir(c))
  }

  test("trainingShards: manifest per-shard-dir row counts equal the summary's n_docs") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-ce").toString
    val docs = fixture(80)
    val summary = Materialize.trainingShards(docs, col("text"), "doc_id", "lang",
        seqLen = 16L, seqsPerShard = 2L, seed = 7L, outDir = dir)
      .as[(String, Long, Long, Long)].collect()
    // the count-equivalence contract (the RDF manifest-audit pattern):
    // summing the manifest's per-file n_rows by shard directory must
    // reproduce the summary's n_docs exactly — the manifest can stand in
    // for a count-back audit on a restored shard tree
    val fromManifest = readManifest(dir)
      .select(col("file"), col("n_rows").cast("long").as("n"))
      .as[(String, Long)].collect()
      .groupBy(_._1.split('/').init.mkString("/"))
      .view.mapValues(_.map(_._2).sum).toMap
    val fromSummary = summary
      .map(r => s"stratum=${r._1}/shard=${r._2}" -> r._3).toMap
    assert(fromManifest === fromSummary)
  }

  test("trainingShards summary is metadata-only and token-exact (manifest extras, no second shard scan)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-md").toString
    val docs = fixture(70)
    val summaryDf = Materialize.trainingShards(docs, col("text"), "doc_id",
      "lang", seqLen = 16L, seqsPerShard = 2L, seed = 7L, outDir = dir)
    // the returned summary rolls up the manifest's per-file extras — it
    // must NOT pay a second scan of the shard tree (checkpoint-backed,
    // zero parquet scans in the returned plan)
    assert(!summaryDf.queryExecution.executedPlan.toString.contains("Scan parquet"))
    val got = summaryDf.as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // and it must equal the recount the old shape computed
    val expected = spark.read.parquet(dir)
      .groupBy(col("stratum"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got === expected)
    // the manifest carries the extras it was rolled up from
    val man = readManifest(dir)
    assert(man.columns.toSet.intersect(Set("stratum", "shard", "n_tok_sum")).size === 3)
  }
}
