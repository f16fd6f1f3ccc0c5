package graft.io

import graft.SparkSpec
import graft.pipeline.{Materialize, ParquetToRdf}
import java.io.{File, IOException}
import java.nio.file.Files
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions.col

/** A commit protocol whose `commitJob` throws after every task has
  * written: the failure a static `SaveMode.Overwrite` turns into a lost
  * output, because Spark deletes the target before the job runs. It is
  * armed only while `spark.sql.sources.commitProtocolClass` names it
  * ([[PublishSpec]]'s `failingCommit`). */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(job: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    throw new IOException(FailingCommitProtocol.Message)
}

object FailingCommitProtocol {
  val Message = "injected commitJob failure"
}

/** Every engine sink replaces its output through [[Publish]]: a rerun
  * that fails at commit leaves the previous output reading back equal,
  * and no staging or aside dir beside it. */
class PublishSpec extends SparkSpec {

  private val ProtocolConf = "spark.sql.sources.commitProtocolClass"

  /** Run `body` with every file commit failing; it must throw the
    * injected failure. */
  private def failingCommit(body: => Any): Unit = {
    spark.conf.set(ProtocolConf, classOf[FailingCommitProtocol].getName)
    val e = try intercept[Exception](body) finally spark.conf.unset(ProtocolConf)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains(FailingCommitProtocol.Message)),
      s"expected the injected commit failure, got: $e")
  }

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Names in `dir`: only the published outputs, no staging or aside. */
  private def entries(dir: String): Set[String] = new File(dir).list().toSet

  private def triples(rows: (String, String, String, String)*): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("s", "p", "o", "lang")
  }

  test("writeTriples: a rerun that fails at commit keeps the old output") {
    val dir = tempDir("graft-publish-pq")
    val out = s"$dir/labels.parquet"
    ParquetIO.writeTriples(triples(("<a>", "<p>", "<o>", "de"), ("<b>", "<p>", "<o>", "fr")), out)
    val before = rows(spark.read.parquet(out))
    failingCommit(ParquetIO.writeTriples(triples(("<new>", "<p>", "<o>", "en")), out))
    assert(rows(spark.read.parquet(out)) === before)
    assert(entries(dir) === Set("labels.parquet"))
  }

  test("writeSchema: a rerun that fails at commit keeps both old schema dirs") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-publish-schema")
    val old = Seq(("<p>: string .", "infobox", "de")).toDF("value", "dataset", "lang")
    val fresh = Seq(("<q>: int .", "infobox", "en")).toDF("value", "dataset", "lang")
    val names = Seq("schema.dgraph", "schema.indexed.dgraph")
    names.foreach(n => ParquetToRdf.writeSchema(old, s"$dir/$n"))
    val before = names.map(n => rows(spark.read.text(s"$dir/$n")))
    names.foreach(n => failingCommit(ParquetToRdf.writeSchema(fresh, s"$dir/$n")))
    assert(names.map(n => rows(spark.read.text(s"$dir/$n"))) === before)
    assert(entries(dir) === names.toSet)
  }

  test("writeAll: a rerun that fails at commit keeps the old output") {
    val dir = tempDir("graft-publish-rdf")
    Rdf.writeAll(Seq("aa" -> triples(("<old>", "<p>", "<o>", "de"))), dir)
    val before = rows(Rdf.read(spark, s"$dir/aa.rdf"))
    failingCommit(Rdf.writeAll(Seq("aa" -> triples(("<new>", "<p>", "<o>", "de"))), dir))
    assert(rows(Rdf.read(spark, s"$dir/aa.rdf")) === before)
    assert(entries(dir) === Set("aa.rdf"))
  }

  test("trainingShards: a rerun that fails at commit keeps the old shards") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-publish-shards")
    val out = s"$dir/shards"
    val docs = (0 until 30).map(i => (i.toLong, if (i % 2 == 0) "de" else "en", s"w$i x y"))
      .toDF("doc_id", "lang", "text")
    def shards(seed: Long) = Materialize.trainingShards(docs, col("text"), "doc_id", "lang",
      seqLen = 8L, seqsPerShard = 2L, seed = seed, outDir = out).collect()
    shards(7L)
    val before = rows(spark.read.parquet(out))
    failingCommit(shards(8L))
    assert(rows(spark.read.parquet(out)) === before)
    assert(entries(dir) === Set("shards"))
  }
}
