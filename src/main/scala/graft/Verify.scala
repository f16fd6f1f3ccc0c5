package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=qXX,qYY verifies a subset (same contract as Bench's
    // filter) — local iteration only; the driver runs unfiltered. The
    // oracle dump is filtered too, so check.py checks exactly what ran.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep[V](m: Map[String, V]): Map[String, V] =
      only.fold(m)(o => m.view.filterKeys(o).toMap)
    keep(SparkEntry.queries).foreach { case (name, fn) =>
      spark.catalog.clearCache() // per-query isolation (some queries cache)
      // delete any previous output FIRST: a failing query must leave no
      // stale result from an earlier run for the driver to compare against
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) {
        target.listFiles().foreach(_.delete())
        target.delete()
      }
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // release builder-internal localCheckpoints (persistSignatures,
        // eager curation stages) now that the frame is fully consumed
        graft.core.Checkpoints.release(df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = keep(SparkEntry.oracleSql)
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
