package graft

/** Prints each named query's formatted physical plan, on the session
  * Bench and Verify run (`local[8]`):
  * `runMain graft.Explain <sfDir> <query>...`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session("8")
    args.drop(1).foreach { q =>
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, args(0)).explain("formatted")
    }
    spark.stop()
  }
}
