package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one JVM-wide
  * session, tests run fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()

  /** The context's persistent RDD ids and the CacheManager's entry count:
    * what a call that throws must leave as it found them. */
  def materializations: (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      org.apache.spark.sql.SpecCache.entries(spark))

  /** Spark jobs started while `body` runs, counted by a listener and read
    * after the listener bus has drained. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    org.apache.spark.SpecBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.SpecBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
