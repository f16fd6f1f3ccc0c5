package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one JVM-wide
  * session, tests run fast). Each suite prints its wall time and the
  * hypervisor steal% over it ([[graft.core.Steal]]), so a test-time
  * comparison between two runs can be read against the contention each
  * run saw. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private var suiteStart = 0L
  private var suiteSteal: graft.core.Steal.Meter = _

  override def beforeAll(): Unit = {
    suiteStart = System.nanoTime()
    suiteSteal = new graft.core.Steal.Meter
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    try super.afterAll()
    finally println(f"[suite] $suiteName%s wall_s=${(System.nanoTime() - suiteStart) / 1e9}%.1f " +
      f"steal_pct=${suiteSteal.pct()}%.2f")
  }

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
