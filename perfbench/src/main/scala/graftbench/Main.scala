package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. One client thread runs a closed loop of one
  * workload's operations against a `local[4]` session and writes raw
  * samples (the wall-clock end of set-up, the warm-up's length,
  * per-operation latencies by round, failures, per-layer figures) to
  * `<out>/result.json`; `perfbench/run.py` checks the outputs and turns
  * the samples into metrics.
  *
  * Usage: `graftbench.Main --workload etl|curate --seed N --seconds S
  *   --trace 0|1 --tables DIR --ttl DIR --triples JSON --out DIR`
  * (`--triples`: the generated triple count of each ttl dataset).
  *
  * `--trace 1` runs one round with spans, the listener and the per-layer
  * calls on, and writes the workload's per-layer table instead of timing
  * a loop.
  */
object Main {

  val Cores = 4
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      tables: String, ttl: String, triples: Map[String, Long], out: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val mapper = new ObjectMapper()
    val triples = m.get("triples").map { j =>
      val node = mapper.readTree(j)
      node.fieldNames().asScala.map(k => k -> node.get(k).asLong()).toMap
    }.getOrElse(Map.empty)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("tables", ""),
      m.getOrElse("ttl", ""), triples, m("out"))
  }

  def session(out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, a: Args, tracer: Tracer, traced: Boolean): Workload = name match {
    case "etl" => new EtlWorkload(a.ttl, a.triples, s"${a.out}/etl", tracer)
    case "curate" => new CurateWorkload(a.tables, a.seed, a.out, tracer, traced)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Samples of one workload's loop: `ops` the latency of every timed
    * operation that passed, with its round; `runs` every execution (warm-up
    * included) and whether it completed and passed its follow-up's check. */
  final class Loop {
    val ops = mutable.ArrayBuffer.empty[(String, Int, Double)]
    val runs = mutable.ArrayBuffer.empty[(String, Boolean)]
  }

  /** One operation: the timed call, then its untimed follow-up. Returns the
    * latency, or None if either part threw. */
  def runOp(spark: SparkSession, w: Workload, op: String, check: Boolean,
      tracer: Tracer, loop: Loop): Option[Double] = {
    val r = try {
      val t0 = System.nanoTime()
      val followUp = tracer.span(s"op:$op")(w.exec(spark, op, check))
      val s = (System.nanoTime() - t0) / 1e9
      followUp()
      Some(s)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $op failed: $e")
        None
    }
    loop.runs += (op -> r.isDefined)
    r
  }

  /** The untimed warm-up round: every operation once, in a fixed order,
    * with its outputs kept for checking. It absorbs the session's JIT and
    * code generation, which would otherwise land on whichever operation
    * the seed puts first. */
  def warmUp(spark: SparkSession, w: Workload, tracer: Tracer, loop: Loop): Unit =
    w.ops(-1).foreach(op => runOp(spark, w, op, check = true, tracer, loop))

  /** Round `k`: its operations in order, each sample kept. */
  def round(spark: SparkSession, w: Workload, k: Int, tracer: Tracer, loop: Loop): Unit =
    w.ops(k).foreach(op =>
      runOp(spark, w, op, check = false, tracer, loop).foreach(s => loop.ops += ((op, k, s))))

  /** Timed rounds after the warm-up: a round starts while it is expected
    * (from the previous round's wall, follow-ups included) to end within
    * `seconds`, and at least one round runs. */
  def measure(spark: SparkSession, w: Workload, seconds: Double, tracer: Tracer, loop: Loop): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    var last = 0L
    while (k == 0 || System.nanoTime() + last <= deadline) {
      val r0 = System.nanoTime()
      round(spark, w, k, tracer, loop)
      last = System.nanoTime() - r0
      k += 1
    }
  }

  /** The loop's samples, plus the oracle SQL of every checked query. */
  def loopJson(l: Loop, w: Workload): Map[String, Any] = {
    val checked = w.ops(-1).distinct
    Map(
      "ops" -> l.ops.map { case (n, k, s) => Seq(n, k, s) },
      "runs" -> l.runs.map { case (n, ok) => Seq(n, ok) },
      "checked" -> checked,
      "facts" -> w.facts,
      "oracle" -> (w match {
        case _: CurateWorkload => checked.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
        case _ => Map.empty
      }))
  }

  /** Per-layer table of one traced round: span self times grouped by
    * layer, listener counters over the round's operations, and the layer
    * functions timed alone. The follow-ups run outside every span, so
    * their check jobs are not charged to the round. Every span of the
    * round and of the layer calls is written to `<out>/spans.json`. */
  def traceRound(spark: SparkSession, w: Workload, tracer: Tracer, listener: SpanListener,
      loop: Loop, out: String): Map[String, Double] = {
    val before = tracer.spans.size
    round(spark, w, 0, tracer, loop)
    listener.drain(spark.sparkContext)
    val spans = tracer.spans.drop(before)
    val wall = loop.ops.map(_._3).sum
    val c = listener.total(spans.map(_.id))
    val mb = 1024.0 * 1024.0
    val sparkLayer = Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.tasks_per_stage" -> c.tasks.toDouble / math.max(1L, c.stages),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / mb, "spark.spill_mb" -> c.spillBytes / mb,
      "spark.peak_task_mem_mb" -> c.peakTaskMemBytes / mb,
      "spark.executor_run_s" -> c.runMs / 1e3, "spark.executor_cpu_s" -> c.cpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1e3, "spark.busy_frac" -> c.runMs / 1e3 / (wall * Cores),
      "spark.exec_s" -> c.jobMs / 1e3)
    val layers = w.layers(spark, spans, listener)
    listener.drain(spark.sparkContext)
    Files.write(Paths.get(out, "spans.json"), json.writeValueAsBytes(tracer.spans.drop(before).map { s =>
      val c = listener.total(Seq(s.id))
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "seconds" -> s.seconds,
        "self_seconds" -> tracer.selfSeconds(s), "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks)
    }))
    (layers ++ sparkLayer + ("bench.round_s" -> wall)).map { case (k, v) => s"${w.name}.$k" -> v }
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val tracer = new Tracer
    val spark = session(a.out)
    val w = workload(a.workload, a, tracer, a.trace)
    w.load(spark)
    val listener = if (!a.trace) None else {
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      tracer.sc = Some(spark.sparkContext)
      Some(l)
    }
    val loop = new Loop
    val w0 = System.nanoTime()
    warmUp(spark, w, tracer, loop)
    val warmUpS = (System.nanoTime() - w0) / 1e9
    // wall-clock end of set-up, so run.py can time set-up from its own start
    val setUpEnd = Instant.now()
    val steal = new graft.core.Steal.Meter
    val layers = listener match {
      case Some(l) => traceRound(spark, w, tracer, l, loop, a.out)
      case None =>
        measure(spark, w, a.seconds, tracer, loop)
        Map.empty[String, Double]
    }
    val result = Map(
      "set_up_end_s" -> (setUpEnd.getEpochSecond + setUpEnd.getNano / 1e9),
      "warm_up_s" -> warmUpS,
      "workload" -> (loopJson(loop, w) ++ Map("steal_pct" -> steal.pct(), "layers" -> layers)))
    spark.stop()
    Files.write(Paths.get(a.out, "result.json"), json.writeValueAsBytes(result))
  }
}
