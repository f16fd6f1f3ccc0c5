package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One closed interval of benchmark work, in `System.nanoTime` units.
  * `parent` is the id of the span that was open when this one started
  * (-1 for a root span). */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

object Span {

  /** Self time: the span's duration minus the part of its interval that
    * its children cover. Children are clipped to the parent and their
    * overlaps counted once, so the result is never negative. */
  def selfSeconds(span: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => s < e }
      .sortBy(_._1)
    var covered = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > runEnd) {
        if (runEnd != Long.MinValue) covered += runEnd - runStart
        runStart = s
        runEnd = e
      } else runEnd = math.max(runEnd, e)
    }
    if (runEnd != Long.MinValue) covered += runEnd - runStart
    (span.end - span.start - covered) / 1e9
  }
}

/** Records spans for the benchmark's single client thread. Each open span
  * stamps its id on the jobs Spark starts inside it (a thread-local job
  * property), so [[SpanListener]] can charge job, stage and task counters
  * to the span that caused them even though listener events arrive later
  * on another thread. Spans stay in memory until the run writes them out.
  */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 0
  var sc: Option[SparkContext] = None

  def spans: Seq[Span] = done.toSeq

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, System.nanoTime()) :: open
    sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
    try body
    finally {
      val start = open.head._3
      done += Span(id, parent, name, start, System.nanoTime())
      open = open.tail
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, open.headOption.map(_._1.toString).orNull))
    }
  }

  /** Spans whose parent is `id`. */
  def children(id: Int): Seq[Span] = done.filter(_.parent == id).toSeq

  def selfSeconds(s: Span): Double = Span.selfSeconds(s, children(s.id))
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Spark counters charged to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var shuffleWriteBytes, spillBytes, runMs, cpuNs, gcMs, jobMs = 0L
  var peakTaskMemBytes = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; jobMs += o.jobMs
    peakTaskMemBytes = math.max(peakTaskMemBytes, o.peakTaskMemBytes)
    this
  }
}

/** Benchmark-owned listener: attributes every job, and the stages and
  * tasks it runs, to the span that was open when the job was submitted
  * (jobs outside any span go to id -1). With one client thread spans never
  * overlap, so the attribution is exact. Read only after [[drain]]. */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]

  private def of(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    jobSpan(e.jobId) = (span, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) => of(span).jobMs += e.time - t0 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.peakTaskMemBytes = math.max(c.peakTaskMemBytes, m.peakExecutionMemory)
    }
  }

  /** Sum of the counters charged to the given spans. */
  def total(spans: Iterable[Int]): Counters = synchronized {
    spans.foldLeft(new Counters)((acc, id) => bySpan.get(id).fold(acc)(acc.add))
  }

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)
}
