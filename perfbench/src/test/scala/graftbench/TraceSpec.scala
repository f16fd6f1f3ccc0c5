package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, s"s$id", start, end)

  test("self time is the span minus the union of its children, clipped to it") {
    val parent = span(0, -1, 0L, 10000000000L) // 10 s
    assert(Span.selfSeconds(parent, Nil) == 10.0)
    // two disjoint children: 2 s + 3 s
    assert(Span.selfSeconds(parent, Seq(span(1, 0, 1000000000L, 3000000000L),
      span(2, 0, 5000000000L, 8000000000L))) == 5.0)
    // overlapping children count their union once: [1,4) + [3,6) = 5 s
    assert(Span.selfSeconds(parent, Seq(span(1, 0, 1000000000L, 4000000000L),
      span(2, 0, 3000000000L, 6000000000L))) == 5.0)
    // a child running past the parent's end only covers the parent's part
    assert(Span.selfSeconds(parent, Seq(span(1, 0, 9000000000L, 12000000000L))) == 9.0)
    // a child nested in another child is covered once
    assert(Span.selfSeconds(parent, Seq(span(1, 0, 2000000000L, 6000000000L),
      span(2, 0, 3000000000L, 4000000000L))) == 6.0)
  }

  test("the tracer nests spans and records their parents") {
    val t = new Tracer
    t.span("outer") {
      t.span("a")(())
      t.span("b")(t.span("c")(()))
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("outer").parent == -1)
    assert(byName("a").parent == byName("outer").id)
    assert(byName("b").parent == byName("outer").id)
    assert(byName("c").parent == byName("b").id)
    assert(t.children(byName("outer").id).map(_.name).sorted == Seq("a", "b"))
    assert(t.spans.forall(s => s.end >= s.start))
  }

  test("the listener charges jobs, stages and tasks to the span that submitted them") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val listener = new SpanListener
      spark.sparkContext.addSparkListener(listener)
      val t = new Tracer
      t.sc = Some(spark.sparkContext)
      t.span("idle")(())
      t.span("count")(spark.range(0, 1000, 1, 4).count())
      t.span("shuffle")(spark.range(0, 1000, 1, 4).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
        .count().collect())
      spark.range(10).count() // outside any span
      listener.drain(spark.sparkContext)
      def id(n: String) = t.spans.find(_.name == n).get.id
      assert(listener.total(Seq(id("idle"))).jobs == 0)
      val count = listener.total(Seq(id("count")))
      assert(count.jobs >= 1 && count.tasks >= 1 && count.stages >= 1)
      val shuffle = listener.total(Seq(id("shuffle")))
      assert(shuffle.shuffleWriteBytes > 0)
      assert(listener.total(Seq(-1)).jobs >= 1)
    } finally spark.stop()
  }
}
