package graft.perfbench

import org.apache.spark.sql.perfbench.SparkInternals
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, start: Long, end: Long) =
    Span(id, s"s$id", parent, 0, start, end)

  test("self time is the span minus the union of its direct children") {
    val root = span(1, 0, 0, 100)
    val all = Seq(root,
      span(2, 1, 10, 30), span(3, 1, 20, 50), // overlapping: 10..50
      span(4, 1, 60, 70),
      span(5, 4, 61, 69)) // a grandchild adds nothing
    assert(Spans.selfNanos(root, all) == 100 - 40 - 10)
    assert(Spans.selfNanos(all(3), all) == 10 - 8)
  }

  test("children are clipped to the span; a leaf is all self time") {
    val root = span(1, 0, 100, 200)
    val all = Seq(root, span(2, 1, 50, 120), span(3, 1, 190, 260))
    assert(Spans.selfNanos(root, all) == 100 - 20 - 10)
    assert(Spans.selfNanos(all(1), all) == 70)
  }

  test("jobs, stages, tasks and source scans are attributed to the span " +
      "that started them") {
    val spark = TestSession.spark
    val sc = spark.sparkContext
    val lake = java.nio.file.Files.createTempDirectory("perfbench-lake").toString
    spark.range(0, 1000, 1, 4).write.parquet(s"$lake/t")
    val observer = new SparkObserver(lake)
    sc.addSparkListener(observer)
    try {
      val tracer = new Tracer(sc)
      SparkInternals.drain(sc); observer.workBySpan()
      tracer.enabled = true
      tracer.span("outer") {
        spark.read.parquet(s"$lake/t").selectExpr("sum(id)").collect()
        tracer.span("inner")(spark.range(0, 10, 1, 2).collect())
      }
      tracer.enabled = false
      spark.range(0, 10, 1, 2).collect() // outside every span
      SparkInternals.drain(sc)
      val work = observer.workBySpan()
      val ids = tracer.spans.map(s => s.name -> s.id).toMap
      val outer = work(ids("outer"))
      val inner = work(ids("inner"))
      assert(outer.jobs >= 1 && outer.tasks >= 1 && outer.stages >= 1)
      assert(outer.sourceRows == 1000 && outer.sourceBytes > 0)
      assert(inner.sourceRows == 0)
      assert(inner.jobs == 1 && inner.tasks == 2)
      assert(work(0L).jobs == 1)
      val spans = tracer.spans
      assert(spans.find(_.name == "inner").get.parent == ids("outer"))
      val o = spans.find(_.name == "outer").get
      assert(Spans.selfNanos(o, spans) + spans.find(_.name == "inner").get.nanos == o.nanos)
    } finally sc.removeSparkListener(observer)
  }
}
