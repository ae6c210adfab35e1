package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkInternals

/** One timed interval on the driver. `parent` is 0 for a root span; `run`
  * groups the spans of one timed unit (a night or a corpus pass). */
final case class Span(id: Long, name: String, parent: Long, run: Int,
                      start: Long, end: Long) {
  def nanos: Long = end - start
}

object Spans {

  /** Length of the union of `intervals`, each clipped to [from, to). */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * direct children cover (overlapping children are counted once). */
  def selfNanos(span: Span, all: Seq[Span]): Long =
    span.nanos - covered(all.filter(_.parent == span.id)
      .map(c => (c.start, c.end)), span.start, span.end)
}

/** Records spans around calls into the engine and tags every Spark job
  * started inside a span with the span's id (a local property, inherited
  * by the threads the engine starts). Disabled, it only runs the body. */
class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  @volatile var run = 0
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val recorded = mutable.ArrayBuffer.empty[Span]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val previous = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProperty, previous)
        recorded.synchronized {
          recorded += Span(id, name, outer.headOption.getOrElse(0L), run, t0, t1)
        }
      }
    }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Executor work summed over the jobs of one span. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNanos = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsWritten = 0L
  var bytesWritten = 0L
  var planNanos = 0L
  var sourceRows = 0L
  var sourceBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNanos += o.cpuNanos; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; rowsWritten += o.rowsWritten
    bytesWritten += o.bytesWritten; planNanos += o.planNanos
    sourceRows += o.sourceRows; sourceBytes += o.sourceBytes
  }
}

/**
 * Attributes Spark's own accounting to spans: a job to the span whose id
 * its `perfbench.span` property carries, a stage and its tasks to the job
 * that submitted it, and a SQL execution's planning time and file scans to
 * the span of its jobs. `sourceRoot` separates source reads from the other
 * scans (the warehouse's own facts, the control table).
 */
class SparkObserver(sourceRoot: String) extends SparkListener
    with AdaptiveSparkPlanHelper {

  private val work = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val executionSpan = new ConcurrentHashMap[Long, Long]()
  // (execution id, planning nanos, source rows, source bytes); the span is
  // resolved when read, after the job events of the execution are in
  private val executions =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  private def of(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    of(span).synchronized(of(span).jobs += 1)
    e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, span))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => executionSpan.putIfAbsent(x.toLong, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = of(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
    w.synchronized(w.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val w = of(stageSpan.getOrDefault(e.stageId, 0L))
      w.synchronized {
        w.tasks += 1
        w.cpuNanos += m.executorCpuTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.rowsWritten += m.outputMetrics.recordsWritten
        w.bytesWritten += m.outputMetrics.bytesWritten
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(SparkInternals.queryExecution(end)).foreach { qe =>
        try {
          val planMs = qe.tracker.phases.values.map(_.durationMs).sum
          var rows = 0L
          var bytes = 0L
          collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
            .filter(_.relation.location.rootPaths
              .exists(_.toUri.getPath.startsWith(sourceRoot)))
            .foreach { s =>
              rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
              bytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
            }
          executions.add((end.executionId, planMs * 1000000L, rows, bytes))
        } catch {
          // a plan that cannot be shown (e.g. over a path since deleted)
          case _: Exception => ()
        }
      }
    case _ => ()
  }

  /** Executor work per span id, with planning time and source scans
    * folded in. Call after the listener bus has drained. */
  def workBySpan(): Map[Long, Work] = {
    executions.asScala.foreach { case (exec, plan, rows, bytes) =>
      val w = of(executionSpan.getOrDefault(exec, 0L))
      w.synchronized {
        w.planNanos += plan; w.sourceRows += rows; w.sourceBytes += bytes
      }
    }
    executions.clear()
    val out = work.asScala.toMap
    work.clear()
    out
  }
}
