package graft.perfbench

import java.io.File

import graft.runner.Pipelines

/**
 * Per-layer metrics of one traced unit, from its spans and the executor
 * work attributed to them. Layers, as measured from outside the engine:
 *  - control: `WatermarkManager.lastWatermark` / `logRun`;
 *  - sources: the lake loader and the file scans under the lake;
 *  - pipelines: `Pipeline.transform` (the driver-side plan build) and each
 *    `PipelineRunner.run` as a whole;
 *  - sink: what a run does besides the spans above, i.e. the extract,
 *    transform and merge write jobs of `UpsertWriter` plus dim-time;
 *  - queries: the registry build (eager operator phases) and execution
 *    of each corpus query.
 */
object Layers {

  val MB = 1e6
  val S = 1e9

  def pipelineNames: Seq[String] = Pipelines.all.map(_.name)

  /** Every per-layer metric name, in report order. */
  def names: Seq[String] =
    Seq("core.session_s", "nights.setup_s", "nights.delta_s",
      "control.watermark_s", "control.log_s", "control.jobs", "control.files",
      "sources.read_s", "sources.rows_read", "sources.mb_read",
      "sources.rows_read_per_changed_row",
      "pipelines.transform_s") ++
      pipelineNames.flatMap(n => Seq(s"pipelines.$n.run_s", s"pipelines.$n.jobs")) ++
      Seq("sink.self_s", "sink.jobs", "sink.stages", "sink.tasks",
        "sink.executor_cpu_s", "sink.shuffle_mb", "sink.spill_mb", "sink.plan_s",
        "sink.rows_written", "sink.mb_written", "sink.rows_written_per_changed_row",
        "sink.files", "facts.rows", "facts.growth_rows") ++
      Corpus.Queries.flatMap(q => Seq(s"queries.$q.build_s", s"queries.$q.exec_s",
        s"queries.$q.jobs", s"queries.$q.executor_cpu_s", s"queries.$q.shuffle_mb")) ++
      Seq("trace.unattributed_jobs")

  private def subtree(root: Span, children: Map[Long, Seq[Span]]): Seq[Span] =
    root +: children.getOrElse(root.id, Nil).flatMap(subtree(_, children))

  private def sumWork(spans: Seq[Span], work: Map[Long, Work]): Work = {
    val w = new Work
    spans.foreach(s => work.get(s.id).foreach(w.add))
    w
  }

  /** Metrics of one unit's spans. `changedRows` is the number of source
    * rows the unit's night was given to pick up; `warehouse` is read for
    * file counts. */
  def of(spans: Seq[Span], work: Map[Long, Work], warehouse: Option[String],
         changedRows: Long): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def total(name: String): Double =
      spans.filter(_.name == name).map(_.nanos).sum / S
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val runs = spans.filter(s => s.name.startsWith("pipelines.") && s.name.endsWith(".run"))

    val control = spans.filter(_.name.startsWith("control."))
    m("control.watermark_s") = total("control.watermark")
    m("control.log_s") = total("control.log")
    m("control.jobs") = sumWork(control, work).jobs.toDouble

    val all = new Work
    work.values.foreach(all.add)
    m("sources.read_s") = total("sources.read")
    m("sources.rows_read") = all.sourceRows.toDouble
    m("sources.mb_read") = all.sourceBytes / MB
    m("sources.rows_read_per_changed_row") =
      if (changedRows > 0) all.sourceRows.toDouble / changedRows else 0.0
    m("pipelines.transform_s") = total("pipelines.transform")

    pipelineNames.foreach { n =>
      val mine = runs.filter(_.name == s"pipelines.$n.run")
      m(s"pipelines.$n.run_s") = mine.map(_.nanos).sum / S
      m(s"pipelines.$n.jobs") =
        sumWork(mine.flatMap(subtree(_, children)), work).jobs.toDouble
    }
    val sink = sumWork(runs, work)
    m("sink.self_s") = runs.map(r => Spans.selfNanos(r, spans)).sum / S
    m("sink.jobs") = sink.jobs.toDouble
    m("sink.stages") = sink.stages.toDouble
    m("sink.tasks") = sink.tasks.toDouble
    m("sink.executor_cpu_s") = sink.cpuNanos / S
    m("sink.shuffle_mb") = sink.shuffleBytes / MB
    m("sink.spill_mb") = sink.spillBytes / MB
    m("sink.plan_s") = sink.planNanos / S
    m("sink.rows_written") = sink.rowsWritten.toDouble
    m("sink.mb_written") = sink.bytesWritten / MB
    m("sink.rows_written_per_changed_row") =
      if (changedRows > 0) sink.rowsWritten.toDouble / changedRows else 0.0
    warehouse.foreach { wh =>
      m("control.files") = Nightly.diskUsage(new File(s"$wh/control"))._2.toDouble
      m("sink.files") = (Nightly.diskUsage(new File(wh))._2 -
        Nightly.diskUsage(new File(s"$wh/control"))._2).toDouble
    }

    Corpus.Queries.foreach { q =>
      val mine = spans.filter(_.name == s"queries.$q")
      val w = sumWork(mine.flatMap(subtree(_, children)), work)
      m(s"queries.$q.build_s") = total(s"queries.$q.build")
      m(s"queries.$q.exec_s") = total(s"queries.$q.exec")
      m(s"queries.$q.jobs") = w.jobs.toDouble
      m(s"queries.$q.executor_cpu_s") = w.cpuNanos / S
      m(s"queries.$q.shuffle_mb") = w.shuffleBytes / MB
    }
    m("trace.unattributed_jobs") = work.get(0L).map(_.jobs).getOrElse(0L).toDouble
    m.toMap
  }
}
