package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.WatermarkManager
import graft.pipelines._
import graft.queries.PipelineQueries
import graft.runner.Pipelines
import graft.sources.ParquetConnector

/** One pipeline's run inside a night. */
final case class PipelineRun(name: String, nanos: Long, factRows: Long,
                             error: Option[String])

/** One night over the whole roster; `changedRows` is the number of source
  * rows the night's batch should pick up (every driving row on a backfill,
  * the changed rows on a delta night). */
final case class Night(k: Int, nanos: Long, cpuNanos: Long,
                       runs: Seq[PipelineRun], changedRows: Long)

/**
 * The nightly window through the real runner: every pipeline of
 * `Pipelines.all`, serially, through `PipelineRunner.run` with a lake
 * loader, a control table and a delegating pipeline that the benchmark
 * instruments. Each pipeline reads its own lake directory, written from
 * the same deterministic source builder its registry query uses.
 */
class Nightly(spark: SparkSession, tracer: Tracer, dataDir: String,
              work: String, seed: Long, threads: Int) {

  import Nightly._

  /** `f` over every pipeline, `threads` at a time (set-up and batch
    * writing only; the timed night runs the pipelines one after another). */
  private def eachPipeline[A](f: Pipeline => A): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try Pipelines.all.map(p => pool.submit(() => f(p))).map(_.get())
    finally pool.shutdown()
  }

  private val lakeRoot = s"$work/lake"
  private val lakes: Map[String, ParquetConnector] =
    Pipelines.all.map(p => p.name -> ParquetConnector(s"$lakeRoot/${p.name}")).toMap

  /** Batch of the last run of each pipeline (the runner's transform output,
    * kept lazily for the merge check). */
  private val lastBatch = scala.collection.mutable.Map.empty[String, DataFrame]

  /** Writes `p`'s lake; returns its driving source's row count. */
  private def writeLake(p: Pipeline): Long = {
    val srcs = roster(p.name)._1(spark, dataDir)
    val lake = lakes(p.name)
    p.sources.foreach { name =>
      val df = srcs.getOrElse(name, sys.error(s"${p.name}: source builder lacks '$name'"))
      val out =
        if (name == p.sources.head && !df.columns.contains(p.watermarkColumn))
          df.withColumn(p.watermarkColumn, lit(LakeStamp))
        else df
      lake.write(out, name, SaveMode.Overwrite)
    }
    lake.read(spark, p.sources.head).count()
  }

  /** Moves a seed-chosen ~5% of `p`'s driving source to a watermark between
    * night `k - 1` and night `k`; returns the number of changed rows. */
  private def applyDelta(p: Pipeline, k: Int): Long = {
    val driving = p.sources.head
    val live = new File(s"$lakeRoot/${p.name}/$driving.parquet")
    val next = new File(live.getPath + ".next")
    val df = lakes(p.name).read(spark, driving)
    val obs = org.apache.spark.sql.Observation()
    Delta(df, p.watermarkColumn, seed, k, deltaStamp(k))
      .observe(obs, sum(when(Delta.chosen(df, p.watermarkColumn, seed, k), 1L)
        .otherwise(0L)).as("changed"))
      .write.mode(SaveMode.Overwrite).parquet(next.getPath)
    deleteTree(live)
    Files.move(next.toPath, live.toPath, StandardCopyOption.ATOMIC_MOVE)
    obs.get("changed").asInstanceOf[Long]
  }

  private def runner(warehouse: String): PipelineRunner =
    new PipelineRunner(spark, new TracedControl(spark, s"$warehouse/control", tracer), warehouse)

  /** `p`'s run of night `k`, its batch kept for the merge check. */
  private def run(runner: PipelineRunner, p: Pipeline, k: Int): PipelineRun = {
    val lake = lakes(p.name)
    val traced = new TracedPipeline(p, tracer, df => lastBatch.synchronized(lastBatch(p.name) = df))
    val r0 = System.nanoTime()
    val out =
      try Right(tracer.span(s"pipelines.${p.name}.run") {
        runner.run(traced, name => tracer.span("sources.read")(lake.read(spark, name)),
          startAt = Some(nightStart(k)))
      })
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    PipelineRun(p.name, System.nanoTime() - r0, out.getOrElse(-1L), out.left.toOption)
  }

  /** Set-up of the window, per pipeline and `threads` pipelines at a time
    * (as the server runs them): write the lake, run night 1 (the backfill)
    * into `warehouse`, copy the night-1 fact under `keep`, then move the
    * rows of night 2's source change. Returns night 1 and the number of
    * changed rows. */
  def setUp(warehouse: String, keep: String): (Night, Long) = {
    val r = runner(warehouse)
    val t0 = System.nanoTime()
    val done = eachPipeline { p =>
      val driving = writeLake(p)
      val night1 = run(r, p, 1)
      val fact = new File(s"$warehouse/${p.name}")
      if (fact.exists()) copyTree(fact, new File(s"$keep/${p.name}"))
      (night1, driving, applyDelta(p, 2))
    }
    (Night(1, System.nanoTime() - t0, 0L, done.map(_._1), done.map(_._2).sum),
      done.map(_._3).sum)
  }

  /** Night `k` into `warehouse`: every pipeline once, in roster order; its
    * spans carry `runId`. */
  def night(warehouse: String, k: Int, changedRows: Long, runId: Int): Night = {
    tracer.run = runId
    val r = runner(warehouse)
    val cpu0 = Host.processCpuNanos()
    val t0 = System.nanoTime()
    val runs = Pipelines.all.map(run(r, _, k))
    Night(k, System.nanoTime() - t0, Host.processCpuNanos() - cpu0, runs, changedRows)
  }

  /** Writes the batch of each pipeline's last run (its transform output,
    * recomputed from the unchanged lake) under `to/<pipeline>`, for the
    * merge check. */
  def writeBatches(to: String): Unit =
    eachPipeline { p =>
      lastBatch.synchronized(lastBatch(p.name)).write.mode(SaveMode.Overwrite)
        .parquet(s"$to/${p.name}")
    }
}

object Nightly {

  /** Pipeline name → (its registry source builder, the registry query that
    * runs its transform over those sources, whose DuckDB oracle checks the
    * backfill's facts). */
  val roster: Map[String, ((SparkSession, String) => Map[String, DataFrame], String)] = Map(
    PurchasingFact.name -> (PipelineQueries.purchasingSources _, "q95_pipeline_purchasing"),
    GarmentPurchasingFact.name ->
      (PipelineQueries.garmentPurchasingSources _, "q96_pipeline_garment_purchasing"),
    ProductionOrderFact.name ->
      (PipelineQueries.productionOrderSources _, "q62_pipeline_production_order"),
    ProductionOrderStatusFact.name -> (PipelineQueries.productionOrderStatusSources _,
      "q100_pipeline_production_order_status"),
    SalesContractFact.name ->
      (PipelineQueries.salesContractSources _, "q92_pipeline_sales_contract"),
    ShipmentFact.name -> (PipelineQueries.shipmentSources _, "q102_pipeline_shipment"),
    PackingFact.name -> (PipelineQueries.packingSources _, "q103_pipeline_packing"),
    PackingReceiptFact.name ->
      (PipelineQueries.packingReceiptSources _, "q104_pipeline_packing_receipt"),
    InventoryMovementFact.name ->
      (PipelineQueries.inventoryMovementSources _, "q105_pipeline_inventory_movement"),
    InventorySummaryFact.name ->
      (PipelineQueries.inventorySummarySources _, "q106_pipeline_inventory_summary"),
    KanbanFact.name -> (PipelineQueries.kanbanSources _, "q93_pipeline_kanban"),
    DailyOperationFact.name ->
      (PipelineQueries.dailyOpSources _, "q97_pipeline_daily_operation"),
    FabricQCFact.name -> (PipelineQueries.fabricQcSources _, "q101_pipeline_fabric_qc"),
    MonitoringEventFact.name ->
      (PipelineQueries.monitoringEventSources _, "q99_pipeline_monitoring_event"),
    TotalHutangFact.name -> (PipelineQueries.totalHutangSources _, "q63_pipeline_total_hutang"),
    GarmentTotalHutangFact.name ->
      (PipelineQueries.garmentTotalHutangSources _, "q77_pipeline_garment_hutang"),
    DealTrackingDealFact.name ->
      (PipelineQueries.dealTrackingDealSources _, "q107_pipeline_deal_tracking_deal"),
    DealTrackingActivityFact.name -> (PipelineQueries.dealTrackingActivitySources _,
      "q108_pipeline_deal_tracking_activity"),
    DealTrackingBoardFact.name ->
      (PipelineQueries.dealTrackingBoardSources _, "q109_pipeline_deal_tracking_board"),
    DealTrackingStageFact.name ->
      (PipelineQueries.dealTrackingStageSources _, "q110_pipeline_deal_tracking_stage"),
    MigrationLogSync.name ->
      (PipelineQueries.migrationLogSources _, "q112_pipeline_migration_log_sync"))

  /** Watermark given to driving sources whose builder carries none. */
  val LakeStamp: Timestamp = Timestamp.valueOf("2020-06-01 00:00:00")

  private val DayMs = 86400000L
  private val Night0 = Timestamp.valueOf("2030-01-01 00:00:00").getTime

  /** Logical start of night `k` (later than every source timestamp). */
  def nightStart(k: Int): Timestamp = new Timestamp(Night0 + k * DayMs)

  /** Watermark of the rows changed for night `k`: between the starts of
    * nights `k - 1` and `k`. */
  def deltaStamp(k: Int): Timestamp = new Timestamp(Night0 + (k - 1) * DayMs + DayMs / 2)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => copyTree(c, new File(to, c.getName)))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)

  /** Bytes and files under `dir` (hidden files and checksums excluded). */
  def diskUsage(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) {
      if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) (0L, 0L)
      else (dir.length(), 1L)
    } else dir.listFiles().map(diskUsage).foldLeft((0L, 0L)) {
      case ((b, n), (b2, n2)) => (b + b2, n + n2)
    }
}

/** The runner's control table, with its two calls traced. */
class TracedControl(spark: SparkSession, path: String, tracer: Tracer)
    extends WatermarkManager(spark, path) {
  override def lastWatermark(pipeline: String): Timestamp =
    tracer.span("control.watermark")(super.lastWatermark(pipeline))
  override def logRun(pipeline: String, start: Timestamp, finish: Timestamp,
                      status: String, note: Option[String]): Unit =
    tracer.span("control.log")(super.logRun(pipeline, start, finish, status, note))
}

/** A pipeline that delegates to `p`, traces its transform (the driver-side
  * plan build) and hands the batch to `onBatch`. */
class TracedPipeline(p: Pipeline, tracer: Tracer, onBatch: DataFrame => Unit)
    extends Pipeline {
  def name: String = p.name
  def sources: Seq[String] = p.sources
  override def watermarkColumn: String = p.watermarkColumn
  override def watermarkInclusive: Boolean = p.watermarkInclusive
  def factKeys: Seq[String] = p.factKeys
  override def dateColumns: Seq[String] = p.dateColumns
  def transform(tables: Map[String, DataFrame]): DataFrame = {
    val df = tracer.span("pipelines.transform")(p.transform(tables))
    onBatch(df)
    df
  }
}
