package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.WatermarkManager
import graft.pipelines.{Pipeline, PipelineRunner}
import graft.sources.ParquetConnector

/**
 * A two-source pipeline over a parquet lake, run through
 * [[PipelineRunner]] night by night: night 1 is the backfill from the
 * epoch watermark, every later night changes every tenth order. The
 * tables cover the common column shapes — non-nullable primitives,
 * decimals, dates, timestamps, nulls, arrays and structs.
 */
final class NightFixture(spark: SparkSession, withDimTime: Boolean) {
  import NightFixture._

  val dir: String = Files.createTempDirectory("graft-night").toString
  val lake: ParquetConnector = ParquetConnector(s"$dir/lake")
  val control: WatermarkManager = new WatermarkManager(spark, s"$dir/control")
  val warehouse = s"$dir/warehouse"
  private val runner = new PipelineRunner(spark, control, warehouse)

  val pipeline: Pipeline = new Pipeline {
    val name = if (withDimTime) "night-dim-fact" else "night-fact"
    val sources = Seq("orders", "customers")
    val factKeys = Seq("order_id")
    override val dateColumns = if (withDimTime) Seq("order_day") else Nil
    def transform(t: Map[String, DataFrame]): DataFrame =
      t("orders").join(t("customers"), Seq("cust_id"), "left")
        .select("order_id", "cust_id", "cust_name", "address", "order_day",
          "amount", "tags", "note", "lastmodifiedutc")
  }

  def factPath: String = s"$warehouse/${pipeline.name}"
  def dimTimePath: String = s"$warehouse/dim-time"
  def controlPath: String = s"$dir/control"

  /** Lands night `k`'s sources in the lake. */
  def writeLake(k: Int): Unit = {
    import spark.implicits._
    val orders = (1 to 40).map { i =>
      val changed = k > 1 && i % 10 == 0
      (i.toLong, i % 7, BigDecimal(i) * 1.25 + (if (changed) k else 0),
        Date.valueOf(s"2020-01-${"%02d".format(i % 28 + 1)}"),
        Seq(s"t$i", s"k$k"), if (i % 3 == 0) null else s"note $i",
        if (changed) new Timestamp(nightStart(k).getTime - HalfDay) else Stamp)
    }.toDF("order_id", "cust_id", "amount", "order_day", "tags", "note",
      "lastmodifiedutc")
      .withColumn("amount", col("amount").cast("decimal(18,4)"))
    val customers = (0 until 6).map(c => (c, s"customer $c")).toDF("cust_id", "cust_name")
      .withColumn("address", struct(lit("Solo").as("city"), col("cust_id").as("zone")))
    lake.write(orders, "orders", SaveMode.Overwrite)
    lake.write(customers, "customers", SaveMode.Overwrite)
  }

  /** Night `k` through the runner; its fact's row count. */
  def runNight(k: Int): Long =
    runner.run(pipeline, lake.read(spark, _), startAt = Some(nightStart(k)))
}

object NightFixture {
  val Stamp: Timestamp = Timestamp.valueOf("2020-06-01 00:00:00")
  private val HalfDay = 43200000L

  /** Logical start of night `k`, later than every source timestamp. */
  def nightStart(k: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2030-01-01 00:00:00").getTime + k * 2 * HalfDay)

  /** A fixture whose warehouse holds night 1 and whose lake holds night 2. */
  def beforeNight2(spark: SparkSession, withDimTime: Boolean): NightFixture = {
    val f = new NightFixture(spark, withDimTime)
    f.writeLake(1)
    f.runNight(1)
    f.writeLake(2)
    f
  }
}
