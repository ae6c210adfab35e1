package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}

import graft.control.WatermarkManager
import graft.sources.{ParquetConnector, ParquetSchema}

/** Footer-resolved parquet reads are Spark's own reads: the same schema
  * and the same rows as `spark.read.parquet` on every Spark-written table
  * of a nightly fixture, and Spark's own call wherever Spark would not
  * take the schema from the first data file's footer. */
class ParquetSchemaSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** `ParquetSchema.read(path)` against `spark.read.parquet(path)`;
    * `footer` says whether the schema must come from a footer. */
  private def assertParity(path: String, footer: Boolean): Unit = {
    assert(ParquetSchema.footerSchema(spark, path).isDefined === footer, path)
    val got = ParquetSchema.read(spark, path)
    val want = spark.read.parquet(path)
    assert(got.schema === want.schema, path)
    assert(rows(got) === rows(want), path)
  }

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def firstPart(dir: String): java.nio.file.Path =
    Paths.get(dir).toFile.listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName).toPath

  test("every Spark-written table of a nightly fixture resolves from its " +
      "footer to Spark's schema and rows") {
    for (dim <- Seq(false, true)) {
      val f = NightFixture.beforeNight2(spark, withDimTime = dim)
      f.runNight(2)
      assertParity(s"${f.dir}/lake/orders.parquet", footer = true)
      assertParity(s"${f.dir}/lake/customers.parquet", footer = true)
      assertParity(f.factPath, footer = true)
      if (dim) assertParity(f.dimTimePath, footer = true)
      assertParity(f.controlPath, footer = true)
      // the control table's fixed schema is the one Spark infers
      val log = f.control.log
      assert(log.schema === spark.read.parquet(f.controlPath).schema)
      assert(log.schema === WatermarkManager.LogSchema)
      assert(rows(log) === rows(spark.read.parquet(f.controlPath)))
      assert(log.count() === 2)
    }
  }

  test("a file without the Spark key (pyarrow, DuckDB) falls back to " +
      "Spark's inference") {
    // written by the plain parquet writer with the events fixture's
    // TIMESTAMP(NANOS) encoding, which only the footer's parquet schema
    // (read with nanosAsLong) can describe
    val file = s"${tempDir("graft-nokey")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 id; " +
        "optional int64 ts (TIMESTAMP(NANOS,true)); " +
        "optional binary kind (STRING); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val g = new SimpleGroupFactory(schema)
    try (1 to 5).foreach(i => w.write(g.newGroup().append("id", i.toLong)
      .append("ts", i * 1000000000L + 7).append("kind", s"k$i")))
    finally w.close()
    assertParity(file, footer = false)
    assert(ParquetSchema.read(spark, file).schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("summary files, partition directories and merged schemas fall back; " +
      "a single file resolves from its footer") {
    import spark.implicits._
    val base = tempDir("graft-fallback")
    val narrow = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    narrow.write.parquet(s"$base/narrow")
    // a _common_metadata carrying a wider schema: Spark takes the schema
    // from it, not from the first data file
    Seq((3L, "c", 1.5)).toDF("id", "v", "extra").write.parquet(s"$base/wide")
    Files.copy(firstPart(s"$base/wide"), Paths.get(s"$base/narrow/_common_metadata"))
    assertParity(s"$base/narrow", footer = false)
    assert(ParquetSchema.read(spark, s"$base/narrow").columns.contains("extra"))

    Seq((1L, "2020-01-01"), (2L, "2020-01-02")).toDF("id", "day")
      .write.partitionBy("day").parquet(s"$base/parted")
    assertParity(s"$base/parted", footer = false)

    val single = s"$base/single.parquet"
    Files.copy(firstPart(s"$base/wide"), Paths.get(single),
      StandardCopyOption.REPLACE_EXISTING)
    assertParity(single, footer = true)

    assert(ParquetSchema.footerSchema(spark, s"$base/wi*").isEmpty)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assertParity(s"$base/wide", footer = false)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a missing path fails exactly as before: the connector throws " +
      "Spark's error, the control table reads as the empty log") {
    val base = tempDir("graft-missing")
    val want = intercept[AnalysisException](
      spark.read.parquet(s"$base/gone.parquet"))
    val got = intercept[AnalysisException](
      ParquetConnector(base).read(spark, "gone"))
    assert(got.getCondition === "PATH_NOT_FOUND")
    assert(got.getMessage === want.getMessage)
    val control = new WatermarkManager(spark, s"$base/control")
    assert(control.log.schema === WatermarkManager.LogSchema)
    assert(control.log.count() === 0)
    assert(control.lastWatermark("any") === control.epoch)
  }
}
