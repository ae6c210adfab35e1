package graft

/** Footer-resolved reads launch no schema-inference job: counted with a
  * `SparkListener`, so the gain is guarded without timing anything. */
class SchemaJobCountSpec extends SparkSpec {

  /** Jobs of the fixture's second-night `PipelineRunner.run` when every
    * parquet read without a schema ran a one-task inference job. */
  private val OldNight2Jobs = 10
  private val OldNight2JobsWithDimTime = 17

  test("lake reads and the control-table read launch no job") {
    val f = NightFixture.beforeNight2(spark, withDimTime = false)
    assert(JobCount(spark)(f.lake.read(spark, "orders"))._2 === 0)
    assert(JobCount(spark)(f.lake.read(spark, "customers"))._2 === 0)
    assert(JobCount(spark)(f.control.log)._2 === 0)
  }

  test("lastWatermark launches exactly one job") {
    val f = NightFixture.beforeNight2(spark, withDimTime = false)
    val (wm, jobs) = JobCount(spark)(f.control.lastWatermark(f.pipeline.name))
    assert(wm === NightFixture.nightStart(1))
    assert(jobs === 1)
  }

  test("a second-night run launches sources + 2 fewer jobs, sources + 3 " +
      "when it maintains dim-time") {
    for ((dim, old, saved) <- Seq((false, OldNight2Jobs, 2),
                                 (true, OldNight2JobsWithDimTime, 3))) {
      val f = NightFixture.beforeNight2(spark, withDimTime = dim)
      val (rows, jobs) = JobCount(spark)(f.runNight(2))
      assert(rows === 40)
      assert(jobs === old - (f.pipeline.sources.size + saved), s"dim-time: $dim")
    }
  }
}
