package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DeltaSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
  private val at = Timestamp.valueOf("2030-01-02 12:00:00")

  private def source(partitions: Int) =
    spark.range(0, 4000, 1, partitions).select(
      col("id"), concat(lit("row-"), col("id")).as("name"),
      lit(Timestamp.valueOf("2020-06-01 00:00:00")).as("lastmodifiedutc"))

  private def chosenIds(seed: Long, partitions: Int = 4): Set[Long] = {
    val df = source(partitions)
    df.filter(Delta.chosen(df, "lastmodifiedutc", seed, 2))
      .select("id").collect().map(_.getLong(0)).toSet
  }

  test("the same seed changes exactly the same rows, whatever the layout") {
    val a = chosenIds(7)
    assert(a.nonEmpty)
    assert(chosenIds(7) == a)
    assert(chosenIds(7, partitions = 1) == a)
  }

  test("another seed changes other rows") {
    assert(chosenIds(8) != chosenIds(7))
  }

  test("about one row in Delta.Share is changed") {
    val share = chosenIds(7).size / 4000.0
    assert(share > 0.5 / Delta.Share && share < 1.5 / Delta.Share, share)
  }

  test("only the chosen rows get the new watermark; other columns are kept") {
    val df = source(4)
    val changed = Delta(df, "lastmodifiedutc", 7, 2, at)
    assert(changed.columns.toSeq == df.columns.toSeq)
    val moved = changed.filter(col("lastmodifiedutc") === lit(at))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(moved == chosenIds(7))
    assert(changed.except(df).count() == moved.size)
  }
}
