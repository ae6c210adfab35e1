package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/**
 * The seeded source change of one delta night: about one row in
 * [[Share]] of a driving source gets a later watermark value. A row is
 * chosen by a hash of the seed, the night and the row's own values (the
 * watermark column excluded), so the same seed changes exactly the same
 * rows on every run, independent of file layout or partitioning, and
 * another seed changes other rows.
 */
object Delta {
  val Share = 20

  def chosen(df: DataFrame, watermarkColumn: String, seed: Long,
             night: Int): Column = {
    val values = df.schema.fields
      .filter(f => f.name != watermarkColumn && !f.dataType.isInstanceOf[MapType])
      .map(f => col(f.name))
    pmod(xxhash64(lit(seed) +: lit(night) +: values.toSeq: _*),
      lit(Share.toLong)) === 0
  }

  /** `df` with the chosen rows' watermark set to `at`. */
  def apply(df: DataFrame, watermarkColumn: String, seed: Long, night: Int,
            at: Timestamp): DataFrame = {
    val t = df.schema(watermarkColumn).dataType
    df.withColumn(watermarkColumn,
      when(chosen(df, watermarkColumn, seed, night), lit(at).cast(t))
        .otherwise(col(watermarkColumn)))
  }
}
