package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Parquet reads whose schema comes from one footer read on the driver.
 *
 * Without a schema, every `spark.read.parquet` runs a one-task Spark job
 * to infer it (`SchemaMergeUtils.mergeSchemasInParallel`) — even when,
 * with `mergeSchema` off, that job reads a single footer: the first data
 * file's, taking the Spark schema stored under its footer key
 * `org.apache.spark.sql.parquet.row.metadata`
 * (`ParquetFileFormat.readSchemaFromFooter`). [[read]] reads that same
 * file and key on the driver and hands the schema to the reader, so the
 * read launches no job. Wherever Spark would look elsewhere — summary
 * files, partition directories, no Spark key (pyarrow or DuckDB files),
 * `mergeSchema`, a glob or a missing path — it makes Spark's own call.
 */
object ParquetSchema {

  /** Footer key of the Spark schema, as JSON, in Spark-written files. */
  private val SparkKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `spark.read.parquet(path)`, given the footer's schema when that is
    * where Spark would take it from. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The schema Spark's non-merging inference resolves for `path`, when
    * it takes it from the Spark key of the first data file. */
  private[graft] def footerSchema(spark: SparkSession,
                                  path: String): Option[StructType] =
    if (path.exists("{}[]*?\\".contains(_)) ||
        spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
    else Try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val st = fs.getFileStatus(root)
      // Spark's leaf listing: hidden names dropped, summary files kept
      val leaves =
        (if (st.isDirectory) fs.listStatus(root).toSeq else Seq(st)).filterNot(hidden)
      if (leaves.isEmpty || leaves.exists(s => s.isDirectory || summary(s))) None
      else Option(ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(leaves.minBy(_.getPath.toString), conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .getFileMetaData.getKeyValueMetaData.get(SparkKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
    }.toOption.flatten

  private def summary(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    n.startsWith("_metadata") || n.startsWith("_common_metadata")
  }

  private def hidden(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")) && !summary(s)
  }
}
