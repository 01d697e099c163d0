package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet schema resolution on the driver, without a Spark job.
  *
  * `spark.read.parquet(path)` infers its schema through
  * `ParquetUtils.inferSchema`, which reads the footer of the path's first
  * data file (by path, summary files first) inside a one-task Spark job.
  * This bridge runs the same non-merging inference — the same footer
  * reader and the same `ParquetToSparkSchemaConverter` over the same
  * session confs — directly on the driver. Both members it calls are
  * `private[parquet]`, hence the package.
  */
object GraftParquet {

  // `ParquetUtils.isSummaryFile` is private
  private val SummaryFiles = Set("_metadata", "_common_metadata")

  /** The schema `spark.read.parquet(path)` would infer, or None where
    * Spark's own reader must decide: schema merging on, no file at `path`
    * (a glob included), a directory holding a subdirectory (partition
    * discovery) or a summary file, no data file, or an unreadable footer.
    * Nothing is cached: every call lists `path` and reads the current
    * footer. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = state.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val status =
      try fs.getFileStatus(root)
      catch { case _: FileNotFoundException => return None }
    val leaves =
      if (status.isFile) Seq(status)
      else fs.listStatus(root).toSeq
        .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
    if (leaves.exists(s => s.isDirectory || SummaryFiles(s.getPath.getName)))
      None
    else leaves.minByOption(_.getPath.toString).flatMap { first =>
      try ParquetFileFormat.readSchema(
        ParquetFileFormat.readParquetFootersInParallel(
          hadoopConf, Seq(first), conf.ignoreCorruptFiles),
        spark)
      catch { case NonFatal(_) => None }
    }
  }
}
