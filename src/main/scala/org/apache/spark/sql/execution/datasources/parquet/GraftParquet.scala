package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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
    * (a glob included), a summary file, a directory that mixes files and
    * subdirectories or holds a subdirectory not named `k=v`, no data file,
    * or an unreadable footer. In a layout of `k=v` partition directories
    * this is the data schema of the first data file: the reader given it
    * still lists the layout and appends the partition columns it
    * discovers, as it does after inference. Nothing is cached: every call
    * lists `path` and reads the current footer. */
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
    firstDataFile(fs, status).flatMap { first =>
      try ParquetFileFormat.readSchema(
        ParquetFileFormat.readParquetFootersInParallel(
          hadoopConf, Seq(first), conf.ignoreCorruptFiles),
        spark)
      catch { case NonFatal(_) => None }
    }
  }

  /** `status` itself if a file; else the first data file (by path) of a
    * flat directory, or of the first partition directory that holds one. */
  private def firstDataFile(fs: FileSystem, status: FileStatus): Option[FileStatus] =
    if (status.isFile) Some(status)
    else {
      val (dirs, files) = fs.listStatus(status.getPath).toSeq
        .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
        .partition(_.isDirectory)
      if (files.exists(s => SummaryFiles(s.getPath.getName))) None
      else if (dirs.isEmpty) files.minByOption(_.getPath.toString)
      else if (files.nonEmpty || dirs.exists(!_.getPath.getName.contains("="))) None
      else dirs.sortBy(_.getPath.toString).iterator
        .flatMap(firstDataFile(fs, _)).nextOption()
    }
}
