package org.apache.spark.sql.execution.datasources.parquet

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into `ParquetFileFormat.readParquetFootersInParallel` and
  * `ParquetFileFormat.readSchema` (private[parquet]): the footer read
  * and conversion that parquet schema inference runs inside a Spark
  * job, called on the driver. The conversion applies the session's
  * confs (`nanosAsLong`, `binaryAsString`, `int96AsTimestamp`,
  * `inferTimestampNTZ`) and Spark's row-metadata key, so the schema is
  * the one inference returns.
  *
  * VERIFIED AGAINST: Spark 4.1.2 (both signatures, and the file choice
  * of `ParquetUtils.inferSchema` without `mergeSchema`) — the first
  * thing a Spark upgrade breaks silently. PropertySpec ("GraftDataset
  * private-API bridge is pinned") fails outside 4.1.x.
  */
object GraftParquet {

  /** The schema `s.read.parquet(paths: _*)` infers, from the footer
    * Spark would pick: `_common_metadata`, else `_metadata`, else the
    * first data file in path order (hidden files skipped). None, so
    * Spark infers, with `mergeSchema` on, under a subdirectory (a
    * partitioned layout), with no data file, or if the read throws. */
  def footerSchema(s: SparkSession, paths: Seq[String]): Option[StructType] = {
    val state = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    if (paths.isEmpty || state.conf.isParquetSchemaMergingEnabled) None
    else Try {
      val hadoopConf = state.newHadoopConf()
      val leaves = paths.flatMap { p =>
        val path = new Path(p)
        path.getFileSystem(hadoopConf).listStatus(path).toSeq
      }.filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
        .sortBy(_.getPath.toString)
      val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
      val pick = summaries.flatMap(n => leaves.find(_.getPath.getName == n))
        .headOption
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      if (leaves.exists(_.isDirectory)) None
      else pick.flatMap(f => ParquetFileFormat.readSchema(
        ParquetFileFormat.readParquetFootersInParallel(
          hadoopConf, Seq(f), ignoreCorruptFiles = false), s))
    }.toOption.flatten
  }
}
