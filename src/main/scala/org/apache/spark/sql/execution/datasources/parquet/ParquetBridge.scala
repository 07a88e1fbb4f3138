package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.types.StructType

/** The two pieces of `spark.read.parquet` that [[graft.Tables.read]]
  * runs itself, reached from Spark's package: `readParquetFootersInParallel`
  * and `readSchema` are private[parquet], `checkAndGlobPathIfNecessary`
  * private[sql], `StructType.asNullable` private[spark]. Same bridging
  * rationale as [[org.apache.spark.sql.graft.Bridge]]. */
object ParquetBridge {

  /** One parquet footer's schema, read on the driver: the conversion
    * Spark's non-merging inference runs inside its one-task
    * `mergeSchemasInParallel` job. `readSchema` prefers the Spark schema
    * stored in the footer and converts under the session's
    * binary-as-string, INT96, `inferTimestampNTZ` and `nanosAsLong`
    * settings, as that job does. Nullable, as `DataSource.resolveRelation`
    * hands it to the relation. None when the footer cannot be read or
    * converted, so the caller's fallback raises Spark's own error. */
  def footerSchema(spark: SparkSession, file: FileStatus,
                   options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val ignoreCorrupt =
      new ParquetOptions(options, spark.sessionState.conf).ignoreCorruptFiles
    try ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file), ignoreCorrupt),
      spark).map(_.asNullable)
    catch { case NonFatal(_) => None }
  }

  /** The qualified, glob-expanded root paths `DataSource.resolveRelation`
    * lists; None when a path (or a glob's match) does not exist. */
  def roots(paths: Seq[String], conf: Configuration): Option[Seq[Path]] =
    try Some(DataSource.checkAndGlobPathIfNecessary(paths, conf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true))
    catch { case NonFatal(_) => None }
}
