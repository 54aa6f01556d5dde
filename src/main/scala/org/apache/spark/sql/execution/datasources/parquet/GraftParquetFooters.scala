package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The pieces of Spark's parquet schema inference that `graft.etl.Ingest`
  * runs on the driver. They are package-private to Spark; this bridge only
  * forwards to them, so the session flags (the Spark row-metadata key,
  * `nanosAsLong`, `inferTimestampNTZ`, binary-as-string, ...) apply exactly
  * as in Spark's own inference.
  */
object GraftParquetFooters {

  /** The Hadoop configuration Spark's file listing and footer reads use. */
  def hadoopConf(spark: SparkSession): Configuration = SessionStateHelper.getHadoopConf(spark)

  /** `spark.sql.parquet.mergeSchema`: inference reads every footer. */
  def mergesSchemas(spark: SparkSession): Boolean =
    SessionStateHelper.getSqlConf(spark).isParquetSchemaMergingEnabled

  /** A file or directory name Spark's listing skips (`_x`, `.x`, `x._COPYING_`). */
  def isHidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema Spark infers from this one file; throws on an unreadable footer. */
  def schemaOf(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(hadoopConf(spark), Seq(file),
        ignoreCorruptFiles = false), spark)
}
