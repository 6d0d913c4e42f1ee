package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's parquet footer read and footer → schema conversion, which are
  * `private[parquet]`, reached from inside their package: the schema that
  * Spark's inference gives one parquet file, read on the driver instead of
  * in a one-task job. The session's conf sets the conversion
  * (`binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
  * `nanosAsLong`) as it does for a read with no options. None when the
  * footer is skipped as corrupt (`spark.sql.files.ignoreCorruptFiles`). */
object FooterSchema {
  def of(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      state.newHadoopConf(), Seq(file), state.conf.ignoreCorruptFiles), spark)
  }
}
