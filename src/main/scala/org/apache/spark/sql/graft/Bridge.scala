package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge: Spark 4 made these conversions
  * `private[sql]`, so extension libraries expose them from inside the
  * package — the standard pattern for custom-Expression integration. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed LogicalPlan (Spark 4 keeps
    * `Dataset.ofRows` `private[sql]`) — the entry point for custom logical
    * operators like graft.plans.AsOfJoin. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Apply an extensions object's function injections to a LIVE session —
    * lets tests exercise injection without building a second SparkContext
    * (extensions normally bind only at session build time). */
  def registerExtensionFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      session: org.apache.spark.sql.SparkSession): Unit =
    ext.registerFunctions(session.sessionState.functionRegistry)

  /** The error `raise_error(message)` throws (`private[spark]`), so a
    * check run on the driver fails like its in-plan twin. */
  def raisedError(message: String): RuntimeException =
    new org.apache.spark.SparkRuntimeException("USER_RAISED_EXCEPTION",
      Map("errorMessage" -> message))

  /** Spark's own file-listing rules (`private[spark]`): a path with glob
    * characters, and a name the file index skips (`_SUCCESS`, `.crc`). */
  def isGlobPath(p: org.apache.hadoop.fs.Path): Boolean =
    org.apache.spark.deploy.SparkHadoopUtil.get.isGlobPath(p)
  def isHiddenPath(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Sets the running task's written records and bytes (the setters are
    * `private[spark]`), as Spark's file writers do. */
  def setOutputMetrics(records: Long, bytes: Long): Unit = {
    val m = org.apache.spark.TaskContext.get().taskMetrics().outputMetrics
    m.setRecordsWritten(records)
    m.setBytesWritten(bytes)
  }

  /** Spark's line-mode CSV read of one whole file's `lines`
    * (`private[sql]`): header skipped, blank lines dropped, each row parsed
    * into `required`'s columns under `options`' parse mode. */
  def csvLines(lines: Iterator[String], schema: StructType, required: StructType,
      options: CSVOptions): Iterator[InternalRow] =
    UnivocityParser.parseIterator(lines, new UnivocityParser(schema, required, options),
      new CSVHeaderChecker(required, options, "CSV file", isStartOfFile = true), required)
}
