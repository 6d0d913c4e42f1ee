package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.graft.Bridge

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  *
  * Thin on purpose: `spark.read.parquet` already gives column pruning and
  * predicate pushdown; anything more would fight Catalyst. The dimension
  * tables (`region`, `nation`, and at test scale `supplier`/`customer`/`part`)
  * are broadcast-join candidates — callers mark them with `broadcast(...)`
  * at the join site, where the size knowledge lives.
  *
  * Loading runs no Spark job: the schema Spark's parquet inference would
  * compute in a one-task job is read on the driver ([[load]]).
  */
object Tables {
  /** `dir/name.parquet` read with the schema Spark's inference gives it,
    * inferred on the driver from the footer of the file that inference
    * reads — the path itself if it is a file, else the first data file in
    * path order of a flat directory — by Spark's own footer read and
    * conversion ([[FooterSchema]]). Every other case keeps Spark's
    * inference, which then handles and reports it: a glob, a directory
    * with subdirectories (partitions), summary files (`_metadata`,
    * `_common_metadata`) or no data file, a missing path, a footer skipped
    * as corrupt, or `spark.sql.parquet.mergeSchema` on. The price is one
    * more driver-side listing of a table directory (Spark's file index
    * lists it again), against a job per load. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaFile(spark, path).flatMap(FooterSchema.of(spark, _))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The one file whose footer Spark's inference reads for `path`, where
    * [[load]] can read it on the driver. */
  private def schemaFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean || Bridge.isGlobPath(p))
      return None
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val status = fs.getFileStatus(p)
    if (status.isFile) return Some(status)
    val entries = fs.listStatus(p).toSeq.filterNot(s => Bridge.isHiddenPath(s.getPath.getName))
    // the listing keeps `_metadata`/`_common_metadata`, which inference prefers
    if (entries.exists(e => e.isDirectory || e.getPath.getName.startsWith("_"))) None
    else entries.sortBy(_.getPath.toString).headOption
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` is parquet TIMESTAMP(NANOS); with
    * `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as LongType nanos.
    * Expose both: `ts_ns` (exact, for ordering/arithmetic — matches DuckDB
    * `epoch_ns(ts)`) and `ts` (µs-truncated TimestampType for date functions,
    * windows). Integer `div`, never double division: nanos ≈ 1.7e18
    * exceeds a double's 53-bit mantissa.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) via nanosAsLong
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // re-written copies (e.g. DuckDB-replicated scale sets) come back
        // NTZ; values are UTC wall-clock, so the cast is value-preserving
        // under the session's UTC zone
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
