package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  *
  * Thin on purpose: `spark.read.parquet` already gives column pruning and
  * predicate pushdown; anything more would fight Catalyst. The dimension
  * tables (`region`, `nation`, and at test scale `supplier`/`customer`/`part`)
  * are broadcast-join candidates — callers mark them with `broadcast(...)`
  * at the join site, where the size knowledge lives.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
