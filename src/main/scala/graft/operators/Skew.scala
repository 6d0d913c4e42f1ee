package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities (100 TB posture, SURVEY.md §7.4).
  *
  * AQE's skew-join splitting covers sort-merge joins at runtime; these
  * cover the two places it can't:
  *  - broadcast-ineligible lookup joins against a hot-key dimension
  *    ([[saltedJoin]]: replicate the small side N×, spread the large side
  *    across the replicas);
  *  - single-hot-group aggregation ([[saltedAgg]]: two-phase partial →
  *    final aggregation through a salted intermediate key).
  *
  * Salt derivation is deterministic (hash of the row's other columns, not
  * rand()) so retried tasks produce identical output — required for
  * exactly-once sinks under task retry.
  */
object Skew {

  private def saltOf(df: DataFrame, n: Int): Column =
    pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(n)).cast("int")

  /** Equi-join `large ⋈ small` on `key` with the small side replicated
    * `saltBuckets`× — each hot key's rows spread over `saltBuckets`
    * reducers instead of one. `small` must be duplicate-free on `key`. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would null-extend every unmatched REPLICA of a
    // small-side row — saltBuckets duplicates of each. Only join types
    // that never preserve unmatched small-side rows are sound here.
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti", "cross").contains(joinType.toLowerCase),
      s"saltedJoin does not support '$joinType': unmatched small-side rows would " +
        s"be emitted once per salt replica")
    val saltedLarge = large.withColumn("__salt", saltOf(large, saltBuckets))
    val saltedSmall = small
      .withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
      .withColumn("__salt", col("__salt").cast("int"))
    saltedLarge.join(saltedSmall, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Two-phase salted aggregation for decomposable aggregates: partial
    * sums/counts/mins/maxes on (keys, salt), then final combine on keys.
    * `aggs` maps output column name → (partial, final) builders. */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltBuckets: Int)(
      aggs: (String, Column => Column, Column => Column)*): DataFrame = {
    val salted = df.withColumn("__salt", saltOf(df, saltBuckets))
    val partial = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(aggs.head match { case (n, p, _) => p(col(n)).as(s"__p_$n") },
        aggs.tail.map { case (n, p, _) => p(col(n)).as(s"__p_$n") }: _*)
    partial
      .groupBy(keys.map(col): _*)
      .agg(aggs.head match { case (n, _, f) => f(col(s"__p_$n")).as(n) },
        aggs.tail.map { case (n, _, f) => f(col(s"__p_$n")).as(n) }: _*)
  }
}
