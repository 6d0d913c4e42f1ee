package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic key-hash sampling (north-star training-data op).
  *
  * `rand()`-based sampling is NOT reproducible under distributed
  * execution: a task retry, a repartition, or a different cluster size
  * re-rolls the dice, so reruns disagree and exactly-once sinks see rows
  * flip in and out. Keying the decision on a hash of row CONTENT makes it
  * a pure row function — stable across retries, partitionings, ingestion
  * order, and corpus growth — and composes with the content-keyed
  * train/val/test split ([[TextAnalysis.splitBucket]]): the same bucket
  * space means a sampled subset never straddles split boundaries
  * inconsistently between runs.
  *
  * Scale: one codegen'd expression per row, no shuffle, pushes through
  * any downstream plan like an ordinary filter.
  */
object Sampling {

  /** Deterministic bucket ∈ [0, 100) from the 2^53 rolling fingerprint of
    * the key rendered as a string (cross-engine-reproducible, same hash
    * family as [[TextAnalysis.splitBucket]]). */
  def bucket(key: Column): Column =
    graft.functions.RollingFingerprint(key.cast("string")) % 100

  /** Per-stratum sampling rates (percent), e.g. downsample dominant event
    * classes while keeping rare ones whole. Unlisted strata fall back to
    * `defaultPct`. The rate lookup is a codegen'd CASE cascade — the
    * strata map is driver-side configuration, never a join. */
  def stratifiedSample(df: DataFrame, strata: Column, key: Column,
      rates: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(strata === lit(s), lit(p)).otherwise(acc)
    }
    df.filter(bucket(key) < rate)
  }

  /** Deterministic WEIGHTED (importance) sampling: keep a row with
    * probability `weight` ∈ [0,1] — e.g. sample proportional to quality
    * when building a mixture — decided by a content-keyed uniform, so the
    * kept set is reproducible like [[stratifiedSample]]. The uniform is the
    * fingerprint mod 10⁶ scaled to [0,1): 1e-6 probability granularity,
    * exact cross-engine (integer mod, one double division). */
  def weightedSample(df: DataFrame, key: Column, weight: Column): DataFrame =
    df.filter(
      (graft.functions.RollingFingerprint(key.cast("string")) % 1000000L)
        .cast("double") / 1e6 < weight)

  /** Token-budget quota sampling: within each `group` (source/domain/lang),
    * take documents in deterministic hash order until the group's token
    * quota is reached — the data-mixture knob of a training pipeline
    * ("cap domain X at N tokens"). A doc is kept iff it STARTS inside the
    * quota, so the overshoot is bounded by one document and the kept set is
    * a pure function of the corpus (stable under retries/repartitioning).
    *
    * Scale: one window partitioned by the group key — the running sum
    * shuffles fixed-width (group, order-key, tokens) projections, never
    * text, and each group streams through a single sorted pass. Groups are
    * the unit of parallelism; when a single group is corpus-dominating
    * (one giant source), switch to
    * [[Packing.packSequencesGrouped]] + `filter(start_tok < quota)` — the
    * grouped two-phase prefix sum computes the identical running offset
    * without putting the whole group in one window task.
    *
    * @return input rows that fit the quota, plus `start_tok` — the group's
    *         running token count before this doc
    */
  def tokenQuotaSample(df: DataFrame, group: Column, orderCols: Seq[Column],
      tokens: Column, quota: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("start_tok", coalesce(sum(tokens.cast("long")).over(w), lit(0L)))
      .filter(col("start_tok") < quota)
  }

  /** Per-key rate limiting in event time: within each (keys, tumbling
    * window of `windowSecs`) bucket, keep the FIRST `maxPerWindow` events
    * by (`tsMicros`, `tieBreak`) — batch-side throttling/downsampling of
    * runaway emitters (bot bursts, log storms) that preserves each key's
    * earliest evidence in every window instead of dropping windows
    * wholesale.
    *
    * Deterministic by construction (event-time order + total tie-break,
    * no arrival-order dependence), so replays and retries keep identical
    * rows. Scale: ONE exchange keyed by (keys, window); window partitions
    * are bounded by per-key-per-window volume — the quantity this
    * operator exists to cap. The streaming face of the same policy is a
    * counter in `transformWithState` keyed the same way.
    *
    * @return input rows that fit the cap, plus `win_start` (epoch secs)
    *         and `rn` (1-based rank within the window)
    */
  def rateLimit(df: DataFrame, keys: Seq[Column], tsMicros: Column,
      tieBreak: Column, maxPerWindow: Int, windowSecs: Long): DataFrame = {
    // exact integer window start: subtract the remainder, then the /1e6 is
    // a division of an exact multiple (Column./ is double division — fine
    // here because the result is integral and < 2^53)
    val us = tsMicros.cast("long")
    val winStart =
      ((us - pmod(us, lit(windowSecs * 1000000L))) / lit(1000000L)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys :+ col("win_start"): _*)
      .orderBy(tsMicros, tieBreak)
    df.withColumn("win_start", winStart)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxPerWindow)
  }
}
