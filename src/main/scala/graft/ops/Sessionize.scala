package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization: assign each event a per-user session index by
  * inactivity gap.
  *
  * Plan shape: ONE shuffle on the user key serves both windows (lag and
  * the running sum share the same partitioning and ordering, so Catalyst
  * plans a single Exchange + Sort and evaluates both frames in one
  * WindowExec pass). At 100 TB this is the minimal-movement formulation:
  * events move once, grouped by user — there is no per-session shuffle
  * and no iteration.
  *
  * Timestamps are compared at microsecond grain (`unix_micros`): the
  * parquet source stores nanoseconds, and µs is the cross-engine parity
  * grain (see Tables.events).
  */
object Sessionize {

  /** Adds `session_idx` (1-based per user): a new session starts when the
    * gap since the user's previous event exceeds `gapSeconds`. Ordering
    * ties on the timestamp break by `tieCol` so the assignment is
    * deterministic under distributed execution. */
  def byGap(events: DataFrame, gapSeconds: Long,
      userCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col(tsCol))
    val prev = lag(us, 1).over(w)
    val isNew = (prev.isNull || (us - prev) > gapSeconds * 1000000L).cast("long")
    events
      .withColumn("session_idx", sum(isNew).over(run))
  }

  /** Top session PATHS: the ordered event-type sequence of each session
    * (truncated to its first `maxLen` steps — the standard cut that keeps
    * path cardinality and row width bounded no matter how long a bot
    * session runs), counted across all sessions — the "what do journeys
    * look like" rollup over [[byGap]]'s assignment.
    *
    * Plan shape: the per-session collect rides the SAME user-keyed
    * exchange as the sessionizing windows (partitioning by user co-locates
    * every (user, session) group), path counts partial-aggregate, and the
    * top-k is a TakeOrdered. Deterministic: in-session order is (ts, tie),
    * ties across paths break lexicographically. */
  def sessionPaths(events: DataFrame, gapSeconds: Long, topK: Int = 20,
      maxLen: Int = 10, userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", tieCol: String = "event_id"): DataFrame =
    byGap(events, gapSeconds, userCol, tsCol, tieCol)
      .groupBy(col(userCol), col("session_idx"))
      .agg(array_join(transform(
        slice(array_sort(collect_list(struct(
          unix_micros(col(tsCol)).as("us"), col(tieCol).as("tie"),
          col(typeCol).as("et")))), 1, maxLen),
        x => x("et")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(topK)
}
