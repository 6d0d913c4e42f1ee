package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Survival / churn analysis over event streams — the Kaplan-Meier
  * estimator's exact integer state, computed without a single global
  * window.
  *
  * Exactness contract: everything reported is integer — per-duration
  * event and at-risk counts, and the KM log-survival as a SUM of
  * quantized `floor(ln((n−d)/n)·1e6)` longs (the same quantized-ln
  * discipline as BM25/PMI; survival itself is `exp(cum/1e6)`, left to
  * the caller because `exp` is not correctly rounded cross-engine).
  * Sums of longs are order-free, so the curve is bit-identical under
  * any partitioning.
  *
  * Scale shape: per-entity lifetimes are one hash aggregate; the
  * duration axis (≤ observation-window days) is the only ordered
  * dimension, and both cumulative passes — users-ending-before (for
  * at-risk) and the log-survival running sum — go through the two-phase
  * prefix sum rather than an `ORDER BY duration` global window, so even
  * a duration axis with millions of distinct points never single-tasks.
  */
object Survival {

  /** Per-entity lifetime aggregates of an event log: first and last
    * observed day and the first event day, plus `aggs` over the event rows
    * (whose own inputs are the `inputs` columns). */
  private def lifetimes(events: DataFrame, eventPred: Column,
      entityCol: String, tsCol: String, inputs: Seq[Column] = Nil,
      aggs: Seq[Column] = Nil): DataFrame = {
    val day: Column = expr(s"unix_micros($tsCol) div 86400000000")
    events.select(Seq(col(entityCol).as("entity"), day.as("day"),
        eventPred.as("is_event")) ++ inputs: _*)
      .groupBy(col("entity"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day")
        +: min(when(col("is_event"), col("day"))).as("event_day") +: aggs: _*)
  }

  /** A [[lifetimes]] row's duration (event day, or the censoring last
    * day, minus the first day) and whether the event hit. */
  private def durationAndHit: Seq[Column] = Seq(
    (coalesce(col("event_day"), col("last_day")) - col("first_day"))
      .as("duration"),
    col("event_day").isNotNull.as("hit"))

  /** Shared risk table: one row per distinct duration with at-risk and
    * event counts — the exact integer state both estimators ([[kaplanMeier]],
    * [[nelsonAalen]]) read. Same lifetimes/censoring semantics as
    * documented on kaplanMeier; at-risk via the two-phase prefix sum. */
  private[ops] def riskTable(events: DataFrame, eventPred: Column,
      entityCol: String, tsCol: String): DataFrame = {
    val lives = lifetimes(events, eventPred, entityCol, tsCol)
    val stats = lives.agg(count(lit(1)).as("n_users"))
    val u = lives.crossJoin(broadcast(stats))
      .select(durationAndHit :+ col("n_users"): _*)
    // One row per distinct duration (≤ observation-window days) — tiny, and
    // consumed TWICE below (prefix sum + join). Materialize so the per-entity
    // lifetimes aggregation over the full event log runs exactly once.
    val byDur = u.groupBy(col("duration"))
      .agg(count(lit(1)).as("n_ending"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_events"),
        first(col("n_users")).as("n_users"))
      .localCheckpoint()
    // at-risk at d = users whose lifetime reaches d = total − ending before d:
    // exclusive prefix sum over the duration axis (two-phase, no window).
    // The axis is provably small, so a handful of range partitions suffice —
    // a 32-way shuffle+persist cycle would be pure fixed cost here.
    val atRisk = Packing.prefixSum(byDur, "duration", "n_ending",
        Seq("duration"), "ended_before", partitions = 4)
      .select(col("duration"), col("ended_before"))
    byDur.join(atRisk, Seq("duration"))
      .select(col("duration"),
        (col("n_users") - col("ended_before")).as("n_at_risk"),
        col("n_events"))
  }

  /** Kaplan-Meier time-to-first-event curve from an event log.
    *
    * An entity's clock starts at its first observed day; the EVENT is its
    * first day matching `eventPred` (duration = event day − first day).
    * Entities that never match are CENSORED at their last observed day —
    * they contribute to every at-risk count up to that duration but never
    * to events, exactly the KM censoring rule (dropping them instead
    * would bias survival down; counting them as events would bias it up).
    *
    * @param eventPred row predicate defining the event of interest
    *                  (e.g. `col("event_type") === "error"`)
    * @return one row per duration with ≥1 event:
    *         (duration, n_at_risk, n_events, cum_lns_x6) where
    *         `cum_lns_x6 = Σ_{d'≤d} floor(ln((n−e)/n)·1e6)` and survival
    *         S(d) = exp(cum_lns_x6 / 1e6). Durations where the event
    *         would hit zero survivors (n_at_risk = n_events) are excluded
    *         (ln 0); they can only be terminal.
    */
  def kaplanMeier(events: DataFrame, eventPred: Column,
      entityCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    // running log-survival: second prefix sum, over the event rows
    cumulative(riskTable(events, eventPred, entityCol, tsCol)
      .filter(col("n_events") > 0 && col("n_at_risk") > col("n_events"))
      .withColumn("lns_x6", floor(log(
        (col("n_at_risk") - col("n_events")).cast("double") / col("n_at_risk"))
        * 1e6).cast("long")), "lns_x6", "cum_lns_x6")
  }

  /** The event durations of a risk-table frame with `out`, the running
    * sum of its per-duration long `term` through that duration. */
  private def cumulative(terms: DataFrame, term: String, out: String)
      : DataFrame = {
    // duration-axis-sized and read twice (prefix sum + join): pin it so
    // the risk-table DAG is never re-derived
    val t = terms.localCheckpoint()
    Packing.prefixSum(t, "duration", term, Seq("duration"), out,
        inclusive = true, partitions = 4)
      .select(col("duration"), col(out))
      .join(t.select(col("duration"), col("n_at_risk"), col("n_events")),
        Seq("duration"))
      .select(col("duration"), col("n_at_risk"), col("n_events"), col(out))
  }

  /** Two-cohort log-rank test (Mantel–Cox): does time-to-first-event
    * differ between cohorts? The hypothesis-test companion to the
    * [[kaplanMeier]]/[[nelsonAalen]] curves: at every event time t the
    * observed cohort events d_gt are compared with the expectation under
    * the null (events split by at-risk share), E_gt = d_t·n_gt/n_t, and
    * the variance of the hypergeometric draw,
    * V_t = d_t·(n_gt/n_t)·(1−n_gt/n_t)·(n_t−d_t)/(n_t−1); the statistic
    * χ² = (Σd_gt − ΣE_gt)²/ΣV_t is reported per cohort (identical by
    * symmetry for 2 cohorts up to quantization; both rows carry their own
    * fixed-tree value).
    *
    * Exactness: E sums as BIGINT-division terms floor(d·n_g·1e9/n) — no
    * transcendental; V terms are one fixed double tree per duration
    * quantized ×1e9 before the (order-free) long sum; χ² is a final
    * fixed tree over exact longs. Same lifetimes/censoring semantics as
    * [[kaplanMeier]].
    *
    * Scale shape: one per-entity lifetimes aggregate over the event log
    * (the [[riskTable]] pass, widened by cohort), then everything lives on
    * the (duration × cohort) grid — ≤ 2·observation-window-days rows. The
    * per-cohort at-risk prefix runs through the grouped two-phase prefix
    * sum (no per-cohort global window); the 2-row cohort totals broadcast.
    *
    * @param cohortPred row predicate assigning an entity to cohort A; must
    *                   be entity-constant (evaluated per row, reduced by
    *                   max over the label — a mixed entity lands in 'b')
    * @return one row per cohort: (cohort 'a'|'b', n_entities, o_events,
    *         e_x9, v_x9, chi2_x6); E = e_x9/1e9, V = v_x9/1e9,
    *         χ² = chi2_x6/1e6 */
  def logRank(events: DataFrame, eventPred: Column, cohortPred: Column,
      entityCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val u = lifetimes(events, eventPred, entityCol, tsCol,
        Seq(cohortPred.as("is_a")),
        Seq(max(when(col("is_a"), lit("a")).otherwise(lit("b"))).as("cohort")))
      .select(durationAndHit :+ col("cohort"): _*)
    // (duration, cohort) axis — ≤ 2·window-days rows, consumed by the
    // grid build AND the cohort totals: one lifetimes pass only.
    val byDurG = u.groupBy(col("duration"), col("cohort"))
      .agg(count(lit(1)).as("n_ending"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("d_g"))
      .localCheckpoint()
    val totals = byDurG.groupBy(col("cohort"))
      .agg(sum(col("n_ending")).as("n_g"))
    // dense grid: a cohort with no entity ending at t still holds at-risk
    // mass there — missing (t, cohort) cells are (0, 0), not absent
    val grid = byDurG.select(col("duration")).distinct()
      .crossJoin(broadcast(totals)) // 2-row cohort frame
      .join(byDurG, Seq("duration", "cohort"), "left")
      .na.fill(0L, Seq("n_ending", "d_g"))
      .localCheckpoint() // consumed by the prefix sum AND the rejoin
    val ended = Packing.prefixSum(grid, "duration", "n_ending",
        Seq("duration"), "ended_before", Some("cohort"), partitions = 4)
      .select(col("cohort"), col("duration"), col("ended_before"))
    val ar = grid.join(ended, Seq("duration", "cohort"))
      .select(col("duration"), col("cohort"), col("d_g"),
        (col("n_g") - col("ended_before")).as("n_r"))
      .localCheckpoint() // feeds the per-duration totals AND the terms
    val perDur = ar.groupBy(col("duration"))
      .agg(sum(col("d_g")).as("d_t"), sum(col("n_r")).as("n_t"))
    val dbl = "double"
    val terms = ar.join(perDur, Seq("duration"))
      .filter(col("d_t") > 0L)
      .select(col("cohort"), col("d_g"),
        expr("(d_t * n_r * CAST(1000000000 AS BIGINT)) div n_t").as("e_x9"),
        when(col("n_t") > 1L,
          floor(((col("d_t").cast(dbl)
              * (col("n_r").cast(dbl) / col("n_t").cast(dbl)))
              * ((col("n_t") - col("n_r")).cast(dbl) / col("n_t").cast(dbl))
              * ((col("n_t") - col("d_t")).cast(dbl)
                 / (col("n_t") - lit(1L)).cast(dbl)))
            * lit(1e9)).cast("long")).otherwise(0L).as("v_x9"))
    val byCohort = terms.groupBy(col("cohort"))
      .agg(sum(col("d_g")).as("o_events"), sum(col("e_x9")).as("e_x9"),
        sum(col("v_x9")).as("v_x9"))
    byCohort.join(broadcast(totals), Seq("cohort"))
      .select(col("cohort"), col("n_g").as("n_entities"),
        col("o_events"), col("e_x9"), col("v_x9"),
        when(col("v_x9") > 0L,
          floor(((col("o_events").cast(dbl) - col("e_x9").cast(dbl) / lit(1e9))
              * (col("o_events").cast(dbl) - col("e_x9").cast(dbl) / lit(1e9))
              / (col("v_x9").cast(dbl) / lit(1e9)))
            * lit(1e6)).cast("long")).as("chi2_x6"))
  }

  /** Nelson–Aalen cumulative hazard H(d) = Σ_{d'≤d} dᵢ/nᵢ — the
    * estimator actuaries/model-monitoring prefer when hazard INCREMENTS
    * matter (KM answers "what fraction survives", NA answers "how much
    * hazard has accumulated"). Fully integer: each term is the BIGINT
    * division floor(n_events·1e9/n_at_risk) — no transcendental at all,
    * so unlike KM's quantized ln there is zero ulp exposure — and the
    * cumulative sum is the same two-phase prefix sum over the duration
    * axis. Same lifetimes/censoring semantics as [[kaplanMeier]]; no
    * terminal-duration exclusion (d/n is finite even when everyone
    * ends: the last increment is exactly 1e9).
    *
    * @return (duration, n_at_risk, n_events, cum_h_x9) for durations
    *         with ≥1 event; H(d) = cum_h_x9 / 1e9 */
  def nelsonAalen(events: DataFrame, eventPred: Column,
      entityCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    cumulative(riskTable(events, eventPred, entityCol, tsCol)
      .filter(col("n_events") > 0)
      .withColumn("h_x9",
        expr("(n_events * CAST(1000000000 AS BIGINT)) div n_at_risk")),
      "h_x9", "cum_h_x9")
  }
}
