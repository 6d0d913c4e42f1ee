package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling (data-quality/ingest audit): exact per-column stats —
  * row count, non-null count, distinct count, typed min/max — in ONE
  * column-pruned scan of the table (a hash-aggregated grouping-sets
  * Expand — see the rationale inside [[profile]]).
  *
  * Shape: global aggregates compute every column's stats side by side
  * (the multi-count-distinct plans as one Expand pass — #cols projections
  * of each row, each carrying one column), then a `stack` unpivot turns
  * the 1×(4·#cols) row into #cols profile rows. The alternative — one
  * aggregate per column unioned — scans the table #cols times; at 100 TB
  * that difference is the whole game. min/max evaluate in the column's
  * own type (numeric order, not string order) and cast to string only for
  * the uniform output schema.
  */
object Profile {

  /** One row per profiled column: (col_name, n_rows, n_nonnull,
    * n_distinct, min_value, max_value). Pass columns pre-projected to
    * types whose string rendering is canonical for downstream comparison
    * (ints/strings/dates are; raw doubles render engine-specifically).
    *
    * `approxDistinct = true` is the 100 TB path: HLL++ distinct estimates
    * drop the Expand entirely — the whole profile becomes one ordinary
    * partial+final aggregate (constant state per column) at the cost of
    * ±rsd on n_distinct. Exact mode is the oracle-gated default; at a
    * measured 30× scale the exact multi-distinct Expand over two
    * ~4.5M-distinct columns costs ~11 s vs ~1 s approx.
    */
  def profile(df: DataFrame, cols: Seq[(String, Column)],
      approxDistinct: Boolean = false, rsd: Double = 0.01): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // Exact mode reads the table ONCE without ever sorting the expanded
    // row mass: GROUPING SETS ((c1), …, (cn)) plan as one Expand (each row
    // once per column, that column alone non-null) under a hash aggregate
    // of (value, set) → row count. A keyless aggregate over those distinct
    // values then yields every stat: count(v) is the distinct count, the
    // row counts of non-null values sum to the non-null count, one set's
    // counts sum to the row count, and min/max over the distinct values
    // equal min/max over the rows. Mixing countDistinct with typed
    // min/max in ONE aggregate would instead force the whole
    // multi-distinct Expand chain into SortAggregate: min/max over STRING
    // columns carry non-UnsafeRow-mutable buffers. Approx mode is one hash
    // pass (constant HLL state per column) with no Expand at all.
    val one =
      if (approxDistinct) {
        val aggs = cols.flatMap { case (n, c) =>
          Seq(count(c).as(s"__nn_$n"),
            approx_count_distinct(c, rsd).as(s"__nd_$n"),
            min(c).cast("string").as(s"__mn_$n"),
            max(c).cast("string").as(s"__mx_$n"))
        } :+ count(lit(1)).as("__rows")
        df.agg(aggs.head, aggs.tail: _*)
      } else {
        val names = cols.indices.map(i => s"__v$i")
        val vs = names.map(col)
        val aggs = cols.zip(vs).flatMap { case ((n, _), v) =>
          Seq(coalesce(sum(when(v.isNotNull, col("__cnt"))), lit(0L))
              .as(s"__nn_$n"),
            count(v).as(s"__nd_$n"),
            min(v).cast("string").as(s"__mn_$n"),
            max(v).cast("string").as(s"__mx_$n"))
        } :+ coalesce(sum(when(col("__g") === 0, col("__cnt"))), lit(0L))
          .as("__rows")
        df.select(cols.zip(names).map { case ((_, c), v) => c.as(v) }: _*)
          .groupingSets(vs.map(Seq(_)), vs: _*)
          .agg(count(lit(1)).as("__cnt"), grouping(vs.head).as("__g"))
          .agg(aggs.head, aggs.tail: _*)
      }
    val stackArgs = cols.map { case (n, _) =>
      s"'$n', `__nn_$n`, `__nd_$n`, `__mn_$n`, `__mx_$n`"
    }.mkString(", ")
    one.select(col("__rows").as("n_rows"),
        expr(s"stack(${cols.size}, $stackArgs) " +
          "AS (col_name, n_nonnull, n_distinct, min_value, max_value)"))
      .select("col_name", "n_rows", "n_nonnull", "n_distinct",
        "min_value", "max_value")
  }

  /** Join-cardinality audit: the planner-statistics estimator
    * |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k), computed exactly from per-key
    * counts, optionally verified against the real join count. This is
    * the number a cost-based optimizer needs before picking a join
    * strategy — the audit both documents a join's fan-out (max key
    * multiplicity ⇒ skew exposure) and proves the count-vector estimate
    * exact on the live data.
    *
    * Scale: each side collapses to (key, count) in one partial-agg pass;
    * the estimate then joins two aggregate frames (key-cardinality sized,
    * not row-sized). `withActual = false` skips the real join — the 100 TB
    * mode, where the estimate IS the product you'd buy the audit for.
    *
    * @return one row: join_name, n_left, n_right, n_match_keys,
    *         predicted_rows, max_key_mult, actual_rows (null when
    *         `withActual = false`) */
  def joinSizeAudit(left: DataFrame, right: DataFrame, leftKey: Column,
      rightKey: Column, joinName: String, withActual: Boolean = true)
      : DataFrame = {
    // per-key count frames are |keys|-sized and each fans out (side total +
    // match/estimate join): materialize so each input is scanned once for
    // the estimate; only the actual-rows check re-reads the raw keys
    val lc = left.groupBy(leftKey.as("k")).agg(count(lit(1)).as("cl"))
      .localCheckpoint()
    val rc = right.groupBy(rightKey.as("k")).agg(count(lit(1)).as("cr"))
      .localCheckpoint()
    val nl = lc.agg(coalesce(sum(col("cl")), lit(0L)).as("n_left"))
    val nr = rc.agg(coalesce(sum(col("cr")), lit(0L)).as("n_right"))
    val est = lc.join(rc, Seq("k"), "inner")
      .agg(count(lit(1)).as("n_match_keys"),
        coalesce(sum(col("cl") * col("cr")), lit(0L)).as("predicted_rows"),
        coalesce(max(col("cl") * col("cr")), lit(0L)).as("max_key_mult"))
    val actual =
      if (withActual)
        left.select(leftKey.as("k")).join(right.select(rightKey.as("k")),
            Seq("k"), "inner")
          .agg(count(lit(1)).as("actual_rows"))
      else est.select(lit(null).cast("long").as("actual_rows"))
    est.crossJoin(broadcast(nl)).crossJoin(broadcast(nr))
      .crossJoin(broadcast(actual))
      .select(lit(joinName).as("join_name"), col("n_left"), col("n_right"),
        col("n_match_keys"), col("predicted_rows"), col("max_key_mult"),
        col("actual_rows"))
  }
}
