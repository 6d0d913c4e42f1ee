package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Statistical-testing / drift-audit operators: the experimentation layer
  * that sits on top of the curation engine — "is this term actually
  * associated with that class", "did the A cohort convert differently",
  * "has this source's language mix drifted from the corpus".
  *
  * Determinism contract (the engine's cross-engine float rule, see
  * [[Regression]]): every sufficient statistic is an exact integer
  * aggregate; the statistical formula is then evaluated in double with a
  * FIXED operation tree (identical parenthesization on every engine), so
  * each IEEE op is correctly rounded from identical inputs and the result
  * is bit-identical. Scores that feed rankings are quantized to longs
  * (floor(x·10^k)) so ordering is integer-exact.
  *
  * Scale: each operator is one fixed-width hash aggregation (map-side
  * partial) plus broadcast-sized joins of the aggregate frames — nothing
  * here shuffles raw text or grows with the token stream past the first
  * (class, term)-level count.
  */
object Stats {

  /** Per-class characteristic terms by 2×2 chi-square on DOC-LEVEL
    * presence: for each (class, term), the contingency table is
    * (docs-in-class-with-term a, docs-elsewhere-with-term b,
    * docs-in-class-without c, docs-elsewhere-without d) and
    * χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)). Complements c-TF-IDF
    * ([[TextAnalysis.classTfidf]]): that ranks by frequency-weighted
    * distinctiveness, this by statistical association strength — the
    * classic feature-selection signal (Yang & Pedersen 1997).
    *
    * Only OVER-represented terms (observed a > expected) are ranked:
    * chi-square is symmetric and would otherwise surface terms notable
    * for their absence. All four cells derive from one token pass
    * aggregated to (class, term) counts; the chi-square tree runs in
    * double over the exact counts (cast-then-multiply on both engines —
    * integer products like a·d would overflow int64 at corpus scale).
    *
    * @param minDf drop terms in fewer than this many docs corpus-wide
    *              (chi-square is unstable at tiny expected counts)
    * @return (class, term, df_in_class, f_t, chi2_x3, rn) — top `topK`
    *         per class by (chi2_x3 desc, term)
    */
  def termClassChiSquare(docs: DataFrame, classCol: String,
      minDf: Int = 3, topK: Int = 5, textCol: String = "text"): DataFrame = {
    // doc-level presence via IN-ROW dedupe (array_distinct) — the token
    // stream reaches its one shuffle already collapsed to per-doc term
    // sets, instead of a distinct-then-count double exchange
    val pres = docs.select(col(classCol).as("class"),
      explode(array_distinct(
        split(Dedup.normalized(coalesce(col(textCol), lit(""))), " ")))
        .as("term"))
    val a = pres.groupBy(col("class"), col("term"))
      .agg(count(lit(1)).as("df_in_class"))
      .localCheckpoint() // one token pass; term totals re-read it
    val ft = a.groupBy(col("term")).agg(sum(col("df_in_class")).as("f_t"))
      .filter(col("f_t") >= minDf)
    val cc = docs.groupBy(col(classCol).as("class"))
      .agg(count(lit(1)).as("n_class"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val joined = a.join(ft, Seq("term"))
      .join(broadcast(cc), Seq("class"))
      .crossJoin(broadcast(n))
      .withColumn("b", col("f_t") - col("df_in_class"))
      .withColumn("c", col("n_class") - col("df_in_class"))
      .withColumn("d",
        col("n_docs") - col("f_t") - col("n_class") + col("df_in_class"))
    val aD = col("df_in_class").cast("double"); val bD = col("b").cast("double")
    val cD = col("c").cast("double"); val dD = col("d").cast("double")
    val nD = col("n_docs").cast("double")
    val det = aD * dD - bD * cD
    val den = ((aD + bD) * (cD + dD)) * ((aD + cD) * (bD + dD))
    val scored = joined
      // over-represented only: a·N > f_t·n_class (double; exact inputs)
      .filter(aD * nD > col("f_t").cast("double") * col("n_class").cast("double"))
      .filter(den > 0d)
      .withColumn("chi2_x3",
        floor(((nD * (det * det)) / den) * 1e3).cast("long"))
    val w = Window.partitionBy(col("class"))
      .orderBy(col("chi2_x3").desc, col("term"))
    scored.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= topK)
      .select(col("class"), col("term"), col("df_in_class"), col("f_t"),
        col("chi2_x3"), col("rn"))
  }

  /** Grouped two-proportion z-test (the A/B-test workhorse): per group,
    * compare the success rate of cohort A vs cohort B with the pooled
    * standard error, z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)). One aggregation
    * pass produces the four exact counts (n₁, x₁, n₂, x₂); the z formula
    * is a fixed double tree over them. z is null when either cohort is
    * empty or the pooled rate is degenerate (0 or 1 → zero SE).
    *
    * @param cohortA boolean column: row belongs to cohort A (else B)
    * @param success boolean column: row counts as a success
    * @return per group: n_a, x_a, n_b, x_b, z
    */
  def twoProportionZ(df: DataFrame, groupCols: Seq[String],
      cohortA: Column, success: Column): DataFrame =
    withPooledZ(df
      .select(groupCols.map(col) :+ cohortA.as("__a") :+ success.as("__s"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a") && col("__s"), 1L).otherwise(0L)).as("x_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__a") && col("__s"), 1L).otherwise(0L)).as("x_b")))

  /** The pooled-SE z tree over a frame carrying exact (n_a, x_a, n_b,
    * x_b) counts — shared by the batch test above and the streaming face
    * ([[graft.streaming.EventStreams.abTestStream]]), so both emit
    * bit-identical z from identical counts. */
  def withPooledZ(stats: DataFrame): DataFrame = {
    val n1 = col("n_a").cast("double"); val n2 = col("n_b").cast("double")
    val p1 = col("x_a").cast("double") / n1
    val p2 = col("x_b").cast("double") / n2
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt((pp * (lit(1.0) - pp)) * (lit(1.0) / n1 + lit(1.0) / n2))
    stats.withColumn("z",
      when(col("n_a") > 0L && col("n_b") > 0L && pp > 0d && pp < 1d,
        (p1 - p2) / se))
  }

  /** Per-key time-weighted average: each observation's value is weighted
    * by how long it remained current (seconds until the key's next
    * event); the last observation carries no weight. The irregular-
    * sampling mean — "average price while it was in effect" — that a
    * plain AVG gets wrong whenever sampling is bursty.
    *
    * One window (lead over the key's time order) and one aggregation,
    * both keyed identically → a single exchange. Values arrive QUANTIZED
    * (e.g. cents): Σ(v·dt) and Σdt are exact int64 (v ≤ 10⁶ quantum ×
    * dt ≤ 10⁸ s × 10⁵ events/key stays under 2^63 for any realistic
    * per-key history); the average is one final double division.
    *
    * @param tsUs   event time in epoch MICROSECONDS (long)
    * @param ordCol total tie-break within equal timestamps
    * @param valQ   quantized-long value column
    * @return per key: n_events, total_sec, twa (null when the key has no
    *         elapsed time — a single event or all-identical timestamps)
    */
  def timeWeightedAvg(df: DataFrame, keyCols: Seq[String], tsUs: Column,
      ordCol: Column, valQ: Column): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(tsUs, ordCol)
    val withDt = df
      .withColumn("__ts", tsUs)
      .withColumn("__lead", lead(col("__ts"), 1).over(w))
      // exact integer floor division — no double-rounding at any scale
      .withColumn("__dt_s", expr("(__lead - __ts) div 1000000"))
      .withColumn("__vq", valQ.cast("long"))
    withDt.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum(col("__dt_s")), lit(0L)).as("total_sec"),
        sum(col("__vq") * col("__dt_s")).as("__wsum"))
      .withColumn("twa",
        when(col("total_sec") > 0L,
          col("__wsum").cast("double") / col("total_sec").cast("double")))
      .drop("__wsum")
  }

  /** Grouped Welch's t-test (unequal-variance two-sample means): per
    * group, compare cohort A's mean of a quantized value against cohort
    * B's — the continuous-metric A/B readout beside [[twoProportionZ]]'s
    * rate test. One aggregation pass yields the six exact statistics
    * (n, Σx, Σx² per cohort); t and the Welch–Satterthwaite df are fixed
    * double trees over them. Null when either cohort has < 2 rows or
    * both variances are zero.
    *
    * @return per group: n_a, n_b, mean_a, mean_b, t, df */
  def welchTTest(df: DataFrame, groupCols: Seq[String], cohortA: Column,
      valQ: Column): DataFrame = {
    // n, Σx, Σx² of the cohort where `in` holds
    def side(in: Column, c: String) = Seq(
      sum(when(in, 1L).otherwise(0L)).as(s"n_$c"),
      sum(when(in, col("__x")).otherwise(0L)).as(s"__s$c"),
      sum(when(in, col("__x") * col("__x")).otherwise(0L)).as(s"__q$c"))
    val aggs = side(col("__a"), "a") ++ side(!col("__a"), "b")
    val stats = df
      .select(groupCols.map(col) :+ cohortA.as("__a")
        :+ valQ.cast("long").as("__x"): _*)
      .groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val sa = col("__sa").cast("double"); val sb = col("__sb").cast("double")
    val qa = col("__qa").cast("double"); val qb = col("__qb").cast("double")
    val ma = sa / na; val mb = sb / nb
    val va = (qa - (sa * sa) / na) / (na - lit(1.0))
    val vb = (qb - (sb * sb) / nb) / (nb - lit(1.0))
    val sea = va / na; val seb = vb / nb
    val se2 = sea + seb
    stats
      .withColumn("mean_a", when(col("n_a") > 0L, ma))
      .withColumn("mean_b", when(col("n_b") > 0L, mb))
      .withColumn("t",
        when(col("n_a") > 1L && col("n_b") > 1L && se2 > 0d,
          (ma - mb) / sqrt(se2)))
      .withColumn("df",
        when(col("n_a") > 1L && col("n_b") > 1L && se2 > 0d,
          (se2 * se2) / ((sea * sea) / (na - lit(1.0))
            + (seb * seb) / (nb - lit(1.0)))))
      .drop("__sa", "__qa", "__sb", "__qb")
  }

  /** Grouped Mann–Whitney U (rank-sum) test, exact-integer form: the
    * distribution-free A/B test that survives the heavy tails Welch's
    * t assumes away. Tied values take their average rank; to keep the
    * statistic integral, everything is DOUBLED — a row's doubled rank is
    * 2·rank_min + ties − 1 (exact), so U2 = 2·U = ΣR2_A − n_a(n_a+1) is
    * an exact long on every engine. The normal approximation
    * z = (U2/2 − μ)/σ (no tie correction; documented) rides a fixed
    * double tree. Two windows over the same group partitioning + one
    * aggregation.
    *
    * @return per group: n_a, n_b, u2_a, z */
  def mannWhitneyU2(df: DataFrame, groupCols: Seq[String], cohortA: Column,
      valQ: Column): DataFrame = {
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val mu = na * nb
    val sigma = sqrt((na * nb * (na + nb + lit(1.0))) / lit(12.0))
    rankSumU2(df, groupCols, cohortA.as("__a"), valQ, "n_a", "n_b", "u2_a")
      .withColumn("z",
        when(col("n_a") > 0L && col("n_b") > 0L && sigma > 0d,
          (col("u2_a").cast("double") - mu) / (lit(2.0) * sigma)))
  }

  /** Functional-dependency audit for one candidate FD A → B: does every
    * value of the determinant map to exactly one dependent value? The
    * schema-inference / data-contract check (is order→customer really
    * 1:1? does nation determine region?). One distinct-pair pass then a
    * key-level aggregate — both partial-aggregating, nothing row-level
    * retained.
    *
    * @return one row: fd (label), n_keys, n_violating_keys (determinant
    *         values with ≥2 dependents), max_rhs_per_key, holds */
  def fdAudit(df: DataFrame, fdName: String, lhs: Seq[String], rhs: String)
      : DataFrame = {
    val perKey = df.select(lhs.map(col) :+ col(rhs).as("__b"): _*)
      .distinct()
      .groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("__nb"))
    perKey.agg(count(lit(1)).as("n_keys"),
        sum(when(col("__nb") > 1L, 1L).otherwise(0L)).as("n_violating_keys"),
        max(col("__nb")).as("max_rhs_per_key"))
      .withColumn("fd", lit(fdName))
      .withColumn("holds", col("n_violating_keys") === 0L)
      .select(col("fd"), col("n_keys"), col("n_violating_keys"),
        col("max_rhs_per_key"), col("holds"))
  }

  /** Per-group winsorization at exact discrete percentiles: values are
    * clipped to [p_lo, p_hi] where the bounds are the values at CEILING
    * ranks (n·q + 99) div 100 under a total (value, tie-break) order —
    * integer-exact, interpolation-free, engine-identical. Reports the
    * clip bounds, how many rows each tail clipped, and the winsorized
    * mean — the standard heavy-tail-robust preprocessing for metrics
    * feeding averages.
    *
    * One keyed window sort resolves BOTH bounds (conditional aggregation
    * over the ranked frame), then the bounds broadcast back — two
    * exchanges total on the same key.
    *
    * @param loPct/hiPct integer percents, 0 < lo < hi ≤ 100
    * @return per group: n, p_lo, p_hi, n_clip_low, n_clip_high, wmean */
  def winsorize(df: DataFrame, groupCols: Seq[String], valQ: Column,
      ordCol: Column, loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(0 < loPct && loPct < hiPct && hiPct <= 100, "bad percentile bounds")
    val ranked = withPosition(df.withColumn("__x", valQ.cast("long")),
      groupCols, Seq(valQ, ordCol))
    val bounds = ranked.groupBy(groupCols.map(col): _*)
      .agg(pickAt(col("__rn"), ceilRank("__n", loPct), col("__x")).as("p_lo"),
        pickAt(col("__rn"), ceilRank("__n", hiPct), col("__x")).as("p_hi"))
    df.withColumn("__x", valQ.cast("long"))
      .join(broadcast(bounds), groupCols)
      .withColumn("__w", greatest(least(col("__x"), col("p_hi")), col("p_lo")))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        max(col("p_lo")).as("p_lo"), max(col("p_hi")).as("p_hi"),
        sum(when(col("__x") < col("p_lo"), 1L).otherwise(0L)).as("n_clip_low"),
        sum(when(col("__x") > col("p_hi"), 1L).otherwise(0L)).as("n_clip_high"),
        (sum(col("__w")).cast("double") / count(lit(1)).cast("double"))
          .as("wmean"))
  }

  /** Per-group exact discrete quantiles: for each requested integer
    * percent, the value at CEILING rank (n·pct + 99) div 100 under a
    * total (value, tie-break) order — interpolation-free, integer-exact,
    * engine-identical (the same rank rule as [[winsorize]]). ONE keyed
    * window sort resolves every requested quantile via conditional
    * aggregation — adding percentiles costs nothing extra.
    *
    * @return per group: n, then one `p<pct>` column per requested pct */
  def discreteQuantiles(df: DataFrame, groupCols: Seq[String], valQ: Column,
      ordCol: Column, pcts: Seq[Int]): DataFrame = {
    val aggs = ceilPicks(pcts)
    withPosition(df.withColumn("__x", valQ.cast("long")), groupCols,
        Seq(valQ, ordCol))
      .groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Quantile normalization against the POOLED distribution: each row's
    * value is replaced by the pooled value at the same relative rank —
    * after it, every group's distribution is a subsample of the same
    * reference, so cross-group comparisons stop being confounded by
    * per-group scale/shape (the expression-array normalization, applied
    * to any grouped metric). Target rank: ⌈r·N/n⌉ as exact integers.
    *
    * Scale: the pooled rank is [[Packing.prefixSum]]'s two-phase
    * prefix sum (range partition + broadcast offsets), NEVER a global
    * window; the per-group rank is a keyed window; the reference lookup
    * is an equi-join on the computed rank. No driver materialization
    * beyond the #partitions offset array.
    *
    * @return (group…, id, v, r, n_group, qnorm) */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String], idCol: String,
      valQ: Column): DataFrame = {
    val base = df
      .select(groupCols.map(col) :+ col(idCol) :+ valQ.cast("long").as("__x"): _*)
      .localCheckpoint() // slim (groups, id, long); three consumers below
    val pooled = Packing.prefixSum(
        base.select(col(idCol), lit(1L).as("one"), col("__x")), idCol, "one",
        Seq("__x", idCol), "__before")
      .select(col(idCol).as("__pid"), (col("__before") + lit(1L)).as("__grank"))
    val ref = pooled
      .join(base.select(col(idCol).as("__pid"), col("__x").as("__refv")),
        "__pid")
      .select(col("__grank"), col("__refv"))
    val total = base.agg(count(lit(1)).as("__nn"))
    val ranked = withPosition(base, groupCols, Seq(col("__x"), col(idCol)),
        "__r", "__gn")
      .crossJoin(broadcast(total))
      .withColumn("__tg", expr("((__r * __nn) + __gn - 1) div __gn"))
    ranked.join(ref, col("__tg") === col("__grank"))
      .select(groupCols.map(col) ++ Seq(col(idCol), col("__x").as("v"),
        col("__r").as("r"), col("__gn").as("n_group"),
        col("__refv").as("qnorm")): _*)
  }

  /** Grouped one-way ANOVA (Fisher F) per unit: for every unit (an
    * embedding dimension, a feature column, a metric), how well does the
    * class label separate the value? F = (SSB/(L−1)) / (SSW/(N−L)) —
    * the per-dimension separability audit that ranks which features
    * carry the label signal before training a probe/classifier.
    *
    * Exactness: values arrive quantized; per-(unit, class) n/Σx/Σx² are
    * exact longs. The class-level term s²/n is irrational, so it is
    * quantized floor(·10³) per class and summed as longs — the class sum
    * is order-independent — making SSB_x3/SSW_x3 exact integers and F
    * one fixed double tree over them. Two aggregations: value-level →
    * (unit, class), then class-level → unit; both partial-aggregate.
    *
    * @return per unit: n, n_classes, ssb_x3, ssw_x3, f (null when
    *         degenerate: one class, zero within-variance, or n ≤ L) */
  def oneWayAnova(df: DataFrame, unitCols: Seq[String], classCol: String,
      valQ: Column): DataFrame = {
    // floor(s²/n · 10³): the quantized between-class term
    def sq3(s: String, n: String) = floor(((col(s).cast("double")
      * col(s).cast("double")) / col(n).cast("double")) * 1e3).cast("long")
    val perClass = df
      .select(unitCols.map(col) :+ col(classCol).as("__c")
        :+ valQ.cast("long").as("__x"): _*)
      .groupBy(unitCols.map(col) :+ col("__c"): _*)
      .agg(count(lit(1)).as("__nl"), sum(col("__x")).as("__sl"),
        sum(col("__x") * col("__x")).as("__ql"))
      .withColumn("__t3", sq3("__sl", "__nl"))
    val perUnit = perClass.groupBy(unitCols.map(col): _*)
      .agg(sum(col("__nl")).as("n"), count(lit(1)).as("n_classes"),
        sum(col("__sl")).as("__s"), sum(col("__ql")).as("__q"),
        sum(col("__t3")).as("__st3"))
      .withColumn("ssb_x3", col("__st3") - sq3("__s", "n"))
      .withColumn("ssw_x3", col("__q") * lit(1000L) - col("__st3"))
    val nD = col("n").cast("double"); val lD = col("n_classes").cast("double")
    perUnit
      .withColumn("f",
        when(col("ssw_x3") > 0L && col("n_classes") > 1L
            && col("n") > col("n_classes"),
          (col("ssb_x3").cast("double") / (lD - lit(1.0)))
            / (col("ssw_x3").cast("double") / (nD - lD))))
      .drop("__s", "__q", "__st3")
  }

  /** Grouped CUSUM change-point detection over an ordered series of
    * counts, exact-integer form: for each group, the step k maximizing
    * |Σ_{i≤k} xᵢ − k·mean| — scaled through by n so the score is
    * n·P_k − k·S (exact long, no division): the classic "where did the
    * level shift" detector for daily volumes. The series axis (days,
    * buckets) is bounded-cardinality, so the per-group window over it is
    * safe at any row scale; counts partial-aggregate below it.
    *
    * @param df pre-aggregated series: one row per (group…, step) with a
    *           long count column
    * @return per group: n_steps, change_step (argmax, earliest on ties),
    *         score_abs (=|n·P_k − k·S|), score_signed */
  def cusumChangePoint(df: DataFrame, groupCols: Seq[String], stepCol: Column,
      cnt: Column): DataFrame = {
    val (wOrd, wAll) = groupWindows(groupCols, col("__step"))
    val scored = df
      .select(groupCols.map(col) :+ stepCol.as("__step")
        :+ cnt.cast("long").as("__x"): _*)
      .withColumn("__k", row_number().over(wOrd).cast("long"))
      .withColumn("__p", sum(col("__x")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum(col("__x")).over(wAll))
      .withColumn("score_signed",
        col("__n") * col("__p") - col("__k") * col("__s"))
      .withColumn("score_abs", abs(col("score_signed")))
    val wPick = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("score_abs").desc, col("__step"))
    scored.withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(groupCols.map(col) :+ col("__n").as("n_steps")
        :+ col("__step").as("change_step") :+ col("score_abs")
        :+ col("score_signed"): _*)
  }

  /** Per-group Benford first-digit audit: for each group, the observed
    * count of each leading digit 1–9 of `amount` against the Benford
    * expectation n·log₁₀(1+1/d) — the classic fabricated-numbers signal
    * for financial/synthetic-data QA. Output stays per-digit (the audit
    * report shape); the chi-square contribution of each digit rides along
    * quantized, so a total is a plain integer SUM away.
    *
    * The leading digit comes from the DECIMAL RENDERING of floor(amount)
    * (exact for positive amounts ≥ 1 — no log10-of-double edge cases);
    * expectations use ln(1+1/d)/ln 10 so both engines run the same
    * known-parity `ln`. One count aggregation; everything after is
    * arithmetic on the 9·|groups| aggregate rows.
    *
    * @return (group…, digit, n_obs, n_group, exp_x6, dev_x6) where
    *         exp_x6 = ⌊expected·10⁶⌋ and dev_x6 = ⌊(obs−exp)²/exp·10⁶⌋ */
  def benfordAudit(df: DataFrame, groupCols: Seq[String], amount: Column)
      : DataFrame = {
    val digit = substring(floor(amount).cast("long").cast("string"), 1, 1)
      .cast("int")
    val counts = df.select(groupCols.map(col) :+ digit.as("digit"): _*)
      .filter(col("digit").between(1, 9))
      .groupBy(groupCols.map(col) :+ col("digit"): _*)
      .agg(count(lit(1)).as("n_obs"))
    val wg = Window.partitionBy(groupCols.map(col): _*)
    val withTot = counts.withColumn("n_group", sum(col("n_obs")).over(wg))
    val expD = col("n_group").cast("double") *
      (log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)))
    val dev = col("n_obs").cast("double") - expD
    withTot
      .withColumn("exp_x6", floor(expD * 1e6).cast("long"))
      .withColumn("dev_x6", floor(((dev * dev) / expD) * 1e6).cast("long"))
  }

  /** Per-key Shannon entropy of a categorical column (nats, quantized):
    * H = −Σ p·ln p over the key's category mix — the behavioral-
    * diversity signal (a bot hammering one endpoint scores 0; a uniform
    * browser scores ln k). Each term is quantized floor(·10⁹) and summed
    * as longs, so the category sum is order-independent and the score
    * ranks integer-exactly. Two keyed aggregations, both partial-
    * aggregating map-side; category cardinality per key is bounded by
    * the domain, not the row count.
    *
    * @return per key: n_rows, n_cats, ent_x9 (= ⌊H·10⁹⌋-summed terms,
    *         negated so larger = more diverse) */
  def categoricalEntropy(df: DataFrame, keyCols: Seq[String], catCol: String)
      : DataFrame = {
    val c = df.groupBy(keyCols.map(col) :+ col(catCol).as("__cat"): _*)
      .agg(count(lit(1)).as("__nc"))
    val wg = Window.partitionBy(keyCols.map(col): _*)
    val withTot = c.withColumn("__n", sum(col("__nc")).over(wg))
    val p = col("__nc").cast("double") / col("__n").cast("double")
    withTot
      .withColumn("__t9", floor((p * log(p)) * 1e9).cast("long"))
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("__n")).as("n_rows"), count(lit(1)).as("n_cats"),
        (-sum(col("__t9"))).as("ent_x9"))
  }

  /** Per-group Gini coefficient of a nonnegative quantized value (wealth/
    * revenue concentration): G = (2Σᵢ i·xᵢ − (n+1)Σx) / (n·Σx) with xᵢ
    * ascending and i the 1-based rank — 0 = perfectly even, →1 = all
    * mass on one member. The rank is a keyed window (deterministic
    * tie-break on `ordCol`); Σ i·x and Σx partial-aggregate as exact
    * int64 (i ≤ n, so n²·max(x) must stay under 2^63 — rescale the
    * quantum past ~10⁷ members·10⁴ units); the final G is a fixed double
    * tree over the three exact longs.
    *
    * @return per group: n, gini (null for n·Σx = 0) */
  def giniByGroup(df: DataFrame, groupCols: Seq[String], valQ: Column,
      ordCol: Column): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(valQ, ordCol)
    val ranked = df
      .withColumn("__x", valQ.cast("long"))
      .withColumn("__i", row_number().over(w).cast("long"))
    val stats = ranked.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__s"),
        sum(col("__i") * col("__x")).as("__sw"))
    val nD = col("n").cast("double"); val sD = col("__s").cast("double")
    val swD = col("__sw").cast("double")
    stats.withColumn("gini",
        when(col("__s") > 0L,
          (lit(2.0) * swD - (nD + lit(1.0)) * sD) / (nD * sD)))
      .drop("__s", "__sw")
  }

  /** Per-group robust outlier flags via median/MAD — the heavy-tail-safe
    * complement of z-scores (mean and stddev are themselves dragged by
    * the outliers they're meant to find; the median and the median
    * absolute deviation are not). A row is flagged when
    * |x − med| · 10⁴ > `zTimes10000` · MAD — the integer-exact form of
    * |x − med| > z·1.4826·MAD with z·1.4826 pre-quantized (default
    * 4.4478 = 3σ-equivalent), so the decision never touches a float.
    *
    * The discrete median is the rank-(n+1) div 2 order statistic. It is
    * computed from the (group, value) COUNT HISTOGRAM, not a per-row
    * window: the order statistic of a multiset is read off the running
    * count of its distinct-value histogram, and grouping keys like
    * event_type have single-digit cardinality, so a per-row
    * `row_number() over (partition by group)` would funnel the whole
    * table through |groups| reducers, where the counts combine map-side.
    * The histogram is |groups|·|distinct x| rows — bounded by the
    * quantized value domain, not the row count — so its own rank pick
    * is control-plane-sized at any SF. The MAD histogram folds straight
    * off the value histogram (|x−med| groups the same counts); the fact
    * table is scanned exactly twice (histogram build, final flag pass).
    * `ordCol` is kept for signature stability: a (value, tie) rank's
    * value at a fixed rank never depends on the tie-break.
    *
    * @return input rows + med, mad, dev (=|x−med|), outlier */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valQ: Column,
      ordCol: Column, zTimes10000: Long = 44478L): DataFrame = {
    val base = df.withColumn("__x", valQ.cast("long"))
    // (group, value) → count: the only pass that sees every row shuffles
    // a histogram, with partial aggregation upstream of the exchange
    val hist = base
      .groupBy(groupCols.map(col) :+ col("__x").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint() // slim frame, fans out to med pick + dev histogram
    // rank-k = first distinct value whose running count reaches k
    def histPick(h: DataFrame, out: String): DataFrame = {
      val (wOrd, wAll) = groupWindows(groupCols, col("__v"))
      h.withColumn("__cum", sum(col("__c")).over(wOrd))
        .withColumn("__n", sum(col("__c")).over(wAll))
        .withColumn("__k", expr("(__n + 1) div 2"))
        .filter(reaches("__cum", "__c", "__k"))
        .select(groupCols.map(col) :+ col("__v").as(out): _*)
    }
    val med = histPick(hist, "med")
    val histDev = hist.join(broadcast(med), groupCols)
      .groupBy(groupCols.map(col) :+
        abs(col("__v") - col("med")).as("__v"): _*)
      .agg(sum(col("__c")).as("__c"))
    val mad = histPick(histDev, "mad")
    base.join(broadcast(med), groupCols)
      .withColumn("dev", abs(col("__x") - col("med")))
      .join(broadcast(mad), groupCols)
      .withColumn("outlier",
        col("dev") * lit(10000L) > lit(zTimes10000) * col("mad"))
      .drop("__x")
  }

  /** Per-group sum of the top-(n div `fracDenom`) values — the exact
    * "share of mass carried by the top decile" statistic — WITHOUT
    * ranking the rows. `row_number() over (partition by group order by
    * v desc)` funnels each group through one reducer; a rank-k top sum
    * only needs the k-th largest value v* plus Σ/# of values strictly
    * above it, and both come from two-phase histogram selection:
    *
    *  phase 1  (group, v div `bucketWidth`) count+sum histogram —
    *           domain-bounded rows, map-side combined; a descending
    *           running count over this coarse frame locates each
    *           group's BOUNDARY BUCKET (where rank k falls) and the
    *           exact count/sum strictly above it;
    *  phase 2  (group, v) histogram restricted to the boundary bucket —
    *           ≤ `bucketWidth` distinct values per group whatever the
    *           row count — pins v* and the above-v* remainder. The
    *           bucket id is the FLOORED quotient (v − pmod(v, w)) div w,
    *           not the toward-zero `div`, so the bound holds on signed
    *           domains too (toward-zero truncation would make bucket 0
    *           span (−w, w): 2w−1 distinct values).
    *
    * top_sum = sum_above + (k − count_above) · v*: tie-break-free
    * (boundary ties all carry the same value) and exact in int64.
    * Groups with n < fracDenom (k = 0) are dropped, matching the
    * rank-filter semantics. Both phase windows run over domain-bounded
    * histogram frames, never rows, so the shape survives any SF.
    * CONTRACT: `valQ` must be non-null — a null has no rank, and the
    * two formulations this kernel must agree with (rank window, SQL
    * oracle) disagree on where nulls land; the slim coarse frame raises
    * a named error if one appears (cost-free: one IsNull over
    * domain-bounded rows).
    *
    * @return per group: n, total (Σ all values), n_top (= n div
    *         fracDenom), top_sum */
  def groupTopFractionSum(df: DataFrame, groupCols: Seq[String],
      valQ: Column, fracDenom: Int = 10,
      bucketWidth: Long = 1000000L): DataFrame = {
    require(fracDenom >= 1, "groupTopFractionSum: fracDenom must be >= 1")
    require(bucketWidth >= 1, "groupTopFractionSum: bucketWidth must be >= 1")
    val g = groupCols.map(col)
    val base = df.withColumn("__v", valQ.cast("long"))
    val bucket = expr(s"(__v - pmod(__v, ${bucketWidth}L)) div ${bucketWidth}L")
    val coarse = base
      .groupBy(g :+ bucket.as("__b"): _*)
      .agg(count(lit(1)).as("__c"), sum(col("__v")).as("__s"))
      .withColumn("__b", when(col("__b").isNull, raise_error(lit(
        "groupTopFractionSum: null value in valQ — nulls have no rank; " +
          "filter or coalesce the value column upstream")).cast("long"))
        .otherwise(col("__b")))
      .localCheckpoint() // slim; feeds totals, the boundary scan, phase 2
    val totals = coarse.groupBy(g: _*)
      .agg(sum(col("__c")).as("n"), sum(col("__s")).as("total"))
      .withColumn("n_top", expr(s"n div $fracDenom"))
      .filter(col("n_top") >= 1L)
    val wDesc = Window.partitionBy(g: _*).orderBy(col("__b").desc)
    // cumulative columns are materialized BEFORE any filter/join so the
    // window always sees the whole histogram frame
    val bound = coarse
      .withColumn("__cumc", sum(col("__c")).over(wDesc))
      .withColumn("__cums", sum(col("__s")).over(wDesc))
      .join(broadcast(totals.select(g :+ col("n_top"): _*)), groupCols)
      .filter(reaches("__cumc", "__c", "n_top"))
      .select(g ++ Seq(col("__b"),
        (col("__cumc") - col("__c")).as("cnt_above"),
        (col("__cums") - col("__s")).as("sum_above")): _*)
    val wFine = Window.partitionBy(g: _*).orderBy(col("__v").desc)
    val fine = base
      .join(broadcast(bound), groupCols)
      .filter(bucket === col("__b"))
      .groupBy(g :+ col("__v") :+ col("cnt_above") :+ col("sum_above"): _*)
      .agg(count(lit(1)).as("__c"), sum(col("__v")).as("__s"))
      .withColumn("__cumc", sum(col("__c")).over(wFine) + col("cnt_above"))
      .withColumn("__cums", sum(col("__s")).over(wFine) + col("sum_above"))
      .join(broadcast(totals), groupCols)
      .filter(reaches("__cumc", "__c", "n_top"))
    fine.select(g ++ Seq(col("n"), col("total"), col("n_top"),
      (col("__cums") - col("__s") +
        (col("n_top") - (col("__cumc") - col("__c"))) * col("__v"))
        .as("top_sum")): _*)
  }

  /** Per-group Jensen–Shannon divergence of a categorical distribution
    * against the corpus-wide distribution — the drift score that flags a
    * source whose language/topic/format mix departs from the whole
    * (symmetric, bounded by ln 2, defined even when the group misses
    * categories entirely). 2·JSD = Σₗ p·ln(2p/(p+q)) + Σₗ q·ln(2q/(p+q)).
    *
    * Every probability is a ratio of exact counts; each summand is
    * evaluated in double with a fixed tree, quantized floor(·10⁹), and
    * summed as LONGS — so the category-sum is order-independent and
    * cross-engine exact (the q77 quantized-ln discipline). Missing
    * (group, category) cells contribute only their q·ln 2 term (p = 0).
    *
    * Scale: two count aggregations and a |groups|×|categories| join of
    * aggregate frames — the heavy input collapses to counts immediately.
    *
    * @return per group: n_rows, jsd2_x9 (= 2·JSD·10⁹, term-quantized)
    */
  def jsDivergenceDrift(df: DataFrame, groupCol: String, catCol: String)
      : DataFrame = {
    val (a, ga, gc, tot) = contingency(df, col(groupCol).as("g"),
      col(catCol).as("cat"), cell = "a", xm = "n_rows", ym = "gcat",
      total = "gtot")
    val full = ga.crossJoin(broadcast(gc)).crossJoin(broadcast(tot))
      .join(a, Seq("g", "cat"), "left")
      .withColumn("a0", coalesce(col("a"), lit(0L)))
    val p = col("a0").cast("double") / col("n_rows").cast("double")
    val q = col("gcat").cast("double") / col("gtot").cast("double")
    def term(x: Column) =
      floor((x * log((lit(2.0) * x) / (p + q))) * 1e9).cast("long")
    val termP = when(col("a0") > 0L, term(p)).otherwise(0L)
    val termQ = term(q)
    full.select(col("g"), col("n_rows"), termP.as("__tp"), termQ.as("__tq"))
      .groupBy(col("g"), col("n_rows"))
      .agg((sum(col("__tp")) + sum(col("__tq"))).as("jsd2_x9"))
  }

  /** Exact ROC-AUC per group via the rank-sum identity
    * AUC = U⁺/(n⁺·n⁻): how well a score column separates a binary label,
    * the standard evaluation for every quality/relevance classifier the
    * curation layer trains. Ties get average ranks, carried as DOUBLED
    * integers (2·rank + ties − 1, the [[mannWhitneyU2]] discipline) so
    * tied scores contribute exactly ½ without any float rank. The final
    * AUC is one double division of exact longs with a fixed tree —
    * bit-identical cross-engine.
    *
    * Scale: one window sort per group (the inherent cost of exact rank
    * statistics — same shape as [[mannWhitneyU2]]) then a fixed-width
    * aggregate. For corpora where a per-group sort is too hot, bin the
    * score and read separation from [[calibrationBins]] instead.
    *
    * @param scoreQ   quantized long score (higher = more positive)
    * @param positive boolean label
    * @return per group: n_pos, n_neg, u2_pos (doubled rank-sum U), auc
    */
  def aucByGroup(df: DataFrame, groupCols: Seq[String], scoreQ: Column,
      positive: Column): DataFrame = {
    rankSumU2(df, groupCols, positive.as("__p"), scoreQ, "n_pos", "n_neg",
        "u2_pos")
      .withColumn("auc",
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          col("u2_pos").cast("double") /
            (col("n_pos").cast("double") * col("n_neg").cast("double")
              * lit(2.0))))
  }

  /** Calibration (reliability) table: fixed-width score bins vs observed
    * positive rate — does a score of 0.8 actually mean 80%? The binned
    * companion to [[aucByGroup]], and the scale path when an exact
    * per-group rank sort is too expensive: one hash aggregate, no sort.
    *
    * @param scoreX6 quantized long score in [0, 10⁶]
    * @return per bin: n, n_pos, mean_score_x6 (floor), pos_rate (double
    *         over exact counts, fixed tree) */
  def calibrationBins(df: DataFrame, scoreX6: Column, positive: Column,
      nBins: Int = 10): DataFrame = {
    val width = 1000000L / nBins
    df.select(scoreX6.cast("long").as("__x"), positive.as("__p"))
      .withColumn("bin",
        least(expr(s"__x div ${width}L"), lit(nBins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__p"), 1L).otherwise(0L)).as("n_pos"),
        expr("sum(__x) div count(1)").as("mean_score_x6"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
  }

  /** Global discrete quantile cut values WITHOUT a global window: ranks
    * come from [[Packing.prefixSum]]'s two-phase prefix sum (range
    * partition + broadcast partition offsets), so no single task ever
    * sorts the whole frame. The cut at percent p is the value at CEILING
    * rank (n·p + 99) div 100 under the total (value, id) order —
    * integer-exact and engine-identical (the [[winsorize]] bound rule,
    * lifted to the global distribution).
    *
    * @return one row: n, p<pct> for each requested percent */
  def globalQuantileCuts(df: DataFrame, idCol: String, valQ: Column,
      pcts: Seq[Int]): DataFrame = {
    val aggs = ceilPicks(pcts)
    val vals = df.select(col(idCol).as("__id"), valQ.cast("long").as("__x"))
      .localCheckpoint() // consumed by the rank pass and the join-back
    val ranked = Packing.prefixSum(
        vals.select(col("__id"), lit(1L).as("__one"), col("__x")),
        "__id", "__one", Seq("__x", "__id"), "__before")
      .select(col("__id"), (col("__before") + lit(1L)).as("__rn"))
      .join(vals, Seq("__id"))
    val nF = vals.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(nF)).agg(aggs.head, aggs.tail: _*)
  }

  /** RFM segmentation: quintile scores for recency (lower = better),
    * frequency and monetary value (higher = better), from broadcast
    * global cutpoints — the classic customer-base reshape, built so the
    * unit table never passes through a global window: three
    * [[globalQuantileCuts]] passes produce 4 longs each, and the scoring
    * is a codegen'd comparison against the broadcast cuts. Tie policy:
    * a value equal to a cut falls in the LOWER quintile (strict
    * comparisons on both engines).
    *
    * @return units + r_score, f_score, m_score (1-5), segment
    *         (champion / at_risk / hibernating / regular) */
  def rfmSegments(units: DataFrame, idCol: String, rCol: String,
      fCol: String, mCol: String): DataFrame = {
    val pcts = Seq(20, 40, 60, 80)
    def cuts(c: String, pfx: String) =
      globalQuantileCuts(units, idCol, col(c), pcts)
        .select(pcts.map(p => col(s"p$p").as(s"__$pfx$p")): _*)
    def score(pfx: String, beats: Column => Column) = pcts.map(p =>
      when(beats(col(s"__$pfx$p")), 1L).otherwise(0L)).reduce(_ + _) + lit(1L)
    units
      .crossJoin(broadcast(cuts(rCol, "r")))
      .crossJoin(broadcast(cuts(fCol, "f")))
      .crossJoin(broadcast(cuts(mCol, "m")))
      .withColumn("r_score", score("r", col(rCol) < _))
      .withColumn("f_score", score("f", col(fCol) > _))
      .withColumn("m_score", score("m", col(mCol) > _))
      .withColumn("segment",
        when(col("r_score") >= 4L && col("f_score") >= 4L
          && col("m_score") >= 4L, "champion")
          .when(col("r_score") <= 2L && col("f_score") <= 2L, "hibernating")
          .when(col("r_score") <= 2L, "at_risk")
          .otherwise("regular"))
      .select(col(idCol) +: Seq(rCol, fCol, mCol).map(col)
        :+ col("r_score") :+ col("f_score") :+ col("m_score")
        :+ col("segment"): _*)
  }

  /** CUPED variance reduction (Deng et al., WSDM'13): adjust each unit's
    * metric by its pre-experiment covariate, y' = y − θ(x − x̄), with
    * θ = cov(x,y)/var(x) estimated POOLED across arms — the standard
    * trick that typically cuts A/B metric variance 30-60% when the
    * pre-period predicts the post-period. All sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²) are exact longs from one aggregation pass;
    * θ and the adjusted means are fixed double trees over them —
    * cross-engine bit-identical.
    *
    * Scale: one unit-level aggregate then per-arm aggregates of the same
    * frame joined against a broadcast 1-row pooled frame. Nothing beyond
    * the unit grain survives the first pass.
    *
    * @param xQ pre-period covariate, quantized long; yQ the metric
    * @return per arm: arm, n_units, sum_x, sum_y, mean_y, theta,
    *         mean_y_adj (null θ when var(x) = 0) */
  def cuped(units: DataFrame, armCol: Column, xQ: Column, yQ: Column)
      : DataFrame = {
    val base = units.select(armCol.as("arm"), xQ.cast("long").as("__x"),
      yQ.cast("long").as("__y")).localCheckpoint()
    val pooled = base.agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
      sum(col("__y")).as("__sy"), sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    val perArm = base.groupBy(col("arm")).agg(count(lit(1)).as("n_units"),
      sum(col("__x")).as("sum_x"), sum(col("__y")).as("sum_y"))
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val theta = when(den =!= 0L, num.cast("double") / den.cast("double"))
    val meanY = col("sum_y").cast("double") / col("n_units").cast("double")
    val meanXArm = col("sum_x").cast("double") / col("n_units").cast("double")
    val meanXAll = col("__sx").cast("double") / col("__n").cast("double")
    perArm.crossJoin(broadcast(pooled))
      .withColumn("mean_y", meanY)
      .withColumn("theta", theta)
      .withColumn("mean_y_adj",
        meanY - col("theta") * (meanXArm - meanXAll))
      .select(col("arm"), col("n_units"), col("sum_x"), col("sum_y"),
        col("mean_y"), col("theta"), col("mean_y_adj"))
  }

  /** Difference-in-differences from a 2×2 (treated × post) design:
    * DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), the standard
    * causal readout when treatment lands at a known time and the control
    * arm carries the secular trend. One aggregation pass produces the
    * four exact cell sums; every mean and the DiD are fixed double trees.
    *
    * @return one row: n and sum per cell (t0/t1/c0/c1), the four means,
    *         did (null if any cell is empty) */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
      metricQ: Column): DataFrame = {
    val base = df.select(treated.as("__t"), post.as("__p"),
      metricQ.cast("long").as("__m"))
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      sum(when(col("__t") === t && col("__p") === p, 1L).otherwise(0L))
        .as(s"n_$suffix"),
      sum(when(col("__t") === t && col("__p") === p, col("__m"))
        .otherwise(0L)).as(s"sum_$suffix"))
    val cells = cell(true, false, "t0") ++ cell(true, true, "t1") ++
      cell(false, false, "c0") ++ cell(false, true, "c1")
    val agg = base.agg(cells.head, cells.tail: _*)
    def mean(sfx: String) = when(col(s"n_$sfx") > 0L,
      col(s"sum_$sfx").cast("double") / col(s"n_$sfx").cast("double"))
    agg
      .withColumn("m_t0", mean("t0")).withColumn("m_t1", mean("t1"))
      .withColumn("m_c0", mean("c0")).withColumn("m_c1", mean("c1"))
      .withColumn("did",
        when(col("n_t0") > 0L && col("n_t1") > 0L && col("n_c0") > 0L
            && col("n_c1") > 0L,
          (col("m_t1") - col("m_t0")) - (col("m_c1") - col("m_c0"))))
  }

  /** Weight-of-evidence / information-value audit of a binned feature
    * against a binary label — the credit-scoring-style answer to "how
    * predictive is this feature, and which bins carry the signal".
    * WOE_b = ln((pos_b/POS)/(neg_b/NEG)), computed as the ln of one
    * exact-integer cross-ratio (pos_b·NEG)/(neg_b·POS); the per-bin IV
    * term (pos_b/POS − neg_b/NEG)·WOE_b is quantized to a long so the
    * total IV (the consumer's SUM) is order-independent. Zero cells emit
    * null WOE (the conventional "bin needs smoothing" signal) and
    * contribute no IV.
    *
    * Scale: one hash aggregate to (bin, pos, neg) then a broadcast of the
    * 1-row totals. @return per bin: n, n_pos, n_neg, woe_x6, iv_term_x9 */
  def woeIv(df: DataFrame, binCol: Column, positive: Column): DataFrame = {
    val byBin = df.select(binCol.as("bin"), positive.as("__p"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__p"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("__p"), 1L).otherwise(0L)).as("n_neg"))
    val tot = byBin.agg(sum(col("n_pos")).as("__tp"),
      sum(col("n_neg")).as("__tn"))
    val woe = log((col("n_pos") * col("__tn")).cast("double") /
      (col("n_neg") * col("__tp")).cast("double"))
    val ivTerm = (col("n_pos").cast("double") / col("__tp").cast("double")
      - col("n_neg").cast("double") / col("__tn").cast("double")) * col("woe")
    byBin.crossJoin(broadcast(tot))
      .withColumn("woe",
        when(col("n_pos") > 0L && col("n_neg") > 0L && col("__tp") > 0L
          && col("__tn") > 0L, woe))
      .withColumn("woe_x6", floor(col("woe") * 1e6).cast("long"))
      .withColumn("iv_term_x9", floor(ivTerm * 1e9).cast("long"))
      .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
        col("woe_x6"), col("iv_term_x9"))
  }

  /** Autocorrelation of a regular series at a set of lags — the
    * periodicity / persistence diagnostic behind seasonality detection
    * ("is daily revenue weekly-periodic?") and sampling-interval choice.
    * For each lag k the Pearson correlation of (x_t, x_{t+k}) over every
    * t where BOTH ends exist (gaps in the series drop only the pairs they
    * touch; no imputation).
    *
    * Exactness: the six sufficient statistics per lag (n, Σx, Σy, Σx²,
    * Σy², Σxy) are exact long sums of the quantized series; the
    * correlation is one fixed double tree — num / (√vx · √vy) with
    * num = n·Σxy − Σx·Σy, vx = n·Σx² − (Σx)², vy likewise — bit-identical
    * cross-engine. Degenerate variance (constant segment) → null.
    * Caller quantizes `valQ` so Σv² stays far from 2⁶³ (e.g. whole
    * dollars, not cents, for revenue series).
    *
    * Scale: the series frame is one row per (group, t) — already the
    * output of a day/hour-grain aggregation, so it is orders of magnitude
    * smaller than the fact table. Each lag is one equi-join of that slim
    * frame against itself (shuffle on (group, t), AQE-broadcast when it
    * fits) into a fixed-width aggregate; lags are independent and union
    * at the end. The series checkpoints once and is re-read 2·|lags|
    * times.
    *
    * @param series one row per (groupCols, tCol) — pre-aggregated
    * @param tCol   integer time axis (epoch-day, hour index, …)
    * @param valQ   quantized long value column
    * @return groupCols + (lag, n_pairs, acf)
    */
  def acfLags(series: DataFrame, groupCols: Seq[String], tCol: String,
      valQ: Column, lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1),
      "acfLags needs at least one positive lag")
    val s0 = series.select(
      groupCols.map(col) ++ Seq(col(tCol).cast("long").as("__t"),
        valQ.cast("long").as("__v")): _*)
      .localCheckpoint() // re-read twice per lag
    val perLag = lags.map { k =>
      val cond = groupCols.map(g => col(s"a.$g") === col(s"b.$g"))
        .foldLeft((col("a.__t") + lit(k.toLong)) === col("b.__t"))(_ && _)
      val agg = s0.as("a").join(s0.as("b"), cond)
        .groupBy(groupCols.map(g => col(s"a.$g").as(g)): _*)
        .agg(count(lit(1)).as("n"), pearsonSums(col("a.__v"), col("b.__v")): _*)
      agg.select(groupCols.map(col) ++ Seq(lit(k.toLong).as("lag"),
        col("n").as("n_pairs"), pearson(col("n")).as("acf")): _*)
    }
    perLag.reduce(_ unionByName _)
  }

  /** Mutual information between two categorical columns (nats,
    * quantized) — the soft complement of [[fdAudit]]: FD audit answers
    * "does X determine Y exactly"; MI measures HOW MUCH knowing X tells
    * you about Y (0 = independent, min(H(X), H(Y)) = determined), the
    * standard feature-redundancy screen before training on categorical
    * features.
    *
    * MI = Σ_xy p_xy · ln(p_xy / (p_x·p_y)). Each cell term is computed
    * from exact counts in a fixed double tree, quantized floor(·10⁹) to a
    * long, and summed — order-independent, bit-identical cross-engine
    * (the [[jsDivergenceDrift]] discipline). Only observed cells
    * contribute (empty cells have p_xy = 0, limit 0).
    *
    * Scale: one (x, y) cell count — a single hash aggregate whose width
    * is the cross-cardinality, checkpointed and re-read for the two
    * marginals (slim frames, broadcast back). Nothing wider than the
    * cell frame ever shuffles.
    *
    * @return one row: (pair, n_rows, n_cells, mi_x9)
    */
  def mutualInfo(df: DataFrame, xCol: Column, yCol: Column,
      pairName: String): DataFrame = {
    val (cells, mx, my, tot) = contingency(df, xCol.as("__x"), yCol.as("__y"))
    val dbl = "double"
    // p_xy·ln(p_xy·N / (n_x·p_y·… )) rearranged to pure counts:
    // (nxy/N) · ln((nxy·N) / (nx·ny)) — each factor an exact long
    val term = (col("nxy").cast(dbl) / col("n").cast(dbl)) *
      log((col("nxy").cast(dbl) * col("n").cast(dbl)) /
        (col("nx").cast(dbl) * col("ny").cast(dbl)))
    cells.join(broadcast(mx), "__x").join(broadcast(my), "__y")
      .crossJoin(broadcast(tot))
      .select(floor(term * lit(1e9)).cast("long").as("__t"))
      .agg(count(lit(1)).as("n_cells"), sum(col("__t")).as("mi_x9"))
      .crossJoin(broadcast(tot))
      .select(lit(pairName).as("pair"), col("n").as("n_rows"),
        col("n_cells"), col("mi_x9"))
  }

  /** Rolling correlation of two aligned series per key — "do these
    * metrics co-move, and when did they decouple?" (segment revenues,
    * error rate vs latency, …). For each t, Pearson correlation over the
    * trailing `window` OBSERVATIONS (rows, not calendar units: gaps
    * shrink the lookback horizon, never fabricate zeros); only full
    * windows emit.
    *
    * Exactness: the six windowed sufficient statistics are exact long
    * sums (caller quantizes so window·x·y stays far from 2⁶³); the
    * correlation is [[acfLags]]' fixed double tree. Degenerate window
    * variance → null.
    *
    * Scale: one keyed window sort over the series frame — which is
    * day/hour-grain, i.e. orders of magnitude smaller than the facts it
    * aggregates; the bounded-axis contract of [[cusumChangePoint]]. The
    * window never sees an unkeyed global frame unless groupCols is empty
    * AND the caller accepts a single-partition sort of a control-plane
    * series.
    *
    * @param series one row per (groupCols, tCol), columns xQ and yQ
    * @return groupCols + (t, n_window, corr)
    */
  def rollingCorr(series: DataFrame, groupCols: Seq[String], tCol: String,
      xQ: Column, yQ: Column, window: Int): DataFrame = {
    require(window >= 2, "rollingCorr needs a window of at least 2")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("t")).rowsBetween(-(window - 1), Window.currentRow)
    val base = series.select(
      groupCols.map(col) ++ Seq(col(tCol).as("t"),
        xQ.cast("long").as("__x"), yQ.cast("long").as("__y")): _*)
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("sx", sum(col("__x")).over(w))
      .withColumn("sy", sum(col("__y")).over(w))
      .withColumn("sxx", sum(col("__x") * col("__x")).over(w))
      .withColumn("syy", sum(col("__y") * col("__y")).over(w))
      .withColumn("sxy", sum(col("__x") * col("__y")).over(w))
      .filter(col("n_window") === window.toLong)
    base.select(groupCols.map(col) ++ Seq(col("t"), col("n_window"),
      pearson(col("n_window")).as("corr")): _*)
  }

  /** Deterministic half-sample bootstrap CI for per-group means: `reps`
    * replicates, replicate b containing a row iff the low bit of
    * md5-low64("bs:b:id") is 0 (an ~n/2 subsample, DuckDB-reproducible —
    * no `rand()`, so retries and repartitions replay identically). The CI
    * is the ceiling-rank 5th/95th percentile of the replicate means
    * (ties broken by replicate index).
    *
    * Scale shape: ONE Generate ×reps over the fact scan with map-side
    * partial aggregation — the exchange carries |groups|·reps slim rows;
    * the ranking window runs over reps rows per group (control plane).
    * The reps-fold md5 evaluation is the honest CPU cost of a replayable
    * bootstrap. Statistically this is subsampling (m≈n/2 without
    * replacement), the scale-friendly bootstrap variant — Politis/Romano
    * subsampling confidence intervals.
    *
    * @return (group, n, mean, n_reps, boot_lo, boot_hi) — mean/bounds are
    *         single double divisions of exact long sums
    */
  def halfSampleCi(df: DataFrame, groupCol: String, value: Column,
      id: Column, reps: Int = 32): DataFrame = {
    require(reps >= 4, s"need reps>=4 for a rankable CI; got $reps")
    val loRank = (reps * 5 + 99) / 100
    val hiRank = (reps * 95 + 99) / 100
    val base = df.select(col(groupCol).as("g"), value.as("v"),
      id.cast("string").as("id")).localCheckpoint() // feeds base + replicates
    val ex = base
      .select(col("g"), col("v"), col("id"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"))
      .filter(graft.functions.Md5Low64(
        concat(lit("bs:"), col("b").cast("string"), lit(":"), col("id")))
        .bitwiseAND(lit(1L)) === 0L)
    val rm = ex.groupBy(col("g"), col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("v")).as("sb"))
      .select(col("g"), col("b"), (col("sb").cast("double") / col("nb")).as("m"))
    val rr = rm.withColumn("rn", row_number().over(
      Window.partitionBy(col("g")).orderBy(col("m"), col("b"))))
    val ci = rr.groupBy(col("g"))
      .agg(count(lit(1)).as("n_reps"),
        pickAt(col("rn"), lit(loRank), col("m")).as("boot_lo"),
        pickAt(col("rn"), lit(hiRank), col("m")).as("boot_hi"))
    val overall = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        (sum(col("v")).cast("double") / count(lit(1))).as("mean"))
    overall.join(ci, "g")
      .select(col("g").as(groupCol), col("n"), col("mean"), col("n_reps"),
        col("boot_lo"), col("boot_hi"))
  }

  /** Theil–Sen robust trend: the median of all pairwise slopes per group
    * — the 29.3%-breakdown alternative to the OLS trend fit
    * (`Regression.trendFit`/q141), for series where a burst or outage
    * week would drag the least-squares line.
    *
    * Determinism: slopes are quantized longs floor(Δy·1e6/Δx) (Δy·1e6
    * exact in double up to |Δy| ≈ 9·10⁹, far above any cents-grain
    * series delta; one IEEE division; floor), and the median is the
    * ceiling-rank (n+1)/2 value of the slope multiset — well-defined
    * under ties regardless of their window order.
    *
    * Scale contract: pairs expand over the BOUNDED series axis (x must
    * be a bounded grain — weeks, days — never raw facts): |axis|²/2
    * rows per group, sorted per group by the rank window. This is the
    * bounded-axis discipline of rollingCorr/acfLags — the fact table
    * aggregates to the axis FIRST, then the quadratic runs on the slim
    * series.
    *
    * Groups with fewer than 2 observations have no pairs: they are KEPT
    * (left join from the per-group points frame) with n_pairs = 0 and a
    * NULL slope — same keep-with-NULL contract as [[spearmanRho]].
    *
    * @return (groupCols…, n_points, n_pairs, ts_slope_x6)
    */
  def theilSenSlope(df: DataFrame, groupCols: Seq[String], xCol: Column,
      yCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val base = df.select(g :+ xCol.cast("long").as("__x")
      :+ yCol.cast("long").as("__y"): _*)
    val pairs = groupPairs(base, groupCols, col("r.__x") > col("l.__x"))
      .select(pairKeys(groupCols) :+
        floor((col("r.__y") - col("l.__y")).cast("double") * 1e6 /
          (col("r.__x") - col("l.__x"))).cast("long").as("s"): _*)
    val (wOrd, wAll) = groupWindows(groupCols, col("s"))
    val ranked = pairs.withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
    val med = ranked.groupBy(g: _*)
      .agg(max(col("n")).as("n_pairs"),
        pickAt(col("rn"), expr("(n + 1) div 2"), col("s")).as("ts_slope_x6"))
    val pts = base.groupBy(g: _*).agg(count(lit(1)).as("n_points"))
    pts.join(med, groupCols, "left")
      .select(g :+ col("n_points") :+
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs") :+
        col("ts_slope_x6"): _*)
  }

  /** Two-regressor OLS per group, closed form: ŷ = β0 + β1·x1 + β2·x2
    * solved by Cramer's rule on the 3×3 normal equations. Sufficient
    * statistics (n, Σx1, Σx2, Σx1², Σx2², Σx1x2, Σy, Σx1y, Σx2y) are
    * exact long sums in ONE aggregation pass; the determinants are a
    * FIXED tree of double products of those exact longs (the q142/q175
    * discipline — deterministic cross-engine, though not exact integer:
    * 3×3 determinant products overflow longs). Singular systems
    * (det ≈ 0: collinear or constant regressors) yield NULL betas.
    *
    * @return (groupCols…, n, beta0, beta1, beta2) */
  def ols2(df: DataFrame, groupCols: Seq[String], y: Column,
      x1: Column, x2: Column): DataFrame = {
    val g = groupCols.map(col)
    val base = df.select(g :+ y.cast("long").as("__y")
      :+ x1.cast("long").as("__a") :+ x2.cast("long").as("__b"): _*)
    val s = base.groupBy(g: _*).agg(
      count(lit(1)).as("n"),
      sum(col("__a")).as("sa"), sum(col("__b")).as("sb"),
      sum(col("__a") * col("__a")).as("saa"),
      sum(col("__b") * col("__b")).as("sbb"),
      sum(col("__a") * col("__b")).as("sab"),
      sum(col("__y")).as("sy"),
      sum(col("__a") * col("__y")).as("say"),
      sum(col("__b") * col("__y")).as("sby"))
    val dbl = "double"
    def d(c: String) = col(c).cast(dbl)
    // X'X = [[n, sa, sb], [sa, saa, sab], [sb, sab, sbb]]; X'y = [sy, say, sby]
    def det3(a11: Column, a12: Column, a13: Column,
        a21: Column, a22: Column, a23: Column,
        a31: Column, a32: Column, a33: Column): Column =
      a11 * (a22 * a33 - a23 * a32) -
        a12 * (a21 * a33 - a23 * a31) +
        a13 * (a21 * a32 - a22 * a31)
    val (nn, sa, sb, saa, sbb, sab, sy, say, sby) =
      (d("n"), d("sa"), d("sb"), d("saa"), d("sbb"), d("sab"),
        d("sy"), d("say"), d("sby"))
    val det = det3(nn, sa, sb, sa, saa, sab, sb, sab, sbb)
    val d0 = det3(sy, sa, sb, say, saa, sab, sby, sab, sbb)
    val d1 = det3(nn, sy, sb, sa, say, sab, sb, sby, sbb)
    val d2 = det3(nn, sa, sy, sa, saa, say, sb, sab, sby)
    s.select(g :+ col("n") :+
      when(abs(det) > 1e-9, d0 / det).as("beta0") :+
      when(abs(det) > 1e-9, d1 / det).as("beta1") :+
      when(abs(det) > 1e-9, d2 / det).as("beta2"): _*)
  }

  /** Kendall rank correlation per group over a bounded series axis:
    * concordant/discordant/tied pair counts are EXACT integers (the only
    * rank correlation with no floating point until the final ratio).
    * Reports tau-b = (C−D)/√((P−Tx)(P−Ty)) as a fixed double tree over
    * the exact counts (NULL when either variable is all-ties), plus the
    * raw concordant/discordant/pair counts so consumers can form tau-a
    * or significance themselves.
    * Tie accounting is the standard one: Tx counts every pair tied in x,
    * Ty every pair tied in y — a pair tied in both lands in both.
    *
    * Pairs are enumerated by `idCol`, which must be UNIQUE per group (the
    * series axis) so every unordered observation pair appears exactly
    * once. Scale contract: |axis|²/2 rows per group — aggregate facts to
    * the axis first, the quadratic runs on the slim series (the
    * [[theilSenSlope]] discipline).
    *
    * Single-observation groups have no pairs: they are KEPT (left join
    * from the per-group axis frame) with zero counts and NULL tau_b —
    * same keep-with-NULL contract as [[spearmanRho]]/[[theilSenSlope]].
    *
    * @return (groupCols…, n_pairs, concordant, discordant, tau_b) */
  def kendallTau(df: DataFrame, groupCols: Seq[String], idCol: Column,
      xCol: Column, yCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val base = df.select(g :+ idCol.cast("long").as("__i")
      :+ xCol.cast("long").as("__x") :+ yCol.cast("long").as("__y"): _*)
    val dx = col("r.__x") - col("l.__x")
    val dy = col("r.__y") - col("l.__y")
    val cnt = groupPairs(base, groupCols, col("l.__i") < col("r.__i"))
      .select(pairKeys(groupCols) :+
        when(dx > 0 && dy > 0 || dx < 0 && dy < 0, lit(1L))
          .otherwise(0L).as("c") :+
        when(dx > 0 && dy < 0 || dx < 0 && dy > 0, lit(1L))
          .otherwise(0L).as("dd") :+
        when(dx === 0, lit(1L)).otherwise(0L).as("tx") :+
        when(dy === 0, lit(1L)).otherwise(0L).as("ty"): _*)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c")).as("concordant"), sum(col("dd")).as("discordant"),
        sum(col("tx")).as("ties_x"), sum(col("ty")).as("ties_y"))
    val groups = base.select(g: _*).distinct()
    val full = groups.join(cnt, groupCols, "left")
      .select(g ++ Seq("n_pairs", "concordant", "discordant", "ties_x",
        "ties_y").map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    val p = col("n_pairs").cast("double")
    val px = p - col("ties_x").cast("double")
    val py = p - col("ties_y").cast("double")
    full.select(g :+ col("n_pairs") :+ col("concordant") :+ col("discordant") :+
      when(px > 0.0d && py > 0.0d,
        (col("concordant") - col("discordant")).cast("double") /
          sqrt(px * py)).as("tau_b"): _*)
  }

  /** Spearman rank correlation per group: Pearson over DOUBLED average
    * ranks (2·rank + ties − 1, the [[mannWhitneyU2]] integer trick), so
    * every sufficient statistic is an exact long under any partitioning;
    * rho is one fixed double tree with a SINGLE sqrt of the variance
    * product, so perfectly monotone series report exactly ±1.0. NULL when
    * either variable never varies.
    *
    * Scale contract: two rank windows per group over the bounded series
    * axis — aggregate facts to the axis first (the theilSenSlope
    * discipline); the windows sort |axis| rows per group, not facts.
    *
    * @return (groupCols…, n, rho) */
  def spearmanRho(df: DataFrame, groupCols: Seq[String], xCol: Column,
      yCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val base = df.select(g :+ xCol.cast("long").as("__x")
      :+ yCol.cast("long").as("__y"): _*)
    val ranked = base
      .withColumn("__rx", midRank2(groupCols, "__x"))
      .withColumn("__ry", midRank2(groupCols, "__y"))
    ranked.groupBy(g: _*)
      .agg(count(lit(1)).as("n"), pearsonSums(col("__rx"), col("__ry")): _*)
      .select(g :+ col("n") :+ pearson(col("n"), oneSqrt = true).as("rho"): _*)
  }

  /** Exact weighted quantiles per group, windowless: weights aggregate
    * onto the DISTINCT-VALUE axis first (rows carrying the same value
    * merge — quantiles are unchanged and the axis is the natural unique
    * key, so no synthetic row id is ever needed), then cumulative weight
    * in value order via the grouped two-phase prefix sum
    * ([[Packing.prefixSum]] by group — NO per-group global window), and
    * each percentile is the smallest value whose cumulative weight
    * reaches the ceiling target ⌈W·p/100⌉ — one conditional aggregation
    * per requested percent. All integers throughout; weights must be
    * positive.
    *
    * The weighted median/quartiles every revenue-weighted metric needs —
    * "the price half the QUANTITY trades below", not half the rows.
    *
    * @return (groupCol, w_total, p<percent>…) */
  def weightedQuantiles(df: DataFrame, groupCol: String,
      value: Column, weight: Column, percents: Seq[Int],
      axisPartitions: Int = 0): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in 1..100; got $percents")
    // read by the grouped prefix sum and the totals
    val base = valueAxis(df, groupCol, value, Seq(weight.cast("long").as("__w")),
      sum(col("__w")).as("__w"))
    val packed = Packing.prefixSum(base, "__v", "__w", Seq("__v"), "__cumw",
        Some(groupCol), inclusive = true, partitions = axisPartitions)
      .select(col(groupCol), col("__v"), col("__cumw"))
    val totals = base.groupBy(col(groupCol))
      .agg(sum(col("__w")).as("w_total"))
    val aggs = percents.map(p =>
      min(when(col("__cumw") >= ceilRank("w_total", p), col("__v"))).as(s"p$p"))
    packed.join(broadcast(totals), groupCol)
      .groupBy(col(groupCol), col("w_total"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Kruskal–Wallis H test (k-group rank ANOVA): the k-group extension of
    * [[mannWhitneyU2]] — does at least one group's value distribution
    * stochastically dominate? Nonparametric, so it is the right test for
    * the heavy-tailed metrics (revenue, latency, token counts) where
    * ANOVA's normality assumption is junk.
    *
    * Ranks never touch a global window: values aggregate to the DISTINCT-
    * VALUE axis first (counts per (group, value) and per value), the
    * cumulative count in value order comes from the two-phase prefix sum,
    * and the tie-averaged rank of value v is the closed form
    * r2(v) = 2·cum_before(v) + n_v + 1 (doubled so it stays integer — the
    * [[mannWhitneyU2]] discipline). Per-group rank sums are then exact
    * longs; H accumulates per group as a fixed-double-tree term quantized
    * ×1e6 (order-free long sum over ≤k terms), and the tie correction
    * C = 1 − Σ(n_v³−n_v)/(N³−N) divides once at the end.
    *
    * @param valQ integer-quantized value column (cast to long)
    * @return one row per group: (groupCol, n, r2_sum, h_x6, hc_x6) — h_x6
    *         identical on every row: floor(H·1e6); hc_x6 = tie-corrected */
  def kruskalWallis(df: DataFrame, groupCol: String, valQ: Column,
      axisPartitions: Int = 4): DataFrame = {
    val base = valueAxis(df, groupCol, valQ) // value rollup + rank join
    val byVal = base.groupBy(col("__v")).agg(sum(col("__n")).as("__nv"))
      .localCheckpoint() // prefix sum + tie-term aggregate
    val ranked = Packing.prefixSum(byVal, "__v", "__nv", Seq("__v"), "__cb",
        partitions = axisPartitions)
      .select(col("__v"),
        (lit(2L) * col("__cb") + col("__nv") + lit(1L)).as("__r2"))
    val perGroup = base.join(ranked, Seq("__v"))
      .groupBy(col(groupCol))
      .agg(sum(col("__n")).as("n"), sum(col("__n") * col("__r2")).as("r2_sum"))
    // "__nt", not "N": Spark resolution is case-insensitive, so a total
    // named N would collide with the per-group n after the crossJoin
    val gtot = perGroup.agg(sum(col("n")).as("__nt"))
    val ties = byVal.agg(
      sum(col("__nv") * col("__nv") * col("__nv") - col("__nv")).as("__t"))
    val dbl = "double"
    // per-group H contribution: 12·(r2_sum/2)² / (N·(N+1)·n_g), fixed tree
    val withH = perGroup.crossJoin(broadcast(gtot))
      .withColumn("__h_x6",
        floor(((lit(12.0) * (col("r2_sum").cast(dbl) / lit(2.0))
            * (col("r2_sum").cast(dbl) / lit(2.0)))
            / ((col("__nt").cast(dbl) * (col("__nt") + lit(1L)).cast(dbl))
               * col("n").cast(dbl)))
          * lit(1e6)).cast("long"))
    val n3 = col("__nt") * col("__nt") * col("__nt") - col("__nt") // N³ − N
    val hSum = withH.agg(sum(col("__h_x6")).as("__hs"),
      first(col("__nt")).as("__nt"))
    val stats = hSum.crossJoin(broadcast(ties))
      .select(
        (col("__hs") - lit(3L) * (col("__nt") + lit(1L)) * lit(1000000L))
          .as("h_x6"),
        col("__nt"), col("__t"))
      .withColumn("hc_x6",
        when(col("__t") < n3, floor((col("h_x6").cast(dbl) / lit(1e6))
            / (lit(1.0) - col("__t").cast(dbl) / n3.cast(dbl))
            * lit(1e6)).cast("long")))
      .select(col("h_x6"), col("hc_x6"))
    withH.drop("__h_x6", "__nt").crossJoin(broadcast(stats))
  }

  /** Brown–Forsythe test (Levene with median centers): are group variances
    * equal? The robust homogeneity check that should precede any pooled-
    * variance ANOVA ([[oneWayAnova]]-style analyses) — classic Levene
    * centers on the mean and melts under the same heavy tails it is
    * supposed to diagnose; centering on the median keeps the test honest.
    *
    * Group medians come from the distinct-value axis + grouped two-phase
    * prefix sum (no per-group window): the DOUBLED median (sum of the two
    * middle order statistics) stays integer for even groups. Absolute
    * deviations z = |2x − med2| are exact longs; Σz and Σz² aggregate
    * exactly (z² through decimal(38)), and the F statistic
    * ((N−k)/(k−1))·SSB/SSW evaluates once as a fixed double tree, with
    * SSB's per-group term n_g·(z̄_g − z̄)² quantized to a long before the
    * (≤k-term) sum so no double accumulation order ever matters.
    *
    * @param valQ integer-quantized value column (cast to long)
    * @return one row per group: (groupCol, n, med2, z_sum, f_x6) — med2 =
    *         2·median; f_x6 = floor(F·1e6), identical on every row */
  def brownForsythe(df: DataFrame, groupCol: String, valQ: Column,
      axisPartitions: Int = 4): DataFrame = {
    // read by the grouped prefix sum, the group sizes and the deviations
    val base = valueAxis(df, groupCol, valQ)
    val packed = Packing.prefixSum(base, "__v", "__n", Seq("__v"), "__cb",
        Some(groupCol), partitions = axisPartitions)
      .select(col(groupCol), col("__v"), col("__cb"), col("__n").as("__nv"))
    val sizes = base.groupBy(col(groupCol)).agg(sum(col("__n")).as("n"))
    // the two middle order statistics: value v covers sorted positions
    // (__cb, __cb+__nv]; the middles sit at (n+1) div 2 and n div 2 + 1
    // (equal when n is odd), so med2 = 2·median stays integer
    def covering(pos: Column) = min(when(col("__cb") + col("__nv") >= pos
      && pos > col("__cb"), col("__v")))
    val med2 = packed.join(broadcast(sizes), groupCol)
      .withColumn("__p1", expr("(n + 1) div 2"))
      .withColumn("__p2", expr("n div 2 + 1"))
      .groupBy(col(groupCol))
      .agg((covering(col("__p1")) + covering(col("__p2"))).as("med2"))
    val perGroup = base.join(broadcast(med2), groupCol)
      .select(col(groupCol), col("__n"),
        abs(lit(2L) * col("__v") - col("med2")).as("__z"))
      .groupBy(col(groupCol))
      .agg(sum(col("__n")).as("n"), sum(col("__n") * col("__z")).as("z_sum"),
        sum((col("__z") * col("__z")).cast("decimal(38,0)") * col("__n"))
          .as("__zz"))
      .localCheckpoint() // grand totals + per-group terms read it
    // same case-insensitivity rule as kruskalWallis: totals get __ names
    val grand = perGroup.agg(sum(col("n")).as("__nt"),
      sum(col("z_sum")).as("__zt"), count(lit(1)).as("__k"))
    val dbl = "double"
    val terms = perGroup.crossJoin(broadcast(grand))
      .withColumn("__mean_dev",
        col("z_sum").cast(dbl) / col("n").cast(dbl)
          - col("__zt").cast(dbl) / col("__nt").cast(dbl))
      .withColumn("__ssb_g",
        floor(col("n").cast(dbl) * (col("__mean_dev") * col("__mean_dev")))
          .cast("long"))
      .withColumn("__ssw_g",
        floor(col("__zz").cast(dbl)
            - (col("z_sum").cast(dbl) * col("z_sum").cast(dbl))
              / col("n").cast(dbl))
          .cast("long"))
    val f = terms.agg(sum(col("__ssb_g")).as("__ssb"),
        sum(col("__ssw_g")).as("__ssw"),
        first(col("__nt")).as("__nt"), first(col("__k")).as("__k"))
      .select(when(col("__ssw") > 0L && col("__k") > 1L,
        floor((((col("__nt") - col("__k")).cast(dbl)
            / (col("__k") - lit(1L)).cast(dbl))
            * (col("__ssb").cast(dbl) / col("__ssw").cast(dbl)))
          * lit(1e6)).cast("long")).as("f_x6"))
    perGroup.join(broadcast(med2), groupCol)
      .select(col(groupCol), col("n"), col("med2"), col("z_sum"))
      .crossJoin(broadcast(f))
  }

  /** Additive seasonal decomposition of a daily integer series —
    * classical decomposition (the zero-parameter core of STL):
    * trend = centered (2·halfWindow+1)-day moving average, seasonal =
    * per-phase mean of the detrended series, residual = remainder. The
    * diagnostic layer above ACF/weekday-index analyses (q184/q161): ACF
    * says "period 7 exists", this SHOWS the weekly shape and what is
    * left once it is removed.
    *
    * Everything stays integer by scaling instead of dividing: the
    * detrended value is dev_w = w·v − Σ_window v (w = window width,
    * exact long), the seasonal term floor(mean(dev_w)·1e6) quantizes the
    * only division, and resid_x6 = dev_w·1e6 − s_x6. Edge days without a
    * full window are excluded (classical convention — a shrinking window
    * would bias the trend at the series ends).
    *
    * Scale shape: the series aggregates to the DAY axis before anything
    * else (bounded by the observation window, not table size); the moving
    * total is a bounded-band range self-join on that axis, never a global
    * window over fact rows; phase means are a ≤period-row aggregate.
    *
    * @param daily one row per day: (dayCol, valCol) — pre-aggregated
    * @return (day, pos, v, t_total, dev_w, s_x6, resid_x6) for full-
    *         window days; pos = day mod period, trend = t_total/w,
    *         seasonal = s_x6/1e6 (in dev_w's w-scaled units) */
  def seasonalDecompose(daily: DataFrame, dayCol: String, valCol: String,
      halfWindow: Int = 3, period: Int = 7): DataFrame = {
    require(halfWindow >= 1 && period >= 2,
      s"need halfWindow >= 1 and period >= 2; got $halfWindow, $period")
    val w = 2 * halfWindow + 1
    val d = daily
      .select(col(dayCol).cast("long").as("day"), col(valCol).cast("long").as("v"))
      .localCheckpoint() // both sides of the band self-join + the rejoin
    val trend = d.as("a")
      .join(d.as("b"),
        expr(s"b.day BETWEEN a.day - $halfWindow AND a.day + $halfWindow"))
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("n_win"), sum(col("b.v")).as("t_total"))
      .filter(col("n_win") === w.toLong)
    val det = d.join(trend, Seq("day"))
      .select(col("day"), pmod(col("day"), lit(period.toLong)).as("pos"),
        col("v"), col("t_total"),
        (lit(w.toLong) * col("v") - col("t_total")).as("dev_w"))
      .localCheckpoint() // phase means + the output both read it
    val seas = det.groupBy(col("pos"))
      .agg(floor(sum(col("dev_w")).cast("double") * lit(1e6)
          / count(lit(1)).cast("double")).cast("long").as("s_x6"))
    det.join(broadcast(seas), Seq("pos"))
      .select(col("day"), col("pos"), col("v"), col("t_total"), col("dev_w"),
        col("s_x6"),
        (col("dev_w") * lit(1000000L) - col("s_x6")).as("resid_x6"))
  }

  /** Cohen's kappa between two categorical raters — chance-corrected
    * agreement, the standard consistency check between an automatic
    * classifier and a reference label (or two annotator passes).
    * κ = (p_o − p_e)/(1 − p_e) with p_o = agreements/n and
    * p_e = Σ_c rm_c·cm_c / n², both ratios of exact integer counts;
    * the κ tree is fixed, so the double is cross-engine exact.
    *
    * Scale: three fixed-width count aggregates (joint agree count plus
    * one marginal per rater) and a |classes|-row join of aggregate
    * frames — the data plane collapses to counts in the first pass.
    *
    * @return one row: n, n_agree, pe_num (Σ rm·cm), po, pe, kappa
    *         (null when p_e = 1, i.e. both raters constant) */
  def cohenKappa(df: DataFrame, rater1: Column, rater2: Column)
      : DataFrame = {
    val base = df.select(rater1.as("__a"), rater2.as("__b"))
      .localCheckpoint() // one scan feeds the joint count + both marginals
    val joint = base.agg(count(lit(1)).as("n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("n_agree"))
    val rm = base.groupBy(col("__a").as("cls")).agg(count(lit(1)).as("rm"))
    val cm = base.groupBy(col("__b").as("cls")).agg(count(lit(1)).as("cm"))
    val peNum = rm.join(cm, Seq("cls"), "inner")
      .agg(coalesce(sum(col("rm") * col("cm")), lit(0L)).as("pe_num"))
    val po = col("n_agree").cast("double") / col("n").cast("double")
    val pe = col("pe_num").cast("double") /
      (col("n").cast("double") * col("n").cast("double"))
    joint.crossJoin(broadcast(peNum))
      .withColumn("po", po)
      .withColumn("pe", pe)
      .withColumn("kappa",
        when(col("po") === 1.0d, lit(1.0d))
          .when(col("pe") < 1.0d,
            (col("po") - col("pe")) / (lit(1.0d) - col("pe"))))
  }

  /** Two-sample Kolmogorov–Smirnov statistic, exact: the largest gap
    * between the two empirical CDFs, reported as the INTEGER numerator
    * D_num = max_v |cumA(v)·n_b − cumB(v)·n_a| so that
    * D = D_num/(n_a·n_b) involves no floating point until the final
    * quantized ratio. The distribution-shape companion to
    * [[mannWhitneyU2]] (U detects location shift; KS detects ANY
    * difference, including variance/shape).
    *
    * Scale: both samples aggregate to the DISTINCT-VALUE axis first
    * (one hash aggregate); the two cumulative passes run on that slim
    * axis through the two-phase prefix sum (no global window). The
    * binding integer constraint is cum·n < 2⁶³ — fine through ~10⁹ rows
    * per side; beyond that move the numerator to DECIMAL. The quantized
    * ratio d_x6 is computed as an identical fixed double tree on both
    * engines (d_num/(n_a·n_b)·10⁶, floored), NOT integer-scaled — a
    * d_num·10⁶ long product would overflow already at ~10⁷ rows per
    * side (d_num itself grows as D·n_a·n_b).
    *
    * @param side row predicate: true → sample A, false → sample B
    * @param valQ integer-quantized value (cast to long)
    * @return one row: (n_a, n_b, d_num, d_x6, v_at_max) — v_at_max the
    *         smallest axis value attaining the max gap
    */
  def ksTest2(df: DataFrame, side: Column, valQ: Column,
      axisPartitions: Int = 4): DataFrame = {
    val base = df.select(side.as("__s"), valQ.cast("long").as("__v"))
      .groupBy(col("__v"))
      .agg(sum(when(col("__s"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("__s"), 1L).otherwise(0L)).as("nb"))
      .localCheckpoint() // feeds both cumulative passes + the totals
    def cum(c: String, out: String) = Packing.prefixSum(base, "__v", c,
        Seq("__v"), out, inclusive = true, partitions = axisPartitions)
      .select(col("__v"), col(out))
    val tot = base.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
    val terms = cum("na", "ca").join(cum("nb", "cb"), Seq("__v"))
      .crossJoin(broadcast(tot))
      .select(col("__v"), col("n_a"), col("n_b"),
        abs(col("ca") * col("n_b") - col("cb") * col("n_a")).as("dn"))
      .localCheckpoint() // slim axis; consumed by the max AND the argmax
    val m = terms.agg(max(col("dn")).as("d_num"))
    terms.crossJoin(broadcast(m))
      .filter(col("dn") === col("d_num"))
      .groupBy(col("n_a"), col("n_b"), col("d_num"))
      .agg(min(col("__v")).as("v_at_max"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          floor(col("d_num").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))
            * lit(1e6)).cast("long")).as("d_x6"),
        col("v_at_max"))
  }

  /** Mann–Kendall monotonic-trend test per group: is the series going
    * anywhere, without assuming linearity or normality? The S statistic
    * Σ_{i<j} sign(x_j − x_i) and its tie-corrected variance — reported as
    * 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), which is an exact
    * integer — leave z = (S∓1)/√Var to the caller. The hypothesis-test
    * companion to [[theilSenSlope]] (that one says HOW steep, this one
    * says WHETHER): same pair frame, same bounded-axis contract — the
    * facts aggregate to the (group, t) series FIRST, and the quadratic
    * pair join runs on the slim series (a calendar axis, so pairs are
    * bounded by horizon², not data²).
    *
    * Groups with < 2 points have no pairs: kept with n_pairs = 0 and
    * NULL s_stat/var18 (the [[theilSenSlope]]/[[spearmanRho]] contract).
    *
    * Input contract (ENFORCED): at most one row per (group, t). S counts
    * only strictly-ordered pairs (r.t > l.t), so tied-t duplicates would
    * be excluded from S while the n(n−1)(2n+5) variance still counts
    * them — an inconsistent, z-inflating pair. Rather than silently
    * mis-scale, a duplicate (group, t) raises at execution time: callers
    * aggregate the series first (as [[theilSenSlope]] callers do).
    *
    * @param tCol ordering axis (long-castable); vCol series value
    * @return (groupCols…, n_points, n_pairs, s_stat, var18)
    */
  def mannKendall(df: DataFrame, groupCols: Seq[String], tCol: Column,
      vCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val base = df.select(g :+ tCol.cast("long").as("__t")
      :+ vCol.cast("long").as("__v"): _*)
      .localCheckpoint() // pair join (both sides) + ties + point counts
    val pairs = groupPairs(base, groupCols, col("r.__t") > col("l.__t"))
      .groupBy(pairKeys(groupCols): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(signum(col("r.__v") - col("l.__v")).cast("long")).as("s_stat"))
    // tie groups of v: Σ t(t−1)(2t+5) over runs of equal values
    val ties = base.groupBy(g :+ col("__v"): _*)
      .agg(count(lit(1)).as("t"))
      .groupBy(g: _*)
      .agg(sum(col("t")).as("n_points"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .as("tie18"))
    // contract guard: duplicate (group, t) rows make S and Var(S)
    // inconsistent (see scaladoc) — raise instead of mis-scaling z
    val tties = base.groupBy(g :+ col("__t"): _*)
      .agg(count(lit(1)).as("__tt"))
      .groupBy(g: _*).agg(max(col("__tt")).as("__max_tt"))
    ties
      .withColumn("var18",
        col("n_points") * (col("n_points") - 1L)
          * (lit(2L) * col("n_points") + 5L) - col("tie18"))
      .join(pairs, groupCols, "left")
      .join(tties, groupCols)
      .select(g :+ col("n_points") :+
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs") :+
        col("s_stat") :+
        when(col("__max_tt") > 1L, raise_error(lit(
          "mannKendall: duplicate (group, t) rows — aggregate the series " +
            "to one value per timestamp first (tied-t pairs are excluded " +
            "from S but would still inflate Var(S))")).cast("long"))
          .otherwise(when(col("n_pairs").isNotNull, col("var18")))
          .as("var18"): _*)
  }

  /** Cramér's V association between two categoricals: the chi-square of
    * the FULL contingency grid (empty cells contribute their expectation)
    * normalized to [0, 1] by n·min(r−1, c−1) — the effect-size companion
    * to [[mutualInfo]] (MI says how many bits are shared, V says how far
    * from independence on a fixed scale, comparable across pairs).
    *
    * Exactness: observed and marginal counts are exact longs; each cell's
    * (O·n − nx·ny)²/(n·nx·ny) term is a fixed double tree quantized
    * floor(·10⁹) and summed order-free; V is one further fixed tree over
    * the integer chi² sum. Scale: one cell aggregate, then the grid is
    * the CROSS of the two marginal frames — bounded by the axis
    * cardinalities, never the fact count.
    *
    * NULL categories: both axes are rendered to string and NULL is
    * coalesced to '' (the coalesce(lang,'') idiom), so a missing
    * category is one ordinary level on both engines — without this, a
    * SQL oracle's COUNT(DISTINCT) excludes NULL while groupBy keeps it,
    * and NULL join keys silently drop observed cells from the grid.
    * Callers whose data distinguishes genuine '' from NULL must
    * pre-map NULL to their own sentinel.
    *
    * @return one row: (pair, n_rows, n_x, n_y, chi2_x9, v_x6)
    */
  def cramersV(df: DataFrame, xCol: Column, yCol: Column,
      pairName: String): DataFrame = {
    val (cells, mx, my, tot) = contingency(df,
      coalesce(xCol.cast("string"), lit("")).as("__x"),
      coalesce(yCol.cast("string"), lit("")).as("__y"))
    val dbl = "double"
    val o = coalesce(col("nxy"), lit(0L))
    // (O·n − nx·ny)²/(n·nx·ny): numerator diff is an exact long (≤ n²),
    // squared in double (would overflow long), fixed tree throughout
    val diff = (o * col("n") - col("nx") * col("ny")).cast(dbl)
    val term = (diff * diff) /
      (col("n").cast(dbl) * (col("nx").cast(dbl) * col("ny").cast(dbl)))
    // full grid: r·c rows, bounded axes — broadcast one marginal so the
    // cross is a broadcast nested loop, never a CartesianProduct exchange
    val grid = mx.crossJoin(broadcast(my))
      .join(cells, Seq("__x", "__y"), "left")
      .crossJoin(broadcast(tot))
    val agg = grid
      .select(col("n"), floor(term * lit(1e9)).cast("long").as("__t"))
      .groupBy(col("n"))
      .agg(sum(col("__t")).as("chi2_x9"))
    val nx = mx.agg(count(lit(1)).as("n_x"))
    val ny = my.agg(count(lit(1)).as("n_y"))
    val k = least(col("n_x") - 1L, col("n_y") - 1L)
    agg.crossJoin(broadcast(nx)).crossJoin(broadcast(ny))
      .select(lit(pairName).as("pair"), col("n").as("n_rows"),
        col("n_x"), col("n_y"), col("chi2_x9"),
        when(k >= 1L && col("n") > 0L,
          floor(sqrt((col("chi2_x9").cast(dbl) / lit(1e9)) /
            (col("n").cast(dbl) * k.cast(dbl))) * lit(1e6)).cast("long"))
          .as("v_x6"))
  }

  /** Per-state transition entropy of a first-order chain: for each
    * (group, from-state), H = Σ_j −p(j|i)·ln p(j|i) over the observed
    * next-state distribution — "how predictable is what happens after a
    * click?" The uncertainty companion to a Markov accuracy readout
    * (argmax accuracy says how often the top guess wins; entropy says how
    * concentrated the whole distribution is).
    *
    * Exactness: transition counts are exact longs; each −(nij/ni)·ln(nij/ni)
    * term is a fixed double tree quantized floor(·10⁹), summed order-free.
    * Scale: input is the pre-built transition frame (one keyed window over
    * per-entity sequences upstream); everything here aggregates to the
    * (group, state, state) grid — bounded by state-cardinality², never by
    * the event count.
    *
    * @param transitions one row per observed transition:
    *                    (groupCols…, fromCol, toCol)
    * @return (groupCols…, from_state, n_out, n_next_states, h_x9)
    */
  def transitionEntropy(transitions: DataFrame, groupCols: Seq[String],
      fromCol: Column, toCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val (cells, marg, _, _) = contingency(transitions, fromCol.as("__f"),
      toCol.as("__j"), cell = "nij", xm = "ni", keys = groupCols)
    val dbl = "double"
    val p = col("nij").cast(dbl) / col("ni").cast(dbl)
    cells.join(broadcast(marg), groupCols :+ "__f")
      .select(g :+ col("__f") :+ col("ni") :+
        floor(-(p * log(p)) * lit(1e9)).cast("long").as("__t"): _*)
      .groupBy(g :+ col("__f").as("from_state"): _*)
      .agg(max(col("ni")).as("n_out"),
        count(lit(1)).as("n_next_states"),
        sum(col("__t")).as("h_x9"))
  }

  // ---- shared exact-statistics pieces ----

  /** The (ordered, whole-group) window pair over `groupCols`. */
  private def groupWindows(groupCols: Seq[String], order: Column*)
      : (WindowSpec, WindowSpec) = {
    val all = Window.partitionBy(groupCols.map(col): _*)
    (all.orderBy(order: _*), all)
  }

  /** Adds `rn`, the 1-based position under `order`, and `n`, the group
    * size — the ranked frame every ceiling-rank pick reads. */
  private def withPosition(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], rn: String = "__rn", n: String = "__n"): DataFrame = {
    val (wOrd, wAll) = groupWindows(groupCols, order: _*)
    df.withColumn(rn, row_number().over(wOrd).cast("long"))
      .withColumn(n, count(lit(1)).over(wAll))
  }

  /** The value `x` on the row whose position `rn` equals `rank`. */
  private def pickAt(rn: Column, rank: Column, x: Column): Column =
    max(when(rn === rank, x))

  /** Ceiling rank (n·p + 99) div 100 of integer percent `p` among `n`. */
  private def ceilRank(n: String, p: Int): Column =
    expr(s"($n * $p + 99) div 100")

  /** `n` and one ceiling-rank pick `p<pct>` of `__x` per percent, over a
    * [[withPosition]] frame. */
  private def ceilPicks(pcts: Seq[Int]): Seq[Column] = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "percents must be in 1..100")
    max(col("__n")).as("n") +: pcts.map(p =>
      pickAt(col("__rn"), ceilRank("__n", p), col("__x")).as(s"p$p"))
  }

  /** The histogram row whose running count `cum` (through its own count
    * `c`) first reaches rank `k`. */
  private def reaches(cum: String, c: String, k: String): Column =
    col(cum) >= col(k) && col(cum) - col(c) < col(k)

  /** Doubled average rank 2·rank + ties − 1 of `x` within its group: an
    * exact long, so tied values share the half-integer mean rank. */
  private def midRank2(groupCols: Seq[String], x: String): Column = {
    val g = groupCols.map(col)
    lit(2L) * rank().over(Window.partitionBy(g: _*).orderBy(col(x)))
      .cast("long") + count(lit(1)).over(Window.partitionBy(g :+ col(x): _*)) -
      lit(1L)
  }

  /** The (group, distinct value) axis of `valQ` as `__v`: one row per
    * pair with its row count `__n` (or the aggregate `mass` over the
    * `extra` columns), far smaller than the facts and checkpointed, so the
    * fact scan runs once however many passes read it. */
  private def valueAxis(df: DataFrame, groupCol: String, valQ: Column,
      extra: Seq[Column] = Nil, mass: Column = count(lit(1)).as("__n"))
      : DataFrame =
    df.select(col(groupCol) +: valQ.cast("long").as("__v") +: extra: _*)
      .groupBy(col(groupCol), col("__v")).agg(mass).localCheckpoint()

  /** Per group: the size `nIn` of the cohort flagged by `in` (an aliased
    * boolean), the size `nOut` of the rest, and the cohort's doubled
    * Mann–Whitney statistic `u2` = Σ [[midRank2]] of `value` − nIn(nIn+1),
    * an exact long. */
  private def rankSumU2(df: DataFrame, groupCols: Seq[String], in: Column,
      value: Column, nIn: String, nOut: String, u2: String): DataFrame = {
    val base = df.select(groupCols.map(col) :+ in
      :+ value.cast("long").as("__x"): _*)
    val flag = col(base.columns(groupCols.size))
    base.withColumn("__r2", midRank2(groupCols, "__x"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(when(flag, 1L).otherwise(0L)).as(nIn),
        sum(when(!flag, 1L).otherwise(0L)).as(nOut),
        sum(when(flag, col("__r2")).otherwise(0L)).as("__sr2"))
      .withColumn(u2, col("__sr2") - col(nIn) * (col(nIn) + lit(1L)))
      .drop("__sr2")
  }

  /** The sums [[pearson]] reads besides the count: Σx, Σy, Σx², Σy², Σxy. */
  private def pearsonSums(x: Column, y: Column): Seq[Column] = Seq(
    sum(x).as("sx"), sum(y).as("sy"), sum(x * x).as("sxx"),
    sum(y * y).as("syy"), sum(x * y).as("sxy"))

  /** Pearson correlation over six exact sums as a fixed double tree:
    * num = n·Σxy − Σx·Σy, vx = n·Σx² − (Σx)², vy likewise; NULL when
    * either variance is zero. The divisor is √vx·√vy, or with
    * `oneSqrt` √(vx·vy) — a single rounding, so a perfectly monotone
    * rank pair reports exactly ±1. */
  private[ops] def pearson(n: Column, sx: Column = col("sx"),
      sy: Column = col("sy"), sxx: Column = col("sxx"),
      syy: Column = col("syy"), sxy: Column = col("sxy"),
      oneSqrt: Boolean = false): Column = {
    val dbl = "double"
    val nd = n.cast(dbl)
    val vx = nd * sxx.cast(dbl) - sx.cast(dbl) * sx.cast(dbl)
    val vy = nd * syy.cast(dbl) - sy.cast(dbl) * sy.cast(dbl)
    val num = nd * sxy.cast(dbl) - sx.cast(dbl) * sy.cast(dbl)
    when(vx > 0.0d && vy > 0.0d,
      if (oneSqrt) num / sqrt(vx * vy) else num / (sqrt(vx) * sqrt(vy)))
  }

  /** One-scan contingency of (keys…, x, y): the checkpointed cell count
    * `cell`, and from it the (keys, x) marginal `xm`, the (keys, y)
    * marginal `ym` and the per-keys total `total`. */
  private def contingency(df: DataFrame, x: Column, y: Column,
      cell: String = "nxy", xm: String = "nx", ym: String = "ny",
      total: String = "n", keys: Seq[String] = Nil)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val k = keys.map(col)
    val cells = df.groupBy(k :+ x :+ y: _*).agg(count(lit(1)).as(cell))
      .localCheckpoint() // one scan feeds both marginals + the total
    val Seq(xn, yn) = cells.columns.slice(keys.size, keys.size + 2).toSeq
    def margin(by: Seq[Column], out: String) =
      cells.groupBy(by: _*).agg(sum(col(cell)).as(out))
    (cells, margin(k :+ col(xn), xm), margin(k :+ col(yn), ym),
      margin(k, total))
  }

  /** Ordered pairs of rows within a group: `base` self-joined as `l` and
    * `r` on `groupCols` plus `ordered`, a predicate over `l.`/`r.` columns.
    * Groups with fewer than two rows have no pairs; callers left-join the
    * pair aggregate onto a per-group frame to keep them with NULLs. */
  private def groupPairs(base: DataFrame, groupCols: Seq[String],
      ordered: Column): DataFrame =
    base.as("l").join(base.as("r"),
      (groupCols.map(c => col(s"l.$c") === col(s"r.$c")) :+ ordered)
        .reduce(_ && _))

  /** The group columns of a [[groupPairs]] frame, under their own names. */
  private def pairKeys(groupCols: Seq[String]): Seq[Column] =
    groupCols.map(c => col(s"l.$c").as(c))
}
