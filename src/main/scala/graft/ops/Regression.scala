package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grouped closed-form linear regression (per-group trend fit): OLS
  * slope/intercept of y over x for every group in ONE aggregation pass —
  * the five sufficient statistics (n, Σx, Σy, Σxy, Σx²) partial-aggregate
  * map-side, so a million-group fit over 100 TB costs exactly one
  * fixed-width shuffle; nothing iterative, nothing collected.
  *
  * Determinism contract (the engine's cross-engine float rule): x and y
  * arrive as ALREADY-QUANTIZED LONGS (epoch days, cents, micro-units) so
  * every sufficient statistic is an exact integer; the only floating
  * operations are the final slope/intercept divisions of two exact longs,
  * which are correctly rounded identically on every engine. The caller
  * CENTERS x near its mean (e.g. days since a mid-range date): the
  * SUMS stay exact while Σx² and Σxy fit int64 — with centered x that
  * bound holds far past 10^9 rows per group; beyond it, rescale units.
  * The closing products n·Σxy − Σx·Σy and n·Σx² − (Σx)² are evaluated
  * in DECIMAL(38,0) (HUGEINT on a SQL engine): (Σx)² squares the SUM,
  * so it blows int64 long before the sums themselves do (at x ≈ 3·10⁷
  * it takes only ~10² points — the zipfFit regime), and Spark with ANSI
  * off would WRAP it silently where DuckDB errors loudly — the decimal
  * close keeps the two engines bit-identical instead (the
  * [[graft.ops.Graph.degreeAssortativity]] discipline).
  */
object Regression {

  /** @param groupCols grouping key columns
    * @param x quantized-long regressor column
    * @param y quantized-long response column
    * @return per group: n, slope = cov/var as double, intercept =
    *         (Σy − slope·Σx)/n as double; slope/intercept null when the
    *         group has a single distinct x (zero variance). */
  def trendFit(df: DataFrame, groupCols: Seq[String], x: Column, y: Column)
      : DataFrame = {
    val stats = df
      .select(groupCols.map(col) :+ x.cast("long").as("__x")
        :+ y.cast("long").as("__y"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
    val d38 = "decimal(38,0)"
    val num = col("n").cast(d38) * col("__sxy").cast(d38) -
      col("__sx").cast(d38) * col("__sy").cast(d38)
    val den = col("n").cast(d38) * col("__sxx").cast(d38) -
      col("__sx").cast(d38) * col("__sx").cast(d38)
    stats
      .withColumn("slope",
        when(den =!= 0L, num.cast("double") / den.cast("double")))
      .withColumn("intercept",
        when(den =!= 0L,
          (col("__sy").cast("double") - col("slope") * col("__sx").cast("double"))
            / col("n").cast("double")))
      .drop("__sx", "__sy", "__sxy", "__sxx")
  }

  /** Pairwise Pearson correlation for every unordered pair of `vars`, per
    * group, in ONE aggregation pass: k sums + k sums-of-squares +
    * k·(k−1)/2 cross sums partial-aggregate map-side into a single
    * fixed-width row per group; the pair expansion afterwards is a pure
    * in-row `explode` of an already-aggregated row (no second scan, no
    * join).
    *
    * Determinism contract: `vars` are quantized longs; every sufficient
    * statistic is an exact int64 (valid while n·max² < 2^63 — e.g.
    * values ≤ 10⁴ hold past 10¹⁰ rows per group; rescale units beyond).
    * The final correlation is computed in double with a FIXED operation
    * tree — num/(sqrt(varx)·sqrt(vary)) over exact-long inputs — so each
    * double op is correctly rounded from identical inputs on any engine.
    * Zero-variance pairs yield null. */
  def corrPairs(df: DataFrame, groupCols: Seq[String],
      vars: Seq[(String, Column)]): DataFrame = {
    require(vars.size >= 2, "need at least two variables")
    val names = vars.map(_._1)
    val proj = df.select(groupCols.map(col) ++
      vars.map { case (n, c) => c.cast("long").as(s"__v_$n") }: _*)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (names(i), names(j))
    val aggs = (count(lit(1)).as("n") +:
      names.flatMap { n =>
        Seq(sum(col(s"__v_$n")).as(s"__s_$n"),
          sum(col(s"__v_$n") * col(s"__v_$n")).as(s"__q_$n"))
      }) ++ pairs.map { case (a, b) =>
        sum(col(s"__v_$a") * col(s"__v_$b")).as(s"__p_${a}_$b")
      }
    val stats = proj.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val pairStructs = pairs.map { case (a, b) =>
      struct(lit(a).as("var_x"), lit(b).as("var_y"),
        Stats.pearson(col("n"), col(s"__s_$a"), col(s"__s_$b"), col(s"__q_$a"),
          col(s"__q_$b"), col(s"__p_${a}_$b")).as("corr"))
    }
    stats
      .select(groupCols.map(col) ++ Seq(col("n"),
        explode(array(pairStructs: _*)).as("__pr")): _*)
      .select(groupCols.map(col) ++ Seq(col("n"), col("__pr.var_x"),
        col("__pr.var_y"), col("__pr.corr")): _*)
  }

  /** Batch perceptron trainer — the model-based filter primitive
    * (quality / language / domain gates) trained IN the engine, no ML
    * runtime: fixed synchronous rounds of w ← w + Σ_misclassified y·x
    * over integer features, then a confusion readout under the final
    * weights. The batch (synchronous) update is the distributed form of
    * the perceptron rule: each round is ONE aggregate over the feature
    * frame (k+1 exact long sums, map-side combined) plus a 1-row
    * control-plane collect that folds the new weights into the next
    * round's literals — the [[graft.ops.TextAnalysis]] bpeTrain
    * winner-collect discipline. No per-example sequential dependence, so
    * results are bit-identical across engines, partition layouts, and
    * retries (a classic one-pass perceptron is arrival-order-dependent —
    * useless under the determinism contract).
    *
    * EXACTNESS: labels are ±1 and features are non-NULL (both enforced
    * in-plan with a named error — a NULL feature would otherwise
    * silently exclude the row from updates and the confusion quadrants
    * while still counting in n_train), features cast to long; margins,
    * deltas, and counts are exact int64.
    * A margin of EXACTLY 0 counts as misclassified (the standard ≤ 0
    * update rule) — deterministic, engine-agnostic. Overflow contract:
    * |w| grows ≤ rounds·Σ|x| per feature, so rounds·(Σ|x|)·max|x| must
    * stay below 2⁶³ — comfortable for count-valued features (≤10⁶) on
    * ≤10¹⁰ rows; rescale feature units beyond.
    *
    * Scale shape: the feature frame (1 label + k longs per row) is
    * computed once and localCheckpoint'ed — rounds+1 consumers (each
    * round's delta aggregate + the confusion pass) re-reading a slim
    * columnar frame instead of re-deriving features from raw text each
    * round (the q200 materialize-vs-recompute rule: many consumers ×
    * expensive derivation → materialize). Each round's shuffle is ONE
    * row of k+1 partial sums per task.
    *
    * @param df       training rows
    * @param features integer feature columns, in order
    * @param label    ±1 column
    * @param rounds   synchronous update rounds (≥1)
    * @return one row: n_train, bias, w1..wk, then tp/fp/tn/fn of the
    *         final weights (prediction = margin > 0)
    */
  def perceptronTrain(df: DataFrame, features: Seq[Column], label: Column,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "perceptronTrain needs at least one round")
    require(features.nonEmpty, "perceptronTrain needs at least one feature")
    val k = features.size
    val y = label.cast("long")
    val f = df.select(
      (when(y === 1L || y === -1L, y)
        .otherwise(expr("raise_error('perceptronTrain: label must be +1 or -1')"))
        .as("y") +:
        features.zipWithIndex.map { case (c, i) =>
          // a NULL feature would silently null the margin, dropping the
          // row from every update AND the confusion quadrants while still
          // counting in n_train — fail loudly like a bad label instead
          val xc = c.cast("long")
          when(xc.isNotNull, xc)
            .otherwise(expr(
              s"raise_error('perceptronTrain: feature ${i + 1} is NULL')")
              .cast("long"))
            .as(s"x${i + 1}")
        }): _*)
      .localCheckpoint()
    def margin(b: Long, w: Array[Long]): Column =
      w.zipWithIndex.foldLeft(lit(b): Column) { case (acc, (wi, i)) =>
        acc + lit(wi) * col(s"x${i + 1}")
      }
    var b = 0L
    val w = Array.fill(k)(0L)
    for (_ <- 1 to rounds) {
      val mis = col("y") * margin(b, w) <= 0L
      val aggs =
        coalesce(sum(when(mis, col("y"))), lit(0L)).as("db") +:
          (1 to k).map(i =>
            coalesce(sum(when(mis, col("y") * col(s"x$i"))), lit(0L))
              .as(s"dw$i"))
      val row = f.agg(aggs.head, aggs.tail: _*).head() // 1-row control plane
      b += row.getLong(0)
      for (i <- 0 until k) w(i) += row.getLong(i + 1)
    }
    val m = margin(b, w)
    val confusion = Seq(
      count(lit(1)).as("n_train"),
      coalesce(sum(when(col("y") === 1L && m > 0L, 1L)), lit(0L)).as("tp"),
      coalesce(sum(when(col("y") === -1L && m > 0L, 1L)), lit(0L)).as("fp"),
      coalesce(sum(when(col("y") === -1L && m <= 0L, 1L)), lit(0L)).as("tn"),
      coalesce(sum(when(col("y") === 1L && m <= 0L, 1L)), lit(0L)).as("fn"))
    f.agg(confusion.head, confusion.tail: _*)
      .select(col("n_train") +: lit(b).as("bias") +:
        (1 to k).map(i => lit(w(i - 1)).as(s"w$i")) ++:
        Seq(col("tp"), col("fp"), col("tn"), col("fn")): _*)
  }
}
