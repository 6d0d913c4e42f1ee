package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("termClassChiSquare: hand-computed 2x2; over-represented only") {
    // 4 docs in class A, 4 in B. "alpha" in all A docs and no B docs:
    // a=4 b=0 c=0 d=4 → chi2 = 8*16*16/(4*4*4*4) = 8. "common" in every
    // doc: den has (c+d)=0 margin → dropped. "beta" in 1 A + 3 B docs:
    // over-represented in B only.
    val docs = Seq(
      (1L, "A", "alpha common beta"), (2L, "A", "alpha common"),
      (3L, "A", "alpha common"), (4L, "A", "alpha common"),
      (5L, "B", "beta common"), (6L, "B", "beta common"),
      (7L, "B", "beta common"), (8L, "B", "common"))
      .toDF("doc_id", "class_col", "text")
    val got = Stats.termClassChiSquare(docs, "class_col", minDf = 3, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    // alpha in A: chi2 = N(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)) = 8*256/256 = 8
    assert(got(("A", "alpha")) == ((4L, 4L, 8000L)))
    // beta in B: a=3 b=1 c=1 d=3 → 8*(9-1)^2/(4*4*4*4) = 8*64/256 = 2
    assert(got(("B", "beta")) == ((3L, 4L, 2000L)))
    // beta NOT ranked for A (under-represented there); common nowhere
    assert(!got.contains(("A", "beta")) && !got.contains(("A", "common"))
      && !got.contains(("B", "common")))

    // doc-LEVEL presence: a term repeated within one doc counts once
    // (the in-row array_distinct dedupe, not term frequency)
    val rep = Seq((1L, "X", "w w w w"), (2L, "X", "w v"), (3L, "Y", "v v"))
      .toDF("doc_id", "class_col", "text")
    val repGot = Stats.termClassChiSquare(rep, "class_col", minDf = 2, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(repGot(("X", "w")) == 2L) // 2 docs, not 5 occurrences
  }

  test("twoProportionZ: hand-computed z; degenerate cohorts null") {
    // g1: A = 8 trials 6 successes, B = 8 trials 2 successes.
    // pp = 0.5, se = sqrt(0.25 * 0.25) = 0.25, z = (0.75-0.25)/0.25 = 2
    val rows = (Seq.fill(6)(("g1", true, true)) ++ Seq.fill(2)(("g1", true, false)) ++
      Seq.fill(2)(("g1", false, true)) ++ Seq.fill(6)(("g1", false, false)) ++
      // g2: all successes in both cohorts → pp = 1 → null z
      Seq(("g2", true, true), ("g2", false, true)) ++
      // g3: cohort B empty → null z
      Seq(("g3", true, true), ("g3", true, false)))
      .toDF("g", "ca", "sc")
    val got = Stats.twoProportionZ(rows, Seq("g"), col("ca"), col("sc"))
      .orderBy("g").collect()
    assert(got(0).getLong(1) == 8L && got(0).getLong(2) == 6L
      && got(0).getLong(3) == 8L && got(0).getLong(4) == 2L)
    assert(math.abs(got(0).getDouble(5) - 2.0) < 1e-12)
    assert(got(1).isNullAt(5)) // pp = 1
    assert(got(2).isNullAt(5)) // empty cohort
  }

  test("timeWeightedAvg: weights are time-to-next; last event unweighted") {
    // user 1: v=100 held 10s, v=200 held 30s, v=999 last (no weight)
    //   twa = (100*10 + 200*30) / 40 = 7000/40 = 175
    // user 2: single event → no elapsed time → null
    val e = Seq(
      (1L, 1L, 0L, 100L), (1L, 2L, 10000000L, 200L),
      (1L, 3L, 40000000L, 999L),
      (2L, 4L, 5000000L, 50L))
      .toDF("user_id", "event_id", "ts_us", "vc")
    val got = Stats.timeWeightedAvg(e, Seq("user_id"), col("ts_us"),
        col("event_id"), col("vc"))
      .select("user_id", "n_events", "total_sec", "twa")
      .orderBy("user_id").collect()
    assert(got(0).getLong(1) == 3L && got(0).getLong(2) == 40L)
    assert(got(0).getDouble(3) == 175.0)
    assert(got(1).getLong(1) == 1L && got(1).getLong(2) == 0L
      && got(1).isNullAt(3))
  }

  test("benfordAudit: digits, group totals, expected counts") {
    // group g: amounts with first digits 1,1,1,2,9 (5 rows)
    val df = Seq(("g", 123.4), ("g", 19.99), ("g", 1000.0), ("g", 250.0),
      ("g", 9.5)).toDF("grp", "amt")
    val got = Stats.benfordAudit(df, Seq("grp"), col("amt"))
      .orderBy("digit").collect()
    assert(got.map(_.getInt(1)).toSeq == Seq(1, 2, 9))
    assert(got.map(_.getLong(2)).toSeq == Seq(3L, 1L, 1L)) // n_obs
    assert(got.forall(_.getLong(3) == 5L)) // n_group
    // digit 1 expectation: 5·log10(2) ≈ 1.50515
    assert(got(0).getLong(4) == math.floor(
      5.0 * (math.log(2.0) / math.log(10.0)) * 1e6).toLong)
    // dev for digit 1: (3-e)²/e quantized
    val e1 = 5.0 * (math.log(2.0) / math.log(10.0))
    assert(got(0).getLong(5) ==
      math.floor(((3.0 - e1) * (3.0 - e1)) / e1 * 1e6).toLong)
  }

  test("categoricalEntropy: uniform = ln k; constant = 0") {
    val df = Seq((1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"),
      (2L, "x"), (2L, "x"), (2L, "x")).toDF("k", "cat")
    val got = Stats.categoricalEntropy(df, Seq("k"), "cat")
      .orderBy("k").collect()
    // key 1: 4 uniform cats → H = ln 4; each term floor(.25·ln .25·1e9)
    val term = math.floor(0.25 * math.log(0.25) * 1e9).toLong
    assert(got(0).getLong(1) == 4L && got(0).getLong(2) == 4L
      && got(0).getLong(3) == -4L * term)
    // key 2: single cat → p=1, ln 1 = 0 → entropy 0
    assert(got(1).getLong(1) == 3L && got(1).getLong(2) == 1L
      && got(1).getLong(3) == 0L)
  }

  test("giniByGroup: even split 0; concentration rises; ties broken") {
    val df = Seq(
      ("even", 1L, 10L), ("even", 2L, 10L), ("even", 3L, 10L), ("even", 4L, 10L),
      ("skew", 5L, 0L), ("skew", 6L, 0L), ("skew", 7L, 0L), ("skew", 8L, 100L))
      .toDF("g", "id", "x")
    val got = Stats.giniByGroup(df, Seq("g"), col("x"), col("id"))
      .orderBy("g").collect()
    assert(got(0).getString(0) == "even" && got(0).getLong(1) == 4L
      && got(0).getDouble(2) == 0.0)
    // skew: sorted x = (0,0,0,100), sw = 400, s = 100, n = 4
    // G = (800 - 500)/400 = 0.75
    assert(got(1).getString(0) == "skew" && got(1).getDouble(2) == 0.75)
  }

  test("welchTTest: hand-computed equal-variance case; degenerate null") {
    // A = (1,2,3), B = (4,5,6): ma=2 mb=5, va=vb=1, se2=2/3
    // t = -3/sqrt(2/3); df = (2/3)²/(2·(1/3)²/2) = (4/9)/(1/9) = 4
    val rows = Seq(("g", true, 1L), ("g", true, 2L), ("g", true, 3L),
      ("g", false, 4L), ("g", false, 5L), ("g", false, 6L),
      // h: constant values both cohorts → zero variance → null t
      ("h", true, 7L), ("h", true, 7L), ("h", false, 7L), ("h", false, 7L))
      .toDF("g", "ca", "v")
    val got = Stats.welchTTest(rows, Seq("g"), col("ca"), col("v"))
      .orderBy("g").collect()
    assert(got(0).getLong(1) == 3L && got(0).getLong(2) == 3L)
    assert(got(0).getDouble(3) == 2.0 && got(0).getDouble(4) == 5.0)
    assert(math.abs(got(0).getDouble(5) - (-3.0 / math.sqrt(2.0 / 3.0))) < 1e-12)
    assert(math.abs(got(0).getDouble(6) - 4.0) < 1e-9)
    assert(got(1).isNullAt(5) && got(1).isNullAt(6))
  }

  test("mannWhitneyU2: clean separation and ties, doubled-rank exact") {
    // A = (1,2), B = (3,4): ranks 1,2,3,4 → r2 = 2r (no ties)
    // ΣR2_A = 2+4 = 6; U2 = 6 − 2·3 = 0 (A fully below B)
    val clean = Seq(("g", true, 1L), ("g", true, 2L),
      ("g", false, 3L), ("g", false, 4L)).toDF("g", "ca", "v")
    val g1 = Stats.mannWhitneyU2(clean, Seq("g"), col("ca"), col("v")).collect()(0)
    assert(g1.getLong(1) == 2L && g1.getLong(2) == 2L && g1.getLong(3) == 0L)
    // z = (0/… ) → (U2 − n1n2)/(2σ) = (0−4)/(2·sqrt(4·5/12))
    assert(math.abs(g1.getDouble(4) -
      (-4.0 / (2.0 * math.sqrt(20.0 / 12.0)))) < 1e-12)

    // ties: A = (5), B = (5): both avg rank 1.5 → r2 = 3 each
    // ΣR2_A = 3, U2 = 3 − 1·2 = 1 (= 2·0.5, the tied half-win)
    val tied = Seq(("t", true, 5L), ("t", false, 5L)).toDF("g", "ca", "v")
    val g2 = Stats.mannWhitneyU2(tied, Seq("g"), col("ca"), col("v")).collect()(0)
    assert(g2.getLong(3) == 1L)
  }

  test("cusumChangePoint: planted level shift found at the shift") {
    // group g: steps 1..6 with counts 10,10,10,30,30,30 — the max
    // |n·P_k − k·S| lands at k=3 (step 3): 6·30 − 3·120 = −180
    val df = Seq(("g", 1L, 10L), ("g", 2L, 10L), ("g", 3L, 10L),
      ("g", 4L, 30L), ("g", 5L, 30L), ("g", 6L, 30L),
      // flat series: all scores 0 → earliest step wins
      ("flat", 1L, 5L), ("flat", 2L, 5L)).toDF("g", "step", "x")
    val got = Stats.cusumChangePoint(df, Seq("g"), col("step"), col("x"))
      .orderBy("g").collect()
    assert(got(0).getString(0) == "flat" && got(0).getLong(2) == 1L
      && got(0).getLong(3) == 0L)
    assert(got(1).getString(0) == "g" && got(1).getLong(1) == 6L)
    assert(got(1).getLong(2) == 3L && got(1).getLong(3) == 180L
      && got(1).getLong(4) == -180L)
  }

  test("oneWayAnova: separated classes high F; identical classes F=0; degenerate null") {
    val rows = Seq(
      // unit u1: class A = (10,20), class B = (110,120) → clear separation
      ("u1", "A", 10L), ("u1", "A", 20L), ("u1", "B", 110L), ("u1", "B", 120L),
      // unit u2: identical class means → SSB 0 → F 0
      ("u2", "A", 5L), ("u2", "A", 15L), ("u2", "B", 5L), ("u2", "B", 15L),
      // unit u3: one class only → null
      ("u3", "A", 1L), ("u3", "A", 2L))
      .toDF("unit", "cls", "v")
    val got = Stats.oneWayAnova(rows, Seq("unit"), "cls", col("v"))
      .orderBy("unit").collect()
    // u1 by hand: sl²/n: A 900/2=450, B 52900/2=26450 → st3 = 26900000
    //   S=260, N=4 → grand 16900000; SSB_x3 = 10000000
    //   Q = 10+400+12100+14400... q: 100+400+12100+14400 = 27000; SSW_x3 =
    //   27000000 − 26900000 = 100000; F = (1e7/1)/(1e5/2) = 200
    assert(got(0).getLong(3) == 10000000L && got(0).getLong(4) == 100000L)
    assert(got(0).getDouble(5) == 200.0)
    assert(got(1).getLong(3) == 0L && got(1).getDouble(5) == 0.0)
    assert(got(2).isNullAt(5))
  }

  test("fdAudit: holding and violated dependencies") {
    val df = Seq((1, "x", "p"), (1, "x", "q"), (2, "y", "p"), (3, "y", "p"))
      .toDF("a", "b", "c")
    // a → b holds (each a maps to one b)
    val holds = Stats.fdAudit(df, "a_to_b", Seq("a"), "b").collect()(0)
    assert(holds.getLong(1) == 3L && holds.getLong(2) == 0L
      && holds.getLong(3) == 1L && holds.getBoolean(4))
    // a → c violated by a=1 (maps to p and q)
    val viol = Stats.fdAudit(df, "a_to_c", Seq("a"), "c").collect()(0)
    assert(viol.getLong(1) == 3L && viol.getLong(2) == 1L
      && viol.getLong(3) == 2L && !viol.getBoolean(4))
  }

  test("winsorize: ceiling-rank bounds, tail counts, exact winsorized mean") {
    // values 1..20: lo rank = (20·5+99)//100 = 1 → p_lo = 1;
    // hi rank = (20·95+99)//100 = 19 → p_hi = 19; only 20 clips high;
    // wmean = (Σ1..19 + 19)/20 = 209/20 = 10.45
    val df = (1L to 20L).map(i => ("g", i, i)).toDF("g", "id", "v")
    val got = Stats.winsorize(df, Seq("g"), col("v"), col("id")).collect()(0)
    assert(got.getLong(1) == 20L && got.getLong(2) == 1L
      && got.getLong(3) == 19L)
    assert(got.getLong(4) == 0L && got.getLong(5) == 1L)
    assert(got.getDouble(6) == 10.45)
  }

  test("discreteQuantiles: ceiling-rank picks; one-row group; all pcts one pass") {
    val df = ((1L to 10L).map(i => ("g", i, i * 10L)) :+ (("solo", 99L, 7L)))
      .toDF("grp", "id", "v")
    val got = Stats.discreteQuantiles(df, Seq("grp"), col("v"), col("id"),
        Seq(10, 50, 90, 100))
      .orderBy("grp").collect()
    // g: n=10 → ranks (10·p+99)//100: p10→1(ceil 1), p50→5, p90→9, p100→10
    assert(got(0).getLong(1) == 10L && got(0).getLong(2) == 10L
      && got(0).getLong(3) == 50L && got(0).getLong(4) == 90L
      && got(0).getLong(5) == 100L)
    // solo: every quantile is the single value
    assert(got(1).getLong(1) == 1L && (2 to 5).forall(got(1).getLong(_) == 7L))
  }

  test("quantileNormalize: pooled-rank remap, hand-computed") {
    // pooled sorted: 1,2,3,4,10,20 (granks 1..6); A=(10,20) n=2,
    // B=(1,2,3,4) n=4 → targets A: ceil(6/2·r) = 3,6 → (3,20);
    // B: 2,3,5,6 → (2,3,10,20)
    val df = Seq(("A", 1L, 10L), ("A", 2L, 20L),
      ("B", 3L, 1L), ("B", 4L, 2L), ("B", 5L, 3L), ("B", 6L, 4L))
      .toDF("g", "id", "v")
    val got = Stats.quantileNormalize(df, Seq("g"), "id", col("v"))
      .orderBy("id")
      .select("g", "id", "v", "r", "n_group", "qnorm").collect()
    assert(got.map(_.getLong(5)).toSeq == Seq(3L, 20L, 2L, 3L, 10L, 20L))
    assert(got.map(_.getLong(3)).toSeq == Seq(1L, 2L, 1L, 2L, 3L, 4L))
  }

  test("kAnonymity: class sizes, diversity, risk flags") {
    val df = Seq(
      // class (1,"A"): 3 rows, 2 distinct sensitive → at_risk (k=4), diverse (l=2)
      (1, "A", 10), (1, "A", 10), (1, "A", 20),
      // class (2,"B"): 4 rows, 1 distinct → not at_risk, low_diversity
      (2, "B", 5), (2, "B", 5), (2, "B", 5), (2, "B", 5))
      .toDF("qa", "qb", "sens")
    val got = Privacy.kAnonymity(df, Seq("qa", "qb"), col("sens"), k = 4, l = 2)
      .orderBy("qa").collect()
    assert(got(0).getLong(2) == 3L && got(0).getLong(3) == 2L
      && got(0).getBoolean(4) && !got(0).getBoolean(5))
    assert(got(1).getLong(2) == 4L && got(1).getLong(3) == 1L
      && !got(1).getBoolean(4) && got(1).getBoolean(5))
  }

  test("tCloseness: hand-computed ordered EMD, zero-count grid buckets, " +
    "global-matching class at 0, single-bucket axis, null raise") {
    // global = uniform over buckets {1,2}; each class fully concentrated
    // → EMD 0.5 exactly (t_x6 500000)
    val conc = Seq(("x", 1), ("x", 1), ("y", 2), ("y", 2)).toDF("q", "sb")
    val got = Privacy.tCloseness(conc, Seq("q"), col("sb"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("x", 2L, 500000L), ("y", 2L, 500000L)), s"got $got")
    // a class that mirrors the global distribution sits at exactly 0
    val mirror = Seq(("x", 1), ("x", 2), ("y", 1), ("y", 2)).toDF("q", "sb")
    assert(Privacy.tCloseness(mirror, Seq("q"), col("sb"))
      .as[(String, Long, Long)].collect().toSet ==
      Set(("x", 2L, 0L), ("y", 2L, 0L)))
    // 3-bucket axis where class p never saw bucket 2: the grid must move
    // mass THROUGH the zero-count bucket — Σ|cum| = 4 → 1e6·4/(2·4·2)
    val gap = Seq(("p", 1), ("p", 3), ("r", 2), ("r", 2)).toDF("q", "sb")
    assert(Privacy.tCloseness(gap, Seq("q"), col("sb"))
      .as[(String, Long, Long)].collect().toSet ==
      Set(("p", 2L, 250000L), ("r", 2L, 250000L)))
    // single-bucket axis: EMD degenerate, defined as 0
    val one = Seq(("x", 7), ("y", 7)).toDF("q", "sb")
    assert(Privacy.tCloseness(one, Seq("q"), col("sb"))
      .as[(String, Long, Long)].collect().toSet ==
      Set(("x", 1L, 0L), ("y", 1L, 0L)))
    val bad = Seq(("x", Option.empty[Int])).toDF("q", "sb")
    val e = intercept[Exception] {
      Privacy.tCloseness(bad, Seq("q"), col("sb")).collect()
    }
    assert(e.getMessage.contains("tCloseness"))
    // NULL quasi value: would be a class the grid join can never match
    // (c = 0 everywhere → silently near-maximal t) — must raise loudly
    val badQ = Seq((Option.empty[String], 1), (Some("x"), 2)).toDF("q", "sb")
    val eq = intercept[Exception] {
      Privacy.tCloseness(badQ, Seq("q"), col("sb")).collect()
    }
    assert(eq.getMessage.contains("NULL quasi"))
  }

  test("madOutliers: hand-computed median/MAD; integer decision; short groups") {
    // group g: values 10,12,14,16,100 → med=14 (rank 3), devs 4,2,0,2,86
    //   sorted devs 0,2,2,4,86 → mad=2 (rank 3)
    //   outlier: dev·10⁴ > 44478·2 = 88956 → dev ≥ 9 → only 100 (dev 86)
    val df = Seq(("g", 1L, 10L), ("g", 2L, 12L), ("g", 3L, 14L),
      ("g", 4L, 16L), ("g", 5L, 100L),
      // single-row group: dev 0, mad 0 → 0 > 0 false → not outlier
      ("solo", 6L, 7L))
      .toDF("grp", "id", "v")
    val got = Stats.madOutliers(df, Seq("grp"), col("v"), col("id"))
      .orderBy("id")
      .select("grp", "id", "med", "mad", "dev", "outlier").collect()
    assert(got.filter(_.getBoolean(5)).map(_.getLong(1)).toSeq == Seq(5L))
    assert(got(0).getLong(2) == 14L && got(0).getLong(3) == 2L)
    assert(got(4).getLong(4) == 86L)
    assert(got(5).getLong(2) == 7L && got(5).getLong(3) == 0L
      && !got(5).getBoolean(5))
  }

  test("madOutliers: histogram rank pick ≡ brute-force order statistic") {
    // duplicate-heavy + even-n groups: the histogram picks rank (n+1) div 2
    // off cumulative counts; brute force sorts and indexes. Must agree on
    // every group including all-equal and two-point ones.
    val rng = new scala.util.Random(7)
    val rows = for {
      g <- Seq("a", "b", "c", "d")
      i <- 1 to (rng.nextInt(9) + 2)
    } yield (g, i.toLong, (rng.nextInt(5) * 10 + (if (g == "c") 0 else rng.nextInt(2))).toLong)
    val df = rows.toDF("grp", "id", "v")
    val got = Stats.madOutliers(df, Seq("grp"), col("v"), col("id"))
      .select("grp", "med", "mad").distinct().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val vs = rs.map(_._3).sorted
      val med = vs((vs.size + 1) / 2 - 1)
      val devs = rs.map(r => math.abs(r._3 - med)).sorted
      val mad = devs((devs.size + 1) / 2 - 1)
      assert(got(g) == (med, mad), s"group $g")
    }
  }

  test("groupTopFractionSum: boundary ties, cross-bucket selection, k=0 drop") {
    // group g: 20 values; top-2 (n div 10 = 2) are 95 and one of the
    // tied 85s — tie-break-free because tied values sum identically.
    // bucketWidth=10 puts 95 in bucket 9 and the 85s in boundary bucket 8,
    // exercising the phase-1 above-mass + phase-2 remainder path.
    val g = Seq(95L, 85L, 85L, 85L) ++ Seq.fill(16)(10L)
    // group h: n=9 → k=0 → dropped entirely
    val h = Seq.fill(9)(50L)
    val df = (g.map(("g", _)) ++ h.map(("h", _))).toDF("grp", "v")
    val got = Stats.groupTopFractionSum(df, Seq("grp"), col("v"),
        fracDenom = 10, bucketWidth = 10L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == Set("g"))
    assert(got("g") == ((20L, 95L + 255L + 160L, 2L, 95L + 85L)))
    // all-in-one-bucket group: phase 2 does the whole selection
    val one = Seq(9L, 8L, 7L, 6L, 5L, 4L, 3L, 2L, 1L, 1L, 1L, 1L)
      .map(("o", _)).toDF("grp", "v")
    val gotOne = Stats.groupTopFractionSum(one, Seq("grp"), col("v"),
        fracDenom = 4, bucketWidth = 1000000L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(gotOne.toSeq == Seq((12L, 48L, 3L, 9L + 8L + 7L)))
  }

  test("groupTopFractionSum: floored buckets on negative domains; " +
      "null value raises; parameter guards") {
    // values straddling zero with a tiny bucketWidth: toward-zero
    // truncation would merge (-3,-2,-1,0,1,2) into one double-width
    // bucket 0 and put the boundary there; floored bucketing keeps every
    // bucket exactly `width` wide. Brute-force oracle: top-3 of 12.
    val vals = Seq(-7L, -5L, -3L, -2L, -1L, 0L, 1L, 2L, 4L, 6L, 8L, 9L)
    val df = vals.map(("n", _)).toDF("grp", "v")
    val got = Stats.groupTopFractionSum(df, Seq("grp"), col("v"),
        fracDenom = 4, bucketWidth = 3L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((12L, vals.sum, 3L, 9L + 8L + 6L)))

    // a null value has no rank: named error, not a silently absent group
    val withNull = Seq(("x", Some(5L)), ("x", None), ("x", Some(3L)),
      ("x", Some(2L)), ("x", Some(1L))).toDF("grp", "v")
    val err = intercept[Exception] {
      Stats.groupTopFractionSum(withNull, Seq("grp"), col("v"),
        fracDenom = 2, bucketWidth = 10L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(err).exists(_.contains("null value in valQ")), msgs(err))

    intercept[IllegalArgumentException] {
      Stats.groupTopFractionSum(df, Seq("grp"), col("v"), fracDenom = 0)
    }
    intercept[IllegalArgumentException] {
      Stats.groupTopFractionSum(df, Seq("grp"), col("v"), bucketWidth = 0L)
    }
  }

  test("jsDivergenceDrift: identical mix ~0; disjoint mix ~2·ln2; missing cats") {
    // src_same mirrors the global 50/50 en/fr mix (up to its own counts);
    // src_skew is all-en. Global: en 6, fr 2.
    val docs = Seq(
      ("src_same", "en"), ("src_same", "fr"), ("src_same", "en"), ("src_same", "fr"),
      ("src_skew", "en"), ("src_skew", "en"), ("src_skew", "en"), ("src_skew", "en"))
      .toDF("source", "lang")
    val got = Stats.jsDivergenceDrift(docs, "source", "lang")
      .orderBy("g").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (nSame, jSame) = got("src_same")
    val (nSkew, jSkew) = got("src_skew")
    assert(nSame == 4L && nSkew == 4L)
    // src_same: p=(.5,.5) vs q=(.75,.25) → small positive JSD
    assert(jSame > 0L && jSame < 200000000L)
    // src_skew diverges much more; sanity: 2·JSD ≤ 2·ln2 ≈ 1.386e9
    assert(jSkew > jSame && jSkew <= 1386294362L)
    // exact check of src_skew term math:
    //  p_en=1, q_en=.75 → 1·ln(2/1.75); p_fr=0 (term 0), q_fr=.25·ln(2·.25/.25)
    val expSkew = math.floor(math.log(2.0 / 1.75) * 1e9).toLong +
      math.floor(0.75 * math.log((2.0 * 0.75) / 1.75) * 1e9).toLong +
      math.floor(0.25 * math.log(2.0) * 1e9).toLong
    assert(jSkew == expSkew)
  }

  test("aucByGroup: hand-computed AUC with a tie; degenerate group null") {
    // g1: pos scores {3, 2}, neg scores {1, 2}. Concordant pairs 3, tied
    // pair contributes 1/2 → U+ = 3.5, AUC = 3.5/4 = 0.875, u2 = 7.
    val rows = Seq(("g1", 3L, true), ("g1", 2L, true),
      ("g1", 1L, false), ("g1", 2L, false),
      ("g2", 5L, true), ("g2", 9L, true)) // no negatives → null AUC
      .toDF("g", "x", "p")
    val got = Stats.aucByGroup(rows, Seq("g"), col("x"), col("p"))
      .orderBy("g").collect()
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 2L)
    assert(got(0).getLong(3) == 7L)
    assert(got(0).getDouble(4) == 0.875)
    assert(got(1).isNullAt(4))
  }

  test("calibrationBins: width-100k deciles, top bin capped, floor mean") {
    val rows = Seq((50000L, true), (150000L, false),
      (999999L, true), (1000000L, true)).toDF("x", "p")
    val got = Stats.calibrationBins(rows, col("x"), col("p"))
      .orderBy("bin").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(got(0L) == ((1L, 1L, 50000L, 1.0)))
    assert(got(1L) == ((1L, 0L, 150000L, 0.0)))
    // 1000000 caps into bin 9; mean = (999999 + 1000000) div 2 = 999999
    assert(got(9L) == ((2L, 2L, 999999L, 1.0)))
  }

  test("cohenKappa: hand-computed κ; perfect and zero-overlap edges") {
    // agree 3/5, marginals x:3/x:3 and y:2/y:2 → pe = 13/25, κ = 1/6
    val t = Seq(("x", "x"), ("x", "x"), ("x", "y"), ("y", "x"), ("y", "y"))
      .toDF("a", "b")
    val r = Stats.cohenKappa(t, col("a"), col("b")).collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L && r.getLong(2) == 13L)
    assert(math.abs(r.getDouble(5) - 1.0 / 6.0) < 1e-12)

    // perfect agreement (even a constant one) → κ = 1
    val perf = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    assert(Stats.cohenKappa(perf, col("a"), col("b"))
      .collect()(0).getDouble(5) == 1.0)

    // disjoint label sets: pe_num = 0 (empty marginal join) → κ = po = 0
    val disj = Seq(("x", "y"), ("x", "y")).toDF("a", "b")
    val dr = Stats.cohenKappa(disj, col("a"), col("b")).collect()(0)
    assert(dr.getLong(2) == 0L && dr.getDouble(5) == 0.0)
  }

  test("cuped: hand-computed pooled θ and adjusted means") {
    // pooled: n=4 sx=6 sy=54 sxy=96 sxx=14 → θ = 60/20 = 3, x̄ = 1.5
    val units = Seq(("A", 0L, 10L), ("A", 2L, 14L),
      ("B", 1L, 11L), ("B", 3L, 19L)).toDF("arm", "x", "y")
    val got = Stats.cuped(units, col("arm"), col("x"), col("y"))
      .orderBy("arm").collect()
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 2L
      && got(0).getLong(3) == 24L)
    assert(got(0).getDouble(4) == 12.0 && got(0).getDouble(5) == 3.0)
    assert(got(0).getDouble(6) == 12.0 - 3.0 * (1.0 - 1.5)) // 13.5
    assert(got(1).getDouble(6) == 15.0 - 3.0 * (2.0 - 1.5)) // 13.5
    // constant covariate → var(x)=0 → θ and adjustment null
    val const = Seq(("A", 5L, 1L), ("B", 5L, 2L)).toDF("arm", "x", "y")
    val c = Stats.cuped(const, col("arm"), col("x"), col("y")).collect()(0)
    assert(c.isNullAt(5) && c.isNullAt(6))
  }

  test("diffInDiff: hand-computed 2x2; empty cell nulls the estimate") {
    val rows = Seq((true, false, 10L), (true, true, 20L), (true, true, 22L),
      (false, false, 5L), (false, true, 7L)).toDF("t", "p", "m")
    val r = Stats.diffInDiff(rows, col("t"), col("p"), col("m")).collect()(0)
    assert(r.getAs[Long]("n_t1") == 2L && r.getAs[Long]("sum_t1") == 42L)
    assert(r.getAs[Double]("m_t1") == 21.0)
    assert(r.getAs[Double]("did") == (21.0 - 10.0) - (7.0 - 5.0)) // 9
    val noC0 = Stats.diffInDiff(rows.filter(col("t") || col("p")),
      col("t"), col("p"), col("m")).collect()(0)
    assert(noC0.isNullAt(noC0.fieldIndex("did")))
  }

  test("woeIv: ln cross-ratio, quantized IV terms, zero-cell null") {
    // bin0: pos 2 / neg 1; bin1: pos 1 / neg 3; bin2: pos 0 / neg 1
    // TP=3 TN=5. WOE0 = ln(2·5/(1·3)); bin2 → null
    val rows = Seq((0L, true), (0L, true), (0L, false),
      (1L, true), (1L, false), (1L, false), (1L, false),
      (2L, false)).toDF("bin", "pos")
    val got = Stats.woeIv(rows, col("bin"), col("pos"))
      .orderBy("bin").collect()
    val woe0 = math.log((2.0 * 5.0) / (1.0 * 3.0))
    assert(got(0).getLong(4) == math.floor(woe0 * 1e6).toLong)
    assert(got(0).getLong(5) ==
      math.floor(((2.0 / 3.0) - (1.0 / 5.0)) * woe0 * 1e9).toLong)
    val woe1 = math.log((1.0 * 5.0) / (3.0 * 3.0)) // negative bin
    assert(got(1).getLong(4) == math.floor(woe1 * 1e6).toLong)
    assert(got(2).isNullAt(4) && got(2).isNullAt(5))
  }

  test("globalQuantileCuts: ceiling-rank values, partition-count invariant") {
    // values 1..10: cut at p is the value at rank ceil(10p/100)
    val df = (1L to 10L).map(v => (v, v * 11 % 13)).toDF("id", "ignored")
      .withColumn("v", col("id"))
    val r = Stats.globalQuantileCuts(df, "id", col("v"), Seq(20, 40, 60, 80))
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((10L, 2L, 4L, 6L, 8L)))
    // same cuts when the frame arrives in 1 partition or many
    val shuffled = df.repartition(7)
    val r7 = Stats.globalQuantileCuts(shuffled, "id", col("v"),
      Seq(20, 40, 60, 80)).collect()(0)
    assert(r7.getLong(2) == 4L && r7.getLong(4) == 8L)
  }

  test("rfmSegments: quintile directions and segment buckets") {
    // 10 units: r_days ascending 0..9, f and m descending — unit 0 is the
    // most recent, most frequent, highest spend → champion; unit 9 the
    // opposite → hibernating.
    val units = (0L to 9L).map(i => (i, i, 10L - i, (10L - i) * 100L))
      .toDF("id", "r_days", "f", "m")
    val got = Stats.rfmSegments(units, "id", "r_days", "f", "m")
      .orderBy("id").collect()
    assert(got(0).getLong(4) == 5L && got(0).getLong(5) == 5L
      && got(0).getLong(6) == 5L)
    assert(got(0).getString(7) == "champion")
    assert(got(9).getLong(4) == 1L && got(9).getString(7) == "hibernating")
    // mid unit is neither: regular
    assert(got(4).getString(7) == "regular")
    // a value EQUAL to a cut lands in the lower quintile (strict compare):
    // r_days cuts at ranks 2/4/6/8 → values 1/3/5/7; unit with r_days=1
    // scores r=4 (1 < 3,5,7 only)
    assert(got(1).getLong(4) == 4L)
  }

  test("acfLags: period-2 series, gap drops pairs, constant series null") {
    // perfect alternation 5,1,5,1,... → acf(1) = -1, acf(2) = +1
    val alt = (0L to 9L).map(t => (t, if (t % 2 == 0) 5L else 1L))
      .toDF("t", "v")
    val r = Stats.acfLags(alt, Nil, "t", col("v"), Seq(1, 2))
      .orderBy("lag").collect()
    assert(r(0).getLong(1) == 9L && math.abs(r(0).getDouble(2) + 1.0) < 1e-12)
    assert(r(1).getLong(1) == 8L && math.abs(r(1).getDouble(2) - 1.0) < 1e-12)

    // a gap at t=5 drops exactly the pairs touching it: lag-1 pairs 4→5
    // and 5→6 vanish (9 → 7 pairs on 0..9 without t=5)
    val gap = alt.filter(col("t") =!= 5L)
    val g = Stats.acfLags(gap, Nil, "t", col("v"), Seq(1))
      .collect()(0)
    assert(g.getLong(1) == 7L)

    // constant series: zero variance → null acf, n_pairs still counted
    val const = (0L to 5L).map(t => (t, 3L)).toDF("t", "v")
    val c = Stats.acfLags(const, Nil, "t", col("v"), Seq(1)).collect()(0)
    assert(c.getLong(1) == 5L && c.isNullAt(2))

    // grouped: keys do not mix (per-key alternation phase differs)
    val twoKey = ((0L to 9L).map(t => ("a", t, if (t % 2 == 0) 5L else 1L))
      ++ (0L to 9L).map(t => ("b", t, if (t % 2 == 0) 1L else 5L)))
      .toDF("k", "t", "v")
    val byK = Stats.acfLags(twoKey, Seq("k"), "t", col("v"), Seq(1))
      .orderBy("k").collect()
    assert(byK.length == 2 &&
      byK.forall(x => math.abs(x.getDouble(3) + 1.0) < 1e-12))
  }

  test("mutualInfo: independent ≈ 0, determined = H(X), asymmetric margins") {
    // independent 2x2 with equal margins: every cell p=1/4, p_x=p_y=1/2
    // → ln(1) = 0 in every term
    val ind = Seq(("a", "u"), ("a", "v"), ("b", "u"), ("b", "v"))
      .toDF("x", "y")
    val i = Stats.mutualInfo(ind, col("x"), col("y"), "ind").collect()(0)
    assert(i.getLong(1) == 4L && i.getLong(2) == 4L && i.getLong(3) == 0L)

    // y determined by x, uniform over {a,b}: MI = H(X) = ln 2
    val det = Seq(("a", "u"), ("a", "u"), ("b", "v"), ("b", "v"))
      .toDF("x", "y")
    val dRow = Stats.mutualInfo(det, col("x"), col("y"), "det").collect()(0)
    // 2 cells, each floor((1/2)·ln 2 ·1e9) = floor(346573590.27…)
    assert(dRow.getLong(2) == 2L && dRow.getLong(3) == 2L * 346573590L)
  }

  test("rollingCorr: full windows only, sign tracks co-movement, keys split") {
    // y = x over t=0..5 → corr +1 everywhere a full window exists;
    // window=3 ⇒ first two rows are partial and must NOT emit
    val up = (0L to 5L).map(t => ("k", t, t + 1, t + 1))
      .toDF("k", "t", "x", "y")
    val r = Stats.rollingCorr(up, Seq("k"), "t", col("x"), col("y"), 3)
      .orderBy("t").collect()
    assert(r.length == 4 && r.head.getLong(1) == 2L)
    assert(r.forall(x => math.abs(x.getDouble(3) - 1.0) < 1e-12))

    // anti-phase key: y = -x + 10 → corr -1; keys do not mix
    val mixed = ((0L to 5L).map(t => ("a", t, t + 1, t + 1))
      ++ (0L to 5L).map(t => ("b", t, t + 1, 10 - t)))
      .toDF("k", "t", "x", "y")
    val m = Stats.rollingCorr(mixed, Seq("k"), "t", col("x"), col("y"), 3)
      .collect()
    assert(m.filter(_.getString(0) == "a")
      .forall(x => math.abs(x.getDouble(3) - 1.0) < 1e-12))
    assert(m.filter(_.getString(0) == "b")
      .forall(x => math.abs(x.getDouble(3) + 1.0) < 1e-12))

    // constant x inside the window → null corr (degenerate variance)
    val flat = (0L to 3L).map(t => ("k", t, 7L, t)).toDF("k", "t", "x", "y")
    val f = Stats.rollingCorr(flat, Seq("k"), "t", col("x"), col("y"), 3)
      .collect()
    assert(f.forall(_.isNullAt(3)))
  }

  test("theilSenSlope: exact slope on a clean line; one wild outlier " +
      "cannot move the median where it would wreck OLS") {
    val line = (0L until 20L).map(x => ("a", x, 3 * x + 7))
    val clean = line.toDF("g", "x", "y")
    val c = Stats.theilSenSlope(clean, Seq("g"), col("x"), col("y"))
      .collect().head
    assert(c.getLong(1) == 20L && c.getLong(2) == 190L)
    assert(c.getLong(3) == 3000000L) // slope exactly 3 in 1e-6 units
    // poison one point hard: median of pairwise slopes barely moves
    val dirty = (line.dropRight(1) :+ (("a", 19L, 1000000L))).toDF("g", "x", "y")
    val m = Stats.theilSenSlope(dirty, Seq("g"), col("x"), col("y"))
      .collect().head.getLong(3)
    assert(m == 3000000L, s"median slope moved to $m")
  }

  test("theilSenSlope: per-group isolation and negative-delta floor " +
      "semantics match across layouts") {
    val df = (Seq(("up", 0L, 0L), ("up", 1L, 5L), ("up", 2L, 10L)) ++
      Seq(("dn", 0L, 10L), ("dn", 1L, 7L), ("dn", 3L, 0L)))
      .toDF("g", "x", "y")
    val out = Stats.theilSenSlope(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("up") == 5000000L)
    // dn slopes: (7-10)/1=-3e6, (0-10)/3=floor(-3333333.33..)=-3333334,
    // (0-7)/2=-3500000 → sorted: -3500000, -3333334, -3000000 → median
    assert(out("dn") == -3333334L)
    val shuffled = Stats.theilSenSlope(df.repartition(7), Seq("g"),
      col("x"), col("y")).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(shuffled == out)
  }

  test("ols2: recovers an exact plane y = 2 + 3a + 5b; collinear " +
      "regressors yield NULL betas (singular normal equations)") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 1L), (3L, 2L))
      .map { case (a, b) => ("g", 2 + 3 * a + 5 * b, a, b) }
      .toDF("g", "y", "a", "b")
    val r = Stats.ols2(pts, Seq("g"), col("y"), col("a"), col("b"))
      .collect().head
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 3.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 5.0) < 1e-9)
    val coll = (0L to 5L).map(a => ("g", 1 + a, a, 2 * a))
      .toDF("g", "y", "a", "b")
    val c = Stats.ols2(coll, Seq("g"), col("y"), col("a"), col("b"))
      .collect().head
    assert(c.isNullAt(2) && c.isNullAt(3) && c.isNullAt(4))
  }

  test("kendallTau: ±1 on monotone series; hand-computed tie case; NULL " +
      "when one variable never varies") {
    val up = (1L to 6L).map(i => ("g", i, i, i * i)).toDF("g", "i", "x", "y")
    assert(Stats.kendallTau(up, Seq("g"), col("i"), col("x"), col("y"))
      .collect().head.getDouble(4) == 1.0)
    val dn = (1L to 6L).map(i => ("g", i, i, -i)).toDF("g", "i", "x", "y")
    assert(Stats.kendallTau(dn, Seq("g"), col("i"), col("x"), col("y"))
      .collect().head.getDouble(4) == -1.0)
    // x=[1,1,2], y=[1,2,2]: C=1, D=0, Tx=1, Ty=1, P=3 → 1/√(2·2) = 0.5
    val tie = Seq(("g", 1L, 1L, 1L), ("g", 2L, 1L, 2L), ("g", 3L, 2L, 2L))
      .toDF("g", "i", "x", "y")
    val t = Stats.kendallTau(tie, Seq("g"), col("i"), col("x"), col("y"))
      .collect().head
    assert((t.getLong(1), t.getLong(2), t.getLong(3)) == ((3L, 1L, 0L)))
    assert(t.getDouble(4) == 0.5)
    val flat = (1L to 4L).map(i => ("g", i, 7L, i)).toDF("g", "i", "x", "y")
    assert(Stats.kendallTau(flat, Seq("g"), col("i"), col("x"), col("y"))
      .collect().head.isNullAt(4))
  }

  test("theilSenSlope/kendallTau: single-observation groups are KEPT " +
      "with zero pairs and NULL statistic, not silently dropped") {
    val df = Seq(("multi", 1L, 0L, 0L), ("multi", 2L, 1L, 5L),
      ("lonely", 1L, 3L, 9L)).toDF("g", "i", "x", "y")
    val ts = Stats.theilSenSlope(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(ts.keySet == Set("multi", "lonely"))
    assert(ts("lonely").getLong(1) == 1L && ts("lonely").getLong(2) == 0L)
    assert(ts("lonely").isNullAt(3), "pairless slope must be NULL")
    val kt = Stats.kendallTau(df, Seq("g"), col("i"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(kt.keySet == Set("multi", "lonely"))
    assert(kt("lonely").getLong(1) == 0L && kt("lonely").getLong(2) == 0L
      && kt("lonely").getLong(3) == 0L)
    assert(kt("lonely").isNullAt(4), "pairless tau_b must be NULL")
  }

  test("spearmanRho: exactly ±1 on monotone series (even nonlinear), " +
      "tie-averaged doubled ranks, NULL on a constant variable") {
    val up = (1L to 8L).map(i => ("g", i, i * i * i)).toDF("g", "x", "y")
    assert(Stats.spearmanRho(up, Seq("g"), col("x"), col("y"))
      .collect().head.getDouble(2) == 1.0)
    val dn = (1L to 8L).map(i => ("g", i, -(i * i))).toDF("g", "x", "y")
    assert(Stats.spearmanRho(dn, Seq("g"), col("x"), col("y"))
      .collect().head.getDouble(2) == -1.0)
    // hand case with a tie: x=[1,2,2,3], y=[10,20,20,40] — rank-aligned
    // including the tie pair → rho 1.0 under average ranks
    val tie = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 2L, 20L),
      ("g", 3L, 40L)).toDF("g", "x", "y")
    assert(Stats.spearmanRho(tie, Seq("g"), col("x"), col("y"))
      .collect().head.getDouble(2) == 1.0)
    val flat = (1L to 5L).map(i => ("g", 3L, i)).toDF("g", "x", "y")
    assert(Stats.spearmanRho(flat, Seq("g"), col("x"), col("y"))
      .collect().head.isNullAt(2))
  }

  test("weightedQuantiles: hand-computed mass targets, group isolation, " +
      "layout invariance — heavy weight drags the quantile to its value") {
    // g: values 1..4 with weights 1,1,6,2 → W=10, cum 1,2,8,10:
    // p25 target 3 → 3; p50 target 5 → 3; p75 target 8 → 3
    // duplicate-value rows merge onto the value axis (3 appears twice)
    val df = (Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 4L),
      ("g", 3L, 2L), ("g", 4L, 2L)) ++
      Seq(("h", 100L, 1L), ("h", 200L, 1L)))
      .toDF("grp", "v", "w")
    val out = Stats.weightedQuantiles(df, "grp", col("v"), col("w"),
        Seq(25, 50, 75))
      .orderBy(col("grp")).collect()
    assert(out(0).toSeq == Seq("g", 10L, 3L, 3L, 3L))
    // h: W=2; p25/p50 target 1 → 100; p75 target 2 → 200
    assert(out(1).toSeq == Seq("h", 2L, 100L, 100L, 200L))
    val shuffled = Stats.weightedQuantiles(df.repartition(7), "grp",
        col("v"), col("w"), Seq(25, 50, 75))
      .orderBy(col("grp")).collect().map(_.toSeq).toSeq
    assert(shuffled == out.map(_.toSeq).toSeq)
  }

  test("halfSampleCi: constant values collapse the CI to the point; " +
      "bounds are ordered; membership is replay- and layout-invariant") {
    val const = (0L until 50L).map(i => ("a", 7L, i)).toDF("g", "v", "id")
    val c = Stats.halfSampleCi(const, "g", col("v"), col("id"), reps = 32)
      .collect().head
    assert(c.getDouble(2) == 7.0 &&
      c.getDouble(4) == 7.0 && c.getDouble(5) == 7.0)

    val varied = (0L until 200L).map(i => ("a", i % 11, i)) ++
      (0L until 100L).map(i => ("b", 5L, i + 1000))
    val df = varied.toDF("g", "v", "id")
    val one = Stats.halfSampleCi(df.repartition(1), "g", col("v"), col("id"))
      .orderBy(col("g")).collect().toSeq.map(_.toSeq)
    val many = Stats.halfSampleCi(df.repartition(7), "g", col("v"), col("id"))
      .orderBy(col("g")).collect().toSeq.map(_.toSeq)
    assert(one == many)
    val a = one.head
    assert(a(4).asInstanceOf[Double] <= a(5).asInstanceOf[Double])
    // the CI brackets the true mean for this well-behaved case
    assert(a(4).asInstanceOf[Double] <= a(2).asInstanceOf[Double] &&
      a(2).asInstanceOf[Double] <= a(5).asInstanceOf[Double])
  }

  test("kruskalWallis: hand-computed H without and with ties; tie " +
      "correction inflates H; layout-invariant") {
    // no ties: A={1,2}, B={3,4} → doubled ranks 2,4,6,8; S2_A=6 S2_B=14;
    // H = 12/(4·5)·(3² /2 + 7²/2) − 3·5 = 17.4 − 15 = 2.4; C = 1 → same
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val got = Stats.kruskalWallis(df, "g", col("v"))
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 2L, 6L, 2400000L, 2400000L),
      ("B", 2L, 14L, 2400000L, 2400000L)))

    // full ties within groups: A={1,1}, B={2,2} → r2(1)=3, r2(2)=7;
    // same rank sums → H = 2.4; T = 2·(8−2) = 12, C = 1−12/60 = 0.8 →
    // Hc = 2.4/0.8 = 3.0
    val tied = Seq(("A", 1L), ("A", 1L), ("B", 2L), ("B", 2L)).toDF("g", "v")
    val t = Stats.kruskalWallis(tied.repartition(5), "g", col("v"))
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    // same fixed double tree as the engine (2.4/0.8 sits on a ulp edge —
    // what matters is that BOTH engines evaluate this exact expression)
    val hcExp =
      math.floor(2400000L.toDouble / 1e6 / (1.0 - 12.0 / 60.0) * 1e6).toLong
    assert(t == Seq(("A", 2L, 6L, 2400000L, hcExp),
      ("B", 2L, 14L, 2400000L, hcExp)))
    assert(hcExp == 2999999L || hcExp == 3000000L)

    // all values identical: every rank tied → H = 0... and T = N³−N makes
    // the correction undefined → hc NULL (guarded, not a division blowup)
    val flat = Seq(("A", 5L), ("B", 5L), ("B", 5L)).toDF("g", "v")
    val f = Stats.kruskalWallis(flat, "g", col("v")).orderBy("g").collect()
    assert(f.forall(_.isNullAt(4)))
  }

  test("brownForsythe: hand-computed F from doubled medians; even/odd " +
      "group sizes; constant group has zero within-variance") {
    // A = {0, 10}: med2 = 0+10 = 10, z = {10, 10} → z_sum 20, zz 200
    // B = {0, 0, 30}: med2 = 0+0 = 0, z = {0, 0, 60} → z_sum 60, zz 3600
    // SSB = ⌊2·(10−16)²⌋ + ⌊3·(20−16)²⌋ = 72 + 48 = 120
    // SSW = (200 − 200) + (3600 − 1200) = 2400
    // F = ((5−2)/(2−1)) · 120/2400 = 0.15
    val df = Seq(("A", 0L), ("A", 10L), ("B", 0L), ("B", 0L), ("B", 30L))
      .toDF("g", "v")
    val got = Stats.brownForsythe(df, "g", col("v"))
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 2L, 10L, 20L, 150000L),
      ("B", 3L, 0L, 60L, 150000L)))
    // identical spreads at different locations → SSB = 0 → F = 0
    // (each group: z = {20, 0, 20}, z_sum 40, SSW_g = ⌊800 − 1600/3⌋ = 266)
    val same = Seq(("A", 0L), ("A", 10L), ("A", 20L),
      ("B", 100L), ("B", 110L), ("B", 120L)).toDF("g", "v")
    val s = Stats.brownForsythe(same.repartition(3), "g", col("v"))
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(s.map(_._5) == Seq(0L, 0L) && s.map(_._3) == Seq(20L, 220L)
      && s.map(_._4) == Seq(40L, 40L))
  }

  test("seasonalDecompose: linear trend removed exactly; pure weekly " +
      "pattern lands in the seasonal term with zero residual; edge days " +
      "and gap neighborhoods excluded") {
    // linear series v = 3d+5: centered 7-day MA reproduces it → dev = 0
    val lin = (0L to 13L).map(d => (d, 3 * d + 5)).toDF("day", "v")
    val l = Stats.seasonalDecompose(lin, "day", "v")
      .orderBy("day").as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(l.map(_._1) == (3L to 10L) &&
      l.forall(r => r._5 == 0L && r._6 == 0L && r._7 == 0L))

    // pure weekly signal v = 7·(d mod 7): each full window sums to 147,
    // dev_w = 49·pos − 147, every phase mean equals its dev → resid 0
    val wk = (0L to 13L).map(d => (d, 7 * (d % 7))).toDF("day", "v")
    val w = Stats.seasonalDecompose(wk, "day", "v")
      .orderBy("day").as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(w.forall(r => r._5 == 49 * r._2 - 147 &&
      r._6 == (49 * r._2 - 147) * 1000000L && r._7 == 0L))

    // a missing day knocks out every window that needed it
    val gap = (0L to 13L).filter(_ != 5L).map(d => (d, 100L)).toDF("day", "v")
    val g = Stats.seasonalDecompose(gap, "day", "v")
      .orderBy("day").as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(g.map(_._1) == Seq(9L, 10L)) // only days with all of d−3..d+3
  }

  test("mannKendall: exact S and tie-corrected var18; pairless groups " +
      "kept with n_pairs=0 and NULL statistics") {
    val rows = Seq(
      // strictly increasing: S = 6, no ties → var18 = 4·3·13 = 156
      ("up", 1L, 10L), ("up", 2L, 20L), ("up", 3L, 30L), ("up", 4L, 40L),
      // v = 1,1,2: S = 0+1+1 = 2; tie18 = 2·1·9 = 18 → var18 = 66−18 = 48
      ("tied", 1L, 1L), ("tied", 2L, 1L), ("tied", 3L, 2L),
      ("solo", 5L, 7L))
      .toDF("g", "t", "v")
    val got = Stats.mannKendall(rows, Seq("g"), col("t"), col("v"))
      .orderBy("g").collect()
    val byG = got.map(r => r.getString(0) -> r).toMap
    assert(byG("up").getLong(1) == 4L && byG("up").getLong(2) == 6L
      && byG("up").getLong(3) == 6L && byG("up").getLong(4) == 156L)
    assert(byG("tied").getLong(1) == 3L && byG("tied").getLong(2) == 3L
      && byG("tied").getLong(3) == 2L && byG("tied").getLong(4) == 48L)
    assert(byG("solo").getLong(1) == 1L && byG("solo").getLong(2) == 0L
      && byG("solo").isNullAt(3) && byG("solo").isNullAt(4))
  }

  test("mannKendall: duplicate (group, t) rows raise — tied-t pairs " +
      "would be excluded from S but still inflate Var(S)") {
    val dup = Seq(("g", 1L, 10L), ("g", 1L, 20L), ("g", 2L, 30L))
      .toDF("g", "t", "v")
    val e = intercept[Exception] {
      Stats.mannKendall(dup, Seq("g"), col("t"), col("v")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("duplicate (group, t)")))
  }

  test("cramersV: NULL categories coalesce to the '' sentinel — one " +
      "ordinary level, not a dropped grid cell") {
    val withNull = Seq(("a", Some(1)), ("a", None), ("b", Some(2)),
      ("b", Some(2))).toDF("x", "y")
    val r = Stats.cramersV(withNull, col("x"), col("y"), "n").collect().head
    // y has 3 levels including the sentinel; all 4 rows counted
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L && r.getLong(3) == 3L)
  }

  test("cramersV: perfect 2x2 association scores V=1; independence " +
      "scores 0; empty grid cells contribute their expectation") {
    val perfect = Seq(("a", 1), ("a", 1), ("b", 2), ("b", 2)).toDF("x", "y")
    val p = Stats.cramersV(perfect, col("x"), col("y"), "p").collect().head
    // every cell term is exactly 1 (observed and empty alike) → chi2 = 4
    assert(p.getLong(1) == 4L && p.getLong(2) == 2L && p.getLong(3) == 2L)
    assert(p.getLong(4) == 4000000000L && p.getLong(5) == 1000000L)

    val indep = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)).toDF("x", "y")
    val i = Stats.cramersV(indep, col("x"), col("y"), "i").collect().head
    assert(i.getLong(4) == 0L && i.getLong(5) == 0L)

    // single-column y: min(r−1, c−1) = 0 → V undefined (NULL), chi2 = 0
    val one = Seq(("a", 1), ("b", 1)).toDF("x", "y")
    val o = Stats.cramersV(one, col("x"), col("y"), "o").collect().head
    assert(o.getLong(4) == 0L && o.isNullAt(5))
  }

  test("ksTest2: exact integer D numerator over the distinct-value axis; " +
      "interleaved samples peak at the first value; identical samples 0") {
    // A = {1,3}, B = {2,4}: CDF gaps of 1/2 at v=1 and v=3 → D = 0.5,
    // argmax tie broken to the smallest value
    val ab = Seq((true, 1L), (true, 3L), (false, 2L), (false, 4L))
      .toDF("s", "v")
    val r = Stats.ksTest2(ab, col("s"), col("v")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 2L, 2L, 500000L, 1L)))

    val same = Seq((true, 1L), (true, 2L), (false, 1L), (false, 2L))
      .toDF("s", "v")
    val r2 = Stats.ksTest2(same, col("s"), col("v")).collect().head
    assert(r2.getLong(2) == 0L && r2.getLong(3) == 0L)
  }

  test("transitionEntropy: uniform 2-way split gives ln2; deterministic " +
      "successor gives 0; grouped grids stay independent") {
    val t = Seq(
      ("g1", "a", "b"), ("g1", "a", "b"), ("g1", "a", "c"), ("g1", "a", "c"),
      ("g1", "b", "c"),
      ("g2", "a", "b"))
      .toDF("g", "f", "n")
    val got = Stats.transitionEntropy(t, Seq("g"), col("f"), col("n"))
      .orderBy("g", "from_state").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // H = 2·(−0.5·ln 0.5) = ln 2; each term floors to 346573590
    assert(got(("g1", "a")) == ((4L, 2L, 693147180L)))
    assert(got(("g1", "b")) == ((1L, 1L, 0L)))
    assert(got(("g2", "a")) == ((1L, 1L, 0L)))
  }

  test("job floor: the contingency, prefix-sum and risk-table family keeps " +
      "its (build, run) job counts — an eager barrier or an extra prefix " +
      "pass changes the count without changing any result") {
    val df = (1 to 24).map(i => (s"g${i % 3}", i.toLong, (i * 7 % 11).toLong,
        (i % 4 + 1).toLong, i % 2 == 0, s"x${i % 4}", s"y${i % 3}"))
      .toDF("g", "id", "v", "w", "side", "cx", "cy")
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = (1 to 12).flatMap { u =>
      Seq((u.toLong, new java.sql.Timestamp(ts0.getTime), "view"),
        (u.toLong, new java.sql.Timestamp(ts0.getTime + (u % 5 + 1) * 86400000L),
          if (u % 3 == 0) "view" else "error"))
    }.toDF("user_id", "ts", "event_type")
    val isErr = col("event_type") === "error"
    val got = Map(
      "mutualInfo" -> jobFloor(Stats.mutualInfo(df, col("cx"), col("cy"), "p")),
      "cramersV" -> jobFloor(Stats.cramersV(df, col("cx"), col("cy"), "p")),
      "jsDivergenceDrift" -> jobFloor(Stats.jsDivergenceDrift(df, "g", "cx")),
      "transitionEntropy" -> jobFloor(
        Stats.transitionEntropy(df, Seq("g"), col("cx"), col("cy"))),
      "cohenKappa" -> jobFloor(Stats.cohenKappa(df, col("cx"), col("cy"))),
      "quantileNormalize" -> jobFloor(
        Stats.quantileNormalize(df, Seq("g"), "id", col("v"))),
      "globalQuantileCuts" -> jobFloor(
        Stats.globalQuantileCuts(df, "id", col("v"), Seq(25, 50, 75))),
      "weightedQuantiles" -> jobFloor(
        Stats.weightedQuantiles(df, "g", col("v"), col("w"), Seq(50, 90))),
      "kruskalWallis" -> jobFloor(Stats.kruskalWallis(df, "g", col("v"))),
      "brownForsythe" -> jobFloor(Stats.brownForsythe(df, "g", col("v"))),
      "ksTest2" -> jobFloor(Stats.ksTest2(df, col("side"), col("v"))),
      "kaplanMeier" -> jobFloor(Survival.kaplanMeier(ev, isErr)),
      "nelsonAalen" -> jobFloor(Survival.nelsonAalen(ev, isErr)),
      "logRank" -> jobFloor(
        Survival.logRank(ev, isErr, col("user_id") % 2 === 0)))
    // each checkpointed cell frame is one build job; the prefix sums are
    // their phase-2 totals and checkpoints plus the AQE map stages
    assert(got == Map(
      "mutualInfo" -> (2, 8), "cramersV" -> (2, 14),
      "jsDivergenceDrift" -> (2, 7), "transitionEntropy" -> (2, 4),
      "cohenKappa" -> (1, 7), "quantileNormalize" -> (7, 6),
      "globalQuantileCuts" -> (7, 5), "weightedQuantiles" -> (8, 4),
      "kruskalWallis" -> (10, 13), "brownForsythe" -> (14, 9),
      "ksTest2" -> (18, 4), "kaplanMeier" -> (20, 2),
      "nelsonAalen" -> (20, 2), "logRank" -> (16, 7)), got)
  }
}
