package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{Privacy, Profile, Regression, Stats}

/** Statistical-testing / drift-audit queries (round 3 widening): term–class
  * chi-square association, grouped A/B two-proportion z-test, per-key
  * time-weighted averages, and per-source Jensen–Shannon drift — the
  * experimentation layer over the corpus and event tables. Every formula
  * runs in double over exact-integer sufficient statistics with the
  * identical operation tree replicated in the DuckDB oracle. */
object StatsQueries {
  import LlmQueries.{normSql, toksSql}

  /** Orders per (market segment, epoch week) aggregated by `aggs` over
    * their `cents` — the slim bounded weekly axis that the pair and rank
    * statistics of q201, q203 and q204 run on, checkpointed once. */
  private def segmentWeeks(s: SparkSession, d: String, aggs: Column*)
      : DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') " +
          "AS BIGINT) div 7").as("wk"), // positive ⇒ div ≡ DuckDB //
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"seg", $"wk").agg(aggs.head, aggs.tail: _*)
      .localCheckpoint()
  }

  // ---------------------------------------------------------------- q143
  // Characteristic vocabulary per language by 2×2 chi-square on doc-level
  // term presence (Yang & Pedersen feature selection) — the statistical
  // complement of q129's frequency-weighted c-TF-IDF. Over-represented
  // terms only; ranking by the quantized χ² long.
  private def q143(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.termClassChiSquare(Tables.documents(s, d), classCol = "lang",
        minDf = 3, topK = 5)
      .orderBy($"class", $"rn")
  }
  private val q143Sql =
    s"""WITH pres AS (SELECT lang AS class,
       |        unnest(list_distinct($toksSql)) AS term FROM documents),
       |a AS (SELECT class, term, CAST(COUNT(*) AS BIGINT) AS df_in_class
       |      FROM pres GROUP BY 1, 2),
       |ft AS (SELECT term, CAST(SUM(df_in_class) AS BIGINT) AS f_t
       |       FROM a GROUP BY 1 HAVING SUM(df_in_class) >= 3),
       |cc AS (SELECT lang AS class, CAST(COUNT(*) AS BIGINT) AS n_class
       |       FROM documents GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |j AS (SELECT class, term, df_in_class, f_t,
       |        CAST(df_in_class AS DOUBLE) AS ad,
       |        CAST(f_t - df_in_class AS DOUBLE) AS bd,
       |        CAST(n_class - df_in_class AS DOUBLE) AS cd,
       |        CAST(n_docs - f_t - n_class + df_in_class AS DOUBLE) AS dd,
       |        CAST(n_docs AS DOUBLE) AS nd,
       |        CAST(f_t AS DOUBLE) AS ftd, CAST(n_class AS DOUBLE) AS ccd
       |      FROM a JOIN ft USING (term) JOIN cc USING (class) CROSS JOIN n),
       |sc AS (SELECT class, term, df_in_class, f_t,
       |        ((ad + bd) * (cd + dd)) * ((ad + cd) * (bd + dd)) AS den,
       |        ad * dd - bd * cd AS det, nd
       |      FROM j WHERE ad * nd > ftd * ccd),
       |r AS (SELECT class, term, df_in_class, f_t,
       |        CAST(floor(((nd * (det * det)) / den) * 1e3) AS BIGINT)
       |          AS chi2_x3
       |      FROM sc WHERE den > 0),
       |w AS (SELECT *, CAST(row_number() OVER (PARTITION BY class
       |        ORDER BY chi2_x3 DESC, term) AS INT) AS rn FROM r)
       |SELECT class, term, df_in_class, f_t, chi2_x3, rn
       |FROM w WHERE rn <= 5 ORDER BY class, rn""".stripMargin

  // ---------------------------------------------------------------- q144
  // Grouped two-proportion z-test: per event type, does the even-user
  // cohort produce high-value events (≥ $50, compared in exact cents) at
  // a different rate than the odd-user cohort? The A/B readout from one
  // aggregation pass; z from the pooled-SE fixed double tree.
  private def q144(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type",
      ($"user_id" % 2 === 0).as("ca"),
      (expr("CAST(floor(value * 100 + 0.5) AS BIGINT)") >= 5000L).as("sc"))
    Stats.twoProportionZ(e, Seq("event_type"), $"ca", $"sc")
      .orderBy($"event_type")
  }
  private val q144Sql =
    """WITH e AS (SELECT event_type, user_id % 2 = 0 AS ca,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) >= 5000 AS sc
      |      FROM events),
      |s AS (SELECT event_type,
      |        CAST(SUM(CASE WHEN ca THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |        CAST(SUM(CASE WHEN ca AND sc THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
      |        CAST(SUM(CASE WHEN NOT ca THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |        CAST(SUM(CASE WHEN NOT ca AND sc THEN 1 ELSE 0 END) AS BIGINT)
      |          AS x_b
      |      FROM e GROUP BY 1),
      |t AS (SELECT event_type, n_a, x_a, n_b, x_b,
      |        CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
      |        CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
      |        CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
      |      FROM s)
      |SELECT event_type, n_a, x_a, n_b, x_b,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1
      |    THEN (p1 - p2) / sqrt((pp * (1.0 - pp))
      |           * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |  END AS z
      |FROM t ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q145
  // Per-user time-weighted average event value (cents): each value is
  // weighted by the seconds until the user's next event — the irregular-
  // sampling mean a plain AVG gets wrong under bursty activity. One
  // keyed window + one keyed aggregation, exact-integer Σ(v·dt)/Σdt.
  private def q145(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"user_id", $"event_id",
      unix_micros($"ts").as("ts_us"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
    Stats.timeWeightedAvg(e, Seq("user_id"), $"ts_us", $"event_id", $"vc")
      .select($"user_id", $"n_events", $"total_sec", $"twa")
      .orderBy($"user_id")
  }
  private val q145Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
      |d AS (SELECT user_id, vc,
      |        (lead(ts_us) OVER (PARTITION BY user_id
      |           ORDER BY ts_us, event_id) - ts_us) // 1000000 AS dt_s
      |      FROM e)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COALESCE(SUM(dt_s), 0) AS BIGINT) AS total_sec,
      |  CASE WHEN COALESCE(SUM(dt_s), 0) > 0
      |    THEN CAST(SUM(vc * dt_s) AS DOUBLE) / CAST(SUM(dt_s) AS DOUBLE)
      |  END AS twa
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q146
  // Source drift audit: per-source Jensen–Shannon divergence of the
  // language mix against the corpus-wide mix — 2·JSD·10⁹ as a long via
  // per-term quantization (order-independent category sum), so sources
  // whose composition departs from the whole rank integer-exactly.
  private def q146(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.jsDivergenceDrift(Tables.documents(s, d), "source", "lang")
      .select($"g".as("source"), $"n_rows", $"jsd2_x9")
      .orderBy($"source")
  }
  private val q146Sql =
    """WITH a AS (SELECT source AS g, lang AS cat, CAST(COUNT(*) AS BIGINT) AS a
      |      FROM documents GROUP BY 1, 2),
      |ga AS (SELECT g, CAST(SUM(a) AS BIGINT) AS n_rows FROM a GROUP BY 1),
      |gc AS (SELECT cat, CAST(SUM(a) AS BIGINT) AS gcat FROM a GROUP BY 1),
      |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS gtot FROM a),
      |f AS (SELECT ga.g, ga.n_rows, gc.cat, gc.gcat, tot.gtot,
      |        COALESCE(a.a, 0) AS a0
      |      FROM ga CROSS JOIN gc CROSS JOIN tot
      |      LEFT JOIN a ON a.g = ga.g AND a.cat = gc.cat),
      |pq AS (SELECT g, n_rows, a0,
      |        CAST(a0 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS p,
      |        CAST(gcat AS DOUBLE) / CAST(gtot AS DOUBLE) AS q
      |      FROM f),
      |t AS (SELECT g, n_rows,
      |        CASE WHEN a0 > 0
      |          THEN CAST(floor((p * ln((2.0 * p) / (p + q))) * 1e9) AS BIGINT)
      |          ELSE 0 END AS tp,
      |        CAST(floor((q * ln((2.0 * q) / (p + q))) * 1e9) AS BIGINT) AS tq
      |      FROM pq)
      |SELECT g AS source, n_rows, CAST(SUM(tp) + SUM(tq) AS BIGINT) AS jsd2_x9
      |FROM t GROUP BY 1, 2 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q147
  // Benford first-digit audit of order totals per priority class — the
  // fabricated-numbers screen (synthetic TPC-H prices are uniform-ish,
  // so the per-digit deviations are the point of the report). Leading
  // digit from the decimal rendering; expectations via ln/ln 10.
  private def q147(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.benfordAudit(Tables.orders(s, d), Seq("o_orderpriority"),
        $"o_totalprice")
      .orderBy($"o_orderpriority", $"digit")
  }
  private val q147Sql =
    """WITH c AS (SELECT o_orderpriority,
      |        CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
      |          1, 1) AS INT) AS digit
      |      FROM orders),
      |g AS (SELECT o_orderpriority, digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      |      FROM c WHERE digit BETWEEN 1 AND 9 GROUP BY 1, 2),
      |t AS (SELECT *, CAST(SUM(n_obs) OVER (PARTITION BY o_orderpriority)
      |        AS BIGINT) AS n_group FROM g),
      |e AS (SELECT o_orderpriority, digit, n_obs, n_group,
      |        CAST(n_group AS DOUBLE)
      |          * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)) AS expd
      |      FROM t)
      |SELECT o_orderpriority, digit, n_obs, n_group,
      |  CAST(floor(expd * 1e6) AS BIGINT) AS exp_x6,
      |  CAST(floor((((CAST(n_obs AS DOUBLE) - expd)
      |    * (CAST(n_obs AS DOUBLE) - expd)) / expd) * 1e6) AS BIGINT) AS dev_x6
      |FROM e ORDER BY o_orderpriority, digit""".stripMargin

  // ---------------------------------------------------------------- q148
  // Behavioral diversity per user: Shannon entropy (nats, quantized) of
  // the user's event-type mix — the bot-vs-browser signal; one endpoint
  // hammered = 0, uniform across the 5 types = ln 5 ≈ 1.609e9.
  private def q148(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.categoricalEntropy(Tables.events(s, d), Seq("user_id"), "event_type")
      .orderBy($"user_id")
  }
  private val q148Sql =
    """WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS nc
      |      FROM events GROUP BY 1, 2),
      |t AS (SELECT *, CAST(SUM(nc) OVER (PARTITION BY user_id) AS BIGINT) AS n
      |      FROM c),
      |q AS (SELECT user_id, n,
      |        CAST(floor(((CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
      |          * ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))) * 1e9) AS BIGINT)
      |          AS t9
      |      FROM t)
      |SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_cats, CAST(-SUM(t9) AS BIGINT) AS ent_x9
      |FROM q GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q149
  // Revenue concentration per nation: Gini coefficient of per-customer
  // lifetime spend (exact cents) — the inequality readout over the
  // rank-weighted exact sums; ranks are a keyed window with a total
  // tie-break, never a global sort.
  private def q149(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spend = Tables.orders(s, d).groupBy($"o_custkey")
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("x"))
    val cust = Tables.customer(s, d).select($"c_custkey", $"c_nationkey")
    val nat = Tables.nation(s, d).select($"n_nationkey", $"n_name")
    val j = spend.join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
    Stats.giniByGroup(j, Seq("n_name"), $"x", $"c_custkey")
      .orderBy($"n_name")
  }
  private val q149Sql =
    """WITH s AS (SELECT o_custkey,
      |        CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |          AS BIGINT) AS x
      |      FROM orders GROUP BY 1),
      |j AS (SELECT n_name, c_custkey, x FROM s
      |      JOIN customer ON o_custkey = c_custkey
      |      JOIN nation ON c_nationkey = n_nationkey),
      |r AS (SELECT n_name, x, CAST(row_number() OVER (PARTITION BY n_name
      |        ORDER BY x, c_custkey) AS BIGINT) AS i FROM j),
      |g AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(i * x) AS BIGINT) AS sw
      |      FROM r GROUP BY 1)
      |SELECT n_name, n,
      |  CASE WHEN s > 0 THEN (2.0 * CAST(sw AS DOUBLE)
      |         - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
      |       / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) END AS gini
      |FROM g ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q150
  // kNN label-noise audit: for a probe set (contract: bounded, collected
  // — q43's ANN pattern), the fraction of each probe's 5 exact-cosine
  // nearest neighbors carrying a DIFFERENT label — the mislabeled-example
  // screen run before training on a labeled corpus. Corpus streams; only
  // probes broadcast.
  private def q150(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val nn = graft.ops.Similarity.bruteForceTopK(
      emb, emb.filter($"vec_id" < 100), k = 5)
    // one slim (id, label) scan serves BOTH enrichment joins — without it
    // the table is re-read (embedding column included) per join side
    val lbl = emb.select($"vec_id", $"label").localCheckpoint()
    val qlbl = lbl.select($"vec_id".as("qid"), $"label".as("qlabel"))
    val nlbl = lbl.select($"vec_id".as("eid"), $"label".as("nlabel"))
    nn.join(broadcast(qlbl), Seq("qid")).join(nlbl, Seq("eid"))
      .groupBy($"qid", $"qlabel")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when($"nlabel" =!= $"qlabel", 1L).otherwise(0L)).as("n_mismatch"))
      .withColumn("noisy", $"n_mismatch" >= 4L)
      .orderBy($"qid")
  }
  private val q150Sql = {
    val quantSql = LlmQueries.quantSql
    s"""WITH q AS (SELECT vec_id AS qid, label AS qlabel, $quantSql AS qv
       |      FROM embeddings WHERE vec_id < 100),
       |e AS (SELECT vec_id AS eid, label AS nlabel, $quantSql AS ev
       |      FROM embeddings),
       |sc AS (SELECT qid, qlabel, eid, nlabel,
       |    CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*ev[i]))
       |      AS DOUBLE)
       |      / (sqrt(CAST(list_sum(list_transform(qv, x->x*x)) AS DOUBLE))
       |         * sqrt(CAST(list_sum(list_transform(ev, x->x*x)) AS DOUBLE)))
       |      AS cos
       |  FROM q, e WHERE qid <> eid),
       |r AS (SELECT qid, qlabel, nlabel, ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY cos DESC, eid) AS rn FROM sc)
       |SELECT qid, qlabel, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       |  CAST(SUM(CASE WHEN nlabel <> qlabel THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_mismatch,
       |  SUM(CASE WHEN nlabel <> qlabel THEN 1 ELSE 0 END) >= 4 AS noisy
       |FROM r WHERE rn <= 5 GROUP BY qid, qlabel ORDER BY qid""".stripMargin
  }

  // ---------------------------------------------------------------- q154
  // Welch's t-test on event values (cents): the continuous-metric A/B
  // readout beside q144's rate test — unequal variances, exact-integer
  // sufficient statistics, t and Welch-Satterthwaite df as fixed trees.
  private def q154(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type",
      ($"user_id" % 2 === 0).as("ca"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
    Stats.welchTTest(e, Seq("event_type"), $"ca", $"vc")
      .orderBy($"event_type")
  }
  private val q154Sql =
    """WITH e AS (SELECT event_type, user_id % 2 = 0 AS ca,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
      |s AS (SELECT event_type,
      |        CAST(SUM(CASE WHEN ca THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |        CAST(SUM(CASE WHEN ca THEN vc ELSE 0 END) AS BIGINT) AS sa,
      |        CAST(SUM(CASE WHEN ca THEN vc * vc ELSE 0 END) AS BIGINT) AS qa,
      |        CAST(SUM(CASE WHEN NOT ca THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |        CAST(SUM(CASE WHEN NOT ca THEN vc ELSE 0 END) AS BIGINT) AS sb,
      |        CAST(SUM(CASE WHEN NOT ca THEN vc * vc ELSE 0 END) AS BIGINT)
      |          AS qb
      |      FROM e GROUP BY 1),
      |t AS (SELECT event_type, n_a, n_b,
      |        CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
      |        CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
      |        ((CAST(qa AS DOUBLE) - (CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
      |            / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0))
      |          / CAST(n_a AS DOUBLE) AS sea,
      |        ((CAST(qb AS DOUBLE) - (CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
      |            / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0))
      |          / CAST(n_b AS DOUBLE) AS seb
      |      FROM s)
      |SELECT event_type, n_a, n_b,
      |  CASE WHEN n_a > 0 THEN ma END AS mean_a,
      |  CASE WHEN n_b > 0 THEN mb END AS mean_b,
      |  CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0
      |    THEN (ma - mb) / sqrt(sea + seb) END AS t,
      |  CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0
      |    THEN ((sea + seb) * (sea + seb))
      |         / ((sea * sea) / (CAST(n_a AS DOUBLE) - 1.0)
      |            + (seb * seb) / (CAST(n_b AS DOUBLE) - 1.0)) END AS df
      |FROM t ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q155
  // Mann-Whitney U rank-sum test, doubled-rank integer form: the
  // distribution-free companion of q154 — tied values take average
  // ranks, kept exact by doubling; U2 = 2U is an exact long and the
  // normal-approximation z rides a fixed tree (no tie correction).
  private def q155(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type",
      ($"user_id" % 2 === 0).as("ca"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
    Stats.mannWhitneyU2(e, Seq("event_type"), $"ca", $"vc")
      .orderBy($"event_type")
  }
  private val q155Sql =
    """WITH e AS (SELECT event_type, user_id % 2 = 0 AS ca,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
      |r AS (SELECT event_type, ca,
      |        2 * rank() OVER (PARTITION BY event_type ORDER BY vc)
      |          + COUNT(*) OVER (PARTITION BY event_type, vc) - 1 AS r2
      |      FROM e),
      |s AS (SELECT event_type,
      |        CAST(SUM(CASE WHEN ca THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |        CAST(SUM(CASE WHEN NOT ca THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |        CAST(SUM(CASE WHEN ca THEN r2 ELSE 0 END) AS BIGINT) AS sr2
      |      FROM r GROUP BY 1)
      |SELECT event_type, n_a, n_b,
      |  CAST(sr2 - n_a * (n_a + 1) AS BIGINT) AS u2_a,
      |  CASE WHEN n_a > 0 AND n_b > 0
      |    THEN (CAST(sr2 - n_a * (n_a + 1) AS DOUBLE)
      |            - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
      |         / (2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |              * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0))
      |              / 12.0))
      |  END AS z
      |FROM s ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q156
  // CUSUM change-point over daily event volumes: per type, the day
  // maximizing |n·P_k − k·S| (the division-free integer form of the
  // cumulative deviation from the mean) — "when did the level shift".
  // The day axis is bounded, so its keyed windows are scale-safe.
  private def q156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .select($"event_type", expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("x"))
    Stats.cusumChangePoint(daily, Seq("event_type"), $"day", $"x")
      .orderBy($"event_type")
  }
  private val q156Sql =
    """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day
      |      FROM events),
      |dc AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |c AS (SELECT event_type, day,
      |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      |          AS BIGINT) AS k,
      |        CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          AS p,
      |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |        CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
      |      FROM dc),
      |sc AS (SELECT event_type, day, n, n * p - k * s AS score_signed FROM c),
      |r AS (SELECT event_type, n AS n_steps, day AS change_step,
      |        abs(score_signed) AS score_abs, score_signed,
      |        row_number() OVER (PARTITION BY event_type
      |          ORDER BY abs(score_signed) DESC, day) AS rn
      |      FROM sc)
      |SELECT event_type, n_steps, change_step,
      |  CAST(score_abs AS BIGINT) AS score_abs,
      |  CAST(score_signed AS BIGINT) AS score_signed
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q157
  // Embedding-dimension separability (one-way ANOVA F per dim): which of
  // the 64 dimensions carry the label signal — the feature-selection
  // audit before training a linear probe. Quantized components (q72's
  // 1e-3 grain) keep every sufficient statistic exact; output is a
  // |dims|-row control-plane frame regardless of corpus size.
  private def q157(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = Tables.embeddings(s, d)
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .select($"label", $"dim",
        floor($"x".cast("double") * 1000 + 0.5).cast("long").as("qv"))
    Stats.oneWayAnova(q, Seq("dim"), "label", $"qv")
      .orderBy($"dim")
  }
  private val q157Sql =
    """WITH q AS (SELECT label, CAST(u.i - 1 AS INT) AS dim,
      |        CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000 + 0.5)
      |          AS BIGINT) AS qv
      |      FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1))
      |        AS u(i)),
      |l AS (SELECT dim, label, CAST(COUNT(*) AS BIGINT) AS nl,
      |        CAST(SUM(qv) AS BIGINT) AS sl,
      |        CAST(SUM(qv * qv) AS BIGINT) AS ql
      |      FROM q GROUP BY 1, 2),
      |t AS (SELECT dim, nl, sl, ql,
      |        CAST(floor(((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))
      |          / CAST(nl AS DOUBLE)) * 1e3) AS BIGINT) AS t3
      |      FROM l),
      |d AS (SELECT dim, CAST(SUM(nl) AS BIGINT) AS n,
      |        CAST(COUNT(*) AS BIGINT) AS n_classes,
      |        CAST(SUM(sl) AS BIGINT) AS s, CAST(SUM(ql) AS BIGINT) AS qq,
      |        CAST(SUM(t3) AS BIGINT) AS st3
      |      FROM t GROUP BY 1),
      |f AS (SELECT dim, n, n_classes,
      |        st3 - CAST(floor(((CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |          / CAST(n AS DOUBLE)) * 1e3) AS BIGINT) AS ssb_x3,
      |        qq * 1000 - st3 AS ssw_x3
      |      FROM d)
      |SELECT dim, n, n_classes, ssb_x3, ssw_x3,
      |  CASE WHEN ssw_x3 > 0 AND n_classes > 1 AND n > n_classes
      |    THEN (CAST(ssb_x3 AS DOUBLE) / (CAST(n_classes AS DOUBLE) - 1.0))
      |         / (CAST(ssw_x3 AS DOUBLE)
      |            / (CAST(n AS DOUBLE) - CAST(n_classes AS DOUBLE)))
      |  END AS f
      |FROM f ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- q151
  // k-anonymity / l-diversity release audit: equivalence classes over
  // the linkage quasi-identifiers (nation, market segment) with account-
  // balance-band diversity — the re-identification risk report that
  // belongs downstream of the PHI cascade (what left is grouped; how
  // unique is each group). One fixed-width aggregation.
  private def q151(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Privacy.kAnonymity(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        expr("(CAST(floor(c_acctbal) AS BIGINT) + 1000) div 1000"),
        k = 5, l = 3)
      .orderBy($"c_nationkey", $"c_mktsegment")
  }
  private val q151Sql =
    """WITH b AS (SELECT c_nationkey, c_mktsegment,
      |        (CAST(floor(c_acctbal) AS BIGINT) + 1000) // 1000 AS sb
      |      FROM customer)
      |SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT sb) AS BIGINT) AS l_div,
      |  COUNT(*) < 5 AS at_risk, COUNT(DISTINCT sb) < 3 AS low_diversity
      |FROM b GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q275
  // t-closeness over q151's release classes: EMD between each class's
  // account-balance-band distribution and the global one — the ordered-
  // attribute disclosure l-diversity misses. Exact-integer EMD: the
  // cumulative term stays a DECIMAL(38,0) numerator, one integral
  // division at the end; the oracle replays identical HUGEINT
  // arithmetic on the same (class × bucket) grid.
  private def q275(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Privacy.tCloseness(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        expr("(CAST(floor(c_acctbal) AS BIGINT) + 1000) div 1000"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }
  private val q275Sql =
    """WITH b AS (SELECT c_nationkey, c_mktsegment,
      |        (CAST(floor(c_acctbal) AS BIGINT) + 1000) // 1000 AS sb
      |      FROM customer),
      |cb AS (SELECT c_nationkey, c_mktsegment, sb,
      |         CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2, 3),
      |gb AS (SELECT sb, CAST(SUM(c) AS BIGINT) AS g FROM cb GROUP BY 1),
      |st AS (SELECT CAST(SUM(g) AS BIGINT) AS nt,
      |         CAST(COUNT(*) AS BIGINT) AS m FROM gb),
      |cl AS (SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS n
      |       FROM cb GROUP BY 1, 2),
      |grid AS (SELECT cl.c_nationkey, cl.c_mktsegment, cl.n, gb.sb, gb.g,
      |           COALESCE(cb.c, 0) AS c
      |         FROM cl CROSS JOIN gb
      |         LEFT JOIN cb ON cb.c_nationkey = cl.c_nationkey
      |           AND cb.c_mktsegment = cl.c_mktsegment AND cb.sb = gb.sb),
      |cum AS (SELECT c_nationkey, c_mktsegment, n,
      |          SUM(c::HUGEINT * st.nt - g::HUGEINT * n)
      |            OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY sb
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS cum
      |        FROM grid CROSS JOIN st)
      |SELECT c_nationkey, c_mktsegment, n,
      |  CAST((1000000::HUGEINT * SUM(abs(cum)))
      |    // (n::HUGEINT * st.nt * (st.m - 1)) AS BIGINT) AS t_x6
      |FROM cum CROSS JOIN st
      |GROUP BY c_nationkey, c_mktsegment, n, st.nt, st.m
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q152
  // Windowed skip-gram co-occurrence (the word2vec statistic): ordered
  // token pairs within ±3 positions weighted 1000000 div distance —
  // exact-integer weight sums; the pair expansion never leaves the row.
  private def q152(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.TextAnalysis.skipgramCooc(Tables.documents(s, d),
        window = 3, topK = 30)
      .orderBy($"w_x6".desc, $"t1", $"t2")
  }
  private val q152Sql =
    s"""WITH ts AS (SELECT $toksSql AS ts FROM documents),
       |e AS (SELECT ts[i+1] AS t1, ts[i+1+j] AS t2,
       |        CAST(1000000 // j AS BIGINT) AS w6
       |      FROM ts, LATERAL unnest(range(len(ts))) u(i),
       |        LATERAL unnest([1, 2, 3]) v(j)
       |      WHERE i + j <= len(ts) - 1)
       |SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(w6) AS BIGINT) AS w_x6
       |FROM e GROUP BY 1, 2 ORDER BY w_x6 DESC, t1, t2 LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- q153
  // Robust outliers by median/MAD (3σ-equivalent, integer-exact
  // decision): the heavy-tail-safe complement of q98's z-scores — the
  // event-value spikes that survive a mean/stddev dragged by themselves.
  private def q153(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_id", $"event_type",
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
    Stats.madOutliers(e, Seq("event_type"), $"vc", $"event_id")
      .filter($"outlier")
      .select($"event_id", $"event_type", $"vc", $"med", $"mad", $"dev")
      .orderBy($"event_id")
  }
  private val q153Sql =
    """WITH e AS (SELECT event_id, event_type,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
      |m AS (SELECT event_type, vc AS med FROM (
      |        SELECT event_type, vc, row_number() OVER (PARTITION BY event_type
      |            ORDER BY vc, event_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY event_type) AS n
      |        FROM e) WHERE rn = (n + 1) // 2),
      |d AS (SELECT e.event_id, e.event_type, e.vc, m.med,
      |        abs(e.vc - m.med) AS dev
      |      FROM e JOIN m USING (event_type)),
      |md AS (SELECT event_type, dev AS mad FROM (
      |        SELECT event_type, dev, row_number() OVER (PARTITION BY event_type
      |            ORDER BY dev, event_id) AS rn,
      |          COUNT(*) OVER (PARTITION BY event_type) AS n
      |        FROM d) WHERE rn = (n + 1) // 2)
      |SELECT event_id, event_type, vc, med, mad, dev
      |FROM d JOIN md USING (event_type)
      |WHERE dev * 10000 > 44478 * mad
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q159
  // Cohort LTV curves: customers grouped by first-order month; cumulative
  // revenue per cohort by months-since-first — the retention-revenue
  // readout (q95 counts activity; this accumulates value). Month indices
  // are exact integers (year·12+month); the cumulative pass is a keyed
  // window over the bounded age axis; LTV-per-customer is one division.
  private def q159(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_custkey",
      (year(to_date($"o_orderdate")) * 12 + month(to_date($"o_orderdate")))
        .cast("long").as("m"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    // slim (custkey, first-month) frame feeds cohort sizing AND the age
    // join: materialize so orders aggregates to it once
    val first = o.groupBy($"o_custkey").agg(min($"m").as("m0"))
      .localCheckpoint()
    val sized = first.groupBy($"m0".as("cohort"))
      .agg(countDistinct($"o_custkey").as("n_customers"))
    val byAge = o.join(first, "o_custkey")
      .groupBy($"m0".as("cohort"), ($"m" - $"m0").as("age"))
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("rev"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"cohort")
      .orderBy($"age")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    byAge.withColumn("cum_rev", sum($"rev").over(w))
      .join(broadcast(sized), "cohort")
      .withColumn("ltv",
        $"cum_rev".cast("double") / $"n_customers".cast("double"))
      .select($"cohort", $"age", $"n_orders", $"cum_rev", $"n_customers", $"ltv")
      .orderBy($"cohort", $"age")
  }
  private val q159Sql =
    """WITH o AS (SELECT o_custkey,
      |        CAST(year(CAST(o_orderdate AS DATE)) * 12
      |          + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
      |        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |      FROM orders),
      |f AS (SELECT o_custkey, CAST(MIN(m) AS BIGINT) AS m0 FROM o GROUP BY 1),
      |sz AS (SELECT m0 AS cohort, CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
      |        AS n_customers FROM f GROUP BY 1),
      |ba AS (SELECT f.m0 AS cohort, o.m - f.m0 AS age,
      |        CAST(COUNT(*) AS BIGINT) AS n_orders,
      |        CAST(SUM(cents) AS BIGINT) AS rev
      |      FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
      |c AS (SELECT cohort, age, n_orders,
      |        CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          AS cum_rev
      |      FROM ba)
      |SELECT cohort, age, n_orders, cum_rev, n_customers,
      |  CAST(cum_rev AS DOUBLE) / CAST(n_customers AS DOUBLE) AS ltv
      |FROM c JOIN sz USING (cohort) ORDER BY cohort, age""".stripMargin

  // ---------------------------------------------------------------- q160
  // Order-total reconciliation audit: per priority, does o_totalprice
  // match the cents-quantized sum of its lines' extendedprice·(1−disc)·
  // (1+tax)? Per-line quantization BEFORE the sum keeps the aggregate
  // exact and order-independent; orders without lines surface as "off".
  private def q160(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lc = Tables.lineitem(s, d).select($"l_orderkey",
      expr("""CAST(floor((l_extendedprice * (1.0 - l_discount))
              * (1.0 + l_tax) * 100 + 0.5) AS BIGINT)""").as("lc"))
      .groupBy($"l_orderkey").agg(sum($"lc").as("recon"))
    val o = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority",
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("oc"))
    o.join(lc, $"o_orderkey" === $"l_orderkey", "left")
      .withColumn("diff", coalesce($"recon", lit(0L)) - $"oc")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when($"diff" === 0L, 1L).otherwise(0L)).as("n_exact"),
        sum(when($"diff" =!= 0L && abs($"diff") <= 100L, 1L).otherwise(0L))
          .as("n_near"),
        sum(when(abs($"diff") > 100L, 1L).otherwise(0L)).as("n_off"),
        max(abs($"diff")).as("max_abs_diff"))
      .orderBy($"o_orderpriority")
  }
  private val q160Sql =
    """WITH lc AS (SELECT l_orderkey,
      |        CAST(SUM(CAST(floor((l_extendedprice * (1.0 - l_discount))
      |          * (1.0 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS recon
      |      FROM lineitem GROUP BY 1),
      |j AS (SELECT o_orderpriority,
      |        COALESCE(recon, 0) - CAST(floor(o_totalprice * 100 + 0.5)
      |          AS BIGINT) AS diff
      |      FROM orders LEFT JOIN lc ON o_orderkey = l_orderkey)
      |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |  CAST(SUM(CASE WHEN diff <> 0 AND abs(diff) <= 100 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_near,
      |  CAST(SUM(CASE WHEN abs(diff) > 100 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_off,
      |  CAST(MAX(abs(diff)) AS BIGINT) AS max_abs_diff
      |FROM j GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q161
  // Weekday seasonality index per event type: observed share of each
  // epoch-weekday vs the uniform 1/7 — index 1e6 = flat. The weekday
  // comes from INTEGER epoch-day arithmetic (day mod 7), never a
  // calendar function, so engines cannot disagree on week-start
  // conventions.
  private def q161(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type",
      expr("(unix_micros(ts) div 86400000000) % 7").as("dow"))
    val c = e.groupBy($"event_type", $"dow").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"event_type")
    c.withColumn("n_type", sum($"n").over(w))
      .withColumn("index_x6",
        floor((($"n".cast("double") * lit(7.0))
          / $"n_type".cast("double")) * 1e6).cast("long"))
      .orderBy($"event_type", $"dow")
  }
  private val q161Sql =
    """WITH e AS (SELECT event_type,
      |        (epoch_us(ts) // 86400000000) % 7 AS dow FROM events),
      |c AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM e GROUP BY 1, 2),
      |t AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
      |        AS n_type FROM c)
      |SELECT event_type, dow, n, n_type,
      |  CAST(floor(((CAST(n AS DOUBLE) * 7.0) / CAST(n_type AS DOUBLE)) * 1e6)
      |    AS BIGINT) AS index_x6
      |FROM t ORDER BY event_type, dow""".stripMargin

  // ---------------------------------------------------------------- q162
  // Functional-dependency audit across four candidate contracts: the
  // schema-inference pass that tells a pipeline which "obvious" keys
  // actually determine which attributes (order→customer holds by
  // construction; nation→segment emphatically does not).
  private def q162(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.fdAudit(Tables.nation(s, d), "nation_to_region",
        Seq("n_nationkey"), "n_regionkey")
      .unionByName(Stats.fdAudit(Tables.orders(s, d), "order_to_cust",
        Seq("o_orderkey"), "o_custkey"))
      .unionByName(Stats.fdAudit(Tables.customer(s, d), "nation_to_segment",
        Seq("c_nationkey"), "c_mktsegment"))
      .unionByName(Stats.fdAudit(Tables.lineitem(s, d), "order_to_returnflag",
        Seq("l_orderkey"), "l_returnflag"))
      .orderBy($"fd")
  }
  private val q162Sql = {
    def one(name: String, a: String, b: String, t: String) =
      s"""SELECT '$name' AS fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating_keys,
         |  CAST(MAX(nb) AS BIGINT) AS max_rhs_per_key,
         |  SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT $a, CAST(COUNT(DISTINCT $b) AS BIGINT) AS nb
         |      FROM $t GROUP BY 1)""".stripMargin
    Seq(
      one("nation_to_region", "n_nationkey", "n_regionkey", "nation"),
      one("order_to_cust", "o_orderkey", "o_custkey", "orders"),
      one("nation_to_segment", "c_nationkey", "c_mktsegment", "customer"),
      one("order_to_returnflag", "l_orderkey", "l_returnflag", "lineitem"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  // ---------------------------------------------------------------- q163
  // Winsorized event values per type: clip at exact discrete p05/p95
  // (ceiling-rank picks, no interpolation) and report bounds, clipped
  // tail counts, and the winsorized mean — robust metric preprocessing
  // with an integer-exact decision everywhere but the final division.
  private def q163(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type", $"event_id",
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
    Stats.winsorize(e, Seq("event_type"), $"vc", $"event_id")
      .orderBy($"event_type")
  }
  private val q163Sql =
    """WITH e AS (SELECT event_type, event_id,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
      |r AS (SELECT event_type, vc,
      |        CAST(row_number() OVER (PARTITION BY event_type
      |          ORDER BY vc, event_id) AS BIGINT) AS rn,
      |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |      FROM e),
      |b AS (SELECT event_type,
      |        MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN vc END) AS p_lo,
      |        MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN vc END) AS p_hi
      |      FROM r GROUP BY 1)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MAX(p_lo) AS BIGINT) AS p_lo, CAST(MAX(p_hi) AS BIGINT) AS p_hi,
      |  CAST(SUM(CASE WHEN vc < p_lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_low,
      |  CAST(SUM(CASE WHEN vc > p_hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_high,
      |  CAST(SUM(greatest(least(vc, p_hi), p_lo)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS wmean
      |FROM e JOIN b USING (event_type) GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q164
  // Tokenizer fertility per language: chars-per-token and tokens-per-doc
  // from exact corpus sums — the per-language cost model (zh text runs
  // far fewer chars per whitespace token than en) that sizes token
  // budgets before a mix is planned. Pure projection + one aggregation.
  private def q164(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.documents(s, d).select($"lang",
      length(graft.ops.Dedup.normalized(coalesce($"text", lit(""))))
        .cast("long").as("chars"),
      size(split(graft.ops.Dedup.normalized(coalesce($"text", lit(""))), " "))
        .cast("long").as("toks"))
    t.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"),
        sum($"chars").as("n_chars"))
      .withColumn("chars_per_token",
        $"n_chars".cast("double") / $"n_tokens".cast("double"))
      .withColumn("tokens_per_doc",
        $"n_tokens".cast("double") / $"n_docs".cast("double"))
      .orderBy($"lang")
  }
  private val q164Sql =
    s"""WITH t AS (SELECT lang, CAST(length($normSql) AS BIGINT) AS chars,
       |        CAST(len($toksSql) AS BIGINT) AS toks FROM documents),
       |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |        CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |        CAST(SUM(chars) AS BIGINT) AS n_chars
       |      FROM t GROUP BY 1)
       |SELECT lang, n_docs, n_tokens, n_chars,
       |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS chars_per_token,
       |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS tokens_per_doc
       |FROM g ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q165
  // Per-source document-length quantiles (exact discrete P10/P50/P90):
  // the corpus-report length profile — one keyed sort resolves all three
  // ceiling-rank picks via conditional aggregation.
  private def q165(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.discreteQuantiles(Tables.documents(s, d), Seq("source"),
        $"n_chars", $"doc_id", Seq(10, 50, 90))
      .orderBy($"source")
  }
  private val q165Sql =
    """WITH r AS (SELECT source, n_chars,
      |        CAST(row_number() OVER (PARTITION BY source
      |          ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
      |        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |      FROM documents)
      |SELECT source, CAST(MAX(n) AS BIGINT) AS n,
      |  CAST(MAX(CASE WHEN rn = (n * 10 + 99) // 100 THEN n_chars END)
      |    AS BIGINT) AS p10,
      |  CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END)
      |    AS BIGINT) AS p50,
      |  CAST(MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END)
      |    AS BIGINT) AS p90
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q166
  // Vocabulary growth curve (Heaps' law): cumulative distinct terms vs
  // cumulative tokens over 20 ingestion buckets in doc_id order — the
  // diminishing-returns readout for corpus expansion. A term counts as
  // new in the bucket of its FIRST document (min-aggregate, map-side);
  // the cumulative pass is a window over the 20-row bucket axis.
  private def q166(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // 1-row bucket width rides under BOTH tok consumers — pin it so each
    // doesn't re-scan the corpus for max(doc_id)
    val width = docs.agg(expr("(max(doc_id) div 20) + 1").as("w"))
      .localCheckpoint()
    val tok = docs.crossJoin(broadcast(width))
      .select(expr("doc_id div w").as("bucket"),
        explode(split(graft.ops.Dedup.normalized(coalesce($"text", lit(""))),
          " ")).as("term"))
    val firstB = tok.groupBy($"term").agg(min($"bucket").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("new_terms"))
    val tokens = tok.groupBy($"bucket").agg(count(lit(1)).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    tokens.join(firstB, Seq("bucket"), "left")
      .withColumn("new_terms", coalesce($"new_terms", lit(0L)))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .withColumn("cum_terms", sum($"new_terms").over(w))
      .orderBy($"bucket")
  }
  private val q166Sql =
    s"""WITH wd AS (SELECT (MAX(doc_id) // 20) + 1 AS w FROM documents),
       |tok AS (SELECT doc_id // w AS bucket, unnest($toksSql) AS term
       |      FROM documents CROSS JOIN wd),
       |fb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_terms FROM
       |  (SELECT term, MIN(bucket) AS bucket FROM tok GROUP BY 1) GROUP BY 1),
       |tk AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
       |      FROM tok GROUP BY 1)
       |SELECT bucket, n_tokens, COALESCE(new_terms, 0) AS new_terms,
       |  CAST(SUM(n_tokens) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tokens,
       |  CAST(SUM(COALESCE(new_terms, 0)) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_terms
       |FROM tk LEFT JOIN fb USING (bucket) ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q167
  // Quantile-normalize event values per type against the pooled
  // distribution: after the transform every type draws from the same
  // reference, so cross-type value comparisons lose their per-type
  // shape confound. Pooled ranks via the two-phase prefix sum (never a
  // global window); the oracle's global row_number is the semantic spec.
  private def q167(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type", $"event_id",
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
    Stats.quantileNormalize(e, Seq("event_type"), "event_id", $"vc")
      .orderBy($"event_id")
  }
  private val q167Sql =
    """WITH e AS (SELECT event_type, event_id,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
      |g AS (SELECT event_id, vc,
      |        CAST(row_number() OVER (ORDER BY vc, event_id) AS BIGINT)
      |          AS grank FROM e),
      |r AS (SELECT event_type, event_id, vc,
      |        CAST(row_number() OVER (PARTITION BY event_type
      |          ORDER BY vc, event_id) AS BIGINT) AS r,
      |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
      |          AS n_group
      |      FROM e),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM e),
      |t AS (SELECT r.*, ((r.r * n.nn) + r.n_group - 1) // r.n_group AS tg
      |      FROM r CROSS JOIN n)
      |SELECT t.event_type, t.event_id, t.vc AS v, t.r, t.n_group,
      |  g.vc AS qnorm
      |FROM t JOIN g ON t.tg = g.grank ORDER BY t.event_id""".stripMargin

  // ---------------------------------------------------------------- q168
  // Zipf-law fit of the term-frequency distribution: OLS slope of
  // ln(freq) over ln(rank) for the top-1000 terms — the "is this corpus
  // natural language or template spam" diagnostic (natural text slopes
  // ≈ −1; generated boilerplate flattens). Reuses Regression.trendFit on
  // quantized-ln integer points; the rank window runs over an
  // explicitly LIMITed 1000-row control-plane frame, never the vocab.
  private def q168(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select(explode(split(
        graft.ops.Dedup.normalized(coalesce($"text", lit(""))), " ")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("f"))
      .orderBy($"f".desc, $"term").limit(1000)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"f".desc, $"term") // bounded: ≤1000 rows by the LIMIT above
    val pts = tf.withColumn("rk", row_number().over(w).cast("long"))
      .select(
        floor(log($"rk".cast("double")) * 1e6).cast("long").as("x"),
        floor(log($"f".cast("double")) * 1e6).cast("long").as("y"))
    Regression.trendFit(pts, Nil, $"x", $"y")
  }
  private val q168Sql =
    s"""WITH tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM
       |  (SELECT unnest($toksSql) AS term FROM documents) GROUP BY 1),
       |top AS (SELECT term, f FROM tf ORDER BY f DESC, term LIMIT 1000),
       |r AS (SELECT f, CAST(row_number() OVER (ORDER BY f DESC, term)
       |        AS BIGINT) AS rk FROM top),
       |q AS (SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1e6) AS BIGINT) AS x,
       |        CAST(floor(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT) AS y FROM r),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
       |        CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
       |        CAST(SUM(x*x) AS BIGINT) AS sxx FROM q),
       |t AS (SELECT *,
       |  CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS num,
       |  CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS den FROM s)
       |SELECT n,
       |  CASE WHEN den <> 0
       |    THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope,
       |  CASE WHEN den <> 0
       |    THEN (CAST(sy AS DOUBLE)
       |            - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
       |              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
       |  END AS intercept
       |FROM t""".stripMargin

  // ---------------------------------------------------------------- q169
  // Column-encoding advisor: per column, the distinct-value ratio that
  // decides dictionary vs plain encoding (and whether a bloom filter
  // pays) — the storage-layout audit behind the engine's parquet sinks.
  // One exact aggregate per column, unioned into a control-plane report.
  private def q169(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE multi-distinct aggregation per table (Spark plans it via Expand —
    // the q91 profiler shape), materialized 1-row, then unpivoted to a row
    // per column: the table is scanned once, not once per audited column
    def audit(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
      val aggs = count(lit(1)).as("n") +:
        cols.map(c => countDistinct(col(c)).as(s"nd_$c"))
      val one = df.agg(aggs.head, aggs.tail: _*).localCheckpoint()
      cols.map { c =>
        one.select(lit(table).as("tbl"), lit(c).as("col_name"), $"n",
          col(s"nd_$c").as("n_distinct"),
          floor((col(s"nd_$c").cast("double") / $"n".cast("double")) * 1e6)
            .cast("long").as("ndv_ratio_x6"))
      }.reduce(_ unionByName _)
    }
    audit(Tables.orders(s, d), "orders",
        Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"))
      .unionByName(audit(Tables.documents(s, d), "documents",
        Seq("lang", "source", "doc_id")))
      .withColumn("advice",
        when($"ndv_ratio_x6" < 10000L, lit("dictionary"))
          .when($"ndv_ratio_x6" > 900000L, lit("plain+bloom"))
          .otherwise(lit("plain")))
      .orderBy($"tbl", $"col_name")
  }
  private val q169Sql = {
    def one(t: String, c: String) =
      s"""SELECT '$t' AS tbl, '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(floor((CAST(COUNT(DISTINCT $c) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT) AS ndv_ratio_x6
         |FROM $t""".stripMargin
    val parts = Seq(
      one("orders", "o_orderstatus"), one("orders", "o_orderpriority"),
      one("orders", "o_custkey"), one("orders", "o_orderkey"),
      one("documents", "lang"), one("documents", "source"),
      one("documents", "doc_id"))
      .mkString("WITH u AS (", "\nUNION ALL\n", ")")
    parts + """
      |SELECT tbl, col_name, n, n_distinct, ndv_ratio_x6,
      |  CASE WHEN ndv_ratio_x6 < 10000 THEN 'dictionary'
      |       WHEN ndv_ratio_x6 > 900000 THEN 'plain+bloom'
      |       ELSE 'plain' END AS advice
      |FROM u ORDER BY tbl, col_name""".stripMargin
  }

  // ---------------------------------------------------------------- q170
  // Classifier evaluation, exact: ROC-AUC per source of the English-
  // stopword-ratio score against the lang label, via the rank-sum
  // identity with doubled average tie ranks (Stats.aucByGroup). The
  // "does our quality/language signal actually separate the classes"
  // gate every curation heuristic should pass before it filters data.
  private val enWordsSql = graft.ops.TextAnalysis.stopwords("en")
    .map(w => s"'$w'").mkString("[", ", ", "]")
  private def enScored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toksC = split(graft.ops.Dedup.normalized(coalesce($"text", lit(""))), " ")
    val enHits = size(filter(toksC,
      t => t.isin(graft.ops.TextAnalysis.stopwords("en").map(lit(_)): _*)))
    Tables.documents(s, d)
      .select($"doc_id", $"source",
        (coalesce($"lang", lit("")) === "en").as("pos"),
        enHits.cast("long").as("enh"), size(toksC).cast("long").as("nt"))
      .withColumn("x", expr("(enh * 1000000L) div nt"))
  }
  private val enScoredSql =
    s"""SELECT doc_id, source, (coalesce(lang, '') = 'en') AS pos,
       |  (len(list_filter($toksSql, t -> list_contains($enWordsSql, t)))
       |     * 1000000) // len($toksSql) AS x FROM documents""".stripMargin
  private def q170(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.aucByGroup(enScored(s, d), Seq("source"), $"x", $"pos")
      .orderBy($"source")
  }
  private val q170Sql =
    s"""WITH t AS ($enScoredSql),
       |r AS (SELECT source, pos, x,
       |        CAST(2*rank() OVER (PARTITION BY source ORDER BY x)
       |          + COUNT(*) OVER (PARTITION BY source, x) - 1 AS BIGINT)
       |          AS r2 FROM t),
       |g AS (SELECT source,
       |        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |        CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
       |        CAST(SUM(CASE WHEN pos THEN r2 ELSE 0 END) AS BIGINT) AS sr2
       |      FROM r GROUP BY source)
       |SELECT source, n_pos, n_neg,
       |  CAST(sr2 - n_pos*(n_pos+1) AS BIGINT) AS u2_pos,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    CAST(sr2 - n_pos*(n_pos+1) AS DOUBLE)
       |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * 2.0)
       |  END AS auc
       |FROM g ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q171
  // Calibration (reliability) table for the same score: fixed-width
  // score deciles vs observed positive rate — the binned companion that
  // stays one hash aggregate at any scale (no per-group rank sort).
  private def q171(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.calibrationBins(enScored(s, d), $"x", $"pos").orderBy($"bin")
  }
  private val q171Sql =
    s"""WITH t AS ($enScoredSql),
       |b AS (SELECT least(x // 100000, 9) AS bin, pos, x FROM t),
       |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |        CAST(SUM(x) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
       |          AS mean_score_x6
       |      FROM b GROUP BY bin)
       |SELECT bin, n, n_pos, mean_score_x6,
       |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate
       |FROM g ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q172
  // Calendar densification with forward fill: the sparse per-customer
  // monthly revenue series expanded onto the full month axis — missing
  // months become explicit rows with revenue 0, the last observed
  // monthly revenue carried forward, and months-since-last-order
  // computed off the filled axis. Report scoped to a key range so the
  // dump stays small; the operator is linear in keys × axis.
  private def q172(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.orders(s, d)
      .filter($"o_custkey" <= 150L)
      .select($"o_custkey".as("custkey"),
        (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long")
          .as("m"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"custkey", $"m").agg(sum($"cents").as("rev_cents"))
    graft.ops.Temporal.gapFillForward(monthly, Seq("custkey"), "m",
        Seq("rev_cents"))
      .select($"custkey", $"m",
        coalesce($"rev_cents", lit(0L)).as("rev_cents"),
        $"rev_cents_ffill", $"periods_since_obs")
      .orderBy($"custkey", $"m")
  }
  private val q172Sql =
    """WITH o AS (SELECT o_custkey AS custkey,
      |        CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT) AS m,
      |        CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents
      |      FROM orders WHERE o_custkey <= 150),
      |mo AS (SELECT custkey, m, CAST(SUM(cents) AS BIGINT) AS rev
      |       FROM o GROUP BY 1, 2),
      |b AS (SELECT min(m) AS lo, max(m) AS hi FROM mo),
      |axis AS (SELECT unnest(generate_series(lo, hi)) AS m FROM b),
      |grid AS (SELECT c.custkey, a.m
      |         FROM (SELECT DISTINCT custkey FROM mo) c CROSS JOIN axis a),
      |j AS (SELECT g.custkey, g.m, mo.rev
      |      FROM grid g LEFT JOIN mo ON g.custkey = mo.custkey AND g.m = mo.m)
      |SELECT custkey, m, CAST(coalesce(rev, 0) AS BIGINT) AS rev_cents,
      |  last_value(rev IGNORE NULLS) OVER
      |    (PARTITION BY custkey ORDER BY m
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS rev_cents_ffill,
      |  m - last_value(CASE WHEN rev IS NOT NULL THEN m END IGNORE NULLS)
      |    OVER (PARTITION BY custkey ORDER BY m
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS periods_since_obs
      |FROM j ORDER BY custkey, m""".stripMargin

  // ---------------------------------------------------------------- q173
  // Join-cardinality audit: the cost-based-optimizer estimator
  // Σ_k cnt_L(k)·cnt_R(k) computed exactly from per-key counts for the
  // engine's two fact joins, verified against the real join count, with
  // max key multiplicity as the skew-exposure signal.
  private def q173(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Profile.joinSizeAudit(Tables.orders(s, d), Tables.lineitem(s, d),
        $"o_orderkey", $"l_orderkey", "orders_lineitem")
      .unionByName(Profile.joinSizeAudit(Tables.customer(s, d),
        Tables.orders(s, d), $"c_custkey", $"o_custkey", "customer_orders"))
      .orderBy($"join_name")
  }
  private def joinAuditSql(name: String, lt: String, lk: String, rt: String,
      rk: String): String =
    s"""SELECT '$name' AS join_name,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $lt) AS n_left,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $rt) AS n_right,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
       |     (SELECT $lk AS k FROM $lt GROUP BY 1) lc
       |     JOIN (SELECT $rk AS k FROM $rt GROUP BY 1) rc USING (k))
       |    AS n_match_keys,
       |  (SELECT CAST(coalesce(SUM(cl*cr), 0) AS BIGINT) FROM
       |     (SELECT $lk AS k, CAST(COUNT(*) AS BIGINT) AS cl
       |        FROM $lt GROUP BY 1) lc
       |     JOIN (SELECT $rk AS k, CAST(COUNT(*) AS BIGINT) AS cr
       |        FROM $rt GROUP BY 1) rc USING (k)) AS predicted_rows,
       |  (SELECT CAST(coalesce(MAX(cl*cr), 0) AS BIGINT) FROM
       |     (SELECT $lk AS k, CAST(COUNT(*) AS BIGINT) AS cl
       |        FROM $lt GROUP BY 1) lc
       |     JOIN (SELECT $rk AS k, CAST(COUNT(*) AS BIGINT) AS cr
       |        FROM $rt GROUP BY 1) rc USING (k)) AS max_key_mult,
       |  (SELECT CAST(COUNT(*) AS BIGINT)
       |     FROM $lt JOIN $rt ON $lk = $rk) AS actual_rows""".stripMargin
  private val q173Sql =
    joinAuditSql("orders_lineitem", "orders", "o_orderkey",
      "lineitem", "l_orderkey") +
      "\nUNION ALL\n" +
      joinAuditSql("customer_orders", "customer", "c_custkey",
        "orders", "o_custkey") +
      "\nORDER BY join_name"

  // ---------------------------------------------------------------- q174
  // Cohen's kappa between the engine's heuristic language ID (q46's
  // expression) and the reference lang label — chance-corrected
  // agreement from exact confusion marginals; the κ tree runs in double
  // over exact counts with the identical parenthesization both engines.
  private def q174(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.documents(s, d).select(
      graft.ops.TextAnalysis.langId($"text").as("pred"),
      coalesce($"lang", lit("und")).as("actual"))
    Stats.cohenKappa(t, $"pred", $"actual")
  }
  private def kappaHitsSql(lang: String): String = {
    val words = graft.ops.TextAnalysis.stopwords(lang)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($toksSql, t -> list_contains($words, t)))"
  }
  private lazy val q174LangCaseSql =
    s"""CASE WHEN greatest(${kappaHitsSql("en")}, ${kappaHitsSql("de")},
       |       ${kappaHitsSql("es")}, ${kappaHitsSql("fr")}) = 0 THEN 'und'
       |   WHEN ${kappaHitsSql("en")} >= ${kappaHitsSql("de")}
       |     AND ${kappaHitsSql("en")} >= ${kappaHitsSql("es")}
       |     AND ${kappaHitsSql("en")} >= ${kappaHitsSql("fr")} THEN 'en'
       |   WHEN ${kappaHitsSql("de")} >= ${kappaHitsSql("es")}
       |     AND ${kappaHitsSql("de")} >= ${kappaHitsSql("fr")} THEN 'de'
       |   WHEN ${kappaHitsSql("es")} >= ${kappaHitsSql("fr")} THEN 'es'
       |   ELSE 'fr' END""".stripMargin
  private val q174Sql = {
    val langCase = q174LangCaseSql
    s"""WITH t AS (SELECT $langCase AS a, coalesce(lang, 'und') AS b
       |           FROM documents),
       |j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
       |          AS n_agree FROM t),
       |rm AS (SELECT a AS cls, CAST(COUNT(*) AS BIGINT) AS rm
       |       FROM t GROUP BY 1),
       |cm AS (SELECT b AS cls, CAST(COUNT(*) AS BIGINT) AS cm
       |       FROM t GROUP BY 1),
       |p AS (SELECT CAST(coalesce(SUM(rm.rm * cm.cm), 0) AS BIGINT)
       |        AS pe_num FROM rm JOIN cm USING (cls)),
       |q AS (SELECT n, n_agree, pe_num,
       |        CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |        CAST(pe_num AS DOUBLE)
       |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
       |      FROM j CROSS JOIN p)
       |SELECT n, n_agree, pe_num, po, pe,
       |  CASE WHEN po = CAST(1.0 AS DOUBLE) THEN CAST(1.0 AS DOUBLE)
       |       WHEN pe < CAST(1.0 AS DOUBLE)
       |         THEN (po - pe) / (CAST(1.0 AS DOUBLE) - pe)
       |  END AS kappa
       |FROM q""".stripMargin
  }

  // ---------------------------------------------------------------- q175
  // CUPED variance-reduced A/B readout: per-user post-period spend
  // adjusted by pre-period spend (θ pooled across arms). Cutoff is the
  // experiment midpoint; arms are the deterministic user parity split.
  private val cutUs = 1705363200000000L // 2024-01-16T00:00:00Z in epoch µs
  private def q175(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perUser = Tables.events(s, d)
      .select($"user_id", (unix_micros($"ts") < cutUs).as("pre"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"user_id")
      .agg(sum(when($"pre", $"cents").otherwise(0L)).as("x"),
        sum(when(!$"pre", $"cents").otherwise(0L)).as("y"))
      .withColumn("arm",
        when($"user_id" % 2 === 0, "even").otherwise("odd"))
    Stats.cuped(perUser, $"arm", $"x", $"y").orderBy($"arm")
  }
  private val q175Sql =
    s"""WITH pu AS (SELECT user_id,
       |      CAST(SUM(CASE WHEN epoch_us(ts) < $cutUs
       |        THEN CAST(floor(value*100 + 0.5) AS BIGINT) ELSE 0 END)
       |        AS BIGINT) AS x,
       |      CAST(SUM(CASE WHEN epoch_us(ts) >= $cutUs
       |        THEN CAST(floor(value*100 + 0.5) AS BIGINT) ELSE 0 END)
       |        AS BIGINT) AS y
       |    FROM events GROUP BY 1),
       |a AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
       |        AS arm, x, y FROM pu),
       |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |        CAST(SUM(x*y) AS BIGINT) AS sxy,
       |        CAST(SUM(x*x) AS BIGINT) AS sxx FROM a),
       |g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_units,
       |        CAST(SUM(x) AS BIGINT) AS sum_x,
       |        CAST(SUM(y) AS BIGINT) AS sum_y FROM a GROUP BY 1),
       |t AS (SELECT g.*, p.n, p.sx,
       |        CASE WHEN p.n*p.sxx - p.sx*p.sx <> 0 THEN
       |          CAST(p.n*p.sxy - p.sx*p.sy AS DOUBLE)
       |            / CAST(p.n*p.sxx - p.sx*p.sx AS DOUBLE) END AS theta
       |      FROM g CROSS JOIN p)
       |SELECT arm, n_units, sum_x, sum_y,
       |  CAST(sum_y AS DOUBLE) / CAST(n_units AS DOUBLE) AS mean_y, theta,
       |  CAST(sum_y AS DOUBLE) / CAST(n_units AS DOUBLE)
       |    - theta * (CAST(sum_x AS DOUBLE) / CAST(n_units AS DOUBLE)
       |        - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS mean_y_adj
       |FROM t ORDER BY arm""".stripMargin

  // ---------------------------------------------------------------- q176
  // Truncated-geometric EWMA (α=0.3, 8 lags, integer ⌊α(1−α)ʲ·2²⁰⌋
  // weights) of daily event revenue per type — the engine-portable form
  // of exponential smoothing: an integer dot product over the lag
  // window, renormalized over the lags that exist. Sparse series would
  // compose Temporal.gapFillForward first.
  private val ewmaWeights: Seq[Long] = (0 until 8)
    .map(j => math.floor(0.3 * math.pow(0.7, j) * (1 << 20)).toLong)
  private def q176(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .select($"event_type",
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"event_type", $"day").agg(sum($"cents").as("v"))
    graft.ops.Temporal.ewmaLagged(daily, Seq("event_type"), "day", "v",
        ewmaWeights)
      .orderBy($"event_type", $"day")
  }
  private val q176Sql = {
    val over = "OVER (PARTITION BY event_type ORDER BY day)"
    val lagCols = ewmaWeights.indices.map {
      case 0 => "v AS l0"
      case j => s"lag(v, $j) $over AS l$j"
    }.mkString(", ")
    val num = ewmaWeights.zipWithIndex.map { case (wt, j) =>
      s"CASE WHEN l$j IS NOT NULL THEN $wt * l$j ELSE 0 END"
    }.mkString(" + ")
    val den = ewmaWeights.zipWithIndex.map { case (wt, j) =>
      s"CASE WHEN l$j IS NOT NULL THEN $wt ELSE 0 END"
    }.mkString(" + ")
    s"""WITH e AS (SELECT event_type,
       |        epoch_us(ts) // 86400000000 AS day,
       |        CAST(floor(value*100 + 0.5) AS BIGINT) AS cents FROM events),
       |d AS (SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS v
       |      FROM e GROUP BY 1, 2),
       |l AS (SELECT event_type, day, v, $lagCols FROM d)
       |SELECT event_type, day, v, ($num) // ($den) AS ewma
       |FROM l ORDER BY event_type, day""".stripMargin
  }

  // ---------------------------------------------------------------- q177
  // Difference-in-differences: per-event spend across the 2×2
  // (parity-arm × pre/post-cutoff) design — the causal readout when the
  // control arm carries the secular trend.
  private def q177(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.diffInDiff(Tables.events(s, d)
        .select(($"user_id" % 2 === 0).as("t"),
          (unix_micros($"ts") >= cutUs).as("p"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents")),
      $"t", $"p", $"cents")
  }
  private val q177Sql = {
    def cell(t: String, p: String, sfx: String) =
      s"""CAST(SUM(CASE WHEN $t AND $p THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_$sfx,
         |  CAST(SUM(CASE WHEN $t AND $p
         |    THEN CAST(floor(value*100 + 0.5) AS BIGINT)
         |    ELSE 0 END) AS BIGINT) AS sum_$sfx""".stripMargin
    val tr = "user_id % 2 = 0"
    val po = s"epoch_us(ts) >= $cutUs"
    def mean(sfx: String) =
      s"""CASE WHEN n_$sfx > 0
         | THEN CAST(sum_$sfx AS DOUBLE) / CAST(n_$sfx AS DOUBLE) END"""
        .stripMargin.replace("\n", "")
    s"""WITH c AS (SELECT
       |  ${cell(tr, s"NOT ($po)", "t0")},
       |  ${cell(tr, po, "t1")},
       |  ${cell(s"NOT ($tr)", s"NOT ($po)", "c0")},
       |  ${cell(s"NOT ($tr)", po, "c1")}
       |FROM events),
       |m AS (SELECT *, ${mean("t0")} AS m_t0, ${mean("t1")} AS m_t1,
       |        ${mean("c0")} AS m_c0, ${mean("c1")} AS m_c1 FROM c)
       |SELECT n_t0, sum_t0, n_t1, sum_t1, n_c0, sum_c0, n_c1, sum_c1,
       |  m_t0, m_t1, m_c0, m_c1,
       |  CASE WHEN n_t0 > 0 AND n_t1 > 0 AND n_c0 > 0 AND n_c1 > 0
       |    THEN (m_t1 - m_t0) - (m_c1 - m_c0) END AS did
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------- q178
  // Item-item cosine neighborhood ("customers also bought"): binary-
  // vector cosine over order co-occurrence, min-support 2, top-100.
  // In-row pair expansion per order set; the cosine is one IEEE sqrt +
  // division over exact counts, quantized for integer-exact ranking.
  private def q178(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Similarity.itemCosinePairs(
      Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey"),
      "l_orderkey", "l_partkey", minSupport = 2L, topK = 100)
  }
  private val q178Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |ci AS (SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM li GROUP BY 1),
      |pr AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
      |         CAST(COUNT(*) AS BIGINT) AS c_ab
      |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |         AND a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |j AS (SELECT pr.item_a, pr.item_b, ca.c AS c_a, cb.c AS c_b, pr.c_ab
      |      FROM pr JOIN ci ca ON pr.item_a = ca.item
      |        JOIN ci cb ON pr.item_b = cb.item)
      |SELECT item_a, item_b, c_a, c_b, c_ab,
      |  CAST(floor((CAST(c_ab AS DOUBLE) * 1000000.0)
      |    / sqrt(CAST(c_a * c_b AS DOUBLE))) AS BIGINT) AS cos_x6
      |FROM j ORDER BY cos_x6 DESC, item_a, item_b LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q179
  // Weight-of-evidence / information-value audit: how predictive is the
  // document-length bucket for the English label, and which bins carry
  // the signal. WOE as ln of one exact cross-ratio; IV terms quantized
  // so the total is an order-independent long sum.
  private def q179(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = Tables.documents(s, d).select(
      least(expr("n_chars div 200"), lit(9L)).as("bin"),
      (coalesce($"lang", lit("")) === "en").as("pos"))
    Stats.woeIv(b, $"bin", $"pos").orderBy($"bin")
  }
  private val q179Sql =
    """WITH b AS (SELECT least(n_chars // 200, 9) AS bin,
      |        coalesce(lang, '') = 'en' AS pos FROM documents),
      |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |        CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      |      FROM b GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
      |        CAST(SUM(n_neg) AS BIGINT) AS tn FROM g),
      |w AS (SELECT g.*, t.tp, t.tn,
      |        CASE WHEN n_pos > 0 AND n_neg > 0 AND tp > 0 AND tn > 0 THEN
      |          ln(CAST(n_pos*tn AS DOUBLE) / CAST(n_neg*tp AS DOUBLE))
      |        END AS woe
      |      FROM g CROSS JOIN t)
      |SELECT bin, n, n_pos, n_neg,
      |  CAST(floor(woe * 1e6) AS BIGINT) AS woe_x6,
      |  CAST(floor(((CAST(n_pos AS DOUBLE) / CAST(tp AS DOUBLE))
      |    - (CAST(n_neg AS DOUBLE) / CAST(tn AS DOUBLE))) * woe * 1e9)
      |    AS BIGINT) AS iv_term_x9
      |FROM w ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q180
  // RFM segmentation of the customer base: recency (days since last
  // order vs the corpus horizon), frequency, monetary (exact cents),
  // scored into quintiles against broadcast global cutpoints (two-phase
  // prefix-sum ranks — never a global window) and bucketed into the
  // classic segments. The oracle's global row_number is the semantic
  // spec for the same ceiling-rank cuts.
  private def q180(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .select($"o_custkey".as("custkey"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"custkey")
      .agg(max($"day").as("last_day"), count(lit(1)).as("f_orders"),
        sum($"cents").as("m_cents"))
    val mx = base.agg(max($"last_day").as("maxd"))
    val units = base.crossJoin(broadcast(mx))
      .select($"custkey", ($"maxd" - $"last_day").as("r_days"),
        $"f_orders", $"m_cents")
    Stats.rfmSegments(units, "custkey", "r_days", "f_orders", "m_cents")
      .orderBy($"custkey")
  }
  private val q180Sql = {
    val pcts = Seq(20, 40, 60, 80)
    def cutsSql(v: String, pfx: String) = {
      val sel = pcts.map(p =>
        s"max(CASE WHEN rn = (n*$p+99)//100 THEN v END) AS ${pfx}$p")
        .mkString(", ")
      s"""(SELECT $sel FROM
         |  (SELECT $v AS v,
         |     CAST(row_number() OVER (ORDER BY $v, custkey) AS BIGINT) AS rn,
         |     CAST(COUNT(*) OVER () AS BIGINT) AS n FROM rfm)) ${pfx}cuts"""
        .stripMargin
    }
    def scoreHigh(v: String, pfx: String) = pcts.map(p =>
      s"(CASE WHEN $v > ${pfx}$p THEN 1 ELSE 0 END)").mkString(" + ")
    def scoreLow(v: String, pfx: String) = pcts.map(p =>
      s"(CASE WHEN $v < ${pfx}$p THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH base AS (SELECT o_custkey AS custkey,
       |      CAST(max(date_diff('day', DATE '1970-01-01',
       |        CAST(o_orderdate AS DATE))) AS BIGINT) AS last_day,
       |      CAST(COUNT(*) AS BIGINT) AS f_orders,
       |      CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
       |        AS BIGINT) AS m_cents
       |    FROM orders GROUP BY 1),
       |mx AS (SELECT CAST(max(last_day) AS BIGINT) AS maxd FROM base),
       |rfm AS (SELECT custkey, maxd - last_day AS r_days, f_orders, m_cents
       |        FROM base CROSS JOIN mx),
       |sc AS (SELECT r.custkey, r.r_days, r.f_orders, r.m_cents,
       |    CAST(${scoreLow("r.r_days", "r")} + 1 AS BIGINT) AS r_score,
       |    CAST(${scoreHigh("r.f_orders", "f")} + 1 AS BIGINT) AS f_score,
       |    CAST(${scoreHigh("r.m_cents", "m")} + 1 AS BIGINT) AS m_score
       |  FROM rfm r
       |  CROSS JOIN ${cutsSql("r_days", "r")}
       |  CROSS JOIN ${cutsSql("f_orders", "f")}
       |  CROSS JOIN ${cutsSql("m_cents", "m")})
       |SELECT custkey, r_days, f_orders, m_cents, r_score, f_score, m_score,
       |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
       |         THEN 'champion'
       |       WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
       |       WHEN r_score <= 2 THEN 'at_risk'
       |       ELSE 'regular' END AS segment
       |FROM sc ORDER BY custkey""".stripMargin
  }

  // ---------------------------------------------------------------- q181
  // Funnel latency: per user, seconds from first 'view' to first
  // 'purchase' (converters only), summarized as exact global quantile
  // cuts (P20..P80 via the windowless prefix-sum rank) plus converter
  // count — the "how long does conversion take" companion to q94's
  // stage-count funnel.
  private def q181(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val firsts = Tables.events(s, d)
      .filter($"event_type".isin("view", "purchase"))
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", unix_micros($"ts"))).as("v_us"),
        min(when($"event_type" === "purchase", unix_micros($"ts")))
          .as("p_us"))
      .filter($"v_us".isNotNull && $"p_us".isNotNull && $"p_us" >= $"v_us")
      .select($"user_id",
        expr("(p_us - v_us) div 1000000").as("latency_s"))
    Stats.globalQuantileCuts(firsts, "user_id", $"latency_s",
      Seq(20, 40, 60, 80))
  }
  private val q181Sql =
    """WITH f AS (SELECT user_id,
      |      min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us,
      |      min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |        AS p_us
      |    FROM events WHERE event_type IN ('view', 'purchase')
      |    GROUP BY 1),
      |l AS (SELECT user_id, (p_us - v_us) // 1000000 AS latency_s
      |      FROM f WHERE v_us IS NOT NULL AND p_us IS NOT NULL
      |        AND p_us >= v_us),
      |r AS (SELECT latency_s,
      |        CAST(row_number() OVER (ORDER BY latency_s, user_id) AS BIGINT)
      |          AS rn,
      |        CAST(COUNT(*) OVER () AS BIGINT) AS n FROM l)
      |SELECT CAST(max(n) AS BIGINT) AS n,
      |  max(CASE WHEN rn = (n*20+99)//100 THEN latency_s END) AS p20,
      |  max(CASE WHEN rn = (n*40+99)//100 THEN latency_s END) AS p40,
      |  max(CASE WHEN rn = (n*60+99)//100 THEN latency_s END) AS p60,
      |  max(CASE WHEN rn = (n*80+99)//100 THEN latency_s END) AS p80
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- q182
  // Per-class precision / recall / F1 of the heuristic language ID
  // against the reference label — the class-level companion to q174's
  // single-number kappa. Counts from one confusion aggregate; the three
  // ratios are fixed double trees; classes appearing only in prediction
  // or only in truth keep defined rows (full outer marginal join).
  private def q182(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.documents(s, d).select(
        graft.ops.TextAnalysis.langId($"text").as("pred"),
        coalesce($"lang", lit("und")).as("actual"))
      .localCheckpoint()
    val tp = t.filter($"pred" === $"actual").groupBy($"pred".as("cls"))
      .agg(count(lit(1)).as("tp"))
    val predN = t.groupBy($"pred".as("cls")).agg(count(lit(1)).as("n_pred"))
    val actN = t.groupBy($"actual".as("cls")).agg(count(lit(1)).as("n_act"))
    predN.join(actN, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left")
      .select($"cls",
        coalesce($"n_pred", lit(0L)).as("n_pred"),
        coalesce($"n_act", lit(0L)).as("n_act"),
        coalesce($"tp", lit(0L)).as("tp"))
      .withColumn("precision", when($"n_pred" > 0L,
        $"tp".cast("double") / $"n_pred".cast("double")))
      .withColumn("recall", when($"n_act" > 0L,
        $"tp".cast("double") / $"n_act".cast("double")))
      .withColumn("f1", when($"tp" > 0L,
        (lit(2.0) * $"precision" * $"recall") / ($"precision" + $"recall")))
      .orderBy($"cls")
  }
  private val q182Sql = {
    val langCase = q174LangCaseSql
    s"""WITH t AS (SELECT $langCase AS pred, coalesce(lang, 'und') AS actual
       |           FROM documents),
       |tp AS (SELECT pred AS cls, CAST(COUNT(*) AS BIGINT) AS tp FROM t
       |       WHERE pred = actual GROUP BY 1),
       |pn AS (SELECT pred AS cls, CAST(COUNT(*) AS BIGINT) AS n_pred
       |       FROM t GROUP BY 1),
       |an AS (SELECT actual AS cls, CAST(COUNT(*) AS BIGINT) AS n_act
       |       FROM t GROUP BY 1),
       |m AS (SELECT coalesce(pn.cls, an.cls) AS cls,
       |        CAST(coalesce(pn.n_pred, 0) AS BIGINT) AS n_pred,
       |        CAST(coalesce(an.n_act, 0) AS BIGINT) AS n_act
       |      FROM pn FULL OUTER JOIN an ON pn.cls = an.cls),
       |j AS (SELECT m.cls, m.n_pred, m.n_act,
       |        CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp
       |      FROM m LEFT JOIN tp ON m.cls = tp.cls),
       |pr AS (SELECT cls, n_pred, n_act, tp,
       |        CASE WHEN n_pred > 0
       |          THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END
       |          AS precision,
       |        CASE WHEN n_act > 0
       |          THEN CAST(tp AS DOUBLE) / CAST(n_act AS DOUBLE) END
       |          AS recall
       |      FROM j)
       |SELECT cls, n_pred, n_act, tp, precision, recall,
       |  CASE WHEN tp > 0 THEN (2.0 * precision * recall)
       |    / (precision + recall) END AS f1
       |FROM pr ORDER BY cls""".stripMargin
  }

  // ---------------------------------------------------------------- q184
  // Revenue autocorrelation: is daily order revenue periodic? ACF of the
  // whole-dollar daily series at lags 1 / 7 / 30 — the seasonality
  // diagnostic upstream of q161's weekday index (q161 assumes the weekly
  // period; this measures it). Exact-long sufficient statistics per lag,
  // one fixed double tree (q142's corr discipline).
  private def q184(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .select(
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"day")
      .agg(expr("sum(cents) div 100").as("rev"))
    Stats.acfLags(daily, Nil, "day", $"rev", Seq(1, 7, 30))
      .orderBy($"lag")
  }
  private val q184Sql = {
    def lagSql(k: Int) =
      s"""SELECT CAST($k AS BIGINT) AS lag, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(a.rev) AS BIGINT) AS sx, CAST(SUM(b.rev) AS BIGINT) AS sy,
         |  CAST(SUM(a.rev * a.rev) AS BIGINT) AS sxx,
         |  CAST(SUM(b.rev * b.rev) AS BIGINT) AS syy,
         |  CAST(SUM(a.rev * b.rev) AS BIGINT) AS sxy
         |FROM d a JOIN d b ON a.day + $k = b.day""".stripMargin
    val lagUnion = Seq(1, 7, 30).map(lagSql).mkString("\nUNION ALL\n")
    s"""WITH o AS (SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
       |      FROM orders),
       |d AS MATERIALIZED (SELECT CAST(day AS BIGINT) AS day,
       |        CAST(SUM(cents) // 100 AS BIGINT) AS rev
       |      FROM o GROUP BY 1),
       |l AS ($lagUnion),
       |t AS (SELECT lag, n,
       |  CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
       |  CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
       |  CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
       |  FROM l)
       |SELECT lag, n AS n_pairs,
       |  CASE WHEN vx > 0 AND vy > 0
       |    THEN num / (sqrt(vx) * sqrt(vy)) END AS acf
       |FROM t ORDER BY lag""".stripMargin
  }

  // ---------------------------------------------------------------- q185
  // Categorical feature-dependency screen: mutual information between
  // order/customer categorical pairs — which attributes are redundant
  // (high MI) vs independent (≈0) before anything trains on them. The
  // soft complement of q162's exact FD audit, sharing its "four declared
  // contracts in one report" shape.
  private def q185(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), $"o_orderpriority".as("pri"),
        $"o_orderstatus".as("st"))
      .localCheckpoint() // three MI passes over one slim projection
    Stats.mutualInfo(oc, $"seg", $"pri", "seg~pri")
      .unionByName(Stats.mutualInfo(oc, $"seg", $"st", "seg~st"))
      .unionByName(Stats.mutualInfo(oc, $"pri", $"st", "pri~st"))
      .orderBy($"pair")
  }
  private val q185Sql = {
    def mi(x: String, y: String, pair: String) =
      s"""SELECT '$pair' AS pair, n AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(CAST(floor(((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
         |    * ln((CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE))
         |        / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))) * 1e9)
         |    AS BIGINT)) AS BIGINT) AS mi_x9
         |FROM (SELECT c.$x, c.$y, c.nxy, mx.nx, my.ny, t.n
         |      FROM (SELECT $x, $y, CAST(COUNT(*) AS BIGINT) AS nxy
         |            FROM oc GROUP BY 1, 2) c
         |      JOIN (SELECT $x, CAST(COUNT(*) AS BIGINT) AS nx
         |            FROM oc GROUP BY 1) mx USING ($x)
         |      JOIN (SELECT $y, CAST(COUNT(*) AS BIGINT) AS ny
         |            FROM oc GROUP BY 1) my USING ($y)
         |      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM oc) t)
         |GROUP BY n""".stripMargin
    s"""WITH oc AS MATERIALIZED (
       |  SELECT c_mktsegment AS seg, o_orderpriority AS pri,
       |         o_orderstatus AS st
       |  FROM orders JOIN customer ON o_custkey = c_custkey)
       |${mi("seg", "pri", "seg~pri")}
       |UNION ALL
       |${mi("seg", "st", "seg~st")}
       |UNION ALL
       |${mi("pri", "st", "pri~st")}
       |ORDER BY pair""".stripMargin
  }

  // ---------------------------------------------------------------- q187
  // Population stability index: has the order-value distribution shifted
  // between the first and second half of the horizon? Decile bins come
  // from the REFERENCE half (broadcast global cuts, q180's windowless
  // prefix-sum rank), both halves are binned by strict compare against
  // those 9 cut values, and each bin contributes the classic
  // (p−q)·ln(p/q) term — quantized ·10⁹ so the total is one integer sum.
  // The model-monitoring staple downstream of q146's categorical drift.
  private def q187(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_orderkey",
      datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .localCheckpoint() // one scan feeds cuts + both halves
    val split = datediff(lit("1995-06-17").cast("date"),
      lit("1970-01-01").cast("date")).cast("long")
    val ref = o.filter($"day" < split)
    val cuts = Stats.globalQuantileCuts(ref, "o_orderkey", $"cents",
      (10 to 90 by 10))
    val bin = (10 to 90 by 10).map(p =>
      when($"cents" > col(s"p$p"), 1L).otherwise(0L)).reduce(_ + _)
    val binned = o.crossJoin(broadcast(cuts))
      .select(when($"day" < split, lit("ref")).otherwise(lit("cmp"))
        .as("half"), bin.as("bin"))
      .groupBy($"bin")
      .agg(sum(when($"half" === "ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when($"half" === "cmp", 1L).otherwise(0L)).as("n_cmp"))
    val tot = binned.agg(sum($"n_ref").as("tr"), sum($"n_cmp").as("tc"))
    val pa = $"n_ref".cast("double") / $"tr".cast("double")
    val pb = $"n_cmp".cast("double") / $"tc".cast("double")
    binned.crossJoin(broadcast(tot))
      .select($"bin", $"n_ref", $"n_cmp",
        when($"n_ref" > 0L && $"n_cmp" > 0L,
          floor(((pa - pb) * log(pa / pb)) * lit(1e9)).cast("long"))
          .as("psi_term_x9"))
      .orderBy($"bin")
  }
  private val q187Sql = {
    val cutSel = (10 to 90 by 10).map(p =>
      s"max(CASE WHEN rn = (n*$p+99)//100 THEN cents END) AS p$p")
      .mkString(",\n         ")
    val binExpr = (10 to 90 by 10).map(p =>
      s"(CASE WHEN cents > c.p$p THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH o AS MATERIALIZED (SELECT o_orderkey,
       |        CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
       |      FROM orders),
       |s AS (SELECT DATE '1995-06-17' - DATE '1970-01-01' AS sd),
       |r AS (SELECT cents,
       |        CAST(row_number() OVER (ORDER BY cents, o_orderkey)
       |          AS BIGINT) AS rn,
       |        CAST(COUNT(*) OVER () AS BIGINT) AS n
       |      FROM o CROSS JOIN s WHERE day < sd),
       |c AS (SELECT $cutSel
       |      FROM r),
       |b AS (SELECT CASE WHEN day < sd THEN 'ref' ELSE 'cmp' END AS half,
       |        CAST($binExpr AS BIGINT) AS bin
       |      FROM o CROSS JOIN s CROSS JOIN c),
       |g AS (SELECT bin,
       |        CAST(SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_ref,
       |        CAST(SUM(CASE WHEN half = 'cmp' THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_cmp
       |      FROM b GROUP BY 1),
       |t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
       |        CAST(SUM(n_cmp) AS BIGINT) AS tc FROM g)
       |SELECT bin, n_ref, n_cmp,
       |  CASE WHEN n_ref > 0 AND n_cmp > 0 THEN
       |    CAST(floor(((CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE)
       |           - CAST(n_cmp AS DOUBLE) / CAST(tc AS DOUBLE))
       |        * ln((CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE))
       |            / (CAST(n_cmp AS DOUBLE) / CAST(tc AS DOUBLE)))) * 1e9)
       |      AS BIGINT) END AS psi_term_x9
       |FROM g CROSS JOIN t ORDER BY bin""".stripMargin
  }

  // ---------------------------------------------------------------- q188
  // Segment co-movement: rolling 30-observation correlation between the
  // daily whole-dollar revenue series of every market-segment pair — the
  // "which segments decouple, and when" readout on top of q184's global
  // ACF. The window is keyed per pair over the day-grain series
  // (bounded-axis contract), never over the order facts.
  private def q188(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"seg", $"day")
      .agg(expr("sum(cents) div 100").as("rev"))
      .localCheckpoint() // both sides of the pair alignment
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.day") === col("b.day") && col("a.seg") < col("b.seg"))
      .select(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"),
        col("a.day").as("day"), col("a.rev").as("ra"), col("b.rev").as("rb"))
    Stats.rollingCorr(pairs, Seq("seg_a", "seg_b"), "day",
        $"ra", $"rb", window = 30)
      .select($"seg_a", $"seg_b", $"t".as("day"), $"corr")
      .orderBy($"seg_a", $"seg_b", $"day")
  }
  private val q188Sql =
    """WITH oc AS (SELECT c_mktsegment AS seg,
      |        CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |      FROM orders JOIN customer ON o_custkey = c_custkey),
      |d AS MATERIALIZED (SELECT seg, CAST(day AS BIGINT) AS day,
      |        CAST(SUM(cents) // 100 AS BIGINT) AS rev
      |      FROM oc GROUP BY 1, 2),
      |p AS (SELECT a.seg AS seg_a, b.seg AS seg_b, a.day,
      |        a.rev AS ra, b.rev AS rb
      |      FROM d a JOIN d b ON a.day = b.day AND a.seg < b.seg),
      |w AS (SELECT seg_a, seg_b, day,
      |        CAST(COUNT(*) OVER win AS BIGINT) AS n,
      |        CAST(SUM(ra) OVER win AS BIGINT) AS sx,
      |        CAST(SUM(rb) OVER win AS BIGINT) AS sy,
      |        CAST(SUM(ra * ra) OVER win AS BIGINT) AS sxx,
      |        CAST(SUM(rb * rb) OVER win AS BIGINT) AS syy,
      |        CAST(SUM(ra * rb) OVER win AS BIGINT) AS sxy
      |      FROM p
      |      WINDOW win AS (PARTITION BY seg_a, seg_b ORDER BY day
      |        ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
      |f AS (SELECT seg_a, seg_b, day,
      |  CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |  CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |  CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      |  FROM w WHERE n = 30)
      |SELECT seg_a, seg_b, day,
      |  CASE WHEN vx > 0 AND vy > 0
      |    THEN num / (sqrt(vx) * sqrt(vy)) END AS corr
      |FROM f ORDER BY seg_a, seg_b, day""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q143_chisq_terms", q143, Some(q143Sql)),
    QueryDef("q144_ab_ztest", q144, Some(q144Sql)),
    QueryDef("q145_time_weighted", q145, Some(q145Sql)),
    QueryDef("q146_js_drift", q146, Some(q146Sql)),
    QueryDef("q147_benford", q147, Some(q147Sql)),
    QueryDef("q148_behavior_entropy", q148, Some(q148Sql)),
    QueryDef("q149_gini", q149, Some(q149Sql)),
    QueryDef("q150_knn_label_noise", q150, Some(q150Sql)),
    QueryDef("q154_welch_ttest", q154, Some(q154Sql)),
    QueryDef("q155_mann_whitney", q155, Some(q155Sql)),
    QueryDef("q156_changepoint", q156, Some(q156Sql)),
    QueryDef("q157_anova_dims", q157, Some(q157Sql)),
    QueryDef("q159_ltv_curves", q159, Some(q159Sql)),
    QueryDef("q160_order_recon", q160, Some(q160Sql)),
    QueryDef("q161_seasonality", q161, Some(q161Sql)),
    QueryDef("q162_fd_audit", q162, Some(q162Sql)),
    QueryDef("q163_winsorize", q163, Some(q163Sql)),
    QueryDef("q164_fertility", q164, Some(q164Sql)),
    QueryDef("q165_length_quantiles", q165, Some(q165Sql)),
    QueryDef("q166_heaps_curve", q166, Some(q166Sql)),
    QueryDef("q167_quantile_norm", q167, Some(q167Sql)),
    QueryDef("q168_zipf_fit", q168, Some(q168Sql)),
    QueryDef("q169_encoding_advisor", q169, Some(q169Sql)),
    QueryDef("q151_k_anonymity", q151, Some(q151Sql)),
    QueryDef("q275_t_closeness", q275, Some(q275Sql)),
    QueryDef("q152_skipgram_cooc", q152, Some(q152Sql)),
    QueryDef("q153_mad_outliers", q153, Some(q153Sql)),
    QueryDef("q170_classifier_auc", q170, Some(q170Sql)),
    QueryDef("q171_calibration", q171, Some(q171Sql)),
    QueryDef("q172_gap_fill", q172, Some(q172Sql)),
    QueryDef("q173_join_size_audit", q173, Some(q173Sql)),
    QueryDef("q174_cohen_kappa", q174, Some(q174Sql)),
    QueryDef("q175_cuped", q175, Some(q175Sql)),
    QueryDef("q176_ewma_smooth", q176, Some(q176Sql)),
    QueryDef("q177_diff_in_diff", q177, Some(q177Sql)),
    QueryDef("q178_item_cosine", q178, Some(q178Sql)),
    QueryDef("q179_woe_iv", q179, Some(q179Sql)),
    QueryDef("q180_rfm_segments", q180, Some(q180Sql)),
    QueryDef("q181_funnel_latency", q181, Some(q181Sql)),
    QueryDef("q182_class_prf", q182, Some(q182Sql)),
    QueryDef("q184_revenue_acf", q184, Some(q184Sql)),
    QueryDef("q185_mutual_info", q185, Some(q185Sql)),
    QueryDef("q187_psi_drift", q187, Some(q187Sql)),
    QueryDef("q188_rolling_corr", q188, Some(q188Sql)),
    QueryDef("q198_bootstrap_ci", q198, Some(q198Sql)),
    QueryDef("q201_theil_sen", q201, Some(q201Sql)),
    QueryDef("q202_ols2", q202, Some(q202Sql)),
    QueryDef("q203_kendall_tau", q203, Some(q203Sql)),
    QueryDef("q204_spearman", q204, Some(q204Sql)),
    QueryDef("q207_weighted_quantiles", q207, Some(q207Sql)),
    QueryDef("q209_kruskal_wallis", q209, Some(q209Sql)),
    QueryDef("q210_brown_forsythe", q210, Some(q210Sql)),
    QueryDef("q213_seasonal_decompose", q213, Some(q213Sql)),
    QueryDef("q214_mann_kendall", q214, Some(q214Sql)),
    QueryDef("q215_cramers_v", q215, Some(q215Sql)),
    QueryDef("q216_gains_lift", q216, Some(q216Sql)),
    QueryDef("q217_poisson_rate", q217, Some(q217Sql)),
    QueryDef("q218_overdispersion", q218, Some(q218Sql)),
    QueryDef("q222_mcnemar", q222, Some(q222Sql)),
    QueryDef("q223_hhi", q223, Some(q223Sql)),
    QueryDef("q224_burstiness", q224, Some(q224Sql)),
    QueryDef("q225_lorenz_curve", q225, Some(q225Sql)),
    QueryDef("q226_ks_test", q226, Some(q226Sql)),
    QueryDef("q228_runs_test", q228, Some(q228Sql)),
    QueryDef("q232_srm_check", q232, Some(q232Sql)),
  )

  // ---------------------------------------------------------------- q207
  // Quantity-weighted price quartiles per return flag: "the price half
  // the shipped QUANTITY trades below" — exact weighted quantiles via the
  // grouped two-phase prefix sum (no per-group global window), ceiling
  // targets, min-value-reaching-target conditional aggregation.
  private def q207(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select($"l_returnflag",
      expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"),
      $"l_quantity".cast("long").as("qty"))
    // 3 return flags × distinct cents values — a few hundred k rows at any
    // SF, far below corpus scale: 8 range partitions beat the session default
    Stats.weightedQuantiles(li, "l_returnflag",
        $"cents", $"qty", Seq(25, 50, 75), axisPartitions = 8)
      .orderBy($"l_returnflag")
  }
  private val q207Sql =
    """WITH b AS (SELECT l_returnflag AS g,
      |      CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |      CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |    FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT g, v, w,
      |      CAST(SUM(w) OVER (PARTITION BY g ORDER BY v
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw FROM b),
      |t AS (SELECT g, CAST(SUM(w) AS BIGINT) AS w_total FROM b GROUP BY g)
      |SELECT g AS l_returnflag, w_total,
      |  MIN(CASE WHEN cumw >= (w_total * 25 + 99) // 100 THEN v END) AS p25,
      |  MIN(CASE WHEN cumw >= (w_total * 50 + 99) // 100 THEN v END) AS p50,
      |  MIN(CASE WHEN cumw >= (w_total * 75 + 99) // 100 THEN v END) AS p75
      |FROM c JOIN t USING (g)
      |GROUP BY g, w_total ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q209
  // Kruskal–Wallis H across order priorities on order value — the k-group
  // extension of q155's Mann–Whitney (rank ANOVA): right for revenue's
  // heavy tail where q157's ANOVA normality assumption is junk. Ranks
  // come from the distinct-value axis + two-phase prefix sum (closed-form
  // tie-averaged doubled ranks), never a global window; the oracle
  // replays them as RANK()/COUNT() windows.
  private def q209(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.kruskalWallis(
        Tables.orders(s, d).select($"o_orderpriority",
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents")),
        "o_orderpriority", $"cents", axisPartitions = 8)
      .orderBy($"o_orderpriority")
  }
  private val q209Sql =
    """WITH r AS (SELECT o_orderpriority AS g,
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v FROM orders),
      |rk AS (SELECT g, CAST(2 * RANK() OVER (ORDER BY v)
      |        + COUNT(*) OVER (PARTITION BY v) - 1 AS BIGINT) AS r2 FROM r),
      |pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |      CAST(SUM(r2) AS BIGINT) AS r2_sum FROM rk GROUP BY g),
      |gt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM pg),
      |tie AS (SELECT CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS tt FROM
      |      (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM r GROUP BY v)),
      |ht AS (SELECT g, n, r2_sum, CAST(floor(
      |      ((12.0 * (CAST(r2_sum AS DOUBLE) / 2.0)
      |        * (CAST(r2_sum AS DOUBLE) / 2.0))
      |       / ((CAST(nt AS DOUBLE) * CAST(nt + 1 AS DOUBLE))
      |          * CAST(n AS DOUBLE)))
      |      * 1e6) AS BIGINT) AS h6 FROM pg CROSS JOIN gt),
      |hs AS (SELECT CAST(SUM(h6) AS BIGINT) AS hsum FROM ht),
      |st AS (SELECT hsum - 3 * (nt + 1) * 1000000 AS h_x6, nt, tt
      |      FROM hs CROSS JOIN gt CROSS JOIN tie)
      |SELECT g AS o_orderpriority, n, r2_sum, h_x6,
      |  CASE WHEN tt < nt * nt * nt - nt THEN CAST(floor(
      |      (CAST(h_x6 AS DOUBLE) / 1e6)
      |      / (1.0 - CAST(tt AS DOUBLE) / CAST(nt * nt * nt - nt AS DOUBLE))
      |      * 1e6) AS BIGINT) END AS hc_x6
      |FROM ht CROSS JOIN st ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q210
  // Brown–Forsythe (median-centered Levene): are order-value variances
  // homogeneous across priorities? The robustness gate q157's pooled-
  // variance ANOVA silently assumes — mean-centered Levene melts under
  // the same heavy tails it should diagnose; median centers keep it
  // honest. Doubled medians (sum of the two middle order statistics)
  // stay integer; deviations aggregate exactly off the distinct-value
  // axis (z² through decimal); F is one fixed double tree with SSB's
  // per-group terms long-quantized before the sum.
  private def q210(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.brownForsythe(
        Tables.orders(s, d).select($"o_orderpriority",
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents")),
        "o_orderpriority", $"cents", axisPartitions = 8)
      .orderBy($"o_orderpriority")
  }
  private val q210Sql =
    """WITH r AS (SELECT o_orderpriority AS g,
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v FROM orders),
      |w AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v)
      |        AS BIGINT) AS rn,
      |      CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM r),
      |med AS (SELECT g, CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END)
      |        + SUM(CASE WHEN rn = n // 2 + 1 THEN v ELSE 0 END)
      |        AS BIGINT) AS med2 FROM w GROUP BY g),
      |z AS (SELECT r.g, ABS(2 * v - med2) AS z FROM r JOIN med ON r.g = med.g),
      |pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |      CAST(SUM(z) AS BIGINT) AS z_sum,
      |      SUM(CAST(z * z AS HUGEINT)) AS zz FROM z GROUP BY g),
      |gr AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(z_sum) AS BIGINT)
      |        AS zt, CAST(COUNT(*) AS BIGINT) AS kk FROM pg),
      |t AS (SELECT g, n, z_sum,
      |      CAST(floor(CAST(n AS DOUBLE)
      |        * ((CAST(z_sum AS DOUBLE) / CAST(n AS DOUBLE)
      |            - CAST(zt AS DOUBLE) / CAST(nt AS DOUBLE))
      |           * (CAST(z_sum AS DOUBLE) / CAST(n AS DOUBLE)
      |              - CAST(zt AS DOUBLE) / CAST(nt AS DOUBLE)))) AS BIGINT)
      |        AS ssb_g,
      |      CAST(floor(CAST(zz AS DOUBLE)
      |        - (CAST(z_sum AS DOUBLE) * CAST(z_sum AS DOUBLE))
      |          / CAST(n AS DOUBLE)) AS BIGINT) AS ssw_g
      |      FROM pg CROSS JOIN gr),
      |f AS (SELECT CASE WHEN CAST(SUM(ssw_g) AS BIGINT) > 0
      |        AND ANY_VALUE(kk) > 1 THEN CAST(floor(
      |      ((CAST(ANY_VALUE(nt) - ANY_VALUE(kk) AS DOUBLE)
      |        / CAST(ANY_VALUE(kk) - 1 AS DOUBLE))
      |       * (CAST(SUM(ssb_g) AS DOUBLE) / CAST(SUM(ssw_g) AS DOUBLE)))
      |      * 1e6) AS BIGINT) END AS f_x6 FROM t CROSS JOIN gr)
      |SELECT p.g AS o_orderpriority, n, med2, z_sum, f_x6
      |FROM pg p JOIN med ON p.g = med.g CROSS JOIN f
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q213
  // Classical additive decomposition of daily order revenue: centered
  // 7-day moving-average trend, weekly seasonal means, integer-scaled
  // residuals — the shape q184's ACF detects (lag-7 periodicity) made
  // explicit. Integer throughout: dev = 7·v − Σ₇v, seasonal floor(mean·
  // 1e6), resid = dev·1e6 − s. The moving total is a ±3-day band self-
  // join on the day axis, never a global window over order rows.
  private def q213(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') " +
          "AS BIGINT)").as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"day").agg(sum($"cents").as("cents"))
    Stats.seasonalDecompose(daily, "day", "cents")
      .withColumnRenamed("v", "cents")
      .orderBy($"day")
  }
  private val q213Sql =
    """WITH dly AS (SELECT
      |      CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |        AS day,
      |      CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |        AS BIGINT) AS v
      |    FROM orders GROUP BY 1),
      |t AS (SELECT a.day, CAST(COUNT(*) AS BIGINT) AS n_win,
      |      CAST(SUM(b.v) AS BIGINT) AS t_total
      |    FROM dly a JOIN dly b ON b.day BETWEEN a.day - 3 AND a.day + 3
      |    GROUP BY a.day),
      |det AS (SELECT d.day, d.day % 7 AS pos, v, t_total,
      |      7 * v - t_total AS dev_w
      |    FROM dly d JOIN t ON d.day = t.day WHERE n_win = 7),
      |seas AS (SELECT pos, CAST(floor(CAST(SUM(dev_w) AS DOUBLE) * 1e6
      |      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS s_x6
      |    FROM det GROUP BY pos)
      |SELECT day, pos, v AS cents, t_total, dev_w, s_x6,
      |  dev_w * 1000000 - s_x6 AS resid_x6
      |FROM det JOIN seas USING (pos) ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q204
  // Spearman rho between weekly order count and weekly revenue per
  // segment — the doubled-average-rank exact-integer form over the same
  // bounded axis as q203, closing the correlation family: Pearson
  // (q142/q188), Kendall (q203), Spearman.
  private def q204(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weekly = segmentWeeks(s, d, count(lit(1)).as("n_orders"),
      sum($"cents").as("cents"))
    Stats.spearmanRho(weekly, Seq("seg"), $"n_orders", $"cents")
      .orderBy($"seg")
  }
  private val q204Sql =
    """WITH o AS (SELECT c_mktsegment AS seg,
      |      (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |    FROM orders JOIN customer ON o_custkey = c_custkey),
      |w AS MATERIALIZED (SELECT seg, wk, CAST(COUNT(*) AS BIGINT) AS x,
      |      CAST(SUM(cents) AS BIGINT) AS y FROM o GROUP BY 1, 2),
      |r AS (SELECT seg,
      |      2 * rank() OVER (PARTITION BY seg ORDER BY x)
      |        + COUNT(*) OVER (PARTITION BY seg, x) - 1 AS rx,
      |      2 * rank() OVER (PARTITION BY seg ORDER BY y)
      |        + COUNT(*) OVER (PARTITION BY seg, y) - 1 AS ry
      |    FROM w),
      |s AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
      |      CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
      |      CAST(SUM(rx*rx) AS BIGINT) AS sxx,
      |      CAST(SUM(ry*ry) AS BIGINT) AS syy,
      |      CAST(SUM(rx*ry) AS BIGINT) AS sxy
      |    FROM r GROUP BY seg)
      |SELECT seg, n,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    END AS rho
      |FROM s ORDER BY seg""".stripMargin

  // ---------------------------------------------------------------- q202
  // Two-regressor OLS per order priority: order value (cents) explained
  // by line count + total quantity — closed-form Cramer solve over nine
  // exact-long sufficient statistics gathered in ONE pass (Stats.ols2).
  // The oracle's determinant trees are generated by the same helper
  // shape as the Spark expression, so the double arithmetic is the
  // identical fixed tree on both engines.
  private def q202(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feats = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast("long")).as("qty"))
    val obs = Tables.orders(s, d)
      .join(feats, $"o_orderkey" === $"l_orderkey")
      .select($"o_orderpriority".as("prio"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"),
        $"n_items", $"qty")
    Stats.ols2(obs, Seq("prio"), $"cents", $"n_items", $"qty")
      .orderBy($"prio")
  }
  private val q202Sql = {
    def c(x: String) = s"CAST($x AS DOUBLE)"
    // the same fixed tree as Stats.ols2's det3
    def det3(a11: String, a12: String, a13: String,
        a21: String, a22: String, a23: String,
        a31: String, a32: String, a33: String): String =
      s"${c(a11)} * (${c(a22)} * ${c(a33)} - ${c(a23)} * ${c(a32)}) - " +
        s"${c(a12)} * (${c(a21)} * ${c(a33)} - ${c(a23)} * ${c(a31)}) + " +
        s"${c(a13)} * (${c(a21)} * ${c(a32)} - ${c(a22)} * ${c(a31)})"
    val det = det3("n", "sa", "sb", "sa", "saa", "sab", "sb", "sab", "sbb")
    val d0 = det3("sy", "sa", "sb", "say", "saa", "sab", "sby", "sab", "sbb")
    val d1 = det3("n", "sy", "sb", "sa", "say", "sab", "sb", "sby", "sbb")
    val d2 = det3("n", "sa", "sy", "sa", "saa", "say", "sb", "sab", "sby")
    s"""WITH f AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS a,
       |      CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS b
       |    FROM lineitem GROUP BY 1),
       |o AS (SELECT o_orderpriority AS prio,
       |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y, a, b
       |    FROM orders JOIN f ON l_orderkey = o_orderkey),
       |s AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
       |      CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
       |      CAST(SUM(a*a) AS BIGINT) AS saa, CAST(SUM(b*b) AS BIGINT) AS sbb,
       |      CAST(SUM(a*b) AS BIGINT) AS sab, CAST(SUM(y) AS BIGINT) AS sy,
       |      CAST(SUM(a*y) AS BIGINT) AS say, CAST(SUM(b*y) AS BIGINT) AS sby
       |    FROM o GROUP BY prio),
       |dd AS (SELECT prio, n, $det AS det, $d0 AS d0, $d1 AS d1, $d2 AS d2
       |    FROM s)
       |SELECT prio, n,
       |  CASE WHEN abs(det) > 1e-9 THEN d0 / det END AS beta0,
       |  CASE WHEN abs(det) > 1e-9 THEN d1 / det END AS beta1,
       |  CASE WHEN abs(det) > 1e-9 THEN d2 / det END AS beta2
       |FROM dd ORDER BY prio""".stripMargin
  }

  // ---------------------------------------------------------------- q203
  // Kendall tau-b between weekly order count and weekly revenue per
  // segment: rank-based co-movement with exact integer concordance
  // counts over the bounded weekly axis — the robust companion to
  // q188's rolling Pearson (a few outlier weeks can't flip the sign).
  private def q203(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weekly = segmentWeeks(s, d, count(lit(1)).as("n_orders"),
      sum($"cents").as("cents"))
    Stats.kendallTau(weekly, Seq("seg"), $"wk", $"n_orders", $"cents")
      .orderBy($"seg")
  }
  private val q203Sql =
    """WITH o AS (SELECT c_mktsegment AS seg,
      |      (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |    FROM orders JOIN customer ON o_custkey = c_custkey),
      |w AS MATERIALIZED (SELECT seg, wk, CAST(COUNT(*) AS BIGINT) AS x,
      |      CAST(SUM(cents) AS BIGINT) AS y FROM o GROUP BY 1, 2),
      |p AS (SELECT l.seg,
      |      CASE WHEN (r.x - l.x) > 0 AND (r.y - l.y) > 0
      |             OR (r.x - l.x) < 0 AND (r.y - l.y) < 0
      |        THEN 1 ELSE 0 END AS c,
      |      CASE WHEN (r.x - l.x) > 0 AND (r.y - l.y) < 0
      |             OR (r.x - l.x) < 0 AND (r.y - l.y) > 0
      |        THEN 1 ELSE 0 END AS d,
      |      CASE WHEN r.x - l.x = 0 THEN 1 ELSE 0 END AS tx,
      |      CASE WHEN r.y - l.y = 0 THEN 1 ELSE 0 END AS ty
      |    FROM w l JOIN w r ON r.seg = l.seg AND l.wk < r.wk),
      |s0 AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |      CAST(SUM(c) AS BIGINT) AS concordant,
      |      CAST(SUM(d) AS BIGINT) AS discordant,
      |      CAST(SUM(tx) AS BIGINT) AS ties_x,
      |      CAST(SUM(ty) AS BIGINT) AS ties_y
      |    FROM p GROUP BY seg),
      |s AS (SELECT g.seg,
      |      CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
      |      CAST(COALESCE(concordant, 0) AS BIGINT) AS concordant,
      |      CAST(COALESCE(discordant, 0) AS BIGINT) AS discordant,
      |      CAST(COALESCE(ties_x, 0) AS BIGINT) AS ties_x,
      |      CAST(COALESCE(ties_y, 0) AS BIGINT) AS ties_y
      |    FROM (SELECT DISTINCT seg FROM w) g LEFT JOIN s0 ON g.seg = s0.seg)
      |SELECT seg, n_pairs, concordant, discordant,
      |  CASE WHEN CAST(n_pairs AS DOUBLE) - CAST(ties_x AS DOUBLE) > 0
      |         AND CAST(n_pairs AS DOUBLE) - CAST(ties_y AS DOUBLE) > 0
      |    THEN CAST(concordant - discordant AS DOUBLE)
      |      / sqrt((CAST(n_pairs AS DOUBLE) - CAST(ties_x AS DOUBLE))
      |         * (CAST(n_pairs AS DOUBLE) - CAST(ties_y AS DOUBLE)))
      |    END AS tau_b
      |FROM s ORDER BY seg""".stripMargin

  // ---------------------------------------------------------------- q201
  // Theil–Sen robust weekly revenue trend per market segment: median of
  // all pairwise slopes over the 344-week series — the outlier-proof
  // companion to q141's OLS fit (one bad week can't drag the median).
  // Pairs expand over the bounded weekly axis (|weeks|²/2 per segment),
  // never over order facts; slopes are quantized longs, the median a
  // ceiling-rank pick (tie-order-proof).
  private def q201(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weekly = segmentWeeks(s, d, sum($"cents").as("c"))
    Stats.theilSenSlope(weekly, Seq("seg"), $"wk", $"c")
      .orderBy($"seg")
  }
  private val q201Sql =
    """WITH o AS (SELECT c_mktsegment AS seg,
      |      (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |    FROM orders JOIN customer ON o_custkey = c_custkey),
      |w AS MATERIALIZED (SELECT seg, wk, CAST(SUM(cents) AS BIGINT) AS c
      |    FROM o GROUP BY 1, 2),
      |p AS (SELECT l.seg,
      |      CAST(floor(CAST(r.c - l.c AS DOUBLE) * 1e6 / (r.wk - l.wk))
      |        AS BIGINT) AS s
      |    FROM w l JOIN w r ON r.seg = l.seg AND r.wk > l.wk),
      |rk AS (SELECT seg, s,
      |      row_number() OVER (PARTITION BY seg ORDER BY s) AS rn,
      |      COUNT(*) OVER (PARTITION BY seg) AS n FROM p),
      |med AS (SELECT seg, CAST(MAX(n) AS BIGINT) AS n_pairs,
      |      MAX(CASE WHEN rn = (n + 1) // 2 THEN s END) AS ts_slope_x6
      |    FROM rk GROUP BY seg),
      |pts AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_points
      |    FROM w GROUP BY seg)
      |SELECT seg, n_points, CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
      |  ts_slope_x6
      |FROM pts LEFT JOIN med USING (seg) ORDER BY seg""".stripMargin

  // ---------------------------------------------------------------- q198
  // Deterministic half-sample bootstrap CI for the per-type mean event
  // value: 32 md5-membership replicates in one Generate pass, replicate
  // means ranked per type, ceiling-rank 5th/95th bounds. The uncertainty
  // companion to the point estimates the experimentation layer reports —
  // and fully replayable (no rand()), so the oracle reproduces every
  // replicate bit-for-bit.
  private def q198(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.halfSampleCi(
      Tables.events(s, d)
        .select($"event_type",
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
          $"event_id"),
      groupCol = "event_type", value = $"cents", id = $"event_id", reps = 32)
      .orderBy($"event_type")
  }
  private val q198Sql =
    """WITH e AS MATERIALIZED (SELECT event_type AS g,
      |      CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |      CAST(event_id AS VARCHAR) AS id FROM events),
      |ex AS (SELECT g, v, t.b FROM e, range(32) t(b)
      |       WHERE md5_number_lower(concat('bs:', t.b, ':', id)) % 2 = 0),
      |rm AS (SELECT g, b, CAST(SUM(v) AS DOUBLE)/COUNT(*) AS m
      |       FROM ex GROUP BY 1, 2),
      |rr AS (SELECT g, m, row_number() OVER (PARTITION BY g
      |         ORDER BY m, b) AS rn FROM rm),
      |ci AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_reps,
      |         MAX(CASE WHEN rn = 2 THEN m END) AS boot_lo,
      |         MAX(CASE WHEN rn = 31 THEN m END) AS boot_hi
      |       FROM rr GROUP BY 1),
      |base AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(v) AS DOUBLE)/COUNT(*) AS mean FROM e GROUP BY 1)
      |SELECT g AS event_type, n, mean, n_reps, boot_lo, boot_hi
      |FROM base JOIN ci USING (g) ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q214
  // Mann–Kendall monotonic-trend test on each segment's weekly revenue
  // series — WHETHER the series trends (distribution-free), where q201's
  // Theil-Sen says how steeply. Exact integer S and tie-corrected 18·Var;
  // the pair join runs on the slim (segment, week) series, never facts.
  private def q214(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weekly = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"),
        (datediff($"o_orderdate".cast("date"),
          lit("1970-01-01").cast("date")).cast("long")).as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("week", expr("day div 7"))
      .groupBy($"seg", $"week")
      .agg(expr("sum(cents) div 100").as("rev"))
    Stats.mannKendall(weekly, Seq("seg"), $"week", $"rev")
      .orderBy($"seg")
  }
  private val q214Sql =
    """WITH w AS MATERIALIZED (
      |  SELECT c_mktsegment AS seg,
      |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS week,
      |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) // 100
      |      AS BIGINT) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
      |p AS (SELECT l.seg, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |        CAST(SUM(CASE WHEN r.rev > l.rev THEN 1
      |                      WHEN r.rev < l.rev THEN -1 ELSE 0 END)
      |          AS BIGINT) AS s_stat
      |      FROM w l JOIN w r ON l.seg = r.seg AND r.week > l.week
      |      GROUP BY 1),
      |t AS (SELECT seg, CAST(SUM(t) AS BIGINT) AS n_points,
      |        CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      |      FROM (SELECT seg, rev, CAST(COUNT(*) AS BIGINT) AS t
      |            FROM w GROUP BY 1, 2) GROUP BY 1)
      |SELECT t.seg, n_points, COALESCE(n_pairs, 0) AS n_pairs, s_stat,
      |  CASE WHEN n_pairs IS NOT NULL THEN
      |    n_points * (n_points - 1) * (2 * n_points + 5) - tie18
      |  END AS var18
      |FROM t LEFT JOIN p USING (seg) ORDER BY seg""".stripMargin

  // ---------------------------------------------------------------- q215
  // Cramér's V association strength between order/customer categoricals
  // — the normalized-effect-size companion to q185's mutual information
  // over the same three pairs (same cell grids, comparable [0,1] scale).
  private def q215(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), $"o_orderpriority".as("pri"),
        $"o_orderstatus".as("st"))
      .localCheckpoint() // three V passes over one slim projection
    Stats.cramersV(oc, $"seg", $"pri", "seg~pri")
      .unionByName(Stats.cramersV(oc, $"seg", $"st", "seg~st"))
      .unionByName(Stats.cramersV(oc, $"pri", $"st", "pri~st"))
      .orderBy($"pair")
  }
  private val q215Sql = {
    def v(x: String, y: String, pair: String) =
      s"""SELECT '$pair' AS pair, n AS n_rows, n_x, n_y, chi2_x9,
         |  CASE WHEN least(n_x - 1, n_y - 1) >= 1 AND n > 0 THEN
         |    CAST(floor(sqrt((CAST(chi2_x9 AS DOUBLE) / 1e9)
         |        / (CAST(n AS DOUBLE)
         |           * CAST(least(n_x - 1, n_y - 1) AS DOUBLE))) * 1e6)
         |      AS BIGINT) END AS v_x6
         |FROM (
         |  SELECT t.n, mx.cnt AS n_x, my.cnt AS n_y,
         |    CAST(SUM(CAST(floor(
         |      ((CAST(COALESCE(c.nxy, 0) * t.n - g.nx * g.ny AS DOUBLE)
         |        * CAST(COALESCE(c.nxy, 0) * t.n - g.nx * g.ny AS DOUBLE))
         |       / (CAST(t.n AS DOUBLE)
         |          * (CAST(g.nx AS DOUBLE) * CAST(g.ny AS DOUBLE)))) * 1e9)
         |      AS BIGINT)) AS BIGINT) AS chi2_x9
         |  FROM (SELECT mx.$x, my.$y, mx.nx, my.ny
         |        FROM (SELECT $x, CAST(COUNT(*) AS BIGINT) AS nx
         |              FROM oc GROUP BY 1) mx
         |        CROSS JOIN (SELECT $y, CAST(COUNT(*) AS BIGINT) AS ny
         |              FROM oc GROUP BY 1) my) g
         |  LEFT JOIN (SELECT $x, $y, CAST(COUNT(*) AS BIGINT) AS nxy
         |        FROM oc GROUP BY 1, 2) c USING ($x, $y)
         |  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM oc) t
         |  CROSS JOIN (SELECT CAST(COUNT(DISTINCT $x) AS BIGINT) AS cnt
         |        FROM oc) mx
         |  CROSS JOIN (SELECT CAST(COUNT(DISTINCT $y) AS BIGINT) AS cnt
         |        FROM oc) my
         |  GROUP BY t.n, mx.cnt, my.cnt)""".stripMargin
    s"""WITH oc AS MATERIALIZED (
       |  SELECT COALESCE(c_mktsegment, '') AS seg,
       |         COALESCE(o_orderpriority, '') AS pri,
       |         COALESCE(o_orderstatus, '') AS st
       |  FROM orders JOIN customer ON o_custkey = c_custkey)
       |${v("seg", "pri", "seg~pri")}
       |UNION ALL
       |${v("seg", "st", "seg~st")}
       |UNION ALL
       |${v("pri", "st", "pri~st")}
       |ORDER BY pair""".stripMargin
  }

  // ---------------------------------------------------------------- q216
  // Decile gains/lift table for the English-stopword-ratio classifier
  // (q170's score): bin by broadcast global score cuts (windowless
  // rank-pick, q187's binning), then lift = (n_pos/n)/(P/N) as an EXACT
  // integer ratio ·10⁶ — the "how much better than random is the top
  // decile" readout every curation filter should publish next to its AUC.
  private def q216(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sc = enScored(s, d).select($"doc_id", $"x", $"pos")
      .localCheckpoint() // one scan feeds the cuts AND the binning
    val cuts = Stats.globalQuantileCuts(sc, "doc_id", $"x",
      (10 to 90 by 10))
    val bin = (10 to 90 by 10).map(p =>
      when($"x" > col(s"p$p"), 1L).otherwise(0L)).reduce(_ + _)
    val binned = sc.crossJoin(broadcast(cuts))
      .select(bin.as("bin"), $"pos")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        sum(when($"pos", 1L).otherwise(0L)).as("n_pos"))
    val tot = binned.agg(sum($"n").as("nt"), sum($"n_pos").as("pt"))
    binned.crossJoin(broadcast(tot))
      .select($"bin", $"n", $"n_pos",
        when($"pt" > 0L, expr("(n_pos * nt * 1000000L) div (n * pt)"))
          .as("lift_x6"))
      .orderBy($"bin")
  }
  private val q216Sql = {
    val cutSel = (10 to 90 by 10).map(p =>
      s"max(CASE WHEN rn = (n*$p+99)//100 THEN x END) AS p$p")
      .mkString(",\n         ")
    val binExpr = (10 to 90 by 10).map(p =>
      s"(CASE WHEN x > c.p$p THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH sc AS MATERIALIZED (
       |  SELECT doc_id, x, pos FROM ($enScoredSql)),
       |r AS (SELECT x,
       |        CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT) AS rn,
       |        CAST(COUNT(*) OVER () AS BIGINT) AS n
       |      FROM sc),
       |c AS (SELECT $cutSel FROM r),
       |g AS (SELECT CAST($binExpr AS BIGINT) AS bin,
       |        CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |      FROM sc CROSS JOIN c GROUP BY 1),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
       |        CAST(SUM(n_pos) AS BIGINT) AS pt FROM g)
       |SELECT bin, n, n_pos,
       |  CASE WHEN pt > 0 THEN (n_pos * nt * 1000000) // (n * pt) END
       |    AS lift_x6
       |FROM g CROSS JOIN t ORDER BY bin""".stripMargin
  }

  // ---------------------------------------------------------------- q217
  // Two-period Poisson rate comparison per event type across the fixed
  // calendar split: equal 15-day exposures make the classic rate z reduce
  // to (c1−c2)/√(c1+c2) — one exact count aggregate, one fixed double
  // tree. The event-ops "did the error rate actually change" companion to
  // q144's conversion z-test.
  private def q217(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.events(s, d)
      .select($"event_type",
        (expr("unix_micros(ts) div 86400000000") < 19738L).as("h1"))
      .groupBy($"event_type")
      .agg(sum(when($"h1", 1L).otherwise(0L)).as("c1"),
        sum(when(!$"h1", 1L).otherwise(0L)).as("c2"))
    counts.select($"event_type", $"c1", $"c2",
        when($"c2" > 0L, expr("(c1 * 1000000L) div c2")).as("rr_x6"),
        when($"c1" + $"c2" > 0L,
          floor(($"c1" - $"c2").cast("double") /
            sqrt(($"c1" + $"c2").cast("double")) * lit(1e6)).cast("long"))
          .as("z_x6"))
      .orderBy($"event_type")
  }
  private val q217Sql =
    """WITH c AS (SELECT event_type,
      |        CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 < 19738
      |          THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |        CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 < 19738
      |          THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |      FROM events GROUP BY 1)
      |SELECT event_type, c1, c2,
      |  CASE WHEN c2 > 0 THEN (c1 * 1000000) // c2 END AS rr_x6,
      |  CASE WHEN c1 + c2 > 0 THEN
      |    CAST(floor(CAST(c1 - c2 AS DOUBLE)
      |      / sqrt(CAST(c1 + c2 AS DOUBLE)) * 1e6) AS BIGINT) END AS z_x6
      |FROM c ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q218
  // Overdispersion (Fano factor) of daily event counts per type: is the
  // arrival process Poisson-like (var/mean ≈ 1) or bursty? Zero-days
  // enter through the global day count D, so the ratio
  // (D·Σc² − C²)/(C·(D−1)) is one EXACT integer division ·10⁶ — no
  // floating point at all. The "should this metric alarm on rate-model
  // assumptions" pre-check for q217/q98.
  private def q218(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .select($"event_type", expr("unix_micros(ts) div 86400000000").as("day"))
      .localCheckpoint() // one scan feeds the per-type counts AND D
    val dd = daily.agg(countDistinct($"day").as("dtot"))
    val per = daily.groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("c"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days_active"), sum($"c").as("c_total"),
        sum($"c" * $"c").as("s2"))
    per.crossJoin(broadcast(dd))
      .select($"event_type", $"dtot".as("n_days_total"), $"n_days_active",
        $"c_total",
        when($"dtot" > 1L && $"c_total" > 0L,
          expr("((dtot * s2 - c_total * c_total) * 1000000L) " +
            "div (c_total * (dtot - 1L))")).as("fano_x6"))
      .orderBy($"event_type")
  }
  private val q218Sql =
    """WITH e AS MATERIALIZED (SELECT event_type,
      |        epoch_us(ts) // 86400000000 AS day FROM events),
      |dd AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS dtot FROM e),
      |p AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days_active,
      |        CAST(SUM(c) AS BIGINT) AS c_total,
      |        CAST(SUM(c * c) AS BIGINT) AS s2
      |      FROM (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS c
      |            FROM e GROUP BY 1, 2) GROUP BY 1)
      |SELECT event_type, dtot AS n_days_total, n_days_active, c_total,
      |  CASE WHEN dtot > 1 AND c_total > 0 THEN
      |    ((dtot * s2 - c_total * c_total) * 1000000)
      |      // (c_total * (dtot - 1)) END AS fano_x6
      |FROM p CROSS JOIN dd ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q222
  // McNemar's paired test: among users active in BOTH halves of the
  // horizon, did the per-user error experience flip asymmetrically?
  // b = errored-then-clean, c = clean-then-errored; the statistic
  // (b−c)²/(b+c) is one exact integer division ·10⁹. The paired
  // complement to q217's unpaired rate z (same split day).
  private def q222(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val paired = Tables.events(s, d)
      .select($"user_id",
        (expr("unix_micros(ts) div 86400000000") < 19738L).as("h1"),
        ($"event_type" === "error").as("err"))
      .groupBy($"user_id")
      .agg(max(when($"h1", 1L).otherwise(0L)).as("p1"),
        max(when(!$"h1", 1L).otherwise(0L)).as("p2"),
        max(when($"h1" && $"err", 1L).otherwise(0L)).as("e1"),
        max(when(!$"h1" && $"err", 1L).otherwise(0L)).as("e2"))
      .filter($"p1" === 1L && $"p2" === 1L)
    paired.agg(count(lit(1)).as("n_pairs"),
        sum($"e1" * (lit(1L) - $"e2")).as("b"),
        sum((lit(1L) - $"e1") * $"e2").as("c"))
      .select($"n_pairs", $"b", $"c",
        when($"b" + $"c" > 0L,
          expr("((b - c) * (b - c) * 1000000000L) div (b + c)"))
          .as("mcnemar_x9"))
  }
  private val q222Sql =
    """WITH u AS (SELECT user_id,
      |        CAST(MAX(CASE WHEN epoch_us(ts) // 86400000000 < 19738
      |          THEN 1 ELSE 0 END) AS BIGINT) AS p1,
      |        CAST(MAX(CASE WHEN epoch_us(ts) // 86400000000 < 19738
      |          THEN 0 ELSE 1 END) AS BIGINT) AS p2,
      |        CAST(MAX(CASE WHEN epoch_us(ts) // 86400000000 < 19738
      |          AND event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e1,
      |        CAST(MAX(CASE WHEN epoch_us(ts) // 86400000000 >= 19738
      |          AND event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e2
      |      FROM events GROUP BY 1),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |        CAST(SUM(e1 * (1 - e2)) AS BIGINT) AS b,
      |        CAST(SUM((1 - e1) * e2) AS BIGINT) AS c
      |      FROM u WHERE p1 = 1 AND p2 = 1)
      |SELECT n_pairs, b, c,
      |  CASE WHEN b + c > 0 THEN ((b - c) * (b - c) * 1000000000) // (b + c)
      |  END AS mcnemar_x9
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- q223
  // Herfindahl–Hirschman revenue concentration per nation: Σ share² over
  // customer whole-dollar revenues — "is this market a few whales or a
  // long tail", the concentration complement to q149's Gini. Σrev² is an
  // exact BIGINT (dollar grain keeps it < 2⁶³ through ~30× sf0.1); the
  // ratio is one fixed double tree ·10⁹.
  private def q223(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rev = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_custkey",
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"n_name", $"c_custkey")
      .agg(expr("sum(cents) div 100").as("rev"))
    rev.groupBy($"n_name")
      .agg(count(lit(1)).as("n_cust"), sum($"rev").as("total_rev"),
        sum($"rev" * $"rev").as("sumsq"))
      .select($"n_name", $"n_cust", $"total_rev",
        when($"total_rev" > 0L,
          floor($"sumsq".cast("double") /
            ($"total_rev".cast("double") * $"total_rev".cast("double"))
            * lit(1e9)).cast("long")).as("hhi_x9"))
      .orderBy($"n_name")
  }
  private val q223Sql =
    """WITH r AS (SELECT n_name, c_custkey,
      |        CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) // 100
      |          AS BIGINT) AS rev
      |      FROM orders JOIN customer ON o_custkey = c_custkey
      |        JOIN nation ON c_nationkey = n_nationkey
      |      GROUP BY 1, 2),
      |g AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |        CAST(SUM(rev) AS BIGINT) AS total_rev,
      |        CAST(SUM(rev * rev) AS BIGINT) AS sumsq
      |      FROM r GROUP BY 1)
      |SELECT n_name, n_cust, total_rev,
      |  CASE WHEN total_rev > 0 THEN
      |    CAST(floor(CAST(sumsq AS DOUBLE)
      |      / (CAST(total_rev AS DOUBLE) * CAST(total_rev AS DOUBLE))
      |      * 1e9) AS BIGINT) END AS hhi_x9
      |FROM g ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q224
  // Burstiness of per-user inter-event gaps by event type: Goh-Barabási
  // B = (σ−μ)/(σ+μ) over second-grain gaps — −1 periodic, 0 Poisson,
  // →1 bursty. The temporal-pattern readout q218's Fano factor (counts)
  // cannot see. Gaps come from a per-(user, type) keyed window (never a
  // global sort); sufficient statistics are exact longs.
  private def q224(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    val gaps = Tables.events(s, d)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev", lag($"ts", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"event_type",
        expr("(unix_micros(ts) - unix_micros(prev)) div 1000000").as("gap_s"))
    val st = gaps.groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"), sum($"gap_s").as("sg"),
        sum($"gap_s" * $"gap_s").as("sg2"))
    val dbl = "double"
    val nd = $"n_gaps".cast(dbl); val sd0 = $"sg".cast(dbl)
    val sdev = sqrt((nd * $"sg2".cast(dbl) - sd0 * sd0) /
      (nd * (nd - lit(1.0d))))
    val mu = sd0 / nd
    st.select($"event_type", $"n_gaps",
        expr("sg div n_gaps").as("mean_gap_s"),
        when($"n_gaps" > 1L && (sdev + mu) > 0.0d,
          floor((sdev - mu) / (sdev + mu) * lit(1e6)).cast("long"))
          .as("b_x6"))
      .orderBy($"event_type")
  }
  private val q224Sql =
    """WITH g AS (SELECT event_type,
      |        (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id,
      |          event_type ORDER BY ts, event_id))) // 1000000 AS gap_s
      |      FROM events),
      |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |        CAST(SUM(gap_s) AS BIGINT) AS sg,
      |        CAST(SUM(gap_s * gap_s) AS BIGINT) AS sg2
      |      FROM g WHERE gap_s IS NOT NULL GROUP BY 1),
      |f AS (SELECT event_type, n_gaps, sg, sg2,
      |        sqrt((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
      |              - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
      |             / (CAST(n_gaps AS DOUBLE)
      |                * (CAST(n_gaps AS DOUBLE) - 1.0))) AS sdev,
      |        CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu
      |      FROM s)
      |SELECT event_type, n_gaps, sg // n_gaps AS mean_gap_s,
      |  CASE WHEN n_gaps > 1 AND (sdev + mu) > 0 THEN
      |    CAST(floor((sdev - mu) / (sdev + mu) * 1e6) AS BIGINT)
      |  END AS b_x6
      |FROM f ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q225
  // Lorenz curve of customer lifetime spend: cumulative revenue share at
  // each population decile — the curve q149's Gini integrates. Ranks AND
  // cumulative spend both come from the two-phase prefix sum over the
  // (customer, spend) frame (two slim passes, zero global windows); each
  // decile picks the ceiling-rank row, shares are exact integer ratios.
  private def q225(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spend = Tables.orders(s, d).groupBy($"o_custkey")
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .as("x"))
      .localCheckpoint() // feeds both prefix-sum passes + the totals
    def pack(tok: String, out: String) = graft.ops.Packing.prefixSum(
        spend.withColumn("__one", lit(1L)), "o_custkey", tok,
        Seq("x", "o_custkey"), out, inclusive = true)
      .select(col("o_custkey"), col(out))
    val packed = pack("x", "cum_cents").join(pack("__one", "rn"), "o_custkey")
    val tot = spend.agg(count(lit(1)).as("n"), sum($"x").as("tot"))
    val decs = s.range(1, 11).toDF("decile")
      .crossJoin(broadcast(tot))
      .withColumn("target_rn", expr("(n * decile + 9) div 10"))
    // share as a fixed double tree, not cum·10⁶ in long: cum_cents at the
    // top decile IS the total corpus spend in cents, and TPC-H-scale
    // replicated totals sit within an order of magnitude of 2⁶³/10⁶
    // (ANSI throw) — the q223 dollar-grain lesson, double-tree variant
    decs.join(packed, $"rn" === $"target_rn")
      .select($"decile", $"target_rn", $"cum_cents",
        floor($"cum_cents".cast("double") / $"tot".cast("double")
          * lit(1e6)).cast("long").as("share_x6"))
      .orderBy($"decile")
  }
  private val q225Sql =
    """WITH s AS (SELECT o_custkey,
      |        CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |          AS BIGINT) AS x
      |      FROM orders GROUP BY 1),
      |r AS (SELECT o_custkey, x,
      |        CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS rn,
      |        CAST(SUM(x) OVER (ORDER BY x, o_custkey
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
      |        CAST(COUNT(*) OVER () AS BIGINT) AS n,
      |        CAST(SUM(x) OVER () AS BIGINT) AS tot
      |      FROM s)
      |SELECT CAST(d.decile AS BIGINT) AS decile,
      |  (n * d.decile + 9) // 10 AS target_rn, cum_cents,
      |  CAST(floor(CAST(cum_cents AS DOUBLE) / CAST(tot AS DOUBLE) * 1e6)
      |    AS BIGINT) AS share_x6
      |FROM range(1, 11) d(decile) JOIN r ON rn = (n * d.decile + 9) // 10
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q226
  // Two-sample Kolmogorov-Smirnov on document length: do even- and
  // odd-id docs draw from the same length distribution? Exact integer
  // D numerator over the distinct-length axis (Stats.ksTest2) — the
  // any-shape-difference companion to q155's location-only U test.
  private def q226(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Stats.ksTest2(Tables.documents(s, d), pmod($"doc_id", lit(2L)) === 0L,
      $"n_chars")
  }
  private val q226Sql =
    """WITH b AS (SELECT CAST(n_chars AS BIGINT) AS v,
      |        CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS na,
      |        CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)
      |          AS BIGINT) AS nb
      |      FROM documents GROUP BY 1),
      |c AS (SELECT v,
      |        CAST(SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |          AS BIGINT) AS ca,
      |        CAST(SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |          AS BIGINT) AS cb
      |      FROM b),
      |t AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a,
      |        CAST(SUM(nb) AS BIGINT) AS n_b FROM b),
      |d AS (SELECT v, abs(ca * n_b - cb * n_a) AS dn, n_a, n_b
      |      FROM c CROSS JOIN t),
      |m AS (SELECT CAST(MAX(dn) AS BIGINT) AS d_num FROM d)
      |SELECT n_a, n_b, d_num,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(floor(CAST(d_num AS DOUBLE)
      |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1e6) AS BIGINT)
      |  END AS d_x6,
      |  CAST(MIN(v) AS BIGINT) AS v_at_max
      |FROM d CROSS JOIN m WHERE dn = d_num
      |GROUP BY n_a, n_b, d_num""".stripMargin

  // ---------------------------------------------------------------- q232
  // Sample-ratio mismatch guardrail: is the even/odd-id cohort split
  // (q208/q220's assignment) actually 50/50? χ² vs the expected equal
  // split collapses to (n_a−n_b)²/n — ONE exact integer division ·10⁹.
  // The pre-test every A/B readout (q144/q175/q177) should gate on: a
  // biased assignment invalidates them all.
  private def q232(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"user_id").distinct()
      .agg(count(lit(1)).as("n_users"),
        sum(when(pmod($"user_id", lit(2L)) === 0L, 1L).otherwise(0L))
          .as("n_a"))
      .withColumn("n_b", $"n_users" - $"n_a")
      // fixed double tree, not d²·10⁹ in long: the long product overflows
      // at imbalance ~96k users — inside a 10⁹-user corpus's envelope
      .withColumn("srm_x9",
        when($"n_users" > 0L,
          floor(($"n_a" - $"n_b").cast("double")
            * ($"n_a" - $"n_b").cast("double")
            / $"n_users".cast("double") * lit(1e9)).cast("long")))
  }
  private val q232Sql =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |        CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS n_a
      |      FROM u)
      |SELECT n_users, n_a, n_users - n_a AS n_b,
      |  CASE WHEN n_users > 0 THEN
      |    CAST(floor(CAST(n_a - (n_users - n_a) AS DOUBLE)
      |      * CAST(n_a - (n_users - n_a) AS DOUBLE)
      |      / CAST(n_users AS DOUBLE) * 1e9) AS BIGINT)
      |  END AS srm_x9
      |FROM c""".stripMargin

  // ---------------------------------------------------------------- q228
  // Wald-Wolfowitz runs test on daily revenue direction: are up/down
  // days independent, or do they streak? Signs come from calendar-
  // adjacent day pairs on the slim daily series (self-join, no global
  // window); runs count R = sign flips between adjacent nonzero deltas
  // + 1; z is one fixed double tree over the exact (n+, n−, R) integers.
  private def q228(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .select(datediff($"o_orderdate".cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"day").agg(sum($"cents").as("rev"))
      .localCheckpoint() // both sides of the adjacent-day self-join
    val delta = daily.as("a").join(daily.as("b"),
        col("b.day") === col("a.day") + 1L)
      .select(col("b.day").as("day"),
        signum(col("b.rev") - col("a.rev")).cast("long").as("sgn"))
      .localCheckpoint() // flips self-join + the sign counts
    val flips = delta.as("x").join(delta.as("y"),
        col("y.day") === col("x.day") + 1L)
      .agg(coalesce(sum(when(col("x.sgn") =!= 0L && col("y.sgn") =!= 0L
        && col("x.sgn") =!= col("y.sgn"), 1L).otherwise(0L)), lit(0L))
        .as("n_flips"))
    val cnt = delta.agg(
      sum(when($"sgn" > 0L, 1L).otherwise(0L)).as("n_plus"),
      sum(when($"sgn" < 0L, 1L).otherwise(0L)).as("n_minus"))
    val dbl = "double"
    val joined = cnt.crossJoin(broadcast(flips))
      .withColumn("n_runs", $"n_flips" + 1L)
      .withColumn("n", $"n_plus" + $"n_minus")
    val mu = lit(1.0d) + (lit(2.0d) * $"n_plus".cast(dbl)
      * $"n_minus".cast(dbl)) / $"n".cast(dbl)
    val vr = ((mu - lit(1.0d)) * (mu - lit(2.0d))) /
      ($"n".cast(dbl) - lit(1.0d))
    joined.select($"n_plus", $"n_minus", $"n_runs",
      when($"n" > 1L && $"n_plus" > 0L && $"n_minus" > 0L,
        floor(($"n_runs".cast(dbl) - mu) / sqrt(vr) * lit(1e6)).cast("long"))
        .as("z_x6"))
  }
  private val q228Sql =
    """WITH daily AS (SELECT
      |        CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |        CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |          AS BIGINT) AS rev
      |      FROM orders GROUP BY 1),
      |delta AS (SELECT b.day AS day,
      |        CAST(sign(b.rev - a.rev) AS BIGINT) AS sgn
      |      FROM daily a JOIN daily b ON b.day = a.day + 1),
      |fl AS (SELECT CAST(COALESCE(SUM(CASE WHEN x.sgn <> 0 AND y.sgn <> 0
      |          AND x.sgn <> y.sgn THEN 1 ELSE 0 END), 0) AS BIGINT)
      |          AS n_flips
      |      FROM delta x JOIN delta y ON y.day = x.day + 1),
      |c AS (SELECT CAST(SUM(CASE WHEN sgn > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_plus,
      |        CAST(SUM(CASE WHEN sgn < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_minus
      |      FROM delta),
      |j AS (SELECT n_plus, n_minus, n_flips + 1 AS n_runs,
      |        n_plus + n_minus AS n,
      |        1.0 + (2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE))
      |          / CAST(n_plus + n_minus AS DOUBLE) AS mu
      |      FROM c CROSS JOIN fl)
      |SELECT n_plus, n_minus, n_runs,
      |  CASE WHEN n > 1 AND n_plus > 0 AND n_minus > 0 THEN
      |    CAST(floor((CAST(n_runs AS DOUBLE) - mu)
      |      / sqrt(((mu - 1.0) * (mu - 2.0)) / (CAST(n AS DOUBLE) - 1.0))
      |      * 1e6) AS BIGINT) END AS z_x6
      |FROM j""".stripMargin
}
