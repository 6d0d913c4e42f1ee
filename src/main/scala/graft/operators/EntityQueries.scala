package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{Graph, Mining, RecordLinkage, Regression, Sampling}

/** Entity-level operations (round 3 widening): per-key rate limiting,
  * golden-record survivorship, co-purchase PageRank, and edit-distance
  * vocabulary linkage — the per-entity governance/identity layer over the
  * event and catalog tables. */
object EntityQueries {

  // ---------------------------------------------------------------- q122
  // Event-time rate limiting: at most 3 events per (user, UTC day),
  // keeping each window's FIRST events by (ts, event_id) — deterministic
  // bot-burst throttling (no arrival-order dependence, so replays keep
  // identical rows). One exchange keyed by (user, window).
  private def q122(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"))
    Sampling.rateLimit(ev, Seq($"user_id"), $"ts_us", $"event_id",
        maxPerWindow = 3, windowSecs = 86400L)
      .select($"event_id", $"user_id", $"win_start", $"rn".cast("long").as("rn"))
      .orderBy($"event_id")
  }
  private val q122Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      |w AS (SELECT event_id, user_id,
      |        CAST((ts_us - ts_us % 86400000000) // 1000000 AS BIGINT) AS win_start,
      |        CAST(row_number() OVER (
      |          PARTITION BY user_id, ts_us - ts_us % 86400000000
      |          ORDER BY ts_us, event_id) AS BIGINT) AS rn
      |      FROM e)
      |SELECT event_id, user_id, win_start, rn FROM w
      |WHERE rn <= 3 ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q123
  // Golden-record survivorship (last observation carried forward): one
  // profile row per user merging measures observed on DIFFERENT event
  // types — latest 'click' value, latest 'view' props.k — plus lifetime
  // stats. Each measure is a filtered keyed window (latest-by-ts with
  // total tie-break) left-joined onto the base aggregate: users missing a
  // measure keep NULL instead of dropping out.
  private def q123(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_id", $"user_id",
      unix_micros($"ts").as("ts_us"), $"event_type", $"value",
      get_json_object($"props", "$.k").cast("long").as("k"))
    val base = e.groupBy($"user_id").agg(
      count(lit(1)).as("n_events"),
      min($"ts_us").as("first_seen_us"), max($"ts_us").as("last_seen_us"))
    def latest(src: DataFrame, measure: Column, name: String): DataFrame = {
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".desc, $"event_id".desc)
      src.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id", measure.as(name))
    }
    base
      .join(latest(e.filter($"event_type" === "click"), $"value", "last_click_value"),
        Seq("user_id"), "left")
      .join(latest(e.filter($"event_type" === "view"), $"k", "last_view_k"),
        Seq("user_id"), "left")
      .orderBy($"user_id")
  }
  private val q123Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
      |        value, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events),
      |base AS (SELECT user_id, COUNT(*) AS n_events,
      |        CAST(MIN(ts_us) AS BIGINT) AS first_seen_us,
      |        CAST(MAX(ts_us) AS BIGINT) AS last_seen_us
      |      FROM e GROUP BY user_id),
      |lc AS (SELECT user_id, value AS last_click_value FROM (
      |        SELECT user_id, value, row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts_us DESC, event_id DESC) AS rn
      |        FROM e WHERE event_type = 'click') WHERE rn = 1),
      |lv AS (SELECT user_id, k AS last_view_k FROM (
      |        SELECT user_id, k, row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts_us DESC, event_id DESC) AS rn
      |        FROM e WHERE event_type = 'view') WHERE rn = 1)
      |SELECT base.user_id, n_events, first_seen_us, last_seen_us,
      |  lc.last_click_value, lv.last_view_k
      |FROM base LEFT JOIN lc USING (user_id) LEFT JOIN lv USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q124
  // Co-purchase PageRank: parts ranked by random-surfer centrality over
  // the undirected bought-together graph, 5 integer-scaled iterations
  // (1e12 units — see Graph.pageRank's exactness contract). The oracle
  // unrolls the same five rounds as chained CTEs.
  private def q124(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one-shot undirected edge build (Graph.undirectedEdges: ordered
    // k(k−1)/2 generation → distinct → checkpoint → mirror) — the
    // adjacency build consumes slim deduped edges instead of the full
    // k(k−1) generation feeding the set-agg exchange directly
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    Graph.pageRank(Graph.undirectedEdges(sets, "ps"), iterations = 5,
        symmetric = true) // mirrored edge set — see pageRank's contract
      .orderBy($"node")
  }
  private val q124Sql = {
    val rounds = (1 to 5).map { i =>
      val prev = if (i == 1) "pr0" else s"it${i - 1}"
      s"""it$i AS (
         |  SELECT nodes.node,
         |    CAST(150000000000 // nn.n + (85 * COALESCE(s.sc, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.pr // d.deg) AS BIGINT) AS sc
         |    FROM e JOIN $prev p ON e.src = p.node JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) s ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS (SELECT DISTINCT src, dst FROM pe),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |pr0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS pr
       |        FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, pr FROM it5 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q252
  // Mass-conserving PageRank over the DIRECTED supplier→part ship graph:
  // every part is a pure sink (no out-edges), so default PageRank leaks
  // the entire part-side mass each round — this is the
  // redistributeDangling variant (Graph.pageRank): one slim aggregate
  // per round folds the dangling mass back in as a uniform share, Σ pr
  // stays ≈ 1e12. Part keys are offset +1e7 so the supplier/part id
  // spaces stay disjoint. The oracle unrolls the same four rounds with a
  // per-round 1-row dangling-mass CTE (dm // n = the Spark literal).
  private def q252(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.lineitem(s, d)
      .select($"l_suppkey".cast("long").as("src"),
        ($"l_partkey".cast("long") + 10000000L).as("dst"))
    Graph.pageRank(e, iterations = 4, redistributeDangling = true)
      .orderBy($"node")
  }
  private val q252Sql = {
    val rounds = (1 to 4).map { i =>
      val prev = if (i == 1) "pr0" else s"it${i - 1}"
      s"""dg$i AS (SELECT CAST(COALESCE(SUM(p.pr), 0) AS BIGINT) AS dm
         |  FROM $prev p WHERE p.node NOT IN (SELECT src FROM deg)),
         |it$i AS (
         |  SELECT nodes.node,
         |    CAST(150000000000 // nn.n
         |      + (85 * (COALESCE(s.sc, 0) + dg$i.dm // nn.n)) // 100
         |      AS BIGINT) AS pr
         |  FROM nodes CROSS JOIN nn CROSS JOIN dg$i
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.pr // d.deg) AS BIGINT) AS sc
         |    FROM e JOIN $prev p ON e.src = p.node JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) s ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
       |    CAST(l_partkey AS BIGINT) + 10000000 AS dst FROM lineitem),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |pr0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS pr
       |        FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, pr FROM it4 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q125
  // Edit-distance-1 vocabulary linkage via FastSS deletion neighborhoods
  // (RecordLinkage.editDistance1Join): spelling-variant detection over the
  // part-name vocabulary, verified against DuckDB's all-pairs levenshtein.
  // Complements q97's hammingKeyJoin (fixed-width keys) with
  // insert/delete-tolerant variable-length matching.
  private def q125(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vocab = Tables.part(s, d).select(explode(split($"p_name", " ")).as("w"))
    RecordLinkage.editDistance1Join(vocab, "w")
      .orderBy($"key_a", $"key_b")
  }
  private val q125Sql =
    """WITH w AS (SELECT DISTINCT unnest(string_split(p_name, ' ')) AS k FROM part)
      |SELECT a.k AS key_a, b.k AS key_b
      |FROM w a JOIN w b ON a.k < b.k
      |WHERE levenshtein(a.k, b.k) = 1
      |ORDER BY key_a, key_b""".stripMargin

  // ---------------------------------------------------------------- q126
  // Histogram quantiles — the SCALE-path percentile: integer-binned value
  // counts (5-unit bins on exact cents) + one cumulative pass give
  // bin-resolution p50/p95/p99 per group with fixed-width mergeable state,
  // where q25's exact percentile must buffer each group's values. Every
  // step is integer arithmetic (cross-multiplied rank test, floor-div
  // binning on non-negative cents) — bit-identical across engines.
  private def q126(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val binned = Tables.events(s, d)
      .select($"event_type",
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 500").as("bin"))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("n_b"))
    val c = binned
      .withColumn("cum", sum($"n_b").over(
        Window.partitionBy($"event_type").orderBy($"bin")))
      .withColumn("n", sum($"n_b").over(Window.partitionBy($"event_type")))
    def pLo(pct: Int) =
      (min(when($"cum" * 100 >= $"n" * pct, $"bin")) * 5.0).cast("double")
    c.groupBy($"event_type").agg(
        first($"n").as("n"), pLo(50).as("p50_lo"),
        pLo(95).as("p95_lo"), pLo(99).as("p99_lo"))
      .orderBy($"event_type")
  }
  private val q126Sql =
    """WITH b AS (SELECT event_type,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) // 500 AS bin,
      |        COUNT(*) AS n_b
      |      FROM events GROUP BY 1, 2),
      |c AS (SELECT event_type, bin,
      |        CAST(SUM(n_b) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
      |        CAST(SUM(n_b) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |      FROM b)
      |SELECT event_type, CAST(ANY_VALUE(n) AS BIGINT) AS n,
      |  CAST(MIN(CASE WHEN cum*100 >= n*50 THEN bin END) * 5.0 AS DOUBLE) AS p50_lo,
      |  CAST(MIN(CASE WHEN cum*100 >= n*95 THEN bin END) * 5.0 AS DOUBLE) AS p95_lo,
      |  CAST(MIN(CASE WHEN cum*100 >= n*99 THEN bin END) * 5.0 AS DOUBLE) AS p99_lo
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q127
  // Shuffle-key skew report: the top-10 heaviest join/agg keys with their
  // row share (ppm) and multiple-of-mean — the diagnostic that decides
  // between plain, AQE-skew, and salted plans (q75/q112). Per-key counts
  // partial-aggregate; corpus stats ride back as a 1-row broadcast; the
  // top-10 is a TakeOrdered. Integer arithmetic throughout.
  private def q127(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keyed = Tables.orders(s, d).groupBy($"o_custkey")
      .agg(count(lit(1)).as("cnt"))
    val stats = keyed.agg(sum($"cnt").as("n_rows"),
      count(lit(1)).as("n_keys"), max($"cnt").as("max_cnt"))
    keyed.crossJoin(broadcast(stats))
      .select($"o_custkey".as("key"), $"cnt",
        expr("cnt * 1000000 div n_rows").as("share_ppm"),
        expr("cnt * n_keys * 100 div n_rows").as("x_mean_pct"),
        $"max_cnt")
      .orderBy($"cnt".desc, $"key").limit(10)
  }
  private val q127Sql =
    """WITH k AS (SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY 1),
      |s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
      |        CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM k)
      |SELECT key, cnt, CAST(cnt * 1000000 // n_rows AS BIGINT) AS share_ppm,
      |  CAST(cnt * n_keys * 100 // n_rows AS BIGINT) AS x_mean_pct, max_cnt
      |FROM k CROSS JOIN s
      |ORDER BY cnt DESC, key LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q131
  // Multi-touch LINEAR attribution: every click in the 30-minute lookback
  // before a same-user purchase shares the credit equally (weight = 1e6
  // div n, integer — credits sum to ≤1e6 with deterministic floor
  // remainder), where q88 gives the LAST touch 100% via the custom as-of
  // join. Per-user equi-join + range predicate (the equi key bounds the
  // pair fan-out; the tiled interval join is for the no-equi-key case),
  // then one count window per purchase.
  private def q131(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_id", $"user_id",
      unix_micros($"ts").as("ts_us"), $"event_type")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts_us".as("cts"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts_us".as("pts"))
    purchases.join(clicks, Seq("user_id"))
      .filter($"cts" <= $"pts" && $"cts" > $"pts" - lit(1800000000L))
      .withColumn("n_touches",
        count(lit(1)).over(Window.partitionBy($"purchase_id")))
      .select($"purchase_id", $"click_id", $"n_touches",
        expr("1000000 div n_touches").as("weight_x6"))
      .orderBy($"purchase_id", $"click_id")
  }
  private val q131Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      |           FROM events),
      |c AS (SELECT user_id, event_id AS click_id, ts_us AS cts
      |      FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts_us AS pts
      |      FROM e WHERE event_type = 'purchase'),
      |t AS (SELECT purchase_id, click_id FROM p JOIN c USING (user_id)
      |      WHERE cts <= pts AND cts > pts - 1800000000),
      |n AS (SELECT purchase_id, click_id,
      |        CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches
      |      FROM t)
      |SELECT purchase_id, click_id, n_touches,
      |  CAST(1000000 // n_touches AS BIGINT) AS weight_x6
      |FROM n ORDER BY purchase_id, click_id""".stripMargin


  // ---------------------------------------------------------------- q132
  // Top session paths: ordered event-type journeys per 30-min-gap session
  // (first 10 steps — the bounded-width cut), counted corpus-wide — the
  // "what do user journeys look like" rollup composing the q59 sessionizer
  // with an in-exchange ordered collect. Top-20 is a TakeOrdered.
  private def q132(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Sessionize.sessionPaths(Tables.events(s, d),
        gapSeconds = 1800L, topK = 20, maxLen = 10)
      .orderBy($"n_sessions".desc, $"path")
  }
  private val q132Sql =
    """WITH sess AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM (SELECT user_id, event_id, event_type, ts,
      |          lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |            AS prev_us
      |        FROM events)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_idx
      |        ORDER BY ts_us, event_id) AS rn
      |      FROM sess),
      |p AS (SELECT user_id, session_idx,
      |        string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
      |      FROM r WHERE rn <= 10 GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q133
  // Jaro-Winkler vocabulary scoring via the native codegen expression
  // (≡ DuckDB jaro_winkler_similarity at 1e-6 quantization): all DISTINCT
  // vocab pairs ≥ 0.85 — the name-matching scorer Levenshtein
  // over-penalizes on transpositions. All-pairs here is deliberate and
  // vocabulary-sized (distinct keys, not rows); corpus-scale candidate
  // generation goes through the blocked joins (q97/q125) first.
  private def q133(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vocab = Tables.part(s, d).select(explode(split($"p_name", " ")).as("k"))
      .unionByName(Tables.documents(s, d).select(explode(split(
        graft.ops.Dedup.normalized(coalesce($"text", lit(""))), " ")).as("k")))
      .distinct()
      .localCheckpoint() // 3 consumers: the guard count + both join sides
    // RUNTIME GUARD (the graft.ann.maxProbe pattern): the exact all-pairs
    // join is |vocab|² — vocab grows sublinearly (Heaps), but a 100 TB
    // multilingual corpus would still push it into the billions-of-pairs
    // regime. Fail loudly with the scale path named instead of stalling;
    // the count is control-plane off the materialized frame.
    val cap = s.conf.getOption("graft.editdist.maxVocab")
      .map(_.toLong).getOrElse(250000L)
    val n = vocab.count()
    require(n <= cap,
      s"exact all-pairs Jaro-Winkler is quadratic in vocab size: |vocab|=" +
        s"$n exceeds graft.editdist.maxVocab=$cap. Use the blocked " +
        "generation path (q97/q125's first-char+length banding) at this " +
        "scale, or raise the cap deliberately.")
    vocab.select($"k".as("key_a"))
      .crossJoin(vocab.select($"k".as("key_b")))
      .filter($"key_a" < $"key_b")
      .withColumn("jw_x6",
        floor(graft.functions.JaroWinkler($"key_a", $"key_b") * 1e6).cast("long"))
      .filter($"jw_x6" >= 850000L)
      .orderBy($"key_a", $"key_b")
  }
  private val q133Sql = {
    import LlmQueries.toksSql
    s"""WITH w AS (SELECT DISTINCT unnest(string_split(p_name, ' ')) AS k FROM part
       |           UNION SELECT DISTINCT unnest($toksSql) FROM documents),
       |p AS (SELECT a.k AS key_a, b.k AS key_b,
       |        CAST(floor(jaro_winkler_similarity(a.k, b.k) * 1e6) AS BIGINT) AS jw_x6
       |      FROM w a JOIN w b ON a.k < b.k)
       |SELECT key_a, key_b, jw_x6 FROM p
       |WHERE jw_x6 >= 850000 ORDER BY key_a, key_b""".stripMargin
  }

  // ---------------------------------------------------------------- q136
  // Kaplan-Meier time-to-first-error: per-duration at-risk/event counts
  // and the quantized log-survival running sum (survival = exp(cum/1e6),
  // left to the caller — exp is not correctly rounded cross-engine).
  // Users who never error are censored at their last observed day (they
  // hold up at-risk counts, never events). Both cumulative passes are
  // two-phase prefix sums in the engine; the oracle replays them as
  // ordered windows.
  private def q136(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Survival.kaplanMeier(Tables.events(s, d),
        $"event_type" === "error")
      .orderBy($"duration")
  }
  private val q136Sql =
    """WITH l AS (SELECT user_id,
      |        MIN(epoch_us(ts) // 86400000000) AS fd,
      |        MAX(epoch_us(ts) // 86400000000) AS ld,
      |        MIN(CASE WHEN event_type = 'error'
      |            THEN epoch_us(ts) // 86400000000 END) AS ed
      |      FROM events GROUP BY user_id),
      |s AS (SELECT COUNT(*) AS n_users FROM l),
      |u AS (SELECT COALESCE(ed, ld) - fd AS duration,
      |        (ed IS NOT NULL) AS hit, n_users
      |      FROM l CROSS JOIN s),
      |d AS (SELECT duration, COUNT(*) AS n_ending,
      |        CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
      |        ANY_VALUE(n_users) AS n_users
      |      FROM u GROUP BY duration),
      |ar AS (SELECT duration, n_events,
      |        CAST(n_users - COALESCE(SUM(n_ending) OVER (ORDER BY duration
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |          AS n_at_risk
      |       FROM d),
      |km AS (SELECT duration, n_at_risk, n_events,
      |        CAST(floor(ln(CAST(n_at_risk - n_events AS DOUBLE) / n_at_risk)
      |             * 1e6) AS BIGINT) AS lns
      |       FROM ar WHERE n_events > 0 AND n_at_risk > n_events)
      |SELECT CAST(duration AS BIGINT) AS duration, n_at_risk, n_events,
      |  CAST(SUM(lns) OVER (ORDER BY duration
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_lns_x6
      |FROM km ORDER BY duration""".stripMargin

  // ---------------------------------------------------------------- q205
  // Nelson–Aalen cumulative hazard of first 'error' per user — the
  // hazard-increment companion to q136's Kaplan–Meier over the same
  // risk table. Fully integer: BIGINT-division hazard terms (no ln),
  // two-phase prefix sums, zero ulp exposure anywhere.
  private def q205(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Survival.nelsonAalen(Tables.events(s, d),
        $"event_type" === "error")
      .orderBy($"duration")
  }
  private val q205Sql =
    """WITH l AS (SELECT user_id,
      |        MIN(epoch_us(ts) // 86400000000) AS fd,
      |        MAX(epoch_us(ts) // 86400000000) AS ld,
      |        MIN(CASE WHEN event_type = 'error'
      |            THEN epoch_us(ts) // 86400000000 END) AS ed
      |      FROM events GROUP BY user_id),
      |s AS (SELECT COUNT(*) AS n_users FROM l),
      |u AS (SELECT COALESCE(ed, ld) - fd AS duration,
      |        (ed IS NOT NULL) AS hit, n_users
      |      FROM l CROSS JOIN s),
      |d AS (SELECT duration, COUNT(*) AS n_ending,
      |        CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
      |        ANY_VALUE(n_users) AS n_users
      |      FROM u GROUP BY duration),
      |ar AS (SELECT duration, n_events,
      |        CAST(n_users - COALESCE(SUM(n_ending) OVER (ORDER BY duration
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |          AS n_at_risk
      |       FROM d),
      |na AS (SELECT duration, n_at_risk, n_events,
      |        (n_events * CAST(1000000000 AS BIGINT)) // n_at_risk AS h
      |       FROM ar WHERE n_events > 0)
      |SELECT CAST(duration AS BIGINT) AS duration, n_at_risk, n_events,
      |  CAST(SUM(h) OVER (ORDER BY duration
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_h_x9
      |FROM na ORDER BY duration""".stripMargin

  // ---------------------------------------------------------------- q208
  // Log-rank (Mantel–Cox) test: do even- and odd-id user cohorts differ
  // in time-to-first-error? Completes the survival family: q136/q205
  // estimate the curves, this tests them. O/E/V accumulate as exact
  // longs on the (duration × cohort) grid (E by BIGINT division, V by a
  // per-duration fixed double tree ×1e9); χ² is one final fixed tree.
  // The oracle replays the per-cohort at-risk prefix as a partitioned
  // window — the grouped two-phase prefix sum's job in the engine.
  private def q208(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Survival.logRank(Tables.events(s, d),
        $"event_type" === "error", $"user_id" % 2 === 0)
      .orderBy($"cohort")
  }
  private val q208Sql =
    """WITH l AS (SELECT user_id,
      |        MIN(epoch_us(ts) // 86400000000) AS fd,
      |        MAX(epoch_us(ts) // 86400000000) AS ld,
      |        MIN(CASE WHEN event_type = 'error'
      |            THEN epoch_us(ts) // 86400000000 END) AS ed,
      |        MAX(CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END) AS cohort
      |      FROM events GROUP BY user_id),
      |u AS (SELECT COALESCE(ed, ld) - fd AS duration,
      |        (ed IS NOT NULL) AS hit, cohort FROM l),
      |g AS (SELECT duration, cohort, COUNT(*) AS n_ending,
      |        CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS d_g
      |      FROM u GROUP BY duration, cohort),
      |tot AS (SELECT cohort, CAST(SUM(n_ending) AS BIGINT) AS n_g
      |      FROM g GROUP BY cohort),
      |grid AS (SELECT d.duration, t.cohort, t.n_g,
      |        COALESCE(n_ending, 0) AS n_ending, COALESCE(d_g, 0) AS d_g
      |      FROM (SELECT DISTINCT duration FROM g) d
      |      CROSS JOIN tot t
      |      LEFT JOIN g ON g.duration = d.duration AND g.cohort = t.cohort),
      |ar AS (SELECT duration, cohort, d_g,
      |        n_g - COALESCE(SUM(n_ending) OVER (PARTITION BY cohort
      |          ORDER BY duration
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_r
      |      FROM grid),
      |t AS (SELECT duration, CAST(SUM(d_g) AS BIGINT) AS d_t,
      |        CAST(SUM(n_r) AS BIGINT) AS n_t FROM ar GROUP BY duration),
      |term AS (SELECT a.cohort, a.d_g,
      |        (t.d_t * a.n_r * CAST(1000000000 AS BIGINT)) // t.n_t AS e_x9,
      |        CASE WHEN t.n_t > 1 THEN CAST(floor(
      |            ((CAST(t.d_t AS DOUBLE)
      |              * (CAST(a.n_r AS DOUBLE) / CAST(t.n_t AS DOUBLE)))
      |             * (CAST(t.n_t - a.n_r AS DOUBLE) / CAST(t.n_t AS DOUBLE))
      |             * (CAST(t.n_t - t.d_t AS DOUBLE)
      |                / CAST(t.n_t - 1 AS DOUBLE)))
      |            * 1e9) AS BIGINT) ELSE 0 END AS v_x9
      |      FROM ar a JOIN t ON a.duration = t.duration WHERE t.d_t > 0),
      |bc AS (SELECT cohort, CAST(SUM(d_g) AS BIGINT) AS o_events,
      |        CAST(SUM(e_x9) AS BIGINT) AS e_x9,
      |        CAST(SUM(v_x9) AS BIGINT) AS v_x9
      |      FROM term GROUP BY cohort)
      |SELECT b.cohort, n_g AS n_entities, o_events, e_x9, v_x9,
      |  CASE WHEN v_x9 > 0 THEN CAST(floor(
      |      ((CAST(o_events AS DOUBLE) - CAST(e_x9 AS DOUBLE) / 1e9)
      |       * (CAST(o_events AS DOUBLE) - CAST(e_x9 AS DOUBLE) / 1e9)
      |       / (CAST(v_x9 AS DOUBLE) / 1e9))
      |      * 1e6) AS BIGINT) END AS chi2_x6
      |FROM bc b JOIN tot USING (cohort) ORDER BY cohort""".stripMargin

  // ---------------------------------------------------------------- q138
  // Triangle counts on the STRONG co-purchase graph (parts co-bought in
  // ≥2 distinct orders): per-part triangle participation — the community
  // cohesion signal degree alone misses. Degree orientation generates
  // each triangle at exactly one corner (wedge fan-out capped near
  // sqrt(|E|)); the oracle enumerates canonical u<v<w triangles directly.
  private def q138(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    // ordered in-row expansion (Graph.orderedPairs): src < dst by
    // construction — k(k−1)/2 generated rows, no post-hoc filter
    val strong = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    Graph.triangleCounts(strong, canonical = true).orderBy($"node")
  }
  private val q138Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |      FROM p e1 JOIN p e2 ON e1.v = e2.u
      |      JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v),
      |n AS (SELECT unnest([a, b, c]) AS node FROM t)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM n GROUP BY node ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q255
  // Local clustering coefficient on the strong co-purchase graph (q138's
  // edge set): per-part cohesion normalized for degree — the signal that
  // separates "hub of unrelated parts" (cc→0) from "member of a co-bought
  // clique" (cc→1). One canonical-edge derivation feeds degrees,
  // orientation, and the wedge close; cc is integer-exact
  // (2e6·tri) div (d·(d−1)). The oracle enumerates canonical u<v<w
  // triangles directly and replays the same integer division.
  private def q255(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val strong = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    Graph.clusteringCoefficient(strong, canonical = true).orderBy($"node")
  }
  private val q255Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
      |  (SELECT u AS n FROM p UNION ALL SELECT v AS n FROM p) GROUP BY 1),
      |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |      FROM p e1 JOIN p e2 ON e1.v = e2.u
      |      JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v),
      |tri AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM
      |  (SELECT unnest([a, b, c]) AS node FROM t) GROUP BY node)
      |SELECT deg.n AS node, deg.d AS degree,
      |  COALESCE(tri.n_triangles, 0) AS n_triangles,
      |  (2000000 * COALESCE(tri.n_triangles, 0)) // (deg.d * (deg.d - 1))
      |    AS cc_x6
      |FROM deg LEFT JOIN tri ON deg.n = tri.node
      |WHERE deg.d >= 2 ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q268
  // Pairwise association rules over order baskets — support, confidence
  // and lift for every part pair co-purchased in ≥3 orders: the classic
  // market-basket readout ("customers who bought A also bought B") on
  // the same baskets the co-purchase graph family mines. Counts exact,
  // ratios floor-quantized 1e6 via DECIMAL(38,0) products; the oracle
  // replays the identical HUGEINT arithmetic.
  private def q268(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Mining.pairRules(
      Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey"),
      "l_orderkey", "l_partkey", minPairSupport = 3L)
      .orderBy($"item_a", $"item_b")
  }
  private val q268Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
      |it AS (SELECT l_partkey AS item, COUNT(*) AS n_item FROM li GROUP BY 1),
      |pr AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
      |         CAST(COUNT(*) AS BIGINT) AS n_ab
      |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |         AND a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT item_a, item_b, n_ab,
      |  ia.n_item AS n_a, ib.n_item AS n_b, nb.n AS n_baskets,
      |  CAST((1000000::HUGEINT * n_ab) // ia.n_item AS BIGINT) AS conf_ab_e6,
      |  CAST((1000000::HUGEINT * n_ab) // ib.n_item AS BIGINT) AS conf_ba_e6,
      |  CAST((1000000::HUGEINT * n_ab * nb.n)
      |    // (ia.n_item::HUGEINT * ib.n_item) AS BIGINT) AS lift_e6
      |FROM pr JOIN it ia ON pr.item_a = ia.item
      |JOIN it ib ON pr.item_b = ib.item CROSS JOIN nb
      |ORDER BY item_a, item_b""".stripMargin

  // ---------------------------------------------------------------- q269
  // Coreness (k-core number) of every part in the strong co-purchase
  // graph via 3 H-index iteration rounds (Lü et al. 2016) — the full
  // core decomposition where q158 peels one fixed k. The oracle unrolls
  // each round: desc-rank neighbor values per node, H = count of
  // positions with value ≥ position.
  private def q269(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val strong = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    Graph.coreness(strong, rounds = 3, canonical = true).orderBy($"node")
  }
  private val q269Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
      |c0 AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM e GROUP BY 1),
      |r1 AS (SELECT e.u AS node, c0.c AS cn,
      |         ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY c0.c DESC) AS rn
      |       FROM e JOIN c0 ON e.v = c0.node),
      |c1 AS (SELECT node, CAST(COUNT(*) FILTER (cn >= rn) AS BIGINT) AS c
      |       FROM r1 GROUP BY 1),
      |r2 AS (SELECT e.u AS node, c1.c AS cn,
      |         ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY c1.c DESC) AS rn
      |       FROM e JOIN c1 ON e.v = c1.node),
      |c2 AS (SELECT node, CAST(COUNT(*) FILTER (cn >= rn) AS BIGINT) AS c
      |       FROM r2 GROUP BY 1),
      |r3 AS (SELECT e.u AS node, c2.c AS cn,
      |         ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY c2.c DESC) AS rn
      |       FROM e JOIN c2 ON e.v = c2.node),
      |c3 AS (SELECT node, CAST(COUNT(*) FILTER (cn >= rn) AS BIGINT) AS c
      |       FROM r3 GROUP BY 1)
      |SELECT node, c AS coreness FROM c3 ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q273
  // 3-truss of the strong co-purchase graph (2 peel rounds): every
  // surviving edge must sit in ≥1 triangle of the surviving subgraph —
  // the edge-level cohesion cut (q158's k-core passes hub-and-spoke
  // stars; a truss demands closed triangles). On this fixture the peel
  // converges inside the 2 rounds (every triangle's edges qualify), so
  // the bounded-round output IS the exact 3-truss; the 4-truss is empty
  // here and the cascade case is pinned in GraphSpec instead. The
  // oracle unrolls both peel rounds (triangle enumeration per round
  // over the surviving edge set) plus the final-support readout.
  private def q273(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val strong = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    Graph.kTruss(strong, k = 3, rounds = 2, canonical = true)
      .orderBy($"u", $"v")
  }
  private val q273Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |t0 AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |       FROM p0 e1 JOIN p0 e2 ON e1.v = e2.u
      |       JOIN p0 e3 ON e3.u = e1.u AND e3.v = e2.v),
      |s0 AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS s FROM (
      |       SELECT a AS u, b AS v FROM t0
      |       UNION ALL SELECT a, c FROM t0
      |       UNION ALL SELECT b, c FROM t0) GROUP BY 1, 2),
      |p1 AS MATERIALIZED (SELECT p0.u, p0.v FROM p0
      |      JOIN s0 ON s0.u = p0.u AND s0.v = p0.v WHERE s0.s >= 1),
      |t1 AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |       FROM p1 e1 JOIN p1 e2 ON e1.v = e2.u
      |       JOIN p1 e3 ON e3.u = e1.u AND e3.v = e2.v),
      |s1 AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS s FROM (
      |       SELECT a AS u, b AS v FROM t1
      |       UNION ALL SELECT a, c FROM t1
      |       UNION ALL SELECT b, c FROM t1) GROUP BY 1, 2),
      |p2 AS MATERIALIZED (SELECT p1.u, p1.v FROM p1
      |      JOIN s1 ON s1.u = p1.u AND s1.v = p1.v WHERE s1.s >= 1),
      |t2 AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |       FROM p2 e1 JOIN p2 e2 ON e1.v = e2.u
      |       JOIN p2 e3 ON e3.u = e1.u AND e3.v = e2.v),
      |s2 AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS s FROM (
      |       SELECT a AS u, b AS v FROM t2
      |       UNION ALL SELECT a, c FROM t2
      |       UNION ALL SELECT b, c FROM t2) GROUP BY 1, 2)
      |SELECT p2.u, p2.v, COALESCE(s2.s, 0) AS support
      |FROM p2 LEFT JOIN s2 ON s2.u = p2.u AND s2.v = p2.v
      |ORDER BY p2.u, p2.v""".stripMargin

  // ---------------------------------------------------------------- q274
  // Luby maximal independent set over the strong co-purchase graph,
  // 3 deterministic rounds: md5 priorities (sign-flipped to the
  // unsigned order md5_number_lower natively sorts in), strict-min
  // winners, winner+neighborhood removal. The oracle unrolls all three
  // rounds; every selection is a pure function of the edge set.
  private def q274(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val strong = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    Graph.maximalIndependentSet(strong, rounds = 3, canonical = true)
      .orderBy($"node")
  }
  private val q274Sql = {
    def round(i: Int, edges: String, rem: String): String =
      s"""m$i AS (SELECT u AS node, v AS nbr FROM $edges
         |        UNION ALL SELECT v, u FROM $edges),
         |nm$i AS (SELECT m$i.node, MIN(pb.p) AS np
         |         FROM m$i JOIN pri pb ON m$i.nbr = pb.node GROUP BY 1),
         |w$i AS (SELECT r.node FROM $rem r LEFT JOIN nm$i ON r.node = nm$i.node
         |        WHERE nm$i.np IS NULL OR
         |          (SELECT p FROM pri WHERE pri.node = r.node) < nm$i.np),
         |rem$i AS (SELECT node FROM $rem
         |          WHERE node NOT IN (SELECT node FROM w$i)
         |            AND node NOT IN (SELECT m$i.node FROM m$i
         |                             JOIN w$i ON m$i.nbr = w$i.node)),
         |e$i AS (SELECT u, v FROM $edges
         |        WHERE u IN (SELECT node FROM rem$i)
         |          AND v IN (SELECT node FROM rem$i))""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |        AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |nodes AS (SELECT DISTINCT node FROM (
       |      SELECT u AS node FROM p0 UNION ALL SELECT v FROM p0)),
       |pri AS MATERIALIZED (SELECT node,
       |      CAST(CAST(md5_number_lower(CONCAT('mis:', CAST(node AS VARCHAR)))
       |        AS HUGEINT) - 9223372036854775808 AS BIGINT) AS p FROM nodes),
       |${round(1, "p0", "pri")},
       |${round(2, "e1", "rem1")},
       |${round(3, "e2", "rem2")}
       |SELECT node, mis_round FROM (
       |  SELECT node, 1 AS mis_round FROM w1
       |  UNION ALL SELECT node, 2 FROM w2
       |  UNION ALL SELECT node, 3 FROM w3)
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q257
  // Modularity of the BRAND partition over the strong co-purchase graph
  // (q138's edge set, labels = p_brand): "does co-purchase structure
  // follow brands?" — the community-quality audit for any labeling
  // (LPA output, domain tags). Per-label Q terms, integer-exact DECIMAL
  // numerator + one double divide; the oracle replays the identical
  // arithmetic.
  private def q257(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val strong = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    val labels = Tables.part(s, d)
      .select($"p_partkey".as("node"), $"p_brand".as("label"))
    Graph.modularity(strong, labels, canonical = true).orderBy($"label")
  }
  private val q257Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
      |lbl AS (SELECT p_partkey AS node, p_brand AS label FROM part),
      |intra AS (SELECT a.label, CAST(count(*) AS BIGINT) AS intra_edges
      |      FROM p JOIN lbl a ON p.u = a.node JOIN lbl b ON p.v = b.node
      |      WHERE a.label = b.label GROUP BY 1),
      |deg AS (SELECT n, count(*) AS d FROM
      |  (SELECT u AS n FROM p UNION ALL SELECT v AS n FROM p) GROUP BY 1),
      |ds AS (SELECT lbl.label, CAST(count(*) AS BIGINT) AS n_nodes,
      |      CAST(sum(d) AS BIGINT) AS degree_sum
      |      FROM deg JOIN lbl ON deg.n = lbl.node GROUP BY 1)
      |SELECT ds.label, n_nodes, degree_sum,
      |  COALESCE(intra.intra_edges, 0) AS intra_edges,
      |  CAST(floor(CAST(4 * m.m * COALESCE(intra.intra_edges, 0)
      |      - degree_sum * degree_sum AS DOUBLE) * 1e9
      |    / (4.0 * m.m * m.m)) AS BIGINT) AS q_term_x9
      |FROM ds LEFT JOIN intra USING (label) CROSS JOIN m
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q260
  // Brand-contracted co-purchase graph: roll the strong part graph up to
  // p_brand communities (q257's labeling) — Louvain's phase-2 step and
  // the generic cluster-rollup. Canonical (label_a <= label_b) weighted
  // pairs, self-loops = intra-brand edge counts.
  private def q260(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val strong = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    val labels = Tables.part(s, d)
      .select($"p_partkey".as("node"), $"p_brand".as("label"))
    Graph.contractGraph(strong, labels, canonical = true)
      .orderBy($"label_a", $"label_b")
  }
  private val q260Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |lbl AS (SELECT p_partkey AS node, p_brand AS label FROM part)
      |SELECT least(a.label, b.label) AS label_a,
      |  greatest(a.label, b.label) AS label_b,
      |  CAST(COUNT(*) AS BIGINT) AS weight
      |FROM p JOIN lbl a ON p.u = a.node JOIN lbl b ON p.v = b.node
      |GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin

  // ---------------------------------------------------------------- q158
  // k-core of the strong co-purchase graph (q138's edge set): the dense
  // "community core" after 8 bounded peel rounds — semantics ARE the
  // bounded-round peel, mirrored exactly by the unrolled oracle rounds
  // (MATERIALIZED CTEs: each round reads its predecessor three times, so
  // un-materialized inlining would re-derive e0 3^rounds times — the SQL
  // analogue of the per-round localCheckpoint).
  private def q158(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    // ordered in-row expansion (Graph.orderedPairs): src < dst by
    // construction — k(k−1)/2 generated rows, no post-hoc filter
    val strong = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    Graph.kCore(strong, k = 3, rounds = 8, canonical = true).orderBy($"node")
  }
  private val q158Sql = {
    val rounds = 8
    val sb = new StringBuilder(
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
        |      FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin)
    for (i <- 1 to rounds) {
      val p = s"e${i - 1}"
      sb.append(s""",
        |d$i AS MATERIALIZED (SELECT n, COUNT(*) AS d FROM
        |  (SELECT u AS n FROM $p UNION ALL SELECT v AS n FROM $p) GROUP BY 1),
        |k$i AS MATERIALIZED (SELECT n FROM d$i WHERE d >= 3),
        |e$i AS MATERIALIZED (SELECT $p.u, $p.v FROM $p
        |  JOIN k$i a ON $p.u = a.n JOIN k$i b ON $p.v = b.n)""".stripMargin)
    }
    sb.append(s"""
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
      |  (SELECT u AS node FROM e$rounds
      |   UNION ALL SELECT v AS node FROM e$rounds)
      |GROUP BY node ORDER BY node""".stripMargin)
    sb.toString
  }

  // ---------------------------------------------------------------- q141
  // Per-priority revenue trend: OLS slope/intercept of order value (cents)
  // over time (days, centered mid-range so the exact-integer sufficient
  // statistics stay far from 2^63). One aggregation pass for all groups;
  // the only float ops are the two final divisions of exact longs,
  // replicated operation-for-operation in the oracle.
  private def q141(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_orderpriority",
      datediff(to_date($"o_orderdate"), to_date(lit("1998-01-01"))).as("x"),
      floor($"o_totalprice" * 100).cast("long").as("y"))
    Regression.trendFit(o, Seq("o_orderpriority"), $"x", $"y")
      .orderBy($"o_orderpriority")
  }
  private val q141Sql =
    """WITH q AS (SELECT o_orderpriority,
      |  date_diff('day', DATE '1998-01-01', CAST(o_orderdate AS DATE)) AS x,
      |  CAST(floor(o_totalprice * 100) AS BIGINT) AS y FROM orders),
      |s AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
      |  FROM q GROUP BY 1),
      |t AS (SELECT *,
      |  CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS num,
      |  CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS den FROM s)
      |SELECT o_orderpriority, n,
      |  CASE WHEN den <> 0
      |    THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope,
      |  CASE WHEN den <> 0
      |    THEN (CAST(sy AS DOUBLE)
      |            - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
      |              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
      |  END AS intercept
      |FROM t ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q142
  // Per-returnflag correlation matrix of (quantity, discount-cents,
  // tax-cents): one aggregation pass computes all 3+3+3 exact-integer
  // sufficient statistics; the pair fan-out is an in-row explode of the
  // aggregated row. The oracle replicates the double operation tree
  // num/(sqrt(vx)*sqrt(vy)) term for term.
  private def q142(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, d)
    Regression.corrPairs(
      l, Seq("l_returnflag"),
      Seq(
        "qty" -> floor($"l_quantity"),
        "disc_c" -> floor($"l_discount" * 100),
        "tax_c" -> floor($"l_tax" * 100)))
      .orderBy($"l_returnflag", $"var_x", $"var_y")
  }
  private val q142Sql =
    """WITH q AS (SELECT l_returnflag,
      |  CAST(floor(l_quantity) AS BIGINT) AS qty,
      |  CAST(floor(l_discount * 100) AS BIGINT) AS disc_c,
      |  CAST(floor(l_tax * 100) AS BIGINT) AS tax_c FROM lineitem),
      |s AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(qty) AS BIGINT) AS s1, CAST(SUM(qty*qty) AS BIGINT) AS q1,
      |  CAST(SUM(disc_c) AS BIGINT) AS s2,
      |  CAST(SUM(disc_c*disc_c) AS BIGINT) AS q2,
      |  CAST(SUM(tax_c) AS BIGINT) AS s3,
      |  CAST(SUM(tax_c*tax_c) AS BIGINT) AS q3,
      |  CAST(SUM(qty*disc_c) AS BIGINT) AS p12,
      |  CAST(SUM(qty*tax_c) AS BIGINT) AS p13,
      |  CAST(SUM(disc_c*tax_c) AS BIGINT) AS p23
      |  FROM q GROUP BY 1),
      |e AS (
      |  SELECT l_returnflag, n, 'qty' AS var_x, 'disc_c' AS var_y,
      |    s1 AS sx, q1 AS qx, s2 AS sy, q2 AS qy, p12 AS p FROM s
      |  UNION ALL
      |  SELECT l_returnflag, n, 'qty', 'tax_c',
      |    s1, q1, s3, q3, p13 FROM s
      |  UNION ALL
      |  SELECT l_returnflag, n, 'disc_c', 'tax_c',
      |    s2, q2, s3, q3, p23 FROM s),
      |c AS (SELECT l_returnflag, n, var_x, var_y,
      |  CAST(n AS DOUBLE) * CAST(p AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |  CAST(n AS DOUBLE) * CAST(qx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |  CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
      |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      |  FROM e)
      |SELECT l_returnflag, n, var_x, var_y,
      |  CASE WHEN vx > 0 AND vy > 0 THEN num / (sqrt(vx) * sqrt(vy)) END
      |    AS corr
      |FROM c ORDER BY l_returnflag, var_x, var_y""".stripMargin

  // ---------------------------------------------------------------- q183
  // Catalog reachability: hop distance from the nearest "promoted" part
  // (partkey % 97 = 0) through the co-purchase graph (q124's edge set),
  // 4 bounded BFS rounds — the "distance to nearest flagged entity"
  // feature. The oracle unrolls the same four frontier expansions; each
  // round's CASE mirrors the operator's explicit null handling.
  private def q183(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    // q124's one-shot edge build (Graph.undirectedEdges); seeds read the
    // same checkpoint — every node of the mirrored frame appears as src —
    // so the final plan holds ONE fact scan
    val edges = Graph.undirectedEdges(sets, "ps")
    val seeds = edges.select($"src".as("node"))
      .distinct().filter($"node" % 97 === 0)
    Graph.bfsHops(edges, seeds, rounds = 4, symmetric = true)
      .orderBy($"node")
  }
  private val q183Sql = {
    val rounds = (1 to 4).map { i =>
      val prev = s"it${i - 1}"
      s"""it$i AS MATERIALIZED (
         |  SELECT p.node,
         |    CASE WHEN p.dist IS NULL THEN c.nd
         |         WHEN c.nd IS NULL THEN p.dist
         |         ELSE least(p.dist, c.nd) END AS dist
         |  FROM $prev p LEFT JOIN (
         |    SELECT e.dst AS node, CAST(MIN(q.dist) + 1 AS BIGINT) AS nd
         |    FROM e JOIN $prev q ON e.src = q.node
         |    WHERE q.dist IS NOT NULL GROUP BY e.dst) c ON p.node = c.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |seeds AS (SELECT node FROM nodes WHERE node % 97 = 0),
       |it0 AS (SELECT nodes.node,
       |    CASE WHEN s.node IS NOT NULL THEN CAST(0 AS BIGINT) END AS dist
       |  FROM nodes LEFT JOIN seeds s ON nodes.node = s.node),
       |$rounds
       |SELECT node, dist FROM it4 WHERE dist IS NOT NULL
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q261
  // Shortest-path counts from the promoted set (q183's graph and seeds):
  // dist plus sigma = number of distinct shortest paths from the nearest
  // promoted part(s) — the route-redundancy signal (sigma = 1 is a
  // fragile single route; Brandes' forward pass). The oracle unrolls the
  // same four frontier rounds, each new node aggregating SUM(sigma) over
  // the previous frontier only.
  private def q261(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val edges = Graph.undirectedEdges(sets, "ps")
    val seeds = edges.select($"src".as("node"))
      .distinct().filter($"node" % 97 === 0)
    // the operator keeps sigma in guarded BIGINT accumulators (round-11;
    // loud-overflow contract preserved by the in-operator 2^62 guard +
    // ANSI long sums); the QUERY presents it behind the same in-plan
    // raise_error seam — never a silent narrowing null — because the
    // gate's hash layer compares int64
    Graph.bfsPathCounts(edges, seeds, rounds = 4, symmetric = true)
      .select($"node", $"dist", bigintLoud($"sigma", "q261 sigma").as("sigma"))
      .orderBy($"node")
  }

  /** DECIMAL(38,0) → BIGINT presentation with a LOUD in-plan overflow
    * assertion: values past 2⁶³−1 raise_error instead of the silent
    * null a non-ANSI narrowing cast would produce. Queries use this at
    * the output seam so integer-exact operator internals (path counts,
    * Brandes deltas) present as driver-hashable int64. */
  private def bigintLoud(c: Column, label: String): Column = {
    val maxLong = lit(new java.math.BigDecimal(Long.MaxValue))
      .cast("decimal(38,0)")
    when(c > maxLong,
      raise_error(concat(lit(s"$label overflows BIGINT: "),
        c.cast("string"))).cast("bigint"))
      .otherwise(c.cast("bigint"))
  }
  private val q261Sql = {
    val rounds = (1 to 4).map { i =>
      val prev = s"pc${i - 1}"
      s"""pc$i AS MATERIALIZED (
         |  SELECT node, dist, sigma FROM $prev
         |  UNION ALL
         |  SELECT c.node, CAST($i AS BIGINT) AS dist, c.sg AS sigma FROM (
         |    SELECT e.dst AS node, CAST(SUM(q.sigma) AS DECIMAL(38,0)) AS sg
         |    FROM e JOIN $prev q ON e.src = q.node AND q.dist = ${i - 1}
         |    GROUP BY e.dst) c
         |  WHERE c.node NOT IN (SELECT node FROM $prev))""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
       |pc0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist,
       |    CAST(1 AS DECIMAL(38,0)) AS sigma
       |  FROM e WHERE src % 97 = 0),
       |$rounds
       |SELECT node, dist, CAST(sigma AS BIGINT) AS sigma
       |FROM pc4 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q263
  // Composed two-level Louvain over the co-purchase graph: weighted
  // monotone moves (2 rounds) → modularity gate vs singletons →
  // contraction → weighted moves on the coarse graph → gate vs level 1.
  // The oracle unrolls BOTH levels: q259's move CTEs with the monotone
  // `lbl <= cur` filter and weighted masses, the q257 floor-quantized
  // Q terms as the gates, and a three-way gated UNION picking the same
  // mapping the driver loop picks.
  private def q263(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    // canonical half directly — the q259 round-10 cut
    val und = Graph.orderedPairs(sets, "ps").distinct()
    Graph.louvain(und, levels = 2, rounds = 2, canonical = true)
      .orderBy($"node")
  }
  private val q263Sql = {
    // weighted monotone move rounds over a mirrored weighted frame
    // `<mir>` (node, nbr, w) with degree table `<deg>` (node, k) and
    // total weight scalar `<mm>` (m); states lv_0 .. lv_R
    def moveRounds(tag: String, mir: String, deg: String, mm: String,
        rounds: Int): String =
      (1 to rounds).map { i =>
        val prev = s"${tag}_${i - 1}"
        s"""${tag}_t$i AS (SELECT p.lbl, CAST(SUM(d.k) AS BIGINT) AS tot
           |  FROM $prev p JOIN $deg d ON p.node = d.node GROUP BY p.lbl),
           |${tag}_c$i AS (SELECT e.nbr AS node, p.lbl,
           |    CAST(SUM(e.w) AS BIGINT) AS c
           |  FROM $mir e JOIN $prev p ON e.node = p.node GROUP BY 1, 2),
           |${tag}_a$i AS (SELECT node, lbl, CAST(SUM(c) AS BIGINT) AS c
           |  FROM (SELECT node, lbl, c FROM ${tag}_c$i
           |    UNION ALL SELECT node, lbl, 0 FROM $prev)
           |  GROUP BY node, lbl),
           |${tag}_s$i AS (SELECT a.node, a.lbl,
           |    2 * $mm.m * a.c - d.k * (t.tot -
           |      CASE WHEN a.lbl = p.lbl THEN d.k ELSE 0 END) AS s
           |  FROM ${tag}_a$i a JOIN $prev p ON a.node = p.node
           |  JOIN $deg d ON a.node = d.node
           |  JOIN ${tag}_t$i t ON a.lbl = t.lbl CROSS JOIN $mm
           |  WHERE a.lbl <= p.lbl),
           |${tag}_$i AS MATERIALIZED (SELECT node, lbl FROM (
           |    SELECT node, lbl, row_number() OVER (
           |        PARTITION BY node ORDER BY s DESC, lbl) AS rn
           |    FROM ${tag}_s$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
    // floor-quantized modularity total of a (node,lbl) mapping over the
    // ORIGINAL canonical edge frame p / degree table degn / scalar mq
    def qTotal(name: String, lblRel: String): String =
      s"""${name}_i AS (SELECT a.lbl, CAST(COUNT(*) AS BIGINT) AS ec
         |  FROM p JOIN $lblRel a ON p.u = a.node
         |  JOIN $lblRel b ON p.v = b.node
         |  WHERE a.lbl = b.lbl GROUP BY 1),
         |${name}_d AS (SELECT l.lbl, CAST(SUM(d.k) AS BIGINT) AS ds
         |  FROM degn d JOIN $lblRel l ON d.node = l.node GROUP BY 1),
         |$name AS (SELECT CAST(SUM(CAST(floor(
         |      CAST(4 * mq.m * COALESCE(i.ec, 0) - d.ds * d.ds AS DOUBLE)
         |      * 1e9 / (4.0 * mq.m * mq.m)) AS BIGINT)) AS BIGINT) AS q
         |  FROM ${name}_d d LEFT JOIN ${name}_i i USING (lbl)
         |  CROSS JOIN mq)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
       |p AS MATERIALIZED (SELECT src AS u, dst AS v FROM e WHERE src < dst),
       |mq AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
       |degn AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k
       |  FROM e GROUP BY src),
       |mir1 AS (SELECT src AS node, dst AS nbr, CAST(1 AS BIGINT) AS w
       |  FROM e),
       |lv1_0 AS (SELECT node, node AS lbl FROM degn),
       |${moveRounds("lv1", "mir1", "degn", "mq", 2)},
       |q0 AS (SELECT CAST(SUM(CAST(floor(
       |      CAST(-(k * k) AS DOUBLE) * 1e9 / (4.0 * mq.m * mq.m))
       |      AS BIGINT)) AS BIGINT) AS q FROM degn CROSS JOIN mq),
       |${qTotal("q1", "lv1_2")},
       |cg AS MATERIALIZED (
       |  SELECT LEAST(a.lbl, b.lbl) AS u, GREATEST(a.lbl, b.lbl) AS v,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM p JOIN lv1_2 a ON p.u = a.node JOIN lv1_2 b ON p.v = b.node
       |  GROUP BY 1, 2),
       |m2 AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM cg),
       |mir2 AS (SELECT u AS node, v AS nbr, w FROM cg WHERE u <> v
       |  UNION ALL SELECT v, u, w FROM cg WHERE u <> v),
       |deg2 AS (SELECT node, CAST(SUM(k) AS BIGINT) AS k FROM (
       |    SELECT node, SUM(w) AS k FROM mir2 GROUP BY node
       |    UNION ALL SELECT u, 2 * w FROM cg WHERE u = v) GROUP BY node),
       |lv2_0 AS (SELECT node, node AS lbl FROM deg2),
       |${moveRounds("lv2", "mir2", "deg2", "m2", 2)},
       |comp2 AS (SELECT a.node, b.lbl FROM lv1_2 a
       |  JOIN lv2_2 b ON a.lbl = b.node),
       |${qTotal("q2", "comp2")}
       |SELECT node, CAST(lbl AS BIGINT) AS label FROM (
       |  SELECT node, node AS lbl FROM degn
       |  WHERE (SELECT q0.q >= q1.q FROM q0, q1)
       |  UNION ALL
       |  SELECT node, lbl FROM lv1_2
       |  WHERE (SELECT q1.q > q0.q AND q2.q <= q1.q FROM q0, q1, q2)
       |  UNION ALL
       |  SELECT node, lbl FROM comp2
       |  WHERE (SELECT q1.q > q0.q AND q2.q > q1.q FROM q0, q1, q2))
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q262
  // Betweenness dependencies from the promoted set — Brandes' backward
  // pass over q261's BFS DAG: delta_x9 ranks the cut vertices most
  // shortest-path traffic from the promoted parts flows through (the
  // graph-curation ask after PageRank). The oracle unrolls the forward
  // rounds exactly like q261, then the backward rounds deepest-first with
  // the same 1e9-unit truncated-integer term over 128-bit arithmetic.
  private def q262(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val edges = Graph.undirectedEdges(sets, "ps")
    val seeds = edges.select($"src".as("node"))
      .distinct().filter($"node" % 97 === 0)
    // long internals (round-11: primitive hash-agg buffers, in-operator
    // 2^62 guards), BIGINT presentation (q261's discipline). The 1e9-unit
    // delta is exact in int64 while total dependency < ~9.2e9
    // paths-through-a-node (2⁶³/1e9); past that the guard raises loudly.
    Graph.betweennessDependencies(edges, seeds, rounds = 4, symmetric = true)
      .select($"node", $"dist", bigintLoud($"sigma", "q262 sigma").as("sigma"),
        bigintLoud($"delta_x9", "q262 delta_x9").as("delta_x9"))
      .orderBy($"node")
  }
  private val q262Sql = {
    val fwd = (1 to 4).map { i =>
      val prev = s"pc${i - 1}"
      s"""pc$i AS MATERIALIZED (
         |  SELECT node, dist, sigma FROM $prev
         |  UNION ALL
         |  SELECT c.node, CAST($i AS BIGINT) AS dist, c.sg AS sigma FROM (
         |    SELECT e.dst AS node, CAST(SUM(q.sigma) AS DECIMAL(38,0)) AS sg
         |    FROM e JOIN $prev q ON e.src = q.node AND q.dist = ${i - 1}
         |    GROUP BY e.dst) c
         |  WHERE c.node NOT IN (SELECT node FROM $prev))""".stripMargin
    }.mkString(",\n")
    // dx defaults to 0 on every layer (bw4); each backward step fills in
    // level dLev from its dist = dLev+1 successors — a level with no
    // deeper successors keeps 0, which is exactly the engine's trimmed-
    // horizon base case
    val bwd = (3 to 0 by -1).map { dLev =>
      s"""bw$dLev AS MATERIALIZED (
         |  SELECT p.node, p.dist, p.sigma,
         |    CASE WHEN p.dist = $dLev THEN COALESCE(t.dx, 0) ELSE p.dx
         |    END AS dx
         |  FROM bw${dLev + 1} p LEFT JOIN (
         |    SELECT v.node,
         |      SUM((CAST(v.sigma AS HUGEINT) * (1000000000 + w.dx))
         |          // CAST(w.sigma AS HUGEINT)) AS dx
         |    FROM (SELECT node, sigma FROM pc4 WHERE dist = $dLev) v
         |    JOIN e ON e.src = v.node
         |    JOIN bw${dLev + 1} w ON w.node = e.dst
         |      AND w.dist = ${dLev + 1}
         |    GROUP BY v.node) t ON t.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
       |pc0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist,
       |    CAST(1 AS DECIMAL(38,0)) AS sigma
       |  FROM e WHERE src % 97 = 0),
       |$fwd,
       |bw4 AS (SELECT node, dist, sigma, CAST(0 AS HUGEINT) AS dx
       |  FROM pc4),
       |$bwd
       |SELECT node, dist, CAST(sigma AS BIGINT) AS sigma,
       |  CAST(dx AS BIGINT) AS delta_x9
       |FROM bw0 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q279
  // SAMPLED-SOURCE betweenness over the co-purchase graph — the
  // production form of q262 (Brandes/Pich pivots): exact Brandes from
  // the 8 md5-smallest nodes, per-source dependencies kept independent,
  // (n/k)-scaled integer estimator. The oracle replays the identical
  // sample (md5_number_lower order), the per-source forward/backward
  // unrolls, the endpoint exclusion, and the n/k scaling in HUGEINT.
  private def q279(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val edges = Graph.undirectedEdges(sets, "ps")
    Graph.betweennessSampled(edges, k = 8, rounds = 4, symmetric = true)
      .select($"node",
        bigintLoud($"delta_sum_x9", "q279 delta_sum_x9").as("delta_sum_x9"),
        bigintLoud($"bet_est_x9", "q279 bet_est_x9").as("bet_est_x9"))
      .orderBy($"node")
  }
  private val q279Sql = {
    val fwd = (1 to 4).map { i =>
      val prev = s"pc${i - 1}"
      s"""pc$i AS MATERIALIZED (
         |  SELECT s, node, dist, sigma FROM $prev
         |  UNION ALL
         |  SELECT c.s, c.node, CAST($i AS BIGINT) AS dist, c.sg AS sigma
         |  FROM (
         |    SELECT q.s, e.dst AS node,
         |      CAST(SUM(q.sigma) AS DECIMAL(38,0)) AS sg
         |    FROM e JOIN $prev q ON e.src = q.node AND q.dist = ${i - 1}
         |    GROUP BY q.s, e.dst) c
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev p
         |                    WHERE p.s = c.s AND p.node = c.node))""".stripMargin
    }.mkString(",\n")
    val bwd = (3 to 0 by -1).map { dLev =>
      s"""bw$dLev AS MATERIALIZED (
         |  SELECT p.s, p.node, p.dist, p.sigma,
         |    CASE WHEN p.dist = $dLev THEN COALESCE(t.dx, 0) ELSE p.dx
         |    END AS dx
         |  FROM bw${dLev + 1} p LEFT JOIN (
         |    SELECT v.s, v.node,
         |      SUM((CAST(v.sigma AS HUGEINT) * (1000000000 + w.dx))
         |          // CAST(w.sigma AS HUGEINT)) AS dx
         |    FROM (SELECT s, node, sigma FROM pc4 WHERE dist = $dLev) v
         |    JOIN e ON e.src = v.node
         |    JOIN bw${dLev + 1} w ON w.s = v.s AND w.node = e.dst
         |      AND w.dist = ${dLev + 1}
         |    GROUP BY v.s, v.node) t ON t.s = p.s AND t.node = p.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM nodes),
       |ss AS (SELECT node AS s FROM nodes
       |       ORDER BY md5_number_lower(CAST(node AS VARCHAR)), node
       |       LIMIT 8),
       |pc0 AS (SELECT s, s AS node, CAST(0 AS BIGINT) AS dist,
       |    CAST(1 AS DECIMAL(38,0)) AS sigma FROM ss),
       |$fwd,
       |bw4 AS (SELECT s, node, dist, sigma, CAST(0 AS HUGEINT) AS dx
       |  FROM pc4),
       |$bwd,
       |agg AS (SELECT node, CAST(SUM(dx) AS HUGEINT) AS ds
       |        FROM bw0 WHERE node <> s GROUP BY node)
       |SELECT node, CAST(ds AS BIGINT) AS delta_sum_x9,
       |  CAST((ds * (SELECT n FROM nn)) // 8 AS BIGINT) AS bet_est_x9
       |FROM agg ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q186
  // Audience-overlap matrix: Jaccard between the user audiences of every
  // event-type pair — "do purchasers also search?", the segmentation /
  // cannibalization readout. Intersections come from an in-row pair
  // expansion of each user's type set (q178's co-basket discipline —
  // bounded by the type-vocabulary size, never an audience self-join);
  // the full matrix including zero-overlap pairs via a tiny sizes×sizes
  // cross (k² rows, control-plane).
  private def q186(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ut = Tables.events(s, d)
      .select($"user_id", $"event_type").distinct()
      .localCheckpoint() // one distinct exchange feeds sets AND sizes
    val both = ut.groupBy($"user_id").agg(collect_set($"event_type").as("ts"))
      .select(explode($"ts").as("a"), $"ts")
      .select($"a", explode($"ts").as("b"))
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_both"))
    val sizes = ut.groupBy($"event_type").agg(count(lit(1)).as("n"))
    sizes.select($"event_type".as("a"), $"n".as("n_a"))
      .crossJoin(sizes.select($"event_type".as("b"), $"n".as("n_b")))
      .filter($"a" < $"b")
      .join(both, Seq("a", "b"), "left")
      .select($"a", $"b", $"n_a", $"n_b",
        coalesce($"n_both", lit(0L)).as("n_both"))
      .withColumn("jaccard", $"n_both".cast("double") /
        ($"n_a" + $"n_b" - $"n_both").cast("double"))
      .orderBy($"a", $"b")
  }
  private val q186Sql =
    """WITH ut AS MATERIALIZED (
      |  SELECT DISTINCT user_id, event_type FROM events),
      |b AS (SELECT x.event_type AS a, y.event_type AS b,
      |        CAST(COUNT(*) AS BIGINT) AS n_both
      |      FROM ut x JOIN ut y ON x.user_id = y.user_id
      |        AND x.event_type < y.event_type
      |      GROUP BY 1, 2),
      |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM ut GROUP BY 1)
      |SELECT sa.event_type AS a, sb.event_type AS b,
      |  sa.n AS n_a, sb.n AS n_b,
      |  CAST(COALESCE(b.n_both, 0) AS BIGINT) AS n_both,
      |  CAST(COALESCE(b.n_both, 0) AS DOUBLE)
      |    / CAST(sa.n + sb.n - COALESCE(b.n_both, 0) AS DOUBLE) AS jaccard
      |FROM s sa JOIN s sb ON sa.event_type < sb.event_type
      |LEFT JOIN b ON b.a = sa.event_type AND b.b = sb.event_type
      |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- q199
  // HITS hubs/authorities over the customer→supplier purchase graph:
  // which buyers aggregate the most-endorsed suppliers, and which
  // suppliers are endorsed by the strongest buyers. 3 mutual-
  // reinforcement rounds, max-normalized quantized scores (top node
  // exactly 1000); the oracle unrolls the identical rounds. Completes
  // the graph family: components, PageRank, k-core, triangles, BFS.
  private def q199(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("src"), $"l_suppkey".as("dst"))
    val scored = Graph.hits(edges, rounds = 3).localCheckpoint()
    // top-20 per kind via orderBy+limit (TakeOrderedAndProject heaps) —
    // a kind-partitioned window would sort each full node-sized frame in
    // ONE task; the rank window then runs over 20 rows only
    def top(kind: String): DataFrame = {
      val t = scored.filter($"kind" === kind)
        .orderBy($"score".desc, $"node").limit(20)
      t.withColumn("rn", row_number().over(
        Window.orderBy($"score".desc, $"node")))
    }
    top("authority").unionByName(top("hub"))
      .select($"kind", $"rn", $"node", $"score")
      .orderBy($"kind", $"rn")
  }
  private val q199Sql = {
    val b = new StringBuilder
    b ++= """WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src,
            |    l_suppkey AS dst
            |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
            |a0 AS (SELECT DISTINCT dst AS node, CAST(1000 AS BIGINT) AS a FROM e),
            |""".stripMargin
    for (r <- 1 to 3) {
      b ++= s"h${r}r AS (SELECT e.src, CAST(SUM(a.a) AS BIGINT) AS hr " +
        s"FROM e JOIN a${r - 1} a ON a.node = e.dst GROUP BY e.src),\n"
      b ++= s"h${r}m AS (SELECT MAX(hr) AS hm FROM h${r}r),\n"
      b ++= s"h$r AS (SELECT src AS node, CAST(floor(hr * 1000 / hm) " +
        s"AS BIGINT) AS h FROM h${r}r, h${r}m),\n"
      b ++= s"a${r}r AS (SELECT e.dst, CAST(SUM(h.h) AS BIGINT) AS ar " +
        s"FROM e JOIN h$r h ON h.node = e.src GROUP BY e.dst),\n"
      b ++= s"a${r}m AS (SELECT MAX(ar) AS am FROM a${r}r),\n"
      b ++= s"a$r AS (SELECT dst AS node, CAST(floor(ar * 1000 / am) " +
        s"AS BIGINT) AS a FROM a${r}r, a${r}m),\n"
    }
    b ++= """u AS (SELECT 'hub' AS kind, node, h AS score FROM h3
            |  UNION ALL SELECT 'authority', node, a FROM a3)
            |SELECT kind, rn, node, score FROM (
            |  SELECT kind, node, score, CAST(row_number() OVER (
            |    PARTITION BY kind ORDER BY score DESC, node) AS INT) AS rn
            |  FROM u)
            |WHERE rn <= 20 ORDER BY kind, rn""".stripMargin
    b.result()
  }

  // ---------------------------------------------------------------- q242
  // Cheapest route to a promoted part: weighted SSSP over the co-purchase
  // graph where an edge costs 1e6 div co-occurrence-count (strong
  // affinities are cheap to traverse), seeds = promoted parts
  // (partkey % 97 = 0), 4 bounded Bellman–Ford rounds. The weighted
  // generalization of q183's hop distance. The oracle unrolls the same
  // four relaxations; each round's CASE mirrors the operator's explicit
  // null handling (the q183 discipline).
  private def q242(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    // one-shot weighted edge build: ordered k(k−1)/2 pair generation →
    // co-occurrence counts → integer weights, checkpointed BEFORE the
    // mirror so the generation runs once (the undirectedEdges discipline)
    val half = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("c"))
      .select($"src", $"dst", expr("1000000 div c").as("w"))
      .localCheckpoint()
    val edges = half.unionByName(
      half.select($"dst".as("src"), $"src".as("dst"), $"w"))
    val seeds = edges.select($"src".as("node"))
      .distinct().filter($"node" % 97 === 0)
    // uniqueEdges: the per-pair count aggregate emits each direction once
    Graph.ssspWeighted(edges, seeds, rounds = 4, symmetric = true,
        uniqueEdges = true)
      .orderBy($"node")
  }
  private val q242Sql = {
    val rounds = (1 to 4).map { i =>
      val prev = s"it${i - 1}"
      s"""it$i AS MATERIALIZED (
         |  SELECT p.node,
         |    CASE WHEN p.cost IS NULL THEN c.nc
         |         WHEN c.nc IS NULL THEN p.cost
         |         ELSE least(p.cost, c.nc) END AS cost
         |  FROM $prev p LEFT JOIN (
         |    SELECT e.dst AS node, CAST(MIN(q.cost + e.w) AS BIGINT) AS nc
         |    FROM e JOIN $prev q ON e.src = q.node
         |    WHERE q.cost IS NOT NULL GROUP BY e.dst) c ON p.node = c.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey < b.l_partkey),
       |pc AS (SELECT src, dst, COUNT(*) AS c FROM pe GROUP BY src, dst),
       |wh AS (SELECT src, dst, CAST(1000000 // c AS BIGINT) AS w FROM pc),
       |e AS MATERIALIZED (SELECT src, dst, w FROM wh
       |  UNION ALL SELECT dst, src, w FROM wh),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |it0 AS (SELECT node,
       |    CASE WHEN node % 97 = 0 THEN CAST(0 AS BIGINT) END AS cost
       |  FROM nodes),
       |$rounds
       |SELECT node, cost FROM it4 WHERE cost IS NOT NULL
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q243
  // Seed-expansion relevance: personalized PageRank over the co-purchase
  // graph with the teleport set pinned to the promoted parts
  // (partkey % 97 = 0) — "how close is every part to the curated set",
  // the walk-based generalization of q183's hop distance and the
  // standard seed-expansion primitive for corpus/domain curation. Four
  // integer rounds; the oracle unrolls them with the seed-conditional
  // teleport base (q124's shape).
  private def q243(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val edges = Graph.undirectedEdges(sets, "ps")
    val seeds = edges.select($"src".as("node"))
      .distinct().filter($"node" % 97 === 0)
    Graph.personalizedPageRank(edges, seeds, iterations = 4,
        symmetric = true)
      .orderBy($"node")
  }
  private val q243Sql = {
    val rounds = (1 to 4).map { i =>
      val prev = if (i == 1) "pr0" else s"it${i - 1}"
      s"""it$i AS (
         |  SELECT nodes.node,
         |    CAST(CASE WHEN nodes.node % 97 = 0 THEN 150000000000 // ns.n
         |              ELSE 0 END
         |      + (85 * COALESCE(s.sc, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes CROSS JOIN ns
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.pr // d.deg) AS BIGINT) AS sc
         |    FROM e JOIN $prev p ON e.src = p.node JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) s ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |ns AS (SELECT COUNT(*) AS n FROM nodes WHERE node % 97 = 0),
       |pr0 AS (SELECT node,
       |    CAST(CASE WHEN node % 97 = 0 THEN 1000000000000 // ns.n
       |              ELSE 0 END AS BIGINT) AS pr
       |  FROM nodes CROSS JOIN ns),
       |$rounds
       |SELECT node, pr FROM it4 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q244
  // Co-purchase communities: deterministic synchronous label propagation
  // (3 rounds, max-count-then-min-label adoption) over the undirected
  // co-purchase graph — the cheap community pass for assortment /
  // catalog segmentation. The oracle unrolls the three rounds; its
  // window argmax (count DESC, label ASC) is exactly the operator's
  // min over the packed (−count, label) ArgmaxPack atom, and exactly the
  // driver tier's argmax when the graph is small enough to take it. The
  // graph is read from its (order, part) rows, so a small one is built on
  // the driver straight from lineitem.
  private def q244(s: SparkSession, d: String): DataFrame =
    Graph.coOccurrenceLabels(Tables.lineitem(s, d), "l_orderkey", "l_partkey", 3)
      .orderBy(col("node"))

  /** q244's co-purchase edge frame: both directions of every part pair
    * sharing an order (the distributed path of q244's
    * [[Graph.coOccurrenceLabels]]). */
  private[operators] def q244Edges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    Graph.undirectedEdges(sets, "ps")
  }
  private val q244Sql = {
    val rounds = (1 to 3).map { i =>
      val prev = s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (
         |        PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM (SELECT e.dst AS node, p.lbl, COUNT(*) AS c
         |          FROM e JOIN $prev p ON e.src = p.node
         |          GROUP BY e.dst, p.lbl))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |$rounds
       |SELECT node, CAST(lbl AS BIGINT) AS label FROM l3
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q259
  // Louvain-style synchronous modularity moves (2 rounds) over the
  // co-purchase graph (q244's edge set) — the modularity-greedy upgrade
  // over plain label propagation. The oracle unrolls both rounds: per
  // round a community-degree-sum CTE, a neighbor-label count CTE (with
  // the own-community zero-count candidate union), the integer move
  // score 2m·c − k·(tot − [cur]·k), and the (s DESC, lbl) argmax — the
  // operator's min-over-(−s, label) struct aggregate.
  private def q259(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    // canonical half directly (round-10): the operator mirrors
    // internally, so handing it the mirrored undirectedEdges frame made
    // it re-run a full E-row distinct over rows that were canonical one
    // projection earlier
    val und = Graph.orderedPairs(sets, "ps").distinct()
    Graph.modularityMoves(und, rounds = 2, canonical = true)
      .orderBy($"node")
  }
  private val q259Sql = {
    val rounds = (1 to 2).map { i =>
      val prev = s"l${i - 1}"
      s"""t$i AS (SELECT p.lbl, CAST(SUM(d.k) AS BIGINT) AS tot
         |  FROM $prev p JOIN degn d ON p.node = d.node GROUP BY p.lbl),
         |c$i AS (SELECT e.dst AS node, p.lbl, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM e JOIN $prev p ON e.src = p.node GROUP BY 1, 2),
         |a$i AS (SELECT node, lbl, CAST(SUM(c) AS BIGINT) AS c FROM (
         |    SELECT node, lbl, c FROM c$i
         |    UNION ALL SELECT node, lbl, 0 FROM $prev) GROUP BY node, lbl),
         |s$i AS (SELECT a.node, a.lbl,
         |    m2.m2 * a.c - d.k * (t.tot -
         |      CASE WHEN a.lbl = p.lbl THEN d.k ELSE 0 END) AS s
         |  FROM a$i a JOIN $prev p ON a.node = p.node
         |  JOIN degn d ON a.node = d.node
         |  JOIN t$i t ON a.lbl = t.lbl CROSS JOIN m2),
         |l$i AS MATERIALIZED (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (
         |        PARTITION BY node ORDER BY s DESC, lbl) AS rn
         |    FROM s$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
       |degn AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k
       |  FROM e GROUP BY src),
       |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM e),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |$rounds
       |SELECT node, CAST(lbl AS BIGINT) AS label FROM l2
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q249
  // Affinity-weighted PageRank: rank splits across out-edges in
  // proportion to co-occurrence COUNT (q242's edge frame with the raw
  // count as the weight) — centrality by co-purchase STRENGTH where q124
  // ranks by existence. Four integer rounds, per-edge share
  // (pr·w) div sw; the oracle unrolls them with the same share.
  private def q249(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    val half = Graph.orderedPairs(sets, "ps")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val edges = half.unionByName(
      half.select($"dst".as("src"), $"src".as("dst"), $"w"))
    Graph.pageRankWeighted(edges, iterations = 4, symmetric = true,
        uniqueEdges = true)
      .orderBy($"node")
  }
  private val q249Sql = {
    val rounds = (1 to 4).map { i =>
      val prev = if (i == 1) "pr0" else s"it${i - 1}"
      s"""it$i AS (
         |  SELECT nodes.node,
         |    CAST(150000000000 // nn.n + (85 * COALESCE(s.sc, 0)) // 100
         |      AS BIGINT) AS pr
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM((p.pr * e.w) // d.sw) AS BIGINT) AS sc
         |    FROM e JOIN $prev p ON e.src = p.node JOIN sw d ON e.src = d.src
         |    GROUP BY e.dst) s ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |         AND a.l_partkey < b.l_partkey),
       |pc AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
       |       FROM pe GROUP BY src, dst),
       |e AS MATERIALIZED (SELECT src, dst, w FROM pc
       |  UNION ALL SELECT dst, src, w FROM pc),
       |sw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS sw FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |pr0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS pr
       |        FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, pr FROM it4 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q251
  // Degree assortativity of the co-purchase graph: do popular parts
  // co-sell with other popular parts (r > 0) or with the long tail
  // (r < 0)? One number deciding whether hub-salting / degree-capped
  // sampling matter downstream. Exact DECIMAL sufficient statistics over
  // the mirrored edge set; the oracle replays q142's fixed double tree
  // num/(sqrt(vx)·sqrt(vy)) over HUGEINT sums.
  private def q251(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d).groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    Graph.degreeAssortativity(Graph.undirectedEdges(sets, "ps"))
  }
  private val q251Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pe AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
      |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |         AND a.l_partkey <> b.l_partkey),
      |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM pe),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
      |p AS (SELECT a.d AS dx, COALESCE(b.d, 0) AS dy
      |      FROM e JOIN deg a ON e.src = a.src
      |      LEFT JOIN deg b ON e.dst = b.src),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
      |    CAST(SUM(CAST(dx AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(SUM(CAST(dy AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy,
      |    CAST(SUM(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
      |    CAST(SUM(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy
      |  FROM p)
      |SELECT n_edges,
      |  CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
      |        AND (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
      |               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
      |    THEN (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
      |                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |  END AS assortativity
      |FROM s""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q199_hits", q199, Some(q199Sql)),
    QueryDef("q249_pagerank_weighted", q249, Some(q249Sql)),
    QueryDef("q251_assortativity", q251, Some(q251Sql)),
    QueryDef("q122_rate_limit", q122, Some(q122Sql)),
    QueryDef("q123_survivorship", q123, Some(q123Sql)),
    QueryDef("q124_pagerank", q124, Some(q124Sql)),
    QueryDef("q252_pagerank_dangling", q252, Some(q252Sql)),
    QueryDef("q125_editdist_join", q125, Some(q125Sql)),
    QueryDef("q126_hist_quantiles", q126, Some(q126Sql)),
    QueryDef("q127_skew_report", q127, Some(q127Sql)),
    QueryDef("q131_linear_attribution", q131, Some(q131Sql)),
    QueryDef("q132_session_paths", q132, Some(q132Sql)),
    QueryDef("q133_jaro_winkler", q133, Some(q133Sql)),
    QueryDef("q136_kaplan_meier", q136, Some(q136Sql)),
    QueryDef("q205_nelson_aalen", q205, Some(q205Sql)),
    QueryDef("q208_logrank", q208, Some(q208Sql)),
    QueryDef("q138_triangles", q138, Some(q138Sql)),
    QueryDef("q255_clustering_coefficient", q255, Some(q255Sql)),
    QueryDef("q268_pair_rules", q268, Some(q268Sql)),
    QueryDef("q269_coreness", q269, Some(q269Sql)),
    QueryDef("q273_ktruss", q273, Some(q273Sql)),
    QueryDef("q274_luby_mis", q274, Some(q274Sql)),
    QueryDef("q257_modularity", q257, Some(q257Sql)),
    QueryDef("q259_modularity_moves", q259, Some(q259Sql)),
    QueryDef("q260_contract_graph", q260, Some(q260Sql)),
    QueryDef("q158_kcore", q158, Some(q158Sql)),
    QueryDef("q242_sssp_weighted", q242, Some(q242Sql)),
    QueryDef("q243_personalized_pagerank", q243, Some(q243Sql)),
    QueryDef("q244_label_propagation", q244, Some(q244Sql)),
    QueryDef("q141_trend_fit", q141, Some(q141Sql)),
    QueryDef("q142_corr_matrix", q142, Some(q142Sql)),
    QueryDef("q183_bfs_hops", q183, Some(q183Sql)),
    QueryDef("q261_path_counts", q261, Some(q261Sql)),
    QueryDef("q262_betweenness", q262, Some(q262Sql)),
    QueryDef("q279_betweenness_sampled", q279, Some(q279Sql)),
    QueryDef("q263_louvain", q263, Some(q263Sql)),
    QueryDef("q186_audience_overlap", q186, Some(q186Sql)),
  )

}
