package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational surface, part 3: the rest of the §2.5 window surface and the
  * streaming aggregation shape pinned as a batch query.
  */
object Relational3 {

  // ---------------------------------------------------------------- q27
  // Full ranking-function family + a RANGE frame in one pass over orders.
  private def q27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byPrice = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    // RANGE frame keyed on price: peers = equal price
    val rangeW = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(
        $"o_orderkey", $"o_orderpriority", $"o_totalprice",
        row_number().over(byPrice).as("rn"),
        rank().over(byPrice).as("rnk"),
        dense_rank().over(byPrice).as("drnk"),
        ntile(4).over(byPrice).as("quartile"),
        count(lit(1)).over(rangeW).as("n_cheaper_or_equal"))
      .filter($"rn" <= 50)
      .orderBy($"o_orderpriority", $"rn")
  }
  private val q27Sql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice, rn, rnk, drnk, quartile, n_cheaper_or_equal
      |FROM (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice,
      |    ROW_NUMBER() OVER w AS rn,
      |    RANK() OVER w AS rnk,
      |    DENSE_RANK() OVER w AS drnk,
      |    CAST(NTILE(4) OVER w AS INT) AS quartile,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
      |                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cheaper_or_equal
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rn <= 50
      |ORDER BY o_orderpriority, rn""".stripMargin

  // ---------------------------------------------------------------- q28
  // The streaming tumbling-window aggregation (EventStreams.tumblingCounts)
  // as a batch plan — same window() operator the streaming path runs, so
  // the oracle gate covers the streaming semantics too.
  private def q28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.streaming.EventStreams.tumblingCountsBatch(Tables.events(s, d), "1 hour")
      .withColumn("w_start", date_format($"w_start", "yyyy-MM-dd HH:mm"))
      .orderBy($"w_start", $"event_type")
  }
  private val q28Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS w_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q29
  // JSON extraction (F11 read side): events.props carries JSON documents;
  // extract, cast, aggregate.
  private def q29(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(
        count($"k").as("n_with_k"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }
  private val q29Sql =
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q51
  // Sliding windows: each event lands in length/slide = 2 overlapping
  // windows; the oracle reconstructs the assignment with a UNION ALL of the
  // two hour-truncated starts.
  private def q51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "2 hours", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm").as("w_start"),
        $"event_type", $"n")
      .orderBy($"w_start", $"event_type")
  }
  private val q51Sql =
    """SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS w_start, event_type, COUNT(*) AS n
      |FROM (
      |  SELECT date_trunc('hour', ts) AS w_start, event_type FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events)
      |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q52
  // Typed Dataset surface (§1.4: Dataset[T] for fixed contracts): case-class
  // rows through groupByKey/mapGroups — the per-group imperative escape
  // hatch, verified against plain SQL aggregation.
  private def q52(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"user_id", $"event_type", $"value")
      .as[(Long, String, Double)]
      .groupByKey(_._1)
      .mapGroups { (uid, rows) =>
        var n = 0L
        var errors = 0L
        var cents = 0L
        rows.foreach { case (_, tpe, v) =>
          n += 1
          if (tpe == "error") errors += 1
          cents += math.rint(v * 100).toLong
        }
        (uid, n, errors, cents.toDouble / 100)
      }
      .toDF("user_id", "n", "n_errors", "sum_value")
      .orderBy($"user_id")
  }
  private val q52Sql =
    """SELECT user_id, COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q76
  // Group top-k WITHOUT a window sort: the typed TopK Aggregator keeps a
  // bounded per-group heap, partial-aggregates map-side, and merges heaps
  // across partitions — at scale the exchange carries k ids per group
  // instead of every row, where the q04-style window formulation must
  // shuffle + sort the whole table. The oracle is the ROW_NUMBER
  // formulation — both must agree exactly (same desc-value, asc-id order).
  private def q76(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val topk = udaf(new graft.functions.Aggregators.TopK(3))
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(topk($"o_totalprice", $"o_orderkey").as("ids"))
      .select($"o_orderpriority", posexplode($"ids").as(Seq("i", "o_orderkey")))
      .select($"o_orderpriority", ($"i" + 1).cast("int").as("rn"), $"o_orderkey")
      .orderBy($"o_orderpriority", $"rn")
  }
  private val q76Sql =
    """SELECT o_orderpriority, rn, o_orderkey FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin

  // ---------------------------------------------------------------- q79
  // Bucketed range join at band-table scale: 1000 OVERLAPPING price bands
  // (stride 600, width 1200 → every order lands in ≤2 bands) would cost
  // 1000 comparisons per order as the q22-style nested loop; the bucket
  // equi-join + residual filter shuffles each order to its one bucket.
  private def q79(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = s.range(1000).select($"id".as("band_id"),
      ($"id" * 600.0).as("lo"), ($"id" * 600.0 + 1200.0).as("hi"))
    graft.ops.RangeJoin.bucketedRangeJoin(
        Tables.orders(s, d).select($"o_orderkey", $"o_totalprice"),
        "o_totalprice", bands, "lo", "hi", bucketWidth = 600.0)
      .groupBy($"band_id")
      .agg(count(lit(1)).as("n"))
      .orderBy($"band_id")
  }
  private val q79Sql =
    """SELECT band_id, COUNT(*) AS n
      |FROM orders
      |JOIN (SELECT i AS band_id, i * 600.0e0 AS lo, i * 600.0e0 + 1200.0e0 AS hi
      |      FROM range(1000) t(i)) bands
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band_id ORDER BY band_id""".stripMargin

  // ---------------------------------------------------------------- q75
  // Salted hot-key aggregation under oracle: event_type has a handful of
  // values over ~150k rows/sf — exactly the single-hot-group shape AQE
  // can't split (aggregation, not join). Skew.saltedAgg spreads each group
  // over 8 salted partials before the final combine; the oracle is the
  // plain GROUP BY — salting must be invisible in the result.
  private def q75(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Skew.saltedAgg(
        Tables.events(s, d).select($"event_type", $"user_id"),
        keys = Seq("event_type"), saltBuckets = 8)(
        ("user_id", sum, sum))
      .select($"event_type", $"user_id".as("sum_uid"))
      .orderBy($"event_type")
  }
  private val q75Sql =
    """SELECT event_type, CAST(SUM(user_id) AS BIGINT) AS sum_uid
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q85
  // Heavy hitters via the native SpaceSaving TypedImperativeAggregate
  // (A9): the map side ships one capacity-bounded sketch per partition.
  // capacity 64 ≥ |distinct event_type| → zero eviction → counts exact and
  // partitioning-independent — which is what lets DuckDB's plain GROUP BY
  // COUNT be the oracle. The approximate (evicting) regime is spec-gated
  // instead (HeavyHittersSpec bounds).
  private def q85(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .agg(graft.functions.HeavyHitters($"event_type", 64).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item".as("event_type"), $"e.cnt".as("cnt"))
      .orderBy(desc("cnt"), $"event_type")
  }
  private val q85Sql =
    """SELECT event_type, COUNT(*) AS cnt FROM events
      |GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin

  // ---------------------------------------------------------------- q86
  // SCD Type 2 history build (ops/Temporal.scd2): the events feed as a
  // change log of each user's state (event_type), collapsed to versions
  // with effective-dated validity. One shuffle on user_id, two window
  // passes over the same sort — no joins. The oracle replays the
  // collapse + lead() in DuckDB.
  private def q86(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"event_type")
    graft.ops.Temporal.scd2(ev, $"user_id", $"ts_us", $"event_id", $"event_type")
      .select($"user_id", $"version", $"event_type".as("state"),
        $"valid_from", $"valid_to", $"is_current")
      .orderBy($"user_id", $"version")
  }
  private val q86Sql =
    """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |           FROM events),
      |w AS (SELECT *, lag(ts_us) OVER ue AS pts, lag(event_type) OVER ue AS pst
      |      FROM c WINDOW ue AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |ch AS (SELECT user_id, event_id, ts_us, event_type FROM w
      |       WHERE pts IS NULL OR event_type IS DISTINCT FROM pst)
      |SELECT user_id, row_number() OVER ue AS version, event_type AS state,
      |  ts_us AS valid_from, lead(ts_us) OVER ue AS valid_to,
      |  lead(ts_us) OVER ue IS NULL AS is_current
      |FROM ch WINDOW ue AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------------------------- q87
  // CDC changelog compaction (ops/Temporal.cdcCompact): events mapped to an
  // insert/update/delete log per user; latest op wins, deletes drop the
  // key. One shuffle + one window pass — the lakehouse "apply changes"
  // operator (the reference's full re-extraction is the degenerate form).
  private def q87(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val log = Tables.events(s, d).select(
      $"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"value",
      when($"event_type" === "error", "D")
        .when($"event_type" === "signup", "I").otherwise("U").as("op"))
    graft.ops.Temporal.cdcCompact(log, $"user_id", $"ts_us", $"event_id", $"op", "D")
      .select($"user_id", $"op".as("last_op"), $"ts_us".as("last_ts_us"),
        $"value".as("last_value"))
      .orderBy($"user_id")
  }
  private val q87Sql =
    """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      |    CASE WHEN event_type = 'error' THEN 'D'
      |         WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op
      |  FROM events),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
      |      FROM c)
      |SELECT user_id, op AS last_op, ts_us AS last_ts_us, value AS last_value
      |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q88
  // Attribution (as-of with tolerance, through the custom operator): each
  // purchase attributes to the user's most recent click within the
  // preceding 30 minutes. Gates AsOfJoinExec's tolerance path under the
  // DuckDB oracle (q83 gates the plain backward probe); the oracle is the
  // running-max-click window with the tolerance applied as a bound.
  private def q88(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts_us")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_uid"), $"ts_us".as("c_ts"))
    graft.plans.AsOfJoinOps.asofBackward(
        purchases, clicks, Seq("user_id"), Seq("c_uid"), "ts_us", "c_ts",
        tolerance = Some(30L * 60 * 1000000))
      .select($"user_id", $"event_id", $"c_ts".as("click_ts_us"))
      .orderBy($"user_id", $"event_id")
  }
  private val q88Sql =
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |            FROM events),
      |u AS (SELECT user_id, event_id, ts_us, event_type,
      |        max(CASE WHEN event_type = 'click' THEN ts_us END) OVER (
      |          PARTITION BY user_id
      |          ORDER BY ts_us, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
      |                   event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
      |      FROM ev)
      |SELECT user_id, event_id,
      |  CASE WHEN last_click >= ts_us - 1800000000 THEN last_click END
      |    AS click_ts_us
      |FROM u WHERE event_type = 'purchase'
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q89
  // Recursive hierarchy closure (WITH RECURSIVE family, which Spark SQL
  // lacks): ancestors of every part in a synthetic decimal-digit tree
  // (parent = key div 10), via ops/Hierarchy's bounded iterative join.
  // DuckDB's native recursive CTE is the oracle.
  private def q89(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = Tables.part(s, d)
      .select(expr("CAST(p_partkey AS BIGINT)").as("child"),
        expr("CAST(p_partkey AS BIGINT) DIV 10").as("parent"))
      .filter($"child" >= 10)
    graft.ops.Hierarchy.ancestors(edges, "child", "parent")
      .orderBy($"node", $"depth")
  }
  private val q89Sql =
    """WITH RECURSIVE e AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS child,
      |         CAST(p_partkey AS BIGINT) // 10 AS parent
      |  FROM part WHERE p_partkey >= 10),
      |anc AS (
      |  SELECT child AS node, parent AS anc, 1 AS depth FROM e
      |  UNION ALL
      |  SELECT a.node, e.parent AS anc, a.depth + 1
      |  FROM anc a JOIN e ON a.anc = e.child)
      |SELECT node, anc, depth FROM anc ORDER BY node, depth""".stripMargin

  // ---------------------------------------------------------------- q90
  // Statistical aggregates (corr/stddev/mean) with CROSS-ENGINE EXACT
  // moments: cents-quantized values accumulate as decimal sums (x, y, x²,
  // y², xy — reduction-order-independent), and the float formulas run once
  // per group on those exact integers, so both engines perform the
  // identical IEEE operation sequence. Native corr()/stddev() would drift
  // by partial-aggregation order.
  private def q90(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val li = Tables.lineitem(s, d).select($"l_returnflag",
      floor($"l_quantity" * 100 + 0.5).cast(dec).as("x"),
      floor($"l_extendedprice" * 100 + 0.5).cast(dec).as("y"))
    li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      .select($"l_returnflag", $"n",
        ($"sy".cast("double") / $"n" / 100.0).as("mean_price"),
        (sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double") /
          ($"n" * ($"n" - 1)).cast("double")) / 100.0).as("std_price"),
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
           sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))))
          .as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }
  private val q90Sql =
    """WITH q AS (SELECT l_returnflag,
      |    CAST(floor(l_quantity*100 + 0.5) AS HUGEINT) AS x,
      |    CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT) AS y
      |  FROM lineitem),
      |a AS (SELECT l_returnflag, COUNT(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      |  FROM q GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  CAST(sy AS DOUBLE) / n / 100.0 AS mean_price,
      |  sqrt(CAST(n*syy - sy*sy AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)) / 100.0
      |    AS std_price,
      |  CAST(n*sxy - sx*sy AS DOUBLE) /
      |    (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
      |     sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS corr_qty_price
      |FROM a ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q91
  // Column profiler (ops/Profile): exact per-column stats in ONE scan
  // (grouping-sets Expand + stack unpivot). The oracle is the
  // naive per-column UNION ALL — same rows, #cols scans; the point of the
  // operator is that the Spark plan does it in one.
  private def q91(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Profile.profile(Tables.orders(s, d), Seq(
        "o_orderkey" -> $"o_orderkey",
        "o_orderstatus" -> $"o_orderstatus",
        "o_orderpriority" -> $"o_orderpriority",
        "o_totalprice_cents" -> floor($"o_totalprice" * 100 + 0.5).cast("long"),
        "o_orderdate" -> $"o_orderdate".cast("date")))
      .orderBy($"col_name")
  }
  private val q91Sql = {
    val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
      "o_totalprice_cents", "o_orderdate")
    val base = """WITH q AS (SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS o_totalprice_cents,
      |  CAST(o_orderdate AS DATE) AS o_orderdate FROM orders)
      |""".stripMargin
    base + cols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value FROM q""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  // ---------------------------------------------------------------- q92
  // Incremental aggregate maintenance (ops/Incremental): history and delta
  // batches aggregate to mergeable states, merge(history_state,
  // delta_state) must equal the direct aggregate over everything — which
  // is exactly what the oracle computes. History is never rescanned on
  // refresh.
  private def q92(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_returnflag", $"l_quantity", $"l_extendedprice")
    val keys = Seq("l_returnflag")
    val vals = Seq("l_quantity", "l_extendedprice")
    val hist = graft.ops.Incremental.aggState(li.filter($"l_orderkey" % 5 =!= 0), keys, vals)
    val delta = graft.ops.Incremental.aggState(li.filter($"l_orderkey" % 5 === 0), keys, vals)
    graft.ops.Incremental.merge(hist, delta, keys)
      .select($"l_returnflag", $"n_rows",
        // Decimal states merge exactly; render as DOUBLE on both engines so
        // the driver's pandas hash compares like for like (q69Sql pattern —
        // DuckDB SUM(DECIMAL(18,2)) widens to DECIMAL(38,2), which pandas
        // renders differently from Spark's decimal string).
        $"sum_l_quantity".cast("double").as("sum_qty"),
        $"sum_l_extendedprice".cast("double").as("sum_price"))
      .orderBy($"l_returnflag")
  }
  private val q92Sql =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q93
  // Gaps and islands: maximal runs of consecutive active days per user via
  // the anchor trick (day minus per-user row_number is constant within a
  // run). Day-dedup runs as a lag filter INSIDE the user_id window (a
  // distinct() would add a second exchange on (user_id, day)); the dedup,
  // ranking, and aggregate all ride ONE user_id exchange + sort.
  private def q93(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val days = Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day"))
      .withColumn("__prev", lag($"day", 1).over(w))
      .filter($"__prev".isNull || $"__prev" =!= $"day")
      .drop("__prev")
    days
      .withColumn("anchor", date_sub($"day", row_number().over(w)))
      .groupBy($"user_id", $"anchor")
      .agg(min($"day").as("streak_start"), max($"day").as("streak_end"),
        count(lit(1)).as("streak_days"))
      .select("user_id", "streak_start", "streak_end", "streak_days")
      .orderBy($"user_id", $"streak_start")
  }
  private val q93Sql =
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |              FROM events),
      |g AS (SELECT user_id, day,
      |        day - CAST(row_number() OVER (
      |          PARTITION BY user_id ORDER BY day) AS INT) AS anchor
      |      FROM days)
      |SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
      |  COUNT(*) AS streak_days
      |FROM g GROUP BY user_id, anchor
      |ORDER BY user_id, streak_start""".stripMargin

  // ---------------------------------------------------------------- q94
  // Ordered funnel: earliest signup, then earliest click at-or-after it,
  // then earliest purchase at-or-after that — per user, in ONE exchange:
  // per-type sorted timestamp lists aggregate per user and the stage
  // chaining is a higher-order filter + head in a projection (stage k+1's
  // bound depends on stage k's result, which no single conditional-min
  // pass can express). List size is bounded by per-user funnel activity;
  // a bot-skewed feed would cap the lists (slice after sort_array) or
  // fall back to the oracle's join-per-stage shape.
  private def q94(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .filter($"event_type".isin("signup", "click", "purchase"))
      .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val perUser = ev.groupBy($"user_id").agg(
      min(when($"event_type" === "signup", $"ts_us")).as("t_signup"),
      sort_array(collect_list(when($"event_type" === "click", $"ts_us"))).as("clicks"),
      sort_array(collect_list(when($"event_type" === "purchase", $"ts_us"))).as("purchases"))
    perUser
      .withColumn("t_click",
        get(filter($"clicks", c => c >= $"t_signup"), lit(0)))
      .withColumn("t_purchase",
        get(filter($"purchases", c => c >= $"t_click"), lit(0)))
      .select($"user_id", $"t_signup", $"t_click", $"t_purchase")
      .filter($"t_signup".isNotNull)
      .orderBy($"user_id")
  }
  private val q94Sql =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
      |s AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts_us END)
      |        AS t_signup FROM ev GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts_us) AS t_click
      |      FROM ev e JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'click' AND e.ts_us >= s.t_signup
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts_us) AS t_purchase
      |      FROM ev e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts_us >= c.t_click
      |      GROUP BY e.user_id)
      |SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase
      |FROM s LEFT JOIN c ON s.user_id = c.user_id
      |       LEFT JOIN p ON s.user_id = p.user_id
      |WHERE s.t_signup IS NOT NULL
      |ORDER BY s.user_id""".stripMargin

  // ---------------------------------------------------------------- q95
  // Cohort retention: users grouped by signup week; for each cohort ×
  // week-offset, how many distinct users were still active. One narrow
  // (user, week) dedup, a broadcast-sized cohort join, one final agg.
  private def q95(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("week"),
        $"event_type")
    val cohorts = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"week").as("cohort_week"))
    val active = ev.select($"user_id", $"week").distinct()
    active.join(cohorts, "user_id")
      .filter($"week" >= $"cohort_week")
      .groupBy($"cohort_week",
        floor(datediff($"week", $"cohort_week") / 7).cast("int").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_week", $"week_offset")
  }
  private val q95Sql =
    """WITH ev AS (SELECT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS week, event_type
      |  FROM events),
      |cohorts AS (SELECT user_id, min(week) AS cohort_week FROM ev
      |            WHERE event_type = 'signup' GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id, week FROM ev)
      |SELECT c.cohort_week,
      |  CAST((a.week - c.cohort_week) // 7 AS INT) AS week_offset,
      |  COUNT(DISTINCT a.user_id) AS n_active
      |FROM active a JOIN cohorts c ON a.user_id = c.user_id
      |WHERE a.week >= c.cohort_week
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q96
  // Mode / arg-max aggregate with a total-order tie-break (native mode()
  // breaks ties engine-specifically — unusable under a cross-engine hash
  // gate): count per (group, value), rank by (count desc, value asc).
  private def q96(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cnts = Tables.orders(s, d)
      .groupBy($"o_orderstatus", $"o_orderpriority").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"n".desc, $"o_orderpriority")
    cnts.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"o_orderstatus", $"o_orderpriority".as("modal_priority"), $"n")
      .orderBy($"o_orderstatus")
  }
  private val q96Sql =
    """WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |           FROM orders GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
      |        ORDER BY n DESC, o_orderpriority) AS rn FROM c)
      |SELECT o_orderstatus, o_orderpriority AS modal_priority, n
      |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q98
  // Per-entity anomaly detection: events whose value deviates > 2σ from
  // that user's OWN mean. Moments (n, Σx, Σx²) come from exact decimal
  // window sums over one user_id exchange (q90's trick, windowed); the
  // z-score math runs on those exact integers so both engines execute the
  // identical IEEE sequence. Degenerate users (n < 2, zero variance)
  // filter out on exact integer predicates, never float ones.
  private def q98(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
    val st = Tables.events(s, d)
      .select($"user_id", $"event_id",
        floor($"value" * 100 + 0.5).cast("decimal(38,0)").as("vc"))
      .select($"user_id", $"event_id", $"vc",
        count(lit(1)).over(w).as("n"),
        sum($"vc").over(w).as("sx"),
        sum($"vc" * $"vc").over(w).as("sxx"))
    // z = (v*n - Σx) / sqrt((n*Σx² - Σx²ᵗᵒᵗ) * n / (n-1)), all from exact ints
    st.filter($"n" >= 2 && ($"n" * $"sxx" - $"sx" * $"sx") > 0)
      .withColumn("z", ($"vc" * $"n" - $"sx").cast("double") /
        sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") * $"n" / ($"n" - 1)))
      .filter(abs($"z") > 2.0)
      .select($"user_id", $"event_id", $"z")
      .orderBy($"user_id", $"event_id")
  }
  private val q98Sql =
    """WITH q AS (SELECT user_id, event_id,
      |    CAST(floor(value*100 + 0.5) AS HUGEINT) AS vc FROM events),
      |st AS (SELECT user_id, event_id, vc,
      |    COUNT(*) OVER u AS n, SUM(vc) OVER u AS sx,
      |    SUM(vc*vc) OVER u AS sxx
      |  FROM q WINDOW u AS (PARTITION BY user_id))
      |SELECT user_id, event_id,
      |  CAST(vc*n - sx AS DOUBLE) /
      |    sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * n / (n - 1)) AS z
      |FROM st WHERE n >= 2 AND n*sxx - sx*sx > 0
      |  AND abs(CAST(vc*n - sx AS DOUBLE) /
      |        sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * n / (n - 1))) > 2.0
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q99
  // Interval-overlap join (temporal join): per customer, pairs of odd/even
  // orders whose fulfillment windows (orderdate + key%14 days) overlap.
  // ops/RangeJoin.intervalOverlapJoin tiles both interval sides so the
  // theta condition becomes an equi-join; DuckDB evaluates the raw
  // inequality join as the oracle.
  private def q99(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_custkey", $"o_orderkey",
      datediff($"o_orderdate".cast("date"), to_date(lit("1970-01-01")))
        .cast("long").as("s0"))
      .withColumn("e0", $"s0" + $"o_orderkey" % 14)
    val a = o.filter($"o_orderkey" % 2 === 1)
      .select($"o_custkey", $"o_orderkey".as("key_a"),
        $"s0".as("sa"), $"e0".as("ea"))
    val b = o.filter($"o_orderkey" % 2 === 0)
      .select($"o_custkey", $"o_orderkey".as("key_b"),
        $"s0".as("sb"), $"e0".as("eb"))
    graft.ops.RangeJoin.intervalOverlapJoin(a, b, Seq("o_custkey"),
        "key_a", "key_b", "sa", "ea", "sb", "eb", bucketWidth = 7L)
      .select($"o_custkey".as("custkey"), $"key_a", $"key_b")
      .orderBy($"custkey", $"key_a", $"key_b")
  }
  private val q99Sql =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS s0,
      |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' + o_orderkey % 14 AS e0
      |  FROM orders),
      |a AS (SELECT o_custkey, o_orderkey AS key_a, s0 AS sa, e0 AS ea
      |      FROM o WHERE o_orderkey % 2 = 1),
      |b AS (SELECT o_custkey, o_orderkey AS key_b, s0 AS sb, e0 AS eb
      |      FROM o WHERE o_orderkey % 2 = 0)
      |SELECT a.o_custkey AS custkey, key_a, key_b
      |FROM a JOIN b ON a.o_custkey = b.o_custkey
      |  AND sa <= eb AND sb <= ea
      |ORDER BY custkey, key_a, key_b""".stripMargin

  // ---------------------------------------------------------------- q100
  // String aggregation (LISTAGG family): order-insensitive input, sorted
  // before joining so the result is deterministic under any partitioning
  // (bare listagg/string_agg order is engine- and plan-specific).
  private def q100(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        concat_ws(",", array_sort(collect_set($"o_orderstatus"))).as("statuses"),
        countDistinct($"o_orderstatus").as("n_statuses"))
      .orderBy($"o_orderpriority")
  }
  private val q100Sql =
    """SELECT o_orderpriority,
      |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
      |    AS statuses,
      |  COUNT(DISTINCT o_orderstatus) AS n_statuses
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q101
  // Concentration / Pareto analysis: per order priority, the share of
  // total revenue carried by the top decile of orders. The decile
  // boundary is a row-count rank (integer), not a float percentile, so
  // the cut is engine-exact; the top-k cents sum comes from two-phase
  // histogram selection (Stats.groupTopFractionSum) — a per-row
  // rank window over 5 priorities funnels the whole table through 5
  // reducers (measured 10.9 s at 100×), while the boundary value + the
  // exact mass above it read off domain-bounded histograms. The result
  // is tie-break-free: boundary-tied orders all carry the same cents.
  private def q101(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_orderpriority",
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    graft.ops.Stats.groupTopFractionSum(o, Seq("o_orderpriority"), $"cents")
      .select($"o_orderpriority", $"n_top",
        ($"top_sum".cast("double") / $"total".cast("double"))
          .as("top_decile_share"))
      .orderBy($"o_orderpriority")
  }
  private val q101Sql =
    """WITH o AS (SELECT o_orderpriority,
      |    CAST(floor(o_totalprice*100 + 0.5) AS HUGEINT) AS cents
      |  FROM orders),
      |r AS (SELECT o_orderpriority, cents,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY cents DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
      |    SUM(cents) OVER (PARTITION BY o_orderpriority) AS total
      |  FROM o)
      |SELECT o_orderpriority, COUNT(*) AS n_top,
      |  CAST(SUM(cents) AS DOUBLE) / CAST(ANY_VALUE(total) AS DOUBLE)
      |    AS top_decile_share
      |FROM r WHERE rn * 10 <= n
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q102
  // Co-occurrence mining (market-basket pairs): parts bought together in
  // an order, top-20 pairs. Per-order item sets are bounded (≤7 lines in
  // TPC-H shape), so pairs are generated IN-ROW from one collect_set per
  // order — a sorted-array double-transform — instead of a self-join:
  // ONE shuffle builds the sets (set-agg partial-aggregates map-side and
  // dedups duplicate lines of a part for free), pair counts partial-
  // aggregate map-side, and the top-20 is a TakeOrdered. The former
  // distinct + self-join shape paid two extra exchanges for the same
  // bounded fan-out. Unbounded basket sizes would cap/filter the set
  // before expansion (the LSH bucket-cap pattern).
  private def q102(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("ps"))
    // ordered in-row expansion (Graph.orderedPairs): k(k−1)/2 generated
    // rows, no post-hoc filter — everything stays in whole-stage codegen
    graft.ops.Graph.orderedPairs(sets, "ps")
      .select($"src".as("part_a"), $"dst".as("part_b"))
      .groupBy($"part_a", $"part_b").agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_orders".desc, $"part_a", $"part_b").limit(20)
  }
  private val q102Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |  COUNT(*) AS n_orders
      |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q103
  // Event-transition matrix (first-order Markov counts): how often each
  // event type follows each other type within a user's timeline. One
  // lead() over the user exchange, one aggregate.
  private def q103(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"from_type", $"to_type")
  }
  private val q103Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |           FROM events),
      |t AS (SELECT event_type AS from_type,
      |        lead(event_type) OVER (PARTITION BY user_id
      |          ORDER BY ts_us, event_id) AS to_type
      |      FROM e)
      |SELECT from_type, to_type, COUNT(*) AS n
      |FROM t WHERE to_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q104
  // Rolling active users: distinct users in the trailing 7 days, per day.
  // COUNT(DISTINCT) cannot ride a sliding window frame, so each (user,
  // day) activity fact contributes itself to the 7 window-days it belongs
  // to (a bounded 7× explode of the DEDUPED day-grain facts — never of raw
  // events) and a plain distinct aggregate finishes per window-day.
  private def q104(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ud = Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    ud.select($"user_id",
        explode(sequence($"day", date_add($"day", 6))).as("win_day"))
      .groupBy($"win_day")
      .agg(countDistinct($"user_id").as("active_users"))
      .orderBy($"win_day")
  }
  private val q104Sql =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |            FROM events),
      |c AS (SELECT user_id, day + CAST(i AS INT) AS win_day
      |      FROM ud, LATERAL unnest(range(7)) u(i))
      |SELECT win_day, COUNT(DISTINCT user_id) AS active_users
      |FROM c GROUP BY win_day ORDER BY win_day""".stripMargin

  // ---------------------------------------------------------------- q196
  // Association rules from the co-purchase pairs (q102's counts grown
  // into a ranked rule set): directed ante→cons with support, confidence
  // n_ab/n_ante and lift n_ab·N/(n_ante·n_cons). Counts are exact longs;
  // confidence/lift are single double divisions of exact products, so
  // the lift ordering (ties → ante, cons) reproduces cross-engine. The
  // basket frame materializes once and feeds margins + pairs; the pair
  // expansion is the codegen double-explode (q102's measured lesson).
  // MEASURED DEAD END (round 6): generating each unordered pair once
  // (Graph.orderedPairs) and mirroring the aggregated rule frame after
  // the n_ab ≥ 3 cut — half the Generate output and half the pair-agg
  // input — lost consistently in back-to-back A/Bs (10× warm 19.9 →
  // 29.1 s, 30× warm 31.1 → 54.1 s): the sort+posexplode+slice
  // generation costs ~2× per emitted element vs the bare double
  // explode (slice allocates a tail array per position), and the
  // mirror needs an eager localCheckpoint barrier job. The halved
  // shuffle never pays that back because the pair agg is map-side
  // combined anyway. orderedPairs still wins where it REPLACES a
  // k²-generate feeding distinct/a<b filters (q124/q138/q183).
  private def q196(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // slim (bid, item); feeds N, margins, and pairs. DISK_ONLY, not the
    // default MEMORY_AND_DISK: this frame is CORPUS-sized (60M rows ≈
    // 4.6 GB at 100×), and a memory pin claims the protected storage
    // half of the unified pool right before the suite's biggest
    // object-hash aggregate (collect_set over 4.5M baskets) — measured
    // AGGREGATE_OUT_OF_MEMORY at 100× on the 8 GiB bench heap, isolated.
    // Disk-backed blocks cost one serialized write/read and leave the
    // whole execution pool to the aggregate. LAZY persist, not the eager
    // DISK_ONLY localCheckpoint: laziness piggy-backs materialization on
    // the first consumer's pass instead of paying a separate up-front
    // job (measured 100× warm 27.5 s lazy vs 52.7 s eager). The
    // NoRecomputeSweep allowlists this query: the plan PRINTS the
    // parquet location once per InMemoryTableScan use site, but the
    // runtime scan happens once, at cache materialization.
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey".as("bid"), $"l_partkey".as("item"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nb = li.agg(countDistinct($"bid").as("nbk"))
    val margins = li.groupBy($"item").agg(count(lit(1)).as("supp"))
      .localCheckpoint() // slim item frame; feeds the prune + both metric joins
    // apriori prune BEFORE the quadratic pair expansion: a pair at
    // support ≥ 3 needs both items at support ≥ 3, so infrequent items
    // (the long tail — most of the catalog) never enter the explode.
    // Result-identical; measured 14.5 s → the pair fan-out is the cost.
    val freq = margins.filter($"supp" >= 3).select($"item")
    val pairs = li.join(freq, Seq("item"), "left_semi")
      .groupBy($"bid").agg(collect_set($"item").as("ps"))
      .filter(size($"ps") >= 2)
      .select($"ps", explode($"ps").as("ante"))
      .select($"ante", explode($"ps").as("cons"))
      .filter($"ante" =!= $"cons")
      .groupBy($"ante", $"cons").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 3)
    pairs
      .join(margins.select($"item".as("ante"), $"supp".as("n_ante")), "ante")
      .join(margins.select($"item".as("cons"), $"supp".as("n_cons")), "cons")
      .crossJoin(broadcast(nb))
      .select($"ante", $"cons", $"n_ab", $"n_ante", $"n_cons",
        ($"n_ab".cast("double") / $"n_ante").as("confidence"),
        (($"n_ab" * $"nbk").cast("double") /
          ($"n_ante" * $"n_cons").cast("double")).as("lift"))
      .orderBy($"lift".desc, $"ante", $"cons")
      .limit(40)
  }
  private val q196Sql =
    """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS bid,
      |      l_partkey AS item FROM lineitem),
      |nb AS (SELECT CAST(COUNT(DISTINCT bid) AS BIGINT) AS nbk FROM li),
      |m AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS supp FROM li GROUP BY item),
      |p AS (SELECT a.item AS ante, b.item AS cons, CAST(COUNT(*) AS BIGINT) AS n_ab
      |      FROM li a JOIN li b ON a.bid = b.bid AND a.item <> b.item
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |r AS (SELECT ante, cons, n_ab, ma.supp AS n_ante, mc.supp AS n_cons,
      |        CAST(n_ab AS DOUBLE)/ma.supp AS confidence,
      |        CAST(n_ab*nbk AS DOUBLE)/CAST(ma.supp*mc.supp AS DOUBLE) AS lift
      |      FROM p JOIN m ma ON ma.item = p.ante
      |        JOIN m mc ON mc.item = p.cons CROSS JOIN nb)
      |SELECT * FROM r ORDER BY lift DESC, ante, cons LIMIT 40""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q27_window_family", q27, Some(q27Sql)),
    QueryDef("q28_tumbling_window", q28, Some(q28Sql)),
    QueryDef("q29_json_extract", q29, Some(q29Sql)),
    QueryDef("q51_sliding_window", q51, Some(q51Sql)),
    QueryDef("q52_typed_groups", q52, Some(q52Sql)),
    QueryDef("q75_salted_agg", q75, Some(q75Sql)),
    QueryDef("q76_topk_agg", q76, Some(q76Sql)),
    QueryDef("q79_bucketed_range_join", q79, Some(q79Sql)),
    QueryDef("q85_heavy_hitters", q85, Some(q85Sql)),
    QueryDef("q86_scd2_history", q86, Some(q86Sql)),
    QueryDef("q87_cdc_apply", q87, Some(q87Sql)),
    QueryDef("q88_attribution", q88, Some(q88Sql)),
    QueryDef("q89_hierarchy", q89, Some(q89Sql)),
    QueryDef("q90_stats_moments", q90, Some(q90Sql)),
    QueryDef("q91_profile", q91, Some(q91Sql)),
    QueryDef("q92_incremental_agg", q92, Some(q92Sql)),
    QueryDef("q93_islands", q93, Some(q93Sql)),
    QueryDef("q94_funnel", q94, Some(q94Sql)),
    QueryDef("q95_retention", q95, Some(q95Sql)),
    QueryDef("q96_mode", q96, Some(q96Sql)),
    QueryDef("q98_anomaly", q98, Some(q98Sql)),
    QueryDef("q99_interval_overlap", q99, Some(q99Sql)),
    QueryDef("q100_string_agg", q100, Some(q100Sql)),
    QueryDef("q101_pareto_share", q101, Some(q101Sql)),
    QueryDef("q102_copurchase", q102, Some(q102Sql)),
    QueryDef("q103_transitions", q103, Some(q103Sql)),
    QueryDef("q104_rolling_active", q104, Some(q104Sql)),
    QueryDef("q196_assoc_rules", q196, Some(q196Sql)),
  )
}
