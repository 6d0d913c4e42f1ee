package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Top-level so Spark's product encoder needs no outer instance. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** An untimed event row (the A/B face reads no timestamp). */
case class UserEv(event_id: Long, user_id: Long, event_type: String, value: Double)

/** Streaming semantics driven synchronously via MemoryStream +
  * processAllAvailable (the spark_guide local-smoke pattern). */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable(); q.stop()
  }

  test("tumbling window agg over a stream matches the batch equivalent") {
    val input = MemoryStream[Ev](spark)
    val evs = Seq(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(4), 1, "click", 2.0),
      Ev(3, ts(11), 2, "view", 3.0), Ev(4, ts(12), 1, "click", 4.0),
      Ev(5, ts(25), 2, "view", 5.0))
    input.addData(evs: _*)
    runToMemory(EventStreams.tumblingCounts(input.toDF(), watermark = "0 seconds"), "tumbling", "update")
    // update mode may emit a window more than once; max() takes each
    // window's final state
    val streamed = spark.table("tumbling")
      .groupBy("w_start", "event_type").agg(max("n").as("n"), max("sum_value").as("sum_value"))
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStreams.tumblingCountsBatch(evs.toDF())
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming A/B test ≡ batch twoProportionZ regardless of batch boundaries") {
    import org.apache.spark.sql.functions.expr
    val b1 = Seq(
      UserEv(1, 10, "click", 5.0), // A success
      UserEv(2, 11, "click", 5.0), // B success
      UserEv(3, 12, "click", 1.0), // A fail
      UserEv(4, 10, "view", 3.0))
    val b2 = Seq(
      UserEv(5, 13, "click", 1.0), // B fail
      UserEv(6, 11, "view", 1.0),
      UserEv(7, 14, "click", 9.0)) // A success
    val input = MemoryStream[UserEv](spark)
    val q = EventStreams.abTestStream(input.toDF(), "event_type",
        expr("user_id % 2 = 0"), expr("value >= 2.0"))
      .writeStream.format("memory").queryName("abtest")
      .outputMode("complete").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("abtest")
      .select("event_type", "n_a", "x_a", "n_b", "x_b", "z")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    // batch reference over ALL rows at once — counts AND z must be
    // bit-identical (mergeable integer statistics; shared z tree)
    val batch = graft.ops.Stats.twoProportionZ(
        (b1 ++ b2).toDF(), Seq("event_type"),
        expr("user_id % 2 = 0"), expr("value >= 2.0"))
      .select("event_type", "n_a", "x_a", "n_b", "x_b", "z")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.contains("click") && streamed.contains("view"))
  }

  test("streaming as-of enrichment ≡ batch AsOfJoinExec on the same rows " +
      "(cross-batch signup reaches an earlier-arrived error)") {
    StateStores.withRocksDB(spark) {
      def te(id: Long, uid: Long, typ: String, m: Int) =
        EventStreams.TimedEvent(id, uid, typ, 0.0, ts(m))
      val batch1 = Seq(
        te(1, 1, "error", 20),  // arrives BEFORE the ts(15) signup it must match
        te(2, 1, "signup", 2),
        te(3, 2, "signup", 1))
      val batch2 = Seq(
        te(4, 1, "signup", 15), // later batch, earlier event time than probe 1
        te(5, 1, "error", 15),  // equal-time signup is admissible
        te(6, 2, "error", 12),
        te(7, 3, "error", 13),  // no signups for user 3 -> None
        te(8, 2, "signup", 30))
      val batch3 = Seq(te(9, 99, "click", 60)) // watermark flush only
      val all = batch1 ++ batch2 ++ batch3

      val input = MemoryStream[EventStreams.TimedEvent](spark)
      val q = EventStreams.asofEnrichStream(input.toDS(), watermark = "10 minutes")
        .writeStream.format("memory").queryName("asof_stream")
        .outputMode("append").start()
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      input.addData(batch3: _*); q.processAllAvailable(); q.stop()
      val streamed = spark.table("asof_stream")
        .as[EventStreams.AsOfEnriched].collect().toSet

      val ev = all.toDS()
        .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
      val errors = ev.filter($"event_type" === "error")
        .select($"user_id", $"event_id", $"ts_us")
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id".as("s_uid"), $"ts_us".as("s_ts"))
      val batch = graft.plans.AsOfJoinOps.asofBackward(
          errors, signups, Seq("user_id"), Seq("s_uid"), "ts_us", "s_ts")
        .select($"user_id", $"event_id", $"ts_us", $"s_ts")
        .as[(Long, Long, Long, Option[Long])].collect()
        .map(r => EventStreams.AsOfEnriched(r._1, r._2, r._3, r._4)).toSet

      assert(streamed == batch)
      assert(streamed.exists(e => e.event_id == 1 &&
        e.signup_ts_us.contains(ts(15).getTime * 1000L)))
    }
  }

  test("streaming CDC compaction ≡ batch cdcCompact across out-of-order " +
      "micro-batches; deletes tombstone, re-inserts resurrect") {
    val input = MemoryStream[Ev](spark)
    def op(e: Ev): String = e.event_type
    // batch 1: inserts + an update; batch 2: out-of-order late update (must
    // NOT win), a delete, and a delete-then-reinsert key
    val b1 = Seq(
      Ev(1, ts(1), 1, "I", 10.0), Ev(2, ts(5), 1, "U", 11.0),
      Ev(3, ts(2), 2, "I", 20.0), Ev(4, ts(3), 3, "I", 30.0))
    val b2 = Seq(
      Ev(5, ts(3), 1, "U", 99.0),  // late: older than key 1's ts(5) update
      Ev(6, ts(6), 2, "D", 0.0),   // delete key 2
      Ev(7, ts(4), 3, "D", 0.0), Ev(8, ts(7), 3, "I", 31.0)) // del+reinsert
    input.addData(b1: _*)
    val q = EventStreams.cdcSnapshotStream(input.toDF(),
        "user_id", "ts", "event_id", "event_type", Seq("value"))
      .writeStream.format("memory").queryName("cdc_snap")
      .outputMode("complete").start()
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("cdc_snap")
      .filter(col("event_type") =!= "D")
      .select("user_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    val batch = graft.ops.Temporal.cdcCompact((b1 ++ b2).toDF(),
        col("user_id"), col("ts"), col("event_id"), col("event_type"), "D")
      .select("user_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, "U", 11.0), (3L, "I", 31.0)))
  }

  test("streaming materialized-view refresh ≡ direct aggregate over all " +
      "batches; history never rescanned") {
    val statePath = Files.createTempDirectory("aggview").toFile.getAbsolutePath
    val input = MemoryStream[Ev](spark)
    val b1 = Seq(Ev(1, ts(1), 1, "click", 10.0), Ev(2, ts(2), 1, "view", 2.5),
      Ev(3, ts(3), 2, "click", 7.0))
    val b2 = Seq(Ev(4, ts(4), 1, "click", 1.0), Ev(5, ts(5), 3, "error", 4.0))
    val q = EventStreams.aggViewStream(input.toDF(), statePath,
        keys = Seq("event_type"), values = Seq("value"))
      .option("checkpointLocation",
        Files.createTempDirectory("aggck").toFile.getAbsolutePath)
      .start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable(); q.stop()
    val view = EventStreams.readAggView(spark, statePath)
      .select($"event_type", $"n_rows", $"sum_value".cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val direct = graft.ops.Incremental.aggState(
        (b1 ++ b2).toDF(), Seq("event_type"), Seq("value"))
      .select($"event_type", $"n_rows", $"sum_value".cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(view == direct)
    assert(view == Set(("click", 3L, 18.0), ("view", 1L, 2.5), ("error", 1L, 4.0)))
    // replay safety: re-merging batch 1 onto the state of batch 0 (not onto
    // the latest) keeps versions self-consistent — v_0 + b2-state == v_1
    val v0 = spark.read.parquet(s"$statePath/v_0")
    val remerged = graft.ops.Incremental.merge(v0,
        graft.ops.Incremental.aggState(b2.toDF(), Seq("event_type"), Seq("value")),
        Seq("event_type"))
      .select($"event_type", $"n_rows", $"sum_value".cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(remerged == view)
  }

  test("streaming EWMA view ≡ batch EWMA on the same events; " +
      "late batch revises only the lag window") {
    val statePath = Files.createTempDirectory("ewmaview").toFile.getAbsolutePath
    def withDay(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("cents", expr("CAST(floor(value*100 + 0.5) AS BIGINT)"))
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
    def dayTs(d: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-0$d 10:$minute%02d:00")
    val b1 = Seq(Ev(1, dayTs(1, 0), 1, "click", 10.0),
      Ev(2, dayTs(1, 5), 2, "click", 2.5), Ev(3, dayTs(2, 0), 1, "click", 7.0))
    val b2 = Seq(Ev(4, dayTs(2, 30), 3, "click", 1.0),
      Ev(5, dayTs(3, 0), 1, "click", 4.0), Ev(6, dayTs(3, 1), 2, "view", 9.0))
    val input = MemoryStream[Ev](spark)
    val q = EventStreams.aggViewStream(withDay(input.toDF()), statePath,
        keys = Seq("event_type", "day"), values = Seq("cents"))
      .option("checkpointLocation",
        Files.createTempDirectory("ewmack").toFile.getAbsolutePath)
      .start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable(); q.stop()
    val weights = Seq(3L, 1L)
    val streamed = EventStreams.ewmaView(spark, statePath,
        keys = Seq("event_type"), periodCol = "day", valueCol = "cents",
        weights = weights)
      .select($"event_type", $"day", $"ewma")
      .as[(String, Long, Long)].collect().toSet
    val batch = graft.ops.Temporal.ewmaLagged(
        withDay((b1 ++ b2).toDF()).groupBy($"event_type", $"day")
          .agg(sum($"cents").as("sum_cents")),
        Seq("event_type"), "day", "sum_cents", weights)
      .select($"event_type", $"day", $"ewma")
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch)
    // hand check: click day1 = 1250 → ewma 1250; day2 = 700+100=800 →
    // (3·800 + 1250)/4 = 912; day3 = 400 → (3·400 + 800)/4 = 500
    assert(streamed.contains(("click", 19724L, 912L)))
    assert(streamed.contains(("click", 19725L, 500L)))
  }

  test("streaming rate limit ≡ batch rateLimit " +
      "(late-but-admitted event displaces an already-kept row)") {
    StateStores.withRocksDB(spark) {
      def te(id: Long, uid: Long, m: Int) =
        EventStreams.TimedEvent(id, uid, "click", 0.0, ts(m))
      val all = Seq(te(1, 1, 2), te(2, 1, 5), te(6, 2, 3), te(7, 2, 4),
        te(3, 1, 1), te(9, 9, 40))
      val input = MemoryStream[EventStreams.TimedEvent](spark)
      val q = EventStreams.rateLimitStream(input.toDS(), maxPerWindow = 2,
          windowSecs = 600L)
        .writeStream.format("memory").queryName("rl").outputMode("append").start()
      input.addData(te(1, 1, 2), te(2, 1, 5), te(6, 2, 3), te(7, 2, 4))
      q.processAllAvailable()
      // late event (ts 10:01 < the kept 10:05) must displace event 2
      input.addData(te(3, 1, 1))
      q.processAllAvailable()
      // watermark push (10:40 - 10min > window end 10:10) fires the timers
      input.addData(te(9, 9, 40))
      q.processAllAvailable(); q.stop()
      val w0 = ts(0).getTime / 1000
      val got = spark.table("rl").as[EventStreams.RateLimited].collect().toSet
      assert(got == Set(
        EventStreams.RateLimited(3, 1, w0, 1), EventStreams.RateLimited(1, 1, w0, 2),
        EventStreams.RateLimited(6, 2, w0, 1), EventStreams.RateLimited(7, 2, w0, 2)))
      // batch face agrees exactly on the closed window
      val batch = graft.ops.Sampling.rateLimit(
          all.toDF().select($"event_id", $"user_id",
            (col("ts").cast("long") * 1000000L).as("ts_us")),
          Seq($"user_id"), $"ts_us", $"event_id",
          maxPerWindow = 2, windowSecs = 600L)
        .filter($"win_start" === w0)
        .select($"event_id", $"user_id", $"win_start", $"rn")
        .as[(Long, Long, Long, Int)].collect()
        .map(r => EventStreams.RateLimited(r._1, r._2, r._3, r._4)).toSet
      assert(batch == got)
    }
  }
}
