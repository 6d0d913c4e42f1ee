package graft.ops

import graft.SparkSpec

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, user: Long, tsSec: Long) =
    (id, user, new java.sql.Timestamp(tsSec * 1000L))

  test("byGap: new session when gap exceeds threshold, per user, 1-based") {
    val df = Seq(
      ev(1, 1, 0), ev(2, 1, 100), ev(3, 1, 2000),   // gap 1900 > 1800 → new
      ev(4, 1, 2100),
      ev(5, 2, 0), ev(6, 2, 5000))                   // other user independent
      .toDF("event_id", "user_id", "ts")
    val out = Sessionize.byGap(df, gapSeconds = 1800)
      .select($"event_id", $"session_idx").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1 && out(2L) == 1)
    assert(out(3L) == 2 && out(4L) == 2)
    assert(out(5L) == 1 && out(6L) == 2)
  }

  test("byGap: deterministic under repartitioning; ties break by event_id") {
    val df = Seq(ev(10, 1, 50), ev(11, 1, 50), ev(12, 1, 5000))
      .toDF("event_id", "user_id", "ts")
    val a = Sessionize.byGap(df, 1800).select($"event_id", $"session_idx")
      .as[(Long, Long)].collect().toMap
    val b = Sessionize.byGap(df.repartition(5), 1800).select($"event_id", $"session_idx")
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a(10L) == 1 && a(11L) == 1 && a(12L) == 2)
  }
}
