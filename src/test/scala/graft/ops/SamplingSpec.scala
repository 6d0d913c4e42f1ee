package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  /** One rate for every row: a stratum no row has, `pct` as the default. */
  private def sampled(df: DataFrame, pct: Int): Array[Long] =
    Sampling.stratifiedSample(df, lit("all"), $"id", Map("none" -> 0), pct)
      .as[Long].collect().sorted

  test("one-rate stratifiedSample: deterministic, partition-invariant, bucket < pct") {
    val df = (0L until 1000L).toDF("id")
    val a = sampled(df, 20)
    val b = sampled(df.repartition(7), 20)
    assert(a.sameElements(b))            // partition-order invariant
    assert(a.toSet.subsetOf((0L until 1000L).toSet))
    // rate lands near 20% (hash buckets are near-uniform)
    assert(a.length > 100 && a.length < 300)
    // the kept rows are exactly those whose bucket is below the rate
    val byBucket = df.filter(Sampling.bucket($"id") < 20).as[Long].collect().sorted
    assert(a.sameElements(byBucket))
    // pct 100 keeps everything, 0 keeps nothing
    assert(sampled(df, 100).length == 1000)
    assert(sampled(df, 0).isEmpty)
  }

  test("stratifiedSample: per-stratum rates, default for unlisted strata") {
    val df = (0L until 3000L).map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("id", "s")
    val out = Sampling.stratifiedSample(df, $"s", $"id",
        rates = Map("a" -> 100, "b" -> 0), defaultPct = 30)
      .groupBy($"s").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(out("a") == 1000)             // stratum kept whole
    assert(!out.contains("b"))           // stratum dropped entirely
    assert(out("c") > 150 && out("c") < 450) // default ~30%
  }

  test("sampling nests consistently: pct 10 ⊆ pct 50 (bucket monotonicity)") {
    val df = (0L until 500L).toDF("id")
    val small = sampled(df, 10).toSet
    val big = sampled(df, 50).toSet
    assert(small.subsetOf(big))
  }

  test("rateLimit: first k per (key, window) survive; partition-layout-invariant") {
    // user 1: 4 events in window [0,10s), 1 in [10,20s); user 2: 2 in [0,10s)
    val ev = Seq(
      (1L, 1L, 1000000L), (2L, 1L, 2000000L), (3L, 1L, 3000000L),
      (4L, 1L, 9000000L), (5L, 1L, 12000000L),
      (6L, 2L, 500000L), (7L, 2L, 700000L)).toDF("event_id", "user_id", "ts_us")
    val kept = Sampling.rateLimit(ev, Seq($"user_id"), $"ts_us", $"event_id",
        maxPerWindow = 2, windowSecs = 10L)
      .select($"event_id", $"win_start", $"rn").as[(Long, Long, Int)]
      .collect().sortBy(_._1)
    // events 3, 4 (3rd/4th of user 1's first window) are throttled
    assert(kept.map(_._1).toSeq == Seq(1L, 2L, 5L, 6L, 7L))
    assert(kept.map(_._2).toSeq == Seq(0L, 0L, 10L, 0L, 0L))
    assert(kept.map(_._3).toSeq == Seq(1, 2, 1, 1, 2))
    val shuffled = Sampling.rateLimit(ev.repartition(7), Seq($"user_id"),
        $"ts_us", $"event_id", maxPerWindow = 2, windowSecs = 10L)
      .select($"event_id").as[Long].collect().sorted
    assert(shuffled.toSeq == kept.map(_._1).toSeq, "replay must keep identical rows")
  }
}
