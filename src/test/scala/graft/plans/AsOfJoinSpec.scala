package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Custom as-of physical operator: result parity with the window
  * formulation, plan shape (merge exec, one exchange per side), and the
  * null/tie/empty edge cases the merge must get right. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def asof(left: DataFrame, right: DataFrame): DataFrame =
    AsOfJoinOps.asofBackward(left, right, Seq("k"), Seq("rk"), "t", "rt")

  private def leftDf(rows: Seq[(java.lang.Long, java.lang.Long, Long)]): DataFrame =
    rows.toDF("k", "t", "lid")
  private def rightDf(rows: Seq[(java.lang.Long, java.lang.Long, Long)]): DataFrame =
    rows.toDF("rk", "rt", "rid")

  test("small hand-computed cases: matches, ties, nulls, empty right") {
    val left = leftDf(Seq(
      (1L: java.lang.Long, 10L: java.lang.Long, 1L),   // matches rt=10 (equal time admissible)
      (1L: java.lang.Long, 15L: java.lang.Long, 2L),   // matches rt=12 (latest <= 15)
      (1L: java.lang.Long, 5L: java.lang.Long, 3L),    // no signup yet -> null
      (2L: java.lang.Long, 100L: java.lang.Long, 4L),  // key with no right rows -> null
      (null, 10L: java.lang.Long, 5L),                 // null key never matches
      (3L: java.lang.Long, null, 6L)))                 // null time never matches
    val right = rightDf(Seq(
      (1L: java.lang.Long, 10L: java.lang.Long, 101L),
      (1L: java.lang.Long, 12L: java.lang.Long, 102L),
      (1L: java.lang.Long, 20L: java.lang.Long, 103L), // in the future of every left
      (3L: java.lang.Long, 1L: java.lang.Long, 104L),
      (4L: java.lang.Long, null, 105L)))               // null right time never matches
    val got = asof(left, right)
      .select($"lid", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(
      1L -> Some(101L), 2L -> Some(102L), 3L -> None,
      4L -> None, 5L -> None, 6L -> None))
  }

  test("latest-wins among equal admissible times") {
    // two right rows at the same (key, time): the merge keeps the later one
    // in sort order; both carry the same time value so any emitted column
    // that differs must come from the documented last-in-order row.
    val left = leftDf(Seq((1L: java.lang.Long, 10L: java.lang.Long, 1L)))
    val right = rightDf(Seq(
      (1L: java.lang.Long, 7L: java.lang.Long, 201L),
      (1L: java.lang.Long, 7L: java.lang.Long, 202L)))
    val got = asof(left, right).select($"rt").as[Long].collect().toSeq
    assert(got == Seq(7L))
  }

  test("events as-of ≡ union+last_value window formulation (sf0.001)") {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id", $"ts_us")
    val signups = ev.filter($"event_type" === "signup")
      .select($"user_id".as("s_uid"), $"ts_us".as("s_ts"))
    val custom = AsOfJoinOps.asofBackward(
        errors, signups, Seq("user_id"), Seq("s_uid"), "ts_us", "s_ts")
      .select($"user_id", $"event_id", $"s_ts".as("signup_ts_us"))

    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_us", $"is_signup_first", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = ev
      .withColumn("is_signup_first", when($"event_type" === "signup", 0).otherwise(1))
      .withColumn("signup_ts_us",
        last(when($"event_type" === "signup", $"ts_us"), ignoreNulls = true).over(w))
      .filter($"event_type" === "error")
      .select($"user_id", $"event_id", $"signup_ts_us")

    val a = custom.as[(Long, Long, Option[Long])].collect().toSet
    val b = windowed.as[(Long, Long, Option[Long])].collect().toSet
    assert(a.nonEmpty && a == b)
  }

  test("plan shape: AsOfJoinExec with one exchange and one sort per side") {
    val left = leftDf(Seq((1L: java.lang.Long, 10L: java.lang.Long, 1L)))
    val right = rightDf(Seq((1L: java.lang.Long, 7L: java.lang.Long, 201L)))
    val plan = asof(left, right).queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan.take(900))
  }

  test("property: random inputs ≡ per-row reference semantics") {
    // deterministic pseudo-random cases: small key/time domains force key
    // collisions, equal times, unmatched keys, and null columns
    val rnd = new scala.util.Random(42)
    for (c <- 1 to 6) {
      val nl = 1 + rnd.nextInt(40)
      val nr = rnd.nextInt(40)
      def nk: java.lang.Long = if (rnd.nextInt(12) == 0) null else (rnd.nextInt(5).toLong: java.lang.Long)
      def nt: java.lang.Long = if (rnd.nextInt(12) == 0) null else (rnd.nextInt(20).toLong: java.lang.Long)
      val lRows = (1 to nl).map(i => (nk, nt, i.toLong))
      val rRows = (1 to nr).map(i => (nk, nt, 100L + i))
      val got = asof(leftDf(lRows), rightDf(rRows))
        .select($"lid", $"rt").as[(Long, Option[Long])].collect().toMap
      // reference: per left row, max right time <= left time on the key
      val expected = lRows.map { case (k, t, lid) =>
        lid -> (for {
          kk <- Option(k); tt <- Option(t)
          best <- rRows.collect { case (rk, rt, _) if rk == kk && rt != null && rt <= tt => rt.longValue }
            .reduceOption(_ max _)
        } yield best)
      }.toMap
      assert(got == expected, s"case $c: nl=$nl nr=$nr")
    }
  }

  test("tolerance bounds the backward match distance") {
    val left = leftDf(Seq(
      (1L: java.lang.Long, 10L: java.lang.Long, 1L),
      (1L: java.lang.Long, 30L: java.lang.Long, 2L)))
    val right = rightDf(Seq(
      (1L: java.lang.Long, 8L: java.lang.Long, 501L),
      (1L: java.lang.Long, 33L: java.lang.Long, 502L)))
    val back = AsOfJoinOps.asofBackward(left, right, Seq("k"), Seq("rk"), "t", "rt",
        tolerance = Some(5L))
      .select($"lid", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(back == Map(1L -> Some(501L), 2L -> None)) // 30-8=22 > 5
    // the bound is inclusive: 10-8=2 admits at tolerance 2, not at 1
    def at(tol: Long) = AsOfJoinOps.asofBackward(left, right, Seq("k"), Seq("rk"),
        "t", "rt", tolerance = Some(tol))
      .select($"lid", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(at(2L) == Map(1L -> Some(501L), 2L -> None))
    assert(at(1L) == Map(1L -> None, 2L -> None))
  }

  test("broadcast as-of: zero-shuffle plan, results ≡ co-partitioned merge") {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id", $"ts_us")
    val signups = ev.filter($"event_type" === "signup")
      .select($"user_id".as("s_uid"), $"ts_us".as("s_ts"))
    val bcast = AsOfJoinOps.asofBackward(errors, signups,
      Seq("user_id"), Seq("s_uid"), "ts_us", "s_ts", broadcastRight = true)
    val plan = bcast.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastAsOfJoin"), plan.take(600))
    assert(!plan.contains("Exchange"), s"broadcast path must not shuffle: ${plan.take(900)}")
    val shuffled = AsOfJoinOps.asofBackward(errors, signups,
      Seq("user_id"), Seq("s_uid"), "ts_us", "s_ts")
    val a = bcast.select($"user_id", $"event_id", $"s_ts")
      .as[(Long, Long, Option[Long])].collect().toSet
    val b = shuffled.select($"user_id", $"event_id", $"s_ts")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(a.nonEmpty && a == b)
  }

  test("property: broadcast path ≡ merge path, with and without tolerance") {
    val rnd = new scala.util.Random(99)
    for (c <- 1 to 8) {
      val nl = 1 + rnd.nextInt(30)
      val nr = rnd.nextInt(30)
      def nk: java.lang.Long = if (rnd.nextInt(12) == 0) null else (rnd.nextInt(4).toLong: java.lang.Long)
      def nt: java.lang.Long = if (rnd.nextInt(12) == 0) null else (rnd.nextInt(15).toLong: java.lang.Long)
      val l = leftDf((1 to nl).map(i => (nk, nt, i.toLong)))
      val r = rightDf((1 to nr).map(i => (nk, nt, 100L + i)))
      val tol = if (rnd.nextBoolean()) Some(rnd.nextInt(5).toLong) else None
      def run(bcast: Boolean) =
        AsOfJoinOps.asofBackward(l, r, Seq("k"), Seq("rk"), "t", "rt", tol, bcast)
          .select($"lid", $"rt").as[(Long, Option[Long])].collect().toMap
      assert(run(true) == run(false), s"case $c tol=$tol")
    }
  }

  test("multi-key as-of join partitions on the full compound key") {
    val left = Seq((1L, 1L, 10L, 1L), (1L, 2L, 10L, 2L), (2L, 1L, 10L, 3L))
      .toDF("k", "k2", "t", "lid")
    val right = Seq((1L, 1L, 8L, 301L), (1L, 2L, 9L, 302L), (2L, 2L, 1L, 303L))
      .toDF("rk", "rk2", "rt", "rid")
    val got = AsOfJoinOps.asofBackward(
        left, right, Seq("k", "k2"), Seq("rk", "rk2"), "t", "rt")
      .select($"lid", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(301L), 2L -> Some(302L), 3L -> None))
  }
}
