package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("merge(history state, delta state) ≡ direct aggregate; " +
      "delta-only keys appear, history-only keys survive") {
    val rows = Seq(
      ("a", 1.0), ("a", 2.5), ("b", 10.0), // history
      ("a", 4.0), ("c", 7.25))             // delta (c is a new key)
    val df = rows.toDF("k", "v")
    val hist = df.limit(3)
    val delta = df.exceptAll(hist)
    val merged = Incremental.merge(
      Incremental.aggState(hist, Seq("k"), Seq("v")),
      Incremental.aggState(delta, Seq("k"), Seq("v")), Seq("k"))
    val direct = Incremental.aggState(df, Seq("k"), Seq("v"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
    assert(merged.filter($"k" === "c").select($"n_rows").as[Long].head() == 1L)
  }

  test("profile: one row per column, exact stats, ONE scan in the plan") {
    val df = Seq((1L, "x", null), (2L, "x", "p"), (2L, "y", "q"))
      .toDF("id", "s", "n")
    val got = Profile.profile(df,
        Seq("id" -> col("id"), "s" -> col("s"), "n" -> col("n")))
      .orderBy("col_name")
      .as[(String, Long, Long, Long, String, String)].collect().toList
    assert(got == List(
      ("id", 3L, 3L, 2L, "1", "2"),
      ("n", 3L, 2L, 2L, "p", "q"),
      ("s", 3L, 3L, 2L, "x", "y")))
    // the one-scan claim, on a file-backed table
    val orders = graft.sources.Tables.orders(spark, sfDir)
    val prof = Profile.profile(orders,
      Seq("o_orderkey" -> col("o_orderkey"), "o_orderstatus" -> col("o_orderstatus")))
    assert(prof.count() == 2)
    val planStr = prof.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(planStr).size
    assert(scans == 1, s"expected 1 scan, got $scans in:\n$planStr")
    // approx mode (the 100 TB path): no Expand, estimates within rsd
    val apx = Profile.profile(orders,
      Seq("o_orderkey" -> col("o_orderkey"), "o_orderstatus" -> col("o_orderstatus")),
      approxDistinct = true)
    apx.count()
    assert(!apx.queryExecution.executedPlan.toString.contains("Expand"))
    val exact = Profile.profile(orders,
        Seq("o_orderkey" -> col("o_orderkey")))
      .select("n_distinct").as[Long].head()
    val est = apx.filter(col("col_name") === "o_orderkey")
      .select("n_distinct").as[Long].head()
    assert(math.abs(est - exact).toDouble / exact < 0.05,
      s"estimate $est vs exact $exact")
  }

  test("profile exact mode reads a non-deterministic input once: " +
      "count, min, max and n_distinct agree on one draw") {
    // every read of `df` draws a new k from rand() and a read counter:
    // its single partition sees row 0 first, so all rows of one read
    // share that read's k, and v = id % k then has exactly k distinct
    // values, 0 .. k-1. Stats taken from two different reads would
    // disagree.
    val draw = udf { (id: Long, r: Double) =>
      if (id == 0) IncrementalSpec.k.set(
        2 + ((r * 500).toInt + IncrementalSpec.reads.incrementAndGet()) % 500)
      IncrementalSpec.k.get
    }.asNondeterministic()
    val n = 1000L
    val df = spark.range(0, n, 1, 1)
      .withColumn("k", draw(col("id"), rand()))
      .select((col("id") % col("k")).as("v"), (col("id") % col("k") + col("k")).as("w"))
    val first = df.agg(max("v")).as[Long].head() + 1
    val again = df.agg(max("v")).as[Long].head() + 1
    assert(first != again, "the input must change between reads")
    val got = Profile.profile(df, Seq("v" -> col("v"), "w" -> col("w")))
      .as[(String, Long, Long, Long, String, String)].collect().toList.sortBy(_._1)
    val k = got.head._4
    assert(k >= 2 && k <= 501, got)
    assert(got == List(
      ("v", n, n, k, "0", (k - 1).toString),
      ("w", n, n, k, k.toString, (2 * k - 1).toString)))
  }
}

object IncrementalSpec {
  // executor-side state shared by every read (local mode: one JVM)
  val reads = new java.util.concurrent.atomic.AtomicInteger
  val k = new java.util.concurrent.atomic.AtomicInteger
}
