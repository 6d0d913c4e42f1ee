package perfbench

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry}

/** The harness's own checks: job attribution by group, noop forcing, and
  * that a failing call is counted and never timed. Inputs come from gen.py. */
class HarnessSpec extends AnyFunSuite {
  private val dir = Files.createDirectories(Paths.get("target/spec-data")).toAbsolutePath.toString
  private def tables(sf: String): String = {
    val out = s"$dir/sf$sf"
    if (!Files.exists(Paths.get(s"$out/lineitem.parquet")))
      assert(Seq("python3", "gen.py", "tables", "11", out, sf).! == 0)
    out
  }
  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("perfbench-spec", Some("local[4]"))
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` under job group `g` and return that group's counters. */
  private def underGroup(listener: GroupListener, g: String)(body: => Unit): Counters = {
    spark.sparkContext.setJobGroup(g, g)
    try body finally spark.sparkContext.clearJobGroup()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    listener.total(_ == g)
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("the listener attributes q30_eav_unpivot's jobs to its own group") {
    val d = tables("0.001")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val q30 = underGroup(listener, "q30#0#execute")(noop(SparkEntry.queries("q30_eav_unpivot")(spark, d)))
      val q01 = underGroup(listener, "q01#0#execute")(noop(SparkEntry.queries("q01_pricing_summary")(spark, d)))
      assert(q30.jobs == 4, "q30 at sf0.001 runs four jobs")
      assert(q30.stages >= q30.jobs && q30.tasks >= q30.stages)
      assert(q01.jobs >= 1)
      // every job of both queries landed in exactly one of the two groups
      assert(listener.total(_ => true).jobs == q30.jobs + q01.jobs + listener.total(_ == "-").jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a noop-forced q46_langid spends more task time than count()") {
    val d = tables("0.01")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = SparkEntry.queries("q46_langid")
      noop(q(spark, d)) // warm both paths' code generation first
      q(spark, d).count()
      val forced = underGroup(listener, "noop")(noop(q(spark, d)))
      val counted = underGroup(listener, "count")(q(spark, d).count())
      assert(forced.taskCpuS > counted.taskCpuS,
        s"noop ${forced.taskCpuS} s vs count ${counted.taskCpuS} s of task CPU")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a call that throws is counted as failed and never recorded as a time") {
    spark.stop() // the run starts its own sessions
    val d = tables("0.001")
    val out = s"$dir/run-boom"
    val boom: (SparkSession, String) => DataFrame = (_, _) => throw new IllegalStateException("injected")
    val run = new Run(Workload("with_failure", Seq("boom", "q30_eav_unpivot")), d, d, out,
      seconds = 0, traced = false, queries = SparkEntry.queries + ("boom" -> boom))
    try run.all() finally run.stop()
    val json = new String(Files.readAllBytes(Paths.get(s"$out/run.json")))
    val n = Main.minPasses
    assert(json.contains(s"\"attempted\":${2 * n}") && json.contains(s"\"failed\":$n"), json)
    assert(json.contains("\"boom\":\"java.lang.IllegalStateException: injected\""), json)
    val times = "\"times\":\\{[^}]*\\}".r.findAllIn(json).toSeq
    assert(times.size == n && times.forall(t => t.contains("q30_eav_unpivot") && !t.contains("boom")), times)
  }
}
