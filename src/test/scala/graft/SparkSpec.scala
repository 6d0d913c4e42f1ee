package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt runs
  * suites sequentially in a forked JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Jobs `body` runs — see [[SparkSpec.jobsIn]]. */
  def jobsOf(body: => Unit): Int = SparkSpec.jobsIn(spark)(body)

  /** (jobs run while `q` builds its DataFrame, jobs of collecting it). */
  def jobFloor(q: => org.apache.spark.sql.DataFrame): (Int, Int) = {
    var df: org.apache.spark.sql.DataFrame = null
    val built = jobsOf { df = q }
    (built, jobsOf(df.collect()))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", Some("local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Jobs `body` runs, counted by a listener scoped to a fresh job group.
    * A marker job run afterwards under a second group drains the listener
    * queue: events arrive in post order, so once the marker is seen every
    * job of the body has been counted. */
  def jobsIn(spark: SparkSession)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"sparkspec-jobs-${java.util.UUID.randomUUID}"
    val marker = group + "-drained"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
