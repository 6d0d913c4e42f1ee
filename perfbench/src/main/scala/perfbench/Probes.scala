package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counters of one job group. Times in seconds, sizes in bytes. */
final class Counters {
  var jobs, stages, tasks = 0L
  var jobWaitS, taskRunS, taskCpuS, gcS, fetchWaitS = 0.0
  var shuffleWrite, shuffleRead, spill, inputRows, inputBytes, outputBytes = 0L
  var peakExecMem = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobWaitS += o.jobWaitS; taskRunS += o.taskRunS; taskCpuS += o.taskCpuS
    gcS += o.gcS; fetchWaitS += o.fetchWaitS
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputRows += o.inputRows; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** A SparkListener that attributes every job, stage and task to the job
  * group it ran under (`SparkContext.setJobGroup`). Events arrive on the
  * listener bus thread; read [[total]] only after `Bus.drain`. */
final class GroupListener extends SparkListener {
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, Counters]()

  private def of(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.get(e.jobId); t0 <- jobStart.remove(e.jobId))
      of(g).jobWaitS += (e.time - t0) / 1e3
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "-")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, "-"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunS += m.executorRunTime / 1e3
      c.taskCpuS += m.executorCpuTime / 1e9
      c.gcS += m.jvmGCTime / 1e3
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Sum of the counters of every group accepted by `keep`. */
  def total(keep: String => Boolean): Counters = synchronized {
    val t = new Counters
    groups.foreach { case (g, c) => if (keep(g)) t += c }
    t
  }
}

/** Operator counts of the final (adaptive) physical plan of each executed
  * query, keyed by the job group that was active when it ran. */
final class PlanListener extends QueryExecutionListener {
  private val counts = mutable.Map[(String, String), Long]().withDefaultValue(0L)
  /** The job group of the phase running now; the listener bus is drained
    * before it changes. */
  @volatile var group: String = "-"

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val g = group
    val c = PlanListener.count(qe.executedPlan)
    synchronized { c.foreach { case (k, n) => counts((g, k)) += n } }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def total(keep: String => Boolean): Map[String, Long] = synchronized {
    PlanListener.kinds.map(k => k -> counts.collect { case ((g, `k`), n) if keep(g) => n }.sum).toMap
  }
}

object PlanListener extends AdaptiveSparkPlanHelper {
  val kinds: Seq[String] = Seq("exchanges", "scans", "sort_aggregates", "broadcasts")

  def count(plan: SparkPlan): Map[String, Long] = {
    val nodes = collectWithSubqueries(plan)(PartialFunction.fromFunction(identity))
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      "scans" -> nodes.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]).toLong,
      "sort_aggregates" -> nodes.count(_.isInstanceOf[SortAggregateExec]).toLong,
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toLong)
  }
}

/** In-memory spans. A span has a name, start and end (ns), its own id, the
  * id of the span that encloses it, and the trace id that every span of
  * one query execution shares. */
final case class Span(id: Int, parent: Int, trace: String, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var next = 1

  def span[T](trace: String, name: String)(body: => T): T = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body finally {
      spans += Span(id, parent, trace, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Seconds of each span name, minus the part covered by its children. */
  def selfTimes: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }
}
