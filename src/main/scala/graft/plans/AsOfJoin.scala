package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BaseOrdering, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Backward as-of join as a first-class operator (SURVEY.md §7.3 path (c):
  * custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`).
  *
  * Semantics (the reference-family "most recent fact at or before t" probe,
  * DuckDB `ASOF LEFT JOIN` with `l.time >= r.time`): for every left row,
  * attach the single right row with the same key whose time is the largest
  * one `<= leftTime`; left rows with no such match keep nulls on the right.
  * SQL null semantics: a null key or null time never matches.
  *
  * Why a physical operator instead of the union+`last_value` window trick
  * (q23): the trick funnels BOTH inputs through one window sort and carries
  * every left column through the union, so the shuffled payload is
  * `|L|+|R|` wide rows. This operator declares
  * `ClusteredDistribution`/`SortOrder` requirements and lets
  * EnsureRequirements co-partition the sides independently — each input
  * shuffles once, in its own width, and the probe itself is a streaming
  * two-pointer merge per partition: O(|L|+|R|), no buffering beyond one
  * candidate row, no per-pair expansion. At 100 TB that is the difference
  * between shuffling the fact table twice (once disguised as a union) and
  * shuffling each side exactly once.
  *
  * Tie-breaks: among right rows sharing the maximal admissible time the
  * last one in (key, time, partition-sort) order wins — callers that need
  * full determinism beyond the time value itself should make `rightTime`
  * unique per key (the same contract DuckDB documents for ASOF).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long] = None,
    broadcastRight: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: the co-partitioned merge, or — when the caller marked the
  * right side broadcast-small — the zero-shuffle broadcast probe. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tol, bcast) =>
      if (bcast)
        BroadcastAsOfJoinExec(lk, rk, lt, rt, tol, planLater(l), planLater(r)) :: Nil
      else
        AsOfJoinExec(lk, rk, lt, rt, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge backward as-of join.
  *
  * Children are hash-clustered on the full key set (so EnsureRequirements
  * co-partitions them and AQE coalesces small shuffle partitions; note
  * OptimizeSkewedJoin's skew-SPLITTING only matches SortMergeJoinExec /
  * ShuffledHashJoinExec, so a custom node gets coalescing but not skew
  * splits — which would anyway be incorrect here, since splitting a key's
  * right-side history across tasks breaks the per-key merge; skewed keys
  * should go through the broadcast path) and sorted by (keys…, time).
  * `doExecute`
  * zips partitions and runs a forward-only merge: the right cursor only
  * advances, each consumed right row either becomes the current candidate
  * (copied — sorter iterators reuse row buffers) or is discarded, and every
  * left row emits exactly once.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    "as-of join needs matching non-empty key lists")
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "as-of join key types must match pairwise")
  require(leftTime.dataType == rightTime.dataType,
    "as-of join time types must match")
  require(tolerance.isEmpty || AsOfJoinExec.longBacked(leftTime.dataType),
    s"tolerance needs a long-backed time type, got ${leftTime.dataType}")
  require(tolerance.forall(_ >= 0), "tolerance must be non-negative")

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // One row out per left row, in the left child's order and partitioning.
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys, requireAllClusterKeys = true) ::
      ClusteredDistribution(rightKeys, requireAllClusterKeys = true) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    val lOut = left.output
    val rOut = right.output
    val (lKeys, rKeys) = (leftKeys, rightKeys)
    val (lTime, rTime) = (leftTime, rightTime)
    val tol = tolerance
    val outAttrs = output
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        new AsOfMergeIterator(lIter, rIter, lOut, rOut, lKeys, rKeys,
          lTime, rTime, tol, outAttrs, numOutputRows, numMatchedRows)
    }
  }
}

/** Zero-shuffle as-of: the right side (a dimension history — SCD state,
  * config timeline, rate table) is collected, per-key time-sorted, and
  * broadcast; the left side streams through a narrow binary-search probe
  * with its existing partitioning untouched. The as-of analogue of
  * BroadcastHashJoin: at 100 TB this is the difference between shuffling
  * the fact table on the key and not touching it at all. Caller asserts
  * the right side is control-plane small (same contract as broadcast()). */
case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  // Same parity contract as AsOfJoinExec: the probe map keys on UnsafeRow
  // BYTE equality, so an int left key vs bigint right key would silently
  // match nothing (every left row null-extended) instead of failing fast.
  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    "as-of join needs matching non-empty key lists")
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "as-of join key types must match pairwise")
  require(leftTime.dataType == rightTime.dataType,
    "as-of join time types must match")
  require(tolerance.isEmpty || AsOfJoinExec.longBacked(leftTime.dataType),
    s"tolerance needs a long-backed time type, got ${leftTime.dataType}")
  require(tolerance.forall(_ >= 0), "tolerance must be non-negative")

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "broadcast build rows"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val buildRows = longMetric("buildRows")
    val rOut = right.output
    val lOut = left.output
    val (lKeys, rKeys) = (leftKeys, rightKeys)
    val (lTime, rTime) = (leftTime, rightTime)
    val tol = tolerance
    val timeType = leftTime.dataType
    val outAttrs = output

    // Build on the driver: key -> time-ascending rows. executeCollect
    // returns materialized copies, safe to retain and broadcast.
    val rKeyProj = UnsafeProjection.create(rKeys, rOut)
    val rTimeProj = UnsafeProjection.create(Seq(rTime), rOut)
    val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(rTime.dataType))
    val grouped = scala.collection.mutable.HashMap
      .empty[InternalRow, scala.collection.mutable.ArrayBuffer[(InternalRow, InternalRow)]]
    right.executeCollect().foreach { row =>
      val k = rKeyProj(row)
      val t = rTimeProj(row)
      if (!k.anyNull && !t.isNullAt(0)) {
        buildRows += 1
        grouped.getOrElseUpdate(k.copy(),
          scala.collection.mutable.ArrayBuffer.empty) += ((t.copy(), row))
      }
    }
    val built: Map[InternalRow, Array[(InternalRow, InternalRow)]] =
      grouped.view.mapValues(_.sortBy(_._1)(timeOrd: Ordering[InternalRow]).toArray).toMap
    val bc = sparkContext.broadcast(built)

    left.execute().mapPartitions({ lIter =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), lOut)
      val probeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val lookup = bc.value
      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeR = lTimeProj(lRow)
        var matched: InternalRow = null
        if (!lKey.anyNull && !lTimeR.isNullAt(0)) {
          lookup.get(lKey).foreach { arr =>
            // binary search: last index with time <= probe
            var lo = 0; var hi = arr.length - 1; var found = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (probeOrd.compare(arr(mid)._1, lTimeR) <= 0) {
                found = mid
                lo = mid + 1
              } else hi = mid - 1
            }
            if (found >= 0) {
              // the LAST admissible index — the merge exec's "latest wins"
              val ok = tol.forall { t =>
                AsOfJoinExec.timeLong(lTimeR, timeType) -
                  AsOfJoinExec.timeLong(arr(found)._1, timeType) <= t
              }
              if (ok) matched = arr(found)._2
            }
          }
        }
        numOutputRows += 1
        if (matched != null) resultProj(joined(lRow, matched))
        else resultProj(joined(lRow, nullRight))
      }
    }, preservesPartitioning = true)
  }
}

object AsOfJoinExec {
  /** Time types whose physical representation is an 8-/4-byte integer —
    * the ones a long-valued tolerance is meaningful for. */
  def longBacked(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Read a long-backed time value from a single-field row. */
  def timeLong(row: InternalRow, dt: org.apache.spark.sql.types.DataType): Long = dt match {
    case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.DateType =>
      row.getInt(0).toLong
    case _ => row.getLong(0)
  }
}

/** Per-partition streaming merge. Both inputs sorted by (keys…, time).
  *
  * Consumed right rows at or before the probe become the buffered
  * candidate ("latest wins"); tolerance rejects a candidate farther than
  * `tol` behind the probe — no earlier candidate could be closer, so the
  * probe is unmatched. */
private final class AsOfMergeIterator(
    lIter: Iterator[InternalRow],
    rIter: Iterator[InternalRow],
    lOut: Seq[Attribute],
    rOut: Seq[Attribute],
    lKeys: Seq[Expression],
    rKeys: Seq[Expression],
    lTime: Expression,
    rTime: Expression,
    tolerance: Option[Long],
    outAttrs: Seq[Attribute],
    numOutputRows: SQLMetric,
    numMatchedRows: SQLMetric) extends Iterator[InternalRow] {

  private val lKeyProj = UnsafeProjection.create(lKeys, lOut)
  private val rKeyProj = UnsafeProjection.create(rKeys, rOut)
  private val lTimeProj = UnsafeProjection.create(Seq(lTime), lOut)
  private val rTimeProj = UnsafeProjection.create(Seq(rTime), rOut)
  private val keyOrd: BaseOrdering =
    RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
  private val timeOrd: BaseOrdering =
    RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
  private val nullRight = new GenericInternalRow(rOut.length)
  private val joined = new JoinedRow
  // Bind against outAttrs (right side nullability widened), NOT lOut ++ rOut:
  // binding to a non-nullable right attribute would skip the null check and
  // read garbage zeros from the all-null unmatched row.
  private val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

  // Right cursor: the next not-yet-consumed right row (views into reused
  // buffers — valid only until the next advance).
  private var rRow: InternalRow = _
  private var rKey: InternalRow = _
  private var rTimeRow: InternalRow = _
  private var rHas = false
  advanceRight()

  // Current candidate: the best (latest admissible) right
  // row seen for candidateKey. Copied out of the cursor buffers.
  private var candidate: InternalRow = _
  private var candidateKey: InternalRow = _
  private var candidateTime: Long = 0L // long-backed value; set iff tolerance defined
  private val timeType = lTime.dataType

  private def advanceRight(): Unit = {
    if (rIter.hasNext) {
      rRow = rIter.next()
      rKey = rKeyProj(rRow)
      rTimeRow = rTimeProj(rRow)
      rHas = true
    } else {
      rHas = false
    }
  }

  override def hasNext: Boolean = lIter.hasNext

  override def next(): InternalRow = {
    val lRow = lIter.next()
    val lKey = lKeyProj(lRow)
    val lTimeR = lTimeProj(lRow)
    var matched: InternalRow = null
    if (!lKey.anyNull && !lTimeR.isNullAt(0)) {
      // Advance the cursor over every right row at or before (lKey, lTime).
      var advancing = true
      while (advancing && rHas) {
        val c = keyOrd.compare(rKey, lKey)
        if (c < 0) {
          advanceRight() // earlier key: can never match a later left row
        } else if (c == 0) {
          if (rTimeRow.isNullAt(0)) {
            advanceRight() // null time never matches
          } else if (timeOrd.compare(rTimeRow, lTimeR) <= 0) {
            // Admissible for this (and any later) left row: remember it.
            // Rows later in sort order overwrite — "latest wins".
            candidate = rRow.copy()
            candidateKey = rKey.copy()
            if (tolerance.isDefined)
              candidateTime = AsOfJoinExec.timeLong(rTimeRow, timeType)
            advanceRight()
          } else {
            advancing = false // future right row: stop, keep for later lefts
          }
        } else {
          advancing = false // right is on a later key
        }
      }
      if (candidate != null && keyOrd.compare(candidateKey, lKey) == 0 &&
          tolerance.forall(t =>
            AsOfJoinExec.timeLong(lTimeR, timeType) - candidateTime <= t)) {
        matched = candidate
      }
    }
    numOutputRows += 1
    if (matched != null) {
      numMatchedRows += 1
      resultProj(joined(lRow, matched))
    } else {
      resultProj(joined(lRow, nullRight))
    }
  }
}

/** DataFrame-level API for the as-of operator. */
object AsOfJoinOps {

  /** Left backward as-of join: for each left row, the latest right row with
    * `right(rightTime) <= left(leftTime)` sharing the join keys; unmatched
    * left rows keep nulls on the right side.
    *
    * The two inputs must not share attribute instances (for a self-join,
    * alias the right side's columns first — `select($"c".as("c_r"))` mints
    * fresh attributes). Column pruning does not see through a custom node,
    * so project each side down to needed columns before joining.
    */
  def asofBackward(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      tolerance: Option[Long] = None,
      broadcastRight: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "as-of join inputs share attributes; alias one side's columns first")
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(a => spark.sessionState.analyzer.resolver(a.name, n))
        .getOrElse(throw new IllegalArgumentException(
          s"column $n not in [${p.output.map(_.name).mkString(", ")}]"))
    val node = AsOfJoin(lPlan, rPlan,
      leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
      attr(lPlan, leftTime), attr(rPlan, rightTime), tolerance, broadcastRight)
    org.apache.spark.sql.graft.Bridge.ofRows(spark, node)
  }

  /** Idempotently add the planner strategy to a live session (sessions built
    * with `GraftExtensions` already have it; this covers the rest). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
    }
  }
}
