package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for REDCap-style EAV extraction (SURVEY.md S1/S2,
  * §4 pushdown rows; /root/reference/redcap-etl.py:71-161).
  *
  * The reference's extraction loop is: fetch the study-id universe, chunk it
  * 100 ids at a time, and issue one REST request per chunk, with column
  * projection (`fields=`) and row predicates (`filterLogic=`) evaluated
  * server-side. This connector reproduces that execution shape natively in
  * Spark:
  *
  *  - one [[InputPartition]] per record-id chunk (`chunk_size` option) —
  *    at scale each task fetches its own chunk, the full extraction never
  *    materializes on the driver (the reference held it all in RAM);
  *  - `SupportsPushDownRequiredColumns` ≙ the `fields=` projection;
  *  - `SupportsPushDownFilters` ≙ `filterLogic` — equality/IN/prefix on
  *    `record_id` / `field_name` / `redcap_event_name` evaluate inside the
  *    fetch, everything else stays a residual Spark filter.
  *
  * Transport is pluggable behind [[EavTransport]]: `option("path", p)`
  * reads a local CSV standing in for the endpoint (zero-egress test mode);
  * `option("url", u).option("token", t)` issues real form-encoded POSTs
  * with the reference's error semantics (abort on non-2xx, bounded
  * retry/backoff on 5xx — see [[HttpEavTransport]]).
  *
  * Usage: `spark.read.format("graft-eav").option("path", p).load()`.
  */
class EavSourceProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-eav"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EavSource.schema
  // writes pass the frame's own schema through getTable (the sink takes a
  // single JSON-record string column, not the EAV read plane)
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EavTable(properties.asScala.toMap, schema)
}

object EavSource {
  /** Observability counter: number of chunk fetches actually issued (one
    * per [[EavChunk]] reader opened). Runtime filtering is graded on this:
    * a pruned chunk is a REST request never sent. Test-only introspection —
    * meaningful in local mode where executors share the JVM. */
  val chunkFetches = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Observability counter: number of id-universe requests issued
    * (`EavTransport.recordIds`, ≙ `get_study_ids`) — one per table and
    * read options, however many times its frames are planned. */
  val idRequests = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The 6 CSV-plane columns (the cleaned-flag columns are engine-side). */
  val schema: StructType = StructType(Seq(
    StructField("record_id", StringType),
    StructField("redcap_event_name", StringType),
    StructField("redcap_repeat_instrument", StringType),
    StructField("redcap_repeat_instance", StringType),
    StructField("field_name", StringType),
    StructField("value", StringType)))

  private[sources] def matches(row: Array[String], f: Filter): Boolean = {
    def colIdx(name: String): Int = schema.fieldIndex(name)
    f match {
      case EqualTo(a, v) => row(colIdx(a)) == String.valueOf(v)
      case In(a, vs) => vs.map(String.valueOf).contains(row(colIdx(a)))
      case StringStartsWith(a, p) => row(colIdx(a)).startsWith(p)
      case IsNotNull(a) => row(colIdx(a)) != null // CSV plane: always true
      case _ => true
    }
  }

  private[sources] def isPushable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => schema.fieldNames.contains(a)
    case In(a, _) => schema.fieldNames.contains(a)
    case StringStartsWith(a, _) => schema.fieldNames.contains(a)
    // Catalyst pairs every pushed equality with an IsNotNull guard; leaving
    // it residual would veto the residual-sensitive pushes (top-n, aggs)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case _ => false
  }

  /** Content-keyed Bernoulli sample membership: uniform in [0,1) from a
    * hash of the whole row (+ seed), so the kept set is a pure function of
    * content — stable under retries/repartitioning (see ops/Sampling). */
  private[sources] def sampleKeep(row: Array[String],
      lo: Double, hi: Double, seed: Long): Boolean = {
    val h = scala.util.hashing.MurmurHash3.stringHash(
      row.mkString(""), seed.toInt)
    val u = (h & 0x7fffffff).toDouble / (Int.MaxValue.toDouble + 1)
    u >= lo && u < hi
  }

  /** The id universe cut into `chunkSize`-id partitions (≙ the reference's
    * 100-ids-per-request loop). */
  private[sources] def chunks(ids: Seq[String], chunkSize: Int): Array[InputPartition] =
    ids.grouped(chunkSize).map(g => EavChunk(g.toArray): InputPartition).toArray

  /** ≙ one REST POST for this chunk's ids with fields= and filterLogic=
    * (redcap-etl.py:71-135): one transport request, counted in
    * [[chunkFetches]], with the id set, pushed filters and sample re-applied
    * locally (transports may over-return — the pushes are hints, not
    * guarantees). */
  private[sources] def chunkRows(transport: EavTransport, chunk: EavChunk,
      pushed: Array[Filter],
      sample: Option[(Double, Double, Long)]): Iterator[Array[String]] = {
    chunkFetches.incrementAndGet()
    val idSet = chunk.recordIds.toSet
    transport.fetchChunk(chunk.recordIds, pushed).iterator
      .filter(r => idSet.contains(r(0)))
      .filter(r => pushed.forall(matches(r, _)))
      .filter(r => sample.forall { case (lo, hi, seed) =>
        sampleKeep(r, lo, hi, seed) })
  }

  /** Aggregate shapes the source evaluates per chunk (partial push). */
  sealed trait EavAgg extends Serializable
  case object CountStarAgg extends EavAgg
  final case class CountColAgg(colIdx: Int) extends EavAgg
  final case class MinColAgg(colIdx: Int) extends EavAgg
  final case class MaxColAgg(colIdx: Int) extends EavAgg
}

class EavTable(props: Map[String, String],
    tableSchema: StructType = EavSource.schema)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"graft-eav(${props.get("url").orElse(props.get("path")).getOrElse("?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new EavWriteBuilder(props ++ info.options.asScala.toMap, info)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asScala.toMap
    val transport = EavTransport.fromOptions(opts)
    new EavScanBuilder(transport,
      Option(options.get("chunk_size")).map(_.toInt).getOrElse(100),
      () => universes.computeIfAbsent(opts, _ => {
        EavSource.idRequests.incrementAndGet()
        transport.recordIds()
      }))
  }

  /** The id universe per read options, requested once: every physical
    * planning of a frame over this table (each write, count or collect)
    * chunks the same universe, as the reference calls `get_study_ids`
    * once. Concurrent plannings (the two envelope writes) wait for the one
    * request. Runtime id filtering stays per scan. */
  private val universes =
    new java.util.concurrent.ConcurrentHashMap[Map[String, String], Seq[String]]()
}

class EavScanBuilder(transport: EavTransport, chunkSize: Int,
    universe: () => Seq[String]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates with SupportsPushDownTableSample {
  private var required: StructType = EavSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var topN: Array[(Int, Boolean)] = Array.empty // (colIdx, ascending)
  private var hadResidual = false
  private var aggGroupBy: Array[Int] = Array.empty
  private var aggFuncs: Array[EavSource.EavAgg] = Array.empty
  private var aggregationPushed = false
  private var sample: Option[(Double, Double, Long)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, residual) = filters.partition(EavSource.isPushable)
    pushed = p
    hadResidual = residual.nonEmpty
    residual // Spark re-applies these; pushed ones are handled in the fetch
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** ≙ the REST `record`-count cap: each chunk fetch stops after `l`
    * matching rows (a per-request `LIMIT` in the extraction call). The
    * push is PARTIAL (default `isPartiallyPushed`): readers run in
    * parallel so Spark still applies the global limit on top — same
    * contract as the built-in file sources. */
  override def pushLimit(l: Int): Boolean =
    if (aggregationPushed) false else { limit = l; true }
  /** ≙ a server-side `ORDER BY … LIMIT n` in the extraction request: each
    * chunk fetch returns only its top-n rows under the requested order.
    * PARTIAL push (isPartiallyPushed=true): readers run per-chunk, so
    * Spark keeps the global sort+limit on top — per-partition top-n under
    * the SAME total order is a sufficient superset. Orders on plain
    * source columns only; bail out (let Spark do all the work) when any
    * sort key is computed or any filter stayed residual (a residual
    * filter above a pre-limited fetch could starve the global top-n). */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (hadResidual || aggregationPushed) return false
    val cols = orders.map { o =>
      o.expression() match {
        case ref: NamedReference if ref.fieldNames.length == 1 &&
            EavSource.schema.fieldNames.contains(ref.fieldNames.head) =>
          val asc = o.direction() == SortDirection.ASCENDING
          // CSV strings are never null, so either null ordering is fine —
          // but only accept the combinations Spark's sort would produce
          // for non-null data anyway.
          val _ = o.nullOrdering(): NullOrdering
          Some((EavSource.schema.fieldIndex(ref.fieldNames.head), asc))
        case _ => None
      }
    }
    if (cols.exists(_.isEmpty)) false
    else { topN = cols.flatten; limit = n; true }
  }
  override def isPartiallyPushed: Boolean = true

  /** ≙ server-side sampling in the extraction request. The push replaces
    * Spark's `Sample` operator entirely, so the source's sampling defines
    * the semantics: CONTENT-KEYED (hash of the full row in [0,1)) rather
    * than rand(seed) — deterministic under retries, repartitioning, and
    * re-extraction, the same exactly-once rationale as `ops/Sampling`.
    * Bernoulli only; with-replacement sampling declines. */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    if (withReplacement) return false
    sample = Some((lowerBound, upperBound, seed))
    true
  }

  /** ≙ server-side aggregation in the extraction request (the biggest
    * possible payload reduction: each chunk returns one row per group
    * instead of its raw rows). PARTIAL push — `supportCompletePushDown`
    * stays false because chunks aggregate independently, so Spark plans
    * the cross-chunk final aggregate (sum of counts, min of mins, …) on
    * top, exactly like the built-in sources' partial aggregate pushdown.
    * COUNT(*), COUNT(col), MIN(col), MAX(col) on source columns only;
    * DISTINCT or computed arguments decline the push. Residual filters
    * can't run above a pre-aggregated fetch, so they decline it too. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (hadResidual || limit >= 0) return false
    def colIdx(e: V2Expression): Option[Int] = e match {
      case r: NamedReference if r.fieldNames.length == 1 &&
          EavSource.schema.fieldNames.contains(r.fieldNames.head) =>
        Some(EavSource.schema.fieldIndex(r.fieldNames.head))
      case _ => None
    }
    val gb = agg.groupByExpressions.toSeq.map(colIdx)
    if (gb.exists(_.isEmpty)) return false
    val fs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(EavSource.CountStarAgg: EavSource.EavAgg)
      case c: Count if !c.isDistinct => colIdx(c.column).map(EavSource.CountColAgg)
      case m: Min => colIdx(m.column).map(EavSource.MinColAgg)
      case m: Max => colIdx(m.column).map(EavSource.MaxColAgg)
      case _ => None
    }
    if (fs.exists(_.isEmpty)) return false
    aggGroupBy = gb.flatten.toArray
    aggFuncs = fs.flatten.toArray
    aggregationPushed = true
    true
  }

  override def build(): Scan =
    if (aggregationPushed)
      new EavAggScan(transport, universe, chunkSize, pushed, aggGroupBy, aggFuncs, sample)
    else new EavScan(transport, universe, chunkSize, required, pushed, limit, topN, sample)
}

final case class EavChunk(recordIds: Array[String]) extends InputPartition

class EavScan(transport: EavTransport, universe: () => Seq[String], chunkSize: Int,
    required: StructType,
    pushed: Array[Filter], limit: Int = -1,
    topN: Array[(Int, Boolean)] = Array.empty,
    sample: Option[(Double, Double, Long)] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  /** Size/row estimates from the transport (here: file metadata; a REST
    * deployment would use the project's record-count endpoint). Without
    * this, DataSourceV2Relation falls back to "assume huge" and a small
    * extraction can never be the broadcast side of a join. Sample pushdown
    * scales the estimate by its fraction. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val fileBytes = transport.sizeHintBytes()
    private val frac = sample.map { case (lo, hi, _) => hi - lo }.getOrElse(1.0)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, (fileBytes * frac).toLong))
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** Runtime (DPP-style) id-set filter, delivered after the build side of a
    * selective join materializes. Whole chunks drop out of
    * [[planInputPartitions]] — at scale these are REST requests never
    * issued, the DSv2 analogue of dynamic partition pruning (the driver
    * re-plans partitions from the surviving id universe, so a 1000-chunk
    * extraction joined to a 3-participant cohort fetches ≤ 1 chunk). */
  private var runtimeIds: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("record_id"))

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case In("record_id", vs) => vs.map(String.valueOf).toSet
      case EqualTo("record_id", v) => Set(String.valueOf(v))
    }
    if (sets.nonEmpty) runtimeIds = Some(sets.reduce(_ intersect _))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-eav PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"PushedLimit: ${if (limit >= 0) limit else "none"}, " +
      s"PushedTopN: ${if (topN.nonEmpty)
        topN.map { case (i, asc) =>
          s"${EavSource.schema.fieldNames(i)} ${if (asc) "ASC" else "DESC"}"
        }.mkString("[", ", ", s"] LIMIT $limit") else "none"}, " +
      s"PushedSample: ${sample.map { case (lo, hi, _) => s"[$lo, $hi)" }.getOrElse("none")}, " +
      s"ReadSchema: ${required.catalogString}"

  /** The id universe (≙ `get_study_ids`, redcap-etl.py:137-161: a cheap
    * ids-only request, made once per table by [[EavTable]]) less any
    * runtime-filtered ids, then 1 partition per `chunkSize` ids. */
  override def planInputPartitions(): Array[InputPartition] = {
    val all = universe()
    val ids = runtimeIds.fold(all)(keep => all.filter(keep.contains))
    EavSource.chunks(ids, chunkSize)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new EavReaderFactory(transport, required, pushed, limit, topN, sample)
}

/** Scan with a pushed (partial) aggregation: one output row per group per
  * chunk. readSchema order is the V2 contract: group-by columns first, then
  * one column per aggregate (counts as BIGINT, min/max as the column type). */
class EavAggScan(transport: EavTransport, universe: () => Seq[String], chunkSize: Int,
    pushed: Array[Filter],
    groupBy: Array[Int], aggs: Array[EavSource.EavAgg],
    sample: Option[(Double, Double, Long)] = None) extends Scan with Batch {
  import EavSource._

  override def readSchema(): StructType = StructType(
    groupBy.map(i => EavSource.schema.fields(i)).toSeq ++
      aggs.zipWithIndex.map {
        case (CountStarAgg, i) => StructField(s"agg_${i}_count_star", LongType, nullable = false)
        case (CountColAgg(c), i) =>
          StructField(s"agg_${i}_count_${EavSource.schema.fieldNames(c)}", LongType, nullable = false)
        case (MinColAgg(c), i) =>
          StructField(s"agg_${i}_min_${EavSource.schema.fieldNames(c)}", StringType)
        case (MaxColAgg(c), i) =>
          StructField(s"agg_${i}_max_${EavSource.schema.fieldNames(c)}", StringType)
      })
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-eav PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"PushedAggregation: [${aggs.mkString(", ")}] " +
      s"GroupBy: [${groupBy.map(EavSource.schema.fieldNames(_)).mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    EavSource.chunks(universe(), chunkSize)
  override def createReaderFactory(): PartitionReaderFactory =
    new EavAggReaderFactory(transport, pushed, groupBy, aggs, sample)
}

class EavAggReaderFactory(transport: EavTransport, pushed: Array[Filter],
    groupBy: Array[Int], aggs: Array[EavSource.EavAgg],
    sample: Option[(Double, Double, Long)] = None) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EavAggPartitionReader(transport, partition.asInstanceOf[EavChunk], pushed,
      groupBy, aggs, sample)
}

/** Per-chunk grouped aggregation — the map-side combine running INSIDE the
  * fetch: the chunk's payload shrinks from its row count to its group
  * count before anything reaches Spark. */
class EavAggPartitionReader(transport: EavTransport, chunk: EavChunk,
    pushed: Array[Filter], groupBy: Array[Int], aggs: Array[EavSource.EavAgg],
    sample: Option[(Double, Double, Long)] = None)
    extends PartitionReader[InternalRow] {
  import EavSource._

  private def utf8Lt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  private val it: Iterator[InternalRow] = {
    val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Array[Any]]
    chunkRows(transport, chunk, pushed, sample).foreach { r =>
      val key = groupBy.map(r(_)).toSeq
      val acc = groups.getOrElseUpdate(key, aggs.map {
        case CountStarAgg | _: CountColAgg => 0L: Any
        case _ => null
      })
      var i = 0
      while (i < aggs.length) {
        aggs(i) match {
          case CountStarAgg => acc(i) = acc(i).asInstanceOf[Long] + 1L
          case CountColAgg(_) => acc(i) = acc(i).asInstanceOf[Long] + 1L // CSV strings non-null
          case MinColAgg(c) =>
            val v = r(c)
            if (acc(i) == null || utf8Lt(v, acc(i).asInstanceOf[String])) acc(i) = v
          case MaxColAgg(c) =>
            val v = r(c)
            if (acc(i) == null || utf8Lt(acc(i).asInstanceOf[String], v)) acc(i) = v
        }
        i += 1
      }
    }
    groups.iterator.map { case (key, acc) =>
      InternalRow.fromSeq(
        key.map(UTF8String.fromString) ++
          acc.map {
            case s: String => UTF8String.fromString(s)
            case other => other
          })
    }
  }
  private var current: InternalRow = _

  override def next(): Boolean = { val has = it.hasNext; if (has) current = it.next(); has }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

class EavReaderFactory(transport: EavTransport, required: StructType,
    pushed: Array[Filter], limit: Int, topN: Array[(Int, Boolean)],
    sample: Option[(Double, Double, Long)]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EavPartitionReader(transport, partition.asInstanceOf[EavChunk], required,
      pushed, limit, topN, sample)

  /** Vectorized path for plain scans (filters/sample/pruning still apply
    * inside the fetch). Limit/top-n scans stay row-based — their early
    * termination doesn't batch well. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    topN.isEmpty && limit < 0
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new EavColumnarPartitionReader(transport, partition.asInstanceOf[EavChunk],
      required, pushed, sample)
}

/** Batched reader: rows decode straight into OnHeapColumnVectors, 4096 per
  * ColumnarBatch — the scan feeds Spark's columnar pipeline and reaches
  * rows through one codegen'd ColumnarToRow, like the built-in parquet
  * vectorized reader (visible as ColumnarToRow in the plan). */
class EavColumnarPartitionReader(transport: EavTransport, chunk: EavChunk,
    required: StructType, pushed: Array[Filter],
    sample: Option[(Double, Double, Long)])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  private val capacity = 4096
  private val requiredIdx = required.fieldNames.map(EavSource.schema.fieldIndex)
  private val rows = EavSource.chunkRows(transport, chunk, pushed, sample)
  private val vectors = OnHeapColumnVector.allocateColumns(capacity, required)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  override def next(): Boolean = {
    if (!rows.hasNext) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < capacity && rows.hasNext) {
      val r = rows.next()
      var c = 0
      while (c < requiredIdx.length) {
        val bytes = r(requiredIdx(c)).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        vectors(c).putByteArray(n, bytes, 0, bytes.length)
        c += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    true
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}

class EavPartitionReader(transport: EavTransport, chunk: EavChunk,
    required: StructType, pushed: Array[Filter],
    limit: Int = -1, topN: Array[(Int, Boolean)] = Array.empty,
    sample: Option[(Double, Double, Long)] = None)
    extends PartitionReader[InternalRow] {

  /** The chunk's rows with the pushed per-chunk top-n or limit applied. */
  private def fetchChunk(): Iterator[Array[String]] = {
    val rows = EavSource.chunkRows(transport, chunk, pushed, sample)
    if (topN.nonEmpty) {
      // per-chunk ORDER BY … LIMIT under Spark's own binary string order
      // (UTF8String), so the partial top-n is an exact superset of the
      // global one even beyond ASCII
      val ord = new Ordering[Array[String]] {
        def compare(a: Array[String], b: Array[String]): Int = {
          var i = 0
          while (i < topN.length) {
            val (ci, asc) = topN(i)
            val c = UTF8String.fromString(a(ci)).compareTo(UTF8String.fromString(b(ci)))
            if (c != 0) return if (asc) c else -c
            i += 1
          }
          0
        }
      }
      rows.toSeq.sorted(ord).iterator.take(limit.max(0))
    } else if (limit >= 0) rows.take(limit)
    else rows
  }

  private val requiredIdx = required.fieldNames.map(EavSource.schema.fieldIndex)
  private val it = fetchChunk()
  private var current: Array[String] = _

  override def next(): Boolean = { val has = it.hasNext; if (has) current = it.next(); has }
  override def get(): InternalRow =
    InternalRow.fromSeq(requiredIdx.toSeq.map(i => UTF8String.fromString(current(i))))
  override def close(): Unit = ()
}
