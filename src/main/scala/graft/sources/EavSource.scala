package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
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
  *    fetch, everything else stays a residual Spark filter;
  *  - `SupportsPushDownAggregates` for group-by-only aggregations (a
  *    `distinct` id list): each chunk returns its distinct keys, and a key
  *    with `record_id` needs no aggregate above the scan.
  *
  * The schema is fixed ([[EavSource.schema]]); a user-specified read schema
  * is refused at `load()`, and the source has no write path.
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
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EavTable(properties.asScala.toMap)
}

object EavSource {
  /** Observability counter: number of chunk fetches actually issued (one
    * per [[EavChunk]] reader opened, ≙ one REST request). Test and bench
    * introspection — meaningful in local mode where executors share the
    * JVM. */
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
    // it residual would veto the aggregate push
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case _ => false
  }

  /** The id universe cut into `chunkSize`-id partitions (≙ the reference's
    * 100-ids-per-request loop). The universe is distinct
    * ([[EavTransport.recordIds]]), so each id lands in exactly one chunk,
    * which a complete aggregate push relies on. */
  private[sources] def chunks(ids: Seq[String], chunkSize: Int): Array[InputPartition] =
    ids.grouped(chunkSize).map(g => EavChunk(g.toArray): InputPartition).toArray

  /** ≙ one REST POST for this chunk's ids with fields= and filterLogic=
    * (redcap-etl.py:71-135): one transport request, counted in
    * [[chunkFetches]], with the id set and pushed filters re-applied
    * locally (transports may over-return — the pushes are hints, not
    * guarantees). */
  private[sources] def chunkRows(transport: EavTransport, chunk: EavChunk,
      pushed: Array[Filter]): Iterator[Array[String]] = {
    chunkFetches.incrementAndGet()
    val idSet = chunk.recordIds.toSet
    transport.fetchChunk(chunk.recordIds, pushed).iterator
      .filter(r => idSet.contains(r(0)))
      .filter(r => pushed.forall(matches(r, _)))
  }
}

class EavTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    s"graft-eav(${props.get("url").orElse(props.get("path")).getOrElse("?")})"
  override def schema(): StructType = EavSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
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
    * request. */
  private val universes =
    new java.util.concurrent.ConcurrentHashMap[Map[String, String], Seq[String]]()
}

class EavScanBuilder(transport: EavTransport, chunkSize: Int,
    universe: () => Seq[String]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = EavSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var hadResidual = false
  private var groupBy: Option[Array[Int]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, residual) = filters.partition(EavSource.isPushable)
    pushed = p
    hadResidual = residual.nonEmpty
    residual // Spark re-applies these; pushed ones are handled in the fetch
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** ≙ a server-side distinct in the extraction request: a group-by-only
    * aggregation (a distinct id list) on source columns makes each chunk
    * return its distinct keys instead of its raw rows. Aggregate functions
    * decline, and so do residual filters, which can't run above a
    * pre-aggregated fetch. */
  override def pushAggregation(agg: Aggregation): Boolean =
    groupColumns(agg).exists { gb => groupBy = Some(gb); true }

  /** COMPLETE push when the keys include `record_id`: the chunks partition
    * the id universe, so a key never occurs in two chunks and the chunks'
    * distinct keys are already the distinct — Spark drops its aggregate.
    * Other keys (`[redcap_event_name, field_name]`) repeat across chunks,
    * so Spark keeps the cross-chunk aggregate on top. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    groupColumns(agg).exists(_.contains(EavSource.schema.fieldIndex("record_id")))

  /** The group-by columns' positions, when the aggregation can be pushed. */
  private def groupColumns(agg: Aggregation): Option[Array[Int]] = {
    if (hadResidual || agg.aggregateExpressions.nonEmpty) return None
    val gb = agg.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 &&
          EavSource.schema.fieldNames.contains(r.fieldNames.head) =>
        Some(EavSource.schema.fieldIndex(r.fieldNames.head))
      case _ => None
    }
    if (gb.exists(_.isEmpty)) None else Some(gb.flatten.toArray)
  }

  override def build(): Scan = groupBy match {
    case Some(gb) => new EavAggScan(transport, universe, chunkSize, pushed, gb)
    case None => new EavScan(transport, universe, chunkSize, required, pushed)
  }
}

final case class EavChunk(recordIds: Array[String]) extends InputPartition

class EavScan(transport: EavTransport, universe: () => Seq[String], chunkSize: Int,
    required: StructType, pushed: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics {

  /** Size/row estimates from the transport (here: file metadata; a REST
    * deployment would use the project's record-count endpoint). Without
    * this, DataSourceV2Relation falls back to "assume huge" and a small
    * extraction can never be the broadcast side of a join. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val fileBytes = transport.sizeHintBytes()
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, fileBytes))
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-eav PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.catalogString}"

  /** The id universe (≙ `get_study_ids`, redcap-etl.py:137-161: a cheap
    * ids-only request, made once per table by [[EavTable]]), then 1
    * partition per `chunkSize` ids. */
  override def planInputPartitions(): Array[InputPartition] =
    EavSource.chunks(universe(), chunkSize)
  override def createReaderFactory(): PartitionReaderFactory =
    new EavReaderFactory(transport, required, pushed)
}

/** Scan with a pushed group-by-only aggregation: each chunk's distinct
  * group-by keys, in the group-by columns' order (the V2 readSchema
  * contract). */
class EavAggScan(transport: EavTransport, universe: () => Seq[String], chunkSize: Int,
    pushed: Array[Filter], groupBy: Array[Int]) extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(groupBy.map(i => EavSource.schema.fields(i)).toSeq)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-eav PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"PushedAggregation: [] GroupBy: [${groupBy.map(EavSource.schema.fieldNames(_)).mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    EavSource.chunks(universe(), chunkSize)
  override def createReaderFactory(): PartitionReaderFactory =
    new EavAggReaderFactory(transport, pushed, groupBy)
}

class EavAggReaderFactory(transport: EavTransport, pushed: Array[Filter],
    groupBy: Array[Int]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EavAggPartitionReader(transport, partition.asInstanceOf[EavChunk], pushed, groupBy)
}

/** Per-chunk distinct keys — the map-side combine running INSIDE the
  * fetch: the chunk's payload shrinks from its row count to its key count
  * before anything reaches Spark. Keys come out in first-seen order. */
class EavAggPartitionReader(transport: EavTransport, chunk: EavChunk,
    pushed: Array[Filter], groupBy: Array[Int])
    extends PartitionReader[InternalRow] {

  private val it: Iterator[InternalRow] =
    EavSource.chunkRows(transport, chunk, pushed)
      .map(r => groupBy.toSeq.map(r(_))).distinct
      .map(key => InternalRow.fromSeq(key.map(UTF8String.fromString)))
  private var current: InternalRow = _

  override def next(): Boolean = { val has = it.hasNext; if (has) current = it.next(); has }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Plain scans read columnar batches only: Spark plans a ColumnarToRow
  * over every non-empty scan, so the row reader is never asked for. */
class EavReaderFactory(transport: EavTransport, required: StructType,
    pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft-eav scans read columnar batches")
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new EavColumnarPartitionReader(transport, partition.asInstanceOf[EavChunk],
      required, pushed)
}

/** Batched reader: rows decode straight into OnHeapColumnVectors, 4096 per
  * ColumnarBatch — the scan feeds Spark's columnar pipeline and reaches
  * rows through one codegen'd ColumnarToRow, like the built-in parquet
  * vectorized reader (visible as ColumnarToRow in the plan). Filters and
  * pruning apply inside the fetch. */
class EavColumnarPartitionReader(transport: EavTransport, chunk: EavChunk,
    required: StructType, pushed: Array[Filter])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  private val capacity = 4096
  private val requiredIdx = required.fieldNames.map(EavSource.schema.fieldIndex)
  private val rows = EavSource.chunkRows(transport, chunk, pushed)
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
