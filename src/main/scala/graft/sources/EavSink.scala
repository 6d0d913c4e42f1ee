package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructType}

/** DataSourceV2 WRITE path of the `graft-eav` connector: the reference's
  * chunked-envelope upload loop (redcap-etl.py:226-282 — JSON envelopes
  * `{"chunk_number":…,"redcap_records":[…]}` POSTed one per chunk, abort
  * on failure) as a first-class V2 `BatchWrite`, so
  * `df.write.format("graft-eav").option("url", …).save()` ships a frame
  * the same way `spark.read.format("graft-eav")` ingests one.
  *
  * Input contract: exactly ONE string column, each row one JSON record
  * (build with `to_json(struct(...))`) — the writer only chunks and
  * envelopes; record shape belongs to the caller (same split as
  * `etl/Sinks.envelopes` + `transmit`).
  *
  * Exactly-once story (the V2 commit protocol mapped onto a non-
  * transactional receiver):
  *  - chunk ids are DETERMINISTIC — `(partitionId << 32) + seq` — so a
  *    retried task re-POSTs the SAME ids and an idempotent receiver
  *    (keyed on chunk_number, as the reference's lake is) converges;
  *  - data chunks flow during `write()` (streaming, nothing buffered
  *    beyond one chunk), the driver POSTs a terminal MANIFEST envelope
  *    (`"manifest":true`, totals) only in `BatchWrite.commit` — a
  *    receiver treats the load as complete exactly when the manifest
  *    arrives, so an aborted job (no manifest) is distinguishable from a
  *    committed one no matter which chunks landed;
  *  - a non-2xx response throws → task fails → Spark retries → job
  *    aborts after max retries (the reference's abort-on-failure,
  *    :276-282).
  *
  * Transports: `url` POSTs JSON (JDK HttpClient); `path` writes one file
  * per envelope (`chunk_<id>.json`, overwrite-idempotent) — the same
  * local stand-in the read side uses.
  */
object EavSink {
  /** One delivery seam for both the task writers and the driver manifest. */
  private[sources] def poster(opts: Map[String, String]): String => Unit =
    opts.get("url") match {
      case Some(url) => body => graft.etl.Sinks.httpPost(url)(body)
      case None =>
        val dir = opts.getOrElse("path",
          throw new IllegalArgumentException("graft-eav write needs url or path"))
        body => {
          // chunk id doubles as the file name → retries overwrite, never dup
          val id = body.split(":", 3)(1).takeWhile(c => c.isDigit || c == '-')
          val d = new java.io.File(dir); d.mkdirs()
          java.nio.file.Files.write(
            new java.io.File(d, s"chunk_$id.json").toPath,
            body.getBytes(StandardCharsets.UTF_8))
        }
    }
}

class EavWriteBuilder(opts: Map[String, String], info: LogicalWriteInfo)
    extends WriteBuilder {
  override def build(): Write = {
    val schema = info.schema()
    require(schema.fields.length == 1 && schema.fields.head.dataType == StringType,
      s"graft-eav write takes exactly one STRING column of JSON records " +
        s"(use to_json(struct(...))); got ${schema.catalogString}")
    new EavWrite(opts, schema)
  }
}

final case class EavCommitMessage(partitionId: Int, nChunks: Long, nRows: Long)
  extends WriterCommitMessage

class EavWrite(opts: Map[String, String], schema: StructType)
    extends Write with BatchWrite {
  override def toBatch: BatchWrite = this

  private def chunkRows: Int = opts.get("chunk_rows").map(_.toInt).getOrElse(50000)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new EavWriterFactory(opts, chunkRows)

  /** The manifest IS the commit: receivers gate on it. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: EavCommitMessage => m }
    val body = s"""{"chunk_number":0,"manifest":true,""" +
      s""""n_chunks":${ms.map(_.nChunks).sum},"n_rows":${ms.map(_.nRows).sum}}"""
    EavSink.poster(opts)(body)
  }

  /** Nothing to roll back: posted chunks are ids an idempotent receiver
    * overwrites on the next attempt; without a manifest they are garbage
    * by contract. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class EavWriterFactory(opts: Map[String, String], chunkRows: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new EavDataWriter(partitionId, EavSink.poster(opts), chunkRows)
}

/** Streams rows into fixed-size envelopes; holds at most one chunk. Chunk
  * ids key on partitionId, NOT taskId, so a retried task reproduces the
  * identical envelope stream. */
class EavDataWriter(partitionId: Int, post: String => Unit, chunkRows: Int)
    extends DataWriter[InternalRow] {
  private val buf = new util.ArrayList[String](chunkRows.min(1 << 16))
  private val base = partitionId.toLong << 32
  private var seq = 0L
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    buf.add(record.getUTF8String(0).toString)
    rows += 1
    if (buf.size() >= chunkRows) flush()
  }

  private def flush(): Unit = {
    if (buf.isEmpty) return
    seq += 1
    val id = base + seq
    val sb = new java.lang.StringBuilder(64 + buf.size() * 32)
    sb.append(s"""{"chunk_number":$id,"redcap_records":[""")
    var i = 0
    while (i < buf.size()) {
      if (i > 0) sb.append(',')
      sb.append(buf.get(i)); i += 1
    }
    sb.append("]}")
    post(sb.toString)
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    EavCommitMessage(partitionId, seq, rows)
  }
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}
