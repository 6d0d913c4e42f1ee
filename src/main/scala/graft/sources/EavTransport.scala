package graft.sources

import java.io.IOException
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.HashSet

import org.apache.spark.sql.sources.{EqualTo, Filter, In}

/** Transport seam of the `graft-eav` connector: how raw EAV CSV rows reach
  * a partition reader. The connector's execution shape (id-universe scan →
  * 100-id chunks → one extraction request per chunk, filters evaluated
  * inside the fetch) is transport-independent; this trait is the single
  * point where the reference's REST POST happens
  * (/root/reference/redcap-etl.py:71-135).
  *
  * Implementations must be Serializable — a transport is captured by the
  * [[EavChunk]] reader factories and shipped to executors, so each task
  * issues ITS OWN chunk request (the driver never holds the extraction).
  *
  * Row-shape contract: every transport returns the full 6-column EAV CSV
  * plane ([[EavSource.schema]] order) regardless of pushdowns — in a
  * REDCap EAV export, `fields=` restricts WHICH field_name rows come back,
  * never the CSV columns, so local column indices stay valid. Filters are
  * a server-side hint ("return AT LEAST the matching rows"); callers
  * re-apply them locally, so a transport may ignore them.
  */
trait EavTransport extends Serializable {
  /** The distinct, sorted record-id universe (≙ `get_study_ids`,
    * redcap-etl.py:137-161): a cheap ids-only request, NOT a full fetch. */
  def recordIds(): Seq[String]

  /** One extraction request for one chunk of record ids (≙ one REST POST
    * with `records[i]=` params, redcap-etl.py:104-120). */
  def fetchChunk(recordIds: Array[String], filters: Array[Filter]): Seq[Array[String]]

  /** Payload size estimate for broadcast planning (bytes). */
  def sizeHintBytes(): Long
}

object EavTransport {
  /** Resolve a transport from DSv2 options: `url` (+ optional `token`,
    * `max_retries`, `timeout_ms`) selects HTTP; otherwise `path` reads a
    * local CSV standing in for the endpoint (zero-egress test mode). */
  def fromOptions(opts: Map[String, String]): EavTransport =
    opts.get("url") match {
      case Some(url) => HttpEavTransport(url,
        token = opts.getOrElse("token", ""),
        maxRetries = opts.get("max_retries").map(_.toInt).getOrElse(3),
        timeoutMs = opts.get("timeout_ms").map(_.toInt).getOrElse(30000))
      case None => FileEavTransport(opts.getOrElse("path",
        throw new IllegalArgumentException("graft-eav needs a path or url option")))
    }

  /** Parse a CSV body (an HTTP response or a local file): header line and
    * blank lines dropped, naive comma split (the EAV plane is our own
    * writer/stub — no embedded commas/quotes). */
  private[sources] def parseCsv(body: String): Seq[Array[String]] =
    dataLines(body).map(_.split(",", -1)).toList

  /** The lines [[parseCsv]] splits: all but the header, blank ones dropped. */
  private def dataLines(body: String): Iterator[String] =
    body.linesIterator.drop(1).filter(_.nonEmpty)

  /** A data line's id field, unsplit: the text before its first comma (the
    * whole line without one), i.e. the first field [[parseCsv]] yields. */
  private def idField(line: String): String = {
    val comma = line.indexOf(',')
    if (comma < 0) line else line.substring(0, comma)
  }

  /** [[parseCsv]]'s rows whose id is in `ids`, splitting only those. */
  private[sources] def parseCsvFor(body: String, ids: Set[String]): Seq[Array[String]] =
    dataLines(body).filter(l => ids.contains(idField(l))).map(_.split(",", -1)).toList

  /** The distinct, sorted ids of [[parseCsv]]'s rows, with no split. */
  private[sources] def csvIds(body: String): Seq[String] =
    dataLines(body).map(idField).distinct.toSeq.sorted
}

/** Local-file transport: the zero-egress stand-in. Chunk "requests" filter
  * the file by id — the same rows a server-side `records[i]=` restriction
  * would return. */
final case class FileEavTransport(path: String) extends EavTransport {
  /** The whole file, decoded as UTF-8; it parses like an HTTP body. */
  private def body(): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
    StandardCharsets.UTF_8)
  override def recordIds(): Seq[String] = EavTransport.csvIds(body())
  override def fetchChunk(recordIds: Array[String],
      filters: Array[Filter]): Seq[Array[String]] =
    EavTransport.parseCsvFor(body(), HashSet.from(recordIds))
  override def sizeHintBytes(): Long = new java.io.File(path).length()
}

/** HTTP transport: form-encoded POSTs against a REDCap-style endpoint,
  * JDK-only (HttpURLConnection — no extra dependencies).
  *
  * Error semantics follow the reference: a transport-level failure or a
  * non-2xx response ABORTS the job (redcap-etl.py:114-121 raises
  * SystemExit; the envelope uploader at :276-282 raises on a bad status) —
  * a partial extraction must never look like a complete one. On top of
  * the reference's abort-on-first-error we retry 5xx/connect/timeout
  * failures up to `maxRetries` times with exponential backoff (a
  * transient server error shouldn't kill a 1000-chunk extraction); 4xx
  * aborts immediately — the request itself is wrong and a retry cannot
  * fix it.
  */
final case class HttpEavTransport(url: String, token: String,
    maxRetries: Int, timeoutMs: Int) extends EavTransport {

  override def recordIds(): Seq[String] =
    // ids-only request (≙ get_study_ids): the driver plans chunks from
    // this, so it must stay cheap — fields= restricts the payload to ids.
    EavTransport.parseCsv(post(baseParams ++
      Seq("type" -> "flat", "fields" -> "record_id")))
      .map(_(0)).distinct.sorted

  override def fetchChunk(recordIds: Array[String],
      filters: Array[Filter]): Seq[Array[String]] = {
    val recs = recordIds.zipWithIndex.map { case (id, i) => s"records[$i]" -> id }
    EavTransport.parseCsv(post(
      baseParams ++ Seq("type" -> "eav") ++ recs ++ pushParams(filters)))
  }

  /** Size is unknown before the first fetch; report a conservative large
    * value upward so the planner never broadcasts blindly. */
  override def sizeHintBytes(): Long = Long.MaxValue

  private def baseParams: Seq[(String, String)] = Seq(
    "token" -> token, "content" -> "record", "format" -> "csv",
    "rawOrLabel" -> "raw", "returnFormat" -> "csv")

  /** Pushed predicates as request params: field_name restrictions map to
    * the EAV `fields=` param; the rest render as REDCap filterLogic
    * (`[field]='v'`, OR-expanded IN). Prefix matches stay local-only (no
    * REDCap operator for them). */
  private def pushParams(filters: Array[Filter]): Seq[(String, String)] = {
    val fieldSets = filters.collect {
      case EqualTo("field_name", v) => Seq(String.valueOf(v))
      case In("field_name", vs) => vs.toSeq.map(String.valueOf)
    }
    val fields = fieldSets.headOption
      .map(h => fieldSets.foldLeft(h.toSet)((acc, s) => acc intersect s.toSet))
      .map(s => Seq("fields" -> s.toSeq.sorted.mkString(",")))
      .getOrElse(Seq.empty)
    val terms = filters.collect {
      case EqualTo(a, v) if a != "field_name" => s"[$a]='${String.valueOf(v)}'"
      case In(a, vs) if a != "field_name" =>
        vs.map(v => s"[$a]='${String.valueOf(v)}'").mkString("(", " OR ", ")")
    }
    fields ++ (if (terms.isEmpty) Seq.empty
               else Seq("filterLogic" -> terms.mkString(" AND ")))
  }

  private def post(params: Seq[(String, String)]): String = {
    val body = params.map { case (k, v) =>
      URLEncoder.encode(k, "UTF-8") + "=" + URLEncoder.encode(v, "UTF-8")
    }.mkString("&").getBytes(StandardCharsets.UTF_8)
    var attempt = 0
    var last: Throwable = null
    while (attempt <= maxRetries) {
      attempt += 1
      try {
        return postOnce(body)
      } catch {
        case e: RetryableFailure => last = e; backoff(attempt)
        case e: java.net.ConnectException => last = e; backoff(attempt)
        case e: java.net.SocketTimeoutException => last = e; backoff(attempt)
      }
    }
    throw new IOException(
      s"EAV request to $url failed after $maxRetries retries", last)
  }

  private def postOnce(body: Array[Byte]): String = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
      conn.getOutputStream.write(body)
      val code = conn.getResponseCode
      val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val text = if (stream == null) ""
        else new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      if (code >= 200 && code < 300) text
      else if (code >= 500) throw new RetryableFailure(s"HTTP $code: $text")
      // non-2xx, non-retryable: abort the extraction (reference semantics —
      // never continue past a failed chunk)
      else throw new IOException(s"EAV request to $url failed: HTTP $code $text")
    } finally conn.disconnect()
  }

  private final class RetryableFailure(msg: String) extends IOException(msg)

  private def backoff(attempt: Int): Unit = {
    val ms = math.min(2000L, 100L << (attempt - 1)) // 100,200,400,…, cap 2 s
    try Thread.sleep(ms)
    catch { case _: InterruptedException => Thread.currentThread().interrupt() }
  }
}
