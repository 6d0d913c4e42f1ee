package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md S11-S15).
  *
  * The reference's transmit path (/root/reference/redcap-etl.py:223-292)
  * POSTs 50k-row JSON envelopes sequentially and hard-aborts on failure.
  * Distributed replacement: rows are enveloped per partition (deterministic
  * chunk ids from the partition index), delivery runs in
  * `foreachPartition` so a task failure retries only its own chunks, and
  * the chunk-1 "carries transforms + metadata" special case
  * (redcap-etl.py:244-248) becomes a separate header document — ordered
  * sinks don't distribute.
  */
object Sinks {

  /** NDJSON file sink (S11; redcap-etl.py:216-221): one JSON doc per line. */
  def ndjson(df: DataFrame, path: String, mode: SaveMode = SaveMode.Append): Unit =
    df.write.mode(mode).json(path)

  /** Single-file CSV with header (S13/S14; redcap-etl.py:397). Debug /
    * control-plane outputs only — coalesce(1) serializes the write. */
  def csvSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Keyed JSON (S15; ipynb cell 13): `{key: {row...}}` per line. Spark map
    * keys cannot be null — a null key (e.g. from an upstream outer join)
    * renders as the literal "null" key instead of aborting the write. */
  def keyedJson(df: DataFrame, keyCol: String): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.filter(_ != keyCol).map(col): _*)
    val key = coalesce(col(keyCol).cast("string"), lit("null"))
    df.select(to_json(map(key, payload)).as("doc"))
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Envelope-level metadata fields the reference stamps on EVERY chunk
    * (redcap-etl.py:237-243): project id/type + one run timestamp. `None`
    * values render as JSON null, like the reference's dict(None). */
  private def metaFields(meta: Seq[(String, Option[String])]): String =
    meta.map { case (k, v) =>
      s"${jsonStr(k)}:${v.map(jsonStr).getOrElse("null")}"
    }.map("," + _).mkString

  /** Envelope rows into ≤`chunkRows`-sized JSON documents
    * `{"chunk_number":n,...meta...,"redcap_records":[...]}` (S12;
    * redcap-etl.py:225-248). Chunk ids are `(partitionId << 32) + localIndex
    * + 1` — unique (up to 2^32 chunks per partition — unreachable, a
    * partition is bounded by memory long before that) and deterministic
    * without any global coordination; starting at 1 because chunk_number 0
    * is reserved for the header document (receivers key on chunk_number).
    *
    * CONTRACT DIVERGENCE from the reference: chunk numbers are unique and
    * ascending-per-partition but NOT contiguous (the reference's 1,2,3,…
    * requires a global sequence — a serialization point). Receivers that
    * validate contiguity should use [[envelopesSequential]]. */
  def envelopes(df: DataFrame, chunkRows: Int = 50000,
      meta: Seq[(String, Option[String])] = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val extra = metaFields(meta)
    val json = df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("j")).as[String]
    json.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      it.grouped(chunkRows).zipWithIndex.map { case (chunk, i) =>
        val id = (pid << 32) + i + 1
        chunk.mkString(
          s"""{"chunk_number":$id$extra,"redcap_records":[""", ",", "]}")
      }
    }.toDF("envelope")
  }

  /** Reference-parity envelopes: contiguous chunk_number 1,2,3,… like
    * redcap-etl.py:231,249. zipWithIndex costs one extra job (it counts
    * partition sizes first) but stays fully distributed — use when the
    * receiver validates contiguity, [[envelopes]] otherwise. */
  def envelopesSequential(df: DataFrame, chunkRows: Int = 50000,
      meta: Seq[(String, Option[String])] = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val extra = metaFields(meta)
    val json = df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("j")).as[String]
    val bodies = json.mapPartitions { it =>
      it.grouped(chunkRows).map(_.mkString("[", ",", "]"))
    }
    bodies.rdd.zipWithIndex().map { case (body, i) =>
      s"""{"chunk_number":${i + 1}$extra,"redcap_records":$body}"""
    }.toDF("envelope")
  }

  /** Transmit: deliver each envelope via `post` (an HTTP POST in
    * production). Runs inside `foreachPartition`; a thrown exception fails
    * the task → Spark retries that partition → job aborts after max
    * retries, matching the reference's abort-on-non-2xx (:276-282). */
  def transmit(envelopes: DataFrame, post: String => Unit): Unit =
    envelopes.foreachPartition { (rows: Iterator[Row]) =>
      rows.foreach(r => post(r.getString(0)))
    }

  // one JDK client per executor JVM (objects aren't serialized — the
  // closure below references it statically)
  private lazy val httpClient = java.net.http.HttpClient.newHttpClient()

  /** Production `post` for [[transmit]]: JSON POST, abort on non-2xx
    * (the reference's requests.post + raise path, redcap-etl.py:270-282).
    * JDK HttpClient — no extra dependency. */
  def httpPost(endpoint: String)(body: String): Unit = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = httpClient.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(
        s"datalake POST failed: HTTP ${resp.statusCode()} from $endpoint")
  }

  private def jsonArr(df: Option[DataFrame]): String = df match {
    case None => "[]"
    case Some(d) =>
      // header payloads must be control-plane sized (transform DICTIONARIES,
      // REDCap metadata) — never per-record data; the collect() here is the
      // one legitimate driver materialization.
    d.select(to_json(struct(d.columns.toIndexedSeq.map(col): _*))).collect()
        .map(_.getString(0)).mkString("[", ",", "]")
  }

  /** The header document replacing the chunk-1 special case: per-transform
    * dictionaries + filtered extraction metadata travel once, not inside the
    * first data chunk. Keys match the reference's chunk-1 payload
    * (redcap-etl.py:244-248): `transform_metadata` is the namespace→rows
    * dict, `redcap_metadata_filtered` the kept-field metadata. Per-RECORD
    * transform output is data-plane and ships through [[envelopes]] like
    * everything else (the reference stuffed it into chunk 1, which only
    * worked because everything sat in driver RAM). */
  def headerDocument(transformMetadata: Seq[(String, DataFrame)],
      metadata: Option[DataFrame]): String = {
    val transforms = transformMetadata
      .map { case (ns, df) => s""""$ns":${jsonArr(Some(df))}""" }
      .mkString("{", ",", "}")
    s"""{"chunk_number":0,"transform_metadata":$transforms,""" +
      s""""redcap_metadata_filtered":${jsonArr(metadata)}}"""
  }
}
