package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, LinkOption, Path, Paths, StandardOpenOption}

import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

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
  *
  * The `--fake` path's envelope directories and `-w`'s file are written by
  * [[writeText]]: each task writes its own partition with `java.nio`, and
  * the driver commits the files once every task has succeeded — no Hadoop
  * file writer, so no per-task Hadoop conf, `.crc` files or `_temporary`
  * tree. Its outputs are local directories ([[localPath]]).
  */
object Sinks {

  /** NDJSON file sink (S11; redcap-etl.py:216-221): one JSON doc per line. */
  def ndjson(df: DataFrame, path: String, mode: SaveMode = SaveMode.Append): Unit =
    df.write.mode(mode).json(path)

  /** A config value naming a local output path. A value with a URI scheme
    * (`hdfs://…`, `s3a://…`, `file:…`) is refused with an error naming
    * `what`: [[writeText]] and the header write go through `java.nio`. */
  private[etl] def localPath(value: String, what: String): Path = {
    if ("^[A-Za-z][A-Za-z0-9+.-]*:".r.findPrefixOf(value).isDefined)
      throw new IllegalArgumentException(
        s"config: $what must be a local path, not a URI: $value")
    Paths.get(value).toAbsolutePath
  }

  /** The name of one partition's file and the partition it holds. */
  private[etl] final case class Part(partition: Int, file: String)

  /** Writes `lines` as text into the directory `dir`, replacing it: every
    * line as its UTF-8 bytes and `\n` (a null line as an empty one), as
    * Spark's text writer does; one `part-<partition>-<attempt>.txt` per
    * non-empty partition, and `_SUCCESS`.
    *
    * One `collect` runs it, so it is a tracked SQL execution: each task
    * writes its partition into a hidden staging directory beside `dir` and
    * returns its file's name. Once every task has succeeded, [[publish]]
    * moves exactly those files into place; a failed write leaves the
    * previous `dir` as it was and drops the staging directory. An existing
    * `dir` must be a directory: a file or a link there is refused, not
    * replaced. */
  private[etl] def writeText(lines: Dataset[String], dir: Path): Unit = {
    import lines.sparkSession.implicits._
    if (Files.exists(dir, LinkOption.NOFOLLOW_LINKS) &&
        !Files.isDirectory(dir, LinkOption.NOFOLLOW_LINKS))
      throw new FileAlreadyExistsException(dir.toString, null,
        "exists and is not a directory")
    Files.createDirectories(dir.getParent)
    val staging = Files.createDirectory(beside(dir, "staging"))
    try {
      val into = staging.toString
      val parts = lines.mapPartitions(writePart(_, into)).collect()
      publish(staging, parts.map(_.file).toSeq, dir)
    } finally {
      // best effort: a lost speculative attempt may still be writing here,
      // and a cleanup error must not hide the write's own
      try deleteTree(staging) catch { case NonFatal(_) => }
    }
  }

  /** Task side of [[writeText]]: the partition's lines into a file of its
    * own in `staging` (none for an empty partition), counted in the task's
    * output metrics. */
  private def writePart(lines: Iterator[String], staging: String): Iterator[Part] =
    if (!lines.hasNext) Iterator.empty
    else {
      val ctx = TaskContext.get()
      val name = f"part-${ctx.partitionId()}%05d-${ctx.taskAttemptId()}.txt"
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(
        Paths.get(staging, name), StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)
      var records, bytes = 0L
      try lines.foreach { line =>
        if (line != null) {
          val b = line.getBytes(UTF_8)
          out.write(b)
          bytes += b.length
        }
        out.write('\n')
        bytes += 1
        records += 1
      } finally out.close()
      Bridge.setOutputMetrics(records, bytes)
      Iterator.single(Part(ctx.partitionId(), name))
    }

  /** Driver side of [[writeText]]: moves the named `files` (and no other)
    * out of `staging` into a fresh directory beside `dir`, writes
    * `_SUCCESS` there, then swaps it in for `dir` and drops the previous
    * output, which stays in place if anything up to the swap fails. */
  private[etl] def publish(staging: Path, files: Seq[String], dir: Path): Unit = {
    val fresh = Files.createDirectory(beside(dir, "new"))
    try {
      files.foreach(f => Files.move(staging.resolve(f), fresh.resolve(f)))
      Files.createFile(fresh.resolve("_SUCCESS"))
    } catch { case e: Throwable => deleteTree(fresh); throw e }
    val previous = Some(beside(dir, "old")).filter(_ =>
      Files.exists(dir, LinkOption.NOFOLLOW_LINKS))
    previous.foreach(Files.move(dir, _))
    try Files.move(fresh, dir) catch {
      case e: Throwable => previous.foreach(Files.move(_, dir)); deleteTree(fresh); throw e
    }
    previous.foreach(deleteTree)
  }

  /** A fresh hidden name beside `dir`, which Spark's file listing skips. */
  private def beside(dir: Path, tag: String): Path =
    dir.resolveSibling(s".${dir.getFileName}.$tag-${java.util.UUID.randomUUID}")

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally all.close()
    }

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
    * validate contiguity should use [[envelopesSequential]].
    *
    * A `Dataset[String]`, so [[writeText]] reads the strings the chunking
    * task made without decoding and re-encoding them. */
  def envelopes(df: DataFrame, chunkRows: Int = 50000,
      meta: Seq[(String, Option[String])] = Nil): Dataset[String] = {
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
    }
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
