package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.sources.IniConfig

/** Config-driven pipeline entry point — the reference's `main()` lifecycle
  * (SURVEY.md §3.1; /root/reference/redcap-etl.py:399-431) on the engine:
  *
  *   config → [validate project] → extract (graft-eav DSv2 or files) →
  *   transforms (per `dcc_transforms`) → PHI filter → envelopes + header →
  *   NDJSON out (the `--fake` path) or a caller-supplied POST.
  *
  * The field map is read and compiled on the driver ([[FieldMap.rules]]),
  * so the date shift and the PHI filter inline it as predicates instead of
  * joining it; the per-participant tables (dob shift, calc variables,
  * secondary ids) are driver dictionaries probed per row, so each envelope
  * stream is one stage. The `--fake` path writes its two envelope streams
  * at once; the POST path ([[EtlMain]]: header, then data, then transform chunks),
  * `writeout` and `pubDebug` stay in order.
  *
  * The `--fake` layout under the local directory `out_dir`: `envelopes/`
  * and `transform_envelopes/` (one envelope document per line in
  * `part-<partition>-<attempt>.txt` files, plus `_SUCCESS`) and
  * `header.json`. [[Sinks.writeText]] commits each stream directory on the
  * driver once all of its tasks have succeeded, so a failed stream leaves
  * its previous directory in place.
  *
  * A reference user keeps their INI sections (`default`, `dcc_transforms`,
  * `redcap`, `datalake`) and swaps the runtime.
  */
object EtlJob {

  final case class Output(
      pipeline: Pipeline.Result,
      envelopes: DataFrame,
      recordEnvelopes: Option[DataFrame],
      header: String)

  /** Read the EAV plane per config: `eav_source` = a path read through the
    * chunked graft-eav connector (CSV transport standing in for REST —
    * `chunk_size` ≙ the reference's 100-id batching). */
  def readEav(spark: SparkSession, config: IniConfig): DataFrame = {
    val path = config.resolved("redcap", "eav_source")
      .getOrElse(throw new IllegalArgumentException("config: [redcap] eav_source required"))
    val chunk = config.get("redcap", "chunk_size").map(_.toInt).getOrElse(100)
    import org.apache.spark.sql.functions._
    spark.read.format("graft-eav")
      .option("path", path).option("chunk_size", chunk).load()
      .withColumn("kpmp_date_cleaned", lit(null).cast("boolean"))
      .withColumn("kpmp_date_cleaned_type", lit(null).cast("string"))
  }

  /** ConfigParser-style boolean (getboolean accepts 1/yes/true/on). */
  private def asBool(v: String): Boolean =
    Set("1", "yes", "true", "on").contains(v.trim.toLowerCase)

  /** Build the transform sequence from `[dcc_transforms]` — the reference's
    * hardcoded do_transforms ordering (redcap-etl.py:358-380): date shift,
    * then calc variables, then secondary ids, each only if configured.
    * Presence checks use `get` on the section ONLY — Python's DEFAULTSECT is
    * uppercase 'DEFAULT', so a key under our lowercase [default] must not
    * activate a transform the reference would skip; `resolved` (with its
    * interpolation + default fallback) applies only to values known present. */
  def transformsFromConfig(spark: SparkSession, config: IniConfig,
      fieldMap: FieldMap.Rules): Seq[EtlTransform] = {
    def c(k: String): Option[String] =
      config.get("dcc_transforms", k).flatMap(_ => config.resolved("dcc_transforms", k))
    val date = c("datetransform_type").map { mode =>
      new DateShiftTransform(fieldMap, mode,
        standardDate = c("standard_date").getOrElse("2010-01-01"),
        shiftSeconds = c("shifting_seconds").map(_.toLong).getOrElse(0L),
        // reference: getboolean(..., fallback=False), dcc_transforms.py:34-36
        inPlace = c("dob_shift_inplace").exists(asBool))
    }
    // both control tables are read on the driver when the transform runs
    val calc = c("deid_data_file").map(p =>
      new CalcVariableTransform(() => FieldMap.table(spark, p), "CalcVars",
        config.resolved("redcap", "study_id_column").getOrElse("study_id"),
        // the transform's header dictionary (dcc_transforms.py:272-278)
        c("deid_data_dictionary_file").map(f => FieldMap.load(spark, f))))
    val secondary = c("secondary_id_file").map(p =>
      new SecondaryIdTransform(() => FieldMap.table(spark, p), "SecondaryID", "secondary_id"))
    Seq(date, calc, secondary).flatten
  }

  /** Full run. `fake=true` (the reference's `--fake`) writes envelopes as
    * NDJSON under `out_dir` instead of POSTing (`out_dir` is a local path:
    * one with a URI scheme fails before any job); `pubDebug=true` (the
    * reference's `--pub-debug`, redcap-etl.py:28,382-397,421-422) also
    * writes the transform records pivoted wide (record × field) as a
    * single human-inspectable CSV `debug-public` under `out_dir`;
    * `writeout=Some(path)` (the reference's `-w/--writeout`,
    * redcap-etl.py:29,216-221,261-262) additionally streams every
    * transmitted chunk document — header first, then data, then
    * per-transform — into ONE NDJSON file in the local directory `path`. */
  def run(spark: SparkSession, config: IniConfig,
      projectInfo: Map[String, String] = Map.empty,
      fake: Boolean = true,
      pubDebug: Boolean = false,
      writeout: Option[String] = None): Output = {
    // S4 precondition — fail fast before any plan executes
    config.get("redcap", "project_id").foreach { expected =>
      if (projectInfo.nonEmpty) Preconditions.validateProject(expected, projectInfo)
    }
    // the local outputs are written with java.nio: a URI fails here, not
    // after the envelope writes
    val outDir = config.resolved("default", "out_dir").filter(_ => fake)
      .map(Sinks.localPath(_, "[default] out_dir"))
    val writeoutDir = writeout.map(Sinks.localPath(_, "writeout"))
    val fieldMapPath = config.resolved("default", "field_map_file")
      .getOrElse(throw new IllegalArgumentException("config: field_map_file required"))
    val fieldMap = FieldMap.rules(spark, fieldMapPath)
    val eav = readEav(spark, config)
    val transforms = transformsFromConfig(spark, config, fieldMap)
    val result = Pipeline.run(eav, fieldMap, transforms)

    val chunkRows = config.get("datalake", "chunk_rows").map(_.toInt).getOrElse(50000)
    // every chunk carries project id/type + one run timestamp, like the
    // reference's transmit() (redcap-etl.py:231-243): id from the live
    // project info when provided (get_project_info), else the config value
    val envelopeMeta: Seq[(String, Option[String])] = Seq(
      "redcap_project_id" ->
        projectInfo.get("project_id").orElse(config.get("redcap", "project_id")),
      "redcap_project_type" -> config.resolved("redcap", "project_type"),
      "extraction_run_datetime" -> Some(java.time.LocalDateTime.now().toString))
    val envelopes = Sinks.envelopes(result.kept, chunkRows, envelopeMeta)
    // per-record transform output is DATA-plane (scales with participants) —
    // it ships as its own envelope stream, never collected into the header
    val recordEnvelopes =
      result.transformRecords.map(Sinks.envelopes(_, chunkRows, envelopeMeta))
    // header = control-plane only: every transform's dictionary, plus —
    // when [redcap] include_metadata is set (getboolean fallback False,
    // redcap-etl.py:232-234) — the project metadata filtered to fields that
    // actually survived into the kept plane (filtered_metadata(), :207-214)
    val includeMetadata =
      config.get("redcap", "include_metadata").exists(asBool)
    val filteredMetadata =
      if (!includeMetadata) None
      else config.resolved("redcap", "metadata_source").map { p =>
        DictionaryJob.readMetadataJson(spark, p)
          .join(result.uniqueFields, Seq("field_name"), "left_semi")
      }
    val header = Sinks.headerDocument(result.transformMetadata, filteredMetadata)
    import spark.implicits._
    outDir.foreach { out =>
      // raw envelope documents, one per line (the reference's write_out
      // emits the chunk JSON verbatim — a json() write would re-wrap it);
      // neither stream reads the other, so both are written at once
      concurrently(
        Sinks.writeText(envelopes, out.resolve("envelopes")),
        recordEnvelopes.foreach(e =>
          Sinks.writeText(e, out.resolve("transform_envelopes"))))
      java.nio.file.Files.writeString(out.resolve("header.json"), header)
    }
    if (pubDebug) {
      for {
        out <- config.resolved("default", "out_dir")
        records <- result.transformRecords
      } Sinks.csvSingle(Reshape.pivotEav(records), s"$out/debug-public")
    }
    writeoutDir.foreach { path =>
      import org.apache.spark.sql.functions.{col, lit}
      // one file, reference append order: header doc, data chunks,
      // transform chunks (a debug sink — coalesce(1) is the point)
      val tag = (df: Dataset[_], o: Int) =>
        df.select(lit(o).as("o"), col(df.columns.head).as("value"))
      val all = (tag(Seq(header).toDF("value"), 0) +: tag(envelopes, 1) +:
        recordEnvelopes.map(tag(_, 2)).toSeq).reduce(_ unionByName _)
      Sinks.writeText(all.coalesce(1).sortWithinPartitions("o").select("value").as[String], path)
    }
    Output(result, envelopes.toDF("envelope"),
      recordEnvelopes.map(_.toDF("envelope")), header)
  }

  /** Runs `main` on this thread while a thread started here runs `side`;
    * returns once both have ended, rethrowing the first failure with the
    * other one suppressed. A thread started by the caller inherits its
    * Spark local properties (job group, job tags, scheduler pool), which a
    * pooled thread would not, so both halves' jobs belong to the call. */
  private[etl] def concurrently(main: => Unit, side: => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    def attempt(body: => Unit): Unit = try body catch {
      case e: Throwable => if (!failure.compareAndSet(null, e)) failure.get.addSuppressed(e)
    }
    val thread = new Thread(() => attempt(side), "etl-side-write")
    thread.start()
    attempt(main)
    thread.join()
    Option(failure.get).foreach(e => throw e)
  }
}
