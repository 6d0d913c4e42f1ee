package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dictionary-extraction entry point (SURVEY.md §3.2;
  * /root/reference/dictionary_extraction.py): metadata JSON → keep-column
  * projection → empty curation columns → curation upsert against the
  * existing CSV → ordered CSV out. Control-plane sized end to end, but
  * expressed as plans so it composes with everything else.
  */
object DictionaryJob {

  /** Columns kept in the output dictionary (extraction keeps the analytic
    * subset + curation columns; dictionary_extraction.py:48-61,76-81). */
  val keepColumns: Seq[String] = Seq(
    "form_name", "field_name", "field_type",
    "select_choices_or_calculations", "field_label",
    "text_validation_type_or_show_slider_number")

  val curationColumns: Seq[String] = Seq(
    "status", "status questions", "exclude_reason", "notes",
    "ontology_term", "restrict_to_event_list")

  /** S3: metadata scan — NDJSON/JSON array payload → DataFrame. */
  def readMetadataJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** Project to keep-columns (missing → null), add empty curation columns,
    * canonical order (dictionary_extraction.py:75-81). */
  def freshDictionary(metadata: DataFrame): DataFrame = {
    val present = metadata.columns.toSet
    val keeps = keepColumns.map(c =>
      (if (present(c)) col(c) else lit(null).cast("string")).as(c))
    val curations = curationColumns.map(c => lit(null).cast("string").as(c))
    // canonical order = the reference's column_order, which is exactly
    // Model.fieldMapColumns (dictionary_extraction.py:48-61,81)
    metadata.select(keeps ++ curations: _*)
      .select(Model.fieldMapColumns.map(c => col(s"`$c`")): _*)
  }

  /** Full job: fresh extraction upserted against the existing curated CSV
    * (may be absent on first run), written as a single CSV. */
  def run(spark: SparkSession, metadataJsonPath: String,
      existingCsvPath: Option[String], outPath: String): DataFrame = {
    val fresh = freshDictionary(readMetadataJson(spark, metadataJsonPath))
    // existence via Hadoop FS: java.io.File would be silently false for
    // s3a://... paths and the curation upsert would be skipped — losing
    // every human-entered status/note without an error.
    def exists(p: String): Boolean = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }
    val merged = existingCsvPath match {
      case Some(p) if exists(p) =>
        DictionaryMerge.upsert(fresh, FieldMap.load(spark, p))
      case _ => fresh
    }
    Sinks.csvSingle(merged, outPath)
    merged
  }
}

/** Driver-side preconditions (SURVEY.md S4;
  * /root/reference/redcap-etl.py:189-205): fail fast before building any
  * plan when the configured project doesn't match the live one. */
object Preconditions {
  def validateProject(expectedProjectId: String, actual: Map[String, String]): Unit = {
    val actualId = actual.getOrElse("project_id",
      throw new IllegalStateException("project info carries no project_id"))
    require(actualId == expectedProjectId,
      s"project_id mismatch: config=$expectedProjectId live=$actualId — refusing to extract")
  }
}
