package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
import graft.functions.DictionaryLookup

/** Plan-to-plan transform modules (SURVEY.md §2.11;
  * /root/reference/transform.py:4-39). Each transform takes the EAV plane
  * and returns a possibly-rewritten EAV plane, appended TransformRecord
  * rows under its namespace, and an error side-channel — the reference's
  * `process_records` 1→N generator contract plus its logging channel,
  * expressed as DataFrame → DataFrame (plan composition: nothing
  * materializes until the sink, except that `dob_shifting` collects its
  * shift table in one job when applied).
  */
final case class TransformOutput(
    eav: DataFrame,
    records: Option[DataFrame] = None,
    errors: Option[DataFrame] = None)

trait EtlTransform {
  def namespace: String
  def apply(eav: DataFrame): TransformOutput
  /** Per-transform schema/dictionary rows (the reference's
    * `get_transform_metadata`, transform.py:26-39) — shipped once in the
    * header document. None when the transform publishes no dictionary. */
  def metadata(spark: org.apache.spark.sql.SparkSession): Option[DataFrame] = None
}

/** Date de-id as a pipeline stage. Mode semantics follow the reference
  * exactly (dcc_transforms.py:34-174):
  *  - `dob_shifting` honors `inPlace` (config `dob_shift_inplace`):
  *    in-place rewrites `value` and marks the row cleaned so the PHI filter
  *    admits it; side-output leaves the plane untouched (uncleaned date
  *    rows drop fail-closed) and emits each date shifted BY THIS stage as
  *    a TransformRecord (pre-state snapshot excludes upstream-cleaned rows);
  *  - `total_seconds` and `date_shifting` ALWAYS side-output — the
  *    reference has no in-place branch for them (dcc_transforms.py:114-174),
  *    so `inPlace` is ignored for these modes.
  * Unparseable-date rows surface on the error channel in all shapes
  * (the reference logs them; dcc_transforms.py:57-73).
  */
final class DateShiftTransform(
    fieldMap: FieldMap.Rules,
    mode: String,                    // dob_shifting | total_seconds | date_shifting
    standardDate: String = "2010-01-01",
    shiftSeconds: Long = 0L,
    inPlace: Boolean = true,
    // the reference's data_namespace verbatim (dcc_transforms.py:12)
    val namespace: String = "TransformedDate") extends EtlTransform {
  def apply(eav: DataFrame): TransformOutput = {
    val pre = eav.withColumn("pre_cleaned_flag", coalesce(col("kpmp_date_cleaned"), lit(false)))
    val r = mode match {
      case "dob_shifting"  => DateShift.dobShift(pre, fieldMap, standardDate)
      case "total_seconds" => DateShift.totalSeconds(pre, fieldMap, standardDate)
      case "date_shifting" => DateShift.fixedShift(pre, fieldMap, shiftSeconds)
      case other => throw new IllegalArgumentException(s"unknown datetransform_type: $other")
    }
    val errors = Some(r.errors.withColumn("namespace", lit(namespace)))
    val effectiveInPlace = inPlace && mode == "dob_shifting"
    if (effectiveInPlace) TransformOutput(r.eav.drop("pre_cleaned_flag"), None, errors)
    else {
      val records = r.eav
        .filter(col("kpmp_date_cleaned") === true && !col("pre_cleaned_flag"))
        .select(
          col("record_id"),
          lit(namespace).as("namespace"),
          col("field_name"),
          col("value").as("field_value"))
      TransformOutput(eav, Some(records), errors)
    }
  }

  /** Field→granularity dictionary (the reference's get_transform_metadata,
    * dcc_transforms.py:176-190: granularity = `status[9:]`, and the
    * dictionary is published ONLY in total_seconds mode — other modes
    * return None, exactly like the reference). A date-status row with a
    * null `field_name` names no field, so it gets no dictionary row. */
  override def metadata(spark: org.apache.spark.sql.SparkSession): Option[DataFrame] =
    if (mode != "total_seconds") None
    else {
      import spark.implicits._
      Some(fieldMap.dates.collect { case (f, status) if f != null =>
        (f, status.stripPrefix("Transform")) }.toDF("field_name", "granularity"))
    }
}

/** Calc-variable enrichment (SURVEY.md J3+R2;
  * /root/reference/dcc_transforms.py:177-268): distinct participant ids
  * probe the wide de-id table; every matched calc column fans out to one
  * TransformRecord. The table is read once on the driver
  * ([[FieldMap.table]] for the config's file, one collect for a frame)
  * into a dictionary id → the record's (column, value) pairs, which each
  * id probes as a broadcast variable and `inline`s — no join, no exchange.
  * The id list itself is a `record_id` distinct the graft-eav scan answers
  * whole.
  */
final class CalcVariableTransform private[etl] (
    deid: () => FieldMap.Table,
    val namespace: String,
    idColumn: String,
    deidDataDictionary: Option[DataFrame]) extends EtlTransform {

  def this(
      deidWide: DataFrame,
      // the reference's data_namespace verbatim (dcc_transforms.py:190)
      namespace: String = "CalcVars",
      idColumn: String = "study_id",
      /** Curated de-id data dictionary CSV (config `deid_data_dictionary_file`)
        * published as this transform's header dictionary. */
      deidDataDictionary: Option[DataFrame] = None) =
    this(() => FieldMap.Table.of(deidWide), namespace, idColumn, deidDataDictionary)

  private lazy val table = deid()
  private val recordType = ArrayType(new StructType()
    .add("field_name", StringType, nullable = false)
    .add("field_value", StringType, nullable = false), containsNull = false)

  def apply(eav: DataFrame): TransformOutput = {
    // study_id → redcap_id, dcc_transforms.py:231-232; a duplicated
    // participant row can't fan out records — the first in file order wins
    // (the reference's dict build collapses duplicates)
    val id = table.index(idColumn)
    val valueCols = table.columns.indices.filter(_ != id)
    val calc = DictionaryLookup(eav.sparkSession, col("record_id"), "calc_variables",
      table.rows.iterator.map(r => r(id) -> valueCols.map(i =>
        // fillna('') applies to every column (dcc_transforms.py:233); the
        // values are Spark's cast(string), so numeric nulls become "" too
        Row(table.columns(i), Option(r(i)).getOrElse("")))),
      recordType)
    val records = eav.select(col("record_id")).distinct()
      .select(col("record_id"), lit(namespace).as("namespace"), inline(calc))
    TransformOutput(eav, Some(records))
  }

  /** The de-id data dictionary rows (the reference's get_transform_metadata,
    * dcc_transforms.py:272-278: read deid_data_dictionary_file, fillna("")).
    * fillna applies to every column — cast-then-coalesce so non-string
    * nulls become "" too, matching pandas' object-frame behavior. */
  override def metadata(spark: org.apache.spark.sql.SparkSession): Option[DataFrame] =
    deidDataDictionary.map { d =>
      d.select(d.columns.toIndexedSeq.map(c =>
        coalesce(col(s"`$c`").cast("string"), lit("")).as(c)): _*)
    }
}

/** Secondary-ID mapping (SURVEY.md J4; the reference's
  * dcc_transforms.py:271-306): every distinct participant id gets one
  * row, a missing mapping a null value (the reference emits None). The
  * mapping is a control table read once on the driver, as for
  * [[CalcVariableTransform]], and probed per id as a broadcast dictionary.
  */
final class SecondaryIdTransform private[etl] (
    mapping: () => FieldMap.Table,  // redcap_record_id, secondary_id
    val namespace: String,
    outputField: String) extends EtlTransform {

  def this(
      mapping: DataFrame,
      // the reference's data_namespace verbatim (dcc_transforms.py:282)
      namespace: String = "SecondaryID",
      outputField: String = "secondary_id") =
    this(() => FieldMap.Table.of(mapping), namespace, outputField)

  private lazy val table = mapping()

  def apply(eav: DataFrame): TransformOutput = {
    val (id, secondary) = (table.index("redcap_record_id"), table.index("secondary_id"))
    // first row per id wins, see CalcVariableTransform
    val secondaryId = DictionaryLookup(eav.sparkSession, col("record_id"), "secondary_ids",
      table.rows.iterator.map(r => r(id) -> r(secondary)), StringType)
    val records = eav.select(col("record_id")).distinct()
      .select(
        col("record_id"),
        lit(namespace).as("namespace"),
        lit(outputField).as("field_name"),
        secondaryId.as("field_value"))
    TransformOutput(eav, Some(records))
  }

  /** Static descriptor row (the reference's get_transform_metadata,
    * dcc_transforms.py:310-316). */
  override def metadata(spark: org.apache.spark.sql.SparkSession): Option[DataFrame] = {
    import spark.implicits._
    Some(Seq((outputField,
      "Secondary unique identifier for use in public data set"))
      .toDF("field_name", "description"))
  }
}

/** Orchestrator (SURVEY.md §3.1 stages 8-9;
  * /root/reference/redcap-etl.py:358-380,399-422). Transforms run strictly
  * before the PHI filter — the date transform marks rows the filter then
  * admits, and the dob-shift build needs `np_dob` rows the filter would
  * remove ("always restrict to the safe phi free list last",
  * redcap-etl.py:412-416).
  */
object Pipeline {
  final case class Result(
      kept: DataFrame,
      transformRecords: Option[DataFrame],
      unknownFields: DataFrame,
      uniqueFields: DataFrame,
      transformErrors: Option[DataFrame],
      /** (namespace, dictionary rows) per transform that publishes one —
        * shipped once in the header document (Sinks.headerDocument). */
      transformMetadata: Seq[(String, DataFrame)])

  def run(eav: DataFrame, fieldMap: FieldMap.Rules, transforms: Seq[EtlTransform]): Result = {
    // each transform reads the plane the one before it left
    val outs = transforms.scanLeft(TransformOutput(eav))((prev, t) => t(prev.eav))
    val phi = PhiFilter(outs.last.eav, fieldMap)
    val meta = transforms.flatMap(t => t.metadata(eav.sparkSession).map(t.namespace -> _))
    Result(phi.kept, outs.flatMap(_.records).reduceOption(_ unionByName _), phi.unknownFields,
      phi.uniqueFields, outs.flatMap(_.errors).reduceOption(_ unionByName _), meta)
  }
}
