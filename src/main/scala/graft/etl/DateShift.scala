package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.{DictionaryLookup, LenientDate, LenientTimestamp}

/** Date de-identification (SURVEY.md J2/F1-F5;
  * /root/reference/dcc_transforms.py:34-174), three modes:
  *
  *  - `dobShift`: per-record shift = standard_date − date-of-birth; every
  *    date field moves by its record's shift, so intra-record deltas are
  *    preserved while absolute dates are anonymized (dcc_transforms.py:44-110)
  *  - `totalSeconds`: date → integer seconds between the standard date and
  *    the value (dcc_transforms.py:112-128)
  *  - `fixedShift`: date + constant seconds (dcc_transforms.py:130-174)
  *
  * Output granularity per field comes from the field map's date status
  * (Model.dateStatusGranularity), compiled on the driver
  * ([[FieldMap.Rules]]) into one `IN` predicate per status, so tagging a
  * row is a CASE in the row's own stage, not a join. Cleaned rows get
  * `kpmp_date_cleaned = true` and `kpmp_date_cleaned_type = <the full
  * status verbatim>` (dcc_transforms.py:103 stores date_type; the `[9:]`
  * slice applies only to transform METADATA granularity) — the PHI filter
  * admits exactly these.
  *
  * Divergences from the reference, chosen for distributed determinism and
  * documented per SURVEY §7.4:
  *  - duplicate dob rows: reference keeps the python-dict-insertion *last*;
  *    we keep the maximum parsed dob (deterministic under any partitioning).
  *  - unparseable dates: the reference crashes in two of three modes; we
  *    always leave the row uncleaned (→ dropped fail-closed by the PHI
  *    filter) and surface it on the error channel.
  *  - an unparseable `standard_date` fails the run on the driver, before
  *    any job, with an `IllegalArgumentException` naming the config key.
  *
  * All arithmetic is integer epoch-seconds — codegen-friendly, no UDFs.
  */
object DateShift {

  final case class Result(eav: DataFrame, errors: DataFrame)

  /** Render `ts` at the row's granularity — `date_format` needs a literal
    * pattern, so this is a 4-arm CASE on the row's date status (still
    * codegen'd). */
  private def renderByGran(ts: Column): Column =
    Model.dateStatusGranularity.toSeq.sorted.foldLeft(lit(null).cast("string")) {
      case (acc, (status, pattern)) =>
        when(col("__ctype") === status, date_format(ts, pattern)).otherwise(acc)
    }

  /** Tag each EAV row with its date status (`__ctype`, null = not a date
    * field): a CASE over the compiled map's date fields, one `IN` per
    * status. The cleaned-type IS the full status (dcc_transforms.py:103
    * stores date_type verbatim; the [9:] slice applies only to the
    * transform-metadata granularity field). */
  private def tagged(eav: DataFrame, fieldMap: FieldMap.Rules): DataFrame =
    eav.withColumn("__ctype", fieldMap.dates.groupMap(_._2)(_._1).toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("string")) { case (acc, (status, fields)) =>
        when(FieldMap.isIn(col("field_name"), fields), status).otherwise(acc)
      })

  /** Shared core: tag date fields, rewrite `value` with `rendered` where the
    * row parses (and `extraOk` holds), mark cleaned, surface failures.
    * Only date-field rows are parsed; every use of `__parsed` is guarded
    * by `isDate`. */
  private def applyShift(eav: DataFrame, fieldMap: FieldMap.Rules, rendered: Column,
      extraOk: Column = lit(true)): Result = {
    val isDate = col("__ctype").isNotNull
    val t = tagged(eav, fieldMap)
      .withColumn("__parsed", when(isDate, LenientDate.parseTs(col("value"))))
    val ok = isDate && col("__parsed").isNotNull && extraOk
    val out = t
      .withColumn("value", when(ok, rendered).otherwise(col("value")))
      .withColumn("kpmp_date_cleaned",
        when(ok, lit(true)).otherwise(col("kpmp_date_cleaned")))
      .withColumn("kpmp_date_cleaned_type",
        when(ok, col("__ctype")).otherwise(col("kpmp_date_cleaned_type")))
    val errors = t.filter(isDate && !(col("__parsed").isNotNull && extraOk))
      .select(col("record_id"), col("field_name"), col("value")).distinct()
    Result(dropInternal(out), errors)
  }

  /** `standard_date` as epoch seconds, parsed on the driver in the session
    * time zone. A null anchor would shift every date row to null (and the
    * PHI filter would admit it as cleaned) or drop it without an error, so
    * an unparseable value fails here. */
  private def anchorSeconds(eav: DataFrame, standardDate: String): Long = {
    val tz = eav.sparkSession.conf.get("spark.sql.session.timeZone")
    val micros = LenientTimestamp(Literal(standardDate), Some(tz)).eval()
    if (micros == null) throw new IllegalArgumentException(
      s"[dcc_transforms] standard_date: cannot parse '$standardDate' as a date")
    Math.floorDiv(micros.asInstanceOf[Long], 1000000L)
  }

  /** Mode 1: per-record dob shift. `standardDate` is the anchor all records
    * land on (ISO string, config `standard_date`).
    *
    * The shift table is built here, in one job: the executors parse the
    * `dobField` rows with the same expression as every date row, and the
    * driver keeps the max parsed dob per record — one entry per participant,
    * as the reference's `shift_dict` (dcc_transforms.py:44-49). The plane
    * then probes it per row as a broadcast dictionary
    * ([[graft.functions.DictionaryLookup]]), so the shift adds no join and
    * no exchange to the plane's stage. */
  def dobShift(eav: DataFrame, fieldMap: FieldMap.Rules, standardDate: String,
      dobField: String = "np_dob"): Result = {
    val anchor = anchorSeconds(eav, standardDate)
    // deterministic "winner" per record: max parsed dob (see scaladoc)
    val dobs = scala.collection.mutable.HashMap.empty[String, Long]
    // an unparsed dob is skipped here, not filtered in the plan, which
    // would parse each row twice (once in the pushed-down filter)
    eav.filter(col("field_name") === dobField)
      .select(col("record_id"), unix_timestamp(LenientDate.parseTs(col("value"))))
      .collect().foreach { r =>
        if (!r.isNullAt(1)) {
          val dob = r.getLong(1)
          dobs.updateWith(r.getString(0))(old => Some(old.fold(dob)(math.max(_, dob))))
        }
      }
    val shift = DictionaryLookup(eav.sparkSession, col("record_id"), "dob_shift",
      dobs.iterator.map { case (id, dob) => id -> (anchor - dob) }, LongType)
    val withShift = eav.withColumn("__shift_s", shift)
    val shifted = timestamp_seconds(unix_timestamp(col("__parsed")) + col("__shift_s"))
    applyShift(withShift, fieldMap,
      renderByGran(shifted), extraOk = col("__shift_s").isNotNull)
  }

  /** Mode 2: seconds-until-standard-date (integer string output). */
  def totalSeconds(eav: DataFrame, fieldMap: FieldMap.Rules, standardDate: String): Result = {
    val anchor = lit(anchorSeconds(eav, standardDate))
    val secs = (anchor - unix_timestamp(col("__parsed"))).cast("long")
    applyShift(eav, fieldMap, secs.cast("string"))
  }

  /** Mode 3: constant shift (config `shifting_seconds`). */
  def fixedShift(eav: DataFrame, fieldMap: FieldMap.Rules, shiftSeconds: Long): Result = {
    val shifted = timestamp_seconds(unix_timestamp(col("__parsed")) + lit(shiftSeconds))
    applyShift(eav, fieldMap, renderByGran(shifted))
  }

  private def dropInternal(df: DataFrame): DataFrame = {
    val internal = df.columns.filter(_.startsWith("__"))
    df.drop(internal.toIndexedSeq: _*)
  }
}
