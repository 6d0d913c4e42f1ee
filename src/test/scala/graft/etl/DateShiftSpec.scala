package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Date shift semantics (/root/reference/dcc_transforms.py:34-174): all 3
  * modes, 4 granularities, dedup quirk, unparseable-date error channel. */
class DateShiftSpec extends SparkSpec {
  import spark.implicits._

  private val fieldMap = Seq(
    ("visit_year",  "TransformDateYear"),
    ("visit_date",  "TransformDate"),
    ("visit_min",   "TransformDateTime"),
    ("visit_sec",   "TransformDateTimeSeconds"),
    ("free_text",   "Include")
  ).toDF("field_name", "status")

  private def eav(rows: (String, String, String)*): DataFrame =
    rows.toSeq.toDF("record_id", "field_name", "value")
      .selectExpr("record_id", "'' AS redcap_event_name",
        "'' AS redcap_repeat_instrument", "'' AS redcap_repeat_instance",
        "field_name", "value",
        "CAST(NULL AS BOOLEAN) AS kpmp_date_cleaned",
        "CAST(NULL AS STRING) AS kpmp_date_cleaned_type")

  private def valuesOf(df: DataFrame): Map[(String, String), String] =
    df.select("record_id", "field_name", "value").as[(String, String, String)]
      .collect().map { case (r, f, v) => (r, f) -> v }.toMap

  test("dobShift: all four granularities, deltas preserved") {
    // dob 2000-01-01, standard 2010-01-01 → +10y shift (incl. 2 leap days)
    val in = eav(
      ("r1", "np_dob",     "2000-01-01"),
      ("r1", "visit_year", "2001-06-15"),
      ("r1", "visit_date", "2001-06-15"),
      ("r1", "visit_min",  "2001-06-15 10:30:45"),
      ("r1", "visit_sec",  "2001-06-15T10:30:45"),
      ("r1", "free_text",  "not a date"))
    val r = DateShift.dobShift(in, fieldMap, "2010-01-01")
    val v = valuesOf(r.eav)
    // 2001-06-15 + 3653 days (2000-01-01→2010-01-01 incl. 3 leap days) = 2011-06-16
    assert(v(("r1", "visit_date")) == "2011-06-16")
    assert(v(("r1", "visit_year")) == "2011")
    assert(v(("r1", "visit_min")) == "2011-06-16 10:30")
    assert(v(("r1", "visit_sec")) == "2011-06-16 10:30:45")
    assert(v(("r1", "free_text")) == "not a date") // untouched
    // flags set only on cleaned rows
    val cleaned = r.eav.filter("kpmp_date_cleaned = true")
      .select("field_name").as[String].collect().toSet
    assert(cleaned == Set("visit_year", "visit_date", "visit_min", "visit_sec"))
    // the cleaned-type is the FULL status verbatim (dcc_transforms.py:103)
    val types = r.eav.filter("kpmp_date_cleaned = true")
      .select("kpmp_date_cleaned_type").as[String].collect().toSet
    assert(types == Set("TransformDateYear", "TransformDate",
      "TransformDateTime", "TransformDateTimeSeconds"))
  }

  test("dobShift: duplicate dob → deterministic max wins; missing dob → uncleaned") {
    val in = eav(
      ("r1", "np_dob", "2000-01-01"),
      ("r1", "np_dob", "1999-01-01"),
      ("r1", "visit_date", "2001-06-15"),
      ("r2", "visit_date", "2001-06-15")) // no dob row
    val r = DateShift.dobShift(in, fieldMap, "2010-01-01")
    val v = valuesOf(r.eav)
    assert(v(("r1", "visit_date")) == "2011-06-16") // max dob = 2000-01-01
    assert(v(("r2", "visit_date")) == "2001-06-15") // unshifted
    val errs = r.errors.select("record_id").as[String].collect().toSet
    assert(errs == Set("r2"))
  }

  test("unparseable date → row untouched + error channel; never crash") {
    val in = eav(
      ("r1", "np_dob", "2000-01-01"),
      ("r1", "visit_date", "junk-date"))
    val r = DateShift.dobShift(in, fieldMap, "2010-01-01")
    val v = valuesOf(r.eav)
    assert(v(("r1", "visit_date")) == "junk-date")
    assert(r.errors.count() == 1)
    // fail-closed downstream: the PHI filter must drop the uncleaned row
    val kept = PhiFilter(r.eav, fieldMap).kept
      .select("field_name").as[String].collect().toSet
    assert(!kept.contains("visit_date"))
  }

  test("totalSeconds: integer seconds to standard date") {
    val in = eav(("r1", "visit_sec", "2009-12-31 23:59:00"))
    val r = DateShift.totalSeconds(in, fieldMap, "2010-01-01")
    assert(valuesOf(r.eav)(("r1", "visit_sec")) == "60")
  }

  test("unparseable standard_date fails on the driver, naming the key, " +
      "in both modes that use it") {
    // a null anchor used to write every date row of total_seconds as a
    // cleaned NULL (which the PHI filter admits) and to drop every date
    // row of dob_shifting without an error
    val in = eav(("r1", "np_dob", "2000-01-01"), ("r1", "visit_sec", "2009-12-31 23:59:00"))
    for ((mode, run) <- Seq[(String, () => Unit)](
        "total_seconds" -> (() => DateShift.totalSeconds(in, fieldMap, "2010-13-01")),
        "dob_shifting" -> (() => DateShift.dobShift(in, fieldMap, "2010-13-01")))) {
      var e: IllegalArgumentException = null
      assert(jobsOf { e = intercept[IllegalArgumentException](run()) } == 0, mode)
      assert(e.getMessage.contains("[dcc_transforms] standard_date") &&
        e.getMessage.contains("2010-13-01"), s"$mode: ${e.getMessage}")
    }
  }

  test("fixedShift: constant seconds at each granularity") {
    val in = eav(
      ("r1", "visit_date", "2001-06-15"),
      ("r1", "visit_sec", "2001-06-15 00:00:30"))
    val r = DateShift.fixedShift(in, fieldMap, 86400 + 30)
    val v = valuesOf(r.eav)
    assert(v(("r1", "visit_date")) == "2001-06-16")
    assert(v(("r1", "visit_sec")) == "2001-06-16 00:01:00")
  }

  test("property: dobShift preserves intra-record day deltas") {
    val dates = Seq("2001-01-01", "2001-03-15", "2002-07-04", "2003-11-30")
    val in = eav((("r1", "np_dob", "1990-05-20") +:
      dates.zipWithIndex.map { case (dt, i) => ("r1", "visit_date", dt) }): _*)
    // one visit_date field per record would collide in a Map; check via collect
    val r = DateShift.dobShift(in, fieldMap, "2010-01-01")
    val shifted = r.eav.filter("field_name = 'visit_date'")
      .select("value").as[String].collect().map(java.time.LocalDate.parse).sorted
    val orig = dates.map(java.time.LocalDate.parse).sorted
    val deltas = shifted.sliding(2).map(p => p(1).toEpochDay - p(0).toEpochDay).toSeq
    val origDeltas = orig.sliding(2).map(p => p(1).toEpochDay - p(0).toEpochDay).toSeq
    assert(deltas == origDeltas)
  }
}
