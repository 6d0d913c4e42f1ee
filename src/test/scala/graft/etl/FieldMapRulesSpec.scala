package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join

/** The field map compiled on the driver (FieldMap.Rules): the date shift
  * and the PHI filter see the same rows they saw when each joined the map
  * after a `dropDuplicates("field_name")`. Every expected row below is
  * what that join-based implementation produced on the same input, except
  * two fixes: a field listed as `Include` and as a date status passes the
  * PHI filter only as a cleaned date, and a null-named date row gets no
  * granularity dictionary row. */
class FieldMapRulesSpec extends SparkSpec {
  import spark.implicits._
  import FieldMapRulesSpec.Seen

  private def eav(rows: (String, String, String, String)*): DataFrame =
    rows.toSeq.toDF("record_id", "redcap_event_name", "field_name", "value")
      .selectExpr("record_id", "redcap_event_name",
        "'' AS redcap_repeat_instrument", "'' AS redcap_repeat_instance",
        "field_name", "value",
        "CAST(NULL AS BOOLEAN) AS kpmp_date_cleaned",
        "CAST(NULL AS STRING) AS kpmp_date_cleaned_type")

  private def map(rows: (String, String, String)*): DataFrame =
    rows.toSeq.toDF("field_name", "status", "restrict_to_event_list")

  private def lines(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  /** What the pipeline's stages make of `in` under `fm`, as sorted
    * `a|b|…` lines: a fixed +1 day shift, then the PHI filter on its
    * output, and the total_seconds granularity dictionary. */
  private def seen(fm: DataFrame, in: DataFrame): Seen = {
    val shifted = DateShift.fixedShift(in, fm, 86400L)
    val phi = PhiFilter(shifted.eav, fm)
    Seen(
      lines(shifted.eav.select("record_id", "redcap_event_name", "field_name", "value",
        "kpmp_date_cleaned_type")),
      lines(shifted.errors),
      lines(phi.kept.select("record_id", "redcap_event_name", "field_name", "value")),
      lines(phi.unknownFields),
      lines(phi.uniqueFields),
      lines(new DateShiftTransform(fm, "total_seconds").metadata(spark).get))
  }

  private val dupEav = eav(("r1", "a", "d", "2001-06-15"), ("r2", "a", "d", "not a date"))

  test("a field listed as Include and as a date status: the date shift reads " +
      "its first date-status row, the PHI filter passes only its cleaned dates") {
    val shifted = Seq("r1|a|d|2001-06-16|TransformDate", "r2|a|d|not a date|null")
    val errors = Seq("r2|d|not a date")
    // Include first: still fail-closed — the unparseable value is dropped,
    // not passed unshifted
    assert(seen(map(("d", "Include", null), ("d", "TransformDate", null)), dupEav) ==
      Seen(shifted, errors, Seq("r1|a|d|2001-06-16"), Nil, Seq("d"), Seq("d|Date")))
    // date status first: only the cleaned row passes
    assert(seen(map(("d", "TransformDate", null), ("d", "Include", null)), dupEav) ==
      Seen(shifted, errors, Seq("r1|a|d|2001-06-16"), Nil, Seq("d"), Seq("d|Date")))
    // two date statuses: the first one sets the granularity
    assert(seen(map(("d", "Include", null), ("d", "TransformDateYear", null),
        ("d", "TransformDate", null)), dupEav) ==
      Seen(Seq("r1|a|d|2001|TransformDateYear", "r2|a|d|not a date|null"), errors,
        Seq("r1|a|d|2001"), Nil, Seq("d"), Seq("d|DateYear")))
  }

  test("event lists split on commas and trim spaces only, as Spark's trim does") {
    val events = Seq("a", "b", "", " b", "\tb", "c")
    val fields = Seq("f1" -> "a, b", "f2" -> "a,,b", "f3" -> "\tb", "f4" -> " ",
      "f5" -> "\t", "f6" -> "b ")
    val s = seen(map(fields.map { case (f, e) => (f, "Include", e) }: _*),
      eav((for ((f, _) <- fields; e <- events) yield ("r1", e, f, "v")): _*))
    assert(s.kept == Seq("r1|\tb|f3|v", "r1|\tb|f4|v", "r1| b|f4|v", "r1|a|f1|v",
      "r1|a|f2|v", "r1|a|f4|v", "r1|b|f1|v", "r1|b|f2|v", "r1|b|f4|v", "r1|b|f6|v",
      "r1|c|f4|v", "r1||f2|v", "r1||f4|v"))
    assert(s.unknown.isEmpty && s.errors.isEmpty && s.meta.isEmpty)
    assert(s.unique == Seq("f1", "f2", "f3", "f4", "f6"))
  }

  test("a null field_name matches nothing, in the map or in the plane") {
    val s = seen(map((null, "Include", null), ("x", "Include", null), (null, "TransformDate", null)),
      eav(("r1", "a", null, "2001-06-15"), ("r1", "a", "x", "v"), ("r1", "a", "u", "v")))
    assert(s == Seen(
      Seq("r1|a|null|2001-06-15|null", "r1|a|u|v|null", "r1|a|x|v|null"), Nil,
      Seq("r1|a|x|v"), Seq("u"), Seq("x"),
      // a null-named date row names no field: no dictionary row
      Nil))
  }

  test("a null event passes only an unrestricted (null or blank) event list") {
    val s = seen(map(("f1", "Include", "a"), ("f2", "Include", null), ("f3", "Include", " ")),
      eav(("r1", null, "f1", "v"), ("r1", null, "f2", "v"), ("r1", null, "f3", "v"),
        ("r1", "a", "f1", "v")))
    assert(s.kept == Seq("r1|a|f1|v", "r1|null|f2|v", "r1|null|f3|v"))
    assert(s.unknown.isEmpty)
  }

  test("more than ten Include fields: the optimizer's InSet keeps the same rows") {
    val fs = (1 to 12).map(i => f"f$i%02d")
    val gs = (1 to 12).map(i => f"g$i%02d")
    val fm = map(fs.map(f => (f, "Include", null: String)) ++
      gs.map(g => (g, "Include", "a")) :+ (("h", "Exclude", null)): _*)
    val in = eav((for (f <- fs ++ gs :+ "h" :+ "z"; e <- Seq("a", "b")) yield ("r1", e, f, "v")): _*)
    val s = seen(fm, in)
    assert(s.kept == (fs ++ gs).map(f => s"r1|a|$f|v") ++ fs.map(f => s"r1|b|$f|v"))
    assert(s.unknown == Seq("z"))
    assert(s.unique == fs ++ gs)
    // a checkpointed plane, so the optimizer cannot fold the filter away
    val plan = PhiFilter(in.localCheckpoint(), fm).kept.queryExecution.optimizedPlan
    assert(plan.toString.contains("INSET"), plan)
  }

  test("unknown-field side output: unmapped fields once each, never the " +
      "data-access-group, _complete or null-named rows") {
    val s = seen(map(("x", "Include", null), ("y", "Exclude", null)),
      eav(("r1", "a", "x", "v"), ("r1", "a", "y", "v"), ("r1", "a", "redcap_data_access_group", "g"),
        ("r1", "a", "demo_complete", "2"), ("r1", "a", "u1", "v"), ("r2", "a", "u1", "v"),
        ("r1", "a", "u2", "v"), ("r1", "a", null, "v")))
    assert(s.kept == Seq("r1|a|demo_complete|2", "r1|a|redcap_data_access_group|g", "r1|a|x|v"))
    assert(s.unknown == Seq("u1", "u2"))
    assert(s.unique == Seq("demo_complete", "redcap_data_access_group", "x"))
  }

  test("no join on the map: both stages are one scan of the plane") {
    val fm = map(("d", "TransformDate", null), ("x", "Include", "a"))
    for (df <- Seq(DateShift.fixedShift(dupEav, fm, 60L).eav, PhiFilter(dupEav, fm).kept))
      assert(df.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty)
  }

  test("FieldMap.rules reads a CSV on the driver, without a job, into the " +
      "rules its distributed load compiles to") {
    val dir = Files.createTempDirectory("fieldmaprules").toFile.getAbsolutePath
    val csvs = Seq(
      "plain" -> "field_name,status,restrict_to_event_list\nage,Include,\nd,TransformDate,\n",
      "duplicates and blank lines" ->
        "field_name,status\n\nd,Include\nd,TransformDate\n  \nd,TransformDateYear\n",
      "quoted cells and event lists" ->
        ("form_name,field_name,status,restrict_to_event_list\n" +
          "f,\"a, b\",Include,\"e1, e2\"\nf,c,Include,\"\ttab\"\nf,e,Include,\"a,,b\"\n"),
      "null cells" -> "field_name,status,restrict_to_event_list\n,Include,\nn,,e1\nm,Include,\"\"\n",
      "no event column" -> "status,field_name\nInclude,a\nTransformDateTime,b\n",
      "CRLF lines" -> "field_name,status\r\na,Include\r\nb,TransformDate\r\n")
    for ((name, content) <- csvs) {
      val path = EtlJobSpec.write(dir, name.replace(' ', '_') + ".csv", content)
      var rules: FieldMap.Rules = null
      assert(jobsOf { rules = FieldMap.rules(spark, path) } == 0, name)
      assert(rules == FieldMap.Rules.compiled(FieldMap.load(spark, path)), name)
    }
  }
}

object FieldMapRulesSpec {
  final case class Seen(shifted: Seq[String], errors: Seq[String],
      kept: Seq[String], unknown: Seq[String], unique: Seq[String], meta: Seq[String])
}
