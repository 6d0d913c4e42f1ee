package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** End-to-end minimum slice (SURVEY.md §7.1): EAV fixture → date shift →
  * calc-var + secondary-id transforms → PHI filter → envelope sink. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val fieldMap = Seq(
    ("age",        "Include",       null),
    ("visit_date", "TransformDate", null),
    ("ssn",        "Exclude",       null),
    ("np_dob",     "Exclude",       null) // present in map → silently dropped, not "unknown"
  ).toDF("field_name", "status", "restrict_to_event_list")

  private def eav: DataFrame = Seq(
    ("r1", "np_dob",     "1990-05-20"),
    ("r1", "age",        "34"),
    ("r1", "visit_date", "2001-06-15"),
    ("r1", "ssn",        "123-45-6789"),
    ("r1", "demo_complete", "2"),
    ("r1", "mystery",    "x"),
    ("r2", "age",        "55"),
    ("r2", "visit_date", "2002-01-01")  // no dob → stays PHI → dropped
  ).toDF("record_id", "field_name", "value")
    .selectExpr("record_id", "'' AS redcap_event_name",
      "'' AS redcap_repeat_instrument", "'' AS redcap_repeat_instance",
      "field_name", "value",
      "CAST(NULL AS BOOLEAN) AS kpmp_date_cleaned",
      "CAST(NULL AS STRING) AS kpmp_date_cleaned_type")

  private val deid = Seq(
    ("r1", "4", "White"),
    ("r9", "7", "Asian") // not in EAV → no fan-out (inner join)
  ).toDF("study_id", "exp_age_decade", "exp_race")

  private val mapping = Seq(("r1", "S-001")).toDF("redcap_record_id", "secondary_id")

  test("minimum slice end-to-end with fail-closed PHI") {
    val result = Pipeline.run(eav, fieldMap, Seq(
      new DateShiftTransform(fieldMap, "dob_shifting", standardDate = "2010-01-01"),
      new CalcVariableTransform(deid),
      new SecondaryIdTransform(mapping)))

    val kept = result.kept.select("record_id", "field_name", "value")
      .as[(String, String, String)].collect().toSet
    // r1 visit_date shifted (dob 1990-05-20 → 2010-01-01 anchor) and kept
    assert(kept.exists { case (r, f, _) => r == "r1" && f == "visit_date" })
    // shifted value: 2001-06-15 + 7166 days (1990-05-20→2010-01-01) = 2021-01-27
    assert(kept.contains(("r1", "visit_date", "2021-01-27")))
    // fail-closed: r2's uncleaned date dropped; ssn dropped; mystery dropped
    assert(!kept.exists { case (r, f, _) => r == "r2" && f == "visit_date" })
    assert(!kept.exists { case (_, f, _) => f == "ssn" || f == "mystery" })
    // _complete passes
    assert(kept.exists { case (_, f, _) => f == "demo_complete" })
    assert(result.unknownFields.as[String].collect().toSet == Set("mystery"))

    // transform records: 2 calc vars for r1 + 2 secondary-id rows (r1, r2)
    val tr = result.transformRecords.get
      .as[(String, String, String, String)].collect().toSet
    assert(tr.contains(("r1", "CalcVars", "exp_age_decade", "4")))
    assert(tr.contains(("r1", "CalcVars", "exp_race", "White")))
    assert(tr.contains(("r1", "SecondaryID", "secondary_id", "S-001")))
    assert(tr.exists { case (r, ns, _, v) => r == "r2" && ns == "SecondaryID" && v == null })
  }

  test("side-output mode: EAV untouched, shifted dates emitted as records") {
    val result = Pipeline.run(eav, fieldMap, Seq(
      new DateShiftTransform(fieldMap, "dob_shifting",
        standardDate = "2010-01-01", inPlace = false)))
    // fail-closed: the uncleaned plane keeps no date rows at all
    assert(result.kept.filter("field_name = 'visit_date'").count() == 0)
    val tr = result.transformRecords.get
      .as[(String, String, String, String)].collect().toSet
    assert(tr.contains(("r1", "TransformedDate", "visit_date", "2021-01-27")))
    assert(!tr.exists(_._1 == "r2")) // r2 has no dob → nothing emitted
  }

  test("transform metadata: granularity dictionary published only in total_seconds mode") {
    val withMeta = Pipeline.run(eav, fieldMap, Seq(
      new DateShiftTransform(fieldMap, "total_seconds", standardDate = "2010-01-01")))
    val meta = withMeta.transformMetadata.toMap
    assert(meta.keySet == Set("TransformedDate"))
    assert(meta("TransformedDate").as[(String, String)].collect().toMap ==
      Map("visit_date" -> "Date"))
    // reference: get_transform_metadata returns None for other modes
    val noMeta = Pipeline.run(eav, fieldMap, Seq(
      new DateShiftTransform(fieldMap, "dob_shifting", standardDate = "2010-01-01")))
    assert(noMeta.transformMetadata.isEmpty)
  }

  test("calc-var dictionary + secondary-id descriptor publish as header metadata") {
    val dict = Seq(
      ("exp_age_decade", "Age decade", null.asInstanceOf[String]),
      ("exp_race", "Race", "curated")
    ).toDF("field_name", "description", "notes")
    val result = Pipeline.run(eav, fieldMap, Seq(
      new CalcVariableTransform(deid, deidDataDictionary = Some(dict)),
      new SecondaryIdTransform(mapping)))
    val meta = result.transformMetadata.toMap
    assert(meta.keySet == Set("CalcVars", "SecondaryID"))
    // fillna(""): nulls become empty strings, like the reference's pandas load
    val calc = meta("CalcVars").as[(String, String, String)].collect().toSet
    assert(calc == Set(
      ("exp_age_decade", "Age decade", ""),
      ("exp_race", "Race", "curated")))
    val sec = meta("SecondaryID").as[(String, String)].collect().toSeq
    assert(sec == Seq(
      ("secondary_id", "Secondary unique identifier for use in public data set")))
    // no dictionary configured → no CalcVars entry (reference returns None…
    // only for transforms that publish nothing; CalcVars without a file is
    // a config gap the header simply omits)
    val none = Pipeline.run(eav, fieldMap, Seq(new CalcVariableTransform(deid)))
    assert(none.transformMetadata.isEmpty)
  }

  test("enrichment control tables: a duplicated id keeps its first row in " +
      "file order, and a null id matches nothing") {
    val dir = java.nio.file.Files.createTempDirectory("enrich").toString
    def write(name: String, content: String) = EtlJobSpec.write(dir, name, content)
    val cfg = graft.sources.IniConfig.parse(
      s"""[dcc_transforms]
         |deid_data_file = ${write("deid.csv",
        """study_id,exp_age_decade,exp_race
          |r1,3,White
          |r2,5,
          |r1,9,Asian
          |,7,Black
          |""".stripMargin)}
         |secondary_id_file = ${write("secondary.csv",
        """redcap_record_id,secondary_id
          |r1,S-001
          |,S-NULL
          |r1,S-999
          |r2,
          |""".stripMargin)}
         |""".stripMargin)
    val ids = Seq("r1", "r2", "r3", null).map(Tuple1(_)).toDF("record_id")
    val plane = ids.selectExpr("record_id", "'' AS redcap_event_name",
      "'' AS redcap_repeat_instrument", "'' AS redcap_repeat_instance",
      "'age' AS field_name", "'1' AS value",
      "CAST(NULL AS BOOLEAN) AS kpmp_date_cleaned",
      "CAST(NULL AS STRING) AS kpmp_date_cleaned_type")
    val expected = Set[(String, String, String, String)](
      ("r1", "CalcVars", "exp_age_decade", "3"), ("r1", "CalcVars", "exp_race", "White"),
      ("r2", "CalcVars", "exp_age_decade", "5"), ("r2", "CalcVars", "exp_race", ""),
      ("r1", "SecondaryID", "secondary_id", "S-001"),
      ("r2", "SecondaryID", "secondary_id", null),
      ("r3", "SecondaryID", "secondary_id", null),
      // every extracted id gets a secondary-id row, a null one included
      (null, "SecondaryID", "secondary_id", null))
    def records(ts: Seq[EtlTransform]) = Pipeline.run(plane, fieldMap, ts)
      .transformRecords.get.as[(String, String, String, String)].collect()
    // the config path (control tables read from their files)
    val fromFiles = records(EtlJob.transformsFromConfig(spark, cfg, fieldMap))
    assert(fromFiles.length == expected.size && fromFiles.toSet == expected)
    // frames a caller passes, in one partition so file order is row order
    val deidFrame = Seq(("r1", 3, "White"), ("r2", 5, null), ("r1", 9, "Asian"),
      (null, 7, "Black")).toDF("study_id", "exp_age_decade", "exp_race").coalesce(1)
    val mappingFrame = Seq(("r1", "S-001"), (null, "S-NULL"), ("r1", "S-999"),
      ("r2", null)).toDF("redcap_record_id", "secondary_id").coalesce(1)
    val fromFrames = records(Seq(new CalcVariableTransform(deidFrame),
      new SecondaryIdTransform(mappingFrame)))
    assert(fromFrames.length == expected.size && fromFrames.toSet == expected)
  }

  test("envelope sink: chunking + header document") {
    val result = Pipeline.run(eav, fieldMap, Seq(
      new DateShiftTransform(fieldMap, "dob_shifting", standardDate = "2010-01-01")))
    val env = Sinks.envelopes(result.kept.repartition(2), chunkRows = 2)
    val docs = env.as[String].collect()
    assert(docs.nonEmpty)
    docs.foreach { d =>
      assert(d.startsWith("""{"chunk_number":"""))
      assert(d.contains(""""redcap_records":["""))
    }
    // total rows across envelopes == kept rows
    val total = docs.map(d => "\"record_id\"".r.findAllIn(d).length).sum
    assert(total == result.kept.count())
    val header = Sinks.headerDocument(result.transformMetadata, None)
    assert(header.startsWith("""{"chunk_number":0,"transform_metadata":{"""))
  }
}
