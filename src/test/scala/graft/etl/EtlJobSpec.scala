package graft.etl

import graft.SparkSpec
import graft.sources.IniConfig
import java.nio.file.Files

/** Config → extract → transform → filter → envelope, end to end, from an
  * INI the reference's users could have written. */
class EtlJobSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("etljob").toFile.getAbsolutePath

  private def write(name: String, content: String): String = EtlJobSpec.write(dir, name, content)

  private lazy val eavCsv = write("records.csv", EtlJobSpec.records)

  private lazy val fieldMapCsv = write("fieldmap.csv", EtlJobSpec.fieldMap)

  private lazy val config = IniConfig.parse(
    s"""[default]
       |field_map_file = $fieldMapCsv
       |out_dir = $dir/out
       |[dcc_transforms]
       |datetransform_type = dob_shifting
       |standard_date = 2010-01-01
       |dob_shift_inplace = true
       |[redcap]
       |eav_source = $eavCsv
       |chunk_size = 100
       |project_id = 42
       |[datalake]
       |chunk_rows = 2
       |""".stripMargin)

  test("full config-driven run: extract, shift, filter, envelope, fake-write") {
    val out = EtlJob.run(spark, config, projectInfo = Map("project_id" -> "42"))
    val kept = out.pipeline.kept.select("record_id", "field_name", "value")
      .as[(String, String, String)].collect().toSet
    assert(kept.contains(("r1", "visit_date", "2021-01-27"))) // shifted in place
    assert(kept.contains(("r1", "age", "34")) && kept.contains(("r2", "age", "55")))
    assert(!kept.exists(_._2 == "ssn"))
    val envs = out.envelopes.as[String].collect()
    assert(envs.nonEmpty && envs.forall(_.startsWith("""{"chunk_number":""")))
    // every chunk carries the reference's transmit() metadata (237-243)
    assert(envs.forall(_.contains(""""redcap_project_id":"42"""")))
    assert(envs.forall(_.contains(""""redcap_project_type":null"""))) // not configured
    assert(envs.forall(_.contains(""""extraction_run_datetime":"""")))
    assert(out.header.startsWith("""{"chunk_number":0,"""))
    // fake mode wrote NDJSON + header
    assert(spark.read.text(s"$dir/out/envelopes").count() == envs.length)
    assert(Files.readString(java.nio.file.Paths.get(s"$dir/out/header.json")) == out.header)
  }

  test("include_metadata ships kept-field metadata in the header") {
    val metaJson = write("metadata.json",
      """[{"field_name":"age","field_label":"Age","field_type":"text"},
        | {"field_name":"ssn","field_label":"SSN","field_type":"text"},
        | {"field_name":"visit_date","field_label":"Visit","field_type":"text"}]""".stripMargin)
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |[dcc_transforms]
         |datetransform_type = dob_shifting
         |standard_date = 2010-01-01
         |dob_shift_inplace = true
         |[redcap]
         |eav_source = $eavCsv
         |include_metadata = true
         |metadata_source = $metaJson
         |""".stripMargin)
    val out = EtlJob.run(spark, cfg)
    // kept fields: age, visit_date, demo_complete-style — ssn is PHI-dropped
    assert(out.header.contains(""""redcap_metadata_filtered":["""))
    assert(out.header.contains(""""field_name":"age""""))
    assert(out.header.contains(""""field_name":"visit_date""""))
    assert(!out.header.contains(""""field_name":"ssn""""))
    // default (no include_metadata): empty filtered metadata, like fallback=False
    val outDefault = EtlJob.run(spark, config, projectInfo = Map("project_id" -> "42"))
    assert(outDefault.header.contains(""""redcap_metadata_filtered":[]"""))
  }

  test("pub-debug writes the wide record×field pivot CSV (reference -p path)") {
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |out_dir = $dir/outdbg
         |[dcc_transforms]
         |datetransform_type = dob_shifting
         |standard_date = 2010-01-01
         |dob_shift_inplace = false
         |[redcap]
         |eav_source = $eavCsv
         |""".stripMargin)
    EtlJob.run(spark, cfg, pubDebug = true)
    val wide = spark.read.option("header", "true").csv(s"$dir/outdbg/debug-public")
    assert(wide.columns.contains("record_id") && wide.columns.contains("visit_date"))
    val row = wide.filter($"record_id" === "r1").head()
    assert(row.getAs[String]("visit_date") == "2021-01-27") // shifted, wide
  }

  test("writeout streams header + all chunk docs into one NDJSON file (reference -w)") {
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |[dcc_transforms]
         |datetransform_type = dob_shifting
         |standard_date = 2010-01-01
         |[redcap]
         |eav_source = $eavCsv
         |""".stripMargin)
    EtlJob.run(spark, cfg, fake = false, writeout = Some(s"$dir/writeout"))
    val lines = spark.read.text(s"$dir/writeout").collect().map(_.getString(0))
    assert(lines.length >= 2)
    // header document first (the only chunk carrying transform_metadata),
    // then envelope chunks
    assert(lines.head.contains("transform_metadata"))
    assert(lines.tail.forall(_.contains("redcap_records")))
  }

  test("FieldMap.load: Spark's inferred schema and rows, without a job") {
    val headers = Seq(
      "quoted comma" -> "\"field, name\",status\nage,Include\n",
      "duplicate names" -> "field_name,status,Status,status\nage,a,b,c\n",
      "empty name" -> "field_name,,status\nage,x,Include\n",
      "leading blank line" -> "\nfield_name,status\nage,Include\n")
    val single = s"$dir/fieldmap-single"
    Sinks.csvSingle(FieldMap.load(spark, fieldMapCsv), single)
    val cases = headers.map { case (n, c) =>
      n -> write(s"header-${n.replace(' ', '_')}.csv", c)
    } :+ ("csvSingle output directory" -> single)
    for ((name, path) <- cases) {
      var loaded: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { loaded = FieldMap.load(spark, path) } == 0, name)
      val inferred = spark.read.option("header", "true").csv(path)
      assert(loaded.schema == inferred.schema, name)
      assert(loaded.collect().toSeq == inferred.collect().toSeq, name)
    }
    // several data files: Spark's own inference picks the header file
    val multi = s"$dir/fieldmap-multi"
    FieldMap.load(spark, fieldMapCsv).repartition(2)
      .write.option("header", "true").csv(multi)
    assert(FieldMap.load(spark, multi).schema ==
      spark.read.option("header", "true").csv(multi).schema)
  }

  test("job floor: the three control-table loads run no job, so a full run " +
      "with field map, calc-variable table and secondary-id map runs 3 fewer") {
    val cfg = EtlJobSpec.floorConfig(dir)
    assert(jobsOf(FieldMap.load(spark, fieldMapCsv)) == 0)
    assert(jobsOf(FieldMap.rules(spark, fieldMapCsv)) == 0)
    assert(jobsOf(FieldMap.table(spark, fieldMapCsv)) == 0)
    EtlJob.run(spark, cfg) // warm: first-use jobs stay out of the count
    // 3: the dob collect and the two envelope writes. 10 when the dob
    // shift table, the calc-variable table and the secondary-id map were
    // joins (a shuffle, then a broadcast or a shuffle each) and the id
    // lists kept a final aggregate; 14 when the date shift and the PHI
    // filter each joined the field map too
    assert(jobsOf(EtlJob.run(spark, cfg)) == 3)
    // each of the two one-id chunks is extracted four times: for the dob
    // collect and the shifted plane (data stream), and for the
    // calc-variable and secondary-id id lists (transform stream)
    val fetches = graft.sources.EavSource.chunkFetches.get
    EtlJob.run(spark, cfg)
    assert(graft.sources.EavSource.chunkFetches.get - fetches == 8)
  }

  test("the EAV id universe is requested once per run, however many plans " +
      "chunk it") {
    val cfg = EtlJobSpec.floorConfig(dir)
    val before = graft.sources.EavSource.idRequests.get
    EtlJob.run(spark, cfg)
    // 9 when every physical planning of the extract asked the transport
    assert(graft.sources.EavSource.idRequests.get - before == 1)
  }

  /** The executed plans of one `EtlJob.run` on the job-floor fixture, with
    * the name of the action that ran each (`collect` for all three). */
  private def runPlans(): Seq[(String, org.apache.spark.sql.execution.SparkPlan)] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val cfg = EtlJobSpec.floorConfig(dir)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(f -> qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // jobsOf drains the listener bus: an earlier run's plans are delivered
    // before the listener is registered, and every plan of this run after
    jobsOf(())
    spark.listenerManager.register(listener)
    try jobsOf(EtlJob.run(spark, cfg))
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[(String, SparkPlan)]).toSeq
  }

  // AQE's final plans, stages and subqueries included
  private val walk = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  test("the pipeline's graft-eav scans: a record_id distinct pushed into the " +
      "scan, the np_dob filter pushed, and every plain scan read columnar") {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val all = runPlans().map(_._2)
    val scans = all.flatMap(p => walk.collectWithSubqueries(p) {
      case b: BatchScanExec if b.scan.description.startsWith("graft-eav") => b
    })
    val described = scans.map(_.scan.description)
    assert(described.exists(_.contains("PushedAggregation: [] GroupBy: [record_id]")),
      described.mkString("\n"))
    assert(described.exists(_.contains("EqualTo(field_name,np_dob)")),
      described.mkString("\n"))
    // the group-by scans emit rows; every other scan sits under ColumnarToRow
    val plain = scans.filterNot(_.scan.description.contains("PushedAggregation"))
    val columnar = all.flatMap(p => walk.collectWithSubqueries(p) {
      case ColumnarToRowExec(InputAdapter(scan)) => scan
      case ColumnarToRowExec(scan) => scan
    })
    assert(plain.nonEmpty && plain.forall(s => columnar.exists(_ eq s)),
      described.mkString("\n"))
  }

  test("plan shape: each envelope write is one stage, with no exchange, no " +
      "broadcast exchange and no sort aggregate; the per-participant tables " +
      "are dictionary probes") {
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    // the two stream writes: the actions that return Sinks.Part rows
    val writes = runPlans().collect {
      case ("collect", p) if p.schema.fieldNames.sameElements(Array("partition", "file")) => p
    }
    assert(writes.length == 2)
    val offending = writes.flatMap(p => walk.collectWithSubqueries(p) {
      case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike | _: SortAggregateExec) =>
        e.nodeName
    })
    assert(offending.isEmpty, writes.mkString("\n"))
    val text = writes.flatMap(p => walk.collectWithSubqueries(p) {
      case s => s.verboseString(Int.MaxValue)
    }).mkString("\n")
    for (probe <- Seq("dob_shift[1](", "calc_variables[1](", "secondary_ids[2]("))
      assert(text.contains(probe), s"no $probe in:\n$text")
  }

  test("the two envelope streams are written at once: a failing side write " +
      "throws its own error once both have ended, and leaves no job running") {
    val out = java.nio.file.Paths.get(dir, "outfail")
    Files.createDirectories(out)
    // the transform stream's output path is a link into a regular file,
    // which the writer refuses to replace, so that write fails while the
    // data stream runs
    Files.writeString(out.resolve("blocker"), "")
    Files.createSymbolicLink(out.resolve("transform_envelopes"), out.resolve("blocker/none"))
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |out_dir = $out
         |[dcc_transforms]
         |secondary_id_file = ${write("secondary-fail.csv", "redcap_record_id,secondary_id\nr1,S-1\n")}
         |[redcap]
         |eav_source = $eavCsv
         |""".stripMargin)
    val e = intercept[Exception](EtlJob.run(spark, cfg))
    assert(e.getMessage.contains("transform_envelopes"), e.getMessage)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(Files.exists(out.resolve("envelopes/_SUCCESS")))
    assert(Files.isSymbolicLink(out.resolve("transform_envelopes")))
  }

  test("an out_dir with a URI scheme fails on the driver, naming the key, " +
      "before any job") {
    for (uri <- Seq("hdfs://namenode:8020/etl/out", "s3a://bucket/etl/out", s"file:$dir/outuri")) {
      val cfg = IniConfig.parse(
        s"""[default]
           |field_map_file = $fieldMapCsv
           |out_dir = $uri
           |[redcap]
           |eav_source = $eavCsv
           |""".stripMargin)
      var e: IllegalArgumentException = null
      assert(jobsOf { e = intercept[IllegalArgumentException](EtlJob.run(spark, cfg)) } == 0, uri)
      assert(e.getMessage.contains("[default] out_dir"), e.getMessage)
    }
    assert(!Files.exists(java.nio.file.Paths.get(dir, "outuri")))
  }

  test("a malformed control table fails the run on the driver, naming its " +
      "file, before any job") {
    val bad = write("deid-malformed.csv", "study_id,exp_age_decade\nr1,3,extra\n")
    val out = s"$dir/outmalformed"
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |out_dir = $out
         |[dcc_transforms]
         |deid_data_file = $bad
         |[redcap]
         |eav_source = $eavCsv
         |""".stripMargin)
    var e: Exception = null
    assert(jobsOf { e = intercept[Exception](EtlJob.run(spark, cfg)) } == 0)
    assert(e.getMessage.contains("deid-malformed.csv"), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(out)))
  }

  test("concurrently: the side thread's jobs run under the caller's job group; " +
      "the first failure is thrown with the other suppressed") {
    val sc = spark.sparkContext
    def job(): Unit = sc.parallelize(1 to 4, 2).count()
    assert(jobsOf(EtlJob.concurrently(job(), job())) == 2)
    val e = intercept[IllegalStateException](EtlJob.concurrently(
      { Thread.sleep(200); throw new IllegalArgumentException("main") },
      throw new IllegalStateException("side")))
    assert(e.getMessage == "side")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("main"))
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }

  test("EtlMain parses the reference's argparse surface") {
    assert(EtlMain.parse(Nil) == EtlMain.Args())
    assert(EtlMain.parse(Seq("-c", "x.ini", "-f", "-p")) ==
      EtlMain.Args("x.ini", fake = true, pubDebug = true))
    assert(EtlMain.parse(Seq("--configfile", "y.ini", "--debug",
      "--writeout", "out.ndjson")) ==
      EtlMain.Args("y.ini", debug = true, writeout = Some("out.ndjson")))
    intercept[IllegalArgumentException](EtlMain.parse(Seq("--nope")))
    // argparse's = form and missing-value diagnostics
    assert(EtlMain.parse(Seq("--configfile=z.ini")) == EtlMain.Args("z.ini"))
    val e = intercept[IllegalArgumentException](EtlMain.parse(Seq("-f", "-w")))
    assert(e.getMessage.contains("missing value"))
  }

  test("project-id mismatch fails before any work") {
    intercept[IllegalArgumentException] {
      EtlJob.run(spark, config, projectInfo = Map("project_id" -> "99"))
    }
  }
}

object EtlJobSpec {
  def write(dir: String, name: String, content: String): String = {
    val f = java.nio.file.Paths.get(dir, name)
    Files.writeString(f, content)
    f.toString
  }

  val records: String =
    """record_id,redcap_event_name,redcap_repeat_instrument,redcap_repeat_instance,field_name,value
      |r1,screening_arm_1,,,np_dob,1990-05-20
      |r1,screening_arm_1,,,age,34
      |r1,screening_arm_1,,,visit_date,2001-06-15
      |r1,screening_arm_1,,,ssn,123-45-6789
      |r2,screening_arm_1,,,age,55
      |""".stripMargin

  val fieldMap: String =
    """field_name,status,restrict_to_event_list
      |age,Include,
      |visit_date,TransformDate,
      |ssn,Exclude,
      |np_dob,Exclude,
      |""".stripMargin

  /** The job-floor run, written under `dir`: the two records extracted in
    * two one-id chunks, an in-place dob shift, a calc-variable table and a
    * secondary-id map, both envelope streams written under `dir/outfloor`. */
  def floorConfig(dir: String): IniConfig = {
    val deid = write(dir, "deid.csv",
      """study_id,exp_age_decade
        |r1,3
        |""".stripMargin)
    val secondary = write(dir, "secondary.csv",
      """redcap_record_id,secondary_id
        |r1,S-001
        |r2,S-002
        |""".stripMargin)
    IniConfig.parse(
      s"""[default]
         |field_map_file = ${write(dir, "fieldmap.csv", fieldMap)}
         |out_dir = $dir/outfloor
         |[dcc_transforms]
         |datetransform_type = dob_shifting
         |standard_date = 2010-01-01
         |dob_shift_inplace = true
         |deid_data_file = $deid
         |secondary_id_file = $secondary
         |[redcap]
         |eav_source = ${write(dir, "records.csv", records)}
         |chunk_size = 1
         |""".stripMargin)
  }
}
