package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.{count, countDistinct, lit, min}

class EavSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("eav").toFile
    val f = new java.io.File(dir, "records.csv")
    val rows = (1 to 250).flatMap { r =>
      Seq(
        s"r$r,screening_arm_1,,,age,${20 + r % 60}",
        s"r$r,screening_arm_1,,,np_dob,1990-01-0${r % 9 + 1}",
        s"r$r,followup_arm_1,,,visit_date,2001-06-15")
    }
    val w = new java.io.PrintWriter(f)
    w.println("record_id,redcap_event_name,redcap_repeat_instrument,redcap_repeat_instance,field_name,value")
    rows.foreach(w.println); w.close()
    f.getAbsolutePath
  }

  private def read = spark.read.format("graft-eav")
    .option("path", fixture).option("chunk_size", 100)

  test("reads EAV rows with declared schema, one partition per id chunk") {
    val df = read.load()
    assert(df.schema == EavSource.schema)
    assert(df.count() == 750)
    assert(df.rdd.getNumPartitions == 3) // 250 ids / 100-id chunks
  }

  test("non-ASCII values decode as UTF-8 whatever the JVM default charset") {
    val f = Files.createTempFile("eavutf8", ".csv")
    Files.write(f, Seq(
      "record_id,redcap_event_name,redcap_repeat_instrument,redcap_repeat_instance,field_name,value",
      "r1,screening_arm_1,,,cafe,café",
      "r1,screening_arm_1,,,city,Zürich",
      "r2,screening_arm_1,,,food,🍕").mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val got = spark.read.format("graft-eav").option("path", f.toString).load()
      .select("field_name", "value").as[(String, String)].collect().toSet
    assert(got == Set("cafe" -> "café", "city" -> "Zürich", "food" -> "🍕"))
  }

  test("blank lines in the file (middle and end) are skipped, not read " +
      "as a record") {
    val f = Files.createTempFile("eavblank", ".csv")
    Files.write(f, Seq(
      "record_id,redcap_event_name,redcap_repeat_instrument,redcap_repeat_instance,field_name,value",
      "r1,screening_arm_1,,,age,41",
      "",
      "r2,screening_arm_1,,,age,37",
      "").mkString("\n").concat("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val df = spark.read.format("graft-eav").option("path", f.toString).load()
    val got = df.select("record_id", "value").as[(String, String)]
      .collect().toSet
    assert(got == Set("r1" -> "41", "r2" -> "37"))
    assert(df.select("record_id").distinct().count() == 2)
  }

  test("the file transport returns the rows of splitting every line, " +
      "though it splits only the lines it returns, malformed lines included") {
    val body = Seq(
      "record_id,redcap_event_name,redcap_repeat_instrument,redcap_repeat_instance,field_name,value",
      "r1,screening_arm_1,,,age,41",
      "r1", // no comma: the whole line is the id
      ",screening_arm_1,,,age,9", // empty id
      "r2,screening_arm_1,,,city,Zürich,extra,,", // too many fields
      "r2,short",
      "",
      "r10,screening_arm_1,,,age,3\r",
      "r3,screening_arm_1,,,food,🍕",
      "r3,,,,,").mkString("\n")
    val f = Files.createTempFile("eavmalformed", ".csv")
    Files.write(f, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val transport = FileEavTransport(f.toString)
    val all = EavTransport.parseCsv(body)
    assert(transport.recordIds() == all.map(_(0)).distinct.sorted)
    for (ids <- Seq(Array("r1"), Array("", "r2"), Array("r1", "r10", "r3", "r9"), Array.empty[String])) {
      val got = transport.fetchChunk(ids, Array.empty).map(_.toSeq)
      assert(got == all.filter(r => ids.contains(r(0))).map(_.toSeq), ids.mkString(","))
    }
  }

  test("filter pushdown: field_name equality lands in PushedFilters") {
    val df = read.load().filter($"field_name" === "age")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("field_name"))
    assert(df.count() == 250)
    assert(df.select("value").as[String].collect().forall(v => v.toInt >= 20))
  }

  test("column pruning reaches the reader (ReadSchema shrinks)") {
    val df = read.load().select("record_id", "value")
    assert(df.queryExecution.executedPlan.toString.contains("ReadSchema"))
    assert(df.schema.fieldNames.toSeq == Seq("record_id", "value"))
    assert(df.count() == 750)
  }

  test("residual filters still apply Spark-side (non-pushable predicate)") {
    val df = read.load().filter($"value".contains("1990"))
    assert(df.count() == 250) // only np_dob rows
  }

  test("limit: Spark caps the scan's rows, result exact") {
    val df = read.load().limit(7)
    assert(df.queryExecution.executedPlan.toString.contains("CollectLimit 7"))
    assert(df.count() == 7)
    // the limit composes with pushed filters (filters inside the fetch)
    val filtered = read.load().filter($"field_name" === "age").limit(5)
    assert(filtered.count() == 5)
    assert(filtered.select("field_name").as[String].collect().forall(_ == "age"))
  }

  test("top-n: ORDER BY + LIMIT above the scan, result exact") {
    val df = read.load().orderBy($"record_id".desc, $"field_name").limit(6)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject(limit=6"), plan)
    // exact equality with the sort done here (binary string order)
    val exp = read.load().collect()
      .map(r => (r.getString(0), r.getString(4), r.getString(5)))
      .sortBy { case (rid, fn, _) => (rid, fn) }(
        Ordering.Tuple2(Ordering[String].reverse, Ordering[String]))
      .take(6).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getString(4), r.getString(5))).toSeq
    assert(got == exp)
  }

  test("top-n pushdown declines under residual filters (correctness guard)") {
    val df = read.load().filter($"value".contains("1990"))
      .orderBy($"record_id").limit(4)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedTopN: [record_id"), s"unsafe push in: $plan")
    assert(df.count() == 4)
    assert(df.select("field_name").as[String].collect().forall(_ == "np_dob"))
  }

  test("aggregate pushdown: per-chunk partial group-by lands in the scan, " +
      "final aggregate still exact") {
    val df = read.load().select("record_id").distinct()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [] GroupBy: [record_id]"),
      s"no pushed aggregation in: $plan")
    assert(df.as[String].collect().sorted.toSeq ==
      (1 to 250).map(r => s"r$r").sorted)
    // composes with pushed filters (filter applied before the per-chunk
    // distinct), and a two-column key keeps the group-by order
    val filtered = read.load().filter($"field_name" === "age")
      .select("redcap_event_name", "field_name").distinct()
    assert(filtered.queryExecution.executedPlan.toString
      .contains("GroupBy: [redcap_event_name, field_name]"))
    assert(filtered.as[(String, String)].collect().toSeq ==
      Seq(("screening_arm_1", "age")))
  }

  test("complete aggregate push: a key with record_id is answered by the " +
      "scan alone, a key without it keeps Spark's final aggregate") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    // AQE's plan, descended into (an adaptive root hides its children)
    def aggregatesAndExchanges(df: org.apache.spark.sql.DataFrame) =
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec => a.nodeName
        case e: Exchange => e.nodeName
      }
    val csv = spark.read.option("header", true).csv(fixture).na.fill("")
    for (key <- Seq(Seq("record_id"), Seq("record_id", "field_name"))) {
      val df = read.load().select(key.head, key.tail: _*).distinct()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(s"PushedAggregation: [] GroupBy: [${key.mkString(", ")}]"), plan)
      assert(aggregatesAndExchanges(df).isEmpty, plan)
      val exp = csv.select(key.head, key.tail: _*).distinct().collect().map(_.toSeq)
      val got = df.collect().map(_.toSeq)
      assert(got.length == exp.length && got.toSet == exp.toSet && exp.length >= 250)
    }
    // [redcap_event_name, field_name] repeats across chunks: partial push
    val partial = read.load().select("redcap_event_name", "field_name").distinct()
    val plan = partial.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [] GroupBy: [redcap_event_name, field_name]"), plan)
    assert(aggregatesAndExchanges(partial).nonEmpty, plan)
    assert(partial.as[(String, String)].collect().sorted.toSeq == Seq(
      ("followup_arm_1", "visit_date"), ("screening_arm_1", "age"),
      ("screening_arm_1", "np_dob")))
    // a residual filter declines the push, complete or partial
    val residual = read.load().filter($"value".contains("1990")).select("record_id").distinct()
    assert(!residual.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(aggregatesAndExchanges(residual).nonEmpty)
    assert(residual.count() == 250)
  }

  test("complete aggregate push stays exact when the transport over-returns " +
      "other chunks' rows") {
    val ids = (1 to 250).map(r => s"r$r")
    val rows = ids.flatMap(r => Seq(Array(r, "screening_arm_1", "", "", "age", "1"),
      Array(r, "followup_arm_1", "", "", "age", "2")))
    // every fetch answers with the whole export, whatever ids it asked for;
    // the chunk's id set keeps each id's rows in its own chunk only
    val greedy = new EavTransport {
      override def recordIds(): Seq[String] = ids
      override def fetchChunk(recordIds: Array[String],
          filters: Array[org.apache.spark.sql.sources.Filter]): Seq[Array[String]] = rows
      override def sizeHintBytes(): Long = 1L
    }
    val builder = new EavScanBuilder(greedy, 100, () => greedy.recordIds())
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation}
    val agg = new Aggregation(Array.empty[AggregateFunc],
      Array[Expression](Expressions.column("record_id")))
    assert(builder.supportCompletePushDown(agg) && builder.pushAggregation(agg))
    val scan = builder.build().toBatch
    val factory = scan.createReaderFactory()
    val got = scan.planInputPartitions().toSeq.flatMap { p =>
      val reader = factory.createReader(p)
      Iterator.continually(reader).takeWhile(_.next())
        .map(_.get().getUTF8String(0).toString).toList
    }
    assert(got.length == 250 && got.toSet == ids.toSet)
  }

  test("aggregate pushdown declines: distinct counts and residual filters") {
    val distinctAgg = read.load().groupBy($"field_name")
      .agg(countDistinct($"record_id").as("n"))
    assert(!distinctAgg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(distinctAgg.as[(String, Long)].collect().toMap ==
      Map("age" -> 250L, "np_dob" -> 250L, "visit_date" -> 250L))
    val residual = read.load().filter($"value".contains("1990"))
      .select("record_id").distinct()
    assert(!residual.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(residual.count() == 250)
    // aggregate functions decline: Spark aggregates the scanned rows
    val counted = read.load().groupBy($"field_name")
      .agg(count(lit(1)).as("n"), min($"value").as("mn"))
    assert(!counted.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    val raw = spark.read.option("header", true).csv(fixture)
    val exp = raw.groupBy($"field_name")
      .agg(count(lit(1)).as("n"), min($"value").as("mn"))
      .as[(String, Long, String)].collect().toSet
    assert(counted.as[(String, Long, String)].collect().toSet == exp && exp.size == 3)
    val star = read.load()
    assert(!star.groupBy().count().queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(star.count() == 750)
  }

  test("columnar read path: plain scans vectorize (ColumnarToRow in plan), " +
      "values identical to the row reader") {
    val df = read.load()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"scan not vectorized: ${plan.take(600)}")
    assert(df.count() == 750)
    // values identical to the plain CSV reader (same column set + content)
    // (csv reads blank as null; the EAV plane carries empty strings)
    val viaCsv = spark.read.option("header", true).csv(fixture)
      .na.fill("").collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet == viaCsv)
    // filter + pruning and a limit above the scan still vectorized
    val filtered = read.load().filter($"field_name" === "age").select("record_id", "value")
    assert(filtered.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(filtered.count() == 250)
    val limited = read.load().limit(7)
    assert(limited.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(limited.count() == 7)
  }

  test("sample: Spark's Sample above the scan, deterministic per seed") {
    val df = read.load().sample(0.3, seed = 17)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Sample 0.0, 0.3"), s"no Sample operator in: $plan")
    val n1 = df.count()
    assert(n1 > 750 * 0.15 && n1 < 750 * 0.45, s"got $n1 of 750")
    // same seed, same chunking: identical rows on every run
    assert(read.load().sample(0.3, seed = 17).count() == n1)
    val rows1 = df.collect().map(_.toSeq).toSet
    assert(read.load().sample(0.3, seed = 17).collect().map(_.toSeq).toSet == rows1)
    // a filter above the sample: results correct
    val filtered = read.load().sample(0.5, seed = 3).filter($"field_name" === "age")
    val vals = filtered.select("field_name").as[String].collect()
    assert(vals.nonEmpty && vals.forall(_ == "age"))
  }

  test("a user-specified read schema is refused at load(), before any job; " +
      "the source has no write path") {
    val jobs = jobsOf {
      for (ddl <- Seq("record_id INT, value STRING", "record_id STRING, foo STRING")) {
        val e = intercept[UnsupportedOperationException] {
          spark.read.format("graft-eav").schema(ddl).option("path", fixture).load()
        }
        assert(e.getClass.getName == "org.apache.spark.SparkUnsupportedOperationException")
        assert(e.getMessage.contains("does not support user-specified schema"),
          e.getMessage)
      }
    }
    assert(jobs == 0)
    val out = Files.createTempDirectory("eavwrite").toString
    val w = intercept[Exception] {
      Seq("x").toDF("value").write.format("graft-eav").option("path", out)
        .mode("append").save()
    }
    // no BATCH_WRITE: Spark falls back to the V1 write path, which refuses
    assert(w.isInstanceOf[org.apache.spark.SparkException], w.toString)
    assert(w.getMessage.contains("EavSourceProvider does not allow create table as select"),
      w.getMessage)
  }

  test("reported statistics let Catalyst broadcast a small extraction") {
    // big probe side (parquet, beyond broadcast threshold is irrelevant —
    // what matters is the SMALL side is the v2 scan, which without
    // SupportsReportStatistics would report "huge" and force a shuffle)
    val dimDir = Files.createTempDirectory("eavstats").resolve("users").toString
    (1 to 250).flatMap(r => (1 to 40).map(i => (s"r$r", i)))
      .toDF("record_id", "i").write.parquet(dimDir)
    val big = spark.read.parquet(dimDir)
    val joined = big.join(read.load().filter($"field_name" === "age"), "record_id")
    assert(joined.count() == 250L * 40)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast in: ${plan.take(600)}")
    // the estimate itself (not AQE) makes the scan broadcastable: the v2
    // relation must report the transport size, not the "assume huge" default
    val v2Stats = joined.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats.sizeInBytes
    }
    assert(v2Stats.nonEmpty && v2Stats.head < BigInt(1000000),
      s"v2 scan stats not reported: $v2Stats")
  }

  test("feeds the ETL pipeline end-to-end") {
    val fm = Seq(("age", "Include", null.asInstanceOf[String]),
      ("visit_date", "TransformDate", null.asInstanceOf[String]),
      ("np_dob", "Exclude", null.asInstanceOf[String]))
      .toDF("field_name", "status", "restrict_to_event_list")
    val eav = read.load()
      .withColumn("kpmp_date_cleaned", org.apache.spark.sql.functions.lit(null).cast("boolean"))
      .withColumn("kpmp_date_cleaned_type", org.apache.spark.sql.functions.lit(null).cast("string"))
    val out = graft.etl.Pipeline.run(eav, fm, Seq(
      new graft.etl.DateShiftTransform(fm, "dob_shifting", standardDate = "2010-01-01")))
    // every record has a dob → every visit_date cleaned and kept; + all ages
    assert(out.kept.filter("field_name = 'visit_date'").count() == 250)
    assert(out.kept.filter("field_name = 'age'").count() == 250)
    assert(out.kept.filter("field_name = 'np_dob'").count() == 0)
  }
}
