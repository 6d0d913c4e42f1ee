package graft.etl

import graft.SparkSpec

/** Static so the transmit closure reaches it from executor threads
  * (local mode shares the JVM — a stand-in for the HTTP endpoint). */
object SinksSpec {
  val posted = new scala.collection.mutable.ListBuffer[String]
  def record(doc: String): Unit = posted.synchronized { posted += doc }
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("keyedJson: one {key: {row}} document per row") {
    val df = Seq(("r1", 34, "F"), ("r2", 55, "M")).toDF("study_id", "age", "sex")
    val docs = Sinks.keyedJson(df, "study_id").as[String].collect().sorted
    assert(docs.length == 2)
    assert(docs(0) == """{"r1":{"age":34,"sex":"F"}}""")
    assert(docs(1) == """{"r2":{"age":55,"sex":"M"}}""")
  }

  test("envelopes: ids start at 1 (0 reserved for the header document)") {
    val df = (1 to 5).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    val envs = Sinks.envelopes(df, chunkRows = 2).as[String].collect()
    val ids = envs.map(e => """"chunk_number":(\d+)""".r.findFirstMatchIn(e).get.group(1).toLong)
    assert(ids.forall(_ >= 1))
    assert(ids.distinct.length == ids.length)
    assert(Sinks.headerDocument(Nil, None).startsWith("""{"chunk_number":0,"""))
  }

  test("envelope meta fields on every chunk; None renders as JSON null") {
    val df = (1 to 5).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)
    val meta = Seq(
      "redcap_project_id" -> Some("42"),
      "redcap_project_type" -> None,
      "extraction_run_datetime" -> Some("2026-08-12T10:00:00"))
    val envs = Sinks.envelopes(df, chunkRows = 2, meta).as[String].collect()
    envs.foreach { e =>
      assert(e.contains(""""redcap_project_id":"42""""))
      assert(e.contains(""""redcap_project_type":null"""))
      assert(e.contains(""""extraction_run_datetime":"2026-08-12T10:00:00""""))
      // meta sits between chunk_number and the records array
      assert(e.indexOf("redcap_records") > e.indexOf("redcap_project_id"))
    }
  }

  test("envelopesSequential: contiguous 1..n chunk numbers (reference parity)") {
    val df = (1 to 20).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)
    val envs = Sinks.envelopesSequential(df, chunkRows = 3).as[String].collect()
    val ids = envs.map(e => """"chunk_number":(\d+)""".r.findFirstMatchIn(e).get.group(1).toLong)
    assert(ids.sorted.toSeq == (1L to ids.length).toSeq)
    val total = envs.map(d => "\"id\"".r.findAllIn(d).length).sum
    assert(total == 20)
  }

  test("transmit: every envelope delivered exactly once via foreachPartition") {
    val df = (1 to 10).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)
    SinksSpec.posted.clear()
    Sinks.transmit(Sinks.envelopes(df, chunkRows = 4).toDF("envelope"), SinksSpec.record)
    val docs = SinksSpec.posted.toList
    assert(docs.forall(_.startsWith("""{"chunk_number":""")))
    val total = docs.map(d => "\"id\"".r.findAllIn(d).length).sum
    assert(total == 10)
  }
}
