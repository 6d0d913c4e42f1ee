package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The native lenient parser against its parity reference: the
  * `coalesce(try_to_timestamp(value, lit(p)) …)` chain over the same
  * patterns, which is what `LenientDate.parseTs` was. Both run under the
  * same session time zone on every fixture value of the ETL specs plus the
  * edge cases below, through interpreted eval, a generated projection and
  * a whole-stage-codegen query. */
class LenientTimestampSpec extends SparkSpec {
  import spark.implicits._

  private def chain(c: Column): Column =
    coalesce(LenientTimestamp.formats.map(f => try_to_timestamp(c, lit(f))): _*)

  // every `value` of the DateShiftSpec, EtlJobSpec and GoldenPipelineSpec
  // fixtures
  private val fixtureValues = Seq(
    "2000-01-01", "2001-06-15", "2001-06-15 10:30:45", "2001-06-15T10:30:45",
    "not a date", "1999-01-01", "junk-date", "2009-12-31 23:59:00",
    "2001-06-15 00:00:30", "2001-01-01", "2001-03-15", "2002-07-04",
    "2003-11-30", "1990-05-20", "2010-01-01", "34", "55", "123-45-6789",
    "site-07", "2", "x", "2002-01-01")

  private val edgeCases = Seq(
    "2020", "2020-01", "2020-1", "2020-02-30", "2021-02-29", "2020-02-29", "2010-13-01",
    "+12345", "12345", "999", "2020-01-01 24:00", "1999-12-31T23:59:60",
    "2020-01-01T10:11:12Z", "2020-01-01T10:11:12.1", "2020-01-01 10:11:12.1",
    "2020-01-01T10:11:12.1234567", "2020-01-01 10:11:12.123456",
    "2020-01-01T10:11:12.123+05:00", "2020-01-01 10:11:12.123456-08:00",
    "2020-01-01T10:11:12+0530", "2020-01-01T10:11:12+05:30", "", " ",
    " 2020-01-01", "\t2020-01-01 10:11", "2020-01-01 ",
    // America/Los_Angeles: the spring-forward gap and the fall-back overlap
    "2021-03-14 02:30", "2021-03-14T02:30:00", "2021-11-07 01:30",
    "2021-11-07T01:30:00.5")

  private val values = (fixtureValues ++ edgeCases).distinct

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** value → epoch micros (None = null) of `parse` over `values`, and the
    * executed plan. */
  private def viaQuery(parse: Column => Column): (Map[String, Option[Long]], String) = {
    val q = values.toDF("v").repartition(2)
      .select($"v", unix_micros(parse($"v")).as("micros"))
    val got = q.collect().map(r =>
      r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    (got, q.queryExecution.executedPlan.toString)
  }

  private def viaEval(tz: String, codegen: Boolean): Map[String, Option[Long]] = {
    val e = LenientTimestamp(BoundReference(0, StringType, nullable = true), Some(tz))
    val eval: InternalRow => Option[Long] =
      if (codegen) {
        val proj = GenerateUnsafeProjection.generate(Seq(e))
        row => { val r = proj(row); if (r.isNullAt(0)) None else Some(r.getLong(0)) }
      } else row => Option(e.eval(row)).map(_.asInstanceOf[Long])
    values.map(v => v -> eval(InternalRow(UTF8String.fromString(v)))).toMap
  }

  for (tz <- Seq("UTC", "America/Los_Angeles")) {
    test(s"parity with the try_to_timestamp chain under $tz: interpreted, " +
        "generated projection and whole-stage codegen") {
      withConf("spark.sql.session.timeZone", tz) {
        val (reference, _) = viaQuery(chain)
        // the cases are not vacuous: both hits and misses on each side
        assert(reference.values.count(_.isDefined) >= 25, reference)
        assert(reference.values.count(_.isEmpty) >= 15, reference)
        val (native, plan) = viaQuery(LenientDate.parseTs)
        assert(plan.contains("*(") && plan.contains("lenient_timestamp"), plan)
        for ((name, got) <- Seq("query" -> native,
            "interpreted" -> viaEval(tz, codegen = false),
            "codegen" -> viaEval(tz, codegen = true))) {
          val diff = values.filter(v => got(v) != reference(v))
            .map(v => s"'$v': ${got(v)} vs ${reference(v)}")
          assert(diff.isEmpty, s"$name under $tz:\n${diff.mkString("\n")}")
        }
      }
    }
  }

  test("known answers: granularities, offsets, fractions, rejects") {
    val utc = viaEval("UTC", codegen = false)
    val sec = (s: String) => Some(java.time.Instant.parse(s).getEpochSecond * 1000000L)
    assert(utc("2020") == sec("2020-01-01T00:00:00Z"))
    assert(utc("2020-01") == sec("2020-01-01T00:00:00Z"))
    assert(utc("2020-02-29") == sec("2020-02-29T00:00:00Z"))
    assert(utc("2020-01-01T10:11:12Z") == sec("2020-01-01T10:11:12Z"))
    assert(utc("2020-01-01T10:11:12.123+05:00") ==
      sec("2020-01-01T05:11:12Z").map(_ + 123000L))
    assert(utc("2020-01-01T10:11:12.1") == sec("2020-01-01T10:11:12Z").map(_ + 100000L))
    for (v <- Seq("2020-02-30", "2021-02-29", "2020-01-01 24:00",
        "1999-12-31T23:59:60", "not a date", "", " 2020-01-01"))
      assert(utc(v).isEmpty, v)
    val la = viaEval("America/Los_Angeles", codegen = false)
    assert(la("2021-03-14 02:30") == sec("2021-03-14T10:30:00Z")) // moved past the gap
    assert(la("2021-11-07 01:30") == sec("2021-11-07T08:30:00Z")) // earlier offset
  }

  test("timeParserPolicy=EXCEPTION: a value only the legacy parser reads " +
      "stays loud, as it was through the try_to_timestamp chain") {
    withConf("spark.sql.legacy.timeParserPolicy", "EXCEPTION") {
      // Right(parsed micros), or Left(whether the failure is the upgrade error)
      def outcome(parse: Column => Column, v: String): Either[Boolean, Option[Long]] =
        try Right(Seq(v).toDF("v").repartition(1)
          .select(unix_micros(parse($"v"))).as[Option[Long]].head())
        catch { case e: Exception => Left(
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.getClass.getName == "org.apache.spark.SparkUpgradeException")) }
      assert(outcome(chain, "2020-1") == Left(true))
      for (v <- Seq("2020-1", "2020-01-01", "2020-01-01T10:11:12Z", "not a date"))
        assert(outcome(LenientDate.parseTs, v) == outcome(chain, v), v)
    }
  }
}
