package graft.functions

import java.text.ParseException
import java.time.DateTimeException

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Lenient ISO-8601 parse to TIMESTAMP as a native codegen expression: the
  * first of [[LenientTimestamp.formats]] that matches the whole string, in
  * the session time zone, or null.
  *
  * It holds Spark's own formatters for those patterns, built as
  * `try_to_timestamp(value, lit(pattern))` builds its one, and asks each
  * for `parseOptional`: an unresolved parse against a `ParsePosition`, so
  * a pattern that does not match throws nothing. Under a
  * `spark.sql.legacy.timeParserPolicy` other than CORRECTED it calls each
  * formatter's `parse` instead and swallows only the errors
  * `try_to_timestamp` swallows. The parity contract is on [[LenientDate]].
  */
case class LenientTimestamp(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lenient_timestamp requires STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "lenient_timestamp"

  override def withTimeZone(timeZoneId: String): LenientTimestamp =
    copy(timeZoneId = Some(timeZoneId))

  @transient private lazy val formatters: Array[TimestampFormatter] =
    LenientTimestamp.formats.map(f => TimestampFormatter(f, zoneId,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)).toArray
  @transient private lazy val exact: Boolean =
    SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.CORRECTED

  override protected def nullSafeEval(input: Any): Any =
    LenientTimestamp.parse(formatters, exact, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fs = ctx.addReferenceObj("lenientFormatters", formatters,
      classOf[TimestampFormatter].getName + "[]")
    val micros = ctx.freshName("micros")
    nullSafeCodeGen(ctx, ev, c =>
      s"""java.lang.Long $micros = graft.functions.LenientTimestamp.parse($fs, $exact, $c);
         |if ($micros == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $micros.longValue();
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LenientTimestamp =
    copy(child = newChild)
}

object LenientTimestamp {
  /** REDCap values are strings at mixed granularities (`yyyy`, `yyyy-MM`,
    * date, minute, second, with space or 'T' separator, as dateutil's
    * isoparse accepts them). Fractional seconds and UTC offsets come
    * first (most specific wins): dropping them would silently fail-close
    * real clinical timestamps. */
  val formats: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd HH:mm:ss.SSSXXX",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd'T'HH:mm",
    "yyyy-MM-dd",
    "yyyy-MM",
    "yyyy")

  /** Microseconds of the first formatter that parses `s`, or null. Called
    * from both interpreted eval and generated code. */
  def parse(formatters: Array[TimestampFormatter], exact: Boolean,
      s: UTF8String): java.lang.Long = {
    val str = s.toString
    var i = 0
    while (i < formatters.length) {
      if (exact) {
        try return formatters(i).parse(str)
        catch { case _: DateTimeException | _: ParseException => }
      } else {
        val hit = formatters(i).parseOptional(str)
        if (hit.isDefined) return hit.get
      }
      i += 1
    }
    null
  }

  def apply(c: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(LenientTimestamp(Bridge.expression(c)))
  }
}
