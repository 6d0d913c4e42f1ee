package graft.functions

import org.apache.spark.sql.Column

/** Lenient ISO-8601 parsing (SURVEY.md F1): REDCap values are strings at
  * mixed granularities (`yyyy`, `yyyy-MM`, date, minute, second, with space
  * or 'T' separator — /root/reference/dcc_transforms.py:41,46,58,115,121,138
  * parse with dateutil.isoparse). Unparseable input → null (callers route
  * to the error channel rather than crash, unlike the reference's
  * total_seconds mode).
  *
  * The parse is one native expression, [[LenientTimestamp]], that tries
  * its candidate patterns in order without throwing: a value no pattern
  * matches (a lab result, free text) costs no exception. Its answer is the
  * answer of `coalesce(try_to_timestamp(value, lit(p)) …)` over the same
  * patterns under `spark.sql.legacy.timeParserPolicy=CORRECTED`, Spark's
  * default. Under EXCEPTION (and LEGACY) it runs that chain's own
  * exception-driven per-pattern parse, so a value only the legacy parser
  * reads still raises `SparkUpgradeException` under EXCEPTION instead of
  * quietly becoming null.
  */
object LenientDate {

  /** Parse a lenient ISO string to TimestampType; null when unparseable. */
  def parseTs(c: Column): Column = LenientTimestamp(c)
}
