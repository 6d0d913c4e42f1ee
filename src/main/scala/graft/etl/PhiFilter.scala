package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PHI row-filter rule cascade (SURVEY.md P4/A2/A6;
  * /root/reference/redcap-etl.py:299-356).
  *
  * A row survives iff one of, in the reference's precedence order:
  *   1. `field_name == 'redcap_data_access_group'`            (:316-318)
  *   2. `field_name` ends with `_complete`                    (:319-321)
  *   3. field is in the map with `status == 'Include'` and the row's event
  *      passes the optional `restrict_to_event_list`          (:329-341)
  *   4. field is in the map with a date-transform status AND the row was
  *      already cleaned (`kpmp_date_cleaned`) — fail-closed: an uncleaned
  *      date row is PHI and is dropped                        (:342-351);
  *      a field with both an `Include` and a date-status row counts as a
  *      date here, never as `Include` ([[FieldMap.Rules]])
  * Fields absent from the map are dropped and reported once (:322-327) —
  * here a distinct side output instead of a driver dict.
  *
  * The map arrives compiled ([[FieldMap.Rules]], thousands of fields at
  * most), so the whole cascade is one filter of `IN`/`InSet` predicates
  * over literal field and event sets: no join, no exchange, and it stays
  * in whole-stage codegen at any data scale.
  */
object PhiFilter {

  final case class Result(kept: DataFrame, unknownFields: DataFrame, uniqueFields: DataFrame)

  private val dagCol: Column = col("field_name") === "redcap_data_access_group"
  private val completeCol: Column = col("field_name").endsWith("_complete")

  def apply(eav: DataFrame, fieldMap: FieldMap.Rules): Result = {
    val field = col("field_name")
    // one disjunct per distinct event list, in a stable order; a null
    // event never passes a restricted list
    val include = fieldMap.include.toSeq.sortBy(_._1.map(_.toSeq.sorted.mkString(","))).map {
      case (events, fields) =>
        val f = FieldMap.isIn(field, fields)
        events.fold(f)(ev => f && FieldMap.isIn(col("redcap_event_name"), ev))
    }.foldLeft(lit(false))(_ || _)
    val cleanedDate = FieldMap.isIn(field, fieldMap.phiDates) && col("kpmp_date_cleaned") === true

    val kept = eav.filter(dagCol || completeCol || include || cleanedDate)
    val unknown = eav
      .filter(!dagCol && !completeCol && !FieldMap.isIn(field, fieldMap.known))
      .select(field).distinct()
    Result(kept, unknown, kept.select(field).distinct())
  }
}
