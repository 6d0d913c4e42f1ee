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
  *      date row is PHI and is dropped                        (:342-351)
  * Fields absent from the map are dropped and reported once (:322-327) —
  * here a distinct side output instead of a driver dict.
  *
  * One broadcast hash join + one filter expression: the whole cascade stays
  * in whole-stage codegen; the map is a control table (thousands of rows at
  * most) so broadcast is always correct, at any data scale.
  */
object PhiFilter {

  final case class Result(kept: DataFrame, unknownFields: DataFrame, uniqueFields: DataFrame)

  private val dagCol: Column = col("field_name") === "redcap_data_access_group"
  private val completeCol: Column = col("field_name").endsWith("_complete")

  def apply(eav: DataFrame, fieldMap: DataFrame): Result = {
    val fm = FieldMap.normalize(fieldMap)
      // a duplicated field_name row in the control CSV must not fan out
      // every matching EAV row through the join; the reference's dict
      // build collapses duplicates (last-wins on file order — an ordering
      // a distributed read can't see, so: any-wins, and duplicates in a
      // curated control table are an upstream data bug either way)
      .dropDuplicates("field_name")
      .select(
        col("field_name"),
        col("status").as("__fm_status"),
        col("restrict_to_event_list").as("__fm_events"),
        lit(true).as("__fm_known"))

    val joined = eav.join(broadcast(fm), Seq("field_name"), "left")

    // coalesce: unmatched left-join rows carry NULL, and !NULL is NULL (not
    // true) — without this the unknown-field side output would be empty.
    val known = coalesce(col("__fm_known"), lit(false))
    // restrict_to_event_list: comma-separated event names; null/blank = all.
    val eventOk = col("__fm_events").isNull || trim(col("__fm_events")) === "" ||
      array_contains(transform(split(col("__fm_events"), ","), e => trim(e)),
        col("redcap_event_name"))
    val include = known && col("__fm_status") === "Include" && eventOk
    val cleanedDate = known && col("__fm_status").isin(Model.dateStatuses: _*) &&
      col("kpmp_date_cleaned") === true

    val keep = dagCol || completeCol || include || cleanedDate

    val kept = joined.filter(keep).select(eav.columns.toIndexedSeq.map(col): _*)
    val unknown = joined
      .filter(!dagCol && !completeCol && !known)
      .select(col("field_name")).distinct()
    Result(kept, unknown, kept.select(col("field_name")).distinct())
  }
}
