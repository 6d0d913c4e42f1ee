package graft.etl

/** Core data model (SURVEY.md §1).
  *
  * The EAV plane is intentionally a DataFrame (dynamic attribute space —
  * `field_name`/`value` carry arbitrary study fields as strings, per the
  * reference's `type=eav` export, redcap-etl.py:84,123-127;
  * `EavSource.schema` holds its columns). The control-table constants live
  * here.
  */
object Model {

  /** Field-map control table columns, /root/reference/dictionary_extraction.py:48-61. */
  val fieldMapColumns: Seq[String] = Seq(
    "form_name", "field_name", "status", "status questions", "exclude_reason",
    "notes", "field_type", "select_choices_or_calculations", "field_label",
    "text_validation_type_or_show_slider_number", "ontology_term",
    "restrict_to_event_list")

  /** The four date-transform statuses, /root/reference/dcc_transforms.py:25-31,
    * each mapped to its output granularity (format patterns per the
    * reference's renderings at dcc_transforms.py:83,88,94,97 — space
    * separator, minute render is the [:-3] slice of HH:MM:SS). */
  val dateStatusGranularity: Map[String, String] = Map(
    "TransformDateYear"        -> "yyyy",
    "TransformDate"            -> "yyyy-MM-dd",
    "TransformDateTime"        -> "yyyy-MM-dd HH:mm",
    "TransformDateTimeSeconds" -> "yyyy-MM-dd HH:mm:ss")

  val dateStatuses: Seq[String] = dateStatusGranularity.keys.toSeq.sorted
}
