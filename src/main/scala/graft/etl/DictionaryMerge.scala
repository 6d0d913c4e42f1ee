package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-dictionary curation upsert (SURVEY.md J6;
  * /root/reference/dictionary_extraction.py:84-103).
  *
  * pandas `extraction_df.update(min_existing)` semantics, made explicit:
  *  - the fresh extraction is the row universe (rows only in the existing
  *    curated file are NOT carried over — `update` never adds rows);
  *  - for the curated columns, an existing non-null value overwrites the
  *    fresh one (curation survives re-extraction);
  *  - everything else comes from the fresh extraction.
  *
  * A left join on `field_name` + per-column coalesce; both tables are
  * control-plane small, but the plan is scale-safe regardless.
  */
object DictionaryMerge {

  /** Curated columns per dictionary_extraction.py:89-98. */
  val curatedColumns: Seq[String] = Seq(
    "status", "status questions", "notes", "restrict_to_event_list", "ontology_term")

  def upsert(fresh: DataFrame, existing: DataFrame, key: String = "field_name"): DataFrame = {
    // A duplicated key in the curated file would fan out the fresh extraction
    // through the left join (the reference's pandas set_index+update raises on
    // a duplicate index); any-wins dedupe, same rationale as PhiFilter's
    // control-table handling.
    val ex = existing.select(
      (key +: curatedColumns.filter(existing.columns.contains)).map(c => col(s"`$c`")): _*)
      .dropDuplicates(key)
    val exRenamed = curatedColumns.filter(ex.columns.contains).foldLeft(ex) {
      (df, c) => df.withColumnRenamed(c, s"__ex_$c")
    }
    val joined = fresh.join(exRenamed, Seq(key), "left")
    val out = curatedColumns.filter(fresh.columns.contains).foldLeft(joined) { (df, c) =>
      if (exRenamed.columns.contains(s"__ex_$c"))
        df.withColumn(c, coalesce(col(s"`__ex_$c`"), col(s"`$c`")))
      else df
    }
    out.select(fresh.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
  }
}
