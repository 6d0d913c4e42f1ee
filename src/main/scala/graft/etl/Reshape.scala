package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reshaping operators (SURVEY.md §2.9) — the reference's signature moves.
  */
object Reshape {

  /** EAV→wide pivot (R1; /root/reference/redcap-etl.py:382-397): one row per
    * record, one column per field. `values` must be supplied when the field
    * universe should be static (stable schema for sinks / Catalyst); when
    * empty, Spark computes it with an extra distinct pass.
    *
    * `first(ignoreNulls)` matches the reference's dict-overwrite semantics
    * only up to ordering; on key-unique input (one value per
    * record×field — the common case after the PHI filter) it is exact.
    */
  def pivotEav(df: DataFrame, values: Seq[String] = Nil,
      idCol: String = "record_id", fieldCol: String = "field_name",
      valueCol: String = "field_value"): DataFrame = {
    val g = df.groupBy(col(idCol))
    val p = if (values.nonEmpty) g.pivot(fieldCol, values) else g.pivot(fieldCol)
    p.agg(first(col(valueCol), ignoreNulls = true))
  }

  /** Wide→EAV unpivot (R2; /root/reference/dcc_transforms.py:262-268). */
  def unpivotWide(df: DataFrame, idCol: String, valueCols: Seq[String],
      fieldCol: String = "field_name", valueColName: String = "field_value"): DataFrame =
    df.unpivot(
      Array(col(idCol)),
      valueCols.map(c => col(c).cast("string")).toArray,
      fieldCol, valueColName)

  /** Checkbox one-hot → array (R3; RedCap2DataModel.ipynb cell 7): columns
    * `prefix___<code>` with 0/1/'' values collapse into an array of the
    * selected integer codes. Blank→0 regex-replace (cell 5) is folded in via
    * the try_cast+coalesce. Selection is encoded as `code-if-checked else
    * null` + null-filter (NOT value*code — that would silently drop the
    * legal checkbox code 0). Columns with non-numeric code suffixes are
    * left untouched rather than crashing the job. Pure higher-order
    * functions — no UDF, full codegen. */
  def checkboxToArray(df: DataFrame, prefix: String, outCol: String): DataFrame = {
    val candidates = df.columns.filter(_.startsWith(s"${prefix}___"))
    val oneHot = candidates.filter(_.stripPrefix(s"${prefix}___").matches("-?\\d+"))
    require(oneHot.nonEmpty, s"no columns match ${prefix}___<integer code>")
    val terms: Seq[Column] = oneHot.toSeq.map { c =>
      val code = c.stripPrefix(s"${prefix}___").toInt
      when(coalesce(expr(s"try_cast(`$c` AS int)"), lit(0)) =!= 0, lit(code)).as(c)
    }
    df.withColumn(outCol, array_sort(filter(array(terms: _*), x => x.isNotNull)))
      .drop(oneHot.toIndexedSeq: _*)
  }
}
