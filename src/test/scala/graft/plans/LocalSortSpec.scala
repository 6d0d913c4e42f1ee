package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [[LocalSort]]: a global sort of a local relation is done on the driver
  * with Spark's ordering — same rows in the same order as Spark's own
  * sort, and no exchange. */
class LocalSortSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq[(Option[Int], Option[Double], String)](
    (Some(3), Some(1.5), "a"), (None, Some(Double.NaN), "b"), (Some(1), None, "c"),
    (Some(3), Some(Double.NegativeInfinity), "d"), (Some(-2), Some(Double.PositiveInfinity), "e"),
    (None, Some(0.0), "f"), (Some(1), Some(Double.NaN), "g"), (Some(1), Some(-1.0), "h"),
    (Some(3), Some(-0.0), "i"), (Some(-2), Some(1.5), "j"))

  private def local: DataFrame = rows.toDF("k", "d", "s")
  /** The same rows off the driver: Spark plans its own sort. */
  private def spread: DataFrame = local.repartition(3)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def lines(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  test("asc/desc, nulls first/last, NaN, several keys and expression keys: " +
      "Spark's order, one LocalTableScan, no exchange") {
    val k = col("k"); val d = col("d"); val s = col("s")
    val orders: Seq[Seq[Column]] = Seq(Seq(k.asc, s), Seq(k.desc, s),
      Seq(k.asc_nulls_last, s), Seq(k.desc_nulls_first, s), Seq(d.asc, s),
      Seq(d.desc, s), Seq(d.asc_nulls_last, s.desc), Seq(k.asc, d.desc, s),
      Seq(d.desc_nulls_last, k.asc_nulls_first, s.desc), Seq((k * -1).asc, s),
      Seq(s.desc))
    for (o <- orders) {
      val got = local.orderBy(o: _*)
      assert(lines(got) == lines(spread.orderBy(o: _*)), o)
      assert(!plan(got).contains("Exchange") && !plan(got).contains("Sort"), plan(got))
      assert(got.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation], o)
    }
  }

  test("ties: the same key order as Spark's sort, tied rows in relation order") {
    val got = lines(local.orderBy(col("k")))
    val ref = lines(spread.orderBy(col("k")))
    def keys(ls: Seq[String]) = ls.map(_.split(",")(0))
    assert(keys(got) == keys(ref))
    assert(got.sorted == ref.sorted)
    // stable: k = 3 rows keep their relation order a, d, i
    assert(got.filter(_.startsWith("[3,")).map(_.split(",")(2)) == Seq("a]", "d]", "i]"))
  }

  test("left alone: sortWithinPartitions, nondeterministic keys, non-local input") {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    assert(plan(local.sortWithinPartitions(col("k"))).contains("Sort"))
    // (Spark itself evaluates `orderBy(rand())` over a local relation into
    // a column first, so the rule meets the key only in a built plan)
    val rel = local.queryExecution.optimizedPlan
    val randomly = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), true, rel, None)
    assert(LocalSort(randomly) == randomly)
    assert(plan(spread.orderBy(col("k"))).contains("Exchange rangepartitioning"))
  }
}
