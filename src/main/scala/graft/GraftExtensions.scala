package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.RollingFingerprint

/** SparkSessionExtensions wiring (SURVEY.md §7.3 path (c) registration):
  * makes the engine's native expressions available to plain SQL users.
  *
  * Activate with either:
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or config-driven (spark-submit / cluster default):
  *   --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  * then `SELECT rolling_fingerprint(text) FROM docs`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // range-theta → bucketed equi-join rewrite (opt-in by
    // graft.rangeJoin.bucketWidth; no-op otherwise)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // a global sort of a local relation runs on the driver (no exchange)
    ext.injectOptimizerRule(_ => graft.plans.LocalSort)
    // physical planning for the custom as-of join operator
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("rolling_fingerprint"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "rolling_fingerprint"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "rolling_fingerprint(str) takes exactly one argument")
        RollingFingerprint(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("md5_low64"),
      new ExpressionInfo(classOf[graft.functions.Md5Low64].getName, "md5_low64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "md5_low64(str) takes exactly one argument")
        graft.functions.Md5Low64(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("strip_accents"),
      new ExpressionInfo(classOf[graft.functions.StripAccents].getName, "strip_accents"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "strip_accents(str) takes exactly one argument")
        graft.functions.StripAccents(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaro_winkler(a, b) takes exactly two arguments")
        graft.functions.JaroWinkler(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[graft.functions.HeavyHitters].getName, "heavy_hitters"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "heavy_hitters(col, capacity) takes two arguments")
        val cap = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"heavy_hitters capacity must be an int literal, got $other")
        }
        // bare AggregateFunction: the analyzer wraps it in AggregateExpression
        graft.functions.HeavyHitters(children.head, cap)
      }))
    ext.injectFunction((
      FunctionIdentifier("token_windows"),
      new ExpressionInfo(classOf[graft.functions.TokenWindows].getName, "token_windows"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "token_windows(text, window, overlap) takes three arguments")
        graft.functions.TokenWindows(children(0), children(1), children(2))
      }))
  }
}
