package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{FixedDateFormatRule, Haversine, QDotProduct, SpanHashWindows,
  SpanHashWindowsLong, TileStatsPartial}

/** The one wiring path for the engine's native expressions, the as-of
  * planner strategy and the `date_format` kernel rule: `Sessions.build`
  * applies it through `builder.withExtensions`, and a spark-submit /
  * Thrift-server deployment sets
  * `--conf spark.sql.extensions=graft.GraftExtensions`. Either way
  * `haversine_km`, `tile_stats_partial`, `span_hash_windows` and `q_dot`
  * are callable from SQL on every session, and the optimizer runs
  * [[graft.functions.FixedDateFormatRule]], which puts a fixed-field
  * kernel in place of `date_format` (exclude it by its class name in
  * `spark.sql.optimizer.excludedRules`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, usage, builder) =>
      // 5-arg ctor is (className, db, name, usage, extended) — the
      // 3-arg one binds (className, db, name) and would file the usage
      // string as the function NAME in DESCRIBE FUNCTION output
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => FixedDateFormatRule)
  }
}

object GraftExtensions {
  /** (name, usage, builder) triples the extension injects. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("haversine_km", "haversine_km(lat1, lon1, lat2, lon2) - great-circle km",
      exprs => Haversine(exprs(0), exprs(1), exprs(2), exprs(3))),
    ("tile_stats_partial", "tile_stats_partial(tile) - per-tile stat partials",
      exprs => TileStatsPartial(exprs.head)),
    ("span_hash_windows", "span_hash_windows(tokens, w) - md5 of every w-token window",
      exprs => SpanHashWindows(exprs(0), exprs(1))),
    ("span_hash_windows_long",
      "span_hash_windows_long(tokens, w) - 60-bit integer md5 of every w-token window",
      exprs => SpanHashWindowsLong(exprs(0), exprs(1))),
    ("q_dot", "q_dot(a, b) - exact integer dot product of two quantized vectors",
      exprs => QDotProduct(exprs(0), exprs(1))))
}
