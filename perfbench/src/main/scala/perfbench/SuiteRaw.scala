package perfbench

import graft.{SparkEntry, Tables}

/** suite_raw: a fixed sample of the engine's registered queries (the
  * same names for every seed, at least one per module) over seeded
  * tables, with every engine cache off and cleared before each pass.
  * Each query is evaluated by a full-row `noop` write; the seed sets the
  * query order. Results are checked against the DuckDB oracle once per
  * run. */
object SuiteRaw extends Workload {
  val name = "suite_raw"

  def moduleNames: Seq[String] =
    SparkEntry.modules.map(_.getClass.getSimpleName.stripSuffix("$"))

  /** (module, query name) pairs measured, in a fixed order: the
    * `perModule` sampled queries of each module. */
  def selected(perModule: Int): Seq[(String, String)] =
    SparkEntry.modules.zip(moduleNames).flatMap { case (m, mn) =>
      OracleChecked.sample(m.queries.keys, perModule).map(mn -> _) }

  private var tablesDir = ""
  private var queries: Seq[(String, String)] = Nil
  private var oracle: OracleChecked = _

  def setup(ctx: Ctx): Unit = {
    tablesDir = ctx.fresh("suite/tables").toString
    Py.tables(ctx, tablesDir)
  }

  def warmup(ctx: Ctx): Unit = {
    queries = if (ctx.smoke) selected(1).take(3) else selected(1)
    Tables.cacheEnabled = false
    SparkEntry.clearCaches()
    oracle = new OracleChecked(ctx, tablesDir, queries.map(_._2), fingerprints = false)
    // the oracle pass writes parquet; one discarded noop pass, run while
    // the oracle script finishes, warms the path the timed passes take
    // (the second execution of a query is still much slower than the third)
    oracle.verify(meanwhile = unit(ctx, -1))
  }

  def unit(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    SparkEntry.clearCaches()
    new scala.util.Random(ctx.seed * 31 + i).shuffle(queries).foreach { case (module, q) =>
      val kind = s"suite.$module"
      ctx.ops.run(kind, q)(ctx.span(kind)(
        SparkEntry.queries(q)(spark, tablesDir).write.mode("overwrite").format("noop").save()))(
        _ => oracle.verdict.get(q).filter(_ != "ok").map(v => s"$q oracle: $v"))
    }
  }

  def endToEnd(ctx: Ctx, unitSeconds: Seq[Double]): Map[String, Double] = {
    // each query at its fastest timed pass (the engine Bench's per-query
    // MIN, when a run holds more than one); pass_s is their sum
    val best = ctx.ops.best(_.startsWith("suite."))
    Map(
      "throughput_per_s" -> best.size / best.sum,
      "pass_s" -> best.sum,
      "p50_ms" -> Stats.quantile(best.map(_ * 1000), 0.5),
      "p95_ms" -> Stats.quantile(best.map(_ * 1000), 0.95))
  }

  /** The derived-input boundary on its own: one `Grid.fromLineitem`
    * build, materialized once after the traced passes. */
  override def layers(ctx: Ctx): Map[String, Double] = {
    val t0 = System.nanoTime()
    graft.grid.Grid.fromLineitem(ctx.spark, tablesDir).write.mode("overwrite").format("noop").save()
    Map("grid.cube_build_s" -> (System.nanoTime() - t0) / 1e9)
  }
}
