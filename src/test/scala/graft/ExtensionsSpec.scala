package graft

/** The one SQL-function wiring path, GraftExtensions: applied by
  * `Sessions.build` through `builder.withExtensions`, and the same
  * injection a spark-submit deployment configures with
  * spark.sql.extensions. */
class ExtensionsSpec extends SparkSpec {

  test("native expressions come through the extension on the Sessions.build session") {
    val h = spark.sql("SELECT span_hash_windows(array('a','b','c'), 2) AS h")
      .collect()(0).getSeq[String](0)
    assert(h.length == 2)
    // same md5 as the documented semantics: md5('a b')
    assert(h.head == "0cc9cd4dd26c5137b675a0d819cb9ab0")
    // the long form is the 60-bit value of the first 15 hex chars
    val hl = spark.sql("SELECT span_hash_windows_long(array('a','b','c'), 2) AS h")
      .collect()(0).getSeq[Long](0)
    assert(hl.head == java.lang.Long.parseLong("0cc9cd4dd26c513", 16))
    val km = spark.sql("SELECT haversine_km(0D, 0D, 0D, 1D) AS km")
      .collect()(0).getDouble(0)
    assert(math.abs(km - 111.19) < 0.5, s"got $km")
    // the extension's planner strategy is live on the same session: an
    // as-of plan node plans as the native exec (no strategy, no plan)
    import spark.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("k", "lt", "id")
    val right = Seq((1L, 5L, "a")).toDF("k", "rt", "p")
    val asof = graft.plans.AsofJoinNative.asof(left, right, "k", "lt", "rt", Seq("p"))
    assert(asof.collect().map(_.getAs[String]("asof_p")).toSeq == Seq("a"))
    val plan = asof.queryExecution.executedPlan
    val execs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) {
        case e: graft.plans.AsofJoinExec => e
        case e: graft.plans.BroadcastAsofJoinExec => e
      }
    assert(execs.nonEmpty, s"AsofJoinStrategy not applied:\n$plan")
  }

  test("GraftExtensions path: injected builders register and build real expressions") {
    // spark.sql.extensions is a STATIC conf read from the SparkContext,
    // so a shared test context can't enable it via Builder options; we
    // drive the injection machinery directly instead.
    import org.apache.spark.sql.{GraftShim, SparkSessionExtensions}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = FunctionRegistry.builtin.clone()
    GraftShim.registerFunctions(ext, reg)
    for ((name, usage, _) <- GraftExtensions.builders) {
      assert(reg.functionExists(FunctionIdentifier(name)), s"$name not injected")
      // DESCRIBE FUNCTION metadata must carry (name, usage) correctly —
      // ExpressionInfo's 3-arg ctor binds (className, db, name) and
      // silently files usage as the NAME
      val info = reg.lookupFunction(FunctionIdentifier(name)).get
      assert(info.getName == name, s"bad name: ${info.getName}")
      assert(info.getUsage == usage, s"bad usage: ${info.getUsage}")
    }
    // the injected builder must produce a working expression
    val e = reg.lookupFunction(FunctionIdentifier("haversine_km"),
      Seq(Literal(0.0), Literal(0.0), Literal(0.0), Literal(1.0)))
    val km = e.eval(null).asInstanceOf[Double]
    assert(math.abs(km - 111.19) < 0.5, s"got $km")
  }
}
