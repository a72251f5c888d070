package graft

import graft.model.QueryFn

/** graft.Lab's core over a query list: a same-JVM rotated A/B where
  * every arm reports wall time, jobs and final-plan counts, a throwing
  * query is reported as failed and never timed, and a name that
  * matches no registered query fails before anything runs. */
class LabSpec extends SparkSpec {
  private val aqe = "spark.sql.adaptive.enabled"

  test("--ab arm pair: both arms report wall time, jobs and plan counts; a throwing query fails") {
    val o = Lab.parse(Seq("--sf", sf0001, "-n", "1", "--ab", s"$aqe=true,false",
      "p1_time_filter", "j3_star_join"))
    val boom: QueryFn = (_, _) => throw new IllegalStateException("boom")
    val before = spark.conf.getOption(aqe)
    val rep = Lab.run(spark, o.sf, Lab.select(o.names) :+ ("boom" -> boom), o.n, o.ab)
    assert(spark.conf.getOption(aqe) == before, "the A/B key must be restored")
    val arms = Seq(s"$aqe=true", s"$aqe=false")
    assert(rep.calibs.size == 1)
    assert(rep.cells.map(c => (c.query, c.arm)).toSet ==
      (for (q <- Seq("j3_star_join", "p1_time_filter"); a <- arms) yield (q, a)).toSet)
    for (c <- rep.cells) {
      assert(c.times.size == 1 && c.times.head > 0, c)
      assert(c.jobs.size == 1 && c.jobs.head >= 1, c)
      assert(c.counts.size == Lab.PlanColumns.size, c)
    }
    // the star join's four dimensions broadcast into one codegen span;
    // counted once each, from the final plan only
    for (c <- rep.cells if c.query == "j3_star_join") {
      val counts = Lab.PlanColumns.zip(c.counts).toMap
      assert(counts("bhj") == 4 && counts("exchanges") >= 1 && counts("codegen_spans") >= 1, c)
    }
    // the arm really applied: only the AQE-on plan is a final adaptive plan
    val j3 = rep.cells.filter(_.query == "j3_star_join").map(c => c.arm -> c.plan).toMap
    assert(j3(s"$aqe=true").contains("isFinalPlan=true"))
    assert(!j3(s"$aqe=false").contains("AdaptiveSparkPlan"))
    assert(rep.failed.toSet == arms.map("boom" -> _).toSet)
    assert(!rep.cells.exists(_.query == "boom"))
  }

  test("an unknown query name or a graft.* A/B key fails loudly") {
    val e = intercept[IllegalArgumentException](Lab.select(Seq("j3_star_join", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(Lab.select(Seq("j3_")).map(_._1).contains("j3_star_join"))
    intercept[IllegalArgumentException](Lab.parse(Seq("--ab", "graft.span.windowShapeMaxBytes=0,1")))
    intercept[IllegalArgumentException](Lab.parse(Seq("--ab", s"$aqe=true,false", "--ab", s"$aqe=false,true")))
    intercept[IllegalArgumentException](Lab.parse(Seq("--bogus")))
  }
}
