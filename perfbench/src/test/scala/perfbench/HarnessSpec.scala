package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a throwing operation and a wrong answer count as failed and add no sample") {
    val ops = new Ops
    assert(ops.run("q")(throw new IllegalStateException("boom"))(_ => None).isEmpty)
    assert(ops.run("q")(41)(v => if (v == 42) None else Some(s"got $v")).isEmpty)
    assert(ops.run("q")(42)(v => if (v == 42) None else Some(s"got $v")).nonEmpty)
    assert(ops.attempted == 3 && ops.failed == 2)
    assert(ops.of("q").size == 1, "only the right answer is a latency sample")
    assert(ops.failureList.map(_._1).exists(_.contains("IllegalStateException: boom")))
    assert(ops.failureList.map(_._1).exists(_.contains("got 41")))
  }

  test("a check that throws is a failure, not a crash") {
    val ops = new Ops
    assert(ops.run("q")(1)(_ => throw new RuntimeException("bad check")).isEmpty)
    assert(ops.failed == 1 && ops.of("q").isEmpty)
  }

  test("quantiles interpolate between closest ranks") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.95) - 3.85) < 1e-12)
    assert(Stats.quantile(Seq(7.0), 0.95) == 7.0)
    assert(math.abs(Stats.quantile((1 to 100).map(_.toDouble), 0.95) - 95.05) < 1e-9)
    assert(Stats.quantile(Seq(1.0, 9.0), 0.0) == 1.0 && Stats.quantile(Seq(1.0, 9.0), 1.0) == 9.0)
    intercept[IllegalArgumentException](Stats.quantile(Nil, 0.5))
  }

  test("self time is duration minus the children's durations") {
    // root (10 s) → a (3 s) → c (1 s); root → b (4 s)
    val self = Trace.selfTimes(Seq((0, -1, 10.0), (1, 0, 3.0), (2, 0, 4.0), (3, 1, 1.0)))
    assert(self == Map(0 -> 3.0, 1 -> 2.0, 2 -> 4.0, 3 -> 1.0))
  }

  test("spans nest, name their job groups and sum self time by name") {
    val groups = scala.collection.mutable.ArrayBuffer[Option[String]]()
    val t = new Trace(true, groups += _)
    t.span("outer") { t.span("inner")(Thread.sleep(20)); t.span("inner")(Thread.sleep(20)) }
    assert(t.all.map(_.name) == Seq("outer", "inner", "inner"))
    assert(t.all.map(_.parent) == Seq(-1, 0, 0))
    assert(groups.last.isEmpty && groups.head.contains(t.groupOf(0)))
    val self = t.selfByName
    assert(self("inner") >= 0.035 && self("outer") >= 0 && self("outer") < self("inner"))
  }

  test("a disabled trace runs the body and records nothing") {
    val t = new Trace(false)
    assert(t.span("x")(5) == 5 && t.all.isEmpty)
  }

  test("the oracle verdict parser reads the script's JSON") {
    assert(OracleChecked.parse("""{"a": "ok", "b": "2 rows != oracle 3", "c": "x \"y\""}""") ==
      Map("a" -> "ok", "b" -> "2 rows != oracle 3", "c" -> "x \"y\""))
  }

  test("the metric lists match BENCHMARK.json") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val json = try src.mkString finally src.close()
    def names(section: String): Seq[(String, String)] = {
      val body = json.substring(json.indexOf(s""""$section""""))
      val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
      """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(list)
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
  }

  test("reference polygons cover pixel centres on their boundary") {
    val sq = RasterGen.Poly(1, Seq((0.25, 0.25), (2.75, 0.25), (2.75, 2.75), (0.25, 2.75)))
    assert(sq.covers(0.5, 0.5) && sq.covers(2.5, 2.5) && !sq.covers(3.5, 0.5))
    val tri = RasterGen.Poly(2, Seq((0.25, 0.25), (4.25, 4.25), (4.25, 0.25)))
    assert(tri.covers(2.5, 2.5), "a centre exactly on the hypotenuse is covered")
    assert(!tri.covers(1.5, 2.5))
  }
}
