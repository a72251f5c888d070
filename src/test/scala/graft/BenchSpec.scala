package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench never times a thrown query as a fast one: non-fatal
  * failures are named, and fatal errors end the run. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query is recorded as failed; the others are timed") {
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val times = Bench.timePass(Seq(
      "ok" -> (() => ()),
      "boom" -> (() => throw new IllegalStateException("boom")),
      "ok2" -> (() => Thread.sleep(5))), failed)
    assert(failed.toSeq == Seq("boom"))
    assert(times.map(_._1) == Seq("ok", "boom", "ok2"))
    assert(times.last._2 >= 0.005)
    // a second failure of the same query is not a second entry
    Bench.timePass(Seq("boom" -> (() => throw new RuntimeException("again"))), failed)
    assert(failed.toSeq == Seq("boom"))
  }

  test("a fatal error is not swallowed") {
    val failed = scala.collection.mutable.Set[String]()
    intercept[OutOfMemoryError](Bench.timePass(
      Seq("oom" -> (() => throw new OutOfMemoryError("fatal"))), failed))
    assert(failed.isEmpty)
  }
}
