package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every workload runs end to end at smoke size, checks its outputs and
  * reports every metric its mode promises. */
class SmokeSpec extends AnyFunSuite {
  private lazy val spark = {
    val work = java.nio.file.Files.createTempDirectory("perfbench-smoke")
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    graft.Sessions.build("2")
  }

  for (w <- Main.Workloads; trace <- Seq(false, true)) {
    test(s"${w.name} completes at smoke size (trace=$trace)") {
      val work = java.nio.file.Files.createTempDirectory(s"perfbench-${w.name}")
      val line = try Main.run(spark, Main.Args(w.name, 3, 0.1, trace, smoke = true, work, None), 2)
        finally Host.rmTree(work)
      assert(line.startsWith("""{"correct": true, """), line)
      val expected = if (trace) Main.PerLayer else Main.EndToEnd
      expected.foreach { case (n, u) =>
        assert(line.contains(s""""$n": {"value": """), s"$n missing")
        assert(!line.contains(s""""$n": {"value": null"""), s"$n is not a number")
      }
    }
  }
}
