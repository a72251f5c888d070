package perfbench

import graft.SparkEntry
import java.nio.file.Files
import org.apache.spark.sql.Row
import scala.collection.mutable

/** Registered queries checked against their DuckDB oracle SQL: each is
  * run once into parquet, the oracle script compares, and the verified
  * result's row fingerprint is what later executions must reproduce. */
final class OracleChecked(ctx: Ctx, tablesDir: String, val names: Seq[String],
                          fingerprints: Boolean = true) {
  val verdict = mutable.LinkedHashMap[String, String]()
  val fingerprint = mutable.HashMap[String, String]()

  /** Writes every result, then runs `meanwhile` while the oracle script
    * finishes. The script compares each result while the next one is
    * written. */
  def verify(meanwhile: => Unit = ()): Unit = {
    import scala.concurrent.{Await, Future, duration}
    val spark = ctx.spark
    val out = ctx.fresh("oracle")
    val sql = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.writeString(out.resolve("oracle_sql.json"),
      sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    val script = Py.start("oracle.py", tablesDir, out.toString)
    val answers = Future(new String(script.getInputStream.readAllBytes(), "UTF-8"))(
      scala.concurrent.ExecutionContext.global)
    val ask = new java.io.PrintWriter(script.getOutputStream, true)
    // untimed, so three queries run at once: a fresh JVM's first
    // executions are mostly single-threaded planning and compilation
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val writes = names.map { n =>
      Future {
        try {
          val df = SparkEntry.queries(n)(spark, tablesDir)
          df.write.mode("overwrite").parquet(out.resolve(n).toString)
          val rows = if (fingerprints) Some(OracleChecked.fingerprint(df.collect())) else None
          synchronized { rows.foreach(fingerprint(n) = _); ask.println(n) }
        } catch { case scala.util.control.NonFatal(e) => synchronized {
          verdict(n) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        } }
      }(scala.concurrent.ExecutionContext.fromExecutor(pool))
    }
    try writes.foreach(Await.result(_, duration.Duration.Inf)) finally pool.shutdown()
    ask.close()
    Main.log(s"${names.size} results written for the oracle")
    meanwhile
    OracleChecked.parse(Await.result(answers, duration.Duration.Inf))
      .foreach { case (n, v) => verdict.getOrElseUpdate(n, v) }
    require(script.waitFor() == 0, s"oracle.py exited with ${script.exitValue()}")
    names.filterNot(verdict.contains).foreach(verdict(_) = "no result")
    Main.log(s"oracle: ${verdict.count(_._2 == "ok")} of ${names.size} ok")
  }

  /** None when this execution's rows are the verified ones. */
  def check(name: String, rows: Array[Row]): Option[String] =
    verdict.get(name).filter(_ != "ok").map(v => s"oracle: $v")
      .orElse(if (OracleChecked.fingerprint(rows) == fingerprint(name)) None
        else Some("rows differ from the verified result"))
}

object OracleChecked {
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The oracle script's flat {name: verdict} object. */
  def parse(json: String): Map[String, String] =
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2).replace("\\\"", "\"")).toMap

  /** A fixed sample of a module's queries: the `k` names with the
    * smallest SHA-1, so the choice never depends on the seed. */
  def sample(names: Iterable[String], k: Int): Seq[String] =
    names.toSeq.sortBy(n => java.security.MessageDigest.getInstance("SHA-1")
      .digest(n.getBytes("UTF-8")).map("%02x".format(_)).mkString).take(k).sorted
}
