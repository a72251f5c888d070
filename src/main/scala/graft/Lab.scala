package graft

import graft.model.QueryFn
import jdk.jfr.{Configuration, Recording}
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution,
  SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The one measurement harness over the registered queries: same-JVM
  * rotated A/B timing, jobs per run, and final-AQE-plan operator counts.
  *
  * Protocol: two warm rounds, then `-n` measured rounds. Every round
  * times [[Bench.calibrate]] first (host-load probe) and rotates the arm
  * order, so monotone JVM warming cannot favour a fixed position. Every
  * run goes through [[Bench.timePass]] with the full-row `noop` write
  * ([[Bench.evalAll]]), so a query that throws is reported as failed
  * and never timed. Base tables are not pinned (`Tables.cacheEnabled`
  * stays off); module caches stay warm across rounds.
  *
  * Run: sbt "runMain graft.Lab --sf DIR [--cpus N] [-n N]
  *   [--ab spark.conf.key=v1,v2,...] [--plans OUT.tsv] [--explain]
  *   [--jfr OUT.jfr] [query-or-prefix ...]" — no names means every
  * registered query. `--plans` writes one TSV row per query (per
  * query@arm under `--ab`) in the columns of [[PlanColumns]];
  * `--explain` prints each query's formatted final plan once; `--jfr`
  * records the measured rounds with the JDK's own `profile` flight
  * recorder settings (`tools/jfr_top.py OUT.jfr` prints the top frames
  * per thread group). */
object Lab {
  case class Opts(sf: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", ""),
                  cpus: String = math.min(32, Runtime.getRuntime.availableProcessors()).toString,
                  n: Int = 5,
                  ab: Option[(String, Seq[String])] = None,
                  plans: Option[String] = None,
                  explain: Boolean = false,
                  jfr: Option[String] = None,
                  names: Seq[String] = Nil)

  /** One (query, arm): wall seconds and jobs of every measured run,
    * and the operator counts of the last run's final plan. */
  case class Cell(query: String, arm: String, times: Seq[Double], jobs: Seq[Int],
                  counts: Seq[Int], plan: String) {
    def name: String = rowName(query, arm)
    def min: Double = times.min
    def median: Double = times.sorted.apply(times.size / 2)
  }

  /** `failed` holds (query, arm) pairs that threw in any run; they have
    * no cell. `calibs` is the probe's time before each measured round. */
  case class Report(calibs: Seq[Double], cells: Seq[Cell], failed: Seq[(String, String)])

  val PlanColumns = Seq("exchanges", "bhj", "smj", "shj", "bnlj", "cartesian", "sorts",
    "windows", "pushed_filters", "reused_exchange", "codegen_spans")

  /** Operator counts of an executed plan, in [[PlanColumns]] order.
    * Walks AQE's final plan (query stages included) and every
    * subquery; the formatted text cannot be counted, since it also
    * numbers the initial plan's nodes. */
  def planCounts(plan: SparkPlan): Seq[Int] = {
    val nodes = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p => p }
    def n(f: SparkPlan => Boolean) = nodes.count(f)
    Seq(n(_.isInstanceOf[ShuffleExchangeLike]), n(_.isInstanceOf[BroadcastHashJoinExec]),
      n(_.isInstanceOf[SortMergeJoinExec]), n(_.isInstanceOf[ShuffledHashJoinExec]),
      n(_.isInstanceOf[BroadcastNestedLoopJoinExec]), n(_.isInstanceOf[CartesianProductExec]),
      n(_.isInstanceOf[SortExec]), n(_.isInstanceOf[WindowExec]),
      n { case s: FileSourceScanExec => s.metadata.get("PushedFilters").exists(_ != "[]"); case _ => false },
      n(_.isInstanceOf[ReusedExchangeExec]), n(_.isInstanceOf[WholeStageCodegenExec]))
  }

  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case "--sf" +: v +: rest => parse(rest).copy(sf = v)
    case "--cpus" +: v +: rest => parse(rest).copy(cpus = v)
    case "-n" +: v +: rest =>
      require(v.toInt >= 1, s"-n takes a round count >= 1, got '$v'")
      parse(rest).copy(n = v.toInt)
    case "--plans" +: v +: rest => parse(rest).copy(plans = Some(v))
    case "--explain" +: rest => parse(rest).copy(explain = true)
    case "--jfr" +: v +: rest => parse(rest).copy(jfr = Some(v))
    case "--ab" +: v +: rest =>
      val o = parse(rest)
      require(o.ab.isEmpty, "at most one --ab")
      val (key, values) = v.span(_ != '=')
      require(key.startsWith("spark.") && values.length > 1,
        s"--ab takes <spark-conf-key>=v1,v2[,...], got '$v'")
      o.copy(ab = Some(key -> values.drop(1).split(",").toSeq))
    case flag +: _ if flag.startsWith("-") =>
      throw new IllegalArgumentException(s"unknown or incomplete option '$flag'")
    case name +: rest => val o = parse(rest); o.copy(names = name +: o.names)
  }

  /** Registered queries matching each name exactly or as a prefix, in
    * name order; a name that matches nothing fails. */
  def select(names: Seq[String]): Seq[(String, QueryFn)] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    if (names.isEmpty) all
    else {
      val unknown = names.filterNot(n => all.exists(_._1.startsWith(n)))
      require(unknown.isEmpty, s"no registered query named or prefixed ${unknown.mkString(", ")}")
      all.filter { case (q, _) => names.exists(q.startsWith) }
    }
  }

  def run(spark: SparkSession, sf: String, queries: Seq[(String, QueryFn)], n: Int,
          ab: Option[(String, Seq[String])] = None, jfr: Option[String] = None): Report = {
    val sc = spark.sparkContext
    // (conf value to set, arm label)
    val arms = ab.fold(Seq(("", NoArm))) { case (k, vs) => vs.map(v => (v, s"$k=$v")) }
    val saved = ab.map { case (k, _) => k -> spark.conf.getOption(k) }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // the write is each run's last action, so the last successful
    // execution is the noop write, whose plan AQE has finalized (the
    // frame's own queryExecution never runs and stays an initial plan)
    val lastQe = new java.util.concurrent.atomic.AtomicReference[QueryExecution]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastQe.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val failed = scala.collection.mutable.Set[String]()
    val runs = scala.collection.mutable.Map[String, Vector[(Double, Int)]]().withDefaultValue(Vector())
    // counts and formatted text of each cell's latest final plan
    val plans = scala.collection.mutable.Map[String, (Seq[Int], String)]()
    def round(r: Int, record: Boolean): Double = {
      val calib = Bench.calibrate(spark)
      for ((v, arm) <- arms.drop(r % arms.size) ++ arms.take(r % arms.size)) {
        ab.foreach { case (k, _) => spark.conf.set(k, v) }
        for ((q, fn) <- queries; key = rowName(q, arm) if !failed(key)) {
          ListenerDrain(sc) // earlier work's events stay out of this run
          jobs.set(0)
          val Seq((_, t)) = Bench.timePass(
            Seq(key -> (() => Bench.evalAll(fn(spark, sf)))), failed)
          ListenerDrain(sc)
          if (record && !failed(key)) {
            runs(key) :+= (t -> jobs.get)
            val qe = lastQe.get
            plans(key) = (planCounts(qe.executedPlan), qe.explainString(FormattedMode))
          }
        }
      }
      calib
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val calibs = try {
      (0 until 2).foreach(round(_, record = false))
      // the measured rounds only: warm-up compiles and first loads stay out
      val recording = jfr.map { out =>
        val r = new Recording(Configuration.getConfiguration("profile"))
        r.start()
        (r, out)
      }
      try (0 until n).map(round(_, record = true))
      finally recording.foreach { case (r, out) =>
        r.stop()
        r.dump(java.nio.file.Paths.get(out))
        r.close()
      }
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val (bad, ok) = (for ((q, _) <- queries; (_, arm) <- arms) yield (q, arm))
      .partition { case (q, arm) => failed(rowName(q, arm)) }
    Report(calibs, ok.map { case (q, arm) =>
      val key = rowName(q, arm)
      Cell(q, arm, runs(key).map(_._1), runs(key).map(_._2), plans(key)._1, plans(key)._2)
    }, bad)
  }

  /** The arm label without `--ab`. */
  val NoArm = "default"

  /** A (query, arm)'s row name: `query`, or `query@key=value` under `--ab`. */
  def rowName(query: String, arm: String): String =
    if (arm == NoArm) query else s"$query@$arm"

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    require(o.sf.nonEmpty, "--sf DIR (or SPARK_GRAFT_SF_DIR) names the dataset")
    val queries = select(o.names)
    val spark = Sessions.build(o.cpus)
    try {
      val rep = run(spark, o.sf, queries, o.n, o.ab, o.jfr)
      def fmt(v: Double) = f"$v%.3f"
      println(s"[lab] sf=${o.sf} cpus=${o.cpus} n=${o.n} calib_s=${rep.calibs.map(fmt).mkString(",")}")
      println(("query" +: "arm" +: "min_s" +: "med_s" +: "jobs" +: PlanColumns).mkString("[lab] ", "\t", ""))
      for (c <- rep.cells) {
        val jobs = if (c.jobs.distinct.size == 1) c.jobs.head.toString
                   else s"${c.jobs.min}-${c.jobs.max}"
        println((Seq(c.query, c.arm, fmt(c.min), fmt(c.median), jobs) ++ c.counts.map(_.toString))
          .mkString("[lab] ", "\t", ""))
      }
      rep.failed.foreach { case (q, arm) => println(s"[lab] FAILED $q $arm") }
      o.jfr.foreach(out => println(s"[lab] wrote ${java.nio.file.Paths.get(out).toAbsolutePath}"))
      o.plans.foreach { out =>
        val rows = rep.cells.map(c => (c.name +: c.counts).mkString("\t")) ++
          rep.failed.map { case (q, arm) => (rowName(q, arm) +: PlanColumns.map(_ => "ERR")).mkString("\t") }
        val p = java.nio.file.Paths.get(out).toAbsolutePath
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p,
          (("query" +: PlanColumns).mkString("\t") +: rows.sorted).mkString("", "\n", "\n"))
        println(s"[lab] wrote $p (${rows.size} rows)")
      }
      if (o.explain)
        for (c <- rep.cells.groupBy(_.query).values.map(_.head).toSeq.sortBy(_.query))
          println(s"\n## ${c.query}\n\n```\n${c.plan.trim}\n```")
    } finally spark.stop()
  }
}
