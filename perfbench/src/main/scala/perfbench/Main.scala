package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Everything a workload needs during one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val smoke: Boolean,
                val work: Path, val ops: Ops, val counters: SparkCounters) {
  var trace: Trace = new Trace(false)
  def span[T](name: String)(f: => T): T = trace.span(name)(f)
  def traced: Boolean = trace.enabled

  /** An empty directory under the run's work directory. */
  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Host.rmTree(p)
    Files.createDirectories(p)
  }
}

/** One benchmark workload. A run sets up (several times, for a steady
  * `setup_s`), warms up, then repeats `unit` — one cycle, pass or round
  * of the workload's operations — for the measured time. */
trait Workload {
  def name: String
  def setup(ctx: Ctx): Unit
  /** Builds what the units read, then runs at least one unit (or, for
    * long units, one batch of one) whose samples are discarded: the first
    * execution after a cold one is still slower. */
  def warmup(ctx: Ctx): Unit
  /** One unit of work; `i` seeds any per-unit choices, so a traced and
    * an untraced unit with the same index do the same work. */
  def unit(ctx: Ctx, i: Int): Unit
  /** Timed units a run makes at least, whatever `--seconds` says. */
  def minUnits: Int = 1
  /** End-to-end metrics other than setup_s and peak_rss_mb, from the
    * operations recorded so far and the unit durations (seconds). */
  def endToEnd(ctx: Ctx, unitSeconds: Seq[Double]): Map[String, Double]
  /** Per-layer metrics this workload reports beyond span self times,
    * from the traced units. */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
}

object Main {
  val Workloads: Seq[Workload] = Seq(RasterIngest, ServeMixed, SuiteRaw, CurationStream)

  /** End-to-end metrics with their units, in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "p50_ms" -> "ms", "p95_ms" -> "ms", "pass_s" -> "s")

  /** Per-layer metrics with their units, in BENCHMARK.json order. A
    * layer a workload does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.grib2_decode_s" -> "s", "sources.netcdf_decode_s" -> "s",
    "sources.geotiff_decode_s" -> "s", "sources.pixels" -> "count",
    "sources.bytes_in" -> "bytes",
    "grid.store_write_s" -> "s", "grid.overview_write_s" -> "s",
    "grid.store_bytes_per_pixel" -> "bytes", "grid.store_files" -> "count",
    "grid.cube_build_s" -> "s",
    "engine.full.climatology_s" -> "s", "engine.full.anomaly_s" -> "s",
    "engine.full.zonal_s" -> "s",
    "engine.incr.climatology_s" -> "s", "engine.incr.anomaly_s" -> "s",
    "engine.incr.zonal_s" -> "s", "engine.incr.units_run" -> "count",
    "engine.incr.units_skipped" -> "count", "engine.incr.useful_ratio" -> "ratio",
    "engine.units_parked" -> "count",
    "catalog.search_p50_ms" -> "ms", "catalog.search_p95_ms" -> "ms",
    "serve.point_p50_ms" -> "ms", "serve.point_p95_ms" -> "ms",
    "serve.area_p50_ms" -> "ms", "serve.area_p95_ms" -> "ms",
    "serve.overview_p50_ms" -> "ms", "serve.overview_p95_ms" -> "ms",
    "serve.rows_scanned_per_row_returned" -> "ratio",
    "ops.zonal_p50_ms" -> "ms", "ops.zonal_p95_ms" -> "ms") ++
    SuiteRaw.moduleNames.map(m => s"suite.${m}_s" -> "s") ++ Seq(
    "streaming.load_state_s" -> "s", "streaming.process_batch_s" -> "s",
    "streaming.save_deltas_s" -> "s", "streaming.state_rows" -> "count",
    "streaming.kept_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.floor_frac" -> "ratio",
    "host.calib_s" -> "s", "trace.overhead_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        smoke: Boolean, work: Path, traceOut: Option[Path])

  def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace", "work-dir", "trace-out")
    require(unknown.isEmpty && args.length % 2 == 0,
      s"usage: --workload NAME --seed N --seconds S --trace 0|1 [--work-dir D] [--trace-out F]")
    val w = kv.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.exists(_.name == w),
      s"unknown workload '$w' (one of ${Workloads.map(_.name).mkString(", ")})")
    Args(w, kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", smoke = false,
      Paths.get(kv.getOrElse("work-dir", ".bench_build/work")).toAbsolutePath,
      kv.get("trace-out").map(Paths.get(_).toAbsolutePath))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    // catalog tables of the streaming state live in the run's own
    // directory, not in the working directory
    System.setProperty("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.build(cpus)
    val line = try run(spark, a, cpus.toInt) finally {
      spark.stop()
      Host.rmTree(a.work)
      log("stopped")
    }
    println(line)
  }

  /** One full run; returns the result line. */
  def run(spark: SparkSession, a: Args, cores: Int): String = {
    val w = Workloads.find(_.name == a.workload).get
    Host.watchHeap()
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, a.seed, a.smoke, a.work, new Ops, counters)

    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); w.setup(ctx); (System.nanoTime() - t0) / 1e9
    }
    log(s"${w.name} seed=${a.seed} setup_s=${setups.map(fmt).mkString(",")}")
    w.warmup(ctx)
    log("warm-up done")
    ctx.ops.clearSamples()
    val calib = calibrate(spark)
    log(s"host.calib_s=${fmt(calib)}")

    def timedUnit(i: Int): Double = {
      val t0 = System.nanoTime(); w.unit(ctx, i); (System.nanoTime() - t0) / 1e9
    }
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val units = repeatFor(a.seconds, atLeast = w.minUnits)(timedUnit)
        val e2e = w.endToEnd(ctx, units) ++ Map(
          "setup_s" -> Stats.median(setups), "peak_rss_mb" -> Host.peakMemMb())
        log(s"${units.size} units: ${units.map(fmt).mkString(",")}")
        val (native, heap) = Host.peakMemParts()
        log(f"peak memory: native $native%.0f MiB + heap after a collection $heap%.0f MiB")
        EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      } else {
        // half the time untraced, then the same units traced
        val plain = repeatFor(a.seconds / 2)(timedUnit)
        val trace = new Trace(true, {
          case Some(g) => spark.sparkContext.setJobGroup(g, g)
          case None => spark.sparkContext.clearJobGroup()
        })
        ctx.trace = trace
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        counters.reset()
        val traced = plain.indices.map { i =>
          trace.run = s"unit-$i"
          trace.span("bench.unit")(timedUnit(i))
        }
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        // self times and counters are reported per unit of work
        val n = traced.size.toDouble
        val tot = counters.total
        val layer = PerLayer.map(_._1).map(_ -> 0.0).toMap ++
          trace.selfByName.collect {
            case (s, v) if PerLayer.exists(_._1 == s + "_s") => (s + "_s") -> v / n } ++
          w.layers(ctx) ++ Map(
          "spark.jobs" -> tot.jobs / n, "spark.stages" -> tot.stages / n,
          "spark.tasks" -> tot.tasks / n,
          "spark.executor_run_s" -> tot.runMs / 1e3 / n,
          "spark.executor_cpu_s" -> tot.cpuNs / 1e9 / n, "spark.gc_s" -> tot.gcMs / 1e3 / n,
          "spark.shuffle_read_mb" -> tot.shuffleRead / 1048576.0 / n,
          "spark.shuffle_write_mb" -> tot.shuffleWrite / 1048576.0 / n,
          "spark.spill_mb" -> tot.spill / 1048576.0 / n,
          "spark.input_mb" -> tot.inputBytes / 1048576.0 / n,
          "spark.floor_frac" -> (1 - tot.runMs / 1e3 / (traced.sum * cores)),
          "host.calib_s" -> calib,
          "trace.overhead_frac" -> (Stats.median(traced) / Stats.median(plain) - 1))
        a.traceOut.foreach(writeTrace(_, a, trace, counters, calib))
        log(s"untraced ${plain.map(fmt).mkString(",")} traced ${traced.map(fmt).mkString(",")}")
        PerLayer.map { case (n, u) => (n, layer(n), u) }
      }
    ctx.ops.failureList.foreach { case (f, n) => log(s"FAILED x$n $f") }
    log(s"attempted=${ctx.ops.attempted} failed=${ctx.ops.failed}")
    val m = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    s"""{"correct": ${ctx.ops.failed == 0}, "attempted": ${ctx.ops.attempted}, """ +
      s""""failed": ${ctx.ops.failed}, "metrics": {${m.mkString(", ")}}}"""
  }

  /** Runs `f(0)`, `f(1)`, … until `seconds` have passed and at least
    * `atLeast` units ran. */
  def repeatFor(seconds: Double, atLeast: Int = 1)(f: Int => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    while (out.size < atLeast || (System.nanoTime() - t0) / 1e9 < seconds) out += f(out.size)
    out.toSeq
  }

  /** Fixed-cost probe: a hash-sum over a generated range, no I/O and
    * no shuffle. It moves with host load only, never with engine code. */
  def calibrate(spark: SparkSession): Double = {
    spark.range(8L * 1000 * 1000).selectExpr("bit_xor(xxhash64(id))").collect()
    val t0 = System.nanoTime()
    spark.range(64L * 1000 * 1000).selectExpr("bit_xor(xxhash64(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Spans with their self times and Spark counters, as JSON. */
  private def writeTrace(out: Path, a: Args, t: Trace, c: SparkCounters, calib: Double): Unit = {
    Files.createDirectories(out.getParent)
    val self = t.selfTimes
    val body = t.toJson { id =>
      val g = c.group(t.groupOf(id))
      f""","self_s":${Json.num(self(id))},"jobs":${g.jobs},"stages":${g.stages},""" +
        f""""tasks":${g.tasks},"executor_run_ms":${g.runMs},"input_bytes":${g.inputBytes},""" +
        f""""input_records":${g.inputRecords},"shuffle_bytes":${g.shuffleRead + g.shuffleWrite}"""
    }
    Files.writeString(out,
      s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},"host_calib_s":${Json.num(calib)},"spans":$body}""")
  }

  def fmt(v: Double): String = f"$v%.3f"
  private val t0 = System.nanoTime()
  def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1fs] $s")
}
