package perfbench

import graft.engine.{AnomalyRecipe, ClimatologyRecipe, Engine, ZonalStatsRecipe}
import graft.grid.GridStore
import graft.serve.OverviewServe
import graft.sources.Formats
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The write path shared by the raster workloads: drop zones → decode →
  * z-ordered base store → overview pyramid. */
object RasterPipe {
  val Collection = "t2m"
  val Levels: Seq[Int] = Seq(2, 4)

  private def decodeSpan(zone: String) = zone match {
    case "grib2" => "sources.grib2_decode"
    case "netcdf" => "sources.netcdf_decode"
    case "geotiff" => "sources.geotiff_decode"
  }

  /** Ingest every drop zone under `drop` into the store at `base`. The
    * traced run materializes each zone's decode once inside its own
    * span, so the store write does not pay the decode again. */
  def ingest(ctx: Ctx, drop: Path, base: String): Unit = {
    val zones = Seq("grib2", "netcdf", "geotiff").map(drop.resolve).filter(Files.isDirectory(_))
    val decoded = zones.map { z =>
      ctx.span(decodeSpan(z.getFileName.toString)) {
        val px = Formats.ingestDir(ctx.spark, z.toString)
        if (ctx.traced) px.localCheckpoint(eager = true) else px
      }
    }
    val px = decoded.reduce(_ unionByName _)
      .select(lit(Collection).as("collection"), col("time").as("t"),
        col("y").cast("int").as("tile_y"), col("x").cast("int").as("tile_x"), col("v"))
    ctx.span("grid.store_write")(GridStore.writeZOrdered(px, base))
    ctx.span("grid.overview_write")(OverviewServe.writeOverviews(ctx.spark, base, Levels))
  }

  /** Write-path layer metrics of one traced, warm build of `feed` (its
    * granules already in `drop`) into a scratch store. */
  def tracedBuild(ctx: Ctx, drop: Path, feed: Seq[RasterGen.Granule]): Map[String, Double] = {
    val base = ctx.fresh("traced-build").resolve("base")
    val (outer, t) = (ctx.trace, new Trace(true))
    ctx.trace = t
    try ingest(ctx, drop, base.toString) finally ctx.trace = outer
    val (bytes, files) = Host.treeSize(base)
    val pixels = feed.map(_.data.count(!_.isNaN)).sum.toDouble
    t.selfByName.map { case (n, s) => (n + "_s") -> s } ++ Map(
      "sources.pixels" -> pixels,
      "sources.bytes_in" -> Host.treeSize(drop)._1.toDouble,
      "grid.store_bytes_per_pixel" -> bytes / pixels, "grid.store_files" -> files.toDouble)
  }

  /** The long-form pixel frame (t, y, x, v, lon, lat) over the store. */
  def pixels(spark: SparkSession, base: String): DataFrame =
    GridStore.read(spark, base).select(col("t"), col("tile_y").as("y"),
      col("tile_x").as("x"), col("v"),
      (lit(RasterGen.West) + (col("tile_x") + 0.5) * RasterGen.Px).as("lon"),
      (lit(RasterGen.North) - (col("tile_y") + 0.5) * RasterGen.Px).as("lat"))

  /** Boundary frame for the engine's zonal operator. */
  def boundaries(spark: SparkSession, polys: Seq[RasterGen.Poly]): DataFrame = {
    import spark.implicits._
    polys.map(p => (p.id, p.wkt, p.w, p.s, p.e, p.n))
      .toDF("boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
  }

  /** Per-timestep (count, sum, min, max) of the values in the store,
    * checked against the granules that should be there. */
  def checkStore(spark: SparkSession, base: String,
                 truth: Map[String, RasterGen.Granule]): Option[String] = {
    val got = GridStore.read(spark, base)
      .groupBy(date_format(col("t"), "yyyy-MM-dd").as("t"))
      .agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("v"))).collect()
      .map(r => r.getString(0) -> RasterGen.Summary(r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    if (got.keySet != truth.keySet)
      return Some(s"store holds ${got.size} timesteps, expected ${truth.size}")
    truth.collectFirst { case (t, g) if {
      val e = RasterGen.summarize(g.data.iterator).get
      val s = got(t)
      s.n != e.n || !RasterGen.close(s.sum, e.sum, 1e-6) ||
        !RasterGen.close(s.min, e.min) || !RasterGen.close(s.max, e.max)
    } => s"store values at $t: ${got(t)} != ${RasterGen.summarize(g.data.iterator).get}" }
      .orElse(checkOverview(spark, base, truth))
  }

  /** The coarsest overview level: each block mean against the mean of
    * the block's valid base pixels. */
  private def checkOverview(spark: SparkSession, base: String,
                            truth: Map[String, RasterGen.Granule]): Option[String] = {
    val f = Levels.last
    val got = GridStore.read(spark, OverviewServe.ovPath(base, f))
      .select(date_format(col("t"), "yyyy-MM-dd"), col("tile_y"), col("tile_x"),
        col("v"), col("n_base")).collect()
    val expected = truth.values.map(g => blockMeans(g, f).size).sum
    if (got.length != expected) return Some(s"overview x$f has ${got.length} blocks, expected $expected")
    val means = truth.map { case (t, g) => t -> blockMeans(g, f) }
    got.collectFirst { case r if {
      val e = means(r.getString(0)).get((r.getInt(1), r.getInt(2)))
      e.forall { case (m, n) => n != r.getLong(4) || !RasterGen.close(m, r.getDouble(3), 1e-6) }
    } => s"overview x$f block ${r.getString(0)} (${r.getInt(1)}, ${r.getInt(2)}) = ${r.getDouble(3)}" }
  }

  /** (block y, block x) → (mean, valid count) over f×f blocks. */
  def blockMeans(g: RasterGen.Granule, f: Int): Map[(Int, Int), (Double, Long)] = {
    val acc = mutable.HashMap[(Int, Int), (Double, Long)]()
    for (i <- g.data.indices if !g.data(i).isNaN) {
      val k = (i / RasterGen.W / f, i % RasterGen.W / f)
      val (s, n) = acc.getOrElse(k, (0.0, 0L))
      acc(k) = (s + g.data(i), n + 1)
    }
    acc.map { case (k, (s, n)) => k -> (s / n, n) }.toMap
  }

  /** Reference zonal stats of one granule over one polygon. */
  def zonalRef(g: RasterGen.Granule, p: RasterGen.Poly): Option[RasterGen.Summary] =
    RasterGen.summarize(p.pixels.iterator.map(g.data(_)))

  /** Compare zonal rows (boundary_id, day, zmean, zmin, zmax, zsum,
    * zcount) against the reference for the given timesteps. */
  def checkZonal(rows: Seq[Row], polys: Seq[RasterGen.Poly],
                 truth: Map[String, RasterGen.Granule]): Option[String] = {
    if (rows.size != polys.size * truth.size)
      return Some(s"${rows.size} zonal rows, expected ${polys.size * truth.size}")
    val byId = polys.map(p => p.id -> p).toMap
    rows.collectFirst { case r if {
      val e = truth.get(r.getAs[String]("day")).flatMap(g =>
        byId.get(r.getAs[Long]("boundary_id")).map(zonalRef(g, _)))
      e match {
        case None => true // a timestep or boundary nobody asked for
        case Some(None) => !r.isNullAt(r.fieldIndex("zcount")) && r.getAs[Long]("zcount") != 0
        case Some(Some(s)) =>
          r.isNullAt(r.fieldIndex("zcount")) || r.getAs[Long]("zcount") != s.n ||
            !RasterGen.close(r.getAs[Double]("zsum"), s.sum, 1e-6) ||
            !RasterGen.close(r.getAs[Double]("zmin"), s.min) ||
            !RasterGen.close(r.getAs[Double]("zmax"), s.max) ||
            !RasterGen.close(r.getAs[Double]("zmean"), s.mean, 1e-6)
      }
    } => s"zonal row $r" }
  }
}

/** raster_ingest: a seeded mixed-codec feed is decoded, stored with
  * overviews and derived (climatology, anomaly, zonal stats); then
  * correction deliveries land and are re-derived incrementally. */
object RasterIngest extends Workload {
  val name = "raster_ingest"

  private var feed: Seq[RasterGen.Granule] = Nil
  /** Correction j: (new month, changed granule). */
  private var corrections: Seq[(RasterGen.Granule, RasterGen.Granule)] = Nil
  private var polys: Seq[RasterGen.Poly] = Nil
  private var feedBytes = 0L
  private var storedPixels = 0L
  private val incrAudits = mutable.ArrayBuffer[(Long, Long, Long)]() // run, skipped, parked

  def setup(ctx: Ctx): Unit = {
    val (nFeed, nCorr) = (4, 1) // one granule per codec, one correction
    val rnd = new scala.util.Random(ctx.seed)
    feed = RasterGen.feed(ctx.seed, nFeed)
    corrections = (0 until nCorr).map { j =>
      val d = feed.last.date.plusMonths(j + 1L)
      val fresh = RasterGen.Granule(d, RasterGen.Codecs(rnd.nextInt(4)),
        RasterGen.field(ctx.seed, nFeed + j, d.getMonthValue))
      val k = rnd.nextInt(nFeed)
      val old = feed(k)
      (fresh, old.copy(data = RasterGen.field(ctx.seed, k, old.slot, variant = j + 1)))
    }
    polys = (0 until 12).map(i => RasterGen.poly(rnd, i.toLong, 8 + rnd.nextInt(30)))
    val drop = ctx.fresh("raster/feed")
    feedBytes = feed.map(g => Files.size(RasterGen.write(drop, g))).sum
    corrections.zipWithIndex.foreach { case ((a, b), j) =>
      val d = ctx.fresh(s"raster/corr$j")
      RasterGen.write(d, a); RasterGen.write(d, b)
    }
    polys.foreach(_.pixels) // reference masks are set-up work, not checks
  }

  def warmup(ctx: Ctx): Unit = unit(ctx, -1)

  def unit(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val base = ctx.fresh("raster/store").resolve("base").toString
    val state = ctx.fresh("raster/state").toString
    // a correction replaces only the partitions it delivers
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val truth = mutable.LinkedHashMap(feed.map(g => g.t -> g): _*)
    ctx.ops.run("ingest") {
      RasterPipe.ingest(ctx, ctx.work.resolve("raster/feed"), base)
    }(_ => RasterPipe.checkStore(spark, base, truth.toMap))

    val eng = new Engine(spark, state)
    val bounds = RasterPipe.boundaries(spark, polys)
    def derive(kind: String): Seq[Map[String, Long]] = {
      val inputs = RasterPipe.pixels(spark, base)
      val c = ctx.span(s"engine.$kind.climatology")(eng.run(new ClimatologyRecipe, inputs))
      val clim = spark.read.parquet(s"$state/climatology/outputs")
      val a = ctx.span(s"engine.$kind.anomaly")(eng.run(new AnomalyRecipe(clim), inputs))
      val z = ctx.span(s"engine.$kind.zonal")(eng.run(new ZonalStatsRecipe(bounds), inputs))
      Seq(c, a, z).map(_.groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    ctx.ops.run("derive.full")(derive("full")) { audits =>
      val n = truth.size.toLong
      val expect = Seq(Map("insert" -> truth.values.map(_.slot).toSet.size.toLong),
        Map("insert" -> n), Map("insert" -> n))
      if (audits != expect) Some(s"audit $audits, expected $expect")
      else checkProducts(spark, state, truth.toMap, truth.keySet.toSet)
    }

    corrections.zipWithIndex.foreach { case ((fresh, changed), j) =>
      val touchedSlots = Set(fresh.slot, changed.slot)
      val newSlots = touchedSlots -- truth.values.map(_.slot)
      truth(fresh.t) = fresh
      truth(changed.t) = changed
      ctx.ops.run("derive.incremental") {
        RasterPipe.ingest(ctx, ctx.work.resolve(s"raster/corr$j"), base)
        derive("incr")
      } { audits =>
        val ts = truth.values.toSeq
        val anomRun = ts.count(g => touchedSlots(g.slot)).toLong
        val expect = Seq(
          Map("insert" -> newSlots.size.toLong,
            "overwrite" -> (touchedSlots.size - newSlots.size).toLong,
            "skip" -> (ts.map(_.slot).toSet.size - touchedSlots.size).toLong),
          Map("insert" -> 1L, "overwrite" -> (anomRun - 1), "skip" -> (ts.size - anomRun)),
          Map("insert" -> 1L, "overwrite" -> 1L, "skip" -> (ts.size - 2L)))
          .map(_.filter(_._2 > 0))
        if (audits != expect) Some(s"audit $audits, expected $expect")
        else RasterPipe.checkStore(spark, base, truth.toMap).orElse(
          checkProducts(spark, state, truth.toMap, Set(fresh.t, changed.t)))
      }.foreach { case (audits, _) =>
        if (ctx.traced) {
          val run = audits.map(a => a.getOrElse("insert", 0L) + a.getOrElse("overwrite", 0L)).sum
          incrAudits += ((run, audits.map(_.getOrElse("skip", 0L)).sum,
            audits.map(_.getOrElse("parked", 0L)).sum))
        }
      }
    }
    storedPixels = truth.values.map(_.data.count(!_.isNaN).toLong).sum
  }

  /** Climatology and anomaly against per-slot / per-timestep references,
    * and zonal rows of the timesteps in `zonalTs`. */
  private def checkProducts(spark: SparkSession, state: String,
                            truth: Map[String, RasterGen.Granule],
                            zonalTs: Set[String]): Option[String] = {
    val bySlot = truth.values.groupBy(_.slot)
    val climRef = bySlot.map { case (slot, gs) =>
      val means = (0 until RasterGen.W * RasterGen.H).flatMap { i =>
        val vs = gs.map(_.data(i)).filterNot(_.isNaN)
        if (vs.isEmpty) None else Some(vs.map(_.toDouble).sum / vs.size -> vs.size)
      }
      slot.toString -> (means.size.toLong, means.map(_._1).sum, means.map(_._2.toLong).sum)
    }
    val climGot = spark.read.parquet(s"$state/climatology/outputs").groupBy("unit_id")
      .agg(count(lit(1)), sum("clim"), sum("n_contrib")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    if (climGot.keySet != climRef.keySet) return Some(s"climatology slots ${climGot.keySet}")
    climRef.collectFirst { case (s, (n, sm, c)) if {
      val (gn, gs, gc) = climGot(s); gn != n || gc != c || !RasterGen.close(gs, sm, 1e-6)
    } => s"climatology slot $s: ${climGot(s)} != ($n, $sm, $c)" }.orElse {
      // anomaly: per timestep, the sum of (v - slot mean) over valid pixels
      val anomGot = spark.read.parquet(s"$state/anomaly/outputs")
        .groupBy(date_format(col("t"), "yyyy-MM-dd")).agg(count(lit(1)), sum("anom")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      truth.collectFirst { case (t, g) if {
        val gs = bySlot(g.slot)
        var n = 0L; var s = 0.0
        for (i <- g.data.indices if !g.data(i).isNaN) {
          val vs = gs.map(_.data(i)).filterNot(_.isNaN)
          n += 1; s += g.data(i) - vs.map(_.toDouble).sum / vs.size
        }
        anomGot.get(t).forall { case (gn, gsum) => gn != n || !RasterGen.close(gsum, s, 1e-6, 0.05) }
      } => s"anomaly $t: ${anomGot.get(t)}" }
    }.orElse {
      val rows = spark.read.parquet(s"$state/zonal_stats/outputs")
        .withColumn("day", date_format(col("t"), "yyyy-MM-dd"))
        .filter(col("day").isin(zonalTs.toSeq: _*)).collect().toSeq
      RasterPipe.checkZonal(rows, polys, truth.filter { case (t, _) => zonalTs(t) })
    }
  }

  def endToEnd(ctx: Ctx, unitSeconds: Seq[Double]): Map[String, Double] = {
    val ingest = ctx.ops.of("ingest")
    val incr = ctx.ops.of("derive.incremental").map(_ * 1000)
    Map(
      "throughput_per_s" -> (if (ingest.isEmpty) Double.NaN else feed.size * ingest.size / ingest.sum),
      "pass_s" -> Stats.median(orNaN(ctx.ops.of("derive.full"))),
      "p50_ms" -> Stats.quantile(orNaN(incr), 0.5),
      "p95_ms" -> Stats.quantile(orNaN(incr), 0.95))
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val zonal = (ctx.trace.durations("engine.full.zonal") ++
      ctx.trace.durations("engine.incr.zonal")).map(_ * 1000)
    val (run, skipped, parked) = (incrAudits.map(_._1).sum.toDouble,
      incrAudits.map(_._2).sum.toDouble, incrAudits.map(_._3).sum.toDouble)
    val deliveries = math.max(1, incrAudits.size)
    val base = ctx.work.resolve("raster/store/base")
    val (bytes, files) = Host.treeSize(base)
    Map(
      "sources.pixels" -> feed.map(_.data.count(!_.isNaN)).sum.toDouble,
      "sources.bytes_in" -> feedBytes.toDouble,
      "grid.store_bytes_per_pixel" -> bytes.toDouble / storedPixels,
      "grid.store_files" -> files.toDouble,
      "engine.incr.units_run" -> run / deliveries,
      "engine.incr.units_skipped" -> skipped / deliveries,
      "engine.incr.useful_ratio" -> (if (run + skipped > 0) run / (run + skipped) else 0.0),
      "engine.units_parked" -> parked / deliveries,
      "ops.zonal_p50_ms" -> Stats.quantile(orNaN(zonal), 0.5),
      "ops.zonal_p95_ms" -> Stats.quantile(orNaN(zonal), 0.95))
  }

  private def orNaN(xs: Seq[Double]): Seq[Double] = if (xs.isEmpty) Seq(Double.NaN) else xs
}
