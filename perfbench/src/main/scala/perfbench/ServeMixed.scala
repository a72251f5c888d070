package perfbench

import graft.{SparkEntry, Tables}
import graft.ops.Zonal
import graft.serve.{OverviewServe, Timeseries}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** serve_mixed: one client sends a seeded mix of read requests against a
  * store and catalog built in set-up; each request is timed to its last
  * collected row and checked against a plain-Scala or oracle answer. */
object ServeMixed extends Workload {
  val name = "serve_mixed"

  private var feed: Seq[RasterGen.Granule] = Nil
  private var base = ""
  private var tablesDir = ""
  private var catalog: OracleChecked = _
  /** Traced requests: (job group, rows returned). */
  private val served = mutable.ArrayBuffer[(String, Long)]()

  /** Request kinds and their counts in one round of 16. The counts are
    * fixed and only positions and order are seeded, so every run measures
    * the same mix. The proportions are an assumption, not measured
    * traffic: map clients read overview tiles and point series most often,
    * a catalog search comes with each page, and polygon requests (area,
    * zonal) are rarer. In latency order the cheap kinds fill the first 7
    * places and point series the next 5, so p50 falls inside one kind;
    * the 2 zonal requests hold p95. */
  val Mix: Seq[(String, Int)] = Seq("catalog.search" -> 4, "serve.overview" -> 3,
    "serve.point" -> 5, "serve.area" -> 2, "ops.zonal" -> 2)

  /** Set-up generates the granules and the catalog tables. The store is
    * built from the granules once per run, after set-up: building it is
    * raster_ingest's `ingest` operation, which measures that cost. */
  def setup(ctx: Ctx): Unit = {
    feed = RasterGen.feed(ctx.seed, 4)
    val drop = ctx.fresh("serve/drop")
    feed.foreach(RasterGen.write(drop, _))
    tablesDir = ctx.fresh("serve/tables").toString
    Py.tables(ctx, tablesDir)
  }

  /** Two rounds, so every request has a best of two. */
  override def minUnits: Int = 2

  def warmup(ctx: Ctx): Unit = {
    base = ctx.fresh("serve/store").resolve("base").toString
    RasterPipe.ingest(ctx, ctx.work.resolve("serve/drop"), base)
    Main.log("store built")
    // the serving configuration: base tables pinned by the engine
    Tables.cacheEnabled = true
    SparkEntry.clearCaches()
    catalog = new OracleChecked(ctx, tablesDir,
      OracleChecked.sample(graft.catalog.Search.queries.keys, if (ctx.smoke) 2 else 4))
    catalog.verify()
    unit(ctx, -1)
  }

  /** One round: every request of [[Mix]] in a seeded order. Rounds repeat
    * the same requests, so each request's fastest round can be taken
    * (min-of-N). The j-th request of a kind picks the catalog query j and
    * the overview level (j mod 3). */
  def unit(ctx: Ctx, i: Int): Unit = {
    val reqs = Mix.flatMap { case (k, n) => (0 until (if (ctx.smoke) 1 else n)).map(k -> _) }
    new scala.util.Random(ctx.seed).shuffle(reqs).foreach { case (k, j) =>
      request(ctx, k, new scala.util.Random(ctx.seed * 7919 + k.hashCode * 31 + j), j)
    }
  }

  private def pixels(ctx: Ctx): DataFrame = RasterPipe.pixels(ctx.spark, base)

  /** Runs one request as a timed operation inside its own span. */
  private def request(ctx: Ctx, kind: String, rnd: scala.util.Random, j: Int): Unit = {
    val spark = ctx.spark
    def timed(kind: String)(q: => Array[Row])(check: Array[Row] => Option[String]): Unit =
      ctx.ops.run(kind, j.toString)(ctx.span(kind)(q))(check).foreach { case (rows, _) =>
        if (ctx.traced) served += ((ctx.trace.groupOf(ctx.trace.all.last.id), rows.length.toLong))
      }
    kind match {
      case "catalog.search" =>
        val n = catalog.names(Math.floorMod(j, catalog.names.size))
        timed(kind)(SparkEntry.queries(n)(spark, tablesDir).collect())(catalog.check(n, _))

      case "serve.point" =>
        val lat = -89.9 + rnd.nextDouble() * 179.8
        val lon = -179.9 + rnd.nextDouble() * 359.8
        timed(kind)(Timeseries.point(pixels(ctx), lat, lon, RasterGen.West,
          RasterGen.North, RasterGen.Px, RasterGen.Px, RasterGen.W, RasterGen.H)
          .select(date_format(col("t"), "yyyy-MM-dd"), col("v")).collect()) { rows =>
          val i = math.floor(RasterGen.North - lat).toInt * RasterGen.W +
            math.floor(lon - RasterGen.West).toInt
          val expect = feed.filterNot(_.data(i).isNaN).map(g => (g.t, g.data(i).toDouble))
          val got = rows.map(r => (r.getString(0), r.getDouble(1))).toSeq
          if (got.size == expect.size && got.zip(expect).forall { case ((a, x), (b, y)) =>
            a == b && RasterGen.close(x, y) }) None
          else Some(s"point ($lat, $lon): ${got.take(3)} vs ${expect.take(3)}")
        }

      case "serve.area" =>
        val p = RasterGen.poly(rnd, -1, 8 + 4 * j)
        val how = Seq("mean", "sum", "min", "max")(rnd.nextInt(4))
        timed(kind)(Timeseries.area(pixels(ctx), p.wkt, (p.w, p.s, p.e, p.n), how)
          .select(date_format(col("t"), "yyyy-MM-dd"), col("value"), col("n_pixels"))
          .collect()) { rows =>
          val expect = feed.flatMap(g => RasterPipe.zonalRef(g, p).map { s =>
            (g.t, how match {
              case "mean" => s.mean; case "sum" => s.sum
              case "min" => s.min; case "max" => s.max
            }, s.n)
          })
          val got = rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
          if (got.size == expect.size && got.zip(expect).forall { case ((a, x, n), (b, y, m)) =>
            a == b && n == m && RasterGen.close(x, y, 1e-6) }) None
          else Some(s"area $how ${p.wkt}: ${got.take(2)} vs ${expect.take(2)}")
        }

      case "ops.zonal" =>
        val from = rnd.nextInt(feed.size - 2)
        val window = feed.slice(from, from + 3)
        val polys = (0 until 4).map(b => RasterGen.poly(rnd, b.toLong, 10 + 3 * b))
        val (lo, hi) = (window.head.t, window.last.t)
        timed(kind)(Zonal.zonalStats(
          pixels(ctx).filter(date_format(col("t"), "yyyy-MM-dd").between(lo, hi)),
          RasterPipe.boundaries(spark, polys))
          .withColumn("day", date_format(col("t"), "yyyy-MM-dd")).collect()) { rows =>
          RasterPipe.checkZonal(rows.toSeq, polys, window.map(g => g.t -> g).toMap)
        }

      case "serve.overview" =>
        val requested = Seq(1.0, 2.0, 4.0)(Math.floorMod(j, 3))
        val f = graft.grid.Overviews.selectLevel(1 +: RasterPipe.Levels, RasterGen.Px, requested)
        val from = rnd.nextInt(feed.size - 1)
        val window = feed.slice(from, from + 2)
        val (w, h) = (36, 24)
        val tx0 = rnd.nextInt(RasterGen.W - w); val ty0 = rnd.nextInt(RasterGen.H - h)
        timed(kind)(OverviewServe.readBbox(spark, base, 1 +: RasterPipe.Levels,
          RasterGen.Px, requested, window.head.t, window.last.t,
          tx0, tx0 + w - 1, ty0, ty0 + h - 1)
          .select(col("p_date"), col("tile_y"), col("tile_x"), col("v"), col("level"))
          .collect()) { rows =>
          val (bx0, bx1) = (Math.floorDiv(tx0, f), Math.floorDiv(tx0 + w - 1, f))
          val (by0, by1) = (Math.floorDiv(ty0, f), Math.floorDiv(ty0 + h - 1, f))
          val expect = window.flatMap { g =>
            RasterPipe.blockMeans(g, f).collect { case ((by, bx), (m, _))
              if by >= by0 && by <= by1 && bx >= bx0 && bx <= bx1 => (g.t, by, bx) -> m }
          }.toMap
          val got = rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
          if (rows.forall(_.getInt(4) == f) && got.size == rows.length &&
              got.keySet == expect.keySet &&
              got.forall { case (k, v) => RasterGen.close(v, expect(k), 1e-6) }) None
          else Some(s"overview level $f: ${got.size} blocks vs ${expect.size}")
        }
    }
  }

  def endToEnd(ctx: Ctx, unitSeconds: Seq[Double]): Map[String, Double] = {
    // each request at its fastest round; pass_s is that best round
    val best = ctx.ops.best(Mix.map(_._1).toSet)
    Map(
      "throughput_per_s" -> best.size / best.sum,
      "pass_s" -> best.sum,
      "p50_ms" -> Stats.quantile(best.map(_ * 1000), 0.5),
      "p95_ms" -> Stats.quantile(best.map(_ * 1000), 0.95))
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    def q(kind: String, p: Double) = {
      val xs = ctx.ops.of(kind).map(_ * 1000)
      if (xs.isEmpty) 0.0 else Stats.quantile(xs, p)
    }
    val input = served.map(s => ctx.counters.group(s._1).inputRecords).sum
    val returned = served.map(_._2).sum
    RasterPipe.tracedBuild(ctx, ctx.work.resolve("serve/drop"), feed) ++
    Map("catalog.search_p50_ms" -> q("catalog.search", 0.5),
      "catalog.search_p95_ms" -> q("catalog.search", 0.95),
      "serve.point_p50_ms" -> q("serve.point", 0.5), "serve.point_p95_ms" -> q("serve.point", 0.95),
      "serve.area_p50_ms" -> q("serve.area", 0.5), "serve.area_p95_ms" -> q("serve.area", 0.95),
      "serve.overview_p50_ms" -> q("serve.overview", 0.5),
      "serve.overview_p95_ms" -> q("serve.overview", 0.95),
      "ops.zonal_p50_ms" -> q("ops.zonal", 0.5), "ops.zonal_p95_ms" -> q("ops.zonal", 0.95),
      "serve.rows_scanned_per_row_returned" ->
        (if (returned > 0) input.toDouble / returned else 0.0))
  }
}
