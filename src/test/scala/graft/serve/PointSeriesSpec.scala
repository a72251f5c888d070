package graft.serve

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The point series against a plain-Scala series: over random stores
  * (NULL values, missing rows, an all-NULL day, rows in no particular
  * order, 1 to 5 partitions) and random query points (off-grid and
  * infinite coordinates clamp to the edge), the driver path, the
  * distributed path (`driverCap = 0`) and the reference give the same
  * rows, in the same order, with the same schema. */
class PointSeriesSpec extends SparkSpec {
  import spark.implicits._

  // 5×4 grid of 1° pixels, west edge 0, north edge 4
  private val (gw, gh) = (5, 4)

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(901L + i)))

  /** (t, x, y, v): at most one row per pixel and timestep; timestep 2 is
    * all NULL. */
  private type Pixel = (Int, Int, Int, Option[Double])
  private val pixelsGen: Gen[Seq[Pixel]] = for {
    ts <- Gen.someOf(0 to 4)
    keep <- Gen.listOfN(ts.size * gw * gh, Gen.frequency(6 -> true, 1 -> false))
    vs <- Gen.listOfN(ts.size * gw * gh,
      Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(-100, 100).map(i => Some(i * 0.5))))
  } yield {
    val grid = for (t <- ts.toSeq.sorted; y <- 0 until gh; x <- 0 until gw) yield (t, x, y)
    grid.zip(keep.zip(vs)).collect { case ((t, x, y), (true, v)) => (t, x, y, if (t == 2) None else v) }
  }

  private val coordGen: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-4, 4 * gw + 4).map(_ * 0.25 + 0.125),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity))

  private val caseGen = for {
    px <- pixelsGen
    order <- Gen.long
    split <- Gen.choose(1, 5)
    lat <- coordGen
    lon <- coordGen
  } yield (px, order, split, lat, lon)

  private val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def ts(t: Int) = new java.sql.Timestamp(day0 + t * 86400000L)

  private def clamp(c: Double, n: Int): Int =
    if (c < 0) 0 else if (c >= n) n - 1 else c.toInt

  private def rows(df: DataFrame): Seq[(java.sql.Timestamp, Option[Double])] =
    df.collect().toSeq.map(r => (r.getTimestamp(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))

  test("driver path, distributed path and plain Scala give the same series") {
    val cases = samples(caseGen, 24)
    for (((px, order, split, lat, lon), i) <- cases.zipWithIndex) {
      val frame = new scala.util.Random(order).shuffle(px)
        .map { case (t, x, y, v) => (ts(t), x, y, v) }
        .toDF("t", "x", "y", "v").repartition(split)
      def point(cap: Long) = Timeseries.point(frame, lat, lon,
        west = 0.0, north = gh.toDouble, pw = 1.0, ph = 1.0, gridW = gw, gridH = gh, driverCap = cap)
      val (cx, cy) = (clamp(lon, gw), clamp(gh - lat, gh))
      val want = px.collect { case (t, `cx`, `cy`, v) => (ts(t), v) }.sortBy(_._1.getTime)
      val onDriver = point(graft.model.DriverCap)
      val distributed = point(0L)
      assert(onDriver.isLocal, s"case $i: under the cap the series is a local frame")
      assert(distributed.isLocal == want.isEmpty, s"case $i: cap 0 sorts a non-empty series in Spark")
      assert(onDriver.schema == distributed.schema && onDriver.schema == frame.select("t", "v").schema,
        s"case $i: ${onDriver.schema} vs ${distributed.schema}")
      assert(rows(onDriver) == want, s"case $i: driver path at ($cx, $cy)")
      assert(rows(distributed) == want, s"case $i: distributed path at ($cx, $cy)")
    }
    // the shapes the series must survive all occurred
    val pxs = cases.map(_._1)
    assert(pxs.exists(p => p.size < p.map(_._1).distinct.size * gw * gh),
      "no missing row generated")
    assert(pxs.exists(_.exists(_._1 == 2)), "no all-NULL day generated")
    assert(pxs.exists(_.exists(p => p._1 != 2 && p._4.isEmpty)), "no NULL value generated")
    assert(cases.map(_._3).toSet == (1 to 5).toSet, "not every partition count generated")
    assert(cases.exists(c => c._4.isInfinite || c._5.isInfinite), "no infinite coordinate generated")
  }
}
