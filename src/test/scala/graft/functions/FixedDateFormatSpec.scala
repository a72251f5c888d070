package graft.functions

import java.time.{LocalDateTime, ZoneOffset}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, DateFormatClass, Expression,
  Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The fixed-field `date_format` kernel against Spark's own
  * `DateFormatClass`: the same bytes for every micros value (the whole
  * `Long` range, weighted toward years 0, 1, 9999 and 10000, the
  * Gregorian cutover and zone transitions), in six zones, for the
  * engine's four patterns and random compositions of fields and
  * literals, interpreted and generated, NULL included; and the rule puts
  * it in place only where the pattern and the parser policy allow. */
class FixedDateFormatSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val zones = Seq("UTC", "+05:45", "-00:30", "America/New_York",
    "Europe/Amsterdam", "Pacific/Apia")
  private val enginePatterns = Seq("yyyy-MM-dd", "yyyyMMdd", "yyyyMMdd'T'HHmmss'Z'",
    "yyyy-MM-dd'T'HH:mm:ss'Z'")

  private def at(y: Int, mo: Int, d: Int, h: Int = 0, mi: Int = 0): Long =
    LocalDateTime.of(y, mo, d, h, mi).toEpochSecond(ZoneOffset.UTC) * 1000000L

  /** Instants near which formatting changes shape: the ends of the
    * four-digit years, the Gregorian cutover, DST and offset changes in
    * the zones above (Amsterdam's pre-1937 offset has seconds; Apia
    * skipped 2011-12-30). */
  private val anchors = Seq(at(0, 1, 1), at(1, 1, 1), at(9999, 12, 31, 23, 59), at(10000, 1, 1),
    at(1582, 10, 15), at(1582, 10, 4), at(1970, 1, 1), at(1900, 1, 1), at(2000, 2, 29),
    at(2021, 3, 14, 7), at(2021, 11, 7, 6), at(2021, 3, 28, 1), at(2021, 10, 31, 1),
    at(1920, 6, 1), at(1937, 7, 1), at(1940, 5, 16), at(2011, 12, 30, 10), at(2011, 12, 29, 10))

  private val micros: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(Long.MinValue, Long.MaxValue),
    8 -> (for {
      a <- Gen.oneOf(anchors)
      d <- Gen.frequency(3 -> Gen.choose(-3600000000L, 3600000000L),
        2 -> Gen.choose(-3 * 86400000000L, 3 * 86400000000L))
    } yield a + d),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L))

  /** Fields and literals as `appendPattern` reads them: quoted text
    * (letters, an escaped quote, an empty quote pair) and unquoted
    * non-letters, a multi-byte one included. */
  private val pattern: Gen[String] = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n,
    Gen.frequency(
      4 -> Gen.oneOf("yyyy", "MM", "dd", "HH", "mm", "ss"),
      3 -> Gen.oneOf("-", ":", " ", "/", ".", "_", ",", "é", "日"),
      2 -> Gen.oneOf("'T'", "'Z'", "'at'", "''", "'it''s'", "'yyyy'", "'[x]'")))
    .map(_.mkString))
    .suchThat(FixedDateFormat.layout(_).isDefined)

  private val input = BoundReference(0, TimestampType, nullable = true)

  test("kernel == DateFormatClass byte for byte, interpreted and generated, NULL too") {
    val patterns = enginePatterns ++ samples(pattern, 14, 31L)
    val values = samples(micros, 400, 7L)
    var fellBack = 0
    for (zone <- zones; p <- patterns) {
      val spark = DateFormatClass(input, Literal(p), Some(zone))
      val kernel = FixedDateFormat(input, p, zone, StringType)
      val generated = GenerateUnsafeProjection.generate(Seq(kernel))
      for (m <- values) {
        val row = InternalRow(m)
        val want = spark.eval(row)
        assert(kernel.eval(row) == want, s"$zone '$p' $m interpreted")
        assert(generated(row).getUTF8String(0) == want, s"$zone '$p' $m generated")
        val year = java.time.Instant.EPOCH.plusSeconds(Math.floorDiv(m, 1000000L))
          .atZone(java.time.ZoneId.of(zone)).getYear
        if (year < 0 || year > 9999) fellBack += 1
      }
      assert(kernel.eval(InternalRow(null)) == null)
      assert(generated(InternalRow(null)).isNullAt(0))
    }
    // both the kernel and its fallback ran
    assert(fellBack > 0 && fellBack < zones.size * patterns.size * values.size, fellBack)
  }

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val excluded = "spark.sql.optimizer.excludedRules" ->
    FixedDateFormatRule.getClass.getName.stripSuffix("$")

  private def kernels(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case k: FixedDateFormat => k
    }))

  /** Micros from `values` by row id, NULL every 7th row: a range, so the
    * optimizer cannot fold the projection into a local relation. */
  private def frame(values: Seq[Long]): DataFrame =
    spark.range(values.size).select(when(col("id") % 7 =!= 3,
      timestamp_micros(element_at(typedLit(values), col("id").cast("int") + 1))).as("t"))

  test("TIMESTAMP and TIMESTAMP_NTZ columns: rule on == rule excluded, codegen and interpreted") {
    // NTZ values stay inside the years a cast can shift without overflow
    val values = samples(micros.suchThat(m => m > -at(9000, 1, 1) && m < at(9000, 1, 1)), 300, 99L)
    for (zone <- zones; ntz <- Seq(false, true); interpreted <- Seq(false, true)) {
      val modes = if (interpreted) Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Nil
      withConf(("spark.sql.session.timeZone" -> zone) +: modes: _*) {
        val base = frame(values)
        val t = if (ntz) base.select(col("t").cast(TimestampNTZType).as("t")) else base
        val df = t.select(enginePatterns.map(p => date_format(col("t"), p)): _*)
        assert(kernels(df).size == enginePatterns.size, s"$zone ntz=$ntz")
        val got = df.collect().toSeq
        val want = withConf(excluded) {
          val off = t.select(enginePatterns.map(p => date_format(col("t"), p)): _*)
          assert(kernels(off).isEmpty)
          off.collect().toSeq
        }
        assert(got == want, s"$zone ntz=$ntz interpreted=$interpreted")
        assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)))
      }
    }
  }

  test("the rule fires for fixed-field literal patterns only, and never under LEGACY") {
    val t = frame(Seq(0L, at(2024, 5, 6, 7, 8)))
    def fires(p: String) = kernels(t.select(date_format(col("t"), p))).nonEmpty
    for (p <- enginePatterns) assert(fires(p), p)
    for (p <- Seq("EEE", "yyy", "y", "SSS", "yyyy-MM-dd HH:mm:ss.SSS", "uuuu-MM-dd", "yyyy[-MM]",
                  "yyyy-MM-dd'T"))
      assert(!fires(p), p)
    // a pattern from a column is not a literal
    assert(kernels(t.select(date_format(col("t"), "x").as("p"), col("t"))
      .select(expr("date_format(t, p)"))).isEmpty)
    // the type stays the replaced expression's (a collated string too)
    val collated = t.selectExpr("date_format(t, collate('yyyy-MM-dd', 'UNICODE_CI')) AS d")
    assert(kernels(collated).nonEmpty)
    assert(collated.schema.head.dataType ==
      withConf(excluded)(t.selectExpr("date_format(t, collate('yyyy-MM-dd', 'UNICODE_CI')) AS d")
        .queryExecution.optimizedPlan.schema.head.dataType))
    assert(collated.collect().map(_.getString(0)).toSeq == Seq("1970-01-01", "2024-05-06"))
    withConf("spark.sql.legacy.timeParserPolicy" -> "LEGACY") {
      assert(!fires("yyyy-MM-dd"))
      assert(t.select(date_format(col("t"), "yyyy-MM-dd")).collect().toSeq ==
        Seq(Row("1970-01-01"), Row("2024-05-06")))
    }
  }
}
