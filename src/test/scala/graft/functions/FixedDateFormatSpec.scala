package graft.functions

import java.time.{LocalDateTime, ZoneOffset}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, DateFormatClass, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
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
  * it in place only where the pattern and the parser policy allow. A
  * `date_format` window compared with a literal becomes an instant range
  * with the comparison's results, for literals that are outputs of the
  * layout; other literals keep the comparison. */
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

  /** (pattern, sample outputs): patterns the window rewrite takes. */
  private val windowPatterns = Seq("yyyy-MM-dd", "yyyyMMdd", "yyyy", "yyyy-MM",
    "yyyy-MM-dd'T'HH:mm:ss'Z'", "yyyy/MM/dd HH", "yyyy-MM-dd HH:mm")
  private val ops = Seq("=", "<", "<=", ">", ">=")
  private def compare(op: String, l: Expression, r: Expression): Expression = op match {
    case "=" => EqualTo(l, r)
    case "<" => LessThan(l, r)
    case "<=" => LessThanOrEqual(l, r)
    case ">" => GreaterThan(l, r)
    case ">=" => GreaterThanOrEqual(l, r)
  }

  test("instant range == date_format compared with an output literal, interpreted and generated") {
    val values = samples(micros, 300, 41L)
    for (zone <- Seq("UTC", "+05:45", "-00:30"); p <- windowPatterns) {
      val format = DateFormatClass(input, Literal(p), Some(zone))
      // outputs of the layout, the first and last four-digit years too
      val lits = (values.take(60) ++ Seq(at(0, 1, 1), at(9999, 12, 31, 23, 59), at(2024, 2, 29)))
        .map(m => format.eval(InternalRow(m)).toString).filter(_.head.isDigit).distinct
      assert(lits.exists(_.startsWith("0000")) && lits.exists(_.startsWith("9999")), lits)
      for (s <- lits; op <- ops) {
        val range = InstantRange.of(input, p, zone, op, org.apache.spark.unsafe.types.UTF8String
          .fromString(s)).getOrElse(fail(s"$zone '$p' $op '$s' should rewrite"))
        val spark = compare(op, format, Literal(s))
        val generated = GenerateUnsafeProjection.generate(Seq(range))
        for (m <- values ++ anchors ++ Seq(at(-1, 12, 31, 23, 59), at(-1, 6, 1))) {
          val row = InternalRow(m)
          val want = spark.eval(row)
          assert(range.eval(row) == want, s"$zone '$p' $op '$s' $m interpreted")
          assert(generated(row).getBoolean(0) == want, s"$zone '$p' $op '$s' $m generated")
        }
        assert(range.eval(InternalRow(null)) == null && generated(InternalRow(null)).isNullAt(0))
      }
    }
  }

  test("no instant range for literals that are not outputs, other patterns or other zones") {
    def of(p: String, s: String, zone: String = "UTC") =
      InstantRange.of(input, p, zone, ">=", org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(of("yyyy-MM-dd", "2024-02-29").isDefined)
    for (s <- Seq("2024-02-30", "2023-02-29", "2024-13-01", "2024-00-01", "2024-01-00",
                  "2024-1-01", "2024-01-01 ", "2024/01/01", "10000-01-01", "+999-01-01",
                  "-001-01-01", "abcd-01-01", "", "2024-01-0a"))
      assert(of("yyyy-MM-dd", s).isEmpty, s)
    assert(of("yyyy-MM-dd HH:mm", "2024-01-01 24:00").isEmpty)
    assert(of("yyyy-MM-dd HH:mm", "2024-01-01 23:60").isEmpty)
    for ((p, s) <- Seq("MM-dd-yyyy" -> "01-02-2024", "yyyy-dd-MM" -> "2024-02-01",
                       "'x'yyyy" -> "x2024", "yyyy-MM-dd HH:ss" -> "2024-01-01 10:05",
                       "yyyyMMddyyyy" -> "2024010120240", "'T'" -> "T"))
      assert(of(p, s).isEmpty, p)
    assert(of("yyyy-MM-dd", "2024-01-01", "America/New_York").isEmpty)
    assert(of("yyyy-MM-dd", "2024-01-01", "+05:45").isDefined)
  }

  private def ranges(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case r: InstantRange => r
    }))

  test("window filters: rule kept == rule excluded on frames, either side, codegen and interpreted") {
    val values = samples(micros.suchThat(m => m > -at(9000, 1, 1) && m < at(9000, 1, 1)), 300, 43L) ++
      Seq(at(2024, 5, 6), at(2024, 5, 6, 23, 59), at(2024, 5, 7), at(2024, 5, 31, 12))
    val windows = Seq(
      "date_format(t, 'yyyy-MM-dd') BETWEEN '2024-05-06' AND '2024-05-31'",
      "'2024-05-06' < date_format(t, 'yyyy-MM-dd')",
      "date_format(t, 'yyyy-MM') = '2024-05'",
      "'1970' >= date_format(t, 'yyyy')",
      "date_format(t, 'yyyyMMdd') > '99991231'")
    for (zone <- zones.take(4); interpreted <- Seq(false, true); w <- windows) {
      val modes = if (interpreted) Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Nil
      withConf(("spark.sql.session.timeZone" -> zone) +: modes: _*) {
        val df = frame(values).filter(expr(w))
        assert(ranges(df).nonEmpty == (zone != "America/New_York"), s"$zone $w")
        val got = df.collect().toSeq
        val want = withConf(excluded) {
          val off = frame(values).filter(expr(w))
          assert(ranges(off).isEmpty && kernels(off).isEmpty)
          off.collect().toSeq
        }
        assert(got == want, s"$zone $w interpreted=$interpreted")
      }
    }
    // a literal that is not an output keeps the comparison (on the kernel)
    val kept = frame(values).filter(expr("date_format(t, 'yyyy-MM-dd') >= '2024-5-06'"))
    assert(ranges(kept).isEmpty && kernels(kept).nonEmpty)
    assert(kept.count() == withConf(excluded)(frame(values)
      .filter(expr("date_format(t, 'yyyy-MM-dd') >= '2024-5-06'")).count()))
  }

  test("new windows compile no new class: zonal requests after the first") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val pixels = spark.range(4 * 36).select(
      timestamp_micros(lit(at(2024, 1, 1)) + (col("id") / 36).cast("long") * 86400000000L).as("t"),
      (col("id") % 6).cast("int").as("x"), (col("id") % 36 / 6).cast("int").as("y"),
      (col("id") % 11).cast("double").as("v"),
      (col("id") % 6 + 0.5).as("lon"), (lit(5.5) - floor(col("id") % 36 / 6)).as("lat"))
    import spark.implicits._
    val boundaries = Seq(("a", "POLYGON((0 0, 3 0, 3 3, 0 3, 0 0))", 0.0, 0.0, 3.0, 3.0))
      .toDF("boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
    def request(lo: String, hi: String) = graft.ops.Zonal.zonalStats(
      pixels.filter(date_format(col("t"), "yyyy-MM-dd").between(lo, hi)), boundaries).collect()
    assert(request("2024-01-01", "2024-01-02").nonEmpty)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val windows = Seq("2024-01-02" -> "2024-01-03", "2024-01-03" -> "2024-01-04",
      "2023-12-31" -> "2024-01-01", "2024-01-01" -> "2024-01-04")
    for ((lo, hi) <- windows) assert(request(lo, hi).nonEmpty, lo)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }
}
