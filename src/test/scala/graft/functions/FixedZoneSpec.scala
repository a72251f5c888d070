package graft.functions

import java.time.{LocalDateTime, ZoneOffset}

import scala.util.Try

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Month,
  TruncTimestamp, Year}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, TimestampNTZType, TimestampType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The fixed-zone datetime kernels against the Spark expressions they
  * replace: each kernel the rule builds equals its Spark expression
  * value for value, interpreted and generated, over micros and days
  * spanning the whole `Long` and `Int` ranges (errors at the ends
  * included) and years -1, 0, 9999 and 10000, in UTC, +05:45 and
  * -00:30; on frames, the rule kept equals the rule excluded in those
  * zones and in America/New_York, where it must not fire; and a cast
  * compared with a literal keeps Spark's pushed filters. */
class FixedZoneSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val fixedZones = Seq("UTC", "+05:45", "-00:30")

  private def at(y: Int, mo: Int, d: Int, h: Int = 0): Long =
    LocalDateTime.of(y, mo, d, h, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L

  private val anchors = Seq(at(-1, 1, 1), at(-1, 12, 31, 23), at(0, 1, 1), at(0, 2, 29),
    at(9999, 12, 31, 23), at(10000, 1, 1), at(1970, 1, 1), at(2000, 2, 29), at(1582, 10, 15),
    at(2024, 12, 30), at(2025, 1, 5))

  private val day = 86400000000L
  private val micros: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(Long.MinValue, Long.MaxValue),
    6 -> (for { a <- Gen.oneOf(anchors); d <- Gen.choose(-40 * day, 40 * day) } yield a + d),
    2 -> (for { end <- Gen.oneOf(Long.MinValue, Long.MaxValue); d <- Gen.choose(0L, 50 * day) }
      yield if (end < 0) end + d else end - d),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L))

  private val days: Gen[Int] = Gen.frequency(
    2 -> Gen.choose(Int.MinValue, Int.MaxValue),
    4 -> (for { a <- Gen.oneOf(anchors); d <- Gen.choose(-400, 400) }
      yield Math.floorDiv(a, day).toInt + d),
    1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1, 1))

  /** Every input kind the rule rewrites, and two `date_trunc` levels it
    * leaves to Spark. */
  private val exprs = Seq("CAST(ntz AS TIMESTAMP)", "CAST(ts AS DATE)", "CAST(ntz AS DATE)",
    "year(ts)", "month(ntz)", "year(d)", "month(d)", "year(CAST(ntz AS TIMESTAMP))",
    "date_trunc('DAY', ts)", "date_trunc('WEEK', ts)", "date_trunc('MONTH', ts)",
    "date_trunc('MM', ntz)", "date_trunc('HOUR', ts)", "date_trunc('YEAR', ts)")

  /** (ts, ntz, d) from the values by row id, NULL every 7th row: a
    * range, so the optimizer cannot fold the projection away. */
  private def frame(ms: Seq[Long], ds: Seq[Int]): DataFrame = {
    val ntz = ms.map(m => LocalDateTime.ofEpochSecond(Math.floorDiv(m, 1000000L),
      Math.floorMod(m, 1000000L).toInt * 1000, ZoneOffset.UTC))
    val i = col("id").cast("int") + 1
    def nulled(c: org.apache.spark.sql.Column) = when(col("id") % 7 =!= 3, c)
    spark.range(ms.size).select(
      nulled(timestamp_micros(element_at(typedLit(ms), i))).as("ts"),
      nulled(element_at(typedLit(ntz), i)).as("ntz"),
      nulled(date_from_unix_date(element_at(typedLit(ds), i))).as("d"))
  }

  private val excluded = "spark.sql.optimizer.excludedRules" ->
    FixedZoneRule.getClass.getName.stripSuffix("$")

  private def kernels(df: DataFrame): Seq[FixedZone] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case k: FixedZone => k
    }))

  /** Spark expressions the rule replaces in a fixed zone. */
  private def replaceable(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case c @ Cast(x, TimestampType, _, _) if x.dataType == TimestampNTZType => c
      case c @ Cast(_, DateType, _, _) => c
      case y: Year => y
      case m: Month => m
      case t: TruncTimestamp if Seq("DAY", "WEEK", "MONTH", "MM").exists(t.format.sql.contains) => t
    }))

  private def outcome(f: => Any): Try[Any] = Try(f)

  test("each kernel == the Spark expression it replaces, interpreted and generated, errors and NULL too") {
    val ms = samples(micros, 600, 11L)
    val ds = samples(days, 300, 13L)
    var ran, failed = 0
    for (zone <- fixedZones) withConf("spark.sql.session.timeZone" -> zone) {
      val ks = kernels(frame(Seq(0L), Seq(0)).selectExpr(exprs: _*))
      // one kernel per rewritten step: CAST x3, year(ts) and month(ntz)
      // and year(CAST ...) two each, year(d), month(d), three truncs
      assert(ks.size >= 15, ks)
      for (k <- ks.distinct) {
        val (spark, in) = (k.step.spark, k.child.dataType)
        assert(spark.children.exists(_.isInstanceOf[BoundReference]), spark)
        val kernel = FixedZone(BoundReference(0, in, nullable = true), k.step)
        val (genK, genS) = (GenerateUnsafeProjection.generate(Seq(kernel)),
          GenerateUnsafeProjection.generate(Seq(spark)))
        val read: InternalRow => Any =
          if (k.dataType == DateType || k.dataType == IntegerType) _.getInt(0) else _.getLong(0)
        val inputs: Seq[Any] = if (in == DateType) ds else ms
        for (v <- inputs) {
          val row = InternalRow(v)
          val want = outcome(spark.eval(row))
          def same(got: Try[Any]) = (got, want) match {
            case (scala.util.Success(a), scala.util.Success(b)) => a == b
            case (scala.util.Failure(a), scala.util.Failure(b)) =>
              a.getClass == b.getClass && a.getMessage == b.getMessage
            case _ => false
          }
          assert(same(outcome(kernel.eval(row))), s"$zone ${k.prettyName} $v interpreted: $want")
          assert(same(outcome(read(genK(row)))), s"$zone ${k.prettyName} $v generated: $want")
          assert(same(outcome(read(genS(row)))), s"$zone ${k.prettyName} $v Spark generated")
          ran += 1
          if (want.isFailure) failed += 1
        }
        assert(kernel.eval(InternalRow(null)) == null && genK(InternalRow(null)).isNullAt(0))
      }
    }
    // the Long ends reached Spark's overflow errors through the fallback
    assert(failed > 0 && failed < ran, failed)
  }

  test("frames: rule kept == rule excluded, codegen and interpreted; New York keeps Spark's") {
    // values a cast or truncation can carry without overflow
    val ms = samples(micros.suchThat(m => m > -at(9000, 1, 1) && m < at(9000, 1, 1)), 300, 17L)
    val ds = samples(days.suchThat(d => d > -3000000 && d < 3000000), 300, 19L)
    for (zone <- fixedZones :+ "America/New_York"; interpreted <- Seq(false, true)) {
      val modes = if (interpreted) Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Nil
      withConf(Seq("spark.sql.session.timeZone" -> zone,
          "spark.sql.datetime.java8API.enabled" -> "true") ++ modes: _*) {
        val df = frame(ms, ds).selectExpr(exprs: _*)
        if (zone == "America/New_York") assert(kernels(df).isEmpty)
        else {
          assert(kernels(df).nonEmpty && replaceable(df).isEmpty, replaceable(df))
        }
        val got = df.collect().toSeq
        val want = withConf(excluded) {
          val off = frame(ms, ds).selectExpr(exprs: _*)
          assert(kernels(off).isEmpty)
          off.collect().toSeq
        }
        assert(got == want, s"$zone interpreted=$interpreted")
        assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)))
      }
    }
  }

  test("a cast compared with a literal keeps Spark's rewrite and pushed filters") {
    val orders = graft.Tables.orders(spark, sf0001)
    def scanOf(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    val queries = Seq[DataFrame => DataFrame](
      _.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
      _.filter(col("o_orderdate").cast("date") === lit("1998-01-02").cast("date")),
      _.filter(col("o_orderdate").cast("date").isin(
        lit("1998-01-02").cast("date"), lit("1998-01-03").cast("date"))))
    for (q <- queries) {
      val kept = q(orders)
      val off = withConf(excluded)(q(orders))
      assert(kernels(kept).isEmpty, kept.queryExecution.optimizedPlan)
      assert(scanOf(kept) == withConf(excluded)(scanOf(off)))
      assert(kept.count() == withConf(excluded)(off.count()))
    }
    // the kernel still runs where the cast is not compared with a literal
    val projected = orders.select(year(col("o_orderdate")).as("y"))
    assert(kernels(projected).size == 2)
    assert(projected.collect().toSeq.sortBy(_.getInt(0)) ==
      withConf(excluded)(projected.collect().toSeq.sortBy(_.getInt(0))))
  }
}
