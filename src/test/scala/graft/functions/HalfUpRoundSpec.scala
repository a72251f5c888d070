package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The HALF_UP `round` kernel against Spark's `round(x, 0)` over
  * DOUBLE, bit for bit (the sign of zero included), interpreted and
  * generated: ±0.0, every `k.5` kind, 0.49999999999999994, 2^52 ± 0.5,
  * NaN, ±Inf, subnormals and Gaussian values across twenty decades; and
  * on frames the rule kept equals the rule excluded. */
class HalfUpRoundSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val two52 = 4503599627370496.0
  private val edges = Seq(0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999999999994,
    -0.49999999999999994, two52 - 0.5, -(two52 - 0.5), two52 + 0.5, two52 - 1.5, two52, two52 * 2 + 1,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
    -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 2.2e-308, Double.MaxValue,
    Double.MinValue, 1e300, -1e300, 0.1, 0.7, 1e15 + 0.5, 123456789.5, -987654.5)

  private val values: Gen[Double] = Gen.frequency(
    4 -> (for { g <- Gen.gaussian(0, 1); e <- Gen.choose(-5, 14) } yield g * math.pow(10, e)),
    // halves and their neighbours, the cases rounding can get wrong
    3 -> (for { k <- Gen.choose(-(1L << 52), 1L << 52); d <- Gen.choose(-2, 2) } yield {
      var x = k + 0.5
      for (_ <- 0 until d.abs) x = if (d > 0) Math.nextUp(x) else Math.nextDown(x)
      x
    }),
    1 -> Gen.oneOf(edges))

  private def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)

  test("kernel == Spark's round(x, 0) bit for bit, interpreted and generated, NULL too") {
    val in = BoundReference(0, DoubleType, nullable = true)
    val spark = Round(in, Literal(0))
    val kernel = HalfUpRound(in, spark.nullable)
    val (genK, genS) = (GenerateUnsafeProjection.generate(Seq(kernel)),
      GenerateUnsafeProjection.generate(Seq(spark)))
    for (x <- edges ++ samples(values, 300000, 5L)) {
      val row = InternalRow(x)
      val want = bits(spark.eval(row).asInstanceOf[Double])
      assert(bits(genS(row).getDouble(0)) == want, x)
      assert(bits(kernel.eval(row).asInstanceOf[Double]) == want, s"$x interpreted")
      assert(bits(genK(row).getDouble(0)) == want, s"$x generated")
    }
    assert(kernel.eval(InternalRow(null)) == null && genK(InternalRow(null)).isNullAt(0))
  }

  private val excluded = "spark.sql.optimizer.excludedRules" ->
    HalfUpRoundRule.getClass.getName.stripSuffix("$")

  private def kernels(df: DataFrame) =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case k: HalfUpRound => k
    }))

  test("frames: rule kept == rule excluded, codegen and interpreted; other scales stay Spark's") {
    val xs = edges ++ samples(values, 2000, 23L)
    def frame = spark.range(xs.size).select(
      when(col("id") % 7 =!= 3, element_at(typedLit(xs), col("id").cast("int") + 1)).as("x"))
      .select(round(col("x") * 100).as("r0"), round(col("x")).as("r1"),
        round(col("x"), 2).as("r2"), bround(col("x")).as("b"))
    for (interpreted <- Seq(false, true)) {
      val modes = if (interpreted) Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Nil
      withConf(modes: _*) {
        val df = frame
        assert(kernels(df).size == 2, df.queryExecution.optimizedPlan)
        def raw(rows: Seq[org.apache.spark.sql.Row]) =
          rows.map(_.toSeq.map { case d: Double => bits(d); case o => o })
        val got = raw(df.collect().toSeq)
        val want = withConf(excluded) {
          val off = frame
          assert(kernels(off).isEmpty)
          raw(off.collect().toSeq)
        }
        assert(got == want, s"interpreted=$interpreted")
      }
    }
    // a foldable argument is Spark's to fold
    assert(kernels(spark.range(1).select(round(lit(2.5)))).isEmpty)
  }
}
