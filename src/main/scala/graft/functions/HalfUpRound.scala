package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** `round(x, 0)` over DOUBLE without `BigDecimal`: Spark rounds the
  * shortest decimal of `x` (`BigDecimal.valueOf`) half up, away from
  * zero. Below 2^52 every `k.5` is a double, so that decimal lies on the
  * same side of `k.5` as `x` itself, and rounding `|x|` from its floor
  * gives Spark's answer; `BigDecimal` has no -0, so a zero result is
  * +0.0. NaN, ±Inf and |x| ≥ 2^52 (already integers) are `x`.
  * [[HalfUpRoundRule]] puts it in place of `round`. `nullable` is the
  * replaced `round`'s. */
case class HalfUpRound(child: Expression, override val nullable: Boolean) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "half_up_round"
  override def flatArguments: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(x: Any): Any = HalfUpRound.round(x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.HalfUpRound.round($x)")

  override protected def withNewChildInternal(c: Expression): HalfUpRound = copy(child = c)
}

object HalfUpRound {
  private final val Two52 = 4503599627370496.0

  def round(x: Double): Double = {
    val a = Math.abs(x)
    if (!(a < Two52)) x // NaN, ±Inf and integers
    else {
      val f = Math.floor(a)
      val r = if (a - f >= 0.5) f + 1 else f
      if (r == 0) 0.0 else Math.copySign(r, x)
    }
  }
}

/** Puts [[HalfUpRound]] in place of `round(x, 0)` over a non-foldable
  * DOUBLE. Spark declares no tree pattern for `round`, so the rule walks
  * every plan it sees, once: it is injected by [[graft.GraftExtensions]]
  * as a pre-CBO rule. `spark.sql.optimizer.excludedRules` names it by
  * this object's class name to switch it off. */
object HalfUpRoundRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case r @ Round(x, Literal(0, IntegerType), _) if x.dataType == DoubleType && !x.foldable =>
        HalfUpRound(x, r.nullable)
    }
}
