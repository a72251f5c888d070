package graft.functions

import java.time.Instant

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, BoundReference, Cast, EvalMode,
  Expression, In, InSet, Literal, Month, TruncTimestamp, UnaryExpression, Year}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, StringType, TimestampNTZType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** One datetime step in a fixed-offset zone as integer arithmetic on
  * Spark's physical values (micros or days since the epoch, widened to
  * Long). `spark` is the expression the step stands for, its input bound
  * to field 0 of a row: it gives the step's type and nullability, and a
  * step calls it where its own arithmetic would overflow a Long, so
  * results and errors match Spark's there too. Case classes, so two
  * copies of one expression stay semantically equal (an aggregate's
  * grouping key and its output). Serializable: generated code holds a
  * step as a reference object that ships with the plan. */
sealed abstract class ZoneStep extends Serializable {
  def spark: Expression
  def name: String
  def apply(v: Long): Long
  protected def bySpark(v: Long): Long = spark.eval(InternalRow(v)).asInstanceOf[Long]
}

/** `CAST(ntz AS TIMESTAMP)`: local micros less the zone's offset. */
case class ShiftMicros(offsetMicros: Long, spark: Expression) extends ZoneStep {
  def name: String = "fixed_zone_timestamp"
  def apply(v: Long): Long = {
    val r = v - offsetMicros
    if (((v ^ offsetMicros) & (v ^ r)) < 0) bySpark(v) else r
  }
}

/** `CAST(x AS DATE)`: days of the local second. Never overflows. */
case class MicrosToDays(offsetSeconds: Long, spark: Expression) extends ZoneStep {
  def name: String = "fixed_zone_date"
  def apply(v: Long): Long = Math.floorDiv(Math.floorDiv(v, 1000000L) + offsetSeconds, 86400L)
}

/** `year(date)` or `month(date)` of a DATE's days. Never overflows. */
case class CivilField(month: Boolean, spark: Expression) extends ZoneStep {
  def name: String = if (month) "civil_month" else "civil_year"
  def apply(v: Long): Long = {
    val c = Civil.fromDays(v)
    if (month) Civil.month(c) else Civil.year(c)
  }
}

/** `date_trunc(level, ts)` for DAY, WEEK (to Monday) or MONTH: the local
  * day truncated, back to micros. Micros within 40 days of the `Long`
  * ends, where the shift could overflow, go to Spark. */
case class TruncMicros(level: Int, offsetSeconds: Long, spark: Expression) extends ZoneStep {
  def name: String = "fixed_zone_trunc"
  def apply(v: Long): Long =
    if (v < TruncMicros.Lowest || v > TruncMicros.Highest) bySpark(v)
    else {
      val days = Math.floorDiv(Math.floorDiv(v, 1000000L) + offsetSeconds, 86400L)
      val first =
        if (level == TruncMicros.DAY) days
        // 1970-01-01 was a Thursday: Monday is 3 days before
        else if (level == TruncMicros.WEEK) days - Math.floorMod(days + 3, 7L)
        else days - Civil.day(Civil.fromDays(days)) + 1
      (first * 86400L - offsetSeconds) * 1000000L
    }
}

object TruncMicros {
  private def level(name: String) = DateTimeUtils.parseTruncLevel(UTF8String.fromString(name))
  final val DAY = level("day")
  final val WEEK = level("week")
  final val MONTH = level("month")
  private final val Margin = 40L * 86400L * 1000000L
  private final val Lowest = Long.MinValue + Margin
  private final val Highest = Long.MaxValue - Margin
}

/** A [[ZoneStep]] over `child`: what [[FixedZoneRule]] puts in place of
  * the expression the step stands for. */
case class FixedZone(child: Expression, step: ZoneStep) extends UnaryExpression {

  override def dataType: DataType = step.spark.dataType
  override def nullable: Boolean = step.spark.nullable
  override def nullIntolerant: Boolean = step.spark.nullIntolerant
  override def prettyName: String = step.name
  override def flatArguments: Iterator[Any] = Iterator(child)

  private def widened(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
  }

  override protected def nullSafeEval(v: Any): Any = {
    val r = step(widened(v))
    if (dataType == DateType || dataType == IntegerType) r.toInt else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("zoneStep", step)
    defineCodeGen(ctx, ev, v => s"(${CodeGenerator.javaType(dataType)}) $k.apply($v)")
  }

  override protected def withNewChildInternal(c: Expression): FixedZone = copy(child = c)
}

/** Puts [[FixedZone]] kernels in place of the datetime steps that run
  * per row through java.time in a fixed-offset session zone:
  * `CAST(ntz AS TIMESTAMP)`, `CAST(ts AS DATE)` (a TIMESTAMP in its
  * expression's zone, or a TIMESTAMP_NTZ at offset 0), `year` and `month`
  * of a DATE, and `date_trunc` to DAY, WEEK or MONTH. Other zones, other
  * levels, foldable inputs and TRY casts keep Spark's expression. So
  * does a cast compared with a foldable value (`BinaryComparison`, `In`,
  * `InSet`), which Spark's `UnwrapCastInBinaryComparison` may already
  * have rewritten and whose pushed filters must not change. Spark
  * declares no tree pattern for `year` or `month`, so the rule walks
  * every plan it sees, once: it is injected by [[graft.GraftExtensions]]
  * as a pre-CBO rule, after the operator optimizations.
  * `spark.sql.optimizer.excludedRules` names it by this object's class
  * name to switch it off. */
object FixedZoneRule extends Rule[LogicalPlan] {

  private def offsetOf(timeZoneId: String): Option[Long] = {
    val rules = DateTimeUtils.getZoneId(timeZoneId).getRules
    if (rules.isFixedOffset) Some(rules.getOffset(Instant.EPOCH).getTotalSeconds.toLong) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (offsetOf(SQLConf.get.sessionLocalTimeZone).isEmpty) plan
    else plan.transformUpWithSubqueries { case p => p.mapExpressions(rewrite) }

  private def comparedWithFoldable(e: Expression): Boolean = e match {
    case BinaryComparison(_: Cast, r) => r.foldable
    case BinaryComparison(l, _: Cast) => l.foldable
    case In(_: Cast, list) => list.forall(_.foldable)
    case InSet(_: Cast, _) => true
    case _ => false
  }

  /** Bottom-up, so `year(CAST(ntz AS DATE))` becomes two kernels. */
  private def rewrite(e: Expression): Expression =
    if (comparedWithFoldable(e))
      e.mapChildren { case c: Cast => c.mapChildren(rewrite); case o => rewrite(o) }
    else {
      val r = e.mapChildren(rewrite)
      kernel(r).getOrElse(r)
    }

  /** `e` with its one non-foldable input bound to field 0. */
  private def bound(e: Expression, input: Expression): Expression =
    e.mapChildren(c => if (c eq input) BoundReference(0, c.dataType, c.nullable) else c)

  private def kernel(e: Expression): Option[FixedZone] = {
    val step: Option[(Expression, Expression => ZoneStep)] = e match {
      case Cast(x, TimestampType, Some(tz), mode)
          if x.dataType == TimestampNTZType && mode != EvalMode.TRY =>
        offsetOf(tz).map(off => x -> (ShiftMicros(off * 1000000L, _)))
      case Cast(x, DateType, tz, mode) if mode != EvalMode.TRY =>
        val off = x.dataType match {
          case TimestampNTZType => Some(0L)
          case TimestampType => tz.flatMap(offsetOf)
          case _ => None
        }
        off.map(o => x -> (MicrosToDays(o, _)))
      case Year(x) if x.dataType == DateType => Some(x -> (CivilField(month = false, _)))
      case Month(x) if x.dataType == DateType => Some(x -> (CivilField(month = true, _)))
      case TruncTimestamp(Literal(f: UTF8String, _: StringType), x, Some(tz)) =>
        val level = DateTimeUtils.parseTruncLevel(f)
        val off = if (x.dataType == TimestampNTZType) Some(0L) else offsetOf(tz)
        if (!Seq(TruncMicros.DAY, TruncMicros.WEEK, TruncMicros.MONTH).contains(level)) None
        else off.map(o => x -> (TruncMicros(level, o, _)))
      case _ => None
    }
    step.collect { case (x, make) if !x.foldable => FixedZone(x, make(bound(e, x))) }
  }
}
