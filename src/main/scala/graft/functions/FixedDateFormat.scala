package graft.functions

import java.nio.charset.StandardCharsets
import java.time.Instant

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, DateFormatClass, Expression,
  Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.DATETIME
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** `date_format(ts, pattern)` for a fixed-field pattern: the fields
  * `yyyy`, `MM`, `dd`, `HH`, `mm` and `ss` plus literal text. Its output
  * is Spark's `DateFormatClass` output byte for byte, without
  * java.time's formatter: the value's zone offset turns micros into local
  * seconds, Hinnant's day arithmetic turns days into a civil date, and
  * the digits are written into one byte array. Years outside 0000–9999,
  * where Spark's formatter adds a sign, go to `DateFormatClass` itself.
  * [[FixedDateFormatRule]] puts it in place of `date_format`; it is not
  * meant to be built by hand. */
case class FixedDateFormat(child: Expression, pattern: String, timeZoneId: String,
                           dataType: DataType) extends UnaryExpression {

  @transient private lazy val kernel = new FixedDateKernel(pattern, timeZoneId)

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fixed_date_format"

  override protected def nullSafeEval(micros: Any): Any = kernel.format(micros.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("fixedDateFormat", kernel)
    defineCodeGen(ctx, ev, micros => s"$k.format($micros)")
  }

  override protected def withNewChildInternal(c: Expression): FixedDateFormat = copy(child = c)
}

object FixedDateFormat {
  // field codes in a layout's (field, byte offset) pairs
  private[functions] final val Year = 0
  private[functions] final val Month = 1
  private[functions] final val Day = 2
  private[functions] final val Hour = 3
  private[functions] final val Minute = 4
  private[functions] final val Second = 5

  /** The layout of `pattern` as java.time's `appendPattern` reads it:
    * the output's bytes with the literal text in place, and a (field,
    * byte offset) pair per field. None for any pattern letter other than
    * `yyyy`, `MM`, `dd`, `HH`, `mm` and `ss`, an optional section, a
    * reserved character or an unterminated quote. */
  def layout(pattern: String): Option[(Array[Byte], Array[Int])] = {
    val out = new java.io.ByteArrayOutputStream
    val fields = Array.newBuilder[Int]
    def text(s: String): Unit = out.write(s.getBytes(StandardCharsets.UTF_8))
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        var j = i
        while (j < pattern.length && pattern.charAt(j) == c) j += 1
        val (field, width) = (c, j - i) match {
          case ('y', 4) => (Year, 4)
          case ('M', 2) => (Month, 2)
          case ('d', 2) => (Day, 2)
          case ('H', 2) => (Hour, 2)
          case ('m', 2) => (Minute, 2)
          case ('s', 2) => (Second, 2)
          case _ => return None
        }
        fields += field
        fields += out.size
        out.write(Array.fill[Byte](width)('0'))
        i = j
      } else if (c == '\'') {
        // quoted text up to the next lone quote; '' is one quote, inside
        // quotes or out
        var j = i + 1
        val quoted = new StringBuilder
        var open = true
        while (open && j < pattern.length) {
          if (pattern.charAt(j) != '\'') { quoted += pattern.charAt(j); j += 1 }
          else if (j + 1 < pattern.length && pattern.charAt(j + 1) == '\'') { quoted += '\''; j += 2 }
          else open = false
        }
        if (open) return None
        text(if (j == i + 1) "'" else quoted.result())
        i = j + 1
      } else if ("[]{}#".indexOf(c) >= 0) return None
      else {
        // one code point: a surrogate pair stays whole
        val n = Character.charCount(pattern.codePointAt(i))
        text(pattern.substring(i, i + n))
        i += n
      }
    }
    Some((out.toByteArray, fields.result()))
  }
}

/** One compiled `date_format`: a pattern's [[FixedDateFormat.layout]] in
  * one zone. Serializable, since generated code holds it as a reference
  * object that ships with the plan. */
final class FixedDateKernel(pattern: String, timeZoneId: String) extends Serializable {
  import FixedDateFormat._

  private val (template, fields) = layout(pattern).getOrElse(
    throw new IllegalArgumentException(s"'$pattern' is not a fixed-field date pattern"))

  private val rules = DateTimeUtils.getZoneId(timeZoneId).getRules
  /** A fixed-offset zone's offset is one constant; other zones look it
    * up per value, as `ZonedDateTime.ofInstant` does. */
  private val fixed = rules.isFixedOffset
  private val offset = rules.getOffset(Instant.EPOCH).getTotalSeconds
  /** `date_format` itself, over the one field of a row. */
  private val fallback = DateFormatClass(BoundReference(0, TimestampType, nullable = false),
    Literal(pattern), Some(timeZoneId))

  /** `micros` since the epoch formatted as Spark formats it. */
  def format(micros: Long): UTF8String = {
    val second = Math.floorDiv(micros, 1000000L)
    val local = second +
      (if (fixed) offset else rules.getOffset(Instant.ofEpochSecond(second)).getTotalSeconds)
    val days = Math.floorDiv(local, 86400L)
    val ofDay = Math.floorMod(local, 86400L).toInt
    // civil date of `days` (H. Hinnant, "chrono-Compatible Low-Level
    // Date Algorithms"), proleptic Gregorian as java.time's IsoChronology
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = era * 400L + yoe + (if (month <= 2) 1 else 0)
    if (year < 0 || year > 9999)
      fallback.eval(InternalRow(micros)).asInstanceOf[UTF8String]
    else {
      val out = template.clone()
      var i = 0
      while (i < fields.length) {
        val at = fields(i + 1)
        (fields(i): @annotation.switch) match {
          case Year =>
            val y = year.toInt
            put2(out, at, y / 100)
            put2(out, at + 2, y % 100)
          case Month => put2(out, at, month)
          case Day => put2(out, at, day)
          case Hour => put2(out, at, ofDay / 3600)
          case Minute => put2(out, at, ofDay / 60 % 60)
          case Second => put2(out, at, ofDay % 60)
        }
        i += 2
      }
      UTF8String.fromBytes(out)
    }
  }

  private def put2(out: Array[Byte], at: Int, v: Int): Unit = {
    out(at) = ('0' + v / 10).toByte
    out(at + 1) = ('0' + v % 10).toByte
  }
}

/** Puts [[FixedDateFormat]] in place of `date_format(ts, 'pattern')`
  * where the pattern has a fixed-field layout and `ts` is a TIMESTAMP,
  * formatted in the expression's zone. The analyzer casts a
  * TIMESTAMP_NTZ argument of `date_format` to TIMESTAMP, so that input
  * arrives here as a TIMESTAMP too. Any other pattern, a pattern that is
  * not a literal, or `spark.sql.legacy.timeParserPolicy=LEGACY` (whose
  * formatter is `SimpleDateFormat`'s) leaves `date_format` alone. Pruned
  * by the datetime tree pattern, so a plan with no datetime expression
  * pays one bit test. Injected by [[graft.GraftExtensions]];
  * `spark.sql.optimizer.excludedRules` names it by this object's class
  * name to switch it off. */
object FixedDateFormatRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (SQLConf.get.legacyTimeParserPolicy == LegacyBehaviorPolicy.LEGACY) plan
    else plan.transformAllExpressionsWithPruning(_.containsPattern(DATETIME)) {
      case d @ DateFormatClass(ts, Literal(p: UTF8String, _: StringType), Some(tz))
          if ts.dataType == TimestampType && FixedDateFormat.layout(p.toString).isDefined =>
        FixedDateFormat(ts, p.toString, tz, d.dataType)
    }
}
