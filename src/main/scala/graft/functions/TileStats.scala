package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native per-tile stats partial: one compiled pass over the cell array
  * producing (n, sum, sumsq, mn, mx) with NULL cells skipped.
  *
  * Why native: Spark's higher-order `aggregate`/`filter` evaluate their
  * lambda interpreted per element — at 65K cells per tile × millions of
  * tiles that interpretation dominates (measured 2–6× slower than even
  * a full explode). Here the loop is plain JVM code inside one
  * expression call per row; CodegenFallback's per-row virtual call is
  * amortized over 65K cells.
  */
case class TileStatsPartial(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = TileStatsPartial.schema
  override def prettyName: String = "tile_stats_partial"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    var n = 0L; var s = 0.0; var q = 0.0
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) {
        val v = arr.getDouble(i)
        n += 1; s += v; q += v * v
        if (v < mn) mn = v
        if (v > mx) mx = v
      }
      i += 1
    }
    InternalRow(n, s, q,
      if (n > 0) mn else null,
      if (n > 0) mx else null)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TileStatsPartial {
  val schema: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("sumsq", DoubleType, nullable = false),
    StructField("mn", DoubleType, nullable = true),
    StructField("mx", DoubleType, nullable = true)))

  def tileStatsPartial(tile: Column): Column =
    GraftShim.column(TileStatsPartial(GraftShim.expression(tile)))
}
