package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Per-slot value statistics in one aggregate: every input row carries
  * the slots it belongs to (`array<int>`, each in [0, nSlots)) and a
  * value, and the result holds one stats struct per slot, in slot order.
  *
  * It is the reduce of zonal statistics: grouped by timestep, one
  * exchange yields every (boundary, timestep) row, and a slot no row
  * reached comes out all NULL. A slot some row reached has `zcount` = the
  * count of its non-NULL values, 0 when every value was NULL; its other
  * fields follow `avg`, `min`, `max`, `sum` and `stddev_pop` over them
  * (`zmean` = sum / count, `zstd` from Welford moments merged as Spark's
  * central-moment aggregates merge them, min/max ordered as SQL orders
  * doubles).
  *
  * The buffer is sparse (slot → accumulator), so its memory and the
  * partial aggregates it ships scale with the slots a task reached, not
  * with the number of boundaries.
  */
case class SlotStats(slots: Expression, value: Expression, nSlots: Int,
                     mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.LongMap[SlotStats.Acc]]
    with BinaryLike[Expression] {
  import SlotStats.Acc

  override def left: Expression = slots
  override def right: Expression = value
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(SlotStats.schema, containsNull = false)
  override def prettyName: String = "slot_stats"

  override def createAggregationBuffer(): mutable.LongMap[Acc] = mutable.LongMap.empty

  override def update(buf: mutable.LongMap[Acc], input: InternalRow): mutable.LongMap[Acc] = {
    val s = slots.eval(input).asInstanceOf[ArrayData]
    if (s != null && s.numElements() > 0) {
      val v = value.eval(input)
      var i = 0
      while (i < s.numElements()) {
        val acc = buf.getOrElseUpdate(s.getInt(i).toLong, new Acc)
        if (v != null) acc.add(v.asInstanceOf[Double])
        i += 1
      }
    }
    buf
  }

  override def merge(buf: mutable.LongMap[Acc], other: mutable.LongMap[Acc]): mutable.LongMap[Acc] = {
    other.foreachEntry { (k, acc) =>
      buf.get(k) match {
        case Some(mine) => mine.merge(acc)
        case None => buf.update(k, acc)
      }
    }
    buf
  }

  override def eval(buf: mutable.LongMap[Acc]): Any =
    new GenericArrayData(Array.tabulate[Any](nSlots) { i =>
      buf.get(i.toLong) match {
        case None => SlotStats.nullRow
        case Some(a) if a.n == 0 => InternalRow(null, null, null, null, null, 0L)
        case Some(a) => InternalRow(a.sum / a.n, a.min, a.max, a.sum,
          math.sqrt(a.m2 / a.n), a.n)
      }
    })

  override def serialize(buf: mutable.LongMap[Acc]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * SlotStats.EntryBytes)
    bb.putInt(buf.size)
    buf.foreachEntry { (k, a) =>
      bb.putInt(k.toInt).putLong(a.n).putDouble(a.sum).putDouble(a.min)
        .putDouble(a.max).putDouble(a.mean).putDouble(a.m2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[Acc] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = mutable.LongMap.empty[Acc]
    for (_ <- 0 until bb.getInt()) {
      val k = bb.getInt().toLong
      val a = new Acc
      a.n = bb.getLong(); a.sum = bb.getDouble(); a.min = bb.getDouble()
      a.max = bb.getDouble(); a.mean = bb.getDouble(); a.m2 = bb.getDouble()
      buf.update(k, a)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): SlotStats = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SlotStats = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SlotStats =
    copy(slots = l, value = r)
}

object SlotStats {
  val schema: StructType = StructType(Seq(
    StructField("zmean", DoubleType), StructField("zmin", DoubleType),
    StructField("zmax", DoubleType), StructField("zsum", DoubleType),
    StructField("zstd", DoubleType), StructField("zcount", LongType)))

  private val nullRow = InternalRow(null, null, null, null, null, null)
  private val EntryBytes = 4 + 8 * 6

  /** Running (count, sum, min, max, mean, m2) of one slot's values. */
  final class Acc {
    var n = 0L; var sum = 0.0; var min = 0.0; var max = 0.0
    var mean = 0.0; var m2 = 0.0

    def add(v: Double): Unit = {
      if (n == 0 || SQLOrderingUtil.compareDoubles(v, min) < 0) min = v
      if (n == 0 || SQLOrderingUtil.compareDoubles(v, max) > 0) max = v
      n += 1
      sum += v
      val delta = v - mean
      val deltaN = delta / n
      mean += deltaN
      m2 += delta * (delta - deltaN)
    }

    def merge(o: Acc): Unit = if (o.n > 0) {
      if (n == 0 || SQLOrderingUtil.compareDoubles(o.min, min) < 0) min = o.min
      if (n == 0 || SQLOrderingUtil.compareDoubles(o.max, max) > 0) max = o.max
      val total = n + o.n
      val delta = o.mean - mean
      val deltaN = delta / total
      mean += deltaN * o.n
      m2 += o.m2 + delta * deltaN * n * o.n
      sum += o.sum
      n = total
    }
  }

  /** `array<struct<zmean, zmin, zmax, zsum, zstd, zcount>>` of `nSlots`
    * entries; `value` must be a double column. */
  def slotStats(slots: Column, value: Column, nSlots: Int): Column =
    GraftShim.column(SlotStats(GraftShim.expression(slots),
      GraftShim.expression(value), nSlots).toAggregateExpression())
}
