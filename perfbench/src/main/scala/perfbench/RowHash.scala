package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import scala.util.hashing.MurmurHash3

/** Forces a DataFrame the way `graft.Bench` does (its declared plan through
  * `queryExecution.toRdd`, so no column is pruned away) and, in the same
  * job, computes the row count and an order-insensitive 64-bit hash: the
  * wrapping sum of one hash per row. Each row is rendered canonically;
  * floating-point values keep 9 significant digits so that summation order
  * inside an aggregate cannot change the hash. Maps are rendered with their
  * entries sorted; arrays keep their order. */
object RowHash {

  def forceAndHash(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L
        var h = 0L
        val sb = new java.lang.StringBuilder(256)
        while (it.hasNext) {
          sb.setLength(0)
          render(sb, it.next(), schema)
          val s = sb.toString
          h += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
            (MurmurHash3.stringHash(s, 0xc0de).toLong & 0xffffffffL)
          n += 1
        }
        Iterator.single((n, h))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h + ph) }
  }

  def hex(h: Long): String = f"$h%016x"

  private def render(sb: java.lang.StringBuilder, row: InternalRow, t: StructType): Unit = {
    var i = 0
    while (i < t.length) {
      sb.append('|')
      if (row.isNullAt(i)) sb.append('~') else value(sb, row.get(i, t(i).dataType), t(i).dataType)
      i += 1
    }
  }

  private def value(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit = t match {
    case DoubleType => real(sb, v.asInstanceOf[Double])
    case FloatType => real(sb, v.asInstanceOf[Float].toDouble)
    case d: DecimalType =>
      sb.append(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString)
    case BinaryType =>
      sb.append(java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]))
    case s: StructType =>
      sb.append('('); render(sb, v.asInstanceOf[InternalRow], s); sb.append(')')
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      sb.append('[')
      var i = 0
      while (i < a.numElements()) {
        if (i > 0) sb.append(',')
        if (a.isNullAt(i)) sb.append('~') else value(sb, a.get(i, et), et)
        i += 1
      }
      sb.append(']')
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val entries = (0 until m.numElements()).map { i =>
        val e = new java.lang.StringBuilder
        value(e, m.keyArray().get(i, kt), kt)
        e.append("->")
        if (m.valueArray().isNullAt(i)) e.append('~')
        else value(e, m.valueArray().get(i, vt), vt)
        e.toString
      }.sorted
      sb.append('{').append(entries.mkString(",")).append('}')
    case _ => sb.append(v.toString) // integral, boolean, string, date, timestamp
  }

  private def real(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d)
    else if (d == 0.0) sb.append('0')
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt
      val m = math.round(d / math.pow(10, e - 8))
      sb.append(m).append('e').append(e)
    }
}
