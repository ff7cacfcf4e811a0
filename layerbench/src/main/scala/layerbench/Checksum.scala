package layerbench

import java.math.{BigDecimal => JBigDecimal, MathContext}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive checksum of a query result.
  *
  * Each row is rendered canonically (doubles rounded to 10 significant
  * digits, so a last-bit difference in a floating-point sum does not
  * change it), hashed to 64 bits, and the hashes are summed: the sum does
  * not depend on row order or partitioning.
  */
final case class Checksum(rows: Long, sum: Long) {
  def hex: String = f"$sum%016x"
}

object Checksum {
  private val digits = new MathContext(10)

  def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new JBigDecimal(d).round(digits).stripTrailingZeros.toPlainString

  private def render(v: Any, t: DataType, sb: java.lang.StringBuilder): Unit =
    t match {
      case DoubleType => sb.append(canonicalDouble(v.asInstanceOf[Double]))
      case FloatType => sb.append(canonicalDouble(v.asInstanceOf[Float].toDouble))
      case a: ArrayType =>
        val arr = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < arr.numElements()) {
          if (i > 0) sb.append(',')
          if (arr.isNullAt(i)) sb.append("null")
          else render(arr.get(i, a.elementType), a.elementType, sb)
          i += 1
        }
        sb.append(']')
      case st: StructType => renderRow(v.asInstanceOf[InternalRow], st, sb)
      case _ => sb.append(String.valueOf(v))
    }

  private def renderRow(row: InternalRow, schema: StructType,
      sb: java.lang.StringBuilder): Unit = {
    sb.append('(')
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append('|')
      val t = schema(i).dataType
      if (row.isNullAt(i)) sb.append("null") else render(row.get(i, t), t, sb)
      i += 1
    }
    sb.append(')')
  }

  def rowHash(row: InternalRow, schema: StructType): Long = {
    val sb = new java.lang.StringBuilder
    renderRow(row, schema, sb)
    val s = sb.toString
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x51ed270b).toLong & 0xffffffffL)
  }

  /** Executes the planned query once — every row and every column of the
    * final plan is produced, as a noop write would — and folds the rows
    * into a checksum on the executors; only one (count, sum) pair per
    * partition is collected. */
  def execute(qe: QueryExecution): Checksum = {
    val schema = qe.analyzed.schema
    val parts = qe.toRdd.mapPartitions { it =>
      var n = 0L; var sum = 0L
      it.foreach { r => n += 1; sum += rowHash(r, schema) }
      Iterator.single((n, sum))
    }.collect()
    Checksum(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
