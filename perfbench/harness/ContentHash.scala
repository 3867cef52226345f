package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent content hash of a frame, computed while draining it.
  *
  * Rows hash their fields in column-name order (the oracle checker's
  * canonical order) and doubles round to 9 decimals first, as the checker
  * does, so a float sum that differs in its last bit between two runs
  * still hashes the same. Row hashes are summed, so row order does not
  * matter. The drain is one job over the executed plan, like `Bench`'s.
  */
object ContentHash {
  final case class Result(hash: Long, rows: Long)

  def drain(df: DataFrame): Result = {
    val schema = df.schema
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name).toArray
    val types = schema.fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var h = 0L
      var n = 0L
      while (it.hasNext) {
        h += row(it.next(), order, types)
        n += 1
      }
      Iterator.single((h, n))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** The same hash over a frame collected to the driver (same executed
    * plan and codegen as [[drain]]), with the rows, for the check dump. */
  def collect(df: DataFrame): (Result, Array[InternalRow]) = {
    val schema = df.schema
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name).toArray
    val types = schema.fields.map(_.dataType)
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    (Result(rows.iterator.map(row(_, order, types)).sum, rows.length.toLong), rows)
  }

  private def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) * 0x9E3779B97F4A7C15L
    x ^= x >>> 31
    x * 0xBF58476D1CE4E5B9L
  }

  private def row(r: InternalRow, order: Array[Int], types: Array[DataType]): Long = {
    var h = 17L
    var k = 0
    while (k < order.length) {
      val i = order(k)
      h = mix(h, if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, types(i)), types(i)))
      k += 1
    }
    h
  }

  private def rounded(d: Double): Long =
    if (d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else java.lang.Double.doubleToLongBits(Math.rint(d * 1e9) / 1e9 + 0.0)

  private def value(v: Any, t: DataType): Long = t match {
    case DoubleType => rounded(v.asInstanceOf[Double])
    case FloatType => rounded(v.asInstanceOf[Float].toDouble)
    case _: StringType =>
      val s = v.asInstanceOf[UTF8String]
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    case BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]
      XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 31L + a.numElements()
      var i = 0
      while (i < a.numElements()) {
        h = mix(h, if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      var h = 37L
      var i = 0
      while (i < m.numElements()) {
        val kv = value(m.keyArray().get(i, kt), kt)
        val vv = if (m.valueArray().isNullAt(i)) 0x5bd1e995L else value(m.valueArray().get(i, vt), vt)
        h += mix(kv, vv)
        i += 1
      }
      h
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      val idx = st.fields.indices.sortBy(i => st.fields(i).name).toArray
      row(r, idx, st.fields.map(_.dataType))
    case _: DecimalType =>
      v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case _ => v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case z: Boolean => if (z) 1L else 2L
      case other => other.hashCode.toLong
    }
  }
}
