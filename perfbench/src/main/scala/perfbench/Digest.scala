package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
import org.apache.spark.sql.types._

/** Row count plus an order-independent fingerprint of a frame. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d/$hash%016x"
}

object Digest {

  /** Every column hashed with xxhash64, combined with xor (overflow-free
    * under ANSI mode): a full decode of each row is needed to produce it.
    * Rows must be distinct, since equal rows cancel under xor. */
  def xorOf(df: DataFrame): Digest = collect(xorFrame(df))

  /** The one-row frame [[xorOf]] collects. */
  def xorFrame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(h), 0L)"))

  def collect(xorFrame: DataFrame): Digest = {
    val r = xorFrame.collect()(0)
    Digest(r.getLong(0), r.getLong(1))
  }

  /** Materializes the executed plan's rows (every output column of the
    * optimized plan, as `queryExecution.toRdd` does) and folds them into
    * a digest: per-row hashes summed, so duplicates count. Floating-point
    * values are rounded to 9 significant digits, so results whose last
    * bits depend on the order of a parallel sum still compare equal. */
  def ofExecution(qe: QueryExecution): Digest = {
    val types = qe.executedPlan.output.map(_.dataType).toArray
    val (n, h) = qe.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += RowHash.row(r, types) }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    Digest(n, h)
  }
}

/** Schema-directed row hashing over Catalyst's internal rows. */
object RowHash {
  private val Seed = 42L

  def row(r: SpecializedGetters, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) { h = mix(h, value(r, i, types(i))); i += 1 }
    h
  }

  def mix(h: Long, v: Long): Long = {
    var x = h * 31 + v
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** `d` rounded to 9 significant digits, as bits. */
  def fp(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0 || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else {
      val bd = new java.math.BigDecimal(d)
        .round(new java.math.MathContext(9)).stripTrailingZeros
      mix(bd.unscaledValue.longValue, bd.scale.toLong)
    }

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, Seed)

  private def value(r: SpecializedGetters, i: Int, t: DataType): Long =
    if (r.isNullAt(i)) 0x5bd1e995L else t match {
      case BooleanType => if (r.getBoolean(i)) 1L else 2L
      case ByteType => r.getByte(i).toLong
      case ShortType => r.getShort(i).toLong
      case IntegerType | DateType => r.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType => r.getLong(i)
      case FloatType => fp(r.getFloat(i).toDouble)
      case DoubleType => fp(r.getDouble(i))
      case _: StringType =>
        val s = r.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      case d: DecimalType =>
        val v = r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
        mix(v.unscaledValue.hashCode.toLong, v.scale.toLong)
      case BinaryType => bytes(r.getBinary(i))
      case a: ArrayType =>
        val arr = r.getArray(i)
        var h = arr.numElements.toLong
        var j = 0
        while (j < arr.numElements) { h = mix(h, value(arr, j, a.elementType)); j += 1 }
        h
      case m: MapType =>
        val mp = r.getMap(i)
        val ks = mp.keyArray
        val vs = mp.valueArray
        var h = 0L
        var j = 0
        while (j < mp.numElements) {
          h += mix(value(ks, j, m.keyType), value(vs, j, m.valueType)); j += 1
        }
        h
      case s: StructType => row(r.getStruct(i, s.size), s.fields.map(_.dataType))
      case other => bytes(String.valueOf(r.get(i, other)).getBytes("UTF-8"))
    }
}
