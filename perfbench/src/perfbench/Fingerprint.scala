package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive output fingerprint: row count plus the wrapping sum of
  * one 64-bit hash per row, so neither row order nor partitioning changes
  * it. Doubles are hashed after rounding to [[DoubleDigits]] significant
  * digits (floats to [[FloatDigits]]): `tools/check.py` compares doubles
  * for equality, and the rounding only absorbs last-ulp summation-order
  * noise, never a difference that check would accept as a real change.
  *
  * The hash runs inside the query's own job over
  * `queryExecution.toRdd`, the same full final plan `Bench` materializes
  * with `toRdd.count()`; only the per-partition reduction differs.
  */
object Fingerprint {

  val DoubleDigits = 12
  val FloatDigits = 6

  final case class Fp(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  def of(df: DataFrame): Fp = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        h += mix(row(it.next(), schema))
        n += 1
      }
      Iterator((n, h))
    }.collect()
    Fp(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private val Seed = 0x5eed5eedL
  private val NullHash = 0x6e756c6cL

  /** splitmix64 finalizer: spreads per-row hashes before they are summed. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def combine(h: Long, v: Long): Long = mix(h * 31 + v)

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, Seed)

  private def str(s: String): Long = bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def roundedDouble(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(digits)).stripTrailingZeros.toString

  def row(r: InternalRow, schema: StructType): Long = {
    var h = Seed
    var i = 0
    while (i < schema.length) {
      h = combine(h, field(r, i, schema(i).dataType))
      i += 1
    }
    h
  }

  private def field(r: InternalRow, i: Int, dt: DataType): Long =
    if (r.isNullAt(i)) NullHash else value(r.get(i, dt), dt)

  private def value(v: Any, dt: DataType): Long = dt match {
    case _ if v == null => NullHash
    case DoubleType => str(roundedDouble(v.asInstanceOf[Double], DoubleDigits))
    case FloatType => str(roundedDouble(v.asInstanceOf[Float].toDouble, FloatDigits))
    case _: DecimalType =>
      str(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString)
    case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType => v.asInstanceOf[Byte].toLong
    case ShortType => v.asInstanceOf[Short].toLong
    case IntegerType | DateType => v.asInstanceOf[Int].toLong
    case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = Seed + a.numElements()
      var i = 0
      while (i < a.numElements()) {
        h = combine(h, if (a.isNullAt(i)) NullHash else value(a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      // map entry order is not part of a map's value: sum the entries
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      var h = 0L
      var i = 0
      while (i < m.numElements()) {
        h += mix(combine(value(ks.get(i, kt), kt),
          if (vs.isNullAt(i)) NullHash else value(vs.get(i, vt), vt)))
        i += 1
      }
      h
    case other => str(s"${other.simpleString}:$v")
  }
}
