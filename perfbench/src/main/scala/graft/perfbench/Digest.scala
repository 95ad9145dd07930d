package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent content digest of a frame's full output.
  *
  * Every row is hashed field by field into 64 bits and the row hashes are
  * summed modulo 2^64, so neither row order nor partitioning changes the
  * result, while duplicate rows still count. Doubles are rounded to
  * [[SignificantDigits]] significant digits first (and -0.0 folds into
  * 0.0), so summation-order noise from a different partitioning does not
  * read as a changed result. Map entries are combined order-independently;
  * array elements keep their order.
  *
  * The digest runs over `queryExecution.toRdd`, so the frame's own physical
  * plan executes unchanged — no aggregate is planned on top that could let
  * the optimizer drop a sort or a column.
  */
object Digest {

  val SignificantDigits = 8

  final case class Result(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def of(df: DataFrame): Result = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      it.foreach { r => n += 1; sum += row(r, schema) }
      Iterator((n, sum))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def mix(h: Long): Long = {
    var z = h
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def combine(h: Long, v: Long): Long = mix(h * 31 + v)

  /** The double rounded to [[SignificantDigits]] significant digits, as
    * (decimal exponent, integer mantissa) folded into 64 bits.
    */
  private[perfbench] def roundDouble(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d.isInfinite || d == 0.0) java.lang.Double.doubleToLongBits(d + 0.0)
    else {
      var e = math.floor(math.log10(math.abs(d))).toInt
      var m = math.rint(d * math.pow(10, SignificantDigits - 1 - e)).toLong
      if (math.abs(m) >= Top) { m /= 10; e += 1 }
      combine(e.toLong, m)
    }

  private val Top = math.pow(10, SignificantDigits).toLong

  private def bytes(b: Array[Byte]): Long =
    scala.util.hashing.MurmurHash3.bytesHash(b).toLong << 32 |
      (scala.util.hashing.MurmurHash3.bytesHash(b, 0x5eed) & 0xffffffffL)

  private[perfbench] def row(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = combine(h, field(r, i, schema(i).dataType))
      i += 1
    }
    h
  }

  private def field(r: InternalRow, i: Int, dt: DataType): Long =
    if (r.isNullAt(i)) 0x6e756c6cL
    else value(r.get(i, dt), dt)

  private def value(v: Any, dt: DataType): Long = dt match {
    case _ if v == null => 0x6e756c6cL
    case DoubleType => roundDouble(v.asInstanceOf[Double])
    case FloatType => roundDouble(v.asInstanceOf[Float].toDouble)
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType | ShortType | IntegerType | DateType |
        _: YearMonthIntervalType => v.asInstanceOf[Number].longValue()
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      v.asInstanceOf[Long]
    case _: StringType | _: CharType | _: VarcharType =>
      bytes(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case _: DecimalType =>
      bytes(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros
        .toPlainString.getBytes("UTF-8"))
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 19L + a.numElements()
      var i = 0
      while (i < a.numElements()) {
        h = combine(h, if (a.isNullAt(i)) 0x6e756c6cL else value(a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray(); val vs = m.valueArray()
      var sum = 23L + m.numElements()
      var i = 0
      while (i < m.numElements()) {
        sum += mix(combine(value(ks.get(i, kt), kt),
          if (vs.isNullAt(i)) 0x6e756c6cL else value(vs.get(i, vt), vt)))
        i += 1
      }
      sum
    case udt: UserDefinedType[_] => value(v, udt.sqlType)
    case _ => bytes(v.toString.getBytes("UTF-8"))
  }
}
