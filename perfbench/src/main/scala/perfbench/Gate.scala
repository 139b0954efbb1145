package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

import java.math.{MathContext, BigDecimal => JBigDecimal}
import scala.util.hashing.MurmurHash3

/** Row count plus an order-independent 64-bit digest of a table's rows. */
final case class Digest(rows: Long, hash: Long) {
  def render: String = f"$rows%d:$hash%016x"
}

object Digest {
  def parse(s: String): Digest = {
    val Array(r, h) = s.trim.split(':')
    Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }
}

/**
 * The output gate. A table's digest is the wrapping sum of one 64-bit hash
 * per row, so it ignores row order and partitioning but changes when a row
 * is dropped, added or altered. Columns are hashed in name order. Doubles
 * are rounded to 7 significant digits and floats to 5 before hashing, so a
 * different summation order of the same aggregate still digests the same.
 */
object Gate {

  /** Computes the digest by executing `df`'s own query plan once. */
  def digest(df: DataFrame): Digest = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => (i, f.dataType) }
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      val sb = new java.lang.StringBuilder
      it.foreach { row =>
        sb.setLength(0)
        fields.foreach { case (i, dt) => put(sb, row, i, dt); sb.append('\u0001') }
        h += hash64(sb.toString)
        n += 1
      }
      Iterator((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  def round(d: Double, digits: Int): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else new JBigDecimal(d).round(new MathContext(digits)).stripTrailingZeros().toString

  private def put(sb: java.lang.StringBuilder, v: SpecializedGetters, i: Int, dt: DataType): Unit =
    if (v.isNullAt(i)) sb.append('\u0000')
    else dt match {
      case BooleanType => sb.append(v.getBoolean(i))
      case ByteType => sb.append(v.getByte(i).toInt)
      case ShortType => sb.append(v.getShort(i).toInt)
      case IntegerType | DateType | _: YearMonthIntervalType => sb.append(v.getInt(i))
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        sb.append(v.getLong(i))
      case FloatType => sb.append(round(v.getFloat(i).toDouble, 5))
      case DoubleType => sb.append(round(v.getDouble(i), 7))
      case d: DecimalType =>
        sb.append(v.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros().toPlainString)
      case _: StringType => sb.append(v.getUTF8String(i).toString)
      case BinaryType => v.getBinary(i).foreach(b => sb.append(f"${b & 0xff}%02x"))
      case s: StructType =>
        val r = v.getStruct(i, s.size)
        sb.append('(')
        s.fields.indices.foreach { j => put(sb, r, j, s.fields(j).dataType); sb.append(',') }
        sb.append(')')
      case a: ArrayType =>
        val arr = v.getArray(i)
        sb.append('[')
        (0 until arr.numElements()).foreach { j => put(sb, arr, j, a.elementType); sb.append(',') }
        sb.append(']')
      case m: MapType =>
        // map entry order is not part of a map's value: hash entries sorted
        val md = v.getMap(i)
        val entries = (0 until md.numElements()).map { j =>
          val e = new java.lang.StringBuilder
          put(e, md.keyArray(), j, m.keyType); e.append('=')
          put(e, md.valueArray(), j, m.valueType)
          e.toString
        }.sorted
        sb.append('{').append(entries.mkString(",")).append('}')
      case u: UserDefinedType[_] => put(sb, v, i, u.sqlType)
      case other => sb.append(String.valueOf(v.get(i, other)))
    }

  /** One gate verdict: None when the digest matches the pin. */
  def check(what: String, got: Digest, want: Option[Digest]): Option[String] = want match {
    case Some(w) if w != got => Some(s"$what: got ${got.render}, pinned ${w.render}")
    case _ => None
  }

  /** Pins are `key<TAB>rows:hash` lines; `#` starts a comment. */
  def loadPins(file: java.io.File): Map[String, Digest] =
    if (!file.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val f = l.split('\t'); f(0) -> Digest.parse(f(1)) }.toMap
      finally src.close()
    }
}
