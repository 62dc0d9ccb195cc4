package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/**
 * Iceberg single-value binary serialization — used for manifest bounds
 * (lower_bounds/upper_bounds) and partition bound summaries. Must be
 * bit-exact (reference: src/core/expression/iceberg_value.cpp).
 *
 * Internal JVM value forms used throughout graft:
 *   boolean->Boolean, int->Int, long->Long, float->Float, double->Double,
 *   date->Int (days from epoch), time/timestamp*->Long (micros),
 *   string->String, uuid->String (canonical), fixed/binary->Array[Byte],
 *   decimal->java.math.BigDecimal.
 */
object SingleValue {
  import IcebergTypes._

  def serialize(v: Any, t: IcebergType): Array[Byte] = {
    if (v == null) return null
    def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    (t, v) match {
      case (BooleanT, b: Boolean) => Array[Byte](if (b) 1 else 0)
      case (IntT, i: Int) => le(4).putInt(i).array()
      case (DateT, i: Int) => le(4).putInt(i).array()
      case (DateT, d: java.sql.Date) => le(4).putInt(d.toLocalDate.toEpochDay.toInt).array()
      case (DateT, d: java.time.LocalDate) => le(4).putInt(d.toEpochDay.toInt).array()
      case (LongT | TimeT | TimestampT | TimestampTzT | TimestampNsT | TimestampTzNsT, l: Long) =>
        le(8).putLong(l).array()
      case (LongT, i: Int) => le(8).putLong(i.toLong).array()
      case (TimestampT | TimestampTzT, ts: java.sql.Timestamp) =>
        le(8).putLong(ts.getTime * 1000L + (ts.getNanos / 1000) % 1000).array()
      case (TimestampT, ldt: java.time.LocalDateTime) =>
        val i = ldt.toInstant(java.time.ZoneOffset.UTC)
        le(8).putLong(i.getEpochSecond * 1000000L + i.getNano / 1000L).array()
      case (TimestampT | TimestampTzT, i: java.time.Instant) =>
        le(8).putLong(i.getEpochSecond * 1000000L + i.getNano / 1000L).array()
      case (FloatT, f: Float) => le(4).putFloat(f).array()
      case (DoubleT, d: Double) => le(8).putDouble(d).array()
      case (StringT, s: String) => s.getBytes(StandardCharsets.UTF_8)
      case (UuidT, s: String) =>
        val u = java.util.UUID.fromString(s)
        ByteBuffer.allocate(16).putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array()
      case (BinaryT | FixedT(_), b: Array[Byte]) => b
      case (DecimalT(_, _), d: java.math.BigDecimal) => d.unscaledValue().toByteArray
      case (DecimalT(p, s), d: BigDecimal) => d.bigDecimal.unscaledValue().toByteArray
      case (tt, vv) => throw new IllegalArgumentException(s"Cannot serialize $vv as $tt")
    }
  }

  def deserialize(bytes: Array[Byte], t: IcebergType): Any = {
    if (bytes == null) return null
    def le: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    t match {
      case BooleanT => bytes(0) != 0
      case IntT | DateT => le.getInt
      // 4-byte values under a LONG/DOUBLE type: bounds written BEFORE an
      // int->long / float->double promotion keep their old width (Iceberg
      // schema-evolution rule: readers widen old bounds, never crash).
      case LongT | TimeT | TimestampT | TimestampTzT =>
        if (bytes.length == 4) le.getInt.toLong else le.getLong
      // ns variants are stored as nanos; floor to micros (documented loss).
      case TimestampNsT | TimestampTzNsT => Math.floorDiv(le.getLong, 1000L)
      case FloatT => le.getFloat
      case DoubleT => if (bytes.length == 4) le.getFloat.toDouble else le.getDouble
      case StringT => new String(bytes, StandardCharsets.UTF_8)
      case UuidT =>
        val bb = ByteBuffer.wrap(bytes)
        new java.util.UUID(bb.getLong, bb.getLong).toString
      case BinaryT | FixedT(_) => bytes
      case DecimalT(p, s) => new java.math.BigDecimal(new java.math.BigInteger(bytes), s)
      case other => throw new IllegalArgumentException(s"Cannot deserialize $other")
    }
  }

  /** The one ordering of Iceberg bound, partition and predicate-literal
    * values, matching how Spark evaluates them:
    *   - integral numbers (Int, Long) exactly; other non-decimal numbers as
    *     doubles (Spark's numeric widening), with -0.0 == 0.0 and NaN above
    *     everything, as in Spark's SQLOrderingUtil;
    *   - decimals (java BigDecimal or Spark Decimal) exactly, also against
    *     other numbers;
    *   - strings by Unicode code point, which is UTF-8 byte order: the order
    *     of UTF8String, parquet statistics and Iceberg bounds (String's own
    *     compareTo is UTF-16 order and puts U+E000..U+FFFF above U+10000);
    *   - byte arrays unsigned-lexicographically; booleans false < true.
    * Values it cannot order throw IllegalArgumentException; callers that
    * must stay conservative catch it. */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) => compareCodePoints(x, y)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: Number, y: Number) if isDecimal(x) || isDecimal(y) => toDecimal(x).compareTo(toDecimal(y))
    case (x: Number, y: Number) if isIntegral(x) && isIntegral(y) => java.lang.Long.compare(x.longValue, y.longValue)
    case (x: Number, y: Number) =>
      val (dx, dy) = (x.doubleValue, y.doubleValue)
      if (dx == dy) 0 else java.lang.Double.compare(dx, dy)
    case (x: org.apache.spark.sql.types.Decimal, y) => compare(x.toJavaBigDecimal, y)
    case (x, y: org.apache.spark.sql.types.Decimal) => compare(x, y.toJavaBigDecimal)
    case _ => throw new IllegalArgumentException(s"Cannot compare $a with $b")
  }

  /** [[compare]] as an Ordering, for min/max/sort over bound values. */
  val ordering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = SingleValue.compare(a, b)
  }

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short | _: java.lang.Byte => true
    case _ => false
  }

  private def isDecimal(n: Number): Boolean =
    n.isInstanceOf[java.math.BigDecimal] || n.isInstanceOf[BigDecimal]

  /** Exact decimal form of a number; NaN and infinities have none. */
  private def toDecimal(n: Number): java.math.BigDecimal = n match {
    case d: java.math.BigDecimal => d
    case d: BigDecimal => d.bigDecimal
    case other =>
      try new java.math.BigDecimal(other.toString)
      catch { case _: NumberFormatException => throw new IllegalArgumentException(s"Cannot compare $n as a decimal") }
  }

  /** UTF-16 order differs from code-point order only where a surrogate (half
    * of a code point above U+FFFF) meets a char in U+E000..U+FFFF. */
  private def compareCodePoints(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val cx = x.charAt(i)
      val cy = y.charAt(i)
      if (cx != cy) {
        val sx = Character.isSurrogate(cx)
        return if (sx == Character.isSurrogate(cy)) Character.compare(cx, cy) else if (sx) 1 else -1
      }
      i += 1
    }
    Integer.compare(x.length, y.length)
  }

  /** Convert an internal value to the JVM value Spark expects in a Row /
    * literal (date Int -> java.sql.Date, micros Long -> Instant for
    * timestamps, BigDecimal kept). */
  def toSparkValue(v: Any, t: IcebergType): Any = {
    if (v == null) return null
    t match {
      case DateT => v match {
        case i: Int => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.toLong))
        case other => other
      }
      case TimestampTzT | TimestampTzNsT => v match {
        case l: Long => java.time.Instant.ofEpochSecond(Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000L)
        case other => other
      }
      case TimestampT | TimestampNsT => v match {
        case l: Long => java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(l, 1000000L), (Math.floorMod(l, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
        case other => other
      }
      case _ => v
    }
  }

  /** Convert a JVM value (as produced by Spark Row / dir-name parsing) to
    * internal form (date->Int days, timestamp->Long micros). */
  def toInternal(v: Any, t: IcebergType): Any = {
    if (v == null) return null
    (t, v) match {
      case (DateT, d: java.sql.Date) => d.toLocalDate.toEpochDay.toInt
      case (DateT, d: java.time.LocalDate) => d.toEpochDay.toInt
      case (TimestampT | TimestampTzT | TimestampNsT | TimestampTzNsT, ts: java.sql.Timestamp) =>
        ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
      case (TimestampT | TimestampNsT, ldt: java.time.LocalDateTime) =>
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      case (TimestampTzT | TimestampTzNsT, i: java.time.Instant) =>
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      case (DecimalT(_, _), d: BigDecimal) => d.bigDecimal
      case (DecimalT(_, _), d: org.apache.spark.sql.types.Decimal) => d.toJavaBigDecimal
      case _ => v
    }
  }
}
