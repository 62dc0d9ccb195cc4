package graft

import graft.core.{IcebergType, SingleValue}
import graft.core.IcebergTypes._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.{ByteArray, UTF8String}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[SingleValue.compare]] is the one ordering of Iceberg bound, partition
  * and literal values. For every primitive Iceberg type, generated pairs are
  * round-tripped through `serialize` / `deserialize` and the comparator's
  * sign must equal Spark's own ordering of the same values. */
class SingleValueOrderSpec extends AnyFunSuite {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(2000).withInitialSeed(Seed(20261019L))

  /** Pairs that are often equal or adjacent, not only independent draws. */
  private def pairs[A](g: Gen[A], near: A => Gen[A]): Gen[(A, A)] =
    for (a <- g; b <- Gen.frequency(3 -> g, 1 -> Gen.const(a), 2 -> near(a))) yield (a, b)

  private def check[A](t: IcebergType, gen: Gen[(A, A)])(sparkOrder: (A, A) => Int): Unit = {
    def roundTrip(v: A): Any = SingleValue.deserialize(SingleValue.serialize(v, t), t)
    val prop = Prop.forAllNoShrink(gen) { case (a, b) =>
      Prop(Integer.signum(SingleValue.compare(roundTrip(a), roundTrip(b))) ==
        Integer.signum(sparkOrder(a, b))) :| s"$t: $a vs $b"
    }
    val result = Test.check(params, prop)
    assert(result.passed, s"$t: $result")
  }

  private val anyInt = Gen.frequency(3 -> Gen.choose(-1000, 1000), 1 -> Gen.choose(Int.MinValue, Int.MaxValue))
  private val anyLong = Gen.frequency(2 -> Gen.choose(-1000L, 1000L), 1 -> Gen.choose(Long.MinValue, Long.MaxValue),
    // beyond 2^53, where a double conversion merges neighbours
    1 -> Gen.choose((1L << 53) - 8, (1L << 53) + 8))
  private def nudge(l: Long): Gen[Long] =
    Gen.oneOf(l, if (l == Long.MaxValue) l else l + 1, if (l == Long.MinValue) l else l - 1)

  /** Code points from every range whose order differs between UTF-16 and
    * code-point order: ASCII, BMP below the surrogates, U+E000..U+FFFF and
    * supplementary planes. */
  private val codePoint = Gen.frequency(
    3 -> Gen.choose(0x20, 0x7e), 1 -> Gen.choose(0x80, 0xd7ff),
    2 -> Gen.choose(0xe000, 0xffff), 2 -> Gen.choose(0x10000, 0x10ffff),
    1 -> Gen.oneOf(0xfffd, 0x1f600))
  private val string = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, codePoint))
    .map(cps => new String(cps.toArray, 0, cps.length))
  private def bytes(maxLen: Int) = Gen.choose(0, maxLen).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127)))
    .map(_.map(_.toByte).toArray)

  private def decimal(precision: Int, scale: Int): Gen[java.math.BigDecimal] =
    Gen.frequency(
      1 -> Gen.choose(-1000L, 1000L).map(BigInt(_)),
      2 -> Gen.choose(1, precision).flatMap(d => Gen.listOfN(d, Gen.choose(0, 9))
        .flatMap(ds => Gen.oneOf(1, -1).map(sign => BigInt(ds.mkString) * sign))))
      .map(u => new java.math.BigDecimal(u.bigInteger, scale))
  private def nextDecimal(d: java.math.BigDecimal, precision: Int): Gen[java.math.BigDecimal] =
    Gen.oneOf(-1, 1).map(step => d.add(java.math.BigDecimal.valueOf(step.toLong, d.scale)))
      .map(n => if (n.precision > precision) d else n)

  test("compare agrees with Spark's ordering after a bound round trip, for every primitive type") {
    check(BooleanT, pairs(Gen.oneOf(true, false), (_: Boolean) => Gen.oneOf(true, false)))(
      java.lang.Boolean.compare)
    for (t <- Seq(IntT, DateT))
      check(t, pairs(anyInt, (i: Int) => Gen.oneOf(i, i + 1, i - 1)))(Integer.compare)
    for (t <- Seq(LongT, TimeT, TimestampT, TimestampTzT))
      check(t, pairs(anyLong, nudge))(java.lang.Long.compare)
    val floats = Gen.frequency(4 -> Gen.choose(-1e6f, 1e6f),
      1 -> Gen.oneOf(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity, Float.MinPositiveValue))
    check(FloatT, pairs(floats, (f: Float) => Gen.oneOf(f, Math.nextUp(f), -f)))(SQLOrderingUtil.compareFloats)
    val doubles = Gen.frequency(4 -> Gen.choose(-1e12, 1e12),
      1 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue))
    check(DoubleT, pairs(doubles, (d: Double) => Gen.oneOf(d, Math.nextUp(d), -d)))(SQLOrderingUtil.compareDoubles)
    check(StringT, pairs(string, (s: String) => string.map(s + _)))(
      (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
    for (t <- Seq(BinaryT, FixedT(4)))
      check(t, pairs(bytes(4), (b: Array[Byte]) => bytes(4).map(x => b.take(2) ++ x)))(ByteArray.compareBinary)
    // Spark has no UUID type; Iceberg orders UUIDs as their 16 big-endian
    // bytes, which Spark orders as BINARY.
    val uuid = Gen.zip(anyLong, anyLong).map { case (h, l) => new java.util.UUID(h, l).toString }
    check(UuidT, pairs(uuid, (u: String) => Gen.const(u)))(
      (a, b) => ByteArray.compareBinary(SingleValue.serialize(a, UuidT), SingleValue.serialize(b, UuidT)))
    for ((p, s) <- Seq((38, 2), (10, 2), (38, 0), (9, 9)))
      check(DecimalT(p, s), pairs(decimal(p, s), (d: java.math.BigDecimal) => nextDecimal(d, p)))(
        (a, b) => Decimal(a).compare(Decimal(b)))
  }

  test("decimals compare exactly against other numbers and Spark Decimal; integral kinds exactly") {
    val dec = decimal(38, 2)
    val decVsLong = Gen.zip(dec, anyLong)
    val r1 = Test.check(params, Prop.forAllNoShrink(decVsLong) { case (d, l) =>
      val want = Integer.signum(Decimal(d).compare(Decimal(l)))
      Integer.signum(SingleValue.compare(d, l)) == want &&
        Integer.signum(SingleValue.compare(Decimal(d), l)) == want &&
        Integer.signum(SingleValue.compare(l, Decimal(d))) == -want
    })
    assert(r1.passed, r1.toString)
    val r2 = Test.check(params, Prop.forAllNoShrink(Gen.zip(anyInt, anyLong)) { case (i, l) =>
      Integer.signum(SingleValue.compare(i, l)) == Integer.signum(java.lang.Long.compare(i.toLong, l))
    })
    assert(r2.passed, r2.toString)
    // Two decimals one unit apart at 26 digits are the same double.
    val a = new java.math.BigDecimal("123456789012345678901234.01")
    val b = new java.math.BigDecimal("123456789012345678901234.02")
    assert(a.doubleValue == b.doubleValue)
    assert(SingleValue.compare(a, b) < 0 && SingleValue.compare(Decimal(b), a) > 0)
  }

  test("values it cannot order throw instead of comparing equal") {
    intercept[IllegalArgumentException](SingleValue.compare("a", 1))
    intercept[IllegalArgumentException](SingleValue.compare(Array[Byte](1), "a"))
    intercept[IllegalArgumentException](SingleValue.compare(Double.NaN, new java.math.BigDecimal("1.5")))
  }
}
