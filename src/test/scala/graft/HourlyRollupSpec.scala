package graft

import graft.functions.{Hll, HourlyRollup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CheckOverflowInSum, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, LongType}

/** The fused hourly aggregate: `hourly_rollup(user, value)` equals
  * `count(1)`, `hll_approx_count_distinct(user)` and `sum(value)` per
  * group, with null values, all-null groups, sums past a long's range and
  * the sketch's sparse-to-dense crossover; a sum past decimal(28,6) fails
  * under ANSI mode and reads null without it, as `sum` does; and the
  * packed buffer round-trips. */
class HourlyRollupSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    Hll.register(spark)
    HourlyRollup.register(spark)
  }

  /** Per group `g`: the rollup's three fields and the three separate
    * aggregates, over `v` cast to decimal(18,6). */
  private def both(df: DataFrame): (Set[Row], Set[Row]) = {
    val v = "cast(v AS decimal(18,6))"
    val got = df.groupBy("g").agg(expr(s"hourly_rollup(u, $v)").as("r"))
      .select(col("g"), col("r.n_events"), col("r.approx_users"), col("r.total_value"))
    val want = df.groupBy("g").agg(count(lit(1)), expr("hll_approx_count_distinct(u)"),
      sum(expr(v)))
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    (got.collect().toSet, want.collect().toSet)
  }

  test("equals count, the sparse sketch and sum; nulls, all-null groups, the dense crossover") {
    // group k of 1..400 holds k users; every 7th value is null and group 3
    // has no value at all; values carry up to 6 decimals
    val df = spark.range(1, 401).select(col("id").as("g"),
        explode(sequence(lit(1L), col("id"))).as("u"))
      .withColumn("v", when(col("u") % 7 === 0 || col("g") === 3, lit(null))
        .otherwise(col("u") * 1.234567 - col("g") * 3.5))
      .repartition(4)
    val (got, want) = both(df)
    assert(got.size == 400 && got == want)
    assert(got.exists(r => r.getLong(0) == 3L && r.isNullAt(3)))
  }

  test("a sum past a long's range of unscaled units stays exact") {
    // 5,000 values near 10^12 sum to ~5 * 10^21 units of 10^-6: past
    // Long.MaxValue (~9.2 * 10^18), within decimal(28,6)
    val df = spark.range(10000).select(pmod(col("id"), lit(2L)).as("g"),
      col("id").as("u"), (lit(999999999999.5) - col("id")).as("v"))
    val (got, want) = both(df.repartition(3))
    assert(got == want)
    assert(got.forall(_.getDecimal(3).unscaledValue.bitLength > 63))
  }

  /** A buffer after `rows` updates of (user, value in units of 10^-6);
    * values past 18 digits reach a long's overflow in one or two rows. */
  private def buffer(h: HourlyRollup, rows: Seq[(Long, Option[Long])]): HourlyRollup.Buffer =
    rows.foldLeft(h.createAggregationBuffer()) { case (b, (u, v)) =>
      h.update(b, InternalRow(u, v.map(Decimal(_, 19, 6)).orNull))
    }

  private val rollup = HourlyRollup(BoundReference(0, LongType, nullable = true),
    BoundReference(1, DecimalType(18, 6), nullable = true))

  test("the packed buffer round-trips: empty, long and BigInteger sums, both sketch forms") {
    val cases = Seq(
      Nil,
      Seq(1L -> None),
      Seq(7L -> Some(49990000L)),
      Seq(1L -> Some(Long.MaxValue), 2L -> Some(-1L)),
      Seq(1L -> Some(Long.MinValue)),
      Seq(1L -> Some(Long.MaxValue), 2L -> Some(Long.MaxValue), 3L -> None),
      (0L until 20L).map(u => u -> Some(u * 10000L)),
      (0L until 40L).map(u => u -> Some(u)),
      (0L until 1000L).map(u => u -> Some(-u * 1000003L)))
    cases.foreach { rows =>
      val b = buffer(rollup, rows)
      val bytes = rollup.serialize(b)
      val back = rollup.deserialize(bytes)
      assert(rollup.eval(back) == rollup.eval(b), rows.take(3))
      assert(back.regs.sameElements(b.regs))
    }
    // a one-event group of a two-decimal value: one 8-byte word
    assert(rollup.serialize(buffer(rollup, Seq(7L -> Some(49990000L)))).length == 8)
  }

  test("past decimal(28,6): Sum's ANSI overflow error, or null without ANSI") {
    // reaching 10^22 with decimal(18,6) values takes 10^10 rows, so the
    // buffer is built directly and compared with Sum's own final check,
    // which sees null: Sum's decimal(28,6) buffer slot stores an
    // overflowed value as null
    val tooBig = java.math.BigInteger.TEN.pow(28)
    def total(ansi: Boolean): Either[String, Any] = {
      val h = rollup.copy(failOnError = ansi)
      val b = h.createAggregationBuffer().add(tooBig)
      try Right(h.eval(b).asInstanceOf[InternalRow].get(2, DecimalType(28, 6)))
      catch { case e: ArithmeticException => Left(e.getMessage) }
    }
    def sumCheck(ansi: Boolean): Either[String, Any] =
      try Right(CheckOverflowInSum(Literal(null, DecimalType(28, 6)),
        DecimalType(28, 6), nullOnOverflow = !ansi, null).eval())
      catch { case e: ArithmeticException => Left(e.getMessage) }
    assert(total(ansi = true).isLeft && total(ansi = true) == sumCheck(ansi = true))
    assert(total(ansi = false) == Right(null) && sumCheck(ansi = false) == Right(null))
    // one unit less is the largest decimal(28,6)
    val max = rollup.eval(rollup.createAggregationBuffer().add(tooBig.subtract(java.math.BigInteger.ONE)))
    assert(max.asInstanceOf[InternalRow].getDecimal(2, 28, 6).toJavaBigDecimal.precision == 28)
  }

  test("merge adds sums across the long overflow and keeps all-null buffers empty") {
    val a = buffer(rollup, Seq(1L -> Some(Long.MaxValue - 5)))
    val b = buffer(rollup, Seq(2L -> Some(10L), 3L -> None))
    val merged = rollup.merge(rollup.deserialize(rollup.serialize(a)), b)
    val total = rollup.eval(merged).asInstanceOf[InternalRow].getDecimal(2, 28, 6)
    assert(total.toJavaBigDecimal.unscaledValue ==
      java.math.BigInteger.valueOf(Long.MaxValue).add(java.math.BigInteger.valueOf(5L)))
    assert(merged.n == 3L)
    val empty = rollup.merge(buffer(rollup, Seq(1L -> None)), buffer(rollup, Nil))
    assert(rollup.eval(empty).asInstanceOf[InternalRow].isNullAt(2))
  }
}
