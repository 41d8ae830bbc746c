package graft.functions

import java.math.BigInteger
import java.nio.ByteBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `hourly_rollup(user, value)`: the three aggregates of the streaming
  * hourly rollup fused into one buffer. It returns the struct
  * (n_events, approx_users, total_value), equal value for value to
  * `count(1)`, `hll_approx_count_distinct(user)` (that is,
  * `approx_count_distinct`) and `sum(value)` (HourlyRollupSpec).
  *
  * `value` is a decimal of at most 18 digits, and `total_value` is
  * decimal(p + 10, s), Sum's result type: null when every value is null,
  * and an overflow past its precision fails under ANSI mode
  * (`failOnError`, read from the session at construction, as Sum reads
  * its eval mode) or reads null otherwise. The sum is kept exact, as a
  * long of unscaled units that turns into a BigInteger only when the long
  * would overflow; Sum also notices a running sum that leaves the
  * precision and comes back, which takes more than 10^10 rows in a group.
  *
  * The serialized buffer, which a partial aggregate shuffles and a state
  * store keeps, is one packed binary: the count as a varint; the sum as a
  * varint tag (0 for no value, 1 for a BigInteger that follows as a varint
  * length and its two's-complement bytes, otherwise 2 + (zigzag(m) << 3 |
  * k) for the long sum m * 10^k); then the sketch's registers
  * ([[HllSketch]]); zero-padded to whole 8-byte words up to 64 bytes. A
  * one-event group of a two-decimal value fits in one 8-byte word. */
case class HourlyRollup(
    user: Expression,
    value: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HourlyRollup.Buffer] with BinaryLike[Expression] {
  import HourlyRollup._

  private val sketch = new HllSketch(0.05)

  override def left: Expression = user
  override def right: Expression = value

  override def checkInputDataTypes(): TypeCheckResult = value.dataType match {
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a decimal value of at most ${Decimal.MAX_LONG_DIGITS} digits, got $other")
  }

  private lazy val sumType = value.dataType match {
    case d: DecimalType => DecimalType(math.min(d.precision + 10, DecimalType.MAX_PRECISION), d.scale)
    case _ => DecimalType.SYSTEM_DEFAULT // fails checkInputDataTypes
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_events", LongType, nullable = false),
    StructField("approx_users", LongType, nullable = false),
    StructField("total_value", sumType)))
  override def nullable: Boolean = false
  override def prettyName: String = "hourly_rollup"

  override def createAggregationBuffer(): Buffer = new Buffer(sketch.create())

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    buffer.n += 1
    sketch.update(buffer.regs, user.eval(input), user.dataType)
    val v = value.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Decimal].toUnscaledLong)
    buffer
  }

  override def merge(buffer: Buffer, other: Buffer): Buffer = {
    buffer.n += other.n
    sketch.merge(buffer.regs, other.regs)
    if (other.big != null) buffer.add(other.big)
    else if (!other.empty) buffer.add(other.sum)
    buffer
  }

  override def eval(buffer: Buffer): Any = {
    val total =
      if (buffer.empty) null
      else {
        val unscaled = if (buffer.big != null) buffer.big else BigInteger.valueOf(buffer.sum)
        val d = Decimal(new java.math.BigDecimal(unscaled, sumType.scale))
        if (d.changePrecision(sumType.precision, sumType.scale)) d
        else if (failOnError) throw org.apache.spark.sql.GraftPlanBridge.sumOverflow()
        else null
      }
    new GenericInternalRow(Array[Any](buffer.n, sketch.estimate(buffer.regs), total))
  }

  override def serialize(buffer: Buffer): Array[Byte] = {
    val regs = sketch.serialize(buffer.regs)
    val big =
      if (buffer.big != null) buffer.big.toByteArray
      else if (buffer.sum <= -LongLimit || buffer.sum >= LongLimit)
        BigInteger.valueOf(buffer.sum).toByteArray
      else null
    val out = ByteBuffer.allocate(30 + (if (big != null) big.length else 0) + regs.length)
    putVarLong(out, buffer.n)
    if (buffer.empty) putVarLong(out, 0L)
    else if (big != null) {
      putVarLong(out, 1L)
      putVarLong(out, big.length.toLong)
      out.put(big)
    } else {
      // m * 10^k with k <= 7 trailing decimal zeros taken off: 6.55 at
      // scale 6 is 655 * 10^4, two varint bytes instead of four
      var m = buffer.sum
      var k = 0
      while (k < 7 && m != 0L && m % 10L == 0L) { m /= 10L; k += 1 }
      putVarLong(out, (((m << 1) ^ (m >> 63)) << 3 | k) + 2L)
    }
    out.put(regs)
    // a small buffer is zero-padded to whole 8-byte words, as a row stores
    // its binary anyway: groups of a few events then share one length, and
    // consecutive shuffle rows compress against each other. The zeros read
    // as empty sketch pairs; 64 bytes keep them clear of the dense length.
    val len = out.position()
    java.util.Arrays.copyOf(out.array(), if (len <= 64) (len + 7) & ~7 else len)
  }

  override def deserialize(storage: Array[Byte]): Buffer = {
    val in = ByteBuffer.wrap(storage)
    val n = getVarLong(in)
    val tag = getVarLong(in)
    val big =
      if (tag == 1L) {
        val bytes = new Array[Byte](getVarLong(in).toInt)
        in.get(bytes)
        new BigInteger(bytes)
      } else null
    val buffer = new Buffer(sketch.deserialize(in))
    buffer.n = n
    if (big != null) buffer.add(big)
    else if (tag != 0L) {
      val t = tag - 2L
      val z = t >>> 3
      var m = (z >>> 1) ^ -(z & 1L)
      var k = (t & 7L).toInt
      while (k > 0) { m *= 10L; k -= 1 }
      buffer.add(m)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HourlyRollup =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HourlyRollup =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HourlyRollup =
    copy(user = newLeft, value = newRight)
}

object HourlyRollup {
  /** One group's count, sketch registers and exact unscaled sum: `sum`
    * while it fits a long, `big` once it has not; `empty` until the first
    * non-null value. */
  final class Buffer(val regs: Array[Byte]) {
    var n = 0L
    var empty = true
    var sum = 0L
    var big: BigInteger = null

    def add(x: Long): Buffer = {
      empty = false
      if (big != null) big = big.add(BigInteger.valueOf(x))
      else {
        val r = sum + x
        // both operands' signs differ from the result's: the long overflowed
        if (((sum ^ r) & (x ^ r)) < 0) big = BigInteger.valueOf(sum).add(BigInteger.valueOf(x))
        else sum = r
      }
      this
    }

    def add(x: BigInteger): Buffer = {
      empty = false
      big = (if (big != null) big else BigInteger.valueOf(sum)).add(x)
      this
    }
  }

  /** Sums of this magnitude or more serialize as a BigInteger. */
  private val LongLimit = 1L << 59

  private def putVarLong(out: ByteBuffer, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.put(((v & 0x7f) | 0x80).toByte)
      v >>>= 7
    }
    out.put(v.toByte)
  }

  private def getVarLong(in: ByteBuffer): Long = {
    var v = 0L
    var shift = 0
    var b = 0
    while ({ b = in.get(); v |= (b & 0x7fL) << shift; shift += 7; (b & 0x80) != 0 }) ()
    v
  }

  /** Register `hourly_rollup(user, value)` for SQL text / expr(...).
    * Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "hourly_rollup")(exprs =>
      HourlyRollup(exprs(0), exprs(1)).toAggregateExpression())
}
