package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, LongType}

/** The registers of a sparse HyperLogLog++ (Heule, Nunkesser and Hall, EDBT
  * 2013) at Spark's precision for `relativeSD` (p = 9 at 0.05), one byte
  * per register in memory. Update is `HyperLogLogPlusPlusHelper.update`'s
  * (xxhash64 seed 42, floats normalized), merge is register max, and
  * [[estimate]] packs the registers into Spark's words (ten 6-bit
  * registers per long) for the helper's `query`, so the estimator and its
  * bias tables are Spark's own code.
  *
  * [[serialize]] writes the touched (index, rank) pairs, 2 bytes each at
  * p <= 10 and 4 above, or the packed words once those are smaller: the
  * packed form is exactly `denseBytes` long and a sparse one shorter. Spark's
  * own buffer is always m / 10 + 1 words (416 B at p = 9). Shared by
  * [[HyperLogLog]] and [[HourlyRollup]]. */
private[graft] final class HllSketch(relativeSD: Double) extends Serializable {
  private val p =
    Math.ceil(2.0d * Math.log(1.106d / relativeSD) / Math.log(2.0d)).toInt
  private val m = 1 << p
  private val numWords = m / 10 + 1
  private val pairBytes = if (p <= 10) 2 else 4
  val denseBytes: Int = numWords * 8
  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)

  def create(): Array[Byte] = new Array[Byte](m)

  /** Adds `v` (of type `dt`; null is skipped) to `regs`. */
  def update(regs: Array[Byte], v: Any, dt: DataType): Unit =
    if (v != null) {
      val normalized = dt match {
        case FloatType => NormalizeFloatingNumbers.FLOAT_NORMALIZER(v)
        case DoubleType => NormalizeFloatingNumbers.DOUBLE_NORMALIZER(v)
        case _ => v
      }
      val x = XxHash64Function.hash(normalized, dt, 42L, true, false)
      val idx = (x >>> (64 - p)).toInt
      val rank = java.lang.Long.numberOfLeadingZeros((x << p) | 1L << (p - 1)) + 1
      if (rank > regs(idx)) regs(idx) = rank.toByte
    }

  def merge(regs: Array[Byte], other: Array[Byte]): Unit = {
    var i = 0
    while (i < m) {
      if (other(i) > regs(i)) regs(i) = other(i)
      i += 1
    }
  }

  /** Spark's word layout: register i at bits 6 * (i % 10) of word i / 10. */
  private def words(regs: Array[Byte]): Array[Long] = {
    val w = new Array[Long](numWords)
    for (i <- 0 until m) w(i / 10) |= regs(i).toLong << (6 * (i % 10))
    w
  }

  def estimate(regs: Array[Byte]): Long =
    helper.query(new GenericInternalRow(words(regs).map(w => w: Any)), 0)

  def serialize(regs: Array[Byte]): Array[Byte] = {
    val n = regs.count(_ != 0)
    if (n * pairBytes < denseBytes) {
      val out = ByteBuffer.allocate(n * pairBytes)
      for (i <- 0 until m if regs(i) != 0) {
        val pair = i << 6 | regs(i)
        if (pairBytes == 2) out.putShort(pair.toShort) else out.putInt(pair)
      }
      out.array()
    } else {
      val out = ByteBuffer.allocate(denseBytes)
      words(regs).foreach(out.putLong)
      out.array()
    }
  }

  /** The registers [[serialize]] wrote into the rest of `in`. A sparse
    * form may be followed by zero bytes: they read as rank-0 pairs, and a
    * byte short of a pair is skipped. */
  def deserialize(in: ByteBuffer): Array[Byte] = {
    val regs = create()
    if (in.remaining == denseBytes) {
      val w = Array.fill(numWords)(in.getLong())
      for (i <- 0 until m) regs(i) = (w(i / 10) >>> (6 * (i % 10)) & 63).toByte
    } else while (in.remaining >= pairBytes) {
      val pair = if (pairBytes == 2) in.getShort() & 0xffff else in.getInt()
      if ((pair & 63) > regs(pair >>> 6)) regs(pair >>> 6) = (pair & 63).toByte
    }
    regs
  }
}

/** Sparse HyperLogLog++ as a TypedImperativeAggregate, equal to Spark's
  * `approx_count_distinct` value for value (HllSpec), at `relativeSD`'s
  * precision by Spark's formula. What differs is [[serialize]], the form a
  * partial aggregate shuffles and a streaming state store keeps: only the
  * registers the group touched ([[HllSketch]]). */
case class HyperLogLog(
    child: Expression,
    relativeSD: Double = 0.05,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  private val sketch = new HllSketch(relativeSD)
  private[graft] def denseBytes: Int = sketch.denseBytes

  override def createAggregationBuffer(): Array[Byte] = sketch.create()

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    sketch.update(buffer, child.eval(input), child.dataType)
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    sketch.merge(buffer, other)
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = sketch.estimate(buffer)
  override def serialize(buffer: Array[Byte]): Array[Byte] = sketch.serialize(buffer)
  override def deserialize(storage: Array[Byte]): Array[Byte] =
    sketch.deserialize(ByteBuffer.wrap(storage))

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_approx_count_distinct"

  override def withNewMutableAggBufferOffset(newOffset: Int): HyperLogLog =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HyperLogLog =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HyperLogLog =
    copy(child = newChild)
}

object Hll {
  /** Register `hll_approx_count_distinct(col[, relativeSD])` for SQL text /
    * expr(...), with `approx_count_distinct`'s arguments. Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "hll_approx_count_distinct")(exprs =>
      HyperLogLog(exprs.head,
        exprs.lift(1).fold(0.05)(_.eval().toString.toDouble)).toAggregateExpression())
}
