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

/** Sparse HyperLogLog++ (Heule, Nunkesser and Hall, EDBT 2013) as a
  * TypedImperativeAggregate, equal to Spark's `approx_count_distinct` value
  * for value (HllSpec). Update is `HyperLogLogPlusPlusHelper.update`'s
  * (xxhash64 seed 42, floats normalized, p from `relativeSD` by Spark's
  * formula: 9 at 0.05), merge is register max, and eval packs the registers
  * into Spark's words (ten 6-bit registers per long) for the helper's
  * `query`, so the estimator and its bias tables are Spark's own code.
  *
  * What differs is [[serialize]], the form a partial aggregate shuffles and
  * a streaming state store keeps. Spark's buffer is always m / 10 + 1 words
  * (416 B at p = 9); this one is the touched (index, rank) pairs, 2 bytes
  * each at p <= 10 and 4 above, or the packed words once those are smaller.
  * The packed form is exactly `denseBytes` long and a sparse one shorter.
  * In memory a buffer is one byte per register.
  */
case class HyperLogLog(
    child: Expression,
    relativeSD: Double = 0.05,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  private val p =
    Math.ceil(2.0d * Math.log(1.106d / relativeSD) / Math.log(2.0d)).toInt
  private val m = 1 << p
  private val numWords = m / 10 + 1
  private val pairBytes = if (p <= 10) 2 else 4
  private[graft] val denseBytes = numWords * 8
  private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val normalized = child.dataType match {
        case FloatType => NormalizeFloatingNumbers.FLOAT_NORMALIZER(v)
        case DoubleType => NormalizeFloatingNumbers.DOUBLE_NORMALIZER(v)
        case _ => v
      }
      val x = XxHash64Function.hash(normalized, child.dataType, 42L, true, false)
      val idx = (x >>> (64 - p)).toInt
      val rank = java.lang.Long.numberOfLeadingZeros((x << p) | 1L << (p - 1)) + 1
      if (rank > buffer(idx)) buffer(idx) = rank.toByte
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  /** Spark's word layout: register i at bits 6 * (i % 10) of word i / 10. */
  private def words(regs: Array[Byte]): Array[Long] = {
    val w = new Array[Long](numWords)
    for (i <- 0 until m) w(i / 10) |= regs(i).toLong << (6 * (i % 10))
    w
  }

  override def eval(buffer: Array[Byte]): Any =
    helper.query(new GenericInternalRow(words(buffer).map(w => w: Any)), 0)

  override def serialize(buffer: Array[Byte]): Array[Byte] = {
    val n = buffer.count(_ != 0)
    if (n * pairBytes < denseBytes) {
      val out = ByteBuffer.allocate(n * pairBytes)
      for (i <- 0 until m if buffer(i) != 0) {
        val pair = i << 6 | buffer(i)
        if (pairBytes == 2) out.putShort(pair.toShort) else out.putInt(pair)
      }
      out.array()
    } else {
      val out = ByteBuffer.allocate(denseBytes)
      words(buffer).foreach(out.putLong)
      out.array()
    }
  }

  override def deserialize(storage: Array[Byte]): Array[Byte] = {
    val in = ByteBuffer.wrap(storage)
    val regs = createAggregationBuffer()
    if (storage.length == denseBytes) {
      val w = Array.fill(numWords)(in.getLong())
      for (i <- 0 until m) regs(i) = (w(i / 10) >>> (6 * (i % 10)) & 63).toByte
    } else while (in.hasRemaining) {
      val pair = if (pairBytes == 2) in.getShort() & 0xffff else in.getInt()
      regs(pair >>> 6) = (pair & 63).toByte
    }
    regs
  }

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
