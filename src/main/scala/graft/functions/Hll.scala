package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** HyperLogLog approximate count-distinct as a TypedImperativeAggregate —
  * the custom-aggregate showcase of SURVEY §2.10 (a mergeable sketch is what
  * exact count-distinct becomes at 100 TB: one byte-array buffer per group,
  * map-side partial aggregation, no shuffle of the raw values).
  *
  * Classic dense HLL (Flajolet et al. 2007): p-bit register index from the
  * top of a 64-bit hash, rank = leading-zero count of the remainder, merge =
  * register-wise max (associative + commutative, so the estimate is
  * partition-order invariant — proven in HllSpec), with the standard
  * linear-counting small-range correction. p=12 → 4096 one-byte registers,
  * ~1.6% relative standard error.
  *
  * Spark's own approx_count_distinct is the production choice; this exists
  * as the from-scratch custom-aggregate exemplar (buffer lifecycle,
  * serialize/merge contract) and is deliberately outside the DuckDB-oracle
  * surface (sketches have no cross-engine twin) — unit-tested instead.
  */
case class HyperLogLog(
    child: Expression,
    precision: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  private val m = 1 << precision
  private val alphaM2: Double =
    (0.7213 / (1.0 + 1.079 / m)) * m.toDouble * m.toDouble

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = XxHash64Function.hash(v, child.dataType, 42L)
      val idx = (h >>> (64 - precision)).toInt
      val w = h << precision
      val rank =
        if (w == 0L) (64 - precision + 1)
        else java.lang.Long.numberOfLeadingZeros(w) + 1
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

  override def eval(buffer: Array[Byte]): Any = {
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      invSum += java.lang.Math.scalb(1.0, -buffer(i))
      if (buffer(i) == 0) zeros += 1
      i += 1
    }
    val raw = alphaM2 / invSum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

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
  /** Register `hll_approx_count_distinct(col)` for SQL text / expr(...).
    * Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "hll_approx_count_distinct")(exprs =>
      HyperLogLog(exprs.head).toAggregateExpression())
}
