package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** KLL-style mergeable quantile sketch as a TypedImperativeAggregate — what
  * exact `percentile_cont` (a full sort of the group) becomes at 100 TB: a
  * bounded multi-level summary per partition, merged level-wise, never
  * shuffling raw values.
  *
  * Structure (Karnin-Lang-Liberty 2016, simplified to uniform level
  * capacity k): level i holds items of weight 2^i; a full level sorts and
  * keeps alternate items (deterministic alternating offset — reproducible
  * runs), promoting them to level i+1. Each such compaction perturbs any
  * rank by at most 2^i, and the sketch ACCUMULATES that bound in `err` —
  * so `err` is a certified worst-case rank error, not a probabilistic one.
  * That certificate is what [[graft.operators.ExactQuantile]] consumes to
  * turn the approximate sketch into an EXACT percentile in one more pass
  * (filter to the certified value window, order-statistic the small slice).
  *
  * eval returns struct<n, err, items: array<struct<v, w>>> (items sorted by
  * value) — the whole summary, ≤ k·levels entries, driver-readable.
  */
case class KllSketch(
    child: Expression,
    k: Int = 512,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketch.Buf] with UnaryLike[Expression] {

  import KllSketch.Buf

  override def createAggregationBuffer(): Buf = new Buf(ArrayBuffer(ArrayBuffer.empty), 0L, 0L)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      buf.n += 1
      buf.levels(0) += (v match {
        case d: Double => d
        case f: Float => f.toDouble
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case other => other.toString.toDouble
      })
      if (buf.levels(0).length > k) compact(buf, 0)
    }
    buf
  }

  /** Sort level i, keep alternate items promoted to level i+1. The kept
    * offset alternates per level-compaction (tracked in the buffer's
    * `flips` bitset) so successive compactions don't systematically bias
    * low or high; either choice shifts any rank by ≤ 2^i, which is added
    * to the certified error. */
  private def compact(buf: Buf, i: Int): Unit = {
    val lvl = buf.levels(i)
    val sorted = lvl.sortInPlace()
    if (buf.levels.length <= i + 1) buf.levels += ArrayBuffer.empty
    val offset = if (((buf.flips >> i) & 1L) == 0L) 0 else 1
    buf.flips ^= (1L << i)
    val up = buf.levels(i + 1)
    var j = offset
    while (j < sorted.length) { up += sorted(j); j += 2 }
    lvl.clear()
    buf.err += (1L << i)
    if (up.length > k) compact(buf, i + 1)
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    buf.n += other.n
    buf.err += other.err
    var i = 0
    while (i < other.levels.length) {
      if (buf.levels.length <= i) buf.levels += ArrayBuffer.empty
      buf.levels(i) ++= other.levels(i)
      i += 1
    }
    i = 0
    while (i < buf.levels.length) {
      if (buf.levels(i).length > k) compact(buf, i)
      i += 1
    }
    buf
  }

  override def eval(buf: Buf): Any = {
    val items = ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < buf.levels.length) {
      val w = 1L << i
      buf.levels(i).foreach(v => items += ((v, w)))
      i += 1
    }
    val sorted = items.sortBy(_._1)
    InternalRow(buf.n, buf.err,
      new GenericArrayData(sorted.map { case (v, w) => InternalRow(v, w) }.toArray))
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.n); out.writeLong(buf.err); out.writeLong(buf.flips)
    out.writeInt(buf.levels.length)
    buf.levels.foreach { lvl =>
      out.writeInt(lvl.length)
      lvl.foreach(out.writeDouble)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val n = in.readLong(); val err = in.readLong(); val flips = in.readLong()
    val nl = in.readInt()
    val levels = ArrayBuffer.fill(nl) {
      val len = in.readInt()
      val b = new ArrayBuffer[Double](len)
      var i = 0
      while (i < len) { b += in.readDouble(); i += 1 }
      b
    }
    val b = new Buf(levels, n, err)
    b.flips = flips
    b
  }

  override def dataType: DataType = KllSketch.summaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketch =
    copy(child = newChild)
}

object KllSketch {
  final class Buf(val levels: ArrayBuffer[ArrayBuffer[Double]], var n: Long, var err: Long) {
    var flips: Long = 0L
  }

  val summaryType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("err", LongType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("w", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  /** Smallest summary value whose cumulative weight reaches `rank` (0-based;
    * true rank of the returned value is within ±err of `rank`). */
  def valueAtRank(summary: Row, rank: Long): Double = {
    val items = summary.getSeq[Row](2)
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += items(i).getLong(1)
      if (cum > rank) return items(i).getDouble(0)
      i += 1
    }
    if (items.nonEmpty) items.last.getDouble(0) else Double.NaN
  }

  /** Approximate quantile q ∈ [0,1] straight from the summary. */
  def quantile(summary: Row, q: Double): Double = {
    val n = summary.getLong(0)
    valueAtRank(summary, math.min(n - 1, math.max(0L, math.round(q * (n - 1)))))
  }

  /** Register `kll_sketch(col[, k])` for SQL text / expr(...). Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "kll_sketch")(exprs => {
      val kk = exprs.lift(1) match {
        case Some(Literal(v: Int, IntegerType)) => v
        case Some(other) => other.eval(null).toString.toInt
        case None => 512
      }
      KllSketch(exprs.head, kk).toAggregateExpression()
    })
}
