package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** K-permutation MinHash signature as a TypedImperativeAggregate — the
  * mergeable set-similarity sketch (Broder 1997) complementing the HLL
  * cardinality sketch in [[HyperLogLog]].
  *
  * Buffer = k 64-bit slot minima; slot i tracks min over the group of
  * xxhash64(value, seed_i) where seed_i is a splitmix64-spaced constant —
  * k independent permutations of the value universe. Update is O(k) per
  * row, merge is elementwise min (associative + commutative ⇒ partition-
  * order invariant, proven in MinHashSpec), so Jaccard between two GROUPS
  * of values costs one fixed-size sketch per group instead of a postings
  * self-join over their full inventories — the 100 TB replacement for the
  * exact `source_similarity` query, with E[matching slots / k] = J(A, B)
  * and standard error sqrt(J(1-J)/k) (~6% of a coin flip at k=64).
  *
  * Deliberately outside the DuckDB-oracle surface (sketches have no
  * cross-engine twin); the estimate is validated against the exact-Jaccard
  * query instead. Empty-group sketches keep Long.MaxValue sentinels: two
  * NON-empty groups only ever agree on values at least one of them hashed,
  * but two EMPTY groups agree on every sentinel slot — so the estimate
  * must exclude sentinel slots (see [[MinHash.register]]'s recommended
  * expression), which also defines J(∅, ∅) = 0 instead of a spurious 1.0.
  */
case class MinHashSketch(
    child: Expression,
    k: Int = 64,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      var i = 0
      while (i < k) {
        // splitmix64 increment spaces the per-slot seeds; any fixed distinct
        // seeds work, but correlated seeds (0,1,2,...) measurably correlate
        // slot agreements and bias the estimate
        val h = XxHash64Function.hash(v, child.dataType,
          0x9E3779B97F4A7C15L * (i + 1) + 42L)
        if (h < buffer(i)) buffer(i) = h
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) {
      if (other(i) < buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(k * 8)
    var i = 0
    while (i < k) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(storage: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(storage)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSketch =
    copy(child = newChild)
}

object MinHash {
  /** A slot still holding Long.MaxValue means its group hashed no values. */
  val EmptySlot: Long = Long.MaxValue

  /** Register `minhash_sketch(col)` for SQL text / expr(...). The Jaccard
    * estimate between two sketches is plain SQL over the arrays — with the
    * empty-group sentinel excluded from matches so all-sentinel (empty)
    * sketches estimate J = 0, not 1:
    * `size(filter(zip_with(a, b, (x, y) -> x = y AND x != ${EmptySlot}),
    *   p -> p)) / size(a)`.
    * Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "minhash_sketch")(exprs =>
      MinHashSketch(exprs.head).toAggregateExpression())
}
