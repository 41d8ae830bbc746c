package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries / Space-Saving frequent-items sketch as a
  * TypedImperativeAggregate — the heavy-hitter primitive a 100 TB corpus
  * needs: one bounded map per partition, map-side partial aggregation, and a
  * merge that never ships raw values. The exact alternative (groupBy over
  * every distinct token) shuffles the full term dictionary — billions of
  * keys on a web corpus — to answer a question about only the top handful.
  *
  * Algorithm (Misra-Gries 1982 with the amortized median purge of Apache
  * DataSketches' frequent-items, and the mergeable-summaries merge rule of
  * Agarwal et al., PODS 2012):
  *  - update: tracked item → +1; untracked with room → insert at 1;
  *    untracked and full → purge (subtract the median stored weight from
  *    every entry, drop the non-positive ones — removes ≥ half the map, so
  *    purges amortize to O(1) per update), then insert.
  *  - merge: add the two maps entrywise, add the two decrement offsets; if
  *    over capacity, subtract the (capacity+1)-th largest weight and drop
  *    non-positives (the PODS-12 rule that keeps MG summaries mergeable
  *    with no error-bound loss).
  *  - `offset` accumulates every subtracted weight. Invariants:
  *    stored(x) ≤ true(x) ≤ stored(x) + offset, and absent(x) ⇒
  *    true(x) ≤ offset, with offset ≤ 2N/capacity. So any item with true
  *    frequency above 2N/capacity is GUARANTEED present — the sketch is a
  *    sound candidate generator for an exact threshold query (see
  *    Text.heavyHitters: sketch pass → exact recount of candidates only).
  *
  * eval returns array<struct<item, count_lb, count_ub>> sorted by
  * (count_lb desc, item) — deterministic regardless of partitioning
  * (proven order-invariant in FreqItemsSpec).
  */
case class FreqItemsSketch(
    child: Expression,
    capacity: Int = 4096,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqItemsSketch.Buf] with UnaryLike[Expression] {

  import FreqItemsSketch.Buf

  override def createAggregationBuffer(): Buf = new Buf(new java.util.HashMap, 0L)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString // detach from UTF8String's reused backing buffer
      val cur = buf.map.get(s)
      if (cur != null) buf.map.put(s, cur + 1L)
      else {
        if (buf.map.size >= capacity) purgeMedian(buf)
        buf.map.put(s, 1L)
      }
    }
    buf
  }

  /** Subtract the median weight, drop entries ≤ 0 (≥ half the map). */
  private def purgeMedian(buf: Buf): Unit = {
    val vals = new Array[Long](buf.map.size)
    var i = 0
    val it = buf.map.values.iterator
    while (it.hasNext) { vals(i) = it.next(); i += 1 }
    java.util.Arrays.sort(vals)
    val m = math.max(1L, vals(vals.length / 2))
    subtractAndDrop(buf, m)
  }

  private def subtractAndDrop(buf: Buf, m: Long): Unit = {
    val it = buf.map.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - m
      if (nv <= 0L) it.remove() else e.setValue(nv)
    }
    buf.offset += m
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    val it = other.map.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val cur = buf.map.get(e.getKey)
      buf.map.put(e.getKey, if (cur == null) e.getValue else cur + e.getValue)
    }
    buf.offset += other.offset
    if (buf.map.size > capacity) {
      // PODS-12 rule: subtract the (capacity+1)-th largest weight
      val vals = new Array[Long](buf.map.size)
      var i = 0
      val vit = buf.map.values.iterator
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      subtractAndDrop(buf, vals(vals.length - capacity - 1))
    }
    buf
  }

  override def eval(buf: Buf): Any = {
    val entries = new Array[(String, Long)](buf.map.size)
    var i = 0
    val it = buf.map.entrySet.iterator
    while (it.hasNext) { val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1 }
    val sorted = entries.sortBy { case (item, lb) => (-lb, item) }
    new GenericArrayData(sorted.map { case (item, lb) =>
      InternalRow(UTF8String.fromString(item), lb, lb + buf.offset)
    })
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.offset)
    out.writeInt(buf.map.size)
    val it = buf.map.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      // length-prefixed raw UTF-8, NOT writeUTF: writeUTF throws past
      // 64 KB and a web corpus will hand the tokenizer an unbroken
      // base64/minified-JS "token" far larger than that
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val offset = in.readLong()
    val n = in.readInt()
    val m = new java.util.HashMap[String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      m.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    new Buf(m, offset)
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count_lb", LongType, nullable = false),
    StructField("count_ub", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "freq_items"

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqItemsSketch =
    copy(child = newChild)
}

object FreqItemsSketch {
  /** Aggregation state: item → lower-bound weight, plus the total decrement
    * offset (the error bound: true ∈ [stored, stored + offset]). */
  final class Buf(val map: java.util.HashMap[String, java.lang.Long], var offset: Long)

  /** Register `freq_items(col[, capacity])` for SQL text / expr(...).
    * Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "freq_items")(exprs => {
      val cap = exprs.lift(1) match {
        case Some(Literal(v: Int, IntegerType)) => v
        case Some(other) => other.eval(null).toString.toInt
        case None => 4096
      }
      FreqItemsSketch(exprs.head, cap).toAggregateExpression()
    })
}
