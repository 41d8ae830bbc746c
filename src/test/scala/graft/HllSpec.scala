package graft

import graft.functions.{Hll, HyperLogLog}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The sparse HyperLogLog++ aggregate: every estimate equals Spark's
  * `approx_count_distinct` of the same column at the same relativeSD —
  * across types (float normalization included), nulls and empty groups,
  * the sparse-to-dense crossover of its serialized form, large
  * cardinalities, other precisions and partitionings — and its serialized
  * buffer round-trips and is never larger than the packed registers. */
class HllSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    Hll.register(spark)
  }

  /** Per group `g`: (g, hll_approx_count_distinct(v), approx_count_distinct(v)),
    * with `args` after `v` in both calls. */
  private def both(df: DataFrame, args: String = ""): Array[Row] =
    df.groupBy("g").agg(
        expr(s"hll_approx_count_distinct(v$args)").as("h"),
        expr(s"approx_count_distinct(v$args)").as("a"))
      .collect()

  private def assertSame(rows: Array[Row]): Unit = {
    assert(rows.nonEmpty)
    val diff = rows.filter(r => r.getLong(1) != r.getLong(2))
    assert(diff.isEmpty, diff.take(10).mkString(", "))
  }

  /** Groups 1..n where group k holds the k distinct values base + 0..k-1. */
  private def sizes(n: Int, base: Long = 0L): DataFrame =
    spark.range(1, n + 1).select(col("id").as("g"),
      explode(sequence(lit(base + 1), col("id") + lit(base))).as("v"))

  test("cardinality 10^5 equals approx_count_distinct") {
    val rows = both(spark.range(300000)
      .select(lit(0).as("g"), pmod(col("id") * 7919, lit(100000L)).as("v")))
    assertSame(rows)
    assert(math.abs(rows.head.getLong(1) - 100000L) < 10000L)
  }

  test("small-range linear counting is near-exact") {
    assertSame(both(spark.range(50).select(lit(0).as("g"), col("id").as("v"))))
  }

  test("sparse-to-dense crossover: groups of 1 to 400 longs and strings") {
    // at p = 9 a buffer stays sparse below 208 touched registers, so these
    // groups serialize in both forms and merge across the crossover
    val longs = sizes(400).repartition(4)
    assertSame(both(longs))
    assertSame(both(longs.select(col("g"), concat(lit("u"), col("v")).as("v"))))
  }

  test("partition-order invariant: 1 vs 16 partitions give the same estimate") {
    val base = spark.range(100000).select(lit(0).as("g"),
      pmod(col("id") * 7919, lit(33333L)).as("v"))
    val e1 = both(base.repartition(1))
    val e16 = both(base.repartition(16, col("v")))
    assertSame(e1)
    assertSame(e16)
    assert(e1.head.getLong(1) == e16.head.getLong(1))
  }

  test("grouped aggregation and strings; nulls are skipped") {
    val df = spark.range(30000).select(
      pmod(col("id"), lit(3L)).as("g"),
      when(col("id") % 100 === 0, lit(null))
        .otherwise(concat(lit("v"), pmod(col("id"), lit(1000L)))).as("v"))
    val rows = both(df)
    assert(rows.length == 3)
    assertSame(rows)
  }

  test("doubles and floats: -0.0, 0.0 and NaNs normalize as in Spark") {
    import spark.implicits._
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val vals = Seq(0.0, -0.0, Double.NaN, nan2, 1.5, -1.5) ++ (1 to 300).map(_ / 7.0)
    val ds = vals.zipWithIndex.flatMap { case (v, i) =>
      Seq((0, Option(v)), (1 + i % 3, Option(v)), (4, Option.empty[Double]))
    }.toDF("g", "v")
    assertSame(both(ds))
    assertSame(both(ds.select(col("g"), col("v").cast("float").as("v"))))
    // the two zeros and the two NaNs count once each
    val few = both(Seq((0, 0.0), (0, -0.0), (0, Double.NaN), (0, nan2)).toDF("g", "v"))
    assertSame(few)
    assert(few.head.getLong(1) == 2L)
  }

  test("empty input and all-null groups give 0") {
    val empty = spark.range(0).select(col("id").as("v"))
      .agg(expr("hll_approx_count_distinct(v)"), expr("approx_count_distinct(v)"))
      .head()
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L)
    val nulls = both(spark.range(10).select(pmod(col("id"), lit(2L)).as("g"),
      lit(null).cast("string").as("v")))
    assertSame(nulls)
    assert(nulls.forall(_.getLong(1) == 0L))
  }

  test("relativeSD 0.01 and 0.1 equal approx_count_distinct at the same precision") {
    // p = 14 (4-byte sparse pairs) and p = 7
    Seq("0.01", "0.1").foreach { rsd =>
      assertSame(both(sizes(120, base = 1000L).union(
        spark.range(60000).select(lit(0L).as("g"), col("id").as("v"))), s", $rsd"))
    }
  }

  /** A buffer after `values` updates, through the aggregate's own calls. */
  private def buffer(h: HyperLogLog, values: Iterator[Long]): Array[Byte] =
    values.foldLeft(h.createAggregationBuffer())((b, v) => h.update(b, InternalRow(v)))

  test("serialize/deserialize round trip; never larger than the packed registers") {
    Seq(0.05, 0.01, 0.1).foreach { rsd =>
      val h = HyperLogLog(BoundReference(0, LongType, nullable = true), rsd)
      val words = new HyperLogLogPlusPlusHelper(rsd).numWords
      assert(h.denseBytes == words * 8)
      var seen = Set.empty[Int]
      Seq(0, 1, 2, 50, 150, 200, 210, 230, 300, 1000, 5000, 100000).foreach { n =>
        val b = buffer(h, Iterator.range(0, n).map(i => i * 104729L + n))
        val bytes = h.serialize(b)
        assert(bytes.length <= h.denseBytes, s"rsd=$rsd n=$n: ${bytes.length} B")
        seen += (if (bytes.length == h.denseBytes) 1 else 0)
        assert(h.deserialize(bytes).sameElements(b), s"rsd=$rsd n=$n")
        assert(h.eval(h.deserialize(bytes)) == h.eval(b))
      }
      assert(seen == Set(0, 1), s"rsd=$rsd: both forms are written")
    }
  }
}
