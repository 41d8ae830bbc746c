package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The sketch aggregates as STREAMING monitors: TypedImperativeAggregate
  * state lives in the streaming aggregation's state store, so a live
  * quantile / heavy-hitter / cardinality readout over an unbounded stream
  * is the same one-liner as in batch — the standard observability pattern
  * at event-stream scale (no raw-value retention, bounded state). */
class StreamingSketchSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.KllSketch.register(spark)
    graft.functions.FreqItemsSketch.register(spark)
    graft.functions.Hll.register(spark)
  }

  test("kll_sketch as a streaming quantile monitor (complete mode, multi-batch)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val agg = mem.toDF().selectExpr("CAST(value AS DOUBLE) AS v")
      .agg(expr("kll_sketch(v, 128)").as("s"))
      .select(col("s.n").as("n"), col("s.err").as("err"), col("s").as("s"))
    val q = agg.writeStream.format("memory").queryName("kllmon")
      .outputMode("complete").start()
    try {
      mem.addData(0L until 5000L: _*)
      q.processAllAvailable()
      mem.addData(5000L until 10000L: _*)
      q.processAllAvailable()
      val row = spark.table("kllmon").head()
      assert(row.getLong(0) == 10000L)
      val err = row.getLong(1)
      val median = graft.functions.KllSketch.quantile(row.getStruct(2), 0.5)
      // true median of 0..9999 is ~5000; the certificate bounds the rank
      // error, which for uniform data bounds the value error too
      assert(math.abs(median - 5000.0) <= err + 1,
        s"median=$median err=$err")
    } finally q.stop()
  }

  test("hll_approx_count_distinct as a streaming cardinality monitor equals the batch estimate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val agg = mem.toDF().agg(expr("hll_approx_count_distinct(value)").as("users"))
    val q = agg.writeStream.format("memory").queryName("hllmon")
      .outputMode("complete").start()
    // overlapping batches: 0..3999, then 2000..7999, then 0..99 again
    val batches = Seq(0L until 4000L, 2000L until 8000L, 0L until 100L)
    try {
      val readouts = batches.map { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
        spark.table("hllmon").head().getLong(0)
      }
      val batch = batches.scanLeft(Seq.empty[Long])(_ ++ _).tail.map(seen =>
        seen.toDF("v").agg(approx_count_distinct(col("v"))).head().getLong(0))
      assert(readouts == batch)
      assert(math.abs(readouts.last - 8000L) < 800L, readouts)
    } finally q.stop()
  }

  test("freq_items as a streaming heavy-hitter monitor keeps the guarantee across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val agg = mem.toDF()
      .selectExpr("CASE WHEN value % 10 = 0 THEN 'hot' ELSE CAST(value AS STRING) END AS v")
      .agg(expr("freq_items(v, 64)").as("f"))
      .selectExpr("inline(f)")
    val q = agg.writeStream.format("memory").queryName("fimon")
      .outputMode("complete").start()
    try {
      mem.addData(0L until 3000L: _*)
      q.processAllAvailable()
      mem.addData(3000L until 6000L: _*)
      q.processAllAvailable()
      val rows = spark.table("fimon").collect()
      val hot = rows.find(_.getString(0) == "hot")
      assert(hot.isDefined, "hot key missing from streaming sketch")
      // true count 600 of 6000 (10%), far above 2N/cap = 187: must be
      // tracked, and its bounds must bracket the true count
      assert(hot.get.getLong(1) <= 600 && 600 <= hot.get.getLong(2),
        s"bounds ${hot.get.getLong(1)}..${hot.get.getLong(2)}")
    } finally q.stop()
  }
}
