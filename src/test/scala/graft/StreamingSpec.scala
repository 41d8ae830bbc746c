package graft

import graft.streaming.Streams
import graft.streaming.Streams.Evt
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming pipelines driven through MemoryStream — proves the
  * watermark/window/session plumbing executes, not just compiles. */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("hourlyCounts: tumbling window aggregates a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Evt]
    mem.addData(
      Evt(1, ts(0), 100, "view", 1.0),
      Evt(2, ts(5), 100, "view", 2.0),
      Evt(3, ts(10), 101, "click", 3.0))
    val q = Streams.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select("event_type", "n_events").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows("view") == 2 && rows("click") == 1)
    } finally q.stop()
  }

  test("hourlyCounts: approx_users over three batches equals batch approx_count_distinct") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // three hours x two types; user ids (mod a prime) overlap across
    // batches, and the view groups pass the sketch's sparse-to-dense
    // crossover (208 registers at p = 9) in the second batch
    def batch(b: Int): Seq[Evt] = (0 until 900).map { i =>
      val n = b * 900 + i
      Evt(n, Timestamp.valueOf(f"2026-01-01 ${10 + n % 3}%02d:${n % 60}%02d:00"),
        (n * 7919L) % 1009, if (n % 5 == 0) "click" else "view", 1.0)
    }
    val mem = MemoryStream[Evt]
    val q = Streams.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly_hll")
      .outputMode("complete").start()
    try {
      (0 until 3).foreach { b => mem.addData(batch(b)); q.processAllAvailable() }
      val got = spark.table("hourly_hll")
        .select(col("window.start").as("h"), col("event_type"), col("approx_users"))
      val want = (0 until 3).flatMap(batch).toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .select(col("window.start").as("h"), col("event_type"), col("approx_users"))
      val rows = (df: org.apache.spark.sql.DataFrame) => df.collect().toSet
      assert(rows(got).size == 6)
      assert(rows(got) == rows(want))
      // ~400 users touch ~280 of the 512 registers: the dense form
      assert(rows(want).map(_.getLong(2)).max > 400L)
    } finally q.stop()
  }

  test("dedup: duplicate event_ids dropped within watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Evt]
    mem.addData(
      Evt(1, ts(0), 100, "view", 1.0),
      Evt(1, ts(0), 100, "view", 1.0),
      Evt(2, ts(1), 100, "view", 1.0))
    val q = Streams.dedup(mem.toDF())
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_t").count() == 2)
    } finally q.stop()
  }

  test("dedupNaturalKey: same-minute double fires collapse, distinct keys survive") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Evt]
    mem.addData(
      Evt(10, ts(0), 100, "view", 1.0),
      Evt(11, ts(0), 100, "view", 1.0),   // same user/type/minute: dropped
      Evt(12, ts(0), 100, "click", 1.0),  // different type: kept
      Evt(13, ts(1), 100, "view", 1.0))   // next minute: kept
    val q = Streams.dedupNaturalKey(mem.toDF())
      .writeStream.format("memory").queryName("dedup_nk")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_nk").count() == 3)
    } finally q.stop()
  }

  test("enrich: stream-static join attaches dimension columns per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Evt]
    mem.addData(
      Evt(1, ts(0), 100, "view", 1.0),
      Evt(2, ts(5), 999, "view", 2.0))   // no dim row -> left join null
    val dim = Seq((100L, "emea"), (101L, "apac")).toDF("user_id", "region")
    val q = Streams.enrich(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select("event_id", "region").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows(1L).contains("emea") && rows(2L).isEmpty)
    } finally q.stop()
  }

  test("attribution: stream-stream interval join matches touches in window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[Evt]
    val touches = MemoryStream[Evt]
    touches.addData(
      Evt(10, ts(0), 100, "click", 0.0),   // 30 min before -> in window
      Evt(11, ts(25), 100, "view", 0.0),   // 5 min before  -> in window
      Evt(12, ts(40), 101, "click", 0.0))  // other user
    purchases.addData(Evt(1, ts(30), 100, "purchase", 9.99))
    val q = Streams.attribution(purchases.toDF(), touches.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select("purchase_id", "touch_type").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSet == Set((1L, "click"), (1L, "view")))
    } finally q.stop()
  }

  test("sinkIncremental: streamed rollup table == batch recompute, incl. a late update") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sinc").toString
    val target = s"$dir/rollup"
    val mem = MemoryStream[Evt]
    def hts(hour: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")
    val writer = Streams.sinkIncremental(
      Streams.hourlyCounts(mem.toDF()), target, s"$dir/chk")
    val q = writer.start()
    try {
      // batch 1: two hours of data
      mem.addData(
        Evt(1, hts(10, 0), 100, "view", 1.0),
        Evt(2, hts(10, 30), 101, "view", 2.0),
        Evt(3, hts(11, 0), 100, "click", 3.0))
      q.processAllAvailable()
      // batch 2: new hour + a LATE event updating hour 10 (inside watermark)
      mem.addData(
        Evt(4, hts(12, 0), 102, "view", 4.0),
        Evt(5, hts(10, 45), 102, "view", 5.0))
      q.processAllAvailable()
      val streamed = spark.read.parquet(target)
        .select(col("hour_epoch"), col("event_type"), col("n_events"),
          col("total_value"))
      // the batch truth over the same five events
      val all = Seq(
        (hts(10, 0), "view", 1.0), (hts(10, 30), "view", 2.0),
        (hts(11, 0), "click", 3.0), (hts(12, 0), "view", 4.0),
        (hts(10, 45), "view", 5.0)).toDF("ts", "event_type", "value")
      val expected = all
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("total_value"))
        .select(col("window.start").cast("long").as("hour_epoch"),
          col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
      assert(streamed.exceptAll(expected).isEmpty
        && expected.exceptAll(streamed).isEmpty,
        s"streamed:\n${streamed.collect().mkString("\n")}\nexpected:\n${expected.collect().mkString("\n")}")
      // the late event REPLACED hour 10's view row (not appended beside it)
      assert(streamed.filter(col("event_type") === "view"
        && col("hour_epoch") === hts(10, 0).getTime / 1000).count() == 1)
    } finally q.stop()
  }

  test("statefulSessions: gap splits sessions via flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Evt]
    // two bursts 40 min apart -> first session closes when second arrives
    mem.addData(
      Evt(1, ts(0), 100, "view", 1.0),
      Evt(2, ts(5), 100, "click", 1.0))
    mem.addData(Evt(3, ts(45), 100, "view", 1.0))
    val q = Streams.statefulSessions(mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val closed = spark.table("sessions").collect()
      assert(closed.length == 1)            // first session emitted closed
      assert(closed.head.getAs[Long]("n_events") == 2)
    } finally q.stop()
  }

  test("annIngestSink: streamed vector batches land exactly once in the index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    val dir = "/tmp/graft-ann-ingest"
    rm(new java.io.File(dir))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ann_ingest_ckpt").toString
    extensions.AnnIndex.build(ctx, dir)
    val n = ctx.tbl("embeddings").count()
    val vecs = ctx.tbl("embeddings")
      .orderBy("vec_id").limit(60)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val mem = MemoryStream[(Long, Seq[Float])]
    // compactEvery = 1: batch 1 triggers the in-loop compact after its add
    val q = Streams.annIngestSink(
      mem.toDF().toDF("vec_id", "embedding"), dir, ckpt,
      compactEvery = 1, compactFiles = 2).start()
    try {
      mem.addData(vecs.take(30).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(vecs.drop(30).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    val pinned = Versioned.read(spark, s"$dir/meta").head()
    val coded = Versioned.read(spark, s"$dir/coded",
      Some(pinned.getAs[Long]("coded_v")))
    assert(coded.count() == n + 60,
      s"expected ${n + 60} coded vectors after two streamed batches")
    assert(pinned.getAs[Long]("batch_id") == 1L,
      "the ledger must carry the last folded stream batch (incl. across " +
        "the in-loop compact, which republishes meta)")
    assert(Versioned.readManifest(spark, s"$dir/coded").files.size <= 2,
      "the in-loop compact must have collapsed the ingest file sets")

    // the crash-replay path: redelivering an already-committed batch id is
    // a NO-OP (the ledger skip), never a duplicate and never a failure
    val replay = ctx.tbl("embeddings").orderBy("vec_id").limit(30)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
    Streams.annIngestBatch(replay, dir, batchId = 0L)
    val after = Versioned.read(spark, s"$dir/meta").head()
    assert(after.getAs[Long]("coded_v") == pinned.getAs[Long]("coded_v")
      && after.getAs[Long]("batch_id") == 1L,
      "replaying a committed batch must not publish a new generation")

    // a manual add AFTER streamed batches carries the ledger forward, so
    // replay protection survives interleaved maintenance
    val manual = ctx.tbl("embeddings").orderBy("vec_id").limit(5)
      .select((col("vec_id") + 10 * n).as("vec_id"), col("embedding"))
    extensions.AnnIndex.add(spark, dir, manual)
    assert(extensions.AnnIndex.lastIngestBatch(spark, dir) == 1L)
  }
}
