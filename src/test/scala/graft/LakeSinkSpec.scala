package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streams.versionedSink — the streaming event-lake landing loop:
  * microbatches commit into the date-partitioned Versioned table, files
  * accrete, and the in-pipeline compaction collapses them back without
  * losing a row. */
class LakeSinkSpec extends SparkSpec {
  test("versionedSink: atomic batch commits, manifest-driven compaction, time travel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("v_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("v_sink_ck").toString
    val mem = MemoryStream[Long]
    val shaped = mem.toDF().select(
      col("value").as("event_id"),
      date_add(lit(java.sql.Date.valueOf("2024-06-01")),
        (col("value") % 3).cast("int")).as("dt"))
    val q = Streams.versionedSink(shaped, target, ckpt,
      compactEvery = 4, minFiles = 3).start()
    try {
      for (b <- 0 until 4) {
        mem.addData((b * 300L) until (b * 300L + 300L): _*)
        q.processAllAvailable()
      }
      // 4 committed versions, one per batch; each partition has 4 shards
      val m4 = Versioned.readManifest(spark, target)
      assert(m4.version == 3L)
      assert(m4.files.groupBy(_.part).values.forall(_.size >= 4))
      mem.addData(1200L until 1500L: _*)
      q.processAllAvailable() // batch 4 -> append commit + compaction commit
      val m = Versioned.readManifest(spark, target)
      assert(m.version == 5L, s"expected append+compaction commits, at v${m.version}")
      assert(m.files.groupBy(_.part).values.forall(_.size == 1),
        "compaction left fragmented partitions in the live manifest")
      val now = Versioned.read(spark, target)
      assert(now.count() == 1500)
      assert(now.select(countDistinct(col("event_id"))).head().getLong(0) == 1500)
      // the pre-compaction snapshot is still whole (time travel)
      assert(Versioned.read(spark, target, Some(3L)).count() == 1200)
    } finally q.stop()
  }

  test("versionedSink with sortCols: compaction bin-packs range-sorted files with tight spans") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("v_sink_sorted").toString
    val ckpt = java.nio.file.Files.createTempDirectory("v_sink_sorted_ck").toString
    val mem = MemoryStream[Long]
    val shaped = mem.toDF().select(
      col("value").as("event_id"),
      date_add(lit(java.sql.Date.valueOf("2024-06-01")),
        (col("value") % 3).cast("int")).as("dt"),
      (col("value") * 37 % 1000).as("user_id"))
    // a 2 KB target splits each date's ~5 accreted files into several;
    // the stream's session copies the conf at start
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "2048")
    val q = try Streams.versionedSink(shaped, target, ckpt, compactEvery = 4,
        minFiles = 3, sortCols = Seq("user_id")).start()
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      for (b <- 0 until 5) {
        mem.addData((b * 300L) until (b * 300L + 300L): _*)
        q.processAllAvailable() // batch 4 -> append commit + compaction commit
      }
      val m = Versioned.readManifest(spark, target)
      assert(m.version == 5L, s"expected append+compaction commits, at v${m.version}")
      val perDate = m.files.groupBy(_.part).values.map(_.size)
      assert(perDate.size == 3 && perDate.forall(_ > 1),
        s"expected bin-packed dates, got ${perDate.mkString(",")}")
      // each file covers a narrow slice of the [0, 1000) user_id domain
      val spans = m.files.map { f =>
        val r = spark.read.parquet(s"$target/${f.file}")
          .agg(min("user_id"), max("user_id")).head()
        r.getLong(1) - r.getLong(0)
      }
      assert(spans.forall(_ <= 1000L / 2), s"file spans not tight: ${spans.mkString(",")}")
      val now = Versioned.read(spark, target)
      assert(now.count() == 1500)
      assert(now.select(countDistinct(col("event_id"))).head().getLong(0) == 1500)
    } finally q.stop()
  }
}
