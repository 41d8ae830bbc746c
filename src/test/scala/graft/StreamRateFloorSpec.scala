package graft

import org.apache.spark.sql.functions._

/** Streaming throughput floor — the bench contract's events/s leg asserted
  * as a test so a throughput regression (e.g. an interpreted per-row path
  * slipping into the hot aggregation) fails loudly instead of silently
  * shipping in a bench artifact. The floor is ~15-30× below the clean rate
  * on this hardware (local[4]: >15k events/s; the worst stall-contaminated
  * official run still measured 12k at local[32]), so only a real regression
  * or a dead host trips it. */
class StreamRateFloorSpec extends SparkSpec {
  test("file-replay hourly aggregation sustains >= 1000 events/s") {
    val sfDir = "/root/testdata/sf0.1"
    val src = streaming.Streams.eventFileStream(spark, sfDir)
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val t0 = System.nanoTime()
    val q = streaming.Streams.hourlyCounts(src).writeStream
      .format("noop").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rate = nEvents / ((System.nanoTime() - t0) / 1e9)
    assert(rate >= 1000.0,
      f"streaming throughput regressed: $rate%.0f events/s over $nEvents rows")
  }
}
