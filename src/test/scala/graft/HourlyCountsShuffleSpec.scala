package graft

import graft.streaming.Streams
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** What the sparse sketch buys the stream: an AvailableNow replay of the
  * sf0.01 events through `Streams.hourlyCounts` writes fewer shuffle bytes
  * than the same aggregation with Spark's dense `approx_count_distinct`
  * buffer, with the same shuffle records and the same output rows. */
class HourlyCountsShuffleSpec extends SparkSpec {

  /** `Streams.hourlyCounts` with `approx_count_distinct` for its sketch. */
  private def denseHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        sum(col("value").cast("decimal(18,6)")).as("total_value"))

  /** Shuffle (bytes, records) of one replay, and its output rows. */
  private def replay(agg: DataFrame => DataFrame, name: String): ((Long, Long), Set[Row]) = {
    val written = JobCounter.shuffleWrites(spark.sparkContext) {
      val sf001 = new java.io.File(new java.io.File(ctx.dir).getParent, "sf0.01").getPath
      val q = agg(Streams.eventFileStream(spark, sf001))
        .writeStream.format("memory").queryName(name).outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    (written, spark.table(name).collect().toSet)
  }

  test("hourlyCounts shuffles fewer bytes than approx_count_distinct, same records and rows") {
    val ((sparseBytes, sparseRecords), sparseRows) = replay(Streams.hourlyCounts, "hourly_sparse")
    val ((denseBytes, denseRecords), denseRows) = replay(denseHourly, "hourly_dense")
    assert(sparseRecords == denseRecords && sparseRecords > 0)
    assert(sparseBytes < denseBytes, s"sparse $sparseBytes B, dense $denseBytes B")
    assert(sparseRows.nonEmpty && sparseRows == denseRows)
  }
}
