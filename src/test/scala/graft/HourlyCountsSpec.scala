package graft

import graft.streaming.Streams
import graft.streaming.Streams.Evt
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

object HourlyCountsSpec {
  /** The hourly rollup in its earlier form: a 2-hour watermark on `ts`,
    * grouped by the window struct, with the count, the sparse sketch and
    * the sum in separate buffer slots. `Streams.hourlyCounts` must give
    * its rows, drops and state. */
  def reference(events: DataFrame): DataFrame = {
    functions.Hll.register(events.sparkSession)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("hll_approx_count_distinct(user_id)").as("approx_users"),
        sum(col("value").cast("decimal(18,6)")).as("total_value"))
  }
}

/** The hour-keyed rollup drops, evicts and emits exactly what the
  * window-keyed reference does: over four MemoryStream batches with late
  * events just inside and just beyond `window end + 2h` and one in an
  * already-evicted hour, each step's update-mode rows, its
  * `numRowsDroppedByWatermark` and the state's `numRowsTotal` are equal. */
class HourlyCountsSpec extends SparkSpec {

  private def at(hms: String): Timestamp =
    Timestamp.from(java.time.Instant.parse(s"2026-01-01T${hms}Z"))

  /** Per step: (rows emitted, rows dropped by the watermark, state rows). */
  private def steps(agg: DataFrame => DataFrame, name: String,
      batches: Seq[Seq[Evt]]): Seq[(Set[Row], Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Evt]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q = agg(mem.toDF()).writeStream.queryName(name).outputMode("update")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(emitted.add); ()
      }.start()
    try {
      var seen = -1L
      batches.map { evts =>
        emitted.clear()
        mem.addData(evts)
        q.processAllAvailable()
        val progress = q.recentProgress.filter(_.batchId > seen)
        seen = progress.map(_.batchId).max
        val dropped = progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
        val total = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        (emitted.toArray(Array.empty[Row]).toSet, dropped, total)
      }
    } finally q.stop()
  }

  test("watermark equivalence with the window-keyed form over four batches") {
    var id = 0L
    def e(hms: String, user: Long, tpe: String, v: Double): Evt = {
      id += 1
      Evt(id, at(hms), user, tpe, v)
    }
    val batches = Seq(
      // max ts 12:59:59: the window watermark becomes 10:59:59, the hour
      // one 09:00; the 09:00 hour is evicted either way
      Seq(e("09:10:00", 1, "view", 1.5), e("10:05:00", 1, "view", 2.25),
        e("10:30:00", 2, "view", 0.125), e("11:10:00", 1, "click", 3.0),
        e("12:59:59", 3, "view", 10.0)),
      // 10:45 is one second inside (its end + 2h is 13:00); 09:59:59 lands
      // in the evicted 09:00 hour; 13:00:00 moves the watermarks to 11:00
      // and 10:00
      Seq(e("10:45:00", 4, "view", 4.0), e("09:59:59", 2, "click", 1.0),
        e("13:00:00", 5, "view", 0.5), e("11:20:00", 2, "click", 7.75)),
      // 10:50 is exactly at the bound (end + 2h = the max ts): dropped;
      // 11:00:00 opens the 11:00 hour's first second: kept; 15:30 moves
      // the watermarks to 13:30 and 12:00, evicting 10:00 to 12:00
      Seq(e("10:50:00", 6, "view", 1.0), e("11:00:00", 3, "click", 2.0),
        e("15:30:00", 1, "purchase", 99.99), e("12:10:00", 7, "view", 0.0)),
      // 12:59 falls in the evicted 12:00 hour, 13:10 is kept
      Seq(e("12:59:00", 8, "view", 5.0), e("13:10:00", 8, "view", 6.0),
        e("15:45:00", 2, "purchase", 19.5)))
    val got = steps(Streams.hourlyCounts, "hourly_new", batches)
    val want = steps(HourlyCountsSpec.reference, "hourly_ref", batches)
    assert(got == want)
    // the cases above happened: late rows were dropped and state evicted
    assert(want.map(_._2).sum >= 3, want)
    assert(want.last._3 < want.flatMap(_._1).map(r => (r.get(0), r.get(1))).distinct.size)
  }
}
