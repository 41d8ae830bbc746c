package graft

import graft.streaming.Streams
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DataType

/** What the packed buffer buys the stream: an AvailableNow replay of the
  * sf0.01 events through `Streams.hourlyCounts` writes at most three
  * quarters of the shuffle bytes of the window-keyed form with separate
  * count, sketch and sum slots ([[HourlyCountsSpec.reference]]), with the
  * same shuffle records, the same output rows and the same output columns.
  * The sparse sketch's pairs are in both forms: at about three events a
  * group here they are a large part of each row (83,044 B against
  * 120,128 B, 69%). */
class HourlyCountsShuffleSpec extends SparkSpec {

  /** Shuffle (bytes, records) of one replay, its output rows and its
    * output columns' names and types. */
  private def replay(agg: DataFrame => DataFrame, name: String)
      : ((Long, Long), Set[Row], Seq[(String, DataType)]) = {
    val sf001 = new java.io.File(new java.io.File(ctx.dir).getParent, "sf0.01").getPath
    val out = agg(Streams.eventFileStream(spark, sf001))
    val written = JobCounter.shuffleWrites(spark.sparkContext) {
      val q = out.writeStream.format("memory").queryName(name).outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    (written, spark.table(name).collect().toSet, out.schema.map(f => f.name -> f.dataType))
  }

  test("hourlyCounts shuffles at most 3/4 of the window-keyed form's bytes, same records and rows") {
    val ((bytes, records), rows, columns) = replay(Streams.hourlyCounts, "hourly_packed")
    val ((refBytes, refRecords), refRows, refColumns) =
      replay(HourlyCountsSpec.reference, "hourly_reference")
    assert(records == refRecords && records > 0)
    assert(rows.nonEmpty && rows == refRows)
    assert(columns == refColumns)
    assert(bytes * 4 <= refBytes * 3, s"packed $bytes B, reference $refBytes B")
  }
}
