package graft

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The events readers neither read nor set the session time zone: on a
  * session in America/Los_Angeles, building `Ctx.normalizedEvents` and
  * `Streams.eventFileStream` leaves `spark.conf.getAll` as it was, and the
  * decoded `ts` and the stream's hourly windows equal a UTC session's. A
  * TIMESTAMP(NANOS) file is the one encoding that sets a session conf. */
class EventsTimeZoneSpec extends SparkSpec {
  private def dir = ctx.dir

  /** (window start in epoch micros, event_type, n_events, approx_users). */
  private def hourly(s: SparkSession, name: String,
      agg: DataFrame => DataFrame = Streams.hourlyCounts): Set[(Long, String, Long, Long)] = {
    val q = agg(Streams.eventFileStream(s, dir))
      .writeStream.format("memory").queryName(name).outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
      .select(unix_micros(col("window.start")), col("event_type"),
        col("n_events"), col("approx_users"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  test("normalizedEvents and eventFileStream on a non-UTC session") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val before = la.conf.getAll
    val laEvents = Ctx(la, dir).tbl("events")
    Streams.eventFileStream(la, dir)
    assert(la.conf.getAll == before)

    val ts = (df: org.apache.spark.sql.DataFrame) =>
      df.select("event_id", "ts").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val utc = ts(ctx.tbl("events"))
    assert(utc.nonEmpty && ts(laEvents) == utc)

    val utcHourly = hourly(spark, "tz_hourly_utc")
    assert(utcHourly.nonEmpty && hourly(la, "tz_hourly_la") == utcHourly)
  }

  test("hourlyCounts on an Asia/Kolkata session: UTC-equal windows, conf untouched") {
    val ist = spark.newSession()
    ist.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    val before = ist.conf.getAll
    val istHourly = hourly(ist, "tz_hourly_ist")
    assert(ist.conf.getAll == before)
    val utcHourly = hourly(spark, "tz_hourly_utc_ist")
    assert(utcHourly.nonEmpty && istHourly == utcHourly)
    // the pin has teeth: an hour key from date_trunc reads the session
    // zone, and a +05:30 zone starts its hours at :30 UTC
    val truncated = (e: DataFrame) => e
      .withWatermark("ts", "2 hours")
      .groupBy(struct(date_trunc("hour", col("ts")).as("start")).as("window"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), approx_count_distinct(col("user_id")).as("approx_users"))
    assert(hourly(ist, "tz_hourly_ist_trunc", truncated) != utcHourly)
  }

  test("a second eventFileStream on a session infers no schema: zero Spark jobs") {
    val s = spark.newSession()
    Streams.eventFileStream(s, dir)
    val n = org.apache.spark.JobCounter.during(s.sparkContext) {
      Streams.eventFileStream(s, dir); ()
    }
    assert(n == org.apache.spark.JobCounter.Count(jobs = 0, executions = 0),
      s"the second eventFileStream ran $n")
  }

  test("a TIMESTAMP(NANOS) ts sets nanosAsLong alone and reads as the nano count") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val nanosDir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false));
        |required int64 user_id; required binary event_type (STRING); required double value; }"""
        .stripMargin)
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$nanosDir/events.parquet")).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    val nanos = Seq(1700000000123456789L, 1700003600987654321L)
    nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 7L).append("event_type", "view").append("value", 1.0))
    }
    w.close()
    val s = spark.newSession()
    val before = s.conf.getAll
    val ts = Ctx(s, nanosDir).tbl("events").select("ts").collect().map(_.getLong(0)).toSeq
    assert(ts.sorted == nanos)
    assert(s.conf.getAll == before + ("spark.sql.legacy.parquet.nanosAsLong" -> "true"))
    val stream = Streams.eventFileStream(s, nanosDir)
    assert(stream.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }
}
