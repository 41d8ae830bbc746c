package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** dbt `source freshness` twin.
  *
  * The reference declares per-source `event_time` metadata
  * (models/_source/source_tpch.yml:11-16: `orders.o_orderdate`,
  * `lineitem.l_shipdate`) that no model consumes — dbt uses it for the
  * `dbt source freshness` staleness check. This is the engine's
  * counterpart: one small plan that reports, per declared source, the
  * event-time watermark and a deterministic staleness grade relative to
  * the freshest source in the lake. Grading against the corpus watermark
  * instead of wall-clock keeps the check reproducible on archival data
  * (and testable — `now()` would make every TPC-H date an error).
  *
  * Scale posture: each leg is a column-pruned count/min/max aggregate —
  * map-side partial agg, one shuffle emitting a single row per source;
  * the union and the grading window then run on #sources rows. At 100 TB
  * this reads only the event-time column of each source (statistics-only
  * scan when parquet footers carry min/max).
  *
  * Event-time encoding is schema-adaptive per column, like the events
  * loader ([[Ctx.normalizedEvents]]): DATE, TIMESTAMP, TIMESTAMP_NTZ (as UTC
  * wall-clock, in no session time zone: [[Ctx.ntzMicros]]),
  * and the engine's normalized epoch-nanos BIGINT all reduce to epoch
  * seconds here, so testdata drift cannot kill the check.
  */
object Freshness {

  /** dbt `warn_after` / `error_after` twins, in days behind the corpus
    * event-time watermark. */
  val WarnAfterDays = 30L
  val ErrorAfterDays = 90L

  /** source table -> event_time column (source_tpch.yml:11-16, plus the
    * events stream — its watermark column in [[streaming.Streams]]). */
  val eventTimeFields: Seq[(String, String)] = Seq(
    "events"   -> "ts",
    "lineitem" -> "l_shipdate",
    "orders"   -> "o_orderdate")

  /** One row per declared source: row count, event-time span, lag behind
    * the freshest source, and a fresh/warn/error grade. */
  def report(ctx: Ctx): DataFrame = {
    val legs = eventTimeFields.map { case (table, field) =>
      val df = ctx.tbl(table)
      val epochS: Column = df.schema(field).dataType match {
        case LongType => expr(s"$field div 1000000000") // normalized epoch-nanos
        case DateType => unix_date(col(field)).cast("long") * lit(86400L)
        case TimestampType => unix_seconds(col(field))
        case TimestampNTZType => unix_seconds(timestamp_micros(Ctx.ntzMicros(field)))
        case other =>
          sys.error(s"$table.$field: unsupported event_time type $other")
      }
      df.agg(
          count(lit(1)).as("n_rows"),
          min(epochS).cast("long").as("min_event_s"),
          max(epochS).cast("long").as("max_event_s"))
        .select(lit(table).as("source_table"), lit(field).as("event_time_col"),
          col("n_rows"), col("min_event_s"), col("max_event_s"))
    }
    // grading window: #sources rows total, single partition is the point
    val w = Window.partitionBy(lit(1))
    legs.reduce(_ unionAll _)
      .withColumn("span_days",
        ((col("max_event_s") - col("min_event_s")) / lit(86400L)).cast("long"))
      .withColumn("lag_days",
        ((max(col("max_event_s")).over(w) - col("max_event_s")) / lit(86400L))
          .cast("long"))
      .withColumn("freshness_status",
        when(col("lag_days") <= WarnAfterDays, "fresh")
          .when(col("lag_days") <= ErrorAfterDays, "warn")
          .otherwise("error"))
      .orderBy("source_table")
  }
}
