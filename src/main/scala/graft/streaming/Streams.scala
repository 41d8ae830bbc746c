package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import java.sql.Timestamp

/** Structured Streaming surface over event streams — strictly additive to
  * the reference (which is batch-only; its source YAML carries event_time
  * metadata on lineitem/orders, models/_source/source_tpch.yml:11-16, which
  * maps to the watermark columns here).
  *
  * Each pipeline takes the streaming DataFrame (from readStream — file
  * source, Kafka, or MemoryStream in tests) and returns the transformed
  * streaming DataFrame; the batch twins in graft.extensions.Events compute
  * the same results for the driver's oracle. Tested via MemoryStream in
  * StreamingSpec.
  */
object Streams {

  /** File-replay source over the testdata events parquet, normalized to the
    * schema every pipeline here expects: `ts` TIMESTAMP plus (user_id,
    * event_type, value). Schema-adaptive the same way [[graft.Ctx.tbl]] is
    * for the batch side — a raw nano count becomes `timestamp_micros(ns div
    * 1000)`, a TIMESTAMP_NTZ `timestamp_micros` of its zone-free epoch
    * micros ([[graft.Ctx.ntzMicros]]) — so a testdata re-generation can
    * change the parquet encoding without touching any stream consumer
    * (Bench's throughput leg, StreamRateFloorSpec). The session's time zone
    * is neither read nor set. The NANOS encoding alone needs the session
    * setting `nanosAsLong`: Spark 4.1's ParquetOptions has no per-read form
    * of it ([[graft.Ctx.readEvents]]). The schema is the session's cached
    * one, so only a session's first stream over a file runs a footer job. */
  def eventFileStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = graft.Ctx.readEvents(spark, s"$sfDir/events.parquet").schema
    val tsCol = schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => timestamp_micros(graft.Ctx.ntzMicros("ts"))
      case _ => col("ts").cast("timestamp")
    }
    // the file stream source needs a directory: glob-filter the sf dir
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
      .select(tsCol.as("ts"), col("user_id"), col("event_type"), col("value"))
  }

  /** Tumbling 1-hour counts per event type: (window, event_type,
    * n_events, approx_users, total_value), the rows of a groupBy over
    * `window(ts, "1 hour")` with a 2-hour watermark on `ts`, whose sum is
    * decimal(28,6) and whose `approx_users` is `approx_count_distinct`'s
    * value (HourlyCountsSpec keeps that form as its reference).
    *
    * Each group shuffles and keeps one (hour, event_type, buffer) row.
    * `hour` is `window(ts, "1 hour").start`, which is epoch-aligned and
    * reads no time zone (`date_trunc` would read the session zone and move
    * the hours of a +05:30 zone). The three aggregates are one
    * [[graft.functions.HourlyRollup]], whose buffer packs the count, the
    * exact sum and the sparse sketch's registers into one 8-byte word for a
    * one-event group; `window` is rebuilt from `hour` after the aggregate,
    * as `window(hour, "1 hour")`: (hour, hour + 1h) for an aligned hour.
    *
    * The watermark is 3 hours on `hour`: a group is dropped or evicted when
    * start <= floor_hour(max ts) - 3h. A 2-hour watermark on `ts` against
    * the window end drops and evicts when start + 1h <= max ts - 2h, and
    * because start + 3h falls on an hour boundary the two conditions are
    * the same: the same late events are dropped and the same state is
    * evicted. Only the reported watermark is 1 to 2 hours earlier.
    *
    * The state schema (one binary buffer keyed by the hour) cannot resume a
    * checkpoint written by the window-keyed form, which kept the window
    * struct, the count, the sketch and the sum in separate slots. */
  def hourlyCounts(events: DataFrame): DataFrame = {
    graft.functions.HourlyRollup.register(events.sparkSession)
    val hour = col("hour")
    events
      .select(window(col("ts"), "1 hour").getField("start").as("hour"),
        col("event_type"), col("user_id"), col("value"))
      .withWatermark("hour", "3 hours")
      .groupBy(hour, col("event_type"))
      .agg(expr("hourly_rollup(user_id, cast(value AS decimal(18,6)))").as("r"))
      .select(
        // (hour, hour + 1h), typed as the window function types it: a
        // struct(hour AS start, ...) would carry hour's watermark marker
        window(hour, "1 hour").as("window"),
        col("event_type"), col("r.n_events"), col("r.approx_users"), col("r.total_value"))
  }

  /** Exactly-once style stream dedup on event_id within the watermark. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id", "ts")

  /** Natural-key double-fire suppression — the streaming twin of
    * extensions.Events.dedupEvents: same-user same-type events inside one
    * minute collapse to the first arrival. dropDuplicatesWithinWatermark
    * (not dropDuplicates) so a key's dedup state is EVICTED once the
    * watermark passes it: without an exactly-once event id the key space
    * is unbounded and plain dropDuplicates state would grow forever. */
  def dedupNaturalKey(events: DataFrame): DataFrame =
    events
      .withColumn("minute_start", date_trunc("minute", col("ts")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute_start")

  /** Stream-static enrichment: join the event stream against a static
    * dimension (users/customers) — the static side is planned per
    * micro-batch, broadcast when small, and needs no watermark (no state
    * accumulates on a static side). The canonical "attach dimensions to a
    * clickstream" shape. */
  def enrich(events: DataFrame, dim: DataFrame, key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream attribution join — the streaming twin of the batch as-of
    * operator (graft.plans.AsOfJoin): each purchase is matched to the touch
    * events of the same user in the preceding hour. Both sides are
    * watermarked and the join condition is time-bounded on BOTH ends, so
    * Spark can evict buffered state once the watermark passes the bound
    * (unbounded state otherwise). Left outer: an un-attributed purchase
    * still flows through, with nulls, once the watermark closes its window. */
  def attribution(purchases: DataFrame, touches: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    val t = touches
      .select(col("user_id").as("touch_user"), col("ts").as("touch_ts"),
        col("event_type").as("touch_type"))
      .withWatermark("touch_ts", "1 hour")
    p.join(t,
      col("user_id") === col("touch_user") &&
        col("touch_ts") <= col("purchase_ts") &&
        col("touch_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .drop("touch_user")
  }

  /** Streaming maintenance of an incremental rollup table — the sink-side
    * twin of [[graft.Incremental]]: each micro-batch of the UPDATE-mode
    * hourly aggregation dynamically overwrites exactly the partitions its
    * changed keys live in. The table is partitioned on BOTH grouping
    * columns (hour, type), so every updated aggregate row maps to exactly
    * one partition directory — overwriting the changed partitions with the
    * batch's new totals is correct even though update mode emits only
    * changed rows (no other key shares the directory). Late data inside
    * the watermark lands as an update to its old hour's partition; closed
    * partitions are never read or rewritten. This is how a stream keeps a
    * 100 TB rollup current without ever touching more than the open hours.
    */
  def sinkIncremental(hourly: DataFrame, target: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hourly
      .select(
        col("window.start").cast("long").as("hour_epoch"),
        col("event_type"), col("n_events"), col("approx_users"),
        col("total_value").cast("double").as("total_value"))
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-write option, NOT spark.conf.set: a session-global toggle
        // would be visible to concurrent queries mid-batch and couldn't be
        // restored faithfully when the conf was originally unset
        batch.write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("hour_epoch", "event_type")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(target)
        ()
      }

  final case class Evt(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)
  final case class UserSession(user_id: Long, n_events: Long,
    start: Timestamp, end: Timestamp, closed: Boolean)
  final case class SessState(n: Long, start: Long, last: Long)

  /** Custom stateful sessionization via flatMapGroupsWithState — the escape
    * hatch when session_window semantics aren't enough (e.g. emitting
    * in-progress sessions). A session closes when a later event arrives past
    * the gap; set useTimeout=true to also close idle sessions on a
    * processing-time timer (don't combine with processAllAvailable in tests:
    * timer-triggered batches make it spin). */
  def statefulSessions(events: Dataset[Evt], gapMs: Long = 30 * 60 * 1000L,
      useTimeout: Boolean = false): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeout =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, UserSession](
        OutputMode.Append(), timeout) {
        (userId: Long, evts: Iterator[Evt], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(userId, s.n, new Timestamp(s.start),
              new Timestamp(s.last), closed = true))
          } else {
            val sorted = evts.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(n = s.n + 1, last = t))
                case Some(s) =>
                  out ::= UserSession(userId, s.n, new Timestamp(s.start),
                    new Timestamp(s.last), closed = true)
                  cur = Some(SessState(1, t, t))
                case None =>
                  cur = Some(SessState(1, t, t))
              }
            }
            cur.foreach(state.update)
            if (useTimeout) state.setTimeoutDuration(gapMs)
            out.reverseIterator
          }
      }
  }

  /** Streaming incremental corpus dedup — the production INGEST shape
    * (r11 verdict item 3): each arriving micro-batch of documents is
    * deduplicated AGAINST the existing corpus by probing the corpus's
    * MinHash band index with the batch's band signatures — one band-keyed
    * equi-join per batch plus exact Jaccard verification on the candidates
    * only — and NEVER by self-joining or re-hashing the corpus (the batch
    * core is [[graft.extensions.Text.dedupBatchAgainstCorpus]], shared
    * with the batch twin `dedupIncremental`). `corpusBands` /
    * `corpusShingles` are static relations (in production: bucketed or
    * [[graft.Versioned]] tables the ingest pipeline maintains), so per
    * batch the stream pays |batch| signatures + one bucket probe — cost
    * tracks the ARRIVAL rate, not the corpus size.
    *
    * One decision row per batch doc (doc_id, n_candidates, n_dups,
    * max_jaccard, dup_witness, keep, batch_id), written EXACTLY-ONCE: the
    * sink is partitioned by batch_id and each foreachBatch dynamically
    * overwrites only its own batch partition, so a batch replayed after a
    * crash-restart replaces its previous (possibly partial) output instead
    * of appending a duplicate — idempotent-by-key, the standard
    * foreachBatch exactly-once recipe (StreamingSpec pins restart
    * equivalence against an uninterrupted run). */
  def dedupIngestSink(docs: DataFrame, corpusBands: DataFrame,
      corpusShingles: DataFrame, target: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.lit
        val decisions = graft.extensions.Text.dedupBatchAgainstCorpus(
          batch.select("doc_id"),
          graft.extensions.Text.shingleSetsOf(batch),
          corpusBands, corpusShingles)
        decisions.withColumn("batch_id", lit(batchId))
          .write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(target)
        ()
      }

  /** Streaming vector ingest into the persisted ANN index
    * ([[graft.extensions.AnnIndex]]) — the production shape for an
    * embedding pipeline that must be searchable as it lands: each
    * microbatch of (vec_id, embedding) rows is encoded under the PINNED
    * generation's quantizers and published as a new index generation via
    * [[graft.extensions.AnnIndex.add]]. Exactly-once across crash/replay
    * comes from two rules composed: the meta row carries the
    * streaming-ingest LEDGER (`batch_id`), advanced in the same atomic
    * commit that makes the batch's rows visible, so a replayed microbatch
    * whose generation already landed is skipped here; and a replay of a
    * batch whose attempt CRASHED mid-add starts from the pinned
    * generation (orphan tip appends are discarded by add's appendBase
    * anchoring), landing the batch once. State is the one-row meta read
    * per batch — nothing corpus-sized is tracked per stream. */
  def annIngestSink(vectors: DataFrame, dir: String, checkpoint: String,
      compactEvery: Long = 32, compactFiles: Int = 8,
      vacuumKeep: Int = 4,
      vacuumRetentionMs: Long = 24L * 3600 * 1000)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        annIngestBatch(batch, dir, batchId, compactEvery, compactFiles,
          vacuumKeep, vacuumRetentionMs)
      }

  /** One idempotent ingest step of [[annIngestSink]], factored out so the
    * replay path is testable without crashing a live streaming query.
    *
    * `compactEvery` folds index maintenance into the batch loop the way
    * [[versionedSink]] folds lake compaction into its: every Nth batch, after
    * the add lands, [[graft.extensions.AnnIndex.compact]] collapses the
    * accreted per-batch file sets (and materializes pending tombstones).
    * Measured need: ~100 accreted file sets cost 27% of serve time,
    * repaired by one 1.7 s compact (BENCH_ANN_LIFECYCLE.json) — the sink
    * defaults to every 32 batches, bounding scan fan-out for one rewrite
    * per epoch; 0 disables. The compact trigger is evaluated OUTSIDE the
    * ledger-skip/non-empty guard: compact publishes its own generation and
    * is safe (and useful) on a skipped or empty batch, so an empty Nth
    * batch, or a crash between add and compact followed by replay, defers
    * maintenance only to the replay — never a full extra compactEvery
    * epoch. Batch-boundary safe either way: a crash between the add and
    * the compact leaves a fragmented-but-correct generation serving, and
    * the ledger skip keeps the replay's ADD exactly-once.
    *
    * Each compaction epoch also runs age/count-guarded
    * [[graft.Versioned.vacuum]] over the index tables — without it a
    * long-running sink accretes one superseded coded/vectors/meta snapshot
    * per microbatch forever. The guard rails: `vacuumKeep` (never fewer
    * than 2) recent versions of every table survive, so the pinned
    * generation (always the LATEST meta and the versions it names) is
    * never touched; and only superseded files older than
    * `vacuumRetentionMs` are deleted, so a reader that pinned an older
    * generation before the cycle keeps its files for the retention window
    * (the lakehouse vacuum contract; spec-pinned in StreamingSpec). */
  private[graft] def annIngestBatch(batch: DataFrame, dir: String,
      batchId: Long, compactEvery: Long = 0, compactFiles: Int = 8,
      vacuumKeep: Int = 4,
      vacuumRetentionMs: Long = 24L * 3600 * 1000): Unit = {
    val spark = batch.sparkSession
    if (batchId > graft.extensions.AnnIndex.lastIngestBatch(spark, dir)
        && !batch.isEmpty) {
      // pass the batch through unprojected: add() selects exactly
      // (vec_id, embedding) plus the index's stored attribute columns —
      // a narrow select here would starve an attributed index (add
      // rejects batches lacking its metaCols)
      graft.extensions.AnnIndex.add(spark, dir, batch, batchId)
      ()
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      graft.extensions.AnnIndex.compact(spark, dir, compactFiles)
      val keep = math.max(2, vacuumKeep)
      Seq("seeds", "codebooks", "coded", "vectors", "tombstones", "meta")
        .foreach { t =>
          if (graft.Versioned.latestVersion(spark, s"$dir/$t").isDefined)
            graft.Versioned.vacuum(spark, s"$dir/$t", keepVersions = keep,
              retentionMs = vacuumRetentionMs)
        }
    }
  }

  /** Event-lake landing sink on the [[graft.Versioned]] transaction log:
    * each microbatch COMMITS (append) atomically into the
    * `dateCol`-partitioned table, so a concurrent reader sees whole
    * batches or nothing. Streaming writes shard by microbatch (a day's
    * partition accumulates a file per batch), and an unmaintained lake
    * drowns its scans in task and footer overhead, so every
    * `compactEvery` batches [[graft.Versioned.compact]] rewrites the
    * fragmented partitions (≥ `minFiles` files in the manifest; cold
    * history is never re-read) into bin-packed files, range-sorted on
    * `sortCols` when given, in one commit. Layout maintenance is part of
    * the pipeline instead of an out-of-band cron, and runs at batch
    * boundaries, so it never races a batch write of the same query.
    * Pre-compaction snapshots stay time-travelable until `vacuum`. */
  def versionedSink(events: DataFrame, target: String, checkpoint: String,
      dateCol: String = "dt", compactEvery: Long = 4, minFiles: Int = 4,
      sortCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.Versioned.write(batch, target, mode = "append",
          partitionBy = Some(dateCol))
        if (batchId > 0 && batchId % compactEvery == 0)
          graft.Versioned.compact(batch.sparkSession, target, minFiles, sortCols)
        ()
      }
}
