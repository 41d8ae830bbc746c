package graft.extensions

import graft.{Ctx, Macros => M}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch operators over the `events` table (event_id, ts, user_id,
  * event_type, value, props JSON-string). These are the deterministic batch
  * twins of the Structured Streaming pipelines in graft.streaming.Streams —
  * the same windowing/sessionization semantics, checkable against the
  * DuckDB oracle.
  *
  * Timestamps cross the oracle boundary as floor'd epoch seconds (BIGINT):
  * Spark's timestamp->long cast floors, DuckDB's epoch() needs an explicit
  * floor — both pinned in the twins. Event values are summed as
  * DECIMAL(18,6) so aggregation is order-insensitive.
  */
object Events {
  import M._

  /** `ts` arrives as epoch-nanos BIGINT whatever the parquet encoding —
    * [[graft.Ctx.normalizedEvents]] is the one place that decodes it — so
    * every derivation here is exact integer epoch arithmetic. */
  private def events(ctx: Ctx): DataFrame = ctx.tbl("events")

  /** floor'd epoch seconds from the nano count (ts >= 0 in testdata). */
  private val tsSec = expr("ts div 1000000000")

  /** Equi-width value histogram per event type — the distribution-profiling
    * pass a pipeline runs before choosing clip/normalization bounds. One
    * partial-aggregatable groupBy on (type, bucket); the share-of-type
    * window sits above the ≤ types × buckets aggregate (tiny by
    * construction: bucket count is value_range / width, data-size
    * independent), the documented safe empty-over shape. Bucket ids are
    * exact integer floors of an IEEE division both engines evaluate
    * identically; min/max are order-insensitive, so no double-sum hazard. */
  def valueHistogram(ctx: Ctx, width: Double = 25.0): DataFrame = {
    val agg = events(ctx)
      .groupBy(col("event_type"),
        floor(col("value") / width).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    val wt = Window.partitionBy("event_type")
    agg
      .withColumn("type_total", sum(col("n_events")).over(wt))
      .select(
        col("event_type"), col("bucket"),
        (col("bucket") * width).as("bucket_lo"),
        ((col("bucket") + 1) * width).as("bucket_hi"),
        col("n_events"), col("min_value"), col("max_value"),
        dv(col("n_events"), col("type_total")).as("share_of_type"))
  }

  /** Day-over-day volume anomaly detection: each (event_type, day)'s count
    * z-scored against its own trailing week (ROWS BETWEEN 7 PRECEDING AND 1
    * PRECEDING — the current day never contaminates its own baseline).
    * The rolling mean/stddev come from exact BIGINT window sums (n, n²)
    * pushed through the same exact-sums stddev form as Macros.stddevE, so
    * both engines do identical IEEE arithmetic on identical integers. The
    * window partitions on event_type — bounded by days-per-type, never a
    * global sort; a constant baseline (sd = 0) yields a NULL z-score rather
    * than ±Inf. */
  def anomalyZscore(ctx: Ctx): DataFrame = {
    val daily = events(ctx)
      .groupBy(col("event_type"), expr("ts div 1000000000 div 86400").as("day_idx"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("day_idx")
      .rowsBetween(-7, -1)
    val withSums = daily.select(
        col("event_type"), col("day_idx"), col("n_events"),
        sum(col("n_events")).over(w).as("w_sum"),
        sum(col("n_events") * col("n_events")).over(w).as("w_sumsq"),
        count(col("n_events")).over(w).as("w_cnt"))
      .filter(col("w_cnt") >= 2)
    val mean = dv(col("w_sum"), col("w_cnt"))
    val sd = sqrt(
      (col("w_sumsq").cast("double")
        - col("w_sum").cast("double") * col("w_sum").cast("double")
          / col("w_cnt").cast("double"))
        / (col("w_cnt").cast("double") - 1))
    withSums
      .withColumn("w_mean", mean)
      .withColumn("w_sd", sd)
      .withColumn("z_score",
        when(col("w_sd") === 0, lit(null))
          .otherwise((col("n_events").cast("double") - col("w_mean")) / col("w_sd")))
      .select(col("event_type"), col("day_idx"), col("n_events"),
        col("w_cnt"), col("w_mean"), col("w_sd"), col("z_score"),
        (abs(col("z_score")) > 2).as("is_anomaly"))
  }

  /** Hour-of-day seasonality profile per event type — the cyclical load
    * curve capacity planning reads. Hour index is pure integer arithmetic
    * on the epoch second (no timezone/calendar functions to diverge across
    * engines); share-of-type is a ratio of exact counts via an aggregate +
    * join over the ≤ 24 × types rows. One partial-aggregatable shuffle. */
  def hourlySeasonality(ctx: Ctx): DataFrame = {
    val byHour = events(ctx)
      .groupBy(col("event_type"),
        expr("ts div 1000000000 div 3600 % 24").as("hour_of_day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("unique_users"))
    val totals = byHour.groupBy("event_type")
      .agg(sum(col("n_events")).as("type_total"))
    byHour.join(totals, Seq("event_type"))
      .select(col("event_type"), col("hour_of_day"), col("n_events"),
        col("unique_users"),
        dv(col("n_events"), col("type_total")).as("share_of_type"))
  }

  /** Cohort retention triangle over event users — each user's cohort is
    * their first-seen day; cell (cohort_day, offset) holds the fraction of
    * that cohort active offset days later (the product-analytics DAU
    * retention matrix; the customer-side twin is
    * `metrics_customer_retention` on monthly order cohorts). Three
    * partial-aggregatable shuffles, all keyed on user_id or the bounded
    * (cohort, offset) pair — no window, no skew exposure beyond the user
    * key itself. Offsets capped at `maxOffset` (output stays
    * days × offsets small at any event volume). */
  def retentionTriangle(ctx: Ctx, maxOffset: Int = 13): DataFrame = {
    val days = events(ctx)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day_idx"))
      .distinct()
    val first = days.groupBy("user_id").agg(min("day_idx").as("cohort_day"))
    val sizes = first.groupBy("cohort_day")
      .agg(countDistinct("user_id").as("cohort_users"))
    days.join(first, Seq("user_id"))
      .select(col("cohort_day"),
        (col("day_idx") - col("cohort_day")).as("day_offset"), col("user_id"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct("user_id").as("active_users"))
      .join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("active_users"),
        col("cohort_users"),
        dv(col("active_users"), col("cohort_users")).as("retention_rate"))
  }

  /** JSON extraction from the props payload (get_json_object — codegen'd). */
  def jsonExtract(ctx: Ctx): DataFrame =
    events(ctx).select(
      col("event_id"),
      col("event_type"),
      get_json_object(col("props"), "$.k").cast("int").as("k"),
      col("value"))

  /** Tumbling 1-hour windows per event type: the batch twin of
    * Streams.hourlyCounts (same window semantics, groupBy hour bucket). */
  def hourlyByType(ctx: Ctx): DataFrame =
    events(ctx)
      .groupBy(
        expr("(ts div 1000000000) div 3600 * 3600").as("hour_epoch"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("unique_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"),
        avgE(col("value").cast("decimal(18,6)")).as("avg_value"))

  /** Gap-based sessionization (30-minute inactivity): lag -> boundary flag ->
    * running session index -> per-session rollup. The batch twin of
    * session_window / flatMapGroupsWithState in Streams. */
  /** Event-level session assignment (gap rule, lag + prefix-sum per user
    * partition) — shared base of [[sessionize]] and [[sessionCooccurrence]];
    * the unused columns prune away per consumer. */
  private def sessionAssigned(ctx: Ctx, gapSeconds: Int = 1800): DataFrame =
    events(ctx)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsSec.as("ts_sec"),
        col("value").cast("decimal(18,6)").as("value_d"))
      .withColumn("prev_ts", lag("ts_sec", 1).over(
        Window.partitionBy("user_id").orderBy("ts_sec", "event_id")))
      .withColumn("is_new_session",
        when(col("prev_ts").isNull || col("ts_sec") - col("prev_ts") > gapSeconds, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum("is_new_session").over(
          Window.partitionBy("user_id").orderBy(col("ts_sec"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .drop("prev_ts", "is_new_session")

  def sessionize(ctx: Ctx, gapSeconds: Int = 1800): DataFrame = {
    val flagged = sessionAssigned(ctx, gapSeconds)
    flagged.groupBy("user_id", "session_idx").agg(
      count(lit(1)).as("n_events"),
      min("ts_sec").as("session_start_epoch"),
      max("ts_sec").as("session_end_epoch"),
      (max("ts_sec") - min("ts_sec")).as("duration_seconds"),
      sum("value_d").cast("double").as("session_value"))
  }

  /** Session-level event-type co-occurrence with lift — association mining
    * over behavioural sessions (the event-stream analogue of
    * `int_market_basket`): which event types appear together in one
    * session more than independence predicts. Same basket-explosion shape
    * as the market basket — one aggregate per session + in-row i<j pair
    * expansion (type sets are bounded by the type domain, so the explosion
    * is O(|types|²) per session, data-size independent); lift is a ratio
    * of exact integer products. */
  def sessionCooccurrence(ctx: Ctx): DataFrame = {
    val st = sessionAssigned(ctx)
      .select(col("user_id"), col("session_idx"), col("event_type"))
      .distinct()
    val nSessions = st.select(col("user_id"), col("session_idx")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val typeCounts = st.groupBy("event_type")
      .agg(count(lit(1)).as("type_sessions"))
    // native codegen'd i<j expansion — see int_market_basket (byte-identical
    // to the nested-transform HOF spelling; OrderedPairsSpec)
    graft.functions.OrderedPairs.register(ctx.spark)
    val pairs = st
      .groupBy("user_id", "session_idx")
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr("ordered_pairs(ts)")).as("p"))
      .select(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("pair_sessions"))
    pairs
      .join(typeCounts.select(col("event_type").as("type_a"),
        col("type_sessions").as("a_sessions")), Seq("type_a"))
      .join(typeCounts.select(col("event_type").as("type_b"),
        col("type_sessions").as("b_sessions")), Seq("type_b"))
      .crossJoin(broadcast(nSessions))
      .select(col("type_a"), col("type_b"), col("pair_sessions"),
        col("a_sessions"), col("b_sessions"), col("n_sessions"),
        dv(col("pair_sessions"), col("n_sessions")).as("support"),
        dv(col("pair_sessions") * col("n_sessions"),
          col("a_sessions") * col("b_sessions")).as("lift"))
  }

  /** Sliding-window rates: 1-hour windows sliding every 15 minutes, the
    * windows a streaming `window(ts, "1 hour", "15 minutes")` groups by,
    * computed in batch. Each event belongs to exactly four overlapping
    * windows, generated by an in-row explode of the four offsets (map-side;
    * no self-join against a window spine), then one partial-aggregatable
    * groupBy. Proves the streaming window semantics have an
    * oracle-checkable batch equivalent. */
  def slidingRates(ctx: Ctx): DataFrame =
    events(ctx)
      .select(col("event_type"), tsSec.as("sec"),
        explode(expr("sequence(0, 3)")).as("k"))
      .select(col("event_type"),
        (expr("sec div 900 * 900") - col("k") * 900).as("window_start"))
      .groupBy("event_type", "window_start")
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), col("window_start"),
        (col("window_start") + 3600).as("window_end"), col("n_events"),
        dv(col("n_events"), lit(60)).as("events_per_minute"))

  /** Per-type daily funnel: view -> click -> purchase conversion by day —
    * conditional aggregation over the event stream. */
  def dailyFunnel(ctx: Ctx): DataFrame =
    events(ctx)
      .groupBy(expr("(ts div 1000000000) div 86400 * 86400").as("day_epoch"))
      .agg(
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("views"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"),
        countDistinct(col("user_id")).as("active_users"),
        dv(sum(when(col("event_type") === "click", 1).otherwise(0)),
          nullifZero(sum(when(col("event_type") === "view", 1).otherwise(0))))
          .as("click_through_rate"),
        dv(sum(when(col("event_type") === "purchase", 1).otherwise(0)),
          nullifZero(sum(when(col("event_type") === "click", 1).otherwise(0))))
          .as("purchase_conversion_rate"))

  /** Last-touch attribution: each purchase event joined to the same user's
    * most recent at-or-before non-purchase event — the canonical AS-OF
    * JOIN, running on the custom sort-merge operator
    * ([[graft.plans.AsOfJoin]]: LogicalPlan + Strategy + SparkPlan, the
    * SURVEY §2.10 tier-(c) extension path). Times stay in the exact
    * integer nanosecond domain end-to-end, so the match and all outputs
    * are bit-comparable with the oracle twin, DuckDB's native
    * `ASOF LEFT JOIN` over TIMESTAMP_NS (the same total order; (user_id,
    * ts) is unique in the testdata, so the latest-match row is unique). */
  def asofAttribution(ctx: Ctx): DataFrame = {
    val ev = events(ctx)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("touch_user"), col("ts").as("touch_ts"),
        col("event_type").as("last_touch_type"))
    graft.plans.AsOf.joinAsOf(purchases, touches,
        "user_id", "touch_user", "ts", "touch_ts")
      .select(
        col("event_id"), col("user_id"),
        expr("ts div 1000000000").as("purchase_epoch_s"),
        col("value"),
        col("last_touch_type"),
        expr("touch_ts div 1000000000").as("last_touch_epoch_s"),
        expr("(ts - touch_ts) div 1000000000").as("secs_since_touch"))
  }

  /** As-of attribution with a bounded lookback window (pandas merge_asof
    * `tolerance`): the last touch attributes a purchase only when it fired
    * within `tolSecs` before it — older touches null-extend. Exercises the
    * custom operator's tolerance path end-to-end; same two-shuffle
    * sort-merge plan as [[asofAttribution]]. */
  def asofAttributionWindowed(ctx: Ctx, tolSecs: Long = 600): DataFrame = {
    val ev = events(ctx)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("touch_user"), col("ts").as("touch_ts"),
        col("event_type").as("last_touch_type"))
    graft.plans.AsOf.joinAsOf(purchases, touches,
        "user_id", "touch_user", "ts", "touch_ts",
        tolerance = Some(tolSecs * 1000000000L))
      .select(
        col("event_id"), col("user_id"),
        expr("ts div 1000000000").as("purchase_epoch_s"),
        col("value"),
        col("last_touch_type"),
        expr("touch_ts div 1000000000").as("last_touch_epoch_s"),
        expr("(ts - touch_ts) div 1000000000").as("secs_since_touch"))
  }

  /** Stream-style dedup on the natural key (user_id, event_type, minute):
    * the testdata carries no event_id duplicates, so exact-id dedup would be
    * vacuous — instead this collapses same-user same-type events inside a
    * 1-minute window (the "double-fire" suppression a real ingest pipeline
    * runs), keeping the earliest event. Emits only the actual duplicate
    * groups, so the result proves real work. Batch twin of
    * dropDuplicates-with-watermark. */
  def dedupEvents(ctx: Ctx): DataFrame =
    events(ctx)
      .groupBy(col("user_id"), col("event_type"),
        expr("(ts div 1000000000) div 60 * 60").as("minute_epoch"))
      .agg(
        count(lit(1)).as("occurrences"),
        min("event_id").as("keep_event_id"),
        min(tsSec).as("first_seen_epoch"))
      .filter(col("occurrences") > 1)

  /** Per-user journey transition matrix (the Markov view of the event
    * stream): every adjacent (from_type -> to_type) pair in a user's
    * time-ordered events, with transition counts and the conditional
    * transition probability as an exact integer ratio. One lead() window
    * per user partition (never global), then two partial-aggregatable
    * groupBys over the tiny type×type space. */
  def userJourneys(ctx: Ctx): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events(ctx)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val totals = trans.groupBy("from_type")
      .agg(sum("n_transitions").as("from_total"))
    trans.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        col("from_total"),
        dv(col("n_transitions"), col("from_total")).as("transition_prob"))
  }

  /** Peak-load attribution via a genuine RANGE join: find the top-3
    * busiest hours, widen each into a 90-minute analysis window
    * [hour-30min, hour+90min), then join every event whose timestamp
    * falls INSIDE a window (windows overlap adjacent hours and each
    * other, so this is interval containment, not a bucket equi-join).
    *
    * Scale shape: the window side is aggregated to one row per hour —
    * cardinality bounded by elapsed wall-time, not data volume — ranked
    * through the two-phase [[graft.operators.TopK]] (constant key: phase 1
    * salts the hours across tasks, phase 2 ranks the ≤ salts·k
    * survivors), and the 3 final windows broadcast to a
    * BroadcastNestedLoopJoin: a 100 TB scan pays 3 comparisons per row
    * and shuffles nothing. */
  def peakWindows(ctx: Ctx, topN: Int = 3): DataFrame = {
    val ev = events(ctx).select(
      col("event_id"), col("user_id"), tsSec.as("sec"), col("value"))
    val hours = ev
      .groupBy(expr("sec div 3600 * 3600").as("hour_start"))
      .agg(count(lit(1)).as("hour_events"))
    val wins = graft.operators.TopK.topKPerKey(hours,
        keys = Seq(lit(1)),
        order = Seq(col("hour_events").desc, col("hour_start")),
        saltOn = Seq(col("hour_start")),
        k = topN, rankCol = "peak_rank")
      .select(
        col("peak_rank").cast("int").as("peak_rank"),
        col("hour_start"), col("hour_events"),
        (col("hour_start") - 1800).as("win_start"),
        (col("hour_start") + 5400).as("win_end"))
    ev.join(broadcast(wins),
        col("sec") >= col("win_start") && col("sec") < col("win_end"))
      .groupBy("peak_rank", "hour_start", "hour_events", "win_start", "win_end")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"),
        min("event_id").as("min_event_id"),
        max("event_id").as("max_event_id"))
  }
}
