package graft.extensions

import graft.{Ctx, Macros => M}
import graft.layers.{Ods, Wh}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics surface beyond the reference's flat GROUP BYs: grouping-set
  * (ROLLUP) subtotals and distribution-position window functions
  * (percent_rank / cume_dist), both expressed scale-first.
  *
  * No reference counterpart file — the reference (dbt models, see
  * models/metrics/metrics_regional_revenue.sql:1-24 for the flat twin of
  * the rollup here) always aggregates at a single grain; warehouse users
  * routinely need the subtotal/grand-total levels in one pass, which is
  * exactly what Catalyst's Expand-based ROLLUP gives without re-scanning
  * per level.
  */
object Analytics {
  import M._

  /** Revenue at three grains in one pass — (region, nation), region
    * subtotal, grand total — via ROLLUP. Catalyst plans this as a single
    * Expand (3 rows per input row) feeding one hash aggregate: one scan,
    * one shuffle, partial-aggregatable, so it scales exactly like the flat
    * groupBy. GROUPING() flags distinguish a subtotal row from a genuine
    * NULL group, and double as the deterministic sort level. */
  def regionalRevenueRollup(ctx: Ctx): DataFrame =
    Wh.fctOrders(ctx)
      .join(Wh.dimCustomer(ctx), Seq("customer_key"))
      .select(
        col("customer_region_name").as("region_name"),
        col("customer_nation_name").as("nation_name"),
        col("order_key"), col("customer_key"),
        col("gross_item_sales_amount"), col("net_item_sales_amount"))
      // unqualified keys: the by-name `rollup(String*)` resolves them against
      // this Dataset and tags them with its id, and DetectAmbiguousSelfJoin
      // then misreads the grouping-sets expansion as a self-join (fct_orders
      // reads orders twice) and fails the analysis
      .rollup(col("region_name"), col("nation_name"))
      .agg(
        grouping(col("region_name")).cast("int").as("region_subtotal"),
        grouping(col("nation_name")).cast("int").as("nation_subtotal"),
        // fct_orders ⋈ dim is order grain, so the order distinct is a
        // plain count at every rollup level; only the customer distinct
        // remains — no multi-distinct Expand stacked on the rollup Expand
        count(col("order_key")).as("order_count"),
        countDistinct(col("customer_key")).as("customer_count"),
        sum("gross_item_sales_amount").cast("double").as("gross_revenue"),
        sum("net_item_sales_amount").cast("double").as("net_revenue"))

  /** Year-over-year customer activity — the §2.7 set-op semantics
    * (INTERSECT/EXCEPT over the two years' active-customer sets), computed
    * in ONE pass (r13 optimization):
    *
    *   retained = active(1999) ∩ active(2000)
    *   churned  = active(1999) ∖ active(2000)
    *   acquired = active(2000) ∖ active(1999)
    *
    * The literal intersect/except form instantiated the fact subtree four
    * times and shuffled the key set three times (one aggregate-backed
    * semi/anti join each). The three memberships partition the union of the
    * two active sets, so one year-filtered scan + one groupBy(customer_key)
    * with per-year presence flags derives all three labels map-side-
    * partial-aggregated — 4 fact scans + 3 shuffles → 1 scan + 1 shuffle
    * (guide §2.4), byte-identical rows: set-op NULL-as-equal semantics and
    * groupBy NULL grouping agree, and each customer lands in exactly one
    * branch either way. */
  def customerActivitySetOps(ctx: Ctx): DataFrame = {
    val y = year(col("order_date"))
    Wh.fctOrders(ctx)
      .filter(y === 1999 || y === 2000)
      .groupBy(col("customer_key"))
      .agg(
        max(when(y === 1999, 1).otherwise(0)).as("__a99"),
        max(when(y === 2000, 1).otherwise(0)).as("__a00"))
      .select(
        when(col("__a99") === 1 && col("__a00") === 1, "retained")
          .when(col("__a99") === 1, "churned")
          .otherwise("acquired").as("membership"),
        col("customer_key"))
  }

  /** Order counts per year spread across the five priority classes — the
    * PIVOT relational shape (reference twin of the conditional-sum flags in
    * models/intermediate/int_supplier_performance.sql:22-23, lifted to a
    * real pivot). The value list is EXPLICIT: `.pivot(col, values)` with the
    * domain enumerated skips the extra distinct-values discovery job Spark
    * otherwise runs — the difference between one pass and two at scale.
    * Plans as a single hash aggregate with five pivot-CASE branches. */
  def orderPriorityPivot(ctx: Ctx): DataFrame = {
    val priorities = Seq(
      "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val outNames = Seq(
      "urgent_orders", "high_orders", "medium_orders",
      "not_specified_orders", "low_orders")
    val fo = Wh.fctOrders(ctx).withColumn("order_year", year(col("order_date")))
    val pivoted = fo
      .groupBy("order_year")
      .pivot("order_priority_code", priorities)
      .agg(count(lit(1)))
    val renamed = priorities.zip(outNames).foldLeft(pivoted) {
      case (df, (v, n)) => df.withColumn(n, coalesce(col(s"`$v`"), lit(0L)))
    }
    // total = COUNT(*) like the oracle, NOT the sum of the five pivoted
    // classes: a priority code outside the explicit value list would be
    // dropped by the pivot but still belongs in the total. Year-grain join
    // against the cached fact — a handful of rows.
    val totals = fo.groupBy("order_year").agg(count(lit(1)).as("total_orders"))
    renamed.join(totals, Seq("order_year"))
      .select((col("order_year") +: outNames.map(col) :+ col("total_orders")): _*)
  }

  /** The inverse reshape: Spark's native UNPIVOT (Dataset.unpivot → Catalyst
    * Expand, one map-side pass, no join or shuffle) melts the wide pivot
    * matrix back to (year, priority_class, n_orders) long form. Because the
    * pivot emitted a DENSE matrix (zero-filled), the melt carries zero rows
    * too — the oracle mirrors that with a years × classes spine. */
  def orderPriorityMelt(ctx: Ctx): DataFrame = {
    val countCols = Seq("urgent_orders", "high_orders", "medium_orders",
      "not_specified_orders", "low_orders")
    orderPriorityPivot(ctx).unpivot(
      Array(col("order_year")),
      countCols.map(col).toArray,
      "priority_class", "n_orders")
  }

  /** First / last / second order per customer via the FIRST_VALUE /
    * LAST_VALUE / NTH_VALUE window family over an explicit full-partition
    * ROWS frame (the §2.5 value-navigation functions the reference's lag()
    * models never touch). One row per order; the window partitions on
    * customer_key — bounded per-customer partitions, never a global sort. */
  def customerOrderBookends(ctx: Ctx): DataFrame = {
    val w = Window.partitionBy("customer_key")
      .orderBy(col("order_date"), col("order_key"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Ods.orders(ctx).select(
      col("customer_key"), col("order_key"), col("order_date"),
      col("order_amount"),
      first(col("order_key")).over(w).as("first_order_key"),
      last(col("order_key")).over(w).as("last_order_key"),
      nth_value(col("order_key"), 2).over(w).as("second_order_key"),
      first(col("order_amount")).over(w).cast("double").as("first_order_amount"),
      last(col("order_amount")).over(w).cast("double").as("last_order_amount"))
      .withColumn("is_first_order", col("order_key") === col("first_order_key"))
      .withColumn("order_amount", col("order_amount").cast("double"))
  }

  /** Pairwise supplier PORTFOLIO overlap: Jaccard between each supplier
    * pair's part catalogues via a part-postings equi-join (each part meets
    * only its own suppliers — never supplier × supplier), the procurement
    * view of "which suppliers are substitutes". Same postings shape as
    * `source_similarity`; fan-out is bounded by suppliers-per-part, and the
    * [[graft.functions.MinHashSketch]] aggregate is the drop-in at a scale
    * where exact postings get dense. */
  def supplierPortfolioOverlap(ctx: Ctx): DataFrame = {
    val sp = Ods.partsSuppliers(ctx)
      .select(col("supplier_key"), col("part_key")).distinct()
    val sizes = sp.groupBy("supplier_key").agg(count(lit(1)).as("n_parts"))
    val inter = sp.select(col("part_key"), col("supplier_key").as("supplier_a"))
      .join(sp.select(col("part_key"), col("supplier_key").as("supplier_b")),
        Seq("part_key"))
      .filter(col("supplier_a") < col("supplier_b"))
      .groupBy("supplier_a", "supplier_b")
      .agg(count(lit(1)).as("shared_parts"))
    inter
      .join(sizes.select(col("supplier_key").as("supplier_a"),
        col("n_parts").as("parts_a")), Seq("supplier_a"))
      .join(sizes.select(col("supplier_key").as("supplier_b"),
        col("n_parts").as("parts_b")), Seq("supplier_b"))
      .select(col("supplier_a"), col("supplier_b"), col("shared_parts"),
        col("parts_a"), col("parts_b"),
        dv(col("shared_parts"),
          col("parts_a") + col("parts_b") - col("shared_parts"))
          .as("portfolio_jaccard"))
  }

  /** Calendar dimension generated from the fact's own date bounds — the
    * dbt_utils.date_spine twin (a generated day spine joined against facts
    * is how warehouse models densify sparse dates). One row per day via
    * sequence() explode off a scalar min/max aggregate; weekday comes from
    * epoch-day arithmetic (see [[orderWeekdayProfile]] for why not
    * dayofweek), year/month/quarter/day are standard EXTRACT semantics
    * both engines share. */
  def dateSpine(ctx: Ctx): DataFrame =
    Ods.orders(ctx)
      .agg(min(col("order_date")).as("lo"), max(col("order_date")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("date_day"))
      .select(col("date_day"),
        year(col("date_day")).as("year"),
        quarter(col("date_day")).as("quarter"),
        month(col("date_day")).as("month"),
        dayofmonth(col("date_day")).as("day_of_month"),
        ((datediff(col("date_day"), to_date(lit("1970-01-01"))) + 4) % 7)
          .as("weekday_idx"),
        trunc(col("date_day"), "month").as("month_start"))

  /** Order volume and revenue by day of week. The weekday index is pure
    * integer arithmetic on the epoch day — (days_since_1970 + 4) % 7 with
    * 0 = Sunday (1970-01-01 was a Thursday) — because the engines' own
    * weekday functions disagree on numbering (Spark dayofweek is 1-based
    * Sunday, DuckDB dayofweek is 0-based Sunday) and calendar functions
    * are exactly the cross-engine seam to avoid. Exact-decimal revenue,
    * shares as ratios of exact sums. */
  def orderWeekdayProfile(ctx: Ctx): DataFrame = {
    val byDay = Ods.orders(ctx)
      .select(
        ((datediff(col("order_date"), to_date(lit("1970-01-01"))) + 4) % 7)
          .as("weekday_idx"),
        col("order_key"), col("order_amount"))
      .groupBy("weekday_idx")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("order_amount")).as("rev"))
    val tot = byDay.agg(
      sum(col("n_orders")).as("all_orders"), sum(col("rev")).as("all_rev"))
    byDay.crossJoin(broadcast(tot))
      .select(col("weekday_idx"), col("n_orders"),
        col("rev").cast("double").as("revenue"),
        dv(col("n_orders"), col("all_orders")).as("order_share"),
        dv(col("rev"), col("all_rev")).as("revenue_share"))
  }

  /** Inter-purchase interval distribution per market segment: the gap in
    * days between each customer's consecutive orders (lag over the bounded
    * per-customer partition — the §2.5 inter-event-interval shape), rolled
    * up to segment-level count/avg/min/median/max. Dates subtract to exact
    * integers, the average is a ratio of exact sums, and percentile_cont
    * sorts only each segment's own gaps — never a global order. */
  def customerOrderGaps(ctx: Ctx): DataFrame = {
    val w = Window.partitionBy("customer_key")
      .orderBy(col("order_date"), col("order_key"))
    val gaps = Ods.orders(ctx)
      .select(col("customer_key"), col("order_key"), col("order_date"))
      .withColumn("gap_days",
        datediff(col("order_date"), lag(col("order_date"), 1).over(w)))
      .join(Wh.dimCustomer(ctx)
        .select(col("customer_key"),
          col("customer_market_segment_name").as("segment")),
        Seq("customer_key"))
    gaps.groupBy("segment")
      .agg(
        countDistinct(when(col("gap_days").isNotNull, col("customer_key")))
          .as("repeat_customers"),
        count(col("gap_days")).as("n_gaps"),
        dv(sum(col("gap_days")), count(col("gap_days"))).as("avg_gap_days"),
        min(col("gap_days")).as("min_gap_days"),
        expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY gap_days)")
          .as("median_gap_days"),
        max(col("gap_days")).as("max_gap_days"))
  }

  /** Per-customer spend with PERCENT_RANK / CUME_DIST over the whole
    * customer population — the textbook single-partition global window,
    * rebuilt on [[graft.operators.Scale.globalOrder]]'s two-phase row
    * number so no task ever sees the full relation:
    *
    *   - rank        = min row number in the spend tie-group (one shuffle
    *                   keyed on the tie value);
    *   - percent_rank = (rank - 1) / (N - 1) — both engines evaluate the
    *                   same exact-integer ratio in IEEE double;
    *   - cume_dist   = (max row number in the tie-group) / N.
    */
  def customerValuePercentiles(ctx: Ctx): DataFrame = {
    val spend = Wh.fctOrders(ctx)
      .groupBy("customer_key")
      .agg(
        count(lit(1)).as("order_count"),
        sum("gross_item_sales_amount").as("spend_d"))
    val g = graft.operators.Scale.globalOrder(spend,
      order = Seq(col("spend_d").desc, col("customer_key")),
      rn = Some("__rn"), totalCount = Some("__n"))
    val tie = Window.partitionBy(col("spend_d"))
    g.withColumn("spend_rank",
        graft.operators.Scale.rankFromRowNumber(col("__rn"), Seq(col("spend_d"))))
      .withColumn("__tie_max", max(col("__rn")).over(tie))
      .select(
        col("customer_key"),
        col("spend_d").cast("double").as("total_spend"),
        col("order_count"),
        col("spend_rank"),
        when(col("__n") === 1, lit(0.0))
          .otherwise(dv(col("spend_rank") - 1, col("__n") - 1)).as("pct_rank"),
        dv(col("__tie_max"), col("__n")).as("cume_dist_val"))
  }

  /** In-transit inventory by day: for every order date, the count and
    * quantity of line items whose ship→receipt interval covers it — the
    * POINT-IN-INTERVAL aggregation (the oracle's DuckDB runs the literal
    * BETWEEN join via its native IEJoin; Spark has no such operator). */
  def inTransitByDay(ctx: Ctx): DataFrame = {
    // r13 optimization: sweep-line difference array instead of the binned
    // point-in-interval join. The join form materializes one row per
    // (day, covering line) pair — Σ interval-days, ~8× the fact at sf0.1 and
    // growing with both volume and interval length. But this query only
    // needs per-day AGGREGATES of the covering set, and `count/sum` over an
    // interval-covering predicate is a classic prefix sum: +quantity/+1 at
    // ship_date, −quantity/−1 the day after receipt_date, cumulated in date
    // order (guide §2.3 "shuffle fewer bytes" taken to its limit — the
    // pairs are never formed). Both deltas and the cumsum live on the DATE
    // DOMAIN: calendar-bounded (~2.5k days for TPC-H's range, tens of
    // thousands for any horizon), independent of fact volume, so the
    // single ordered window over it is scale-safe at any SF — the same
    // bounded-domain window class as the month/band reports. Exact decimal
    // addition keeps qty bit-identical to the join+sum form; the inner-join
    // "day must have a covering line" semantics survives as cum_count > 0.
    // [[graft.operators.RangeJoin.pointInInterval]] remains the operator for
    // range joins whose OUTPUT carries per-pair attributes.
    val deltas = graft.layers.Base.lineItem(ctx)
      .select(col("ship_date"), col("receipt_date"), col("quantity"))
      .filter(col("ship_date").isNotNull && col("receipt_date").isNotNull &&
        col("ship_date") <= col("receipt_date"))
      // one scan emits both endpoints of every interval
      .select(explode(array(
        struct(col("ship_date").as("d"), col("quantity").as("q"),
          lit(1L).as("c")),
        struct(date_add(col("receipt_date"), 1).as("d"),
          (-col("quantity")).as("q"), lit(-1L).as("c")))).as("__e"))
      .select(col("__e.d").as("d"), col("__e.q").as("q"), col("__e.c").as("c"))
      .groupBy("d").agg(sum("q").as("dq"), sum("c").as("dc"))
      .withColumn("is_day", lit(0))
    val days = graft.layers.Base.orders(ctx)
      .select(col("order_date").as("d")).distinct()
      .select(col("d"), lit(null).cast(deltas.schema("dq").dataType).as("dq"),
        lit(null).cast("bigint").as("dc"), lit(1).as("is_day"))
    // (d, is_day) is unique; delta rows sort before the day row of the same
    // date, so a day's running state includes its own date's ship/expiry
    // deltas — exactly BETWEEN's inclusive bounds.
    val w = Window.orderBy(col("d"), col("is_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    outD(deltas.unionByName(days)
      .withColumn("__cq", sum(col("dq")).over(w))
      .withColumn("__cc", sum(col("dc")).over(w))
      .filter(col("is_day") === 1 && col("__cc") > 0)
      .select(col("d").as("day"), col("__cc").as("lines_in_transit"),
        col("__cq").as("qty_in_transit"))
      .orderBy("day"))
  }
}
