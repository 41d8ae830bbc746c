package graft.layers

import graft.{Ctx, Macros => M}
import graft.operators.Scale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** reports layer (reference models/reports/ directory).
  *
  * Window determinism: row_number / ntile / lag get an explicit unique
  * tie-break key appended to their ORDER BY in BOTH engines (the reference's
  * ordering is nondeterministic at ties); rank() and RANGE-framed running
  * sums are tie-stable as written and keep the reference's exact semantics.
  *
  * Global (empty-partition) windows force a single-partition exchange — fine
  * at report cardinality (outputs are per-customer/part/month aggregates,
  * orders of magnitude smaller than the facts); the heavy aggregation below
  * them is fully parallel.
  */
object Reports {
  import M._

  /** Reference models/reports/customer_concentration_risk.sql (Pareto).
    * The global rank / running-sum / grand-total windows go through the
    * two-phase [[graft.operators.Scale.globalOrder]] rewrite (decimal-exact,
    * hash-identical to the single-partition form) so no single task ever
    * sees the whole per-customer relation; the reference's RANGE-frame
    * tie-sharing is recovered per tie group. */
  def customerConcentrationRisk(ctx: Ctx): DataFrame = {
    val rev = Rollups.customerOrders(ctx)
      .join(Wh.dimCustomer(ctx)
        .select("customer_key", "customer_name", "customer_nation_name",
          "customer_market_segment_name"), Seq("customer_key"))
      .select(col("customer_key"), col("customer_name"),
        col("customer_nation_name"), col("customer_market_segment_name"),
        col("gross_d").as("total_revenue_d"), col("order_count"))
    val ranked = Scale.globalOrder(rev,
        order = Seq(col("total_revenue_d").desc, col("customer_key")),
        rn = Some("revenue_rank"),
        cums = Seq("total_revenue_d" -> "rows_cum_d"),
        totals = Seq("total_revenue_d" -> "grand_total_revenue_d"),
        totalCount = Some("total_customers"))
      .withColumn("cumulative_revenue_d",
        Scale.rangeCumFromRowsCum(col("rows_cum_d"), Seq(col("total_revenue_d"))))
    ranked.select(
      col("revenue_rank"), col("customer_key"), col("customer_name"),
      col("customer_nation_name"), col("customer_market_segment_name"),
      col("order_count"),
      col("total_revenue_d").cast("double").as("total_revenue"),
      col("cumulative_revenue_d").cast("double").as("cumulative_revenue"),
      col("grand_total_revenue_d").cast("double").as("grand_total_revenue"),
      rnd(dv(col("total_revenue_d"), col("grand_total_revenue_d")) * 100, 4)
        .as("pct_of_total_revenue"),
      rnd(dv(col("cumulative_revenue_d"), col("grand_total_revenue_d")) * 100, 2)
        .as("cumulative_pct"),
      rnd(dv(col("revenue_rank"), col("total_customers")) * 100, 2)
        .as("customer_percentile"),
      when(dv(col("cumulative_revenue_d"), col("grand_total_revenue_d")) <= 0.80, "top_80_pct")
        .when(dv(col("cumulative_revenue_d"), col("grand_total_revenue_d")) <= 0.95, "middle_15_pct")
        .otherwise("bottom_5_pct").as("pareto_tier"))
  }

  /** Reference models/reports/customer_cohort_retention.sql — served from
    * the customer/customer-month rollups: cohort month = month of the
    * rolled-up first_order_date; activity months are exactly the
    * customer-month rollup's keys (one row per customer-month, so the
    * distinct-customer counts become plain row counts). */
  def customerCohortRetention(ctx: Ctx): DataFrame = {
    val cohort = Rollups.customerOrders(ctx).select(col("customer_key"),
      date_trunc("month", col("first_order_date")).cast(DateType).as("cohort_month"))
    val activity = Rollups.customerMonth(ctx)
      .select(col("customer_key"), col("order_month").as("activity_month"))
    val cohortActivity = cohort.join(activity, Seq("customer_key"))
      .groupBy(col("cohort_month"), col("activity_month"),
        ((year(col("activity_month")) - year(col("cohort_month"))) * 12
          + month(col("activity_month")) - month(col("cohort_month")))
          .as("period_number"))
      .agg(count(lit(1)).as("active_customers"))
    val sizes = cohort.groupBy("cohort_month")
      .agg(count(lit(1)).as("cohort_size"))
    cohortActivity.join(sizes, Seq("cohort_month"))
      .select(
        col("cohort_month"), col("activity_month"), col("period_number"),
        col("cohort_size"), col("active_customers"),
        rnd(dv(col("active_customers"), col("cohort_size")) * 100, 2)
          .as("retention_pct"))
  }

  /** Reference models/reports/customer_churn_risk.sql — served from the
    * customer rollup with NO per-customer lag window: consecutive-order
    * gaps telescope, so sum(gap) == datediff(last, first) and the non-null
    * gap count is order_count - 1 — avgE(gap) is exactly
    * datediff(last, first) / (order_count - 1), guarded to NULL for
    * single-order customers like the window form (whose only gap is NULL). */
  def customerChurnRisk(ctx: Ctx): DataFrame = {
    val r = Rollups.customerOrders(ctx)
    val cadence = r.select(
      col("customer_key"), col("order_count").as("total_orders"),
      when(col("order_count") > 1,
        dv(datediff(col("last_order_date"), col("first_order_date")),
          col("order_count") - 1)).as("avg_days_between_orders"),
      col("last_order_date"))
    val ref = r.agg(max("last_order_date").as("reference_date"))
    val dsl = datediff(col("reference_date"), col("last_order_date"))
    cadence.crossJoin(ref)
      .join(Wh.dimCustomer(ctx)
        .select("customer_key", "customer_name", "customer_nation_name",
          "customer_market_segment_name"), Seq("customer_key"))
      .select(
        col("customer_key"), col("customer_name"), col("customer_nation_name"),
        col("customer_market_segment_name"), col("total_orders"),
        col("last_order_date"),
        dsl.as("days_since_last_order"),
        rnd(col("avg_days_between_orders"), 1).as("avg_days_between_orders"),
        when(col("total_orders") <= 1, lit(null))
          .otherwise(rnd(dv(dsl, nullif(col("avg_days_between_orders"), lit(0d))), 2))
          .as("recency_ratio"),
        when(col("total_orders") <= 1, "insufficient_data")
          .when(dsl <= col("avg_days_between_orders"), "active")
          .when(dsl <= col("avg_days_between_orders") * 2, "at_risk")
          .otherwise("churned").as("churn_status"))
  }

  /** Reference models/reports/customer_geographic_summary.sql — served from
    * the customer rollup. The reference's customer ⟕ orders join repeats
    * each customer's balance once per order (once for orderless customers),
    * so its balance sum is Σ balance × max(order_count, 1) — reproduced
    * explicitly here. */
  def customerGeographicSummary(ctx: Ctx): DataFrame =
    Wh.dimCustomer(ctx)
      .select("customer_key", "customer_region_name", "customer_nation_name",
        "customer_account_balance")
      .join(Rollups.customerOrders(ctx)
        .select("customer_key", "order_count", "gross_d", "net_d"),
        Seq("customer_key"), "left")
      .groupBy(col("customer_region_name").as("region_name"),
        col("customer_nation_name").as("nation_name"))
      .agg(
        // customer grain in (dim ⟕ per-customer rollup), so the customer
        // distinct is a plain non-null count — no distinct machinery at all
        count(col("customer_key")).as("customer_count"),
        coalesce(sum("order_count"), lit(0L)).as("order_count"),
        sum("gross_d").cast("double").as("total_revenue"),
        sum("net_d").cast("double").as("total_net_revenue"),
        rnd(dv(sum("gross_d"), sum("order_count")), 2).as("avg_order_value"),
        rnd(dv(sum("gross_d"),
          nullifZero(count(col("customer_key")))), 2)
          .as("revenue_per_customer"),
        rnd(dv(coalesce(sum("order_count"), lit(0L)),
          nullifZero(count(col("customer_key")))), 2)
          .as("orders_per_customer"),
        sum(col("customer_account_balance") * coalesce(col("order_count"), lit(1L)))
          .cast("double").as("total_account_balance"))

  /** Reference models/reports/customer_purchase_frequency_bands.sql. */
  def customerPurchaseFrequencyBands(ctx: Ctx): DataFrame = {
    val co = Rollups.customerOrders(ctx).select(col("customer_key"),
      col("order_count"), col("gross_d").as("total_revenue_d"))
    val banded = co.withColumn("frequency_band",
      when(col("order_count") === 1, "one_time")
        .when(col("order_count").between(2, 5), "occasional")
        .when(col("order_count").between(6, 15), "regular")
        .when(col("order_count") > 15, "power_buyer"))
    val agg = banded.groupBy("frequency_band").agg(
      count(lit(1)).as("customer_count"),
      sum("total_revenue_d").as("band_total_revenue_d"),
      avgE(col("total_revenue_d")).as("avg_revenue_per_customer_d"),
      avgE(col("order_count")).as("avg_orders_per_customer"),
      min("order_count").as("min_orders"),
      max("order_count").as("max_orders"))
    val wAll = Window.partitionBy()
    agg.select(
      col("frequency_band"), col("customer_count"),
      rnd(dv(col("customer_count"), sum("customer_count").over(wAll)) * 100, 2)
        .as("pct_of_customers"),
      col("band_total_revenue_d").cast("double").as("band_total_revenue"),
      rnd(dv(col("band_total_revenue_d"), sum("band_total_revenue_d").over(wAll)) * 100, 2)
        .as("pct_of_revenue"),
      rnd(col("avg_revenue_per_customer_d"), 2).as("avg_revenue_per_customer"),
      col("avg_orders_per_customer"), col("min_orders"), col("max_orders"))
  }

  /** Reference models/reports/customer_rfm_segments.sql. ntile ORDER BYs get
    * customer_key tie-breaks (both engines) for determinism. Each of the
    * three global ntiles is derived from a two-phase
    * [[graft.operators.Scale.globalOrder]] row number + the NTILE bucket
    * formula — no single-partition window over the customer relation. */
  def customerRfmSegments(ctx: Ctx): DataFrame = {
    val r = Rollups.customerOrders(ctx)
    val om = r.select(col("customer_key"),
      col("last_order_date"), col("order_count").as("frequency"),
      col("gross_d").as("monetary_d"))
    val ref = r.agg(max("last_order_date").as("reference_date"))
    val withRecency = om.crossJoin(ref)
      .withColumn("recency_days", datediff(col("reference_date"), col("last_order_date")))
    // a plan built inside a Store.reads capture is never run
    val base = if (graft.Store.capturing) withRecency
      else withRecency.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the three global orderings are independent: compute each row number
    // over a minimal two-column projection of the cached base and join the
    // branches back on the key — same bit-exact ntile inputs as a chained
    // pass. Recency (day counts: a wide discrete domain whose per-value
    // groups are bounded by daily order volume) uses the cheaper
    // value-distribution rewrite — no sampling pass, no range repartition.
    // Frequency's domain is a tiny set of order counts (whole value groups
    // would funnel through single window tasks at scale) and monetary is a
    // near-unique decimal sum (distribution degenerates): both keep the
    // full two-phase range ordering, which splits heavy/unique values
    // across ranges via the tie-break.
    val rnRecency =
      Scale.rnByValueDistribution(
          base.select(col("customer_key"), col("recency_days")),
          value = "recency_days", desc = true, tie = Seq(col("customer_key")),
          rn = "__rn_r", totalCount = Some("__n"))
        .select(col("customer_key"), col("__rn_r"), col("__n"))
    def rnRange(name: String, ordCol: String) =
      Scale.globalOrder(base.select(col("customer_key"), col(ordCol)),
        order = Seq(col(ordCol), col("customer_key")),
        rn = Some(name), persistInput = false)
        .select(col("customer_key"), col(name))
    val withRns = base
      .join(rnRecency, Seq("customer_key"))
      .join(rnRange("__rn_f", "frequency"), Seq("customer_key"))
      .join(rnRange("__rn_m", "monetary_d"), Seq("customer_key"))
    val scored = withRns
      .withColumn("r_score", Scale.ntileFromRowNumber(col("__rn_r"), col("__n"), 5))
      .withColumn("f_score", Scale.ntileFromRowNumber(col("__rn_f"), col("__n"), 5))
      .withColumn("m_score", Scale.ntileFromRowNumber(col("__rn_m"), col("__n"), 5))
      .drop("__rn_r", "__rn_f", "__rn_m", "__n")
    scored
      .join(Wh.dimCustomer(ctx)
        .select("customer_key", "customer_name", "customer_nation_name",
          "customer_market_segment_name"), Seq("customer_key"))
      .select(
        col("customer_key"), col("customer_name"), col("customer_nation_name"),
        col("customer_market_segment_name"), col("last_order_date"),
        col("recency_days"), col("frequency"),
        col("monetary_d").cast("double").as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") + col("f_score") + col("m_score")).as("rfm_total"),
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
          .when(col("r_score") >= 3 && col("f_score") >= 3 && col("m_score") >= 3, "loyal")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "new_customer")
          .when(col("r_score") >= 3 && col("f_score") >= 3 && col("m_score") <= 2, "potential_loyalist")
          .when(col("r_score") <= 2 && col("f_score") >= 3 && col("m_score") >= 3, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") >= 4 && col("m_score") >= 4, "cant_lose_them")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("need_attention").as("rfm_segment"))
  }

  /** Split-branch COUNT(DISTINCT) recombine — the shared shape behind
    * [[partTypePerformance]] (see there for the why and the SF10 A/B),
    * [[fulfillmentPriorityAnalysis]] and [[discountDepthAnalysis]]:
    * appends order/customer distinct counts to a map-side `sums` branch via
    * ONE narrow (gk…, order_key, customer_key) distinct. That distinct is
    * order grain (customer_key is functional on order_key), so the row
    * count IS the order count and the one remaining customer distinct
    * takes Spark's two-phase no-Expand path. The recombine is NULL-SAFE
    * (`<=>`) on every group key: a null group attribute forms a group in
    * each branch and must survive exactly like a single-pass groupBy would
    * have kept it. */
  private def joinOrderCustomerDistincts(sums: DataFrame, items: DataFrame,
      gk: Seq[String], orderAlias: String, customerAlias: String): DataFrame = {
    val ordCust = items.select((gk :+ "order_key" :+ "customer_key").map(col): _*)
      .distinct()
      .groupBy(gk.map(col): _*)
      .agg(count(col("order_key")).as(orderAlias),
        countDistinct(col("customer_key")).as(customerAlias))
      .select(gk.map(c => col(c).as(s"oc_$c")) :+ col(orderAlias) :+ col(customerAlias): _*)
    sums.join(ordCust, gk.map(c => col(c) <=> col(s"oc_$c")).reduce(_ && _))
      .drop(gk.map(c => s"oc_$c"): _*)
  }

  /** Reference models/reports/discount_depth_analysis.sql. */
  def discountDepthAnalysis(ctx: Ctx): DataFrame = {
    val items = Wh.fctOrdersItems(ctx).withColumn("discount_band",
      when(col("discount_percentage") === 0, "0_no_discount")
        .when(col("discount_percentage") <= 0.03, "1_low_1_3pct")
        .when(col("discount_percentage") <= 0.06, "2_medium_4_6pct")
        .when(col("discount_percentage") <= 0.08, "3_high_7_8pct")
        .otherwise("4_deep_9pct_plus"))
    // split-branch COUNT(DISTINCT) rewrite (joinOrderCustomerDistincts):
    // sums collapse map-side to the 5 bands; counts from the narrow distinct
    val sums = items.groupBy("discount_band").agg(
      count(lit(1)).as("line_item_count"),
      sum("quantity").cast("double").as("total_quantity"),
      sum("gross_item_sales_amount").cast("double").as("gross_revenue"),
      sum("discounted_item_sales_amount").cast("double").as("discounted_revenue"),
      sum(abs(col("item_discount_amount"))).cast("double").as("total_discount_given"),
      rnd(avgE(col("quantity")), 2).as("avg_quantity_per_item"),
      rnd(avgE(col("gross_item_sales_amount")), 2).as("avg_item_revenue"))
    val agg = joinOrderCustomerDistincts(sums, items, Seq("discount_band"),
      "distinct_orders", "distinct_customers")
    agg.withColumn("pct_of_items",
      rnd(dv(col("line_item_count"),
        sum("line_item_count").over(Window.partitionBy())) * 100, 2))
  }

  /** Reference models/reports/discount_effectiveness.sql. */
  def discountEffectiveness(ctx: Ctx): DataFrame = {
    val items = Wh.fctOrdersItems(ctx).select(
      col("order_key"), col("customer_key"), col("order_date"),
      (col("discount_percentage") > 0).as("is_discounted"),
      col("quantity"), col("gross_item_sales_amount"), col("item_discount_amount"))
    val orderLevel = items.groupBy("order_key", "customer_key", "order_date").agg(
      sum(when(col("is_discounted"), 1).otherwise(0)).as("discounted_lines"),
      sum(when(!col("is_discounted"), 1).otherwise(0)).as("full_price_lines"),
      sum("quantity").as("total_quantity_d"),
      sum("gross_item_sales_amount").as("gross_revenue_d"),
      sum(abs(col("item_discount_amount"))).as("discount_amount_d"))
      .withColumn("order_discount_type",
        when(col("discounted_lines") === 0, "all_full_price")
          .when(col("full_price_lines") === 0, "all_discounted")
          .otherwise("mixed"))
    orderLevel.groupBy("order_discount_type").agg(
      // orderLevel is order grain: distinct orders == non-null row count,
      // leaving a single distinct -> Spark's two-phase path, no Expand
      count(col("order_key")).as("order_count"),
      countDistinct(col("customer_key")).as("customer_count"),
      rnd(avgE(col("total_quantity_d")), 2).as("avg_items_per_order"),
      rnd(avgE(col("gross_revenue_d")), 2).as("avg_order_value"),
      sum("gross_revenue_d").cast("double").as("total_revenue"),
      sum("discount_amount_d").cast("double").as("total_discount_given"),
      rnd(dv(sum("discount_amount_d"), nullifZero(sum("gross_revenue_d"))) * 100, 2)
        .as("effective_discount_rate"))
  }

  /** Reference models/reports/fulfillment_priority_analysis.sql.
    *
    * Split-branch rewrite of the reference's two COUNT(DISTINCT) (see
    * [[partTypePerformance]] for the why and the A/B): sums/avgs/min/max
    * collapse map-side straight to the 35 group cells; order_count +
    * customer_count come from one narrow (gk, order_key, customer_key)
    * distinct — an order has one priority and is counted once per ship
    * mode it appears under, exactly like the distinct did; customer_key
    * is functional on order_key. No Expand, bit-identical results. */
  def fulfillmentPriorityAnalysis(ctx: Ctx): DataFrame = {
    val lineItems = Wh.fctOrdersItems(ctx)
      .select(col("order_key"), col("order_date"), col("ship_date"),
        col("ship_mode_name"), col("customer_key"), col("quantity"),
        col("gross_item_sales_amount"))
    val orders = Wh.fctOrders(ctx).select("order_key", "order_priority_code")
    val items = lineItems.join(orders, Seq("order_key"))
      .withColumn("fulfillment_days", datediff(col("ship_date"), col("order_date")))
    val gk = Seq("order_priority_code", "ship_mode_name")
    val sums = items.groupBy(gk.map(col): _*).agg(
      count(lit(1)).as("line_item_count"),
      sum("gross_item_sales_amount").cast("double").as("total_revenue"),
      rnd(avgE(col("fulfillment_days")), 1).as("avg_fulfillment_days"),
      min("fulfillment_days").as("min_fulfillment_days"),
      max("fulfillment_days").as("max_fulfillment_days"),
      rnd(avgE(col("quantity")), 1).as("avg_quantity_per_line"),
      sum(when(col("fulfillment_days") <= 7, 1).otherwise(0)).as("fulfilled_within_7d"),
      sum(when(col("fulfillment_days") <= 14, 1).otherwise(0)).as("fulfilled_within_14d"),
      rnd(dv(sum(when(col("fulfillment_days") <= 7, 1).otherwise(0)) * 100,
        count(lit(1))), 2).as("pct_within_7d"),
      rnd(dv(sum(when(col("fulfillment_days") <= 14, 1).otherwise(0)) * 100,
        count(lit(1))), 2).as("pct_within_14d"))
    // The distinct branch never needs line-grain data from the orders side:
    // order_priority_code is functional on order_key and fct_orders is
    // order-grain (PK), so distinct(mode, order, customer) THEN join-priority
    // emits exactly the rows distinct-after-join did — while the fact⋈fact
    // join is evaluated once at line grain (sums) and once at ORDER grain
    // here, instead of twice at line grain (guide §2.3: decide with small
    // rows). Null keys behave identically: a null order_key is dropped by
    // the equi-join in both forms, before or after the distinct.
    val ordCust = lineItems
      .select(col("ship_mode_name"), col("order_key"), col("customer_key"))
      .distinct()
      .join(orders, Seq("order_key"))
      .groupBy(gk.map(col): _*)
      .agg(count(col("order_key")).as("order_count"),
        countDistinct(col("customer_key")).as("customer_count"))
      .select(gk.map(c => col(c).as(s"oc_$c")) :+ col("order_count")
        :+ col("customer_count"): _*)
    sums.join(ordCust, gk.map(c => col(c) <=> col(s"oc_$c")).reduce(_ && _))
      .drop(gk.map(c => s"oc_$c"): _*)
      .select(
        col("order_priority_code"), col("ship_mode_name"),
        col("line_item_count"), col("order_count"), col("customer_count"),
        col("total_revenue"), col("avg_fulfillment_days"),
        col("min_fulfillment_days"), col("max_fulfillment_days"),
        col("avg_quantity_per_line"), col("fulfilled_within_7d"),
        col("fulfilled_within_14d"), col("pct_within_7d"), col("pct_within_14d"))
  }

  /** Reference models/reports/monthly_order_trends.sql — served from the
    * customer-month rollup: all of a customer's orders in one month share
    * the new/returning label (it compares the order's month to the first
    * order's month), so the split distributes over the rollup cells, and
    * the per-month distinct-customer counts are plain row counts. */
  def monthlyOrderTrends(ctx: Ctx): DataFrame = {
    val first = Rollups.customerOrders(ctx).select(col("customer_key"),
      date_trunc("month", col("first_order_date")).cast(DateType).as("first_month"))
    val cm = Rollups.customerMonth(ctx).join(first, Seq("customer_key"))
      .withColumn("is_new", col("order_month") === col("first_month"))
    val monthly = cm
      .groupBy("order_month")
      .agg(
        sum("orders_in_month").as("total_orders"),
        count(lit(1)).as("unique_customers"),
        sum(when(col("is_new"), 1).otherwise(0)).as("new_customers"),
        sum(when(!col("is_new"), 1).otherwise(0)).as("returning_customers"),
        sum("gross_d").as("total_revenue_d"),
        sum(when(col("is_new"), col("gross_d")).otherwise(lit(0)))
          .as("new_customer_revenue_d"),
        sum(when(!col("is_new"), col("gross_d")).otherwise(lit(0)))
          .as("returning_customer_revenue_d"),
        rnd(dv(sum("gross_d"), sum("orders_in_month")), 2).as("avg_order_value"))
    val wm = Window.orderBy("order_month")
    monthly
      .withColumn("prev_month_revenue_d", lag("total_revenue_d", 1).over(wm))
      .select(
        col("order_month"), col("total_orders"), col("unique_customers"),
        col("new_customers"), col("returning_customers"),
        col("total_revenue_d").cast("double").as("total_revenue"),
        col("new_customer_revenue_d").cast("double").as("new_customer_revenue"),
        col("returning_customer_revenue_d").cast("double").as("returning_customer_revenue"),
        col("avg_order_value"),
        col("prev_month_revenue_d").cast("double").as("prev_month_revenue"),
        rnd(dv(col("total_revenue_d") - col("prev_month_revenue_d"),
          nullifZero(col("prev_month_revenue_d"))) * 100, 2)
          .as("revenue_mom_growth_pct"))
  }

  /** Reference models/reports/monthly_revenue_kpis.sql (lag + rows frames). */
  def monthlyRevenueKpis(ctx: Ctx): DataFrame = {
    val monthly = Rollups.customerMonth(ctx)
      .groupBy("order_month")
      .agg(
        sum("orders_in_month").as("order_count"),
        count(lit(1)).as("unique_customers"),
        sum("gross_d").as("gross_revenue_d"),
        sum("net_d").cast("double").as("net_revenue"),
        sum("discount_d").cast("double").as("total_discounts"),
        rnd(dv(sum("gross_d"), sum("orders_in_month")), 2).as("avg_order_value"))
    val wm = Window.orderBy("order_month")
    val w3 = wm.rowsBetween(-2, 0)
    val wCum = wm.rowsBetween(Window.unboundedPreceding, 0)
    monthly
      .withColumn("prev_month_revenue_d", lag("gross_revenue_d", 1).over(wm))
      .select(
        col("order_month"), col("order_count"), col("unique_customers"),
        col("gross_revenue_d").cast("double").as("gross_revenue"),
        col("net_revenue"), col("total_discounts"), col("avg_order_value"),
        col("prev_month_revenue_d").cast("double").as("prev_month_revenue"),
        rnd(dv(col("gross_revenue_d") - col("prev_month_revenue_d"),
          nullifZero(col("prev_month_revenue_d"))) * 100, 2)
          .as("revenue_mom_growth_pct"),
        rnd(dv(sum("gross_revenue_d").over(w3), count(lit(1)).over(w3)), 2)
          .as("rolling_3m_avg_revenue"),
        sum("gross_revenue_d").over(wCum).cast("double").as("cumulative_revenue"))
  }

  /** Reference models/reports/order_status_funnel.sql. */
  def orderStatusFunnel(ctx: Ctx): DataFrame = {
    // fct_orders is order grain (schema gate pins o_orderkey unique), so
    // the order distinct is a plain non-null count; the one remaining
    // customer distinct takes Spark's two-phase path — no Expand
    val agg = Wh.fctOrders(ctx).groupBy("order_status_code").agg(
      count(col("order_key")).as("order_count"),
      sum("gross_item_sales_amount").as("total_revenue_d"),
      rnd(avgE(col("gross_item_sales_amount")), 2).as("avg_order_value"),
      countDistinct(col("customer_key")).as("unique_customers"))
    val wAll = Window.partitionBy()
    agg.select(
      col("order_status_code"), col("order_count"),
      rnd(dv(col("order_count"), sum("order_count").over(wAll)) * 100, 2)
        .as("pct_of_orders"),
      col("total_revenue_d").cast("double").as("total_revenue"),
      rnd(dv(col("total_revenue_d"), sum("total_revenue_d").over(wAll)) * 100, 2)
        .as("pct_of_revenue"),
      col("avg_order_value"), col("unique_customers"))
  }

  /** Reference models/reports/part_abc_classification.sql: the RANGE-framed
    * running sum keeps the reference's tie-sharing semantics, recovered from
    * the two-phase [[graft.operators.Scale.globalOrder]] ROWS cumsum (no
    * single-partition window over the per-part relation); row_number gets a
    * part_key tie-break. */
  def partAbcClassification(ctx: Ctx): DataFrame = {
    val rev = Rollups.partMonth(ctx).groupBy("part_key")
      .agg(
        sum("gross_d").as("total_revenue_d"),
        sum("units_d").as("total_quantity_d"),
        // months partition a part's orders → distinct counts roll up
        sum("order_count").as("order_count"))
      .join(Wh.dimPart(ctx).select("part_key", "part_name", "part_type_name",
        "part_brand_name"), Seq("part_key"))
    val ranked = Scale.globalOrder(rev,
        order = Seq(col("total_revenue_d").desc, col("part_key")),
        rn = Some("revenue_rank"),
        cums = Seq("total_revenue_d" -> "rows_cum_d"),
        totals = Seq("total_revenue_d" -> "grand_total_d"))
      .withColumn("running_total_d",
        Scale.rangeCumFromRowsCum(col("rows_cum_d"), Seq(col("total_revenue_d"))))
    ranked.select(
      col("revenue_rank"), col("part_key"), col("part_name"),
      col("part_type_name"), col("part_brand_name"),
      col("total_revenue_d").cast("double").as("total_revenue"),
      col("total_quantity_d").cast("double").as("total_quantity"),
      col("order_count"),
      rnd(dv(col("total_revenue_d"), col("grand_total_d")) * 100, 4)
        .as("pct_of_revenue"),
      rnd(dv(col("running_total_d"), col("grand_total_d")) * 100, 2)
        .as("cumulative_pct"),
      when(dv(col("running_total_d"), col("grand_total_d")) <= 0.80, "A")
        .when(dv(col("running_total_d"), col("grand_total_d")) <= 0.95, "B")
        .otherwise("C").as("abc_class"))
  }

  /** Reference models/reports/part_sales_velocity.sql (ntile quartiles,
    * two-phase via [[graft.operators.Scale]] — no single-partition window
    * over the per-part relation). */
  def partSalesVelocity(ctx: Ctx): DataFrame = {
    val monthly = Rollups.partMonth(ctx).select(col("part_key"),
      col("order_month"), col("units_d").as("monthly_units_d"),
      col("gross_d").as("monthly_revenue_d"))
    val stats = monthly.groupBy("part_key").agg(
      count(lit(1)).as("active_months"), // rollup is unique per part-month
      sum("monthly_units_d").as("total_units_d"),
      sum("monthly_revenue_d").as("total_revenue_d"),
      avgE(col("monthly_units_d")).as("avg_monthly_units"),
      avgE(col("monthly_revenue_d")).as("avg_monthly_revenue"))
    Scale.globalOrder(
        stats.join(Wh.dimPart(ctx).select("part_key", "part_name",
          "part_type_name", "part_brand_name"), Seq("part_key")),
        order = Seq(col("avg_monthly_units"), col("part_key")),
        rn = Some("__rn"), totalCount = Some("__n"))
      .withColumn("velocity_quartile",
        Scale.ntileFromRowNumber(col("__rn"), col("__n"), 4))
      .select(
        col("part_key"), col("part_name"), col("part_type_name"),
        col("part_brand_name"), col("active_months"),
        col("total_units_d").cast("double").as("total_units"),
        col("total_revenue_d").cast("double").as("total_revenue"),
        rnd(col("avg_monthly_units"), 2).as("avg_monthly_units"),
        rnd(col("avg_monthly_revenue"), 2).as("avg_monthly_revenue"),
        col("velocity_quartile"),
        when(col("velocity_quartile") === 4, "fast_mover")
          .when(col("velocity_quartile") === 3, "moderate")
          .when(col("velocity_quartile") === 2, "slow_mover")
          .otherwise("very_slow").as("velocity_category"))
  }

  /** Reference models/reports/regional_trade_balance.sql (double full outer
    * join with coalesced keys). */
  def regionalTradeBalance(ctx: Ctx): DataFrame = {
    val flows = Rollups.nationFlows(ctx)
      .groupBy(
        col("supplier_nation_name").as("exporter_nation"),
        col("supplier_region_name").as("exporter_region"),
        col("customer_nation_name").as("importer_nation"),
        col("customer_region_name").as("importer_region"))
      .agg(
        sum("gross_d").as("trade_value"),
        sum("qty_d").as("trade_volume"))
    val cross = flows.filter(col("exporter_nation") =!= col("importer_nation"))
    val exports = cross.groupBy(
      col("exporter_nation").as("e_nation"), col("exporter_region").as("e_region"))
      .agg(sum("trade_value").as("export_value_d"), sum("trade_volume").as("export_volume_d"))
    val imports = cross.groupBy(
      col("importer_nation").as("i_nation"), col("importer_region").as("i_region"))
      .agg(sum("trade_value").as("import_value_d"), sum("trade_volume").as("import_volume_d"))
    val domestic = flows.filter(col("exporter_nation") === col("importer_nation"))
      .groupBy(col("exporter_nation").as("d_nation"), col("exporter_region").as("d_region"))
      .agg(sum("trade_value").as("domestic_value_d"), sum("trade_volume").as("domestic_volume_d"))
    val j = exports
      .join(imports, col("e_nation") === col("i_nation"), "full_outer")
      .join(domestic,
        coalesce(col("e_nation"), col("i_nation")) === col("d_nation"), "full_outer")
    val totalActivity = coalesce(col("export_value_d"), lit(0)) +
      coalesce(col("import_value_d"), lit(0)) +
      coalesce(col("domestic_value_d"), lit(0))
    j.select(
      coalesce(col("e_nation"), col("i_nation"), col("d_nation")).as("nation"),
      coalesce(col("e_region"), col("i_region"), col("d_region")).as("region"),
      coalesce(col("export_value_d"), lit(0)).cast("double").as("export_value"),
      coalesce(col("import_value_d"), lit(0)).cast("double").as("import_value"),
      coalesce(col("domestic_value_d"), lit(0)).cast("double").as("domestic_value"),
      (coalesce(col("export_value_d"), lit(0)) - coalesce(col("import_value_d"), lit(0)))
        .cast("double").as("trade_balance"),
      coalesce(col("export_volume_d"), lit(0)).cast("double").as("export_volume"),
      coalesce(col("import_volume_d"), lit(0)).cast("double").as("import_volume"),
      coalesce(col("domestic_volume_d"), lit(0)).cast("double").as("domestic_volume"),
      rnd(dv(coalesce(col("domestic_value_d"), lit(0)) * 100,
        nullifZero(totalActivity)), 2).as("domestic_share_pct"),
      when(coalesce(col("export_value_d"), lit(0)) > coalesce(col("import_value_d"), lit(0)), "surplus")
        .when(coalesce(col("export_value_d"), lit(0)) < coalesce(col("import_value_d"), lit(0)), "deficit")
        .otherwise("balanced").as("trade_position"))
  }

  /** Reference models/reports/repeat_purchase_analysis.sql. */
  def repeatPurchaseAnalysis(ctx: Ctx): DataFrame = {
    val w = Window.partitionBy("customer_key").orderBy("order_date", "order_key")
    val seq = Wh.fctOrders(ctx).select(
      col("customer_key"), col("order_key"), col("order_date"),
      col("gross_item_sales_amount"),
      row_number().over(w).as("order_sequence"),
      lag("order_date", 1).over(w).as("prev_order_date"))
    val gaps = seq.withColumn("days_since_prev_order",
      datediff(col("order_date"), col("prev_order_date")))
    gaps.groupBy("order_sequence").agg(
      count(lit(1)).as("order_count"),
      countDistinct(col("customer_key")).as("customer_count"),
      rnd(avgE(col("gross_item_sales_amount")), 2).as("avg_order_value"),
      rnd(avgE(col("days_since_prev_order")), 1).as("avg_days_since_prev"),
      sum(when(col("days_since_prev_order") <= 30, 1).otherwise(0)).as("repeat_within_30d"),
      sum(when(col("days_since_prev_order") <= 60, 1).otherwise(0)).as("repeat_within_60d"),
      sum(when(col("days_since_prev_order") <= 90, 1).otherwise(0)).as("repeat_within_90d"))
  }

  /** Reference models/reports/supplier_revenue_ranking.sql (global +
    * partitioned rank in one select). The global rank and grand-total share
    * come from the two-phase [[graft.operators.Scale]] row number (rank =
    * min row number per tie group); the nation rank keeps its naturally
    * partitioned window. */
  def supplierRevenueRanking(ctx: Ctx): DataFrame = {
    val sr = Rollups.supplierSales(ctx)
      .join(Wh.dimSupplier(ctx)
        .select("supplier_key", "supplier_name", "supplier_nation_name",
          "supplier_region_name"), Seq("supplier_key"))
      .select(col("supplier_key"), col("supplier_name"),
        col("supplier_nation_name"), col("supplier_region_name"),
        col("gross_d").as("total_revenue_d"),
        col("order_count"), col("part_count").as("parts_sold"))
    val nt = sr.groupBy("supplier_nation_name")
      .agg(sum("total_revenue_d").as("nation_total_revenue_d"))
    Scale.globalOrder(sr.join(nt, Seq("supplier_nation_name")),
        order = Seq(col("total_revenue_d").desc, col("supplier_key")),
        rn = Some("__rn"),
        totals = Seq("total_revenue_d" -> "__grand_total_d"))
      .select(
        col("supplier_key"), col("supplier_name"), col("supplier_nation_name"),
        col("supplier_region_name"),
        col("total_revenue_d").cast("double").as("total_revenue"),
        col("order_count"), col("parts_sold"),
        Scale.rankFromRowNumber(col("__rn"), Seq(col("total_revenue_d")))
          .as("global_rank"),
        rank().over(Window.partitionBy("supplier_nation_name")
          .orderBy(col("total_revenue_d").desc)).as("nation_rank"),
        col("nation_total_revenue_d").cast("double").as("nation_total_revenue"),
        rnd(dv(col("total_revenue_d"), col("nation_total_revenue_d")) * 100, 2)
          .as("nation_market_share_pct"),
        rnd(dv(col("total_revenue_d"), col("__grand_total_d")) * 100, 4)
          .as("global_market_share_pct"))
  }

  /** Reference models/reports/supply_chain_network.sql (trade edges). */
  def supplyChainNetwork(ctx: Ctx): DataFrame = {
    val edges = Wh.fctOrdersItems(ctx)
      .groupBy("supplier_key", "part_key", "customer_key")
      .agg(
        count(lit(1)).as("shipment_count"),
        sum("quantity").as("total_quantity_d"),
        sum("gross_item_sales_amount").as("total_revenue_d"))
    edges
      .join(Wh.dimSupplier(ctx)
        .select("supplier_key", "supplier_name", "supplier_nation_name",
          "supplier_region_name"), Seq("supplier_key"))
      .join(Wh.dimPart(ctx).select("part_key", "part_name", "part_type_name"),
        Seq("part_key"))
      .join(Wh.dimCustomer(ctx)
        .select("customer_key", "customer_name", "customer_nation_name",
          "customer_region_name"), Seq("customer_key"))
      .select(
        col("supplier_key"), col("supplier_name"),
        col("supplier_nation_name").as("supplier_nation"),
        col("part_key"), col("part_name"), col("part_type_name"),
        col("customer_key"), col("customer_name"),
        col("customer_nation_name").as("customer_nation"),
        col("shipment_count"),
        col("total_quantity_d").cast("double").as("total_quantity"),
        col("total_revenue_d").cast("double").as("total_revenue"),
        when(col("supplier_nation_name") === col("customer_nation_name"), "domestic")
          .when(col("supplier_region_name") === col("customer_region_name"), "intra_regional")
          .otherwise("inter_regional").as("trade_type"))
  }

  /** Reference models/reports/inventory_turnover.sql. */
  def inventoryTurnover(ctx: Ctx): DataFrame = {
    val sales = Wh.fctOrdersItems(ctx)
      .groupBy("part_key", "supplier_key")
      .agg(sum("quantity").as("units_sold_d"),
        sum("gross_item_sales_amount").as("revenue_d"))
    val ratio = dv(col("units_sold_d"), col("available_quantity"))
    sales
      .join(Ods.partsSuppliers(ctx).select(col("part_key"), col("supplier_key"),
        col("supplier_availabe_quantity").as("available_quantity"),
        col("supplier_cost_amount").as("supply_cost")),
        Seq("part_key", "supplier_key"))
      .join(Wh.dimPart(ctx).select("part_key", "part_name", "part_type_name"),
        Seq("part_key"))
      .join(Wh.dimSupplier(ctx).select("supplier_key", "supplier_name"),
        Seq("supplier_key"))
      .select(
        col("part_key"), col("part_name"), col("part_type_name"),
        col("supplier_key"), col("supplier_name"), col("available_quantity"),
        col("supply_cost"),
        col("units_sold_d").cast("double").as("units_sold"),
        col("revenue_d").cast("double").as("revenue"),
        rnd(dv(col("units_sold_d"), nullifZero(col("available_quantity"))), 2)
          .as("turnover_ratio"),
        when(col("available_quantity") === 0, "out_of_stock")
          .when(ratio > 2, "fast_mover")
          .when(ratio > 0.5, "normal")
          .when(ratio > 0, "slow_mover")
          .otherwise("dead_stock").as("turnover_category"))
  }

  /** Reference models/reports/supplier_concentration_risk.sql. */
  def supplierConcentrationRisk(ctx: Ctx): DataFrame = {
    val ps = Wh.dimPartSupplierXrf(ctx)
      .select("part_key", "supplier_key", "supplier_availabe_quantity")
    val counts = ps.groupBy("part_key").agg(
      countDistinct(col("supplier_key")).as("supplier_count"),
      sum("supplier_availabe_quantity").as("total_available_qty"))
    val share = rnd(dv(col("supplier_availabe_quantity"),
      nullifZero(col("total_available_qty"))) * 100, 2)
    ps.join(counts, Seq("part_key"))
      .join(Wh.dimPart(ctx).select("part_key", "part_name", "part_type_name"),
        Seq("part_key"))
      .join(Wh.dimSupplier(ctx)
        .select("supplier_key", "supplier_name", "supplier_nation_name"),
        Seq("supplier_key"))
      .select(
        col("part_key"), col("part_name"), col("part_type_name"),
        col("supplier_key"), col("supplier_name"), col("supplier_nation_name"),
        col("supplier_count").as("total_suppliers_for_part"),
        col("supplier_availabe_quantity"),
        col("total_available_qty").as("part_total_supply"),
        share.as("supply_share_pct"),
        when(col("supplier_count") === 1, "single_source")
          .when(share > 80, "dominant_supplier")
          .when(col("supplier_count") <= 3, "limited_sources")
          .otherwise("diversified").as("concentration_risk"))
  }

  /** Reference models/reports/part_type_performance.sql.
    *
    * The reference's 3 COUNT(DISTINCT ...) in one GROUP BY would plan as an
    * Expand that quadruples the 60M-row fact before aggregating. Split into
    * three branches instead, each the cheapest shape for its aggregate
    * (values bit-identical — exact decimal/long sums; same-JVM A/B at SF10,
    * PERF_NOTES_r7/r8.md: 51 s Expand / 20-22 s this form, same hashes):
    *  1. sums/avgs collapse map-side straight to the ~450 group cells;
    *  2. order_count + customer_count come from ONE narrow
    *     (gk, order_key, customer_key) distinct — customer_key is
    *     functional on order_key so the distinct is order grain, the row
    *     count is the order count, and the one remaining customer distinct
    *     takes Spark's two-phase no-Expand path;
    *  3. part_count from a distinct-part branch (part attrs determine gk,
    *     so distinct (gk, part) == distinct fact parts joined to the dim).
    * Branch recombines are null-safe on the group key: a null dim
    * attribute forms a group in every branch and must survive exactly like
    * the single-pass groupBy would have kept it. */
  def partTypePerformance(ctx: Ctx): DataFrame = {
    val sizeCat = when(col("part_size") <= 10, "small")
      .when(col("part_size") <= 30, "medium")
      .otherwise("large").as("size_category")
    val dim = Wh.dimPart(ctx)
      .select(col("part_key"), col("part_type_name"), col("part_brand_name"), sizeCat)
    val fact = Wh.fctOrdersItems(ctx).select(
      "part_key", "order_key", "customer_key", "quantity",
      "gross_item_sales_amount", "base_price", "discount_percentage",
      "supplier_cost_amount")
    val gk = Seq("part_type_name", "part_brand_name", "size_category")
    val joined = fact.join(dim, Seq("part_key"))
    val sums = joined.groupBy(gk.map(col): _*).agg(
      count(lit(1)).as("line_item_count"),
      sum("quantity").cast("double").as("total_units"),
      sum("gross_item_sales_amount").cast("double").as("total_revenue"),
      rnd(avgE(col("base_price")), 2).as("avg_unit_price"),
      rnd(avgE(col("discount_percentage")) * 100, 2).as("avg_discount_pct"),
      sum(col("gross_item_sales_amount") - col("supplier_cost_amount") * col("quantity"))
        .cast("double").as("total_profit"))
    val partCounts = fact.select("part_key").distinct()
      .join(dim, Seq("part_key"))
      .groupBy(gk.map(col): _*)
      .agg(count(lit(1)).as("part_count"))
      .select(gk.map(c => col(c).as(s"pc_$c")) :+ col("part_count"): _*)
    joinOrderCustomerDistincts(sums, joined, gk, "order_count", "customer_count")
      .join(partCounts, gk.map(c => col(c) <=> col(s"pc_$c")).reduce(_ && _))
      .select(
        col("part_type_name"), col("part_brand_name"), col("size_category"),
        col("part_count"), col("line_item_count"), col("order_count"),
        col("customer_count"), col("total_units"), col("total_revenue"),
        col("avg_unit_price"), col("avg_discount_pct"), col("total_profit"))
  }

  /** Reference models/reports/supplier_lead_time_distribution.sql:
    * percentile_cont (exact linear interpolation, Spark >= 3.4 SQL) +
    * deterministic stddev (Macros.stddevE). */
  def supplierLeadTimeDistribution(ctx: Ctx): DataFrame = {
    val sh = Wh.fctOrdersItems(ctx)
      .filter(col("receipt_date").isNotNull)
      .select(col("supplier_key"),
        datediff(col("receipt_date"), col("order_date")).as("lead_time_days"),
        datediff(col("ship_date"), col("order_date")).as("processing_days"),
        datediff(col("receipt_date"), col("ship_date")).as("transit_days"))
    sh.join(Wh.dimSupplier(ctx)
        .select("supplier_key", "supplier_name", "supplier_nation_name"),
        Seq("supplier_key"))
      .groupBy("supplier_key", "supplier_name", "supplier_nation_name")
      .agg(
        count(lit(1)).as("shipment_count"),
        rnd(avgE(col("lead_time_days")), 1).as("avg_lead_time"),
        rnd(avgE(col("processing_days")), 1).as("avg_processing_days"),
        rnd(avgE(col("transit_days")), 1).as("avg_transit_days"),
        min("lead_time_days").as("min_lead_time"),
        max("lead_time_days").as("max_lead_time"),
        expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY lead_time_days)")
          .as("p50_lead_time"),
        expr("percentile_cont(0.90) WITHIN GROUP (ORDER BY lead_time_days)")
          .as("p90_lead_time"),
        expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY lead_time_days)")
          .as("p95_lead_time"),
        rnd(stddevE(col("lead_time_days")), 2).as("lead_time_stddev"),
        // reference divides by NULLIF(avg, 0) (supplier_lead_time_
        // distribution.sql:27); without the guard a zero-mean group kills
        // the whole build under ANSI mode (found by the SF10 synth sweep)
        rnd(stddevE(col("lead_time_days")) /
            nullifZero(avgE(col("lead_time_days"))), 3)
          .as("lead_time_cv"))
  }

  /** Reference models/reports/supplier_scorecard.sql — revenue AND delivery
    * measures come from the single supplier rollup. The reference's delivery
    * CTE filters receipt_date IS NOT NULL before aggregating, so a supplier
    * with sales but zero receipted shipments is ABSENT from it (NULL after
    * the left join); the rollup row exists with shipments = 0, so the
    * shipment-derived outputs are guarded back to NULL to match. */
  def supplierScorecard(ctx: Ctx): DataFrame = {
    val shipped = col("shipments") > 0
    val inventory = Wh.dimPartSupplierXrf(ctx).groupBy("supplier_key").agg(
      sum("supplier_availabe_quantity").as("total_available_qty_d"),
      avgE(col("supplier_cost_amount")).as("avg_supply_cost_d"))
    Wh.dimSupplier(ctx)
      .join(Rollups.supplierSales(ctx), Seq("supplier_key"), "left")
      .join(inventory, Seq("supplier_key"), "left")
      .select(
        col("supplier_key"), col("supplier_name"), col("supplier_nation_name"),
        col("supplier_region_name"), col("supplier_account_balance"),
        col("gross_d").cast("double").as("total_revenue"),
        col("net_d").cast("double").as("total_net_revenue"),
        col("order_count"), col("customer_count").as("customer_reach"),
        col("part_count").as("parts_supplied"),
        when(shipped, col("shipments")).as("total_shipments"),
        when(shipped, col("on_time_deliveries")).as("on_time_shipments"),
        rnd(dv(when(shipped, col("on_time_deliveries")),
          nullifZero(when(shipped, col("shipments")))) * 100, 2)
          .as("on_time_pct"),
        when(shipped, col("returned_with_receipt")).as("returned_items"),
        rnd(dv(when(shipped, col("returned_with_receipt")),
          nullifZero(when(shipped, col("shipments")))) * 100, 2)
          .as("return_rate_pct"),
        rnd(dv(col("transit_sum"), col("transit_cnt")), 1).as("avg_transit_days"),
        rnd(dv(col("delay_sum"), col("delay_cnt")), 1).as("avg_delay_days"),
        coalesce(col("total_available_qty_d"), lit(0L)).as("total_available_qty"),
        rnd(col("avg_supply_cost_d"), 2).as("avg_supply_cost"))
  }

  /** Reference models/reports/tax_and_discount_leakage.sql. */
  def taxAndDiscountLeakage(ctx: Ctx): DataFrame =
    Wh.fctOrdersItems(ctx)
      .join(Wh.dimCustomer(ctx)
        .select("customer_key", "customer_region_name", "customer_nation_name"),
        Seq("customer_key"))
      .groupBy(col("customer_region_name").as("region_name"),
        col("customer_nation_name").as("nation_name"))
      .agg(
        count(lit(1)).as("line_item_count"),
        sum("gross_item_sales_amount").cast("double").as("gross_revenue"),
        sum(abs(col("item_discount_amount"))).cast("double").as("total_discounts"),
        sum("item_tax_amount").cast("double").as("total_tax"),
        sum("net_item_sales_amount").cast("double").as("net_revenue"),
        rnd(dv(sum(abs(col("item_discount_amount"))),
          nullifZero(sum("gross_item_sales_amount"))) * 100, 2).as("discount_rate_pct"),
        rnd(dv(sum("item_tax_amount"),
          nullifZero(sum("gross_item_sales_amount"))) * 100, 2).as("effective_tax_rate_pct"),
        rnd(dv(sum("net_item_sales_amount"),
          nullifZero(sum("gross_item_sales_amount"))) * 100, 2).as("net_retention_pct"))
}
