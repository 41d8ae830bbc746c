package graft.layers

import graft.{Ctx, Store, Macros => M}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType}

/** Shared fact-grain rollups — the twin of the reference's dbt `table`-layer
  * reuse (reference dbt_project.yml:31-40: materialized mid-DAG tables serve
  * every downstream model instead of each one re-deriving the fact scan).
  *
  * Before this layer, each metrics/reports model re-aggregated the cached
  * facts: ~20 models × a 60M-row `fct_orders_items` scan + shuffle at SF10
  * was the dominant cost of the cold full build (1174 s, per-table breakdown
  * in COVERAGE.md). Each rollup here is computed ONCE per session
  * ([[graft.Store.table]] boundary — a bucketed-parquet write at cluster
  * scale) and serves all its consumers from grain-reduced relations that are
  * orders of magnitude smaller than the facts.
  *
  * Exactness contract (the DuckDB-oracle hash gate stays closed):
  *  - decimal sums are associative — regrouping partial sums by a finer
  *    grain first never changes the total;
  *  - COUNT(DISTINCT order_key) rolls up across months/customers because an
  *    order has exactly one customer and one order_date (hence one month):
  *    the finer groups PARTITION each coarser group's distinct set;
  *  - `fct_orders` is order-grain (order_key unique, enforced by
  *    [[graft.Runner.schemaGate]]), so COUNT(DISTINCT order_key) == COUNT(*)
  *    and per-status distinct counts == conditional row counts;
  *  - every avg consumer re-derives sum/count from the rolled-up pair, never
  *    an average of averages.
  */
object Rollups {
  import M._

  /** Customer-grain rollup of `fct_orders`: one row per customer with
    * every per-customer measure the customer reports share (concentration
    * risk, frequency bands, RFM, churn, CLV, orders summary, geographic
    * summary, monthly new/returning splits). */
  def customerOrders(ctx: Ctx): DataFrame = Store.table(ctx, "rollup_customer_orders") {
    Wh.fctOrders(ctx).groupBy("customer_key").agg(
      // == countDistinct(order_key): fct_orders is order-grain (schemaGate)
      count(lit(1)).as("order_count"),
      pin4(sum("gross_item_sales_amount")).as("gross_d"),
      pin4(sum("net_item_sales_amount")).as("net_d"),
      min("order_date").as("first_order_date"),
      max("order_date").as("last_order_date"),
      // == countDistinct(when(status = X, order_key)) at order grain
      sum(when(col("order_status_code") === "F", 1).otherwise(0)).as("fulfilled_orders"),
      sum(when(col("order_status_code") === "O", 1).otherwise(0)).as("open_orders"),
      sum(when(col("order_status_code") === "P", 1).otherwise(0)).as("partial_orders"))
  }

  /** (customer × order-month) rollup of `fct_orders`: the shared input of
    * every month-grain order metric (monthly orders/kpis/trends, cohort
    * retention ×2, regional revenue). One row per customer-month. */
  def customerMonth(ctx: Ctx): DataFrame = Store.table(ctx, "rollup_customer_month") {
    Wh.fctOrders(ctx)
      .groupBy(col("customer_key"),
        date_trunc("month", col("order_date")).cast(DateType).as("order_month"))
      .agg(
        count(lit(1)).as("orders_in_month"), // == countDistinct(order_key)
        pin4(sum("gross_item_sales_amount")).as("gross_d"),
        pin4(sum("net_item_sales_amount")).as("net_d"),
        pin4(sum("item_discount_amount")).as("discount_d"),
        pin4(sum("item_tax_amount")).as("tax_d"))
  }

  /** (part × order-month) rollup of `fct_orders_items`: shared by the part
    * reports (ABC, sales velocity, trending, profitability, profit-margin
    * trend, inventory-coverage demand). COUNT(DISTINCT order_key) is kept at
    * this grain (an order may repeat a part across line items) and summed to
    * part grain by consumers — months partition a part's orders. */
  def partMonth(ctx: Ctx): DataFrame = Store.table(ctx, "rollup_part_month") {
    Wh.fctOrdersItems(ctx)
      .groupBy(col("part_key"),
        date_trunc("month", col("order_date")).cast(DateType).as("order_month"))
      .agg(
        count(lit(1)).as("line_count"),
        countDistinct(col("order_key")).as("order_count"),
        pin4(sum("quantity")).as("units_d"),
        pin4(sum("gross_item_sales_amount")).as("gross_d"),
        pin4(sum("net_item_sales_amount")).as("net_d"),
        // cost = cost(16,4) × qty(16,4): scale-8 product — widen, never
        // reduce scale (Macros parity rule: no scale-reducing decimal cast)
        sum(col("supplier_cost_amount") * col("quantity"))
          .cast(DecimalType(38, 8)).as("cost_d"),
        pin4(sum("discount_percentage")).as("disc_sum_d"),
        count(col("discount_percentage")).as("disc_cnt"))
  }

  /** Supplier-grain rollup of `fct_orders_items`: revenue + delivery
    * measures for the supplier reports (revenue ranking, scorecard,
    * supplier performance). Delivery conditionals are written null-safely so
    * the unfiltered forms equal the reference's receipt-not-null-filtered
    * aggregates (a null receipt_date contributes 0 / is count-skipped in
    * both shapes). */
  def supplierSales(ctx: Ctx): DataFrame = Store.table(ctx, "rollup_supplier_sales") {
    // narrow split-branch form (see Reports.partTypePerformance): the three
    // COUNT(DISTINCT) would plan an Expand ×4 over the 60M-row fact with the
    // full 16-column agg buffer on every expanded key; instead the sums
    // collapse map-side to the 100k supplier cells and the counts come from
    // two narrow distincts (customer_key is functional on order_key, so one
    // (supplier, order, customer) distinct serves both order and customer
    // counts). Bit-identical: counts after distinct skip nulls exactly like
    // COUNT(DISTINCT), integer/decimal sums are single-pass either way.
    val fact = Wh.fctOrdersItems(ctx)
    val sums = fact.groupBy("supplier_key").agg(
      count(lit(1)).as("line_count"),
      pin4(sum("quantity")).as("qty_d"),
      pin4(sum("gross_item_sales_amount")).as("gross_d"),
      pin4(sum("net_item_sales_amount")).as("net_d"),
      count(col("receipt_date")).as("shipments"),
      // null receipt/commit → predicate NULL → otherwise(0), identical to
      // the filtered form; serves BOTH scorecard (filtered) and
      // supplier-performance (unfiltered) on-time/late counts
      sum(when(col("receipt_date") <= col("commit_date"), 1).otherwise(0))
        .as("on_time_deliveries"),
      sum(when(col("receipt_date") > col("commit_date"), 1).otherwise(0))
        .as("late_deliveries"),
      sum(when(col("receipt_date").isNotNull && col("return_status_code") === "R", 1)
        .otherwise(0)).as("returned_with_receipt"),
      sum(when(col("return_status_code") === "R", 1).otherwise(0)).as("returned_items"),
      sum(datediff(col("receipt_date"), col("ship_date"))).as("transit_sum"),
      count(datediff(col("receipt_date"), col("ship_date"))).as("transit_cnt"),
      sum(datediff(col("receipt_date"), col("commit_date"))).as("delay_sum"),
      count(datediff(col("receipt_date"), col("commit_date"))).as("delay_cnt"))
    val ordCust = fact.select("supplier_key", "order_key", "customer_key")
      .distinct()
      .groupBy("supplier_key")
      .agg(count(col("order_key")).as("order_count"),
        countDistinct(col("customer_key")).as("customer_count"))
      .select(col("supplier_key").as("oc_supplier_key"),
        col("order_count"), col("customer_count"))
    val parts = fact.select("supplier_key", "part_key").distinct()
      .groupBy("supplier_key")
      .agg(count(col("part_key")).as("part_count"))
      .select(col("supplier_key").as("pc_supplier_key"), col("part_count"))
    sums
      .join(ordCust, col("supplier_key") <=> col("oc_supplier_key"))
      .join(parts, col("supplier_key") <=> col("pc_supplier_key"))
      .drop("oc_supplier_key", "pc_supplier_key")
  }

  /** (supplier-nation × customer-nation × ship-year) trade-flow rollup: the
    * shared 3-way fact ⋈ dim ⋈ dim join behind `int_regional_trade_flows`
    * and `regional_trade_balance` — the two heaviest join trees in the
    * report layer — paid once. */
  def nationFlows(ctx: Ctx): DataFrame = Store.table(ctx, "rollup_nation_flows") {
    Wh.fctOrdersItems(ctx)
      .join(Wh.dimSupplier(ctx)
        .select("supplier_key", "supplier_nation_name", "supplier_region_name"),
        Seq("supplier_key"))
      .join(Wh.dimCustomer(ctx)
        .select("customer_key", "customer_nation_name", "customer_region_name"),
        Seq("customer_key"))
      .groupBy(
        col("supplier_nation_name"), col("supplier_region_name"),
        col("customer_nation_name"), col("customer_region_name"),
        year(col("ship_date")).as("ship_year"))
      .agg(
        count(lit(1)).as("shipments"),
        pin4(sum("quantity")).as("qty_d"),
        pin4(sum("gross_item_sales_amount")).as("gross_d"),
        pin4(sum("net_item_sales_amount")).as("net_d"))
  }
}
