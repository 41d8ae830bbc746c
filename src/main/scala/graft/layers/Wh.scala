package graft.layers

import graft.{Ctx, Store, Macros => M}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** wh layer: dims, facts, TPC-H report tables (reference models/wh/ layer).
  * Housekeeping audit columns (dbt_batch_id/ts) are excluded — they are
  * nondeterministic by design (macros/dbt_housekeeping.sql:1-4).
  */
object Wh {
  import M._

  /** Reference models/wh/dim_customer.sql: customer ⋈ nation ⋈ region.
    * nation (25 rows) and region (5 rows) are broadcast explicitly — at any
    * scale factor these stay tiny while customer grows. */
  def dimCustomer(ctx: Ctx): DataFrame = Store.table(ctx, "dim_customer") {
    Ods.customers(ctx)
      .join(broadcast(Ods.nations(ctx)), Seq("nation_key"))
      .join(broadcast(Ods.regions(ctx)), Seq("region_key"))
      .select(
        col("customer_key"), col("customer_name"),
        col("nation_key").as("customer_nation_key"),
        col("nation_name").as("customer_nation_name"),
        col("region_key").as("customer_region_key"),
        col("region_name").as("customer_region_name"),
        col("customer_account_balance"), col("customer_market_segment_name"))
  }

  /** Reference models/wh/dim_supplier.sql. */
  def dimSupplier(ctx: Ctx): DataFrame = Store.table(ctx, "dim_supplier") {
    Ods.suppliers(ctx)
      .join(broadcast(Ods.nations(ctx)), Seq("nation_key"))
      .join(broadcast(Ods.regions(ctx)), Seq("region_key"))
      .select(
        col("supplier_key"), col("supplier_name"),
        col("nation_key").as("supplier_nation_key"),
        col("nation_name").as("supplier_nation_name"),
        col("region_key").as("supplier_region_key"),
        col("region_name").as("supplier_region_name"),
        col("supplier_account_balance"))
  }

  /** Reference models/wh/dim_part.sql (pure projection of ods.parts). */
  def dimPart(ctx: Ctx): DataFrame = Ods.parts(ctx)

  /** fct_orders' order-level columns, carried from orders as they are. */
  val orderColumns: Seq[String] = Seq("order_key", "order_date", "customer_key",
    "order_status_code", "order_priority_code")

  /** fct_orders' four per-order money totals over orders_items rows. */
  def orderTotals: Seq[Column] = Seq(
    pin4(sum("gross_item_sales_amount")).as("gross_item_sales_amount"),
    pin4(sum("item_discount_amount")).as("item_discount_amount"),
    pin4(sum("item_tax_amount")).as("item_tax_amount"),
    pin4(sum("net_item_sales_amount")).as("net_item_sales_amount"))

  /** Reference models/wh/fct_orders.sql: per-order rollup of orders_items
    * joined back to orders. The rollup groups on order_key (the join key),
    * so the aggregate's shuffle partitioning is reused by the join — one
    * shuffle, not two. */
  def fctOrders(ctx: Ctx): DataFrame = Store.table(ctx, "fct_orders") {
    val s = Ods.ordersItems(ctx).groupBy("order_key").agg(orderTotals.head, orderTotals.tail: _*)
    Base.orders(ctx).select(orderColumns.map(col): _*)
      .join(s, Seq("order_key"))
      .withColumn("order_count", lit(1))
  }

  /** Reference models/wh/fct_orders_items.sql: orders_items ⋈ parts_suppliers
    * on the composite (part_key, supplier_key), picking up supplier cost. */
  def fctOrdersItems(ctx: Ctx): DataFrame = Store.table(ctx, "fct_orders_items") {
    val oi = Ods.ordersItems(ctx)
    val ps = Ods.partsSuppliers(ctx)
      .select("part_key", "supplier_key", "supplier_cost_amount")
    oi.join(ps, Seq("part_key", "supplier_key"))
      .select(
        col("order_item_key"), col("order_key"), col("order_date"), col("customer_key"),
        col("order_status_code"), col("part_key"), col("supplier_key"),
        col("return_status_code"), col("order_line_number"), col("order_line_status_code"),
        col("ship_date"), col("commit_date"), col("receipt_date"), col("ship_mode_name"),
        col("supplier_cost_amount"), col("base_price"),
        col("discount_percentage"), col("discounted_price"), col("tax_rate"),
        lit(1).as("order_item_count"), col("quantity"),
        col("gross_item_sales_amount"), col("discounted_item_sales_amount"),
        col("item_discount_amount"), col("item_tax_amount"), col("net_item_sales_amount"))
  }

  /** Reference models/wh/dim_part_supplier_xrf.sql: the 5-way part ⋈
    * partsupp ⋈ supplier ⋈ nation ⋈ region cross-reference. nation/region
    * broadcast; the big pair table shuffles once on supplier_key. */
  def dimPartSupplierXrf(ctx: Ctx): DataFrame = Store.table(ctx, "dim_part_supplier_xrf") {
    Ods.partsSuppliers(ctx)
      .join(Base.supplier(ctx).select("supplier_key", "supplier_account_balance"),
        Seq("supplier_key"))
      .join(broadcast(Ods.nations(ctx)), Seq("nation_key"))
      .join(broadcast(Ods.regions(ctx)), Seq("region_key"))
      .select(
        col("part_supplier_key"), col("part_key"), col("part_name"),
        col("part_brand_name"), col("part_type_name"), col("part_size"),
        col("retail_price"), col("supplier_key"), col("supplier_name"),
        col("supplier_account_balance"),
        col("nation_key").as("supplier_nation_key"),
        col("nation_name").as("supplier_nation_name"),
        col("region_key").as("supplier_region_key"),
        col("region_name").as("supplier_region_name"),
        col("supplier_availabe_quantity"), col("supplier_cost_amount"))
  }

  /** Reference models/wh/rpt_minimum_cost_suppliers.sql — TPC-H Q2 (spec
    * 2.4.2): min-cost supplier per (region, part) via rank, top-100
    * tie-break by account balance. row_number gets a supplier_key tie-break
    * for determinism (reference order is ambiguous at equal balances).
    *
    * ONE sort, not two (r13): both windows partition by (region, part) and
    * the row_number orders by (cost, balance desc, supplier_key) — on the
    * `rank = 1` rows the filter keeps, the min-cost rows sort first within
    * their (region, part) group, so their positions under this ordering
    * are EXACTLY the old per-(region, part, cost) row numbers (oracle
    * hash-verified). The row_number window is stacked first, so the rank
    * window's required (region, part, cost) child ordering is a PREFIX of
    * the sort already present and EnsureRequirements plans no second sort
    * over the data-sized xrf relation — at replica SF10 that sort was half
    * the model's two-sort window stack. */
  def rptMinimumCostSuppliers(ctx: Ctx): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byRegionPart = Window.partitionBy("supplier_region_key", "part_key")
    val costRank = rank().over(byRegionPart.orderBy("supplier_cost_amount"))
    val supplierRank = row_number().over(byRegionPart.orderBy(
      col("supplier_cost_amount"),
      col("supplier_account_balance").desc, col("supplier_key")))
    dimPartSupplierXrf(ctx)
      .select(
        col("supplier_account_balance"), col("supplier_name"),
        col("supplier_nation_key"), col("supplier_region_key"),
        col("supplier_nation_name"), col("supplier_region_name"),
        col("supplier_key"), col("part_key"), col("part_size"),
        col("part_type_name"), col("supplier_cost_amount"),
        supplierRank.as("supplier_rank"))
      .withColumn("supplier_cost_rank", costRank)
      .select(
        col("supplier_account_balance"), col("supplier_name"),
        col("supplier_nation_key"), col("supplier_region_key"),
        col("supplier_nation_name"), col("supplier_region_name"),
        col("supplier_key"), col("part_key"), col("part_size"),
        col("part_type_name"), col("supplier_cost_amount"),
        col("supplier_cost_rank"), col("supplier_rank"))
      .filter(col("supplier_cost_rank") === 1 && col("supplier_rank") <= 100)
  }

  /** Reference models/wh/rpt_pricing_summary.sql — TPC-H Q1 (spec 2.4.1).
    * var('max_ship_date') = '1998-12-01' (dbt_project.yml:43) minus 90 days. */
  def rptPricingSummary(ctx: Ctx): DataFrame = {
    val cutoff = java.time.LocalDate.parse("1998-12-01").minusDays(90) // 1998-09-02
    fctOrdersItems(ctx)
      .filter(col("ship_date") <= lit(java.sql.Date.valueOf(cutoff)))
      .groupBy("return_status_code", "order_line_status_code")
      .agg(
        pin4(sum("quantity")).as("quantity"),
        pin4(sum("gross_item_sales_amount")).as("gross_item_sales_amount"),
        pin4(sum("discounted_item_sales_amount")).as("discounted_item_sales_amount"),
        pin4(sum("net_item_sales_amount")).as("net_item_sales_amount"),
        avgE(col("quantity")).as("avg_quantity"),
        avgE(col("base_price")).as("avg_base_price"),
        avgE(col("discount_percentage")).as("avg_discount_percentage"),
        sum("order_item_count").as("order_item_count"))
  }
}
