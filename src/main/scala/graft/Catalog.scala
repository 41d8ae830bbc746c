package graft

import org.apache.spark.sql.SparkSession

/** SQL surface: registers every raw table and every model as a temp view so
  * users can `spark.sql` against the whole DAG exactly like dbt relations
  * (`ref('fct_orders')` -> `FROM fct_orders`). Views are lazy plans; the
  * Store-persisted facts stay shared underneath.
  */
object Catalog {

  val rawTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** model name -> lazy plan, mirroring the reference's relation names
    * (ods/wh names without the layer prefix used in query keys). */
  def modelViews(ctx: Ctx): Map[String, () => org.apache.spark.sql.DataFrame] = Map(
    "customers" -> (() => layers.Ods.customers(ctx)),
    "nations" -> (() => layers.Ods.nations(ctx)),
    "regions" -> (() => layers.Ods.regions(ctx)),
    "parts" -> (() => layers.Ods.parts(ctx)),
    "suppliers" -> (() => layers.Ods.suppliers(ctx)),
    "orders_rel" -> (() => layers.Ods.orders(ctx)),
    "orders_items" -> (() => layers.Ods.ordersItems(ctx)),
    "parts_suppliers" -> (() => layers.Ods.partsSuppliers(ctx)),
    "dim_customer" -> (() => layers.Wh.dimCustomer(ctx)),
    "dim_supplier" -> (() => layers.Wh.dimSupplier(ctx)),
    "dim_part" -> (() => layers.Wh.dimPart(ctx)),
    "dim_part_supplier_xrf" -> (() => layers.Wh.dimPartSupplierXrf(ctx)),
    "fct_orders" -> (() => layers.Wh.fctOrders(ctx)),
    "fct_orders_items" -> (() => layers.Wh.fctOrdersItems(ctx)),
    "rpt_pricing_summary" -> (() => layers.Wh.rptPricingSummary(ctx)),
    "rpt_minimum_cost_suppliers" -> (() => layers.Wh.rptMinimumCostSuppliers(ctx)))

  /** Register raw tables + model views + custom functions in the session.
    *
    * Every dbt-model query in the Registry (ods/wh/intermediate/metrics/
    * reports — the reference's full relation set) is registered under its
    * model name, so `spark.sql("... FROM customer_rfm_segments")` works
    * like `ref('customer_rfm_segments')` in the reference. Extension
    * operators are deliberately NOT auto-registered: some (cluster
    * fixpoint, memoized signatures) run jobs during plan construction,
    * which a catalog registration must never do. */
  def registerAll(ctx: Ctx): Unit = {
    rawTables.foreach(t => ctx.tbl(t).createOrReplaceTempView(t))
    modelViews(ctx).foreach { case (name, df) => df().createOrReplaceTempView(name) }
    Registry.all.foreach { case (name, e) =>
      if (e.mat != Registry.Mat.Extension) e.fn(ctx).createOrReplaceTempView(name)
    }
    functions.Hll.register(ctx.spark)
    functions.CosineSim.register(ctx.spark)
    functions.FreqItemsSketch.register(ctx.spark)
    functions.MortonCode.register(ctx.spark)
    functions.KllSketch.register(ctx.spark)
  }
}
