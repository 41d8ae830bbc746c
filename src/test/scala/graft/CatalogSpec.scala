package graft

/** The SQL surface: models registered as temp views and queried with plain
  * Spark SQL, dbt-style. */
class CatalogSpec extends SparkSpec {

  test("registerAll exposes raw tables, models, and functions to SQL") {
    Catalog.registerAll(ctx)
    val r = spark.sql(
      """SELECT c.customer_region_name, count(*) AS n,
        |       hll_approx_count_distinct(o.order_key) AS h,
        |       approx_count_distinct(o.order_key) AS a
        |FROM fct_orders o JOIN dim_customer c ON o.customer_key = c.customer_key
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(r.length == 5)                       // five regions
    // custom function usable in SQL, with approx_count_distinct's value
    assert(r.forall(x => x.getLong(2) == x.getLong(3) && x.getLong(2) > 0), r.toSeq)
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) > 0)
  }

  test("every dbt model is SQL-addressable by its reference relation name") {
    Catalog.registerAll(ctx)
    val models = Registry.all.collect {
      case (name, e) if e.mat != Registry.Mat.Extension => name
    }
    assert(models.size >= 60)
    models.foreach(name => assert(spark.catalog.tableExists(name), name))
    // spot-run one from each layer through plain SQL
    Seq("ods_customers", "fct_orders", "int_market_basket",
      "metrics_daily_revenue", "customer_rfm_segments").foreach { m =>
      assert(spark.sql(s"SELECT * FROM $m LIMIT 1").collect().length == 1, m)
    }
  }
}
