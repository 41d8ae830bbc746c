package graft

/** Runner.buildAll's DAG is derived from the Store tables each node's plan
  * reads (graft's `ref()`), not written down: the edges it finds, and the
  * capture that finds them, are pinned here. */
class RunnerDagSpec extends SparkSpec {

  /** The report → rollup edges as they were once listed by hand. */
  private val reportRollups: Map[String, Set[String]] = Map(
    "customer_concentration_risk" -> Set("rollup_customer_orders"),
    "customer_cohort_retention" -> Set("rollup_customer_orders", "rollup_customer_month"),
    "customer_churn_risk" -> Set("rollup_customer_orders"),
    "customer_geographic_summary" -> Set("rollup_customer_orders"),
    "customer_purchase_frequency_bands" -> Set("rollup_customer_orders"),
    "customer_rfm_segments" -> Set("rollup_customer_orders"),
    "monthly_order_trends" -> Set("rollup_customer_orders", "rollup_customer_month"),
    "monthly_revenue_kpis" -> Set("rollup_customer_month"),
    "metrics_customer_retention" -> Set("rollup_customer_orders", "rollup_customer_month"),
    "metrics_monthly_orders" -> Set("rollup_customer_month"),
    "metrics_regional_revenue" -> Set("rollup_customer_month"),
    "part_abc_classification" -> Set("rollup_part_month"),
    "part_sales_velocity" -> Set("rollup_part_month"),
    "metrics_profit_margin_trend" -> Set("rollup_part_month"),
    "metrics_inventory_coverage" -> Set("rollup_part_month"),
    "metrics_top_parts_trending" -> Set("rollup_part_month"),
    "supplier_revenue_ranking" -> Set("rollup_supplier_sales"),
    "supplier_scorecard" -> Set("rollup_supplier_sales"),
    "regional_trade_balance" -> Set("rollup_nation_flows"))

  private lazy val writeThroughOrder = Runner.dag(ctx, cacheParents = false).toSeq
  private lazy val writeThrough = writeThroughOrder.toMap
  private lazy val cachedOrder = Runner.dag(ctx, cacheParents = true).toSeq
  private lazy val cached = cachedOrder.toMap

  private def reports: Set[String] =
    Runner.nodes.filter(_.layer == Runner.Layer.Report).map(_.name).toSet

  test("the report -> rollup edges are the 22 the build once listed by hand") {
    val rollups = Runner.nodes.filter(_.layer == Runner.Layer.Rollup).map(_.name).toSet
    val derived = reports.toSeq.map(r => r -> writeThrough(r).toSet.intersect(rollups))
      .filter(_._2.nonEmpty).toMap
    assert(derived == reportRollups)
    assert(derived.values.map(_.size).sum == 22)
  }

  test("model and rollup edges are the Store tables each plan reads, with no self-edge or cycle") {
    assert(writeThrough("fct_orders").toSet == Set("orders_items"))
    assert(writeThrough("fct_orders_items").toSet == Set("orders_items", "parts_suppliers"))
    assert(writeThrough("rollup_nation_flows").toSet ==
      Set("fct_orders_items", "dim_supplier", "dim_customer"))
    assert(writeThrough(Runner.Gate).toSet ==
      Set("fct_orders", "fct_orders_items", "dim_customer", "dim_supplier"))
    // dims read their sources through Base, not the written ods models
    assert(writeThrough("dim_customer").isEmpty)
    // buildAll submits each node as it is captured, so its parents must
    // come first; that order also rules out a cycle
    for (order <- Seq(writeThroughOrder, cachedOrder)) {
      assert(order.map(_._1).distinct.size == order.size)
      order.foldLeft(Set.empty[String]) { case (before, (n, ps)) =>
        assert(!ps.contains(n), s"$n reads itself")
        assert(ps.forall(before), s"$n comes before its parents ${ps.filterNot(before)}")
        before + n
      }
    }
  }

  test("policy: reports follow the gate, and cacheParents demotes after the non-report readers") {
    reports.foreach(r => assert(writeThrough(r).contains(Runner.Gate), r))
    assert(!writeThrough.keys.exists(_.startsWith("__demote_")))
    assert(cached("__demote_orders_items").toSet ==
      Set("orders_items", "fct_orders", "fct_orders_items"))
    assert(cached("__demote_parts_suppliers").toSet ==
      Set("parts_suppliers", "fct_orders_items", "dim_part_supplier_xrf"))
    assert(cached("__demote_dim_part_supplier_xrf").toSet ==
      Set("dim_part_supplier_xrf", "rpt_minimum_cost_suppliers"))
    val demotions = cached.keySet.filter(_.startsWith("__demote_"))
    reports.foreach(r => assert(demotions.subsetOf(cached(r).toSet), r))
  }

  test("capturing every build node runs no scan and makes no Store entry or persist") {
    Store.clear(spark)
    val entriesBefore = Store.entries(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    val tracker = spark.sparkContext.statusTracker
    val jobsBefore = tracker.getJobIdsForGroup(null).toSet
    // every model and rollup, the gate and three demotions
    assert(Runner.dag(ctx, cacheParents = true).size == Runner.nodes.size + 4)
    val newJobs = tracker.getJobIdsForGroup(null).toSet -- jobsBefore
    val maxTasks = newJobs.toSeq.flatMap(id =>
      tracker.getJobInfo(id).toSeq.flatMap(_.stageIds().toSeq)
        .flatMap(s => tracker.getStageInfo(s).toSeq.map(_.numTasks()))).maxOption
    assert(maxTasks.forall(_ <= 2),
      s"capturing the build ran a ${maxTasks.getOrElse(0)}-task job — that's a scan")
    assert(Store.entries(spark) == entriesBefore)
    assert(spark.sharedState.cacheManager.isEmpty, "capturing persisted a plan")
  }

  test("captures on two threads do not see each other's reads") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // both scopes are open at once, and each thread's reads land in between
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def capture(name: String)(plan: => Any): Future[Seq[String]] = Future {
      Store.reads(Seq(name)) { _ =>
        barrier.await(60, SECONDS)
        plan
        barrier.await(60, SECONDS)
      }.next()._2
    }
    try {
      val a = capture("fct_orders")(layers.Wh.fctOrders(ctx))
      val b = capture("rollup_part_month")(layers.Rollups.partMonth(ctx))
      assert(Await.result(a, 2.minutes) == Seq("orders_items"))
      assert(Await.result(b, 2.minutes) == Seq("fct_orders_items"))
    } finally pool.shutdown()
    assert(!Store.capturing)
  }
}
