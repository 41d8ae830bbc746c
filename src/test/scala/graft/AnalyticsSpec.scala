package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 analytics additions: ROLLUP grouping sets reconcile across
  * levels, the two-phase percent_rank/cume_dist matches the
  * single-partition window functions bit-for-bit, and the peak-window
  * range join broadcasts its window side and honors interval overlap. */
class AnalyticsSpec extends SparkSpec {
  import extensions.Analytics

  test("regionalRevenueRollup: subtotal and grand-total levels reconcile") {
    val rows = Analytics.regionalRevenueRollup(ctx).collect()
    val detail = rows.filter(r => r.getInt(2) == 0 && r.getInt(3) == 0)
    val region = rows.filter(r => r.getInt(2) == 0 && r.getInt(3) == 1)
    val grand = rows.filter(r => r.getInt(2) == 1)
    assert(grand.length == 1)
    assert(rows.length == detail.length + region.length + 1)
    // counts reconcile exactly: an order/customer belongs to one nation
    val orderByRegion = detail.groupBy(_.getString(0))
      .map { case (k, v) => k -> v.map(_.getLong(4)).sum }
    region.foreach(r => assert(r.getLong(4) == orderByRegion(r.getString(0))))
    assert(grand.head.getLong(4) == detail.map(_.getLong(4)).sum)
    // revenue reconciles within float tolerance (the engine sums exact
    // decimals; the test re-adds the already-cast doubles)
    val revByRegion = detail.groupBy(_.getString(0))
      .map { case (k, v) => k -> v.map(_.getDouble(6)).sum }
    region.foreach(r =>
      assert(math.abs(r.getDouble(6) - revByRegion(r.getString(0))) < 1e-6))
    // subtotal rows null out exactly the rolled-up grouping column
    assert(region.forall(r => !r.isNullAt(0) && r.isNullAt(1)))
    assert(grand.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("regionalRevenueRollup leaves the session conf as it was, same rows as the by-name rollup") {
    val conf = spark.conf.getAll
    val rows = Analytics.regionalRevenueRollup(ctx).collect().map(_.toString).sorted.toSeq
    assert(spark.conf.getAll == conf, "constructing the rollup changed the session conf")
    // the reference: the by-name rollup it replaced, which only analyzes
    // with the ambiguous-self-join guard off
    val key = "spark.sql.analyzer.failAmbiguousSelfJoin"
    val prev = conf.get(key)
    spark.conf.set(key, "false")
    val ref = try layers.Wh.fctOrders(ctx)
        .join(layers.Wh.dimCustomer(ctx), Seq("customer_key"))
        .select(col("customer_region_name").as("region_name"),
          col("customer_nation_name").as("nation_name"), col("order_key"),
          col("customer_key"), col("gross_item_sales_amount"), col("net_item_sales_amount"))
        .rollup("region_name", "nation_name")
        .agg(grouping(col("region_name")).cast("int").as("region_subtotal"),
          grouping(col("nation_name")).cast("int").as("nation_subtotal"),
          count(col("order_key")).as("order_count"),
          countDistinct(col("customer_key")).as("customer_count"),
          sum("gross_item_sales_amount").cast("double").as("gross_revenue"),
          sum("net_item_sales_amount").cast("double").as("net_revenue"))
        .collect().map(_.toString).sorted.toSeq
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(spark.conf.getAll == conf)
    assert(rows.nonEmpty && rows == ref)
  }

  test("customerValuePercentiles matches single-partition window functions") {
    val actual = Analytics.customerValuePercentiles(ctx)
    val spend = layers.Wh.fctOrders(ctx).groupBy("customer_key")
      .agg(count(lit(1)).as("order_count"),
        sum("gross_item_sales_amount").as("spend_d"))
    val w = Window.orderBy(col("spend_d").desc)
    val expected = spend.select(
      col("customer_key"),
      col("spend_d").cast("double").as("total_spend"),
      col("order_count"),
      rank().over(w).cast("int").as("spend_rank"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume_dist_val"))
    assert(actual.count() == expected.count())
    assert(actual.except(expected).isEmpty)
    assert(expected.except(actual).isEmpty)
  }

  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_peak").toString
    import spark.implicits._
    val H = 3600L
    def at(sec: Long, id: Long, user: Long, v: Double) =
      (id, sec * 1000000000L, user, "view", v, "{}")
    val rows =
      (0 until 10).map(i => at(i * 300L, 100 + i, i % 3, 1.0)) ++     // hour 0
      (0 until 6).map(i => at(H + 200 + i * 500L, 200 + i, i % 2, 2.0)) ++ // hour 1
      (0 until 5).map(i => at(2 * H + 100 + i * 600L, 300 + i, 7, 3.0)) ++ // hour 2
      Seq(at(10 * H, 400L, 9, 4.0))                                   // lone hour
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("peakWindows: overlapping 90-minute windows each claim their events") {
    val df = extensions.Events.peakWindows(Ctx(spark, eventsDir))
    // windows: rank1 = hour 0 -> [-1800, 5400), rank2 = hour 1 -> [1800,
    // 9000), rank3 = hour 2 -> [5400, 12600); hour-1 events before 5400 and
    // hour-0 events after 1800 are claimed by TWO windows (real interval
    // containment, not an hour-bucket equi-join)
    val rows = df.collect().map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(1, 2, 3))
    assert(rows(1).getLong(5) == 14)   // 10 of hour0 + 4 early hour1
    assert(rows(2).getLong(5) == 13)   // 4 late hour0 + 6 hour1 + 3 early hour2
    assert(rows(3).getLong(5) == 7)    // 2 late hour1 + 5 hour2
    assert(rows(1).getDouble(7) == 18.0)
    assert(rows(2).getDouble(7) == 25.0)
    assert(rows(3).getDouble(7) == 19.0)
    // scale posture: the 3-row window side broadcasts — no shuffle of the
    // event scan for the range predicate
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }
}
