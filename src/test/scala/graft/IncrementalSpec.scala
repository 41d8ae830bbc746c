package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Incremental (insert_overwrite) materialization: a snapshot build plus an
  * incremental run lands byte-identical rows to a full rebuild, closed
  * partitions are never rewritten, and only the delta's partitions are
  * touched. A delta of the monthly orders fact reads the base scans with
  * its hwm filter on the orders scan, and no run pins anything. */
class IncrementalSpec extends SparkSpec {

  private def fileState(target: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(target))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("snapshot + incremental == full rebuild; closed partitions untouched") {
    val target = java.nio.file.Files
      .createTempDirectory("graft_incr").toString + "/fct_orders"
    val full = Incremental.fctOrdersMonthly(ctx)
    val months = full.select("order_month").distinct()
      .orderBy("order_month").collect().map(_.getString(0))
    assert(months.length > 4, "need several months to exercise partitions")
    val cut = months(months.length - 3)   // snapshot missing the last 2 months

    // run 1: the world as of the cutoff — full refresh
    val r1 = Incremental.run(spark, target, "order_month",
      full.filter(col("order_month") < cut))
    assert(r1.fullRefresh && r1.highWaterMark.isEmpty)
    val stateBefore = fileState(target)

    // run 2: full source visible — only hwm-and-later partitions recomputed
    val r2 = Incremental.run(spark, target, "order_month", full)
    assert(!r2.fullRefresh)
    assert(r2.highWaterMark.contains(months(months.length - 4)),
      s"hwm ${r2.highWaterMark} vs expected ${months(months.length - 4)}")
    assert(r2.partitionsWritten == months.filter(_ >= months(months.length - 4)).toSeq)

    // closed partitions: identical files, untouched mtimes
    val after = fileState(target)
    val closedAfter = after.filter { case (p, _) =>
      r2.partitionsWritten.forall(m => !p.contains(s"order_month=$m"))
    }
    val closedExpected = stateBefore.filter { case (p, _) =>
      r2.partitionsWritten.forall(m => !p.contains(s"order_month=$m"))
    }
    assert(closedAfter == closedExpected, "closed partitions were rewritten")

    // final content == a from-scratch full rebuild (column order differs
    // through partitionBy; compare as sets of projected rows)
    val rebuilt = spark.read.parquet(target)
      .select(full.columns.map(col).toIndexedSeq: _*)
    assert(rebuilt.count() == full.count())
    assert(rebuilt.except(full).isEmpty && full.except(rebuilt).isEmpty)
  }

  private def tmpTarget(): String =
    java.nio.file.Files.createTempDirectory("graft_incr").toString + "/fct_orders"

  /** A snapshot of the source missing its last two months. */
  private def snapshot(full: org.apache.spark.sql.DataFrame) = {
    val months = full.select("order_month").distinct()
      .orderBy("order_month").collect().map(_.getString(0))
    full.filter(col("order_month") < months(months.length - 3))
  }

  // the nodes below `p` that no shuffle separates from it
  private def unshuffled(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: ShuffleExchangeLike | _: ShuffleQueryStageExec => Nil
    case a: AdaptiveSparkPlanExec => unshuffled(a.executedPlan)
    case q: QueryStageExec => q +: unshuffled(q.plan)
    case other => other +: other.children.flatMap(unshuffled)
  }

  private def scansOf(plan: Seq[SparkPlan], table: String) = plan.collect {
    case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.getName == s"$table.parquet") => f
  }

  test("a delta reads the base scans, with the hwm filter on the orders scans") {
    val target = tmpTarget()
    val full = Incremental.fctOrdersMonthly(ctx)
    Incremental.run(spark, target, "order_month", snapshot(full))
    val (r, plans) = Plans.executed(spark)(Incremental.run(spark, target, "order_month", full))
    val all = plans.flatMap(Plans.nodes)
    val hwm = r.highWaterMark.get
    assert(all.nonEmpty && !all.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "the delta read a persisted relation")
    val orders = scansOf(all, "orders")
    assert(orders.nonEmpty && orders.forall(_.dataFilters.exists(_.toString.contains(hwm))),
      s"orders scans without the hwm filter: ${orders.map(_.dataFilters)}")
    // the join admits only the filtered orders, and streams the line items
    // straight from their scan
    val joins = all.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.exists { j =>
      val below = j.children.flatMap(Plans.nodes)
      val streamed = j.children.flatMap(unshuffled)
      scansOf(below, "orders").nonEmpty && scansOf(streamed, "lineitem").nonEmpty
    }, s"no join of the filtered orders with an unshuffled lineitem scan")
  }

  test("a delta's partitions hold exactly the full refresh's rows for their months") {
    val full = Incremental.fctOrdersMonthly(ctx)
    val fullTarget = tmpTarget()
    val deltaTarget = tmpTarget()
    val f = Incremental.run(spark, fullTarget, "order_month", full)
    assert(f.rowsWritten == full.count())
    Incremental.run(spark, deltaTarget, "order_month", snapshot(full))
    val d = Incremental.run(spark, deltaTarget, "order_month", full)
    val hwm = d.highWaterMark.get
    def open(target: String) = spark.read.parquet(target).filter(col("order_month") >= hwm)
    assert(d.rowsWritten == open(fullTarget).count())
    assert(open(deltaTarget).exceptAll(open(fullTarget)).isEmpty &&
      open(fullTarget).exceptAll(open(deltaTarget)).isEmpty)
  }

  test("the monthly fact is fct_orders by month") {
    val wh = layers.Wh.fctOrders(ctx)
      .withColumn("order_month", date_format(col("order_date"), "yyyy-MM"))
    val monthly = Incremental.fctOrdersMonthly(ctx)
    assert(monthly.columns.toSeq == wh.columns.toSeq)
    assert(monthly.schema.map(_.dataType) == wh.schema.map(_.dataType))
    assert(monthly.exceptAll(wh).isEmpty && wh.exceptAll(monthly).isEmpty)
  }

  test("a full run and a delta run persist nothing") {
    // a context of its own: no table cached for another spec's context can
    // stand in for one this refresh would persist
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_src")
    Seq("orders", "lineitem").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(ctx.dir, s"$t.parquet"),
        dir.resolve(s"$t.parquet"))
    }
    val own = Ctx(spark, dir.toString)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val target = tmpTarget()
    val full = Incremental.fctOrdersMonthly(own)
    Incremental.run(spark, target, "order_month", snapshot(full))
    Incremental.run(spark, target, "order_month", full)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty, s"the refresh persisted RDDs $pinned")
  }

  test("a file: URI target is found, so its second run is a delta") {
    // toUri: "file:/tmp/.../", which java.io.File reads as a missing path
    val target = java.nio.file.Files.createTempDirectory("graft_incr_uri")
      .toUri.toString + "fct_orders"
    val full = Incremental.fctOrdersMonthly(ctx)
    val months = full.select("order_month").distinct()
      .orderBy("order_month").collect().map(_.getString(0))
    val cut = months(months.length - 3)
    val r1 = Incremental.run(spark, target, "order_month",
      full.filter(col("order_month") < cut))
    assert(r1.fullRefresh && r1.partitionsWritten == months.filter(_ < cut).toSeq)
    val r2 = Incremental.run(spark, target, "order_month", full)
    assert(!r2.fullRefresh && r2.highWaterMark.contains(months(months.length - 4)))
    assert(r2.partitionsWritten == months.filter(_ >= months(months.length - 4)).toSeq)
    assert(spark.read.parquet(target).count() == full.count())
  }
}

