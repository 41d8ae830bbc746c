package graft

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** dbt `materialized='incremental'` twin, insert_overwrite strategy
  * (reference lifecycle: dbt_project.yml materialization config; the
  * reference project itself runs full `dbt build` — this is the capability
  * a user needs the moment the fact table stops fitting a nightly rebuild).
  *
  * Semantics, matching dbt-on-warehouse insert_overwrite:
  *  - first run (target absent) = full refresh: write everything,
  *    partitioned by the incremental column;
  *  - subsequent runs: read the target's high-water mark (max partition
  *    value), recompute ONLY rows at-or-after it, and dynamically
  *    overwrite exactly the partitions present in the delta — the open
  *    partition is rebuilt (late rows inside it are picked up), closed
  *    partitions are never touched or read.
  *
  * What a delta reads: the `partCol >= hwm` filter is applied to the
  * `source` DataFrame as given, so it prunes only what that plan lets it
  * reach. [[fctOrdersMonthly]] is built for it: it aggregates the base
  * orders ⋈ lineitem scans with no persisted parent and derives its
  * `order_month` from a grouping column, so Catalyst pushes the filter
  * through the aggregate and the joins onto its orders scans. The broadcast
  * orders side then holds only the open months' orders, and only their
  * line items reach the aggregate and the write; nothing is pinned in
  * memory. The lineitem scan itself is still read whole, since no
  * predicate on its own columns follows from the hwm. The write side is
  * incremental too: the dynamic-overwrite write touches only the delta's
  * partition directories. Row counts are observed on that write, not
  * read back.
  */
object Incremental {

  final case class IncResult(fullRefresh: Boolean, rowsWritten: Long,
      partitionsWritten: Seq[String], highWaterMark: Option[String])

  /** The target's `partCol` partition values, sorted, or None when there
    * is no target. */
  private def listParts(spark: SparkSession, target: String,
      partCol: String): Option[Seq[String]] =
    Ctx.subdirs(spark, target).map(_.filter(_.startsWith(s"$partCol="))
      .map(_.stripPrefix(s"$partCol=")).sorted)

  /** One incremental run of `source` into the partitioned parquet table at
    * `target`. `partCol` must be a monotonically-growing partition column
    * (a date/month string in the models here). */
  def run(spark: SparkSession, target: String, partCol: String,
      source: DataFrame): IncResult = {
    // high-water mark from the target's partition DIRECTORIES — a metadata
    // listing, no data read of the existing table; no target = full refresh
    val hwm = listParts(spark, target, partCol).map(_.lastOption.getOrElse(
      sys.error(s"$target exists but has no $partCol= partitions")))
    // a delta overwrites only the partitions it holds: set as this write's
    // own option, not on the session, where a concurrent write would see it
    val obs = Observation()
    hwm.fold(source)(h => source.filter(col(partCol) >= lit(h)))
      .observe(obs, count(lit(1)).as("rows"))
      .write.partitionBy(partCol).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", if (hwm.isDefined) "dynamic" else "static")
      .parquet(target)
    val parts = listParts(spark, target, partCol).getOrElse(Nil)
    IncResult(hwm.isEmpty, obs.get("rows").asInstanceOf[Long],
      hwm.fold(parts)(h => parts.filter(_ >= h)), hwm)
  }

  /** The incremental flavor of fct_orders: same rows as `Wh.fctOrders`,
    * partitioned by order month — the canonical incremental fact. It rolls
    * up [[layers.Ods.pricedItems]] on `(order_key, order_date)` rather than
    * the persisted orders_items, so `order_month` derives from a grouping
    * column and a filter on it reaches the orders scan; the join back to
    * the other order columns is on both keys, so the filter is inferred
    * for that orders scan too. Only the two keys travel through the
    * aggregate's shuffle. */
  def fctOrdersMonthly(ctx: Ctx): DataFrame = {
    val totals = layers.Wh.orderTotals
    val rollup = layers.Ods.pricedItems(ctx, layers.Base.lineItem(ctx))
      .groupBy("order_key", "order_date").agg(totals.head, totals.tail: _*)
    layers.Base.orders(ctx).select(layers.Wh.orderColumns.map(col): _*)
      .join(rollup, Seq("order_key", "order_date"))
      .withColumn("order_count", lit(1))
      .withColumn("order_month", date_format(col("order_date"), "yyyy-MM"))
  }
}
