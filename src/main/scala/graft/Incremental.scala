package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * reach. [[fctOrdersMonthly]] is `Wh.fctOrders`, which `Store.table`
  * persists over the persisted `Ods.ordersItems`: the filter sits above
  * both persists, so the first delta in a session builds and pins the
  * whole fact, and every delta reads all of it from memory. Work per run
  * is proportional to the table, not to the new data (ROADMAP item 7 makes
  * the source a function of the hwm). The write side is incremental: the
  * dynamic-overwrite write touches only the delta's partition
  * directories. Row counts come from a read of the written partitions,
  * not a recompute of the delta.
  */
object Incremental {

  final case class IncResult(fullRefresh: Boolean, rowsWritten: Long,
      partitionsWritten: Seq[String], highWaterMark: Option[String])

  private def listParts(target: String, partCol: String): Seq[String] = {
    val dir = new java.io.File(target)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .map(_.getName.stripPrefix(s"$partCol="))
      .sorted.toSeq
  }

  /** One incremental run of `source` into the partitioned parquet table at
    * `target`. `partCol` must be a monotonically-growing partition column
    * (a date/month string in the models here). */
  def run(spark: SparkSession, target: String, partCol: String,
      source: DataFrame): IncResult = {
    val exists = new java.io.File(target).exists()
    if (!exists) {
      source.write.partitionBy(partCol).mode(SaveMode.Overwrite).parquet(target)
      val written = spark.read.parquet(target)
      IncResult(fullRefresh = true, written.count(),
        listParts(target, partCol), None)
    } else {
      // high-water mark from the target's partition DIRECTORIES — a
      // metadata listing, no data read of the existing table
      val hwm = listParts(target, partCol).lastOption.getOrElse(
        sys.error(s"$target exists but has no $partCol= partitions"))
      val delta = source.filter(col(partCol) >= lit(hwm))
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.get(key, "STATIC")
      spark.conf.set(key, "dynamic")
      try delta.write.partitionBy(partCol).mode(SaveMode.Overwrite).parquet(target)
      finally spark.conf.set(key, prev)
      val touched = listParts(target, partCol).filter(_ >= hwm)
      val rows = spark.read.parquet(target)
        .filter(col(partCol) >= lit(hwm)).count()
      IncResult(fullRefresh = false, rows, touched, Some(hwm))
    }
  }

  /** The incremental flavor of fct_orders: same rows as `Wh.fctOrders`,
    * partitioned by order month — the canonical incremental fact. */
  def fctOrdersMonthly(ctx: Ctx): DataFrame =
    layers.Wh.fctOrders(ctx)
      .withColumn("order_month", date_format(col("order_date"), "yyyy-MM"))
}
