package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Two-phase (partition-wise) global-order analytics.
  *
  * A `Window.orderBy(...)` with an empty partitionBy funnels the whole
  * relation through ONE task — correct, but a scale-killer once the
  * per-entity relation is 100M+ rows (SF1000 customers/parts). This is the
  * standard distributed rewrite, all inside the declarative plan:
  *
  *   1. range-repartition the relation on the window order (P ranges, so
  *      partition boundaries respect the total order);
  *   2. compute row numbers / ROWS-frame running sums per range in parallel
  *      (a window keyed on the stable partition id);
  *   3. reduce each range to one (count, sums...) row — P rows total — and
  *      turn those into per-range prefix offsets with a triangular self-join
  *      on the tiny side;
  *   4. broadcast-join the offsets back and add offset + local value.
  *
  * Results are bit-identical to the single-partition window when the
  * cumulated columns are exact (decimal/integer) types: decimal addition is
  * associative, so regrouping the sum by partition never changes it. Rank /
  * ntile / RANGE-frame (tie-sharing) semantics are derived from the unique
  * global row number — see [[rankFromRowNumber]], [[ntileFromRowNumber]],
  * [[rangeCumFromRowsCum]].
  *
  * The only non-parallel piece is the offsets side: P rows (one per range)
  * flowing through a triangular join + broadcast — the same footprint as any
  * grand-total aggregate, independent of data size.
  *
  * SMALL-INPUT FAST PATH (r13 optimization): the two-phase machinery costs
  * ~5 Spark jobs (persist, range sampling, per-range window, offsets
  * aggregate, broadcast-back join) regardless of input size — pure fixed
  * overhead when the ordered relation is a few thousand per-entity rows.
  * Since the rewrite is BY CONSTRUCTION bit-identical to the plain
  * single-partition window (the docstring contract above, pinned by
  * ScaleSpec), globalOrder now measures the input's row count (one action
  * over the already-persisted input — the same materialization the range
  * sampler forced anyway) and, when it is at most
  * `spark.graft.globalOrder.singleTaskMaxRows` (default 1,000,000), runs the
  * reference single-window form directly. The window is therefore
  * row-count-GUARDED, never data-scaled: above the bound the two-phase plan
  * is unchanged (ScaleSpec pins both the equivalence and the big-path plan
  * shape by forcing the threshold). The count makes construction eager —
  * acceptable for the same reason the sampling pass was: both run inside the
  * timed region of every bench/oracle action.
  */
object Scale {

  /** Row-count bound under which the single-task window form is used.
    * Conf-tunable (`spark.graft.globalOrder.singleTaskMaxRows`); 0 forces
    * the two-phase path everywhere (the 100 TB posture, used by specs).
    * Also 0 inside a [[graft.Store.reads]] capture: a plan built for its
    * schema or its reads (Runner.manifest, Runner.buildAll's DAG) must not
    * run the fast path's construction-time count job. */
  def singleTaskMaxRows(spark: org.apache.spark.sql.SparkSession): Long =
    if (graft.Store.capturing) 0L
    else spark.conf.get("spark.graft.globalOrder.singleTaskMaxRows", "1000000").toLong

  /** Attach global-order analytics to `df` without a single-partition window.
    *
    * @param order   total order (must be unique — include a tie-break key)
    * @param rn      output column for the 1-based global row number (int)
    * @param cums    (input column, output column) pairs: ROWS-frame
    *                (unbounded preceding .. current row) running sums in
    *                `order`; input columns must be exact (decimal/integer)
    * @param totals  (input column, output column) pairs: grand totals
    * @param totalCount output column for the grand row count, if wanted
    * @param persistInput set false ONLY when `df` is already deterministic
    *                and cheap to re-evaluate (e.g. a projection over a
    *                cached relation, like a previous globalOrder output) —
    *                skips the extra cache while keeping the sampling pass
    *                consistent with the data pass
    */
  def globalOrder(
      df: DataFrame,
      order: Seq[Column],
      rn: Option[String] = None,
      cums: Seq[(String, String)] = Nil,
      totals: Seq[(String, String)] = Nil,
      totalCount: Option[String] = None,
      numPartitions: Int = 0,
      persistInput: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val p =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val pid = "__go_pid"
    // The range exchange SAMPLES its child to pick boundaries, then reads it
    // again for the real pass — an unpersisted input (often a full fact
    // join+aggregate) would be computed twice. Persist it unless the caller
    // already did (e.g. a chained globalOrder whose input is the previous
    // call's cached relation). A plan built inside a Store.reads capture is
    // never run, so it persists nothing.
    val capturing = graft.Store.capturing
    val input =
      if (persistInput && df.storageLevel == StorageLevel.NONE && !capturing)
        df.persist(StorageLevel.MEMORY_AND_DISK)
      else df

    // Small-input fast path: one count over the (persisted) input decides.
    // The two-phase plan below is documented/spec-pinned bit-identical to
    // these single-window forms, so the branch can never change results.
    val smallMax = singleTaskMaxRows(spark)
    if (smallMax > 0 && input.count() <= smallMax) {
      val w = Window.orderBy(order: _*)
      val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      val withRn = rn.fold(input)(n =>
        input.withColumn(n, row_number().over(w).cast("int")))
      val withCums = cums.foldLeft(withRn) { case (d, (c, out)) =>
        d.withColumn(out, sum(col(c)).over(wCum))
      }
      val withTotals = totals.foldLeft(withCums) { case (d, (c, out)) =>
        d.withColumn(out, sum(col(c)).over(wAll))
      }
      val result = totalCount.fold(withTotals)(n =>
        withTotals.withColumn(n, count(lit(1)).over(wAll)))
      // persist like the two-phase path persists `local`: several reports
      // consume the ranked relation more than once (rank/tie windows,
      // self-joins) and would otherwise re-run the window per consumer
      return result.persist(StorageLevel.MEMORY_AND_DISK)
    }

    val parted = input.repartitionByRange(p, order: _*)
      .withColumn(pid, spark_partition_id())

    // phase 1: per-range local row numbers / running sums (parallel).
    // MATERIALIZED once: the offsets aggregate below consumes the same
    // relation a second time, and a re-evaluated repartitionByRange would
    // re-SAMPLE its boundaries (seeded per RDD instantiation) — the two
    // branches could then disagree on which range a row belongs to, i.e.
    // wrong offsets. (spark_partition_id is nondeterministic, which also
    // defeats ReuseExchange canonicalization — a persist is the one robust
    // way to share the partitioning.) The cached relation is the window
    // INPUT (per-entity aggregates), orders of magnitude smaller than the
    // facts, so the footprint is the same as any dbt `table` boundary.
    val wRow = Window.partitionBy(pid).orderBy(order: _*)
    val wCum = wRow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local0 = rn.fold(parted)(_ => parted.withColumn("__go_lrn", row_number().over(wRow)))
    val windowed = cums.foldLeft(local0) { case (d, (c, _)) =>
      d.withColumn(s"__go_lcum_$c", sum(col(c)).over(wCum))
    }
    val local = if (capturing) windowed else windowed.persist(StorageLevel.MEMORY_AND_DISK)

    // phase 2: one row per range -> prefix offsets via triangular self-join
    val sumCols = (cums.map(_._1) ++ totals.map(_._1)).distinct
    val pidAgg = local.groupBy(col(pid)).agg(
      count(lit(1)).as("__go_cnt"),
      sumCols.map(c => sum(col(c)).as(s"__go_s_$c")): _*)
    val a = pidAgg.select(col(pid).as("__go_apid"))
    val b = pidAgg.columns.foldLeft(pidAgg)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val before = col(s"b_$pid") < col("__go_apid")
    val offAggs =
      sum(when(before, col("b___go_cnt")).otherwise(lit(0L))).as("__go_cntoff") +:
      sum(col("b___go_cnt")).as("__go_total_cnt") +:
      sumCols.flatMap(c => Seq(
        sum(when(before, col(s"b___go_s_$c")).otherwise(lit(0))).as(s"__go_off_$c"),
        sum(col(s"b___go_s_$c")).as(s"__go_tot_$c")))
    val offsets = a.crossJoin(b).groupBy(col("__go_apid"))
      .agg(offAggs.head, offAggs.tail: _*)
      .withColumnRenamed("__go_apid", pid)

    // phase 3: broadcast offsets back and materialize the requested columns
    val joined = local.join(broadcast(offsets), Seq(pid))
    val withRn = rn.fold(joined)(n =>
      joined.withColumn(n, (col("__go_lrn") + col("__go_cntoff")).cast("int")))
    val withCums = cums.foldLeft(withRn) { case (d, (c, out)) =>
      d.withColumn(out, col(s"__go_lcum_$c") + col(s"__go_off_$c"))
    }
    val withTotals = totals.foldLeft(withCums) { case (d, (c, out)) =>
      d.withColumn(out, col(s"__go_tot_$c"))
    }
    val withCount = totalCount.fold(withTotals)(n =>
      withTotals.withColumn(n, col("__go_total_cnt")))
    withCount.drop(withCount.columns.filter(_.startsWith("__go_")): _*)
  }

  /** Exact global row number for a LOW-CARDINALITY order column — the
    * cheap sibling of [[globalOrder]] when the ordering value is discrete
    * (day counts, order counts, scores): instead of sampling + range
    * repartitioning the relation, aggregate the VALUE DISTRIBUTION
    * (one partial-aggregatable shuffle, one row per distinct value),
    * prefix-sum it into per-value offsets, and broadcast the offsets back:
    *
    *   rn(row) = (# rows with a strictly-earlier value) + row_number
    *             within the row's value group ordered by `tie`.
    *
    * Identical to the single-partition `row_number()` (and to
    * [[globalOrder]]'s rn) because the value groups partition the order.
    * The per-value window shuffles once on the value; the offsets pass
    * runs on the distinct-value relation — its cardinality is a property
    * of the DOMAIN (e.g. ≤ tens of thousands of distinct day counts), not
    * of data volume, the same footprint contract as [[globalOrder]]'s
    * triangular offsets join.
    *
    * Applicability is a BAND, not just a lower bound: (a) near-unique
    * values (money sums) degenerate the distribution to one row per input
    * row — that is [[globalOrder]]'s job; (b) tiny enum domains (a 5-value
    * status, an order count that tops out at 50) concentrate whole value
    * groups in single window tasks — the hot-key funnel this module
    * exists to avoid — so they too belong to [[globalOrder]], whose range
    * order includes the tie-break and therefore SPLITS heavy value groups
    * across ranges. Use this form when the domain is wide enough that a
    * single value's group stays task-sized (day counts, bucketed
    * timestamps, ids-per-hour).
    *
    * @param value exact-typed discrete order column (must be a plain
    *              column of `df`)
    * @param desc  order direction for `value`
    * @param tie   tie-break within a value group (must complete a total
    *              order)
    */
  def rnByValueDistribution(
      df: DataFrame,
      value: String,
      desc: Boolean,
      tie: Seq[Column],
      rn: String,
      totalCount: Option[String] = None): DataFrame = {
    // Same row-count-guarded fast path as [[globalOrder]] (documented there):
    // this operator's contract is literally "identical to the
    // single-partition row_number()", so under the bound run that form.
    val smallMax = singleTaskMaxRows(df.sparkSession)
    if (smallMax > 0 && df.count() <= smallMax) {
      val ord = (if (desc) col(value).desc else col(value).asc) +: tie
      val w = Window.orderBy(ord: _*)
      val withRn = df.withColumn(rn, row_number().over(w).cast("int"))
      return totalCount.fold(withRn)(n =>
        withRn.withColumn(n, count(lit(1)).over(Window.partitionBy())))
    }
    val counts = df.groupBy(col(value)).agg(count(lit(1)).as("__vd_cnt"))
    // per-value prefix offsets via the same triangular join globalOrder
    // uses for its P-range offsets — no Window node, so the plan keeps the
    // "no empty-partition window" invariant. O(V²) pairs over the
    // distribution relation: fine for the discrete domains this operator
    // is for, the reason near-unique values must use globalOrder instead.
    val a = counts.select(col(value), col("__vd_cnt"))
    val b = counts.select(col(value).as("__vd_bv"), col("__vd_cnt").as("__vd_bc"))
    val before =
      if (desc) col("__vd_bv") > col(value) else col("__vd_bv") < col(value)
    val offsets = a.crossJoin(broadcast(b))
      .groupBy(col(value))
      .agg(
        sum(when(before, col("__vd_bc")).otherwise(lit(0L))).as("__vd_off"),
        sum(col("__vd_bc")).as("__vd_total"))
    val wLocal = Window.partitionBy(col(value)).orderBy(tie: _*)
    val joined = df.join(broadcast(offsets), Seq(value))
      .withColumn(rn,
        (col("__vd_off") + row_number().over(wLocal)).cast("int"))
    totalCount.fold(joined.drop("__vd_off", "__vd_total"))(n =>
      joined.withColumn(n, col("__vd_total")).drop("__vd_off", "__vd_total"))
  }

  /** SQL RANK() over the same ordering the unique row number was built on,
    * with ties on `tieCols`: the rank of a row is the smallest row number in
    * its tie group — one shuffle on the tie value, never single-partition. */
  def rankFromRowNumber(rnCol: Column, tieCols: Seq[Column]): Column =
    min(rnCol).over(Window.partitionBy(tieCols: _*)).cast("int")

  /** SQL NTILE(k) from the unique global row number and total count:
    * the first (n mod k) buckets get (n div k + 1) rows, the rest n div k.
    * floor(x / y) over counts < 2^53 is an exact integer division. */
  def ntileFromRowNumber(rn: Column, n: Column, k: Int): Column = {
    val base = floor(n / k)
    val rem = n % k
    val cut = rem * (base + 1)
    when(rn <= cut, floor((rn - 1) / (base + 1)) + 1)
      .otherwise(rem + floor((rn - cut - 1) / base) + 1)
      .cast("int")
  }

  /** RANGE-frame (tie-sharing) running sum from a ROWS-frame one: every row
    * of a tie group takes the group's last ROWS cumulative value. */
  def rangeCumFromRowsCum(rowsCum: Column, tieCols: Seq[Column]): Column =
    max(rowsCum).over(Window.partitionBy(tieCols: _*))
}
