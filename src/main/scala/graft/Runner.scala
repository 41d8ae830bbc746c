package graft

import graft.layers._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The `dbt build` lifecycle twin (SURVEY §3): materializes every
  * table-layer model in topological order with per-run housekeeping
  * constants, then runs the schema-test gate.
  *
  * dbt semantics reproduced:
  *  - ephemeral base models are never materialized (they're plain defs);
  *  - `table` models are written (parquet here; bucketed via Lake at
  *    cluster scale) in dependency order;
  *  - wh-layer models carry dbt_batch_id/dbt_batch_ts audit columns with
  *    constants fixed once per invocation (macros/dbt_housekeeping.sql:1-4);
  *  - schema tests (unique/not_null/relationships) gate the build: a
  *    failure aborts before downstream layers, like `dbt build`.
  */
object Runner {

  final case class BuildResult(table: String, rows: Long, path: String,
      seconds: Double = 0.0, skipped: Boolean = false)

  // per-model build trace to stderr (timeline offsets make the concurrent
  // phases readable); SPARK_GRAFT_BUILD_LOG=0 silences it
  private def buildLog(msg: => String): Unit =
    if (sys.env.get("SPARK_GRAFT_BUILD_LOG").forall(_ != "0"))
      System.err.println(msg)

  /** Alternate front/back of a cost-sorted list: heavy models start
    * early (no straggler tail) but never ALL at once — strict
    * heaviest-first was measured WORSE at SF10 (the 8 heaviest are all
    * memory-hungry two-phase rankings; co-running the full set thrashes
    * the block manager). Interleaving caps concurrent heavies at
    * ~threads/2 with light scan-aggregate models filling the other
    * slots. */
  private def interleave[A](sorted: Seq[A]): Seq[A] = {
    val (front, back) = (sorted.iterator, sorted.reverseIterator)
    (0 until sorted.size).map(i =>
      if (i % 2 == 0) front.next() else back.next())
      .take(sorted.size)
  }

  /** Relative cost rank for the report phase's interleaved submission —
    * from the measured per-model wall times of the SF10 replica build
    * (heaviest ≈ 300 s, lightest ≈ 30 s; the ranking, not the absolute
    * numbers, is what scheduling needs, and it is stable across scale
    * factors because it tracks each model's input grain). Models not
    * listed are light and sort last. */
  private val reportWeight: Map[String, Int] = Seq(
    "supplier_revenue_ranking", "customer_rfm_segments",
    "part_abc_classification", "part_sales_velocity",
    "supply_chain_network", "inventory_turnover",
    "supplier_lead_time_distribution", "supplier_concentration_risk",
    "part_type_performance", "metrics_supplier_reliability",
    "supplier_scorecard", "customer_concentration_risk",
    "metrics_profit_margin_trend", "metrics_inventory_coverage",
    "regional_trade_balance", "metrics_shipping_efficiency",
    "metrics_top_parts_trending", "tax_and_discount_leakage",
    "repeat_purchase_analysis", "discount_effectiveness",
    "fulfillment_priority_analysis").reverse.zipWithIndex
    .map { case (n, i) => n -> (i + 1) }.toMap

  /** A build node's layer: wh models carry the housekeeping columns,
    * rollups are written under `_rollups/`, outside the returned tables,
    * and every report-layer model runs after the schema gate. */
  private[graft] object Layer extends Enumeration { val Ods, Wh, Rollup, Report = Value }

  private[graft] final case class Node(name: String, layer: Layer.Value,
      plan: Ctx => DataFrame)

  /** The schema-test gate's node. */
  private[graft] val Gate = "__gate"

  /** Tables whose persisted copy `cacheParents` demotes to a parquet read
    * once their readers above the report layer are done. Keeping
    * everything persisted measured SLOWER at SF10 (the report phase
    * evict-thrashed ~45 GB of cached relations in a 38 GB store). */
  private val demoted = Seq("orders_items", "parts_suppliers", "dim_part_supplier_xrf")
  private def demotion(name: String): String = s"__demote_$name"

  /** Every model and rollup of a build: ods, wh, rollups, then the report
    * layer (the Registry's `table` models) in an order that interleaves
    * heavy and light models, so heavies start early without co-running as
    * a memory-hungry block. */
  private[graft] def nodes: Seq[Node] = {
    def ods(n: String, f: Ctx => DataFrame) = Node(n, Layer.Ods, f)
    def wh(n: String, f: Ctx => DataFrame) = Node(n, Layer.Wh, f)
    def rollup(n: String, f: Ctx => DataFrame) = Node(n, Layer.Rollup, f)
    Seq(
      // ods layer (dbt `table`, no housekeeping — dbt_project.yml:31-32)
      ods("customers", Ods.customers), ods("nations", Ods.nations),
      ods("regions", Ods.regions), ods("parts", Ods.parts),
      ods("suppliers", Ods.suppliers), ods("orders", Ods.orders),
      ods("orders_items", Ods.ordersItems),
      ods("parts_suppliers", Ods.partsSuppliers),
      // wh layer (dbt `table` with housekeeping — dbt_project.yml:33-34)
      wh("dim_customer", Wh.dimCustomer), wh("dim_supplier", Wh.dimSupplier),
      wh("dim_part", Wh.dimPart), wh("dim_part_supplier_xrf", Wh.dimPartSupplierXrf),
      wh("fct_orders", Wh.fctOrders), wh("fct_orders_items", Wh.fctOrdersItems),
      wh("rpt_pricing_summary", Wh.rptPricingSummary),
      wh("rpt_minimum_cost_suppliers", Wh.rptMinimumCostSuppliers),
      // shared rollup boundary (layers.Rollups — the dbt table-layer reuse
      // twin): grain-reduced relations serving the report fan-out
      rollup("rollup_customer_orders", Rollups.customerOrders),
      rollup("rollup_customer_month", Rollups.customerMonth),
      rollup("rollup_part_month", Rollups.partMonth),
      rollup("rollup_supplier_sales", Rollups.supplierSales),
      rollup("rollup_nation_flows", Rollups.nationFlows)) ++
    // metrics + reports layers (dbt `table`, no housekeeping); intermediate
    // models stay views (dbt_project.yml:35-36)
    interleave(Registry.all.iterator
      .collect { case (n, en) if en.mat == Registry.Mat.Table => n -> en }
      .toSeq
      .sortBy { case (n, _) => -reportWeight.getOrElse(n, 0) })
      .map { case (n, en) => Node(n, Layer.Report, en.fn) }
  }

  /** The build DAG in submission order: every node with its parents, which
    * precede it. Like dbt, which reads its DAG off the `ref()` calls in each
    * model, the model, rollup and gate edges are the build nodes each plan
    * reads through [[Store.table]] directly, captured with [[Store.reads]].
    * What is added is policy: every report-layer model runs after the gate,
    * and in `cacheParents` mode each [[demoted]] table is demoted after its
    * readers above the report layer, before any report starts. Capture is
    * lazy, so a build runs each node while later ones are captured. */
  private[graft] def dag(ctx: Ctx, cacheParents: Boolean): Iterator[(String, Seq[String])] = {
    val all = nodes
    val byName = all.map(n => n.name -> n).toMap
    def capture(names: Seq[String]) =
      names.iterator.zip(Store.reads(names) { n =>
        if (n == Gate) gateChecks(ctx) else byName(n).plan(ctx)
      }).map { case (n, (_, reads)) => n -> reads.filter(byName.contains) }
    val (reports, tables) = all.partition(_.layer == Layer.Report)
    val (rollups, models) = tables.partition(_.layer == Layer.Rollup)
    val upstream = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
    // `++` takes its operand by name: demotions are derived once every
    // reader above the report layer is captured
    lazy val demotions =
      if (!cacheParents) Nil
      else demoted.map(d =>
        demotion(d) -> (d +: upstream.toSeq.collect { case (n, r) if r.contains(d) => n }))
    // the gate, the report layer's prerequisite, goes before the rollups
    capture(models.map(_.name) ++ Seq(Gate) ++ rollups.map(_.name))
      .map { e => upstream += e; e } ++
      demotions ++
      capture(reports.map(_.name))
        .map { case (n, ps) => n -> ((Gate +: demotions.map(_._1)) ++ ps) }
  }

  /** Is this build failure the transient driver-memory class that a
    * resume retry heals? Two shapes witnessed on SF10-replica draws:
    * Spark's broadcast-relation build guard ("Not enough memory to build
    * and broadcast" — BroadcastExchangeExec wrapping an OOM during a
    * concurrent-writer broadcast storm, r13 draw 12) and the GCLocker
    * spurious allocation failure (JNI critical sections starving a large
    * allocation on a drag epoch, r12/r13 — largely fixed by the
    * GCLockerRetryAllocationCount=100 javaOption but kept classified).
    * Both are transient by nature: the pressure came from the CONCURRENT
    * writers, and a resume rebuilds only the missing models with fewer
    * live broadcasts. Deterministic failures (schema gate, missing
    * input, analysis errors) are NOT retryable — rethrown unchanged. */
  private[graft] def retryableBuildFailure(t: Throwable): Boolean = {
    val msg = Option(t.getMessage).getOrElse("")
    t.isInstanceOf[OutOfMemoryError] ||
      (t.isInstanceOf[org.apache.spark.SparkException] &&
        (msg.contains("Not enough memory to build and broadcast") ||
          msg.contains("GCLocker")))
  }

  /** [[buildAll]] with crash-only self-healing for the transient
    * driver-memory failure class ([[retryableBuildFailure]]): on such an
    * abort the completed models' _SUCCESS markers stand, so a
    * `resume = true` retry redoes ONLY the missing models — and does it
    * with HALVED writer concurrency, since the failure's cause is
    * concurrent broadcast-build pressure (N writers × multi-GB transient
    * hash relations). The dbt analogue is `dbt build` + `dbt retry`
    * folded into one call. Anything non-transient rethrows on first
    * occurrence, unchanged. */
  def buildAllResilient(ctx: Ctx, outDir: String, threads: Int = 8,
      cacheParents: Boolean = false, maxRetries: Int = 2): Seq[BuildResult] = {
    var attempt = 0
    var result: Option[Seq[BuildResult]] = None
    while (result.isEmpty) {
      val t = if (attempt == 0) threads else math.max(2, threads / 2)
      try result = Some(
        buildAll(ctx, outDir, t, resume = attempt > 0, cacheParents))
      catch {
        case e: Throwable if attempt < maxRetries && retryableBuildFailure(e) =>
          attempt += 1
          buildLog(s"[build] transient memory abort " +
            s"(${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}) — " +
            s"resuming missing models, attempt $attempt/$maxRetries at " +
            s"${math.max(2, threads / 2)} writers")
      }
    }
    result.get
  }

  /** Full dbt-build twin. `threads` mirrors the reference's `dbt build`
    * concurrency (profiles threads: 8). The build DAG is [[dag]]: as dbt
    * reads its DAG off each model's `ref()` calls, each node's parents are
    * the Store tables its plan reads, so no dependency is written down
    * here. Every node starts the moment its parents land and runs as a
    * concurrent Spark action — the scheduler interleaves their stages and
    * keeps all cores busy even while one model sits in a narrow stage.
    *
    * `resume = true` is the `dbt retry` twin: a model whose output
    * directory already holds a complete write (its _SUCCESS marker) is
    * NOT recomputed — it is swapped into the Store straight from parquet
    * and reported with `skipped = true` — so a build that died mid-run
    * redoes only the missing/incomplete models. Parquet writes are
    * atomic-by-marker (a killed write leaves no _SUCCESS), which makes
    * the marker a sound completeness signal.
    *
    * `cacheParents = true` keeps each materialized parent PERSISTED in the
    * block manager for its downstream consumers instead of re-reading the
    * written parquet at every phase boundary (the write still happens — the
    * table contract is unchanged — but children consume the in-memory copy,
    * which is bit-identical to the file: it is the exact relation the writer
    * materialized). On a host whose scratch volume is slow relative to
    * memory this removes ~15 full re-scans of the two 60M-row facts from
    * the critical path; on a cluster the same role is played by the
    * bucketed-parquet page cache. Default stays write-through (the dbt
    * execution-model twin, and the bounded-memory path). */
  def buildAll(ctx: Ctx, outDir: String, threads: Int = 8,
      resume: Boolean = false, cacheParents: Boolean = false): Seq[BuildResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val runId = java.util.UUID.randomUUID().toString
    val runTs = new java.sql.Timestamp(System.currentTimeMillis())
    val hk = Macros.housekeeping(runId, runTs)
    val buildT0 = System.nanoTime()
    def rel: Double = (System.nanoTime() - buildT0) / 1e9

    def write(name: String, path: String, df: DataFrame,
        housekeeping: Boolean): BuildResult = {
      val t0 = System.nanoTime()
      val out = if (housekeeping) df.select(col("*") +: hk: _*) else df
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      // Hadoop FS, not java.io: outDir may be hdfs:// or s3a://
      if (resume && marker.getFileSystem(
          ctx.spark.sparkContext.hadoopConfiguration).exists(marker)) {
        // complete prior write: count from parquet row-group metadata (the
        // reader short-circuits a bare count), no recompute
        return BuildResult(name, ctx.spark.read.parquet(path).count(), path,
          (System.nanoTime() - t0) / 1e9, skipped = true)
      }
      // Row count rides the write action as an observed metric instead of a
      // post-write `read.parquet(path).count()`: at SF10 that re-count
      // re-scanned all ~487M output rows across 50 tables purely for the
      // audit number. Observation piggybacks on the rows already flowing
      // through the writer — zero extra scan, same exact count.
      val obs = org.apache.spark.sql.Observation(s"build_${name}_$runId")
      out.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
        .write.mode("overwrite").parquet(path)
      val rows = obs.get("rows").asInstanceOf[Long]
      val sec = (System.nanoTime() - t0) / 1e9
      buildLog(f"[build] +$rel%7.1f  $name%-32s $sec%7.1f s $rows%12d rows")
      // this model's dim broadcasts just became garbage; if broadcast-held
      // driver storage is pressed, reclaim NOW instead of waiting for a
      // rare long-heap GC (the r12 broadcast-OOM abort — see DriverGuard)
      DriverGuard.reclaimIfPressed()
      BuildResult(name, rows, path, sec)
    }

    // node-level readiness, as dbt runs its DAG: phase barriers left cores
    // idle at every phase tail (measured at SF10: only orders_items +
    // parts_suppliers ran for the last ~55 s of the "ods phase"). Nodes
    // chain through Future.flatMap — a waiting node occupies NO pool
    // thread, so the fixed pool cannot deadlock on dependencies. The
    // chaining itself runs parasitic, on the thread that completes a
    // future: only node bodies go to the pool, so no callback is still
    // pending there when a failed build shuts it down.
    val byName = nodes.map(n => n.name -> n).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val exec = ExecutionContext.fromExecutorService(pool)
    implicit val chain: ExecutionContext = ExecutionContext.parasitic
    val futures = scala.collection.mutable.Map.empty[String, Future[Any]]
    def after[A](deps: Seq[Future[Any]])(body: => A): Future[A] =
      Future.sequence(deps).flatMap(_ => Future {
        // every node body tags its Spark jobs with this build's run id so a
        // failing build can cancel the in-flight siblings (fail fast, and
        // no job is left writing into outDir after buildAll returns)
        ctx.spark.sparkContext.setJobGroup(runId, s"graft buildAll $runId",
          interruptOnCancel = true)
        try body finally ctx.spark.sparkContext.clearJobGroup()
      }(exec))
    // parquet read of a written model, without its housekeeping columns
    def written(path: String, housekeeping: Boolean): DataFrame = {
      val pq = ctx.spark.read.parquet(path)
      if (housekeeping) pq.drop("dbt_batch_id", "dbt_batch_ts") else pq
    }
    // plan CONSTRUCTION happens inside the node body (after its parents),
    // so a child's plan always embeds the parent's post-write Store state —
    // the write-through swap (or cacheParents persist) its parents published
    def model(n: Node): BuildResult = {
      // broadcast-pressure admission: on a drag epoch the concurrent
      // writers' live dim broadcasts can exhaust driver storage (the r12
      // SF10-replica abort at 8g). Waiting here holds no broadcasts, so
      // in-flight models drain pressure and admission resumes; timeout
      // proceeds anyway. Healthy path: one counter read, no wait.
      if (!DriverGuard.admit())
        buildLog(f"[build] +$rel%7.1f  ${n.name} admission timed out at " +
          f"${DriverGuard.broadcastFraction}%.2f broadcast fraction — proceeding")
      val housekeeping = n.layer == Layer.Wh
      val dir = if (n.layer == Layer.Rollup) s"$outDir/_rollups" else outDir
      val r = write(n.name, s"$dir/${n.name}", n.plan(ctx), housekeeping)
      // write-through: children read the WRITTEN parquet and the persist is
      // freed (Store.swap); cacheParents keeps it for them — except for a
      // resumed skip, whose persist was never filled
      if (!cacheParents || r.skipped)
        Store.swap(ctx, n.name, written(r.path, housekeeping))
      r
    }
    def body(name: String): Any =
      if (name == Gate) {
        // schema-test gate (reference fct_orders.yml / fct_orders_items.yml):
        // every report depends on it, so a violation aborts before any
        // report materializes — `dbt build` semantics with dbt's scheduling
        schemaGate(ctx)
        buildLog(f"[build] +$rel%7.1f  === schema gate passed")
      } else demoted.find(d => demotion(d) == name) match {
        case Some(d) =>
          Store.swap(ctx, d, written(s"$outDir/$d", byName(d).layer == Layer.Wh))
        case None => model(byName(name))
      }

    try {
      // each node is submitted as soon as its plan is captured: the report
      // layer's capture runs while the layers above it build
      scala.util.Try {
        dag(ctx, cacheParents).foreach { case (name, parents) =>
          futures(name) = after(parents.map(futures))(body(name))
        }
        buildLog(f"[build] +$rel%7.1f  === DAG captured (${futures.size} nodes)")
      }.flatMap(_ => scala.util.Try(
        Await.result(Future.sequence(futures.values.toSeq), Duration.Inf))) match {
        case scala.util.Failure(e) =>
          // a capture, gate or model failed: Future.sequence fails fast
          // while sibling nodes are still running. Cancel this build's
          // in-flight jobs, then wait for EVERY node future to settle
          // before rethrowing — otherwise the finally's Store.clear races
          // live jobs and a background write can land in outDir after
          // buildAll returned (callers delete outDir on failure).
          scala.util.Try(ctx.spark.sparkContext.cancelJobGroup(runId))
          Await.ready(Future.sequence(
            futures.values.toSeq.map(_.transform(scala.util.Success(_)))),
            Duration.Inf)
          awaitTasksEnded(ctx.spark.sparkContext, runId)
          throw e
        case scala.util.Success(_) => ()
      }
      val models = nodes.filter(_.layer != Layer.Rollup).map(_.name)
      buildLog(f"[build] +$rel%7.1f  === build complete (${models.size} models)")
      models.map(n => Await.result(futures(n), Duration.Inf).asInstanceOf[BuildResult])
    } finally {
      pool.shutdown()
      // A build is a batch job: the write-through swaps above left the
      // session's Store pointing into outDir (which the caller may delete).
      // Leave the session as we found it — later plans rebuild from source
      // rather than dangling on this build's files.
      Store.clear(ctx.spark)
    }
  }

  /** Waits until every job of job group `group` has ended and none of its
    * tasks still runs. A cancelled job fails its caller at once, but its
    * tasks are killed asynchronously: a write task keeps writing, then
    * deletes, its `_temporary` file until it sees the interrupt. The status
    * tracker shows a job ended only after its stages' completion events,
    * so from then on a stage's active-task count is exact. Bounded by
    * `timeoutMs`: a task that ignores its interrupt is not waited on
    * forever. */
  private[graft] def awaitTasksEnded(sc: org.apache.spark.SparkContext,
      group: String, timeoutMs: Long = 60000L): Unit = {
    val tracker = sc.statusTracker
    def running: Boolean = tracker.getJobIdsForGroup(group).exists { id =>
      tracker.getJobInfo(id).exists { j =>
        j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
        j.stageIds.exists(s => tracker.getStageInfo(s).exists(_.numActiveTasks > 0))
      }
    }
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (running && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Per-table result of [[diff]]: row-multiset deltas between two builds. */
  final case class TableDiff(
      table: String,
      onlyInA: Long,        // rows (with multiplicity) present only in build A
      onlyInB: Long,        // rows present only in build B
      rowsA: Long,
      rowsB: Long,
      schemaChanged: Boolean,
      changedKeys: Option[Long]) { // keys present in both with differing rows
    def identical: Boolean = onlyInA == 0 && onlyInB == 0 && !schemaChanged
  }

  /** Data diff between two build directories — the twin of the reference's
    * recce regression mechanism (reference pyproject.toml:10 `recce>=1.35.0`;
    * Makefile:54-58 builds a base and a current variant and row-diffs them).
    *
    * Fully distributed: each side is reduced to md5(to_json(row)) multiset
    * counts (one shuffle per side at the hash grain), full-outer joined on
    * the hash, and the count deltas summed — no collected row sets, no
    * driver-side comparison, so a 100 TB table diffs at the cost of two
    * scans + one hash-grain shuffle. When `keys` declares a unique key for
    * a table, rows are additionally compared per key to report CHANGED keys
    * (a key present in both builds whose row content differs) — recce's
    * primary-key diff mode. Schema changes (column name/type set) are
    * reported and the row diff is skipped for that table (recce reports the
    * schema delta the same way).
    */
  def diff(spark: org.apache.spark.sql.SparkSession, dirA: String, dirB: String,
      keys: Map[String, Seq[String]] = Map.empty): Seq[TableDiff] = {
    import org.apache.spark.sql.functions.{coalesce, greatest, lit, md5, struct, sum, to_json}
    def tables(dir: String): Set[String] = Ctx.subdirs(spark, dir).getOrElse(Nil)
      .filterNot(_.startsWith("_")).toSet // _rollups etc: internal, not models
    val (tablesA, tablesB) = (tables(dirA), tables(dirB))
    (tablesA ++ tablesB).toSeq.sorted.map { t =>
      val inA = tablesA(t)
      val inB = tablesB(t)
      def read(dir: String) = spark.read.parquet(s"$dir/$t")
      if (!inA || !inB) {
        val rows = read(if (inA) dirA else dirB).count()
        TableDiff(t, if (inA) rows else 0L, if (inB) rows else 0L,
          if (inA) rows else 0L, if (inB) rows else 0L,
          schemaChanged = true, changedKeys = None)
      } else {
        val a = read(dirA)
        val b = read(dirB)
        val schemaA = a.schema.fields.map(f => (f.name, f.dataType)).toSet
        val schemaB = b.schema.fields.map(f => (f.name, f.dataType)).toSet
        if (schemaA != schemaB)
          TableDiff(t, a.count(), b.count(), a.count(), b.count(),
            schemaChanged = true, changedKeys = None)
        else {
          val cols = a.columns.sorted.toSeq
          def hashed(df: DataFrame) = df
            .select(md5(to_json(struct(cols.map(df.apply): _*))).as("__h"))
            .groupBy("__h").count()
          val j = hashed(a).withColumnRenamed("count", "__ca")
            .join(hashed(b).withColumnRenamed("count", "__cb"), Seq("__h"), "full_outer")
            .select(
              coalesce(col("__ca"), lit(0L)).as("ca"),
              coalesce(col("__cb"), lit(0L)).as("cb"))
            .agg(
              sum(greatest(col("ca") - col("cb"), lit(0L))).as("onlyA"),
              sum(greatest(col("cb") - col("ca"), lit(0L))).as("onlyB"),
              sum(col("ca")).as("rowsA"), sum(col("cb")).as("rowsB"))
            .head()
          val changed = keys.get(t).map { kc =>
            def keyed(df: DataFrame) = df.select(
              md5(to_json(struct(kc.map(df.apply): _*))).as("__k"),
              md5(to_json(struct(cols.map(df.apply): _*))).as("__h"))
            keyed(a)
              .join(keyed(b).withColumnRenamed("__h", "__h2"), Seq("__k"))
              .filter(col("__h") =!= col("__h2")).count()
          }
          TableDiff(t,
            Option(j.getLong(0)).getOrElse(0L), Option(j.getLong(1)).getOrElse(0L),
            Option(j.getLong(2)).getOrElse(0L), Option(j.getLong(3)).getOrElse(0L),
            schemaChanged = false, changedKeys = changed)
        }
      }
    }
  }

  /** The FULL declared test set of reference fct_orders.yml /
    * fct_orders_items.yml: every unique/not_null in one aggregate scan per
    * fact (count + count-distinct fused — dbt would run one SELECT per
    * test), plus all four declared `relationships` tests. Throws on the
    * first violating table, aborting the build before the report layers —
    * the `dbt build` gate shape.
    *
    * Omitted (and the only omissions): not_null(order_clerk_name) and
    * not_null(shipping_priority) on fct_orders — the driver's source
    * parquet has no o_clerk/o_shippriority columns (SURVEY §1), so the
    * model columns they test don't exist here, like the Postgres ingest
    * path.
    *
    * Each relationships test grain-reduces the fact side FIRST
    * (`select(fk).distinct()` — a map-side-combining shuffle whose output
    * is bounded by the DIM's cardinality, not the fact's) and anti-joins
    * two dim-sized relations — at 100 TB the fact never shuffles at row
    * grain for an FK check. The six gate jobs are independent and run
    * concurrently. */
  def schemaGate(ctx: Ctx): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val gates = gateChecks(ctx)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(gates.size)
    val exec = ExecutionContext.fromExecutorService(pool)
    // collected parasitic, as buildAll chains its nodes: the pool, shut
    // down at the first failing check, is handed no callback afterwards
    implicit val chain: ExecutionContext = ExecutionContext.parasitic
    try Await.result(Future.sequence(gates.map(g => Future(g())(exec))), Duration.Inf)
    finally pool.shutdown()
    ()
  }

  /** The gate's checks, over relations built here: building them is what
    * [[dag]] captures to learn the gate's parents. */
  private def gateChecks(ctx: Ctx): Seq[() => Unit] = {
    import Expectations._
    val fo = Wh.fctOrders(ctx)
    val foi = Wh.fctOrdersItems(ctx)
    val dimCustomer = Wh.dimCustomer(ctx)
    val dimPart = Wh.dimPart(ctx)
    val dimSupplier = Wh.dimSupplier(ctx)
    def notNulls(cols: String*): Seq[Expectation] = cols.map(NotNull)

    def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
        label: String): Unit = {
      val n = fact.select(col(fk)).distinct()
        .join(dim.select(col(pk).as(fk)), Seq(fk), "left_anti").count()
      require(n == 0L, s"$label: $n orphan value(s) of $fk")
    }

    Seq(
      () => enforce(fo, "fct_orders", Unique("order_key") +: notNulls(
        "order_key", "order_date", "customer_key", "order_status_code",
        "order_priority_code", "gross_item_sales_amount",
        "item_discount_amount", "item_tax_amount", "net_item_sales_amount")),
      // unhex: the md5 surrogate's distinctness over 16-byte binary is the
      // same test as over the 32-char hex (hex decode is injective) at half
      // the distinct-shuffle bytes — this check sits on the build's
      // critical path (every report gates on it)
      () => enforce(foi, "fct_orders_items", Unique("unhex(order_item_key)") +: notNulls(
        "order_item_key", "order_key", "order_date", "customer_key",
        "order_status_code", "part_key", "supplier_key", "return_status_code",
        "order_line_number", "order_line_status_code", "ship_date",
        "commit_date", "receipt_date", "ship_mode_name",
        "supplier_cost_amount", "base_price", "discount_percentage",
        "discounted_price", "tax_rate", "order_item_count", "quantity",
        "gross_item_sales_amount", "discounted_item_sales_amount",
        "item_discount_amount", "item_tax_amount", "net_item_sales_amount")),
      () => orphans(fo, "customer_key", dimCustomer, "customer_key",
        "fct_orders->dim_customer"),
      () => orphans(foi, "customer_key", dimCustomer, "customer_key",
        "fct_orders_items->dim_customer"),
      () => orphans(foi, "part_key", dimPart, "part_key",
        "fct_orders_items->dim_part"),
      () => orphans(foi, "supplier_key", dimSupplier, "supplier_key",
        "fct_orders_items->dim_supplier"))
  }

  /** `dbt docs generate` twin — the model catalog: every dbt-surface model
    * (the Extension operators are a library, not dbt models) with its
    * materialization and fully resolved output schema. Schemas come from
    * Catalyst ANALYSIS only, inside a [[Store.reads]] capture: no Store
    * entry is made, globalOrder's fast path runs no count, and nothing
    * beyond per-source parquet footer reads (1-task metadata jobs) runs —
    * so the catalog is metadata-cheap at any scale, exactly like dbt
    * compiling models to learn their shapes (ManifestSpec asserts no
    * multi-task job runs). Final model schemas are the same as a real
    * build's (ScaleSpec pins the two globalOrder branches' output parity). */
  def manifest(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    val models = Registry.all.toSeq.filter(_._2.mat != Registry.Mat.Extension)
    val schemas = Store.reads(models.map(_._1))(n => Registry.all(n).fn(ctx).schema).toSeq
    models.zip(schemas).map { case ((name, en), (schema, _)) =>
      val mat = en.mat match {
        case Registry.Mat.OdsTable => "table(ods)"
        case Registry.Mat.WhTable => "table(wh)"
        case Registry.Mat.View => "view"
        case _ => "table"
      }
      (name, mat, schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}"))
    }.toDF("model", "materialization", "columns")
  }
}
