package graft

import org.apache.spark.sql.functions.col

/** The dbt-build lifecycle twin end to end: topological materialization with
  * per-run housekeeping constants and the schema-test gate. */
class RunnerSpec extends SparkSpec {

  /** A build test run in both build modes: write-through under `name`, and
    * `cacheParents` (persisted parents, demoted after their readers) under
    * `name [cacheParents]`. */
  private def buildTest(name: String)(body: Boolean => Unit): Unit =
    Seq(false, true).foreach { cacheParents =>
      test(if (cacheParents) s"$name [cacheParents]" else name)(body(cacheParents))
    }

  buildTest("buildAll materializes all table-layer models with housekeeping") { cp =>
    val out = java.nio.file.Files.createTempDirectory("graft-build").toString
    val results = Runner.buildAll(ctx, out, cacheParents = cp)
    assert(results.forall(_.rows > 0), "every materialized table has rows")
    assert(results.exists(_.table == "orders_items"))
    assert(results.exists(_.table == "supplier_scorecard"))
    // wh-layer tables carry the audit columns with ONE constant per run
    val fo = spark.read.parquet(s"$out/fct_orders")
    assert(fo.columns.contains("dbt_batch_id") && fo.columns.contains("dbt_batch_ts"))
    assert(fo.select("dbt_batch_id").distinct().count() == 1)
    val dc = spark.read.parquet(s"$out/dim_customer")
    assert(fo.select("dbt_batch_id").head().getString(0)
      == dc.select("dbt_batch_id").head().getString(0),
      "housekeeping constants are per-invocation, shared across models")
    // ods layer has no audit columns (dbt_project.yml: housekeeping is wh-only)
    assert(!spark.read.parquet(s"$out/orders_items").columns.contains("dbt_batch_id"))
  }

  buildTest("buildAll leaves the session Store clean — no dangling build-dir reads") { cp =>
    val out = java.nio.file.Files.createTempDirectory("graft-build-wt").toString
    val results = Runner.buildAll(ctx, out, cacheParents = cp)
    assert(Store.entries(spark).isEmpty, "buildAll left Store entries behind")
    // rollups were materialized under _rollups/ but are NOT part of the
    // public table contract
    assert(new java.io.File(s"$out/_rollups/rollup_customer_orders").isDirectory)
    assert(!results.exists(_.table.startsWith("_")))
    // During the build, write-through swapped Store entries onto parquet in
    // `out`. Delete the whole build dir: if buildAll leaked those entries,
    // the next Store-backed plan would dangle on the deleted files.
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(out))
    assert(layers.Wh.dimCustomer(ctx).count() > 0,
      "Store-backed model must rebuild from source after buildAll")
    assert(layers.Rollups.customerOrders(ctx).count() > 0,
      "rollup must rebuild from source after buildAll")
  }

  buildTest("buildAll(resume = true) redoes only the missing models — the dbt retry twin") { cp =>
    val out = java.nio.file.Files.createTempDirectory("graft-build-rs").toString
    val first = Runner.buildAll(ctx, out, cacheParents = cp)
    // simulate a crash that lost two models: one with a complete-but-stale
    // marker removed, one wiped entirely
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$out/supplier_scorecard"))
    new java.io.File(s"$out/fct_orders/_SUCCESS").delete()
    val second = Runner.buildAll(ctx, out, resume = true, cacheParents = cp)
    val redone = second.filterNot(_.skipped).map(_.table).toSet
    assert(redone == Set("supplier_scorecard", "fct_orders"),
      s"expected exactly the 2 damaged models redone, got $redone")
    assert(second.count(_.skipped) == first.length - 2)
    // row counts identical to the first full build
    val f = first.map(r => r.table -> r.rows).toMap
    second.foreach(r => assert(r.rows == f(r.table), r.table))
  }

  test("retryable-failure classification: transient memory shapes only") {
    // the two witnessed transient shapes heal by resume...
    assert(Runner.retryableBuildFailure(new org.apache.spark.SparkException(
      "Not enough memory to build and broadcast the table to all worker nodes.")))
    assert(Runner.retryableBuildFailure(new org.apache.spark.SparkException(
      "Retried waiting for GCLocker too often allocating 268435458 words")))
    assert(Runner.retryableBuildFailure(new OutOfMemoryError("Java heap space")))
    // ...deterministic failures must rethrow unchanged (a schema-gate
    // violation retried at halved threads would just fail again slower)
    assert(!Runner.retryableBuildFailure(new org.apache.spark.SparkException(
      "[SCHEMA_TEST_FAILED] relationships test failed")))
    assert(!Runner.retryableBuildFailure(
      new IllegalArgumentException("bad input")))
  }

  test("buildAllResilient completes a partially-lost build end to end") {
    // buildAllResilient's retry path IS buildAll(resume = true) at halved
    // threads; drive the wrapper over a damaged output dir to pin that
    // the wrapper-level entry produces the complete 50-model contract
    // (the catch arm itself needs a live broadcast OOM — classification
    // is pinned above, resume mechanics in the dbt-retry test)
    val out = java.nio.file.Files.createTempDirectory("graft-build-res").toString
    val first = Runner.buildAllResilient(ctx, out)
    assert(first.count(!_.skipped) == first.length)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$out/metrics_daily_revenue"))
    val healed = Runner.buildAll(ctx, out, resume = true)
    assert(healed.filterNot(_.skipped).map(_.table) == Seq("metrics_daily_revenue"))
    assert(healed.length == first.length)
  }

  buildTest("a schema-gate violation aborts the build before ANY report materializes") { cp =>
    // corrupt twin of the sf0.001 source: one order gets a customer key
    // that exists in no customer row -> the declared relationships test
    // (fct_orders.customer_key -> dim_customer) must fail and, per `dbt
    // build` semantics, no report-layer model may be written. The DAG
    // scheduler makes every report depend on the gate node; this pins it.
    val src = java.nio.file.Files.createTempDirectory("graft-badsrc").toString
    val clean = "/root/testdata/sf0.001"
    Seq("region", "nation", "customer", "supplier", "part", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$clean/$t.parquet")
        .write.mode("overwrite").parquet(s"$src/$t.parquet")
    }
    val orders = spark.read.parquet(s"$clean/orders.parquet")
    orders.withColumn("o_custkey",
        org.apache.spark.sql.functions.when(col("o_orderkey") === orders
          .select("o_orderkey").head().getLong(0),
          org.apache.spark.sql.functions.lit(999999999L))
          .otherwise(col("o_custkey")))
      .write.mode("overwrite").parquet(s"$src/orders.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-badbuild").toString
    val badCtx = Ctx(spark, src)
    // stderr is teed from here until the quiescence wait below ends: a
    // callback submitted to the build's shut-down pool would print a
    // RejectedExecutionException there
    val stderr = System.err
    val printed = new java.io.ByteArrayOutputStream()
    System.setErr(new java.io.PrintStream(
      new org.apache.commons.io.output.TeeOutputStream(stderr, printed), true))
    try failedBuild(out, badCtx, cp)
    finally System.setErr(stderr)
    val rejected = printed.toString("UTF-8").contains("RejectedExecutionException")
    assert(!rejected, "a failed buildAll printed a RejectedExecutionException to stderr")
  }

  private def failedBuild(out: String, badCtx: Ctx, cp: Boolean): Unit = {
    val err = intercept[Exception] { Runner.buildAll(badCtx, out, cacheParents = cp) }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(err).exists(m => m != null && m.contains("orphan")),
      s"expected an orphan-FK gate failure, got: $err")
    // facts may exist (they precede the gate); reports must not
    assert(new java.io.File(s"$out/fct_orders").exists())
    Seq("supplier_scorecard", "part_abc_classification", "order_status_funnel",
      "customer_rfm_segments").foreach { r =>
      assert(!new java.io.File(s"$out/$r/_SUCCESS").exists(),
        s"report $r materialized despite a failing schema gate")
    }
    // buildAll must not RETURN (throw) while sibling node jobs are still
    // running: outDir has to be quiescent — no background write may land
    // after the failure surfaced (callers delete outDir on failure)
    import scala.jdk.CollectionConverters._
    def snapshot(): Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      try s.iterator().asScala.map { p =>
        val sz = if (java.nio.file.Files.isRegularFile(p))
          java.nio.file.Files.size(p) else 0L
        s"$p:$sz"
      }.toSet
      finally s.close()
    }
    val before = snapshot()
    Thread.sleep(2500)
    assert(snapshot() == before,
      "outDir changed after buildAll returned — an in-flight sibling kept writing")
  }
}
