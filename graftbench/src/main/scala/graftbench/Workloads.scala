package graftbench

import graft.{Ctx, Incremental, Registry, Runner, Versioned}
import graft.extensions.AnnIndex
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, date_trunc, lit, xxhash64, year}
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable

/** A workload: its staged inputs, what to prepare once after staging, and
  * one pass. A run stages, prepares, then repeats the pass: the first pass
  * is cold (fresh session), the rest are warm. */
trait Workload {
  /** tables to stage; a traced run may need more than an untraced one */
  def inputs(traced: Boolean): Seq[Stage.Input]
  def prepare(run: Run): Unit = ()
  def pass(run: Run, index: Int): Unit
  /** checks that are too slow to repeat every pass, made after pass 0 */
  def verifyFirst(run: Run): Unit = ()
  def cleanup(run: Run, index: Int): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "corpus" => Corpus
    case "refresh" => Refresh
    case other    => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: refresh, corpus)")
  }

  /** The module an op belongs to, as the per-layer metrics name it. */
  def layerOf(name: String): String = {
    import Registry.Mat
    val ext = Seq("text", "dedup", "corpus", "source", "ann")
    if (Refresh.odsModels(name)) "layers.ods"
    else if (name.startsWith("rollup_")) "layers.wh"
    else Registry.all.get(name).map(_.mat) match {
      case Some(Mat.OdsTable) => "layers.ods"
      case Some(Mat.WhTable)  => "layers.wh"
      case Some(Mat.View)     => "layers.intermediate"
      case Some(Mat.Table)    =>
        if (name.startsWith("metrics_")) "layers.metrics" else "layers.reports"
      case Some(Mat.Extension) =>
        ext.find(p => name.startsWith(p + "_")).map("ext." + _).getOrElse("ext.analytics")
      case None => "other"
    }
  }

  def registryOp(run: Run, name: String): Unit =
    run.op(name, layerOf(name))(Registry.all(name).fn(run.ctx))
}

/** The extension family on a Zipf-vocabulary corpus: two document ops
  * and an `AnnIndex` lifecycle over the embeddings. The cold pass builds the
  * index (label as a stored attribute), adds two seeded batches, serves a
  * label-filtered query and compacts; warm passes run the document ops and
  * the filtered query. */
object Corpus extends Workload {
  val docsSf = 0.04
  val embSf = 0.1
  // document features (the fused per-document pass of ROADMAP item 5) and
  // near-duplicate detection
  val ops = Seq("text_repetition", "dedup_simhash")
  val k = 10
  val recallFloor = 0.6
  private val nBatches = 2

  def inputs(traced: Boolean): Seq[Stage.Input] = Seq(
    Stage.Input("documents", "documents_zipf", docsSf),
    Stage.Input("embeddings", "embeddings_manifold", embSf))

  // index lifecycle inputs, drawn from the seed once per run
  private var base: String = _
  private var batches: IndexedSeq[(DataFrame, Set[Long])] = IndexedSeq.empty
  private var queries: DataFrame = _
  private var target: Int = 0
  private var vectors: Map[Long, (Int, Array[Double])] = Map.empty
  private var queryIds: Seq[Long] = Nil
  private var indexed: Set[Long] = Set.empty

  override def prepare(run: Run): Unit = {
    val spark = run.spark
    val emb = run.ctx.tbl("embeddings")
    val bucket = (xxhash64(lit(run.seed), col("vec_id")) % 20 + 20) % 20
    // 90% builds the index; the rest arrives in two add batches
    base = s"${run.dir}/annbase"
    emb.filter(bucket >= nBatches).write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    val rows = emb.select("vec_id", "label", "embedding").collect()
    vectors = rows.map(r => r.getLong(0) ->
      (r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray)).toMap
    batches = (0 until nBatches).map { b =>
      val df = spark.read.parquet(s"${run.dir}/embeddings.parquet").filter(bucket === b)
      df -> df.select("vec_id").collect().map(_.getLong(0)).toSet
    }
    indexed = vectors.keySet -- batches.flatMap(_._2)
    // ten query vectors of one label, both drawn from the seed; the
    // filtered search asks for their neighbours within that label
    val shuffled = rows.map(_.getLong(0)).sortBy(id =>
      scala.util.hashing.MurmurHash3.productHash((run.seed, id)))
    target = vectors(shuffled.head)._1
    queryIds = shuffled.filter(id => vectors(id)._1 == target).take(10).toSeq
    queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
  }

  /** Exact label-filtered top-k over the vectors indexed so far. */
  private def exact(): Map[Long, Set[Long]] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val admissible = indexed.toSeq.filter(id => vectors(id)._1 == target)
    queryIds.map { q =>
      val qv = vectors(q)._2
      q -> admissible.map(id => (id, cos(qv, vectors(id)._2)))
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    }.toMap
  }

  def pass(run: Run, index: Int): Unit = {
    ops.foreach(Workloads.registryOp(run, _))
    val spark = run.spark
    val dir = s"${run.work}/annindex"
    // the index writes (build, add, compact) run in the cold pass; warm
    // passes serve: short file-commit-bound writes swing with the host
    // from run to run far more than the reads do
    if (index == 0) {
      if (run.step("ann.build", "ext.ann")(
          AnnIndex.build(Ctx(spark, base), dir, metaCols = Seq("label"))).isEmpty) return
      batches.zipWithIndex.foreach { case ((batch, ids), b) =>
        run.step("ann.add", "ext.ann")(AnnIndex.add(spark, dir, batch, batchId = b + 1L))
          .foreach(_ => indexed ++= ids)
      }
    }
    run.step("ann.query", "ext.ann") {
      AnnIndex.query(spark, dir, queries, k = k, nprobe = 4, shortlist = 200,
        where = Some(col("label") === target))
        .select("query_id", "cand_id").collect()
    }.foreach { got =>
      val truth = exact()
      val hits = got.groupBy(_.getLong(0)).map { case (q, rs) =>
        rs.map(_.getLong(1)).toSet.intersect(truth.getOrElse(q, Set.empty)).size
      }.sum
      val recall = hits.toDouble / truth.values.map(_.size).sum
      run.note("ann.recall", recall)
      run.require("ann.query", recall >= recallFloor,
        f"recall@$k $recall%.3f below $recallFloor")
    }
    if (index == 0) run.step("ann.compact", "ext.ann")(AnnIndex.compact(spark, dir))
  }
}

/** The refresh lifecycle of a built warehouse: the cold pass loads the
  * refresh targets (`Versioned.write` of the orders, an `Incremental.run`
  * full refresh of the monthly orders fact); every pass then refreshes: a
  * seeded `Versioned.upsert` correction batch with a time-travel audit, an
  * `Incremental.run` delta, and an AvailableNow replay of the events
  * through `Streams.hourlyCounts`. A traced run first times one cold
  * `Runner.buildAll` of the 50 tables, which is what its Runner and dbt
  * layer figures come from; untraced runs leave it out to keep a run short. */
object Refresh extends Workload {
  val sf = 0.002
  val odsModels = Set("customers", "nations", "regions", "parts", "suppliers",
    "orders", "orders_items", "parts_suppliers")
  private val housekeeping = Set("dbt_batch_id", "dbt_batch_ts")

  // the refresh reads orders, lineitem and events; the build reads all
  def inputs(traced: Boolean): Seq[Stage.Input] =
    Stage.tpch(sf).filter(in => traced || in.table == "orders" || in.table == "lineitem") :+
      Stage.Input("events", "events", sf)

  private var nOrders = 0L
  private var nEvents = 0L

  override def prepare(run: Run): Unit = {
    nOrders = run.spark.read.parquet(s"${run.dir}/orders.parquet").count()
    nEvents = run.spark.read.parquet(s"${run.dir}/events.parquet").count()
  }

  private def out(run: Run) = s"${run.work}/build"
  private def vdir(run: Run) = s"${run.work}/versioned"
  private def target(run: Run) = s"${run.work}/incremental"
  private def orders(run: Run) = run.spark.read.parquet(s"${run.dir}/orders.parquet")
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderdate").cast("date").as("o_orderdate"),
      date_trunc("month", col("o_orderdate")).cast("date").as("order_month"))
  private def monthly(run: Run) = Incremental.run(run.spark, target(run),
    "order_month", Incremental.fctOrdersMonthly(run.ctx))

  def pass(run: Run, index: Int): Unit = {
    if (index == 0) {
      if (run.traced) build(run)
      run.step("versioned.write", "versioned")(
        Versioned.write(orders(run), vdir(run), partitionBy = Some("order_month")))
      run.step("incremental.full", "incremental")(monthly(run)).foreach(r =>
        run.require("incremental.full", r.fullRefresh && r.rowsWritten == nOrders,
          s"full refresh wrote ${r.rowsWritten} rows, expected $nOrders"))
    }
    val t1 = run.now()
    versioned(run)
    run.step("incremental.delta", "incremental")(monthly(run)).foreach(r =>
      run.require("incremental.delta", !r.fullRefresh && r.rowsWritten > 0,
        s"delta run: fullRefresh=${r.fullRefresh} rows=${r.rowsWritten}"))
    stream(run, index)
    run.note("build.refresh_s", (run.now() - t1) / 1000.0)
  }

  /** One cold `Runner.buildAll`; every table's row count is checked. */
  private def build(run: Run): Unit = {
    val t0 = run.now()
    run.attempted += 1
    val built = try Runner.buildAll(run.ctx, out(run), cacheParents = true)
      catch { case e: Throwable => run.fail("buildAll", e); Nil }
    run.note("build.build_s", (run.now() - t0) / 1000.0)
    built.foreach { r =>
      run.note(s"model.${r.table}", r.seconds)
      run.rowCount(s"build/${r.table}", r.rows)
    }
    if (built.nonEmpty) run.require("buildAll", built.size == 50,
      s"built ${built.size} tables, expected 50")
    run.note("build.output_mb", Files.bytes(new java.io.File(out(run))) / 1e6)
  }

  /** The refreshed monthly fact, and in a traced run every table of the
    * cold build, each digested against its golden. */
  override def verifyFirst(run: Run): Unit = {
    val dir = new java.io.File(out(run))
    val tables = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_")).sortBy(_.getName).toSeq
    val checks = (s"refresh/fct_orders_monthly" -> target(run)) +:
      tables.map(t => s"build/${t.getName}" -> t.getPath)
    val digests = Par.map(checks, threads = 8) { case (_, path) =>
      scala.util.Try {
        val df = run.spark.read.parquet(path)
        Run.digest(df.select(df.columns.filterNot(housekeeping).map(c => col(s"`$c`")): _*))
      }
    }
    checks.zip(digests).foreach {
      case ((name, _), scala.util.Success(d)) => run.check(name, d)
      case ((name, _), scala.util.Failure(e)) => run.fail(name, e)
    }
    Files.rm(dir)
  }

  private def versioned(run: Run): Unit = {
    val spark = run.spark
    val base = orders(run)
    // a correction batch: half of one year's orders, the half drawn from the
    // seed and the pass, so every batch rewrites the same twelve partitions
    val pick = xxhash64(lit(run.seed), lit(run.passes.size), col("o_orderkey")) % 2 === 0
    run.step("versioned.upsert", "versioned")(Versioned.upsert(spark, vdir(run),
      base.filter(year(col("o_orderdate")) === 1995 && pick)
        .withColumn("o_totalprice", col("o_totalprice") * 1.01),
      Seq("o_orderkey"), "order_month"))
    run.step("versioned.read", "versioned") {
      (Versioned.read(spark, vdir(run), Some(0L)).count(), Versioned.read(spark, vdir(run)).count())
    }.foreach { case (v0, tip) =>
      run.require("versioned.read", v0 == nOrders && tip == nOrders,
        s"time-travel audit: v0=$v0 tip=$tip, expected $nOrders")
    }
  }

  private def stream(run: Run, index: Int): Unit = {
    val spark = run.spark
    // latest (window, type) -> n_events, as update mode re-emits windows
    val latest = mutable.Map.empty[(Row, String), Long]
    val sink = new org.apache.spark.api.java.function.VoidFunction2[DataFrame, java.lang.Long] {
      def call(df: DataFrame, id: java.lang.Long): Unit =
        df.select("window", "event_type", "n_events").collect().foreach { r =>
          latest.synchronized(latest((r.getStruct(0), r.getString(1))) = r.getLong(2))
        }
    }
    val t0 = run.now()
    run.step("stream.replay", "streaming") {
      val q = Streams.hourlyCounts(Streams.eventFileStream(spark, run.dir)).writeStream
        .outputMode("update").foreachBatch(sink)
        .option("checkpointLocation", s"${run.work}/checkpoint/stream$index")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }.foreach { progress =>
      val sec = (run.now() - t0) / 1000.0
      val batches = progress.flatMap(p => Option(p.durationMs.get("triggerExecution")))
        .map(_.doubleValue())
      run.note("streaming.events_per_s", nEvents / sec)
      run.note("streaming.batch_ms", if (batches.isEmpty) 0.0 else batches.sum / batches.size)
      val total = latest.values.sum
      run.require("stream.replay", total == nEvents,
        s"hourly counts sum to $total events, expected $nEvents")
    }
  }

  override def cleanup(run: Run, index: Int): Unit =
    Files.rm(new java.io.File(s"${run.work}/checkpoint/stream$index"))
}
