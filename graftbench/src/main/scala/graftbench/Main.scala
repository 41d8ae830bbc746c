package graftbench

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point. One run: set up (session + staged inputs, timed
  * from JVM start), then a cold pass and warm passes until `--seconds` are
  * spent, then print one JSON line of metrics as the last line of stdout.
  *
  * {{{
  * Main --workload refresh --seed 1 --seconds 8 --trace 0 --work <dir>
  *      --cpus 4 --goldens graftbench/goldens.tsv [--record 1] [--trace-out <dir>]
  *      [--stage-to <dir>]
  * }}}
  * `--record 1` prints the observed digests as golden lines instead of
  * checking them. */
object Main {
  val MinWarm = 1
  val MaxPasses = 40
  /** JVM uptime after which a traced run starts no further warm pass: the
    * launcher stops a run at 165 s, and the cold pass of a traced `refresh`
    * run (the cold build) alone ends 80–110 s after JVM start on a 4-core
    * host, depending on how busy the host is. */
  val TracedBudgetS = 120

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val workload = Workloads(name)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cpus = opts("cpus").toInt
    val recording = opts.get("record").contains("1")
    // `--stage-to <dir>`: only stage the workload's inputs there (for the
    // oracle check) and exit
    opts.get("stage-to").foreach { dir =>
      val spark = session(work, cpus)
      Stage.stage(spark, dir, workload.inputs(traced = true), seed)
      spark.stop()
      return
    }
    val goldens = if (recording) Map.empty[String, (Long, Long)]
      else loadGoldens(opts("goldens"), name)

    // ---- set-up: from JVM start until the session is up and the inputs
    // are staged
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainAt = System.currentTimeMillis()
    val spark = session(work, cpus)
    val sessionAt = System.currentTimeMillis()
    val dir = s"$work/input"
    Stage.stage(spark, dir, workload.inputs(traced), seed)
    val setupAt = System.currentTimeMillis()
    val setupS = (setupAt - jvmStart) / 1000.0
    // CPU seconds of the set-up, all threads: run context that tells a
    // slower host (stolen or contended cores) from more set-up work
    val setupCpuS = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val run = new Run(spark, dir, work, seed, traced, meter, goldens, recording)
    val prep0 = System.currentTimeMillis()
    try workload.prepare(run)
    catch { case e: Throwable => run.fail("prepare", e) }
    val prepareS = (System.currentTimeMillis() - prep0) / 1000.0
    meter.resetStorePeak()

    // ---- passes: the cold one, then warm ones until the time is spent;
    // a traced run alternates traced and untraced warm passes
    var verifyS = 0.0
    val figures = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traceLines = mutable.ArrayBuffer.empty[String]
    // the warm phase lasts `seconds` from the end of the cold pass
    var deadline = Long.MaxValue
    var i = 0
    val minPasses = if (traced) 5 else 1 + MinWarm
    def overBudget = traced && i >= 1 && System.currentTimeMillis() - jvmStart > TracedBudgetS * 1000L
    while (i < MaxPasses && (i < minPasses || System.currentTimeMillis() < deadline) && !overBudget) {
      // traced: the cold pass, then warm passes in the order U T T U U T T U
      // (untraced, traced) so drift over the run falls on both alike
      val tr = traced && (i == 0 || Set(2, 3)(i % 4))
      if (tr) meter.clearTrace()
      val p = run.pass(tr) {
        workload.pass(run, i)
        Bus.drain(spark.sparkContext)
      }
      if (tr) {
        figures += Trace.figures(p, meter, cpus)
        traceLines ++= Trace.spans(p, meter)
      }
      if (i == 0) {
        val v0 = System.currentTimeMillis()
        workload.verifyFirst(run)
        verifyS = (System.currentTimeMillis() - v0) / 1000.0
        deadline = System.currentTimeMillis() + (seconds * 1000).toLong
      }
      workload.cleanup(run, i)
      i += 1
    }
    val pageMBps = graft.HostProbe.pageMBps()
    Bus.drain(spark.sparkContext)

    // ---- figures from the untraced warm passes. Times take the fastest
    // warm pass: interference on a shared host only ever slows a pass down,
    // and the first warm pass still pays some first-run costs.
    val warm = run.passes.filter(p => p.index > 0 && !p.traced).toSeq
    def med(f: Pass => Double): Double = Trace.median(warm.map(f))
    def fastest(f: Pass => Double): Double = if (warm.isEmpty) 0.0 else warm.map(f).min
    val opMs = warm.flatMap(p => p.ops.groupBy(_.name).map { case (n, os) => n -> os.map(_.ms).sum })
      .groupBy(_._1).map { case (n, v) => n -> v.map(_._2.toDouble).min }.toSeq.sortBy(_._1)
    val geomean = if (opMs.isEmpty) 0.0
      else math.exp(opMs.map(v => math.log(math.max(v._2, 1.0))).sum / opMs.size)
    // Gated: set-up time and the work counters. Wall times of the passes
    // drift with the host by up to 40% over ten minutes, wider than any
    // allowed bound, so they are reported per layer, ungated.
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "shuffle_mb" -> (med(_.work.shuffleBytes / 1e6), "MB"),
      "store_mb" -> (meter.storePeak / 1e6, "MB"))
    val walls = Seq(
      "wall.first_pass_s" -> (run.passes.head.wallS, "s"),
      "wall.pass_s" -> (fastest(_.wallS), "s"),
      "wall.op_geomean_ms" -> (geomean, "ms"))
    val perLayer: Seq[(String, (Double, String))] =
      if (!traced) Nil
      else {
        val keys = figures.headOption.map(_.keys.toSeq).getOrElse(Nil)
        val untraced = med(_.wallS)
        val tracedWall = Trace.median(run.passes.filter(p => p.index > 0 && p.traced).map(_.wallS).toSeq)
        // each figure: median over the traced passes that exercised it (the
        // build's Runner and dbt layers run in the cold pass only)
        val layered = keys.filterNot(_ == "trace.self_s").map(k =>
          k -> Trace.median(figures.map(_(k)).filter(_ != 0.0).toSeq))
        val tracedWarm = figures.zip(run.passes.filter(_.traced)).filter(_._2.index > 0)
        val selfPct = Trace.median(tracedWarm.map { case (f, p) => f("trace.self_s") / p.wallS * 100 }.toSeq)
        layered.map { case (k, v) => k -> (v, Layers.unit(k)) } ++ Seq(
          "op.failed" -> (run.failed.toDouble, "count"),
          "store.block_puts" -> (meter.blockPuts.toDouble, "count"),
          "store.block_reputs" -> (meter.blockReputs.toDouble, "count"),
          "store.peak_mb" -> (meter.storePeak / 1e6, "MB"),
          "store.disk_mb" -> (meter.storeDiskPeak / 1e6, "MB"),
          "host.page_mbps" -> (pageMBps, "MB/s"),
          "trace.overhead_pct" -> (if (untraced > 0) (tracedWall / untraced - 1) * 100 else 0.0, "%"),
          "trace.self_sum_pct" -> (selfPct, "%")) ++ walls
      }
    val capacityMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6

    // ---- report
    opts.get("trace-out").filter(_ => traceLines.nonEmpty).foreach { d =>
      new java.io.File(d).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/trace-$name-$seed.jsonl"),
        traceLines.mkString("", "\n", "\n"))
    }
    if (recording) run.recorded.foreach { case (k, (rows, xor)) =>
      println(s"golden\t$name\t$k\t$rows\t$xor")
    }
    run.failures.foreach(f => println(s"failure: ${Json.obj(Seq(
      "op" -> Json.str(f.op), "kind" -> Json.str(f.kind),
      "message" -> Json.str(f.message), "frame" -> Json.str(f.frame)))}"))
    println("env: " + Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "broadcast_threshold" -> Json.str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")),
      "local_dir" -> Json.str(spark.sparkContext.getConf.get("spark.local.dir")),
      "tmpdir" -> Json.str(System.getProperty("java.io.tmpdir")),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "store_capacity_mb" -> Json.num(capacityMb),
      "store_peak_mb" -> Json.num(meter.storePeak / 1e6),
      "passes" -> run.passes.size.toString,
      "pass_s" -> run.passes.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "host_page_mbps" -> Json.num(pageMBps),
      "untraced_pass_s" -> Json.num(med(_.wallS)),
      "setup_s" -> Json.num(setupS), "setup_cpu_s" -> Json.num(setupCpuS),
      // set-up split: JVM start to main, session start, staging
      "setup_split_s" -> Seq(mainAt - jvmStart, sessionAt - mainAt, setupAt - sessionAt)
        .map(ms => Json.num(ms / 1000.0)).mkString("[", ",", "]"),
      "prepare_s" -> Json.num(prepareS), "verify_s" -> Json.num(verifyS),
      "op_ms" -> Json.obj(opMs.map { case (n, v) => n -> Json.num(v) }))))
    val metrics = (if (traced) perLayer else endToEnd).map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val correct = run.failed == 0 && !recording
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }

  /** The pinned session: `local[cpus]`, the program's own Bench settings,
    * and every scratch directory inside the run's work directory. */
  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoint")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(s"$work/checkpoint/rdd")
    s
  }

  /** goldens.tsv: `workload <tab> op <tab> rows <tab> xor` per line. */
  def loadGoldens(path: String, workload: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split("\t")).collect {
      case Array(w, op, rows, xor) if w == workload => op -> (rows.toLong, xor.toLong)
    }.toMap
    finally src.close()
  }
}

object Layers {
  def unit(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_per_s")) "1/s"
    else if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
    else if (k == "runner.model_s_sum") "s"
    else if (k == "engine.skew" || k == "engine.core_util" || k == "runner.concurrency" ||
      k == "ann.recall") "ratio"
    else "count"
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
