package graftbench

import scala.collection.mutable

/** Turns one traced pass (its op timings and the listener's spans) into the
  * per-layer figures, and into the span tree written at exit. */
object Trace {
  /** The layers the workloads run. `Runner.buildAll` writes no views, so
    * the intermediate layer's work shows in the tables that read it. */
  val layers = Seq("layers.ods", "layers.wh", "layers.metrics",
    "layers.reports", "ext.text", "ext.dedup", "ext.ann")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer figures of one traced pass. Call after the bus drained. */
  def figures(p: Pass, m: Meter, cpus: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val writes = m.executions.values.filter(s => s.attrs("model") != "").toSeq
    // ---- per op, around the registry call
    val regOps = p.ops.filter(o => o.layer.startsWith("layers.") || o.layer.startsWith("ext."))
      .filterNot(_.name.startsWith("ann."))
    val jobs = m.jobSpans.values.toSeq
    out("op.construct_ms") = regOps.map(_.constructMs).sum.toDouble
    out("op.construct_jobs") = regOps.map(o =>
      jobs.count(j => j.start >= o.start && j.start < o.plan)).sum.toDouble
    out("op.plan_ms") = regOps.map(_.planMs).sum.toDouble
    out("op.exec_ms") = regOps.map(_.execMs).sum.toDouble
    // ---- self time per layer; a build's concurrent model writes share
    // the wall clock they overlap in
    layers.foreach(l => out(l + "_ms") = 0.0)
    // Runner models: name -> seconds as the Runner reported them
    val models = p.extra.collect { case (k, v) if k.startsWith("model.") => k.drop(6) -> v }
    selfTimes(writes.filter(s => models.contains(s.attrs("model").toString))).foreach {
      case (model, ms) =>
        val l = Workloads.layerOf(model) + "_ms"
        out(l) = out.getOrElse(l, 0.0) + ms
    }
    p.ops.foreach(o => out(o.layer + "_ms") = out.getOrElse(o.layer + "_ms", 0.0) + o.ms)
    out("trace.self_s") = (layers.map(l => out(l + "_ms")).sum +
      Seq("versioned", "incremental", "streaming").map(l => out.remove(l + "_ms").getOrElse(0.0)).sum) / 1000.0
    // ---- Runner (the cold pass of build)
    val buildS = p.extra.getOrElse("build.build_s", 0.0)
    val buildEnd = p.start + (buildS * 1000).toLong
    val modelS = models.values.sum
    out("runner.critical_path_s") = criticalPath(writes) / 1000.0
    out("runner.model_s_sum") = modelS
    out("runner.concurrency") = if (buildS > 0) modelS / buildS else 0.0
    out("runner.construct_s") = m.executions.values.filter(s =>
      s.attrs("model") == "" && s.start >= p.start && s.start < buildEnd)
      .map(s => s.end - s.start).sum / 1000.0
    out("runner.write_s") = writes.map(s => s.end - s.start).sum / 1000.0
    // ---- versioned, incremental, streaming, ann steps, by op name
    def named(prefixes: String*) =
      p.ops.filter(o => prefixes.exists(o.name.startsWith)).map(_.ms).sum.toDouble
    out("versioned.upsert_ms") = named("versioned.write", "versioned.upsert")
    out("versioned.read_ms") = named("versioned.read")
    out("incremental.run_ms") = named("incremental.")
    Seq("build", "add", "query", "compact").foreach(s => out(s"ann.${s}_ms") = named(s"ann.$s"))
    Seq("streaming.events_per_s", "streaming.batch_ms", "ann.recall",
      "build.build_s", "build.refresh_s", "build.output_mb").foreach(k => out(k) = p.extra.getOrElse(k, 0.0))
    // ---- engine
    val w = p.work
    val tasks = m.taskMs.values.flatten.toSeq.map(_.toDouble)
    out("engine.jobs") = w.jobs.toDouble
    out("engine.stages") = w.stages.toDouble
    out("engine.tasks") = w.tasks.toDouble
    out("engine.shuffle_records") = w.shuffleRecords.toDouble
    out("engine.input_mb") = w.inputBytes / 1e6
    out("engine.spill_mb") = w.spillBytes / 1e6
    out("engine.cpu_s") = w.cpuNs / 1e9
    out("engine.run_s") = w.runMs / 1000.0
    out("engine.wait_s") = (w.runMs - w.cpuNs / 1e6) / 1000.0
    out("engine.gc_s") = w.gcMs / 1000.0
    out("engine.task_p50_ms") = median(tasks)
    out("engine.task_max_ms") = if (tasks.isEmpty) 0.0 else tasks.max
    out("engine.skew") = m.taskMs.values.filter(_.size >= cpus).map { ts =>
      val med = median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }.foldLeft(1.0)(math.max)
    out("engine.core_util") = w.runMs / (p.wallS * 1000.0 * cpus)
    out("engine.peak_exec_mb") = w.peakExecBytes / 1e6
    out.toMap
  }

  /** Wall time split among the model writes running at each instant, so
    * concurrent writes share the wall instead of each claiming all of it. */
  def selfTimes(writes: Seq[Span]): Map[String, Double] = {
    val edges = writes.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    edges.zip(edges.drop(1)).foreach { case (a, b) =>
      val live = writes.filter(s => s.start <= a && s.end >= b)
      live.foreach(s => self(s.attrs("model").toString) += (b - a).toDouble / live.size)
    }
    self.toMap
  }

  /** Length of the chain of writes that ends last, each link the write
    * that ended latest before the next began: the path the build waited on. */
  def criticalPath(writes: Seq[Span]): Double =
    if (writes.isEmpty) 0.0 else {
      var cur = writes.maxBy(_.end)
      var total = (cur.end - cur.start).toDouble
      var prev = writes.filter(_.end <= cur.start)
      while (prev.nonEmpty) {
        cur = prev.maxBy(_.end)
        total += cur.end - cur.start
        prev = writes.filter(_.end <= cur.start)
      }
      total
    }

  /** Work each model write did: tasks and shuffle records of its stages. */
  def modelWork(m: Meter): Map[String, (Long, Long)] = {
    val execModel = m.executions.values.map(s => s.id -> s.attrs("model").toString).toMap
    val out = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    m.stageWork.foreach { case (stage, (n, r)) =>
      m.stageJob.get(stage).flatMap(m.jobSpans.get).flatMap(j => execModel.get(j.parent))
        .filter(_.nonEmpty).foreach { model =>
          val (a, b) = out(model); out(model) = (a + n, b + r)
        }
    }
    out.toMap
  }

  /** The pass's span tree as JSON lines: op roots with construct, plan and
    * exec children; Spark work hangs under the op phase holding its start. */
  def spans(p: Pass, m: Meter): Seq[String] = {
    val lines = mutable.ArrayBuffer.empty[String]
    var id = -1L
    def emit(name: String, s: Long, e: Long, parent: Long, attrs: String = ""): Long = {
      id -= 1
      lines += s"""{"pass":${p.index},"id":$id,"name":${Json.str(name)},"start":$s,"end":$e,"parent":$parent$attrs}"""
      id
    }
    val passId = emit(s"pass ${p.index}", p.start, p.end, 0L)
    val phases = p.ops.flatMap { o =>
      val root = emit(s"op ${o.name}", o.start, o.end, passId, s""","layer":${Json.str(o.layer)}""")
      // a step (write, index build) has no separate plan: one child
      if (o.exec == o.end) Seq((emit("run", o.start, o.end, root), o.start, o.end))
      else Seq((emit("construct", o.start, o.plan, root), o.start, o.plan),
        (emit("plan", o.plan, o.exec, root), o.plan, o.exec),
        (emit("exec", o.exec, o.end, root), o.exec, o.end))
    }
    m.spans.foreach { s =>
      val parent = if (s.parent != 0L) s.parent
        else phases.find { case (_, a, b) => s.start >= a && s.start < b }.map(_._1).getOrElse(passId)
      lines += s"""{"pass":${p.index},"id":${s.id},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end},"parent":$parent}"""
    }
    modelWork(m).toSeq.sortBy(_._1).foreach { case (model, (n, r)) =>
      lines += s"""{"pass":${p.index},"model":${Json.str(model)},"tasks":$n,"shuffle_records":$r}"""
    }
    lines.toSeq
  }
}
