package graft.tools

import graft.{Bench, Ctx, HostProbe, Registry, Sessions, Store}
import java.util.Locale
import scala.jdk.CollectionConverters._

/** The one measurement harness. Every mode runs in the bench session
  * ([[graft.Sessions]]), times Registry entries with the bench action
  * ([[graft.Bench.action]]) and ends with one JSON line.
  *
  *   warm <q1,q2,...> [n]       n draws of each query in ONE JVM, taken
  *                              round-robin (q1#1 q2#1 q1#2 ...), so two
  *                              names form a same-JVM A/B that host drift
  *                              hits equally. Each draw prints construct
  *                              (the plan constructor, including any
  *                              actions it runs), plan (analysis through
  *                              the forced executedPlan) and exec ms. Draw
  *                              1 carries codegen/JIT and any Store-parent
  *                              materialization; later draws are the
  *                              query's steady cost.
  *   isolated <legs|_suite> [n] n draws, each in its OWN fresh JVM started
  *                              with this JVM's own flags (heap, pretouch,
  *                              add-opens, GC flags), with the host probe
  *                              read after every draw. `_suite` runs every
  *                              Registry entry per draw; its line is a
  *                              `BENCH_MIN_r{N}.json` as it stands (total
  *                              and per-query minima, per-draw probes —
  *                              what BenchMinGateSpec reads).
  *   plan <outDir> <q1,...>     formatted physical plans, one
  *                              `<outDir>/<q>.txt` per query, the Store
  *                              cleared before each so no other query's
  *                              cached tree leaks into the text.
  *
  * Data: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1; a
  * `synth:sf=N[,docs=zipf]` dir generates instead of reading parquet).
  * Cores: SPARK_GRAFT_CPUS. Heap: the JVM's own, e.g. SPARK_DRIVER_MEM for
  * `sbt runMain`.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt 'runMain graft.tools.Probe warm rpt_pricing_summary,fct_orders 5'
  */
object Probe {

  private val ChildMode = "--child"

  def main(args: Array[String]): Unit = args.toList match {
    case "warm" :: qs :: rest if rest.size <= 1 => warm(names(qs), count(rest))
    case "isolated" :: legs :: rest if rest.size <= 1 =>
      isolated(names(legs, suite = true), count(rest))
    case "plan" :: out :: qs :: Nil => plan(out, names(qs))
    case ChildMode :: leg :: Nil => child(leg)
    case _ => sys.error("usage: Probe warm <q1,q2,...> [n] | " +
      "isolated <leg,...|_suite> [n] | plan <outDir> <q1,q2,...>")
  }

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def names(csv: String, suite: Boolean = false): Seq[String] = {
    val ns = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(ns.nonEmpty, "no query names given")
    if (suite && ns.contains("_suite"))
      require(ns == Seq("_suite"), "_suite runs alone, not with other legs")
    else ns.foreach(n => require(Registry.all.contains(n), s"unknown query $n"))
    ns
  }

  private def count(rest: List[String]): Int = rest.headOption.fold(3)(_.toInt)

  private def f3(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def warmUp(spark: org.apache.spark.sql.SparkSession): Unit =
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }

  // ---- warm --------------------------------------------------------------

  private def warm(qs: Seq[String], n: Int): Unit = {
    val spark = Sessions.bench()
    warmUp(spark)
    val ctx = Ctx(spark, sfDir)
    val draws = (1 to n).flatMap { i =>
      qs.map { q =>
        var t0 = System.nanoTime()
        val df = Registry.all(q).fn(ctx)
        val construct = ms(t0)
        val act = Bench.action(df)
        t0 = System.nanoTime()
        act.queryExecution.executedPlan
        val plan = ms(t0)
        t0 = System.nanoTime()
        act.collect()
        val exec = ms(t0)
        println(f"[probe] $q%-38s #$i construct ${f3(construct)}%10s " +
          f"plan ${f3(plan)}%10s exec ${f3(exec)}%10s ms")
        q -> Seq(construct, plan, exec)
      }
    }
    val cols = Seq("construct_ms", "plan_ms", "exec_ms")
    val per = qs.map { q =>
      val ds = draws.collect { case (`q`, d) => d }
      Bench.quote(q) + ":" + cols.indices.map(c =>
        Bench.quote(cols(c)) + ":" + ds.map(d => f3(d(c))).mkString("[", ",", "]"))
        .mkString("{", ",", "}")
    }
    println(s"""{"metric":"warm_draws","sf":${Bench.quote(sfDir)},""" +
      s""""cpus":${Sessions.defaultCpus},"n":$n,""" +
      s""""queries":${per.mkString("{", ",", "}")}}""")
    spark.stop()
  }

  // ---- plan --------------------------------------------------------------

  private def plan(out: String, qs: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(dir)
    val spark = Sessions.bench()
    val chars = qs.map { q =>
      Store.clear(spark)
      val txt = Registry.all(q).fn(Ctx(spark, sfDir)).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(dir.resolve(s"$q.txt"), txt.getBytes("UTF-8"))
      System.err.println(s"[probe] wrote $q.txt (${txt.length} chars)")
      s"${Bench.quote(q)}:${txt.length}"
    }
    println(s"""{"metric":"plans","dir":${Bench.quote(out)},""" +
      s""""sf":${Bench.quote(sfDir)},"cpus":${Sessions.defaultCpus},""" +
      s""""chars":${chars.mkString("{", ",", "}")}}""")
    spark.stop()
  }

  // ---- isolated: child ---------------------------------------------------

  /** One draw in this fresh JVM; its last stdout line is
    * `{"leg":…,"value":sec,"host_page_mbps":…[,"queries":{…}]}`. */
  private def child(leg: String): Unit = {
    val spark = Sessions.bench()
    Store.clear(spark)
    def time(q: String): Double = {
      val t0 = System.nanoTime()
      Bench.action(Registry.all(q).fn(Ctx(spark, sfDir))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val (sec, queries) =
      if (leg == "_suite") {
        // the driver-bench query loop: one warm session, every Registry
        // entry in name order, memoized fragments shared exactly as the
        // driver's own Bench run shares them
        warmUp(spark)
        val per = Registry.all.keys.toSeq.sorted.map(q => q -> time(q))
        (per.map(_._2).sum,
          per.map { case (q, s) => s"${Bench.quote(q)}:$s" }
            .mkString(""","queries":{""", ",", "}"))
      } else (time(leg), "")
    spark.stop()
    println(s"""{"leg":${Bench.quote(leg)},"value":$sec,""" +
      s""""host_page_mbps":${HostProbe.pageMBps()}$queries}""")
  }

  // ---- isolated: parent --------------------------------------------------

  /** This JVM's own flags (argfiles expanded; the class path is not among
    * them), so a child runs exactly as its parent was started. */
  private def jvmFlags: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq

  /** Forks one child draw; returns its JSON line. */
  private def runChild(leg: String): String = {
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), "graft.tools.Probe", ChildMode, leg)
    val p = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toSeq
    val exit = p.waitFor()
    val line = out.reverseIterator.find(_.startsWith("""{"leg":""")).getOrElse(
      sys.error(s"draw child for $leg exited $exit without a JSON line; " +
        s"last output: ${out.takeRight(5).mkString(" | ")}"))
    require(exit == 0, s"draw child for $leg exited $exit")
    line
  }

  private def isolated(legs: Seq[String], n: Int): Unit = {
    val heap = jvmFlags.findLast(_.startsWith("-Xmx")).fold("default")(_.drop(4))
    val env = s""""sf":${Bench.quote(sfDir)},"cpus":${Sessions.defaultCpus},""" +
      s""""heap":${Bench.quote(heap)},"n_draws":$n"""
    val lines = legs.map { leg =>
      leg -> (1 to n).map { i =>
        val line = runChild(leg)
        System.err.println(f"[probe] $leg draw $i/$n: ${field(line, "value")}%8.1f s " +
          f"(probe ${field(line, "host_page_mbps")}%.0f MB/s)")
        line
      }
    }
    println(
      if (legs == Seq("_suite")) suiteLine(lines.head._2, env)
      else s"""{"metric":"isolated_draws","unit":"sec",$env,""" +
        s""""protocol":${Bench.quote(Protocol)},"legs":""" +
        lines.map { case (l, ls) => Bench.quote(l) + ":" + legJson(ls) }
          .mkString("{", ",", "}") + "}")
  }

  // ---- isolated: aggregation (pure; pinned by ProbeIsolatedSpec) ---------

  private def field(line: String, k: String): Double =
    s""""$k"\\s*:\\s*([0-9.Ee+-]+)""".r.findFirstMatchIn(line)
      .map(_.group(1).toDouble).getOrElse(sys.error(s"no $k in: $line"))

  /** The true median: the mean of the two middle values for even n. */
  private[graft] def median(vs: Seq[Double]): Double = {
    val s = vs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Half-spread (max-min)/(max+min) in percent, one decimal. */
  private def spread(vs: Seq[Double]): Double =
    math.round((vs.max - vs.min) / (vs.max + vs.min) * 1000.0) / 10.0

  private val Protocol = "n consecutive draws, each its own fresh JVM with " +
    "the parent's flags, bench session, per-draw end probe; " +
    "spread_pct=(max-min)/(max+min)*100; median=mean of middle two for even n"

  /** Per-leg statistics over the children's lines. */
  private def legJson(lines: Seq[String]): String = {
    val vs = lines.map(field(_, "value"))
    val draws = lines.map(l =>
      s"""{"value":${field(l, "value")},"host_page_mbps":${field(l, "host_page_mbps")}}""")
    s"""{"draws":${draws.mkString("[", ",", "]")},"n":${vs.size},""" +
      s""""min":${vs.min},"median":${median(vs)},"spread_pct":${spread(vs)}}"""
  }

  /** The `_suite` artifact from the children's lines: per-draw totals and
    * probes, and the per-query MINIMUM across draws — min is the faithful
    * per-query cost under one-sided host-stall noise. `env` is the
    * run-description fields (sf, cpus, heap, n_draws). */
  private[graft] def suiteLine(lines: Seq[String], env: String): String = {
    val totals = lines.map(field(_, "value"))
    val maps = lines.map { l =>
      val obj = """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(l)
        .map(_.group(1)).getOrElse(sys.error(s"suite draw has no queries: $l"))
      """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(obj)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val mins = maps.head.keys.toSeq.sorted
      .map(q => s"${Bench.quote(q)}:${maps.map(_(q)).min}")
    s"""{"metric":"suite_isolated_draws",$env,""" +
      s""""runs_total_sec":${totals.mkString("[", ",", "]")},""" +
      s""""run_probes_mbps":${lines.map(field(_, "host_page_mbps")).mkString("[", ",", "]")},""" +
      s""""total_min_sec":${totals.min},"total_median_sec":${median(totals)},""" +
      s""""spread_pct":${spread(totals)},"protocol":${Bench.quote(Protocol)},""" +
      s""""queries_min_sec":${mins.mkString("{", ",", "}")}}"""
  }
}
