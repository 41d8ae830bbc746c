package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** Driver benchmark: per-query timings plus the full-build lifecycle twin.
  *
  * Per-query action: bit_xor(xxhash64(all columns)) — every output column
  * of every row is computed and combined, so column pruning cannot gut
  * projection-only queries the way a bare count() did (the final ORDER BY is
  * still eliminated under the aggregate, which is a uniform wash across
  * queries, not a per-query bias). bit_xor, NOT sum: under the session's
  * default ANSI mode a sum of ~uniform 64-bit hashes overflows and aborts
  * the action partway — xor is order-independent and cannot overflow.
  *
  * Full build: the reference's only published number is the end-to-end
  * `dbt build` (~5 min for 62 models at SF10, reference README.md:71 /
  * Makefile:51-52). Runner.buildAll is its lifecycle twin; the Store cache
  * is cleared first so the build is COLD — it re-derives and writes every
  * table itself rather than reusing fragments the query loop materialized.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.defaultCpus
    val spark = Sessions.bench(cpus)
    // session warmup outside the timed loop: JIT, codegen pipeline, file
    // index + parquet reader init (fixed costs, not query work)
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // iteration aid: SPARK_GRAFT_ONLY=q1,q2 times just those queries (and
    // skips the stream + build legs); unset = the full driver-facing run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // a thrown query must never read as a fast success: its name and
    // exception go into the artifact's "errors" object (r5 lesson —
    // 12 analysis-time failures printed as 0.06 s timings and the total
    // "improved")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    def failed(name: String, e: Throwable): Unit = {
      errors(name) = e
      System.err.println(s"[bench] $name FAILED: $e")
    }
    val results = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try action(fn(spark, sfDir)).collect()
      catch { case e: Throwable => failed(name, e) }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // streaming surface: the events table replayed as a file stream through
    // the watermarked hourly aggregation (Streams.hourlyCounts), AvailableNow
    // trigger -> noop sink; reported as sustained events/second
    if (only.isDefined) {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      println(s"""{"metric":"subset","queries":$qs,"sf":"$sfDir"}""")
      spark.stop()
      return
    }
    // best of 3 replays: a single host stall cannot contaminate the
    // committed artifact (each replay starts a fresh checkpoint-less query,
    // so all three process the full file). The last replay's state store
    // (rows and memory summed over its stateful operators) goes into the
    // detail artifact.
    var streamState = (-1L, -1L)
    val streamRate =
      try {
        val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
        val src = streaming.Streams.eventFileStream(spark, sfDir)
        (1 to 3).map { _ =>
          val ts = System.nanoTime()
          val q = streaming.Streams.hourlyCounts(src).writeStream
            .format("noop").outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val ops = q.lastProgress.stateOperators
          streamState = (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
          nEvents / ((System.nanoTime() - ts) / 1e9)
        }.max
      } catch { case e: Throwable => failed("__stream", e); -1.0 }

    // synthetic-source throughput: SF1 lineitem (6M rows) generated on the
    // fly through the graft-synth DSv2 source and aggregated — the
    // zero-storage bench path (generator + whole-stage agg, no disk)
    val synthRate =
      try {
        val n = 6000000L
        val t = System.nanoTime()
        spark.read.format("graft-synth")
          .option("table", "lineitem").option("sf", "1")
          .option("partitions", cpus.toLong)
          .load()
          .agg(org.apache.spark.sql.functions.sum(col("l_quantity")))
          .collect()
        n / ((System.nanoTime() - t) / 1e9)
      } catch { case _: Throwable => -1.0 }

    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }

    // transaction-log throughput (Versioned): a full snapshot commit, then
    // three year-scoped upsert batches (MERGE through one atomic partition
    // swap — the incremental-corrections shape), then a time-travel audit. Rows
    // counted = rows staged through the log (initial + each batch's
    // rewritten partitions), so the rate prices commit overhead AND the
    // partition-scoped rewrite, not just the delta size.
    val versionedRate =
      try {
        val vdir = java.nio.file.Files.createTempDirectory("graft_bench_vtab").toString
        import org.apache.spark.sql.functions.{date_trunc, year => yearOf}
        val base = spark.read.parquet(s"$sfDir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            date_trunc("month", col("o_orderdate")).cast("date").as("order_month"))
        val nBase = base.count()
        val years = Seq(1995, 1996, 1997)
        val touched = years.map(y =>
          base.filter(yearOf(col("o_orderdate")) === y).count()).sum
        val tv = System.nanoTime()
        Versioned.write(base, vdir, partitionBy = Some("order_month"))
        years.foreach { y =>
          val updates = base.filter(yearOf(col("o_orderdate")) === y)
            .withColumn("o_totalprice", col("o_totalprice") * 1.01)
          Versioned.upsert(spark, vdir, updates, Seq("o_orderkey"), "order_month")
        }
        val v0 = Versioned.read(spark, vdir, Some(0L)).count()
        val tip = Versioned.read(spark, vdir).count()
        require(v0 == nBase && tip == nBase,
          s"versioned audit: v0=$v0 tip=$tip expected $nBase")
        val sec = (System.nanoTime() - tv) / 1e9
        rm(new java.io.File(vdir))
        (nBase + touched) / sec
      } catch { case e: Throwable => failed("__versioned", e); -1.0 }

    Store.clear(spark) // cold build: nothing reused from the query loop
    val buildDir =
      java.nio.file.Files.createTempDirectory("graft_bench_build").toString
    val tb = System.nanoTime()
    val built =
      try Runner.buildAll(Ctx(spark, sfDir), buildDir, cacheParents = true).size
      catch { case e: Throwable => failed("__build", e); -1 }
    val buildSec = (System.nanoTime() - tb) / 1e9
    rm(new java.io.File(buildDir))
    // The driver captures only the last ~2 KB of stdout: a JSON line naming
    // all 84 queries exceeds that and gets truncated at the FRONT, so it
    // never parses (BENCH_r02 "parsed": null). The LAST line is therefore a
    // compact one (totals, errors and the slowest queries within the 2 KB
    // budget: [[compactLine]]) and the full per-query map goes to an earlier
    // stdout line and to BENCH_DETAIL.json next to the build.
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val pageMBps = HostProbe.pageMBps()
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // the compact line names each error's class only (its keys and shape
    // are the driver's contract, its size the 2 KB budget); the detail
    // artifact adds the message and the first stack frame
    val errDetail = errors.map { case (k, e) =>
      quote(k) + ":" + quote(s"${e.getClass.getSimpleName}: ${e.getMessage} @ " +
        e.getStackTrace.headOption.map(_.toString).getOrElse("?"))
    }.mkString("{", ",", "}")
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$fullQs,"errors":$errDetail,"sf":"$sfDir","build_all_sec":${f(buildSec)},"build_tables":$built,"stream_events_per_sec":${f(streamRate)},"stream_state_rows":${streamState._1},"stream_state_bytes":${streamState._2},"synth_rows_per_sec":${f(synthRate)},"versioned_rows_per_sec":${f(versionedRate)},"host_page_mbps":$pageMBps}"""
    println(s"BENCH_DETAIL: $detail")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(compactLine(
      s""""metric":"total","value":${f(total)},"unit":"sec"""",
      results.toSeq, errors.toSeq.map { case (k, e) => k -> e.getClass.getSimpleName },
      s""""sf":${quote(sfDir)},"build_all_sec":${f(buildSec)},"build_tables":$built,"stream_events_per_sec":${f(streamRate)},"synth_rows_per_sec":${f(synthRate)},"versioned_rows_per_sec":${f(versionedRate)},"host_page_mbps":$pageMBps"""))
    spark.stop()
  }

  /** The compact last stdout line: `head` fields, then the `errors` object
    * (query -> exception class) and the `queries` object (query -> seconds,
    * slowest first), then `tail` fields. Both objects share one budget: the
    * whole line stays within `maxBytes` UTF-8 bytes (the driver keeps the
    * last ~2 KB of stdout). Every error is offered a place before any
    * timing — a failed query must never hide behind a fast one — and
    * `queries_shown` / `errors_not_shown` say how much was left out. */
  def compactLine(head: String, results: Seq[(String, Double)],
      errors: Seq[(String, String)], tail: String,
      maxBytes: Int = 2000): String = {
    def obj(entries: Seq[String]) = entries.mkString("{", ",", "}")
    def line(qs: Seq[String], es: Seq[String]) =
      s"""{$head,"queries":${obj(qs)},"queries_run":${results.size},"queries_shown":${qs.size},"errors":${obj(es)},"errors_not_shown":${errors.size - es.size},"detail":"BENCH_DETAIL.json",$tail}"""
    def fits(l: String) = l.getBytes("UTF-8").length <= maxBytes
    def f2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    var es = Vector.empty[String]
    var qs = Vector.empty[String]
    errors.foreach { case (k, v) =>
      val e = quote(k) + ":" + quote(v)
      if (fits(line(qs, es :+ e))) es :+= e
    }
    results.sortBy(-_._2).foreach { case (k, v) =>
      val q = quote(k) + ":" + f2(v)
      if (fits(line(qs :+ q, es))) qs :+= q
    }
    line(qs, es)
  }

  /** The bench action: bit_xor of every row's xxhash64 over all columns
    * (see the scaladoc above for why not count() or sum). One row. */
  def action(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"))
      .agg(expr("bit_xor(__h)"))

  /** `s` as a JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL or an exception
    * message would otherwise make a reader's json.load fail. */
  def quote(s: String): String = "\"" + String.valueOf(s).flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}