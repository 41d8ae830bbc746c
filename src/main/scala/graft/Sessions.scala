package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft program builds its SparkSession, so every
  * program — Bench, BenchScale, Verify, Diff, tools.Probe and the test
  * fixture — measures and answers in the same execution environment.
  *
  * The bench session: `local[cpus]`, shuffle partitions = cpus, scratch
  * (`spark.local.dir`) from [[Scratch.resolve]], a 256 MB broadcast ceiling
  * (static and adaptive), UTC session time and no UI. At sf0.1 the pruned
  * dims are a few MB and broadcast either way; the ceiling keeps every
  * plan shape identical to the at-scale build's, where the dims are
  * 40-200 MB and a 10 MB ceiling turns each report's dim join into a
  * sort-merge join that re-shuffles the 60M-row fact. 256 MB broadcasts
  * them (the same call a real cluster makes: executors holding multi-GB
  * heaps routinely broadcast 100-500 MB dims) while the 8M-row xrf and
  * fact-fact joins stay shuffle-shaped.
  *
  * `atScale` adds the full-build confs [[BenchScale]] runs under; it is the
  * only variation, so a plan or timing from any program can be compared
  * with any other's.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def bench(cpus: Int = defaultCpus, atScale: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // memory-backed scratch (shuffle + spill) when tmpfs has room for the
      // caller's footprint: this host's disk is ~5x slower than tmpfs;
      // model output still lands on disk
      .config("spark.local.dir", Scratch.resolve(
        if (atScale) Scratch.BuildFootprint else Scratch.SweepFootprint))
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (atScale) b
      // long-heap runs GC rarely; shuffle files are reference-cleaned, so
      // force a periodic sweep to keep tmpfs scratch bounded
      .config("spark.cleaner.periodicGC.interval", "120s")
      // start wide, let AQE coalesce: at SF10 a 32-partition fact shuffle
      // is ~500 MB/task (sort-spill territory); explicit repartition calls
      // (globalOrder's range exchange) keep their requested count
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 4).toString)
      // Bound CONCURRENT driver-side broadcast-relation builds: 8 model
      // writers × multi-GB transient build allocations is the broadcast-OOM
      // abort shape on drag epochs (the r12/r13 aborts — each 256 MB dim
      // broadcast transiently allocates ~2 GB building its hash relation).
      // 4 concurrent builds bounds the transient to ~8 GB regardless of
      // writer count; queued builds wait on the static exchange pool, not
      // on memory. (DriverGuard handles the complementary accumulation
      // vector: dead-broadcast reclamation + admission.)
      .config("spark.sql.broadcastExchange.maxThreadThreshold", "4")
      // zstd writes 33% fewer bytes than snappy at equal encode CPU on this
      // data (6.02 -> 4.06 GB on the 60M-row fact, 9.9-10.4 s either codec
      // against tmpfs; PERF_NOTES_r7.md) — ~7 GB less write I/O over the
      // ~22 GB build output, which is exactly the exposure that drags run
      // tails on degraded-disk epochs.
      .config("spark.sql.parquet.compression.codec", "zstd")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
