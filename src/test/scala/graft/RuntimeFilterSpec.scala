package graft

import org.apache.spark.sql.functions._

/** Runtime-filter posture proof (the companion of SkewSpec): when a fact
  * joins a dimension that carries a selective predicate, Spark's
  * InjectRuntimeFilter can build a Bloom filter from the dimension side and
  * semi-reduce the fact scan BEFORE the shuffle — at 100 TB this is the
  * difference between shuffling the whole fact and shuffling the ~1% of it
  * that can possibly match. The thresholds here are shrunk to demo scale
  * (the defaults assume a 10 GB+ application side); on a cluster the same
  * two flags are the tuning surface. Asserted, not assumed: the pushed
  * might_contain probe must appear on the fact side of the executed plan.
  */
class RuntimeFilterSpec extends SparkSpec {
  // demo-scale thresholds: the default application-side floor is 10 GB
  private val demoConf = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
  private var saved = Seq.empty[(String, Option[String])]

  override def beforeAll(): Unit = {
    super.beforeAll()
    saved = demoConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    demoConf.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // the session is shared by every suite in the JVM: a bloom probe injected
  // into later suites' plans would change the plan shapes they pin
  override def afterAll(): Unit = {
    saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    super.afterAll()
  }

  test("selective dim filter injects a bloom probe on the fact side of a shuffle join") {
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    // force a shuffle join: a broadcast join needs no bloom filter (the
    // dim rows ride along anyway); the runtime filter exists for the
    // sort-merge/shuffle-hash case where the fact would otherwise shuffle whole
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = "/root/testdata/sf0.01"
      val fact = spark.read.parquet(s"$dir/lineitem.parquet")
      val dim = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 400000.0) // selective: top ~1%
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("qty"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the probe must sit over the FACT scan: the might_contain filter
      // line itself must be keyed on l_orderkey, and the first scan BELOW
      // it in the tree printout (its subtree) must be the lineitem
      // relation — `plan.contains("l_orderkey")` alone would pass with the
      // filter injected on the wrong side
      val lines = plan.split("\n").toSeq
      val probeIdx = lines.indexWhere(_.contains("might_contain"))
      assert(probeIdx >= 0, s"no bloom runtime filter in plan:\n$plan")
      // the FILTER LINE itself must be keyed on the fact column — a filter
      // injected on the dim side would probe o_orderkey instead (the
      // previous plan-wide contains("l_orderkey") passed either way)
      assert(lines(probeIdx).contains("xxhash64(l_orderkey"),
        s"bloom probe not keyed on the fact join key:\n${lines(probeIdx)}")
      // and its subtree must contain the lineitem scan (the bloom-BUILD
      // subquery over orders prints nested under the filter first, so look
      // for the lineitem scan anywhere below, not the first scan)
      val scanBelow = lines.drop(probeIdx)
        .filter(l => l.contains("Scan parquet") || l.contains("FileScan"))
      assert(scanBelow.exists(_.contains("lineitem")),
        s"bloom probe does not sit over the lineitem scan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("without the selective filter no bloom probe is injected (no blind overhead)") {
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = "/root/testdata/sf0.01"
      val fact = spark.read.parquet(s"$dir/lineitem.parquet")
      val dim = spark.read.parquet(s"$dir/orders.parquet")
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("qty"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("might_contain"),
        s"bloom filter injected with nothing to gain:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }
}
