package graft

import org.apache.spark.sql.functions._

/** RewriteRangeJoin optimizer rule: a bare point-in-interval theta join in
  * plain SQL must silently become a binned hash equi-join (same rows, no
  * BroadcastNestedLoopJoin), while joins with an equi conjunct, other join
  * types, and the kill-switch conf are left untouched. */
class RangeJoinRuleSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    val s = spark
    // the shared session is built without the extensions conf, so the
    // lazy registration path must kick in — itself part of what this
    // suite exercises
    graft.plans.AsOf.register(s)
    s.range(400).select(
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        (col("id") * 13 % 700).cast("int")).as("day"),
      col("id").as("pid")).createOrReplaceTempView("rj_points")
    s.range(250).select(
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        (col("id") * 31 % 680).cast("int")).as("lo"),
      col("id").as("iid"))
      .withColumn("hi", date_add(col("lo"), (col("iid") % 40).cast("int")))
      .createOrReplaceTempView("rj_intervals")
  }

  private val sql =
    """SELECT pid, iid FROM rj_points p JOIN rj_intervals i
      |ON p.day >= i.lo AND p.day <= i.hi""".stripMargin

  /** The session's width derivations: (driver-side parquet read, Spark
    * sample). */
  private def derivations(s: org.apache.spark.sql.SparkSession = spark): (Long, Long) =
    Store.rangeJoinDerivations(s)

  private def rows(q: String): Set[(Long, Long)] =
    spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("SQL BETWEEN join is rewritten to an equi-join with identical rows") {
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    // the narrow intervals go through the binned hash equi-join; the
    // always-present wide-sentinel guard branch is a BNLJ that AQE's
    // empty-relation propagation prunes at runtime when (as here) no
    // interval exceeds maxBinsPerInterval
    assert(plan.contains("__graft_bin"), plan)
    assert(plan.matches("(?s).*BroadcastHashJoin \\[__graft_bin_p.*"), plan)
    val got = rows(sql)
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    val want = try rows(sql) finally
      spark.conf.set("spark.graft.rangejoin.enabled", "true")
    assert(got == want && want.nonEmpty, s"got=${got.size} want=${want.size}")
  }

  test("kill switch restores the nested loop") {
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    try {
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(plan.contains("NestedLoop"), plan)
    } finally spark.conf.set("spark.graft.rangejoin.enabled", "true")
  }

  test("strict bounds and integral (non-date) types also rewrite, exactly") {
    val q =
      """SELECT pid, iid FROM
        |  (SELECT pid, pid * 7 % 500 AS x FROM rj_points) p JOIN
        |  (SELECT iid, iid * 3 % 480 AS a, iid * 3 % 480 + iid % 25 AS b
        |   FROM rj_intervals) i
        |ON p.x > i.a AND p.x < i.b""".stripMargin
    val df = spark.sql(q)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"))
    val got = rows(q)
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    val want = try rows(q) finally
      spark.conf.set("spark.graft.rangejoin.enabled", "true")
    assert(got == want && want.nonEmpty)
  }

  test("a join that already has an equi conjunct is left alone") {
    val q =
      """SELECT pid, iid FROM rj_points p JOIN rj_intervals i
        |ON p.pid % 10 = i.iid % 10 AND p.day >= i.lo AND p.day <= i.hi""".stripMargin
    val plan = spark.sql(q).queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_bin"), plan)
    assert(!plan.contains("NestedLoop"), plan) // hash join on the equi key
  }

  test("sentinel-wide intervals take the broadcast nested-loop branch, not a bin explosion") {
    // one open-ended validity interval (hi 200 years out = ~2.3M day-bins)
    // among normal intervals: rows must match the un-rewritten join and the
    // plan must contain BOTH shapes — the binned equi-join for the narrow
    // intervals and a broadcast nested loop for the sentinel — instead of
    // generating millions of bin rows (or worse for BIGINT sentinels)
    val q =
      """SELECT pid, iid FROM rj_points p JOIN
        |  (SELECT iid, lo, CASE WHEN iid = 7 THEN DATE '2225-01-01' ELSE hi END AS hi
        |   FROM rj_intervals) i
        |ON p.day >= i.lo AND p.day <= i.hi""".stripMargin
    val df = spark.sql(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    val got = rows(q)
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    val want = try rows(q) finally
      spark.conf.set("spark.graft.rangejoin.enabled", "true")
    assert(got == want && want.nonEmpty, s"got=${got.size} want=${want.size}")
    // the sentinel interval matched many points (it spans everything)
    assert(got.count(_._2 == 7L) > 200, "sentinel interval under-matched")
  }

  test("a null-safe equi conjunct (<=>) also suppresses the rewrite") {
    val q =
      """SELECT pid, iid FROM rj_points p JOIN rj_intervals i
        |ON p.pid % 10 <=> i.iid % 10 AND p.day >= i.lo AND p.day <= i.hi""".stripMargin
    val plan = spark.sql(q).queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_bin"), plan)
  }

  test("auto width over a parquet interval side is driver-derived — no Spark sample job") {
    val dir = java.nio.file.Files.createTempDirectory("rj_parq").toFile.getAbsolutePath
    // spans 9..11 (median 10) → derived width must be 11
    spark.range(300).select(col("id").as("iid"), (col("id") * 37 % 1000).as("a"))
      .withColumn("b", col("a") + lit(9) + (col("iid") % 3))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("rj_parq_intervals")
    val q =
      """SELECT pid, iid FROM
        |  (SELECT pid, pid * 7 % 500 AS x FROM rj_points) p JOIN rj_parq_intervals i
        |ON p.x >= i.a AND p.x <= i.b""".stripMargin
    val (stats0, fall0) = derivations()
    val df = spark.sql(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bin"), plan)
    assert(derivations()._1 > stats0,
      "parquet-backed auto width did not take the driver-side stats path")
    assert(derivations()._2 == fall0,
      "parquet-backed auto width fell back to the Spark sample job")
    // width 11 = median span 10 + 1 shows up as the bin divisor
    assert(plan.contains(" 11)") || plan.contains("div 11"), plan)
    val got = rows(q)
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    val want = try rows(q) finally
      spark.conf.set("spark.graft.rangejoin.enabled", "true")
    assert(got == want && want.nonEmpty, s"got=${got.size} want=${want.size}")
  }

  test("auto width stripes across files — a skewed first file cannot collapse the width") {
    // three parquet files where the LEXICOGRAPHICALLY FIRST holds only
    // zero-span intervals (a date-partitioned dataset with monotone span
    // growth looks exactly like this): a first-file-only sample would
    // derive width 1, while the global median span is 100 → width 101
    val dir = java.nio.file.Files.createTempDirectory("rj_parq_skew").toFile.getAbsolutePath
    def writeOne(name: String, span: Int, base: Int): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("rj_parq_one").toFile.getAbsolutePath
      spark.range(300).select(col("id").as("iid"),
          ((col("id") * 41 + base) % 1000).as("a"))
        .withColumn("b", col("a") + lit(span))
        .repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, name))
    }
    writeOne("f0.parquet", span = 0, base = 0)     // skewed first file
    writeOne("f1.parquet", span = 100, base = 7)
    writeOne("f2.parquet", span = 100, base = 13)
    spark.read.parquet(dir).createOrReplaceTempView("rj_parq_skew_intervals")
    val q =
      """SELECT pid, iid FROM
        |  (SELECT pid, pid * 7 % 500 AS x FROM rj_points) p JOIN rj_parq_skew_intervals i
        |ON p.x >= i.a AND p.x <= i.b""".stripMargin
    val stats0 = derivations()._1
    val df = spark.sql(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bin"), plan)
    assert(derivations()._1 > stats0,
      "skewed-file fixture did not take the driver-side stats path")
    assert(plan.contains(" 101)") || plan.contains("div 101"),
      s"width must be the global median span 100 + 1, not the first file's 1:\n$plan")
    val got = rows(q)
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    val want = try rows(q) finally
      spark.conf.set("spark.graft.rangejoin.enabled", "true")
    assert(got == want && want.nonEmpty, s"got=${got.size} want=${want.size}")
  }

  /** Writes intervals of span `span` (width `span + 1`) to `dir`. */
  private def writeSpans(dir: String, span: Int): Unit =
    spark.range(300).select(col("id").as("iid"), (col("id") * 37 % 1000).as("a"))
      .withColumn("b", col("a") + lit(span))
      .write.mode("overwrite").parquet(dir)

  /** The bin widths a plan divides by. */
  private def widths(plan: String): Set[Long] =
    "div (\\d+)".r.findAllMatchIn(plan).map(_.group(1).toLong).toSet

  private def spanQuery(view: String): String =
    s"""SELECT pid, iid FROM
       |  (SELECT pid, pid * 3 % 700 AS x FROM rj_points) p JOIN $view i
       |ON p.x >= i.a AND p.x <= i.b""".stripMargin

  test("a source rewritten at the same path derives its width again") {
    val dir = java.nio.file.Files.createTempDirectory("rj_rewrite").toFile.getAbsolutePath
    writeSpans(dir, span = 4)
    spark.read.parquet(dir).createOrReplaceTempView("rj_rewrite")
    val planned = () => widths(
      spark.sql(spanQuery("rj_rewrite")).queryExecution.executedPlan.toString)
    val stats0 = derivations()._1
    assert(planned() == Set(5L))
    // the same plan again is served from the memo
    assert(planned() == Set(5L))
    assert(derivations()._1 == stats0 + 1)
    Thread.sleep(50) // a new modification time, whatever the clock's grain
    writeSpans(dir, span = 60)
    // the view keeps its relation, and so the plan's hashes: only the
    // source's modification time tells the memo the rows changed
    spark.catalog.refreshTable("rj_rewrite")
    assert(planned() == Set(61L))
    assert(derivations()._1 == stats0 + 2)
  }

  test("two fresh reads of one unchanged source derive its width once") {
    val dir = java.nio.file.Files.createTempDirectory("rj_fresh").toFile.getAbsolutePath
    writeSpans(dir, span = 14)
    val stats0 = derivations()._1
    (1 to 2).foreach { _ =>
      // each read renews the relation's attribute exprIds
      spark.read.parquet(dir).createOrReplaceTempView("rj_fresh")
      assert(widths(spark.sql(spanQuery("rj_fresh")).queryExecution.executedPlan.toString) ==
        Set(15L))
    }
    assert(derivations()._1 == stats0 + 1)
  }

  test("a new session starts with an empty width memo") {
    val dir = java.nio.file.Files.createTempDirectory("rj_session").toFile.getAbsolutePath
    writeSpans(dir, span = 9)
    spark.read.parquet(dir).createOrReplaceTempView("rj_session")
    spark.sql(spanQuery("rj_session")).queryExecution.executedPlan
    assert(derivations()._1 > 0)
    val s = spark.newSession()
    graft.plans.AsOf.register(s)
    assert(derivations(s) == ((0L, 0L)))
    s.read.parquet(dir).createOrReplaceTempView("rj_session")
    s.range(400).select(col("id").as("pid")).createOrReplaceTempView("rj_points")
    assert(widths(s.sql(spanQuery("rj_session")).queryExecution.executedPlan.toString) ==
      Set(10L))
    assert(derivations(s) == ((1L, 0L)))
  }

  test("in-memory (non-parquet) interval side still derives via the bounded Spark sample") {
    // a distinct shape (projection renames) so the width memo can't serve it
    val q =
      """SELECT pid, iid FROM
        |  (SELECT pid, pid * 11 % 333 AS x FROM rj_points) p JOIN
        |  (SELECT iid, iid * 5 % 300 AS a, iid * 5 % 300 + iid % 7 AS b
        |   FROM rj_intervals) i
        |ON p.x >= i.a AND p.x <= i.b""".stripMargin
    val fall0 = derivations()._2
    val df = spark.sql(q)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"))
    assert(derivations()._2 > fall0)
    val got = rows(q)
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    val want = try rows(q) finally
      spark.conf.set("spark.graft.rangejoin.enabled", "true")
    assert(got == want && want.nonEmpty)
  }

  test("empty (inverted) intervals produce no rows instead of erroring") {
    val q =
      """SELECT pid, iid FROM rj_points p JOIN
        |  (SELECT iid, hi AS lo, lo AS hi FROM rj_intervals WHERE iid % 40 <> 0) i
        |ON p.day >= i.lo AND p.day <= i.hi""".stripMargin
    // swapped bounds: every interval with lo > hi is empty; rows only where
    // lo = hi (iid % 40 = 0 excluded -> none with span 0 remain... keep
    // simply: the query must RUN and agree with the naive plan)
    val got = rows(q)
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    val want = try rows(q) finally
      spark.conf.set("spark.graft.rangejoin.enabled", "true")
    assert(got == want)
  }
}
