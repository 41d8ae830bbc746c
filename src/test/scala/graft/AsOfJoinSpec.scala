package graft

import graft.plans.{AsOf, AsOfJoinExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom as-of join (LogicalPlan + Strategy + SparkPlan) must produce
  * exactly the rows a composed-ops reference implementation produces, run
  * as a sort-merge pass (no cartesian/broadcast-nested-loop candidate
  * explosion), and never match across null keys or null times. */
class AsOfJoinSpec extends SparkSpec {
  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("matches the composed-ops (join + latest-row window) reference") {
    import spark.implicits._
    val ev = ctx.tbl("events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    val touches = ev.filter($"event_type" =!= "purchase")
      .select($"user_id".as("touch_user"), $"ts".as("touch_ts"),
        $"event_type".as("touch_type"))
    val actual = AsOf.joinAsOf(purchases, touches,
      "user_id", "touch_user", "ts", "touch_ts")

    // reference: range join + keep-the-latest window (the shape the custom
    // operator exists to avoid — O(candidates) explode, two extra shuffles)
    val expected = purchases
      .join(touches, $"user_id" === $"touch_user" && $"ts" >= $"touch_ts", "left")
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"event_id").orderBy($"touch_ts".desc_nulls_last)))
      .filter($"__rn" === 1).drop("__rn")

    val cols = actual.columns.map(col).toIndexedSeq
    assert(actual.count() == purchases.count()) // left-outer cardinality
    assert(actual.select(cols: _*).except(expected.select(cols: _*)).isEmpty
      && expected.select(cols: _*).except(actual.select(cols: _*)).isEmpty)
  }

  test("plans as AsOfJoinExec with co-partitioned sort-merge children") {
    val df = extensions.Events.asofAttribution(ctx)
    df.collect()
    val plan = finalPlan(df.queryExecution.executedPlan)
    val s = plan.toString
    assert(s.contains("AsOfJoin"), s"AsOfJoinExec missing from plan:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"candidate explosion in plan:\n$s")
    // EnsureRequirements must have hash-partitioned both children on the key
    assert("hashpartitioning\\((user_id|touch_user)".r
      .findAllIn(s.toLowerCase).size >= 2, s"missing key exchanges:\n$s")
  }

  test("left-side filters above the as-of node push into the left scan") {
    val ev = ctx.tbl("events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("touch_user"), col("ts").as("touch_ts"),
        col("event_type").as("touch_type"))
    val q = AsOf.joinAsOf(purchases, touches,
        "user_id", "touch_user", "ts", "touch_ts")
      .filter(col("value") > 100.0) // references only the left side
    val scans = finalPlan(q.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.metadata.get("PushedFilters").exists(s =>
      s.contains("GreaterThan(value,100.0)"))),
      scans.map(_.metadata.get("PushedFilters")).mkString("; "))
    // and the rule must not have changed the result
    val all = AsOf.joinAsOf(purchases, touches,
      "user_id", "touch_user", "ts", "touch_ts")
    assert(q.count() == all.filter(col("value") > 100.0).count())
  }

  test("null keys and null times never match") {
    import spark.implicits._
    val left = Seq(
      (1L, Option(10L), Option(100L)),  // normal match
      (2L, None, Option(100L)),         // null key
      (3L, Option(10L), None),          // null time
      (4L, Option(10L), Option(5L))     // before every right row
    ).toDF("id", "k", "t")
    val right = Seq(
      (Option(10L), Option(50L), "a"),
      (Option(10L), Option(90L), "b"),
      (Option.empty[Long], Option(1L), "nullkey"),
      (Option(10L), Option.empty[Long], "nulltime")
    ).toDF("rk", "rt", "tag")
    val out = AsOf.joinAsOf(left, right, "k", "rk", "t", "rt")
      .select("id", "tag").collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(1L -> Some("b"), 2L -> None, 3L -> None, 4L -> None))
  }

  test("every left row of a key matches independently (forward pointer)") {
    import spark.implicits._
    // three left rows same key with increasing times straddling right rows
    val left = Seq((1L, 7L, 10L), (2L, 7L, 20L), (3L, 7L, 30L), (4L, 8L, 25L))
      .toDF("id", "k", "t")
    val right = Seq((7L, 10L, "r10"), (7L, 15L, "r15"), (7L, 29L, "r29"),
      (8L, 24L, "s24")).toDF("rk", "rt", "tag")
    val out = AsOf.joinAsOf(left, right, "k", "rk", "t", "rt")
      .select("id", "tag").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "r10", 2L -> "r15", 3L -> "r29", 4L -> "s24"))
  }

  test("tolerance: matches older than the bound null-extend (merge_asof semantics)") {
    import spark.implicits._
    val left = Seq((1L, 7L, 10L), (2L, 7L, 20L), (3L, 7L, 100L)).toDF("id", "k", "t")
    val right = Seq((7L, 8L, "r8"), (7L, 18L, "r18")).toDF("rk", "rt", "tag")
    // bound = 5: id 1 matches r8 (gap 2), id 2 matches r18 (gap 2),
    // id 3's latest match r18 has gap 82 -> null-extended, not re-matched
    val out = AsOf.joinAsOf(left, right, "k", "rk", "t", "rt",
        tolerance = Some(5L))
      .select("id", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(1L -> Some("r8"), 2L -> Some("r18"), 3L -> None))
    // non-long time columns are rejected up front when a tolerance is set
    val intTimes = Seq((1, 7, 10)).toDF("id", "k", "t")
    val intRight = Seq((7, 8, "x")).toDF("rk", "rt", "tag")
    intercept[IllegalArgumentException] {
      AsOf.joinAsOf(intTimes, intRight, "k", "rk", "t", "rt", tolerance = Some(5L))
    }
  }

  test("non-nullable right schema: unmatched left rows null-extend, no NPE") {
    // r10 regression: the output projection used to bind against the right
    // CHILD's nullability — parquet children are always nullable so it
    // never surfaced, but the synth DSv2 source declares nullable=false
    // columns, and the projection then codegen'd null-check-free reads
    // that NPE'd on the first null-extended row (SF10 sweep, the
    // events_asof_attribution leg)
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val lSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("t", LongType, nullable = false)))
    val rSchema = StructType(Seq(
      StructField("rk", LongType, nullable = false),
      StructField("rt", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val l = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 50L), Row(2L, 50L))), lSchema)
    val r = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 10L, "hit"))), rSchema)
    val out = AsOf.joinAsOf(l, r, "k", "rk", "t", "rt")
      .orderBy("k").collect()
    assert(out.length == 2)
    assert(out(0).getString(out(0).fieldIndex("tag")) == "hit")
    assert(out(1).isNullAt(out(1).fieldIndex("tag")))
  }
}
