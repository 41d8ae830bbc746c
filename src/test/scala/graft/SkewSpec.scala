package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Skew posture evidence (TPC-H keys are uniform; a real corpus's are not):
  * (1) the salted join is result-identical to the plain join while provably
  * spreading the hot key across salt buckets, and (2) AQE's skew-join
  * actually fires on a deliberately skewed shuffle join (plan carries
  * skew=true), which is the zero-code first line of defence at cluster
  * scale. */
class SkewSpec extends SparkSpec {
  // 60k facts, 50k of them on hot key 7; 100-key dim
  private def facts = spark.range(60000).select(
    when(col("id") < 50000, lit(7L)).otherwise(pmod(col("id"), lit(100L)))
      .as("k"),
    (col("id") * 3).as("payload"))
  private def dim = spark.range(100).select(
    col("id").as("k"), concat(lit("dim_"), col("id")).as("label"))

  test("salted join is result-identical to the plain join") {
    val plain = facts.join(dim, Seq("k")).select("k", "payload", "label")
    val salted = Skew.saltedJoin(facts, dim, "k", salts = 16)
      .select("k", "payload", "label")
    assert(plain.except(salted).isEmpty && salted.except(plain).isEmpty)
    assert(salted.count() == 60000)
  }

  test("the hot key's rows spread across (nearly) all salt buckets") {
    val hotSalts = facts.withColumn("s", Skew.saltCol(facts, 16))
      .filter(col("k") === 7).select("s").distinct().count()
    assert(hotSalts >= 14, s"hot key only landed in $hotSalts/16 salt buckets")
  }

  test("AQE skew-join fires on the skewed shuffle join (skew=true in plan)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> util.Try(conf.get(k)).toOption.filter(_ != null)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // fat payload so the hot partition comfortably exceeds the threshold
      val fat = facts.withColumn("pad", concat(lit("x" * 64), col("payload")))
      val joined = fat.join(dim, Seq("k"))
      // collect() (not count()) so the FULL join, fat payload included, is
      // what executes — and so this df's own adaptive plan gets finalized
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-join in final plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
