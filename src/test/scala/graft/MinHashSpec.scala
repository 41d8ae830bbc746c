package graft

import graft.functions.MinHash
import org.apache.spark.sql.functions._

/** MinHashSketch TypedImperativeAggregate: Jaccard-estimate accuracy against
  * exact set overlap, partition-order invariance (elementwise-min merge is
  * associative and commutative), and null handling. The estimate between two
  * sketches is the matching-slot fraction, computed in plain SQL over the
  * result arrays.
  */
class MinHashSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    MinHash.register(spark)
  }

  // sentinel-guarded estimate (MinHash.register doc): a slot match only
  // counts when it is a real hashed minimum, so two empty (all-sentinel)
  // sketches estimate J = 0 rather than 1
  private val estExpr =
    "CAST(size(filter(zip_with(sk_a, sk_b, (x, y) -> x = y AND " +
      s"x != ${graft.functions.MinHash.EmptySlot}L), p -> p)) AS DOUBLE) / size(sk_a)"

  /** Two integer sets with a known exact Jaccard: A = [0, na), B = [cut, cut+nb). */
  private def estimateVsExact(na: Int, nb: Int, cut: Int): (Double, Double) = {
    import spark.implicits._
    val a = spark.range(na).select(lit("a").as("g"), col("id").as("v"))
    val b = spark.range(nb).select(lit("b").as("g"), (col("id") + cut).as("v"))
    val sk = a.union(b).groupBy("g").agg(expr("minhash_sketch(v)").as("sk"))
    val est = sk.filter($"g" === "a").select(col("sk").as("sk_a"))
      .crossJoin(sk.filter($"g" === "b").select(col("sk").as("sk_b")))
      .selectExpr(estExpr).head().getDouble(0)
    val inter = math.max(0, math.min(na, cut + nb) - math.max(0, cut))
    val exact = inter.toDouble / (na + nb - inter)
    (est, exact)
  }

  test("estimate tracks exact Jaccard across the range (k=64, ±3σ band)") {
    for ((na, nb, cut) <- Seq((2000, 2000, 1000), (2000, 2000, 1800),
        (1000, 3000, 500), (2000, 2000, 2000))) {
      val (est, exact) = estimateVsExact(na, nb, cut)
      val sigma = math.sqrt(exact * (1 - exact) / 64.0)
      assert(math.abs(est - exact) <= math.max(3 * sigma, 0.02),
        s"sets ($na, $nb, cut=$cut): est $est vs exact $exact (sigma $sigma)")
    }
  }

  test("identical sets estimate 1.0 exactly") {
    val (est, exact) = estimateVsExact(1500, 1500, 0)
    assert(exact == 1.0 && est == 1.0, s"est $est")
  }

  test("empty sketches: all-sentinel buffers estimate J = 0, not 1") {
    // an empty group keeps Long.MaxValue in every slot; without the
    // sentinel guard two empty sketches would report a spurious J = 1.0
    val empty = spark.range(10).filter(col("id") < 0)
      .selectExpr("minhash_sketch(id) AS sk")
    val row = empty.select(col("sk").as("sk_a"))
      .crossJoin(empty.select(col("sk").as("sk_b")))
      .selectExpr(estExpr + " AS est", "sk_a").head()
    assert(row.getDouble(0) == 0.0)
    assert(row.getSeq[Long](1).forall(_ == graft.functions.MinHash.EmptySlot))
  }

  test("partition-order invariant: 1 vs 16 partitions give the same sketch") {
    val base = spark.range(50000).select((col("id") * 2654435761L % 99991L).as("v"))
    val s1 = base.repartition(1)
      .selectExpr("minhash_sketch(v) AS sk").head().getSeq[Long](0)
    val s16 = base.repartition(16, col("v"))
      .selectExpr("minhash_sketch(v) AS sk").head().getSeq[Long](0)
    assert(s1 == s16)
  }

  test("nulls are skipped; strings hash like any value") {
    val df = spark.range(1000).select(
      when(col("id") % 10 === 0, lit(null))
        .otherwise(concat(lit("w"), col("id") % 100)).as("v"))
    val withNulls = df.selectExpr("minhash_sketch(v) AS sk").head().getSeq[Long](0)
    val noNulls = df.filter(col("v").isNotNull)
      .selectExpr("minhash_sketch(v) AS sk").head().getSeq[Long](0)
    assert(withNulls == noNulls)
    assert(withNulls.forall(_ != Long.MaxValue))
  }

  test("sketch estimate calibrates against the exact source_similarity query") {
    MinHash.register(spark)
    val ctx = Ctx(spark, "/root/testdata/sf0.001")
    val exact = extensions.Text.sourceSimilarity(ctx)
      .select(col("source_a"), col("source_b"), col("jaccard"))
    // per-source sketches over the SAME distinct (source, shingle) relation
    val toks = ctx.tbl("documents").withColumn("toks",
      expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
    val srcSh = toks.select(col("source"), explode(expr(
        """CASE WHEN size(toks) >= 3
          |  THEN transform(sequence(0, size(toks) - 3),
          |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
          |  ELSE array() END""".stripMargin)).as("shingle"))
      .distinct()
    val sk = srcSh.groupBy("source").agg(expr("minhash_sketch(shingle)").as("sk"))
    val est = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
      .crossJoin(sk.select(col("source").as("source_b"), col("sk").as("sk_b")))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), expr(estExpr).as("est"))
    val joined = exact.join(est, Seq("source_a", "source_b")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (j, e) = (r.getAs[Double]("jaccard"), r.getAs[Double]("est"))
      val sigma = math.sqrt(math.max(j * (1 - j), 0.01) / 64.0)
      assert(math.abs(e - j) <= 4 * sigma,
        s"${r.get(0)}-${r.get(1)}: est $e vs exact $j")
    }
  }
}
