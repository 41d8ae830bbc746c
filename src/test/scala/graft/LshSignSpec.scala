package graft

import graft.functions.LshSign
import org.apache.spark.sql.functions._

/** Native LshSign expression vs the interpreted HOF stack it replaced:
  * exact string equality on the real embeddings and on adversarial double
  * arrays (negatives, zeros, sign-boundary sums), plus analysis-time type
  * checking. The four bucketed similarity queries' oracle hashes are the
  * end-to-end guarantee; this is the targeted unit proof. */
class LshSignSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    LshSign.register(spark)
  }

  test("matches the HOF form on the real embeddings (float arrays)") {
    val ctx = Ctx(spark, "/root/testdata/sf0.001")
    val mism = ctx.tbl("embeddings")
      .select(
        expr("lsh_sign(embedding)").as("native"),
        extensions.Similarity.bucketExprHof("embedding").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mism == 0)
  }

  test("matches the HOF form on adversarial double arrays") {
    import spark.implicits._
    val rows = Seq(
      Seq(0.0, 0.0, 0.0),                      // all-zero -> sum 0.0 -> '1' bits
      Seq(-1.5, 2.25, -0.75, 3.125),
      Seq(1e300, -1e300, 1e-300),
      Seq(-0.0),
      (0 until 64).map(i => math.sin(i) * 10).toSeq)
    // (no empty-array row: the HOF reference itself errors there — under
    // ANSI mode sequence(0, size-1) descends to [0, -1] and arr[0] throws
    // on a 0-element array; see the degenerate-inputs test below)
    val df = rows.toDF("arr")
    val mism = df.select(
        expr("lsh_sign(arr)").as("native"),
        extensions.Similarity.bucketExprHof("arr").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mism == 0)
  }

  test("degenerate inputs: null array, empty array, null element → all-'0'") {
    import spark.implicits._
    // The HOF form maps a NULL array and a null element to '00000000' (the
    // null sum falls through when(sum >= 0, ...)); an empty array must land
    // on the same bucket rather than '11111111' from eight 0.0-sums (or a
    // NULL that would silently change bucket membership downstream).
    val df = Seq[Option[Seq[Option[Double]]]](
      None,
      Some(Seq.empty),
      Some(Seq(Some(1.0), None, Some(2.0)))).toDF("arr")
    val out = df.select(expr("lsh_sign(arr)").as("s")).collect().map(_.getString(0))
    assert(out.forall(_ == "0" * 8), out.mkString(","))
    // and the HOF form agrees on the two cases it can evaluate
    val hof = df.filter(size(col("arr")) =!= 0 || col("arr").isNull)
      .select(extensions.Similarity.bucketExprHof("arr").as("s"))
      .collect().map(_.getString(0))
    assert(hof.forall(_ == "0" * 8), hof.mkString(","))
  }

  test("deterministic: 8 chars of '0'/'1' only") {
    val ctx = Ctx(spark, "/root/testdata/sf0.001")
    val bad = ctx.tbl("embeddings")
      .select(expr("lsh_sign(embedding)").as("s"))
      .filter(not(col("s").rlike("^[01]{8}$")))
      .count()
    assert(bad == 0)
  }

  test("non-array input fails analysis") {
    val ex = intercept[Exception] {
      spark.range(1).selectExpr("lsh_sign(id)").collect()
    }
    assert(ex.getMessage.contains("lsh_sign") ||
      ex.getMessage.toLowerCase.contains("array"))
  }
}
