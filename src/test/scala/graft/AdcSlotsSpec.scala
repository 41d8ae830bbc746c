package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The native `adc_slots` kernel: equal to the composed form ADC tables
  * were built with before it (subvector explode -> join on the subspace ->
  * `map_from_entries` per (query, subspace) -> `flatten` per query, kept
  * here as the reference) through real DataFrames (codegen path), on the
  * sf0.001 embeddings, a 1-based `graft-synth` corpus, a codebook with
  * missing codes and vectors with zero-norm subvectors; and known values
  * and null shapes on literals (interpreted path). */
class AdcSlotsSpec extends SparkSpec {

  private def register(): Unit = {
    functions.CosineSim.register(spark)
    functions.AdcSlots.register(spark)
  }

  private def subvectors(df: DataFrame, id: String, v: String, out: String): DataFrame =
    df.select(col(id), explode(expr("sequence(0, 7)")).as("s"), col(v))
      .select(col(id), col("s"), expr(s"slice($v, s * 8 + 1, 8)").as(out))

  /** The reference: per (query, subspace) a code -> similarity map, read
    * out over the slot range [0, max code], flattened in subspace order. */
  private def composed(queries: DataFrame, cb: DataFrame): DataFrame = {
    val nSlots = cb.agg(max(col("code"))).head().getLong(0).toInt + 1
    subvectors(queries, "query_id", "qe", "qv")
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"),
        col("code").cast("int").as("code"),
        round(expr("cosine_sim(qv, cv)"), 9).cast("decimal(12,9)").as("qdec"))
      .groupBy(col("query_id"), col("s"))
      .agg(map_from_entries(collect_list(struct(col("code"), col("qdec")))).as("m"))
      .select(col("query_id"), col("s"),
        expr(s"""transform(sequence(0, ${nSlots - 1}),
           c -> coalesce(element_at(m, c), CAST(0 AS DECIMAL(12,9))))""").as("sarr"))
      .groupBy("query_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(s, sarr))), x -> x.sarr))")
        .as("qarr"))
  }

  /** The kernel over one packed codebook row, as AnnIndex.adcTable runs it. */
  private def kernel(queries: DataFrame, cb: DataFrame): DataFrame = {
    val packed = cb.coalesce(1)
      .agg(sort_array(collect_list(struct(col("s"), col("code"), col("cv")))).as("p"))
      .select(flatten(col("p.cv")).as("mat"), col("p.s").as("s_arr"),
        col("p.code").as("code_arr"))
    queries.crossJoin(broadcast(packed))
      .select(col("query_id"), expr("adc_slots(qe, mat, s_arr, code_arr)").as("qarr"))
  }

  private def queries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  private def codebook(e: DataFrame, ids: Column): DataFrame =
    subvectors(e.filter(ids), "vec_id", "embedding", "cv")
      .select(col("s"), col("vec_id").as("code"), col("cv"))

  private def assertSame(queries: DataFrame, cb: DataFrame, what: String): Unit = {
    register()
    val k = kernel(queries, cb)
    val got = k.collect().map(_.toString).sorted.toSeq
    val ref = composed(queries, cb).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty, s"$what: no query")
    assert(got == ref, s"$what: first delta ${
      got.zipAll(ref, "<missing>", "<missing>").find(p => p._1 != p._2)}")
    val width = cb.agg(max(col("code"))).head().getLong(0) + 1
    assert(k.select(size(col("qarr"))).collect().forall(_.getInt(0) == 8 * width),
      s"$what: the slot array is not 8 × (max code + 1) wide")
  }

  test("adc_slots equals the composed form on the sf0.001 embeddings") {
    val e = ctx.tbl("embeddings")
    assertSame(queries(e), codebook(e, col("vec_id") < 16), "sf0.001")
  }

  test("adc_slots equals the composed form on 1-based synth ids") {
    val e = Ctx(spark, "synth:sf=0.05").tbl("embeddings")
    assert(e.agg(min(col("vec_id"))).head().getLong(0) == 1L)
    assertSame(queries(e), codebook(e, col("vec_id") < 16), "synth")
  }

  test("missing codes and zero-norm subvectors: 0 slots, as in the composed form") {
    // query 12's third subvector and codeword 3's sixth are all zeros
    val e = ctx.tbl("embeddings").withColumn("embedding", expr(
      """transform(embedding, (x, i) -> CASE
        |  WHEN vec_id = 12 AND i BETWEEN 16 AND 23 THEN CAST(0 AS FLOAT)
        |  WHEN vec_id = 3 AND i BETWEEN 40 AND 47 THEN CAST(0 AS FLOAT)
        |  ELSE x END)""".stripMargin))
    // codes 1, 4, 6-8 and 10-12 are never codewords; two more are
    // missing from one subspace each
    val cb = codebook(e, col("vec_id").isin(0, 2, 3, 5, 9, 13))
      .filter(!(col("s") === 3 && col("code") === 5) && !(col("s") === 6 && col("code") === 0))
    assertSame(queries(e), cb, "gaps and zero norms")
  }

  test("known values, and null for degenerate shapes") {
    register()
    def one(sql: String): Option[Seq[java.math.BigDecimal]] =
      Option(spark.sql(s"SELECT $sql").head().getSeq[java.math.BigDecimal](0))
    // two 2-dim subspaces; codeword (s 0, code 1) = (1, 0), (s 1, code 0) = (1, 1)
    assert(one("adc_slots(array(1D, 0D, 0D, 1D), array(1D, 0D, 1D, 1D), " +
        "array(0, 1), array(1L, 0L))").map(_.map(_.toPlainString)) ==
      Some(Seq("0.000000000", "1.000000000", "0.707106781", "0.000000000")))
    assert(one("adc_slots(array(1D, 0D), CAST(array() AS array<double>), " +
      "CAST(array() AS array<int>), CAST(array() AS array<bigint>))").isEmpty)
    assert(one("adc_slots(array(1D, 0D), array(1D, 0D), array(0), array(-1L))").isEmpty)
    assert(one("adc_slots(array(1D, 0D, 1D), array(1D, 0D), array(0), array(0L))").isEmpty)
    assert(one("adc_slots(array(1D, 0D), array(1D, 0D), array(0, 0), array(0L))").isEmpty)
  }
}
