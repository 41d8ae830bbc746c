package graft

import graft.Macros.dv
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** The ANN queries, composed from [[extensions.AnnIndex]]'s IVF/PQ stages,
  * give what the hand-composed bodies gave: every output equals, by digest,
  * the outputs recorded from those bodies, on three corpora:
  *
  *  - the sf0.001 embeddings (ids dense from 0);
  *  - a 1,000-vector `graft-synth` corpus (ids dense from 1, so the
  *    `vec_id < 8` / `< 16` quantizers hold 7 seeds and 15 codewords);
  *  - the sf0.001 embeddings with the eight seed vectors collapsed onto
  *    three (seeds 0-2, 3-5 and 6-7 identical), so cell assignment, probe
  *    selection and candidate ranking all meet exact score ties and the
  *    min-id tie-breaks decide the output.
  *
  * The composed `annIvf`, `annIvfPq` and `annPqRecall` bodies are kept
  * here as references and compared row for row. */
class AnnParitySpec extends SparkSpec {

  private def cosine(a: String, b: String): Column = expr(s"cosine_sim($a, $b)")

  // ---- the composed bodies (crossJoin + row_number cell assignment) ------

  private def refIvf(ctx: Ctx, k: Int = 3, nprobe: Int = 2): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("se"))
    val assigned = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        cosine("embedding", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    val queries = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = queries.crossJoin(broadcast(seeds))
      .select(col("query_id"), col("qe"), col("cell_id"),
        cosine("qe", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cell_id"))
    probes.join(assigned.select(col("cell_id"), col("vec_id").as("cand_id"),
        col("embedding").as("ce")), Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        cosine("qe", "ce").as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= k)
  }

  private def refPqRecall(ctx: Ctx, k: Int = 5): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val sub = e.select(col("vec_id"), col("label"),
        explode(expr("sequence(0, 7)")).as("s"), col("embedding"))
      .select(col("vec_id"), col("s"),
        expr("slice(embedding, s * 8 + 1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").as("cell"), col("sv").as("cv"))
    val codes = sub.join(broadcast(cb), Seq("s"))
      .select(col("vec_id"), col("s"), col("cell"),
        expr("cosine_sim(sv, cv)").as("subcos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "s").orderBy(col("subcos").desc, col("cell"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("cell"))
    val queries = sub.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("s"), col("sv").as("qv"))
    val qd = queries.join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("cell"),
        round(expr("cosine_sim(qv, cv)"), 9).cast("decimal(12,9)").as("qdec"))
    val codesPacked = codes
      .groupBy(col("vec_id").as("cand_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, cell))), x -> x.cell)")
        .as("codes"))
    val qarr = qd
      .groupBy(col("query_id"), col("s"))
      .agg(map_from_entries(collect_list(
        struct(col("cell").cast("int").as("k"), col("qdec").as("v")))).as("m"))
      .select(col("query_id"), col("s"),
        expr("""transform(sequence(0, 15),
           c -> coalesce(element_at(m, c), CAST(0 AS DECIMAL(12,9))))""").as("sarr"))
      .groupBy("query_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(s, sarr))), x -> x.sarr))")
        .as("qarr"))
    val adcSum = (0 until 8)
      .map(s => s"element_at(qarr, CAST($s * 16 + " +
        s"element_at(codes, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    val adc = codesPacked.crossJoin(broadcast(qarr))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        expr(s"CAST($adcSum AS DECIMAL(22,9))").as("approx"))
    val pqTop = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx").desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"))
    val qe = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("fq"))
    val exactTop = qe.join(e.select(col("vec_id").as("cand_id"),
        col("embedding").as("fc")), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        expr("cosine_sim(fq, fc)").as("cosine"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"))
    val pqT = pqTop.select(col("query_id").as("pq_qid"), col("cand_id").as("pq_cand"))
    exactTop.join(pqT,
        col("query_id") === col("pq_qid") && col("cand_id") === col("pq_cand"),
        "left_outer")
      .groupBy("query_id")
      .agg(count(col("cand_id")).as("n_exact"),
        count(col("pq_cand")).as("n_overlap"))
      .select(col("query_id"), col("n_exact"), col("n_overlap"),
        dv(col("n_overlap"), col("n_exact")).as("recall_at_k"))
      .orderBy("query_id")
  }

  private def refIvfPq(ctx: Ctx, k: Int = 5, nprobe: Int = 2,
      shortlist: Int = 20): DataFrame = {
    graft.functions.CosineSim.register(ctx.spark)
    val e = ctx.tbl("embeddings")
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("se"))
    val assigned = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cell_id"), cosine("embedding", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") === 1)
      .select("vec_id", "cell_id")
    val queries = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = queries.crossJoin(broadcast(seeds))
      .select(col("query_id"), col("cell_id"), cosine("qe", "se").as("seed_cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("seed_cos").desc, col("cell_id"))))
      .filter(col("rn") <= nprobe)
      .select("query_id", "cell_id")
    val sub = e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("s"),
        col("embedding"))
      .select(col("vec_id"), col("s"), expr("slice(embedding, s * 8 + 1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").as("code"), col("sv").as("cv"))
      .withColumn("code", row_number().over(
        Window.partitionBy("s").orderBy("code")) - 1)
    val codesPacked = sub.join(broadcast(cb), Seq("s"))
      .select(col("vec_id"), col("s"), col("code"),
        expr("cosine_sim(sv, cv)").as("subcos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "s").orderBy(col("subcos").desc, col("code"))))
      .filter(col("rn") === 1)
      .groupBy(col("vec_id").as("cand_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), x -> x.code)")
        .as("codes"))
    val qarr = queries
      .select(col("query_id"), explode(expr("sequence(0, 7)")).as("s"), col("qe"))
      .select(col("query_id"), col("s"), expr("slice(qe, s * 8 + 1, 8)").as("qv"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        round(expr("cosine_sim(qv, cv)"), 9).cast("decimal(12,9)").as("qdec"))
      .select(col("query_id"), col("s"),
        explode(expr("sequence(0, 15)")).as("slot"), col("code"), col("qdec"))
      .select(col("query_id"), col("s"), col("slot"),
        when(col("slot") === col("code"), col("qdec"))
          .otherwise(lit(0).cast("decimal(12,9)")).as("qdec"))
      .groupBy("query_id", "s", "slot")
      .agg(sum(col("qdec")).cast("decimal(12,9)").as("qdec"))
      .groupBy("query_id")
      .agg(expr("transform(array_sort(collect_list(struct(s, slot, qdec))), x -> x.qdec)")
        .as("qarr"))
    val cands = probes
      .join(assigned.select(col("cell_id"), col("vec_id").as("cand_id")), Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
    val adcSum = (0 until 8)
      .map(s => s"element_at(qarr, CAST($s * 16 + " +
        s"element_at(codes, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    val adc = cands
      .join(codesPacked, Seq("cand_id"))
      .join(broadcast(qarr), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        expr(s"CAST($adcSum AS DECIMAL(22,9))").as("approx"))
    val short = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx").desc, col("cand_id"))))
      .filter(col("rn") <= shortlist)
      .select("query_id", "cand_id", "cell_id", "approx")
    short.join(queries, Seq("query_id"))
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("ce")),
        Seq("cand_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        col("approx").cast("double").as("approx"), cosine("qe", "ce").as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= k)
  }

  // ---- corpora and digests -------------------------------------------------

  private lazy val synth = Ctx(spark, "synth:sf=0.05")

  /** sf0.001 with seeds 1, 2 copies of 0, seeds 4, 5 of 3 and seed 7 of 6. */
  private lazy val ties: Ctx = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_ties").toString
    val e = ctx.tbl("embeddings")
    val src = when(col("vec_id").isin(1, 2), 0L)
      .when(col("vec_id").isin(4, 5), 3L)
      .when(col("vec_id") === 7, 6L)
      .otherwise(col("vec_id"))
    e.withColumn("src", src).drop("embedding").as("t")
      .join(e.select(col("vec_id").as("src"), col("embedding")), Seq("src"))
      .select(e.columns.map(col): _*)
      .write.parquet(s"$dir/embeddings.parquet")
    Ctx(spark, dir)
  }

  private def corpora = Seq("sf0.001" -> ctx, "synth" -> synth, "ties" -> ties)

  private val Queries = Seq("ann_brute_force", "ann_filtered_brute", "ann_ivf",
    "ann_ivf_filtered", "ann_quantized_recall", "ann_pq_recall", "ann_ivf_pq",
    "ann_index_filtered", "dedup_semantic")

  /** Row count and bit_xor(xxhash64(*)), doubles rounded to 6 places. */
  private def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast("double"), 6))
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("__h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(__h), 0L)")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Recorded from the hand-composed bodies. */
  private val composedDigests: Map[String, (Long, Long)] = Map(
    "sf0.001/ann_brute_force" -> (50L, -4263715565213795719L),
    "sf0.001/ann_filtered_brute" -> (50L, -1519961887488623021L),
    "sf0.001/ann_ivf" -> (30L, 7995715912870484724L),
    "sf0.001/ann_ivf_filtered" -> (30L, -2890550309160158247L),
    "sf0.001/ann_quantized_recall" -> (10L, -3938900727622892404L),
    "sf0.001/ann_pq_recall" -> (10L, -3244624734766707034L),
    "sf0.001/ann_ivf_pq" -> (50L, -1592096319247951469L),
    "sf0.001/ann_index_filtered" -> (50L, -3768808815414888455L),
    "sf0.001/dedup_semantic" -> (500L, -7169734445775996763L),
    "synth/ann_brute_force" -> (45L, -8725353607967934996L),
    "synth/ann_filtered_brute" -> (50L, 544699718941741261L),
    "synth/ann_ivf" -> (30L, 766225647369319557L),
    "synth/ann_ivf_filtered" -> (30L, 766225647369319557L),
    "synth/ann_quantized_recall" -> (9L, -8550627922249051529L),
    "synth/ann_pq_recall" -> (10L, 3750436886483766629L),
    "synth/ann_ivf_pq" -> (50L, -994602354302602931L),
    "synth/ann_index_filtered" -> (0L, 0L),
    "synth/dedup_semantic" -> (1000L, -2331119077769816411L),
    "ties/ann_brute_force" -> (50L, -338547512040497029L),
    "ties/ann_filtered_brute" -> (50L, -1380604379096004023L),
    "ties/ann_ivf" -> (30L, -1229693098396661313L),
    "ties/ann_ivf_filtered" -> (30L, -7069829792939486907L),
    "ties/ann_quantized_recall" -> (10L, 7262918668738226715L),
    "ties/ann_pq_recall" -> (10L, -53146494973606886L),
    "ties/ann_ivf_pq" -> (50L, 8377338316527112610L),
    "ties/ann_index_filtered" -> (50L, 3494740198306291871L),
    "ties/dedup_semantic" -> (500L, -531017051753141611L))

  test("every ANN output is digest-identical to the composed bodies on three corpora") {
    val got = for ((name, c) <- corpora; q <- Queries)
      yield s"$name/$q" -> digest(Registry.all(q).fn(c))
    val off = got.filterNot { case (k, d) => composedDigests.get(k).contains(d) }
    assert(off.isEmpty, "digests differ from the composed bodies':\n" +
      off.map { case (k, (n, x)) => s""""$k" -> (${n}L, ${x}L),""" }.mkString("\n"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def sameRows(got: DataFrame, ref: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      ref.schema.map(f => f.name -> f.dataType), s"$what schema")
    val (g, r) = (rows(got), rows(ref))
    assert(g.nonEmpty, s"$what is empty")
    assert(g == r, s"$what: first delta ${
      g.zipAll(r, "<missing>", "<missing>").find(p => p._1 != p._2)}")
  }

  test("annIvf, annPqRecall and annIvfPq equal the composed bodies row for row") {
    corpora.foreach { case (name, c) =>
      sameRows(extensions.Similarity.annIvf(c), refIvf(c), s"$name annIvf")
      sameRows(extensions.Similarity.annIvf(c, k = 7, nprobe = 3),
        refIvf(c, k = 7, nprobe = 3), s"$name annIvf k=7 nprobe=3")
      sameRows(extensions.Similarity.annPqRecall(c), refPqRecall(c),
        s"$name annPqRecall")
      sameRows(extensions.Similarity.annIvfPq(c), refIvfPq(c), s"$name annIvfPq")
      sameRows(extensions.Similarity.annIvfPq(c, k = 3, nprobe = 1, shortlist = 6),
        refIvfPq(c, k = 3, nprobe = 1, shortlist = 6),
        s"$name annIvfPq k=3 nprobe=1 shortlist=6")
    }
  }
}
