package graft

import graft.functions.TextGrams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native simhash64 kernel: equal, bit for bit, to the composed
  * explode -> groupBy(doc_id, md5(tok)) -> 64-vote form that the simhash
  * queries ran before (kept here as the reference), rendered to the
  * 64-character string, through real DataFrames (codegen path), on the
  * sf0.001 documents, a Zipf-vocabulary synth corpus and crafted edge
  * cases; and the three simhash queries against the outputs of the
  * composed form. */
class SimhashSpec extends SparkSpec {

  /** The reference: per (doc, token digest) counts, 64 count-weighted
    * votes per doc from the digest's hex digits, '1' where a vote sum is
    * >= 0. Documents without a token have no row. */
  private def composed(docs: DataFrame): DataFrame = {
    val tokCnt = docs
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), md5(col("tok")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val digits = tokCnt.select(
      col("doc_id") +: col("cnt") +:
        (0 until 16).map(i => conv(substring(col("h"), i + 1, 1), 16, 10)
          .cast("int").as(s"d$i")): _*)
    val votes = (0 until 64).map { j =>
      sum(when(col(s"d${j / 4}").bitwiseAND(lit(1 << (j % 4))) > 0, col("cnt"))
        .otherwise(-col("cnt"))).as(s"v$j")
    }
    digits.groupBy("doc_id").agg(votes.head, votes.tail: _*).select(
      col("doc_id"),
      concat((0 until 64).map(j =>
        when(col(s"v$j") >= 0, "1").otherwise("0")): _*).as("simhash"))
  }

  private def kernel(docs: DataFrame): DataFrame =
    docs.where(size(col("toks")) > 0).select(col("doc_id"),
      lpad(bin(expr("simhash64(toks)")), 64, "0").as("simhash"))

  private def tokenized(texts: DataFrame): DataFrame = {
    TextGrams.register(spark)
    texts.select(col("doc_id"), expr("ws_tokens(text)").as("toks"))
  }

  private def assertSame(docs: DataFrame, what: String): Long = {
    TextGrams.register(spark)
    val a = kernel(docs).cache()
    val b = composed(docs).cache()
    try {
      val onlyKernel = a.exceptAll(b).collect()
      val onlyComposed = b.exceptAll(a).collect()
      assert(onlyKernel.isEmpty && onlyComposed.isEmpty,
        s"$what: kernel-only ${onlyKernel.take(5).mkString(" ")}; " +
          s"composed-only ${onlyComposed.take(5).mkString(" ")}")
      a.count()
    } finally { a.unpersist(); b.unpersist() }
  }

  private val craftedTexts: Seq[Option[String]] = Seq(
    Some(""), Some("   "), Some("\t\n \r"), None,  // no tokens: no row
    Some("one"), Some("x x x x x x x"),            // all-identical tokens
    Some("a b"),                                   // zero sums: a, b disagree
    Some("b a"), Some("a b a b c c"),
    Some("é ü 漢 é ü 漢 Straße STRASSE straße"),    // non-ASCII, case folding
    Some("🙂 🙂 🙂🙂 🙂"),
    Some("tab\tsep\nnew line\ttab\tsep"))

  private def crafted: DataFrame = {
    import spark.implicits._
    craftedTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("simhash64 equals the composed form on crafted edge cases") {
    val rows = assertSame(tokenized(crafted), "crafted")
    assert(rows == craftedTexts.size - 4) // the four token-less texts drop
    // a null element is one more token, whose NULL digest votes against
    // every bit (not a shape ws_tokens produces)
    val withNull = spark.sql(
      "SELECT 0L AS doc_id, array('a', NULL, NULL, 'b') AS toks")
    assert(assertSame(withNull, "null element") == 1)
  }

  test("simhash64 equals the composed form on the sf0.001 documents") {
    assert(assertSame(tokenized(ctx.tbl("documents")), "sf0.001") == 500)
  }

  test("simhash64 equals the composed form on a Zipf synth corpus") {
    val docs = tokenized(Ctx(spark, "synth:sf=0.01,docs=zipf").tbl("documents"))
    assert(assertSame(docs, "documents_zipf") == 500)
  }

  test("known values: one token's bits, zero vote sums set a bit, null -> null") {
    TextGrams.register(spark)
    def sig(toks: String): Long = spark.sql(
      s"SELECT simhash64(CAST(array($toks) AS ARRAY<STRING>))").head().getLong(0)
    // one token: character j is bit (j % 4) of md5 hex digit (j / 4)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("a".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val expected = (0 until 64).map { j =>
      if ((Integer.parseInt(hex.substring(j / 4, j / 4 + 1), 16) >> (j % 4) & 1) == 1) '1'
      else '0'
    }.mkString
    assert(f"${java.lang.Long.toBinaryString(sig("'a'"))}%64s".replace(' ', '0') == expected)
    // two tokens of one occurrence each: a bit they disagree on sums to 0,
    // and >= 0 sets it, so the signature is the OR of theirs
    val (a, b) = (sig("'a'"), sig("'b'"))
    assert(sig("'a', 'b'") == (a | b) && (a ^ b) != 0L)
    assert(sig("'a', 'a', 'b'") == a) // a's count outvotes b everywhere
    assert(sig("'x', 'x', 'x'") == sig("'x'"))
    assert(sig("") == -1L) // empty array: every sum is 0 (callers drop it)
    val r = spark.sql("SELECT simhash64(CAST(NULL AS ARRAY<STRING>)) IS NULL").head()
    assert(r.getBoolean(0))
  }

  /** The three queries' outputs on the composed signatures: equal-string
    * buckets, all pairs within `maxDist` by a brute-force character
    * comparison, and per distance the pair and document counts. */
  private def reference(c: Ctx, maxDist: Int): (DataFrame, DataFrame, DataFrame) = {
    val sim = composed(extensions.Text.docsTok(c))
    val dedup = sim.join(sim.groupBy("simhash").agg(
        count(lit(1)).as("bucket_size"), min("doc_id").as("bucket_keep_doc_id")),
      Seq("simhash"))
      .select("doc_id", "simhash", "bucket_size", "bucket_keep_doc_id")
    val near = sim.select(col("doc_id").as("doc_a"), col("simhash").as("simhash_a"))
      .crossJoin(sim.select(col("doc_id").as("doc_b"), col("simhash").as("simhash_b")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("size(filter(sequence(1, 64), " +
        "i -> substr(simhash_a, i, 1) != substr(simhash_b, i, 1)))"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "simhash_a", "simhash_b", "hamming")
    val stats = near
      .select(col("hamming"), explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("hamming")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct("doc_id").as("n_docs"))
    (dedup, near, stats)
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    .sortBy(_.mkString("|"))

  private def sameRows(got: DataFrame, ref: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      ref.schema.map(f => f.name -> f.dataType), what)
    assert(rows(got) == rows(ref), what)
  }

  /** Row count and bit_xor(xxhash64(*)) of an output. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(*))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Each query's digest from the composed form's code, on the sf0.001
    * documents and the Zipf corpus (whose 500 signatures hold no pair within
    * distance 2). */
  private val composedDigests = Map(
    "sf0.001/dedup_simhash" -> (500L, -6865356697480199079L),
    "sf0.001/near2" -> (15L, -4889232002828418679L),
    "sf0.001/near1" -> (10L, -7277264565923113856L),
    "sf0.001/stats" -> (3L, -462184554959349011L),
    "zipf/dedup_simhash" -> (500L, -6634946614096609156L),
    "zipf/near2" -> (0L, 0L), "zipf/near1" -> (0L, 0L), "zipf/stats" -> (0L, 0L))

  test("dedup_simhash, _near on both cost paths and _stats equal the composed form") {
    val craftedCtx = {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_simhash").toString
      // duplicates of crafted texts: distance-0 pairs and shared buckets
      val texts = craftedTexts ++ craftedTexts.drop(4).take(3)
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      Ctx(spark, dir)
    }
    val key = "spark.graft.simhash.maxChunkPairs"
    Seq("sf0.001" -> ctx, "zipf" -> Ctx(spark, "synth:sf=0.01,docs=zipf"),
        "crafted" -> craftedCtx).foreach { case (name, c) =>
      val (refDedup, refNear2, refStats) = reference(c, 2)
      val refNear1 = reference(c, 1)._2
      val dedup = extensions.Text.dedupSimhash(c)
      sameRows(dedup, refDedup, s"$name dedup_simhash")
      val got = Map("dedup_simhash" -> digest(dedup))
      // the chunk join (the cost probe's mass never exceeds Long.MaxValue)
      // and the flip expansion (it always exceeds 0) must both be exact
      Seq(Long.MaxValue.toString, "0").foreach { bound =>
        spark.conf.set(key, bound)
        try {
          val near2 = extensions.Text.dedupSimhashNear(c)
          val near1 = extensions.Text.dedupSimhashNear(c, maxDist = 1)
          val stats = extensions.Text.dedupSimhashStats(c)
          sameRows(near2, refNear2, s"$name near maxDist=2 bound=$bound")
          sameRows(near1, refNear1, s"$name near maxDist=1 bound=$bound")
          sameRows(stats, refStats, s"$name stats bound=$bound")
          val digests = got ++ Map("near2" -> digest(near2),
            "near1" -> digest(near1), "stats" -> digest(stats))
          digests.foreach { case (q, d) =>
            composedDigests.get(s"$name/$q").foreach(want =>
              assert(d == want, s"$name/$q bound=$bound"))
          }
        } finally spark.conf.unset(key)
      }
      if (name == "sf0.001") assert(rows(refNear2).map(_(4)).distinct.size == 3,
        "sf0.001 has pairs at distance 0, 1 and 2")
    }
  }
}
