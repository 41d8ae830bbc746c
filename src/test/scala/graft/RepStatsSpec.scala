package graft

import graft.functions.TextGrams
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The native ngram_rep_stats kernel: equal, count for count, to the
  * composed explode -> groupBy(doc_id, g) -> groupBy(doc_id) form that
  * text_repetition ran before (kept here as the reference), through real
  * DataFrames (codegen path), on the sf0.001 documents, a Zipf-vocabulary
  * synth corpus and crafted edge cases. */
class RepStatsSpec extends SparkSpec {
  import Macros._

  private val counts = Seq("n_tokens", "n_unique_tokens", "top_tok_tf",
    "n_bigrams", "top_bigram_tf", "n_trigrams", "dup_trigram_occ")

  /** The reference: per n-gram order, count per (doc, gram), then roll up
    * per doc, and left-join the orders onto the token stats — the plan
    * text_repetition ran before the kernel. Documents without a token have
    * no row; an order a document is too short for has NULL counts. */
  private def composedJoined(docs: DataFrame): DataFrame = {
    def stats(gram: Column, n: String, extra: Seq[Column]) =
      docs.select(col("doc_id"), explode(gram).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id").agg(sum("tf").as(n), extra: _*)
    val tok = stats(col("toks"), "n_tokens", Seq(
      count(lit(1)).as("n_unique_tokens"), max("tf").as("top_tok_tf")))
    val bi = stats(expr("ngrams(toks, 2, 1)"), "n_bigrams",
      Seq(max("tf").as("top_bigram_tf")))
    val tri = stats(expr("ngrams(toks, 3, 1)"), "n_trigrams", Seq(
      sum(when(col("tf") > 1, col("tf")).otherwise(lit(0L))).as("dup_trigram_occ")))
    tok.join(bi, Seq("doc_id"), "left").join(tri, Seq("doc_id"), "left")
  }

  /** The reference counts, with the kernel's 0 for a missing order. */
  private def composed(docs: DataFrame): DataFrame =
    composedJoined(docs)
      .select(col("doc_id") +: counts.map(c => coalesce(col(c), lit(0L)).as(c)): _*)

  private def kernel(docs: DataFrame): DataFrame =
    docs.where(size(col("toks")) > 0)
      .select(col("doc_id"), expr("ngram_rep_stats(toks)").as("s"))
      .select(col("doc_id") +: counts.map(c => col("s." + c).as(c)): _*)

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

  private def crafted: DataFrame = {
    import spark.implicits._
    Seq(
      "", "   ", "\t\n \r",                       // no tokens: no row
      "one", "one two", "one two three",          // 1-, 2-, 3-token docs
      "x x x x x x x",                            // all-identical tokens
      "a b a b c c",                              // top-tf tie (a, b, c)
      "a b c a b d a b c",                        // repeated bigram + trigram
      "é ü 漢 é ü 漢 Straße STRASSE straße",       // non-ASCII, case folding
      "tab\tsep\nnew line\ttab\tsep",             // tab and newline separators
      "ab c a bc ab c",                           // same bytes, other split
      "🙂 🙂 🙂🙂 🙂"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("ngram_rep_stats equals the composed form on crafted edge cases") {
    val rows = assertSame(tokenized(crafted), "crafted")
    assert(rows == crafted.count() - 3) // the three token-less texts drop
  }

  test("ngram_rep_stats equals the composed form on the sf0.001 documents") {
    val docs = tokenized(ctx.tbl("documents"))
    assert(assertSame(docs, "sf0.001") > 0)
  }

  test("ngram_rep_stats equals the composed form on a Zipf synth corpus") {
    val docs = tokenized(Ctx(spark, "synth:sf=0.01,docs=zipf").tbl("documents"))
    assert(assertSame(docs, "documents_zipf") == 500)
  }

  test("known values: ties, repeats, short documents; null array -> null") {
    TextGrams.register(spark)
    val byDoc = kernel(tokenized(crafted)).collect()
      .map(r => r.getLong(0) -> (1 to 7).map(r.getLong)).toMap
    assert(byDoc(3L) == Seq(1, 1, 1, 0, 0, 0, 0))
    assert(byDoc(4L) == Seq(2, 2, 1, 1, 1, 0, 0))
    assert(byDoc(5L) == Seq(3, 3, 1, 2, 1, 1, 0))
    assert(byDoc(6L) == Seq(7, 1, 7, 6, 6, 5, 5))
    assert(byDoc(7L) == Seq(6, 3, 2, 5, 2, 4, 0))
    // a b c a b d a b c: "a b" x3; "a b c" x2 -> 2 repeated occurrences
    assert(byDoc(8L) == Seq(9, 4, 3, 8, 3, 7, 2))
    val r = spark.sql(
      "SELECT ngram_rep_stats(CAST(NULL AS ARRAY<STRING>)) IS NULL").collect()
    assert(r(0).getBoolean(0))
  }

  test("text_repetition equals its composed form, column for column") {
    // the whole query, not only the counts: schema, NULL shares of short
    // documents and doubles by their exact bits
    TextGrams.register(spark)
    Seq(ctx, Ctx(spark, "synth:sf=0.01,docs=zipf"), craftedCtx).foreach(sameQuery)
  }

  /** The crafted texts plus every whitespace-only shape (the \s class,
    * NULL) and Unicode spaces outside it, as a documents table: pins the
    * query's has-a-token filter against size(toks) > 0. */
  private lazy val craftedCtx: Ctx = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_repstats").toString
    val extra = Seq(
      Some("\u000B\f"), Some(" \u000B x \f"), Some("\u00A0"), Some("a\u2003b"),
      Some("\r\n"), None).zipWithIndex
      .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
    crafted.union(extra).write.parquet(s"$dir/documents.parquet")
    Ctx(spark, dir)
  }

  private def sameQuery(ctx: Ctx): Unit = {
    val ref = composedJoined(extensions.Text.docsTok(ctx)).select(
      col("doc_id"), col("n_tokens"), col("n_unique_tokens"),
      dv(col("n_unique_tokens"), nullifZero(col("n_tokens"))).as("unique_token_ratio"),
      dv(col("top_tok_tf"), nullifZero(col("n_tokens"))).as("top_token_share"),
      dv(col("top_bigram_tf"), nullifZero(col("n_bigrams"))).as("top_bigram_share"),
      dv(coalesce(col("dup_trigram_occ"), lit(0L)),
        nullifZero(col("n_trigrams"))).as("dup_trigram_frac"),
      (dv(col("top_bigram_tf"), nullifZero(col("n_bigrams"))) > 0.1 ||
        dv(coalesce(col("dup_trigram_occ"), lit(0L)),
          nullifZero(col("n_trigrams"))) > 0.5).as("is_repetitive"))
    val got = extensions.Text.repetition(ctx)
    assert(got.schema.map(f => f.name -> f.dataType) ==
      ref.schema.map(f => f.name -> f.dataType))
    def bits(df: DataFrame) = df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.head.asInstanceOf[Long]).toSeq
    val (g, r) = (bits(got), bits(ref))
    assert(g.nonEmpty && g == r, ctx.dir)
    // documents too short for bigrams / trigrams keep NULL shares
    assert(g.forall(row => (row(1) == 1L) == (row(5) == null)))
  }
}
