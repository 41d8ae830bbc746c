package graft

import org.apache.spark.sql.functions._

/** Filtered vector search (the FAISS-IDSelector / payload-filter shape),
  * three layers:
  *
  *  - [[extensions.Similarity.annFilteredBrute]] — exact filtered top-k,
  *    pinned row-identical to an independently-shaped reference plan
  *    (post-filtered cross join) so the broadcast-join form can't drift;
  *  - [[extensions.Similarity.annIvfFiltered]] — the predicate pushed into
  *    the inverted lists (PRE-filter): invariants plus the guarantee that
  *    distinguishes pre- from post-filtering — filled k slots;
  *  - [[extensions.AnnIndex.query]]'s `allowed` pre-filter on the persisted
  *    index: an all-permissive allow-list is a no-op (row-identical to the
  *    unfiltered serve), a selective one admits only allowed candidates and
  *    still fills slots a post-filter would lose. */
class AnnFilteredSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("annFilteredBrute matches a post-filtered exact reference plan") {
    graft.functions.CosineSim.register(spark)
    val e = ctx.tbl("embeddings")
    // reference: unfiltered cross join, predicate applied AFTER scoring —
    // different plan shape, same semantics (top-k within the query's label)
    val q = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("cand_id"), col("label"),
      col("embedding").as("ce"))
    val ref = q.crossJoin(c)
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("qlabel"), col("cand_id"), col("label"),
        expr("cosine_sim(qe, ce)").as("cosine"))
      .filter(col("label") === col("qlabel"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rank") <= 5)
      .select("query_id", "cand_id", "label", "cosine", "rank")
    val got = extensions.Similarity.annFilteredBrute(ctx)
    assert(got.columns.toSeq == ref.columns.toSeq)
    val g = rows(got)
    assert(g.nonEmpty, "filtered brute-force result is empty")
    assert(g == rows(ref))
  }

  test("annIvfFiltered: same-label only, contiguous ranks, slots filled") {
    val got = extensions.Similarity.annIvfFiltered(ctx).cache()
    val labels = ctx.tbl("embeddings").select(col("vec_id"), col("label"))
    // every hit shares the query's label (the predicate really applied)
    val crossLabel = got
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("ql")),
        Seq("query_id"))
      .join(labels.select(col("vec_id").as("cand_id"), col("label").as("cl")),
        Seq("cand_id"))
      .filter(col("ql") =!= col("cl")).count()
    assert(crossLabel == 0, s"$crossLabel cross-label hits leaked through")
    // ranks are 1..n per query (pre-filter ranks AFTER the predicate; a
    // post-filter leaves holes)
    val badRanks = got.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1).count()
    assert(badRanks == 0, "rank sequence has holes — predicate applied after ranking?")
    assert(got.count() > 0)
    got.unpersist()
    ()
  }

  test("persisted-index allowed filter: permissive no-op, selective pre-filter") {
    val dir = "/tmp/graft-ann-filtered-spec"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir)
    val queries = ctx.tbl("embeddings")
      .filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

    val unfiltered = extensions.AnnIndex.query(spark, dir, queries)
    val allIds = ctx.tbl("embeddings").select("vec_id")
    val permissive = extensions.AnnIndex.query(spark, dir, queries,
      allowed = Some(allIds))
    assert(rows(permissive) == rows(unfiltered),
      "an all-permissive allow-list must not change the serve result")

    val evens = allIds.filter(col("vec_id") % 2 === 0)
    val filtered = extensions.AnnIndex.query(spark, dir, queries,
      allowed = Some(evens)).cache()
    val odd = filtered.filter(col("cand_id") % 2 =!= 0).count()
    assert(odd == 0, s"$odd disallowed candidates served")
    // pre-filter fills slots: every query still returns k=5 hits (the
    // even-id population in any probed cell is far above k on this
    // corpus), where post-filtering the unfiltered top-5 cannot
    val perQuery = filtered.groupBy("query_id").agg(count(lit(1)).as("n"))
    assert(perQuery.filter(col("n") =!= 5).count() == 0,
      "filtered serve must fill all k slots (pre-filter semantics)")
    val postFilterRows = unfiltered.filter(col("cand_id") % 2 === 0).count()
    assert(postFilterRows < filtered.count(),
      "post-filtering the unfiltered top-k should lose slots vs the " +
        "pre-filtered serve on a ~50%-selective predicate")
    filtered.unpersist()
    ()
  }

  test("stored attributes: map-side where matches the equivalent allow-list") {
    val dir = "/tmp/graft-ann-meta-spec"
    rm(new java.io.File(dir))
    // label rides INTO the coded table as a stored attribute
    extensions.AnnIndex.build(ctx, dir, metaCols = Seq("label"))
    val emb = ctx.tbl("embeddings")
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val target = emb.filter(col("vec_id") === 0).select("label").head().get(0)

    // the same predicate, two mechanisms: a map-side filter over the
    // stored attribute vs an allow-list computed outside the index —
    // both pre-filter the identical coded stream, so results must be
    // row-identical
    val byWhere = extensions.AnnIndex.query(spark, dir, queries,
      where = Some(col("label") === target))
    val byList = extensions.AnnIndex.query(spark, dir, queries,
      allowed = Some(emb.filter(col("label") === target).select("vec_id")))
    val w = rows(byWhere)
    assert(w.nonEmpty, "where-filtered serve is empty")
    assert(w == rows(byList),
      "stored-attribute where and the equivalent allow-list must serve " +
        "identical rows (same pre-filtered candidate stream)")
    // every hit really has the target label
    val labels = emb.select(col("vec_id").as("cand_id"), col("label"))
    assert(byWhere.join(labels, Seq("cand_id"))
      .filter(col("label") =!= target).count() == 0)

    // add() must carry stored attributes: a batch WITHOUT the column is
    // rejected; one WITH it lands and its rows serve under the predicate
    val n = emb.count()
    val batchBare = emb.orderBy("vec_id").limit(5)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
    val err = intercept[IllegalArgumentException] {
      extensions.AnnIndex.add(spark, dir, batchBare)
    }
    assert(err.getMessage.contains("stored attribute"))
    val batch = emb.orderBy("vec_id").limit(5)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"),
        lit(target).as("label"))
    extensions.AnnIndex.add(spark, dir, batch)
    // the attribute persisted through add -> encode into the new coded
    // generation (serve reachability of specific ids is probe-dependent,
    // so the deterministic pin is the stored value itself)
    val addedCoded = Versioned.read(spark, s"$dir/coded")
      .filter(col("vec_id") >= n)
    assert(addedCoded.count() == 5)
    assert(addedCoded.filter(col("label") =!= target).count() == 0,
      "stored attribute must survive add's encode into the coded table")
    // and a composite predicate over BOTH coded columns serves only
    // admissible candidates
    val after = extensions.AnnIndex.query(spark, dir, queries,
      where = Some(col("label") === target && col("vec_id") >= n))
    assert(after.filter(col("cand_id") < n).count() == 0)
  }

  test("ann_index_filtered on 1-based ids (no vec_id 0) is empty, like its twin") {
    // graft-synth numbers ids from 1: the filter label of vec_id 0 is then
    // NULL, which the DuckDB twin's scalar subquery turns into zero rows
    val dir = java.nio.file.Files.createTempDirectory("ann_one_based").toString
    val oneBased = Ctx(spark, dir)
    val index = new java.io.File(extensions.AnnIndex.pipelineDir(oneBased, "annfiltered"))
    try {
      ctx.tbl("embeddings").withColumn("vec_id", col("vec_id") + 1)
        .write.parquet(s"$dir/embeddings.parquet")
      assert(oneBased.tbl("embeddings").filter(col("vec_id") === 0).count() == 0)
      assert(extensions.AnnIndex.filteredServePipeline(oneBased).count() == 0)
    } finally { rm(new java.io.File(dir)); rm(index) }
  }

  test("registry index pipelines publish under the context's scratch root, not java.io.tmpdir") {
    // a fresh corpus dir, so no earlier run can have left its old-style
    // java.io.tmpdir index behind
    val dir = java.nio.file.Files.createTempDirectory("ann_pipeline_dirs").toString
    val corpus = Ctx(spark, dir)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val legacy = Seq(new java.io.File(s"$tmp/graft-semdedup/${md5(dir)}"),
      new java.io.File(s"$tmp/graft-annfiltered/${md5(s"$dir/filtered")}"))
    val root = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory())
      .getCanonicalPath
    val indexes = Seq("semdedup", "annfiltered")
      .map(k => new java.io.File(extensions.AnnIndex.pipelineDir(corpus, k)))
    try {
      ctx.tbl("embeddings").write.parquet(s"$dir/embeddings.parquet")
      assert(extensions.AnnIndex.semanticDedupPipeline(corpus).count() > 0)
      assert(extensions.AnnIndex.filteredServePipeline(corpus).count() > 0)
      indexes.foreach { d =>
        assert(d.getCanonicalPath.startsWith(root + "/"), s"$d is not under $root")
        assert(new java.io.File(d, "meta/_log").isDirectory, s"no index published at $d")
      }
      assert(legacy.forall(!_.exists()), s"an index landed in $tmp")
    } finally { rm(new java.io.File(dir)); indexes.foreach(rm) }
  }
}
