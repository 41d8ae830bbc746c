package graft

import org.apache.spark.sql.functions._

/** The persisted IVFADC index (extensions.AnnIndex) must serve results
  * row-identical to the unpersisted composition (Similarity.annIvfPq) —
  * the build-once/query-many production shape cannot change answers, and
  * r11's packed-ADC serving fold must stay bit-identical to the
  * row-per-subspace sum it replaced. Also pins the index lifecycle: a
  * rebuild publishes new Versioned snapshots while the prior version stays
  * readable (time travel), and the meta-manifest makes the five-table
  * publish atomic — a reader can never observe a mixed generation. */
class AnnIndexSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  private def queriesDf = ctx.tbl("embeddings")
    .filter(col("vec_id") >= 10 && col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  test("persisted-index query is row-identical to annIvfPq") {
    val dir = "/tmp/graft-ann-index-spec"
    rm(new java.io.File(dir))
    val versions = extensions.AnnIndex.build(ctx, dir)
    assert(versions.keySet == Set("seeds", "codebooks", "coded", "vectors", "meta"))

    val served = extensions.AnnIndex.query(spark, dir, queriesDf)
    val direct = extensions.Similarity.annIvfPq(ctx)

    assert(served.columns.toSeq == direct.columns.toSeq,
      s"schema drift: ${served.columns.toSeq} vs ${direct.columns.toSeq}")
    val s = served.collect().map(_.toString).sorted.toSeq
    val d = direct.collect().map(_.toString).sorted.toSeq
    assert(s.nonEmpty, "served result is empty")
    assert(s == d, s"served != direct; first delta: ${
      s.zipAll(d, "<missing>", "<missing>").find(p => p._1 != p._2)}")
  }

  test("query and lastIngestBatch construct with no Spark job") {
    import spark.implicits._
    val dir = "/tmp/graft-ann-index-jobs"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir)
    // a pinned tombstone set too: versions, tombstones and ledger all come
    // from the meta version's manifest
    extensions.AnnIndex.remove(spark, dir, Seq(42L).toDF("vec_id"))
    assert(Versioned.readManifest(spark, s"$dir/meta").props.get("tombstones_v")
      .exists(_.toLong >= 0))
    val q = queriesDf
    val n = org.apache.spark.JobCounter.during(spark.sparkContext) {
      extensions.AnnIndex.query(spark, dir, q)
      extensions.AnnIndex.lastIngestBatch(spark, dir)
      ()
    }
    assert(n == org.apache.spark.JobCounter.Count(jobs = 0, executions = 0),
      s"query construction ran $n")
  }

  test("an index whose meta manifests predate the generation fields serves identically") {
    import spark.implicits._
    val dir = "/tmp/graft-ann-index-oldmeta"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir)
    extensions.AnnIndex.remove(spark, dir, Seq(42L).toDF("vec_id"))
    val before = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    // the same meta row, committed as a writer before the fields did it:
    // a manifest without props, so the generation comes from the row
    Versioned.write(Versioned.read(spark, s"$dir/meta"), s"$dir/meta")
    assert(Versioned.readManifest(spark, s"$dir/meta").props.isEmpty)
    var served: org.apache.spark.sql.DataFrame = null
    val n = org.apache.spark.JobCounter.during(spark.sparkContext) {
      served = extensions.AnnIndex.query(spark, dir, queriesDf)
    }
    assert(n.jobs > 0, "the fallback reads the meta row")
    assert(served.collect().map(_.toString).sorted.toSeq == before)
    assert(extensions.AnnIndex.lastIngestBatch(spark, dir) == -1L)
  }

  test("the filtered serve shuffles once, and aggregates only its quantizer packs") {
    import org.apache.spark.sql.execution.CoalesceExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = "/tmp/graft-ann-index-filtered-plan"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir, metaCols = Seq("label"))
    val target = ctx.tbl("embeddings").filter(col("vec_id") === 0)
      .select("label").head().get(0)
    def served = extensions.AnnIndex.query(spark, dir, queriesDf,
      where = Some(col("label") === target))
    val stages = org.apache.spark.JobCounter.shuffleStages(spark.sparkContext) {
      served.collect(); ()
    }
    assert(stages == 1, s"the filtered serve ran $stages shuffle stages")
    val (rows, plans) = Plans.executed(spark)(served.collect())
    assert(rows.nonEmpty && plans.size == 1)
    val nodes = Plans.nodes(plans.head)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      plans.head.treeString)
    // the probe's ranking is the one shuffle; no aggregate is keyed per
    // query: the only ones pack the codebook and run in one partition
    val aggs = nodes.collect { case a: ObjectHashAggregateExec => a }
    assert(aggs.forall(a => a.groupingExpressions.isEmpty &&
      Plans.nodes(a).exists(_.isInstanceOf[CoalesceExec])), plans.head.treeString)
  }

  test("rebuild publishes a new snapshot; the old index stays readable") {
    val dir = "/tmp/graft-ann-index-spec" // built by the test above
    val v0 = Versioned.latestVersion(spark, s"$dir/coded").get
    val v1 = extensions.AnnIndex.build(ctx, dir)("coded")
    assert(v1 == v0 + 1)
    // time travel: the superseded snapshot still serves the same rows
    val oldCoded = Versioned.read(spark, s"$dir/coded", Some(v0))
    val newCoded = Versioned.read(spark, s"$dir/coded", Some(v1))
    assert(oldCoded.count() == newCoded.count())
  }

  test("meta-manifest pins one generation: a mid-rebuild commit is invisible") {
    val dir = "/tmp/graft-ann-index-atomic"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir)
    val before = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq

    // simulate a rebuild in flight: some data tables have committed new
    // snapshots, but the meta row has not landed. Here the seeds tip moves
    // to a DIFFERENT quantizer (one cell), which unpinned reads would see.
    val junkSeeds = ctx.tbl("embeddings").filter(col("vec_id") === 1)
      .select(col("vec_id").as("cell_id"), col("embedding").as("se"))
    Versioned.write(junkSeeds, s"$dir/seeds")
    assert(Versioned.read(spark, s"$dir/seeds").count() == 1,
      "test setup: the seeds tip should have moved to the junk snapshot")

    // a serving call still reads the pinned generation — not the new tip
    val during = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    assert(during == before,
      "mixed-generation read: query() consumed a table tip that has no meta row")

    // completing the rebuild (meta row lands) switches generations
    // atomically; same corpus -> same answers
    extensions.AnnIndex.build(ctx, dir)
    val after = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
  }

  test("incremental add is bit-identical to a full rebuild") {
    val dirInc = "/tmp/graft-ann-index-add"
    val dirFull = "/tmp/graft-ann-index-add-full"
    Seq(dirInc, dirFull).foreach(d => rm(new java.io.File(d)))
    val e = ctx.tbl("embeddings")
    val n = e.count()
    // corpus split: the quantizers are the low vec_ids ({1..7}/{1..15}),
    // all inside the first half, so build(half) derives the SAME
    // generation a full build would — the precondition add() documents
    val halfDir = java.nio.file.Files.createTempDirectory("graft_ann_half").toString
    e.filter(col("vec_id") <= n / 2)
      .write.mode("overwrite").parquet(s"$halfDir/embeddings.parquet")
    extensions.AnnIndex.build(Ctx(spark, halfDir), dirInc)
    val pinnedSeedsBefore = Versioned.latestVersion(spark, s"$dirInc/seeds").get

    val batch = e.filter(col("vec_id") > n / 2)
      .select(col("vec_id"), col("embedding"))
    extensions.AnnIndex.add(spark, dirInc, batch)

    // the add reused the generation's quantizers: seeds tip did not move
    assert(Versioned.latestVersion(spark, s"$dirInc/seeds").get
      == pinnedSeedsBefore, "add must not republish quantizer tables")

    extensions.AnnIndex.build(ctx, dirFull)
    val inc = extensions.AnnIndex.query(spark, dirInc, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    val full = extensions.AnnIndex.query(spark, dirFull, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    assert(inc.nonEmpty && inc == full,
      s"incremental index diverged from the full rebuild; first delta: ${
        inc.zipAll(full, "<missing>", "<missing>").find(p => p._1 != p._2)}")

    // a colliding batch is rejected, and the failed add left no new
    // generation behind (meta pins the pre-attempt coded version)
    val metaBefore = Versioned.latestVersion(spark, s"$dirInc/meta").get
    intercept[IllegalArgumentException] {
      extensions.AnnIndex.add(spark, dirInc, batch)
    }
    assert(Versioned.latestVersion(spark, s"$dirInc/meta").get == metaBefore)
  }

  test("a retried add after a crash is exactly-once, not a duplicate") {
    val dir = "/tmp/graft-ann-index-retry"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir)
    val n = ctx.tbl("embeddings").count()
    val batch = ctx.tbl("embeddings")
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
      .limit(50)

    // simulate the crash window: a previous add appended its batch to the
    // coded/vectors TIPS but died before the meta generation commit — the
    // orphan snapshots exist, unpinned
    graft.functions.CosineSim.register(spark)
    graft.functions.ArgmaxDot.register(spark)
    Versioned.write(
      Versioned.read(spark, s"$dir/coded").limit(0), // schema-true orphan
      s"$dir/coded", mode = "append")
    val orphanVecs = Versioned.write(batch, s"$dir/vectors", mode = "append")
    assert(orphanVecs > Versioned.read(spark, s"$dir/meta")
      .head().getAs[Long]("vectors_v"),
      "test setup: the vectors tip must be ahead of the pinned generation")

    // the RETRY: must land exactly one copy of the batch in the new
    // pinned generation — the orphan tip files are discarded, not carried
    extensions.AnnIndex.add(spark, dir, batch)
    val pinnedVecs = Versioned.read(spark, s"$dir/meta").head()
      .getAs[Long]("vectors_v")
    val vecs = Versioned.read(spark, s"$dir/vectors", Some(pinnedVecs))
    assert(vecs.count() == n + 50,
      s"expected ${n + 50} vectors (no duplicated batch), got ${vecs.count()}")
    assert(vecs.groupBy("vec_id").count().filter(col("count") > 1).count() == 0,
      "duplicate vec_ids in the retried-add generation")
  }

  /** The vec_ids of `table` in the generation the latest meta row pins. */
  private def pinnedIds(dir: String, table: String): Set[Long] = {
    val v = Versioned.read(spark, s"$dir/meta").head().getAs[Long](s"${table}_v")
    Versioned.read(spark, s"$dir/$table", Some(v)).select("vec_id")
      .collect().map(_.getLong(0)).toSet
  }

  test("an add of a nondeterministic batch commits coded and vectors with one vec_id set") {
    val dir = "/tmp/graft-ann-index-rand"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir)
    val n = ctx.tbl("embeddings").count()
    // each evaluation of this plan draws another 50 of the shifted rows
    val batch = ctx.tbl("embeddings")
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
      .orderBy(rand()).limit(50)
    extensions.AnnIndex.add(spark, dir, batch)
    val coded = pinnedIds(dir, "coded")
    assert(coded.size == n + 50, s"expected ${n + 50} coded vectors, got ${coded.size}")
    assert(coded == pinnedIds(dir, "vectors"), "coded and vectors hold different vec_ids")
  }

  test("an attributed index whose vectors predate the stored attributes accepts an add") {
    val dir = "/tmp/graft-ann-index-oldvectors"
    val dirFull = "/tmp/graft-ann-index-oldvectors-full"
    Seq(dir, dirFull).foreach(d => rm(new java.io.File(d)))
    val e = ctx.tbl("embeddings")
    val n = e.count()
    // the quantizers are the low vec_ids, so build(half) + add(rest)
    // serves as build(all) does
    val halfDir = java.nio.file.Files.createTempDirectory("graft_ann_oldvec").toString
    e.filter(col("vec_id") <= n / 2)
      .write.mode("overwrite").parquet(s"$halfDir/embeddings.parquet")
    extensions.AnnIndex.build(Ctx(spark, halfDir), dir, metaCols = Seq("label"))
    // the generation as a build that stored only (vec_id, embedding) left it
    val oldV = Versioned.write(
      Versioned.read(spark, s"$dir/vectors").select("vec_id", "embedding"), s"$dir/vectors")
    Versioned.writeWithProps(
      Versioned.read(spark, s"$dir/meta").withColumn("vectors_v", lit(oldV)), s"$dir/meta",
      Versioned.readManifest(spark, s"$dir/meta").props + ("vectors_v" -> oldV.toString))
    assert(Versioned.read(spark, s"$dir/vectors", Some(oldV)).columns.toSeq ==
      Seq("vec_id", "embedding"))

    extensions.AnnIndex.add(spark, dir, e.filter(col("vec_id") > n / 2))
    assert(pinnedIds(dir, "vectors") == pinnedIds(dir, "coded"))
    extensions.AnnIndex.build(ctx, dirFull, metaCols = Seq("label"))
    val target = e.filter(col("vec_id") === 0).select("label").head().get(0)
    def served(d: String) = extensions.AnnIndex.query(spark, d, queriesDf,
      where = Some(col("label") === target)).collect().map(_.toString).sorted.toSeq
    val inc = served(dir)
    assert(inc.nonEmpty && inc == served(dirFull),
      "the add to a pre-attribute index serves unlike a full build")
  }

  test("an empty add commits a new generation with the same rows") {
    val dir = "/tmp/graft-ann-index-empty"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir)
    val n = ctx.tbl("embeddings").count()
    val before = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    val metaBefore = Versioned.latestVersion(spark, s"$dir/meta").get
    val versions = extensions.AnnIndex.add(spark, dir,
      ctx.tbl("embeddings").select("vec_id", "embedding").limit(0), batchId = 7L)
    assert(versions("meta") == metaBefore + 1)
    assert(pinnedIds(dir, "coded").size == n && pinnedIds(dir, "vectors").size == n)
    assert(extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq == before)
    assert(extensions.AnnIndex.lastIngestBatch(spark, dir) == 7L)
  }

  test("compact collapses ingest files into a new generation, serving unchanged") {
    val dir = "/tmp/graft-ann-index-compact"
    rm(new java.io.File(dir))
    extensions.AnnIndex.build(ctx, dir)
    val n = ctx.tbl("embeddings").count()
    // four adds = four appended file sets on top of the build's
    (0 until 4).foreach { i =>
      val batch = ctx.tbl("embeddings")
        .filter(col("vec_id") < 10)
        .select((col("vec_id") + n * (i + 1)).as("vec_id"), col("embedding"))
      extensions.AnnIndex.add(spark, dir, batch, batchId = i.toLong)
    }
    val before = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    val filesBefore = Versioned.readManifest(spark, s"$dir/coded").files.size

    extensions.AnnIndex.compact(spark, dir, nFiles = 2)

    val m = Versioned.readManifest(spark, s"$dir/coded")
    assert(m.files.size <= 2 && m.files.size < filesBefore,
      s"expected <=2 coded files after compact, got ${m.files.size} (was $filesBefore)")
    val coded = Versioned.read(spark, s"$dir/coded")
    assert(coded.count() == n + 40, "compact must not change the row set")
    val after = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "serving changed across compact")
    // the ingest ledger survives compaction — replay protection intact
    assert(extensions.AnnIndex.lastIngestBatch(spark, dir) == 3L)
  }

  test("remove tombstones vectors; compact purges; re-add restores") {
    import spark.implicits._
    val dir = "/tmp/graft-ann-index-remove"
    val dirReduced = "/tmp/graft-ann-index-remove-reduced"
    Seq(dir, dirReduced).foreach(d => rm(new java.io.File(d)))
    extensions.AnnIndex.build(ctx, dir)
    val n = ctx.tbl("embeddings").count()
    val baseline = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq

    // remove two result candidates OUTSIDE the quantizer id range, so a
    // rebuild on the reduced corpus derives the same quantizers and is the
    // exact independent expectation for tombstoned serving
    val victims = extensions.AnnIndex.query(spark, dir, queriesDf)
      .filter(col("cand_id") >= 16).select("cand_id").distinct()
      .orderBy("cand_id").limit(2).collect().map(_.getLong(0)).toSeq
    assert(victims.size == 2, "test needs two removable result candidates")
    extensions.AnnIndex.remove(spark, dir, victims.toDF("vec_id"))

    val afterRemove = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    assert(afterRemove != baseline, "removal must change results")

    val reducedDir = java.nio.file.Files
      .createTempDirectory("graft_ann_reduced").toString
    ctx.tbl("embeddings").filter(!col("vec_id").isInCollection(victims))
      .write.mode("overwrite").parquet(s"$reducedDir/embeddings.parquet")
    extensions.AnnIndex.build(Ctx(spark, reducedDir), dirReduced)
    val rebuilt = extensions.AnnIndex.query(spark, dirReduced, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    assert(afterRemove == rebuilt,
      "tombstoned serving must equal a rebuild on the reduced corpus")

    // compact materializes: rows drop, tombstone set clears, serving holds
    extensions.AnnIndex.compact(spark, dir, nFiles = 2)
    assert(Versioned.read(spark, s"$dir/coded").count() == n - 2)
    assert(Versioned.read(spark, s"$dir/meta").head()
      .getAs[Long]("tombstones_v") == -1L, "compact must clear tombstones")
    val afterCompact = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    assert(afterCompact == afterRemove)

    // once purged, the ids are free again: re-adding the same vectors
    // restores the original baseline exactly
    val restore = ctx.tbl("embeddings")
      .filter(col("vec_id").isInCollection(victims))
      .select(col("vec_id"), col("embedding"))
    extensions.AnnIndex.add(spark, dir, restore)
    val restored = extensions.AnnIndex.query(spark, dir, queriesDf)
      .collect().map(_.toString).sorted.toSeq
    assert(restored == baseline, "re-added vectors must restore the baseline")
  }

  test("semanticDedup consumes the persisted index and matches an inline recompute") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/tmp/graft-ann-index-semdedup"
    rm(new java.io.File(dir))
    val n = ctx.tbl("embeddings").count()
    val nCells = math.ceil(math.sqrt(n.toDouble)).toInt
    extensions.AnnIndex.build(ctx, dir, nCells = nCells)
    val served = extensions.AnnIndex.semanticDedup(spark, dir)

    // independent recompute straight from the corpus: nearest-seed
    // assignment, naive within-cell self-join (no triangle split), same
    // SemDeDup lower-id rule
    graft.functions.CosineSim.register(spark)
    val e = ctx.tbl("embeddings")
    // the rank rule's testdata form: ids are dense from 0, so the nCells
    // smallest vec_ids are exactly vec_id < nCells
    val seeds = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("se"))
    val assigned = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        expr("cosine_sim(embedding, se)").as("sc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sc").desc, col("cell_id"))))
      .filter(col("rn") === 1)
      .select("vec_id", "cell_id", "embedding")
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cell_id") === col("b.cell_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("lo"), col("b.vec_id").as("hi"),
        expr("cosine_sim(a.embedding, b.embedding)").as("c"))
    val roll = pairs.groupBy(col("hi").as("vec_id"))
      .agg(max(col("c")).as("max_cosine_lower"),
        count(when(col("c") >= 0.4, lit(1))).as("n_dup_lower"),
        min(when(col("c") >= 0.4, col("lo"))).as("dup_witness"))
    val direct = assigned.select("vec_id", "cell_id")
      .join(roll, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("n_dup_lower"), lit(0L)).as("n_dup_lower"),
        col("dup_witness"), col("max_cosine_lower"),
        (coalesce(col("n_dup_lower"), lit(0L)) === 0).as("keep"))

    assert(served.columns.toSeq == direct.columns.toSeq)
    val s = served.collect().map(_.toString).sorted.toSeq
    val d = direct.collect().map(_.toString).sorted.toSeq
    assert(s.size == n, s"one row per corpus vector expected, got ${s.size}")
    assert(s == d, s"served != inline recompute; first delta: ${
      s.zipAll(d, "<missing>", "<missing>").find(p => p._1 != p._2)}")

    // the decision actually drops something at this corpus/threshold, and
    // every drop names a LOWER-id witness (the SemDeDup keep rule)
    val drops = served.filter(!col("keep"))
    assert(drops.count() > 0, "expected at least one semantic duplicate")
    assert(drops.filter(col("dup_witness") >= col("vec_id")).count() == 0)
  }

  test("semanticDedup reads the pinned generation, not a mid-rebuild tip") {
    val dir = "/tmp/graft-ann-index-semdedup" // built by the test above
    val before = extensions.AnnIndex.semanticDedup(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    // an in-flight rebuild moves the coded tip to a one-cell junk snapshot
    val junkCoded = ctx.tbl("embeddings")
      .select(col("vec_id"), lit(1L).as("cell_id"),
        expr("array(0, 0, 0, 0, 0, 0, 0, 0)").as("codes"))
    Versioned.write(junkCoded, s"$dir/coded")
    val during = extensions.AnnIndex.semanticDedup(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(during == before,
      "semanticDedup consumed a coded tip that has no meta row")
  }
}
