package graft.extensions

import graft.{Ctx, Versioned}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The IVFADC pipeline (FAISS IVF + PQ asymmetric distance) and its
  * published, build-once / query-many index.
  *
  * The stages live here once, and every ANN query composes them: the
  * in-memory [[Similarity]] queries over the `embeddings` table and
  * [[query]] over a published index.
  *
  *   - [[subvectors]]: the 8 subvectors of 8 dims of each 64-dim vector;
  *   - [[pack]]: a quantizer (seeds or codebook) as one packed row, or one
  *     per subspace, aggregated in one partition so no exchange is planned;
  *   - [[assign]] / [[pqCodes]] ([[encode]] for both): nearest seed cell and
  *     nearest codeword per subvector, through the native
  *     `argmax_cosine` (functions.ArgmaxCosine) against one broadcast,
  *     packed quantizer row. It picks what a crossJoin + `row_number` over
  *     (cosine desc, id) picks (same IEEE cosine op order, max then min id,
  *     ArgmaxSpec), with no scored-row materialization and no exchange;
  *   - [[probe]]: each query's `nprobe` nearest cells;
  *   - [[adcTable]] / [[adcScore]]: each query's per-subspace codeword
  *     similarities as one decimal(12,9) slot array, computed map-side by
  *     the native `adc_slots` (functions.AdcSlots) against the broadcast
  *     packed codebook; the array is 8 × (max code + 1) slots, so it
  *     carries its own width, and a candidate's score is eight unrolled
  *     `element_at` lookups into it;
  *   - [[serve]]: ADC-score the coded vectors in probed cells, shortlist,
  *     exact-rerank the shortlist. Its one shuffle is the probe's ranking:
  *     the later rankings are keyed by query too, and every join after it
  *     is a broadcast;
  *   - [[topK]]: the per-query ranking every stage ends in.
  *
  * Cross-engine exactness (the DuckDB twins): per-subspace cosines are
  * rounded to decimal(12,9) before the 8-way sum, and decimal addition is
  * exact and order-free, so the shuffle's row order cannot flip a ranking;
  * every ranking breaks ties on the lower id.
  *
  * Two row-machinery taxes were measured out of the ADC: the
  * row-per-subspace form (posexplode + join + re-aggregate, 3-6× the packed
  * cost, PERF_NOTES_r10.md §3) and an `aggregate()` fold over the slots
  * (CodegenFallback: interpreted per row, 2.6-3× the unrolled sum at 900k
  * candidates whatever the element type, PERF_NOTES_r11.md).
  *
  * [[build]] publishes the index relations as [[graft.Versioned]] tables
  * under `dir`:
  *
  *   - `seeds`      (cell_id, se)            — coarse-quantizer centroids
  *   - `codebooks`  (s, code, cv)            — per-subspace PQ codewords
  *   - `coded`      (vec_id, cell_id, codes) — each vector's cell and its 8
  *     PQ codes in subspace order
  *   - `vectors`    (vec_id, embedding, stored attributes) — full floats
  *     for the rerank, and the rows an [[add]] encodes its `coded` append
  *     from
  *   - `meta`       — ONE row naming the four table versions of this
  *     generation, the tombstone set and the ingest ledger, committed LAST;
  *     its manifest records the same fields as `prop.` lines
  *
  * The four data tables commit independently; cross-table atomicity comes
  * from the meta version: readers resolve it once ([[Generation]], from its
  * manifest through the Hadoop FS, so a query constructs with no Spark
  * job) and pin every read to the versions it names, so an in-flight
  * rebuild that has not yet committed its meta version is invisible and a
  * crashed one leaves readers on the previous generation (AnnIndexSpec's
  * interleaved-rebuild test).
  *
  * At 100 TB: the build is one linear encode pass, paid once; a query batch
  * reads the coded relation (8 codes + cell per vector, ~1% of the float
  * bytes), shuffles only probed-cell candidates, and touches full vectors
  * for shortlist × Q rows.
  */
object AnnIndex {

  private val Tables = Seq("seeds", "codebooks", "coded", "vectors")

  private[extensions] def register(spark: SparkSession): Unit = {
    graft.functions.CosineSim.register(spark)
    graft.functions.ArgmaxDot.register(spark)
    graft.functions.AdcSlots.register(spark)
  }

  // ---- the IVFADC stages -------------------------------------------------

  /** (`id`, s, `out`): subvector s in [0, 8) of the 64-dim `v`. */
  private[extensions] def subvectors(df: DataFrame, id: String = "vec_id",
      v: String = "embedding", out: String = "sv"): DataFrame =
    df.select(col(id), explode(expr("sequence(0, 7)")).as("s"), col(v))
      .select(col(id), col("s"), expr(s"slice($v, s * 8 + 1, 8)").as(out))

  /** The coarse seeds (cell_id, se) and the PQ codebook (s, code, cv), cut
    * from `e` (vec_id, embedding) by two id predicates. */
  private[extensions] def quantizers(e: DataFrame, seedIds: Column,
      codewordIds: Column): (DataFrame, DataFrame) =
    (e.filter(seedIds).select(col("vec_id").as("cell_id"), col("embedding").as("se")),
      subvectors(e.filter(codewordIds))
        .select(col("s"), col("vec_id").as("code"), col("sv").as("cv")))

  /** Quantizer rows `q` packed, one row per `keys` group: `mat`, the `vec`
    * arrays concatenated in ascending (`order`...) order (ArgmaxCosine's
    * packed-row convention), and per `order` column `c` the array `c_arr`
    * of its values in the same order. The aggregate runs in the one
    * partition of a `coalesce(1)`, which meets its required distribution,
    * so the pack plans no exchange. A quantizer is a few hundred rows at
    * most; its scan is what the one task reads. */
  private[extensions] def pack(q: DataFrame, order: Seq[String], vec: String,
      keys: String*): DataFrame =
    q.coalesce(1).groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct((order :+ vec).map(col): _*))).as("p"))
      .select(keys.map(col) ++ (flatten(col(s"p.$vec")).as("mat") +:
        order.map(c => col(s"p.$c").as(s"${c}_arr"))): _*)

  /** `vecs` (vec_id, embedding, ...) with its nearest seed's `cell_id`
    * after vec_id. */
  private[extensions] def assign(vecs: DataFrame, seeds: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(pack(seeds, Seq("cell_id"), "se")))
      .select(col("vec_id") +:
        expr("element_at(cell_id_arr, argmax_cosine(embedding, mat) + 1)").as("cell_id") +:
        vecs.columns.filterNot(_ == "vec_id").toSeq.map(col): _*)

  /** (vec_id, codes): each vector's nearest codeword per subspace, packed
    * in subspace order (the 8-byte production encoding, kept as an array
    * for plan inspectability). */
  private[extensions] def pqCodes(vecs: DataFrame, cb: DataFrame): DataFrame =
    subvectors(vecs).join(broadcast(pack(cb, Seq("code"), "cv", "s")), Seq("s"))
      .select(col("vec_id"), col("s"),
        expr("element_at(code_arr, argmax_cosine(sv, mat) + 1)").as("code"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("s"), col("code")))).as("p"))
      .select(col("vec_id"), col("p.code").as("codes"))

  /** (vec_id, cell_id, codes, ...): `vecs` (vec_id, embedding, ...)
    * encoded under fixed quantizers. [[build]] and [[add]] share it, so an
    * incremental add encodes exactly as the build did. Columns beyond the
    * pair are stored attributes (build's metaCols): they ride the map-side
    * cell assignment and land in the coded schema. */
  private[extensions] def encode(vecs: DataFrame, seeds: DataFrame,
      cb: DataFrame): DataFrame = {
    val meta = vecs.columns.filterNot(Set("vec_id", "embedding")).toSeq
    assign(vecs, seeds).drop("embedding").join(pqCodes(vecs, cb), Seq("vec_id"))
      .select((Seq("vec_id", "cell_id", "codes") ++ meta).map(col): _*)
  }

  /** Per query, the rows ranked 1..k by `score` desc, then the lower `id`,
    * with the rank in `rank`. */
  private[extensions] def topK(df: DataFrame, score: String, k: Int,
      id: String = "cand_id", rank: String = "rank"): DataFrame =
    df.withColumn(rank, row_number().over(
        Window.partitionBy("query_id").orderBy(col(score).desc, col(id))))
      .filter(col(rank) <= k)

  /** (query_id, cell_id): the `nprobe` seeds nearest each query
    * (query_id, qe). */
  private[extensions] def probe(queries: DataFrame, seeds: DataFrame,
      nprobe: Int): DataFrame =
    topK(queries.crossJoin(broadcast(seeds))
        .select(col("query_id"), col("cell_id"),
          expr("cosine_sim(qe, se)").as("seed_cos")),
      "seed_cos", nprobe, id = "cell_id", rank = "rn")
      .select("query_id", "cell_id")

  /** (query_id, qarr): each query's ADC table, one decimal(12,9) slot array
    * of 8 × width (slot s * width + code, width = max code + 1), 0 where
    * no codeword has that code: one map-side `adc_slots` projection of the
    * queries against the broadcast packed codebook. Codes are the raw
    * codebook ids, so a candidate's codes index it directly. */
  private[extensions] def adcTable(queries: DataFrame, cb: DataFrame): DataFrame =
    queries.crossJoin(broadcast(pack(cb, Seq("s", "code"), "cv")))
      .select(col("query_id"), expr("adc_slots(qe, mat, s_arr, code_arr)").as("qarr"))

  /** A candidate's ADC score over `codes` and `qarr`: the eight slot
    * lookups unrolled into one whole-stage-codegen'd decimal sum, at the
    * width the slot array carries. */
  private[extensions] def adcScore: Column = {
    val lookups = (0 until 8)
      .map(s => s"element_at(qarr, CAST($s * (size(qarr) div 8) + " +
        s"element_at(codes, ${s + 1}) + 1 AS INT))")
      .mkString(" + ")
    expr(s"CAST($lookups AS DECIMAL(22,9))")
  }

  /** IVFADC top-k: probe `nprobe` cells per query, ADC-score the `coded`
    * (vec_id, cell_id, codes) vectors in them, keep the top `shortlist`,
    * and rank those by exact cosine against `vectors` (vec_id, embedding).
    * Out: (query_id, cand_id, cell_id, approx: double, cosine, rank). */
  private[extensions] def serve(queries: DataFrame, seeds: DataFrame,
      cb: DataFrame, coded: DataFrame, vectors: DataFrame,
      k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val adc = probe(queries, seeds, nprobe)
      .join(coded.select(col("cell_id"), col("vec_id").as("cand_id"),
        col("codes")), Seq("cell_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(broadcast(adcTable(queries, cb)), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        adcScore.as("approx"))
    val short = topK(adc, "approx", shortlist, rank = "rn")
      .select("query_id", "cand_id", "cell_id", "approx")
    topK(short.join(queries, Seq("query_id"))
      .join(vectors.select(col("vec_id").as("cand_id"), col("embedding").as("ce")),
        Seq("cand_id"))
      .select(col("query_id"), col("cand_id"), col("cell_id"),
        col("approx").cast("double").as("approx"),
        expr("cosine_sim(qe, ce)").as("cosine")), "cosine", k)
  }

  // ---- the published index -----------------------------------------------

  /** Build the index from `ctx`'s `embeddings` table and publish under
    * `dir`. Seeds are the `nCells` smallest vec_ids and the codebook the
    * subvectors of the `nCodewords` smallest: a RANK rule, not an id
    * threshold, because the sf testdata numbers ids from 0 and the synth
    * generator from 1, and any `vec_id < n` rule would publish a different
    * shape per corpus. A production build passes ~sqrt(N) cells and 256
    * codewords; the defaults (8 / 16) are the shape [[Similarity.annIvfPq]]
    * fixes as `vec_id < 8` / `< 16`, the same sets on testdata, which gives
    * AnnIndexSpec's row identity.
    * Returns table -> committed version, including the `meta` generation
    * commit that makes the five publishes one atomic index version. */
  def build(ctx: Ctx, dir: String, nCells: Int = 8,
      nCodewords: Int = 16, metaCols: Seq[String] = Nil): Map[String, Long] = {
    require(nCells >= 1 && nCodewords >= 1,
      s"build needs >=1 seed and >=1 codeword: " +
        s"nCells=$nCells nCodewords=$nCodewords")
    register(ctx.spark)
    val e = ctx.tbl("embeddings")
    // the quantizer vectors: one TakeOrdered over the ids, bounded by
    // max(nCells, nCodewords) rows on the driver. Cut from that local
    // relation, the quantizers and their packs never read the corpus
    // again, so a pack's one partition never holds a corpus scan; in one
    // partition, each quantizer table publishes as one file.
    val nq = math.max(nCells, nCodewords)
    val ve = e.select("vec_id", "embedding")
    val qRows = ve.orderBy(col("vec_id")).limit(nq).collect()
    require(qRows.length >= nq,
      s"corpus has only ${qRows.length} vectors — the requested quantizer " +
        s"shape needs >= $nq (nCells=$nCells nCodewords=$nCodewords)")
    val qIds = qRows.map(_.getLong(0))
    val (seeds, cb) = quantizers(
      ctx.spark.createDataFrame(java.util.Arrays.asList(qRows: _*), ve.schema).coalesce(1),
      col("vec_id") <= qIds(nCells - 1), col("vec_id") <= qIds(nCodewords - 1))
    // metaCols ride INTO the coded table (FAISS-style stored attributes):
    // query's `where` predicate then evaluates map-side on the coded scan —
    // no allow-list join, no shuffle. `vectors` stores them too, so an add
    // encodes its coded rows from the vectors files it appended.
    val vecs = e.select((Seq("vec_id", "embedding") ++ metaCols).map(col): _*)
    val coded = encode(vecs, seeds, cb)
    // The four tables are independent publishes (the atomic generation
    // commit is the meta row below, not the order of these writes): run
    // them from a small thread pool so each write's scheduling/commit tail
    // back-fills the others' idle executors (guide §2.6) — at production
    // sizes coded+vectors are data-sized writes whose tails would otherwise
    // serialize.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val futs = Seq(
      "seeds" -> Future(Versioned.write(seeds, s"$dir/seeds"))(ec),
      "codebooks" -> Future(Versioned.write(cb, s"$dir/codebooks"))(ec),
      "coded" -> Future(Versioned.write(coded, s"$dir/coded"))(ec),
      "vectors" -> Future(Versioned.write(vecs, s"$dir/vectors"))(ec))
    val versions =
      try futs.map { case (k, f) => k -> Await.result(f, Duration.Inf) }.toMap
      finally pool.shutdown()
    commitMeta(ctx.spark, dir, versions, batchId = -1L)
  }

  /** The meta fields, in the meta row's column order. */
  private val MetaFields = Tables.map(t => s"${t}_v") ++ Seq("batch_id", "tombstones_v")

  /** The generation commit: one row naming the four versions just
    * published, plus the streaming-ingest ledger (`batch_id` — the highest
    * stream batch folded into this generation, -1 when none) and the
    * tombstone-set version (`tombstones_v` — -1 when the generation has no
    * deletions). The version's manifest records the same fields as props,
    * which [[generation]] reads with no Spark job. Readers pin on THIS
    * commit; until it lands, the new tables are invisible (a crashed
    * rebuild/add/remove leaves the old generation serving). */
  private def commitMeta(spark: SparkSession, dir: String,
      versions: Map[String, Long], batchId: Long,
      tombstonesV: Long = -1L): Map[String, Long] = {
    val fields = MetaFields.zip(Tables.map(versions) ++ Seq(batchId, tombstonesV))
    val metaDf = spark.range(1).select(fields.map { case (k, v) => lit(v).as(k) }: _*)
    versions + ("meta" -> Versioned.writeWithProps(metaDf, s"$dir/meta",
      fields.map { case (k, v) => k -> v.toString }.toMap))
  }

  /** One index generation, as its meta version names it: the four table
    * versions (None before the meta-manifest existed: latest-per-table,
    * consistent only under serialized builds), the pending tombstone set
    * (None for a fresh build, a purge-compacted generation or a
    * pre-tombstone row) and the ingest ledger (-1 for a fresh build, a
    * pre-ledger row or no index). */
  private final case class Generation(dir: String,
      versions: Map[String, Option[Long]], tombstones: Option[Long],
      batchId: Long) {
    def pinned: Boolean = versions.values.forall(_.isDefined)
    def v(table: String): Long = versions(table).get
    def read(spark: SparkSession, table: String): DataFrame =
      Versioned.read(spark, s"$dir/$table", versions(table))
    /** The pending tombstone set (vec_id), if any. */
    def tombstoned(spark: SparkSession): Option[DataFrame] =
      tombstones.map(t => Versioned.read(spark, s"$dir/tombstones", Some(t)))
  }

  /** Resolve the latest meta version once, so every field of a call comes
    * from the same generation: from its manifest's props through the
    * Hadoop FS (no Spark job), or, for an index whose manifests predate
    * them, from its row (a one-row collect). Versions are read by NAME: a
    * renamed meta field throws rather than pinning the wrong table. */
  private def generation(spark: SparkSession, dir: String): Generation =
    Versioned.latestVersion(spark, s"$dir/meta") match {
      case None => Generation(dir, Tables.map(_ -> (None: Option[Long])).toMap, None, -1L)
      case Some(v) =>
        val props = Versioned.readManifest(spark, s"$dir/meta", Some(v)).props
        val field: String => Option[Long] =
          if (MetaFields.forall(props.contains)) k => props.get(k).map(_.toLong)
          else {
            val row = Versioned.read(spark, s"$dir/meta", Some(v)).head()
            val has = row.schema.fieldNames.toSet
            k => if (has(k)) Some(row.getAs[Long](k)) else None
          }
        def version(t: String) = field(s"${t}_v").getOrElse(
          sys.error(s"meta version $v at $dir names no ${t}_v"))
        Generation(dir, Tables.map(t => t -> Some(version(t))).toMap,
          field("tombstones_v").filter(_ >= 0), field("batch_id").getOrElse(-1L))
    }

  /** Drop `tombstones` (distinct removed vec_ids) from a relation keyed by
    * vec_id. No broadcast hint: the tombstone set is usually tiny (AQE
    * broadcasts it), but a mass-delete should degrade to a shuffle join,
    * not an executor OOM. */
  private def dropTombstoned(rel: DataFrame,
      tombstones: Option[DataFrame]): DataFrame =
    tombstones.fold(rel)(t =>
      rel.join(t.select("vec_id").distinct(), Seq("vec_id"), "left_anti"))

  /** The streaming-ingest ledger: the `batch_id` the serving generation
    * carries (-1 for a fresh build, a pre-ledger index, or no index yet).
    * [[graft.streaming.Streams.annIngestSink]] consults it to skip
    * replayed microbatches — the generation commit and the ledger advance
    * in ONE meta row, so "the batch's rows are visible" and "the batch is
    * marked ingested" cannot diverge. */
  def lastIngestBatch(spark: SparkSession, dir: String): Long =
    generation(spark, dir).batchId

  /** Incrementally add a vector batch to the index — the FAISS `add`
    * shape: append `batch` (vec_id, embedding, the index's stored
    * attributes) to `vectors`, encode exactly the rows that append staged
    * under the PINNED generation's quantizers (never retrained) into a
    * `coded` append, and commit a new meta generation pinning (old seeds_v,
    * old codebooks_v, new coded_v, new vectors_v). The caller's plan is
    * evaluated ONCE, by the vectors append; the clash check and the encode
    * read its staged files back ([[graft.Versioned.readAdded]]), so coded
    * and vectors hold one row set by construction, whatever the plan.
    * Work is proportional to the batch: one map-side encode pass, and the
    * appends keep prior files by reference.
    *
    * Because the quantizers are a pure function of the generation,
    * `build(half) + add(rest)` is BIT-IDENTICAL to `build(all)` whenever
    * the rebuild would derive the same quantizers (AnnIndexSpec). A crash
    * anywhere inside add leaves the previous generation serving (the meta
    * rule). RETRY safety is the appendBase rule: both appends anchor on
    * the PINNED versions, not the table tips, so a retry after a crashed
    * add discards the orphan files the crash left instead of duplicating
    * them (spec-pinned). Concurrent adds to one index serialize
    * externally, the contract concurrent builds already have.
    *
    * Rejects vec_ids already present (a silent duplicate would double rows
    * in every downstream consumer); the check joins the staged batch
    * against the pinned coded relation, not corpus x corpus. A rejected
    * add leaves an unpinned vectors append behind, which the next add's
    * appendBase discards.
    *
    * An index built before `vectors` carried the stored attributes still
    * accepts an add: the append records the wider schema, and the older
    * files read the attributes as null, which no reader of `vectors` uses.
    *
    * `batchId` threads the streaming-ingest ledger: a non-negative id is
    * recorded in the new generation's meta row and must exceed the ledger
    * (an already-ingested id fails loudly — the sink's skip handles the
    * routine replay case BEFORE calling here); a manual add (batchId = -1)
    * carries the previous ledger value forward so interleaved manual adds
    * don't reset stream-replay protection. */
  def add(spark: SparkSession, dir: String, batch: DataFrame,
      batchId: Long = -1L): Map[String, Long] = {
    register(spark)
    val gen = generation(spark, dir)
    require(gen.pinned,
      s"add requires a meta-pinned index generation at $dir (pre-meta " +
        "indexes must be rebuilt once to gain a generation row)")
    require(batchId < 0 || batchId > gen.batchId,
      s"stream batch $batchId already ingested at $dir (ledger: ${gen.batchId})")
    val seeds = gen.read(spark, "seeds")
    val cb = gen.read(spark, "codebooks")
    // the index's stored attributes (build's metaCols) are whatever the
    // pinned coded schema carries beyond the encoding triple — the batch
    // must supply the same columns or the append would shear the schema
    val codedPinned = gen.read(spark, "coded")
    val metaCols = codedPinned.columns
      .filterNot(Set("vec_id", "cell_id", "codes")).toSeq
    val missing = metaCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"add batch lacks the index's stored attribute column(s) " +
        s"${missing.mkString(", ")} at $dir")
    // the one evaluation of the caller's plan; all after it reads the
    // files this append staged
    val vectorsV = Versioned.write(
      batch.select((Seq("vec_id", "embedding") ++ metaCols).map(col): _*),
      s"$dir/vectors", mode = "append", appendBase = Some(gen.v("vectors")))
    val added = Versioned.readAdded(spark, s"$dir/vectors", gen.v("vectors"), vectorsV)
    val clashes = added.join(codedPinned.select("vec_id"), Seq("vec_id"), "left_semi")
      .limit(1).count()
    require(clashes == 0,
      s"add batch contains vec_ids already present in the index at $dir")
    val codedV = Versioned.write(encode(added, seeds, cb), s"$dir/coded",
      mode = "append", appendBase = Some(gen.v("coded")))
    // coded and vectors must describe the SAME row set in every pinned
    // generation; counts are parquet-metadata reads (bounded, no scan).
    // A mismatch aborts BEFORE the meta commit — the old generation keeps
    // serving and the orphan snapshots are discarded on retry (appendBase).
    val codedN = Versioned.read(spark, s"$dir/coded", Some(codedV)).count()
    val vecN = Versioned.read(spark, s"$dir/vectors", Some(vectorsV)).count()
    require(codedN == vecN,
      s"add staged divergent snapshots (coded $codedN vs vectors $vecN " +
        "rows); aborting before the meta commit (previous generation still serves)")
    commitMeta(spark, dir,
      Map("seeds" -> gen.v("seeds"), "codebooks" -> gen.v("codebooks"),
        "coded" -> codedV, "vectors" -> vectorsV),
      batchId = if (batchId >= 0) batchId else gen.batchId,
      tombstonesV = gen.tombstones.getOrElse(-1L))
  }

  /** Delete vectors from the index — the tombstone shape (FAISS
    * IDSelector / lakehouse deletion-vector semantics): `ids` (vec_id)
    * join the generation's tombstone SET, published as a new tombstones
    * snapshot and pinned by a new meta generation; `coded`/`vectors`
    * files are untouched, so a remove costs O(ids), not a corpus rewrite.
    * Serving paths anti-join the tombstone set; [[compact]] MATERIALIZES
    * the deletions (rewrites without the tombstoned rows and clears the
    * set) — until then a removed id cannot be re-added (its rows still
    * exist under the tombstone; [[add]]'s collision guard rejects it).
    * Crash/retry safety is the same meta rule as add: the tombstone
    * append anchors on the pinned set (orphans discarded), and nothing is
    * visible until the meta row lands. Removing an absent id is a no-op
    * by construction (anti-join semantics). */
  def remove(spark: SparkSession, dir: String, ids: DataFrame): Map[String, Long] = {
    val gen = generation(spark, dir)
    require(gen.pinned, s"remove requires a meta-pinned index generation at $dir")
    val t = ids.select(col("vec_id")).distinct()
    val tv = gen.tombstones match {
      case Some(v) => Versioned.write(t, s"$dir/tombstones", mode = "append",
        appendBase = Some(v))
      case None => Versioned.write(t, s"$dir/tombstones")
    }
    commitMeta(spark, dir, Tables.map(t => t -> gen.v(t)).toMap,
      batchId = gen.batchId, tombstonesV = tv)
  }

  /** Collapse the pinned generation's `coded`/`vectors` into `nFiles` data
    * files each and publish the result as a NEW generation — the
    * small-files maintenance a streaming-ingested index needs: every
    * [[add]] appends its batch as fresh files, so a long-running
    * [[graft.streaming.Streams.annIngestSink]] accretes one file set per
    * microbatch and scan fan-out degrades. Pending [[remove]] tombstones
    * are MATERIALIZED here (the rewrite drops the tombstoned rows and the
    * new generation carries an empty tombstone set — lakehouse
    * purge-on-rewrite). Live rows, quantizers, the ingest ledger, and
    * serving results carry UNCHANGED (spec-pinned); readers keep the old
    * generation until the meta commit lands (crash-safe like every other
    * publish here), and superseded files remain time-travelable until
    * `Versioned.vacuum`. */
  def compact(spark: SparkSession, dir: String, nFiles: Int = 8): Map[String, Long] = {
    require(nFiles >= 1, s"nFiles must be >= 1: $nFiles")
    val gen = generation(spark, dir)
    require(gen.pinned, s"compact requires a meta-pinned index generation at $dir")
    def rewrite(t: String): Long = Versioned.write(
      dropTombstoned(gen.read(spark, t), gen.tombstoned(spark)).repartition(nFiles),
      s"$dir/$t")
    commitMeta(spark, dir,
      Map("seeds" -> gen.v("seeds"), "codebooks" -> gen.v("codebooks"),
        "coded" -> rewrite("coded"), "vectors" -> rewrite("vectors")),
      batchId = gen.batchId)
  }

  /** Serve IVFADC top-k ([[serve]]) from the published index: `queries` is
    * (query_id, qe: array<float>); the output and every tie-break are
    * [[Similarity.annIvfPq]]'s. Table reads are pinned to one meta
    * generation.
    *
    * `allowed` (a vec_id allow-list, any predicate evaluated outside the
    * index) and `where` (a predicate over coded's own columns, build's
    * metaCols: map-side, no join) both pre-filter the candidate stream
    * before ADC scoring, as tombstones do, so a filtered query still fills
    * all k slots where a post-filter on the final top-k would return fewer
    * the more selective the predicate. */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 2, shortlist: Int = 20,
      allowed: Option[DataFrame] = None,
      where: Option[Column] = None): DataFrame = {
    register(spark)
    val gen = generation(spark, dir)
    val coded = allowed.foldLeft(where.foldLeft(
      dropTombstoned(gen.read(spark, "coded"), gen.tombstoned(spark))) {
      (c, w) => c.filter(w)
    }) {
      (c, a) => c.join(a.select(col("vec_id")).distinct(), Seq("vec_id"), "left_semi")
    }
    serve(queries, gen.read(spark, "seeds"), gen.read(spark, "codebooks"), coded,
      gen.read(spark, "vectors"), k, nprobe, shortlist)
  }

  /** SEMANTIC DEDUP served from the published index — the SemDeDup
    * production shape (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): cluster the
    * corpus with the index's coarse quantizer, then inside each cluster
    * drop every vector whose cosine to ANY lower-id cluster-mate reaches
    * `tau` (the paper's upper-triangular similarity-matrix rule — the
    * decision depends only on earlier ids, never on whether the earlier
    * id was itself dropped, so it parallelizes with no sequential pass).
    *
    * Everything is read FROM the index generation the meta-manifest pins:
    * cell assignments from `coded`, float vectors (for the exact
    * within-cell cosines) from `vectors` — this is the pipeline consumer
    * the published index exists for, and a rebuild racing this query can
    * never mix generations (object scaladoc). One row per corpus vector:
    * (vec_id, cell_id, n_dup_lower, dup_witness, max_cosine_lower, keep).
    *
    * At 100 TB: clusters are the quadratic hazard — within-cell pairs go
    * through the same triangle-split used by the LSH pair scans
    * ([[Similarity.bucketSelfPairs]]: a hot cell's pair output spreads
    * over 36 shuffle keys instead of one task), and a production build
    * passes ~sqrt(N) cells so expected cell size is sqrt(N), keeping the
    * total pair count ~N^1.5 — never the corpus self-join. */
  def semanticDedup(spark: SparkSession, dir: String,
      tau: Double = 0.4): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val gen = generation(spark, dir)
    val coded = dropTombstoned(gen.read(spark, "coded"), gen.tombstoned(spark))
      .select(col("vec_id"), col("cell_id"))
    val vectors = gen.read(spark, "vectors")
    val members = coded.join(vectors, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), lit(0L).as("label"),
        col("cell_id").as("bucket"))
    val pairs = Similarity.bucketSelfPairs(members)
      .select(
        col("__a.vec_id").as("vec_lo"), col("__b.vec_id").as("vec_hi"),
        expr("cosine_sim(__a.embedding, __b.embedding)").as("cosine"))
    // roll up onto the HIGHER id: SemDeDup keeps the first (lowest-id)
    // member of every near-dup set and drops later ones
    val perHi = pairs
      .groupBy(col("vec_hi").as("vec_id"))
      .agg(
        max(col("cosine")).as("max_cosine_lower"),
        count(when(col("cosine") >= tau, lit(1))).as("n_dup_lower"),
        min(when(col("cosine") >= tau, col("vec_lo"))).as("dup_witness"))
    coded.join(perHi, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("n_dup_lower"), lit(0L)).as("n_dup_lower"),
        col("dup_witness"), col("max_cosine_lower"),
        (coalesce(col("n_dup_lower"), lit(0L)) === 0).as("keep"))
  }

  /** The full build→serve semantic-dedup pipeline over `ctx`'s corpus —
    * the Registry's `dedup_semantic` entry: publish a fresh index
    * generation sized production-style (ceil(sqrt(N)) coarse cells, so
    * expected cell occupancy is ~sqrt(N) and the within-cell pair scan is
    * ~N^1.5, never quadratic), then run [[semanticDedup]] against the
    * pinned generation just committed. EAGER by nature and by name: an
    * index BUILD is actions (the Versioned publishes) — consumers timing
    * this entry must start their clock before construction, which the
    * driver's inclusive fn(spark, dir) timing and the in-repo bench do.
    * The index lives at [[pipelineDir]]; old generations are vacuumed
    * age-guarded (never the one just published), so repeated runs don't
    * accrete forever. */
  def semanticDedupPipeline(ctx: Ctx, tau: Double = 0.4): DataFrame = {
    val dir = publishPipelineIndex(ctx, "semdedup") { dir =>
      val n = ctx.tbl("embeddings").count()
      build(ctx, dir, nCells = math.ceil(math.sqrt(n.toDouble)).toInt)
    }
    semanticDedup(ctx.spark, dir, tau)
  }

  /** Where a declared pipeline of `kind` keeps its index over `ctx`'s
    * corpus: under the SparkContext's own scratch root
    * (`SparkFiles.getRootDirectory()`, the driver temp dir that
    * `SparkEnv.stop` deletes recursively), so an index lives no longer
    * than the context that built it; keyed by the corpus dir. */
  private[graft] def pipelineDir(ctx: Ctx, kind: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(ctx.dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${org.apache.spark.SparkFiles.getRootDirectory()}/graft-$kind/$digest"
  }

  /** Publish a fresh generation with `build` at [[pipelineDir]], then
    * vacuum the older generations (never the one just published): Bench
    * draws rebuild the index repeatedly within one context. */
  private def publishPipelineIndex(ctx: Ctx, kind: String)(
      build: String => Unit): String = {
    val dir = pipelineDir(ctx, kind)
    build(dir)
    (Tables :+ "meta").foreach(t =>
      Versioned.vacuum(ctx.spark, s"$dir/$t", keepVersions = 2))
    dir
  }

  /** Index-served FILTERED search as a declared pipeline — the registry
    * twin of [[Similarity.annIvfPq]] plus a stored-attribute predicate:
    * builds the default-geometry index WITH `label` as a stored attribute
    * (build metaCols) under [[pipelineDir]], then serves the
    * standard query set (vec_id in [10, 20)) restricted MAP-SIDE to
    * vec_id 0's label. The predicate prunes the coded candidate stream
    * before ADC, so the shortlist and the final k are drawn entirely from
    * admissible vectors. EAGER at construction like
    * [[semanticDedupPipeline]] (an index build is actions; the driver
    * times the pipeline inclusively); the oracle mirrors the full IVFADC
    * math with the same pre-shortlist label filter. */
  def filteredServePipeline(ctx: Ctx): DataFrame = {
    val dir = publishPipelineIndex(ctx, "annfiltered") { dir =>
      build(ctx, dir, metaCols = Seq("label"))
    }
    val emb = ctx.tbl("embeddings")
    // take(1), not head(): on embeddings without a vec_id 0 (graft-synth
    // numbers ids from 1) the label is NULL and nothing matches — an empty
    // result, as the DuckDB twin's scalar subquery gives
    val target = emb.filter(col("vec_id") === 0).select("label").take(1)
      .headOption.map(_.get(0)).orNull
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    query(ctx.spark, dir, queries, where = Some(col("label") === target))
  }
}
