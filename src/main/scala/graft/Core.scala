package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Session + scale-factor-directory context every model function receives.
  *
  * Mirrors the reference's dbt `source()` resolution
  * (reference: models/_source/source_tpch.yml:3-20): a raw table name
  * resolves to one parquet file under the sf directory — or, when `dir` is
  * the `synth:sf=<N>` scheme, to the zero-storage `graft-synth` DSv2
  * generator at that scale factor (all 7 TPC-H tables), so scale
  * benchmarks need no pre-generated parquet at all.
  */
final case class Ctx(spark: SparkSession, dir: String) {
  def tbl(name: String): DataFrame =
    if (dir.startsWith("synth:sf=")) {
      // scheme options after the SF, comma-separated: `synth:sf=100,docs=zipf`
      // swaps the documents corpus for the high-cardinality Zipf-vocabulary
      // variant (sources/Synth `documents_zipf`) — same schema, production
      // token distribution, for bench legs whose cost depends on vocabulary
      // shape. Every consumer keeps asking for "documents"; the remap
      // happens here so plans are corpus-agnostic.
      val spec = dir.stripPrefix("synth:sf=").split(",")
      val opts = spec.tail.map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"malformed synth option '$kv' in $dir")
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap
      // unknown keys/values fail LOUDLY: a typo like `doc=zipf` or
      // `docs=zpif` silently served the degenerate 66-word corpus before,
      // mislabeling any bench artifact built on it (r11 advice)
      val unknownKeys = opts.keySet.diff(Set("docs"))
      require(unknownKeys.isEmpty,
        s"unrecognized synth option(s) ${unknownKeys.mkString(",")} in $dir " +
          "(known: docs=zipf)")
      opts.get("docs").foreach(v => require(v == "zipf",
        s"unrecognized docs corpus '$v' in $dir (known: zipf)"))
      val table =
        if (name == "documents" && opts.get("docs").contains("zipf"))
          "documents_zipf"
        else name
      spark.read.format("graft-synth")
        .option("table", table)
        .option("sf", spec.head.toDouble)
        .option("partitions", spark.sparkContext.defaultParallelism)
        .load()
    } else if (name == "events") Ctx.normalizedEvents(spark, s"$dir/$name.parquet")
    else Ctx.parquet(spark, s"$dir/$name.parquet")
}

object Ctx {
  /** Parquet source schemas per session, keyed on path and modification
    * time: inferring a schema runs a footer-reading Spark job, which every
    * plan constructor would otherwise pay again for every table it reads.
    * A rewritten source has a new modification time, so it is read again.
    * The map holds its sessions weakly, and its values do not reference
    * them, so a stopped session's entries go with it. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, Long), StructType]]()

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    // a missing source keeps Spark's own "Path does not exist" error
    val mtime =
      try Some(p.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(p).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    mtime.fold(spark.read.parquet(path)) { t =>
      val perSession = schemas.synchronized {
        var m = schemas.get(spark)
        if (m == null) { m = TrieMap.empty; schemas.put(spark, m) }
        m
      }
      spark.read.schema(perSession.getOrElseUpdate((path, t),
        spark.read.parquet(path).schema)).parquet(path)
    }
  }

  /** Schema-adaptive events loader — the ONE place `events.ts` is decoded.
    *
    * The testdata generator has shipped `ts` as parquet TIMESTAMP(NANOS)
    * (which vanilla Spark can only read as a raw nano count, via the legacy
    * conf) and as plain `timestamp[us]` (which Spark reads as
    * TIMESTAMP_NTZ) across generations. Every downstream plan — epoch
    * bucketing, sessionization gaps, the as-of join's integer tolerance —
    * does exact BIGINT nanosecond arithmetic, so normalize here to
    * epoch-nanos BIGINT whatever the file says and nothing downstream ever
    * sees the encoding. The DuckDB oracle twins use `epoch_ns(ts)` /
    * `epoch(ts)`, which are the same normalization on the oracle side.
    *
    * Session timezone is pinned UTC before the NTZ->instant cast: a naive
    * parquet timestamp must be interpreted as UTC wall-clock to land on the
    * same epoch integers DuckDB derives. TestdataSchemaSpec guards this
    * contract against the next drift. */
  def normalizedEvents(spark: SparkSession, path: String): DataFrame = {
    // must be set BEFORE the read resolves the footer schema; harmless
    // (unread) for non-NANOS files
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path)
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) read as the raw nano count
      case TimestampNTZType | TimestampType =>
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        sys.error(s"events.ts: unsupported parquet type $other at $path")
    }
  }
}

/** Materialization boundary for dbt `table` models.
  *
  * The reference materializes ods/wh models as tables (dbt_project.yml:31-34)
  * so ~40 downstream models reuse them instead of re-deriving the join tree.
  * Catalyst does NOT do cross-query reuse on its own, so we persist hot
  * mid-DAG nodes once per (session, sfDir). At cluster scale the same
  * boundary would be a bucketed-parquet write (bucketed by the join key)
  * instead of an in-memory persist; on local[32] at sf<=0.1 persist is right.
  */
object Store {
  private val cache = TrieMap[(String, String, String), DataFrame]()

  // stable per-session id: identityHashCode can collide after a stopped
  // session is garbage-collected, serving a dead session's cached plan
  private val ids = new java.util.WeakHashMap[SparkSession, String]()
  private def idOf(s: SparkSession): String = ids.synchronized {
    var id = ids.get(s)
    if (id == null) { id = java.util.UUID.randomUUID().toString; ids.put(s, id) }
    id
  }

  def table(ctx: Ctx, name: String)(build: => DataFrame): DataFrame =
    // synchronized: Runner.buildAll materializes models from a thread pool,
    // and a racing getOrElseUpdate could persist the same plan twice (only
    // plan CONSTRUCTION is serialized here — execution stays concurrent)
    cache.synchronized {
      cache.getOrElseUpdate(
        (idOf(ctx.spark), ctx.dir, name), {
          val df = build.persist(StorageLevel.MEMORY_AND_DISK)
          df
        })
    }

  /** Write-through swap for [[graft.Runner.buildAll]]: once a model's
    * parquet is on disk, downstream plans should read THAT (dbt's actual
    * execution model — each model selects from the materialized table of
    * its parents, not from a live query plan) instead of keeping a second
    * serialized copy in the block manager. Replaces the cached entry with
    * the parquet-backed relation and frees the in-build persist — without
    * this, a cold SF10 full build holds every table twice (output parquet
    * + persisted blocks) and the double footprint, not the data, is what
    * overruns local disk. No-op for models that were never Store-backed. */
  def swap(ctx: Ctx, name: String, replacement: => DataFrame): Unit =
    cache.synchronized {
      val key = (idOf(ctx.spark), ctx.dir, name)
      cache.get(key).foreach { old =>
        cache.put(key, replacement)
        old.unpersist(false); ()
      }
    }

  /** Memoize a built DataFrame per (session, sfDir) WITHOUT an extra
    * persist — for operators that manage their own persistence internally
    * (the cluster fixpoint loop already persists its labels): cross-query
    * reuse of the finished plan, not a second storage layer. clear() drops
    * the entry; its unpersist is a harmless no-op on the derived plan while
    * the operator's own tracked persists do the real freeing. */
  def memo(ctx: Ctx, name: String)(build: => DataFrame): DataFrame =
    cache.synchronized {
      cache.getOrElseUpdate((idOf(ctx.spark), ctx.dir, "memo:" + name), build)
    }

  // operator-internal persists (Scale.globalOrder, dedup clustering, ...)
  // registered here so clear() can free them with the table cache
  private val tracked = TrieMap[String, List[DataFrame]]()

  /** Register an operator-internal persisted relation for session-scoped
    * cleanup; returns the DataFrame unchanged. */
  def track(spark: SparkSession, df: DataFrame): DataFrame = {
    val id = idOf(spark)
    tracked.updateWith(id) {
      case Some(l) => Some(df :: l)
      case None    => Some(df :: Nil)
    }
    df
  }

  /** Unpersist and drop every entry of one session — table cache AND
    * tracked operator persists (frees executor memory across sfDir changes
    * / before a cold full-build measurement). */
  def clear(spark: SparkSession): Unit = {
    val id = idOf(spark)
    cache.keys.filter(_._1 == id).foreach { k =>
      cache.remove(k).foreach(df => { df.unpersist(false); () })
    }
    tracked.remove(id).foreach(_.foreach(df => { df.unpersist(false); () }))
  }
}

/** Spark-side equivalents of the reference's Jinja macros plus the
  * cross-engine numeric-parity helpers. Every helper here has an exact
  * textual twin in [[Oracle]] — the pair is what makes Spark results
  * hash-match the DuckDB oracle.
  *
  * Parity rules (empirically verified against DuckDB 1.0):
  *  - double -> decimal CAST rounds identically (shortest-repr HALF_UP) in
  *    both engines: safe.
  *  - decimal -> decimal scale-reducing CAST TRUNCATES in DuckDB but rounds
  *    in Spark: never emitted; scale reduction always goes through
  *    ROUND(x, s) (HALF_UP in both) first.
  *  - round() on DOUBLE diverges at decimal ties (1.005): never used.
  *  - decimal / decimal returns DOUBLE in DuckDB but DECIMAL in Spark:
  *    divisions are always written as double/double in both engines
  *    (IEEE-deterministic given identical operands).
  *  - avg() returns DOUBLE in DuckDB with engine-private accumulation:
  *    averages are always written as CAST(SUM(dec) AS DOUBLE)/COUNT(x).
  */
object Macros {
  /** Reference money type: macros/dt_convert_money.sql:1-3 (::decimal(16,4)). */
  val Money: DecimalType = DecimalType(16, 4)

  /** money() over a raw parquet double (values carry <= 4 decimal digits, so
    * exact-binary vs shortest-repr rounding agree): plain cast. */
  def money(c: Column): Column = c.cast(Money)

  /** money() over a decimal expression whose scale exceeds 4: round first so
    * DuckDB's truncating decimal->decimal cast never fires. */
  def moneyR(c: Column): Column = round(c, 4).cast(Money)

  /** Pin an aggregate/passthrough decimal to the oracle's sum type
    * (internal plumbing type; final outputs go to double via [[outD]]). */
  def pin4(c: Column): Column = c.cast(DecimalType(38, 4))

  /** Reference `round(x, s)` over a computed DOUBLE ratio, cross-engine
    * exact. DuckDB's ROUND(x, s) on double is round-half-away-from-zero of
    * the IEEE product x*10^s divided back down, and Spark's round(y, 0)
    * applies the same half-away rule at scale 0 — so
    * `round(x * 10^s, 0) / 10^s` in Spark is bit-identical to DuckDB's
    * `ROUND(x, s)` (verified on 600k adversarial values incl. scale ties,
    * ulp-neighbours of .5 boundaries, and negatives, at s=1..4). This
    * restores the reference's `round(x, 2)` on every ratio output
    * (e.g. models/intermediate/int_customer_lifetime_value.sql:25). */
  def rnd(c: Column, s: Int): Column = {
    val m = math.pow(10, s)
    round(c * m, 0) / m
  }

  /** Exact round-half-up division to money scale via scaled integer
    * arithmetic — for money amounts derived by division (base_price). Both
    * engines compute floor((E*10^4*2 + Q) / (2Q)) over exact integers, so no
    * binary-rounding rule is involved at all. Twin: Oracle.moneyDiv. */
  def moneyDiv(numer: String, denom: String): Column =
    expr(s"""CAST(CAST((CAST($numer * 10000 AS BIGINT) * 20000
            |     + CAST(NULLIF($denom, 0) * 10000 AS BIGINT))
            |    div (2 * CAST(NULLIF($denom, 0) * 10000 AS BIGINT)) AS DECIMAL(16,0))
            |  * CAST(0.0001 AS DECIMAL(5,4)) AS DECIMAL(16,4))""".stripMargin)

  /** Reference `round(x, s)` over a DECIMAL expression -> double output. */
  def rndDec(c: Column, s: Int): Column = round(c, s).cast(DoubleType)

  /** Output boundary: every declared query result casts DecimalType columns
    * to double. Decimal->double is correctly rounded in both Spark and
    * DuckDB (empirically verified), so the two engines produce bit-identical
    * float64 — immune to decimal precision/scale/rendering skew in the
    * driver's hash compare. Internal math stays decimal-exact. */
  def outD(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
        case _              => col(f.name)
      }
    }: _*)

  /** Deterministic cross-engine division (always through double). */
  def dv(a: Column, b: Column): Column = a.cast(DoubleType) / b.cast(DoubleType)

  /** nullif(c, 0) as used pervasively as a division guard. */
  def nullifZero(c: Column): Column = nullif(c, lit(0))
  def nullif(c: Column, v: Column): Column = when(c === v, lit(null)).otherwise(c)

  /** Exact, order-insensitive avg over a decimal column (null-skipping). */
  def avgE(c: Column): Column = sum(c).cast(DoubleType) / count(c)

  /** Deterministic sample stddev from exact sums: both engines' built-in
    * stddev uses engine-private (partition-order-dependent) accumulation, so
    * we compute sqrt((sum_sq - sum^2/n) / (n-1)) over exact integer/decimal
    * sums instead — identical IEEE ops in both engines. Twin: Oracle.stddevE. */
  def stddevE(c: Column): Column = {
    val s = sum(c).cast(DoubleType)
    val s2 = sum(c * c).cast(DoubleType)
    val n = count(c).cast(DoubleType)
    sqrt((s2 - s * s / n) / (n - lit(1d)))
  }

  /** dbt_utils.generate_surrogate_key (dbt_utils 1.3.3): md5 of
    * '-'-joined null-coalesced string casts. Reference usage:
    * models/ods/orders_items.sql:19, models/ods/parts_suppliers.sql:23. */
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("-",
      cols.map(c => coalesce(c.cast(StringType), lit("_dbt_utils_surrogate_key_null_"))): _*))

  /** dbt_housekeeping() audit columns (macros/dbt_housekeeping.sql:1-4).
    * Nondeterministic by design; excluded from all declared query outputs. */
  def housekeeping(runId: String, runTs: java.sql.Timestamp): Seq[Column] =
    Seq(lit(runId).as("dbt_batch_id"), lit(runTs).as("dbt_batch_ts"))
}
