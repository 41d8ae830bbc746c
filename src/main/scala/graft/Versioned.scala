package graft

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest-versioned tables — the lakehouse transaction-log pattern
  * (Delta/Iceberg's core idea) in its minimal correct form:
  *
  *  - data files are IMMUTABLE and write-once under hive-style
  *    `path/data/<partCol>=<v>/` dirs (unpartitioned: `path/data/`),
  *    with a per-commit uuid prefix keeping names collision-free;
  *  - what constitutes the table is a MANIFEST (`path/_log/v<n>.manifest`)
  *    listing the live files; committing a write = publishing one
  *    manifest file under the next version name;
  *  - readers resolve a manifest ONCE and scan exactly its files in one
  *    FileSourceScan (partition values come from the hive path fragments,
  *    decoded by Spark itself): a reader never sees a half-written table,
  *    concurrent writers never disturb a running query (snapshot
  *    isolation), and old versions stay readable (time travel) until
  *    vacuumed;
  *  - concurrent committers race on the publish; the loser re-resolves
  *    the latest version and retries (optimistic concurrency), and a
  *    retry that would overwrite files a concurrent commit changed in the
  *    same partitions ABORTS with a conflict instead of silently dropping
  *    the other writer's work (the Delta/Iceberg write-conflict rule).
  *
  * FS contract (stated, not assumed): on HDFS-semantics filesystems the
  * publish is a `FileContext.rename(tmp, dst, Rename.NONE)` — atomic and
  * fail-if-exists (same contract as Delta's HDFSLogStore). On `file:`
  * paths rename-no-overwrite is check-then-rename (TOCTOU), so the local
  * publish uses the POSIX atomic fail-if-exists primitive instead:
  * `link(2)` via `Files.createLink` — two processes racing the same
  * version cannot both win, and a crash leaves no lock to break (links
  * need no cleanup protocol, unlike lock files). In-process racers are
  * additionally serialized by a JVM lock (a fast path that avoids futile
  * staging retries, no longer a correctness requirement). Object stores
  * without atomic publish need an external log store — out of scope,
  * documented.
  *
  * At 100 TB the manifest is metadata (file list), the data plane is
  * plain parquet in one hive tree (so a snapshot of any partition count
  * is ONE scan, not a per-partition union), and `replacePartitions`
  * gives UPSERT/compaction an atomic publish: stage new files for the
  * touched partitions, commit one manifest that drops the old ones —
  * zero renames of live data.
  */
object Versioned {

  /** `part` is the RAW hive dir fragment value (still path-escaped,
    * `__HIVE_DEFAULT_PARTITION__` for null) — exactly what is on disk.
    * Partition matching (replacePartitions / conflict detection) compares
    * these fragments against OTHER fragments, never against decoded data
    * values, so values containing ':', '%', '/' or nulls round-trip
    * correctly; readers never consume `part` at all (Spark decodes the
    * hive path fragments natively at scan time). */
  final case class FileEntry(file: String, part: Option[String])

  /** `schema` is the full table schema DDL recorded at commit time, so a
    * read never pays a footer-inference job (and an empty snapshot can
    * still report its shape). None only on pre-r8 manifests. `props` are
    * the committer's own key/value facts about the version, read back
    * through the FS with no scan (empty on manifests that carry none). */
  final case class Manifest(version: Long, partCol: Option[String],
      partType: Option[String], files: Seq[FileEntry],
      schema: Option[String] = None, props: Map[String, String] = Map.empty)

  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = new Path(s"$path/_log")

  private val ManifestName = """v(\d{8})\.manifest""".r

  /** Highest committed version, or None for a fresh table. */
  def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    val fs = fsOf(spark, path)
    if (!fs.exists(logDir(path))) None
    else fs.listStatus(logDir(path)).toSeq
      .collect { case s if ManifestName.findFirstIn(s.getPath.getName).isDefined =>
        ManifestName.findFirstMatchIn(s.getPath.getName).get.group(1).toLong
      }.maxOption
  }

  // ---- manifest serialization: line-based, dependency-free ----
  private[graft] def render(m: Manifest): String = {
    val head = Seq(
      s"version=${m.version}",
      s"partCol=${m.partCol.getOrElse("")}",
      s"partType=${m.partType.getOrElse("")}") ++
      // DDL is single-line; key absent entirely on None (pre-r8 manifests)
      m.schema.map(s => s"schema=$s") ++
      m.props.toSeq.sorted.map { case (k, v) => s"prop.$k=$v" }
    // '\u0001' separator: never appears in hive-ESCAPED dir fragments
    // (escapePathName percent-encodes control chars)
    val files = m.files.map(f => s"file=${f.file}\u0001${f.part.getOrElse("")}")
    (head ++ files).mkString("\n")
  }

  private def parse(text: String): Manifest = {
    val lines = text.split("\n").toSeq
    def kv(k: String): String = lines.find(_.startsWith(s"$k="))
      .map(_.drop(k.length + 1)).getOrElse("")
    val files = lines.filter(_.startsWith("file=")).map { l =>
      val body = l.drop(5)
      val i = body.indexOf('\u0001')
      FileEntry(body.substring(0, i),
        Option(body.substring(i + 1)).filter(_.nonEmpty))
    }
    val props = lines.filter(_.startsWith("prop.")).map { l =>
      val i = l.indexOf('=')
      l.substring(5, i) -> l.substring(i + 1)
    }.toMap
    Manifest(kv("version").toLong,
      Option(kv("partCol")).filter(_.nonEmpty),
      Option(kv("partType")).filter(_.nonEmpty), files,
      Option(kv("schema")).filter(_.nonEmpty), props)
  }

  def readManifest(spark: SparkSession, path: String,
      version: Option[Long] = None): Manifest = {
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      sys.error(s"$path has no committed versions"))
    val fs = fsOf(spark, path)
    val p = new Path(logDir(path), f"v$v%08d.manifest")
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      parse(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
    } finally in.close()
  }

  // serializes in-process committers per table path — a fast path that
  // avoids futile publish retries; cross-process safety comes from the
  // atomic publish primitive itself (see the FS contract above)
  private val localLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  // test hook: runs after the tmp manifest is written, before the publish
  // — lets a spec inject a competing committer ("another process") at
  // exactly the contested version, deterministically exercising the
  // lost-race path through the real publish primitive
  private[graft] var raceInjector: Option[(String, Long) => Unit] = None

  /** Atomic fail-if-exists publish of `tmp` as `dst`. HDFS-semantics
    * filesystems: rename with `Rename.NONE`. `file:` paths: `link(2)` via
    * `Files.createLink` — POSIX-atomic and EEXIST-failing, closing the
    * check-then-rename TOCTOU window LocalFileSystem has (and leaving no
    * crash-orphaned lock to break). Throws a FileAlreadyExists-family
    * exception when `dst` is already taken. */
  private def publishNoOverwrite(spark: SparkSession, fs: FileSystem,
      tmp: Path, dst: Path): Unit = {
    val qTmp = fs.makeQualified(tmp)
    if (Option(dst.toUri.getScheme).forall(_ == "file")) {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.Paths.get(qTmp.toUri.getPath))
      fs.delete(tmp, false)
      ()
    } else
      FileContext.getFileContext(dst.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(qTmp, dst, Options.Rename.NONE)
  }

  /** Commit via tmp-write + atomic no-overwrite publish; on a lost race
    * (version taken), recompute against the NEW latest and retry. `build`
    * receives the previous manifest (None for a fresh table) and returns
    * the new file list, partition metadata and table schema DDL — or
    * throws [[CommitConflictException]] if the new tip conflicts with
    * what the caller staged. */
  private def commit(spark: SparkSession, path: String,
      props: Map[String, String] = Map.empty)(
      build: Option[Manifest] =>
        (Seq[FileEntry], Option[String], Option[String], Option[String])): Long = {
    val fs = fsOf(spark, path)
    fs.mkdirs(logDir(path))
    val lock = localLocks.getOrElseUpdate(
      fs.makeQualified(new Path(path)).toString, new Object)
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val won = lock.synchronized {
        val prevV = latestVersion(spark, path)
        val prev = prevV.map(v => readManifest(spark, path, Some(v)))
        val (files, pc, pt, ddl) = build(prev)
        val next = prevV.getOrElse(-1L) + 1
        val m = Manifest(next, pc, pt, files, ddl, props)
        val tmp = new Path(logDir(path),
          s".v$next-${java.util.UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, false)
        try out.write(render(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        raceInjector.foreach(f => f(path, next))
        val dst = fs.makeQualified(new Path(logDir(path), f"v$next%08d.manifest"))
        try {
          publishNoOverwrite(spark, fs, tmp, dst)
          Some(next)
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException |
               _: org.apache.hadoop.fs.PathExistsException =>
            fs.delete(tmp, false) // lost the race — retry against the new tip
            None
        }
      }
      won.foreach(v => return v)
    }
    sys.error(s"commit to $path lost ${attempts} optimistic races; giving up")
  }

  /** Stage `df` as immutable files in the table's ONE hive tree
    * (`data/<partCol>=<v>/<uuid>-<part file>`), via a tmp write + per-file
    * rename into place (files are invisible to readers until a manifest
    * references them, so this move needs no atomicity). Returns entries
    * whose `part` is the raw dir fragment value. Hash-clustered, a
    * partition is staged as one file; an [[upsert]] stages up to two per
    * touched partition (its kept rows and its update rows). */
  private def stage(df: DataFrame, path: String,
      partitionBy: Option[String], hashCluster: Boolean = true): Seq[FileEntry] = {
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = s"$path/_stage/$uuid"
    partitionBy match {
      // cluster by the partition column before the dynamic-partition write
      // (Iceberg's write.distribution-mode=hash): without it every task
      // holding rows of K partition values opens K files — up to tasks × K
      // tiny files per commit, each paying an open + close + rename (r13,
      // guide §6 small-files). Hash-clustered, each partition value lands in
      // exactly one task → one file per partition. A partition too large for
      // one file splits via spark.sql.files.maxRecordsPerFile when set.
      // [[compact]] and [[upsert]] arrive already laid out and opt out:
      // compact has one partition value per task, range-sorted; upsert has
      // each bin's kept rows in one task and its update rows clustered, so
      // a touched partition gets at most two files, kept and updated.
      case Some(pc) =>
        (if (hashCluster) df.repartition(col(pc)) else df)
          .write.partitionBy(pc).parquet(tmp)
      case None => df.write.parquet(tmp)
    }
    val fs = fsOf(df.sparkSession, path)
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath) else Nil
    }
    val entries = walk(new Path(tmp)).map { f =>
      val part = partitionBy.map { pc =>
        val frag = f.getParent.getName
        require(frag.startsWith(s"$pc="), s"unexpected staged layout at $f")
        frag.stripPrefix(s"$pc=")
      }
      val rel = part match {
        case Some(pv) => s"data/${partitionBy.get}=$pv/$uuid-${f.getName}"
        case None => s"data/$uuid-${f.getName}"
      }
      val dst = new Path(s"$path/$rel")
      fs.mkdirs(dst.getParent)
      require(fs.rename(f, dst), s"staging move failed: $f -> $dst")
      FileEntry(rel, part)
    }
    fs.delete(new Path(s"$path/_stage/$uuid"), true)
    entries
  }

  /** Write a new snapshot. `mode` = "overwrite" (files replace the table)
    * or "append". Returns the committed version.
    *
    * `appendBase`: append onto the files of THAT version instead of the
    * tip. This is how a caller whose notion of "current" is pinned
    * externally (e.g. AnnIndex's meta generation) makes a retried append
    * exactly-once: a crashed earlier attempt leaves orphan files on the
    * TIP, and a tip-based append would carry them into the new snapshot —
    * duplicating the batch. Appending from the pinned base discards
    * orphans by construction. Callers using it accept that concurrent
    * appends to the same table serialize externally (the same contract
    * concurrent builds already have: last meta commit wins). */
  def write(df: DataFrame, path: String, mode: String = "overwrite",
      partitionBy: Option[String] = None,
      appendBase: Option[Long] = None): Long =
    publish(df, path, mode, partitionBy, appendBase, Map.empty)

  /** Overwrite the table with `df` as [[write]] does, recording `props`
    * in the committed manifest ([[Manifest.props]]). Keys are names
    * without '=' and values single-line. */
  private[graft] def writeWithProps(df: DataFrame, path: String,
      props: Map[String, String]): Long = {
    require(props.forall { case (k, v) =>
      k.nonEmpty && !k.exists("=\n".contains(_)) && !v.contains('\n') },
      s"manifest props need '='-free keys and single-line values: $props")
    publish(df, path, "overwrite", None, None, props)
  }

  private def publish(df: DataFrame, path: String, mode: String,
      partitionBy: Option[String], appendBase: Option[Long],
      props: Map[String, String]): Long = {
    require(appendBase.isEmpty || mode == "append",
      s"appendBase only applies to mode=append (got mode=$mode)")
    val partType = partitionBy.map(pc => df.schema(pc).dataType.sql)
    val ddl = df.schema.toDDL
    val spark = df.sparkSession
    val baseFiles = appendBase.map(v => readManifest(spark, path, Some(v)).files)
    val staged = stage(df, path, partitionBy)
    commit(spark, path, props) { prev =>
      val kept = mode match {
        case "overwrite" => Nil
        case "append" => baseFiles.getOrElse(prev.map(_.files).getOrElse(Nil))
        case other => sys.error(s"unknown mode $other")
      }
      (kept ++ staged, partitionBy.orElse(prev.flatMap(_.partCol)),
        partType.orElse(prev.flatMap(_.partType)), Some(ddl))
    }
  }

  /** Atomically replace exactly the partitions present in `df` — the
    * transactional publish for upsert/compaction maintenance: stage the
    * rewritten partitions, commit one manifest that swaps them in. A
    * crash before the commit leaves the table untouched (orphan staged
    * files only); readers never see a partial state.
    *
    * `baseVersion` is the snapshot the replacement was COMPUTED from
    * (defaults to the tip at entry). If, by commit time, a concurrent
    * commit has changed any of the touched partitions since that base,
    * the commit ABORTS with [[CommitConflictException]] — retrying
    * blindly would drop the concurrent writer's files (lost update).
    * Concurrent commits to OTHER partitions are merged and win together.
    */
  def replacePartitions(df: DataFrame, path: String, partCol: String,
      baseVersion: Option[Long] = None): Long =
    replace(df, path, partCol, baseVersion, hashCluster = true)

  private def replace(df: DataFrame, path: String, partCol: String,
      baseVersion: Option[Long], hashCluster: Boolean): Long = {
    val spark = df.sparkSession
    val base = baseVersion.orElse(latestVersion(spark, path))
      .map(v => readManifest(spark, path, Some(v)))
    val staged = stage(df, path, Some(partCol), hashCluster)
    val replaced = staged.flatMap(_.part).toSet
    val partType = df.schema(partCol).dataType.sql
    def touchedFiles(m: Option[Manifest]): Set[String] =
      m.map(_.files).getOrElse(Nil)
        .filter(_.part.exists(replaced.contains)).map(_.file).toSet
    val baseTouched = touchedFiles(base)
    commit(spark, path) { prev =>
      if (touchedFiles(prev) != baseTouched)
        throw new CommitConflictException(
          s"partitions ${replaced.mkString(",")} of $path changed " +
            s"concurrently since version ${base.map(_.version).getOrElse(-1L)}")
      val kept = prev.map(_.files).getOrElse(Nil)
        .filterNot(f => f.part.exists(replaced.contains))
      (kept ++ staged, Some(partCol), Some(partType), Some(df.schema.toDDL))
    }
  }

  /** Read a snapshot (latest, or `version` for time travel): ONE
    * FileSourceScan over the manifest's file list whatever the partition
    * count. Partition values decode from the hive path fragments
    * (`basePath` anchors the inference); the explicit schema pins the
    * partition column to the manifest's recorded type, so string
    * partitions like "00123" or "a:b" round-trip exactly. No directory
    * listing of the data plane ever happens — the manifest IS the file
    * index. */
  def read(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val m = readManifest(spark, path, version)
    require(m.files.nonEmpty,
      s"version ${m.version} of $path is an empty snapshot (no data files); " +
        s"schema: ${m.schema.getOrElse("<unrecorded>")}")
    scan(spark, path, m, m.files)
  }

  /** The rows `version` added on top of `base`: one scan of the files
    * `version`'s manifest lists and `base`'s does not, under `version`'s
    * recorded schema. After `write(df, path, "append", appendBase =
    * Some(base))` these are exactly the rows `df` wrote, read back without
    * evaluating `df` again. */
  def readAdded(spark: SparkSession, path: String, base: Long,
      version: Long): DataFrame = {
    val m = readManifest(spark, path, Some(version))
    val old = readManifest(spark, path, Some(base)).files.toSet
    scan(spark, path, m, m.files.filterNot(old))
  }

  /** One FileSourceScan over `files`, a subset of manifest `m`'s list. */
  private def scan(spark: SparkSession, path: String, m: Manifest,
      files: Seq[FileEntry]): DataFrame = {
    def abs(f: FileEntry) = s"$path/${f.file}"
    // commit-time recorded schema: no footer-inference job on read. The
    // head-file inference remains only for pre-r8 manifests.
    def recorded: Option[StructType] =
      m.schema.map(ddl => DataType.fromDDL(ddl).asInstanceOf[StructType])
    (m.partCol, m.partType) match {
      case (Some(pc), Some(pt)) =>
        val full = recorded.getOrElse {
          val dataSchema = spark.read.parquet(abs(files.head)).schema
          StructType(dataSchema.fields.filterNot(_.name == pc) :+
            org.apache.spark.sql.types.StructField(pc, DataType.fromDDL(pt)))
        }
        spark.read
          .option("basePath", s"$path/data")
          .schema(full)
          .parquet(files.map(abs): _*)
      case _ =>
        recorded match {
          case Some(s) => spark.read.schema(s).parquet(files.map(abs): _*)
          case None => spark.read.parquet(files.map(abs): _*)
        }
    }
  }

  /** Transactional keyed MERGE INTO (upsert) — the late-correction path
    * [[graft.Incremental]]'s high-water-mark strategy cannot serve:
    * updates/inserts keyed by `keys` may land in ANY old partition, and
    * only those partitions may be touched.
    *
    * Cost ∝ the TOUCHED partitions, never the table, and only the update
    * rows cross an exchange (a low-shuffle MERGE):
    *  - the update batch's distinct `partCol` values (a metadata-sized
    *    list, collected without a shuffle) are rendered as the hive dir
    *    fragments the writer makes of them, so they select the touched
    *    partitions' files straight from the manifest (nulls and escaped
    *    strings like `a:b` included);
    *  - those whole partitions are bin-packed by bytes to [[compact]]'s
    *    target; each bin is one scan of its files, a broadcast left-anti
    *    join dropping the rows an update key supersedes, and one task
    *    (`coalesce(1)`) that writes each of its partitions' kept rows as
    *    one file — no exchange;
    *  - only the update rows are hash-clustered on `partCol`, one task and
    *    so one file per partition.
    * So a touched partition leaves the commit with at most two files, its
    * kept file and its update file; the next upsert into it reads both in
    * one bin and folds them back into one kept file, so the count does not
    * grow. Every other partition keeps its manifest entries and files
    * untouched (UpsertSpec pins the layout, that the update rows are the
    * one shuffle, and that the table is read in one scan at one bin).
    *
    * With two or more bins the batch holds two or more partition values,
    * so its hash exchange never reports a single partition and Spark's
    * union keeps every bin its own task; one bin and a one-partition batch
    * may be zipped into one task, which then writes one file per partition.
    *
    * The publish is atomic: a crash at any point leaves the previous
    * version fully readable, concurrent readers never observe the
    * intermediate state, and a concurrent commit into the same
    * partitions aborts with [[CommitConflictException]] (lost updates are
    * impossible, not just unlikely). Constraint (standard for event-grain
    * facts): a key's `partCol` value must not change across versions — a
    * "moved" row would leave its old version in an untouched partition. */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], partCol: String): Long = {
    import org.apache.spark.sql.functions.broadcast
    val m = readManifest(spark, path)
    // the writer's own fragment of a value: cast to string, escaped, null
    // or "" as __HIVE_DEFAULT_PARTITION__; each task de-duplicates its own
    // values, so the collect needs no shuffle
    val touched = updates.select(col(partCol).cast("string")).rdd
      .mapPartitions(_.map(_.getString(0)).toSet.iterator).collect()
      .map(ExternalCatalogUtils.getPartitionValueString).toSet
    val target = splitBytes(spark)
    // next-fit over whole partitions: a bin closes once the next partition
    // would take it past the target
    val bins = m.files.filter(_.part.exists(touched)).groupBy(_.part.get).toSeq.sortBy(_._1)
      .map { case (_, files) => (bytesOf(spark, path, files), files) }
      .foldLeft(List.empty[(Long, Seq[FileEntry])]) {
        case ((used, bin) :: rest, (bytes, files)) if used + bytes <= target =>
          (used + bytes, bin ++ files) :: rest
        case (acc, partition) => partition :: acc
      }.reverse.map(_._2)
    // a left-anti join keeps the same rows whether or not the broadcast
    // keys repeat, so they need no de-duplicating shuffle
    val superseded = broadcast(updates.select(keys.map(col): _*))
    val kept = bins.map(files =>
      scan(spark, path, m, files).join(superseded, keys, "left_anti").coalesce(1))
    // the table's column order; constructing a scan runs no job
    val columns = scan(spark, path, m, m.files.take(1)).columns.map(col)
    val merged = kept.foldRight(updates.select(columns: _*).repartition(col(partCol)))(_ union _)
    replace(merged, path, partCol, Some(m.version), hashCluster = false)
  }

  /** Small-file compaction as one commit (Delta's OPTIMIZE): the routine
    * fix for streaming/incremental writers that accrete many tiny files per
    * partition, each costing a task, a footer read and a namenode entry.
    *
    *  - Only FRAGMENTED partitions (≥ `minFiles` files in the latest
    *    manifest) are rewritten: cold history is never re-read, so
    *    maintenance I/O tracks the active partitions, not the table's
    *    lifetime size. Each is read back from exactly its manifest files.
    *  - Each is BIN-PACKED into ceil(bytes / target) files written by that
    *    many tasks, the target being Spark's own
    *    `spark.sql.files.maxPartitionBytes` (the split size a reader wants
    *    anyway): a huge partition never funnels through one straggler task.
    *  - With `sortCols` each partition is range-partitioned on them and
    *    sorted within each file, so the tight per-file min/max spans the
    *    sorted layouts exist for survive compaction.
    *  - All rewritten partitions publish in ONE [[replacePartitions]]-style
    *    commit based on the manifest they were chosen from: readers see the
    *    old or the new layout, never a mix; earlier versions stay readable
    *    until [[vacuum]]; a concurrent commit into the same partitions
    *    aborts the compaction instead of being lost.
    *
    * Returns the raw partition values compacted (empty: nothing to do). */
  def compact(spark: SparkSession, path: String, minFiles: Int = 4,
      sortCols: Seq[String] = Nil): Seq[String] = {
    val m = readManifest(spark, path)
    val pc = m.partCol.getOrElse(sys.error(s"compact: $path is not partitioned"))
    val fragmented = m.files.groupBy(_.part).toSeq.collect {
      case (Some(pv), files) if files.size >= minFiles => pv -> files
    }.sortBy(_._1)
    if (fragmented.isEmpty) return Nil
    val target = splitBytes(spark)
    // one input per partition, so every write task holds ONE partition
    // value and writes one file; the union keeps each input's partitioning
    val packed = fragmented.map { case (_, files) =>
      val n = math.max(1L, (bytesOf(spark, path, files) + target - 1) / target).toInt
      val src = scan(spark, path, m, files)
      if (sortCols.isEmpty) src.repartition(n)
      else src.repartitionByRange(n, sortCols.map(col): _*)
    }.reduce(_ union _)
      // partition column first: it is the order the dynamic-partition
      // writer requires, so it adds no sort of its own over this one
      .sortWithinPartitions((pc +: sortCols).map(col): _*)
    replace(packed, path, pc, Some(m.version), hashCluster = false)
    fragmented.map(_._1)
  }

  /** Spark's split size, `spark.sql.files.maxPartitionBytes`: the bytes
    * one read task wants, and so the size [[compact]] and [[upsert]] pack
    * their rewritten partitions to. */
  private def splitBytes(spark: SparkSession): Long = math.max(1L, org.apache.spark.network
    .util.JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes")))

  /** The on-disk bytes of `files`. */
  private def bytesOf(spark: SparkSession, path: String, files: Seq[FileEntry]): Long = {
    val fs = fsOf(spark, path)
    files.map(f => fs.getFileStatus(new Path(s"$path/${f.file}")).getLen).sum
  }

  /** Delete data files no longer referenced by any manifest newer than
    * `keepVersions` back — the GC that makes time travel bounded.
    * Age-guarded like Delta's VACUUM: an unreferenced file is only
    * removed once older than `retentionMs` (modification time), so files
    * STAGED by an in-flight commit — on disk but not yet referenced by
    * any manifest — are never destroyed by a concurrent vacuum. Tests
    * that want eager GC pass retentionMs = 0 AFTER their commits land. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 2,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Long = {
    val fs = fsOf(spark, path)
    val latest = latestVersion(spark, path).getOrElse(return 0L)
    val keep = (math.max(0L, latest - keepVersions + 1) to latest)
      .flatMap(v => readManifest(spark, path, Some(v)).files.map(_.file)).toSet
    // drop superseded manifests too
    (0L until math.max(0L, latest - keepVersions + 1)).foreach { v =>
      fs.delete(new Path(logDir(path), f"v$v%08d.manifest"), false)
    }
    val dataRoot = new Path(s"$path/data")
    if (!fs.exists(dataRoot)) return 0L
    val cutoff = System.currentTimeMillis() - retentionMs
    var removed = 0L
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      if (s.isDirectory) {
        walk(s.getPath)
        if (fs.listStatus(s.getPath).isEmpty) { fs.delete(s.getPath, false); () }
      } else {
        val rel = fs.makeQualified(s.getPath).toString
          .stripPrefix(fs.makeQualified(new Path(path)).toString).stripPrefix("/")
        if (s.getPath.getName.endsWith(".parquet") && !keep.contains(rel)
            && s.getModificationTime < cutoff) {
          fs.delete(s.getPath, false); removed += 1
        }
      }
    }
    walk(dataRoot)
    removed
  }
}
