package graft

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Cluster-scale materialization: bucketed table writes.
  *
  * Locally, Store persists hot mid-DAG tables in memory. On a real cluster
  * at 100 TB the same boundary is a bucketed parquet table: bucketing by the
  * downstream join/aggregation key means consumers join bucket-to-bucket
  * with NO shuffle of the big side (verified by BucketedJoinSpec: the
  * bucketed fact ⋈ fact plan contains no Exchange).
  */
object Lake {

  /** Write `df` as a bucketed, bucket-sorted parquet table registered in the
    * session catalog. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.drop(1): _*)
      .sortBy(keys.head, keys.drop(1): _*)
      .saveAsTable(table)

  /** Time-partitioned, range-sorted event-lake layout — the standard shape
    * for an append-heavy 100 TB fact stream:
    *
    *  - `partitionBy(dateCol)`: every date predicate becomes PARTITION
    *    PRUNING (directories never listed, `PartitionFilters` in the scan,
    *    proven in LakeLayoutSpec) — the difference between scanning a day
    *    and scanning a decade;
    *  - `repartitionByRange(sortCols)` before the write: rows land in files
    *    whose parquet column min/max stats are tight, narrow ranges, so
    *    predicates on the sort key also skip whole ROW GROUPS inside each
    *    partition (the poor man's Z-order, exact for one dimension);
    *  - `sortWithinPartitions`: ordered pages compress better and keep
    *    predicate evaluation sequential.
    *
    * `partitions` bounds file count per date directory — at cluster scale
    * set it so files land near the fs block size, not in thousands of
    * KB-sized shards. */
  def writeTimePartitioned(df: DataFrame, path: String, dateCol: String,
      sortCols: Seq[String], partitions: Int = 4): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(partitions, sortCols.map(col): _*)
      .sortWithinPartitions(dateCol, sortCols: _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(dateCol)
      .parquet(path)
  }

  /** Z-ordered layout — multi-dimensional data skipping for tables queried
    * by MORE than one predicate column (the writeTimePartitioned sort is
    * exact for one dimension and useless for the second):
    * cluster rows by the Morton interleave of the two dimension values
    * ([[graft.functions.MortonCode]], codegen'd), then range-partition and
    * sort by that code. Every file then covers one compact quad-tree
    * region of the (dimA, dimB) plane, so its parquet min/max stats are
    * tight in BOTH columns and a selective predicate on EITHER skips most
    * files (proven with the scan's own numFiles metric in
    * ZOrderLayoutSpec, against a linear layout where the second column
    * skips nothing). Dims are scaled to 0..2^16-1 by a broadcast min/max
    * (one tiny stats row, no global window, no extra big-side shuffle
    * beyond the range partitioning the write needs anyway); heavily skewed
    * dims starve code bits under linear scaling — there, use
    * [[writeZOrderedQuantile]] (sampled quantile cut points, same
    * interleave; ZOrderSpec measures the degeneration and the fix). */
  def writeZOrdered(df: DataFrame, path: String, dimA: String, dimB: String,
      partitions: Int = 16): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, max, min}
    graft.functions.MortonCode.register(df.sparkSession)
    val stats = df.agg(
      min(col(dimA)).cast("double").as("__a0"), max(col(dimA)).cast("double").as("__a1"),
      min(col(dimB)).cast("double").as("__b0"), max(col(dimB)).cast("double").as("__b1"))
    def bucket(c: String, lo: String, hi: String): String =
      s"CAST(floor((CAST($c AS DOUBLE) - $lo) / (($hi - $lo) / 65535.0 + 1e-300)) AS BIGINT)"
    df.crossJoin(broadcast(stats))
      .withColumn("__z", expr(
        s"zorder2(${bucket(dimA, "__a0", "__a1")}, ${bucket(dimB, "__b0", "__b1")})"))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__a0", "__a1", "__b0", "__b1")
      .write.mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** [[writeZOrdered]] with SAMPLED-QUANTILE cut points instead of linear
    * min/max scaling — the variant for HEAVILY SKEWED dimensions (the gap
    * the linear scaling note above documents): under linear scaling a
    * long-tailed dim packs almost every row into a handful of the 2^16
    * grid values (the tail stretches the [min,max] span), so the Morton
    * code's bits for that dim carry ~no information and files stop being
    * compact quads. Quantile bucketing assigns ~equal ROW COUNTS per grid
    * value — by construction immune to the value distribution — which is
    * exactly what Delta's OPTIMIZE ZORDER does (range_partition_id per
    * column before interleaving).
    *
    * Cuts come from ONE `approxQuantile` pass over both dims (sampled
    * Greenwald-Khanna sketch, driver gets `buckets-1` doubles per dim —
    * bounded metadata, never data); each row's bucket is found by a
    * BALANCED comparison tree (depth log2(buckets), plain nested CASE —
    * stays inside whole-stage codegen; an array binary-search UDF would
    * fall out of codegen and a 255-deep linear CASE chain would blow the
    * generated-method size). Nulls route to bucket 0. Duplicate cut
    * values (a single value holding >1/buckets of the rows) merge into
    * one bucket — the skew is then IN one grid value, which no layout can
    * split further without breaking stat tightness. ZOrderSpec proves the
    * property on a log-normal-style skewed distribution where the linear
    * variant degenerates. */
  def writeZOrderedQuantile(df: DataFrame, path: String, dimA: String,
      dimB: String, partitions: Int = 16, buckets: Int = 64): Unit = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{call_function, col, lit, when}
    graft.functions.MortonCode.register(df.sparkSession)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val cast = df
      .withColumn("__qa", col(dimA).cast("double"))
      .withColumn("__qb", col(dimB).cast("double"))
    val Array(rawA, rawB) =
      cast.stat.approxQuantile(Array("__qa", "__qb"), probs, 0.001)
    def bucketOf(c: Column, cutsRaw: Array[Double]): Column = {
      val cuts = cutsRaw.distinct.sorted
      // bucket = |{cut : cut <= c}| via a balanced tree over [0, cuts.len]
      def tree(lo: Int, hi: Int): Column =
        if (lo == hi) lit(lo.toLong)
        else {
          val mid = (lo + hi + 1) / 2
          when(c >= cuts(mid - 1), tree(mid, hi)).otherwise(tree(lo, mid - 1))
        }
      if (cuts.isEmpty) lit(0L) else tree(0, cuts.length)
    }
    cast
      .withColumn("__z", call_function("zorder2",
        bucketOf(col("__qa"), rawA), bucketOf(col("__qb"), rawB)))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__qa", "__qb")
      .write.mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** Small-file compaction — the routine operational fix for streaming /
    * incremental sinks that accrete thousands of tiny files per partition
    * (each costing a task, a footer read, and a namenode entry at scale).
    * Rewrites `path` in place to ONE file per date partition (hash-
    * clustering rows by date routes each date to exactly one of
    * `parallelism` concurrent reducers), preserving the partition layout
    * and every row. The rewrite goes through a temp dir then a rename
    * swap, so a crashed compaction leaves the original data intact. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      dateCol: String, parallelism: Int = 8,
      sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val tmp = path + "__compact_tmp"
    spark.read.parquet(path)
      .repartition(parallelism, col(dateCol))
      // re-sorting inside each rewritten file preserves the tight per-file
      // min/max spans the sorted-write layouts exist for — compaction must
      // not trade file count for dead row-group skipping
      .sortWithinPartitions((col(dateCol) +: sortCols.map(col)): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(dateCol).parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + "__compact_old")
    // checked swap: on a failed second rename, restore the original and
    // abort rather than leaving the table path missing. A crash BETWEEN
    // the renames still leaves the full data at __compact_old (manual
    // recovery: rename it back); neither case loses rows.
    if (fs.exists(bak)) fs.delete(bak, true)
    require(fs.rename(dst, bak), s"compact: cannot move $dst aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)) {
      val restored = fs.rename(bak, dst)
      sys.error(s"compact: swap into $dst failed" +
        (if (restored) " (original restored)" else s" (ORIGINAL AT $bak)"))
    }
    fs.delete(bak, true)
    ()
  }

  /** [[compact]] restricted to the partitions that are actually fragmented
    * (≥ `minFiles` data files) — the shape a long-running streaming sink
    * needs: cold history is never re-read or re-written, so maintenance
    * I/O tracks the ACTIVE partitions, not the lake's lifetime size. Each
    * fragmented partition is rewritten independently through its own temp
    * dir + checked rename swap. Returns the compacted partition names.
    *
    * BIN-PACKED, not single-filed: the rewrite targets `targetFileBytes`
    * per output file (from the partition's on-disk size), so a huge
    * fragmented partition compacts through ceil(bytes/target) parallel
    * tasks into bounded files instead of funneling through one straggler
    * task — `coalesce(1)` here was a scale bug. With `sortCols` the pack
    * uses a RANGE repartition on the sort key + within-file sort, so the
    * tight per-file min/max spans (the point of the sorted layout) survive
    * compaction across multiple output files. */
  def compactFragmented(spark: org.apache.spark.sql.SparkSession, path: String,
      dateCol: String, minFiles: Int = 4,
      sortCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L << 20): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Nil
    // Data files live at the LEAF of the hive-style directory tree: descend
    // through any nested `k=v` levels under each `dateCol=` dir so layouts
    // like dateCol=…/source=… compact per-leaf instead of silently no-oping
    // (single-level layouts see exactly the old behavior).
    def leaves(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val subs = fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (subs.isEmpty) Seq(dir) else subs.flatMap(s => leaves(s.getPath))
    }
    val fragmented = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$dateCol="))
      .flatMap(s => leaves(s.getPath))
      .map(p => (p, fs.listStatus(p)
        .filter(_.getPath.getName.endsWith(".parquet"))))
      .collect { case (p, files) if files.length >= minFiles =>
        (p, files.map(_.getLen).sum)
      }
    fragmented.foreach { case (partDir, bytes) =>
      val tmp = new org.apache.hadoop.fs.Path(partDir.toString + "__compact_tmp")
      val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val src = spark.read.parquet(partDir.toString)
      val sorted =
        if (sortCols.nonEmpty)
          src.repartitionByRange(nOut, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        else src.repartition(nOut)
      sorted.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val bak = new org.apache.hadoop.fs.Path(partDir.toString + "__old")
      if (fs.exists(bak)) fs.delete(bak, true)
      require(fs.rename(partDir, bak), s"compactFragmented: cannot move $partDir")
      if (!fs.rename(tmp, partDir)) {
        val restored = fs.rename(bak, partDir)
        sys.error(s"compactFragmented: swap of $partDir failed" +
          (if (restored) " (original restored)" else s" (ORIGINAL AT $bak)"))
      }
      fs.delete(bak, true)
    }
    // root-relative names so nested leaves stay unambiguous
    // ("dt=…/source=…"); single-level layouts still read as before
    val rootUri = root.toUri.getPath.stripSuffix("/")
    fragmented.map(_._1.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"))
  }

  /** Keyed MERGE INTO (upsert) for a partitioned parquet lake — the late-
    * correction path [[graft.Incremental]]'s high-water-mark strategy
    * cannot serve: updates/inserts keyed by `keys` may land in ANY old
    * partition, and only those partitions may be touched.
    *
    * Cost model at 100 TB: proportional to the TOUCHED partitions, never
    * the table — (1) the update batch's distinct `partCol` values (a
    * metadata-sized list) select the partitions; (2) ONLY those partitions
    * are read back (predicate = partition pruning, proven in UpsertSpec);
    * (3) existing rows superseded by an update key are dropped via a
    * left-anti join (updates side is the small side — broadcast); (4) the
    * merged rows replace exactly those partition dirs via a temp-write +
    * rename swap. All other partition directories are never read or
    * rewritten (UpsertSpec pins their files byte-identical).
    *
    * Constraint (standard for event-grain facts): a key's `partCol` value
    * must be stable across versions — a "moved" row would leave its old
    * version in an untouched partition. */
  def upsert(spark: org.apache.spark.sql.SparkSession, path: String,
      updates: DataFrame, keys: Seq[String], partCol: String): Long = {
    import org.apache.spark.sql.functions.col
    val touched = updates.select(partCol).distinct().collect().map(_.get(0))
    val existing = spark.read.parquet(path)
      .filter(col(partCol).isInCollection(touched.toSeq))
    val kept = existing.join(
      org.apache.spark.sql.functions.broadcast(
        updates.select(keys.map(col): _*).distinct()),
      keys, "left_anti")
    val merged = kept.unionByName(updates.select(existing.columns.map(col): _*))
    // Spark refuses to overwrite a path it is reading (correctly — a failed
    // job would destroy its own input), so the merged partitions go through
    // a temp dir and a per-partition rename swap, same crash posture as
    // [[compact]]: originals are intact until their replacement is fully
    // written, and a crash mid-swap loses no partition (the __old backup
    // remains).
    val tmp = path + "__upsert_tmp"
    merged.write.partitionBy(partCol).mode(SaveMode.Overwrite).parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // swap by the temp dir's ACTUAL partition directory names (the writer
    // Hive-escapes special characters in partition values — reconstructing
    // names from raw values would miss those dirs), and CHECK every rename:
    // the backup is deleted only after its replacement landed, so no
    // failure mode silently drops a partition.
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath)
    written.foreach { src =>
      val part = src.getName
      val dst = new org.apache.hadoop.fs.Path(s"$path/$part")
      val bak = new org.apache.hadoop.fs.Path(s"$path/${part}__old")
      if (fs.exists(bak)) fs.delete(bak, true)
      val hadOld = fs.exists(dst)
      if (hadOld) require(fs.rename(dst, bak),
        s"upsert: cannot move $dst aside")
      if (!fs.rename(src, dst)) {
        val restored = !hadOld || fs.rename(bak, dst)
        sys.error(s"upsert: swap of $part failed" +
          (if (restored) " (original restored)" else s" (ORIGINAL AT $bak)"))
      }
      if (hadOld) fs.delete(bak, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    written.length.toLong
  }
}
