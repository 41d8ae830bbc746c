package graft

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Write-time lake layouts: how a table's rows are placed in files so that
  * consumers skip or avoid work at scale.
  *
  *  - [[Lake.writeBucketed]]: bucketing by the downstream join/aggregation
  *    key, so consumers join bucket-to-bucket with NO shuffle of the big
  *    side (BucketedJoinSpec: the bucketed fact ⋈ fact plan has no
  *    Exchange);
  *  - [[Lake.writeTimePartitioned]]: date partitions + range-sorted files,
  *    for partition pruning and row-group skipping on one sort key;
  *  - [[Lake.writeZOrdered]] / [[Lake.writeZOrderedQuantile]]: Morton
  *    clustering, for file skipping on either of two predicate columns.
  *
  * Each writer replaces its target in one Spark write. Rewriting a table's
  * data in place (upsert, compaction) is [[Versioned]]'s job: one commit
  * protocol, an atomic manifest publish, no rename of live data.
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
}
