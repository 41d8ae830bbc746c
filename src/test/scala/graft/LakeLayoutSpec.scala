package graft

import org.apache.spark.sql.functions._

/** Event-lake layout posture (Lake.writeTimePartitioned / Versioned.compact):
  * at 100 TB the difference between scanning a day and scanning the corpus
  * is (a) directory-level partition pruning and (b) tight per-file sort-key
  * ranges for row-group skipping — both are write-time decisions, so prove
  * the written layout actually delivers them, and that compaction preserves
  * the row multiset while collapsing the file count. */
class LakeLayoutSpec extends SparkSpec {
  private def events = {
    import spark.implicits._
    spark.range(40000).select(
      col("id").as("event_id"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 8).cast("int")).as("dt"),
      (col("id") * 37 % 100000).as("user_id"),
      (col("id") % 1000).cast("double").as("value"))
  }

  test("writeTimePartitioned: date predicate becomes partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("lake_tp").toString
    Lake.writeTimePartitioned(events, dir, "dt", Seq("user_id"))
    val back = spark.read.parquet(dir)
    val q = back.filter(col("dt") === lit(java.sql.Date.valueOf("2024-01-03")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no PartitionFilters in:\n$plan")
    // pruning is real, not cosmetic: only the one matched date directory's
    // files are read (the scan's own numFiles metric, after execution)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.get
    }
    val scanned = filesRead(q)
    val allFiles = filesRead(back)
    assert(scanned * 8 <= allFiles + 7,
      s"pruned scan still reads $scanned of $allFiles files")
    assert(q.count() == 5000)
  }

  test("writeTimePartitioned: files carry tight, disjoint sort-key ranges") {
    val dir = java.nio.file.Files.createTempDirectory("lake_rs").toString
    Lake.writeTimePartitioned(events, dir, "dt", Seq("user_id"), partitions = 4)
    // read each parquet file individually; its user_id span must be a
    // narrow slice of the global [0, 100000) domain — that tightness is
    // exactly what parquet row-group min/max skipping consumes
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 8, s"expected >=8 data files, got ${files.length}")
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("user_id"), max("user_id")).head()
      r.getLong(1) - r.getLong(0)
    }
    assert(spans.forall(_ <= 100000L / 3),
      s"file spans not tight: ${spans.mkString(",")}")
  }

  private def checksum(df: org.apache.spark.sql.DataFrame): Long =
    df.select(xxhash64(col("event_id"), col("user_id"), col("value")).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)

  /** `slices` appends of `df` into a Versioned table: one file per date
    * per append, the small-file shape a streaming writer leaves. */
  private def appendSlices(df: org.apache.spark.sql.DataFrame, dir: String,
      slices: Int): Unit =
    (0 until slices).foreach { i =>
      // dt is event_id % 8: slice on event_id / 8 so every slice spans every date
      Versioned.write(df.filter((col("event_id") / 8).cast("long") % slices === i), dir,
        mode = "append", partitionBy = Some("dt"))
    }

  test("compact: collapses to one file per date, preserves the row multiset") {
    val dir = java.nio.file.Files.createTempDirectory("lake_cp").toString
    appendSlices(events, dir, 6)
    val before = Versioned.readManifest(spark, dir)
    assert(before.files.size == 48, s"precondition: expected 48 shards, got ${before.files.size}")
    val checksumBefore = checksum(Versioned.read(spark, dir))
    val done = Versioned.compact(spark, dir)
    assert(done.size == 8, s"compacted: $done")
    val after = Versioned.readManifest(spark, dir)
    assert(after.version == before.version + 1, "compaction is not one commit")
    val perDate = after.files.groupBy(_.part).values.map(_.size)
    assert(perDate.size == 8 && perDate.forall(_ == 1),
      s"expected 1 file in each of 8 partitions, got ${perDate.mkString(",")}")
    val back = Versioned.read(spark, dir)
    assert(back.count() == 40000 && checksum(back) == checksumBefore)
    // the pre-compaction version still reads, whole
    assert(checksum(Versioned.read(spark, dir, Some(before.version))) == checksumBefore)
  }

  test("compact bin-packs a big partition into N>1 bounded files") {
    val dir = java.nio.file.Files.createTempDirectory("lake_bp").toString
    // one hot date fragmented into 16 shards; the rest have 1 file each
    val hotDate = lit(java.sql.Date.valueOf("2024-01-03"))
    Versioned.write(events.filter(col("dt") =!= hotDate), dir, partitionBy = Some("dt"))
    appendSlices(events.filter(col("dt") === hotDate), dir, 16)
    val before = Versioned.readManifest(spark, dir)
    val hotBefore = before.files.filter(_.part.contains("2024-01-03"))
    assert(hotBefore.size == 16)
    val hotBytes = hotBefore.map(f => new java.io.File(s"$dir/${f.file}").length()).sum
    val checksumBefore = checksum(Versioned.read(spark, dir))
    // target a third of the partition per file -> expect ~3-4 output files,
    // each a task of bounded size (no single-task straggler rewrite)
    val target = hotBytes / 3
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, target.toString)
    val done = try Versioned.compact(spark, dir, minFiles = 4, sortCols = Seq("user_id"))
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(done == Seq("2024-01-03"), s"compacted: $done")
    val after = Versioned.readManifest(spark, dir)
    assert(after.version == before.version + 1, "compaction is not one commit")
    val hot = after.files.filter(_.part.contains("2024-01-03"))
    assert(hot.size > 1 && hot.size < 16, s"expected bin-packed files, got ${hot.size}")
    // one staged write (a shared commit uuid), one task per file
    // (part-<task>-… names)
    val names = hot.map(_.file.split('/').last)
    assert(names.map(_.take(36)).distinct.size == 1, names.mkString(", "))
    assert(names.map(_.drop(37).take(10)).distinct.size == hot.size, names.mkString(", "))
    val files = hot.map(f => new java.io.File(s"$dir/${f.file}"))
    assert(files.forall(_.length() <= 2 * target),
      s"files not bounded by 2x the $target-byte target: ${files.map(_.length()).mkString(",")}")
    // range-sorted: each file covers a narrow slice of the user_id domain
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath).agg(min("user_id"), max("user_id")).head()
      r.getLong(1) - r.getLong(0)
    }
    assert(spans.forall(_ <= 100000L / 2), s"file spans not tight: ${spans.mkString(",")}")
    assert(checksum(Versioned.read(spark, dir)) == checksumBefore,
      "compaction changed the row multiset")
    // cold partitions untouched: identical manifest entries
    assert(after.files.filterNot(_.part.contains("2024-01-03")).toSet ==
      before.files.filterNot(_.part.contains("2024-01-03")).toSet)
    // the pre-compaction version still reads
    assert(Versioned.read(spark, dir, Some(before.version)).count() == 40000)
  }
}
