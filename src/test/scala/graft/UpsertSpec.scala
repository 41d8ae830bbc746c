package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Versioned.upsert — keyed MERGE INTO over a date-partitioned table:
  * update-wins semantics, inserts, and the two cost claims that make it
  * viable at 100 TB: untouched partitions keep their manifest entries and
  * files (never rewritten), and the read of the existing table is
  * partition-pruned to the touched dates. */
class UpsertSpec extends SparkSpec {
  private def base = spark.range(8000).select(
    col("id").as("k"),
    date_add(lit(java.sql.Date.valueOf("2024-03-01")),
      (col("id") % 8).cast("int")).as("dt"),
    (col("id") * 10).as("v"))

  private def writeBase(): String = {
    val dir = java.nio.file.Files.createTempDirectory("lake_up").toString
    Versioned.write(base, dir, partitionBy = Some("dt"))
    dir
  }

  private def entries(dir: String, v: Long, part: String): Set[Versioned.FileEntry] =
    Versioned.readManifest(spark, dir, Some(v)).files.filter(_.part.contains(part)).toSet

  test("update-wins + insert semantics, exact row multiset") {
    val dir = writeBase()
    // updates: change v for 100 existing keys on 2024-03-02, insert 50 new
    // keys on 2024-03-04
    val updates = spark.range(100).select(
        (col("id") * 8 + 1).as("k"), // ids with id%8==1 -> dt=2024-03-02
        lit(java.sql.Date.valueOf("2024-03-02")).as("dt"),
        lit(-1L).as("v"))
      .unionByName(spark.range(50).select(
        (col("id") + 100000).as("k"),
        lit(java.sql.Date.valueOf("2024-03-04")).as("dt"),
        lit(-2L).as("v")))
    assert(Versioned.upsert(spark, dir, updates, Seq("k"), "dt") == 1L)
    val changed = (0 until 8).map(d => java.sql.Date.valueOf("2024-03-01").toLocalDate
      .plusDays(d).toString).filter(p => entries(dir, 0L, p) != entries(dir, 1L, p))
    assert(changed == Seq("2024-03-02", "2024-03-04"), s"replaced: $changed")
    val back = Versioned.read(spark, dir)
    assert(back.count() == 8050)
    assert(back.filter(col("v") === -1L).count() == 100)
    assert(back.filter(col("v") === -2L).count() == 50)
    // an updated key exists exactly once, with the new value
    val k1 = back.filter(col("k") === 1L).collect()
    assert(k1.length == 1 && k1.head.getAs[Long]("v") == -1L)
    // a non-updated key on a touched partition survived unchanged
    // (updates cover k = 8*id+1 for id < 100, i.e. up to 793; 801 is the
    // first key on dt=2024-03-02 outside the update set)
    val k801 = back.filter(col("k") === 801L).collect()
    assert(k801.length == 1 && k801.head.getAs[Long]("v") == 8010L)
  }

  test("untouched partitions are bit-identical (no rewrite), touched ones replaced") {
    val dir = writeBase()
    def fileSig(v: Long, part: String): Set[(String, Long, Long)] =
      entries(dir, v, part).map { e =>
        val f = new java.io.File(s"$dir/${e.file}")
        (f.getName, f.length(), f.lastModified())
      }
    val before5 = fileSig(0L, "2024-03-05")
    Thread.sleep(20)
    val updates = spark.range(10).select(
      (col("id") * 8 + 1).as("k"),
      lit(java.sql.Date.valueOf("2024-03-02")).as("dt"), lit(-1L).as("v"))
    Versioned.upsert(spark, dir, updates, Seq("k"), "dt")
    assert(entries(dir, 1L, "2024-03-05") == entries(dir, 0L, "2024-03-05"),
      "untouched partition's manifest entries changed")
    assert(fileSig(1L, "2024-03-05") == before5, "untouched partition was rewritten")
    assert(entries(dir, 1L, "2024-03-02").intersect(entries(dir, 0L, "2024-03-02")).isEmpty,
      "touched partition was not replaced")
    assert(Option(new java.io.File(s"$dir/_stage").list()).forall(_.isEmpty),
      "staging dir left behind")
  }

  test("the existing-table read is partition-pruned to the touched dates") {
    val dir = writeBase()
    val updates = spark.range(10).select(
      (col("id") * 8 + 1).as("k"),
      lit(java.sql.Date.valueOf("2024-03-02")).as("dt"), lit(-1L).as("v"))
    val (_, plans) = Plans.executed(spark)(Versioned.upsert(spark, dir, updates, Seq("k"), "dt"))
    val tableScans = plans.flatMap(Plans.nodes).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
    }
    assert(tableScans.size == 1, s"expected one read of the table, got ${tableScans.size}")
    val scanned = tableScans.head.metrics("numFiles").value
    val all = Versioned.readManifest(spark, dir, Some(0L)).files
    val touched = all.count(_.part.contains("2024-03-02"))
    assert(all.size >= 8 && scanned == touched,
      s"upsert read $scanned files; the touched date has $touched of ${all.size}")
  }

  test("a correction batch with repeated keys replaces each key's rows with all of its updates") {
    val dir = writeBase()
    val once = spark.range(10).select(
      (col("id") * 8 + 1).as("k"),
      lit(java.sql.Date.valueOf("2024-03-02")).as("dt"), lit(-1L).as("v"))
    val updates = once.unionByName(once.withColumn("v", lit(-3L)))
    Versioned.upsert(spark, dir, updates, Seq("k"), "dt")
    // the merge with de-duplicated keys: every row of an updated key goes,
    // every update row lands
    val v0 = Versioned.read(spark, dir, Some(0L))
    val expected = v0.join(updates.select("k").distinct(), Seq("k"), "left_anti")
      .unionByName(updates)
    val back = Versioned.read(spark, dir)
    assert(back.count() == 8010)
    assert(back.exceptAll(expected).isEmpty && expected.exceptAll(back).isEmpty)
  }

  test("an upsert shuffles once: the hash-clustered write") {
    val dir = writeBase()
    val updates = spark.range(100).select(
      (col("id") * 8 + 1).as("k"),
      lit(java.sql.Date.valueOf("2024-03-02")).as("dt"), lit(-1L).as("v"))
    val n = org.apache.spark.JobCounter.shuffleStages(spark.sparkContext) {
      Versioned.upsert(spark, dir, updates, Seq("k"), "dt"); ()
    }
    assert(n == 1, s"upsert ran $n shuffle stages")
  }
}
