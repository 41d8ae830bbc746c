package graft

import org.apache.spark.sql.functions._

/** Lake.upsert — keyed MERGE INTO over a date-partitioned lake: update-wins
  * semantics, inserts, and the two cost claims that make it viable at
  * 100 TB: untouched partitions are bit-identical afterwards (never
  * rewritten), and the read of the existing table is partition-pruned to
  * the touched dates. */
class UpsertSpec extends SparkSpec {
  private def base = spark.range(8000).select(
    col("id").as("k"),
    date_add(lit(java.sql.Date.valueOf("2024-03-01")),
      (col("id") % 8).cast("int")).as("dt"),
    (col("id") * 10).as("v"))

  private def writeBase(dir: String): Unit =
    base.write.partitionBy("dt").mode("overwrite").parquet(dir)

  test("update-wins + insert semantics, exact row multiset") {
    val dir = java.nio.file.Files.createTempDirectory("lake_up").toString
    writeBase(dir)
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
    val touched = Lake.upsert(spark, dir, updates, Seq("k"), "dt")
    assert(touched == 2)
    val back = spark.read.parquet(dir)
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
    val dir = java.nio.file.Files.createTempDirectory("lake_up2").toString
    writeBase(dir)
    def fileSig(part: String): Set[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/dt=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    }
    val before5 = fileSig("2024-03-05")
    val before2 = fileSig("2024-03-02")
    Thread.sleep(20)
    val updates = spark.range(10).select(
      (col("id") * 8 + 1).as("k"),
      lit(java.sql.Date.valueOf("2024-03-02")).as("dt"), lit(-1L).as("v"))
    Lake.upsert(spark, dir, updates, Seq("k"), "dt")
    assert(fileSig("2024-03-05") == before5, "untouched partition was rewritten")
    assert(fileSig("2024-03-02") != before2, "touched partition was not replaced")
    assert(!new java.io.File(dir + "__upsert_tmp").exists(), "temp dir left behind")
  }

  test("the existing-table read is partition-pruned to the touched dates") {
    val dir = java.nio.file.Files.createTempDirectory("lake_up3").toString
    writeBase(dir)
    val touchedDates = Seq(java.sql.Date.valueOf("2024-03-02"))
    val pruned = spark.read.parquet(dir)
      .filter(col("dt").isInCollection(touchedDates))
    pruned.collect()
    val files = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.get
    val all = spark.read.parquet(dir)
    all.collect()
    val allFiles = all.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.get
    assert(files * 8 <= allFiles + 7, s"pruned read touches $files of $allFiles files")
  }
}
