package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Versioned.upsert — keyed MERGE INTO over a date-partitioned table:
  * update-wins semantics, inserts, and the cost claims that make it
  * viable at 100 TB: untouched partitions keep their manifest entries and
  * files (never rewritten), the read of the existing table is
  * partition-pruned to the touched dates, only the update rows are
  * shuffled, and a touched partition ends with at most two files. */
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

  /** Name, length and modification time of each of `part`'s files. */
  private def fileSig(dir: String, v: Long, part: String): Set[(String, Long, Long)] =
    entries(dir, v, part).map { e =>
      val f = new java.io.File(s"$dir/${e.file}")
      (f.getName, f.length(), f.lastModified())
    }

  /** The most files any partition of version `v` holds. */
  private def maxFilesPerPartition(dir: String, v: Long): Int =
    Versioned.readManifest(spark, dir, Some(v)).files.groupBy(_.part).values.map(_.size).max

  /** Upserts `updates` keyed on `k` and checks the new tip row for row
    * against the reference merge of the version before it: every row of
    * an updated key goes, every update row lands. Returns the version. */
  private def upsertExact(dir: String, updates: DataFrame, partCol: String): Long = {
    val prev = Versioned.latestVersion(spark, dir).get
    val v = Versioned.upsert(spark, dir, updates, Seq("k"), partCol)
    val expected = Versioned.read(spark, dir, Some(prev))
      .join(updates.select("k").distinct(), Seq("k"), "left_anti").unionByName(updates)
    val back = Versioned.read(spark, dir)
    assert(back.exceptAll(expected).isEmpty && expected.exceptAll(back).isEmpty,
      s"version $v is not the reference merge of version $prev")
    v
  }

  /** Updates of the base keys `k = 8 * id + day` for each id < n, with the
    * date partition the base gives them, and `v = value`. */
  private def baseUpdates(n: Long, day: Column, value: Long): DataFrame =
    spark.range(n).select((col("id") * 8 + day).as("k"))
      .select(col("k"), date_add(lit(java.sql.Date.valueOf("2024-03-01")),
        (col("k") % 8).cast("int")).as("dt"), lit(value).as("v"))

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
    val before5 = fileSig(dir, 0L, "2024-03-05")
    Thread.sleep(20)
    val updates = spark.range(10).select(
      (col("id") * 8 + 1).as("k"),
      lit(java.sql.Date.valueOf("2024-03-02")).as("dt"), lit(-1L).as("v"))
    Versioned.upsert(spark, dir, updates, Seq("k"), "dt")
    assert(entries(dir, 1L, "2024-03-05") == entries(dir, 0L, "2024-03-05"),
      "untouched partition's manifest entries changed")
    assert(fileSig(dir, 1L, "2024-03-05") == before5, "untouched partition was rewritten")
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
    var stages = 0
    val ((_, records), plans) = Plans.executed(spark) {
      org.apache.spark.JobCounter.shuffleWrites(spark.sparkContext) {
        stages = org.apache.spark.JobCounter.shuffleStages(spark.sparkContext) {
          Versioned.upsert(spark, dir, updates, Seq("k"), "dt"); ()
        }
      }
    }
    assert(stages == 1, s"upsert ran $stages shuffle stages")
    // the touched date's 1,000 rows, 100 of them superseded, stay off it
    assert(records == 100, s"upsert shuffled $records records, the batch has 100")
    val exchanges = plans.flatMap(Plans.nodes).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"expected one shuffle exchange, got ${exchanges.size}")
    val overTable = Plans.nodes(exchanges.head).exists {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains(dir))
      case _ => false
    }
    assert(!overTable, s"the exchange reads the table:\n${exchanges.head}")
  }

  test("five upserts leave at most two files per partition; untouched ones bit-identical") {
    val dir = writeBase()
    val untouched = Seq("2024-03-01", "2024-03-06", "2024-03-07", "2024-03-08")
    val before = untouched.map(p => p -> fileSig(dir, 0L, p)).toMap
    Thread.sleep(20)
    (1 to 5).foreach { i =>
      // updates on 03-02 and 03-03 (each pass a different key subset) and
      // inserts on 03-04 and 03-05
      val updates = baseUpdates(300, lit(1L) + col("id") % 2 + lit(i % 2) * 8, -i.toLong)
        .unionByName(spark.range(40).select((col("id") + 100000L * i).as("k"),
          date_add(lit(java.sql.Date.valueOf("2024-03-04")), (col("id") % 2).cast("int")).as("dt"),
          lit(-i.toLong).as("v")))
      val v = upsertExact(dir, updates, "dt")
      assert(maxFilesPerPartition(dir, v) <= 2,
        s"upsert $i left ${maxFilesPerPartition(dir, v)} files in one partition")
      untouched.foreach { p =>
        assert(entries(dir, v, p) == entries(dir, 0L, p) && fileSig(dir, v, p) == before(p),
          s"untouched partition $p was rewritten by upsert $i")
      }
    }
  }

  test("a wholly superseded partition keeps only its update file; an insert-only one is exact") {
    val dir = writeBase()
    // every key of 03-03, plus keys on a date the table does not have
    val updates = baseUpdates(1000, lit(2L), -5L)
      .unionByName(spark.range(30).select((col("id") + 200000L).as("k"),
        lit(java.sql.Date.valueOf("2024-04-01")).as("dt"), lit(-6L).as("v")))
    val v = upsertExact(dir, updates, "dt")
    assert(entries(dir, v, "2024-03-03").size == 1 &&
      entries(dir, v, "2024-03-03").intersect(entries(dir, 0L, "2024-03-03")).isEmpty,
      s"superseded partition: ${entries(dir, v, "2024-03-03")}")
    assert(entries(dir, v, "2024-04-01").size == 1)
  }

  test("null and escaped string partition values, and null dates, match their files") {
    val strings = spark.range(400).select(col("id").as("k"),
      element_at(array(lit(null).cast("string"), lit("a:b"), lit("x/y z"), lit("plain")),
        (col("id") % 4 + 1).cast("int")).as("p"),
      (col("id") * 10).as("v"))
    val sdir = java.nio.file.Files.createTempDirectory("lake_up_str").toString
    Versioned.write(strings, sdir, partitionBy = Some("p"))
    val plain = entries(sdir, 0L, "plain")
    // updates to the null, "a:b" and "x/y z" partitions, and a new value
    val sv = upsertExact(sdir, strings.filter(col("k") % 4 =!= 3 && col("k") % 3 === 0)
      .withColumn("v", lit(-1L))
      .unionByName(spark.range(5).select((col("id") + 1000).as("k"),
        lit("c%d").as("p"), lit(-2L).as("v"))), "p")
    assert(entries(sdir, sv, "plain") == plain, "the untouched partition was rewritten")
    assert(maxFilesPerPartition(sdir, sv) <= 2)

    val dates = spark.range(300).select(col("id").as("k"),
      when(col("id") % 3 =!= 0, date_add(lit(java.sql.Date.valueOf("2024-03-01")),
        (col("id") % 3).cast("int"))).as("dt"),
      (col("id") * 10).as("v"))
    val ddir = java.nio.file.Files.createTempDirectory("lake_up_null").toString
    Versioned.write(dates, ddir, partitionBy = Some("dt"))
    val dv = upsertExact(ddir, dates.filter(col("k") % 2 === 0).withColumn("v", lit(-1L)), "dt")
    assert(maxFilesPerPartition(ddir, dv) <= 2)
  }

  test("several bins: each is its own write task, and the merge is exact") {
    val dir = writeBase()
    val days = Seq("2024-03-02", "2024-03-03", "2024-03-04", "2024-03-05")
    val bytes = days.map(d => entries(dir, 0L, d).toSeq
      .map(e => new java.io.File(s"$dir/${e.file}").length()).sum)
    // a target of the largest touched partition: no two of these nearly
    // equal partitions fit in one bin, so each is a bin of its own
    assert(bytes.min * 2 > bytes.max)
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, bytes.max.toString)
    val v = try upsertExact(dir, baseUpdates(400, lit(1L) + col("id") % 4, -1L), "dt")
      finally prior match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    // a staged file is named after the write task that wrote it
    val writers = days.flatMap(d => entries(dir, v, d))
      .map(e => "part-(\\d+)-".r.findFirstMatchIn(e.file).get.group(1)).toSet
    assert(writers.size >= days.size,
      s"${days.size} bins were written by ${writers.size} tasks")
    assert(maxFilesPerPartition(dir, v) <= 2)
  }
}
