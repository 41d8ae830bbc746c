package graft

import org.apache.spark.sql.functions._

/** Versioned — the manifest-log table layer: snapshot isolation (readers
  * see only committed manifests), time travel, atomic partition
  * replacement, append/overwrite semantics, and vacuum GC. */
class VersionedSpec extends SparkSpec {
  private def df(tag: Long, n: Int = 100) = spark.range(n).select(
    col("id").as("k"), lit(tag).as("tag"),
    date_add(lit(java.sql.Date.valueOf("2024-05-01")),
      (col("id") % 4).cast("int")).as("dt"))

  test("overwrite/append snapshots + time travel") {
    val t = java.nio.file.Files.createTempDirectory("vtab").toString
    val v0 = Versioned.write(df(0), t)
    val v1 = Versioned.write(df(1, 50), t, mode = "append")
    val v2 = Versioned.write(df(2, 30), t) // overwrite
    assert(Seq(v0, v1, v2) == Seq(0L, 1L, 2L))
    assert(Versioned.read(spark, t).count() == 30)
    assert(Versioned.read(spark, t, Some(1L)).count() == 150)
    assert(Versioned.read(spark, t, Some(0L)).count() == 100)
    // tag survives per-snapshot: latest is all tag=2
    assert(Versioned.read(spark, t).select("tag").distinct().head().getLong(0) == 2L)
  }

  test("cross-process publish race: loser retries against the winner's tip, nothing lost") {
    // the in-process JVM lock cannot serialize another PROCESS — simulate
    // one by injecting a competing manifest at exactly the contested
    // version, between the loser's tmp write and its publish. The publish
    // primitive (hard link on file:, atomic fail-if-exists) must reject
    // the loser, which then retries against the injected tip.
    val t = java.nio.file.Files.createTempDirectory("vtabrace").toString
    Versioned.write(df(0), t) // v0
    var injected = false
    Versioned.raceInjector = Some { (path, next) =>
      Versioned.raceInjector = None // fire once
      injected = true
      assert(next == 1L)
      // "other process" publishes v1 re-pointing at v0's files (tag=0)
      val m0 = Versioned.readManifest(spark, path, Some(0L))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$path/_log/v00000001.manifest"),
        Versioned.render(m0.copy(version = 1L))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val v = try Versioned.write(df(2, 30), t, mode = "append")
    finally Versioned.raceInjector = None
    assert(injected)
    assert(v == 2L, s"loser must land AFTER the injected tip, got v$v")
    // the winner's v1 is intact (100 tag=0 rows), and the retried append
    // built on it: v2 = winner's files + the loser's 30 tag=2 rows
    assert(Versioned.read(spark, t, Some(1L)).count() == 100)
    assert(Versioned.read(spark, t).count() == 130)
    assert(Versioned.read(spark, t).filter(col("tag") === 2).count() == 30)
  }

  test("reads resolve the schema from the manifest — no footer-inference job") {
    val t = java.nio.file.Files.createTempDirectory("vtabschema").toString
    Versioned.write(df(0), t, partitionBy = Some("dt"))
    val m = Versioned.readManifest(spark, t)
    assert(m.schema.exists(_.contains("k BIGINT")), m.schema)
    // analysis of the read (schema resolution) must launch zero Spark jobs
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val read = Versioned.read(spark, t)
    read.schema // force analysis
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"schema resolution launched ${after - before} job(s) — footer inference leaked back in")
    assert(read.schema("dt").dataType.sql == "DATE")
    assert(read.count() == 100)
  }

  test("staged-but-uncommitted files are invisible (snapshot isolation)") {
    val t = java.nio.file.Files.createTempDirectory("vtab2").toString
    Versioned.write(df(0), t)
    // simulate a writer that crashed after staging data but before commit
    df(9, 500).write.parquet(s"$t/data/orphan-staging")
    assert(Versioned.read(spark, t).count() == 100,
      "reader saw uncommitted staged files")
  }

  test("replacePartitions swaps exactly the touched dates, atomically versioned") {
    val t = java.nio.file.Files.createTempDirectory("vtab3").toString
    Versioned.write(df(0), t, partitionBy = Some("dt"))
    // rewrite one date with new content (tag=7, fewer rows)
    val patch = df(7, 40).filter(col("dt") === lit(java.sql.Date.valueOf("2024-05-02")))
    val v = Versioned.replacePartitions(patch, t, "dt")
    assert(v == 1L)
    val now = Versioned.read(spark, t)
    val may2 = now.filter(col("dt") === lit(java.sql.Date.valueOf("2024-05-02")))
    assert(may2.select("tag").distinct().head().getLong(0) == 7L)
    assert(may2.count() == 10) // 40 rows % 4 dates
    // other dates untouched
    assert(now.filter(col("dt") =!= lit(java.sql.Date.valueOf("2024-05-02")))
      .select("tag").distinct().head().getLong(0) == 0L)
    assert(now.count() == 75 + 10)
    // the pre-replacement snapshot still reads intact
    assert(Versioned.read(spark, t, Some(0L)).count() == 100)
    // partition column type survived the manifest round-trip
    assert(now.schema("dt").dataType.sql == "DATE")
  }

  test("transactional upsert: update-wins merge, atomic version bump, old snapshot intact") {
    val t = java.nio.file.Files.createTempDirectory("vtab6").toString
    Versioned.write(df(0), t, partitionBy = Some("dt"))
    val updates = spark.range(10).select(
        (col("id") * 4 + 1).as("k"), // existing keys on dt=2024-05-02
        lit(-1L).as("tag"),
        lit(java.sql.Date.valueOf("2024-05-02")).as("dt"))
      .unionByName(spark.range(5).select((col("id") + 5000).as("k"),
        lit(-2L).as("tag"), lit(java.sql.Date.valueOf("2024-05-03")).as("dt")))
    val v = Versioned.upsert(spark, t, updates, Seq("k"), "dt")
    assert(v == 1L)
    val now = Versioned.read(spark, t)
    assert(now.count() == 105)
    assert(now.filter(col("tag") === -1L).count() == 10)
    assert(now.filter(col("tag") === -2L).count() == 5)
    assert(now.filter(col("k") === 1L).head().getAs[Long]("tag") == -1L)
    // untouched partition rows keep tag 0; prior snapshot fully intact
    assert(now.filter(col("dt") === lit(java.sql.Date.valueOf("2024-05-01")))
      .select("tag").distinct().head().getLong(0) == 0L)
    assert(Versioned.read(spark, t, Some(0L)).filter(col("tag") =!= 0L).count() == 0)
  }

  test("vacuum drops unreferenced files but keeps recent versions readable") {
    val t = java.nio.file.Files.createTempDirectory("vtab4").toString
    Versioned.write(df(0), t)
    Versioned.write(df(1), t) // overwrite: v0's files now unreferenced by tip
    Versioned.write(df(2), t)
    // retention guards in-flight staged files by age; this test's files are
    // all fresh AND all committed, so eager GC (retentionMs = 0) is safe
    val removed = Versioned.vacuum(spark, t, keepVersions = 2, retentionMs = 0L)
    assert(removed > 0, "expected v0's files to be collected")
    // last two versions still read
    assert(Versioned.read(spark, t, Some(2L)).count() == 100)
    assert(Versioned.read(spark, t, Some(1L)).count() == 100)
    // v0 manifest is gone
    intercept[Exception] { Versioned.read(spark, t, Some(0L)).count() }
  }

  test("sequential committers get strictly increasing versions (optimistic loop)") {
    val t = java.nio.file.Files.createTempDirectory("vtab5").toString
    val vs = (0 until 5).map(i => Versioned.write(df(i.toLong, 10), t, mode = "append"))
    assert(vs == Seq(0L, 1L, 2L, 3L, 4L))
    assert(Versioned.read(spark, t).count() == 50)
  }

  test("a 100+-partition snapshot reads as ONE FileSourceScan") {
    val t = java.nio.file.Files.createTempDirectory("vtab7").toString
    val wide = spark.range(2000).select(
      col("id").as("k"), (col("id") % 128).as("p"))
    Versioned.write(wide, t, partitionBy = Some("p"))
    val snap = Versioned.read(spark, t)
    val scans = snap.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"expected one scan for 128 partitions, got ${scans.size}")
    assert(snap.count() == 2000)
    assert(snap.select("p").distinct().count() == 128)
    // partition pruning still works on the manifest-listed scan
    assert(snap.filter(col("p") === 7L).count() == 2000 / 128 + 1)
  }

  test("string partition values with ':' and null round-trip exactly") {
    val t = java.nio.file.Files.createTempDirectory("vtab8").toString
    val tricky = spark.range(40).select(
      col("id").as("k"),
      when(col("id") % 4 === 0, lit("a:b"))
        .when(col("id") % 4 === 1, lit("x/y z"))
        .when(col("id") % 4 === 2, lit("00123"))
        .otherwise(lit(null)).as("src"))
    Versioned.write(tricky, t, partitionBy = Some("src"))
    val back = Versioned.read(spark, t)
    assert(back.schema("src").dataType.sql == "STRING")
    assert(back.filter(col("src") === "a:b").count() == 10)
    assert(back.filter(col("src") === "x/y z").count() == 10)
    assert(back.filter(col("src") === "00123").count() == 10, "leading zeros lost")
    assert(back.filter(col("src").isNull).count() == 10, "null partition lost")
    // upsert into the escaped partition matches in escape-space
    val up = spark.range(2).select((col("id") * 4).as("k"), lit("a:b").as("src"))
    Versioned.upsert(spark, t, up, Seq("k"), "src")
    assert(Versioned.read(spark, t).filter(col("src") === "a:b").count() == 10)
    assert(Versioned.read(spark, t).count() == 40)
  }

  test("concurrent same-partition commit aborts with a conflict, not a lost update") {
    val t = java.nio.file.Files.createTempDirectory("vtab9").toString
    Versioned.write(df(0), t, partitionBy = Some("dt")) // v0
    val may2 = java.sql.Date.valueOf("2024-05-02")
    // a concurrent writer lands first on the same partition (v1)
    Versioned.replacePartitions(
      df(5, 40).filter(col("dt") === lit(may2)), t, "dt")
    // our replacement was computed from v0 — committing it would silently
    // drop the v1 files: must abort
    intercept[Versioned.CommitConflictException] {
      Versioned.replacePartitions(
        df(7, 40).filter(col("dt") === lit(may2)), t, "dt",
        baseVersion = Some(0L))
    }
    assert(Versioned.read(spark, t)
      .filter(col("dt") === lit(may2))
      .select("tag").distinct().head().getLong(0) == 5L,
      "the first committer's update must survive")
    // a base-stale commit into a DIFFERENT partition merges fine
    val may1 = java.sql.Date.valueOf("2024-05-01")
    Versioned.replacePartitions(
      df(9, 40).filter(col("dt") === lit(may1)), t, "dt",
      baseVersion = Some(0L))
    val now = Versioned.read(spark, t)
    assert(now.filter(col("dt") === lit(may1))
      .select("tag").distinct().head().getLong(0) == 9L)
    assert(now.filter(col("dt") === lit(may2))
      .select("tag").distinct().head().getLong(0) == 5L)
  }
}
