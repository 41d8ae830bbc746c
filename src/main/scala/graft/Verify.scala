package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.bench()
    new java.io.File(outDir).mkdirs()
    // iteration aid (mirrors Bench): SPARK_GRAFT_ONLY=a,b dumps a subset;
    // unset (the driver's mode) dumps everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // remove any previous dump first: a failed query must NOT leave a
      // stale (previous-run) result behind for the compare step
      val dest = new java.io.File(s"$outDir/$name")
      if (dest.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(dest)
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // escaped with Bench.quote: an unescaped tab or CR in builder-authored
    // SQL would make the driver's json.load fail and silently zero the
    // round's correctness
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.quote(k)}: ${Bench.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
