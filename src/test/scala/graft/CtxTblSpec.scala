package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._

/** `Ctx.tbl` infers a parquet source's schema once per session: plan
  * constructors that read a table run no footer-reading job after the
  * first, and a source rewritten at the same path is read again. */
class CtxTblSpec extends SparkSpec {

  private def jobs(f: => Unit): Int = JobCounter.during(spark.sparkContext)(f).jobs

  test("a second ctx.tbl of one source runs no job") {
    ctx.tbl("documents")
    assert(jobs { ctx.tbl("documents"); () } == 0)
  }

  test("a source rewritten with another schema at the same path reads the new one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ctx_tbl").toString
    val c = Ctx(spark, dir)
    spark.range(3).write.parquet(s"$dir/t.parquet")
    assert(jobs { assert(c.tbl("t").columns.toSeq == Seq("id")) } > 0,
      "the first read infers the schema")
    assert(jobs { c.tbl("t"); () } == 0)
    spark.range(3).select(col("id"), (col("id") * 2).as("twice"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = c.tbl("t")
    assert(t.columns.toSeq == Seq("id", "twice"))
    assert(t.agg(sum("twice")).head().getLong(0) == 6L)
  }

  test("a missing source still fails with Spark's own error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ctx_tbl").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](Ctx(spark, dir).tbl("nope"))
    assert(e.getMessage.contains("nope.parquet"), e.getMessage)
  }
}
