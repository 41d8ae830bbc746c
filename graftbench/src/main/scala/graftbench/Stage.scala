package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, xxhash64}

/** Stages a workload's inputs as the one-parquet-file-per-table layout the
  * program reads (`<dir>/<table>.parquet`), generated by the program's own
  * `graft-synth` source.
  *
  * Two things differ from the raw generator:
  *  - every synthetic id column is re-based to 0. The generator numbers
  *    rows from 1, while the repository's test data and the queries' own
  *    constants (`vec_id < 8` seeds, `vec_id = 0` filter label, ...) start
  *    at 0; on 1-based ids `ann_index_filtered` dies on an empty head;
  *  - the rows are written in an order drawn from the seed, so two seeds
  *    stage the same relation as differently ordered files. */
object Stage {
  /** Columns that hold 1-based generated ids. Nation and region keys are
    * spec rows numbered from 0 already. */
  private val idCols = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** One staged table: the file name the program reads, the generator's
    * table name and scale factor. */
  final case class Input(table: String, synth: String, sf: Double)

  def tpch(sf: Double): Seq[Input] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .map(t => Input(t, t, sf))

  def stage(spark: SparkSession, dir: String, inputs: Seq[Input], seed: Long): Unit = {
    new java.io.File(dir).mkdirs()
    inputs.foreach { in =>
      val raw = spark.read.format("graft-synth")
        .option("table", in.synth).option("sf", in.sf)
        .option("partitions", spark.sparkContext.defaultParallelism)
        .load()
      val rebased = idCols.getOrElse(in.table, Nil)
        .foldLeft(raw)((df, c) => df.withColumn(c, col(c) - 1L))
      val key = rebased.columns.head
      val tmp = s"$dir/_${in.table}"
      // one partition, sorted by a seeded hash: one file, no shuffle
      rebased.coalesce(1)
        .sortWithinPartitions(xxhash64(lit(seed), col(key)), col(key))
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"staging ${in.table}: expected one file, got ${part.length}")
      require(part.head.renameTo(new java.io.File(s"$dir/${in.table}.parquet")),
        s"staging ${in.table}: rename failed")
      Files.rm(new java.io.File(tmp))
    }
  }
}

/** Runs independent Spark actions from a few driver threads at once. */
object Par {
  def map[A, B](xs: Seq[A], threads: Int = 4)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(xs)(x => scala.concurrent.Future(f(x))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }
}

object Files {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else f.length()
}
