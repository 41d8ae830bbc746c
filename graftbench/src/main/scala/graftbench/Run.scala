package graftbench

import graft.Ctx
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, round, transform, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import scala.collection.mutable

/** One timed call into the program: wall-clock marks (ms since the epoch,
  * the clock Spark's listener events use) around construction, planning
  * and execution. `plan == exec` when the call has no separate plan. */
final case class OpTime(name: String, layer: String, start: Long, plan: Long,
    exec: Long, end: Long) {
  def constructMs: Long = plan - start
  def planMs: Long = exec - plan
  def execMs: Long = end - exec
  def ms: Long = end - start
}

/** One pass over a workload's ops. */
final case class Pass(index: Int, traced: Boolean, start: Long, end: Long,
    work: Counters, ops: Seq[OpTime], extra: Map[String, Double]) {
  def wallS: Double = (end - start) / 1000.0
}

/** A thrown call or a wrong result, reported with where it came from. */
final case class Failure(op: String, kind: String, message: String, frame: String)

/** The state of one benchmark run: the session, the staged inputs, the
  * listener, the golden digests and what has been measured so far. */
final class Run(val spark: SparkSession, val dir: String, val work: String,
    val seed: Long, val traced: Boolean, val meter: Meter,
    goldens: Map[String, (Long, Long)], recording: Boolean) {
  val ctx: Ctx = Ctx(spark, dir)
  val passes = mutable.ArrayBuffer.empty[Pass]
  val failures = mutable.ArrayBuffer.empty[Failure]
  val recorded = mutable.LinkedHashMap.empty[String, (Long, Long)]
  var attempted = 0L
  private val opTimes = mutable.ArrayBuffer.empty[OpTime]
  private val extra = mutable.LinkedHashMap.empty[String, Double]

  def now(): Long = System.currentTimeMillis()

  /** Runs `body` as one pass: work counters, op timings and extra figures
    * recorded by the ops inside it. */
  def pass(traced: Boolean)(body: => Unit): Pass = {
    opTimes.clear(); extra.clear()
    meter.tracing = traced
    meter.resetPeakExec()
    val c0 = meter.snapshot()
    val t0 = now()
    body
    val t1 = now()
    val p = Pass(passes.size, traced, t0, t1, meter.snapshot() - c0,
      opTimes.toList, extra.toMap)
    passes += p
    p
  }

  def note(key: String, v: Double): Unit = extra(key) = v

  def record(t: OpTime): Unit = opTimes += t

  /** Times a read-only op: construct, force the physical plan, then run the
    * digest action and check it against the golden. A throw or a mismatch
    * is counted as a failure and the run goes on. */
  def op(name: String, layer: String)(construct: => DataFrame): Unit = {
    attempted += 1
    val t0 = now()
    try {
      val df = construct
      val t1 = now()
      df.queryExecution.executedPlan
      val t2 = now()
      val d = Run.digest(df)
      record(OpTime(name, layer, t0, t1, t2, now()))
      check(name, d)
    } catch { case e: Throwable => fail(name, e) }
  }

  /** Times a step with no separate plan (a write, an index build). */
  def step[A](name: String, layer: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = now()
    try {
      val r = body
      val t1 = now()
      record(OpTime(name, layer, t0, t1, t1, t1))
      Some(r)
    } catch { case e: Throwable => fail(name, e); None }
  }

  def check(name: String, d: (Long, Long)): Unit =
    if (recording) {
      if (!recorded.get(name).forall(_ == d))
        failures += Failure(name, "unstable", s"digest $d differs from ${recorded(name)}", "")
      recorded(name) = d
    } else goldens.get(name) match {
      case Some(g) if g == d => ()
      case Some(g) => failures += Failure(name, "mismatch",
        s"rows/xor ${d._1}/${d._2}, golden ${g._1}/${g._2}", "")
      case None => failures += Failure(name, "mismatch", "no golden digest", "")
    }

  /** A write's row count against the golden digest's. */
  def rowCount(name: String, rows: Long): Unit =
    if (!recording) goldens.get(name) match {
      case Some((g, _)) if g == rows => ()
      case g => failures += Failure(name, "mismatch",
        s"wrote $rows rows, golden ${g.map(_._1).getOrElse("missing")}", "")
    }

  /** An invariant the benchmark checks itself (row counts of a write, an
    * audit, a recall floor). */
  def require(name: String, ok: Boolean, what: => String): Unit =
    if (!ok) failures += Failure(name, "check", what, "")

  def fail(name: String, e: Throwable): Unit = {
    val frame = e.getStackTrace.headOption.map(_.toString).getOrElse("")
    failures += Failure(name, e.getClass.getName, String.valueOf(e.getMessage).take(300), frame)
    System.err.println(s"[graftbench] $name FAILED: $e at $frame")
  }

  def failed: Long = failures.size.toLong
}

object Run {
  /** Result digest: row count and bit_xor(xxhash64(all columns)), as the
    * program's own Bench computes it. Floating values are rounded to 6
    * places first: sums of doubles may differ in the last bit with the
    * order rows meet, and the staged row order follows the seed. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast("double"), 6))
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("__h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(__h), 0L)")).head()
    (r.getLong(0), r.getLong(1))
  }
}
