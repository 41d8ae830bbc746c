package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Engine counters, summed over every task that ends. Deltas of two
  * snapshots price one timed phase. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    shuffleBytes: Long = 0, shuffleRecords: Long = 0,
    spillBytes: Long = 0, diskSpillBytes: Long = 0, inputBytes: Long = 0,
    peakExecBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleBytes - o.shuffleBytes, shuffleRecords - o.shuffleRecords,
    spillBytes - o.spillBytes, diskSpillBytes - o.diskSpillBytes,
    inputBytes - o.inputBytes, peakExecBytes)
}

/** A closed interval of wall time (ms since the epoch) with a parent. */
final case class Span(id: Long, name: String, start: Long, var end: Long,
    parent: Long, attrs: Map[String, Any] = Map.empty)

/** The one listener the benchmark registers. Untraced it keeps only
  * aggregate counters and the block-manager tally behind `store_mb`;
  * traced it also keeps job, stage and SQL-execution spans and every
  * task's duration, which is what costs memory and time. */
final class Meter extends SparkListener {
  /** set per pass: traced passes keep spans, untraced ones only counters */
  @volatile var tracing = false
  private var c = Counters()
  private var peakExec = 0L
  // persisted-relation blocks currently held, and every block ever put
  private val held = mutable.Map.empty[String, (Long, Long)]
  private val everPut = mutable.Set.empty[String]
  private var heldBytes = 0L
  private var heldDisk = 0L
  var storePeak = 0L
  var storeDiskPeak = 0L
  var blockPuts = 0L
  var blockReputs = 0L

  // traced state
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobSpans = mutable.Map.empty[Int, Span]
  private val stageSpans = mutable.Map.empty[Int, Span]
  val stageJob = mutable.Map.empty[Int, Int]
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** stage id -> (tasks, shuffle records written) */
  val stageWork = mutable.Map.empty[Int, (Long, Long)]
  /** SQL execution id -> its span; a model write's span names the model */
  val executions = mutable.Map.empty[Long, Span]

  def newId(): Long = nextId.getAndIncrement()

  def snapshot(): Counters = synchronized(c.copy(peakExecBytes = peakExec))
  def resetPeakExec(): Unit = synchronized { peakExec = 0L }
  def resetStorePeak(): Unit = synchronized { storePeak = heldBytes; storeDiskPeak = heldDisk }
  def clearTrace(): Unit = synchronized {
    spans.clear(); jobSpans.clear(); stageSpans.clear(); stageJob.clear()
    taskMs.clear(); stageWork.clear(); executions.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    if (tracing) {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      // top-level work (parent 0) is attached to the op phase whose
      // interval holds it after the run: the bus delivers events late
      val under = exec.flatMap(executions.get).map(_.id).getOrElse(0L)
      val s = Span(newId(), s"job ${e.jobId}", e.time, e.time, under,
        Map("group" -> group, "execution" -> exec.getOrElse(-1L)))
      jobSpans(e.jobId) = s
      spans += s
      e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (tracing) jobSpans.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (tracing) {
      val info = e.stageInfo
      val parent = stageJob.get(info.stageId).flatMap(jobSpans.get).map(_.id).getOrElse(0L)
      val t = info.submissionTime.getOrElse(System.currentTimeMillis())
      val s = Span(newId(), s"stage ${info.stageId}", t, t, parent,
        Map("tasks" -> info.numTasks))
      stageSpans(info.stageId) = s
      spans += s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    if (tracing) stageSpans.get(e.stageInfo.stageId)
      .foreach(_.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c = c.copy(
        tasks = c.tasks + 1,
        cpuNs = c.cpuNs + m.executorCpuTime,
        runMs = c.runMs + m.executorRunTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleRecords = c.shuffleRecords + m.shuffleWriteMetrics.recordsWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        diskSpillBytes = c.diskSpillBytes + m.diskBytesSpilled,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead)
      peakExec = math.max(peakExec, m.peakExecutionMemory)
      if (tracing) {
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
          m.executorRunTime
        val (n, r) = stageWork.getOrElse(e.stageId, (0L, 0L))
        stageWork(e.stageId) = (n + 1, r + m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val key = id.name
        val lvl = info.storageLevel
        held.remove(key).foreach { case (m, d) => heldBytes -= m + d; heldDisk -= d }
        if (lvl.isValid && (info.memSize > 0 || info.diskSize > 0)) {
          held(key) = (info.memSize, info.diskSize)
          heldBytes += info.memSize + info.diskSize
          heldDisk += info.diskSize
          blockPuts += 1
          if (!everPut.add(key)) blockReputs += 1
          storePeak = math.max(storePeak, heldBytes)
          storeDiskPeak = math.max(storeDiskPeak, heldDisk)
        }
      case _ => ()
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (tracing) synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        // a Runner model write carries its Observation name in the plan;
        // Runner replaces the job group, so this is the only link back
        val model = Meter.BuildObservation.findFirstMatchIn(s.physicalPlanDescription)
          .map(_.group(1)).getOrElse("")
        val span = Span(newId(), if (model.nonEmpty) s"write $model" else s"sql ${s.executionId}",
          s.time, s.time, 0L, Map("model" -> model))
        executions(s.executionId) = span
        spans += span
      case end: SparkListenerSQLExecutionEnd =>
        executions.get(end.executionId).foreach(_.end = end.time)
      case _ => ()
    }
  }
}

object Meter {
  val BuildObservation = """build_([A-Za-z0-9_]+?)_[0-9a-f]{8}-[0-9a-f]{4}-""".r
}
