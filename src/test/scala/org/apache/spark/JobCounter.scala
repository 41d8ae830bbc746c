package org.apache.spark

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Test-side count of the Spark jobs a block starts on the calling thread:
  * a listener records the job starts of a job group set for the block, and
  * the listener bus is drained before the count is read, so the figure is
  * exact rather than polled. */
object JobCounter {

  /** Jobs started, and the SQL executions (actions) they belong to. */
  final case class Count(jobs: Int, executions: Int)

  def during(sc: SparkContext)(f: => Unit): Count = {
    val jobs = new ConcurrentHashMap[Int, String]()
    inGroup(sc, f) { group =>
      new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties)
            .filter(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
            .foreach(p => jobs.put(e.jobId,
              String.valueOf(p.getProperty("spark.sql.execution.id"))))
      }
    }
    Count(jobs.size, jobs.values.toArray.distinct.length)
  }

  /** Shuffle map stages the block runs: one per shuffle it writes. A stage
    * skipped because its shuffle output is reused is never submitted, so
    * it does not count. */
  def shuffleStages(sc: SparkContext)(f: => Unit): Int = {
    val shuffles = ConcurrentHashMap.newKeySet[Int]()
    inGroup(sc, f) { group =>
      new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          if (Option(e.properties)
              .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
            e.stageInfo.shuffleDepId.foreach(shuffles.add)
      }
    }
    shuffles.size
  }

  /** Shuffle bytes and records written by every task that ends while the
    * block runs, whichever thread started its job: a streaming query runs
    * its micro-batches on a thread of its own, outside any job group set
    * here. So the block must be the only work on the context. */
  def shuffleWrites(sc: SparkContext)(f: => Unit): (Long, Long) = {
    val bytes = new AtomicLong
    val records = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
    }
    sc.listenerBus.waitUntilEmpty() // earlier work's task ends are not counted
    sc.addSparkListener(l)
    try f
    finally {
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(l)
    }
    (bytes.get, records.get)
  }

  private def inGroup(sc: SparkContext, f: => Unit)(listener: String => SparkListener): Unit = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val l = listener(group)
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(l)
    }
  }
}
