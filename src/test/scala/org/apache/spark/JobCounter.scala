package org.apache.spark

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-side count of the Spark jobs a block starts on the calling thread:
  * a listener records the job starts of a job group set for the block, and
  * the listener bus is drained before the count is read, so the figure is
  * exact rather than polled. */
object JobCounter {

  /** Jobs started, and the SQL executions (actions) they belong to. */
  final case class Count(jobs: Int, executions: Int)

  def during(sc: SparkContext)(f: => Unit): Count = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          .foreach(p => jobs.put(e.jobId,
            String.valueOf(p.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    Count(jobs.size, jobs.values.toArray.distinct.length)
  }
}
