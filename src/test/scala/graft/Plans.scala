package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed physical plans, for specs that pin a plan's shape. */
object Plans {

  /** Every node of an executed plan, once: an adaptive plan is entered
    * through its current plan and a query stage through its stage plan. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** `f`'s result and the executed plan of every query it ran. */
  def executed[A](spark: SparkSession)(f: => A): (A, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    var result: Option[A] = None
    spark.listenerManager.register(listener)
    // JobCounter.during drains the listener bus before it returns
    try org.apache.spark.JobCounter.during(spark.sparkContext) { result = Some(f) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (result.get, plans.asScala.toSeq)
  }
}
