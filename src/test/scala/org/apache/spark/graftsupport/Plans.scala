package org.apache.spark.graftsupport

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Test helper: the executed plans of the queries a block of code runs,
  * through a `QueryExecutionListener`. Lives under org.apache.spark for
  * the same reason as [[Jobs]]: the listener is called from the listener
  * bus, which is drained before the plans are handed back.
  */
object Plans {

  /** `body`'s result and the (action name, executed plan) of every query
    * action it ran.
    */
  def recorded[T](spark: SparkSession)(body: => T)
      : (T, Seq[(String, SparkPlan)]) = {
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val r = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (r, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of an executed plan, adaptive query stages included (a
    * reused exchange is a leaf: its subtree is counted where it ran).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
}
