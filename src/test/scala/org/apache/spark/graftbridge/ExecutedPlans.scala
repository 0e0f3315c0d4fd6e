package org.apache.spark.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plans of every query a block executes (actions and
  * eager checkpoints alike), seen by a test-local
  * `QueryExecutionListener`. The listener bus is drained before the
  * plans are read, which needs the `private[spark]` bus. Suites in one
  * JVM run one at a time, so no other test's query is caught. */
object ExecutedPlans {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (result, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
