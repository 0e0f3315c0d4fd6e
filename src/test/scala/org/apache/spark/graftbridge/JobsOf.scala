package org.apache.spark.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block submits, seen by a test-local listener. Only
  * jobs tagged with the block's own job group count, so jobs of other
  * threads do not. The listener bus is drained before the jobs are read,
  * which needs the `private[spark]` bus. */
object JobsOf {

  /** One job: its stages' names (their call sites) and the ids of the
    * RDDs its stages compute. */
  final case class Job(stageNames: Seq[String], rddIds: Set[Int])

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(Job(e.stageInfos.map(_.name), e.stageInfos.flatMap(_.rddInfos.map(_.id)).toSet))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
