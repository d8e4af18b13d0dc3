package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one block of driver code runs: `jobs` counts them and
  * `actions` counts the distinct SQL executions they belong to.
  */
final case class JobCount(jobs: Int, actions: Int)

/** Counts the jobs `body` submits, by tagging them with a job group on the
  * calling thread (Spark copies it to the threads that run a query's
  * stages), so jobs from anything else running in the session are not
  * counted. Listener events arrive asynchronously; the listener bus is
  * private to Spark, which is why this sits in Spark's package tree: it
  * waits for the bus to drain before reading the counts.
  */
object JobCounter {
  def apply[T](spark: SparkSession)(body: => T): (T, JobCount) = {
    val sc = spark.sparkContext
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          seen.add(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      val ids = seen.asScala.toSeq
      (out, JobCount(ids.size, ids.flatten.distinct.size))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
