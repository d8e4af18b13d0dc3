package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes the program from outside while a traced pass runs: one record
  * per Spark job (call site, stages, tasks and summed task metrics), one per
  * SQL execution (Catalyst phase times, files and bytes its write command
  * produced), plus a running total of checkpoint block bytes. Records are
  * kept in memory and written out when the run ends; attribution to layers
  * happens afterwards (perfbench/stats.py).
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class JobAcc(
      val id: Int, val start: Long, val callSite: String, val sqlCallSite: String) {
    @volatile var end = 0L
    @volatile var ok = true
    val stages, tasks, runMs, deserMs, gcMs, waitMs = new AtomicLong
    val shWrite, shRead, fetchWaitMs, spill, peakMem = new AtomicLong
  }

  private val jobs = new ConcurrentHashMap[Int, JobAcc]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageSubmit = new ConcurrentHashMap[Int, Long]
  // SQL execution id -> the call site of the action that started it. In
  // Spark 4 most SQL jobs are submitted from a pool thread with no user
  // frame on its stack; the execution start event keeps the action's.
  private val sqlSite = new ConcurrentHashMap[Long, String]
  private val sql = new ConcurrentLinkedQueue[Map[String, Any]]
  val ckptBlockBytes = new AtomicLong

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // a nested execution (a write command's inner query) reports no call
      // site of its own; it inherits its root's
      val root = s.rootExecutionId.map(_.asInstanceOf[Long]).flatMap(r => Option(sqlSite.get(r)))
      sqlSite.put(s.executionId, if (s.details.contains("graft.")) s.details
        else root.getOrElse(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // The result stage carries the call site the job was submitted from.
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(sqlSite.get(id.toLong))).getOrElse("")
    jobs.put(e.jobId, new JobAcc(e.jobId, e.time, site, sql))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  private def jobOf(stageId: Int): Option[JobAcc] =
    Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    jobOf(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobOf(e.stageId).foreach { j =>
    j.tasks.incrementAndGet()
    val submitted = Option(stageSubmit.get(e.stageId)).getOrElse(e.taskInfo.launchTime)
    j.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
    Option(e.taskMetrics).foreach { m =>
      j.runMs.addAndGet(m.executorRunTime)
      j.deserMs.addAndGet(m.executorDeserializeTime)
      j.gcMs.addAndGet(m.jvmGCTime)
      j.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      j.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      j.spill.addAndGet(m.diskBytesSpilled)
      j.peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.useDisk && b.diskSize > 0)
      ckptBlockBytes.addAndGet(b.diskSize)
  }

  private def writeCommands(plan: SparkPlan): Seq[DataWritingCommandExec] = plan match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => writeCommands(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeCommands(a.executedPlan)
    case p => p.children.flatMap(writeCommands)
  }

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    def phase(name: String): Double = qe.tracker.phases.get(name)
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val writes = scala.util.Try(writeCommands(qe.executedPlan)).getOrElse(Nil)
    def metric(name: String): Long = writes.flatMap(_.cmd.metrics.get(name)).map(_.value).sum
    sql.add(Map("kind" -> "sql", "time" -> System.currentTimeMillis(), "func" -> func,
      "ok" -> ok, "analysis_ms" -> phase("analysis"),
      "optimizer_ms" -> phase("optimization"), "planning_ms" -> phase("planning"),
      "files" -> metric("numFiles"), "bytes" -> metric("numOutputBytes")))
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, ok = true)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, ok = false)

  def records: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map[String, Any]("kind" -> "job", "id" -> j.id, "start" -> j.start, "end" -> j.end,
        "ok" -> j.ok, "callsite" -> j.callSite, "sql_callsite" -> j.sqlCallSite,
        "stages" -> j.stages.get,
        "tasks" -> j.tasks.get, "run_ms" -> j.runMs.get, "deser_ms" -> j.deserMs.get,
        "gc_ms" -> j.gcMs.get, "wait_ms" -> j.waitMs.get,
        "shuffle_write" -> j.shWrite.get, "shuffle_read" -> j.shRead.get,
        "fetch_wait_ms" -> j.fetchWaitMs.get, "spill" -> j.spill.get,
        "peak_mem" -> j.peakMem.get)
    } ++ sql.asScala
}

/** Streaming progress, kept in all runs: the `stream` workload's output
  * check needs each drain's input rows and final watermark, and the traced
  * run reads trigger durations and state-operator metrics from it.
  */
final class ProgressTap extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    events.add(Map("kind" -> "progress", "time" -> System.currentTimeMillis(),
      "batch" -> p.batchId, "input_rows" -> p.numInputRows,
      "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "watermark" -> Option(p.eventTime.get("watermark")).getOrElse("")))
  }

  /** Takes every progress record received so far. */
  def take(): Seq[Map[String, Any]] =
    Iterator.continually(events.poll()).takeWhile(_ != null).toSeq
}
