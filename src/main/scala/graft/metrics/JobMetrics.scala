package graft.metrics

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job: its group (a streaming query's run id), the micro-batch
  * it ran for, its description, the SQL execution (Dataset action) it ran
  * under, start and end times (epoch ms; `endMs` is -1 until the job ends)
  * and every stage it lists, skipped ones included. */
final case class JobRow(id: Int, group: String, batchId: Option[Long], description: String,
    executionId: Option[Long], startMs: Long, endMs: Long, stageIds: Seq[Int])

/** One finished task. `job` is the job that listed its stage most recently
  * when it ended (-1 if no such job started while the listener was
  * attached); `durationMs` is the scheduler's wall time, `runMs` the
  * executor's run time. */
final case class TaskRow(job: Int, stage: Int, taskType: String, durationMs: Long, runMs: Long,
    cpuMs: Long, gcMs: Long, deserializeMs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleReadRecords: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** The job and task rows of a SparkContext, for the measurement tools
  * (`ProfileQuery`, `ScaleBench`) and the specs that assert on task
  * metrics. Runtime numbers come from Spark's own listener events, so
  * nothing on a query's path changes; only a caller that reads the rows
  * attaches one.
  *
  * The listener bus delivers events asynchronously: read the rows after
  * [[flush]], never after a sleep. */
final class JobMetrics private (sc: SparkContext) extends SparkListener {
  private val jobRows = new ConcurrentHashMap[Int, JobRow]()
  private val executionRows = new ConcurrentHashMap[Long, String]()
  private val taskRows = new ConcurrentLinkedQueue[TaskRow]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var attached = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop(JobMetrics.GroupKey)
    group.flatMap(g => Option(markers.remove(g))) match {
      case Some(seen) =>
        e.stageIds.foreach(markerStages.add)
        seen.countDown()
      case None =>
        e.stageIds.foreach(stageToJob.put(_, e.jobId))
        jobRows.put(e.jobId, JobRow(e.jobId, group.orNull, prop("streaming.sql.batchId").map(_.toLong),
          prop("spark.job.description").getOrElse(""), prop("spark.sql.execution.id").map(_.toLong),
          e.time, -1L, e.stageIds))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => executionRows.put(x.executionId, x.description); ()
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobRows.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time)); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && !markerStages.contains(e.stageId))
      taskRows.add(TaskRow(stageToJob.getOrDefault(e.stageId, -1), e.stageId, e.taskType,
        e.taskInfo.duration, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.executorDeserializeTime, m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
    ()
  }

  /** Returns once every event posted before the call has reached this
    * listener. It runs a one-task marker job under a fresh job group; the
    * marker's start event is queued behind every earlier event on the same
    * bus queue, so its arrival proves they were delivered. The marker job
    * and its task are not recorded. */
  def flush(): Unit = {
    require(attached, "JobMetrics.flush: the listener is not attached")
    val marker = s"graft-metrics-flush-${UUID.randomUUID()}"
    val seen = new CountDownLatch(1)
    markers.put(marker, seen)
    val callerGroup = sc.getLocalProperty(JobMetrics.GroupKey)
    sc.setLocalProperty(JobMetrics.GroupKey, marker)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(JobMetrics.GroupKey, callerGroup)
    seen.await()
  }

  /** Jobs seen since the last [[clear]], by id. */
  def jobs: Seq[JobRow] = jobRows.values.asScala.toSeq.sortBy(_.id)

  /** Tasks seen since the last [[clear]], in the order they ended. */
  def tasks: Seq[TaskRow] = taskRows.asScala.toSeq

  /** The description of each SQL execution started since the last
    * [[clear]], by execution id: the action's call site (`collect at
    * File.scala:12`) unless the caller set a job description. */
  def executions: Map[Long, String] = executionRows.asScala.toMap

  def clear(): Unit = { jobRows.clear(); taskRows.clear(); executionRows.clear() }

  def detach(): Unit = { attached = false; sc.removeSparkListener(this) }
}

object JobMetrics {
  private val GroupKey = "spark.jobGroup.id"

  /** A new listener registered on `sc`; [[JobMetrics.detach]] removes it. */
  def attach(sc: SparkContext): JobMetrics = {
    val m = new JobMetrics(sc)
    sc.addSparkListener(m)
    m.attached = true
    m
  }
}
