package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import graft.streaming.SinkProvider
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so driver-side
  * spans and listener timestamps share one axis. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now: Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One timed interval; `key` names what ran (a sink, a query, a phase). */
final case class Span(key: String, batch: Long, startNs: Long, endNs: Long) {
  def toMap: Map[String, Any] =
    Map("key" -> key, "batch" -> batch, "start_ns" -> startNs, "end_ns" -> endNs)
}

/** Spans kept in memory for the whole run and written out at the end. */
final class Spans {
  private val all = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = all.add(s)
  def toSeq: Seq[Span] = all.asScala.toSeq
}

object Trace {
  /** Local property that tags the Spark jobs a span launches. */
  val SpanProperty = "perfbench.span"

  /** Time spent in the benchmark's own listeners and sink decorator: the
    * direct cost of tracing. */
  val overheadNs = new java.util.concurrent.atomic.AtomicLong()

  def charged[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  def tagged[T](spark: SparkSession, key: String)(body: => T): T = {
    val sc = spark.sparkContext
    charged(sc.setLocalProperty(SpanProperty, key))
    try body finally charged(sc.setLocalProperty(SpanProperty, null))
  }
}

/** Times each `write` of the wrapped sink and tags its Spark jobs, so the
  * jobs' wall can be subtracted from the span (what is left is driver-side
  * work: staging commit, renames, client calls). */
final class TimedSink(inner: SinkProvider, key: String, spans: Spans) extends SinkProvider {
  val name: String = inner.name
  def write(events: DataFrame, batchId: Long): Unit =
    Trace.tagged(events.sparkSession, key) {
      val t0 = Clock.now
      try inner.write(events, batchId)
      finally Trace.charged(spans.add(Span(key, batchId, t0, Clock.now)))
    }
}

/** Every progress event of every streaming query, kept in full (a query's
  * `recentProgress` holds only the last 100). `appended` samples how many
  * records the producer has appended when the event arrives. */
final class ProgressRecorder(appended: () => Long) extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val arrived = Clock.now
    val p = e.progress
    val src = p.sources.headOption
    events.add(Map(
      "run_id" -> p.runId.toString,
      "batch" -> p.batchId,
      "event_ns" -> arrived,
      "appended" -> appended(),
      "rows" -> p.numInputRows,
      "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "start_offsets" -> src.map(s => ShardOffsetsJson.parse(s.startOffset)).getOrElse(Map.empty),
      "end_offsets" -> src.map(s => ShardOffsetsJson.parse(s.endOffset)).getOrElse(Map.empty)))
  }

  def forRun(runId: String): Seq[Map[String, Any]] =
    events.asScala.filter(_("run_id") == runId).toSeq.sortBy(_("batch").asInstanceOf[Long])
}

object ShardOffsetsJson {
  /** `{"0":12,"3":40}` -> shard -> consumed count; null/absent -> empty. */
  def parse(json: String): Map[String, Long] =
    if (json == null) Map.empty
    else "\"(\\d+)\":(\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
}

/** Task metrics aggregated per Spark job, with the job's wall and the span
  * that launched it. */
final class JobRecorder extends SparkListener {
  private final class Job(val id: Int, val key: String, val startNs: Long) {
    var endNs = 0L
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var maxTaskMs = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.charged(synchronized {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, key, e.time * 1000000L)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.charged(synchronized {
    jobs.get(e.jobId).foreach(_.endNs = e.time * 1000000L)
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.charged(synchronized {
    for (jobId <- stageToJob.get(e.stageId); j <- jobs.get(jobId); m <- Option(e.taskMetrics)) {
      val ms = e.taskInfo.duration
      j.tasks += 1
      j.taskMs += ms
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.maxTaskMs = j.maxTaskMs max ms
    }
  })

  def toSeq: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map(
      "job" -> j.id, "key" -> j.key, "start_ns" -> j.startNs, "end_ns" -> j.endNs,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
      "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
      "max_task_ms" -> j.maxTaskMs))
  }
}

/** Peak heap in use right after a collection, over every GC of the run
  * except those that start inside [[excluding]]. */
object HeapPeak {
  @volatile private var peakBytes = 0L
  private var installed = false
  /** Excluded windows in JVM uptime milliseconds; the open one ends at
    * Long.MaxValue. GC notifications arrive late, so they are matched by the
    * collection's start time, not by when they arrive. */
  private val excluded = new ConcurrentLinkedQueue[(Long, Long)]()

  private def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Runs `body` (the benchmark's own checks) without counting its heap:
    * collections that start inside it are ignored, and a full collection at
    * its end clears what it left before counting resumes. */
  def excluding[T](body: => T): T = {
    val open = (uptimeMs, Long.MaxValue)
    excluded.add(open)
    try body
    finally {
      excluded.add((open._1, uptimeMs))
      excluded.remove(open)
      System.gc()
    }
  }

  private def isExcluded(startMs: Long): Boolean =
    excluded.asScala.exists { case (from, to) => startMs >= from && startMs < to }

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      val listener = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            if (!isExcluded(info.getGcInfo.getStartTime)) {
              val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                case (pool, u) if heapPools.contains(pool) => u.getUsed
              }.sum
              if (after > peakBytes) peakBytes = after
            }
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ =>
      }
    }
  }

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** Forces one collection first so a run that never filled the young
    * generation still reports what it holds. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(50)
    peakBytes / (1024.0 * 1024.0)
  }
}
