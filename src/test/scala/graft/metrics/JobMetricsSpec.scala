package graft.metrics

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

class JobMetricsSpec extends SparkSpec {

  test("flush delivers every task of a finished job, with no sleep") {
    val sc = spark.sparkContext
    // a slow listener ahead of JobMetrics on the same bus queue holds every
    // task end back for 10 ms, so rows read without a working flush are
    // short (on an idle local bus they would almost always be complete)
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(10)
    }
    sc.addSparkListener(slow)
    val metrics = JobMetrics.attach(sc)
    try (1 to 20).foreach { i =>
      val partitions = 2 + i % 7
      val group = s"job-metrics-spec-$i"
      metrics.clear()
      sc.setJobGroup(group, "JobMetricsSpec")
      try sc.parallelize(1 to 1000, partitions).map(_ * 2).count()
      finally sc.clearJobGroup()
      metrics.flush()
      // exactly one job row (the flush's marker job is not recorded) ...
      val Seq(job) = metrics.jobs
      assert(job.group == group && job.description == "JobMetricsSpec", s"run $i")
      assert(job.endMs >= job.startMs, s"run $i")
      // ... and one task row per partition, every one under that job
      val tasks = metrics.tasks
      assert(tasks.size == partitions && tasks.forall(_.job == job.id), s"run $i")
      assert(tasks.forall(t => t.taskType == "ResultTask" && job.stageIds.contains(t.stage)))
    } finally { metrics.detach(); sc.removeSparkListener(slow) }
  }

  test("each job names the Dataset action it ran under and that action's call site") {
    val metrics = JobMetrics.attach(spark.sparkContext)
    try {
      metrics.flush()
      metrics.clear()
      spark.range(0, 100, 1, 2).selectExpr("sum(id)").collect()
      spark.range(0, 100, 1, 2).repartition(3).count()
      metrics.flush()
      val jobs = metrics.jobs
      val ids = jobs.flatMap(_.executionId).distinct
      assert(jobs.forall(_.executionId.isDefined) && ids.size == 2, jobs)
      val sites = ids.map(metrics.executions)
      assert(sites.head.startsWith("collect at JobMetricsSpec.scala:"), sites)
      assert(sites.last.startsWith("count at JobMetricsSpec.scala:"), sites)
    } finally metrics.detach()
  }

  test("main code reads Spark's job events only through graft.metrics") {
    // a hand-rolled listener re-states the bus-draining rule JobMetrics.flush
    // holds once (three earlier copies waited on the bus with a sleep)
    val listener =
      """(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener(Interface)?\b""".r
    val offenders = graft.MainSources.files
      .filterNot(_._1.toString.contains("graft/metrics/"))
      .filter { case (_, text) => listener.findFirstIn(text).nonEmpty }
      .map(_._1.toString)
    assert(offenders.isEmpty, s"SparkListener outside graft/metrics: $offenders")
  }
}
