package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.metrics.JobMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.storage.StorageLevel

/** Streaming parity (SURVEY §7 M3): read-once fan-out, per-record dynamic ES
  * routing, fixed Kinesis partition key, kill-restart idempotence, and the
  * shape of each batch's fan-out (jobs, caches, passes over the input).
  */
class EtlStreamSpec extends SparkSpec {
  import spark.implicits._

  private def line(i: Int, typ: String = "trip"): String =
    s"""{"vendor_id": 1, "pickup_datetime": "2018-11-0${i % 9 + 1}T10:00:00.000Z",
       | "dropoff_datetime": "2018-11-0${i % 9 + 1}T11:00:00.000Z",
       | "passenger_count": 1, "trip_distance": 1.5, "ratecode_id": 1,
       | "store_and_fwd_flag": "N", "pickup_location_id": ${i % 50 + 1},
       | "dropoff_location_id": 5, "payment_type": 1, "fare_amount": 10.0,
       | "extra": 0.0, "mta_tax": 0.5, "tip_amount": 1.0, "tolls_amount": 0.0,
       | "improvement_surcharge": 0.3, "total_amount": 11.8,
       | "trip_id": ${1000 + i}, "type": "$typ"}""".stripMargin
      .replaceAll("\n", "")

  private def writeBatchFile(dir: String, name: String, lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
  }

  test("read-once fan-out: one source feeds parquet + ES + kinesis + noop (A16)") {
    val in = tmpDir("stream-in"); val out = tmpDir("stream-out")
    val ckpt = tmpDir("stream-ckpt")
    writeBatchFile(in, "b0.json", (0 until 20).map(i => line(i, if (i % 2 == 0) "trip" else "other")) :+ "garbage")
    val es = new ElasticsearchStubSink
    val kinesis = new KinesisStubSink
    val kafka = new KafkaStubSink("trips")
    val noop = new NoopSink
    val fileSink = new FileSink(out, parquet = true)
    val q = EtlStream.start(spark, new JsonFileSource(in),
      Seq(fileSink, es, kinesis, kafka, noop),
      ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(noop.rowsSeen == 20)
    // Kafka stub: every record produced to the configured topic (A14)
    assert(kafka.records.size() == 20)
    kafka.records.forEach { case (t, _) => assert(t == "trips") }
    assert(es.count == 20)
    // dynamic routing: index comes from the payload `type`
    assert(es.store.keySet().stream().map(_._1).distinct().count() == 2)
    // fixed partition key "0" (StreamingEtl.java:191-205)
    assert(kinesis.records.size() == 20)
    kinesis.records.forEach { case (k, _) => assert(k == "0") }
    // A8 + A7: job_start=<epoch> run prefix over the reference's flat
    // zero-padded partition layout, batch-scoped deterministic file names
    assert(fileSink.prefix.matches(s"$out/job_start=\\d+"))
    assert(spark.read.parquet(fileSink.prefix).count() == 20)
    val aFile = java.nio.file.Files.walk(java.nio.file.Paths.get(fileSink.prefix))
      .filter(p => p.getFileName.toString.startsWith("batch-0-"))
      .findFirst().get().toString
    assert(aFile.matches(
      ".*/pickup_location=\\d{3}/year=\\d{4}/month=\\d{2}/batch-0-\\d{5}\\..*"), aFile)
  }

  test("ES bulk buffer: small max-actions still delivers everything; rejections retry (ref :268-280)") {
    val in = tmpDir("es-in"); val ckpt = tmpDir("es-ckpt")
    // maxActions=3 forces many mid-partition flushes; 2 injected rejections
    // exercise the RetryRejectedExecutionFailureHandler analogue
    val es = new ElasticsearchStubSink(bulkFlushMaxActions = 3)
    es.injectRejections(2)
    writeBatchFile(in, "b0.json", (0 until 17).map(line(_)))
    val q = EtlStream.start(spark, new JsonFileSource(in), Seq(es), ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(es.count == 17)
  }

  test("A18: region resolves per-facet with the eu-west-1 default") {
    val cfg = graft.etl.EtlConfig(Map("ElasticsearchRegion" -> "us-east-2"))
    if (!sys.env.contains("AWS_REGION") && !sys.env.contains("AWS_DEFAULT_REGION")) {
      assert(cfg.defaultRegion == "eu-west-1")
      assert(cfg.inputStreamRegion == "eu-west-1")
    }
    assert(cfg.elasticsearchRegion == "us-east-2")
  }

  test("ProcessingTime trigger (the reference's 60s cadence, scaled down)") {
    val in = tmpDir("pt-in"); val ckpt = tmpDir("pt-ckpt")
    val es = new ElasticsearchStubSink
    writeBatchFile(in, "b0.json", (0 until 8).map(line(_)))
    val q = EtlStream.start(spark, new JsonFileSource(in), Seq(es), ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      assert(es.count == 8)
      writeBatchFile(in, "b1.json", (8 until 14).map(line(_)))
      q.processAllAvailable()
      assert(es.count == 14) // continuous micro-batches pick up new files
    } finally q.stop()
  }

  test("MetricsListener reports per-batch input rows (the dashboard analogue)") {
    val in = tmpDir("m-in"); val out = tmpDir("m-out"); val ckpt = tmpDir("m-ckpt")
    writeBatchFile(in, "b0.json", (0 until 12).map(line(_)))
    val metrics = new MetricsListener
    spark.streams.addListener(metrics)
    try {
      val q = EtlStream.start(spark, new JsonFileSource(in),
        Seq(new FileSink(out, parquet = true)), ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
      // listener events are delivered asynchronously — poll briefly
      val deadline = System.currentTimeMillis() + 15000
      while (metrics.totalInputRows < 12 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(metrics.totalInputRows == 12)
      val b = metrics.snapshot.filter(_.inputRows > 0)
      assert(b.nonEmpty && b.head.durationMs > 0)
    } finally spark.streams.removeListener(metrics)
  }

  test("kill-restart: checkpoint + idempotent sinks → no duplicates (A19)") {
    val in = tmpDir("rs-in"); val out = tmpDir("rs-out"); val ckpt = tmpDir("rs-ckpt")
    val es = new ElasticsearchStubSink
    val jobStart = System.currentTimeMillis() // restart resumes the run prefix
    writeBatchFile(in, "b0.json", (0 until 10).map(line(_)))
    val q1 = EtlStream.start(spark, new JsonFileSource(in),
      Seq(new FileSink(out, parquet = true, jobStart), es), ckpt,
      Trigger.AvailableNow())
    q1.awaitTermination(120000)
    assert(es.count == 10)

    // "crash": stop, deliver more input, restart from the same checkpoint
    writeBatchFile(in, "b1.json", (10 until 25).map(line(_)))
    val q2 = EtlStream.start(spark, new JsonFileSource(in),
      Seq(new FileSink(out, parquet = true, jobStart), es), ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination(120000)

    assert(es.count == 25) // upsert by (index, id): no dups after restart
    val total = spark.read.parquet(s"$out/job_start=$jobStart").count()
    assert(total == 25) // batch-scoped file names are replay-safe
  }

  test("kill in mid fan-out: a replayed batch converges in every sink (A19)") {
    val in = tmpDir("mf-in"); val out = tmpDir("mf-out"); val ckpt = tmpDir("mf-ckpt")
    val n = 25
    val jobStart = System.currentTimeMillis()
    // maxActions=3: the ES writer flushes, and fails, after the third
    // record of its partition has reached the Kinesis and Kafka writers
    val es = new ElasticsearchStubSink(bulkFlushMaxActions = 3, maxRetries = 2)
    val kinesis = new KinesisStubSink
    val kafka = new KafkaStubSink("trips")
    def run() = {
      val q = EtlStream.start(spark, new JsonFileSource(in),
        Seq(new FileSink(out, parquet = true, jobStart), es, kinesis, kafka), ckpt,
        Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    writeBatchFile(in, "b0.json", (0 until n).map(i => line(i, if (i % 3 == 0) "other" else "trip")))
    es.injectRejections(Int.MaxValue) // beyond maxRetries on every flush
    intercept[StreamingQueryException](run())
    assert(es.count == 0)
    assert(kinesis.records.size() > 0 && kinesis.records.size() < n,
      s"the first run must fail partway through the record pass (${kinesis.records.size()})")

    es.injectRejections(0)
    run() // restart from the same checkpoint: batch 0 replays
    val want = spark.read.parquet(s"$out/job_start=$jobStart")
    assert(want.count() == n) // FileSink overwrote its own batch files
    assert(es.count == n) // upserts by (type, trip_id)
    val docs = es.store.values().asScala.toSet
    assert(docs.size == n)
    // at-least-once: every doc, possibly twice
    for (sink <- Seq(kinesis.records, kafka.records)) {
      assert(sink.size() >= n)
      assert(sink.asScala.map(_._2).toSet == docs)
    }
  }

  /** Job shapes per micro-batch of the streaming run `runId`, read after a
    * flush. A streaming query's jobs carry its run id as their group and
    * the micro-batch id as a local property. The shape tells a single pass
    * over the input ("pass": one stage of result tasks, as
    * `foreachPartition` runs) from the stages of a shuffle ("map": a job of
    * map tasks, as AQE submits each map stage; "result": a result stage
    * behind a shuffle). */
  private def byBatch(m: JobMetrics, runId: String): Map[Long, Seq[String]] = {
    m.flush()
    val taskTypes = m.tasks.map(t => t.stage -> t.taskType).toMap
    def shape(stages: Seq[Int]): String =
      if (taskTypes.get(stages.max).contains("ShuffleMapTask")) "map"
      else if (stages.size == 1) "pass"
      else "result"
    m.jobs.filter(_.group == runId).map(j => (j.batchId.get, shape(j.stageIds)))
      .groupMap(_._1)(_._2)
  }

  /** A record sink that counts what it is handed and notes, per batch
    * write, whether the driver's cache was empty when its writer opened. */
  private final class ProbeSink extends RecordSink {
    val name = "probe"
    val rows = spark.sparkContext.longAccumulator("probe.rows")
    val opened = new ConcurrentLinkedQueue[Boolean]()
    def writer(s: SparkSession): () => RecordWriter = {
      opened.add(s.sharedState.cacheManager.isEmpty)
      val acc = rows
      () => new ProbeWriter(acc)
    }
  }

  /** A frame sink decorator noting, per write, whether the batch is cached. */
  private final class FrameProbe(inner: SinkProvider) extends SinkProvider {
    val name = inner.name
    val writes = new ConcurrentLinkedQueue[(Long, Boolean)]() // (batchId, cached)
    def write(events: DataFrame, batchId: Long): Unit = {
      writes.add((batchId, events.storageLevel != StorageLevel.NONE))
      inner.write(events, batchId)
    }
  }

  /** Three one-file batches of `perBatch` events through `sinks`; returns
    * the run's job shapes per batch and how many source lines were read. */
  private def fanOut(tag: String, perBatch: Int, sinks: Seq[SinkProvider])
      : (Map[Long, Seq[String]], Long) = {
    val in = tmpDir(s"$tag-in"); val ckpt = tmpDir(s"$tag-ckpt")
    for (b <- 0 until 3)
      writeBatchFile(in, s"b$b.json", (0 until perBatch).map(i => line(b * perBatch + i)))
    val reads = spark.sparkContext.longAccumulator(s"$tag.reads")
    val counted = udf { (v: String) => reads.add(1); v }
    val source = new SourceProvider {
      def read(s: SparkSession): DataFrame =
        new JsonFileSource(in, maxFilesPerTrigger = 1).read(s).select(counted(col("value")).as("value"))
    }
    val metrics = JobMetrics.attach(spark.sparkContext)
    try {
      val q = EtlStream.start(spark, source, sinks, ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
      (byBatch(metrics, q.runId.toString), reads.sum)
    } finally metrics.detach()
  }

  test("fan-out shape: record sinks share one job per batch, with nothing cached") {
    val (es, kinesis, kafka, noop, probe) = (new ElasticsearchStubSink, new KinesisStubSink,
      new KafkaStubSink("trips"), new NoopSink, new ProbeSink)
    val (jobs, reads) = fanOut("shape-rec", 10, Seq(noop, es, kinesis, kafka, probe))
    assert(jobs.keySet == Set(0L, 1L, 2L))
    jobs.foreach { case (b, shapes) => assert(shapes == Seq("pass"), s"batch $b ran $shapes") }
    assert(reads == 30) // each line decoded once
    assert(probe.rows.sum == 30)
    assert(probe.opened.asScala.toSeq == Seq(true, true, true))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(noop.rowsSeen == 30 && es.count == 30)
    assert(kinesis.records.size() == 30 && kafka.records.size() == 30)
    Seq(es.close _, kinesis.close _, kafka.close _).foreach(_())
  }

  test("fan-out shape: a file sink beside record sinks persists once, then releases it") {
    val file = new FrameProbe(new FileSink(tmpDir("shape-file-out"), parquet = true))
    val (es, noop, probe) = (new ElasticsearchStubSink, new NoopSink, new ProbeSink)
    val (jobs, reads) = fanOut("shape-file", 10, Seq(file, es, noop, probe))
    assert(reads == 30) // the record pass reads the cached batch
    // one FileSink write over the cached batch, one record pass, per batch
    assert(file.writes.asScala.toSeq.sortBy(_._1) == Seq(0L -> true, 1L -> true, 2L -> true))
    assert(probe.opened.asScala.toSeq == Seq(false, false, false))
    // AQE builds the cache in a job of its own (a pass over the source),
    // the FileSink writes through a shuffle, and the record sinks share
    // one pass over the cached batch
    assert(jobs.keySet == Set(0L, 1L, 2L))
    jobs.foreach { case (b, shapes) =>
      assert(shapes == Seq("pass", "map", "result", "pass"), s"batch $b ran $shapes")
    }
    assert(probe.rows.sum == 30 && noop.rowsSeen == 30 && es.count == 30)
    assert(spark.sharedState.cacheManager.isEmpty)
    es.close()
  }

  test("fan-out shape: the discard sink on its own is a count, with no serialization") {
    val noop = new NoopSink
    val (jobs, reads) = fanOut("shape-noop", 10, Seq(noop))
    assert(jobs.keySet == Set(0L, 1L, 2L))
    jobs.foreach { case (b, shapes) =>
      assert(!shapes.contains("pass"), s"batch $b ran $shapes")
    }
    assert(reads == 30 && noop.rowsSeen == 30)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}

private final class ProbeWriter(acc: org.apache.spark.util.LongAccumulator) extends RecordWriter {
  def write(index: String, id: String, doc: String): Unit = acc.add(1)
  def close(): Unit = ()
}
