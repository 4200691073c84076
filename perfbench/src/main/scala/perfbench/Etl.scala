package perfbench

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl.{BucketPaths, EtlPipeline, TripEvent, TripEventCodec}
import graft.sources.ShardedQueueSource
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The Kinesis-shaped source with the per-micro-batch record cap the
  * library's `QueueSource` does not expose. */
final class CappedQueueSource(queue: String, maxPerBatch: Option[Long]) extends SourceProvider {
  def read(spark: SparkSession): DataFrame = {
    val r = spark.readStream.format("graft.sources.ShardedQueueSource").option("queue", queue)
    maxPerBatch.fold(r)(n => r.option("max_records_per_micro_batch", n)).load().select(col("value"))
  }
}

/** The backlog fan-out workload, its traced isolation runs and paced
  * replay, and their output checks. */
final class Etl(run: Run) {
  import Etl._

  private val spans = run.spans
  private val appended = new AtomicLong()
  private val progress = new ProgressRecorder(() => appended.get())
  private def session(slots: Int): SparkSession = {
    val spark = run.session(slots)
    spark.streams.addListener(progress)
    spark
  }

  /** Appends records [0, n) of `gen` to `queue`, as fast as possible. */
  private def load(queue: String, gen: TripGen, n: Long): Unit = {
    ShardedQueueSource.clear(queue)
    var i = 0L
    while (i < n) {
      val r = gen.record(i)
      ShardedQueueSource.append(queue, gen.partitionKey(i), r.line, Shards)
      i += 1
    }
  }

  /** The records the pipeline must keep, typed as it must emit them. */
  private def expected(spark: SparkSession, gen: TripGen, n: Long): DataFrame = {
    val rows = spark.sparkContext.range(0L, n, 1L, 4 * spark.sparkContext.defaultParallelism)
      .flatMap { i => val r = gen.record(i); if (r.kept) Some(Row.fromSeq(r.values.toSeq)) else None }
    spark.createDataFrame(rows, TripEvent.inputSchema)
  }

  private def dir(name: String): String =
    Files.createDirectories(run.dir.resolve(name)).toString

  /** Waits until the progress events of `q` account for `records` input
    * rows (the listener bus delivers them after the batch commits). */
  private def awaitProgress(q: StreamingQuery, records: Long, timeoutMs: Long): Seq[Map[String, Any]] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var evs = progress.forRun(q.runId.toString)
    while (evs.map(_("rows").asInstanceOf[Long]).sum < records && System.currentTimeMillis() < deadline) {
      Thread.sleep(5)
      evs = progress.forRun(q.runId.toString)
    }
    evs
  }

  // ---------------------------------------------------------------- backlog

  /** One closed-loop drain of the pre-loaded backlog under AvailableNow. */
  private def drain(spark: SparkSession, label: String, sinks: Seq[SinkProvider]): Map[String, Any] = {
    val t0 = Clock.now
    val q = EtlStream.start(spark, new CappedQueueSource(BacklogQueue, Some(BacklogBatch)),
      sinks, dir(s"ckpt-$label-${t0}"), Trigger.AvailableNow())
    if (!q.awaitTermination(DrainTimeoutMs)) { q.stop(); sys.error(s"$label drain timed out") }
    q.exception.foreach(e => throw e)
    val t1 = Clock.now
    val batches = awaitProgress(q, BacklogRecords, 10000L)
    Map("label" -> label, "start_ns" -> t0, "end_ns" -> t1, "records" -> BacklogRecords,
      "batches" -> batches)
  }

  private final class FanOut(timed: Boolean) {
    val noop = new NoopSink
    val es = new ElasticsearchStubSink()
    val kinesis = new KinesisStubSink
    val kafka = new KafkaStubSink("trips")
    private def t(s: SinkProvider, key: String): SinkProvider =
      if (timed) new TimedSink(s, key, spans) else s
    /** The reference's Kafka -> ES shape: discard first, then the stubs. */
    val sinks: Seq[SinkProvider] = Seq(t(noop, "sink.discard"), t(es, "sink.es"),
      t(kinesis, "sink.kinesis"), t(kafka, "sink.kafka"))
    def close(): Unit = { es.close(); kinesis.close(); kafka.close() }
  }

  /** What the fan-out sinks must hold, as (index, id, doc) per expected
    * record: the ES key is (type, trip_id) and the doc, like the Kinesis and
    * Kafka payloads, is `TripEventCodec.serialize` of the expected record. */
  private def fanOutWant(spark: SparkSession, gen: TripGen): Dataset[(String, String, String)] = {
    import spark.implicits._
    TripEventCodec.serialize(expected(spark, gen, BacklogRecords)).as[String].map { doc =>
      (field(doc, "type"), field(doc, "trip_id"), doc)
    }
  }

  private final case class Want(count: Long, es: Fp, kinesis: Fp, kafka: Fp)
  private var want: Option[Want] = None

  /** Expected fingerprints, computed once per run: every drain must deliver
    * the same records. */
  private def wantFor(spark: SparkSession, gen: TripGen): Want = want.getOrElse {
    val w = fanOutWant(spark, gen).rdd.mapPartitions { it =>
      var (n, es, ki, ka) = (0L, Fp.zero, Fp.zero, Fp.zero)
      it.foreach { case (t, id, doc) =>
        n += 1
        es += Fp.one(s"$t|$id|$doc")
        ki += Fp.one(s"0|$doc")
        ka += Fp.one(s"trips|$doc")
      }
      Iterator((n, es, ki, ka))
    }.collect().foldLeft(Want(0L, Fp.zero, Fp.zero, Fp.zero)) { case (a, (n, es, ki, ka)) =>
      Want(a.count + n, a.es + es, a.kinesis + ki, a.kafka + ka)
    }
    want = Some(w)
    w
  }

  private def checkFanOut(spark: SparkSession, f: FanOut, gen: TripGen, label: String): Tally = {
    val w = wantFor(spark, gen)
    lazy val docs = fanOutWant(spark, gen).collect()
    def pairs(q: java.util.Collection[(String, String)]): () => Iterator[String] =
      () => q.asScala.iterator.map { case (k, v) => s"$k|$v" }
    Tally.count(s"$label discard sink", w.count, f.noop.rowsSeen) +
      Tally.multiset(s"$label es (type, trip_id) -> doc", w.es,
        docs.iterator.map { case (t, id, doc) => s"$t|$id|$doc" },
        () => f.es.store.asScala.iterator.map { case ((i, id), doc) => s"$i|$id|$doc" }) +
      Tally.multiset(s"$label kinesis", w.kinesis, docs.iterator.map("0|" + _._3), pairs(f.kinesis.records)) +
      Tally.multiset(s"$label kafka", w.kafka, docs.iterator.map("trips|" + _._3), pairs(f.kafka.records))
  }

  def backlogFanout(): Unit = {
    val gen = TripGen(run.seed, BacklogRate)
    var spark: SparkSession = null
    // set-up, several times: session start and backlog load; the first
    // drain then pays first-touch costs (codegen, JIT) in its first batch.
    // The traced run reports no set-up time and sets up once.
    for (_ <- 1 to (if (run.trace) 1 else Main.SetupRepeats)) {
      if (spark != null) run.stop(spark)
      ShardedQueueSource.clear(BacklogQueue)
      Main.collectGarbage()
      val t0 = System.nanoTime()
      spark = session(run.nproc)
      load(BacklogQueue, gen, BacklogRecords)
      run.out.append("setup_s", (System.nanoTime() - t0) / 1e9)
      run.log("session started, backlog loaded")
    }
    appended.set(BacklogRecords)
    run.out.put("kept", (0L until BacklogRecords).count(gen.kept).toLong)
    // drain the same backlog again until the drains add up to the run time
    var drained = 0L
    var d = 0
    while (drained < run.seconds * 1000000000L) {
      val f = new FanOut(timed = run.trace)
      val r = drain(spark, s"main$d", f.sinks)
      drained += r("end_ns").asInstanceOf[Long] - r("start_ns").asInstanceOf[Long]
      run.out.append("drains", r)
      run.log(s"drain $d done")
      run.tally(HeapPeak.excluding(checkFanOut(spark, f, gen, s"drain $d")))
      run.log(s"drain $d checked")
      f.close()
      d += 1
    }
    if (run.trace) {
      // layer isolation: the same backlog through the source alone, and the
      // same lines through the codec alone, both into noop
      run.out.append("drains", sourceOnly(spark))
      run.log("source-only drain done")
      run.out.put("parse", staticParse(spark, gen))
      run.log("static parse done")
      run.stop(spark)
      // paced replay into the deployed parquet sink, on one slot fewer so
      // the producer keeps a core
      spark = session((run.nproc - 1).max(1))
      replaySteady(spark)
      run.log("replay checked")
    }
    run.stop(spark)
  }

  private def sourceOnly(spark: SparkSession): Map[String, Any] = {
    val t0 = Clock.now
    val q = Trace.tagged(spark, "iso.source") {
      spark.readStream.format("graft.sources.ShardedQueueSource").option("queue", BacklogQueue)
        .option("max_records_per_micro_batch", BacklogBatch).load()
        .writeStream.format("noop").option("checkpointLocation", dir(s"ckpt-src-$t0"))
        .trigger(Trigger.AvailableNow()).start()
    }
    if (!q.awaitTermination(DrainTimeoutMs)) { q.stop(); sys.error("source-only drain timed out") }
    val t1 = Clock.now
    Map("label" -> "source_only", "start_ns" -> t0, "end_ns" -> t1,
      "records" -> BacklogRecords, "batches" -> awaitProgress(q, BacklogRecords, 10000L))
  }

  private def staticParse(spark: SparkSession, gen: TripGen): Map[String, Any] = {
    val n = BacklogRecords
    val lines = spark.range(0L, n, 1L, run.nproc).map(i => gen.record(i).line)(Encoders.STRING)
      .toDF("value").cache()
    lines.count()
    val kept = Observation("kept")
    val t0 = Clock.now
    Trace.tagged(spark, "iso.parse") {
      TripEventCodec.parse(lines, col("value")).observe(kept, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    val t1 = Clock.now
    lines.unpersist()
    Map("start_ns" -> t0, "end_ns" -> t1, "lines" -> n, "kept" -> kept.get("n"),
      "expected_kept" -> (0L until n).count(gen.kept).toLong)
  }

  // ----------------------------------------------------------------- replay

  /** Open-loop replay for [[ReplaySeconds]] through EtlStream into the
    * default deployed sink only, FileSink parquet: one producer thread
    * appends record i at `t0 + i / rate`, whether or not the stream keeps up. */
  private def replaySteady(spark: SparkSession): Unit = {
    val gen = TripGen(run.seed, ReplayRate)
    val n = math.round(ReplaySeconds * gen.rate)
    val s3 = new FileSink(dir("s3"), parquet = true,
      jobStartMillis = 1514764800000L + math.floorMod(run.seed, 1000L))
    appended.set(0L)
    val q = EtlStream.start(spark, new CappedQueueSource(ReplayQueue, None),
      Seq(new TimedSink(s3, "sink.s3", spans)), dir("ckpt-replay"), Trigger.ProcessingTime(0L))
    val shardOf = new Array[Int](n.toInt)
    val lateNs = new Array[Long](n.toInt)
    val t0 = Clock.now + 200000000L // leave the stream a moment to start polling
    val producer = new Thread(() => {
      var i = 0L
      while (i < n) {
        val due = t0 + (gen.sendOffsetSec(i) * 1e9).toLong
        var now = Clock.now
        while (now < due) { LockSupport.parkNanos(due - now); now = Clock.now }
        val key = gen.partitionKey(i)
        ShardedQueueSource.append(ReplayQueue, key, gen.record(i).line, Shards)
        appended.incrementAndGet()
        shardOf(i.toInt) = math.floorMod(key.hashCode, Shards)
        lateNs(i.toInt) = Clock.now - due
        i += 1
      }
    }, "perfbench-producer")
    producer.start()
    producer.join()
    val batches = awaitProgress(q, n, ReplayDrainTimeoutMs)
    q.stop()
    run.log("replay committed")
    q.exception.foreach(e => throw e)
    // per shard, the send offsets (ns after t0) in sequence-number order
    val sched = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    for (i <- 0 until n.toInt)
      sched.getOrElseUpdate(shardOf(i), mutable.ArrayBuffer.empty) += (gen.sendOffsetSec(i) * 1e9).toLong
    run.out.append("replays", Map("t0_ns" -> t0, "rate" -> gen.rate, "records" -> n,
      "sched_ns" -> sched.map { case (s, v) => s.toString -> v.toSeq }.toMap,
      "late_ns" -> lateNs.toSeq, "batches" -> batches, "s3" -> fileStats(s3.prefix)))
    run.tally(HeapPeak.excluding(checkFiles(spark, gen, n, s3.prefix)))
  }

  /** Part files per batch and bytes, from the committed layout. */
  private def fileStats(prefix: String): Map[String, Any] = {
    val files = Files.walk(java.nio.file.Paths.get(prefix)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("batch-")).toSeq
    val perBatch = files.groupBy(_.getFileName.toString.split('-')(1)).map { case (b, fs) => b -> fs.size }
    Map("files_per_batch" -> perBatch, "bytes" -> files.map(Files.size).sum)
  }

  /** The committed parquet, read back under the run prefix: every row in the
    * directory BucketPaths derives for it, and as a multiset equal to
    * EtlPipeline's batch output over the same lines. */
  private def checkFiles(spark: SparkSession, gen: TripGen, n: Long, prefix: String): Tally = {
    val cols = TripEvent.outputFields ++ BucketPaths.partitionColumns
    val got = spark.read.parquet(prefix)
    val bucket = format_string("pickup_location=%03d/year=%04d/month=%02d",
      col("pickup_location_id"), year(timestamp_millis(col("pickup_datetime"))),
      month(timestamp_millis(col("pickup_datetime"))))
    val misplaced = got.withColumn("_f", input_file_name())
      .filter(!col("_f").contains(concat(lit("/"), bucket, lit("/")))).count()
    run.log("replay placement checked")
    val rows = got.select(cols.map(col): _*)
    val linesDir = dir("replay-lines")
    // one input file, so the batch pipeline writes one file per bucket
    spark.range(0L, n, 1L, 1).map(i => gen.record(i).line)(Encoders.STRING)
      .write.mode("overwrite").text(linesDir)
    val batchDir = dir("replay-batch")
    EtlPipeline.run(spark, linesDir, batchDir, parquet = true)
    run.log("batch pipeline run")
    val batch = spark.read.parquet(batchDir).select(cols.map(col): _*)
    val placement =
      if (misplaced == 0) Tally(n, 0L, Nil)
      else Tally(n, misplaced, Seq(s"replay: $misplaced rows outside their bucket directory"))
    placement + Tally.frames("replay vs batch pipeline", batch, rows)
  }
}

object Etl {
  private val StringField = "\"([a-z_]+)\":\"([^\"]*)\"".r

  /** A string field of a serialized (compact, unescaped) TripEvent doc. */
  def field(doc: String, name: String): String =
    StringField.findAllMatchIn(doc).find(_.group(1) == name).map(_.group(2)).orNull

  val Shards = 16
  /** 16 shards x 5,000 records, half of Kinesis's 10,000-record GetRecords
    * limit: a full-limit batch would not fit the run-time budget. */
  val BacklogBatch = 80000L
  /** Four full batches: the first pays first-touch costs, the others are
    * warm. */
  val BacklogRecords: Long = 4 * BacklogBatch
  /** Nominal producer rate the backlog's pickup times are spaced at: the
    * reference's 16-shard ingest envelope. */
  val BacklogRate = 16000.0
  val ReplayRate = 2000.0
  /** Long enough for a few of its roughly 10-second micro-batches. */
  val ReplaySeconds = 10.0
  val DrainTimeoutMs = 120000L
  val ReplayDrainTimeoutMs = 60000L
  val BacklogQueue = "perfbench-backlog"
  val ReplayQueue = "perfbench-replay"
}
