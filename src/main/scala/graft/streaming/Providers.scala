package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import graft.etl.{BucketPaths, TripEventCodec}
import graft.operators.LakeCommit
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Connector seams. The environment ships no Kinesis/Kafka/ES jars (verified
  * against /opt/spark/jars), so external connectors are pure interfaces with
  * local/in-memory implementations; a real connector (e.g. a DataSource V2
  * MicroBatchStream polling Kinesis) plugs in behind [[SourceProvider]]
  * without touching the pipeline.
  */
trait SourceProvider {
  /** A streaming DataFrame with a single string column `value` holding raw
    * JSON lines (the wire format — reference TripEventSchema.java:49-83). */
  def read(spark: SparkSession): DataFrame
}

/** File-drop stand-in for the Kinesis/Kafka source: each file is a batch of
  * JSON lines. `maxFilesPerTrigger` is the backpressure knob (the analogue of
  * the reference's per-shard GetRecords pacing, StreamingEtl.java:167). */
final class JsonFileSource(dir: String, maxFilesPerTrigger: Int = 10)
    extends SourceProvider {
  def read(spark: SparkSession): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
}

/** Kinesis-shaped source: the graft sharded-queue DataSource V2 stream
  * (graft.sources.ShardedQueueSource) — shards, per-shard sequence-number
  * offsets, TRIM_HORIZON/LATEST starting positions. The `value` column
  * carries the JSON wire format, matching the reference's Kinesis consumer
  * wiring (StreamingEtl.java:155-175). */
final class QueueSource(queue: String, val startingPosition: String = "TRIM_HORIZON")
    extends SourceProvider {
  def read(spark: SparkSession): DataFrame =
    spark.readStream
      .format("graft.sources.ShardedQueueSource")
      .option("queue", queue)
      .option("starting_position", startingPosition)
      .load()
      .select(col("value"))
}

/** Sinks receive each micro-batch DataFrame of parsed TripEvents (20 cols).
  * Implementations must be idempotent per (batchId) — batches can replay
  * after failure; idempotence is what upgrades at-least-once to effective
  * exactly-once (the reference's own strategy for ES: deterministic doc ids,
  * StreamingEtl.java:250-259).
  */
trait SinkProvider {
  def name: String
  def write(events: DataFrame, batchId: Long): Unit
}

/** One partition's writer of a [[RecordSink]], opened on the executor. */
trait RecordWriter {
  /** One serialized TripEvent: `index` is its `type`, `id` its `trip_id` as
    * text, `doc` its 18-field JSON ([[TripEventCodec.serialize]]'s line). */
  def write(index: String, id: String, doc: String): Unit
  /** End of the partition: deliver whatever is buffered. */
  def close(): Unit
}

/** A sink that takes one serialized record at a time — the reference's
  * ES, Kinesis, Kafka and discarding sinks, which Flink chains into one
  * task behind the parse (StreamingEtl.java:106-149). [[EtlStream]] writes
  * all record sinks of a batch in one pass ([[RecordSink.write]]); on its
  * own a record sink takes that same path.
  */
trait RecordSink extends SinkProvider {
  /** Called on the driver once per batch write; the returned opener is
    * shipped to the executors and called once per partition. */
  def writer(spark: SparkSession): () => RecordWriter

  def write(events: DataFrame, batchId: Long): Unit =
    RecordSink.write(events, Seq(this))
}

object RecordSink {
  /** One job over `events`: each row is decoded once and serialized once,
    * then handed to every sink's writer for its partition. */
  def write(events: DataFrame, sinks: Seq[RecordSink]): Unit = {
    val open = sinks.map(_.writer(events.sparkSession))
    events
      .select(col("type"), col("trip_id").cast("string"),
        TripEventCodec.outputJson)
      .foreachPartition { rows: Iterator[Row] =>
        val writers = open.map(_()).toArray
        rows.foreach { r =>
          val (index, id, doc) = (r.getString(0), r.getString(1), r.getString(2))
          writers.foreach(_.write(index, id, doc))
        }
        writers.foreach(_.close())
      }
  }
}

/** Per-JVM backing stores for the stub sinks, reached from executor tasks by
  * a static lookup on a sink-instance id. The foreachPartition closures ship
  * only the id STRING — never the store — exactly how a real connector opens
  * a per-partition bulk client from serialized config; under `local[*]`
  * executors share the driver JVM, so tests read the same store back.
  */
object SinkStores {
  private val maps =
    new ConcurrentHashMap[String, ConcurrentHashMap[(String, String), String]]()
  private val queues =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[(String, String)]]()
  /** Remaining forced bulk rejections per sink id (test hook simulating ES
    * rejected-execution backpressure — reference handles these with
    * RetryRejectedExecutionFailureHandler, StreamingEtl.java:268). */
  private val rejectBudget = new ConcurrentHashMap[String, AtomicInteger]()

  def map(id: String): ConcurrentHashMap[(String, String), String] =
    maps.computeIfAbsent(id, _ => new ConcurrentHashMap)
  def queue(id: String): ConcurrentLinkedQueue[(String, String)] =
    queues.computeIfAbsent(id, _ => new ConcurrentLinkedQueue)
  def injectRejections(id: String, n: Int): Unit =
    rejectBudget.put(id, new AtomicInteger(n))
  /** Release a sink's store (called from the stubs' close()). */
  def drop(id: String): Unit = {
    maps.remove(id); queues.remove(id); rejectBudget.remove(id); ()
  }
  /** True when the simulated cluster rejects this bulk execution. */
  def rejects(id: String): Boolean = {
    val budget = rejectBudget.get(id)
    budget != null && budget.getAndDecrement() > 0
  }
}

/** Partitioned file sink (parquet or JSON-lines) reproducing A7–A10: every
  * run writes under `{outDir}/job_start=<epoch-millis>/` (reference
  * StreamingEtl.java:217) with the reference's flat partition layout
  * `pickup_location=%03d/year=%04d/month=%02d` and the 18-field output
  * projection.
  *
  * Exactly-once within a run: each micro-batch's part files are committed
  * under deterministic batch-scoped names (`batch-<id>-<k>`), so a replayed
  * batch overwrites its own files in place instead of appending duplicates.
  * Across job submissions the reference's own contract applies: a new run
  * gets a new `job_start=` prefix (pass `jobStartMillis` to resume a run's
  * prefix, e.g. after restoring a checkpoint).
  */
final class FileSink(outDir: String, parquet: Boolean,
                     jobStartMillis: Long = System.currentTimeMillis())
    extends SinkProvider {
  val name: String = if (parquet) "s3-parquet" else "s3-json"

  /** A8: the run prefix — reference `%sjob_start=%s/` (StreamingEtl.java:217). */
  val prefix: String = s"$outDir/job_start=$jobStartMillis"

  def write(events: DataFrame, batchId: Long): Unit = {
    val spark = events.sparkSession
    val tmp = s"$prefix/.spark-staging-batch-$batchId"
    // cluster by the partition columns first: one writer/file per touched
    // partition per batch instead of (tasks × partitions) tiny files — the
    // write opens fewer concurrent parquet writers and the commit renames
    // proportionally fewer files (at larger scale, add a salt column to the
    // repartition to split hot partitions across writers)
    val bucketed = BucketPaths.withBucketColumns(events)
      .repartition(BucketPaths.partitionColumns.map(col): _*)
    if (parquet)
      bucketed
        .select((TripEventCodec.outputColumns ++
          BucketPaths.partitionColumns.map(col)): _*)
        .write.mode("overwrite")
        .partitionBy(BucketPaths.partitionColumns: _*)
        .parquet(tmp)
    else
      bucketed
        .select(TripEventCodec.outputJson.as("value"),
          col("pickup_location"), col("year"), col("month"))
        .write.mode("overwrite")
        .partitionBy(BucketPaths.partitionColumns: _*)
        .text(tmp)
    promote(spark, tmp, batchId)
  }

  /** Move the staged part files into the reference layout under
    * deterministic names. A replayed batch stages the same partitions (the
    * batch content is checkpoint-determined), so deleting `batch-<id>-*` in
    * each staged partition before the rename makes the commit idempotent. */
  private def promote(spark: SparkSession, tmp: String, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpPath = fs.makeQualified(new Path(tmp))
    if (!fs.exists(tmpPath)) return
    // plain listStatus recursion — listFiles(recursive) resolves block
    // locations per entry, which is an order of magnitude slower on local
    // filesystems and useless here
    val files = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.startsWith("part-")) files += st.getPath
    }
    walk(tmpPath)
    val byPartition = files.sortBy(_.toString).zipWithIndex
      .groupBy { case (p, _) =>
        // partition subpath: path segments between the staging dir and file
        val parent = p.getParent.toString
        if (parent == tmpPath.toString) ""
        else parent.stripPrefix(tmpPath.toString + "/")
      }.toSeq
    // one commit unit per partition dir — renames are metadata ops but a
    // micro-batch can touch hundreds of partitions × many part files, and a
    // sequential driver loop would dominate the batch time. runAll returns
    // only when no unit is running, so a replayed batch (which deletes and
    // renames `batch-<id>-*` in the same dirs) cannot race this one.
    LakeCommit.runAll(byPartition, 16) { case (rel, parts) =>
      val destDir = if (rel.isEmpty) new Path(prefix) else new Path(prefix, rel)
      fs.mkdirs(destDir)
      val stale = fs.listStatus(destDir)
        .filter(_.getPath.getName.startsWith(s"batch-$batchId-"))
      stale.foreach(s => fs.delete(s.getPath, false))
      parts.foreach { case (src, k) =>
        val suffix = src.getName.dropWhile(_ != '.') // .snappy.parquet / .txt
        LakeCommit.rename(fs, src, new Path(destDir, f"batch-$batchId-$k%05d$suffix"))
      }
    }
    fs.delete(tmpPath, true)
  }
}

/** In-memory Elasticsearch stub with the reference's dynamic routing:
  * index = `type`, id = `trip_id`, document = the 18-field JSON
  * (StreamingEtl.java:250-259). Upsert by (index, id) → idempotent →
  * replayed batches are harmless (the exactly-once claim, README.md:18-19).
  *
  * Executor-side shape: each partition's records go into a bulk buffer that
  * flushes on max-actions / max-size / flush-interval — the reference's
  * BulkProcessor tunables (`ElasticsearchBulkFlushMaxSizeMb|MaxActions|Interval`,
  * StreamingEtl.java:270-280) — and retries bulk executions the cluster
  * rejects (RetryRejectedExecutionFailureHandler analogue, :268). No record
  * ever round-trips through the driver.
  */
final class ElasticsearchStubSink(
    bulkFlushMaxSizeMb: Int = 5,
    bulkFlushMaxActions: Int = 500,
    bulkFlushIntervalMillis: Long = 0L, // 0 = flush on size/actions/end only
    maxRetries: Int = 8) extends RecordSink {
  val name = "elasticsearch"
  private val id = java.util.UUID.randomUUID().toString

  /** (index, docId) -> document JSON; a stand-in for the bulk REST client. */
  def store: ConcurrentHashMap[(String, String), String] = SinkStores.map(id)
  def count: Int = store.size()
  /** Test hook: force the next `n` bulk executions to be rejected. */
  def injectRejections(n: Int): Unit = SinkStores.injectRejections(id, n)
  /** Release the per-JVM store (long-lived drivers creating many sinks). */
  def close(): Unit = SinkStores.drop(id)

  def writer(spark: SparkSession): () => RecordWriter = {
    val (sinkId, maxActions, retries) = (id, bulkFlushMaxActions, maxRetries)
    val maxBytes = bulkFlushMaxSizeMb * 1024L * 1024L
    val intervalNanos = bulkFlushIntervalMillis * 1000000L
    () => new ElasticsearchStubSink.BulkWriter(sinkId, maxActions, maxBytes,
      intervalNanos, retries)
  }
}

object ElasticsearchStubSink {
  /** One partition's bulk client. */
  private final class BulkWriter(sinkId: String, maxActions: Int, maxBytes: Long,
      intervalNanos: Long, retries: Int) extends RecordWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[((String, String), String)]
    private var bytes = 0L
    private var lastFlush = System.nanoTime()

    def write(index: String, id: String, doc: String): Unit = {
      buf += (((index, id), doc))
      bytes += doc.length.toLong
      if (buf.size >= maxActions || bytes >= maxBytes ||
        (intervalNanos > 0 && System.nanoTime() - lastFlush >= intervalNanos))
        flush()
    }

    def close(): Unit = flush()

    private def flush(): Unit = if (buf.nonEmpty) {
      var attempt = 0
      // retry-on-rejection: a rejected bulk execution is re-submitted
      // whole (it is idempotent — upserts by (index, id))
      while (SinkStores.rejects(sinkId)) {
        attempt += 1
        if (attempt > retries)
          throw new IllegalStateException(
            s"ES bulk rejected $attempt times (maxRetries=$retries)")
      }
      val target = SinkStores.map(sinkId)
      buf.foreach { case (key, doc) => target.put(key, doc) }
      buf.clear(); bytes = 0L; lastFlush = System.nanoTime()
    }
  }
}

/** Produces each record to a stub stream's per-JVM queue under a fixed key. */
private final class QueueWriter(sinkId: String, key: String) extends RecordWriter {
  private val queue = SinkStores.queue(sinkId)
  def write(index: String, id: String, doc: String): Unit = { queue.add((key, doc)); () }
  def close(): Unit = ()
}

/** Kinesis stub: the reference publishes every record with the FIXED
  * partition key "0" (StreamingEtl.java:191-205) — global ordering through a
  * single shard. Records are produced executor-side into the per-JVM store
  * (the per-partition KPL-client shape); only the sink id string is shipped
  * in the task closure.
  *
  * Contract note — `failOnError`: the reference sets
  * `producer.setFailOnError(true)` (StreamingEtl.java:200), i.e. a producer
  * put failure fails the job rather than being logged and skipped. The
  * in-JVM store here has no failure mode to propagate; a real connector
  * behind this seam must let a put exception escape its writer — the
  * foreachBatch caller then fails the batch, which is exactly that semantic
  * (the batch replays from the checkpoint). */
final class KinesisStubSink extends RecordSink {
  val name = "kinesis"
  private val id = java.util.UUID.randomUUID().toString
  def records: ConcurrentLinkedQueue[(String, String)] = SinkStores.queue(id)
  def close(): Unit = SinkStores.drop(id)

  def writer(spark: SparkSession): () => RecordWriter = {
    val sinkId = id
    () => new QueueWriter(sinkId, "0") // fixed partition key
  }
}

/** Kafka stub (at-least-once, matching the reference's actual default
  * producer semantic — StreamingEtl.java:207-212); executor-side like the
  * Kinesis stub. */
final class KafkaStubSink(topic: String) extends RecordSink {
  val name = "kafka"
  private val id = java.util.UUID.randomUUID().toString
  def records: ConcurrentLinkedQueue[(String, String)] = SinkStores.queue(id)
  def close(): Unit = SinkStores.drop(id)

  def writer(spark: SparkSession): () => RecordWriter = {
    val (sinkId, t) = (id, topic)
    () => new QueueWriter(sinkId, t)
  }
}

/** Discarding sink (A15) — forces full computation, writes nothing. On its
  * own it is a plain `count()`, with no serialization; beside other record
  * sinks it counts the records of their shared pass. */
final class NoopSink extends RecordSink {
  val name = "noop"
  private var seen: LongAccumulator = _

  private def accumulator(spark: SparkSession): LongAccumulator = synchronized {
    if (seen == null) seen = spark.sparkContext.longAccumulator(s"$name.rowsSeen")
    seen
  }

  /** Rows written so far, summed on the driver. */
  def rowsSeen: Long = synchronized(if (seen == null) 0L else seen.sum)

  override def write(events: DataFrame, batchId: Long): Unit =
    accumulator(events.sparkSession).add(events.count())

  def writer(spark: SparkSession): () => RecordWriter = {
    val acc = accumulator(spark)
    () => new NoopSink.CountingWriter(acc)
  }
}

object NoopSink {
  private final class CountingWriter(acc: LongAccumulator) extends RecordWriter {
    private var n = 0L
    def write(index: String, id: String, doc: String): Unit = n += 1
    def close(): Unit = acc.add(n)
  }
}
