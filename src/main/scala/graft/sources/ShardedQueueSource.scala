package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** In-memory sharded queue with Kinesis-shaped semantics, exposed as a REAL
  * DataSource V2 `MicroBatchStream` (the production seam the reference's
  * Kinesis consumer would plug into — SURVEY §2A A1):
  *
  *  - N shards, each an append-only sequence of (partitionKey, data) records
  *    with monotonically increasing per-shard sequence numbers;
  *  - offsets = per-shard consumed sequence numbers (checkpointable JSON,
  *    exactly like Kinesis shard iterators / sequence checkpoints);
  *  - each micro-batch reads (startOffset, latestOffset] per shard, one
  *    InputPartition per shard → per-shard ordering is preserved, shards
  *    read in parallel;
  *  - `STARTING_POSITION` option: TRIM_HORIZON (default) or LATEST.
  *
  * Usage: `spark.readStream.format("graft.sources.ShardedQueueSource")
  * .option("queue", name).load()` → schema (shard INT, seq BIGINT,
  * partition_key STRING, value STRING). Producers call
  * [[ShardedQueueSource.append]].
  */
object ShardedQueueSource {
  val schema: StructType = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("partition_key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** queue name → shard id → records (single JVM: local[*] test/dev rig). */
  private val queues =
    mutable.Map.empty[String, mutable.Map[Int, mutable.ArrayBuffer[(String, String)]]]

  def append(queue: String, partitionKey: String, data: String,
             numShards: Int = 4): Unit = synchronized {
    val shards = queues.getOrElseUpdate(queue, mutable.Map.empty)
    // Kinesis routes by hash of the partition key
    val shard = math.floorMod(partitionKey.hashCode, numShards)
    shards.getOrElseUpdate(shard, mutable.ArrayBuffer.empty) += ((partitionKey, data))
  }

  def clear(queue: String): Unit = synchronized { queues.remove(queue); () }

  private[sources] def snapshotSizes(queue: String): Map[Int, Long] = synchronized {
    queues.getOrElse(queue, mutable.Map.empty).map { case (s, b) => s -> b.length.toLong }.toMap
  }

  /** One copy of the records in [from, until), indexable in O(1) — the
    * reader walks it by position. */
  private[sources] def slice(queue: String, shard: Int, from: Long,
                             until: Long): IndexedSeq[(String, String)] = synchronized {
    queues.get(queue).flatMap(_.get(shard))
      .map(_.view.slice(from.toInt, until.toInt).toIndexedSeq).getOrElse(IndexedSeq.empty)
  }
}

/** Per-shard consumed sequence numbers — the checkpointed offset. */
case class ShardOffsets(counts: Map[Int, Long]) extends Offset {
  override def json(): String =
    counts.toSeq.sortBy(_._1)
      .map { case (s, n) => s""""$s":$n""" }.mkString("{", ",", "}")
}

object ShardOffsets {
  def fromJson(s: String): ShardOffsets = ShardOffsets(
    "\"(\\d+)\":(\\d+)".r.findAllMatchIn(s)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

class ShardedQueueSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardedQueueSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new QueueTable(properties.asScala.toMap)
}

private class QueueTable(props: Map[String, String]) extends Table with SupportsRead {
  private val queue = props.getOrElse("queue",
    throw new IllegalArgumentException("option 'queue' is required"))
  override def name(): String = s"graft-queue:$queue"
  override def schema(): StructType = ShardedQueueSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new QueueScan(queue,
      props.getOrElse("starting_position", "TRIM_HORIZON").toUpperCase,
      props.get("max_records_per_micro_batch").map(_.toLong))
}

private class QueueScan(queue: String, startingPosition: String,
                        maxRecords: Option[Long]) extends Scan {
  override def readSchema(): StructType = ShardedQueueSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new QueueMicroBatchStream(queue, startingPosition, maxRecords)
}

private class QueueMicroBatchStream(queue: String, startingPosition: String,
                                    maxRecords: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** End offset pinned at query start under Trigger.AvailableNow — the
    * stream paces toward it in read-limit-sized batches, then stops. */
  @volatile private var pinnedEnd: Option[Map[Int, Long]] = None

  /** Advances every admission decision; drives fair-share rotation (the
    * offsets sum aliases when rows-per-batch is a multiple of the shard
    * count, which would freeze the rotation). */
  private val admissionCalls = new java.util.concurrent.atomic.AtomicLong()

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedEnd = Some(ShardedQueueSource.snapshotSizes(queue))


  override def initialOffset(): Offset = startingPosition match {
    case "LATEST" => ShardOffsets(ShardedQueueSource.snapshotSizes(queue))
    case _        => ShardOffsets(Map.empty) // TRIM_HORIZON
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Admission control — the analogue of Kinesis GetRecords pacing
    * (reference polls each shard every 1000 ms, StreamingEtl.java:167):
    * cap the records admitted per micro-batch, spread evenly across shards
    * with leftover capacity redistributed, so one hot shard cannot starve
    * the rest. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val sizes = pinnedEnd.getOrElse(ShardedQueueSource.snapshotSizes(queue))
    val s = start.asInstanceOf[ShardOffsets].counts
    limit match {
      case r: ReadMaxRows =>
        val byShard = sizes.toSeq.sortBy(_._1)
          .map { case (sh, n) => sh -> (n - s.getOrElse(sh, 0L)).max(0L) }
        // rotate the walk order every admission decision so capacity
        // leftovers land on a different shard each batch — continuous
        // backlog on low shard ids cannot permanently starve the rest
        val rot = if (byShard.nonEmpty)
          math.floorMod(admissionCalls.getAndIncrement(), byShard.length.toLong).toInt
        else 0
        val backlog = byShard.drop(rot) ++ byShard.take(rot)
        var remaining = r.maxRows()
        val admitted = scala.collection.mutable.Map.empty[Int, Long]
        val fair = if (backlog.nonEmpty) (r.maxRows() / backlog.length).max(1L) else 0L
        backlog.foreach { case (sh, n) =>
          val take = n.min(fair).min(remaining)
          admitted(sh) = take; remaining -= take
        }
        backlog.foreach { case (sh, n) => // redistribute leftover capacity
          val extra = (n - admitted(sh)).min(remaining)
          admitted(sh) += extra; remaining -= extra
        }
        ShardOffsets(sizes.map { case (sh, _) =>
          sh -> (s.getOrElse(sh, 0L) + admitted.getOrElse(sh, 0L)) })
      case _ => ShardOffsets(sizes)
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    maxRecords.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def deserializeOffset(json: String): Offset = ShardOffsets.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].counts
    val e = end.asInstanceOf[ShardOffsets].counts
    e.toSeq.sortBy(_._1).flatMap { case (shard, until) =>
      val from = s.getOrElse(shard, 0L)
      if (until > from) Some(QueuePartition(queue, shard, from, until)) else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = QueueReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private case class QueuePartition(queue: String, shard: Int, from: Long,
                                  until: Long) extends InputPartition

private object QueueReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[QueuePartition]
    new PartitionReader[InternalRow] {
      private val rows = ShardedQueueSource.slice(p.queue, p.shard, p.from, p.until)
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val (key, data) = rows(i)
        InternalRow(p.shard, p.from + i,
          UTF8String.fromString(key), UTF8String.fromString(data))
      }
      override def close(): Unit = ()
    }
  }
}
