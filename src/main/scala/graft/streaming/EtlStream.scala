package graft.streaming

import graft.etl.TripEventCodec
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's whole topology on Structured Streaming (SURVEY §3.1):
  * source → parse/validate → fan-out to N sinks, with the read-once fan-out
  * semantics of StreamingEtl.java:106-149 — ONE streaming query whose
  * micro-batches are written to every configured sink (N independent
  * writeStream queries would re-read the source N times).
  *
  * Each batch is written in as few passes as the sinks allow: every frame
  * sink (e.g. [[FileSink]]) takes the batch DataFrame, then all
  * [[RecordSink]]s share one job in which each row is decoded and
  * serialized once — the operator chaining Flink gives the reference. The
  * batch is persisted only when more than one such pass reads it.
  *
  * Exactly-once: offsets tracked in the checkpoint; sinks are idempotent per
  * batch (see [[SinkProvider]]), so batch replay after a crash converges to
  * the same output — the same per-checkpoint commit discipline as the
  * reference's 60 s checkpointing (streaming-etl.ts:146-151), per micro-batch.
  */
object EtlStream {

  def start(spark: SparkSession,
            source: SourceProvider,
            sinks: Seq[SinkProvider],
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
      : StreamingQuery = {
    require(sinks.nonEmpty, "at least one sink required")
    val (records, frames) = sinks.partitionMap {
      case r: RecordSink => Left(r)
      case f => Right(f)
    }
    val passes = frames.size + (if (records.nonEmpty) 1 else 0)
    val raw = source.read(spark)
    val parsed = TripEventCodec.parse(raw, col("value"))
    parsed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (passes > 1) batch.persist()
        try {
          frames.foreach(_.write(batch, batchId))
          records match {
            case Seq() =>
            case Seq(one) => one.write(batch, batchId)
            case all => RecordSink.write(batch, all)
          }
        } finally if (passes > 1) { batch.unpersist(); () }
      }
      .start()
  }
}
