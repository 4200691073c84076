package graft.streaming

import graft.functions.VectorFunctions.cosineNative
import graft.operators.IvfStorage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest for the IVF vector lakes — the `foreachBatch` stage
  * that turns [[graft.operators.IvfStorage]]'s batch `append*` calls into
  * a continuously-fed pipeline (the CorpusStream pattern applied to
  * embeddings): each micro-batch is assigned and lands in the
  * cell-partitioned layout, so probes stay partition-pruned while data
  * keeps arriving.
  *
  * '''Exactly-once:''' a blind `mode("append")` would duplicate rows when a
  * crashed batch replays from the checkpoint. Every batch therefore writes
  * under an extra `ingest_batch=<batchId>` partition level with DYNAMIC
  * partition overwrite — a replayed batch re-derives the same rows (batch
  * content is checkpoint-determined) and overwrites exactly its own
  * partitions, converging to the same lake (kill-restart spec-pinned,
  * VectorStreamSpec). Probes prune on the LEADING partition column
  * (cent_id), so the batch level underneath costs nothing at read
  * time; periodic [[graft.etl.LakeCompaction]] over a bucket folds its
  * batch subdirs away like any small-file maintenance.
  *
  * '''Drift observability:''' [[startCellPartitioned]] computes each row's
  * assignment cosine ON THE STREAM and publishes per-batch
  * (rows, mean_assign_cos, min_assign_cos) through `observe` —
  * the streaming face of [[IvfStorage.driftReport]]'s quality signal.
  * Watch `StreamingQueryProgress.observedMetrics("vector_ingest_drift")`;
  * when the mean decays past the deployment's line, refit centroids and
  * rewrite (the monitored, planned event the batch docs describe — the
  * frozen-centroid append itself never needs a rebuild for correctness).
  */
object VectorStream {

  /** IVF-cell-partitioned streaming ingest under FROZEN centroids.
    * `embeddings` must carry (vec_id, embedding); extra columns ride
    * along into the lake. */
  def startCellPartitioned(embeddings: DataFrame, centroids: DataFrame,
      dir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"))
      : StreamingQuery = {
    // LEFT join: an unassignable row (cent_id −1 from a zero/mismatched
    // vector) must still reach the lake (its own partition) and the row
    // count — an inner join here would silently drop it from both
    val assigned = IvfStorage.assignCells(embeddings, centroids)
      .join(broadcast(centroids), Seq("cent_id"), "left")
      .withColumn("assign_cos", cosineNative(col("embedding"), col("centroid")))
      .drop("centroid")
      .observe("vector_ingest_drift",
        count(lit(1)).as("rows"),
        avg(col("assign_cos")).as("mean_assign_cos"),
        min(col("assign_cos")).as("min_assign_cos"))
      .drop("assign_cos")
    assigned.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("ingest_batch", lit(batchId))
          .repartition(col("cent_id")) // one writer per cell — no file spray
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cent_id", "ingest_batch")
          .parquet(dir)
      }
      .start()
  }

  /** Quantized (int8) lake streaming ingest under FROZEN centroids AND
    * frozen quantization params — each micro-batch encodes in-batch
    * through the same `int8_quantize`+`int8_pack` projection as the
    * batch writer ([[IvfStorage.quantizedProjection]] is shared code, so
    * stream and batch lakes are the same bytes), landing 1-byte/dim
    * codes cell-partitioned. Same exactly-once `ingest_batch` dynamic
    * overwrite; the float lake for the exact re-rank is fed separately
    * (typically [[startCellPartitioned]] off the same source —
    * [[IvfStorage.probeQuantized]] joins it by vec_id). Params drift
    * like centroids do: refit-and-rewrite is the planned event, the
    * frozen-params append never needs one for correctness. */
  def startQuantizedCellPartitioned(embeddings: DataFrame,
      centroids: DataFrame, params: DataFrame, dir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"))
      : StreamingQuery = {
    val encoded = IvfStorage.quantizedProjection(embeddings, centroids, params)
      .observe("vector_ingest_quantized", count(lit(1)).as("rows"))
    encoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("ingest_batch", lit(batchId))
          .repartition(col("cent_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cent_id", "ingest_batch")
          .parquet(dir)
      }
      .start()
  }

  /** PQ/IVFADC lake streaming ingest under frozen centroids AND frozen
    * codebooks — in-batch `pq_encode`+`int8_pack` to m-byte codes via
    * the shared [[graft.operators.PqStorage.packedProjection]], landed
    * cell-partitioned with the same exactly-once discipline.
    * [[graft.operators.PqStorage.probePacked]] reads the result
    * unchanged (the batch level under cent_id costs nothing at probe
    * time). */
  def startPackedCellPartitioned(embeddings: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, dir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"))
      : StreamingQuery = {
    val encoded = graft.operators.PqStorage
      .packedProjection(embeddings, centroids, codebooks)
      .observe("vector_ingest_packed", count(lit(1)).as("rows"))
    encoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("ingest_batch", lit(batchId))
          .repartition(col("cent_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cent_id", "ingest_batch")
          .parquet(dir)
      }
      .start()
  }
}
