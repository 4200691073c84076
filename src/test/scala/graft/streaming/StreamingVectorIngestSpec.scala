package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.IvfStorage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming drift signal for the IVF vector lake — the piece beyond
  * VectorStreamSpec's ingest identities: the metric a stream publishes
  * must show drift as it happens, and [[IvfStorage.driftReport]] must see
  * the same drift on the lake the stream built.
  *
  * Scenario: wave 1 streams in-distribution vectors under frozen
  * centroids; wave 2 streams a DRIFTED batch (every coordinate shifted);
  * the per-batch observed metrics on the streaming query show the
  * assignment-cosine decay, and [[IvfStorage.driftReport]] over the
  * STREAM-BUILT lake flags the cells the drifted wave landed in. Acting on
  * the flag is the caller's refit (labelCentroids / kmeansCentroids)
  * followed by [[IvfStorage.writeCellPartitioned]].
  */
class StreamingVectorIngestSpec extends SparkSpec {

  test("streamed drift metrics decay on a drifted wave; driftReport flags cells on the stream-built lake") {
    val src = tmpDir("svi-src"); val lake = tmpDir("svi-lake")
    val ckpt = tmpDir("svi-ckpt")
    val emb = Tables.embeddings(spark, sfDir)
      .filter(size(col("embedding")) === 64 &&
        !exists(col("embedding"), x => x.isNull))
      .select("vec_id", "embedding")
    val n = emb.count()
    val cents = IvfStorage.labelCentroids(
      Tables.embeddings(spark, sfDir)
        .filter(size(col("embedding")) === 64 &&
          !exists(col("embedding"), x => x.isNull)))
    def run() = {
      val q = VectorStream.startCellPartitioned(
        spark.readStream.schema(emb.schema).parquet(src), cents, lake, ckpt,
        Trigger.AvailableNow())
      q.awaitTermination(120000)
      q
    }
    // wave 1: in-distribution
    emb.write.mode("append").parquet(src)
    val q1 = run()
    def meanCos(q: org.apache.spark.sql.streaming.StreamingQuery): Double = {
      val obs = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("vector_ingest_drift")))
        .filter(_.getAs[Long]("rows") > 0)
      assert(obs.nonEmpty, "no drift metrics on progress")
      obs.map(_.getAs[Double]("mean_assign_cos")).min
    }
    val cos1 = meanCos(q1)

    // wave 2: drifted — every coordinate shifted by +0.5, new ids
    emb.select((col("vec_id") + n).as("vec_id"),
        expr("transform(embedding, x -> CAST(x + 0.5 AS FLOAT))")
          .as("embedding"))
      .write.mode("append").parquet(src)
    val q2 = run()
    val cos2 = meanCos(q2)
    // the STREAM's own observed metric shows the decay — this is the
    // monitoring signal that triggers maintenance
    assert(cos2 < cos1,
      s"drifted wave must decay the observed assign-cos: $cos1 -> $cos2")

    // maintenance signal on the lake itself: driftReport flags the
    // unhealthy cells (mean member cosine below wave-1's floor).
    // partitionColumnTypeInference is off session-wide, so the cent_id
    // partition column surfaces as string — normalize to Int.
    assert(spark.read.parquet(lake).count() == 2 * n,
      "the stream must land every row of both waves")
    val reportRows = IvfStorage.driftReport(spark, lake, cents)
      .select("cent_id", "mean_cos").collect()
      .map(r => r.get(0).toString.toInt -> r.getDouble(1)).toMap
    assert(reportRows.values.exists(_ < cos1), "drifted lake must flag cells")
  }
}
