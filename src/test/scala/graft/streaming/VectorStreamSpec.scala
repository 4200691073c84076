package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.IvfStorage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming vector-lake ingest (VectorStream): the lake a stream builds
  * must be the lake the batch append would have built — probes pruned,
  * kill-restart adds no duplicates (the ingest_batch dynamic-overwrite
  * idempotence argument), drift quality observable per micro-batch.
  */
class VectorStreamSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)
    .select("vec_id", "embedding", "label")

  test("cell ingest: stream ≡ batch lake, probe pruned, kill-restart adds no dups") {
    val src = tmpDir("vs-src"); val lake = tmpDir("vs-lake")
    val ckpt = tmpDir("vs-ckpt")
    val cents = IvfStorage.labelCentroids(emb)
    val n = emb.count()
    val half = n / 2
    emb.filter(col("vec_id") < half).write.mode("append").parquet(src)
    val schema = emb.schema
    def run() = {
      val q = VectorStream.startCellPartitioned(
        spark.readStream.schema(schema).parquet(src), cents, lake, ckpt,
        Trigger.AvailableNow())
      q.awaitTermination(120000)
      q
    }
    val q1 = run()
    val afterW1 = spark.read.parquet(lake)
    assert(afterW1.count() == half)
    assert(afterW1.select("vec_id").distinct().count() == half)
    // observed drift metrics surfaced on the query's progress
    val obs = q1.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("vector_ingest_drift")))
    assert(obs.nonEmpty, "drift metrics missing from progress")
    val rows = obs.map(_.getAs[Long]("rows")).sum
    assert(rows == half)
    obs.filter(_.getAs[Long]("rows") > 0).foreach { m =>
      val mean = m.getAs[Double]("mean_assign_cos")
      assert(mean > 0.0 && mean <= 1.0, s"mean_assign_cos=$mean")
      assert(m.getAs[Double]("min_assign_cos") <= mean)
    }

    // "crash": deliver the rest, restart from the same checkpoint — the
    // replayed/resumed batches must converge with zero duplicates
    emb.filter(col("vec_id") >= half).write.mode("append").parquet(src)
    run()
    val full = spark.read.parquet(lake)
    assert(full.count() == n, s"expected $n rows, got ${full.count()}")
    assert(full.select("vec_id").distinct().count() == n, "duplicate vec_ids")

    // the streamed lake probes identically to the batch-built one
    val batchLake = tmpDir("vs-batch-lake")
    IvfStorage.writeCellPartitioned(emb, cents, batchLake)
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = IvfStorage.probe(spark, lake, cents, qv, nProbe = 2, k = 5)
      .collect().toSeq
    val want = IvfStorage.probe(spark, batchLake, cents, qv, nProbe = 2, k = 5)
      .collect().toSeq
    assert(got == want)
    // and the scan under the probe prunes on cent_id (leading partition)
    val plan = IvfStorage.probe(spark, lake, cents, qv, nProbe = 2, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
  }

  test("quantized int8 ingest: stream lake ≡ batch lake (probe identity), kill-restart adds no dups") {
    val clean = emb.filter(size(col("embedding")) === 64 &&
      !exists(col("embedding"), x => x.isNull))
    val src = tmpDir("vq-src"); val lake = tmpDir("vq-lake")
    val ckpt = tmpDir("vq-ckpt")
    val cents = IvfStorage.labelCentroids(clean)
    val params = IvfStorage.quantizationParams(clean)
    val n = clean.count()
    val half = n / 2
    clean.filter(col("vec_id") < half).write.mode("append").parquet(src)
    val schema = clean.schema
    def run() = {
      val q = VectorStream.startQuantizedCellPartitioned(
        spark.readStream.schema(schema).parquet(src), cents, params, lake,
        ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    run()
    // "crash": deliver the rest, restart from the same checkpoint
    clean.filter(col("vec_id") >= half).write.mode("append").parquet(src)
    run()
    val full = spark.read.parquet(lake)
    assert(full.count() == n)
    assert(full.select("vec_id").distinct().count() == n, "duplicate vec_ids")
    // the streamed lake probes identically to the batch-built one —
    // shared projection means same codes, same cells, same bytes
    val batchLake = tmpDir("vq-batch-lake")
    IvfStorage.writeQuantizedCellPartitioned(clean, cents, params, batchLake)
    val qv = clean.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = IvfStorage.probeQuantized(spark, lake, clean, cents, params,
      qv, nProbe = 2, k = 5).collect().toSeq
    val want = IvfStorage.probeQuantized(spark, batchLake, clean, cents,
      params, qv, nProbe = 2, k = 5).collect().toSeq
    assert(got == want)
  }

  test("PQ packed ingest: stream lake ≡ batch lake (IVFADC probe identity) across restart") {
    val clean = emb.filter(size(col("embedding")) === 64 &&
      !exists(col("embedding"), x => x.isNull))
    val src = tmpDir("vp-src"); val lake = tmpDir("vp-lake")
    val ckpt = tmpDir("vp-ckpt")
    val cents = IvfStorage.labelCentroids(clean)
    val cbs = graft.operators.PqStorage.labelCodebooks(clean, 8, 64)
    val n = clean.count()
    val half = n / 2
    clean.filter(col("vec_id") < half).write.mode("append").parquet(src)
    val schema = clean.schema
    def run() = {
      val q = VectorStream.startPackedCellPartitioned(
        spark.readStream.schema(schema).parquet(src), cents, cbs, lake,
        ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    run()
    clean.filter(col("vec_id") >= half).write.mode("append").parquet(src)
    run()
    val full = spark.read.parquet(lake)
    assert(full.count() == n)
    assert(full.select("vec_id").distinct().count() == n, "duplicate vec_ids")
    val batchLake = tmpDir("vp-batch-lake")
    graft.operators.PqStorage.writePackedCellPartitioned(
      clean, cents, cbs, batchLake)
    val qv = clean.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = graft.operators.PqStorage.probePacked(spark, lake, clean,
      cents, cbs, qv, m = 8, dim = 64).collect().toSeq
    val want = graft.operators.PqStorage.probePacked(spark, batchLake, clean,
      cents, cbs, qv, m = 8, dim = 64).collect().toSeq
    assert(got == want)
  }
}
