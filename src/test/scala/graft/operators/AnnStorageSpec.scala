package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Write-time LSH bucketing (the 100 TB shape of q43): the probe must be a
  * partition-PRUNED scan and return exactly what the in-query bucketed
  * filter returns. */
class AnnStorageSpec extends SparkSpec {
  import spark.implicits._

  test("sig-bucketed probe prunes partitions and matches q43's results") {
    val dir = tmpDir("ann-store")
    AnnStorage.writeSigBucketed(Tables.embeddings(spark, sfDir), dir)

    val qVec = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val probed = AnnStorage.probe(spark, dir, qVec, radius = 2, k = 10)
    val rows = probed.collect() // force AQE final plan

    // 1. the scan is pruned: the Hamming ball lands in PartitionFilters
    //    (bucket files outside the ball are skipped at planning time)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cast(sig") ||
      plan.contains("PartitionFilters: [sig"), plan)
    assert(plan.contains("INSET"), plan) // the Hamming ball as an IN-list

    // 2. same semantics as the in-query bucketing
    val expected = SparkEntry.queries("q43_sim_ann_lsh")(spark, sfDir)
      .select("vec_id").as[Long].collect().toSeq
    assert(rows.map(_.getLong(0)).toSeq == expected)

    // 3. the ball is the tiny fraction of buckets it should be
    assert(AnnStorage.hammingBall(0, 2).size == 22) // C(6,0)+C(6,1)+C(6,2)
  }

  test("incremental append ≡ full rewrite; compaction keeps probes identical") {
    val e = Tables.embeddings(spark, sfDir)
    val qVec = e.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    def probeIds(dir: String): Seq[Long] = {
      val p = AnnStorage.probe(spark, dir, qVec, radius = 2, k = 10)
      val ids = p.collect().map(_.getLong(0)).toSeq
      val plan = p.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [cast(sig") ||
        plan.contains("PartitionFilters: [sig"), plan) // pruned every time
      ids
    }
    // full rewrite of the whole corpus = the reference layout
    val full = tmpDir("ann-full")
    AnnStorage.writeSigBucketed(e, full)
    val want = probeIds(full)
    // base half written once, second half appended in two arriving batches
    val inc = tmpDir("ann-inc")
    AnnStorage.writeSigBucketed(e.filter(col("vec_id") % 2 === 0), inc)
    AnnStorage.appendSigBucketed(
      e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 250), inc)
    AnnStorage.appendSigBucketed(
      e.filter(col("vec_id") % 2 === 1 && col("vec_id") >= 250), inc)
    assert(probeIds(inc) == want, "append path must equal the full rewrite")
    // maintenance: compact the accumulated per-batch files — probe
    // unchanged, file count strictly down
    def files(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".")) 1 else 0
      walk(new java.io.File(dir))
    }
    val before = files(inc)
    val report = graft.etl.LakeCompaction.compact(spark, inc, 512L * 1024)
    assert(report.binsRewritten >= 1, s"nothing compacted: $report")
    assert(files(inc) < before, s"$before -> ${files(inc)}")
    assert(probeIds(inc) == want, "compaction must not change probe results")
  }
}
