package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Write-time IVF cell partitioning (the 100 TB shape of q51): the probe
  * must be a partition-PRUNED scan and return exactly what the in-query
  * assignment returns for the same centroids / nProbe / query vector. */
class IvfStorageSpec extends SparkSpec {
  import spark.implicits._

  test("cell-partitioned probe prunes partitions and matches q51's results") {
    val dir = tmpDir("ivf-store")
    val e = Tables.embeddings(spark, sfDir)
    val cents = IvfStorage.labelCentroids(e)
    IvfStorage.writeCellPartitioned(e, cents, dir)

    val qVec = e.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val probed = IvfStorage.probe(spark, dir, cents, qVec, nProbe = 2, k = 10)
    val rows = probed.collect() // force AQE final plan

    // 1. the scan is pruned: the probed cells land in PartitionFilters
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cast(cent_id") ||
      plan.contains("PartitionFilters: [cent_id"), plan)

    // 2. same semantics as q51's in-query assignment + probe
    val expected = SparkEntry.queries("q51_sim_ann_ivf")(spark, sfDir)
      .select("vec_id").as[Long].collect().toSeq
    assert(rows.map(_.getLong(0)).toSeq == expected)
  }

  test("probing every cell equals the brute-force exact top-k") {
    val dir = tmpDir("ivf-all")
    val e = Tables.embeddings(spark, sfDir)
    val cents = IvfStorage.labelCentroids(e)
    IvfStorage.writeCellPartitioned(e, cents, dir)
    val nCells = cents.count().toInt

    val qVec = e.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val all = IvfStorage
      .probe(spark, dir, cents, qVec, nProbe = nCells, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    val brute = SparkEntry.queries("q38_sim_cosine_topk")(spark, sfDir)
      .select("vec_id").as[Long].collect().toSeq
    assert(all == brute, "full-probe IVF must equal exact top-k")
  }

  test("assignment is total and deterministic: every vector lands in exactly one cell") {
    val e = Tables.embeddings(spark, sfDir)
    val cents = IvfStorage.labelCentroids(e)
    val a1 = IvfStorage.assignCells(e, cents).select("vec_id", "cent_id")
    val a2 = IvfStorage.assignCells(e, cents).select("vec_id", "cent_id")
    assert(a1.except(a2).isEmpty)
    assert(a1.count() == e.count())
    assert(a1.filter(col("cent_id") < 0).count() == 0, "no vector unassigned")
  }

  test("incremental append under frozen centroids ≡ full rewrite; drift is detectable") {
    val e = Tables.embeddings(spark, sfDir)
    // centroids FROZEN from the base half only — the incremental contract
    val base = e.filter(col("vec_id") % 2 === 0)
    val cents = IvfStorage.labelCentroids(base)
    val qVec = e.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    def probeIds(dir: String): Seq[Long] =
      IvfStorage.probe(spark, dir, cents, qVec, nProbe = 2, k = 10)
        .select("vec_id").as[Long].collect().toSeq
    val full = tmpDir("ivf-full")
    IvfStorage.writeCellPartitioned(e, cents, full)
    val want = probeIds(full)
    val inc = tmpDir("ivf-inc")
    IvfStorage.writeCellPartitioned(base, cents, inc)
    IvfStorage.appendCellPartitioned(
      e.filter(col("vec_id") % 2 === 1), cents, inc)
    assert(probeIds(inc) == want,
      "appending under the same frozen centroids must equal the full rewrite")

    // drift report: totals add up, quality bounded, and a deliberately
    // out-of-distribution batch is VISIBLE in the report (mean assignment
    // similarity drops) — the refit trigger the scaladoc promises
    val before = IvfStorage.driftReport(spark, inc, cents)
    val beforeMean = before.agg(
      (sum(col("mean_cos") * col("n")) / sum(col("n"))).as("m"))
      .head().getDouble(0)
    assert(before.agg(sum(col("n"))).head().getLong(0) == e.count())
    // shifted batch: negate every component — cosine to every centroid
    // flips sign, assignment quality collapses
    val shifted = e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"),
        col("label"))
    IvfStorage.appendCellPartitioned(shifted, cents, inc)
    val after = IvfStorage.driftReport(spark, inc, cents)
    val afterMean = after.agg(
      (sum(col("mean_cos") * col("n")) / sum(col("n"))).as("m"))
      .head().getDouble(0)
    assert(afterMean < beforeMean,
      s"drift must register: mean cos $beforeMean -> $afterMean")
    // (note: min_cos of a NEGATED vector is not necessarily negative —
    // argmax assignment picks the least-anticorrelated cell, so the
    // detectable signal is the quality DROP, not the sign)
  }

  test("kmeansCentroids closes the drift loop: refit + rewrite restores assignment quality") {
    val e = Tables.embeddings(spark, sfDir)
    // frozen label centroids, then an out-of-distribution batch lands —
    // the driftReport scenario; the promised remedy is refit + rewrite
    val cents0 = IvfStorage.labelCentroids(e)
    val shifted = e.filter(col("vec_id") < 150)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    val drifted = e.unionByName(shifted)
    val dir = tmpDir("ivf-refit")
    IvfStorage.writeCellPartitioned(drifted, cents0, dir)
    def overallMean(c: org.apache.spark.sql.DataFrame): Double =
      IvfStorage.driftReport(spark, dir, c)
        .agg((sum(col("mean_cos") * col("n")) / sum(col("n"))).as("m"))
        .head().getDouble(0)
    val before = overallMean(cents0)
    // refit on the CURRENT (drifted) corpus with the same cell count,
    // rewrite, and the report must improve — negated vectors get their
    // own cells instead of squatting in least-bad label cells
    val k = cents0.count().toInt
    val refit = IvfStorage.kmeansCentroids(drifted, k, iters = 5)
    assert(refit.count() == k, "k never silently shrinks")
    IvfStorage.writeCellPartitioned(drifted, refit, dir)
    val after = overallMean(refit)
    assert(after > before,
      s"refit must recover assignment quality: $before -> $after")
    // determinism: a second refit on the same corpus is identical
    val again = IvfStorage.kmeansCentroids(drifted, k, iters = 5)
    assert(refit.collect().map(_.toString).sorted
      .sameElements(again.collect().map(_.toString).sorted),
      "refits must reproduce bit-identically")
  }

  test("q104 semantic dedup blocks by GEOMETRIC cell, not by label") {
    // v3 carries label 1 but sits on label 0's centroid direction — the
    // crossover case that distinguishes SemDeDup's learned-cluster
    // blocking from q69's metadata blocking: v3 must land in cell 0 and
    // join the {v1, v2} duplicate component there.
    def vec(axis: Int, scale: Float): Array[Float] = {
      val a = new Array[Float](64); a(axis) = scale; a
    }
    val dir = tmpDir("semdedup")
    Seq(
      (1L, vec(0, 1.0f), 0),
      (2L, vec(0, 0.9f), 0),
      (3L, vec(0, 1.1f), 1), // labelled 1, geometrically cell 0
      (4L, vec(1, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("q104_dedup_semantic_cells")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cell"), r.getAs[Long]("keeper"),
          r.getAs[Boolean]("kept")))).toMap
    assert(rows(3L)._1 == 0L, "crossover vector must assign to cell 0")
    assert(rows(1L) == ((0L, 1L, true)))
    assert(rows(2L) == ((0L, 1L, false)))
    assert(rows(3L) == ((0L, 1L, false)), "crossover joins the cell-0 component")
    assert(rows(4L) == ((1L, 4L, true)), "isolated vector keeps itself")
  }
  test("recenter: flagged-cell refit + targeted rewrite ≡ full rebuild under refreshed centroids") {
    val e = Tables.embeddings(spark, sfDir)
    val cents0 = IvfStorage.labelCentroids(e)
    // drifted batch arrives through the incremental append path: an
    // additive bias bends vector DIRECTIONS (a pure scale would not move
    // cosine), stretching the membership of the cells it lands in
    val shifted = e.filter(col("vec_id") < 80)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x + 0.3 AS FLOAT))").as("embedding"),
        col("label"))
    val dir = tmpDir("ivf-recenter")
    IvfStorage.writeCellPartitioned(e, cents0, dir)
    IvfStorage.appendCellPartitioned(shifted, cents0, dir)
    // flag the cells the drifted batch landed in — exactly the cells a
    // driftReport occupancy/quality threshold would name
    val flagged = IvfStorage.assignCells(shifted, cents0)
      .select("cent_id").distinct().as[Int].collect().toSeq.sorted
    assert(flagged.nonEmpty)
    val res = IvfStorage.recenter(spark, dir, cents0, flagged)

    // only flagged centroids changed in the refreshed table
    val c0 = cents0.as[(Int, Array[Float])].collect().toMap
    val c1 = res.centroids.as[(Int, Array[Float])].collect().toMap
    assert(c0.keySet == c1.keySet)
    c0.keys.filterNot(flagged.contains).foreach { cid =>
      assert(c0(cid).toSeq == c1(cid).toSeq, s"unflagged cell $cid moved") }

    // exactness: the maintained lake ≡ a full rebuild of the same data
    // under the SAME refreshed centroid table
    val fresh = tmpDir("ivf-rebuild")
    IvfStorage.writeCellPartitioned(e.unionByName(shifted), res.centroids, fresh)
    def lakeMap(d: String): Map[Long, Int] = spark.read.parquet(d)
      .select(col("vec_id"), col("cent_id").cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(lakeMap(dir) == lakeMap(fresh))

    // probe equality on several query vectors (ties included)
    for (qid <- Seq(0L, 7L, 21L)) {
      val qVec = e.filter(col("vec_id") === qid).select("embedding")
        .as[Array[Float]].head()
      def ids(d: String): Seq[Long] =
        IvfStorage.probe(spark, d, res.centroids, qVec, nProbe = 2, k = 10)
          .select("vec_id").as[Long].collect().toSeq
      assert(ids(dir) == ids(fresh), s"probe diverged for query $qid")
    }

    // the physical rewrite is the affected-cell set, not the lake
    assert(res.rewrittenCells.nonEmpty && res.movedRows > 0)
    assert(res.rewrittenCells.toSet.subsetOf(c0.keySet))

    // a recenter with nothing flagged is a contract error, not a no-op
    intercept[IllegalArgumentException] {
      IvfStorage.recenter(spark, dir, res.centroids, Nil)
    }
  }

  test("q236: candidate collapse ≡ direct nprobe sweep on a replicated corpus") {
    val e0 = Tables.embeddings(spark, sfDir).limit(300)
    val e = (0 until 3).map { r =>
      e0.select((col("vec_id") + lit(r * 100000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
    val direct = VectorQueries.ivfNprobeSweep(spark, e,
      collapseIdentical = false).collect().map(_.toSeq).toSeq
    val collapsed = VectorQueries.ivfNprobeSweep(spark, e,
      collapseIdentical = true).collect().map(_.toSeq).toSeq
    assert(direct.nonEmpty)
    assert(direct == collapsed,
      s"collapse changed the sweep:\n direct    $direct\n collapsed $collapsed")
    // replicas guarantee every probe's true neighbor is its exact twin in
    // the SAME cell, so recall@1 must be 1000 per-mille at every nprobe —
    // the fixture exercises in-group winners, the collapse's risk case
    assert(collapsed.forall(r => r(3).asInstanceOf[Long] == 1000L),
      "replicated fixture must give perfect recall")
  }
}
