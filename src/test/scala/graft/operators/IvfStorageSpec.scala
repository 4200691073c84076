package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import graft.functions.VectorFunctions.cosineNative
import org.apache.spark.sql.functions._

/** Write-time IVF cell partitioning (the 100 TB shape of q51): the probe
  * must be a partition-PRUNED scan and return exactly what the in-query
  * assignment returns for the same centroids / nProbe / query vector.
  * q252's stored-base maintenance must satisfy its union equation against
  * an independently-built full rebuild under the same FROZEN base
  * centroids (the in-Spark twin of the DuckDB oracle). */
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

  test("q252: stored-untouched ∪ recomputed-touched ≡ full rebuild under frozen base centroids") {
    val out = graft.SparkEntry.queries("q252_knn_incremental")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // independent full rebuild: frozen base-fitted centroids, every vector
    // assigned, plain within-cell pair join + per-member window (no
    // grouped collapse, no stored artifact — a from-scratch reference)
    val e = Tables.embeddings(spark, sfDir)
      .filter(size(col("embedding")) === 64 &&
        !exists(col("embedding"), x => x.isNull))
    val cents = IvfStorage.labelCentroids(e.filter(col("vec_id") % 11 =!= 7))
    val assigned = IvfStorage.assignCells(e, cents)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
    val touched = assigned.filter(col("vec_id") % 11 === 7)
      .select(col("cent_id")).distinct()
      .withColumn("is_touched", lit(true))
    val a = assigned.select(col("vec_id").as("src_id"), col("cent_id"),
      col("embedding").as("a_emb"))
    val b = assigned.select(col("vec_id").as("nbr_id"),
      col("cent_id").as("b_cent"), col("embedding").as("b_emb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src_id")
      .orderBy(col("cos").desc_nulls_last, col("nbr_id"))
    val want = a.join(b, col("cent_id") === col("b_cent") &&
        col("src_id") =!= col("nbr_id"))
      .select(col("src_id"), col("cent_id"), col("nbr_id"),
        cosineNative(col("a_emb"), col("b_emb")).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .join(touched, Seq("cent_id"), "left")
      .select(col("src_id"), col("rk"), col("nbr_id"), col("cos"),
        coalesce(col("is_touched"), lit(false)).as("touched"))
      .orderBy("src_id", "rk")
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty && out == want)
    // at the spec's (tiny) scale the mod-11 delta may touch EVERY cell —
    // the stored half is then legitimately empty; when untouched cells
    // exist, both halves must appear (the driver-gate sf0.01 run and the
    // sf0.1 bench both have untouched cells)
    val flags = out.map(_.last.asInstanceOf[Boolean]).toSet
    assert(flags.contains(true))
    val wantFlags = want.map(_.last.asInstanceOf[Boolean]).toSet
    assert(flags == wantFlags)
  }
}
