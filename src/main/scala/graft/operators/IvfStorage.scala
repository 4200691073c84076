package graft.operators

import graft.functions.VectorFunctions.cosineNative
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-time IVF cell partitioning — the storage twin of [[AnnStorage]]
  * for the coarse-quantizer family (q51): the corpus is reorganized ONCE,
  * partitioned on each vector's nearest-centroid cell, so a query probes
  * only the `nProbe` nearest cells as a partition-PRUNED scan
  * (`PartitionFilters` carries the cell IN-list; every other cell's files
  * are skipped at planning time). q51 computes the same assignment
  * in-query on every run — this is its one-time 100 TB shape, exactly how
  * production vector lakes (FAISS IVF on object storage) lay data out.
  *
  * The centroid table is the small, driver-sized artifact of the scheme
  * (one row per cell); it is stored beside the data and broadcast into
  * every assignment and probe. Determinism: assignment ties break to the
  * smallest cent_id (the fold scans cent_id-ascending and replaces only on
  * strictly greater similarity), probe ties likewise — same contract as
  * q51, so results are reproducible across partitionings.
  *
  * '''nProbe scaling rule (measured, `ScaleBench ann`, BASELINE.md):'''
  * recall@10 tracks the probed FRACTION of cells, not the absolute
  * `nProbe` — at 10 cells nProbe=2 (20%) gives 0.50 recall, at 100 cells
  * the same nProbe=2 (2%) gives 0.365 and it takes nProbe=16 (16%) to
  * return to 0.67. When the quantizer grows with the corpus (cells ∝ n,
  * constant cell size — the layout that keeps per-cell files bounded),
  * hold `nProbe / nCells` roughly constant for constant recall; finer
  * quantizers are slightly MORE efficient per fraction probed (100 cells
  * @16% ≈ 30 cells @27%), so growing both is strictly better than
  * freezing either. A fixed nProbe is NOT scale-stable.
  */
object IvfStorage {

  /** Coarse quantizer from labelled data: position-wise mean per label
    * (exact decimal sums → double → float, the q48/q51 centroid shape).
    * Any other driver-sized (cent_id, centroid) table works as well. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((sum(col("v").cast("decimal(18,9)")).cast("double") / count(lit(1))).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> CAST(s.c AS FLOAT))")
        .as("centroid"))
      .select(col("label").as("cent_id"), col("centroid"))

  /** Label-free coarse-quantizer training — Lloyd's k-means over the same
    * [[assignCells]] machinery, closing the drift loop [[driftReport]]
    * opens: when the incremental-append path has drifted, REFIT with this
    * and run the one-time [[writeCellPartitioned]] rewrite (labels, when
    * present, make [[labelCentroids]] the cheaper one-pass choice).
    *
    * Deterministic by construction, so refits reproduce: seeds are the k
    * vectors with the smallest xxhash64(vec_id) (a hash-shuffled pick —
    * one TakeOrderedAndProject, no RNG state), iterations are exact
    * decimal means per cell (the [[labelCentroids]] sum shape), ties in
    * assignment break to the smallest cent_id, and an emptied cell keeps
    * its previous centroid (k never silently shrinks). Each iteration is
    * one broadcast-assign + one partial-agg groupBy over the corpus —
    * iters × 2 jobs total, no driver materialization beyond the k-row
    * centroid table itself. */
  def kmeansCentroids(embeddings: DataFrame, k: Int,
      iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // the centroid table is driver-sized BY CONTRACT (one row per cell,
    // broadcast everywhere it's used) — collecting it per iteration
    // truncates the lineage, so iteration i+1's plan reads a k-row local
    // relation instead of nesting i assignment subtrees
    def materialize(df: DataFrame): DataFrame =
      df.collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .toSeq.toDF("cent_id", "centroid")
    // one scan of the input feeds seeding + every Lloyd's iteration
    val input = embeddings.select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seeds = the k DISTINCT vectors with the smallest xxhash64 of their
      // min vec_id: deduping by vector first keeps duplicate-heavy corpora
      // (the dedup fixtures run ~30% exact copies) from seeding two cells
      // with identical centroids, one of which would stay empty forever
      val seeds = materialize(input
        .groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
        .select(col("vec_id"), col("embedding"),
          xxhash64(col("vec_id")).as("h"))
        .orderBy(col("h"), col("vec_id")).limit(k)
        .select(row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("h"), col("vec_id"))).cast("int").as("cent_id"),
          col("embedding").as("centroid")))
      require(seeds.count() == k,
        s"corpus has fewer than k=$k distinct vectors — a quantizer this " +
        "fine cannot be fit; lower k")
      var cents = seeds
      var i = 0
      while (i < iters) {
        val means = assignCells(input, cents)
          .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cent_id", "pos")
          .agg((sum(col("v").cast("decimal(18,9)")).cast("double") /
            count(lit(1))).as("c"))
          .groupBy("cent_id")
          .agg(expr(
            "transform(array_sort(collect_list(struct(pos, c))), s -> CAST(s.c AS FLOAT))")
            .as("new_centroid"))
        // empty cells keep their previous centroid — k stays k
        cents = materialize(cents.join(means, Seq("cent_id"), "left")
          .select(col("cent_id"),
            coalesce(col("new_centroid"), col("centroid")).as("centroid")))
        i += 1
      }
      cents
    } finally input.unpersist()
  }

  /** Nearest-centroid assignment: all centroids pack into ONE broadcast
    * row and the argmax is a per-row scan — no crossJoin row expansion
    * (corpus × n_centroids), no Window shuffle over vec_id.
    *
    * The scan is the native `nearest_centroid` codegen kernel when
    * `cent_id` is int (the engine's own layouts: labels, kmeans ids) —
    * this is the IVF build/probe hot loop at corpus scale, and the HOF
    * `aggregate` formulation is interpreted per row × per centroid (the
    * CLAUDE.md gotcha). Any other cent_id type falls back to that HOF
    * fold, which remains the spec-pinned semantic reference
    * (NativeExpressionsSpec pins the kernel bit-equal to it, including
    * tie, NaN/zero-vector, length-mismatch and empty-array edges). */
  def assignCells(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("cent_id"), col("centroid")))).as("cents"))
    val joined = embeddings.crossJoin(broadcast(centArr))
    val assigned =
      if (centroids.schema("cent_id").dataType ==
          org.apache.spark.sql.types.IntegerType)
        joined.withColumn("cent_id",
          call_function("nearest_centroid", col("embedding"), col("cents")))
      else
        joined.withColumn("cent_id", hofNearest.getField("cid"))
    assigned.drop("cents")
  }

  /** [[assignCells]] forced through the interpreted HOF fold — the
    * semantic reference, kept callable for the ScaleBench kernel A/B. */
  private[graft] def assignCellsReference(embeddings: DataFrame,
      centroids: DataFrame): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("cent_id"), col("centroid")))).as("cents"))
    embeddings.crossJoin(broadcast(centArr))
      .withColumn("cent_id", hofNearest.getField("cid"))
      .drop("cents")
  }

  /** The interpreted HOF argmax fold — [[assignCells]]'s fallback for
    * non-int cent_id and the kernel's semantic reference. */
  private def hofNearest: Column =
    aggregate(col("cents"),
      struct(lit(-2.0).as("sim"), lit(-1).as("cid")),
      (acc, c) => {
        val sim = cosineNative(col("embedding"), c.getField("centroid"))
        when(sim > acc.getField("sim"),
          struct(sim.as("sim"), c.getField("cent_id").as("cid"))).otherwise(acc)
      })

  /** One-time reorganization: embeddings partitioned by IVF cell. */
  def writeCellPartitioned(embeddings: DataFrame, centroids: DataFrame,
      dir: String): Unit =
    assignCells(embeddings, centroids)
      .repartition(col("cent_id")) // one writer per cell — no tiny-file spray
      .write.mode("overwrite").partitionBy("cent_id").parquet(dir)

  /** Incremental maintenance: append an arriving batch into the existing
    * cell layout, assigned with the FROZEN centroid table. Assignment is
    * deterministic given the centroids, so the appended lake is
    * row-identical to a full rewrite of the union under the SAME centroids
    * (spec-pinned) and probes stay partition-pruned — no rebuild needed
    * for correctness. Unlike [[AnnStorage]]'s signature, the quantizer is
    * FIT to data: as the corpus drifts away from the centroids the cells
    * degrade (hot cells grow, assignment similarity drops) and recall at a
    * given nProbe decays. That is a monitored, planned event, not a
    * correctness bug: watch [[driftReport]], and when occupancy skew or
    * mean assignment similarity crosses the deployment's line, refit
    * centroids ([[labelCentroids]] when labels exist, [[kmeansCentroids]]
    * otherwise — recovery spec-pinned) and run the one-time
    * [[writeCellPartitioned]] rewrite. */
  def appendCellPartitioned(embeddings: DataFrame, centroids: DataFrame,
      dir: String): Unit =
    assignCells(embeddings, centroids)
      .repartition(col("cent_id"))
      .write.mode("append").partitionBy("cent_id").parquet(dir)

  /** Quantizer-health report over the CURRENT lake: per cell, occupancy
    * and the mean/min cosine between members and their centroid — the two
    * signals (skew, assignment quality) that decide when the incremental
    * append path has drifted far enough to warrant a centroid refit +
    * rewrite. One pruned-free full scan + broadcast join + partial agg;
    * run it at maintenance cadence, not per query. */
  def driftReport(spark: SparkSession, dir: String,
      centroids: DataFrame): DataFrame =
    spark.read.parquet(dir)
      .join(broadcast(centroids), "cent_id")
      .select(col("cent_id"),
        cosineNative(col("embedding"), col("centroid")).as("cos"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n"),
        avg(col("cos")).as("mean_cos"),
        min(col("cos")).as("min_cos"))

  /** Top-k by exact cosine among the `nProbe` cells nearest the query
    * vector. The IN-list on the partition column is what turns the probe
    * into a pruned scan. */
  def probe(spark: SparkSession, dir: String, centroids: DataFrame,
      queryVec: Array[Float], nProbe: Int = 2, k: Int = 10): DataFrame = {
    val qDf = spark.createDataFrame(Seq(Tuple1(queryVec))).toDF("q_emb")
    val cells = centroids.crossJoin(broadcast(qDf))
      .orderBy(cosineNative(col("centroid"), col("q_emb")).desc_nulls_last,
        col("cent_id"))
      .limit(nProbe)
      // untyped get: the scaladoc admits any cent_id type (int label here,
      // bigint/string ids elsewhere) — lit() re-types the IN-list to match
      .select("cent_id").collect().map(_.get(0)).toSeq
    spark.read.parquet(dir)
      .filter(col("cent_id").isin(cells.map(lit): _*))
      .crossJoin(broadcast(qDf))
      .select(col("vec_id"), cosineNative(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(col("cos").desc_nulls_last, col("vec_id"))
      .limit(k)
  }

  // ───── int8 scalar quantization ──────────────────────────────────────
  //
  // At 100 TB the float lake is the probe-scan cost: array<float> reads 4
  // bytes per dimension where an int8 code reads 1. Per-dimension affine
  // quantization (the standard scalar-quantizer layout: code 0..255 spans
  // [min_d, max_d] of each dimension) keeps ~4× of that back, with the
  // float originals retained ONLY for the shortlist re-rank — the probe
  // reads codes, the re-rank joins a k-row shortlist against the float
  // lake by vec_id.
  //
  // Every step is engine-deterministic so the whole codebook is
  // DuckDB-oracle-able (q101): floats map to integer space as
  // floor(x·10⁶) (float→double widening is exact, the ×10⁶ multiply and
  // floor are identically-rounded IEEE ops in both engines, and the cast
  // of an integral double to BIGINT is exact); per-dimension min/max are
  // exact BIGINT aggregates; the code is pure integer arithmetic
  // ((iv−mn)·255 div range, operands comfortably inside BIGINT); the
  // integer-space reconstruction mn + (code·range) div 255 is likewise
  // exact, making the reconstruction-error bound oracle-checkable. No
  // float rounding mode, no decimal-division scale rules, no
  // transcendental — the classes of divergence the oracle contract
  // (operators/package.scala) bans never arise.

  /** Integer-space image of a float coordinate: floor(x·10⁶) as BIGINT.
    * Exactly mirrored by the oracle's
    * `CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)`. */
  private def intSpace(v: Column): Column =
    floor(v.cast("double") * lit(1000000.0)).cast("long")

  /** Per-dimension quantization parameters over a corpus: (pos, mn, mx)
    * in integer space — one row per dimension, a driver-sized artifact
    * stored beside the lake like the centroid table and broadcast into
    * every [[quantize]]/[[probeQuantized]] call. Recompute only on refit:
    * codes are only comparable under the params that produced them. */
  def quantizationParams(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"), intSpace(col("v")).as("iv"))
      .groupBy("pos")
      .agg(min(col("iv")).as("mn"), max(col("iv")).as("mx"))

  /** The params table packed into the ONE broadcastable `qparams` row the
    * kernels consume. The sort and the (pos, mn, mx) field order are the
    * kernel ABI — `Int8Quantize`/`QuantizedCosine` read mn/mx
    * positionally — so every call site must build it HERE. */
  def paramArray(params: DataFrame): DataFrame =
    params.agg(
      array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("qparams"))

  /** Quantize a corpus under frozen params → (vec_id, codes array<int> in
    * 0..255 ordered by dimension, max_err bigint = the per-vector worst
    * integer-space reconstruction gap, ≤ range/255 by construction — the
    * stored health metric that bounds how far the pre-rank cosine can
    * drift). Constant dimensions (range 0) code as 0; out-of-range values
    * from corpus drift clamp to 0/255 like every scalar quantizer, with
    * max_err surfacing the clamp loss; a params/vector LENGTH mismatch
    * (wrong codebook) yields a null row rather than silently truncating
    * dimensions.
    *
    * One broadcast projection, ZERO shuffle: the per-row map is the native
    * `int8_quantize` kernel. The posexplode/join/groupBy formulation —
    * which reassembles 64× the corpus rows through an exchange, the cost
    * that would dominate a 100 TB lake write — is kept as
    * [[quantizeReference]], the oracle-shaped semantic reference the
    * kernel is spec-pinned against (q101 hashes both against DuckDB). */
  def quantize(embeddings: DataFrame, params: DataFrame): DataFrame =
    embeddings.crossJoin(broadcast(paramArray(params)))
      .select(col("vec_id"),
        call_function("int8_quantize", col("embedding"), col("qparams")).as("q"))
      .select(col("vec_id"), col("q.codes").as("codes"),
        col("q.max_err").as("max_err"))

  /** [[quantize]] through the explode/join/groupBy DataFrame formulation —
    * the semantic reference the native kernel is pinned against
    * (QuantizationSpec). */
  private[operators] def quantizeReference(embeddings: DataFrame,
      params: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("iv", intSpace(col("v")))
      .join(broadcast(params), Seq("pos"))
      .withColumn("code", when(col("mx") === col("mn"), lit(0)).otherwise(
        greatest(lit(0), least(lit(255),
          expr("CAST(((iv - mn) * 255) div (mx - mn) AS INT)")))))
      .withColumn("err", abs(col("iv") - (col("mn") +
        expr("(CAST(code AS BIGINT) * (mx - mn)) div 255"))))
      .groupBy("vec_id")
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, code))), s -> s.code)")
          .as("codes"),
        max(col("err")).as("max_err"))

  /** One-time reorganization of the QUANTIZED lake: codes packed to ONE
    * BYTE per dimension (`int8_pack` → binary — the actual 4× storage
    * claim; an array<int> column would spend 4+ bytes/dim) and partitioned
    * by IVF cell. The float lake stays wherever it lives (typically the
    * [[writeCellPartitioned]] layout) — [[probeQuantized]] joins the
    * shortlist back to it by vec_id for the exact re-rank. */
  /** The quantized-lake row projection (vec_id, codes binary, cent_id) —
    * assignment and quantization are both per-row maps over the same
    * scan: ONE projection, no self-join reassembly (the kernels exist
    * precisely so the write is scan → project → partitioned write).
    * Shared by the batch writer and [[graft.streaming.VectorStream]]'s
    * quantized ingest so stream and batch lakes are the same bytes. */
  def quantizedProjection(embeddings: DataFrame, centroids: DataFrame,
      params: DataFrame): DataFrame =
    assignCells(embeddings, centroids)
      .crossJoin(broadcast(paramArray(params)))
      .select(col("vec_id"),
        call_function("int8_pack",
          call_function("int8_quantize", col("embedding"), col("qparams"))
            .getField("codes")).as("codes"),
        col("cent_id"))

  def writeQuantizedCellPartitioned(embeddings: DataFrame,
      centroids: DataFrame, params: DataFrame, dir: String): Unit =
    quantizedProjection(embeddings, centroids, params)
      .repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(dir)

  /** [[probe]] over the quantized lake: the pruned scan reads CODES (1
    * byte/dim), pre-ranks by cosine against the dequantized
    * reconstruction (the native fused `quantized_cosine` kernel — no
    * per-row float materialization), keeps a `preK`-row shortlist, and
    * re-ranks exactly on the float originals fetched from `floatLake` by
    * vec_id. preK is the recall knob: the quantizer's rank errors are
    * confined to near-boundary neighbors, so a small multiple of k
    * (default 4×) recovers them; measured recall deltas per multiplier
    * are the BASELINE.md `ann` quant rows. */
  def probeQuantized(spark: SparkSession, dir: String, floatLake: DataFrame,
      centroids: DataFrame, params: DataFrame, queryVec: Array[Float],
      nProbe: Int = 2, k: Int = 10, preK: Int = 40): DataFrame = {
    val qDf = spark.createDataFrame(Seq(Tuple1(queryVec))).toDF("q_emb")
    val cells = centroids.crossJoin(broadcast(qDf))
      .orderBy(cosineNative(col("centroid"), col("q_emb")).desc_nulls_last,
        col("cent_id"))
      .limit(nProbe)
      .select("cent_id").collect().map(_.get(0)).toSeq
    quantizedRerank(
      spark.read.parquet(dir).filter(col("cent_id").isin(cells.map(lit): _*)),
      floatLake, params, qDf, preK, k)
  }

  /** Shared quantized-probe tail for BOTH lake layouts (IVF cells here,
    * LSH buckets in [[AnnStorage.probeQuantized]]) — only the pruning
    * predicate differs between them, so the pre-rank/shortlist/re-rank
    * semantics (preK knob, vec_id tie-breaks, float re-rank source) live
    * in exactly one place: `quantized_cosine` over the pruned (vec_id,
    * codes) scan → top-preK shortlist → exact cosine re-rank on the float
    * originals joined by vec_id. */
  private[operators] def quantizedRerank(prunedCodes: DataFrame,
      floatLake: DataFrame, params: DataFrame, qDf: DataFrame,
      preK: Int, k: Int): DataFrame = {
    val shortlist = prunedCodes
      .crossJoin(broadcast(qDf)).crossJoin(broadcast(paramArray(params)))
      .select(col("vec_id"),
        call_function("quantized_cosine", col("codes"), col("qparams"),
          col("q_emb")).as("qcos"))
      .orderBy(col("qcos").desc_nulls_last, col("vec_id"))
      .limit(preK)
    shortlist.join(floatLake.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(qDf))
      .select(col("vec_id"), cosineNative(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(col("cos").desc_nulls_last, col("vec_id"))
      .limit(k)
  }
}
