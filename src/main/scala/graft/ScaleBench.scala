package graft

import graft.metrics.JobMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve harness for the dedup-floor pipelines (q37 token-Jaccard,
  * q66 connected components, q74 containment, q84 doc-frequency): the
  * driver's data stops at sf0.1, so the 100 TB plan-shape arguments are
  * validated here by MEASUREMENT on synthetic corpora at 1×/3×/10× the
  * sf0.1 document count. Per (pipeline, multiplier) it prints one JSON line
  * with wall seconds, result rows, total shuffle bytes (read + written),
  * and the longest single task — the three quantities that expose a
  * super-linear stage (candidate blowup shows in shuffle bytes; a skewed
  * or collapsed stage shows in max-task).
  *
  * `chains` mode A/Bs [[operators.ConnectedComponents.run]] (min-label
  * propagation, rounds = diameter) against
  * [[operators.ConnectedComponents.runStar]] (large/small-star,
  * O(log n) rounds) on path graphs of increasing depth at a fixed edge
  * budget — locating the crossover where label propagation's per-round
  * cheapness loses to star's round count.
  *
  * Usage: `runMain graft.ScaleBench [mode]`, mode one of docs (default),
  * chains, select, leak, ann, bpe, unigram, dedupreport, vecstream, graph,
  * interval, tokingest, cdc, ivm, blocklist, linkage, quantile.
  * `dedupreport` measures the one-pass [[operators.DedupReport]] against
  * the contract-independent q66+q79 pair; `ann` scales the
  * ANN/similarity-search family (walls, recall@10 vs exact, IVF
  * partition-pruning proof). Results are recorded in BASELINE.md
  * (scaling exponents + crossover), not asserted here — machine-load
  * swings make hard thresholds flaky (CLAUDE.md).
  */
object ScaleBench {

  /** documents-shaped synthetic corpus, ~sf0.1-like row weight (40-token
    * text, ~30% of docs in near/exact-dup clusters of ≤ 4). Deterministic
    * via xxhash64 — no RNG state, so any multiplier reproduces
    * bit-identically. Cluster structure: ids snap to a 4-block leader;
    * even non-leaders get a distinguishing suffix token (near-dups at
    * Jaccard 40/41), odd ones are exact copies. Sources are keyed by GROUP
    * so cluster members share a blocking key.
    *
    * Growth model — the part that makes the exponents meaningful: both the
    * vocabulary (Heaps' law: new corpus brings new terms) and the domain
    * count grow LINEARLY with the corpus, keeping per-token posting lists
    * and per-source blocks at constant expected size — the real 100 TB
    * shape. Freezing either at the 1× value makes the pair stages
    * quadratic BY CONSTRUCTION (first run of this harness measured
    * exactly that: a fixed 5k-token Zipf vocabulary at 10× wedged q37's
    * postings join for >10 min — the stress case already covered by
    * ZipfJaccardSpec's prefix-filter A/B and the documented
    * stagedPrefixFilter escalation, not a scaling property of the
    * shipped plans). */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val vocab = math.max(5000L, n)   // Heaps-ish: vocabulary ∝ corpus
    val sources = math.max(3L, n / 1700) // domains ∝ corpus (~1700 docs each)
    spark.range(0, n)
      .select(col("id").as("doc_id"),
        when(pmod(xxhash64(col("id")), lit(10)) < 3,
          (col("id").cast("long") / 4).cast("long") * 4)
          .otherwise(col("id")).as("gid"))
      .select(col("doc_id"), col("gid"), concat_ws(" ", expr(
        s"""transform(sequence(1, 40), j ->
           |  concat('t', cast(pmod(xxhash64(gid, j), ${vocab}L) as string)))"""
          .stripMargin)).as("base"))
      .select(col("doc_id"),
        when(col("doc_id") =!= col("gid") && pmod(col("doc_id"), lit(2)) === 0,
          concat(col("base"), lit(" u"), col("doc_id")))
          .otherwise(col("base")).as("text"),
        lit("en").as("lang"),
        concat(lit("src"),
          pmod(xxhash64(col("gid")), lit(sources))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** embeddings-shaped synthetic table: 64-dim float vectors, label count
    * ∝ n (sf0.1 shape: ~200 vectors per label), ~30% of vectors in
    * near-dup clusters of ≤ 4 — a leader vector plus small per-member
    * jitter, so the ANN-dedup pipeline has real edges to find and every
    * vector's true nearest neighbors are its cluster mates. Deterministic
    * via xxhash64, like [[synthDocs]]. Labels key on the cluster leader so
    * members share the label/cell blocking key. */
  def synthEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    val labels = math.max(10L, n / 200)
    spark.range(0, n)
      .select(col("id").as("vec_id"),
        when(pmod(xxhash64(col("id")), lit(10)) < 3,
          (col("id").cast("long") / 4).cast("long") * 4)
          .otherwise(col("id")).as("gid"))
      .select(col("vec_id"),
        expr("""transform(sequence(0, 63), i ->
          |  CAST(CAST(pmod(xxhash64(gid, i), 1000) AS DOUBLE) / 1000.0 - 0.5
          |    + CASE WHEN vec_id <> gid
          |        THEN CAST(pmod(xxhash64(vec_id, i), 1000) AS DOUBLE) / 50000.0
          |        ELSE 0.0 END AS FLOAT))""".stripMargin).as("embedding"),
        pmod(xxhash64(col("gid")), lit(labels)).cast("int").as("label"))
  }

  /** Sum of `numFiles` over every file scan in the EXECUTED (AQE-final)
    * plan — the measured form of the PartitionFilters pruning claim. */
  private def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => Seq(s.metrics("numFiles").value)
      case o => (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).sum
  }

  /** Each pipeline runs TWICE: the first (cold) wall is recorded but the
    * scaling exponent reads the second (warm) run with task stats — a
    * single-shot measurement charges JIT/codegen/cache warmup to whichever
    * pipeline runs first at each multiplier (the first harness run measured
    * q84 at 13.3 s cold vs 3.4 s warm at 10× and misread warmup as a
    * super-linear stage). */
  private def measured(spark: SparkSession, name: String, mult: Int)(
      body: => Long): Unit = {
    val c0 = System.nanoTime()
    body
    val cold = (System.nanoTime() - c0) / 1e9
    val stats = JobMetrics.attach(spark.sparkContext)
    val t0 = System.nanoTime()
    var wall = 0.0
    val rows =
      try { val r = body; wall = (System.nanoTime() - t0) / 1e9; r }
      finally {
        // the wall clock stops BEFORE the drain: the flush's marker job
        // inside the timed window would bias every scaling exponent
        stats.flush()
        stats.detach()
      }
    val tasks = stats.tasks
    println(s"""{"bench":"scale","pipeline":"$name","mult":$mult,""" +
      s""""wall_sec":$wall,"cold_sec":$cold,"rows":$rows,""" +
      s""""shuffle_bytes":${tasks.map(t => t.shuffleReadBytes + t.shuffleWriteBytes).sum},""" +
      s""""input_bytes":${tasks.map(_.inputBytes).sum},""" +
      s""""max_task_ms":${tasks.map(_.runMs).maxOption.getOrElse(0L)},"tasks":${tasks.size}}""")
  }

  private val pipelines = Seq(
    "q37_dedup_jaccard", "q66_dedup_components",
    "q74_dedup_containment", "q84_text_doc_frequency")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("docs")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus, "graft-scale-bench")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect() // session warmup
    mode match {
      case "docs" =>
        val base = 5000L // sf0.1's document count
        Seq(1, 3, 10).foreach { m =>
          val dir = s"/tmp/graft-scale/m$m"
          synthDocs(spark, base * m).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          pipelines.foreach { q =>
            measured(spark, q, m)(SparkEntry.queries(q)(spark, dir).count())
          }
        }
      case "chains" =>
        // fixed edge budget (~120k edges), varying chain depth: depth d ⇒
        // run() needs ~d rounds while runStar needs ~log d
        import spark.implicits._
        Seq(4, 16, 64).foreach { depth =>
          val chains = 120000 / depth
          val edges = spark.range(0, chains).as[Long].flatMap { c =>
            val b = c * (depth + 1)
            (0 until depth).map(i => (b + i, b + i + 1))
          }.toDF("a", "b")
          edges.persist(); edges.count()
          measured(spark, s"cc_run_d$depth", depth)(
            operators.ConnectedComponents.run(edges, maxIter = depth + 5)
              .count())
          measured(spark, s"cc_runStar_d$depth", depth)(
            operators.ConnectedComponents.runStar(edges).count())
          edges.unpersist()
        }
      case "select" =>
        // the data-selection family at 1×/3×/10×: q110 DSIR weighting
        // (explode + 64-bucket fit + per-doc regroup — expect ~linear
        // wall/shuffle), q111 bigram backoff (vocabulary-sized count
        // joins; vocab ∝ corpus here, the honest Heaps regime), q113
        // fuzzy decontamination (benchmark side broadcast — corpus bands
        // must NOT shuffle, watch shuffle_bytes stay ~flat vs q41's
        // self-join). Same corpus generator as `docs`.
        val base = 5000L
        Seq(1, 3, 10).foreach { m =>
          val dir = s"/tmp/graft-scale/m$m"
          synthDocs(spark, base * m).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          Seq("q110_dsir_importance", "q111_text_bigram_backoff",
            "q113_decontaminate_fuzzy").foreach { q =>
            measured(spark, q, m)(SparkEntry.queries(q)(spark, dir).count())
          }
        }
      case "leak" =>
        // q193's responseLeakage at 1×/3×/10× corpus: the SFT side is the
        // src0 slice (grows with the corpus here, still ≪ corpus), the
        // pretraining side is everything else. The scale claim under
        // test: the corpus is scanned ONCE with a map-side broadcast
        // probe and NEVER shuffled on shingles — wall should track the
        // corpus linearly while shuffle_bytes stays bounded by the SFT
        // side (compare against q77, whose benchmark side is also
        // distinct-reduced but joins the other way).
        val base = 5000L
        Seq(1, 3, 10).foreach { m =>
          val dir = s"/tmp/graft-scale/m$m"
          synthDocs(spark, base * m).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          Seq("q193_sft_contamination", "q77_text_contamination")
            .foreach { q =>
              measured(spark, q, m)(SparkEntry.queries(q)(spark, dir).count())
            }
        }
      case "ann" =>
        // the ANN/similarity-search family at 1×/3×/10× the sf0.1 vector
        // count: wall+shuffle+max-task for the three pipeline shapes
        // (q43 LSH top-k probe, q70 ANN dedup, q51/IvfStorage build+probe),
        // measured recall@10 vs the exact top-k over 20 spread queries,
        // and a files-read proof of the IVF probe's partition pruning
        import graft.functions.VectorFunctions.{cosineNative, lshSigNative}
        import graft.operators.{IvfStorage, VectorQueries, ConnectedComponents}
        import org.apache.spark.sql.expressions.Window
        val baseN = 2000L // sf0.1's embeddings row count
        val nq = 20
        Seq(1, 3, 10).foreach { m =>
          val n = baseN * m
          val dir = s"/tmp/graft-scale/ann-m$m"
          synthEmbeddings(spark, n).write.mode("overwrite")
            .parquet(s"$dir/embeddings.parquet")
          val e = spark.read.parquet(s"$dir/embeddings.parquet")
          val step = n / nq
          val queries = e.filter(pmod(col("vec_id"), lit(step)) === 0)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          val qSig = queries.withColumn("q_sig", lshSigNative(col("q_emb")))
          def topk(cands: DataFrame): DataFrame = {
            val w = Window.partitionBy("q_id")
              .orderBy(col("cos").desc_nulls_last, col("vec_id"))
            cands.withColumn("rn", row_number().over(w))
              .filter(col("rn") <= 10).select("q_id", "vec_id")
          }
          val exactTop = topk(e.crossJoin(broadcast(queries))
            .select(col("q_id"), col("vec_id"),
              cosineNative(col("embedding"), col("q_emb")).as("cos")))
          val lshTop = topk(
            e.withColumn("sig", lshSigNative(col("embedding")))
              .crossJoin(broadcast(qSig))
              .filter(expr("bit_count(sig ^ q_sig) <= 2"))
              .select(col("q_id"), col("vec_id"),
                cosineNative(col("embedding"), col("q_emb")).as("cos")))
          val cents = IvfStorage.labelCentroids(e)
          // nearest_centroid kernel A/B at the top multiplier: native
          // codegen scan vs the interpreted HOF fold it replaced (the
          // assignment inside ivf_build / kmeans refit / q51/q54),
          // interleaved ×2 per the CLAUDE.md noise rules; sum(cent_id)
          // forces the assignment column (count() would prune it)
          if (m == 10) (1 to 2).foreach { r =>
            measured(spark, s"ivf_assign_native_r$r", m)(
              IvfStorage.assignCells(e, cents)
                .agg(sum(col("cent_id"))).head().getLong(0))
            measured(spark, s"ivf_assign_hof_r$r", m)(
              IvfStorage.assignCellsReference(e, cents)
                .agg(sum(col("cent_id"))).head().getLong(0))
          }
          measured(spark, "ann_exact_topk", m)(exactTop.count())
          measured(spark, "ann_lsh_topk", m)(lshTop.count())
          measured(spark, "ann_dedup_q70", m)(
            ConnectedComponents.run(
              VectorQueries.annCosinePairs(e, 0.35)).count())
          measured(spark, "ivf_build", m) {
            IvfStorage.writeCellPartitioned(e, cents, s"$dir/ivf")
            spark.read.parquet(s"$dir/ivf").count()
          }
          // IVF batch probe: per query, the nProbe nearest cells then an
          // exact re-rank — ONE definition shared by the measured nProbe=2
          // probe and the recall sweep below, so they cannot drift
          def ivfProbeTop(nProbe: Int): DataFrame = {
            val qc = cents.crossJoin(broadcast(queries))
              .withColumn("rn", row_number().over(Window.partitionBy("q_id")
                .orderBy(cosineNative(col("centroid"), col("q_emb"))
                  .desc_nulls_last, col("cent_id"))))
              .filter(col("rn") <= nProbe).select("q_id", "q_emb", "cent_id")
            topk(spark.read.parquet(s"$dir/ivf")
              .join(broadcast(qc), "cent_id")
              .select(col("q_id"), col("vec_id"),
                cosineNative(col("embedding"), col("q_emb")).as("cos")))
          }
          val ivfTop = ivfProbeTop(2)
          measured(spark, "ivf_probe_batch", m)(ivfTop.count())
          // int8-quantized lake: build (pack to 1 byte/dim, cell-
          // partitioned), then the same batch probe shape with the
          // quantized_cosine pre-rank + exact re-rank on the shortlist —
          // recall delta vs the float probe at the SAME nProbe isolates
          // the quantization loss
          val qparams = IvfStorage.quantizationParams(e)
          measured(spark, "quant_build", m) {
            IvfStorage.writeQuantizedCellPartitioned(e, cents, qparams,
              s"$dir/qivf")
            spark.read.parquet(s"$dir/qivf").count()
          }
          val paramArr = IvfStorage.paramArray(qparams)
          def quantProbeTop(nProbe: Int, preK: Int): DataFrame = {
            val qc = cents.crossJoin(broadcast(queries))
              .withColumn("rn", row_number().over(Window.partitionBy("q_id")
                .orderBy(cosineNative(col("centroid"), col("q_emb"))
                  .desc_nulls_last, col("cent_id"))))
              .filter(col("rn") <= nProbe).select("q_id", "q_emb", "cent_id")
            val pre = spark.read.parquet(s"$dir/qivf")
              .join(broadcast(qc), "cent_id")
              .crossJoin(broadcast(paramArr))
              .select(col("q_id"), col("q_emb"), col("vec_id"),
                call_function("quantized_cosine", col("codes"),
                  col("qparams"), col("q_emb")).as("qcos"))
              .withColumn("rn", row_number().over(Window.partitionBy("q_id")
                .orderBy(col("qcos").desc_nulls_last, col("vec_id"))))
              .filter(col("rn") <= preK)
              .select("q_id", "q_emb", "vec_id")
            topk(pre.join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
              .select(col("q_id"), col("vec_id"),
                cosineNative(col("embedding"), col("q_emb")).as("cos")))
          }
          val quantTop = quantProbeTop(2, 40)
          measured(spark, "quant_probe_batch", m)(quantTop.count())
          // recall@10 vs exact, averaged over the query set
          def sets(df: DataFrame): Map[Long, Set[Long]] =
            df.collect().groupBy(_.getLong(0))
              .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
          val ex = sets(exactTop)
          def recall(got: Map[Long, Set[Long]]): Double =
            ex.map { case (q, want) =>
              got.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
            }.sum / ex.size
          val lshR = recall(sets(lshTop))
          val ivfR = recall(sets(ivfTop))
          val quantR = recall(sets(quantTop))
          // preK sweep: how fast the exact re-rank recovers the
          // quantizer's rank errors as the shortlist grows
          // preK is the shortlist size (k stays 10) — key names say so
          val quantSweep = Seq(10, 20, 80).map(p =>
            s""""quant_recall_prek$p":${recall(sets(quantProbeTop(2, p)))}""")
            .mkString(",")
          def dirBytes(p: String): Long = {
            def walk(f: java.io.File): Long =
              if (f.isDirectory) f.listFiles().map(walk).sum
              else if (f.getName.endsWith(".parquet")) f.length else 0L
            walk(new java.io.File(p))
          }
          val quantBytes = dirBytes(s"$dir/qivf")
          val floatBytes = dirBytes(s"$dir/ivf")
          // IVFADC (PQ) lake: m=8 BYTES per vector (vs int8's 64, float's
          // 256), probed via per-query ADC lookup tables + exact re-rank —
          // the same cell pruning, preK knob and recall methodology as the
          // int8 rows so the three compression points compare directly
          import graft.operators.PqStorage
          val cb = PqStorage.labelCodebooks(e, 8, 64)
          measured(spark, "pq_build", m) {
            PqStorage.writePackedCellPartitioned(e, cents, cb, s"$dir/pq")
            spark.read.parquet(s"$dir/pq").count()
          }
          def pqProbeTop(nProbe: Int, preK: Int): DataFrame = {
            val qc = cents.crossJoin(broadcast(queries))
              .withColumn("rn", row_number().over(Window.partitionBy("q_id")
                .orderBy(cosineNative(col("centroid"), col("q_emb"))
                  .desc_nulls_last, col("cent_id"))))
              .filter(col("rn") <= nProbe).select("q_id", "q_emb", "cent_id")
            // one ADC table per query (m·k doubles), built from the
            // broadcast codebook and broadcast into the code scan
            val qTables = queries.crossJoin(broadcast(cb))
              .withColumn("qsub", expr("slice(q_emb, sub * 8 + 1, 8)"))
              .withColumn("dist", aggregate(
                zip_with(col("qsub"), col("centroid"),
                  (x, y) => (x.cast("double") - y.cast("double")) *
                    (x.cast("double") - y.cast("double"))),
                lit(0.0), (a, x) => a + x))
              .groupBy("q_id")
              .agg(expr(
                "transform(array_sort(collect_list(struct(sub, code, dist))), s -> s.dist)")
                .as("adc_table"))
            val pre = spark.read.parquet(s"$dir/pq")
              .join(broadcast(qc), "cent_id")
              .join(broadcast(qTables), "q_id")
              .select(col("q_id"), col("q_emb"), col("vec_id"),
                call_function("pq_adc_score", col("codes"), col("adc_table"))
                  .as("adist"))
              .withColumn("rn", row_number().over(Window.partitionBy("q_id")
                .orderBy(col("adist").asc_nulls_last, col("vec_id"))))
              .filter(col("rn") <= preK)
              .select("q_id", "q_emb", "vec_id")
            topk(pre.join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
              .select(col("q_id"), col("vec_id"),
                cosineNative(col("embedding"), col("q_emb")).as("cos")))
          }
          val pqTop = pqProbeTop(2, 40)
          measured(spark, "pq_probe_batch", m)(pqTop.count())
          val pqBytes = dirBytes(s"$dir/pq")
          val pqR = recall(sets(pqTop))
          val pqSweep = Seq(10, 20, 80).map(p =>
            s""""pq_recall_prek$p":${recall(sets(pqProbeTop(2, p)))}""")
            .mkString(",")
          // parameter-scaling sweep: how fast recall recovers as nProbe
          // grows with the cell count, and what one more Hamming unit of
          // probe radius buys — the measured basis for the scaling rules
          // in IvfStorage's / annCosinePairs' docs
          def ivfRecallAt(nProbe: Int): Double =
            recall(sets(ivfProbeTop(nProbe)))
          val lshR3 = recall(sets(topk(
            e.withColumn("sig", lshSigNative(col("embedding")))
              .crossJoin(broadcast(qSig))
              .filter(expr("bit_count(sig ^ q_sig) <= 3"))
              .select(col("q_id"), col("vec_id"),
                cosineNative(col("embedding"), col("q_emb")).as("cos")))))
          val sweep = Seq(4, 8, 16).map(p => s""""ivf_recall_p$p":${ivfRecallAt(p)}""")
            .mkString(",")
          // single-query IvfStorage.probe: the pruning proof, measured
          val qVec = e.filter(col("vec_id") === 0)
            .select("embedding").head().getSeq[Float](0).toArray
          val probe = IvfStorage.probe(spark, s"$dir/ivf", cents, qVec,
            nProbe = 2, k = 10)
          probe.collect()
          val read = filesRead(probe)
          val total = new java.io.File(s"$dir/ivf").listFiles()
            .filter(_.isDirectory).map(_.listFiles()
              .count(f => f.getName.endsWith(".parquet"))).sum
          val nCells = cents.count()
          println(s"""{"bench":"ann_recall","mult":$m,"n":$n,""" +
            s""""queries":${ex.size},"lsh_recall":$lshR,"lsh_recall_r3":$lshR3,""" +
            s""""ivf_recall":$ivfR,$sweep,""" +
            s""""quant_recall":$quantR,$quantSweep,""" +
            s""""pq_recall":$pqR,$pqSweep,""" +
            s""""quant_bytes":$quantBytes,"pq_bytes":$pqBytes,""" +
            s""""float_bytes":$floatBytes,""" +
            s""""cells":$nCells,"nprobe":2,""" +
            s""""probe_files_read":$read,"files_total":$total}""")
        }
      case "bpe" =>
        // BPE training cost vs corpus size: the loop folds to the
        // distinct-word table first, so the per-iteration cost should
        // track DISTINCT words (Heaps-sublinear), not corpus rows
        Seq(1, 3, 10).foreach { m =>
          val dir = s"/tmp/graft-scale/m$m"
          // always regenerate (docs-mode discipline): an exists() shortcut
          // would happily benchmark a stale or partially-written corpus
          // left by a killed earlier run
          synthDocs(spark, 5000L * m).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          val docs = spark.read.parquet(s"$dir/documents.parquet")
          var table: operators.BpeTrainer.MergeTable = null
          measured(spark, "bpe_train_20", m) {
            table = operators.BpeTrainer.train(docs, nMerges = 20)
            table.merges.size.toLong
          }
          // batched-pass training at a real-ish merge count: 2 jobs per
          // PASS instead of sequential's 2 per merge, table spec-pinned
          // identical — the pass count here is the whole claim
          var batchSizes: Seq[Int] = Nil
          measured(spark, "bpe_train_batched_200", m) {
            val (t, sizes) = operators.BpeTrainer
              .trainBatchedWithStats(docs, nMerges = 200)
            batchSizes = sizes
            t.merges.size.toLong
          }
          println(s"""{"bench":"bpe_batched","mult":$m,""" +
            s""""merges":${batchSizes.sum},"passes":${batchSizes.length},""" +
            s""""jobs":${2 * batchSizes.length},""" +
            s""""seq_jobs":${2 * batchSizes.sum},""" +
            s""""batch_sizes":[${batchSizes.mkString(",")}]}""")
          // approximate batching (skip interactors, no ceiling): the
          // job-count regime a 32k-merge vocabulary actually needs
          var approxSizes: Seq[Int] = Nil
          measured(spark, "bpe_train_approx_200", m) {
            val (t, sizes) = operators.BpeTrainer
              .trainBatchedWithStats(docs, nMerges = 200, exact = false)
            approxSizes = sizes
            t.merges.size.toLong
          }
          println(s"""{"bench":"bpe_batched_approx","mult":$m,""" +
            s""""merges":${approxSizes.sum},"passes":${approxSizes.length},""" +
            s""""jobs":${2 * approxSizes.length},""" +
            s""""seq_jobs":${2 * approxSizes.sum}}""")
          if (m == 1)
            measured(spark, "bpe_train_seq_200", m)(
              operators.BpeTrainer.train(docs, nMerges = 200)
                .merges.size.toLong)
          // encode throughput through the dictionary join (q100's path):
          // "rows" here = TOTAL BPE TOKENS EMITTED, so tokens/s =
          // rows / wall_sec; the per-word fold cost is paid once per
          // DISTINCT word, so the wall should track corpus size (the
          // join-back) with a Heaps-sublinear dictionary term
          measured(spark, "bpe_encode_dict", m)(
            operators.BpeTrainer.tokenizeViaDictionary(docs, table)
              .agg(sum(size(col("bpe")))).head().getLong(0))
        }
      case "unigram" =>
        // Unigram-LM (Kudo) training cost vs corpus size: EM folds to
        // the distinct-word table (Heaps-sublinear) and a full EM round
        // is 2 jobs REGARDLESS of vocabulary size — the model rides into
        // the E-step as ONE broadcast literal, vs BPE's 2-jobs-per-merge
        // (sequential) / 2-per-pass (batched) scheduler economics
        Seq(1, 3, 10).foreach { m =>
          val dir = s"/tmp/graft-scale/m$m"
          synthDocs(spark, 5000L * m).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          val docs = spark.read.parquet(s"$dir/documents.parquet")
          var model: operators.UnigramLm.Vocab = null
          measured(spark, "unigram_train", m) {
            model = operators.UnigramLm.train(docs, vocabSize = 1500,
              maxPieceLen = 6, seedSize = 2000, emIters = 2)
            model.pieces.size.toLong
          }
          // encode throughput through the dictionary join (q149's
          // path): rows = TOTAL PIECES EMITTED → tokens/s = rows/wall
          measured(spark, "unigram_encode_dict", m)(
            operators.UnigramLm.encodeViaDictionary(docs, model)
              .agg(sum(size(col("sp")))).head().getLong(0))
        }
      case "dedupreport" =>
        // one-pass DedupReport vs the contract-mandated independent
        // q66 + q79 re-run, interleaved A/B (CLAUDE.md: never conclude
        // from one run) on the real driver data
        val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        (1 to 3).foreach { r =>
          measured(spark, s"q66_plus_q79_r$r", 1) {
            SparkEntry.queries("q66_dedup_components")(spark, d).count() +
              SparkEntry.queries("q79_dedup_cluster_sizes")(spark, d).count()
          }
          measured(spark, s"dedup_report_r$r", 1) {
            val rep = operators.DedupReport.build(Tables.documents(spark, d))
            try rep.assignments.count() + rep.histogram.count() +
              rep.summary.count()
            finally rep.release()
          }
        }
        // incremental extension: a 10% append resolved via extend() vs
        // re-resolving everything — the ingest-path saving. The 90% build
        // is charged separately (it is the standing artifact, paid once).
        val docsAll = Tables.documents(spark, d)
        val isNew = pmod(xxhash64(col("doc_id"), lit(1)), lit(10)) === 0
        val oldDocs = docsAll.filter(!isNew)
        val newDocs = docsAll.filter(isNew)
        val standing = operators.DedupReport.build(oldDocs)
        // the deployment shape: the rep index is a stored artifact (built
        // once with the assignment), so an append probes parquet — never
        // re-scans the corpus
        val idxDir = "/tmp/graft-scale/dedup-repindex"
        operators.DedupReport.repIndex(oldDocs)
          .write.mode("overwrite").parquet(idxDir)
        val storedIndex = spark.read.parquet(idxDir)
        try (1 to 3).foreach { r =>
          measured(spark, s"extend_10pct_r$r", 1)(
            operators.DedupReport.extendWithIndex(storedIndex,
              standing.assignments, newDocs).count())
          measured(spark, s"rebuild_full_r$r", 1)(
            operators.DedupReport.assignComponents(docsAll).count())
        } finally standing.release()
      case "vecstream" =>
        // streaming vector-lake ingest throughput: file-arrival stream →
        // VectorStream cell-partitioned lake (assignment + drift observe +
        // idempotent batch-scoped write), AvailableNow over several
        // micro-batches; ×3 sequential runs per the noise rules
        import graft.operators.IvfStorage
        import graft.streaming.VectorStream
        import org.apache.spark.sql.streaming.Trigger
        val n = 200000L
        val base = "/tmp/graft-scale/vecstream"
        val e = synthEmbeddings(spark, n)
        e.repartition(64).write.mode("overwrite").parquet(s"$base/src")
        val src = spark.read.parquet(s"$base/src")
        val cents = IvfStorage.labelCentroids(src)
        (1 to 3).foreach { r =>
          val lake = s"$base/lake-r$r"; val ckpt = s"$base/ckpt-r$r"
          val t0 = System.nanoTime()
          val q = VectorStream.startCellPartitioned(
            spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 16).parquet(s"$base/src"),
            cents, lake, ckpt, Trigger.AvailableNow())
          q.awaitTermination(600000)
          val wall = (System.nanoTime() - t0) / 1e9
          val rows = spark.read.parquet(lake).count()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          val drift = q.recentProgress.flatMap(p =>
            Option(p.observedMetrics.get("vector_ingest_drift")))
            .filter(_.getAs[Long]("rows") > 0)
            .map(_.getAs[Double]("mean_assign_cos"))
          println(s"""{"bench":"vecstream","run":$r,"rows":$rows,""" +
            s""""wall_sec":$wall,"rows_per_sec":${(rows / wall).toLong},""" +
            s""""batches":$batches,"mean_assign_cos_min":${drift.min},""" +
            s""""mean_assign_cos_max":${drift.max}}""")
        }
        // quantized (int8) and PQ-packed ingest: the same stream with
        // encode-in-batch — per-row kernel cost on top of assignment,
        // 1-byte/dim (resp. m-byte) rows landing instead of floats
        // kmeansCodebooks, not labelCodebooks: the synthetic corpus has
        // ~1000 labels and PQ codes must fit one byte (k ≤ 256) — the
        // production fit is label-free anyway
        val params = IvfStorage.quantizationParams(src)
        val cbs = operators.PqStorage.kmeansCodebooks(src, 8, 64, k = 64,
          iters = 2)
        (1 to 3).foreach { r =>
          val lake = s"$base/qlake-r$r"; val ckpt = s"$base/qckpt-r$r"
          val t0 = System.nanoTime()
          val q = VectorStream.startQuantizedCellPartitioned(
            spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 16).parquet(s"$base/src"),
            cents, params, lake, ckpt, Trigger.AvailableNow())
          q.awaitTermination(600000)
          val wall = (System.nanoTime() - t0) / 1e9
          val rows = spark.read.parquet(lake).count()
          println(s"""{"bench":"vecstream_quant","run":$r,"rows":$rows,""" +
            s""""wall_sec":$wall,"rows_per_sec":${(rows / wall).toLong}}""")
        }
        (1 to 3).foreach { r =>
          val lake = s"$base/plake-r$r"; val ckpt = s"$base/pckpt-r$r"
          val t0 = System.nanoTime()
          val q = VectorStream.startPackedCellPartitioned(
            spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 16).parquet(s"$base/src"),
            cents, cbs, lake, ckpt, Trigger.AvailableNow())
          q.awaitTermination(600000)
          val wall = (System.nanoTime() - t0) / 1e9
          val rows = spark.read.parquet(lake).count()
          println(s"""{"bench":"vecstream_pq","run":$r,"rows":$rows,""" +
            s""""wall_sec":$wall,"rows_per_sec":${(rows / wall).toLong}}""")
        }
      case "graph" =>
        // the graph family at 1×/3×/10× the q133 edge volume, on a
        // synthetic constant-average-degree graph (V ∝ E — the honest
        // growth regime; freezing V would densify the graph and make
        // triangle work quadratic by construction). Watch triangles'
        // shuffle_bytes stay ~linear in E (the edge-iterator claim: the
        // Σdeg⁺² intersection volume never hits a shuffle) and max_task
        // stay flat (the orientation's hub bound).
        val baseE = 1200000L // q133's measured sf0.1 edge count
        Seq(1, 3, 10).foreach { m =>
          val ne = baseE * m
          val nv = ne / 60 // avg undirected degree ~120, the q133 shape
          val edges = spark.range(0, ne).select(
              pmod(xxhash64(col("id")), lit(nv)).as("x"),
              pmod(xxhash64(col("id"), lit(1L)), lit(nv)).as("y"))
            .filter(col("x") =!= col("y"))
            .select(least(col("x"), col("y")).as("a"),
              greatest(col("x"), col("y")).as("b"))
            .distinct()
          edges.persist(); edges.count()
          measured(spark, "triangles", m)(
            operators.Triangles.perNode(edges).count())
          val named = edges.select(concat(lit("n"), col("a")).as("a"),
            concat(lit("n"), col("b")).as("b"))
          val sym = named.select(col("a").as("src"), col("b").as("dst"))
            .unionAll(named.select(col("b").as("src"), col("a").as("dst")))
          measured(spark, "pagerank5", m)(
            operators.PageRank.run(sym, 5).count())
          // assortativity: two node-keyed joins + one global fold — the
          // watch item is the degree-table join strategy flipping from
          // broadcast to shuffle as |V| grows, with walls staying ~linear
          measured(spark, "assortativity", m)(
            operators.GraphQueries.assortativity(edges).count())
          edges.unpersist()
        }
      case "interval" =>
        // banded interval join vs naive theta-join at CONSTANT temporal
        // density (history span grows with the interval count — the
        // realistic regime): banded work stays ~linear, naive per-key
        // comparisons grow quadratically. Naive is skipped at 10× (it is
        // the point of the measurement that it stops being runnable).
        import operators.IntervalJoin
        val baseN = 200000L
        val nSupp = 20
        Seq(1, 3, 10).foreach { m =>
          val n = baseN * m
          val span = 3000L * m
          val iv = spark.range(n).select(
              (col("id") % nSupp).as("supp"), col("id").as("line_id"),
              (abs(xxhash64(col("id"))) % span).as("start_day"))
            .withColumn("end_day", col("start_day") + col("line_id") % 14 + 1)
          iv.persist(); iv.count()
          measured(spark, "interval_banded", m)(
            IntervalJoin.overlapPairs(iv, "supp", "line_id",
              "start_day", "end_day", maxLen = 14L).count())
          if (m < 10)
            measured(spark, "interval_naive", m)(
              IntervalJoin.overlapPairsNaive(iv, "supp", "line_id",
                "start_day", "end_day").count())
          iv.unpersist()
        }
      case "tokingest" =>
        // tokenize-at-ingest throughput: the stateless per-row WordPiece
        // kernel over the synthetic corpus at 1×/3×/10× — wall should be
        // linear in the token stream (no shuffle, no state)
        val wpv = (('a' to 'z').map(_.toString) ++
          ('a' to 'z').map("##" + _) ++
          Seq("the", "data", "spark", "join", "##ing", "##ed")).toSeq
        val baseDocs = 5000L
        Seq(1, 3, 10).foreach { m =>
          val dir = s"/tmp/graft-scale/m$m"
          synthDocs(spark, baseDocs * m).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
          val docs = spark.read.parquet(s"$dir/documents.parquet")
          measured(spark, "tokingest_wordpiece", m)(
            graft.streaming.CorpusStream.tokenizeWordPiece(docs, wpv)
              .agg(sum(col("n_pieces"))).collect()
              .head.getLong(0))
        }
      case "cdc" =>
        // merge-on-read economics: O(batch) delta appends, read-view cost
        // as deltas accumulate (the read amplification compaction exists
        // to bound), and the post-compaction plain-scan read. 2M-row
        // base, 20 batches of 20k changes (10% deletes, ~9% inserts).
        import org.apache.hadoop.fs.Path
        import operators.CdcMerge
        val base = "/tmp/graft-scale/cdc"
        val fsys = new Path(base).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        fsys.delete(new Path(base), true)
        val nBase = 2000000L
        val payload = Seq("k", "name", "v")
        CdcMerge.writeBase(
          spark.range(0, nBase).select(col("id").as("k"),
            concat(lit("n"), col("id")).as("name"),
            (col("id") % 1000).cast("double").as("v")), base)
        val bRows = 20000L
        (1 to 20).foreach { b =>
          val ch = spark.range(0, bRows).select(
            pmod(xxhash64(col("id"), lit(b)), lit(nBase * 11 / 10)).as("k"),
            concat(lit("u"), col("id")).as("name"),
            col("id").cast("double").as("v"),
            (lit(b.toLong) * bRows + col("id")).as("seq"),
            when(pmod(xxhash64(col("id"), lit(b), lit(2L)), lit(10)) === 0,
              lit("D")).otherwise(lit("U")).as("op"))
          val t0 = System.nanoTime()
          CdcMerge.appendDelta(ch, base, b.toLong)
          if (b == 1)
            println(s"""{"bench":"cdc","op":"append","batch":$b,""" +
              s""""wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
          if (Seq(1, 5, 10, 20).contains(b))
            measured(spark, s"mor_read_b$b", b)(
              CdcMerge.readView(spark, base, "k", "seq", "op", payload)
                .count())
        }
        val tc = System.nanoTime()
        CdcMerge.compact(spark, base, "k", "seq", "op", payload)
        println(s"""{"bench":"cdc","op":"compact",""" +
          s""""wall_sec":${(System.nanoTime() - tc) / 1e9}}""")
        measured(spark, "mor_read_compacted", 20)(
          CdcMerge.readView(spark, base, "k", "seq", "op", payload).count())
      case "ivm" =>
        // join-view IVM economics (q264's claim, MEASURED): a stored
        // join+rollup view refreshed by delta algebra vs rebuilt from
        // scratch, at 1×/3×/10× the base size with a FIXED-size change
        // batch (the production regime: batches don't grow with the
        // base). The orders lake is custkey-range-sorted and the touched
        // cohort is key-range-bounded (the "recent keys" shape), so the
        // incremental probe pushes the cohort's bounds into the fact
        // scan and row-group min/max stats skip everything else — the
        // layout lever that makes the probe genuinely delta-sized
        // (hash-spread cohorts take the q270 bloom complement instead,
        // measured in BloomLakeSpec). Expect: full rebuild ~linear in
        // base, incremental ~flat.
        import org.apache.hadoop.fs.Path
        val root = "/tmp/graft-scale/ivm"
        val fsys = new Path(root).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        for (mult <- Seq(1, 3, 10)) {
          val nC = 200000L * mult
          val nO = 2000000L * mult
          val dir = s"$root/m$mult"
          fsys.delete(new Path(dir), true)
          spark.range(nC).select(col("id").as("c_custkey"),
              concat(lit("SEG"), (col("id") % 7).cast("string")).as("seg"))
            .write.parquet(s"$dir/customer")
          // random (incompressible) cents so the fact side carries the
          // realistic I/O weight — a near-constant column dictionary-
          // compresses to nothing and hides the scan economics
          spark.range(nO).select(
              pmod(xxhash64(col("id")), lit(nC)).as("c_custkey"),
              (pmod(xxhash64(col("id"), lit(7L)), lit(90000L)) + 100L)
                .as("cents"))
            .repartitionByRange(16 * mult, col("c_custkey"))
            .sortWithinPartitions("c_custkey")
            .write.parquet(s"$dir/orders")
          def C = spark.read.parquet(s"$dir/customer")
          def O = spark.read.parquet(s"$dir/orders")
          // initial materialization = one full build, the cost every
          // refresh AVOIDS paying again
          val tb = System.nanoTime()
          C.join(O, "c_custkey").groupBy("seg")
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
            .write.mode("overwrite").parquet(s"$dir/view")
          println(s"""{"bench":"ivm","op":"build_view","mult":$mult,""" +
            s""""wall_sec":${(System.nanoTime() - tb) / 1e9}}""")
          // FIXED delta at every mult: the top-1%-of-keyspace cohort
          // moves segment (retract+add), plus a 20k-row arrival file
          val lo = nC - 200000L / 100 // constant 2k-key cohort
          spark.range(20000).select(
              (lit(lo) + pmod(xxhash64(col("id")), lit(nC - lo)))
                .as("c_custkey"),
              lit(50000L).as("cents"))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/delta_orders")
          def dO = spark.read.parquet(s"$dir/delta_orders")
          def fullRebuild: Long = {
            val merged = C.withColumn("seg",
              when(col("c_custkey") >= lo, lit("SEGX"))
                .otherwise(col("seg")))
            merged.join(O.unionAll(dO), "c_custkey")
              .groupBy("seg")
              .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
              .count()
          }
          def incremental: Long = {
            // ΔC: the cohort's pre-images at −1 and post-images at +1;
            // its key BOUNDS are pushed into the fact scan (row-group
            // skipping on the sorted lake), the exact set refines in the
            // map-side join
            val dC = C.filter(col("c_custkey") >= lo)
              .select(col("c_custkey"), col("seg"), lit(-1L).as("sgn"))
              .unionAll(C.filter(col("c_custkey") >= lo)
                .select(col("c_custkey"), lit("SEGX").as("seg"),
                  lit(1L).as("sgn")))
            val oPruned = O.filter(col("c_custkey") >= lo).unionAll(dO)
            val branchA = dC.join(oPruned, Seq("c_custkey"))
              .select(col("seg"), col("sgn").as("dn"),
                (col("sgn") * col("cents")).as("ds"))
            val branchB = C.join(dO, Seq("c_custkey"))
              .select(col("seg"), lit(1L).as("dn"), col("cents").as("ds"))
            spark.read.parquet(s"$dir/view")
              .select(col("seg"), col("n").as("dn"), col("s").as("ds"))
              .unionAll(branchA).unionAll(branchB)
              .groupBy("seg")
              .agg(sum(col("dn")).as("n"), sum(col("ds")).as("s"))
              .count()
          }
          measured(spark, "ivm_full_rebuild", mult)(fullRebuild)
          measured(spark, "ivm_incremental", mult)(incremental)
          // the probe-side pruning, stated in FILES (footer min/max — the
          // exact statistics the pushed cohort bounds prune with): the
          // sorted-lake lever that keeps the incremental fact probe
          // delta-sized while the rebuild reads everything
          val ranges = operators.LakeDeletes.fileRanges(
            spark, s"$dir/orders", "c_custkey")
          val probeFiles = ranges.count { case (_, _, hi, _) => hi >= lo }
          println(s"""{"bench":"ivm","op":"probe_files","mult":$mult,""" +
            s""""files_probe":$probeFiles,"files_full":${ranges.size}}""")
        }
      case "blocklist" =>
        // Aho–Corasick one-pass scan vs the P-column contains-sum: corpus
        // scaling at fixed P = 200 (both linear in text), then the P sweep
        // at a fixed 3× corpus — the axis where contains-sum pays P
        // rescans per row and the automaton stays one pass (mult = P
        // in the psweep rows).
        def acPats(p: Int): Seq[String] = (0 until p).map(k => s"t$k ")
        def acCount(docs: DataFrame, pats: Seq[String]): Long = {
          // ac_distinct_hits = per-doc #patterns present — the exact
          // semantics of the contains-sum competitor (row counts match)
          val arr = array(pats.map(lit): _*)
          docs.select(call_function("ac_distinct_hits", col("text"), arr)
            .as("h")).agg(sum("h")).collect().head.getLong(0)
        }
        def containsCount(docs: DataFrame, pats: Seq[String]): Long = {
          val hits = pats.map(p =>
            when(col("text").contains(p), 1L).otherwise(0L))
            .reduce(_ + _)
          docs.select(hits.as("h")).agg(sum("h")).collect().head.getLong(0)
        }
        val baseDocs = 20000L
        Seq(1, 3, 10).foreach { m =>
          val docs = synthDocs(spark, baseDocs * m)
          docs.persist(); docs.count()
          measured(spark, "blocklist_ac_p200", m)(
            acCount(docs, acPats(200)))
          measured(spark, "blocklist_contains_p200", m)(
            containsCount(docs, acPats(200)))
          docs.unpersist()
        }
        val sweepDocs = synthDocs(spark, baseDocs * 3)
        sweepDocs.persist(); sweepDocs.count()
        Seq(10, 50, 200, 800).foreach { p =>
          measured(spark, "blocklist_ac_psweep", p)(
            acCount(sweepDocs, acPats(p)))
          measured(spark, "blocklist_contains_psweep", p)(
            containsCount(sweepDocs, acPats(p)))
        }
        sweepDocs.unpersist()
      case "linkage" =>
        // q175's block-size honesty, measured: candidate volume under the
        // LOW-cardinality demographic blocking (nation × segment/band)
        // grows ~quadratically with the table, because block SIZE grows
        // linearly while the block count is domain-bounded; adding the
        // HIGH-cardinality code-prefix pass (code div 100 — cardinality
        // ∝ table) keeps per-block membership ~constant and the pair
        // stage ~linear. Same degradation model as q175.
        val baseC = 100000L
        Seq(1, 3, 10).foreach { m =>
          val n = baseC * m
          val base = spark.range(n).select(
            col("id").as("key"), (col("id") % 25).as("nation"),
            (col("id") % 5).cast("string").as("segment"),
            (pmod(xxhash64(col("id")), lit(1100000L)) - 100000L).as("bal"),
            col("id").as("code"))
          val a = base.withColumn("band", expr("(bal + 100000) div 200000"))
          val b = base.filter(col("key") % 5 =!= 4).select(
            col("key").as("b_key"),
            when(col("key") % 11 === 0, (col("nation") + 1) % 25)
              .otherwise(col("nation")).as("b_nation"),
            when(col("key") % 7 === 0, concat(lit("X"), col("segment")))
              .otherwise(col("segment")).as("b_segment"),
            when(col("key") % 3 === 0, col("bal") + 1000)
              .otherwise(col("bal")).as("b_bal"),
            when(col("key") % 13 === 0, col("code") + 1)
              .otherwise(col("code")).as("b_code"))
            .withColumn("b_band", expr("(b_bal + 100000) div 200000"))
          a.persist(); b.persist(); a.count(); b.count()
          def score = when(col("code") === col("b_code"), 40).otherwise(0) +
            when(abs(col("bal") - col("b_bal")) <= 500, 25).otherwise(0) +
            when(col("nation") === col("b_nation"), 15).otherwise(0) +
            when(col("segment") === col("b_segment"), 10).otherwise(0)
          def matched(cand: DataFrame): Long =
            cand.withColumn("score", score).filter(col("score") >= 65)
              .count()
          if (m < 10) // demographic-only blocking: quadratic by design
            measured(spark, "linkage_demo_blocks", m)(matched(
              a.join(b, col("nation") === col("b_nation") &&
                  (col("segment") === col("b_segment") ||
                    col("band") === col("b_band")))
                .select("key", "b_key", "nation", "b_nation", "segment",
                  "b_segment", "bal", "b_bal", "code", "b_code").distinct()))
          // high-cardinality code-prefix blocking (code div 100, computed
          // from each side's OBSERVED code): ~100-code blocks of constant
          // expected size, block count ∝ table → the pair stage is
          // linear. A ≥65 match REQUIRES code agreement (40 pts is
          // mandatory), and agreeing codes share their prefix, so recall
          // over achievable matches is perfect — and it additionally
          // recovers wrong-nation entities the demographic passes
          // structurally cannot see (they block on nation).
          measured(spark, "linkage_prefix_blocks", m)(matched(
            a.withColumn("pfx", expr("code div 100")).join(
              b.withColumn("b_pfx", expr("b_code div 100")),
              col("pfx") === col("b_pfx"))
              .select("key", "b_key", "nation", "b_nation", "segment",
                "b_segment", "bal", "b_bal", "code", "b_code").distinct()))
          a.unpersist(); b.unpersist()
        }
      case "quantile" =>
        // q173's claim measured: exact percentiles from the value
        // histogram (shuffle ≈ the value domain) vs the q158-shape
        // row_number sort (shuffle ≈ every row), at 1×/3×/10×.
        import org.apache.spark.sql.expressions.Window
        val baseN = 2000000L
        Seq(1, 3, 10).foreach { m =>
          val t = spark.range(baseN * m).select(
            (col("id") % 3).cast("string").as("grp"),
            (pmod(xxhash64(col("id")), lit(50)) + 1).as("v"))
          t.persist(); t.count()
          measured(spark, "quantile_hist", m) {
            val cum = t.groupBy("grp", "v").agg(count(lit(1)).as("c"))
              .withColumn("cum", sum("c").over(
                Window.partitionBy("grp").orderBy("v")))
              .withColumn("n", sum("c").over(Window.partitionBy("grp")))
            cum.groupBy("grp").agg(
                min(when(col("cum") >= expr("(n * 50 + 99) div 100"),
                  col("v"))).as("p50"),
                min(when(col("cum") >= expr("(n * 99 + 99) div 100"),
                  col("v"))).as("p99"))
              .count()
          }
          measured(spark, "quantile_sort", m) {
            val counts = t.groupBy("grp").agg(count(lit(1)).as("n"))
            val ranked = t.withColumn("rn", row_number().over(
              Window.partitionBy("grp").orderBy("v")).cast("long"))
            ranked.join(broadcast(counts), "grp")
              .filter(col("rn") === expr("(n * 50 + 99) div 100") ||
                col("rn") === expr("(n * 99 + 99) div 100"))
              .groupBy("grp")
              .agg(min(when(col("rn") === expr("(n * 50 + 99) div 100"),
                col("v"))).as("p50"),
                min(when(col("rn") === expr("(n * 99 + 99) div 100"),
                  col("v"))).as("p99"))
              .count()
          }
          t.unpersist()
        }
      case other => sys.error(s"unknown mode $other (docs|chains|select|leak|ann|bpe|unigram|dedupreport|vecstream|graph|interval|tokingest|cdc|ivm|blocklist|linkage|quantile)")
    }
    spark.stop()
  }
}
