package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[KmvSketch]] + [[MergeableHistogram]] (q127/q128): the merge theorems
  * on randomized splits, estimate quality, exact-below-k behavior, the
  * WindowGroupLimit plan shape, and the Datasketches HLL production
  * alternative (engine-only).
  */
class MergeableSketchSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(421107)

  test("KMV merge theorem: partial-per-partition → merge == direct, any split") {
    // 3 groups × ~400 keys with heavy cross-partition duplication
    val rows = (1 to 2000).map { _ =>
      val g = s"g${rnd.nextInt(3)}"
      val key = rnd.nextInt(400).toString
      val part = rnd.nextInt(7) // arbitrary ingest partition
      (g, part, key)
    }
    val df = rows.toDF("g", "part", "key")
      .withColumn("h", call_function("md5_prefix32", col("key")))
    for (k <- Seq(8, 64)) {
      val direct = KmvSketch.partial(df, Seq("g"), "h", k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val partials = KmvSketch.partial(df, Seq("g", "part"), "h", k)
      val merged = KmvSketch.partial(partials.select("g", "h"), Seq("g"), "h", k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(merged == direct, s"merge lost information at k=$k")
    }
  }

  test("KMV estimate: exact below k, within sampling error above k") {
    val df = (0 until 1000).map(i => ("g", i.toString)).toDF("g", "key")
      .withColumn("h", call_function("md5_prefix32", col("key")))
    // k > n: the sketch is the whole set → exact
    val exactStats = KmvSketch.stats(
      KmvSketch.partial(df, Seq("g"), "h", 2048), Seq("g"), "h", 2048)
      .collect().head
    assert(exactStats.getAs[Long]("n_hashes") == 1000L)
    assert(exactStats.getAs[Double]("est_distinct") == 1000.0)
    // k = 64: standard error is 1/√(k−2) ≈ 13%; allow 4σ
    val est = KmvSketch.stats(
      KmvSketch.partial(df, Seq("g"), "h", 64), Seq("g"), "h", 64)
      .collect().head.getAs[Double]("est_distinct")
    assert(math.abs(est - 1000.0) / 1000.0 < 0.52, s"estimate $est too far")
  }

  test("KMV partial plan truncates ranks BEFORE the final exchange (WindowGroupLimit)") {
    val df = (0 until 100).map(i => ("g", i.toString)).toDF("g", "key")
      .withColumn("h", call_function("md5_prefix32", col("key")))
    val plan = KmvSketch.partial(df, Seq("g"), "h", 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("histogram merge == direct on a randomized partition split") {
    val rows = (1 to 5000).map { _ =>
      (s"g${rnd.nextInt(3)}", rnd.nextInt(12), rnd.nextInt(200).toLong * 7L)
    }
    val df = rows.toDF("g", "mon", "v").withColumn("bin", expr("v div 100"))
    val direct = MergeableHistogram.partial(df, Seq("g"), "bin")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = MergeableHistogram.merge(
        MergeableHistogram.partial(df, Seq("g", "mon"), "bin"), Seq("g"), "bin")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct)
  }

  test("histogram percentiles: exact on bin boundaries, within a bin width off it") {
    // uniform 1..1000, width-10 bins → interpolation is exact for every p
    val df = (1L to 1000L).map(("g", _)).toDF("g", "v")
      .withColumn("bin", expr("v div 10"))
    val merged = MergeableHistogram.merge(
      MergeableHistogram.partial(df, Seq("g"), "bin"), Seq("g"), "bin")
    val out = MergeableHistogram.percentiles(merged, Seq("g"), "bin", 10L,
        Seq(50, 95, 99, 100))
      .collect().map(r => r.getAs[Int]("p") -> r.getAs[Double]("est_scaled")).toMap
    // value v sits in bin v div 10 at offset; uniform data → the
    // interpolated rank-r estimate is within one bin width of r
    for ((p, est) <- out) {
      val target = (p * 1000 + 99) / 100
      assert(math.abs(est - target) <= 10.0, s"p$p: est $est vs rank $target")
    }
    assert(out(100) >= 990.0) // top percentile lands in the last bin
  }

  test("histogram percentile targets: ceil semantics at partition edges") {
    // N=3 values 10,20,30 in width-10 bins: p50 → rank 2, p100 → rank 3
    val df = Seq(("g", 10L), ("g", 20L), ("g", 30L)).toDF("g", "v")
      .withColumn("bin", expr("v div 10"))
    val merged = MergeableHistogram.merge(
      MergeableHistogram.partial(df, Seq("g"), "bin"), Seq("g"), "bin")
    val out = MergeableHistogram.percentiles(merged, Seq("g"), "bin", 10L,
        Seq(50, 100))
      .collect().map(r => r.getAs[Int]("p") -> r.getAs[Long]("target")).toMap
    assert(out(50) == 2L && out(100) == 3L)
  }

  test("KMV setOps: exact below k, membership flags correct, estimates track truth") {
    // two groups with a known overlap: A = 0..599, B = 400..999 (200 shared)
    val rows = (0 until 600).map(i => ("A", i.toString)) ++
      (400 until 1000).map(i => ("B", i.toString))
    val df = rows.toDF("g", "key")
      .withColumn("h", call_function("md5_prefix32", col("key")))
    // k far above the union size: everything collapses to exact counts
    val bigK = 4096
    val exact = KmvSketch.setOps(
      KmvSketch.partial(df, Seq("g"), "h", bigK), "g", "h", bigK)
      .collect().head
    assert(exact.getAs[Long]("n_union_sk") == 1000L)
    assert(exact.getAs[Long]("n_common") == 200L)
    assert(exact.getAs[Double]("est_union") == 1000.0)
    assert(exact.getAs[Double]("est_inter") == 200.0)
    assert(exact.getAs[Double]("est_jaccard") == 0.2)
    // k = 128: estimates within 4σ sampling error of the truth
    val k = 128
    val est = KmvSketch.setOps(
      KmvSketch.partial(df, Seq("g"), "h", k), "g", "h", k)
      .collect().head
    assert(est.getAs[Long]("n_union_sk") == k.toLong)
    assert(math.abs(est.getAs[Double]("est_union") - 1000.0) / 1000.0 < 0.4)
    assert(math.abs(est.getAs[Double]("est_jaccard") - 0.2) < 0.2)
  }

  test("KMV setOps union sketch obeys the merge theorem (pair sketch == direct union sketch)") {
    val rows = (0 until 500).map(i => ("A", (i * 3).toString)) ++
      (0 until 500).map(i => ("B", (i * 5).toString))
    val df = rows.toDF("g", "key")
      .withColumn("h", call_function("md5_prefix32", col("key")))
    val k = 32
    val pair = KmvSketch.setOps(
      KmvSketch.partial(df, Seq("g"), "h", k), "g", "h", k)
      .collect().head
    // direct: sketch the raw union of both groups' keys
    val direct = KmvSketch.stats(
      KmvSketch.partial(df.withColumn("g", lit("u")), Seq("g"), "h", k),
      Seq("g"), "h", k).collect().head
    assert(pair.getAs[Long]("kth_hash") == direct.getAs[Long]("kth_hash"),
      "pairwise union sketch must equal the sketch of the raw union")
    assert(pair.getAs[Double]("est_union") ==
      direct.getAs[Double]("est_distinct"))
  }

  test("Datasketches HLL: hourly sketches union to the direct estimate (⚙ production path)") {
    val rows = (1 to 3000).map { _ =>
      (s"t${rnd.nextInt(2)}", rnd.nextInt(24), s"u${rnd.nextInt(500)}")
    }
    val df = rows.toDF("t", "hr", "u")
    val direct = df.groupBy("t")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("u"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaUnion = df.groupBy("t", "hr").agg(hll_sketch_agg(col("u")).as("sk"))
      .groupBy("t").agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // HLL unions of same-lgK sketches are lossless in the dense regime and
    // near-lossless in sparse; pin equality if it holds, else 2% agreement
    for ((t, d) <- direct) {
      val u = viaUnion(t)
      assert(math.abs(u - d).toDouble / math.max(d, 1L) < 0.02,
        s"$t: union est $u vs direct $d")
    }
  }

  test("CM merge theorem: partial-per-partition → merge == direct, any split") {
    val rows = (1 to 3000).map { _ =>
      (rnd.nextInt(7), s"k${rnd.nextInt(300)}")
    }
    val df = rows.toDF("part", "key")
    val direct = CmSketch.merge(
        CmSketch.partial(df, Seq.empty, "key", 4, 128))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = CmSketch.merge(
        CmSketch.partial(df, Seq("part"), "key", 4, 128))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct, "counter-addition merge lost information")
  }

  test("CM estimates: ≥ exact always, == exact when a row is collision-free; absent key → 0") {
    val keys = (0 until 200).map(i => s"k$i")
    val rows = keys.zipWithIndex.flatMap { case (k, i) => Seq.fill(i % 9 + 1)(k) }
    val df = rows.toDF("key")
    val exact = rows.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val merged = CmSketch.merge(CmSketch.partial(df, Seq.empty, "key", 4, 4096))
    val probe = (keys :+ "never-seen").toDF("key")
    val est = CmSketch.estimate(merged, probe, "key", 4, 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("never-seen") == 0L, "absent key must estimate 0")
    for (k <- keys) {
      assert(est(k) >= exact(k), s"$k: CM must never underestimate")
    }
    // at w=4096 with 200 keys, at least one of the 4 rows is collision-free
    // for the vast majority of keys — pin that the min recovers exact for
    // most (CM accuracy, not just the bound)
    val exactHits = keys.count(k => est(k) == exact(k))
    assert(exactHits >= 190, s"only $exactHits/200 keys exact at w=4096")
  }

  test("q241: sketch join-size estimate collapses to EXACT when the union fits in k") {
    val rows = graft.SparkEntry.queries("q241_join_size_estimate")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getAs[Long]("k_used")
      val est = r.getAs[Double]("est_join")
      val exact = r.getAs[Long]("exact_join")
      assert(exact > 0L, s"fixture pair ${r.getString(0)}/${r.getString(1)} joins empty")
      if (k < 64)
        // sample == key universe → the estimator IS the exact join size
        assert(est == exact.toDouble, s"sub-k pair must be exact: $r")
      else
        assert(math.abs(est - exact) / exact < 0.5,
          s"k=64 estimate off by ≥50%: $r")
    }
  }
}
