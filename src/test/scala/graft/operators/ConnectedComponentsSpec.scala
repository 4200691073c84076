package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.metrics.JobMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // driverMaxEdges = 0: these cases exercise the distributed rounds, which
  // run() would otherwise skip on graphs this small
  private def components(edges: (Long, Long)*): Map[Long, Long] =
    labels(ConnectedComponents.run(edges.toDF("a", "b"), driverMaxEdges = 0L))

  test("transitive chain collapses to one component; separate clusters stay apart") {
    val got = components((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("cycles converge (labels only decrease, fixpoint reached)") {
    val got = components((5L, 6L), (6L, 7L), (7L, 5L))
    assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("self-loops and duplicate/reversed edges are tolerated") {
    val got = components((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("a long path needs diameter rounds and still converges") {
    val path = (1L until 20L).map(i => (i, i + 1))
    val got = components(path: _*)
    assert(got.values.toSet == Set(1L))
    assert(got.size == 20)
  }

  private def starComponents(edges: (Long, Long)*): Map[Long, Long] =
    labels(ConnectedComponents.runStar(edges.toDF("a", "b")))

  test("large-star/small-star equals min-label propagation on random graphs") {
    // 4 seeds (was 8): each seed pays a full iterated-rounds distributed
    // run; four distinct random graphs keep the property coverage
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      val viaRounds = components(edges: _*)
      val viaStars = starComponents(edges: _*)
      val viaUnionFind = labels(ConnectedComponents.run(edges.toDF("a", "b")))
      assert(viaStars == viaRounds, s"seed $seed: $viaStars vs $viaRounds")
      assert(viaUnionFind == viaRounds, s"seed $seed: $viaUnionFind vs $viaRounds")
    }
  }

  test("run equals run(driverMaxEdges = 0) on both sides of the threshold") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
      val df = edges.toDF("a", "b")
      val rounds = components(edges: _*)
      // the default threshold resolves 40 edges with union-find; 10 is
      // below the edge count, so the probe finds too many rows and the
      // rounds run over the probe's persisted edges
      val viaDriver = labels(ConnectedComponents.run(df))
      val viaProbe = labels(ConnectedComponents.run(df, driverMaxEdges = 10L))
      assert(viaDriver == rounds, s"seed $seed union-find diverged")
      assert(viaProbe == rounds, s"seed $seed escalation diverged")
    }
    // self-loop-only input: no edge-touched nodes at all
    assert(ConnectedComponents.run(Seq((5L, 5L)).toDF("a", "b")).count() == 0)
    // ids keep their type on the driver path, as the rounds keep it
    val ints = Seq((3, 1), (1, 2)).toDF("a", "b")
    val viaDriver = ConnectedComponents.run(ints)
    assert(viaDriver.schema.map(_.dataType) ==
      ConnectedComponents.run(ints, driverMaxEdges = 0L).schema.map(_.dataType))
    assert(viaDriver.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1))
    // non-integer ids have no driver path: the rounds resolve them
    val named = ConnectedComponents.run(Seq(("b", "a"), ("c", "b")).toDF("a", "b"))
    assert(named.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("run's job count: one job on the driver, one upstream pass above the threshold") {
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet
    val metrics = JobMetrics.attach(sc)
    try {
      // a driver-sized graph from a one-partition source: the bounded
      // collect is the only job (no rounds, no count before the collect)
      val small = spark.range(0, 40, 1, 1)
        .select(col("id").as("a"), (col("id") % 7).as("b"))
      metrics.flush()
      metrics.clear()
      val resolved = ConnectedComponents.run(small)
      metrics.flush()
      assert(metrics.jobs.size == 1, metrics.jobs.map(_.description))
      val leaked = sc.getPersistentRDDs.keySet -- pinnedBefore
      assert(leaked.isEmpty, s"the driver path left cached RDDs: $leaked")
      assert(labels(resolved).values.toSet == (0L until 7L).toSet)
      // above the threshold: the rows the upstream map stage produces are
      // counted, so a probe that re-ran it would count them twice
      val upstreamRows = sc.longAccumulator("cc-upstream-rows")
      val tally = udf { (x: Long) => upstreamRows.add(1); x }
      val large = spark.range(0, 60, 1, 3)
        .select(tally(col("id")).as("id"))
        .repartition(3)
        .select(col("id").as("a"), (col("id") % 5).as("b"))
      val comp = labels(ConnectedComponents.run(large, driverMaxEdges = 10L))
      assert(comp.values.toSet == (0L until 5L).toSet)
      assert(upstreamRows.value == 60L, s"upstream map stage ran ${upstreamRows.value / 60.0}×")
    } finally metrics.detach()
  }

  test("large-star/small-star collapses a long path in few rounds") {
    // a 200-node path has diameter 199 — min-label propagation would need
    // 199 rounds (and default maxIter throws); the star algorithm's round
    // count is logarithmic, so it converges comfortably within maxIter
    val path = (1L until 200L).map(i => (i, i + 1))
    val got = starComponents(path: _*)
    assert(got.size == 200)
    assert(got.values.toSet == Set(1L))
  }

  test("q66's staged collapse keeps NULL-text docs as singletons (naive-join parity)") {
    // fingerprint(NULL) would be the md5('') constant — without the per-doc
    // null group key, all null-text docs would falsely cluster together,
    // diverging from the naive pair join (no posting rows) and the oracle
    val dir = tmpDir("q66-null")
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, None), (2L, None), (3L, Some(same)), (4L, Some(same)))
      .map { case (id, t) => (id, t.orNull, "en", "webA", 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q66_dedup_components")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L), s"got $got")
  }

  test("both algorithms return empty on an empty edge set") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.run(empty).count() == 0)
    assert(ConnectedComponents.runStar(empty).count() == 0)
    // self-loops only = no real edges
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("a", "b")
    assert(ConnectedComponents.run(loops).count() == 0)
    assert(ConnectedComponents.runStar(loops).count() == 0)
  }

  test("exhausting maxIter before the fixpoint throws instead of returning wrong labels") {
    import spark.implicits._
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      ConnectedComponents.run(path, maxIter = 5, driverMaxEdges = 0L).collect())
    assert(e.getMessage.contains("did not converge"))
  }

  test("reliable-checkpoint mode produces the same labels and writes durable snapshots") {
    import spark.implicits._
    // a path forces several propagation rounds, so multiple checkpoint
    // windows (everyRounds=2) are exercised, plus the seed checkpoint
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val ckpt = tmpDir("cc-reliable")
    val mode = ConnectedComponents.ReliableCheckpoints(ckpt, everyRounds = 2)
    val viaLocal = ConnectedComponents.run(path, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reliable mode must release every per-round persist before returning
    // (seal contract) — a long-lived cluster session pins nothing per run()
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val viaReliable = ConnectedComponents.run(path, mode = mode, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaReliable == viaLocal)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"reliable run() leaked cached RDDs: $leaked")
    // the durable snapshots must actually exist on the checkpoint store
    def files(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        if (c.isDirectory) files(c) else Seq(c))
    assert(files(new java.io.File(ckpt)).nonEmpty,
      "reliable mode must write checkpoint files")
    // runStar honors the same contract
    val starReliable = ConnectedComponents.runStar(path, mode = mode)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starReliable == viaLocal)
  }

  test("star-reduced oversized LSH buckets come back as ONE whole cluster") {
    // the ADVICE r3 story end-to-end: a >cap duplicate cluster is
    // star-reduced by q41 (O(b) representative pairs), and connected
    // components recovers the full cluster from the star
    val dir = tmpDir("cc-degen")
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    (1L to 200L).map(i => (i, same, "en", "webA", same.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.conf.set("spark.graft.dedup.maxBucket", "50")
    try {
      val pairs = SparkEntry.queries("q41_dedup_minhash_lsh")(spark, dir)
        .select(col("a_id").as("a"), col("b_id").as("b"))
      val comp = ConnectedComponents.run(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp.size == 200)
      assert(comp.values.toSet == Set(1L), "all 200 docs must share one component")
    } finally {
      spark.conf.unset("spark.graft.dedup.maxBucket")
      // CC consumed q41's pairs via localCheckpoint (an RDD materialization
      // that never fires QueryExecutionListener), so q41's docs cache was
      // never auto-released — drop it so later suites see a clean manager
      spark.sharedState.cacheManager.clearCache()
    }
  }
}
