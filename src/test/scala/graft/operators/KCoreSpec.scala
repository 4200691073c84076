package graft.operators

import graft.SparkSpec

/** [[KCore]] (q213): synchronous peel semantics against a brute-force
  * reference, bit-equality of the collected and distributed paths, the
  * start-of-round degree contract, convergence/early-exit behavior, and
  * cache hygiene of the distributed loop.
  */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def edgesDf(pairs: Seq[(Long, Long)]) = {
    val canon = pairs.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter(p => p._1 != p._2).distinct
    canon.toDF("a", "b")
  }

  /** Brute-force synchronous peel over an in-memory adjacency map —
    * written independently of KCore.runCollected (sets + rebuild, no
    * decrement bookkeeping). */
  private def reference(pairs: Seq[(Long, Long)], k: Int, rounds: Int)
      : Map[Long, (Int, Long)] = {
    val canon = pairs.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter(p => p._1 != p._2).distinct
    var live = canon.toSet
    var alive = canon.flatMap(p => Seq(p._1, p._2)).toSet
    val out = scala.collection.mutable.Map.empty[Long, (Int, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val deg = alive.map(n =>
        n -> live.count(e => e._1 == n || e._2 == n).toLong).toMap
      val peel = alive.filter(n => deg(n) < k)
      if (peel.isEmpty) done = true
      else {
        peel.foreach(n => out(n) = (r, deg(n)))
        alive = alive -- peel
        live = live.filter(e => alive(e._1) && alive(e._2))
      }
      r += 1
    }
    alive.foreach { n =>
      out(n) = (0, live.count(e => e._1 == n || e._2 == n).toLong)
    }
    out.toMap
  }

  private def collectRun(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Int, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap

  test("randomized graphs: both paths ≡ brute-force reference") {
    val rnd = new scala.util.Random(213)
    for (trial <- 1 to 4) {
      val n = 12 + trial * 6
      val pairs = (1 to n * 3).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val k = 2 + trial % 3
      val ref = reference(pairs, k, 10)
      val collected = collectRun(KCore.run(edgesDf(pairs), k, 10))
      val distributed = collectRun(
        KCore.run(edgesDf(pairs), k, 10, driverMaxEdges = 0L))
      assert(collected == ref, s"collected path trial $trial k=$k")
      assert(distributed == ref, s"distributed path trial $trial k=$k")
    }
  }

  test("peel cascade: chain peels outside-in, start-of-round degrees") {
    // path 1-2-3-4-5 with k=2: both endpoints (deg 1) peel in round 1,
    // exposing 2 and 4 (deg drops 2→1) in round 2, then 3 in round 3
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = collectRun(KCore.run(edgesDf(pairs), 2, 10))
    assert(got(1L) == (1, 1L) && got(5L) == (1, 1L))
    assert(got(2L) == (2, 1L) && got(4L) == (2, 1L),
      "inner nodes see START-of-round degree 1 after the endpoints left")
    assert(got(3L) == (3, 0L), "the center loses both edges before its turn")
  }

  test("survivors: a clique core survives with its core degree") {
    // K4 plus a pendant chain: the clique is the 3-core, everything
    // else peels
    val clique = for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)
    val pairs = clique ++ Seq((4L, 10L), (10L, 11L))
    for (dme <- Seq(2000000L, 0L)) {
      val got = collectRun(KCore.run(edgesDf(pairs), 3, 10, dme))
      (1L to 4L).foreach(n => assert(got(n) == (0, 3L), s"clique node $n"))
      assert(got(11L)._1 == 1 && got(10L)._1 >= 1,
        "the pendant chain peels")
    }
  }

  test("whole-graph collapse and empty-round convergence terminate") {
    // 6-cycle with k=3: every node has deg 2 < 3 → all peel in round 1
    val cyc = (0L to 5L).map(i => (i, (i + 1) % 6))
    val got = collectRun(KCore.run(edgesDf(cyc), 3, 10, driverMaxEdges = 0L))
    assert(got.size == 6 && got.values.forall(_ == (1, 2L)))
    // k=2: the cycle IS its own 2-core — round 1 peels nothing
    val core = collectRun(KCore.run(edgesDf(cyc), 2, 10, driverMaxEdges = 0L))
    assert(core.values.forall(_ == (0, 2L)))
  }

  test("distributed loop leaves no pinned cache behind") {
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 120).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val df = KCore.run(edgesDf(pairs), 3, 10, driverMaxEdges = 0L)
    df.count() // the consuming action releases every run-scoped cache
    // releases fire on the async listener bus — drain it
    drainListenerBus()
    // the check is GLOBAL (shared session): name the pinned RDDs so a
    // foreign suite's leak is attributable, not just detected
    val pinned = spark.sparkContext.getPersistentRDDs.values
      .map(r => s"rdd_${r.id}: ${r.name}").mkString("; ")
    assert(spark.sharedState.cacheManager.isEmpty,
      s"KCore.run(distributed) must release all per-round caches " +
        s"(still pinned: $pinned)")
  }
}
