package graft.functions

import graft.SparkSpec

/** Pins [[ExactSelect.medianByGroup]] — value-domain refinement — against a
  * driver sorted-reference k-th order statistic on adversarial fixtures:
  * odd/even group sizes, duplicates, negative values, single-row groups,
  * and a seeded randomized sweep; and the edges of
  * [[ExactSelect.valuesAtRanks]], the caller-seeded refinement walk. */
class ExactSelectSpec extends SparkSpec {
  import spark.implicits._

  private def reference(vs: Seq[Long]): (Long, Long, Long) = {
    val k = (vs.size + 1) / 2
    (vs.size.toLong, k.toLong, vs.sorted.apply(k - 1))
  }

  private def check(data: Map[String, Seq[Long]]): Unit = {
    val df = data.toSeq.flatMap { case (g, vs) => vs.map(v => (g, v)) }
      .toDF("grp", "v")
    val got = ExactSelect.medianByGroup(df, "grp", "v").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == data.keySet)
    data.foreach { case (g, vs) =>
      assert(got(g) == reference(vs), s"group $g: ${vs.sorted}")
    }
  }

  test("odd/even sizes, duplicates, negatives, singletons") {
    check(Map(
      "odd" -> Seq(5L, 1L, 9L, 3L, 7L),          // median 5
      "even" -> Seq(4L, 2L, 8L, 6L),             // lower median 4
      "dups" -> Seq(2L, 2L, 2L, 7L, 2L),         // median 2
      "neg" -> Seq(-10L, -3L, -7L, 0L, -1L, 4L), // lower median -3
      "one" -> Seq(42L),
      "two_same" -> Seq(0L, 0L)))
  }

  test("seeded randomized sweep across group shapes") {
    val rnd = new scala.util.Random(17)
    val data = (1 to 6).map { gi =>
      val n = 1 + rnd.nextInt(200)
      s"g$gi" -> Seq.fill(n)(rnd.nextInt(2000).toLong - 1000L)
    }.toMap
    check(data)
  }

  test("wide domain converges in few refinement rounds and stays exact") {
    val vs = Seq(Long.MinValue / 4, -1L, 0L, 1L, Long.MaxValue / 4, 17L, 23L)
    check(Map("wide" -> vs))
  }

  private def refRank(vs: Seq[Long], p: Int): (Long, Long, Long) = {
    val n = vs.size.toLong
    val k = (p.toLong * n + 99L) / 100L
    (n, k, vs.sorted.apply(k.toInt - 1))
  }

  private def checkRanks(data: Map[String, Seq[Long]],
      pcts: Seq[Int]): Unit = {
    val df = data.toSeq.flatMap { case (g, vs) => vs.map(v => (g, v)) }
      .toDF("grp", "v")
    val got = ExactSelect.ranksByGroup(df, "grp", "v", pcts).collect()
      .map(r => (r.getString(0), r.getInt(2)) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    val want = for (g <- data.keySet; p <- pcts.distinct) yield (g, p)
    assert(got.keySet == want)
    data.foreach { case (g, vs) =>
      pcts.distinct.foreach { p =>
        assert(got((g, p)) == refRank(vs, p),
          s"group $g p$p: ${vs.sorted}")
      }
    }
  }

  test("arbitrary percentiles: p1/p50/p95/p99/p100 across group shapes") {
    checkRanks(Map(
      "odd" -> Seq(5L, 1L, 9L, 3L, 7L),
      "even" -> Seq(4L, 2L, 8L, 6L),
      "dups" -> Seq(2L, 2L, 2L, 7L, 2L),
      "neg" -> Seq(-10L, -3L, -7L, 0L, -1L, 4L),
      "one" -> Seq(42L)),
      Seq(1, 50, 95, 99, 100))
  }

  test("randomized multi-percentile sweep matches sorted reference") {
    val rnd = new scala.util.Random(31)
    val data = (1 to 5).map { gi =>
      val n = 1 + rnd.nextInt(300)
      s"g$gi" -> Seq.fill(n)(rnd.nextInt(5000).toLong - 2500L)
    }.toMap
    val pcts = Seq(3, 25, 50, 75, 90, 97)
    checkRanks(data, pcts)
  }

  test("multi-percentile over a wide domain stays exact") {
    val vs = Seq(Long.MinValue / 4, -5L, -1L, 0L, 1L, 2L, 17L, 23L,
      Long.MaxValue / 8, Long.MaxValue / 4)
    checkRanks(Map("wide" -> vs), Seq(10, 50, 90))
  }

  test("duplicate percents collapse and medianByGroup delegates to p50") {
    val vs = Seq(9L, 7L, 5L, 3L, 1L)
    checkRanks(Map("g" -> vs), Seq(50, 50, 95))
    val med = ExactSelect.medianByGroup(
      vs.map(("g", _)).toDF("grp", "v"), "grp", "v").collect()
    assert(med.length == 1)
    val r = med.head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (("g", 5L, 3L, 5L)))
  }

  test("broadcast-probe path ≡ CASE path histograms; kicks in past CaseProbeMaxGroups; end-to-end exact") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(29)
    // many groups: past the CASE threshold, the walk itself must take the
    // broadcast-join path and stay exact against the sorted reference
    val data = (1 to ExactSelect.CaseProbeMaxGroups + 36).map { gi =>
      s"g$gi" -> Seq.fill(1 + rnd.nextInt(60))(rnd.nextInt(5000).toLong - 2500L)
    }.toMap
    val df = data.toSeq.flatMap { case (g, vs) => vs.map(v => (g, v)) }
      .toDF("grp", "v")
    val got = ExactSelect.ranksByGroup(df, "grp", "v", Seq(50, 95)).collect()
      .map(r => (r.getString(0), r.getInt(2)) -> r.getLong(4)).toMap
    data.foreach { case (g, vs) =>
      val sorted = vs.sorted
      for (p <- Seq(50, 95)) {
        val k = ((p.toLong * vs.size + 99L) / 100L).toInt
        assert(got((g, p)) == sorted(k - 1), s"($g, p$p)")
      }
    }
    // the two frame shapes produce IDENTICAL histograms on the same probes
    val base = df.select(col("grp"), col("v"))
    val byG: Map[Any, Seq[(Int, Long, Long, Long)]] = data.keys.map { g =>
      (g: Any) -> Seq((50, -2500L, 2500L, 20L), (95, -2500L, 2500L, 20L))
    }.toMap
    val caseFrame = ExactSelect.roundHistogramFrame(base, byG,
      maxCaseGroups = Int.MaxValue)
    val joinFrame = ExactSelect.roundHistogramFrame(base, byG,
      maxCaseGroups = 0)
    def rows(f: org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(rows(caseFrame) == rows(joinFrame))
    // join path plan: broadcast hash join, still no Sort/Window, and the
    // map-side combine survives the join
    val p = joinFrame.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Sort"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
  }

  test("round histogram plan: one explode into one grouped aggregation — no Sort, no Window, no join") {
    // the ENTIRE distributed cost of a refinement round (the q237 scale
    // claim): plan-pinned on the factored frame the walk collects
    import org.apache.spark.sql.functions.col
    val base = (1L to 1000L).map(v => ("g", v)).toDF("grp", "v")
      .select(col("grp"), col("v"))
    val byG: Map[Any, Seq[(Int, Long, Long, Long)]] =
      Map("g" -> Seq((50, 1L, 1000L, 4L), (95, 1L, 1000L, 4L)))
    val frame = ExactSelect.roundHistogramFrame(base, byG)
    frame.collect()
    val p = frame.queryExecution.executedPlan.toString
    assert(!p.contains("Sort"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate explode"), p)
    assert(p.contains("HashAggregate"), p)
    assert("partial_count".r.findAllIn(p).nonEmpty,
      s"map-side combine must be present:\n$p")
  }

  test("valuesAtRanks edges: duplicates, boundary ranks, interval-restricted probes, multi-group one walk") {
    // duplicates straddling bucket boundaries; explicit intervals that
    // EXCLUDE part of the group's values (the drill's normal case)
    val df = Seq(
      ("a", 5L), ("a", 5L), ("a", 5L), ("a", 7L), ("a", 1000000L),
      ("a", 1000000L), ("b", -20L), ("b", -20L), ("b", 0L), ("b", 3L)
    ).toDF("g", "v")
    val got = ExactSelect.valuesAtRanks(df, "g", "v", Seq(
      ("a", 0, 0L, 100L, 1L),          // k=1 in [0,100] -> 5
      ("a", 1, 0L, 100L, 4L),          // k=4 in [0,100] -> 7 (dups before)
      ("a", 2, 101L, 2000000L, 2L),    // k=2 in upper interval -> 1000000
      ("b", 0, -100L, 100L, 2L),       // negative lo: k=2 -> -20 (dup)
      ("b", 1, -100L, 100L, 4L)))      // k=n -> 3
    assert(got == Map(("a", 0) -> 5L, ("a", 1) -> 7L,
      ("a", 2) -> 1000000L, ("b", 0) -> -20L, ("b", 1) -> 3L), s"$got")
    // a rank past the interval's population fails loudly, not silently
    intercept[IllegalArgumentException] {
      ExactSelect.valuesAtRanks(df, "g", "v", Seq(("a", 0, 0L, 10L, 5L)))
    }
  }
}
