package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Both exact τ-Jaccard join strategies must produce identical results. */
class SimilarityJoinSpec extends SparkSpec {

  /** One execution per side: every strategy outputs exactly
    * (a_id: Long, b_id: Long, value: Double), so collecting each side ONCE
    * and comparing sorted sequences is multiset equality — strictly
    * stronger than the old `count() + except() + except()` pattern (set
    * equality + cardinality), which re-executed BOTH pair pipelines three
    * times each and owned 831 s of the 2704 s r20 suite wall. */
  private def pairRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  private def assertSamePairs(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, hint: String = ""): Unit = {
    val (pa, pb) = (pairRows(a), pairRows(b))
    assert(pa == pb, s"$hint: missing=${(pa.toSet -- pb.toSet).take(3)} " +
      s"extra=${(pb.toSet -- pa.toSet).take(3)} (na=${pa.size}, nb=${pb.size})")
  }

  test("postings-count and prefix-filter strategies agree (τ=0.8, sf0.001)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    assertSamePairs(SimilarityJoin.postingsCount(docs, 0.8),
      SimilarityJoin.prefixFilter(docs, 0.8))
  }

  test("jaccardBlocked (hashed merge kernel) ≡ postingsCount (τ=0.8 and 0.5)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    Seq(0.8, 0.5).foreach { tau =>
      val a = pairRows(SimilarityJoin.postingsCount(docs, tau))
      Seq(
        "blocked" -> SimilarityJoin.jaccardBlocked(docs, tau),
        "tiled" -> SimilarityJoin.jaccardBlockedTiled(docs, tau, 4),
        "adaptive" -> SimilarityJoin.jaccardAdaptive(docs, tau)
      ).foreach { case (name, b) =>
        assert(a == pairRows(b), s"tau=$tau $name")
      }
    }
    // adaptive escalates on a giant block, identically to blocked
    import spark.implicits._
    val big = (1 to 200).map(i =>
      (i.toLong, "blk", (1 to 8).map(j => s"t${(i + j) % 60}").distinct))
      .toDF("id", "block", "w")
    val dfT = SimilarityJoin.jaccardAdaptive(big, 0.5, maxPairsPerTask = 1000L)
    dfT.collect()
    assert(dfT.queryExecution.optimizedPlan.toString.contains("sj_pairs_jtiled"),
      "a giant block must escalate the Jaccard join to tiling")
    val refB = SimilarityJoin.jaccardBlocked(big, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotT = dfT.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotT == refB)
  }

  test("prefix-filter is complete at a lower threshold too (τ=0.5)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    assertSamePairs(SimilarityJoin.postingsCount(docs, 0.5),
      SimilarityJoin.prefixFilter(docs, 0.5))
  }

  test("overlap: postings and blocked strategies agree (τ=0.95, sf0.001)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    val a = pairRows(SimilarityJoin.overlapPostings(docs, 0.95))
    assert(a.nonEmpty)
    assert(a == pairRows(SimilarityJoin.overlapBlocked(docs, 0.95)))
  }

  test("overlap: triangular tiling is row-identical to blocked, each pair exactly once") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    val base = pairRows(SimilarityJoin.overlapBlocked(docs, 0.95))
    Seq(1, 3, 8).foreach { chunks =>
      // exactly once: sequence equality covers both count (duplicated
      // pairs would inflate it) and content
      assert(pairRows(SimilarityJoin.overlapBlockedTiled(docs, 0.95, chunks))
        == base, s"chunks=$chunks")
    }
  }

  test("all overlap strategies match an independent brute-force reference (seeded)") {
    import spark.implicits._
    val vocab = (1 to 12).map(i => s"t$i").toVector
    (1 to 2).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 40L).map { id =>
        val n = 2 + rnd.nextInt(8)
        (id, s"blk${id % 3}",
          Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).distinct)
      }
      // independent reference: exact overlap coefficient per in-block pair
      val want = (for {
        (a, ab, aw) <- docs; (b, bb, bw) <- docs
        if ab == bb && a < b
        inter = aw.toSet.intersect(bw.toSet).size
        ov = inter.toDouble / math.min(aw.size, bw.size)
        if ov >= 0.75
      } yield (a, b, ov)).toSet
      val df = docs.toDF("id", "block", "w")
      Seq(
        "postings" -> SimilarityJoin.overlapPostings(df, 0.75),
        "blocked" -> SimilarityJoin.overlapBlocked(df, 0.75),
        "tiled" -> SimilarityJoin.overlapBlockedTiled(df, 0.75, 4)
      ).foreach { case (name, out) =>
        val got = out.collect().map(r => (r.getAs[Long]("a_id"),
          r.getAs[Long]("b_id"), r.getAs[Double]("overlap"))).toSet
        assert(got == want,
          s"seed=$seed $name: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      }
    }
  }

  test("overlapAdaptive picks blocked for small blocks, tiled for a giant block, identical rows") {
    import spark.implicits._
    def docs(perBlock: Int, blocks: Int) =
      (1 to blocks).flatMap(b => (1 to perBlock).map(i =>
        (b * 100000L + i, s"blk$b",
          (1 to 8).map(j => s"t${(i + j) % (perBlock / 2 + 2)}").distinct)))
        .toDF("id", "block", "w")
    // small blocks → blocked (observe metric name in the plan)
    val small = docs(20, 3)
    val dfB = SimilarityJoin.overlapAdaptive(small, 0.5, maxPairsPerTask = 1000L)
    dfB.collect()
    assert(dfB.queryExecution.optimizedPlan.toString.contains("sj_pairs_blocked"),
      "small blocks must keep the blocked plan")
    // one giant block past the target → tiled
    val big = docs(200, 1) // C(200,2) = 19900 pairs > 1000
    val dfT = SimilarityJoin.overlapAdaptive(big, 0.5, maxPairsPerTask = 1000L)
    dfT.collect()
    assert(dfT.queryExecution.optimizedPlan.toString.contains("sj_pairs_tiled"),
      "a giant block must escalate to tiling")
    // and the verdicts agree with the plain strategies either way
    val refB = SimilarityJoin.overlapBlocked(small, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotB = dfB.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotB == refB)
    val refT = SimilarityJoin.overlapBlocked(big, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotT = dfT.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotT == refT)
  }

  test("overlapAdaptive on an empty corpus returns empty (max over zero groups is NULL)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Seq[String])].toDF("id", "block", "w")
    assert(SimilarityJoin.overlapAdaptive(empty, 0.5).count() == 0L)
  }

  test("staged (dup-collapsed) postings join is row-identical to naive (τ=0.8)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    assertSamePairs(SimilarityJoin.postingsCount(docs, 0.8),
      SimilarityJoin.stagedPostingsCount(docs, 0.8))
  }

  test("staged × prefix-filter composition is row-identical to naive (τ=0.8)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    assertSamePairs(SimilarityJoin.postingsCount(docs, 0.8),
      SimilarityJoin.stagedPrefixFilter(docs, 0.8))
  }

  test("staged join handles null/empty sets and space-bearing elements exactly") {
    import spark.implicits._
    // doc 4/5: shingle-style elements where a space joiner would collide
    // ({"a b","c"} vs {"a","b c"}); docs 6/7: null/empty sets must stay
    // pairless exactly like the naive postings join treats them
    val docs = Seq(
      (1L, "s", Seq("x", "y", "z")),
      (2L, "s", Seq("x", "y", "z")),       // exact dup of 1 → clique pair
      (3L, "s", Seq("x", "y", "w")),       // near 1/2 at τ=0.5 → cross pairs
      (4L, "s", Seq("a b", "c")),
      (5L, "s", Seq("a", "b c")),
      (7L, "s", Seq.empty[String]))
      .toDF("id", "block", "w")
      .union(Seq((6L, "s")).toDF("id", "block")
        .withColumn("w", lit(null).cast("array<string>")))
    val naive = SimilarityJoin.postingsCount(docs, 0.5).collect().toSet
    val staged = SimilarityJoin.stagedPostingsCount(docs, 0.5)
      .collect().toSet
    assert(staged == naive)
    // the edge handling lives in the staging, not the inner strategy — the
    // prefix-filter composition must pass the same corpus
    assert(SimilarityJoin.stagedPrefixFilter(docs, 0.5)
      .collect().toSet == naive)
    // the clique pair surfaces with jaccard exactly 1.0
    assert(staged.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getDouble(2) == 1.0))
    // 4/5 share NO element — a space-joined fingerprint would wrongly merge
    assert(!staged.exists(r => r.getLong(0) == 4L && r.getLong(1) == 5L))
    // null/empty-set docs never appear
    assert(!staged.exists(r => Set(r.getLong(0), r.getLong(1)).exists(Set(6L, 7L))))
  }

  test("jaccardBipartite(A,B) ≡ the cross-side pairs of the self-join over A∪B") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("source").as("block"),
        TextFunctions.tokenSet(col("text")).as("w"))
    // hash-split the corpus into two disjoint-id sides
    val sideA = docs.filter(pmod(xxhash64(col("id")), lit(3)) === 0)
    val sideB = docs.filter(pmod(xxhash64(col("id")), lit(3)) =!= 0)
    Seq(0.8, 0.5).foreach { tau =>
      val got = SimilarityJoin.jaccardBipartite(sideA, sideB, tau)
        .select(least(col("a_id"), col("b_id")).as("x"),
          greatest(col("a_id"), col("b_id")).as("y"), col("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val aIds = sideA.select("id").collect().map(_.getLong(0)).toSet
      val want = SimilarityJoin.jaccardBlocked(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        // keep exactly the pairs with one endpoint on each side
        .filter(p => aIds.contains(p._1) != aIds.contains(p._2)).toSet
      assert(got == want, s"tau=$tau: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    }
  }
}
