package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

/** Pins the ANN-backed embedding-dedup variant (q70 / annCosinePairs)
  * against the exact per-label pair join (q69's pair stage):
  *  - precision is exactly 1 (the re-rank is exact cosine, so ANN pairs are
  *    a subset of exact pairs);
  *  - recall at the default multi-probe radius is bounded below;
  *  - at full radius (6 = every bucket probed) the variant degenerates to
  *    the exact result — the approximation is ONLY the probe radius;
  *  - candidate volume is observable and far below the per-label quadratic.
  *
  * It also pins the grouped-vs-direct collapse paths of the vector
  * queries that share q69's exact-embedding grouping (q157 kNN graph,
  * q186 triplet mining, q69 itself): on replicated fixtures the grouped
  * path must equal the direct one row for row.
  */
class AnnCosineDedupSpec extends SparkSpec {

  private def exactPairs = {
    val e = Tables.embeddings(spark, sfDir)
    val a = e.select(col("vec_id").as("a_id"), col("label"),
      col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("embedding").as("b_emb"))
    a.join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
      .filter(cosineNative(col("a_emb"), col("b_emb")) >= 0.35)
      .select(col("a_id").as("a"), col("b_id").as("b"))
  }

  test("ANN pairs are a subset of exact pairs with bounded recall; full radius is exact") {
    val e = Tables.embeddings(spark, sfDir)
    val exact = exactPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must produce exact pairs")
    for (radius <- Seq(1, 2)) {
      val ann = VectorQueries.annCosinePairs(e, 0.35, radius)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = ann.size.toDouble / exact.size
      info(f"radius=$radius: ${ann.size}/${exact.size} pairs, recall $recall%.3f")
      assert(ann.subsetOf(exact), s"radius=$radius emitted a non-exact pair")
    }
    val annDefault = VectorQueries.annCosinePairs(e, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(annDefault.size.toDouble / exact.size >= 0.55,
      s"default-radius recall ${annDefault.size.toDouble / exact.size} below bound")
    val annFull = VectorQueries.annCosinePairs(e, 0.35, radius = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(annFull == exact,
      "full-radius multi-probe must equal the exact pair join")
  }

  test("high-cosine near-dup regime: multi-probe recall is near-total") {
    // The sf0.001 fixture's exact pairs all sit at cos 0.35-0.45 (weak
    // similarity, ~65° — a regime where a 6-bit signature legitimately
    // splits pairs across buckets; measured recall there is pinned above).
    // TRUE near-dup dedup operates at cos >= ~0.9, where hyperplane bits
    // agree with probability ~0.9 and Hamming<=2 probing recovers ~98% of
    // pairs — construct that corpus: perturbed copies at cos ~0.95.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def gauss(n: Int) = Array.fill(n)(rnd.nextGaussian().toFloat)
    val rows = for {
      base <- 0 until 40
      v = gauss(64)
      copy <- 0 until 3
    } yield {
      val emb = if (copy == 0) v
        else v.zip(gauss(64)).map { case (x, g) => x + 0.3f * g }
      (base.toLong * 3 + copy, s"l${base % 8}", emb)
    }
    val e = rows.toDF("vec_id", "label", "embedding")
    val a = e.select(col("vec_id").as("a_id"), col("label"),
      col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("embedding").as("b_emb"))
    val exact = a.join(b,
        col("label") === col("b_label") && col("a_id") < col("b_id"))
      .filter(cosineNative(col("a_emb"), col("b_emb")) >= 0.9)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 100, s"expected ~120 constructed pairs, got ${exact.size}")
    val ann = VectorQueries.annCosinePairs(e, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ann.size.toDouble / exact.size
    info(f"near-dup regime: ${ann.size}/${exact.size} pairs, recall $recall%.3f")
    assert(ann.subsetOf(exact))
    assert(recall >= 0.9, s"near-dup recall $recall below bound")
  }

  test("q70 resolves every vector and its clusters are unions of exact-pair clusters") {
    val q70 = graft.SparkEntry.queries("q70_dedup_embedding_ann")(spark, sfDir)
    val rows = q70.collect()
    assert(rows.length == Tables.embeddings(spark, sfDir).count())
    // ANN edges ⊆ exact edges ⇒ every ANN cluster sits inside one exact
    // cluster: group rows by ANN keeper, check each group maps into a
    // single exact-q69 keeper
    val exactKeeper = graft.SparkEntry.queries("q69_dedup_embedding_cosine")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getLong(1)).foreach { case (annKeeper, members) =>
      val exactKeepers = members.map(m => exactKeeper(m.getLong(0))).toSet
      assert(exactKeepers.size == 1,
        s"ANN cluster $annKeeper spans exact clusters $exactKeepers")
    }
  }

  test("q157: candidate collapse ≡ direct kNN graph on a 6x-replicated corpus") {
    // 6 replicas > keep-4: the collapse actually drops members, and every
    // top-3 list is IN-GROUP (exact twins at cos ~1) — the risk case
    val e0 = Tables.embeddings(spark, sfDir).limit(100)
    val e = (0 until 6).map { r =>
      e0.select((col("vec_id") + lit(r * 100000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
    val direct = VectorQueries.knnGraph(spark, e,
      collapseIdentical = false).collect().map(_.toSeq).toSeq
    val collapsed = VectorQueries.knnGraph(spark, e,
      collapseIdentical = true).collect().map(_.toSeq).toSeq
    assert(direct.nonEmpty)
    assert(direct == collapsed)
    // a replica with id ABOVE its group's 4 smallest still gets a full
    // list (it is a probe, not a candidate) of in-group smallest ids
    val bySrc = collapsed.groupBy(_.head.asInstanceOf[Long])
    val high = bySrc.keys.filter(_ >= 500000L)
    assert(high.nonEmpty && high.forall(u => bySrc(u).size == 3))
  }

  /** The mixed-replication fixture of the grouped-vs-direct collapse pins
    * (q157, q186, q69): the first 120 embeddings, plus 4 extra replicas
    * (ids + r·100000) of every id ≡ 0 mod 3 — groups of 5, deeper than
    * any keep-k, beside singleton groups in the same cells. */
  private def mixedReplicas(): org.apache.spark.sql.DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir).limit(120)
    val rep = (1 until 5).map { r =>
      e0.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + lit(r * 100000L)).as("vec_id"),
          col("embedding"), col("label"))
    }.reduce(_ unionByName _)
    e0.unionByName(rep)
  }

  test("q157: grouped probe+candidate collapse ≡ direct on a mixed-replication fixture") {
    // replicate only ids ≡ 0 mod 3 (5 replicas), keep the rest unique:
    // groups of size 5 (> keep-4) coexist with singleton groups in the
    // same cells, so top-3 lists mix in-group and cross-group neighbors
    val e = mixedReplicas()
    val direct = VectorQueries.knnGraph(spark, e,
      collapseIdentical = false).collect().map(_.toSeq).toSeq
    val grouped = VectorQueries.knnGraph(spark, e,
      collapseIdentical = true).collect().map(_.toSeq).toSeq
    assert(direct.nonEmpty)
    assert(direct == grouped,
      s"grouped collapse changed the graph\n first diffs: ${
        direct.zip(grouped).filter(p => p._1 != p._2).take(3)}")
    // fixture sanity: replicated members beyond their group's 4 smallest
    // still get full 3-entry lists (they are probes, never candidates)
    val bySrc = grouped.groupBy(_.head.asInstanceOf[Long])
    val high = bySrc.keys.filter(_ >= 400000L)
    assert(high.nonEmpty && high.forall(u => bySrc(u).size == 3))
    // and unique vectors (singleton groups) are present with lists too
    val uniq = bySrc.keys.filter(k => k < 100000L && k % 3 != 0)
    assert(uniq.nonEmpty)
  }

  test("q186: grouped anchor collapse ≡ direct triplet mining on a mixed-replication fixture") {
    // same fixture discipline as the q157 pin: 5× replicas for ids ≡ 0
    // mod 3 (anchor groups deeper than keep-2), singletons elsewhere —
    // exercises the positive's self-exclusion substitution, the
    // negative's inheritance, and anchors whose positive list empties
    val e = mixedReplicas()
      .filter(size(col("embedding")) === 64 &&
        !exists(col("embedding"), x => x.isNull))
    val asg = IvfStorage.assignCells(e, IvfStorage.labelCentroids(e))
      .select("vec_id", "label", "embedding", "cent_id")
    val direct = VectorQueries.tripletMine(asg, collapseCandidates = false)
      .collect().map(_.toSeq).toSeq
    val grouped = VectorQueries.tripletMine(asg, collapseCandidates = true)
      .collect().map(_.toSeq).toSeq
    assert(direct.nonEmpty && direct == grouped,
      s"grouped anchors changed the triplets\n first diffs: ${
        direct.zip(grouped).filter(p => p._1 != p._2).take(3)}")
    // replicated anchors beyond their group's keep-2 must still mine
    val ids = grouped.map(_.head.asInstanceOf[Long]).toSet
    assert(ids.exists(_ >= 400000L))
  }

  test("q69: star+rep-pair collapse ≡ direct cosine dedup, incl. the degenerate zero-vector edge") {
    val replicated = mixedReplicas()
    // two IDENTICAL zero vectors in one label: their cosines are NaN,
    // and Spark's NaN-is-greatest comparison makes NaN ≥ τ TRUE — the
    // direct join therefore connects them (to each other AND to every
    // label-mate), and the star filter uses the very same predicate on
    // the self-cosine, so the grouped path must agree exactly
    val zeros = spark.range(2).select(
      (col("id") + 900000L).as("vec_id"),
      expr("transform(sequence(1, 64), i -> CAST(0.0 AS FLOAT))")
        .as("embedding"),
      lit(1).cast(replicated.schema("label").dataType).as("label"))
    val e = replicated.unionByName(zeros)
    val direct = VectorQueries.cosineDedup(e, collapseIdentical = false)
      .collect().map(_.toSeq).toSeq
    val grouped = VectorQueries.cosineDedup(e, collapseIdentical = true)
      .collect().map(_.toSeq).toSeq
    assert(direct.nonEmpty && direct == grouped,
      s"collapse changed components\n first diffs: ${
        direct.zip(grouped).filter(p => p._1 != p._2).take(3)}")
    val byId = grouped.map(r =>
      r.head.asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    // NaN-as-greatest: the zero vectors join their label's component
    // (identically in both paths — the equality above is the real pin)
    assert(byId(900000L) == byId(900001L))
    // replicas collapse into their group's component
    assert(byId(400003L) == byId(3L))
  }
}
