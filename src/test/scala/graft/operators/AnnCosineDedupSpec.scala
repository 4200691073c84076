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
}
