package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** The embedding-table audits (q199 per-label outliers, q200 vector/doc
  * integrity) recounted on the driver: outlier flags are exactly each
  * label's far tail, and the integrity counts equal direct anti/semi
  * joins. */
class EmbeddingAuditSpec extends SparkSpec {

  test("q199: exactly the bottom-3 per label flag, never above a keeper") {
    val rows = SparkEntry.queries("q199_embedding_outliers")(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Double]("cos"),
        r.getAs[Long]("cos_rank"), r.getAs[Boolean]("is_outlier")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (label, g) =>
      // ranks are a total dense 1..n per label
      assert(g.map(_._3).sorted.toSeq == (1L to g.length).toSeq,
        s"label $label ranks")
      val flagged = g.filter(_._4)
      assert(flagged.length == math.min(3, g.length))
      // no flagged vector is closer to the centroid than any keeper
      val maxOut = flagged.map(_._2).max
      val minKeep = g.filterNot(_._4).map(_._2).minOption.getOrElse(2.0)
      assert(maxOut <= minKeep, s"label $label: outliers are the far tail")
    }
  }

  test("q200: integrity counts recount against direct anti/semi joins") {
    val rows = SparkEntry.queries("q200_embedding_integrity")(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    val vecs = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_with_emb") + r.getAs[Long]("n_missing") ==
        r.getAs[Long]("n_docs"))
    }
    val missing = docs.join(vecs.distinct(),
      col("doc_id") === col("vec_id"), "left_anti").count()
    assert(rows.map(_.getAs[Long]("n_missing")).sum == missing)
    val orphan = vecs.distinct().join(docs.select("doc_id"),
      col("vec_id") === col("doc_id"), "left_anti").count()
    assert(rows.forall(_.getAs[Long]("n_orphan_emb") == orphan))
    val dups = vecs.groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(rows.forall(_.getAs[Long]("n_dup_vec_ids") == dups))
  }
}
