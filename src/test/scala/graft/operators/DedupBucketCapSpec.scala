package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.concurrent.TrieMap

/** LSH bucket-explosion guard (VERDICT r2 item 1, star-reduction per r3
  * advice): a degenerate corpus where 1000 documents share every band must
  * not quadratic-explode one task — oversized buckets are star-reduced to
  * O(b) (representative, member) pairs before any per-bucket array is
  * collected, so a mass-duplicate cluster larger than the cap still comes
  * out fully connected (every member linked to the min-doc_id
  * representative) instead of silently vanishing. The reduced volume is
  * observable via `Dataset.observe` metrics, and q41's persisted projection
  * is released once the query's action completes.
  */
class DedupBucketCapSpec extends SparkSpec {
  import spark.implicits._

  /** n identical docs (one degenerate bucket per band/chunk) + a 3-doc
    * true-duplicate cluster + one distinct doc, in a documents.parquet
    * layout Tables can read. IDs: degenerate 1..n, cluster n+1..n+3,
    * distinct n+4. */
  private def degenerateDir(n: Int): String = {
    val dir = tmpDir("degen")
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val cluster = "small honest duplicate cluster with enough tokens to shingle"
    val rows = (1L to n.toLong).map(i => (i, same, "en", "webA", same.length.toLong)) ++
      (1L to 3L).map(i => (n + i, cluster, "en", "webA", cluster.length.toLong)) :+
      ((n + 4L, "completely different text about unrelated matters entirely here", "en", "webA", 64L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Runs `body` with the bucket cap set, restoring the default afterwards,
    * and returns the observe-metric rows captured during the run. */
  private def withCap[A](cap: Int)(body: => A): (A, Map[String, Row]) = {
    val metrics = TrieMap.empty[String, Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        metrics ++= qe.observedMetrics
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        metrics ++= qe.observedMetrics
    }
    spark.listenerManager.register(listener)
    spark.conf.set("spark.graft.dedup.maxBucket", cap.toString)
    try {
      val result = body
      // listener bus is async; drain it so the metrics have landed
      drainListenerBus()
      (result, metrics.toMap)
    } finally {
      spark.conf.unset("spark.graft.dedup.maxBucket")
      spark.listenerManager.unregister(listener)
    }
  }

  test("q41: a 1000-identical-doc band bucket is star-reduced and reported, honest pairs survive") {
    val n = 1000
    val (rows, metrics) = withCap(100) {
      SparkEntry.queries("q41_dedup_minhash_lsh")(spark, degenerateDir(n)).collect()
    }
    // degenerate cluster → n−1 star pairs (rep = doc 1), plus 3 cluster pairs
    assert(rows.length == n - 1 + 3, s"expected ${n + 2} pairs, got ${rows.length}")
    assert(rows.forall(_.getAs[Double]("jaccard") == 1.0))
    val star = rows.filter(_.getAs[Long]("b_id") <= n)
    assert(star.length == n - 1 && star.forall(_.getAs[Long]("a_id") == 1L),
      "every degenerate member must pair with the min-doc_id representative")
    assert(rows.count(r => r.getAs[Long]("a_id") > n && r.getAs[Long]("b_id") > n) == 3)
    val m = metrics("q41_buckets")
    // the degenerate docs hit 4 oversized band buckets: n rows in each
    assert(m.getAs[Long]("rows_in_oversized_buckets") >= 4L * n)
    assert(m.getAs[Long]("max_bucket") == n.toLong)
  }

  test("q42: degenerate simhash chunk buckets are star-reduced and reported") {
    val n = 500
    val (rows, metrics) = withCap(100) {
      SparkEntry.queries("q42_dedup_simhash")(spark, degenerateDir(n)).collect()
    }
    assert(rows.length == n - 1 + 3, s"expected ${n + 2} pairs, got ${rows.length}")
    assert(rows.forall(_.getAs[Long]("hamming") == 0L))
    val star = rows.filter(_.getAs[Long]("b_id") <= n)
    assert(star.length == n - 1 && star.forall(_.getAs[Long]("a_id") == 1L))
    assert(rows.count(r => r.getAs[Long]("a_id") > n && r.getAs[Long]("b_id") > n) == 3)
    val m = metrics("q42_buckets")
    assert(m.getAs[Long]("rows_in_oversized_buckets") >= 4L * n)
    assert(m.getAs[Long]("max_bucket") >= n.toLong)
  }

  test("q41 keeps a >cap exact-dup cluster connected via its representative") {
    // the r3-advice failure mode: a corpus that is ONE giant duplicate
    // cluster used to produce zero pairs (every band bucket dropped)
    val dir = tmpDir("degen-only")
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    (1L to 1000L).map(i => (i, same, "en", "webA", same.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (rows, _) = withCap(100) {
      SparkEntry.queries("q41_dedup_minhash_lsh")(spark, dir).collect()
    }
    assert(rows.length == 999, s"got ${rows.length}")
    assert(rows.forall(r =>
      r.getAs[Long]("a_id") == 1L && r.getAs[Double]("jaccard") == 1.0))
  }

  test("buckets at or under the cap still produce exact pairs with zero drops") {
    val dir = tmpDir("small")
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    (1L to 10L).map(i => (i, same, "en", "webA", same.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (rows, metrics) = withCap(1000) {
      SparkEntry.queries("q41_dedup_minhash_lsh")(spark, dir).collect()
    }
    // 10 identical docs → all 45 ordered pairs at jaccard 1.0
    assert(rows.length == 45, s"got ${rows.length}")
    assert(rows.forall(_.getAs[Double]("jaccard") == 1.0))
    assert(metrics("q41_buckets").getAs[Long]("rows_in_oversized_buckets") == 0L)
  }

  test("q41's cached projection survives an interleaved action on another cache") {
    import org.apache.spark.sql.functions.lit
    // r3-advice failure mode: ANY cached action used to trigger the release
    val other = spark.range(10).toDF("x").withColumn("tag", lit("other")).cache()
    try {
      val q = SparkEntry.queries("q41_dedup_minhash_lsh")(spark, sfDir)
      other.count() // action over a DIFFERENT InMemoryRelation
      drainListenerBus()
      other.unpersist(blocking = true)
      assert(!spark.sharedState.cacheManager.isEmpty,
        "q41's docs projection was dropped by an unrelated cached action")
      q.count() // the owning action — now the release may fire
      drainListenerBus()
      assert(spark.sharedState.cacheManager.isEmpty)
    } finally other.unpersist()
  }

  test("q41 releases its cached projection once the action completes") {
    val res = SparkEntry.queries("q41_dedup_minhash_lsh")(spark, sfDir).count()
    assert(res >= 0)
    // unpersist happens on the async listener bus — drain it
    drainListenerBus()
    assert(spark.sharedState.cacheManager.isEmpty,
      "q41's persisted docs projection is still pinned after the action")
  }
}
