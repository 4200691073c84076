package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.concurrent.TrieMap

/** Demonstrates (not just asserts) the SimilarityJoin strategy claim: on a
  * realistic ZIPFIAN vocabulary the PPJoin prefix-filter is the scale path.
  * The postings join expands every shared token — a stop-token's posting
  * list is quadratic — while the prefix filter indexes only each set's
  * rarest tokens, so hot tokens never generate candidates. Compared on the
  * `sj_candidates` observe metric (deterministic join-output volume — at
  * test scale AQE broadcasts the joins, so wall-clock and shuffle metrics
  * can't see the quadratic stage-internal expansion that kills executors
  * at corpus scale).
  */
class ZipfJaccardSpec extends SparkSpec {

  /** ~Zipf(s=1) vocabulary of 5000 tokens: rank drawn log-uniformly, so
    * frequency(rank) ∝ 1/rank. Deterministic via xxhash64(id, j). */
  private def zipfDocs(n: Long): DataFrame =
    spark.range(1, n + 1).select(col("id"), lit("blk").as("block"),
      array_distinct(expr(
        """transform(sequence(1, 30), j -> concat('t',
          |  cast(greatest(1L, cast(floor(exp(
          |    (pmod(xxhash64(id, j), 100000) / 100000.0) * ln(5000))) as bigint)) as string)))"""
          .stripMargin)).as("w"))

  private def candidates(metric: String)(body: => Long): (Long, Long) = {
    val metrics = TrieMap.empty[String, Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        metrics ++= qe.observedMetrics
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = body
      val deadline = System.nanoTime() + 30e9.toLong
      while (!metrics.contains(metric) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(metrics.contains(metric),
        s"observe metric '$metric' never arrived on the listener bus " +
          s"(got: ${metrics.keySet.mkString(", ")})")
      (pairs, metrics(metric).getAs[Long]("candidates"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("Zipf vocabulary: prefix-filter generates far fewer candidates than the postings join") {
    // 1000 docs: the postings join's hot-token candidate volume is ~n²
    // while the prefix filter's stays near-linear, so the asserted >5×
    // ratio only GROWS with n — the old 2000-doc drive doubled nothing
    // but the wall (candidates are compared, not wall-clock)
    val docs = zipfDocs(1000).persist()
    docs.count()
    try {
      val (postPairs, postCands) =
        candidates("sj_candidates_postings")(SimilarityJoin.postingsCount(docs, 0.8).count())
      val (prefPairs, prefCands) =
        candidates("sj_candidates_prefix")(SimilarityJoin.prefixFilter(docs, 0.8).count())
      info(s"postings join: $postCands candidate rows ($postPairs final pairs)")
      info(s"prefix filter: $prefCands candidate rows ($prefPairs final pairs)")
      assert(postPairs == prefPairs, "strategies must agree on results")
      // the prefix filter's whole point: hot tokens never enter the index
      assert(prefCands * 5 < postCands,
        s"prefix=$prefCands postings=$postCands — expected a >5x reduction")
    } finally docs.unpersist()
  }

  test("dup-heavy Zipf corpus: staged × prefix beats each technique alone on candidates") {
    // a web-corpus caricature: Zipfian vocabulary AND 30% boilerplate — 300
    // of 1000 docs are exact copies of the first 100 base docs (3 dups each,
    // so each dup group is a 4-doc clique). The postings join pays for both
    // pathologies, prefix-filter only fixes the hot tokens, the staged
    // collapse only fixes the cliques; the composition fixes both. (Halved
    // from 2000 docs: every assertion is a candidate-count ratio, and both
    // pathologies only sharpen with n.)
    val base = zipfDocs(700)
    val dups = spark.range(701, 1001).select(col("id"),
      ((col("id") - 701) % 100 + 1).as("src"))
      .join(base.select(col("id").as("src"), col("block"), col("w")), "src")
      .select(col("id"), col("block"), col("w"))
    val docs = base.unionByName(dups).persist()
    docs.count()
    try {
      val (postPairs, postCands) = candidates("sj_candidates_postings")(
        SimilarityJoin.postingsCount(docs, 0.8).count())
      val (prefPairs, prefCands) = candidates("sj_candidates_prefix")(
        SimilarityJoin.prefixFilter(docs, 0.8).count())
      val (stPostPairs, stPostCands) = candidates("sj_candidates_staged")(
        SimilarityJoin.stagedPostingsCount(docs, 0.8).count())
      val (stPrefPairs, stPrefCands) = candidates("sj_candidates_staged_prefix")(
        SimilarityJoin.stagedPrefixFilter(docs, 0.8).count())
      info(s"postings:        $postCands candidates ($postPairs pairs)")
      info(s"prefix:          $prefCands candidates ($prefPairs pairs)")
      info(s"staged postings: $stPostCands candidates ($stPostPairs pairs)")
      info(s"staged prefix:   $stPrefCands candidates ($stPrefPairs pairs)")
      assert(Set(postPairs, prefPairs, stPostPairs, stPrefPairs).size == 1,
        "all four strategies must agree on results")
      // full row-identity for the composition, not just the count
      assert(SimilarityJoin.stagedPrefixFilter(docs, 0.8)
        .except(SimilarityJoin.postingsCount(docs, 0.8)).isEmpty)
      // composition strictly beats each technique alone
      assert(stPrefCands < prefCands,
        s"staged-prefix=$stPrefCands prefix=$prefCands — collapse should cut the dup cliques")
      assert(stPrefCands < stPostCands,
        s"staged-prefix=$stPrefCands staged-postings=$stPostCands — prefix should cut the hot tokens")
    } finally docs.unpersist()
  }
}
