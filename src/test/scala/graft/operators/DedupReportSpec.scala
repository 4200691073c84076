package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Pins [[DedupReport.build]] — the one-pass resolve-and-report operator —
  * row-identical to the independently-declared q66 (assignments) and q79
  * (histogram) pipelines, and internally consistent (summary arithmetic
  * matches the histogram it ships with).
  */
class DedupReportSpec extends SparkSpec {

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  test("build() assignments ≡ q66, histogram ≡ q79, summary consistent") {
    // collect every derivation FIRST and release promptly: suites share
    // one session and run in parallel, and DedupBucketCapSpec polls the
    // GLOBAL cache manager for emptiness — a long-pinned assignment cache
    // here starves that poll (cost a full-suite failure in round 10)
    val report = DedupReport.build(Tables.documents(spark, sfDir))
    val (a, h, s, keepers, minPerCluster) =
      try (
        report.assignments.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet,
        // Map, not Set: a Set.map over the pairs would dedupe repeated
        // n_clusters values before any sum below
        report.histogram.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap,
        report.summary.collect().head,
        report.keepers.filter(col("keep")).collect()
          .map(_.getAs[Long]("doc_id")).toSet,
        report.assignments.groupBy("component")
          .agg(min(col("doc_id")).as("m")).collect()
          .map(_.getAs[Long]("m")).toSet
      ) finally report.release()

    val q66 = q("q66_dedup_components").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == q66, s"assignments drifted: ${(a -- q66).take(3)} / ${(q66 -- a).take(3)}")
    val q79 = q("q79_dedup_cluster_sizes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == q79, s"histogram drifted: $h vs $q79")

    val nDocs = s.getAs[Long]("n_docs")
    val nClusters = s.getAs[Long]("n_clusters")
    val nDups = s.getAs[Long]("n_duplicates")
    assert(nDocs == Tables.documents(spark, sfDir).count())
    // histogram is a partition of the docs: Σ size·count = docs,
    // Σ count = clusters — and the summary must agree with both
    val bySizes = h.iterator.map { case (size, n) => size * n }.sum
    assert(bySizes == nDocs, s"Σ size·count $bySizes != n_docs $nDocs")
    assert(h.values.sum == nClusters)
    assert(nDups == nDocs - nClusters)
    assert(math.abs(s.getAs[Double]("dedup_rate") -
      nDups.toDouble / nDocs) < 1e-12)

    // keepers: exactly one keeper per cluster, keepers are min doc_ids
    assert(keepers.size == nClusters)
    assert(keepers == minPerCluster,
      "a cluster's keeper must be its min doc_id (= the component label)")
  }

  test("release() drops the cached assignment") {
    val report = DedupReport.build(Tables.documents(spark, sfDir))
    assert(report.assignments.storageLevel.useMemory ||
      report.assignments.storageLevel.useDisk)
    report.release()
    assert(!report.assignments.storageLevel.useMemory &&
      !report.assignments.storageLevel.useDisk)
  }

  test("extend() ≡ full re-resolution on randomized arrival splits") {
    val docs = Tables.documents(spark, sfDir)
    val full = DedupReport.assignComponents(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // two salts: different ~10% batches, including splits that tear
    // fingerprint groups and clusters across the old/new boundary
    Seq(1, 7).foreach { salt =>
      val isNew = pmod(xxhash64(col("doc_id"), lit(salt)), lit(10)) === 0
      val oldDocs = docs.filter(!isNew)
      val newDocs = docs.filter(isNew)
      assert(newDocs.count() > 0 && oldDocs.count() > 0)
      val report = DedupReport.build(oldDocs)
      val got = try
        DedupReport.extend(oldDocs, report.assignments, newDocs)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally report.release()
      assert(got == full,
        s"salt=$salt drift: ${(got -- full).take(3)} / ${(full -- got).take(3)}")
    }
  }

  import spark.implicits._

  test("extend(): a batch doc bridging two existing clusters merges their labels") {
    // J(1,2) = 8/12 < 0.8 → separate clusters; the new doc 3 has
    // J(3,1) = J(3,2) = 9/11 ≈ 0.82 ≥ 0.8 → one merged cluster labeled 1
    val t = (1 to 12).map(i => s"tok$i")
    val oldDocs = Seq(
      (1L, "s", t.take(10).mkString(" ")),
      (2L, "s", (t.take(8) ++ t.slice(10, 12)).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val newDocs = Seq(
      (3L, "s", (t.take(9) :+ t(10)).mkString(" ")),
      (4L, "s", "nothing alike whatsoever"),
      (5L, "s", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    val report = DedupReport.build(oldDocs)
    val got = try
      DedupReport.extend(oldDocs, report.assignments, newDocs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally report.release()
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L), got)
    // and the incremental answer matches the from-scratch one
    val full = DedupReport.assignComponents(oldDocs.unionByName(newDocs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
  }

  test("extend() with a batch that matches nothing leaves old labels untouched") {
    val oldDocs = Seq((1L, "s", "alpha beta gamma delta"),
      (2L, "s", "alpha beta gamma delta")).toDF("doc_id", "source", "text")
    val newDocs = Seq((9L, "s", "completely different content here"))
      .toDF("doc_id", "source", "text")
    val report = DedupReport.build(oldDocs)
    val got = try
      DedupReport.extend(oldDocs, report.assignments, newDocs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally report.release()
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 9L), got)
  }
  test("assignComponentsMemo ≡ fresh assignComponents (and is stable across calls)") {
    val fresh = DedupReport
      .assignComponents(Tables.documents(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val memo1 = DedupReport.assignComponentsMemo(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val memo2 = DedupReport.assignComponentsMemo(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(memo1 == fresh)
    assert(memo2 == fresh)
  }
}
