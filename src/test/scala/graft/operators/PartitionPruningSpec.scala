package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Partition pruning: writes partitioned by a predicate column are the
  * cheapest data-skipping lever at scale — a filtered read must touch only
  * the matching directories (visible as PartitionFilters + pruned file
  * count in the scan). */
class PartitionPruningSpec extends SparkSpec {

  test("filtered read over a partitioned layout prunes to matching partitions") {
    val out = tmpDir("part-out")
    Tables.events(spark, sfDir)
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val all = spark.read.parquet(out)
    val one = all.filter(col("event_type") === "click")
    val n = one.count()
    assert(n > 0 && n < all.count())
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    // only the click directory's files are selected
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value }.get
    }
    val scanned = filesRead(one)
    val total = filesRead(spark.read.parquet(out))
    assert(scanned < total, s"scanned=$scanned total=$total")
  }

  test("q243: pruning audit invariants — admission is sound, curves beat linear on the band") {
    val rows = graft.SparkEntry.queries("q243_layout_pruning")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("files_present"),
        r.getAs[Long]("files_read"), r.getAs[Long]("rows_scanned"),
        r.getAs[Long]("rows_matched")))
    assert(rows.length == 9)
    rows.foreach { case (l, b, fp, fr, rs, rm) =>
      assert(fr <= fp, s"($l,$b) read more files than exist")
      // soundness: every matching row lives in a file whose bbox contains
      // it, so stats admission can never scan fewer rows than match
      assert(rs >= rm, s"($l,$b) admission dropped matching rows")
    }
    val scanned = rows.map { case (l, b, _, _, rs, _) => (l, b) -> rs }.toMap
    for (curve <- Seq("zorder", "hilbert"))
      assert(scanned((curve, "band_y")) < scanned(("linear", "band_y")),
        s"$curve must out-prune the single-column layout on the orthogonal band")
  }
}
