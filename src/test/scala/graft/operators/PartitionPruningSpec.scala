package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Partition pruning: writes partitioned by a predicate column are the
  * cheapest data-skipping lever at scale — a filtered read must touch only
  * the matching directories (visible as PartitionFilters + pruned file
  * count in the scan). On a range-sorted lake a literal range predicate
  * prunes row groups the same way; q276's drill-down and q264's probe are
  * pinned by the rows their scans read. */
class PartitionPruningSpec extends SparkSpec {
  import spark.implicits._

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

  test("q276 drill-down on a value-clustered lake: the literal bucket-range disjunction prunes row groups (metric pin)") {
    val dir = tmpDir("drillprune")
    val n = 200000L
    // a value-range-sorted lake storing the cents column (the maintained
    // corpus the drill-down reads at scale), 16 files
    spark.range(n).select(
        concat(lit("S"), (col("id") % 4).cast("string")).as("seg"),
        (col("id") * 53L % 10000000L).as("bal_cents"))
      .repartitionByRange(16, col("bal_cents"))
      .sortWithinPartitions("bal_cents")
      .write.mode("overwrite").parquet(dir)
    val lake = spark.read.parquet(dir)
    // two target buckets (the p50/p90 shape): literal value ranges,
    // exactly the q276 drill predicate form
    val buckets = Seq(5000000L >> 13, 9000000L >> 13)
    val pred = buckets
      .map(b => col("bal_cents").between(b * 8192L, b * 8192L + 8191L))
      .reduce(_ || _)
    val drill = lake.filter(pred)
    drill.collect()
    val scanned = drill.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec =>
        f.metrics("numOutputRows").value }.get
    // the two buckets live in 2 of the 16 range-sorted files (~12.5k
    // rows each, file sizes vary with range partitioning) — assert a
    // 4-file bound so the pin is about PRUNING, not file-boundary luck
    info(s"drill scan read $scanned of $n lake rows for ${buckets.size} target buckets")
    assert(scanned < n / 4,
      s"drill scanned $scanned of $n — the range disjunction is not pruning the value-sorted lake")
    // and the pruned read is exactly the bucket membership
    val expect = (0L until n).map(i => i * 53L % 10000000L)
      .count(c => buckets.contains(c >> 13)).toLong
    assert(drill.count() == expect)
  }

  test("q264 probe on a custkey-sorted lake: pushed cohort bounds prune the fact scan (metric pin)") {
    val dir = tmpDir("ivmprobe")
    val nC = 20000L
    val nO = 200000L
    // a custkey-range-sorted orders lake, 16 files (the ScaleBench ivm
    // layout); random cents so dictionary/RLE can't hide scan volume
    spark.range(nO).select(
        pmod(xxhash64(col("id")), lit(nC)).as("c_custkey"),
        (pmod(xxhash64(col("id"), lit(7L)), lit(90000L)) + 100L)
          .as("cents"))
      .repartitionByRange(16, col("c_custkey"))
      .sortWithinPartitions("c_custkey")
      .write.mode("overwrite").parquet(dir)
    val lake = spark.read.parquet(dir)
    // the touched cohort: top 1% of the keyspace, bounds PUSHED into the
    // scan (the q264 scaladoc's layout lever)
    val lo = nC - nC / 100
    val dC = spark.range(nC).filter(col("id") >= lo)
      .select(col("id").as("c_custkey"), lit("SEGX").as("seg"),
        lit(1L).as("sgn"))
    // the scan-side measurement (the BloomLakeSpec method — a bare
    // filtered scan so the metric leaf is reachable; the probe's join
    // adds AQE stages around the SAME scan + predicate)
    val scanDf = lake.filter(col("c_custkey") >= lo)
    scanDf.collect()
    val scanned = scanDf.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec =>
        f.metrics("numOutputRows").value }.get
    info(s"probe scan read $scanned of $nO lake rows")
    assert(scanned < nO / 8,
      s"probe scanned $scanned of $nO — cohort bounds are not pruning the sorted lake")
    // correctness of the pruned probe: equals the unpruned join
    val probe = lake.filter(col("c_custkey") >= lo)
      .join(dC, Seq("c_custkey"))
      .groupBy("seg")
      .agg(sum(col("sgn") * col("cents")).as("ds"))
    val full = lake.join(dC, Seq("c_custkey"))
      .groupBy("seg").agg(sum(col("sgn") * col("cents")).as("ds"))
      .as[(String, Long)].collect().toMap
    val pruned = probe.as[(String, Long)].collect().toMap
    assert(pruned == full, "pruned probe ≠ full join")
  }
}
