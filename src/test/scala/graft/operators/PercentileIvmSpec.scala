package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.functions.ExactSelect
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bucketed percentile-IVM rungs checked on both paths. q276
  * (2¹³-wide maintained buckets + drill-down) equals the flat-histogram
  * q273 on the declared fixture, and on a synthetic ~100k-distinct-value
  * domain its bucket state is measured at a small fraction of the flat
  * histogram's rows. q281 (coarse 2⁴⁰ buckets + the 256-ary in-bucket
  * refinement of [[graft.functions.ExactSelect.valuesAtRanks]]) equals a
  * row_number drill over the same surviving set, and on a clustered
  * 2⁵⁰-wide domain its bucket state is a small fraction of per-value
  * state while the refinement stays exact. */
class PercentileIvmSpec extends SparkSpec {
  import spark.implicits._

  test("q276 bucketed drill-down ≡ q273 flat histogram on the declared fixture") {
    val flat = SparkEntry.queries("q273_ivm_percentile_retract")(
        spark, sfDir)
      .as[(String, Long, Long, Long)].collect().sorted.toSeq
    val bucketed = SparkEntry.queries("q276_ivm_bucket_percentile")(
        spark, sfDir)
      .as[(String, Long, Long, Long)].collect().sorted.toSeq
    assert(bucketed == flat,
      s"bucketed ≠ flat:\n bucket $bucketed\n flat   $flat")
  }

  test("wide domain: bucketed state is buckets-sized, not distinct-values-sized, and the readout stays exact") {
    // ~100k distinct values across 2 segments, values spread over ~10M
    // cents — the regime where a flat (seg, value, count) histogram is
    // value-domain-sized and the 2^13-wide bucket state is not
    val base = spark.range(100000).select(
      concat(lit("S"), (col("id") % 2).cast("string")).as("seg"),
      (col("id") * 97L).as("v"))
    // the ± wave: ids ≡ 3 (mod 10) retract; ids ≡ 7 (mod 10) move their
    // value up by a constant (retract old, add new)
    val retire = spark.range(100000).filter(col("id") % 10 === 3)
      .select(concat(lit("S"), (col("id") % 2).cast("string")).as("seg"),
        (col("id") * 97L).as("v"), lit(-1L).as("dn"))
    val moveOut = spark.range(100000).filter(col("id") % 10 === 7)
      .select(concat(lit("S"), (col("id") % 2).cast("string")).as("seg"),
        (col("id") * 97L).as("v"), lit(-1L).as("dn"))
    val moveIn = spark.range(100000).filter(col("id") % 10 === 7)
      .select(concat(lit("S"), (col("id") % 2).cast("string")).as("seg"),
        (col("id") * 97L + 1000013L).as("v"), lit(1L).as("dn"))
    val deltas = retire.unionByName(moveOut).unionByName(moveIn)

    // FLAT path: maintained (seg, value, count) ± then nearest-rank
    val flatState = base.groupBy("seg", "v").agg(count(lit(1)).as("n"))
    val flatRows = flatState.count()
    val flatSurv = flatState.select(col("seg"), col("v"),
        col("n").as("dn"))
      .unionByName(deltas)
      .groupBy("seg", "v").agg(sum(col("dn")).as("n"))
      .filter(col("n") > 0)
    val cum = Window.partitionBy("seg").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("seg")
    val flatOut = flatSurv
      .withColumn("cum", sum(col("n")).over(cum))
      .withColumn("nr", sum(col("n")).over(tot))
      .groupBy("seg")
      .agg(max(col("nr")).as("n_rows"),
        min(when(col("cum") >= expr("(nr + 1) div 2"), col("v")))
          .as("p50"),
        min(when(col("cum") >= expr("(9 * nr + 9) div 10"), col("v")))
          .as("p90"))
      .as[(String, Long, Long, Long)].collect().sorted.toSeq

    // BUCKETED path: maintained (seg, v >> 13, count) ± then locate +
    // drill into the CURRENT rows of just the target buckets
    val bState = base.groupBy(col("seg"),
        shiftright(col("v"), 13).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val bRows = bState.count()
    val bSurv = bState.select(col("seg"), col("bucket"),
        col("n").as("dn"))
      .unionByName(deltas.select(col("seg"),
        shiftright(col("v"), 13).as("bucket"), col("dn")))
      .groupBy("seg", "bucket").agg(sum(col("dn")).as("n"))
      .filter(col("n") > 0)
    val bcum = Window.partitionBy("seg").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val located = bSurv
      .withColumn("cum", sum(col("n")).over(bcum))
      .withColumn("nr", sum(col("n")).over(tot))
    def target(which: String, rank: org.apache.spark.sql.Column) =
      located.withColumn("r", rank)
        .filter(col("cum") >= col("r") &&
          col("cum") - col("n") < col("r"))
        .select(col("seg"), col("bucket"),
          (col("r") - (col("cum") - col("n"))).as("resid"),
          lit(which).as("which"), col("nr"))
    val targets = target("p50", expr("(nr + 1) div 2"))
      .unionByName(target("p90", expr("(9 * nr + 9) div 10")))
    // current rows after the wave (what the lake holds): base minus
    // retractions plus additions
    val current = base
      .join(spark.range(100000)
        .filter(col("id") % 10 === 3 || col("id") % 10 === 7)
        .select(concat(lit("S"), (col("id") % 2).cast("string"))
          .as("seg"), (col("id") * 97L).as("v")),
        Seq("seg", "v"), "left_anti")
      .unionByName(moveIn.select("seg", "v"))
      .withColumn("bucket", shiftright(col("v"), 13))
    val bOut = current
      .join(broadcast(targets), Seq("seg", "bucket"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("seg", "bucket", "which").orderBy("v")))
      .filter(col("rn") === col("resid"))
      .groupBy("seg")
      .agg(max(col("nr")).as("n_rows"),
        min(when(col("which") === "p50", col("v"))).as("p50"),
        min(when(col("which") === "p90", col("v"))).as("p90"))
      .as[(String, Long, Long, Long)].collect().sorted.toSeq

    assert(bOut == flatOut,
      s"bucketed ≠ flat on the wide domain:\n bucket $bOut\n flat   $flatOut")
    // the state-size claim, MEASURED: bucket rows ≪ flat histogram rows
    info(s"flat state rows = $flatRows, bucketed state rows = $bRows " +
      f"(${flatRows.toDouble / bRows}%.1f x smaller)")
    assert(bRows * 20 < flatRows,
      s"bucketed state $bRows not ≪ flat $flatRows — the wide-domain claim fails")
  }

  test("q281 declared result ≡ direct row_number drill over the surviving set (both paths, declared fixture)") {
    // path A: the declared maintained-bucket + refinement query
    val declared = SparkEntry.queries("q281_ivm_wide_percentile")(
        spark, sfDir)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // path B: the one-level q276-shape drill — exact order statistics
    // via a full rank pass over the SAME surviving set (affordable here,
    // unaffordable at a 2⁴⁰-wide bucket's population — which is the
    // point of path A)
    val vExpr = (col("l_orderkey") % 4194304L) * 1099511627776L +
      (col("l_partkey") % 1048576L) * 1048576L +
      (col("l_suppkey") % 1048576L)
    val surviving = graft.Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 4 === 0 || col("l_suppkey") % 10 =!= 3)
      .select(col("l_returnflag").as("flag"), vExpr.as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("flag").orderBy("v")
    val direct = surviving
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("flag")))
      .groupBy("flag")
      .agg(max(col("n")).as("n_rows"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("v")))
          .as("p50_v"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("v")))
          .as("p90_v"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(declared == direct,
      s"refine-drill ≠ row_number drill:\n refine $declared\n direct $direct")
  }

  test("synthetic clustered 2^50-wide domain: coarse-bucket state ≪ per-value state, locate + refinement stays exact") {
    // 24k rows in 3 groups, values CLUSTERED around 50 wide-apart
    // centers (the realistic wide-domain shape: ids/timestamps cluster;
    // a uniform-sparse domain has bucket count ≈ row count and nothing
    // helps) — per-value state is ~rows-sized, coarse 2^40 buckets are
    // ~centers-sized
    val n = 24000L
    val rows = spark.range(n).select(
      (col("id") % 3).cast("string").as("g"),
      ((col("id") % 50L) * 35184372088832L +
        (col("id") * 997L) % 10000000L).as("v"))
      .persist()
    try {
      val distinctValues = rows.select("g", "v").distinct.count()
      val bucketState = rows
        .groupBy(col("g"), shiftright(col("v"), 40).as("b"))
        .agg(count(lit(1)).as("cnt"))
        .persist()
      try {
      val bucketRows = bucketState.count()
      info(s"[wide-ivm] per-value state $distinctValues rows, " +
        s"coarse-bucket state $bucketRows rows")
      assert(bucketRows * 20 < distinctValues,
        s"bucket state $bucketRows not ≪ per-value $distinctValues")
      // locate each group's p50/p90 bucket + residual rank from the
      // MAINTAINED counts (driver-sized: groups × buckets ≤ 150 rows)
      val hist = bucketState.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      val bw = 1099511627776L
      val probes = hist.toSeq.flatMap { case (g, bs) =>
        val sorted = bs.sortBy(_._2)
        val total = sorted.map(_._3).sum
        Seq(0 -> ((total + 1) / 2), 1 -> ((9 * total + 9) / 10)).map {
          case (pid, rank) =>
            var rem = rank
            val it = sorted.iterator
            var chosen: (String, Long, Long) = null
            while (chosen == null && it.hasNext) {
              val e = it.next()
              if (e._3 >= rem) chosen = e else rem -= e._3
            }
            (g: Any, pid, chosen._2 * bw, chosen._2 * bw + (bw - 1L), rem)
        }
      }
      val resolved = ExactSelect.valuesAtRanks(rows, "g", "v", probes)
      // truth: driver-side sorted order statistics (n is small HERE)
      val byG = rows.as[(String, Long)].collect().groupBy(_._1)
        .map { case (g, vs) => g -> vs.map(_._2).sorted }
      byG.foreach { case (g, vs) =>
        val nn = vs.length.toLong
        assert(resolved((g, 0)) == vs(((nn + 1) / 2 - 1).toInt),
          s"group $g p50")
        assert(resolved((g, 1)) == vs(((9 * nn + 9) / 10 - 1).toInt),
          s"group $g p90")
      }
      } finally bucketState.unpersist()
    } finally rows.unpersist()
  }
}
