package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming corpus-hygiene throughput benchmark — the ingest-side
  * counterpart of [[EtlBench]]: N synthetic documents (the
  * [[ScaleBench.synthDocs]] corpus shape) through the full hygiene
  * pipeline — quality gate → watermarked exact dedup ([[
  * graft.streaming.CorpusStream.clean]]) → incremental dedup against a
  * static corpus index ([[graft.streaming.CorpusStream.dedupAgainstCorpus]])
  * → Bloom decontamination ([[graft.streaming.CorpusStream
  * .decontaminateBloom]]) — into a noop sink.
  *
  * The source is a file-arrival stream (parquet + maxFilesPerTrigger), so
  * the run exercises real micro-batch admission and cross-batch dedup
  * state; event times span < the watermark delay so no state expires
  * mid-run (state size is reported from the query's progress instead).
  *
  * Usage: runMain graft.CorpusBench [nDocs] [runs]. Median-of-`runs`
  * per the CLAUDE.md noise rules — one JSON line per run plus a median
  * summary line recorded in BASELINE.md.
  */
object CorpusBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    require(runs > 0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus, "graft-corpus-bench")
    spark.sparkContext.setLogLevel("WARN")
    import graft.streaming.CorpusStream

    val base = java.nio.file.Files.createTempDirectory("corpusbench").toString
    val srcDir = s"$base/src"
    val t0 = System.nanoTime()
    // event times span 300 s < the 10 min watermark delay: no state
    // expiry mid-run, every dedup key stays live to the end
    ScaleBench.synthDocs(spark, n)
      .withColumn("ts", timestamp_micros(
        lit(1700000000000000L) + pmod(col("doc_id"), lit(300)) * 1000000L))
      .repartition(cpus * 2)
      .write.parquet(srcDir)
    // corpus index: every 10th doc is already in the "existing corpus" —
    // its arriving copy must drop at the stream-static anti-join
    val index = CorpusStream.corpusIndex(
      spark.read.parquet(srcDir).filter(pmod(col("doc_id"), lit(10)) === 0))
      .persist()
    index.count()
    // blocklist: the first 500 docs' text space (shares shingles with
    // their cluster copies too — a realistic contamination rate)
    val benchmark = ScaleBench.synthDocs(spark, 500)
    val genSec = (System.nanoTime() - t0) / 1e9
    val schema = spark.read.parquet(srcDir).schema

    val measured = (1 to runs).map { r =>
      val ckpt = java.nio.file.Files.createTempDirectory("corpusbench-ckpt")
        .toString
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", math.max(1, cpus / 2))
        .parquet(srcDir)
      val piped = CorpusStream.decontaminateBloom(
        CorpusStream.dedupAgainstCorpus(
          CorpusStream.clean(docs, "ts", "10 minutes"),
          index, "ts", "10 minutes"),
        benchmark)
      val t1 = System.nanoTime()
      val sq = piped.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      val finished = sq.awaitTermination(600000)
      val sec = (System.nanoTime() - t1) / 1e9
      if (!finished) {
        System.err.println(s"[corpus-bench] run $r TIMED OUT after ${sec}s")
        sq.stop(); spark.stop(); sys.exit(1)
      }
      val progresses = sq.recentProgress
      // recentProgress is a BOUNDED ring (spark.sql.streaming
      // .numRecentProgressUpdates, default 100): the per-run metrics below
      // silently under-report if batches ever outgrow it (today ~4 batches
      // at cpus/2 files per trigger — but a changed repartition factor or
      // maxFilesPerTrigger must fail loudly here, not truncate)
      val retention = spark.conf
        .get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
      require(progresses.length < retention,
        s"run $r produced ${progresses.length} progress updates — at the " +
        s"retention limit $retention the ring has likely dropped batches " +
        "and kept/state maxima below would under-report; raise " +
        "numRecentProgressUpdates or lower the batch count")
      val kept = progresses.map(_.sink.numOutputRows).filter(_ > 0).sum
      // both peaks are the max over batches of the SUM across the
      // pipeline's state operators (content-hash + fingerprint dedup
      // stores) — summing one and maxing the other would make the
      // reported rows/bytes pair mutually inconsistent
      val stateRows = progresses
        .map(_.stateOperators.map(_.numRowsTotal).sum)
        .foldLeft(0L)(math.max)
      val stateBytes = progresses
        .map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .foldLeft(0L)(math.max)
      println(s"""{"metric":"corpus_throughput_run","run":$r,""" +
        s""""sec":${"%.1f".format(sec)},""" +
        s""""docs_per_sec":${(n / sec).round},"kept":$kept,""" +
        s""""batches":${progresses.count(_.numInputRows > 0)},""" +
        s""""state_rows_max":$stateRows,"state_bytes_max":$stateBytes}""")
      (sec, kept, stateRows, stateBytes)
    }
    // the pipeline is deterministic, so every run must keep the same rows —
    // the summary's single `kept` is only honest if that actually held
    require(measured.map(_._2).distinct.size == 1,
      s"kept diverged across runs: ${measured.map(_._2).mkString(", ")}")
    val medianSec = BenchUtil.medianOf(measured.map(_._1))
    val runsJson = BenchUtil.runsJson(measured.map(_._1), 1)
    println(s"""{"metric":"corpus_throughput","docs":$n,""" +
      s""""gen_sec":${"%.1f".format(genSec)},""" +
      s""""sec":${"%.1f".format(medianSec)},"sec_runs":$runsJson,""" +
      s""""docs_per_sec":${(n / medianSec).round},""" +
      s""""kept":${measured.head._2},""" +
      s""""state_rows_max":${measured.map(_._3).max},""" +
      s""""state_bytes_max":${measured.map(_._4).max}}""")
    spark.stop()
  }
}
