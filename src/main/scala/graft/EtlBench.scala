package graft

import graft.sources.ShardedQueueSource
import graft.streaming.{EtlStream, FileSink, NoopSink, QueueSource}
import org.apache.spark.sql.streaming.Trigger

/** Single-node streaming-ETL throughput benchmark: N TripEvent JSON records
  * through the full pipeline (sharded-queue DSv2 source → parse/validate →
  * quirked projection → sinks). The reference's deployed envelope is
  * 16,000 records/s max ingest (16 Kinesis shards × 1,000 rec/s quota,
  * cdk/lib/streaming-etl.ts:69-71) on 2 KPU; this measures what one local
  * JVM sustains end-to-end.
  *
  * Usage: runMain graft.EtlBench [nRecords] [parquet|noop] [runs]
  *
  * Single-run wall-clock swings 1.5–3× with machine load, so the benchmark
  * runs the drained stream `runs` times (default 3) over the same generated
  * queue — one per-run JSON line each, then a summary line whose
  * records_per_sec is computed from the MEDIAN etl_sec. Compare medians,
  * never single runs.
  */
object EtlBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val withParquet = args.lift(1) match {
      case None | Some("parquet") => true
      case Some("noop") => false
      case Some(other) => sys.error(s"unknown sink mode '$other' (parquet|noop)")
    }
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    require(runs > 0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt, cpus.toInt, "graft-etl-bench")
    spark.sparkContext.setLogLevel("WARN")

    val q = "etl-bench"
    ShardedQueueSource.clear(q)
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      val line =
        s"""{"vendor_id": ${i % 3}, "pickup_datetime": "2018-${"%02d".format(i % 12 + 1)}-${"%02d".format(i % 28 + 1)}T10:00:00.000Z", "dropoff_datetime": "2018-${"%02d".format(i % 12 + 1)}-${"%02d".format(i % 28 + 1)}T11:00:00.000Z", "passenger_count": 1, "trip_distance": ${i % 40}.5, "ratecode_id": 1, "store_and_fwd_flag": "N", "pickup_location_id": ${i % 260 + 1}, "dropoff_location_id": ${i % 100 + 1}, "payment_type": 1, "fare_amount": 17.5, "extra": 0.0, "mta_tax": 0.5, "tip_amount": 3.66, "tolls_amount": 0.0, "improvement_surcharge": 0.3, "total_amount": 21.96, "trip_id": ${1000000 + i}, "type": "trip"}"""
      ShardedQueueSource.append(q, s"loc${i % 260}", line, numShards = cpus.toInt.max(16))
      i += 1
    }
    val genSec = (System.nanoTime() - t0) / 1e9

    // each run drains the same queue from TRIM_HORIZON with a fresh
    // checkpoint/output dir — the generated input is paid for once
    val measured = (1 to runs).map { r =>
      val outDir = java.nio.file.Files.createTempDirectory("etlbench-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("etlbench-ckpt").toString
      val noop = new NoopSink
      val sinks = if (withParquet)
        Seq(new FileSink(outDir, parquet = true), noop) else Seq(noop)

      val t1 = System.nanoTime()
      val sq = EtlStream.start(spark, new QueueSource(q), sinks, ckpt,
        Trigger.AvailableNow())
      val finished = sq.awaitTermination(600000)
      val etlSec = (System.nanoTime() - t1) / 1e9
      if (!finished) {
        System.err.println(s"[etl-bench] run $r TIMED OUT after ${etlSec}s with ${noop.rowsSeen}/$n rows — no metric emitted")
        sq.stop(); spark.stop(); sys.exit(1)
      }
      println(s"""{"metric":"etl_throughput_run","run":$r,"etl_sec":${"%.3f".format(etlSec)},"records_per_sec":${(noop.rowsSeen / etlSec).round},"parsed":${noop.rowsSeen}}""")
      (etlSec, noop.rowsSeen)
    }

    val medianSec = BenchUtil.medianOf(measured.map(_._1))
    val parsed = measured.head._2
    val recPerSec = (parsed / medianSec).round
    val runsJson = BenchUtil.runsJson(measured.map(_._1), 3)
    println(s"""{"metric":"etl_throughput","records":$n,"parsed":$parsed,"gen_sec":${"%.3f".format(genSec)},"etl_sec":${"%.3f".format(medianSec)},"etl_sec_runs":$runsJson,"records_per_sec":$recPerSec,"sinks":${if (withParquet) 2 else 1},"reference_envelope_rec_per_sec":16000}""")
    spark.stop()
  }
}
