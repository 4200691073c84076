package graft

import graft.etl.EtlConfig
import graft.streaming._
import org.apache.spark.sql.streaming.Trigger

/** The reference's entry point rebuilt (StreamingEtl.main, SURVEY §3):
  * resolve config (CLI args ∪ application properties, properties win) →
  * validate (exactly one source, ≥1 sink) → build the topology → submit.
  *
  * Sources: `--InputKinesisStream <queue>` reads the Kinesis-shaped DSv2
  * sharded queue; `--InputKafkaTopic <queue>` reads the same seam (no Kafka
  * jar ships in this environment — the provider seam is where a real
  * connector plugs in). Sinks: `--OutputBucket <dir>` (parquet or JSON lines
  * per `--ParquetConversion`), `--OutputElasticsearchEndpoint`,
  * `--OutputKinesisStream`, `--OutputKafkaTopic` (in-memory stubs preserving
  * the reference's routing contracts), `--OutputDiscard true`.
  *
  * `--TriggerSeconds` defaults to 60 — the reference's checkpoint cadence
  * (streaming-etl.ts:146-151). `--RunAvailableNow true` drains the backlog
  * and exits (bounded runs / backfills).
  */
object EtlMain {

  /** Build providers from a validated config (exposed for tests). */
  def wire(cfg: EtlConfig): (SourceProvider, Seq[SinkProvider]) = {
    // The reference reads `InputStreamInitalPosition` — typo as shipped
    // (StreamingEtl.java:158) — and falls back to Flink's
    // DEFAULT_STREAM_INITIAL_POSITION = LATEST. A reference config file must
    // work unchanged, so that key (typo included) wins; `InputStartingPosition`
    // stays as the graft-native alias. The Kafka path has no position key in
    // the reference either (Flink Kafka starts from group offsets /
    // auto.offset.reset=latest), so LATEST is the parity default for both —
    // EXCEPT bounded runs: `--RunAvailableNow` (a graft extension, no
    // reference counterpart) exists to drain a backlog, and a bounded drain
    // from LATEST is empty by construction, so backfills default to
    // TRIM_HORIZON. An explicit position key always wins.
    val position = cfg.get("InputStreamInitalPosition")
      .orElse(cfg.get("InputStartingPosition"))
      .getOrElse(if (cfg.bool("RunAvailableNow")) "TRIM_HORIZON" else "LATEST")
    val source: SourceProvider = cfg.sourceKind match {
      case "kinesis" => new QueueSource(cfg.get("InputKinesisStream").get, position)
      case "kafka" => new QueueSource(cfg.get("InputKafkaTopic").get, position)
    }
    val sinks: Seq[SinkProvider] = Seq(
      // `--JobStartMillis` pins the run prefix: pass it together with the
      // same `--CheckpointLocation` when restarting a crashed job so the
      // replayed in-flight batch overwrites its own files instead of
      // landing under a fresh job_start= prefix (A19 across restarts)
      cfg.get("OutputBucket").map(dir =>
        new FileSink(dir, cfg.parquetConversion,
          cfg.long("JobStartMillis", System.currentTimeMillis()))),
      // ES bulk-flush tunables + region mirror the reference's builder
      // (StreamingEtl.java:244, :270-280); the retry-on-rejection handler
      // is always on (:268).
      cfg.get("OutputElasticsearchEndpoint").map(_ => new ElasticsearchStubSink(
        bulkFlushMaxSizeMb = cfg.int("ElasticsearchBulkFlushMaxSizeMb", 5),
        bulkFlushMaxActions = cfg.int("ElasticsearchBulkFlushMaxActions", 500),
        bulkFlushIntervalMillis = cfg.long("ElasticsearchBulkFlushInterval", 0L))),
      cfg.get("OutputKinesisStream").map(_ => new KinesisStubSink),
      cfg.get("OutputKafkaTopic").map(t => new KafkaStubSink(t)),
      cfg.get("OutputDiscard").filter(_.equalsIgnoreCase("true"))
        .map(_ => new NoopSink),
    ).flatten
    (source, sinks)
  }

  def main(args: Array[String]): Unit = {
    // application properties via env (the KDA-properties analogue): any
    // GRAFT_PROP_<Key>=<value> overrides the CLI flag <Key>.
    val props = sys.env.collect {
      case (k, v) if k.startsWith("GRAFT_PROP_") => k.stripPrefix("GRAFT_PROP_") -> v
    }
    val cfg = EtlConfig.fromArgsAndProperties(args.toSeq, props).validated
    val (source, sinks) = wire(cfg)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus, "graft-etl")
    spark.sparkContext.setLogLevel("WARN")

    val trigger =
      if (cfg.bool("RunAvailableNow")) Trigger.AvailableNow()
      else Trigger.ProcessingTime(s"${cfg.getOrElse("TriggerSeconds", "60")} seconds")
    val ckpt = cfg.getOrElse("CheckpointLocation",
      java.nio.file.Files.createTempDirectory("graft-etl-ckpt").toString)

    println(s"[graft-etl] source=${cfg.sourceKind} sinks=${sinks.map(_.name).mkString(",")} " +
      s"region=${cfg.defaultRegion} trigger=$trigger checkpoint=$ckpt")
    val query = EtlStream.start(spark, source, sinks, ckpt, trigger)
    query.awaitTermination()
    spark.stop()
  }
}
