package graft.sources

import graft.SparkSpec
import graft.streaming.{ElasticsearchStubSink, EtlStream, QueueSource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The DataSource V2 sharded-queue stream: shard routing, per-shard
  * sequencing, offset checkpointing across restarts, LATEST semantics. */
class ShardedQueueSourceSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batch read: shard routing + per-shard ordered sequence numbers") {
    val q = "t-basic"
    ShardedQueueSource.clear(q)
    (0 until 40).foreach(i => ShardedQueueSource.append(q, s"key${i % 8}", s"rec$i"))
    val out = tmpDir("q-out"); val ckpt = tmpDir("q-ckpt")
    val stream = spark.readStream.format("graft.sources.ShardedQueueSource")
      .option("queue", q).load()
    val sq = stream.writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).format("parquet").start(out)
    sq.awaitTermination(120000)
    val got = spark.read.parquet(out)
    assert(got.count() == 40)
    // same partition key → same shard (Kinesis routing contract)
    assert(got.groupBy("partition_key")
      .agg(countDistinct("shard").as("n")).filter(col("n") > 1).count() == 0)
    // per-shard seq is dense from 0
    val perShard = got.groupBy("shard")
      .agg(min("seq").as("mn"), max("seq").as("mx"), count(lit(1)).as("n"))
      .collect()
    perShard.foreach(r =>
      assert(r.getAs[Long]("mn") == 0L &&
        r.getAs[Long]("mx") == r.getAs[Long]("n") - 1))
  }

  test("offsets checkpoint: restart resumes after consumed sequence numbers") {
    val q = "t-resume"
    ShardedQueueSource.clear(q)
    (0 until 10).foreach(i => ShardedQueueSource.append(q, s"k$i", s"a$i"))
    val out = tmpDir("qr-out"); val ckpt = tmpDir("qr-ckpt")
    def run(): Unit = {
      val sq = spark.readStream.format("graft.sources.ShardedQueueSource")
        .option("queue", q).load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).format("parquet").start(out)
      sq.awaitTermination(120000)
    }
    run()
    (10 until 25).foreach(i => ShardedQueueSource.append(q, s"k$i", s"a$i"))
    run()
    val vals = spark.read.parquet(out).select("value").as[String].collect()
    assert(vals.length == 25) // no re-reads, no loss
    assert(vals.distinct.length == 25)
  }

  test("LATEST starting position skips the backlog") {
    val q = "t-latest"
    ShardedQueueSource.clear(q)
    (0 until 20).foreach(i => ShardedQueueSource.append(q, s"k$i", s"old$i"))
    val out = tmpDir("ql-out"); val ckpt = tmpDir("ql-ckpt")
    val stream = spark.readStream.format("graft.sources.ShardedQueueSource")
      .option("queue", q).option("starting_position", "LATEST").load()
    // with AvailableNow + LATEST there is nothing to read yet
    val sq = stream.writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).format("parquet").start(out)
    sq.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == 0)
  }

  test("admission control: max_records_per_micro_batch paces the stream") {
    val q = "t-paced"
    ShardedQueueSource.clear(q)
    (0 until 30).foreach(i => ShardedQueueSource.append(q, s"k$i", s"r$i"))
    val out = tmpDir("qa-out"); val ckpt = tmpDir("qa-ckpt")
    @volatile var batches = 0
    @volatile var maxBatchSize = 0L
    val sq = spark.readStream.format("graft.sources.ShardedQueueSource")
      .option("queue", q).option("max_records_per_micro_batch", "8").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val n = df.count()
        batches += 1
        maxBatchSize = math.max(maxBatchSize, n)
        df.write.mode("append").parquet(out)
      }
      .start()
    sq.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == 30)  // everything arrives...
    assert(maxBatchSize <= 8, s"batch of $maxBatchSize exceeded the cap")
    assert(batches >= 4, s"only $batches batches") // ...paced across batches
  }

  test("one 200k-record shard reads in a single micro-batch, in sequence order") {
    // the reader indexes its slice by position: on a linear-access Seq
    // each batch costs O(n^2) and this drain would not finish
    val q = "t-big-shard"
    ShardedQueueSource.clear(q)
    val n = 200000
    (0 until n).foreach(i => ShardedQueueSource.append(q, "k", s"v$i", numShards = 1))
    @volatile var batches = 0
    @volatile var read: Array[(Long, String)] = Array.empty
    val sq = spark.readStream.format("graft.sources.ShardedQueueSource")
      .option("queue", q).load()
      .writeStream.option("checkpointLocation", tmpDir("qb-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches += 1
        read = df.select("seq", "value").as[(Long, String)].collect()
      }
      .start()
    val finished = try sq.awaitTermination(120000)
      finally { sq.stop(); ShardedQueueSource.clear(q) }
    assert(finished, "drain did not finish")
    assert(batches == 1)
    assert(read.length == n)
    assert(read.indices.forall(i => read(i) == ((i.toLong, s"v$i"))))
  }

  test("ETL pipeline runs end-to-end off the DSv2 queue source (A1 seam)") {
    val q = "t-etl"
    ShardedQueueSource.clear(q)
    val line =
      """{"vendor_id": 1, "pickup_datetime": "2018-11-05T10:00:00.000Z",
        | "dropoff_datetime": "2018-11-05T11:00:00.000Z", "passenger_count": 1,
        | "trip_distance": 1.5, "ratecode_id": 1, "store_and_fwd_flag": "N",
        | "pickup_location_id": 42, "dropoff_location_id": 5, "payment_type": 1,
        | "fare_amount": 10.0, "extra": 0.0, "mta_tax": 0.5, "tip_amount": 1.0,
        | "tolls_amount": 0.0, "improvement_surcharge": 0.3, "total_amount": 11.8,
        | "trip_id": TRIPID, "type": "trip"}""".stripMargin.replaceAll("\n", "")
    (0 until 15).foreach(i =>
      ShardedQueueSource.append(q, s"loc$i", line.replace("TRIPID", (9000 + i).toString)))
    val es = new ElasticsearchStubSink
    val sq = EtlStream.start(spark, new QueueSource(q), Seq(es),
      tmpDir("qe-ckpt"), Trigger.AvailableNow())
    sq.awaitTermination(120000)
    assert(es.count == 15)
  }
}
