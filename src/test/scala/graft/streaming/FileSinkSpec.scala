package graft.streaming

import graft.{FailingRenameFileSystem, SparkSpec}
import graft.etl.TripEventCodec
import org.apache.spark.sql.functions.col

class FileSinkSpec extends SparkSpec {
  import spark.implicits._

  private def event(loc: Int): String =
    s"""{"vendor_id": 1, "pickup_datetime": "2018-11-01T10:00:00.000Z",
       | "dropoff_datetime": "2018-11-01T11:00:00.000Z", "passenger_count": 1,
       | "trip_distance": 1.5, "ratecode_id": 1, "store_and_fwd_flag": "N",
       | "pickup_location_id": $loc, "dropoff_location_id": 5, "payment_type": 1,
       | "fare_amount": 10.0, "extra": 0.0, "mta_tax": 0.5, "tip_amount": 1.0,
       | "tolls_amount": 0.0, "improvement_surcharge": 0.3, "total_amount": 11.8,
       | "trip_id": ${1000 + loc}, "type": "trip"}""".stripMargin.replaceAll("\n", "")

  test("a failed commit rename rethrows only after the batch's other renames end") {
    FailingRenameFileSystem.register(spark)
    val locs = 1 to 4
    val events = TripEventCodec.parse(locs.map(event).toDF("value"), col("value"))
    val out = "failrename://" + tmpDir("filesink-rename")
    val sink = new FileSink(out, parquet = true, jobStartMillis = 0L)
    FailingRenameFileSystem.arm(expected = locs.size) // one rename per partition dir
    try {
      val e = intercept[java.io.IOException](sink.write(events, 0L))
      assert(e.getMessage.contains("commit rename failed"), e.getMessage)
      // no rename of the batch is still running: a replay started now
      // cannot race one
      assert(FailingRenameFileSystem.inFlight.get() == 0)
    } finally FailingRenameFileSystem.armed = false
    // the replayed batch converges to exactly its rows
    sink.write(events, 0L)
    val got = spark.read.parquet(sink.prefix)
    assert(got.count() == locs.size)
    assert(got.select("pickup_location").as[String].collect().sorted.toSeq ==
      locs.map(l => f"$l%03d"))
  }
}
