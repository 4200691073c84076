package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's pipeline as a batch job (SURVEY §7 M1): read JSON lines →
  * parse/validate/defaults (A4) → 18-field quirked projection (A5) →
  * zero-padded derived partition columns (A7) → partitioned parquet or
  * JSON-lines output (A9/A10). Used directly for backfills and as the
  * batch-equivalence oracle for the streaming path.
  */
object EtlPipeline {

  def parseJsonLines(spark: SparkSession, inputPath: String): DataFrame =
    TripEventCodec.parse(spark.read.text(inputPath), col("value"))

  /** Write events to the partitioned file sink; `parquet=false` → one JSON
    * line per event (A10). Returns the output row count. */
  def writePartitioned(events: DataFrame, outDir: String,
                       parquet: Boolean): Unit = {
    val bucketed = BucketPaths.withBucketColumns(events)
    if (parquet)
      bucketed
        .select((TripEventCodec.outputColumns ++
          BucketPaths.partitionColumns.map(col)): _*)
        .write.mode("overwrite")
        .partitionBy(BucketPaths.partitionColumns: _*)
        .parquet(outDir)
    else
      bucketed
        .select(TripEventCodec.outputJson.as("value"),
          col("pickup_location"), col("year"), col("month"))
        .write.mode("overwrite")
        .partitionBy(BucketPaths.partitionColumns: _*)
        .text(outDir)
  }

  /** End-to-end batch run: JSON lines in → partitioned files out. */
  def run(spark: SparkSession, inputPath: String, outDir: String,
          parquet: Boolean): Unit =
    writePartitioned(parseJsonLines(spark, inputPath), outDir, parquet)
}
