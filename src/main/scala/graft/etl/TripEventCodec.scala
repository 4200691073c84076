package graft.etl

import graft.plans.{GraftFunctions, TripEventDecode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's JSON codec (TripEventSchema.java) on DataFrames, with
  * its asymmetries (SURVEY §1.3):
  *
  *  1. input timestamps are ISO-8601 *text*; output writes epoch-millis
  *     *numbers* (TripEventSchema.java:58-59 vs :102-104);
  *  2. output projects 18 of 20 fields — payment_type and padding dropped
  *     (toJson, TripEventSchema.java:96-138);
  *  3. `trip_id` is parsed as long but serialized as a JSON *string*
  *     (:74 vs :132,153-162); `type`/`store_and_fwd_flag` quoted, numerics
  *     unquoted.
  *
  * The input-side quirks — malformed lines dropped, absent fields dropping
  * the event, present nulls and mistyped values coerced like Jackson's
  * getters, lenient ISO timestamps — live in the
  * [[graft.plans.TripEventDecode]] kernel.
  */
object TripEventCodec {

  private def decode(df: DataFrame, jsonCol: Column, strict: Boolean): DataFrame = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    df.select(call_function(TripEventDecode.name, jsonCol, lit(strict)))
  }

  /** Parse a column of JSON text into TripEvent rows, one column per
    * TripEvent field; malformed or incomplete lines are dropped, never
    * failed (the reference's behaviour, TripEventSchema.java:78-88). */
  def parse(df: DataFrame, jsonCol: Column): DataFrame = decode(df, jsonCol, strict = false)

  /** Strict variant: malformed or incomplete records FAIL the job instead
    * of being dropped (for pipelines that must not lose data silently —
    * the reference never fails, so [[parse]] is the parity path).
    */
  def parseStrict(df: DataFrame, jsonCol: Column): DataFrame = decode(df, jsonCol, strict = true)

  /** The serialized-output column set (quirks 1–3) — reusable for both the
    * JSON row sink (via to_json) and the Parquet sink's 18-field projection.
    */
  def outputColumns: Seq[Column] = TripEvent.outputFields.map {
    case f @ ("pickup_datetime" | "dropoff_datetime") =>
      unix_millis(col(f).cast("timestamp")).as(f) // quirk 1: epoch millis number
    case "trip_id" => col("trip_id").cast("string").as("trip_id") // quirk 3
    case f => col(f)
  }

  /** One event's JSON line (quirks 1–3), as every JSON sink writes it. */
  def outputJson: Column = to_json(struct(outputColumns: _*))

  /** Serialize TripEvent rows to one JSON line per event (quirks 1–3). */
  def serialize(df: DataFrame): DataFrame = df.select(outputJson.as("value"))
}
