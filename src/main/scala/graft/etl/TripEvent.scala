package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** The reference's single record type (TripEvent.avsc:1-93): 20 required
  * fields, flat, no nulls in the at-rest model. The case class is the typed
  * API surface; the StructType drives [[graft.plans.TripEventDecode]],
  * which polices missing and null fields itself (reference behavior per
  * TripEventSchema.java:49-83).
  */
case class TripEvent(
  vendor_id: Int,
  pickup_datetime: Timestamp,
  dropoff_datetime: Timestamp,
  passenger_count: Int,
  trip_distance: Double,
  ratecode_id: Int,
  store_and_fwd_flag: String,
  pickup_location_id: Int,
  dropoff_location_id: Int,
  payment_type: Int,
  fare_amount: Double,
  extra: Double,
  mta_tax: Double,
  tip_amount: Double,
  tolls_amount: Double,
  improvement_surcharge: Double,
  total_amount: Double,
  trip_id: Long,
  `type`: String,
  padding: String)

object TripEvent {

  /** Input-side schema: ISO-8601 timestamp text → TimestampType (quirk
    * §1.3-1). */
  val inputSchema: StructType = StructType(Seq(
    StructField("vendor_id", IntegerType),
    StructField("pickup_datetime", TimestampType),
    StructField("dropoff_datetime", TimestampType),
    StructField("passenger_count", IntegerType),
    StructField("trip_distance", DoubleType),
    StructField("ratecode_id", IntegerType),
    StructField("store_and_fwd_flag", StringType),
    StructField("pickup_location_id", IntegerType),
    StructField("dropoff_location_id", IntegerType),
    StructField("payment_type", IntegerType),
    StructField("fare_amount", DoubleType),
    StructField("extra", DoubleType),
    StructField("mta_tax", DoubleType),
    StructField("tip_amount", DoubleType),
    StructField("tolls_amount", DoubleType),
    StructField("improvement_surcharge", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("trip_id", LongType),
    StructField("type", StringType),
    StructField("padding", StringType)))

  /** Fields whose ABSENCE drops the whole event (reference: any bare
    * `node.get(f)` getter NPEs inside the deserialize try → null →
    * dropped — TripEventSchema.java:56-76). That is every field except
    * `padding`, whose getter alone is null-checked (:53,76); `trip_id`'s
    * `asLong(0)` default applies only to a PRESENT null/non-numeric value. */
  val requiredFields: Seq[String] =
    inputSchema.fieldNames.toSeq.filterNot(_ == "padding")

  /** Output projection (quirk §1.3-2): 18 of 20 fields, in the reference's
    * serialization order — payment_type and padding are dropped. */
  val outputFields: Seq[String] = Seq(
    "vendor_id", "pickup_datetime", "dropoff_datetime", "passenger_count",
    "trip_distance", "ratecode_id", "store_and_fwd_flag",
    "pickup_location_id", "dropoff_location_id", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "trip_id", "type")
}
