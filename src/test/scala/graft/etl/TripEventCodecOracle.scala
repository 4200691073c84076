package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** The codec's former all-Catalyst formulation, kept as the differential
  * oracle for [[graft.plans.TripEventDecode]]: every field decoded as text
  * by `from_json`, the reference's per-getter coercions applied with
  * `try_cast`, and `json_object_keys` re-parsing a line to tell an absent
  * field from a present null. Slow (the decode runs once per referencing
  * column after filter pushdown) but made only of built-ins, so it is an
  * independent statement of the quirks the kernel implements. */
object TripEventCodecOracle {

  private val textSchema = StructType(
    TripEvent.inputSchema.fieldNames.map(f => StructField(f, StringType)))

  private def decoded(jsonCol: Column): Column =
    from_json(jsonCol, textSchema, Map("mode" -> "PERMISSIVE"))

  /** Joda-parity timestamp parse: ISO family only, never space-separated. */
  private def tsParsed(s: Column): Column =
    when(s.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}(T.*)?$"), try_to_timestamp(s))

  /** JSON booleans in numeric fields → 1/0 (Jackson's BooleanNode). The
    * text decode cannot tell JSON `true` from the string `"true"`, so the
    * quoted form coerces to 1 as well. */
  private def boolsAsNumbers(s: Column): Column =
    when(s === "true", lit("1")).when(s === "false", lit("0")).otherwise(s)

  /** Every required field present (non-null, or null but listed by
    * `json_object_keys`) and both timestamps parse. */
  private def complete(e: Column, raw: Column): Column =
    e.isNotNull &&
      (TripEvent.requiredFields.map(f => e.getField(f).isNotNull).reduce(_ && _) ||
        TripEvent.requiredFields.map(f => array_contains(json_object_keys(raw), f))
          .reduce(_ && _)) &&
      tsParsed(e.getField("pickup_datetime")).isNotNull &&
      tsParsed(e.getField("dropoff_datetime")).isNotNull

  private def flattened: Seq[Column] =
    TripEvent.inputSchema.fields.toSeq.map { f =>
      val s = col(s"e.${f.name}")
      (f.name, f.dataType) match {
        case ("padding", _) =>
          when(s.isNotNull, s)
            .otherwise(when(array_contains(json_object_keys(col("_raw")), "padding"),
              lit("null")).otherwise(lit(""))).as(f.name)
        case (_, StringType) => coalesce(s, lit("null")).as(f.name)
        case (_, IntegerType) =>
          coalesce(boolsAsNumbers(s).try_cast(DoubleType).try_cast(IntegerType),
            lit(0)).as(f.name)
        case (_, LongType) =>
          coalesce(boolsAsNumbers(s).try_cast(LongType),
            boolsAsNumbers(s).try_cast(DoubleType).try_cast(LongType),
            lit(0L)).as(f.name)
        case (_, DoubleType) =>
          coalesce(boolsAsNumbers(s).try_cast(DoubleType), lit(0.0)).as(f.name)
        case (_, TimestampType) => tsParsed(s).as(f.name)
        case (_, other) => throw new IllegalStateException(s"unhandled $other")
      }
    }

  def parse(df: DataFrame, jsonCol: Column): DataFrame =
    df.select(jsonCol.as("_raw"), decoded(jsonCol).as("e"))
      .filter(complete(col("e"), col("_raw")))
      .select(flattened: _*)

  def parseStrict(df: DataFrame, jsonCol: Column): DataFrame =
    df.select(jsonCol.as("_raw"), decoded(jsonCol).as("e"))
      .select(
        when(complete(col("e"), col("_raw")), col("e"))
          .otherwise(raise_error(concat(lit("malformed TripEvent: "), col("_raw"))))
          .as("e"),
        col("_raw"))
      .select(flattened: _*)
}
