package graft.etl

import java.util.SplittableRandom

import graft.SparkSpec
import graft.plans.TripEventDecode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Differential check of the [[TripEventDecode]] kernel against
  * [[TripEventCodecOracle]], the codec's former all-built-in formulation:
  * the same rows (as a multiset, doubles compared bit for bit) and the same
  * schema from `parse`, and the same lines accepted or rejected by
  * `parseStrict`, on an edge corpus and on a seeded damaged corpus. */
class TripEventDecodeSpec extends SparkSpec {
  import spark.implicits._

  private val fields: Seq[(String, String)] = Seq(
    "vendor_id" -> "2", "pickup_datetime" -> "\"2018-11-23T11:32:24.000Z\"",
    "dropoff_datetime" -> "\"2018-11-23T11:55:13.000Z\"", "passenger_count" -> "1",
    "trip_distance" -> "4.02", "ratecode_id" -> "1", "store_and_fwd_flag" -> "\"N\"",
    "pickup_location_id" -> "68", "dropoff_location_id" -> "236", "payment_type" -> "1",
    "fare_amount" -> "17.5", "extra" -> "0.0", "mta_tax" -> "0.5", "tip_amount" -> "3.66",
    "tolls_amount" -> "0.0", "improvement_surcharge" -> "0.3", "total_amount" -> "21.96",
    "trip_id" -> "9234567", "type" -> "\"trip\"", "padding" -> "\"xx\"")

  private def line(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
  private def withValue(f: String, v: String): String =
    line(fields.map { case (k, old) => k -> (if (k == f) v else old) })
  private def without(f: String): String = line(fields.filterNot(_._1 == f))
  private val valid = line(fields)
  private val noPadding = without("padding")

  private val intField = "passenger_count"
  private val longField = "trip_id"
  private val doubleField = "fare_amount"
  private val stringField = "store_and_fwd_flag"

  private lazy val edgeCorpus: Seq[String] = {
    val perField = TripEvent.inputSchema.fieldNames.toSeq.flatMap { f =>
      Seq(withValue(f, "null"), without(f))
    }
    val numbers = Seq("true", "false", "\"true\"", "\"false\"", "\"17.5\"", "\"-17.9\"",
      "\"abc\"", "\"\"", "\" 7 \"", "\"1e3\"", "\"Infinity\"", "\"NaN\"",
      "17.9", "-17.9", "2147483647", "2147483648", "-2147483649", "3000000000",
      "9223372036854775807", "9223372036854775808", "12345678901234567890",
      "-9223372036854775809", "1E400", "-1E400", "1E-400", "NaN", "Infinity",
      "-Infinity", "-0", "-0.0", "0.0", "1.5e10", "9.3e18", "1e19", "4.020",
      "0.30000000000000004", "1.0000000000000000001", "123456789012345678901234567890.5",
      "{\"a\": 1}", "[1, 2.50, \"x\"]", "[]", "{}", "01", "+1", ".5", "0x10")
    val numeric = for {
      f <- Seq(intField, longField, doubleField)
      v <- numbers
    } yield withValue(f, v)
    val strings = Seq("4.50", "7", "-0", "1E400", "true", "{\"a\": [1, {\"b\": null}]}",
      "[\"x\", 2]", "\"\"", "\"trip\u00e9\"", "\"\\u00e9\\n\"", "\"\\ud800\"", "\"\\q\"",
      "\"a\tb\"", "\"\\u0000\"").flatMap(v => Seq(withValue(stringField, v), withValue("type", v)))
    val timestamps = Seq("\"2018-11-23T11:32:24\"", "\"2018-11-23\"", "\"2018-11-23 11:32:24\"",
      "\"2018-11-23T\"", "\"2018-11-23T11:32\"", "\"2018-11-23T11:32:24+05:30\"",
      "\"2018-11-23T11:32:24.123456789Z\"", "\"2018-11-23T11:32:24.1Z\"",
      "\"2018-11-23\\n\"", "\"2018-11-23T11:32:24\\n\"", "\"2018-11-23T11:32\\n24\"",
      "\"2018-11-23t11:32:24\"", "\"2018-1-23\"", "\"20181123\"", "\"2018-11-23T25:00:00\"",
      "\" 2018-11-23T11:32:24Z\"", "\"2018-11-23T11:32:24Z \"", "\"2018-11-23\\u2028\"",
      "\"\uff12018-11-23\"", "1542972744000", "true", "{\"t\": 1}", "[\"2018-11-23\"]")
      .flatMap(v => Seq(withValue("pickup_datetime", v), withValue("dropoff_datetime", v)))
    val padding = Seq("null", "5", "true", "{\"a\": 1}", "[]", "\"\"")
      .map(v => withValue("padding", v))
    val duplicates = Seq(
      valid.dropRight(1) + ", \"vendor_id\": null}",
      valid.dropRight(1) + ", \"vendor_id\": 7}",
      noPadding.dropRight(1) + ", \"padding\": null, \"padding\": \"p\"}",
      noPadding.dropRight(1) + ", \"padding\": \"p\", \"padding\": null}",
      "{\"vendor_id\": null, " + valid.drop(1),
      noPadding.dropRight(1) + ", \"x\": {\"padding\": null}}",
      valid.dropRight(1) + ", \"Vendor_ID\": 9, \"extra_field\": [1, {\"a\": NaN}]}")
    val roots = Seq("", "   ", "null", "true", "42", "\"str\"", "[]", s"[$valid]", "{}",
      "not json at all", "{\"broken\":")
    val trailing = Seq(valid + " trailing", valid + "}", valid + valid, valid + "\n",
      " \t" + valid, "\uFEFF" + valid)
    val truncated = Seq(1, 10, 40, valid.length / 2, valid.length - 2, valid.length - 1)
      .map(n => valid.take(n))
    // lenient-only syntax: from_json accepts it, json_object_keys may not —
    // which decides whether a present null counts as present
    val lenient = Seq(
      valid.replace("\"type\": \"trip\"", "'type': 'trip'"),
      noPadding.replace("\"type\": \"trip\"", "'type': 'trip'"),
      withValue("padding", "null").replace("\"type\": \"trip\"", "'type': 'trip'"),
      withValue(intField, "null").replace("\"type\": \"trip\"", "'type': 'trip'"),
      withValue("padding", "null").replace("\"extra\": 0.0", "\"extra\": NaN"),
      withValue(stringField, "null").replace("\"extra\": 0.0", "\"extra\": NaN"),
      withValue(doubleField, "NaN").replace("\"padding\": \"xx\"", "\"padding\": null"),
      withValue("type", "\"a\tb\"").replace("\"padding\": \"xx\"", "\"padding\": null"),
      "{'vendor_id': 2}", valid.replace("\"", "'"))
    val huge = Seq(withValue(longField, "9" * 1200), withValue(stringField, "\"" + "y" * 5000 + "\""))
    (Seq(valid, noPadding) ++ perField ++ numeric ++ strings ++ timestamps ++ padding ++
      duplicates ++ roots ++ trailing ++ truncated ++ lenient ++ huge).distinct
  }

  /** Lines whose bytes are not valid UTF-8, as hex: [[fromHex]] keeps the
    * raw bytes (binary → string), which a Scala String cannot carry. */
  private lazy val invalidUtf8: Seq[String] = {
    def hex(s: String) = s.getBytes("UTF-8").map("%02X".format(_)).mkString
    val cut = hex(valid.replace("\"trip\"", "\"tr"))
    val typeKey = valid.splitAt(valid.indexOf("\"type\"") + 1)
    Seq(
      cut + "FF" + hex("ip\"}"),
      cut + "C3" + hex("ip\"}"),
      hex(valid.dropRight(1) + ", \"zz\": \"") + "FE" + hex("\"}"),
      "EFBBBF" + hex(valid),
      "00" + hex(valid),
      hex(valid.dropRight(1) + ", \"pad") + "E9" + hex("ding\": null}"),
      // sequences Jackson's byte parser decodes without complaint but the
      // UTF-8 Reader replaces with U+FFFD: overlong forms (C0 80 is NUL,
      // C1 B4 is 't' — here spelling the key "type"), a CESU-8 surrogate
      // and a code point above U+10FFFF
      cut + "C080" + hex("ip\"}"),
      hex(typeKey._1) + "C1B4" + hex(typeKey._2.drop(1)),
      cut + "EDA080" + hex("ip\"}"),
      cut + "F4908080" + hex("ip\"}"))
  }

  private def fromHex(hexes: Seq[String]): DataFrame =
    hexes.toDF("h").select(unhex(col("h")).cast("string").as("value"))

  /** Each row as a string with doubles as raw bits, so 0.0 and -0.0 differ. */
  private def canonical(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      r.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d).toHexString
        case t: java.sql.Timestamp => s"${t.getTime}:${t.getNanos}"
        case null => "<null>"
        case v => v.toString
      }.mkString("\u0001")
    }.sorted

  private def assertSameParse(lines: DataFrame): Unit = {
    val got = TripEventCodec.parse(lines, col("value"))
    val want = TripEventCodecOracle.parse(lines, col("value"))
    assert(got.schema == want.schema)
    val (g, w) = (canonical(got), canonical(want))
    assert(g.length == w.length, s"${g.length} rows kept vs oracle ${w.length}")
    val diff = g.diff(w) ++ w.diff(g)
    assert(diff.isEmpty, s"rows differ from the oracle: ${diff.take(6).mkString("\n")}")
  }

  private def strictAccepts(parse: (DataFrame, Column) => DataFrame,
                            lines: DataFrame): Boolean =
    try { parse(lines, col("value")).collect(); true }
    catch { case e: Exception if messages(e).exists(_.contains("malformed TripEvent")) => false }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  test("parse schema is pinned: names, order, types and nullability") {
    val expected = StructType(TripEvent.inputSchema.fields.map(f => StructField(f.name,
      f.dataType, nullable = Set("pickup_datetime", "dropoff_datetime", "padding")(f.name))))
    val lines = Seq(valid).toDF("value")
    assert(TripEventCodec.parse(lines, col("value")).schema == expected)
    assert(TripEventCodec.parseStrict(lines, col("value")).schema == expected)
    assert(TripEventCodecOracle.parse(lines, col("value")).schema == expected)
  }

  test("the optimized parse plan decodes each line once") {
    val plan = TripEventCodec.parse(Seq(valid).toDF("value"), col("value"))
      .queryExecution.optimizedPlan.toString
    assert(plan.split(TripEventDecode.name, -1).length == 2, plan)
  }

  test("edge corpus: parse matches the oracle row for row") {
    assertSameParse(edgeCorpus.toDF("value"))
    assertSameParse(fromHex(invalidUtf8))
  }

  test("edge corpus: parseStrict accepts and rejects the same lines as the oracle") {
    val lines = edgeCorpus.map(l => Seq(l).toDF("value")) ++ invalidUtf8.map(h => fromHex(Seq(h)))
    val verdicts = lines.map { df =>
      (df.head().getString(0), strictAccepts(TripEventCodec.parseStrict, df),
        strictAccepts(TripEventCodecOracle.parseStrict, df))
    }
    val differing = verdicts.collect { case (l, got, want) if got != want => l }
    assert(differing.isEmpty, differing.mkString("\n"))
    // strict accepts exactly the lines parse keeps
    assert(verdicts.count(_._2) == TripEventCodec.parse(
      edgeCorpus.toDF("value").union(fromHex(invalidUtf8)), col("value")).count())
  }

  test("offset-less timestamps take the session zone, as the oracle does") {
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try {
      val lines = Seq("\"2018-11-23T11:32:24\"", "\"2018-11-23\"", "\"2018-11-23T11:32:24Z\"",
        "\"2018-03-11T02:30:00\"").map(v => withValue("pickup_datetime", v)).toDF("value")
      assertSameParse(lines)
      val utcTs = TripEventCodec.parse(Seq(withValue("pickup_datetime",
        "\"2018-11-23T11:32:24\"")).toDF("value"), col("value")).head()
        .getAs[java.sql.Timestamp]("pickup_datetime").getTime
      assert(utcTs == java.time.Instant.parse("2018-11-23T19:32:24Z").toEpochMilli)
    } finally spark.conf.set(key, saved)
  }

  test("seeded 100k-line corpus with ~2% damaged lines matches the oracle") {
    val n = 100000
    val lines = spark.range(0, n, 1, 4).map(i => TripEventDecodeSpec.corpusLine(42L, i))
      .toDF("value").cache()
    try {
      assertSameParse(lines)
      val kept = TripEventCodec.parse(lines, col("value")).count()
      assert(kept > n * 0.97 && kept < n, s"kept $kept of $n")
      assert(!strictAccepts(TripEventCodec.parseStrict, lines))
      assert(!strictAccepts(TripEventCodecOracle.parseStrict, lines))
    } finally lines.unpersist()
  }

  test("EtlPipeline and FileSink parquet output keep their schema and rows") {
    val lines = (edgeCorpus ++ (0 until 200).map(i => TripEventDecodeSpec.corpusLine(7L, i)))
      .toDF("value")
    val (got, want) = (tmpDir("decode-got"), tmpDir("decode-want"))
    EtlPipeline.writePartitioned(TripEventCodec.parse(lines, col("value")), got, parquet = true)
    EtlPipeline.writePartitioned(TripEventCodecOracle.parse(lines, col("value")), want,
      parquet = true)
    val gotSink = new graft.streaming.FileSink(tmpDir("decode-sink-got"), parquet = true, 0L)
    val wantSink = new graft.streaming.FileSink(tmpDir("decode-sink-want"), parquet = true, 0L)
    gotSink.write(TripEventCodec.parse(lines, col("value")), 0L)
    wantSink.write(TripEventCodecOracle.parse(lines, col("value")), 0L)
    for ((g, w) <- Seq(got -> want, gotSink.prefix -> wantSink.prefix)) {
      val (gd, wd) = (spark.read.parquet(g), spark.read.parquet(w))
      assert(gd.schema == wd.schema)
      assert(canonical(gd) == canonical(wd))
    }
  }
}

object TripEventDecodeSpec {

  /** Line `i` of a seeded trip corpus: about half without `padding`, about
    * 2% damaged (cut short, a field nulled, dropped, retyped or doubled, a
    * timestamp in another shape, garbage around the object). */
  def corpusLine(seed: Long, i: Long): String = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    def money(): String = {
      val cents = r.nextInt(-500, 20000)
      r.nextInt(4) match {
        case 0 => f"${cents / 100.0}%.2f"
        case 1 => (cents / 100.0).toString
        case 2 => (cents / 100).toString
        case _ => s"${cents}e-2"
      }
    }
    val pickupMs = 1514764800000L + r.nextLong(31L * 24 * 3600 * 1000)
    def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
    val kv = scala.collection.mutable.ArrayBuffer[(String, String)](
      "vendor_id" -> (1 + r.nextInt(2)).toString,
      "pickup_datetime" -> s""""${iso(pickupMs)}"""",
      "dropoff_datetime" -> s""""${iso(pickupMs + r.nextInt(3600000))}"""",
      "passenger_count" -> r.nextInt(7).toString,
      "trip_distance" -> money(),
      "ratecode_id" -> (1 + r.nextInt(6)).toString,
      "store_and_fwd_flag" -> (if (r.nextInt(20) == 0) "\"Y\"" else "\"N\""),
      "pickup_location_id" -> (1 + r.nextInt(265)).toString,
      "dropoff_location_id" -> (1 + r.nextInt(265)).toString,
      "payment_type" -> (1 + r.nextInt(4)).toString,
      "fare_amount" -> money(), "extra" -> money(), "mta_tax" -> money(),
      "tip_amount" -> money(), "tolls_amount" -> money(),
      "improvement_surcharge" -> money(), "total_amount" -> money(),
      "trip_id" -> (1000000000L + i).toString, "type" -> "\"trip\"")
    if (r.nextBoolean()) kv += "padding" -> ("\"" + "x" * r.nextInt(17) + "\"")
    val damage = if (r.nextInt(50) == 0) r.nextInt(8) else -1
    val f = r.nextInt(kv.length)
    damage match {
      case 1 => kv(f) = kv(f)._1 -> "null"
      case 2 => kv.remove(f)
      case 3 => kv(f) = kv(f)._1 -> Seq("true", "\"12\"", "{\"a\": 1}", "1E400", "-0", "\"x\"",
        "[1]", "2.5")(r.nextInt(8))
      case 4 => kv += kv(f)._1 -> Seq("null", "3", "\"dup\"")(r.nextInt(3))
      case 5 => kv(1) = kv(1)._1 -> Seq("\"2018-01-02 03:04:05\"", "\"2018-01-02\"",
        "\"2018-01-02T03:04:05\"", "1514851445000")(r.nextInt(4))
      case _ =>
    }
    val json = kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    damage match {
      case 0 => json.take(1 + r.nextInt(json.length - 1))
      case 6 => Seq(json + " tail", "x" + json, "[" + json + "]", json.replace("\"", "'"))(r.nextInt(4))
      case 7 => json.replace(", ", ",\n ")
      case _ => json
    }
  }
}
