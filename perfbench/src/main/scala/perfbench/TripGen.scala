package perfbench

import java.sql.Timestamp
import java.time.Instant
import java.util.SplittableRandom

import graft.etl.TripEvent

/** Seeded TripEvent generator for the backlog and the paced replay.
  *
  * Record `i` is a pure function of (seed, i), so the same inputs can be
  * rebuilt on executors to form the expected set without keeping it on the
  * driver. Pickups are chronological at the reference's 3600x replay speed:
  * record `i` is sent `i / rate` seconds into the run and its pickup lies
  * `3600 * i / rate` seconds after 2018-01-01, so a run touches about one
  * month. Zone ids are Zipf-skewed over 1..265 and `trip_id`s are unique.
  *
  * A seeded small share of records is damaged, and each record carries the
  * outcome the pipeline must produce for it:
  *  - [[TripGen.PresentNull]]: one field is a JSON null; kept and coerced;
  *  - [[TripGen.Missing]]: one required field is absent; dropped;
  *  - [[TripGen.Malformed]]: the line is cut short; dropped.
  */
final case class TripGen(seed: Long, rate: Double) {
  import TripGen._

  private def rng(i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L)

  def outcome(i: Long): Int = {
    val u = rng(i).nextDouble()
    if (u < NullShare) PresentNull
    else if (u < NullShare + MissingShare) Missing
    else if (u < NullShare + MissingShare + MalformedShare) Malformed
    else Valid
  }

  def kept(i: Long): Boolean = { val o = outcome(i); o == Valid || o == PresentNull }

  def tripId(i: Long): Long = 1000000000L * (1 + math.floorMod(seed, 1000L)) + i

  /** Partition key of the queue append: the trip id, so records spread over
    * shards like the reference's producer keys. */
  def partitionKey(i: Long): String = tripId(i).toString

  /** Seconds after the start of the run at which record `i` is sent. */
  def sendOffsetSec(i: Long): Double = i / rate

  /** The generated trip, as the pipeline must emit it (coercions applied),
    * plus the wire line and its outcome. */
  def record(i: Long): Rec = {
    val o = outcome(i)
    val r = rng(i)
    r.nextDouble() // the draw `outcome` made
    val pickupMs = Epoch2018Ms + math.round(sendOffsetSec(i) * 3600.0 * 1000.0)
    val dropoffMs = pickupMs + (120 + r.nextInt(3480)) * 1000L
    val fare = 250 + r.nextInt(6000)
    val extra = if (r.nextInt(3) == 0) 50 else 0
    val tip = r.nextInt(1500)
    val tolls = if (r.nextInt(10) == 0) 576 else 0
    val values = Array[Any](
      1 + r.nextInt(2),                       // vendor_id
      new Timestamp(pickupMs),
      new Timestamp(dropoffMs),
      1 + r.nextInt(6),                       // passenger_count
      (10 + r.nextInt(2500)) / 100.0,         // trip_distance
      1 + r.nextInt(6),                       // ratecode_id
      if (r.nextInt(20) == 0) "Y" else "N",   // store_and_fwd_flag
      zone(r.nextDouble()),                   // pickup_location_id
      zone(r.nextDouble()),                   // dropoff_location_id
      1 + r.nextInt(4),                       // payment_type
      fare / 100.0, extra / 100.0, 0.5, tip / 100.0, tolls / 100.0, 0.3,
      (fare + extra + 50 + tip + tolls + 30) / 100.0, // total_amount
      tripId(i),
      "trip",
      if (r.nextBoolean()) "x" * (1 + r.nextInt(16)) else null) // padding
    val damaged = if (o == PresentNull) NullableFields(r.nextInt(NullableFields.length))
      else if (o == Missing) RequiredFields(r.nextInt(RequiredFields.length)) else -1
    val json = line(values, damaged, o)
    val cut = if (o == Malformed) json.substring(0, 1 + r.nextInt(json.length - 2)) else json
    if (o == PresentNull) values(damaged) = coerced(damaged)
    if (values(Padding) == null) values(Padding) = ""
    Rec(o, cut, values)
  }

  private def line(v: Array[Any], damaged: Int, o: Int): String = {
    val sb = new StringBuilder(480)
    sb.append('{')
    var first = true
    var f = 0
    while (f < Names.length) {
      val absent = (o == Missing && f == damaged) || (f == Padding && v(f) == null)
      if (!absent) {
        if (!first) sb.append(", ")
        first = false
        sb.append('"').append(Names(f)).append("\": ")
        if (o == PresentNull && f == damaged) sb.append("null")
        else v(f) match {
          case s: String => sb.append('"').append(s).append('"')
          case t: Timestamp => sb.append('"').append(Instant.ofEpochMilli(t.getTime)).append('"')
          case d: Double => sb.append(BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toString)
          case other => sb.append(other.toString)
        }
      }
      f += 1
    }
    sb.append('}').toString
  }
}

object TripGen {
  final val Valid = 0
  final val PresentNull = 1
  final val Missing = 2
  final val Malformed = 3

  final val NullShare = 0.01
  final val MissingShare = 0.005
  final val MalformedShare = 0.005

  val Epoch2018Ms: Long = Instant.parse("2018-01-01T00:00:00Z").toEpochMilli
  val Names: Array[String] = TripEvent.inputSchema.fieldNames
  private val Padding = Names.indexOf("padding")
  private val RequiredFields: Array[Int] =
    TripEvent.requiredFields.map(f => Names.indexOf(f)).toArray
  /** Fields whose present null the codec coerces: a number to 0, a string to
    * the text "null" (Jackson's asInt/asDouble/asText). */
  private val NullableFields: Array[Int] = Array(
    "passenger_count", "tip_amount", "store_and_fwd_flag", "dropoff_location_id",
    "tolls_amount").map(f => Names.indexOf(f))
  private def coerced(f: Int): Any = TripEvent.inputSchema.fields(f).dataType match {
    case org.apache.spark.sql.types.IntegerType => 0
    case org.apache.spark.sql.types.DoubleType => 0.0
    case _ => "null"
  }

  /** Zipf(1.0) over 265 taxi zones: rank k has weight 1/k; the rank-to-zone
    * map is a fixed scramble so the hot zones are not simply the low ids. */
  private val ZoneCdf: Array[Double] = {
    val w = (1 to 265).map(k => 1.0 / k)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private def zone(u: Double): Int = {
    val k = java.util.Arrays.binarySearch(ZoneCdf, u)
    val rank = if (k >= 0) k else math.min(-k - 1, 264)
    (rank * 97) % 265 + 1
  }

  final case class Rec(outcome: Int, line: String, values: Array[Any]) {
    def kept: Boolean = outcome == Valid || outcome == PresentNull
  }
}
