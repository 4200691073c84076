package graft.plans

import java.io.ByteArrayOutputStream
import java.util.regex.Pattern

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType
import graft.etl.TripEvent
import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, Generator, GenericInternalRow, JsonObjectKeys, RuntimeReplaceable, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.catalyst.trees.TreePattern.TreePattern
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[graft.etl.TripEventCodec.parse]]: one streaming Jackson
  * pass per line decodes a TripEvent with the reference's getter quirks
  * (SURVEY §1.3):
  *
  *  1. timestamps are ISO-8601 text, parsed leniently (Joda `new
  *     DateTime(text)`): offset or none (→ session zone), any fraction
  *     length, date-only — but only the ISO family ('T' separator). An
  *     ISO shape guard rejects the forms Spark's timestamp parser would
  *     also accept (space-separated); an unparseable value, or the epoch
  *     numbers the serializer emits, drops the event;
  *  2. malformed input drops the event, never fails the stream (`parse`);
  *     `parseStrict` fails the job instead;
  *  3. an ABSENT field drops the event — every getter but `padding`'s is a
  *     bare `node.get(f)` that NPEs on a missing key (TripEventSchema.java:
  *     56-76), `trip_id` included; absent `padding` → "" (:53,76);
  *  4. a PRESENT-but-null or mistyped value coerces instead of dropping,
  *     like Jackson's `asInt`/`asLong`/`asDouble`: null or non-numeric → 0,
  *     numeric text parses (fractions truncate toward zero), JSON booleans →
  *     1/0 — and so do the strings "true"/"false"; `asText` renders null as
  *     the string "null", and a non-string value as its JSON text.
  *
  * The decode is bit-identical to the all-built-in formulation it replaced
  * (`from_json` of every field as text, `try_cast` back, `json_object_keys`
  * to tell absent from null — kept as the test oracle): the line is read
  * the way `from_json` reads it, through `CreateJacksonParser.utf8String`
  * (a UTF-8 Reader, so malformed bytes become U+FFFD) with a parser from
  * the same `JSONOptions` (single quotes and NaN tokens allowed), a
  * field's "text" is what `from_json` would produce for it, and the rare
  * coercions go through Spark's own TRY-mode `Cast` and
  * `DateTimeUtils.stringToTimestamp`. The common case never builds the text:
  * a number of the field's kind converts natively.
  *
  * Seen/null bitmasks track which keys the line carried, so an absent field
  * is known without a second parse. Only a present null re-reads the line,
  * through Spark's `json_object_keys`, because that (stricter) parse decides
  * whether the key counts as present.
  */
private[plans] final class TripEventDecoder(timeZoneId: String, strict: Boolean) {
  import TripEventDecoder._

  private val zone = DateTimeUtils.getZoneId(timeZoneId)
  private val factory: JsonFactory =
    new JSONOptions(Map("mode" -> "PERMISSIVE"), timeZoneId, "").buildJsonFactory()

  private val slot = new java.util.HashMap[String, Integer]()
  Names.indices.foreach(i => slot.put(Names(i), i))

  /** `from_json` text → typed value, through the TRY-mode casts the
    * reference coercions map to (null → the Jackson default). */
  private val text = BoundReference(0, StringType, nullable = true)
  private def tryCast(e: Expression, to: DataType): Expression =
    Cast(e, to, Some(timeZoneId), EvalMode.TRY)
  private val toInt = tryCast(tryCast(text, DoubleType), IntegerType)
  private val toLong = tryCast(text, LongType)
  private val toLongViaDouble = tryCast(tryCast(text, DoubleType), LongType)
  private val toDouble = tryCast(text, DoubleType)
  private val keysOf = JsonObjectKeys(text) match {
    case r: RuntimeReplaceable => r.replacement
    case e => e
  }

  /** One decoded row, or null when the reference would drop the line. */
  def decode(raw: UTF8String): InternalRow = {
    val row = if (raw == null) null else {
      try decodeWith(CreateJacksonParser.utf8String(factory, raw), raw)
      catch { case NonFatal(_) => null }
    }
    if (row == null && strict) {
      throw new SparkException(s"malformed TripEvent: $raw")
    }
    row
  }

  private def decodeWith(p: JsonParser, raw: UTF8String): InternalRow =
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) null
      else {
        val values = new Array[Any](Names.length)
        var seen = 0
        var t = p.nextToken()
        while (t != JsonToken.END_OBJECT && t != null) {
          val f = slot.get(p.currentName())
          p.nextToken()
          if (f == null) p.skipChildren()
          else {
            values(f) = field(f, p)
            seen |= 1 << f
          }
          t = p.nextToken()
        }
        complete(values, seen, raw)
      }
    } finally p.close()

  /** Quirk 3 (absent → drop, absent padding → ""), quirk 1 (unparseable
    * timestamp → drop) and quirk 4's null side. */
  private def complete(values: Array[Any], seen: Int, raw: UTF8String): InternalRow = {
    if ((seen & RequiredMask) != RequiredMask ||
      values(Pickup) == null || values(Dropoff) == null) return null
    var nulls = 0
    var f = 0
    while (f < values.length) {
      if (values(f) == null && (seen & (1 << f)) != 0) nulls |= 1 << f
      f += 1
    }
    if (nulls != 0) {
      // a present null counts as present only if json_object_keys can list
      // the line's keys
      val listed = keysOf.eval(new GenericInternalRow(Array[Any](raw))) != null
      if (!listed && (nulls & RequiredMask) != 0) return null
      f = 0
      while (f < values.length) {
        if ((nulls & (1 << f)) != 0) values(f) =
          if (f == Padding) (if (listed) NullText else Empty) else Defaults(Kinds(f))
        f += 1
      }
    }
    if ((seen & (1 << Padding)) == 0) values(Padding) = Empty
    new GenericInternalRow(values)
  }

  /** The value of field `f`, the parser on its value token; null for a JSON
    * null or an unparseable timestamp. */
  private def field(f: Int, p: JsonParser): Any = {
    val kind = Kinds(f)
    p.currentToken() match {
      case JsonToken.VALUE_NULL | null => null
      case JsonToken.VALUE_STRING => fromText(kind, UTF8String.fromString(p.getText))
      case JsonToken.VALUE_NUMBER_INT if kind != StringKind && kind != TsKind &&
          p.getNumberType != NumberType.BIG_INTEGER =>
        kind match {
          case IntKind if p.getNumberType == NumberType.INT => p.getIntValue
          case IntKind => fromText(kind, textOf(p))
          case LongKind => p.getLongValue
          case _ => p.getLongValue.toDouble
        }
      case JsonToken.VALUE_NUMBER_FLOAT if kind == DoubleKind &&
          java.lang.Double.isFinite(p.getDoubleValue) => p.getDoubleValue
      case _ => fromText(kind, textOf(p))
    }
  }

  private def fromText(kind: Int, s: UTF8String): Any = kind match {
    case StringKind => s
    case TsKind => timestamp(s)
    case _ => coerce(kind, s)
  }

  /** What `from_json` yields for a non-string token read as a string: the
    * token (or the whole nested value) re-serialized by a generator of the
    * same factory — e.g. `1E400` → `"Infinity"`, `-0` → `0`. */
  private def textOf(p: JsonParser): UTF8String = {
    val out = new ByteArrayOutputStream()
    val g = factory.createGenerator(out, JsonEncoding.UTF8)
    try g.copyCurrentStructure(p) finally g.close()
    UTF8String.fromBytes(out.toByteArray)
  }

  /** Quirk 4 on text: booleans (JSON or quoted) → 1/0, then TRY casts;
    * what does not cast takes the getter's default. */
  private def coerce(kind: Int, s: UTF8String): Any = {
    val in = new GenericInternalRow(Array[Any](
      if (s == True) One else if (s == False) Zero else s))
    val v = kind match {
      case IntKind => toInt.eval(in)
      case LongKind => Option(toLong.eval(in)).getOrElse(toLongViaDouble.eval(in))
      case _ => toDouble.eval(in)
    }
    if (v == null) Defaults(kind) else v
  }

  /** Joda-parity timestamp parse: ISO family only, never space-separated
    * (`rlike` of [[IsoShape]], as the test oracle states it). */
  private def timestamp(s: UTF8String): Any =
    if (!IsoShape.matcher(s.toString).find(0)) null
    else DateTimeUtils.stringToTimestamp(s, zone) match {
      case Some(micros) => micros
      case None => null
    }
}

private[plans] object TripEventDecoder {
  private val Names = TripEvent.inputSchema.fieldNames
  private val StringKind = 0
  private val IntKind = 1
  private val LongKind = 2
  private val DoubleKind = 3
  private val TsKind = 4
  private val Kinds: Array[Int] = TripEvent.inputSchema.fields.map(_.dataType match {
    case StringType => StringKind
    case IntegerType => IntKind
    case LongType => LongKind
    case DoubleType => DoubleKind
    case TimestampType => TsKind
    case other => throw new IllegalStateException(s"unhandled $other")
  })
  private val Padding = Names.indexOf("padding")
  private val Pickup = Names.indexOf("pickup_datetime")
  private val Dropoff = Names.indexOf("dropoff_datetime")
  private val RequiredMask: Int =
    TripEvent.requiredFields.map(f => 1 << Names.indexOf(f)).reduce(_ | _)
  private val NullText = UTF8String.fromString("null")
  /** A present null's value per field kind (Jackson's getter defaults). */
  private val Defaults: Array[Any] = Array(NullText, 0, 0L, 0.0, null)
  private val Empty = UTF8String.fromString("")
  private val True = UTF8String.fromString("true")
  private val False = UTF8String.fromString("false")
  private val One = UTF8String.fromString("1")
  private val Zero = UTF8String.fromString("0")

  private val IsoShape = Pattern.compile("^[0-9]{4}-[0-9]{2}-[0-9]{2}(T.*)?$")
}

/** trip_event_decode(json string, strict boolean literal): the TripEvent
  * generator — 0 or 1 rows per line, or (strict) 1 row or a job failure.
  * Registered with the rest of the graft kernels in [[GraftFunctions]].
  *
  * A generator rather than a struct-valued expression plus `isnotnull`
  * filter: PushPredicateThroughNonJoin moves such a filter below the
  * projection and evaluates the decode twice per row. CodegenFallback:
  * `Generate` runs it interpreted, and the JSON pass dominates its cost. */
case class TripEventDecode(child: Expression, strict: Boolean,
                           timeZoneId: Option[String] = None)
    extends UnaryExpression with Generator with CodegenFallback
    with TimeZoneAwareExpression {

  override def prettyName: String = TripEventDecode.name
  override def elementSchema: StructType = TripEventDecode.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  // both traits define nodePatterns; TimeZoneAwareExpression's (mixed in
  // last) takes this hook, without which the analyzer's generator rules
  // would not find the generator
  override def nodePatternsInternal(): Seq[TreePattern] = Seq(TreePattern.GENERATOR)

  override def withTimeZone(id: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(id))

  @transient private lazy val decoder = new TripEventDecoder(timeZoneId.get, strict)

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    Option(decoder.decode(child.eval(input).asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TripEventDecode {
  val name = "trip_event_decode"

  /** The decoded row: TripEvent's input fields; timestamps and padding are
    * nullable in the type, the rest never null. */
  val schema: StructType = StructType(TripEvent.inputSchema.fields.map { f =>
    f.copy(nullable = Set("pickup_datetime", "dropoff_datetime", "padding")(f.name))
  })

}
