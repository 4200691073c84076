package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver testdata (`/root/testdata/sf*`).
  *
  * All queries go through these so per-table normalizations happen exactly
  * once. The only normalization today: `events.ts`, which the driver has
  * generated two ways across rounds —
  *  - parquet TIMESTAMP(NANOS) (rounds ≤ 10): with
  *    `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as a long of
  *    nanos-since-epoch, which we truncate (integer `div`) to µs
  *    TimestampType. DuckDB's parquet reader performs the identical ns→µs
  *    truncation, so oracle comparisons are exact.
  *  - parquet TIMESTAMP(MICROS) (round 11 regeneration): already µs; only
  *    the cast to NTZ applies.
  * The branch keys on the SURFACED type (long ⇒ the nanos legacy path), so
  * either generation reads correctly under either session config.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  // Plan-level memoization: re-building the reader per query re-lists files
  // and re-reads parquet footers; the relation (schema + file index) is
  // immutable for a given (session, path), so share it. NOT a data cache —
  // scans still read from disk. Each DataFrame holds its session, so the
  // weak session key never frees these entries: they live as long as the
  // JVM, which holds one session per runner (see SessionMemo).
  private val relations = new graft.operators.SessionMemo[DataFrame]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // self-heal: queries must work even on a session built without
    // spark.sql.extensions=GraftExtensions (idempotent, cheap)
    graft.plans.GraftFunctions.ensureRegistered(spark)
    relations(spark, s"$dir/$name.parquet")(build(spark, dir, name))
  }

  private def build(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    name match {
      case "events" =>
        // Either way the result is TIMESTAMP_NTZ (identity cast under the
        // UTC session) so ALL tables carry NTZ, matching both the TPC-H
        // parquet columns and DuckDB's naive timestamps.
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            // TIMESTAMP(NANOS) surfaced as long via nanosAsLong:
            // `ts div 1000` is integral division — no double rounding,
            // and DuckDB truncates ns→µs identically.
            df.withColumn("ts",
              timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
          case _ =>
            // TIMESTAMP(MICROS): already µs-precision
            df.withColumn("ts", col("ts").cast("timestamp_ntz"))
        }
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Register all tables as temp views (handy for spark.sql usage in tests). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
