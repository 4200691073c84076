package graft

import org.apache.spark.sql.SparkSession

/** Single place where every graft SparkSession is configured.
  *
  * Design notes (scale-first):
  *  - AQE stays on: at 100 TB the optimizer must re-plan joins/skew at runtime
  *    (coalesce post-shuffle partitions, convert to broadcast when a side turns
  *    out small, split skewed partitions).
  *  - `nanosAsLong`: the `events` table carries parquet TIMESTAMP(NANOS), which
  *    Spark's TimestampType (µs) cannot represent; we read the raw nanos longs
  *    and truncate to µs in [[Tables.events]] — byte-identical to what DuckDB's
  *    reader does (ns → µs truncation), so differential oracles line up.
  *  - Session timezone is pinned to UTC so timestamp rendering is deterministic
  *    across environments.
  */
object GraftSession {

  /** Apply graft's standard configuration to any builder. */
  def withGraftConfs(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // ObjectHashAggregate (every collect_list/collect_set and typed/
    // imperative aggregate: q133's adjacency build, knnEdges' candidate
    // lists, q254's register merge) falls back to SORT-BASED aggregation
    // after this many distinct keys in one task's hash map — and Spark's
    // default is 128, so at any real group count those stages silently
    // sort their full input (r20 profile: q254's 12M-row merge rounds
    // each re-sorted ~3 GB; the q133 adjacency paid the same). 64k keys
    // × ~1 KB typical buffer ≈ 64 MB per task — bounded at any scale
    // (it is a per-task cap, not a per-executor one); deployments with
    // giant per-group buffers can lower it back per session.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    // Partition columns written by the ETL sink are zero-padded strings
    // ("pickup_location=007"); never re-infer them as ints on read.
    .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    .config("spark.ui.enabled", "false")

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors().min(32),
            shufflePartitions: Int = 32,
            appName: String = "graft"): SparkSession =
    withGraftConfs(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        // managed tables (bucketing demos/tests) land in a temp warehouse,
        // never in the working directory; removed at JVM exit like every
        // session-scoped scratch tree (TempDirs)
        .config("spark.sql.warehouse.dir",
          graft.operators.TempDirs.scoped("graft-warehouse"))
    ).getOrCreate()
}
