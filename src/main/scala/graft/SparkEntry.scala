package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared-query inventory (SURVEY §2B); every entry
  * with an `oracleSql` twin is hash-verified against DuckDB by the driver at
  * sf0.01. Entries without oracle SQL (⚙ engine-only: probabilistic dedup,
  * ANN, language-ID, rolling hashes) get a rows-only check and are verified by
  * ScalaTest instead.
  */
object SparkEntry {

  private val groups: Seq[QueryGroup] = Seq(
    RelationalQueries,
    StreamEquivQueries,
    TextQueries,
    CorpusQueries,
    VectorQueries,
    DedupQueries,
    EtlQueries,
    MlQueries,
    MediaQueries,
    SketchQueries,
    GraphQueries,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q06_join_multiway")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each composes
    * in a [[RunScope]]: the first action over its result releases the
    * caches it persisted. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatMap(_.queries).toMap.map { case (name, q) =>
      name -> ((s: SparkSession, d: String) => RunScope.compose(q(s, d)))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ⚙ engine-only ops. */
  val oracleSql: Map[String, String] =
    groups.flatMap(_.oracles).toMap
}
