package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic testdata scaler: materializes an N×-size copy of a
  * driver-generated scale-factor directory by unioning `copies` key-shifted
  * replicas of every fact table, keeping all foreign keys consistent WITHIN
  * each replica (each key column shifts by its own domain's max+1, so
  * replica c's orders reference replica c's customers). Dimension tables
  * (region, nation) stay fixed — the TPC-H convention — and every replica's
  * rows reference the shared dimensions.
  *
  * Replica VALUES are identical on purpose: at crawl scale duplication IS
  * the data (a 10× corpus with 10 copies of every document stresses
  * exactly the fingerprint-collapse / banding paths dedup claims to
  * handle), and identical rows keep the generator free of RNG state.
  *
  * Usage: `runMain graft.ScaleData <srcSfDir> <outDir> <copies>` — e.g.
  * sf0.1 × 10 ≈ sf1 for the whole-suite scale checkpoint (BASELINE.md).
  * Bench-input tooling only: correctness oracles keep running on the
  * driver's own sf directories.
  */
object ScaleData {

  // key domains: (owning table, key column) — offset = max+1 of the column
  private val domains: Map[String, (String, String)] = Map(
    "cust" -> ("customer", "c_custkey"),
    "supp" -> ("supplier", "s_suppkey"),
    "part" -> ("part", "p_partkey"),
    "ord" -> ("orders", "o_orderkey"),
    "ev" -> ("events", "event_id"),
    "user" -> ("events", "user_id"),
    "doc" -> ("documents", "doc_id"),
    "vec" -> ("embeddings", "vec_id"))

  // fact table → its BIGINT key columns and their domains
  private val shifted: Seq[(String, Seq[(String, String)])] = Seq(
    "customer" -> Seq("c_custkey" -> "cust"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "ord", "o_custkey" -> "cust"),
    "lineitem" -> Seq("l_orderkey" -> "ord", "l_partkey" -> "part",
      "l_suppkey" -> "supp"),
    "events" -> Seq("event_id" -> "ev", "user_id" -> "user"),
    "documents" -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec"))

  private val copied = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleData <srcSfDir> <outDir> <copies>")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus, "graft-scale-data")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args(0), args(1), args(2).toInt)
    finally spark.stop()
  }

  /** The materialization itself, session supplied by the caller (the main
    * above owns-and-stops its own; ScaleDataSpec passes the shared test
    * session, which must NOT be stopped). */
  def run(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    require(copies >= 1, s"copies=$copies")
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    val offset: Map[String, Long] = domains.map { case (d, (t, c)) =>
      d -> (read(t).agg(max(col(c).cast("long"))).head().getLong(0) + 1L)
    }
    copied.foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaledata] $t copied")
    }
    shifted.foreach { case (t, keys) =>
      val base = read(t)
      val withC = base.crossJoin(
        broadcast(spark.range(copies).select(col("id").as("__c"))))
      val scaled = keys.foldLeft(withC) { case (df, (c, d)) =>
        df.withColumn(c, col(c) + col("__c") * offset(d))
      }.drop("__c")
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaledata] $t x$copies -> ${base.count() * copies} rows")
    }
  }
}
