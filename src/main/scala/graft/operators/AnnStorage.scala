package graft.operators

import graft.functions.VectorFunctions.{cosineNative, lshSigNative}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-time LSH bucketing for ANN at scale: the corpus is reorganized ONCE,
  * partitioned on its 6-bit hyperplane signature ([[graft.plans.LshSignature]]),
  * so a top-k probe reads only the partitions within the probe Hamming
  * radius — a partition-PRUNED scan (`PartitionFilters` in the plan, files
  * for other buckets never opened) instead of q43's full-scan filter.
  *
  * This is the true 100 TB shape of q43: the in-query `bit_count(sig ^
  * q_sig) <= r` filter still touches every row; after bucketing, the same
  * predicate becomes an IN-list over the partition column (the Hamming ball
  * is tiny: Σ_{i<=r} C(6,i) buckets of 64) and the scan skips every other
  * bucket's files at planning time. Re-ranking inside the ball is exact
  * cosine, identical to q43.
  */
object AnnStorage {

  /** One-time reorganization: embeddings partitioned by LSH bucket. */
  def writeSigBucketed(embeddings: DataFrame, dir: String): Unit =
    embeddings
      .withColumn("sig", lshSigNative(col("embedding")))
      .repartition(col("sig")) // one writer per bucket — no tiny-file spray
      .write.mode("overwrite").partitionBy("sig").parquet(dir)

  /** Incremental maintenance: append an arriving batch into the existing
    * bucket layout. The signature is a PURE function of the vector, so an
    * appended lake holds exactly the rows a full rewrite of the union
    * would — probes are row-identical (spec-pinned) and stay pruned; no
    * rebuild is ever required for correctness. The operational cost is
    * small-file accumulation (one file per touched bucket per batch),
    * which is the standard lake-maintenance problem, solved by the
    * standard tool: periodic [[graft.etl.LakeCompaction.compact]] over the
    * bucket dirs (probe-identical after compaction — also spec-pinned). */
  def appendSigBucketed(embeddings: DataFrame, dir: String): Unit =
    embeddings
      .withColumn("sig", lshSigNative(col("embedding")))
      .repartition(col("sig"))
      .write.mode("append").partitionBy("sig").parquet(dir)

  /** All 6-bit signatures within Hamming distance `radius` of `sig`. */
  def hammingBall(sig: Int, radius: Int): Seq[Int] =
    (0 until 64).filter(b => Integer.bitCount(b ^ sig) <= radius)

  /** Top-k by exact cosine among the buckets within `radius` of the query
    * vector's bucket. The IN-list on the partition column is what turns the
    * probe into a pruned scan. */
  def probe(spark: SparkSession, dir: String, queryVec: Array[Float],
            radius: Int = 2, k: Int = 10): DataFrame = {
    val qDf = spark.createDataFrame(Seq(Tuple1(queryVec))).toDF("q_emb")
    val qSig = qDf.select(lshSigNative(col("q_emb")).as("sig"))
      .head().getInt(0)
    val ball = hammingBall(qSig, radius).map(lit)
    spark.read.parquet(dir)
      .filter(col("sig").isin(ball: _*))
      .crossJoin(broadcast(qDf))
      .select(col("vec_id"), cosineNative(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(col("cos").desc_nulls_last, col("vec_id"))
      .limit(k)
  }
}
