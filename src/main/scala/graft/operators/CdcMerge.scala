package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture merge — applying a Debezium-shaped change feed
  * (key, sequence number, op ∈ {U upsert, D delete}, full row image) to a
  * lake table. The complement of [[ScdMerge]]: SCD2 keeps history for
  * dimensions; CDC merge maintains the CURRENT snapshot for fact/state
  * tables, the `MERGE INTO` every Delta/Iceberg/Hudi pipeline runs.
  *
  * Two physical strategies, same semantics:
  *
  *  - '''Copy-on-write''' ([[apply]]): resolve the batch to one winning
  *    change per key (max sequence), anti-join the base, union. Each
  *    merge rewrites the table — reads stay a plain scan, ingest pays
  *    O(base + batch).
  *  - '''Merge-on-read''' ([[appendDelta]] / [[readView]] / [[compact]]):
  *    ingest appends the raw change batch as a `delta/batch=N` partition
  *    (O(batch), no base rewrite — the only viable ingest at 100 TB
  *    base sizes with frequent small batches); reads resolve base ∪
  *    deltas to the latest row per key; [[compact]] folds accumulated
  *    deltas back into the base so read cost stays bounded. This is the
  *    Hudi MOR / Iceberg merge-on-read discipline.
  *
  * Determinism contract: the winner per key is the change with the
  * highest `seq`; callers must make `(key, seq)` unique (CDC log offsets
  * are). Resolution is a row_number window — one key-keyed shuffle that
  * the anti-join reuses. At scale, bucket base and deltas by key to make
  * both resolution and the anti-join shuffle-free; batches are usually
  * broadcastable so the COW anti-join never moves the base.
  */
object CdcMerge {

  /** One winning change per key: highest `seq`. `(key, seq)` unique by
    * caller contract, so the order is total and the result deterministic. */
  def latest(changes: DataFrame, key: String, seqCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol).desc)
    changes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Copy-on-write merge: the new snapshot after applying `changes` to
    * `base`. Change rows carry the FULL row image (base's columns), plus
    * `seqCol` and `opCol`; upserts of unseen keys are inserts, deletes of
    * unseen keys are no-ops. Returns base's columns. */
  def apply(base: DataFrame, changes: DataFrame, key: String,
      seqCol: String, opCol: String): DataFrame = {
    val win = latest(changes, key, seqCol)
    val upserts = win.filter(col(opCol) =!= "D")
      .select(base.columns.map(col): _*)
    base.join(win.select(col(key)), Seq(key), "left_anti")
      .unionByName(upserts)
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Initialize a merge-on-read table: write `df` as the base snapshot. */
  def writeBase(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/base")

  /** O(batch) ingest: append a change batch as its own delta partition.
    * `batch` must be fresh (monotone, never reused) — the partition is the
    * idempotence unit: a replayed batch overwrites exactly its own
    * directory (the VectorStream dynamic-overwrite discipline). */
  def appendDelta(changes: DataFrame, dir: String, batch: Long): Unit =
    changes.write.mode("overwrite").parquet(s"$dir/delta/batch=$batch")

  /** The read-time view: base rows rank BELOW every delta (seq = MinValue)
    * and resolve per key against all accumulated change rows; winners with
    * op = D disappear. Row-identical to folding [[apply]] over the delta
    * batches in order (CdcMergeSpec pins it) as long as `seq` is monotone
    * across batches.
    *
    * `payload` = the table's CURRENT columns. Schema evolution: frames
    * written before a column existed surface it as a typed null
    * (mergeSchema across deltas + null-filled projection), so adding a
    * column is just writing deltas that carry it — no base rewrite.
    *
    * @param asOfBatch time travel: resolve only deltas with batch id
    *   ≤ this bound — the table exactly as it stood after that ingest
    *   (delta partitions are immutable once written, so historical views
    *   are stable). None = current. The bound filters the delta PARTITION
    *   column, so history reads prune to their batch directories. */
  def readView(spark: SparkSession, dir: String, key: String,
      seqCol: String, opCol: String, payload: Seq[String],
      asOfBatch: Option[Long] = None): DataFrame = {
    val f = fs(spark, dir)
    val deltaDir = new Path(s"$dir/delta")
    val deltas =
      if (f.exists(deltaDir) && f.listStatus(deltaDir).nonEmpty) {
        val d = spark.read.option("mergeSchema", "true")
          .parquet(s"$dir/delta")
        Some(asOfBatch.fold(d)(b => d.filter(col("batch") <= b)))
      } else None
    val baseRaw = spark.read.parquet(s"$dir/base")
    def typeOf(c: String) =
      deltas.filter(_.columns.contains(c)).getOrElse(baseRaw)
        .schema(c).dataType
    def proj(df: DataFrame, extra: Seq[String]) = {
      val have = df.columns.toSet
      df.select((payload ++ extra).map(c =>
        if (have(c)) col(c) else lit(null).cast(typeOf(c)).as(c)): _*)
    }
    val base = proj(baseRaw, Nil)
      .withColumn(seqCol, lit(Long.MinValue))
      .withColumn(opCol, lit("U"))
    val all = deltas.fold(base)(d =>
      base.unionByName(proj(d, Seq(seqCol, opCol))))
    latest(all, key, seqCol)
      .filter(col(opCol) =!= "D")
      .select(payload.map(col): _*)
  }

  /** Fold accumulated deltas into the base: materialize the view, swap it
    * in as the new base, drop the deltas. The view over a compacted table
    * is identical to the view before compaction (spec-pinned); read cost
    * drops back to a plain base scan. Single-writer contract like
    * LakeCompaction: no concurrent ingest during the swap. Compaction
    * truncates time travel: `asOfBatch` views older than the compaction
    * point are no longer reconstructable (the Delta/Iceberg VACUUM
    * trade-off — retain deltas longer if history matters). */
  def compact(spark: SparkSession, dir: String, key: String,
      seqCol: String, opCol: String, payload: Seq[String]): Unit = {
    val resolved = readView(spark, dir, key, seqCol, opCol, payload)
    resolved.write.mode("overwrite").parquet(s"$dir/base_next")
    val f = fs(spark, dir)
    f.delete(new Path(s"$dir/base"), true)
    LakeCommit.rename(f, new Path(s"$dir/base_next"), new Path(s"$dir/base"))
    f.delete(new Path(s"$dir/delta"), true)
  }
}
