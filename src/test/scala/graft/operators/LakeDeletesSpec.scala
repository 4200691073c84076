package graft.operators

import graft.{FailingRenameFileSystem, SparkSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Physical contract of [[LakeDeletes]]: footer-stat pruning (untouched
  * files byte-identical), survivor integrity, empty-file removal,
  * idempotent re-run, and the staged-rename crash replay. */
class LakeDeletesSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** A 3-file lake with disjoint id ranges 0-99 / 100-199 / 200-299. */
  private def buildLake(): String = {
    val dir = tmpDir("lakedel")
    (0 until 3).foreach { f =>
      (f * 100 until (f + 1) * 100)
        .map(i => (i.toLong, s"src${i % 4}", s"text $i"))
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    }
    dir
  }

  private def snapshot(dir: String): Map[String, (Long, Long)] =
    fs.listStatus(new Path(s"$dir/data")).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName ->
        ((st.getLen, st.getModificationTime))).toMap

  test("erase rewrites only range-intersecting files; survivors intact") {
    val dir = buildLake()
    val before = snapshot(dir)
    assert(before.size == 3)
    val ids = Seq(150L, 160L, 170L) // middle file only
    val rep = LakeDeletes.erase(spark, s"$dir/data", ids, "doc_id")
    assert(rep.filesTotal == 3 && rep.filesCandidate == 1 &&
      rep.filesTouched == 1 && rep.rowsDeleted == 3L)
    val after = snapshot(dir)
    assert(after.size == 3)
    // the two untouched files are the same physical files
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.size == 1, s"changed=$changed")
    val left = spark.read.parquet(s"$dir/data")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(left == (0L to 299L).filterNot(ids.contains))
  }

  test("many-file erase (concurrent per-file path): all files touched, survivors exact") {
    // 12 files, every one carrying a hit — exercises the pooled
    // per-file path (count + staged write + rename commit per file,
    // concurrently) end to end
    val dir = tmpDir("lakedel-many")
    (0 until 12).foreach { f =>
      (f * 50 until (f + 1) * 50)
        .map(i => (i.toLong, s"src${i % 4}", s"text $i"))
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    }
    val ids = (0L until 600L by 25L).toSeq // two hits per file
    val rep = LakeDeletes.erase(spark, s"$dir/data", ids, "doc_id")
    assert(rep.filesTotal == 12 && rep.filesTouched == 12 &&
      rep.rowsDeleted == ids.size.toLong, rep)
    val left = spark.read.parquet(s"$dir/data")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(left == (0L until 600L).filterNot(ids.contains))
    assert(!fs.exists(new Path(s"$dir/data/.erase-staging")))
  }

  test("a failed per-file commit rethrows only when no per-file work is in flight; a re-run converges") {
    FailingRenameFileSystem.register(spark)
    val local = tmpDir("lakedel-fail")
    (0 until 8).foreach { f =>
      (f * 50 until (f + 1) * 50)
        .map(i => (i.toLong, s"src${i % 4}", s"text $i"))
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append").parquet(s"$local/data")
    }
    val dir = s"failrename://$local/data"
    val dataDir = new Path(s"$local/data")
    val victim = fs.listStatus(dataDir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).min
    val ids = (0L until 400L by 25L).toSeq // two hits per file
    // hook the eight per-file commit renames (staged file → its original
    // path); only the victim's fails, the other seven are still renaming
    FailingRenameFileSystem.arm(expected = 8,
      hooked = _.getParent.toUri.getPath == dataDir.toUri.getPath,
      fails = _.getName == victim)
    try {
      val e = intercept[java.io.IOException](
        LakeDeletes.erase(spark, dir, ids, "doc_id"))
      assert(e.getMessage.contains("commit rename failed") &&
        e.getMessage.contains(victim), e.getMessage)
      assert(FailingRenameFileSystem.othersAtFailure.get() == 7)
      // no per-file work is still running: a re-run started now cannot
      // race one
      assert(FailingRenameFileSystem.inFlight.get() == 0)
    } finally FailingRenameFileSystem.armed = false
    // the victim's survivors are staged; the re-run replays them in
    val rep = LakeDeletes.erase(spark, dir, ids, "doc_id")
    assert(rep.filesTotal == 8 && rep.filesTouched == 0, rep)
    val left = spark.read.parquet(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(left == (0L until 400L).filterNot(ids.contains))
    assert(!fs.exists(new Path(dataDir, ".erase-staging")))
  }

  test("re-running the same batch touches zero files") {
    val dir = buildLake()
    LakeDeletes.erase(spark, s"$dir/data", Seq(42L, 250L), "doc_id")
    val mid = snapshot(dir)
    val rep2 = LakeDeletes.erase(spark, s"$dir/data", Seq(42L, 250L),
      "doc_id")
    // ranges still intersect (min/max unchanged around the holes) but the
    // membership count read skips the rewrite
    assert(rep2.filesTouched == 0 && rep2.rowsDeleted == 0L)
    assert(snapshot(dir) == mid)
  }

  test("a fully-erased file is deleted outright") {
    val dir = buildLake()
    val rep = LakeDeletes.erase(spark, s"$dir/data",
      (100L to 199L).toSeq, "doc_id")
    assert(rep.filesTouched == 1 && rep.rowsDeleted == 100L)
    assert(snapshot(dir).size == 2)
    assert(spark.read.parquet(s"$dir/data").count() == 200L)
  }

  test("replayStaging finishes an interrupted commit; staged file wins") {
    val dir = buildLake()
    val dataDir = new Path(s"$dir/data")
    val victim = fs.listStatus(dataDir).filter(_.isFile)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    // fabricate the crash: a fully-written staged survivor file exists,
    // the destination was never replaced
    val stagedContent = spark.read.parquet(victim.toString)
      .filter(col("doc_id") % 2 === 0)
    val tmp = new Path(s"$dir/stagetmp")
    stagedContent.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val stage = new Path(s"$dir/data/.erase-staging")
    fs.mkdirs(stage)
    fs.rename(part, new Path(stage,
      java.net.URLEncoder.encode(victim.getName, "UTF-8")))
    fs.delete(tmp, true)
    val n = LakeDeletes.replayStaging(spark, s"$dir/data")
    assert(n == 1)
    assert(!fs.exists(stage))
    // the staged (even-ids) version of the victim file is now in place
    val total = spark.read.parquet(s"$dir/data").count()
    assert(total == 250L) // 300 − the 50 odd ids staged out of one file
  }

  test("vacuumStaging: aged staged file COMPLETES, aged tmp dir deletes, young entries untouched") {
    val dir = buildLake()
    val dataDir = s"$dir/data"
    val victim = fs.listStatus(new Path(dataDir)).filter(_.isFile)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    // fabricate an abandoned crash: one committed staged survivor file
    // (only evens of the victim) + one torn in-progress tmp write dir
    val tmp = new Path(s"$dir/stagetmp")
    spark.read.parquet(victim.toString).filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val stage = new Path(s"$dataDir/.erase-staging")
    fs.mkdirs(stage)
    fs.rename(part, new Path(stage,
      java.net.URLEncoder.encode(victim.getName, "UTF-8")))
    fs.delete(tmp, true)
    fs.mkdirs(new Path(stage, ".tmp-torn-write"))
    val now = System.currentTimeMillis()
    // entries younger than retention: nothing moves
    assert(LakeDeletes.vacuumStaging(spark, dataDir, 3600L * 1000, now) == 0)
    assert(fs.exists(stage))
    assert(spark.read.parquet(dataDir).count() == 300L)
    // aged past retention: the staged file is COMPLETED into its
    // destination (never deleted — it is the only copy of the survivors),
    // the torn dir is removed, and the emptied staging root goes away
    val aged = now + 7200L * 1000
    assert(LakeDeletes.vacuumStaging(spark, dataDir, 3600L * 1000, aged) == 2)
    assert(!fs.exists(stage))
    assert(spark.read.parquet(dataDir).count() == 250L)
  }
}
