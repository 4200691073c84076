package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Write–Audit–Publish: a failing batch must never become readable, a
  * passing one publishes atomically, and replays are no-ops. */
class LakeAuditSpec extends SparkSpec {
  import spark.implicits._
  import LakeAudit._

  private val rules = Seq(
    Rule("qty_range", col("qty") >= 1 && col("qty") <= 50),
    Rule("price_positive", col("price") > 0))

  test("clean batch publishes and is readable; dirty batch is quarantined") {
    val dir = tmpDir("wap")
    val clean = Seq((1L, 5.0, 10.0), (2L, 7.0, 20.0)).toDF("id", "qty", "price")
    val r1 = writeAuditPublish(spark, clean, dir, "b1", rules, Seq("id"))
    assert(r1.published && r1.failedRules.isEmpty)
    assert(readPublished(spark, dir).count() == 2)

    val dirty = Seq((3L, 99.0, 10.0), (4L, 5.0, -1.0), (4L, 5.0, 2.0))
      .toDF("id", "qty", "price")
    val r2 = writeAuditPublish(spark, dirty, dir, "b2", rules, Seq("id"))
    assert(!r2.published)
    assert(r2.failedRules.toSet ==
      Set("qty_range", "price_positive", "unique(id)"))
    assert(r2.reports.map(r => r.rule -> r.nFailed).toMap ==
      Map("qty_range" -> 1L, "price_positive" -> 1L, "unique(id)" -> 1L))
    // readers still see ONLY the clean batch
    assert(readPublished(spark, dir).count() == 2)
    // the evidence is quarantined in staging, invisible to readPublished
    assert(spark.read.parquet(s"$dir/staging/batch=b2").count() == 3)
  }

  test("NULL under a row rule counts as failed") {
    val dir = tmpDir("wapnull")
    val withNull = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, null, 10.0)).toDF("id", "qty", "price")
    val r = writeAuditPublish(spark, withNull, dir, "b1", rules)
    assert(!r.published)
    assert(r.failedRules == Seq("qty_range"))
  }

  test("streaming WAP: dirty micro-batch quarantines, stream keeps flowing") {
    implicit val sc = spark.sqlContext
    val dir = tmpDir("wapstream")
    val ckpt = tmpDir("wapckpt")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Double)]
    val results = scala.collection.mutable.ArrayBuffer.empty[WapResult]
    val q = LakeAudit.startStream(
      mem.toDS().toDF("id", "qty", "price"), dir, ckpt, rules,
      onResult = r => results.synchronized { results += r })
    try {
      mem.addData((1L, 5.0, 10.0))
      q.processAllAvailable()
      mem.addData((2L, 99.0, 10.0)) // dirty: qty out of range
      q.processAllAvailable()
      mem.addData((3L, 7.0, 20.0))
      q.processAllAvailable()
      val ids = readPublished(spark, dir).select("id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 3L), s"dirty batch must quarantine, got $ids")
      val verdicts = results.synchronized {
        results.map(r => r.batchId -> r.published).toMap }
      assert(verdicts.values.count(_ == false) == 1,
        "exactly one micro-batch fails its audit")
    } finally q.stop()
  }

  test("replays: published id is a no-op, quarantined id re-stages") {
    val dir = tmpDir("wapreplay")
    val clean = Seq((1L, 5.0, 10.0)).toDF("id", "qty", "price")
    assert(writeAuditPublish(spark, clean, dir, "b1", rules).published)
    // replay with DIFFERENT (bad) content: published data must not change
    val bad = Seq((9L, 99.0, -5.0)).toDF("id", "qty", "price")
    val replay = writeAuditPublish(spark, bad, dir, "b1", rules)
    assert(replay.published, "already-published id reports published")
    assert(readPublished(spark, dir).select("id").as[Long].collect().toSeq
      == Seq(1L), "replay must not alter published data")
    assert(publishLog(spark, dir).map(_.batchId) == Seq("b1"),
      "replay must not append a second log entry")
    // a quarantined id re-stages over itself and can then publish
    val dirty = Seq((2L, 99.0, 10.0)).toDF("id", "qty", "price")
    assert(!writeAuditPublish(spark, dirty, dir, "b2", rules).published)
    assert(publishLog(spark, dir).map(_.batchId) == Seq("b1"),
      "a quarantined batch leaves no log entry")
    val fixed = Seq((2L, 9.0, 10.0)).toDF("id", "qty", "price")
    assert(writeAuditPublish(spark, fixed, dir, "b2", rules).published)
    assert(readPublished(spark, dir).count() == 2)
    assert(publishLog(spark, dir) ==
      Seq(PublishEntry(1L, "b1"), PublishEntry(2L, "b2")),
      "the fixed batch publishes as the next seq")
  }

  // --- publish log + time travel ---------------------------------------

  private def batchOf(i: Long) =
    Seq((i * 10 + 1, 5.0, 10.0), (i * 10 + 2, 7.0, 20.0))
      .toDF("id", "qty", "price")

  private def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("readAsOf(n) equals the lake state after publish n, incl. after compaction") {
    val dir = tmpDir("wapasof")
    // publish 1, quarantine one, publish 2 and 3 — quarantined batches
    // must never earn a seq
    val states = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    assert(writeAuditPublish(spark, batchOf(0), dir, "a", rules).published)
    states += idsOf(readPublished(spark, dir))
    val dirty = Seq((99L, 99.0, 10.0)).toDF("id", "qty", "price")
    assert(!writeAuditPublish(spark, dirty, dir, "bad", rules).published)
    assert(writeAuditPublish(spark, batchOf(1), dir, "b", rules).published)
    states += idsOf(readPublished(spark, dir))
    assert(writeAuditPublish(spark, batchOf(2), dir, "c", rules).published)
    states += idsOf(readPublished(spark, dir))
    assert(publishLog(spark, dir).map(e => e.seq -> e.batchId) ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    for (n <- 1 to 3)
      assert(idsOf(readAsOf(spark, dir, n)) == states(n - 1),
        s"readAsOf($n) must reproduce the state after publish $n")
    // latest as-of ≡ the live table
    assert(idsOf(readAsOf(spark, dir, 3)) == idsOf(readPublished(spark, dir)))
    // the batch partition column is surfaced for attribution
    assert(readAsOf(spark, dir, 2).select("batch").distinct()
      .as[String].collect().toSet == Set("a", "b"))
    // a LATER compaction packs files within batch dirs — every as-of
    // snapshot must be unchanged
    graft.etl.LakeCompaction.compact(spark, s"$dir/data", 64L << 20)
    for (n <- 1 to 3)
      assert(idsOf(readAsOf(spark, dir, n)) == states(n - 1),
        s"readAsOf($n) must survive compaction")
    intercept[IllegalArgumentException](readAsOf(spark, dir, 0))
  }

  private def dropLogEntry(dir: String, batchId: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ld = new org.apache.hadoop.fs.Path(s"$dir/_publish_log")
    // CAS-format entries are named by seq alone; the batchId is in the
    // body — find the victim by content
    val victim = fs.listStatus(ld).map(_.getPath)
      .filter(p => p.getName.endsWith(".json") && !p.getName.startsWith("."))
      .filter { p =>
        val in = fs.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        body.contains("\"batch\":\"" + batchId + "\"}")
      }
    assert(victim.length == 1)
    fs.delete(victim.head, false)
  }

  test("a crashed publish completes its log append on REPLAY") {
    val dir = tmpDir("wapreplaylog")
    assert(writeAuditPublish(spark, batchOf(0), dir, "a", rules).published)
    assert(writeAuditPublish(spark, batchOf(1), dir, "b", rules).published)
    // simulate the crash window between b's publish rename and its log
    // append; the log is a pure read, so the hole is visible...
    dropLogEntry(dir, "b")
    assert(publishLog(spark, dir).map(_.batchId) == Seq("a"))
    // ...until at-least-once delivery replays the batch id, which
    // completes the protocol (re-appended at the tail)
    assert(writeAuditPublish(spark, batchOf(1), dir, "b", rules).published)
    val log = publishLog(spark, dir)
    assert(log.map(_.batchId) == Seq("a", "b"))
    assert(idsOf(readAsOf(spark, dir, log.last.seq)) ==
      idsOf(readPublished(spark, dir)))
  }

  test("repairPublishLog recovers a hole that is never replayed") {
    val dir = tmpDir("waprepair")
    assert(writeAuditPublish(spark, batchOf(0), dir, "a", rules).published)
    assert(writeAuditPublish(spark, batchOf(1), dir, "b", rules).published)
    dropLogEntry(dir, "b")
    // readers stay pure: the hole batch is unsequenced until repair
    assert(publishLog(spark, dir).map(_.batchId) == Seq("a"))
    val repaired = repairPublishLog(spark, dir)
    assert(repaired.map(_.batchId) == Seq("a", "b"))
    // repair is idempotent
    assert(repairPublishLog(spark, dir) == repaired)
    assert(idsOf(readAsOf(spark, dir, repaired.last.seq)) ==
      idsOf(readPublished(spark, dir)))
  }
  test("vacuumQuarantine ages out failed staging, never published data or the log") {
    val dir = tmpDir("wapvac")
    val clean = Seq((1L, 5.0, 10.0)).toDF("id", "qty", "price")
    val dirty = Seq((2L, 99.0, 10.0)).toDF("id", "qty", "price")
    assert(writeAuditPublish(spark, clean, dir, "good", rules).published)
    assert(!writeAuditPublish(spark, dirty, dir, "bad", rules).published)
    val now = System.currentTimeMillis()

    // within the retention window: the quarantined batch survives
    assert(vacuumQuarantine(spark, dir, retentionMs = 3600000L, nowMs = now)
      .isEmpty)
    assert(spark.read.parquet(s"$dir/staging/batch=bad").count() == 1)

    // past the window (simulated by advancing nowMs): it vacuums
    assert(vacuumQuarantine(spark, dir, retentionMs = 3600000L,
      nowMs = now + 7200000L) == Seq("bad"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/staging/batch=bad")))

    // published data and the publish log are untouched
    assert(readPublished(spark, dir).count() == 1)
    assert(publishLog(spark, dir).map(_.batchId) == Seq("good"))
    assert(repairPublishLog(spark, dir).map(_.batchId) == Seq("good"))

    // a stale staging dir carrying a PUBLISHED id is skipped (not ours to delete)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/staging/batch=good"))
    assert(vacuumQuarantine(spark, dir, retentionMs = 0L,
      nowMs = now + 7200000L).isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/staging/batch=good")))
  }

  test("eraseLogged: receipt + history rewrite + log sequencing; replay is a no-op that keeps the receipt") {
    val dir = tmpDir("waperase")
    assert(writeAuditPublish(spark, batchOf(0), dir, "a", rules).published)
    assert(writeAuditPublish(spark, batchOf(1), dir, "b", rules).published)
    // erase one row of batch a and one NEVER-PRESENT id (must not appear
    // in the receipt — receipts witness rows actually live)
    val rep = eraseLogged(spark, dir, "g1", Seq(1L, 999L), "id", Seq("qty"))
    assert(rep.rowsDeleted == 1L)
    // history is REWRITTEN: the erased id is gone from every as-of read
    assert(idsOf(readAsOf(spark, dir, 1L)) == Set(2L))
    assert(idsOf(readAsOf(spark, dir, 3L)) == Set(2L, 11L, 12L))
    // the erasure is sequenced in the log but invisible to data readers
    val log = publishLog(spark, dir)
    assert(log.map(_.seq) == Seq(1L, 2L, 3L))
    assert(log.count(isErasure) == 1 && isErasure(log(2)))
    // the receipt carries exactly the erased row (id + audit cols)
    val rcpt = erasureReceipts(spark, dir, 0L, 99L)
      .as[(Long, Double)].collect().toSeq
    assert(rcpt == Seq((1L, 5.0)))
    // a later publish sequences AFTER the erasure
    assert(writeAuditPublish(spark, batchOf(2), dir, "c", rules).published)
    assert(publishLog(spark, dir).map(_.seq) == Seq(1L, 2L, 3L, 4L))
    assert(idsOf(readAsOf(spark, dir, 4L)) == Set(2L, 11L, 12L, 21L, 22L))
    // REPLAY: a second eraseLogged of the same id is a pure no-op — no
    // new log entry, no file touched, and the receipt is NOT clobbered
    // by a pass that now sees zero live rows
    val rep2 = eraseLogged(spark, dir, "g1", Seq(1L, 999L), "id", Seq("qty"))
    assert(rep2.rowsDeleted == 0L && rep2.filesTouched == 0)
    assert(publishLog(spark, dir).map(_.seq) == Seq(1L, 2L, 3L, 4L))
    assert(erasureReceipts(spark, dir, 0L, 99L)
      .as[(Long, Double)].collect().toSeq == Seq((1L, 5.0)))
    // the receipt window is (from, to]: a window before the erasure
    // seq finds nothing
    intercept[IllegalArgumentException](
      erasureReceipts(spark, dir, 0L, 2L))
    // the release manifest skips erasure entries (data batches only)
    assert(releaseManifest(spark, dir).select("batch")
      .as[String].collect().toSet == Set("a", "b", "c"))
  }

  test("restoreTo: latest live ≡ target snapshot; superseded revisions stay time-travelable; replay no-op") {
    val dir = tmpDir("waprestore")
    // seq 1: ids 1, 2; seq 2: id 1 REVISED + id 99 ADDED
    assert(writeAuditPublish(spark,
      Seq((1L, 5.0, 10.0), (2L, 7.0, 20.0)).toDF("id", "qty", "price"),
      dir, "a", rules).published)
    assert(writeAuditPublish(spark,
      Seq((1L, 9.0, 10.0), (99L, 3.0, 30.0)).toDF("id", "qty", "price"),
      dir, "b", rules).published)
    restoreTo(spark, dir, targetSeq = 1L, restoreId = "t", idCol = "id",
      rules = rules)
    def latestLive(): Map[Long, Double] = {
      import org.apache.spark.sql.expressions.Window
      val log = publishLog(spark, dir).filterNot(isErasure)
      val seqDf = log.map(e => (e.batchId, e.seq))
        .toDF("batch", "publish_seq")
      readAsOf(spark, dir, log.map(_.seq).max)
        .join(seqDf, "batch")
        .withColumn("rn", org.apache.spark.sql.functions.row_number()
          .over(Window.partitionBy("id")
            .orderBy(col("publish_seq").desc)))
        .filter(col("rn") === 1)
        .select("id", "qty").as[(Long, Double)].collect().toMap
    }
    // latest live set is EXACTLY the seq-1 snapshot: the revision of id 1
    // superseded by the restore batch, the later addition 99 erased
    assert(latestLive() == Map(1L -> 5.0, 2L -> 7.0))
    // superseded revisions remain time-travelable (additive history) —
    // readAsOf(2) still carries b's revised id-1 row; the ERASED later
    // addition is gone from history too (the documented erasure semantic)
    val asOf2 = readAsOf(spark, dir, 2L)
      .select("id", "qty").as[(Long, Double)].collect().toSet
    assert(asOf2.contains((1L, 9.0)) && !asOf2.exists(_._1 == 99L))
    // the restore is sequenced: one erasure entry + the restore publish
    val log = publishLog(spark, dir)
    assert(log.count(isErasure) == 1)
    assert(log.last.batchId == "restore-t")
    // replay: byte-level no-op (no new log entries, same live set)
    restoreTo(spark, dir, targetSeq = 1L, restoreId = "t", idCol = "id",
      rules = rules)
    assert(publishLog(spark, dir) == log)
    assert(latestLive() == Map(1L -> 5.0, 2L -> 7.0))
  }

  test("publish-log checkpoint: one-file snapshot + tail, vacuum removes covered entries, readers unchanged") {
    val dir = tmpDir("wapckptlog")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a history incl. an erasure entry (its ~erase~ prefix must survive
    // the checkpoint round trip) built through the real protocol
    assert(writeAuditPublish(spark, batchOf(0), dir, "a", rules).published)
    assert(writeAuditPublish(spark, batchOf(1), dir, "b", rules).published)
    assert(eraseLogged(spark, dir, "g1", Seq(1L), "id", Seq("qty"))
      .rowsDeleted == 1L)
    assert(writeAuditPublish(spark, batchOf(2), dir, "c", rules).published)
    val before = publishLog(spark, dir)
    assert(before.size == 4 && before.count(isErasure) == 1)

    assert(checkpointPublishLog(spark, dir) == 4L)
    assert(publishLog(spark, dir) == before, "checkpoint must not change the log")
    // vacuum: covered entry files go, the log still reads identically
    assert(vacuumCheckpointedEntries(spark, dir) == 4)
    val ld = new org.apache.hadoop.fs.Path(s"$dir/_publish_log")
    assert(fs.listStatus(ld).count(_.getPath.getName.endsWith(".json")) == 0)
    assert(publishLog(spark, dir) == before, "vacuumed log must read identically")
    // time travel and receipts still work from the checkpointed log
    assert(idsOf(readAsOf(spark, dir, 4L)) == Set(2L, 11L, 12L, 21L, 22L))
    assert(erasureReceipts(spark, dir, 0L, 99L)
      .as[(Long, Double)].collect().toSeq == Seq((1L, 5.0)))

    // post-checkpoint commits land as tail entries and read after it
    assert(writeAuditPublish(spark, batchOf(3), dir, "d", rules).published)
    val after = publishLog(spark, dir)
    assert(after.map(e => e.seq -> e.batchId) ==
      before.map(e => e.seq -> e.batchId) :+ (5L -> "d"))
    // a second checkpoint supersedes; its vacuum removes the old one + tail
    assert(checkpointPublishLog(spark, dir) == 5L)
    assert(vacuumCheckpointedEntries(spark, dir) == 2) // entry d + old cp
    assert(publishLog(spark, dir) == after)
    // the CAS keeps committing correctly on a fully-checkpointed log
    assert(writeAuditPublish(spark, batchOf(4), dir, "e", rules).published)
    assert(publishLog(spark, dir).map(_.seq) == (1L to 6L))
  }

  test("eraseLogged crash between erase and log commit: the replay must NOT clobber the receipt (ADVICE r18)") {
    val dir = tmpDir("wapcrash")
    assert(writeAuditPublish(spark, batchOf(0), dir, "a", rules).published)
    assert(eraseLogged(spark, dir, "g1", Seq(1L), "id", Seq("qty"))
      .rowsDeleted == 1L)
    // simulate the crash window: the erase ran (rows are GONE) but the
    // log commit was lost — the replay sees no log entry and ZERO live
    // rows for the id; before the _SUCCESS idempotence token it would
    // regenerate an EMPTY receipt, destroying the GDPR witness
    dropLogEntry(dir, "~erase~g1")
    val rep = eraseLogged(spark, dir, "g1", Seq(1L), "id", Seq("qty"))
    assert(rep.rowsDeleted == 0L)
    assert(erasureReceipts(spark, dir, 0L, 99L)
      .as[(Long, Double)].collect().toSeq == Seq((1L, 5.0)),
      "the erasure witness must survive the crash-window replay")
    // and the replay completed the protocol: the entry is re-sequenced
    assert(publishLog(spark, dir).count(isErasure) == 1)
  }

  test("erasure receipt is latest-wins: an id republished across batches witnesses ONCE with the newest image (ADVICE r18)") {
    val dir = tmpDir("wapdedup")
    assert(writeAuditPublish(spark,
      Seq((1L, 5.0, 10.0), (2L, 7.0, 20.0)).toDF("id", "qty", "price"),
      dir, "a", rules).published)
    // id 1 REVISED in a later batch — two physical rows, one live
    assert(writeAuditPublish(spark,
      Seq((1L, 9.0, 10.0)).toDF("id", "qty", "price"),
      dir, "b", rules).published)
    assert(eraseLogged(spark, dir, "g1", Seq(1L), "id", Seq("qty"))
      .rowsDeleted == 2L) // BOTH physical revisions are erased
    // ...but the receipt witnesses the one LIVE row, newest image's qty
    assert(erasureReceipts(spark, dir, 0L, 99L)
      .as[(Long, Double)].collect().toSeq == Seq((1L, 9.0)),
      "receipt must be the latest-wins live row, never one row per revision")
  }

  test("erasure receipt ranks an UNSEQUENCED (crash-window) batch NEWEST — the image the heal would make latest") {
    val dir = tmpDir("wapunseq")
    assert(writeAuditPublish(spark,
      Seq((1L, 5.0, 10.0)).toDF("id", "qty", "price"),
      dir, "a", rules).published)
    assert(writeAuditPublish(spark,
      Seq((1L, 9.0, 10.0)).toDF("id", "qty", "price"),
      dir, "b", rules).published)
    // simulate b's crash between its data rename and its log commit:
    // b's revision is physically live but unsequenced
    dropLogEntry(dir, "b")
    assert(eraseLogged(spark, dir, "g1", Seq(1L), "id", Seq("qty"))
      .rowsDeleted == 2L) // both physical revisions erased
    // the witness must carry b's image — the NEWEST physically-live
    // one, and the seq the replay heal would have assigned is above
    // every sequenced revision (ranking it below a would witness the
    // stale v1 while destroying v2 unwitnessed)
    assert(erasureReceipts(spark, dir, 0L, 99L)
      .as[(Long, Double)].collect().toSeq == Seq((1L, 9.0)),
      "receipt must witness the unsequenced batch's newest image")
  }

  test("erasure OUTRANKS restore: a restore past a prior erasure never resurrects erased rows; the receipt survives") {
    val dir = tmpDir("waprestoreerase")
    // seq 1: ids 1, 2 — then id 2 is GDPR-erased (seq 2) — then seq 3
    // revises id 1 and adds id 99
    assert(writeAuditPublish(spark,
      Seq((1L, 5.0, 10.0), (2L, 7.0, 20.0)).toDF("id", "qty", "price"),
      dir, "a", rules).published)
    assert(eraseLogged(spark, dir, "g2", Seq(2L), "id", Seq("qty"))
      .rowsDeleted == 1L)
    assert(writeAuditPublish(spark,
      Seq((1L, 9.0, 10.0), (99L, 3.0, 30.0)).toDF("id", "qty", "price"),
      dir, "b", rules).published)
    // restore to the state as of publish seq 1 — which is AFTER the
    // erasure rewrote history, so id 2 must NOT come back
    restoreTo(spark, dir, targetSeq = 1L, restoreId = "t", idCol = "id",
      rules = rules)
    import org.apache.spark.sql.expressions.Window
    val log = publishLog(spark, dir).filterNot(isErasure)
    val seqDf = log.map(e => (e.batchId, e.seq)).toDF("batch", "publish_seq")
    val live = readAsOf(spark, dir, log.map(_.seq).max)
      .join(seqDf, "batch")
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(Window.partitionBy("id")
          .orderBy(col("publish_seq").desc)))
      .filter(col("rn") === 1)
      .select("id", "qty").as[(Long, Double)].collect().toMap
    assert(live == Map(1L -> 5.0),
      s"restore must give the post-erasure seq-1 state (no resurrected id 2, no later adds): $live")
    // the pre-restore erasure receipt survives the restore untouched
    val rcpts = erasureReceipts(spark, dir, 0L, 2L)
      .as[(Long, Double)].collect().toSeq
    assert(rcpts == Seq((2L, 7.0)),
      "the right-to-be-forgotten witness must survive the restore")
  }
}
