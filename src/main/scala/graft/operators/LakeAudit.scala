package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write–Audit–Publish: the lake-governance gate a production load runs so
  * a bad batch can never become visible to readers (the Netflix/Iceberg WAP
  * pattern, here over the plain-parquet lake layout the rest of graft
  * uses). A batch is written to an INVISIBLE staging directory, the
  * expectation suite (q165's rule shapes, generalized) runs against the
  * BYTES THAT WERE ACTUALLY WRITTEN — auditing the input frame would miss
  * writer bugs, which is the entire point of WAP — and only a fully-passing
  * batch is promoted into the readable `data/` tree with one atomic
  * directory rename. A failing batch stays quarantined in `staging/` with
  * its report; readers never observe it.
  *
  * Idempotence contract (the replay story at any scale): batches are keyed
  * by a caller-supplied `batchId`; a replayed publish of an
  * already-published id is a NO-OP (the rename target exists), and a
  * replayed attempt of a quarantined id re-stages over its own directory —
  * the whole-directory overwrite is the idempotence unit, exactly the
  * [[CdcMerge.appendDelta]]/VectorStream convention.
  *
  * Scale shape: the audit is ONE conditional-count pass over the staged
  * files (all row-level rules fold into a single aggregation — no per-rule
  * rescans) plus one count-distinct when a uniqueness key is declared.
  * Publication is metadata-only (a rename), never a data rewrite.
  *
  * NULL semantics: a NULL under a row rule counts as FAILED (a NULL
  * quantity does not satisfy a range check — the q165 polarity rule).
  */
object LakeAudit {

  /** A row-level expectation: `cond` must hold (non-NULL true) per row. */
  final case class Rule(name: String, cond: Column)

  final case class RuleReport(rule: String, nChecked: Long, nFailed: Long) {
    def pass: Boolean = nFailed == 0
  }

  final case class WapResult(batchId: String, published: Boolean,
      reports: Seq[RuleReport]) {
    def failedRules: Seq[String] = reports.filterNot(_.pass).map(_.rule)
  }

  private def stagingPath(dir: String, batchId: String) =
    new Path(s"$dir/staging/batch=$batchId")
  private def dataPath(dir: String, batchId: String) =
    new Path(s"$dir/data/batch=$batchId")

  /** One-pass expectation report over `df` (no uniqueness rule). */
  def audit(df: DataFrame, rules: Seq[Rule],
      uniqueKey: Seq[String] = Nil): Seq[RuleReport] = {
    require(rules.nonEmpty || uniqueKey.nonEmpty, "no expectations declared")
    val rowReports: Seq[RuleReport] = if (rules.isEmpty) Nil else {
      val aggs = count(lit(1)).as("__n") +:
        rules.zipWithIndex.map { case (r, i) =>
          // NULL → otherwise → failed (the q165 polarity)
          sum(when(r.cond, 0L).otherwise(1L)).as(s"__f$i")
        }
      val row = df.agg(aggs.head, aggs.tail: _*).collect().head
      val n = row.getAs[Long]("__n")
      rules.zipWithIndex.map { case (r, i) =>
        RuleReport(r.name, n, row.getAs[Long](s"__f$i"))
      }
    }
    val uniqReport = if (uniqueKey.isEmpty) Nil else {
      val n = df.count()
      val distinct = df.select(uniqueKey.map(col): _*).distinct().count()
      Seq(RuleReport(s"unique(${uniqueKey.mkString(",")})", n, n - distinct))
    }
    rowReports ++ uniqReport
  }

  /** Stage `df` under `dir/staging/batch=<batchId>`, audit the staged
    * files, and promote to `dir/data/batch=<batchId>` only if every rule
    * passes. Returns the decision plus the full report. */
  def writeAuditPublish(spark: SparkSession, df: DataFrame, dir: String,
      batchId: String, rules: Seq[Rule],
      uniqueKey: Seq[String] = Nil): WapResult = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = stagingPath(dir, batchId)
    val target = dataPath(dir, batchId)
    if (fs.exists(target)) {
      // replayed publish of a published batch: data is a no-op, but a
      // replay is exactly how a publish that crashed between its rename
      // and its log append COMPLETES the protocol — commit the missing
      // entry now (at-least-once delivery guarantees this replay, so the
      // log catches up without any reader ever writing)
      commitEntry(fs, dir, batchId)
      // report as published with the audit of the LIVE data (cheap
      // re-attestation)
      return WapResult(batchId, published = true,
        audit(spark.read.parquet(target.toString), rules, uniqueKey))
    }
    df.write.mode("overwrite").parquet(staged.toString)
    val reports = audit(spark.read.parquet(staged.toString), rules, uniqueKey)
    val ok = reports.forall(_.pass)
    if (ok) {
      fs.mkdirs(target.getParent)
      LakeCommit.rename(fs, staged, target)
      // record publish order through the optimistic-concurrency commit —
      // never a data-dir reconciliation (O(batches) listings per publish
      // would make a long-lived stream quadratic on exactly the stores
      // where listings are the expensive op). A crash between the rename
      // above and this commit is completed by the batch's REPLAY (the
      // early-return path) or by the explicit repairPublishLog
      commitEntry(fs, dir, batchId)
    }
    WapResult(batchId, published = ok, reports)
  }

  /** The readable table: published batches only — staging is invisible. */
  def readPublished(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/data")

  // --- publish log + time travel --------------------------------------

  /** One publish-log record: `seq` is the monotone publish ORDER (1-based),
    * the reproducibility handle a dataset release pins ("train on the
    * corpus as of publish N"); `batchId` names the published directory. */
  final case class PublishEntry(seq: Long, batchId: String)

  private def logDir(dir: String) = new Path(s"$dir/_publish_log")

  // entry file name: <seq zero-padded to 20>.json — the NAME is the
  // mutual-exclusion unit (exactly one winner per seq; two contending
  // batchIds contend for the same file), the BODY carries the batchId.
  // Zero-padding keeps lexical order = numeric order.
  private def entryName(seq: Long): String = f"$seq%020d.json"

  /** Create `fin` with `bytes` ATOMICALLY-EXCLUSIVELY: succeed iff no
    * other writer has committed this name, and never expose a
    * partially-written file. Returns true on win, false on lose.
    *
    * Store-specific mutual exclusion (the Delta/Iceberg LogStore shape):
    *  - `file://` — write a hidden tmp, then `link(2)` it to the final
    *    name: hard-link creation is atomic O_EXCL in POSIX AND the file
    *    appears with its FULL content (no torn-read window). Hadoop's
    *    own RawLocalFileSystem.create(overwrite=false) is a
    *    check-then-act (exists → throw → open) and is NOT safe under
    *    contention — the reason this path drops to java.nio.
    *  - schemes with ATOMIC-EXCLUSIVE rename (HDFS-like: rename is
    *    namenode-atomic and FAILS when the target exists, which is
    *    exactly the CAS) — write the tmp through the Hadoop FS, then
    *    rename(tmp, fin). Only schemes KNOWN to honor that contract run
    *    this path ([[ExclusiveRenameSchemes]], extendable via the
    *    `graft.lake.cas.extraExclusiveRenameSchemes` Hadoop conf — the
    *    deployer's assertion, which is also the test seam
    *    LakeAuditConcurrencySpec drives the branch through).
    *  - anything else FAILS LOUDLY: on object stores (s3a) rename
    *    OVERWRITES, so two racing writers would both "win" a seq
    *    silently — those stores need their conditional PUT wired here
    *    (the documented seam, as in Delta's LogStore), never a silent
    *    fall-through to an unsafe rename. */
  private val ExclusiveRenameSchemes = Set("hdfs", "viewfs")

  private def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      fin: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(fin.getParent,
      s".${fin.getName}.${java.util.UUID.randomUUID()}.tmp")
    if (fs.getScheme == "file") {
      val finNio = java.nio.file.Paths.get(fin.toUri.getPath)
      val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
      java.nio.file.Files.write(tmpNio, bytes)
      try { java.nio.file.Files.createLink(finNio, tmpNio); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(tmpNio)
    } else {
      val scheme = fs.getScheme
      require(ExclusiveRenameSchemes.contains(scheme) ||
        fs.getConf.getTrimmedStrings(
          "graft.lake.cas.extraExclusiveRenameSchemes").contains(scheme),
        s"publish-log CAS on scheme '$scheme': rename is not known to be " +
          "atomic-exclusive there (object-store renames overwrite — two " +
          "racing writers would both win a seq silently). Wire the " +
          "store's conditional PUT into createExclusive, or assert the " +
          "scheme's rename fails on an existing target via the " +
          "graft.lake.cas.extraExclusiveRenameSchemes Hadoop conf.")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      val won = !fs.exists(fin) && fs.rename(tmp, fin)
      if (!won) fs.delete(tmp, false)
      won
    }
  }

  /** Optimistic-concurrency commit of `batchId` at the log tail — the
    * Delta/Iceberg commit protocol on a plain filesystem: read the log,
    * propose seq = last + 1, attempt the atomic create-exclusive of that
    * seq's entry file; the LOSER re-reads (the winner's entry is now
    * visible, possibly carrying this very batchId committed by a racing
    * replica) and retries at the new tail. Exactly one writer wins each
    * seq; no entry is ever lost or duplicated; a batchId already in the
    * log returns its existing entry (idempotent replay).
    *
    * AUTO-CHECKPOINT: every [[AutoCheckpointEvery]]-th win (the
    * `graft.lake.cas.autoCheckpointEvery` Hadoop conf; 0 disables) the
    * winner also checkpoints the log, so a hot log's CAS retries stay
    * O(checkpoint + tail) reads WITHOUT owner intervention — a
    * pathological no-checkpoint log would otherwise pay O(entries)
    * content reads per lost race. The checkpoint commit rides the same
    * create-exclusive CAS (deterministic content per covered seq; a
    * same-name loser means an identical checkpoint already landed), and
    * auto-checkpointing never vacuums — covered entry files stay until
    * the owner invokes [[vacuumCheckpointedEntries]]. */
  private[operators] val AutoCheckpointEvery = 64L

  private[operators] def commitEntry(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, batchId: String): PublishEntry = {
    val ld = logDir(dir)
    fs.mkdirs(ld)
    var attempts = 0
    while (attempts < 10000) {
      val logged = readLog(fs, dir)
      logged.find(_.batchId == batchId).foreach(e => return e)
      val e = PublishEntry(
        logged.lastOption.map(_.seq + 1).getOrElse(1L), batchId)
      if (createExclusive(fs, new Path(ld, entryName(e.seq)),
          s"""{"seq":${e.seq},"batch":"${e.batchId}"}"""
            .getBytes("UTF-8"))) {
        val every = fs.getConf.getLong(
          "graft.lake.cas.autoCheckpointEvery", AutoCheckpointEvery)
        if (every > 0 && e.seq % every == 0) checkpointLog(fs, dir)
        return e
      }
      attempts += 1 // lost the race: someone else owns that seq now
    }
    sys.error(s"publish-log commit of '$batchId' lost ${attempts} races " +
      s"in $dir — a livelock this long means a runaway writer, not contention")
  }

  private def readFully(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def parseEntryLine(src: String, line: String): PublishEntry = {
    val marker = "\"batch\":\""
    val i = line.indexOf(marker)
    require(i >= 0, s"unparseable publish-log entry in $src: $line")
    val seqMarker = "\"seq\":"
    val j = line.indexOf(seqMarker)
    require(j >= 0, s"unparseable publish-log entry in $src: $line")
    PublishEntry(
      line.substring(j + seqMarker.length, line.indexOf(',', j)).trim.toLong,
      line.substring(i + marker.length, line.lastIndexOf("\"")))
  }

  /** The raw logged entries: one log-dir listing, one content read of
    * the NEWEST checkpoint (when one exists — see
    * [[checkpointPublishLog]]), plus one entry-sized content read per
    * post-checkpoint commit (the Delta `_delta_log` read profile —
    * entries are ~60 bytes, and the checkpoint bounds the per-read tail
    * on long-lived lakes). Tolerates the legacy name-encoded format
    * (<seq>_<batchId>.json) for lakes written before the CAS protocol. */
  private def readLog(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[PublishEntry] = {
    // a checkpoint + vacuum landing between this reader's LISTING and
    // its content reads can delete the very checkpoint file the listing
    // saw (covered TAIL entries are already name-filtered below, but
    // the superseded checkpoint itself is not) — re-list and retry;
    // bounded because each retry re-reads a strictly newer checkpoint
    var attempts = 0
    while (true) {
      try return readLogOnce(fs, dir)
      catch {
        case _: java.io.FileNotFoundException if attempts < 5 =>
          attempts += 1
      }
    }
    Nil // unreachable
  }

  private def readLogOnce(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[PublishEntry] = {
    val ld = logDir(dir)
    if (!fs.exists(ld)) return Nil
    val statuses = fs.listStatus(ld).toSeq.map(_.getPath)
      .filterNot(_.getName.startsWith("."))
    val cp = statuses.filter(_.getName.endsWith(".checkpoint"))
      .sortBy(_.getName).lastOption
    val base: Seq[PublishEntry] = cp match {
      case None => Nil
      case Some(p) => readFully(fs, p).split('\n').toSeq
        .filter(_.nonEmpty).map(parseEntryLine(p.toString, _))
    }
    val cpSeq = base.lastOption.map(_.seq).getOrElse(0L)
    // the seq is name-borne in BOTH entry formats — filter covered
    // entries BEFORE any content read, so a checkpointed log never pays
    // per-entry reads for them and a concurrent vacuum of covered files
    // cannot race the reader into a missing-file error
    val tail = statuses
      .filter(_.getName.endsWith(".json"))
      .filter(_.getName.takeWhile(_.isDigit).toLong > cpSeq)
      .map { p =>
        val b = p.getName.stripSuffix(".json")
        if (b.length > 20 && b.charAt(20) == '_')
          PublishEntry(b.substring(0, 20).toLong, b.substring(21))
        else parseEntryLine(p.toString, readFully(fs, p))
      }
    (base ++ tail).sortBy(_.seq)
  }

  /** CHECKPOINT the publish log (the Delta checkpoint shape): one
    * atomically-committed `<seq>.checkpoint` file snapshotting every
    * entry up to the current tail, so [[readLog]] reads one checkpoint +
    * the post-checkpoint tail instead of one file per commit ever made —
    * the compaction lever that keeps log reads O(recent) on a long-lived
    * lake. Entry files at or below the checkpoint become redundant and
    * can be removed by [[vacuumCheckpointedEntries]] (owner-invoked,
    * like every destructive op here); until then readLog dedupes them.
    * Safe under the CAS protocol: the checkpoint file name is the
    * covered seq, committed create-exclusively with deterministic
    * content, and never competes with entry commits for a seq. Returns
    * the checkpointed seq (0 when the log is empty). */
  def checkpointPublishLog(spark: SparkSession, dir: String): Long =
    checkpointLog(new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dir)

  private def checkpointLog(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Long = {
    val logged = readLog(fs, dir)
    if (logged.isEmpty) return 0L
    val seq = logged.last.seq
    val body = logged
      .map(e => s"""{"seq":${e.seq},"batch":"${e.batchId}"}""")
      .mkString("", "\n", "\n")
    // same-name loser means an identical checkpoint already exists
    createExclusive(fs, new Path(logDir(dir), f"$seq%020d.checkpoint"),
      body.getBytes("UTF-8"))
    seq
  }

  /** Remove entry files made redundant by the newest checkpoint (their
    * seqs are covered by it). Owner-invoked; readLog is correct with or
    * without the vacuum. Returns the number of files removed. */
  def vacuumCheckpointedEntries(spark: SparkSession, dir: String): Int = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ld = logDir(dir)
    if (!fs.exists(ld)) return 0
    val statuses = fs.listStatus(ld).toSeq.map(_.getPath)
      .filterNot(_.getName.startsWith("."))
    val cpSeq = statuses.filter(_.getName.endsWith(".checkpoint"))
      .map(_.getName.stripSuffix(".checkpoint").toLong)
      .sorted.lastOption.getOrElse(return 0)
    val entries = statuses.filter(_.getName.endsWith(".json"))
      .filter { p =>
        val b = p.getName.stripSuffix(".json")
        val seq = if (b.length > 20 && b.charAt(20) == '_')
          b.substring(0, 20).toLong else b.toLong
        seq <= cpSeq
      }
    // superseded checkpoints are covered by the newest one
    val oldCps = statuses.filter(_.getName.endsWith(".checkpoint"))
      .filter(_.getName.stripSuffix(".checkpoint").toLong < cpSeq)
    (entries ++ oldCps).count(p => fs.delete(p, false))
  }

  /** The publish log, oldest first — one entry per published batch, in
    * publish order. A PURE READ: readers never write (a reader-side heal
    * would race the writer's post-rename commit and could log one batch
    * under two seqs or two batches under one). Writers — publish, logged
    * erasure, restore, repair — all sequence through the SAME
    * optimistic-concurrency commit ([[commitEntry]]): each seq's entry
    * file is created atomically-exclusively, so two racing writers can
    * never both win a seq and no entry is lost; the loser re-reads the
    * tail and retries (CONCURRENT WRITERS ARE SAFE at the log level —
    * what stays caller-scheduled is data-level overlap, e.g. an erasure
    * physically covers only batches present when it scanned). A batch
    * whose publish crashed between the rename and the log commit
    * completes its protocol when the batch is REPLAYED
    * ([[writeAuditPublish]]'s replay path commits the missing entry —
    * and at-least-once delivery guarantees the replay); a hole that will
    * never be replayed takes the explicit [[repairPublishLog]], the
    * owner-invoked recovery path (the
    * LakeCompaction.repairManifestCompacts convention). Such a batch is
    * readable via [[readPublished]] but UNSEQUENCED until then — publish
    * ORDER is defined by log-commit order, and an incomplete protocol has
    * not published-in-order yet. */
  def publishLog(spark: SparkSession, dir: String): Seq[PublishEntry] =
    readLog(new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dir)

  /** Owner-invoked recovery: commit a log entry (at the tail, in batchId
    * order when several are missing) for every batch visible under
    * `data/` but absent from the log — the crash window between a publish
    * rename and its log commit, for ids that will never be replayed.
    * Each heal goes through the same CAS commit as a publish, so a repair
    * racing a live publisher is safe (seqs stay unique and contiguous).
    * Returns the repaired log. */
  def repairPublishLog(spark: SparkSession, dir: String): Seq[PublishEntry] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logged = readLog(fs, dir)
    val known = logged.map(_.batchId).toSet
    val dataDir = new Path(s"$dir/data")
    val published: Seq[String] =
      if (!fs.exists(dataDir)) Nil
      else fs.listStatus(dataDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch="))
    val healed = published.filterNot(known).sorted
      .map(b => commitEntry(fs, dir, b))
    logged ++ healed
  }

  /** Time travel: the lake exactly as of publish `publishSeq` — the union
    * of published batches with seq ≤ publishSeq, later publishes
    * invisible. Robust to later small-file compaction (compaction packs
    * files WITHIN each batch directory; membership is the batch set, which
    * this reads from the log, not from file names). The `batch` partition
    * column is surfaced (basePath), so a reader can still attribute rows.
    *
    * Erasure semantics: [[eraseLogged]] entries in the log name no data
    * directory and are skipped — an erasure REWRITES history (GDPR: a
    * snapshot at a seq before the erasure also no longer contains the
    * erased rows; the receipt under `erasures/` is the only witness, the
    * deletion-vector analogue a diff reads — see [[erasureReceipts]]).
    *
    * Scale shape: pure metadata — one log listing picks the batch
    * directories; the read itself is a plain pruned parquet scan of
    * exactly those directories, no data rewrite, no filter-over-everything.
    */
  def readAsOf(spark: SparkSession, dir: String, publishSeq: Long): DataFrame = {
    val batches = publishLog(spark, dir)
      .filter(e => e.seq <= publishSeq && !isErasure(e))
    require(batches.nonEmpty,
      s"readAsOf($publishSeq): no batch published at or before that seq in $dir")
    spark.read.option("basePath", s"$dir/data")
      .parquet(batches.map(b => s"$dir/data/batch=${b.batchId}"): _*)
  }

  // --- logged erasure (the table_changes `removed` witness) --------------

  // erasure log entries carry a reserved batchId prefix so every data
  // reader (readAsOf, releaseManifest, repairPublishLog's known set) can
  // tell them from data batches; '~' never appears in caller batchIds by
  // convention and the prefix is checked on write
  private val ErasePrefix = "~erase~"

  /** True when a publish-log entry records an erasure, not a data batch. */
  def isErasure(e: PublishEntry): Boolean = e.batchId.startsWith(ErasePrefix)

  private def receiptPath(dir: String, eraseId: String) =
    s"$dir/erasures/erase=$eraseId"

  /** GDPR erasure against the WAP lake, RECORDED in the publish log so a
    * snapshot diff can classify removals: (1) write the erasure RECEIPT —
    * the id column plus caller-chosen audit columns of every row currently
    * live with an id in the batch (ids are lawful to retain; the erased
    * CONTENT never enters the receipt), (2) physically erase through
    * [[LakeDeletes.erase]] (footer-pruned rewrite of only the files that
    * contain a hit), (3) append a `~erase~`-prefixed publish-log entry
    * sequencing the erasure between its surrounding publishes.
    *
    * Crash windows, exhaustively (receipt → erase → log commit): the
    * receipt directory's `_SUCCESS` marker is the idempotence token —
    * a replay (log entry absent) SKIPS receipt regeneration when the
    * marker exists. (a) crash between receipt and erase: the replay
    * keeps the receipt (regenerating would be byte-identical — rows
    * still live — but the skip costs nothing), re-runs the idempotent
    * erase, commits the entry. (b) crash between erase and log commit —
    * the window a receipt OVERWRITE would destroy the witness in (the
    * erased rows are gone; a regenerated receipt would be EMPTY): the
    * marker check makes the replay keep the original receipt, so the
    * witness survives every interleaving. (c) crash mid-receipt-write:
    * no `_SUCCESS`, rows still live, the replay regenerates cleanly.
    * A replay AFTER the log entry exists is a pure no-op. Erasure
    * rewrites HISTORY ([[readAsOf]] at any seq no longer sees the
    * rows) — the receipt is the only witness, which is exactly the
    * deletion-vector / delete-file role in Delta/Iceberg.
    *
    * The receipt holds the LIVE row per id (latest-wins over publish
    * seq): an id republished across several batches witnesses ONCE,
    * with the newest image's audit columns — never one row per
    * superseded revision, which would double-count in every receipt
    * consumer (q265's removed class, q272's delete rows).
    *
    * Scale shape: one footer-metadata candidate pass + rewrite of hit
    * files (the [[LakeDeletes]] cost model); the receipt is one pruned
    * membership scan + a deletion-batch-sized latest-wins window. */
  def eraseLogged(spark: SparkSession, dir: String, eraseId: String,
      ids: Seq[Long], idCol: String,
      receiptCols: Seq[String]): LakeDeletes.EraseReport = {
    require(!eraseId.contains("~"), s"eraseId may not contain '~': $eraseId")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entryId = s"$ErasePrefix$eraseId"
    val logged = readLog(fs, dir)
    if (logged.exists(_.batchId == entryId))
      return LakeDeletes.EraseReport(0, 0, 0, 0L) // replayed: no-op
    val receiptOk = new Path(receiptPath(dir, eraseId), "_SUCCESS")
    if (!fs.exists(receiptOk)) {
      import spark.implicits._
      val idSeq = ids.distinct.map(Long.box).toSeq
      val seqDf = logged.filterNot(isErasure).map(e => (e.batchId, e.seq))
        .toDF("batch", "__pseq")
      // LEFT join + MAX-seq fallback: a batch in the crash window
      // between its data rename and its log commit is unsequenced but
      // its rows are physically live and about to be erased — the
      // witness must not lose them, and it must rank them NEWEST: when
      // the crashed publish completes its protocol (the replay path)
      // it commits at the TAIL, above every currently-sequenced
      // revision, so Long.MaxValue is exactly the seq the heal would
      // assign (batch name breaks an all-unsequenced tie
      // deterministically)
      // final tie-breaker: the receipt columns themselves — duplicate
      // physical rows for one id WITHIN one batch tie on (seq, batch)
      // completely, and without it row_number picks a partition-order-
      // dependent image when the duplicates' receipt columns differ
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(
          coalesce(col("__pseq"), lit(Long.MaxValue)).desc +:
          col("batch").desc +:
          receiptCols.map(c => expr(c).desc_nulls_last): _*)
      spark.read.parquet(s"$dir/data")
        .filter(col(idCol).isin(idSeq: _*))
        .join(broadcast(seqDf), Seq("batch"), "left")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .selectExpr((idCol +: receiptCols): _*)
        .write.mode("overwrite").parquet(receiptPath(dir, eraseId))
    }
    val report = LakeDeletes.erase(spark, s"$dir/data", ids, idCol)
    commitEntry(fs, dir, entryId)
    report
  }

  /** RESTORE the lake to its state at publish `targetSeq`, sequenced as a
    * NEW publish (the Delta `RESTORE TABLE … VERSION AS OF` shape,
    * expressed in this lake's additive-log + erasure vocabulary): the
    * target live set is re-published as batch `restore-<restoreId>` —
    * last-writer-wins makes its rows supersede every later revision —
    * and ids that exist ONLY after the target (later additions) are
    * removed through [[eraseLogged]], because an additive log has no
    * other way to un-add. NOTE the semantic this inherits: the erasure
    * REWRITES history (post-target additions disappear from every as-of
    * read), while superseded revisions stay time-travelable — document
    * both to consumers. Idempotent: a replay with the same `restoreId`
    * is a no-op (the publish exists); a crash between the erase and the
    * publish re-runs cleanly (the extra-id set is recomputed as empty
    * and the publish completes).
    *
    * ERASURE OUTRANKS RESTORE: rows GDPR-erased BEFORE the target seq
    * are never resurrected — [[eraseLogged]] rewrites history, so the
    * target snapshot this re-publishes already excludes them (their
    * bytes are physically gone; no as-of read can recover them), and
    * the erasure receipt lives under `erasures/`, which a restore never
    * touches — the right-to-be-forgotten witness survives any restore
    * (LakeAuditSpec pins both directions; q277 gates it end to end).
    *
    * Scale shape: two snapshot-sized doc-keyed windows + one
    * snapshot-sized rewrite (the restore batch) + a driver-sized erase
    * list (the LakeDeletes posture; corpus-scale restores take an
    * anti-join rewrite instead). */
  def restoreTo(spark: SparkSession, dir: String, targetSeq: Long,
      restoreId: String, idCol: String, rules: Seq[Rule]): Unit = {
    require(!restoreId.contains("~"),
      s"restoreId may not contain '~': $restoreId")
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val batchId = s"restore-$restoreId"
    if (readLog(fs, dir).exists(_.batchId == batchId)) return // replayed
    val log = publishLog(spark, dir).filterNot(isErasure)
    require(log.exists(_.seq <= targetSeq),
      s"restoreTo($targetSeq): nothing published at or before that seq")
    val latest = log.map(_.seq).max
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, row_number}
    val seqDf = log.map(e => (e.batchId, e.seq)).toDF("batch", "__pseq")
    def live(at: Long): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("__pseq").desc)
      readAsOf(spark, dir, at)
        .join(broadcast(seqDf), "batch")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__pseq", "batch")
    }
    val target = live(targetSeq)
    val extraIds = live(latest).select(idCol)
      .except(target.select(idCol))
      .collect().map(_.getLong(0)).toSeq
    if (extraIds.nonEmpty)
      eraseLogged(spark, dir, batchId, extraIds, idCol, Nil)
    val res = writeAuditPublish(spark, target, dir, batchId, rules)
    require(res.published,
      s"restore batch failed its own audit: ${res.failedRules}")
  }

  /** The erasure receipts sequenced in (fromSeq, toSeq] — the rows a
    * snapshot diff over that window must surface as `removed` (minus any
    * id a later batch republished). Metadata-sized: one log listing plus
    * a pruned scan of exactly the in-window receipt directories. */
  def erasureReceipts(spark: SparkSession, dir: String, fromSeq: Long,
      toSeq: Long): DataFrame = {
    val es = publishLog(spark, dir)
      .filter(e => isErasure(e) && e.seq > fromSeq && e.seq <= toSeq)
    require(es.nonEmpty,
      s"no erasure sequenced in ($fromSeq, $toSeq] in $dir")
    spark.read.parquet(es.map(e =>
      receiptPath(dir, e.batchId.stripPrefix(ErasePrefix))): _*)
  }

  /** Content-addressed release manifest — the byte-verifiability artifact
    * a training run pins next to [[readAsOf]]: one row per publish seq
    * with (a) the batch's order-independent CONTENT digest and (b) the
    * cumulative Merkle-style RELEASE digest, md5-chained over batch
    * digests in publish order, so `release_digest` at seq k certifies
    * "exactly these bytes as of publish k" and any verifier can recompute
    * it from the rows alone.
    *
    * Content addressing: a row's canonical text is its non-`batch`
    * columns stringified and chr(1)-joined (chr(2) marks NULL); the row
    * hash is the first 60 md5 bits; the batch digest folds
    * (n_rows, Σh₁, Σh₂) with two independent hash salts — sums are
    * order-INdependent multiset digests in exact 128-bit decimals, so the
    * digest depends on row CONTENT only, never on file layout: compaction
    * / repartitioning leaves every digest fixed, while any single row
    * edit flips its batch digest and every release digest from that seq
    * on (LakeManifestSpec pins both directions, plus the NULL-vs-empty
    * and column-boundary-shift sensitivity the separator/marker exist
    * for). A published batch with ZERO rows keeps its seq in the chain
    * (left join; n_rows=0, sums "0") — a verifier replaying the full
    * publish log must traverse every seq. Oracled end-to-end as q239.
    *
    * Scale shape: one pruned scan of exactly the published batch
    * directories, a per-batch partial aggregation (map-side combine into
    * #batches rows), then log-sized digest algebra — the chain window
    * orders #publishes rows, metadata-sized at any corpus size. */
  def releaseManifest(spark: SparkSession, dir: String): DataFrame = {
    // erasure entries name no data directory — the manifest certifies
    // data batches (an erasure REWRITES the touched batches, so their
    // digests change from that point on, which is the correct audit trail)
    val log = publishLog(spark, dir).filterNot(isErasure)
    require(log.nonEmpty, s"releaseManifest: empty publish log in $dir")
    import spark.implicits._
    val seqs = log.map(e => (e.seq, e.batchId))
      .toDF("publish_seq", "batch")
    val rows = spark.read.option("basePath", s"$dir/data")
      .parquet(log.map(b => s"$dir/data/batch=${b.batchId}"): _*)
    val cols = rows.columns.filterNot(_ == "batch").toSeq
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)
    def h(salt: Int) = conv(substring(
      md5(concat(lit(s"$salt#"), canon)), 1, 15), 16, 10).cast("long")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def msum(c: Column) = coalesce(sum(c.cast(dec38)), lit(0).cast(dec38))
      .cast("string")
    val per = rows.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_rows"),
        msum(h(1)).as("content_sum"), msum(h(2)).as("content_sum2"))
    // a GLOBAL (unpartitioned) window by design: a hash chain is
    // inherently sequential and this frame orders the publish LOG —
    // one row per publish, metadata-sized at any corpus size (the
    // "No Partition Defined" warning it triggers is about data-sized
    // frames, which this never is)
    val w = org.apache.spark.sql.expressions.Window.orderBy("publish_seq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // LEFT join: a zero-row published batch has no groupBy row but MUST
    // keep its place in the digest chain (else a verifier replaying the
    // full publish log skips its seq and every later release digest
    // diverges)
    seqs.join(per, Seq("batch"), "left")
      .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
      .withColumn("content_sum", coalesce(col("content_sum"), lit("0")))
      .withColumn("content_sum2", coalesce(col("content_sum2"), lit("0")))
      .withColumn("batch_digest", md5(concat_ws("|", col("batch"),
        col("n_rows").cast("string"), col("content_sum"),
        col("content_sum2"))))
      .withColumn("chain", collect_list(col("batch_digest")).over(w))
      .withColumn("release_digest",
        expr("aggregate(chain, '', (a, x) -> md5(concat(a, x)))"))
      .select("publish_seq", "batch", "n_rows", "content_sum",
        "content_sum2", "batch_digest", "release_digest")
      .orderBy("publish_seq")
  }

  /** Quarantine retention: remove failed staged batches older than
    * `retentionMs` — without this, `staging/` grows without bound (every
    * quarantined batch stays forever), an ops leak at scale. Mirrors
    * [[graft.etl.LakeCompaction.vacuumUnreferenced]]'s safety posture:
    *   - touches ONLY `staging/batch=*` directories — `data/` and the
    *     publish log are never candidates;
    *   - a batchId present in the publish log is SKIPPED even if a stale
    *     staging directory carries its name (anomalous, but deleting it
    *     is not this tool's call);
    *   - age is the directory's filesystem modification time vs `nowMs`
    *     (explicit for testability and for replayed runs), so a batch
    *     re-staged by a replay gets a fresh retention window.
    * Owner-invoked like every mutation here (single-writer discipline —
    * do not run concurrently with a publisher replaying the same id).
    * Returns the vacuumed batchIds. */
  def vacuumQuarantine(spark: SparkSession, dir: String, retentionMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    require(retentionMs >= 0, s"retentionMs=$retentionMs")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagingDir = new Path(s"$dir/staging")
    if (!fs.exists(stagingDir)) return Nil
    val published = readLog(fs, dir).map(_.batchId).toSet
    fs.listStatus(stagingDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(st => nowMs - st.getModificationTime > retentionMs)
      .map(st => st.getPath)
      .filterNot(p => published.contains(p.getName.stripPrefix("batch=")))
      .flatMap { p =>
        if (fs.delete(p, true)) Seq(p.getName.stripPrefix("batch=")) else Nil
      }
      .sorted
  }

  /** Streaming WAP: every micro-batch goes through
    * [[writeAuditPublish]] keyed by the STREAMING batch id, so a dirty
    * micro-batch quarantines (readers never see it, the stream keeps
    * running) and a kill-restart replay of a published batch is the
    * no-op the id contract guarantees — exactly-once publication on top
    * of at-least-once micro-batch delivery, the CdcMerge/VectorStream
    * idempotence story with the audit gate in the middle. Failed batch
    * ids are reported through `onResult` (the operational hook a real
    * pipeline alerts on). */
  def startStream(docs: DataFrame, dir: String, checkpoint: String,
      rules: Seq[Rule], uniqueKey: Seq[String] = Nil,
      onResult: WapResult => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        onResult(writeAuditPublish(batch.sparkSession, batch, dir,
          id.toString, rules, uniqueKey))
      }
      .start()
}
