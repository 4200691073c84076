package graft.etl

import graft.operators.LakeCommit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSinkLog, SinkFileStatus}

/** Small-file compaction for the partitioned parquet lake the streaming
  * [[graft.streaming.FileSink]] produces (reference layout
  * `job_start=<epoch>/pickup_location=…/year=…/month=…`, one
  * `batch-<id>-<k>` file per touched partition per 60 s micro-batch —
  * ~1,440 files per partition per day at the reference checkpoint cadence,
  * the operational problem every long-running file sink accumulates).
  *
  * Shape: `plan` walks the lake with a plain `listStatus` recursion
  * (`listFiles(recursive)` resolves block locations per entry — an order
  * of magnitude slower on local/object filesystems, see FileSink.promote),
  * greedy-packs each partition's data files in name order into bins of
  * cumulative size ≤ `targetBytes`, and keeps only bins that actually
  * shrink the file count (≥ 2 files). `compact` rewrites the planned bins
  * eight at a time through [[graft.operators.LakeCommit.runAll]], so a
  * thousand-bin lake keeps the cluster busy without flooding the
  * scheduler. Each bin is one small Spark job (scan just that bin's
  * files → one staged output file,
  * [[graft.operators.LakeCommit.writeOneFile]]) and commits on its own:
  * rename the staged file to its deterministic name, then delete the
  * originals. After a failed bin, bins not yet started are skipped and
  * the running ones finish before the failure is rethrown; every bin is
  * atomic and idempotent, and a re-run re-plans, so it converges.
  *
  * Determinism + idempotence: the output file is named
  * `compact-<md5 of the source-file names>`, so re-planning the same bin
  * rewrites the same target and a second `compact` run over an
  * already-compacted lake plans zero bins (every partition holds one
  * `compact-*` file per target-size bin). Partition columns live in the
  * directory names, not the files — reading explicit leaf files yields
  * data columns only, and the compacted file drops back into the same
  * partition dir, so table-root readers re-derive partition values
  * unchanged.
  *
  * Crash contract: the staged file is written under a dot-prefixed dir
  * (invisible to Spark readers); originals are deleted only AFTER the
  * rename succeeds. A crash between rename and deletes leaves duplicates
  * visible — run compaction only on partitions no longer being written
  * (e.g. closed `job_start=` runs or past-watermark dates), the same
  * quiescence every lake compactor (Delta OPTIMIZE, Iceberg rewrite)
  * requires without a table-format commit log. On object stores rename is
  * copy+delete, not atomic metadata — the window is wider, the contract
  * identical.
  *
  * FileStreamSink lakes (`writeStream.format("parquet")`, read through a
  * `_spark_metadata` manifest) are detected and routed to the
  * manifest-aware protocol instead — see [[compactManifested]]: plan from
  * the manifest, rewrite invisibly, one atomic manifest swap, then
  * [[vacuumUnreferenced]].
  */
object LakeCompaction {

  /** Bins rewritten at once: each is one small single-task Spark job. */
  private val MaxConcurrentBins = 8

  /** One rewrite unit: ≥ 2 data files in one partition dir whose combined
    * size fits `targetBytes` (a lone oversized file is already compact). */
  final case class Bin(partitionDir: String, files: Seq[String], bytes: Long) {
    /** Deterministic output name — a function of the inputs only. */
    def outputName: String = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(files.map(f => new Path(f).getName).mkString("\n")
          .getBytes("UTF-8"))
      "compact-" + digest.take(6).map("%02x".format(_)).mkString + ".parquet"
    }
  }

  /** `manifestRepaired`: true when the call found the `_spark_metadata`
    * compact-file layout unreadable (a prior kill between graft's snapshot
    * rename and its older-compact cleanup) and restored the single-compact
    * invariant before proceeding — surfaced so an operator can see that a
    * nominally read-only maintenance run modified the sink's log. */
  final case class Report(partitions: Int, binsRewritten: Int,
      filesBefore: Int, filesAfter: Int, bytesRewritten: Long,
      manifestRepaired: Boolean = false)

  private def isDataFile(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_") && name.endsWith(".parquet")

  /** Pure greedy sequential packing (in the given — name-sorted — order,
    * so bins group temporally-adjacent batch files and the result is
    * deterministic): cut a new bin when the next file would push past
    * `targetBytes`, keep only groups of ≥ 2 files (a lone file — small or
    * oversized — is already as compact as it can get). Invariants
    * (property-tested in LakeCompactionSpec): bins are disjoint,
    * order-preserving, each has ≥ 2 files, and each fits `targetBytes`. */
  private[etl] def packBins(files: Seq[(String, Long)],
      targetBytes: Long): Seq[Seq[(String, Long)]] = {
    val out = Seq.newBuilder[Seq[(String, Long)]]
    var cur = Vector.empty[(String, Long)]
    var curBytes = 0L
    def flush(): Unit = {
      if (cur.length >= 2) out += cur
      cur = Vector.empty; curBytes = 0L
    }
    files.foreach { case (name, len) =>
      if (cur.nonEmpty && curBytes + len > targetBytes) flush()
      cur :+= (name, len)
      curBytes += len
    }
    flush()
    out.result()
  }

  /** Walk `dir`, bin-pack each partition's parquet files. Pure planning —
    * no data is read. */
  def plan(spark: SparkSession, dir: String, targetBytes: Long): Seq[Bin] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bins = Seq.newBuilder[Bin]
    def walk(d: Path): Unit = {
      val entries = fs.listStatus(d)
      // skip dot AND underscore dirs symmetrically with isDataFile: a
      // crashed write leaves _temporary/.../part-*.parquet — descending
      // there would compact (and delete!) another job's uncommitted
      // task-attempt files
      entries.filter(_.isDirectory)
        .filterNot(st => st.getPath.getName.startsWith(".") ||
          st.getPath.getName.startsWith("_"))
        .foreach(st => walk(st.getPath))
      val files = entries
        .filter(st => st.isFile && isDataFile(st.getPath.getName))
        .sortBy(_.getPath.getName)
      packBins(files.map(st => st.getPath.toString -> st.getLen).toSeq,
        targetBytes)
        .foreach { group =>
          bins += Bin(d.toString, group.map(_._1), group.map(_._2).sum)
        }
    }
    walk(root)
    bins.result()
  }

  /** Rewrite every planned bin; returns what changed.
    *
    * `sortBy`: optional clustering — each rewritten file is sorted on
    * these columns (the OPTIMIZE…ZORDER-lite move): parquet writes row-group
    * min/max stats per column, so a later range/equality filter on a sort
    * column skips whole row groups of the compacted files. Sorting happens
    * inside the single-task bin rewrite, so it costs one in-memory sort of
    * `targetBytes` per bin and changes nothing else (content identity is
    * row-set identity; parquet row order is not part of the table
    * contract).
    *
    * @param writeOptions extra parquet writer options applied to every
    *   rewritten file — the lake-layout levers that only matter at
    *   rewrite time, e.g. [[graft.operators.LakeLayout.bloomOptions]]'s
    *   `parquet.bloom.filter.enabled#<col>` for point-lookup skipping on
    *   a NON-sort column (BloomLakeSpec measures the effect; sort columns
    *   already skip via row-group min/max). */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
      sortBy: Seq[String] = Nil,
      allowManifested: Boolean = false,
      writeOptions: Map[String, String] = Map.empty): Report = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a FileStreamSink lake (writeStream.format("parquet")) is read through
    // its _spark_metadata manifest, which pins the EXACT committed file
    // names — rewriting/deleting them in place would corrupt the table
    // (readers FileNotFound on the manifest's entries). Such lakes take the
    // manifest-aware protocol instead: plan FROM the manifest, write the
    // compacted files invisibly, atomically swap the manifest's file list,
    // then vacuum. Check the target AND every ancestor: compacting one
    // partition dir of a manifest-managed lake needs the same manifest
    // commit as compacting its root. graft's own FileSink commits via
    // deterministic renames with no manifest, so its lakes take the plain
    // directory-walk path.
    findManifestRoot(fs, root) match {
      case Some(mroot) =>
        // fail-safe by default: a manifested compaction rewrites the
        // sink's committed file list and then DELETES the originals —
        // only safe under the quiescence contract, which this library
        // cannot verify across JVMs. The opt-in flag is the caller's
        // attestation that the writing query is stopped; the active-query
        // scan below enforces the same-JVM half of the contract even
        // when the flag is set.
        require(allowManifested,
          s"$dir is managed by a _spark_metadata manifest at $mroot. " +
          "Compacting it rewrites the sink's committed file list and " +
          "vacuums the originals — safe ONLY while the writing query is " +
          "stopped. Stop the sink, then pass allowManifested = true.")
        assertNoActiveWriter(spark, fs, mroot)
        compactManifested(spark, fs, mroot, fs.makeQualified(root),
          targetBytes, sortBy, writeOptions)
      case None =>
        val bins = plan(spark, dir, targetBytes)
        if (bins.isEmpty) return Report(0, 0, 0, 0, 0L)
        LakeCommit.runAll(bins, MaxConcurrentBins)(bin =>
          rewrite(spark, fs, bin, sortBy, deleteOriginals = true,
            writeOptions))
        Report(bins.map(_.partitionDir).distinct.size, bins.size,
          bins.map(_.files.size).sum, bins.size, bins.map(_.bytes).sum)
    }
  }

  /** Best-effort enforcement of the quiescence contract: refuse to mutate
    * a manifested lake while any ACTIVE streaming query in the CALLING
    * SESSION is writing to it. A file-sink query's sink renders as
    * `FileSink[<path>]` (`FileStreamSink.toString`, the v1 `Sink` IS the
    * connector `Table` `StreamExecution.sink` returns), so the check is a
    * string match on the qualified path — no progress events needed, which
    * matters because `lastProgress` is null before a query's first batch
    * completes. Scope is exactly `spark.streams.active`: queries started
    * from OTHER SparkSessions of the same context (`spark.newSession()`)
    * or from other JVMs are invisible here (Spark exposes no
    * cross-session query registry) — THOSE are what the caller's
    * `allowManifested = true` attests to having stopped. */
  private def assertNoActiveWriter(spark: SparkSession, fs: FileSystem,
      manifestRoot: Path): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val target = fs.makeQualified(manifestRoot)
    val sinkRe = """FileSink\[(.+)\]""".r
    spark.streams.active.foreach { q =>
      val desc = q match {
        case w: StreamingQueryWrapper => w.streamingQuery.sink.toString
        case other => String.valueOf(other)
      }
      sinkRe.findFirstMatchIn(desc).foreach { m =>
        val sinkPath = fs.makeQualified(new Path(m.group(1)))
        require(sinkPath != target,
          s"streaming query ${q.id} (${Option(q.name).getOrElse("unnamed")}) " +
          s"in this session is actively writing to $target — stop it " +
          "before compacting/vacuuming a manifested lake")
      }
    }
  }

  /** Construct the sink log and read its committed file list, repairing
    * the compact-file layout ONLY if the read actually fails. A healthy
    * sink log (any number of its own interval-spaced `.compact` files) is
    * left byte-for-byte untouched by a no-op maintenance run; a log broken
    * by a kill between graft's snapshot rename and its older-compact
    * cleanup — two newest compacts whose difference is a bogus interval,
    * see [[repairManifestCompacts]] — throws on read, gets healed, and is
    * re-read. (When the bogus difference happens to be a valid-looking
    * interval the read succeeds anyway AND is correct: `allFiles()` reads
    * the newest compact, which is graft's cumulative snapshot.) The third
    * element reports whether a heal ran, threaded into [[Report]]. */
  private def openLogHealed(spark: SparkSession, fs: FileSystem,
      metadataDir: Path): (FileStreamSinkLog, Array[SinkFileStatus], Boolean) = {
    def open(): (FileStreamSinkLog, Array[SinkFileStatus]) = {
      val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
        metadataDir.toString)
      (log, log.allFiles())
    }
    try { val (log, entries) = open(); (log, entries, false) }
    catch {
      case scala.util.control.NonFatal(_) =>
        repairManifestCompacts(fs, metadataDir)
        val (log, entries) = open()
        (log, entries, true)
    }
  }

  /** Nearest self-or-ancestor directory holding a `_spark_metadata`
    * manifest, if any. */
  private def findManifestRoot(fs: FileSystem, root: Path): Option[Path] = {
    var probe: Path = fs.makeQualified(root)
    while (probe != null) {
      if (fs.exists(new Path(probe, "_spark_metadata"))) return Some(probe)
      probe = probe.getParent
    }
    None
  }

  private def rewrite(spark: SparkSession, fs: FileSystem, bin: Bin,
      sortBy: Seq[String], deleteOriginals: Boolean,
      writeOptions: Map[String, String]): Unit = {
    val partDir = new Path(bin.partitionDir)
    // explicit leaf files → no partition inference: data columns only,
    // exactly what belongs inside a file of this partition dir.
    // mergeSchema ALWAYS: a bin can mix pre- and post-evolution files, and
    // without the union one file's footer would win — silently dropping the
    // newer columns' data before the originals are deleted
    val one = spark.read.option("mergeSchema", "true")
      .parquet(bin.files: _*).coalesce(1)
    val clustered =
      if (sortBy.isEmpty) one
      else one.sortWithinPartitions(sortBy.map(
        org.apache.spark.sql.functions.col): _*)
    LakeCommit.writeOneFile(clustered,
      new Path(partDir, s".compacting-${bin.outputName}"),
      new Path(partDir, bin.outputName), writeOptions)
    if (deleteOriginals) bin.files.foreach(f => fs.delete(new Path(f), false))
  }

  // ---------------------------------------------------------------------
  // Manifest-aware protocol (FileStreamSink lakes)
  // ---------------------------------------------------------------------

  /** Compact a FileStreamSink lake (or a subtree of one) WITHOUT breaking
    * its `_spark_metadata` manifest — the Delta-OPTIMIZE/Iceberg-rewrite
    * move re-expressed over Spark's own sink log. The manifest is the
    * source of truth throughout:
    *
    *  1. '''Plan from the manifest''', not the directory walk — only files
    *     the sink actually committed are compacted (a crashed micro-batch's
    *     orphans are invisible to readers and must not leak into a bin).
    *  2. '''Rewrite bins invisibly''': staged write + rename as in the
    *     plain path, but originals are NOT deleted — and because readers
    *     list through the manifest, the new `compact-*` files are invisible
    *     until the commit. A kill anywhere here leaves the table reading
    *     the ORIGINAL files, bit-for-bit; a re-run rewrites the same
    *     deterministic names.
    *  3. '''One atomic manifest commit''': the post-compaction file list
    *     (all entries, minus the originals, plus the new files) is written
    *     as a COMPACT log file at the manifest's LATEST batch id via
    *     write-temp + `FileContext.rename(OVERWRITE)` — a single metadata
    *     rename, the same primitive Spark's own checkpoint managers rely
    *     on. Writing at the latest id (never a phantom id beyond it) keeps
    *     a resumed sink correct: its next `addBatch(latest+1)` still
    *     exceeds the log's latest batch, so nothing is silently skipped.
    *     Any OLDER compact file is then deleted: Spark's
    *     `CompactibleFileStreamLog` derives its compact interval from the
    *     DIFFERENCE of the two newest compact files when two exist, so a
    *     snapshot at an arbitrary latest id next to a sink-written compact
    *     would imply a bogus interval and make every later `allFiles()`
    *     throw (verified against the 4.1.2 bytecode). With exactly one
    *     compact file the log falls back to `deriveCompactInterval`, which
    *     always returns a divisor of latest+1 — valid at ANY position.
    *     Older compacts are safe to drop: each compact is cumulative, so
    *     the newest strictly supersedes them. [[repairManifestCompacts]]
    *     restores this single-compact invariant whenever a read finds the
    *     log broken ([[openLogHealed]] — a healthy sink log is never
    *     touched by a no-op run), which makes the write-then-delete pair
    *     crash-safe (a kill between them leaves two compacts; the next
    *     maintenance call heals by deleting the older — the newer IS the
    *     full post-compaction snapshot — and reports it via
    *     `Report.manifestRepaired`).
    *  4. '''Vacuum''': only after the commit are unreferenced data files
    *     under the subtree deleted ([[vacuumUnreferenced]]) — this removes
    *     the originals AND self-heals orphans from any earlier kill. It
    *     runs even when no bins were planned, so a re-run after a kill in
    *     the step-3→4 window reclaims the stranded originals.
    *
    * Quiescence contract (same as every manifest-less compactor, plus the
    * manifest swap): the writing query must be STOPPED and concurrent
    * readers drained while steps 3–4 run. A sink resumed afterwards keeps
    * appending new batches and compacting its own log as usual (with the
    * interval re-derived from the single compact's position). */
  private def compactManifested(spark: SparkSession, fs: FileSystem,
      manifestRoot: Path, subtree: Path, targetBytes: Long,
      sortBy: Seq[String], writeOptions: Map[String, String]): Report = {
    val metadataDir = new Path(manifestRoot, "_spark_metadata")
    val (log, entries, healed) = openLogHealed(spark, fs, metadataDir)
    val latestBatchId = log.getLatestBatchId().getOrElse(
      throw new IllegalStateException(
        s"$metadataDir holds no committed batches — nothing to compact"))
    val inSubtree = entries.filter { e =>
      val p = fs.makeQualified(e.sparkPath.toPath)
      isDataFile(p.getName) && isUnder(p, subtree)
    }
    val bins = inSubtree
      .groupBy(e => fs.makeQualified(e.sparkPath.toPath).getParent)
      .toSeq.sortBy(_._1.toString)
      .flatMap { case (parent, es) =>
        // sizes come from the manifest entries themselves — one
        // getFileStatus per file here would be a metadata round-trip per
        // committed file on exactly the object stores the manifest exists
        // to spare
        val files = es
          .map(e => fs.makeQualified(e.sparkPath.toPath).toString -> e.size)
          .sortBy { case (p, _) => new Path(p).getName }
        packBins(files.toSeq, targetBytes).map(group =>
          Bin(parent.toString, group.map(_._1), group.map(_._2).sum))
      }
    if (bins.isEmpty) {
      // nothing to rewrite, but a prior kill may have stranded originals
      // that this manifest no longer references — reclaim them
      vacuumUnreferenced(spark, manifestRoot.toString, Some(subtree.toString))
      return Report(0, 0, 0, 0, 0L, manifestRepaired = healed)
    }
    // step 2: write the compacted files — invisible to manifest readers
    LakeCommit.runAll(bins, MaxConcurrentBins)(bin =>
      rewrite(spark, fs, bin, sortBy, deleteOriginals = false,
        writeOptions))
    // step 3: swap the manifest's file list in ONE rename, then restore
    // the single-compact invariant (see the scaladoc: two compact files
    // make Spark derive interval = their difference — bogus for an
    // arbitrary snapshot position)
    val replaced = bins.flatMap(_.files).map(f =>
      fs.makeQualified(new Path(f))).toSet
    val kept = entries.filterNot(e =>
      replaced.contains(fs.makeQualified(e.sparkPath.toPath)))
    val added = bins.map { bin =>
      SinkFileStatus(fs.getFileStatus(
        new Path(new Path(bin.partitionDir), bin.outputName)))
    }
    val newList: Array[SinkFileStatus] = kept ++ added
    testFailpointBeforeManifestCommit()
    val tmp = new Path(metadataDir,
      s".graft-compaction-${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try log.serialize(newList, out) finally out.close()
    val dest = new Path(metadataDir, s"$latestBatchId.compact")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dest.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    repairManifestCompacts(fs, metadataDir)
    // step 4: originals (and any earlier kill's orphans) are now
    // unreferenced — reclaim them
    vacuumUnreferenced(spark, manifestRoot.toString, Some(subtree.toString))
    Report(bins.map(_.partitionDir).distinct.size, bins.size,
      bins.map(_.files.size).sum, bins.size, bins.map(_.bytes).sum,
      manifestRepaired = healed)
  }

  /** Restore the single-compact invariant: keep only the NEWEST
    * `<id>.compact` file. Safe unconditionally — every compact log file is
    * cumulative (it contains the full history up to its id), so the newest
    * strictly supersedes any older one, whether the sink wrote it or a
    * graft snapshot did. With one compact file Spark derives its interval
    * via `deriveCompactInterval` (always a divisor of id+1 — valid at any
    * position); with two it uses their difference, which a graft snapshot
    * at the latest batch id would corrupt. */
  private def repairManifestCompacts(fs: FileSystem, metadataDir: Path): Unit = {
    val compacts = fs.listStatus(metadataDir)
      .map(_.getPath)
      .filter(p => p.getName.matches("\\d+\\.compact"))
      .sortBy(p => p.getName.stripSuffix(".compact").toLong)
    compacts.dropRight(1).foreach(p => fs.delete(p, false))
  }

  /** Crash-injection seam for the spec: fires after every bin is rewritten
    * and renamed but BEFORE the manifest swap — the widest window in which
    * a kill must leave the table reading its original files untouched. */
  private[etl] var testFailpointBeforeManifestCommit: () => Unit = () => ()

  private def isUnder(p: Path, ancestor: Path): Boolean = {
    var cur: Path = p
    while (cur != null) {
      if (cur == ancestor) return true
      cur = cur.getParent
    }
    false
  }

  /** Delete every data file under `subtree` (default: the whole lake) that
    * the `_spark_metadata` manifest does not reference — compacted-away
    * originals, crashed micro-batches' uncommitted task files, and
    * killed-compaction leftovers. Manifest readers can never see these, so
    * under the quiescence contract (no running writer) deletion is safe.
    * Dot/underscore dirs (staging, `_spark_metadata` itself, `_temporary`)
    * are never descended. Returns the number of files deleted. */
  def vacuumUnreferenced(spark: SparkSession, dir: String,
      subtree: Option[String] = None): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metadataDir = new Path(root, "_spark_metadata")
    require(fs.exists(metadataDir),
      s"$dir has no _spark_metadata manifest — vacuum is manifest-driven")
    assertNoActiveWriter(spark, fs, fs.makeQualified(root))
    // a kill between the snapshot rename and the older-compact delete
    // leaves two compact files whose bogus derived interval breaks
    // allFiles() — openLogHealed repairs exactly (and only) that case
    val (_, allEntries, _) = openLogHealed(spark, fs, metadataDir)
    val referenced = allEntries
      .map(e => fs.makeQualified(e.sparkPath.toPath)).toSet
    val start = fs.makeQualified(subtree.map(new Path(_)).getOrElse(root))
    var deleted = 0L
    def walk(d: Path): Unit = {
      val entries = fs.listStatus(d)
      entries.filter(_.isDirectory)
        .filterNot(st => st.getPath.getName.startsWith(".") ||
          st.getPath.getName.startsWith("_"))
        .foreach(st => walk(st.getPath))
      entries.filter(st => st.isFile && isDataFile(st.getPath.getName))
        .map(st => fs.makeQualified(st.getPath))
        .filterNot(referenced.contains)
        .foreach { p => fs.delete(p, false); deleted += 1 }
    }
    walk(start)
    deleted
  }
}
