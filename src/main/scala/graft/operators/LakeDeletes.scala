package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Row-level erasure for a plain parquet lake — the right-to-be-forgotten
  * primitive (GDPR Art. 17) every corpus lake eventually needs: delete a
  * batch of record ids while rewriting ONLY the files that can contain
  * them.
  *
  * Reference scope note: the reference ETL (`StreamingEtl.java`) only ever
  * appends; erasure is part of the engine's lake-ops surface (SURVEY §2B,
  * with q170's GDPR rollup and LakeAudit's WAP lake).
  *
  * Cost model at 100 TB: the candidate set comes from parquet FOOTER
  * min/max statistics on the id column — a metadata-only pass, no data
  * read — so the data cost is `read + rewrite` of exactly the files whose
  * id range intersects the deletion batch (plus one membership-count read
  * per candidate to skip range-only false positives, which also makes
  * re-running a batch touch zero files). On an id-sorted lake (the
  * [[graft.operators.LakeLayout]] Z-order / repartitionByRange layout)
  * that is a handful of files per request; an unsorted lake degrades to
  * "most files intersect" — sort your lake. Erasure batches are
  * driver-sized (a deletion LIST, thousands of ids, the GDPR-request
  * shape — for corpus-scale deletes use an anti-join rewrite instead).
  *
  * Crash contract (the LakeCompaction discipline): the survivor file is
  * fully written under `.erase-staging/<encoded-dest>` BEFORE the
  * original is deleted; the staged file IS the committed truth from that
  * moment — [[replayStaging]] (run automatically at every [[erase]])
  * finishes any interrupted commit by deleting the stale destination and
  * renaming the staged file in. A crash never loses survivors and never
  * resurrects deleted rows. */
object LakeDeletes {

  final case class EraseReport(filesTotal: Int, filesCandidate: Int,
      filesTouched: Int, rowsDeleted: Long)

  private def stagingDir(dir: String) = new Path(dir, ".erase-staging")

  private def encodeDest(rel: String): String =
    java.net.URLEncoder.encode(rel, "UTF-8")
  private def decodeDest(name: String): String =
    java.net.URLDecoder.decode(name, "UTF-8")

  private def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") &&
      !name.startsWith(".")

  private def listDataFiles(fs: FileSystem, root: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    def walk(d: Path): Unit =
      fs.listStatus(d).foreach { st => // manual recursion: the CLAUDE.md
        val n = st.getPath.getName     // listFiles block-location gotcha
        if (st.isDirectory) { if (!n.startsWith(".")) walk(st.getPath) }
        else if (isDataFile(n)) out += st.getPath
      }
    walk(root)
    out.result()
  }

  /** (file, min, max, rowCount) of `idCol` per data file — footer
    * statistics only, no data pages read. Files missing stats (never the
    * case for Spark-written INT64 columns) are conservatively treated as
    * full-range candidates. */
  private[graft] def fileRanges(spark: SparkSession, dir: String,
      idCol: String): Seq[(Path, Long, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    listDataFiles(fs, new Path(dir)).map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        var lo = Long.MaxValue
        var hi = Long.MinValue
        var rows = 0L
        var sawStats = true
        reader.getFooter.getBlocks.forEach { b =>
          rows += b.getRowCount
          val col = b.getColumns.stream()
            .filter(c => c.getPath.toDotString == idCol)
            .findFirst()
          if (col.isPresent && col.get.getStatistics != null &&
              !col.get.getStatistics.isEmpty) {
            col.get.getStatistics match {
              case s: org.apache.parquet.column.statistics.LongStatistics =>
                lo = math.min(lo, s.genericGetMin)
                hi = math.max(hi, s.genericGetMax)
              case s: org.apache.parquet.column.statistics.IntStatistics =>
                lo = math.min(lo, s.genericGetMin.toLong)
                hi = math.max(hi, s.genericGetMax.toLong)
              case _ => sawStats = false
            }
          } else sawStats = false
        }
        if (!sawStats || rows == 0L) (p, Long.MinValue, Long.MaxValue, rows)
        else (p, lo, hi, rows)
      } finally reader.close()
    }
  }

  /** Finish one `.erase-staging/` entry. A staged FILE was fully written
    * before its original was touched, so it wins: delete the (possibly
    * still present) destination and rename the staged file in. A
    * directory is a torn tmp write and is dropped. */
  private def completeStaged(fs: FileSystem, root: Path,
      st: org.apache.hadoop.fs.FileStatus): Unit =
    if (st.isFile) {
      val dest = new Path(root, decodeDest(st.getPath.getName))
      if (fs.exists(dest)) fs.delete(dest, false)
      LakeCommit.rename(fs, st.getPath, dest)
    } else fs.delete(st.getPath, true)

  /** Finish any commit a crash interrupted ([[completeStaged]] on every
    * staging entry). Returns the number of replayed commits. */
  private[operators] def replayStaging(spark: SparkSession,
      dir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val stage = stagingDir(dir)
    if (!fs.exists(stage)) return 0
    val entries = fs.listStatus(stage)
    entries.foreach(completeStaged(fs, root, _))
    fs.delete(stage, true)
    entries.count(_.isFile)
  }

  /** Retention sweep for crash-orphaned erase stages — the aging story
    * for a lake whose LAST erase crashed and that never runs another one
    * (every [[erase]] replays automatically, so this only matters for
    * abandoned staging). Entries older than `retentionMs`:
    *   - staged FILES are COMPLETED, never deleted — a staged survivor
    *     file is the only copy of its post-erase rows from the moment it
    *     was fully written ([[replayStaging]]'s contract); age changes
    *     nothing about that;
    *   - tmp write DIRECTORIES (a torn in-progress write) are deleted.
    * Younger entries are left alone ([[LakeAudit.vacuumQuarantine]]'s age
    * posture); the staging root itself is removed once empty.
    * Owner-invoked, single-writer like every mutation here. Returns the
    * number of entries acted on. */
  def vacuumStaging(spark: SparkSession, dir: String, retentionMs: Long,
      nowMs: Long = System.currentTimeMillis()): Int = {
    require(retentionMs >= 0, s"retentionMs=$retentionMs")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val stage = stagingDir(dir)
    if (!fs.exists(stage)) return 0
    val aged = fs.listStatus(stage)
      .filter(st => nowMs - st.getModificationTime > retentionMs)
    aged.foreach(completeStaged(fs, root, _))
    if (fs.listStatus(stage).isEmpty) fs.delete(stage, true)
    aged.length
  }

  /** Delete every row whose `idCol` is in `ids`, rewriting only the files
    * that actually contain one. Idempotent: a re-run of the same batch
    * touches zero files. */
  def erase(spark: SparkSession, dir: String, ids: Seq[Long],
      idCol: String): EraseReport = {
    require(ids.nonEmpty, "empty erasure batch")
    replayStaging(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val sorted = ids.distinct.sorted.toArray
    val ranges = fileRanges(spark, dir, idCol)
    val candidates = ranges.filter { case (_, lo, hi, _) =>
      // any id in [lo, hi]? (first id >= lo) <= hi
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val at = if (i >= 0) i else -i - 1
      at < sorted.length && sorted(at) <= hi
    }
    val idCond = col(idCol).isin(sorted.map(Long.box).toSeq: _*)
    val touched = new java.util.concurrent.atomic.AtomicInteger(0)
    val deleted = new java.util.concurrent.atomic.AtomicLong(0L)
    // Per-candidate work items are INDEPENDENT — disjoint files, each with
    // its own staged name and its own count/write jobs — so they run
    // through the driver pool (guide §2.6 "overlap independent jobs"): the
    // per-file protocol (membership count → staged survivor write → rename
    // commit) is the sequential one, only the driver-side latency between
    // the tiny jobs (footer read, plan build, job submit, renames)
    // overlaps. The r20 profile of an 8-file erase measured more wall
    // BETWEEN its ~16 jobs than in them. Each file's staged write commits
    // independently, and runAll returns only when no per-file work is in
    // flight, so the documented recovery (re-running erase, whose
    // [[replayStaging]] heals every per-file state) never races a commit.
    LakeCommit.runAll(candidates, 8) { case (p, _, _, rowsBefore) =>
      val df = spark.read.parquet(p.toString)
      val hit = df.filter(idCond).count()
      if (hit > 0L) {
        val rel = root.toUri.relativize(p.toUri).getPath
        val stage = stagingDir(dir)
        fs.mkdirs(stage)
        if (rowsBefore - hit > 0L) {
          // the tmp dir is keyed by the FULL relative path, like the staged
          // name: two candidates sharing a base name in different
          // subdirectories must not write into one tmp dir (ADVICE r20)
          val staged = new Path(stage, encodeDest(rel))
          LakeCommit.writeOneFile(df.filter(!idCond),
            new Path(stage, s".tmp-${encodeDest(rel)}"), staged)
          // commit: from here the staged file is the truth
          fs.delete(p, false)
          LakeCommit.rename(fs, staged, p)
        } else {
          fs.delete(p, false) // every row erased: the file just goes
        }
        touched.incrementAndGet()
        deleted.addAndGet(hit)
      }
    }
    val stage = stagingDir(dir)
    if (fs.exists(stage) && fs.listStatus(stage).isEmpty)
      fs.delete(stage, true)
    EraseReport(ranges.length, candidates.length, touched.get(),
      deleted.get())
  }
}
