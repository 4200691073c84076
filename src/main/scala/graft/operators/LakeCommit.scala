package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** The commit mechanics the lake writers share: the streaming
  * [[graft.streaming.FileSink]], [[LakeDeletes]], [[LakeAudit]],
  * [[CdcMerge]], [[IvfStorage]] and [[graft.etl.LakeCompaction]]. Each
  * writer keeps its own protocol (which step commits, what a replay heals,
  * its crash contract); what lives here is stated once:
  *   - [[runAll]], the one driver thread pool, with one failure policy;
  *   - [[rename]], a Hadoop rename whose `false` return is an error;
  *   - [[writeOneFile]], a staged write of one parquet file. */
object LakeCommit {

  /** Run `f` over `units` on a pool of at most `width` driver threads and
    * return only when no unit is running.
    *
    * The pool is created per call, so its threads inherit the caller's
    * Spark local properties (job group, call site). On the first failure
    * the units that have not started are skipped, the running ones are
    * waited for without a bound, and the first failure is rethrown as
    * thrown, with later ones added as suppressed: a writer's replay may
    * then start at once, because no unit of this call can race it. An
    * interrupt of the caller is handled the same way: unstarted units are
    * skipped, running ones waited for, and the `InterruptedException` is
    * rethrown with the interrupt flag restored. */
  def runAll[A](units: Seq[A], width: Int)(f: A => Unit): Unit = {
    if (units.isEmpty) return
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val stop = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(width, units.size)))
    try units.foreach { u =>
      pool.execute { () =>
        if (!stop.get) {
          try f(u)
          catch { case t: Throwable => failures.add(t); stop.set(true) }
        }
      }
    } finally pool.shutdown()
    def rethrow(first: Throwable): Nothing = {
      failures.forEach(t => if (t ne first) first.addSuppressed(t))
      throw first
    }
    try while (!pool.awaitTermination(1, TimeUnit.MINUTES)) ()
    catch {
      case e: InterruptedException =>
        stop.set(true)
        var done = false
        while (!done) {
          try done = pool.awaitTermination(1, TimeUnit.MINUTES)
          catch { case _: InterruptedException => () }
        }
        Thread.currentThread().interrupt()
        rethrow(e)
    }
    val first = failures.peek()
    if (first != null) rethrow(first)
  }

  /** Rename `src` to `dest`, turning Hadoop's `false` return into an
    * `IOException`: an unchecked failed commit rename silently loses the
    * staged data once its staging directory is removed. */
  def rename(fs: FileSystem, src: Path, dest: Path): Unit =
    if (!fs.rename(src, dest))
      throw new java.io.IOException(s"commit rename failed: $src -> $dest")

  /** Write `df` as ONE parquet file at `dest`: `coalesce(1)` output goes
    * to the hidden directory `tmpDir`, its single data file is renamed to
    * `dest` (replacing a file already there, so a re-run overwrites its
    * own output) and `tmpDir` is removed. */
  def writeOneFile(df: DataFrame, tmpDir: Path, dest: Path,
      options: Map[String, String] = Map.empty): Unit = {
    val fs = tmpDir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    df.coalesce(1).write.mode("overwrite").options(options).parquet(tmpDir.toString)
    val part = fs.listStatus(tmpDir).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new java.io.IOException(s"no part file under $tmpDir"))
    fs.delete(dest, false)
    rename(fs, part, dest)
    fs.delete(tmpDir, true)
  }
}
