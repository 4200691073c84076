package graft

import java.net.URI
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under the `failrename` scheme, with a hook on the
  * renames whose destination a spec selects ([[FailingRenameFileSystem.arm]]).
  * Once `expected` hooked renames have started, the k-th failing one to
  * have started fails after k × 400 ms, and every passing one renames after
  * `expected` × 400 ms, so a caller that returns at the first failure
  * leaves the later hooked renames running. */
class FailingRenameFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "failrename"
  override def getUri: URI = URI.create("failrename:///")

  override def rename(src: Path, dst: Path): Boolean = {
    import FailingRenameFileSystem._
    if (!armed || !hooked(dst)) super.rename(src, dst)
    else {
      val fail = fails(dst)
      val k = if (fail) failArrivals.getAndIncrement() else expected
      inFlight.incrementAndGet()
      try {
        started.countDown()
        started.await(30, TimeUnit.SECONDS)
        Thread.sleep(k * 400L)
        if (fail) { othersAtFailure.compareAndSet(-1, inFlight.get() - 1); false }
        else super.rename(src, dst)
      } finally inFlight.decrementAndGet()
    }
  }
}

object FailingRenameFileSystem {
  @volatile var armed = false
  @volatile var started = new CountDownLatch(0)
  @volatile private var expected = 0
  @volatile private var hooked: Path => Boolean = _ => false
  @volatile private var fails: Path => Boolean = _ => false
  val failArrivals = new AtomicInteger()
  val inFlight = new AtomicInteger()
  /** Hooked renames still running when the first failing one returned. */
  val othersAtFailure = new AtomicInteger(-1)

  /** Hook the renames whose destination `hooked` selects; of those, the
    * ones `fails` selects return false. The default hooks
    * [[graft.streaming.FileSink]]'s commit renames (`batch-*`) and fails
    * them all. */
  def arm(expected: Int,
      hooked: Path => Boolean = _.getName.startsWith("batch-"),
      fails: Path => Boolean = _ => true): Unit = {
    this.expected = expected
    this.hooked = hooked
    this.fails = fails
    started = new CountDownLatch(expected)
    failArrivals.set(0)
    othersAtFailure.set(-1)
    armed = true
  }

  /** Register the scheme with the session's Hadoop configuration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.failrename.impl",
      classOf[FailingRenameFileSystem].getName)
}
