package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one context). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(cores = 4, shufflePartitions = 4, appName = "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Returns once every listener event posted before the call has been
    * delivered on the shared bus queue — where query-execution listeners
    * (RunScope's release among them) run — so what they do is visible
    * without a sleep or a poll. */
  def drainListenerBus(): Unit = {
    val m = graft.metrics.JobMetrics.attach(spark.sparkContext)
    try m.flush() finally m.detach()
  }
}
