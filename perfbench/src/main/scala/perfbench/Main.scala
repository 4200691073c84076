package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Raw measurements of one run, written as one JSON object at the end. The
  * arithmetic over them (percentiles, attribution, self time) is done by
  * the Python side, which reads this file. */
final class RawOut {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def append(k: String, v: Any): Unit = synchronized {
    fields(k) = fields.getOrElse(k, Vector.empty[Any]).asInstanceOf[Vector[Any]] :+ v
  }
  def write(p: Path): Unit = synchronized {
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(p.toFile, fields)
  }
}

final case class Run(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: Path,
    tables: String, queries: Seq[String]) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val out = new RawOut
  val spans = new Spans
  private var tallied = Tally.zero
  def tally(t: Tally): Unit = synchronized { tallied += t }
  def tallySoFar: Tally = tallied

  private var jobs: Option[JobRecorder] = None

  /** A local session with `slots` task slots, configured as the library
    * configures its own; traced, it records its Spark jobs. */
  def session(slots: Int): SparkSession = {
    val spark = graft.GraftSession.local(slots, slots, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    if (trace) {
      val j = new JobRecorder
      spark.sparkContext.addSparkListener(j)
      jobs = Some(j)
    }
    spark
  }

  def stop(spark: SparkSession): Unit = {
    jobs.foreach(j => out.append("jobs", j.toSeq))
    jobs = None
    spark.stop()
  }

  /** Progress on stderr, in seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")
}

/** Runs one workload and writes its raw measurements to `<dir>/raw.json`.
  *
  * Usage: perfbench.Main --workload <backlog_fanout|queries_headline>
  *   --seed <n> --seconds <s> --trace <0|1> --dir <run dir>
  *   [--tables <table dir> --queries <q1,q2,...>]
  */
object Main {
  /** Set-ups per run; the reported set-up time is their median. */
  val SetupRepeats = 3

  /** Between repeated set-ups: collects what the previous one left, so that
    * a repeat pays no more than a single set-up would. */
  def collectGarbage(): Unit = {
    System.gc()
    Thread.sleep(50)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val run = Run(
      workload = opt("workload"),
      seed = opt("seed").toLong,
      seconds = opt("seconds").toInt,
      trace = opt("trace") == "1",
      dir = Files.createDirectories(Paths.get(opt("dir"))),
      tables = opts.getOrElse("tables", ""),
      queries = opts.get("queries").toSeq.flatMap(_.split(',')))
    HeapPeak.install()
    run.out.put("workload", run.workload)
    run.out.put("seed", run.seed)
    run.out.put("nproc", run.nproc)
    // Spark leaves non-daemon threads behind: end the JVM explicitly, with
    // a failing code when the workload throws
    try run.workload match {
      case "backlog_fanout" => new Etl(run).backlogFanout()
      case "queries_headline" => new Queries(run).headline()
      case other => sys.error(s"unknown workload '$other'")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    run.log("done")
    val t = run.tallySoFar
    run.out.put("heap_peak_mb", HeapPeak.peakMb())
    run.out.put("spans", run.spans.toSeq.map(_.toMap))
    run.out.put("trace_overhead_ns", Trace.overheadNs.get())
    run.out.put("checks", Map("attempted" -> t.attempted, "failed" -> t.failed, "problems" -> t.problems))
    run.out.write(run.dir.resolve("raw.json"))
    System.exit(0)
  }
}
