package perfbench

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Batch analytics through `SparkEntry.queries`: each query fully
  * materialized into the noop sink (never `count()`, which Catalyst prunes),
  * first in a fresh session, then warm in the same session. An untimed pass
  * at the end writes each result as parquet for the oracle check. */
final class Queries(run: Run) {
  private lazy val outDir = Files.createDirectories(run.dir.resolve("out"))

  /** One timed query into noop. A throw is recorded, never rethrown. */
  private def time(spark: SparkSession, name: String, pass: Int): Map[String, Any] = {
    val key = s"q.$name.${if (pass == 0) "first" else "warm"}"
    val t0 = Clock.now
    val error =
      try {
        Trace.tagged(spark, key) {
          SparkEntry.queries(name)(spark, run.tables).write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val t1 = Clock.now
    Map("name" -> name, "pass" -> pass, "start_ns" -> t0, "end_ns" -> t1) ++
      error.map("error" -> _)
  }

  def headline(): Unit = {
    var spark: SparkSession = null
    for (_ <- 1 to Main.SetupRepeats) {
      if (spark != null) run.stop(spark)
      Main.collectGarbage()
      val t0 = System.nanoTime()
      spark = run.session(run.nproc)
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"${run.tables}/lineitem.parquet").count()
      run.out.append("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    run.log("sessions started")
    // first touch in a fresh session: codegen, memo builds and the lake
    // fixtures are paid here
    run.queries.foreach(n => run.out.append("queries", time(spark, n, 0)))
    run.log("first pass done")
    // warm passes: two at least, so that each query's faster pass sheds a
    // burst of host contention, and more until they add up to the run time
    var warm = 0L
    var pass = 1
    while (pass <= 2 || warm < run.seconds * 1000000000L) {
      run.queries.foreach { n =>
        val r = time(spark, n, pass)
        warm += r("end_ns").asInstanceOf[Long] - r("start_ns").asInstanceOf[Long]
        run.out.append("queries", r)
      }
      pass += 1
    }
    run.log("warm passes done")
    // the results the oracle check reads, written outside the timed passes
    HeapPeak.excluding {
      Trace.tagged(spark, "verify") {
        run.queries.foreach { n =>
          try SparkEntry.queries(n)(spark, run.tables).write.mode("overwrite")
            .parquet(outDir.resolve(n).toString)
          catch { case e: Throwable => run.log(s"$n failed to write its result: $e") }
        }
      }
    }
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
      outDir.resolve("oracle_sql.json").toFile,
      run.queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    run.stop(spark)
  }
}
