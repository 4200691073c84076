package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap

/** q202's universal-content cap: a content hash spread across more than
  * `capSources` sources is boilerplate, not mirror evidence — it is dropped
  * from the pairing universe BEFORE the pair join (at a 10k-source crawl
  * one universal hash would otherwise be a ~50M-pair hot key), and the drop
  * is surfaced through the `observe` counter, never silent. On the test
  * tables q202's pair grid recounts from the raw source sets.
  */
class MirrorCapSpec extends SparkSpec {
  import spark.implicits._

  /** 6 sources; one UNIVERSAL content in all 6, one honest mirror pair
    * (s0, s1) sharing `dup`, plus one unique content per source. */
  private def docs() = {
    val universal = (0 until 6).map(i => (100L + i, s"s$i", "shared boilerplate"))
    val mirrored = Seq((200L, "s0", "dup content"), (201L, "s1", "dup content"))
    val unique = (0 until 6).map(i => (300L + i, s"s$i", s"unique text $i"))
    (universal ++ mirrored ++ unique).toDF("doc_id", "source", "text")
  }

  private def collectMetrics[A](body: => A): (A, Map[String, Row]) = {
    val metrics = TrieMap.empty[String, Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        metrics ++= qe.observedMetrics
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        metrics ++= qe.observedMetrics
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      val deadline = System.nanoTime() + 30e9.toLong
      while (metrics.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      (result, metrics.toMap)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a >cap universal hash is dropped from pairing and counted; honest mirrors survive") {
    val (rows, metrics) = collectMetrics {
      TextQueries.sourceMirrorMatrix(docs(), capSources = 4,
        metricName = "mirror_cap_test").collect()
    }
    // grid stays complete: C(6, 2) pairs
    assert(rows.length == 15, s"expected 15 grid rows, got ${rows.length}")
    val byPair = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // the universal content contributes NOTHING: sizes exclude it (2 for
    // s0/s1: dup + unique; 1 elsewhere) and only (s0, s1) shares anything
    val s01 = byPair(("s0", "s1"))
    assert(s01.getAs[Long]("n_shared") == 1L)
    assert(s01.getAs[Long]("n_a") == 2L && s01.getAs[Long]("n_b") == 2L)
    assert(s01.getAs[Boolean]("is_mirror"))
    rows.filterNot(r => r.getString(0) == "s0" && r.getString(1) == "s1")
      .foreach { r =>
        assert(r.getAs[Long]("n_shared") == 0L, s"leaked pair: $r")
        assert(!r.getAs[Boolean]("is_mirror"))
      }
    // the drop is counted, not silent
    val m = metrics("mirror_cap_test")
    assert(m.getAs[Long]("dropped_contents") == 1L, m.toString)
    assert(m.getAs[Long]("max_sources") == 6L, m.toString)
  }

  test("at or below the cap nothing is dropped (counter zero)") {
    val (rows, metrics) = collectMetrics {
      TextQueries.sourceMirrorMatrix(docs(), capSources = 6,
        metricName = "mirror_cap_test2").collect()
    }
    val s01 = rows.map(r => (r.getString(0), r.getString(1)) -> r)
      .toMap.apply(("s0", "s1"))
    assert(s01.getAs[Long]("n_shared") == 2L) // universal + dup both count
    val m = metrics("mirror_cap_test2")
    assert(m.getAs[Long]("dropped_contents") == 0L, m.toString)
  }
  /** q205: mirror chains merge transitively (A~B~C is one group even when
    * A-C alone misses the bar) and the survivor is the member with the
    * most capped contents, ties to the smallest name. */
  test("q205 merge plan: transitive chain, one survivor per group, singletons keep") {
    val dir = tmpDir("mirrorplan")
    // s0={a,b,c,d}, s1={a,b} (mirrors s0), s2={b,e,f,g} (mirrors s1 via b,
    // NOT s0: shared 1, 2*1 < min(4,4)), s3={z} singleton
    val rows = Seq(
      (1L, "a", "s0"), (2L, "b", "s0"), (3L, "c", "s0"), (4L, "d", "s0"),
      (5L, "a", "s1"), (6L, "b", "s1"),
      (7L, "b", "s2"), (8L, "e", "s2"), (9L, "f", "s2"), (10L, "g", "s2"),
      (11L, "z", "s3"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("q205_source_merge_plan")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // one chained group {s0,s1,s2}: min-name label s0, survivor s0
    // (n=4 ties with s2's 4 -> smallest name)
    assert(got("s0") == (("s0", "s0", 3L, 4L, true)), got("s0"))
    assert(got("s1") == (("s0", "s0", 3L, 2L, false)), got("s1"))
    assert(got("s2") == (("s0", "s0", 3L, 4L, false)), got("s2"))
    // the singleton keeps itself
    assert(got("s3") == (("s3", "s3", 1L, 1L, true)), got("s3"))
  }

  test("q202: a complete pair grid whose counts recount from the raw sets") {
    val rows = SparkEntry.queries("q202_source_mirror")(spark, sfDir).collect()
    val sets = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("source"), md5(col("text").cast("binary")).as("fp"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).toSet }
    val sources = sets.keys.toSeq.sorted
    // the grid is exactly C(|sources|, 2), each unordered pair once
    assert(rows.length == sources.length * (sources.length - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      assert(a < b)
      val inter = (sets(a) & sets(b)).size.toLong
      assert(r.getAs[Long]("n_shared") == inter, s"($a,$b) intersection")
      assert(r.getAs[Long]("n_a") == sets(a).size.toLong)
      assert(r.getAs[Long]("n_b") == sets(b).size.toLong)
      val union = sets(a).size + sets(b).size - inter
      assert(r.getAs[Long]("jac_permille") == inter * 1000 / union)
      assert(r.getAs[Boolean]("is_mirror") ==
        (inter * 2 >= math.min(sets(a).size, sets(b).size)))
    }
  }
}
