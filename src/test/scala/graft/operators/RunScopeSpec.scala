package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The lifetime rule of [[RunScope]]: a cache belongs to the composition
  * that persisted it, the first action over that composition's result (or
  * over a frame derived from it) releases it, and compose-time actions
  * release nothing. Each case builds plans of its own, so the checks are
  * per cache; the last ones also check the whole (shared) cache manager. */
class RunScopeSpec extends SparkSpec {

  /** A frame with a plan no other case (or suite) builds. */
  private def fresh(tag: String): DataFrame =
    spark.range(200).selectExpr("id", s"concat('$tag', cast(id AS STRING)) AS s")

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** A composition owning one cache, its result derived from it. */
  private def owned(tag: String): (DataFrame, DataFrame) = {
    var cache: DataFrame = null
    val result = RunScope.compose {
      cache = RunScope.own(fresh(tag))
      cache.filter(col("id") % 2 === 0)
    }
    (cache, result)
  }

  test("the first consuming action over a derived frame releases the cache, whatever the action") {
    val actions: Seq[(String, DataFrame => Unit)] = Seq(
      "collect" -> (df => { df.collect(); () }),
      "count" -> (df => { df.count(); () }),
      "noop write" -> (df => df.write.format("noop").mode("overwrite").save()),
      "parquet write" -> (df => df.write.mode("overwrite").parquet(tmpDir("runscope-pq"))))
    actions.foreach { case (name, act) =>
      val (cache, result) = owned(s"derived-$name")
      drainListenerBus()
      assert(cached(cache), s"$name: released before any action")
      act(result.select(col("s")).filter(col("id") > 10))
      drainListenerBus()
      assert(!cached(cache), s"$name over a derived frame left the cache pinned")
    }
  }

  test("an action over the result itself releases, and so does a failed one") {
    val (cache, result) = owned("direct")
    result.collect()
    drainListenerBus()
    assert(!cached(cache), "an action over the result itself left the cache pinned")

    val (cache2, result2) = owned("failing")
    intercept[Exception] {
      result2.select(assert_true(col("id") < 0)).collect()
    }
    drainListenerBus()
    assert(!cached(cache2), "a failed action left the cache pinned")
  }

  test("a sizing action over an owned cache inside compose releases nothing") {
    var cache: DataFrame = null
    val result = RunScope.compose {
      cache = RunScope.own(fresh("sizing"))
      // the adaptive-operator shape: a compose-time action reads the cache
      val n = cache.filter(col("id") < 50).collect().length
      cache.filter(col("id") >= n)
    }
    drainListenerBus()
    assert(cached(cache), "the compose-time sizing collect released the cache")
    result.collect()
    assert(result.queryExecution.executedPlan.toString.contains("InMemoryRelation"),
      "the query's action did not read the cache")
    drainListenerBus()
    assert(!cached(cache))
  }

  test("a cache nested under another owned cache is released with it") {
    var inner: DataFrame = null
    var outer: DataFrame = null
    val result = RunScope.compose {
      inner = RunScope.own(fresh("nested"))
      outer = RunScope.own(inner.groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n")))
      outer.filter(col("n") > 0)
    }
    result.collect()
    // only the outer InMemoryRelation shows in the executed plan
    drainListenerBus()
    assert(!cached(outer), "outer cache pinned")
    assert(!cached(inner), "the cache nested under another cache stayed pinned")
  }

  test("within releases its caches on return and on throw, also inside compose") {
    var a: DataFrame = null
    val n = RunScope.within { a = RunScope.own(fresh("within-ok")); a.count() }
    assert(n == 200 && !cached(a), "within kept its cache after returning")

    var b: DataFrame = null
    intercept[IllegalStateException] {
      RunScope.within { b = RunScope.own(fresh("within-throw")); b.count(); throw new IllegalStateException("boom") }
    }
    assert(!cached(b), "within kept its cache after throwing")

    var c: DataFrame = null
    var w: DataFrame = null
    val result = RunScope.compose {
      RunScope.within { c = RunScope.own(fresh("within-nested")); c.count() }
      assert(!cached(c), "within inside compose joined the enclosing scope")
      w = RunScope.own(fresh("within-outer"))
      w.select(col("s"))
    }
    assert(cached(w), "the composition's own cache went with the inner within")
    result.collect()
    drainListenerBus()
    assert(!cached(w))

    // a memo build is a within block: its caches go when the build ends
    var m: DataFrame = null
    new SessionMemo[Long].apply(spark, "runscope") { m = RunScope.own(fresh("memo")); m.count() }
    assert(!cached(m), "a memo build's cache outlived the build")
  }

  test("own throws outside a scope; a composition that throws releases what it owned") {
    val df = fresh("unscoped")
    intercept[IllegalStateException](RunScope.own(df))
    assert(!cached(df), "own persisted outside a scope")

    var c: DataFrame = null
    intercept[IllegalArgumentException] {
      RunScope.compose { c = RunScope.own(fresh("compose-throw")); require(false, "boom"); c }
    }
    assert(!cached(c), "a failed composition kept its cache")
  }

  test("a discarded equivalent construction cannot kill the next query's cache") {
    // Simulate a schema-only consumer (the QueriesSmokeSpec sweep): compose
    // q37's staged plan and never act on it. clearCache (the sweep's
    // hygiene step) then drops its cache entry.
    val ghost = graft.SparkEntry.queries("q37_dedup_jaccard")(spark, sfDir)
    ghost.schema
    spark.sharedState.cacheManager.clearCache()
    // Nothing of the discarded composition may fire on THIS construction's
    // adaptive sizing job (plan-keyed cache entries are shared by
    // equivalent plans) and unpersist the fresh entry mid-composition; the
    // main plan would then recompute the collapsed projection inline (the
    // PlanSpec q37 IMR pin red).
    val df = graft.SparkEntry.queries("q37_dedup_jaccard")(spark, sfDir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("InMemoryRelation"),
      "stale equivalent listener killed the fresh cache entry")
    // the run-scoped release still fires: nothing stays pinned
    val cm = spark.sharedState.cacheManager
    drainListenerBus()
    assert(cm.isEmpty, "run-scoped cache failed to release after the run")
  }

  test("main code registers query-execution listeners only in RunScope") {
    // one listener decides every cache's lifetime; a second one re-states
    // (and can contradict) that rule
    val hits = graft.MainSources.files
      .filter { case (_, text) =>
        text.contains("QueryExecutionListener") || text.contains("listenerManager.register")
      }
      .map(_._1.getFileName.toString).toList
    assert(hits == List("RunScope.scala"), s"query-execution listeners outside RunScope: $hits")
  }
}
