package graft.operators

import graft.SparkSpec

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The lifetime contract of [[SessionMemo]]: one build per
  * (handle, session, dir), nothing stored by a failed build, and locks no
  * wider than one entry. */
class SessionMemoSpec extends SparkSpec {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("one build per (handle, session, dir)") {
    val memo = new SessionMemo[String]
    val builds = new AtomicInteger(0)
    def get(s: org.apache.spark.sql.SparkSession, d: String) =
      memo(s, d) { s"v${builds.incrementAndGet()}" }
    assert((1 to 3).map(_ => get(spark, "a")) == Seq("v1", "v1", "v1"))
    assert(builds.get() == 1)
    // another dir builds again
    assert(get(spark, "b") == "v2")
    // another session builds again, and keeps its own entry
    val other = spark.newSession()
    assert(get(other, "a") == "v3")
    assert(get(other, "a") == "v3")
    assert(get(spark, "a") == "v1")
    // another handle with the same key is its own memo
    assert(new SessionMemo[String].apply(spark, "a")("w") == "w")
    assert(builds.get() == 3)
  }

  test("a build that throws stores nothing; the next call builds") {
    val memo = new SessionMemo[String]
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      memo(spark, "d") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(memo(spark, "d") { builds.incrementAndGet(); "ok" } == "ok")
    assert(memo(spark, "d") { builds.incrementAndGet(); "again" } == "ok")
    assert(builds.get() == 2)
  }

  test("builds of two handles, or two dirs of one handle, run concurrently") {
    // each build waits on a latch only the OTHER build releases: with one
    // lock across all memos (or across one memo's dirs) the second build
    // could not start and the first one's wait would time out
    type Build = (() => Boolean) => Boolean
    def overlap(a: Build, b: Build): Unit = {
      val aIn = new CountDownLatch(1)
      val bIn = new CountDownLatch(1)
      val fa = Future(a { () => aIn.countDown(); bIn.await(30, TimeUnit.SECONDS) })
      val fb = Future(b { () => bIn.countDown(); aIn.await(30, TimeUnit.SECONDS) })
      assert(Await.result(fa, 60.seconds), "first build never saw the second")
      assert(Await.result(fb, 60.seconds), "second build never saw the first")
    }
    val m1 = new SessionMemo[Boolean]
    val m2 = new SessionMemo[Boolean]
    overlap(f => m1(spark, "d")(f()), f => m2(spark, "d")(f()))
    val m3 = new SessionMemo[Boolean]
    overlap(f => m3(spark, "d1")(f()), f => m3(spark, "d2")(f()))
  }

  test("a build that calls another handle does not deadlock") {
    val outer = new SessionMemo[String]
    val inner = new SessionMemo[String]
    val f = Future(outer(spark, "d") { inner(spark, "d")("in") + "+out" })
    assert(Await.result(f, 60.seconds) == "in+out")
    assert(inner(spark, "d")("rebuilt") == "in")
  }

  test("main code memoizes per session only through SessionMemo") {
    // a hand-rolled WeakHashMap memo re-states the lifetime rule SessionMemo
    // holds once (and a value that reaches its key silently makes it strong)
    val offenders = graft.MainSources.files
      .filterNot(_._1.getFileName.toString == "SessionMemo.scala")
      .filter { case (_, text) => text.contains("WeakHashMap") }
      .map(_._1.toString)
    assert(offenders.isEmpty, s"WeakHashMap outside SessionMemo: $offenders")
  }
}
