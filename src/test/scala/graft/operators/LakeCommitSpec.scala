package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** [[LakeCommit.runAll]]'s failure policy: it returns or throws only when
  * no unit is running, and a unit that has not started when the call
  * fails or is interrupted never runs. */
class LakeCommitSpec extends SparkSpec {

  test("the first failure is rethrown after every started unit has ended; later ones are suppressed") {
    val started = new CountDownLatch(4)
    val ended = new AtomicInteger()
    val first = new java.io.IOException("unit 0")
    val e = intercept[java.io.IOException] {
      LakeCommit.runAll(0 until 4, 4) { i =>
        try {
          started.countDown()
          started.await(30, TimeUnit.SECONDS)
          i match {
            case 0 => throw first
            case 1 | 2 => Thread.sleep(300); throw new IllegalStateException(s"unit $i")
            case _ => Thread.sleep(300)
          }
        } finally ended.incrementAndGet()
      }
    }
    assert(e eq first)
    assert(ended.get() == 4)
    assert(e.getSuppressed.map(_.getMessage).toSet == Set("unit 1", "unit 2"))
  }

  test("units that have not started when a unit fails never run") {
    val ran = new ConcurrentLinkedQueue[Int]()
    val secondStarted = new CountDownLatch(1)
    intercept[IllegalStateException] {
      LakeCommit.runAll(0 until 10, 2) { i =>
        ran.add(i)
        i match {
          case 0 =>
            secondStarted.await(30, TimeUnit.SECONDS)
            throw new IllegalStateException("unit 0")
          case _ => secondStarted.countDown(); Thread.sleep(300)
        }
      }
    }
    assert(ran.asScala.toSet == Set(0, 1))
  }

  test("an interrupt leaves no unit running and the interrupt flag set") {
    val running = new AtomicInteger()
    val ran = new AtomicInteger()
    val bothStarted = new CountDownLatch(2)
    val thrown = new AtomicReference[Throwable]()
    val runningAtReturn = new AtomicInteger(-1)
    @volatile var flagged = false
    val caller = new Thread(() => {
      try LakeCommit.runAll(0 until 6, 2) { _ =>
        ran.incrementAndGet()
        running.incrementAndGet()
        try { bothStarted.countDown(); Thread.sleep(500) }
        finally running.decrementAndGet()
      } catch { case t: Throwable => thrown.set(t) }
      runningAtReturn.set(running.get())
      flagged = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(bothStarted.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive)
    assert(thrown.get().isInstanceOf[InterruptedException], thrown.get())
    assert(runningAtReturn.get() == 0)
    assert(flagged)
    assert(ran.get() == 2)
  }

  test("a single unit runs with the caller's Spark local properties; its failure arrives as thrown") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.lakecommit.probe", "caller")
    try {
      val seen = new AtomicReference[String]()
      LakeCommit.runAll(Seq("only"), 8)(_ =>
        seen.set(sc.getLocalProperty("graft.lakecommit.probe")))
      assert(seen.get() == "caller")
      val boom = new java.io.IOException("only")
      assert(intercept[java.io.IOException](
        LakeCommit.runAll(Seq(1), 8)(_ => throw boom)) eq boom)
      LakeCommit.runAll(Seq.empty[Int], 8)(_ => fail("no unit to run"))
    } finally sc.setLocalProperty("graft.lakecommit.probe", null)
  }

  test("main code runs driver thread pools only through LakeCommit") {
    // a hand-rolled pool re-states the wait-before-rethrow policy runAll
    // holds once
    val pool = """\bExecutors\b""".r
    val offenders = graft.MainSources.files
      .filterNot(_._1.getFileName.toString == "LakeCommit.scala")
      .filter { case (_, text) => pool.findFirstIn(text).nonEmpty }
      .map(_._1.toString)
    assert(offenders.isEmpty, s"Executors outside LakeCommit: $offenders")
  }
}
