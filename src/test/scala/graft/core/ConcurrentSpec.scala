package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.SharedSpark

/**
 * Pins the no-orphan contract of [[Concurrent.all]]: when a chain fails
 * or the caller is interrupted, every sibling is cancelled promptly —
 * whichever chain failed, and even if the sibling sits between jobs —
 * and NO chain is still running when `all` returns.
 *
 * The long chains run fewer partitions than the session has cores
 * (2 on local[4]), so an un-cancelled chain takes its full 20 s of task
 * sleep in wall time, and every timing bound sits well under that.
 */
class ConcurrentSpec extends AnyFunSuite with SharedSpark {

  private val uncancelledSec = 20
  private val promptSec = 6.0

  /** One job of two tasks that each sleep for `uncancelledSec`. */
  private def longJob(): Long = {
    val sleepMs = uncancelledSec * 1000L
    spark.sparkContext.parallelize(1 to 2, 2).map { i => Thread.sleep(sleepMs); i }.count()
  }

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  test("both chains run Spark jobs concurrently and both results return") {
    val sc = spark.sparkContext
    // each chain waits for the other before its job: a sequential
    // runner would time the barrier out
    val barrier = new CyclicBarrier(2)
    val Seq(a, b) = Concurrent.all(sc)(Seq(
      () => { barrier.await(10, TimeUnit.SECONDS); sc.parallelize(1 to 1000, 4).map(_ * 2L).sum() },
      () => { barrier.await(10, TimeUnit.SECONDS); sc.parallelize(1 to 500, 4).map(_.toLong).sum() }))
    assert(a == 1001000.0 && b == 125250.0)
  }

  test("every chain runs in its own job group with the caller's local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.owner", "caller")
    try {
      val seen = Concurrent.all(sc)(Seq.fill(3)(() =>
        (sc.getLocalProperty("graft.spec.owner"), sc.getLocalProperty("spark.jobGroup.id"))))
      assert(seen.map(_._1) == Seq("caller", "caller", "caller"))
      assert(seen.map(_._2).distinct.size == 3 && !seen.exists(_._2 == null))
    } finally sc.setLocalProperty("graft.spec.owner", null)
  }

  test("a failing chain rethrows after its sibling has settled") {
    val sc = spark.sparkContext
    val siblingSettled = new AtomicBoolean(false)
    val boom = intercept[RuntimeException] {
      Concurrent.all[Unit](sc)(Seq(
        () => throw new RuntimeException("chain a dies"),
        () =>
          try {
            // a multi-job chain: keeps submitting like a training loop
            for (_ <- 1 to 5) sc.parallelize(1 to 200, 4).map { i => Thread.sleep(1); i }.count()
          } finally siblingSettled.set(true)))
    }
    assert(boom.getMessage == "chain a dies")
    assert(siblingSettled.get(), "sibling chain must be settled when all() returns")
    // and the context is still healthy for the next caller
    assert(sc.parallelize(1 to 10, 2).count() == 10L)
  }

  test("second chain failing is also rethrown after the first settles") {
    val sc = spark.sparkContext
    val firstSettled = new AtomicBoolean(false)
    val boom = intercept[IllegalStateException] {
      Concurrent.all[Unit](sc)(Seq(
        () => try sc.parallelize(1 to 100, 2).count() finally firstSettled.set(true),
        () => { Thread.sleep(20); throw new IllegalStateException("chain b dies") }))
    }
    assert(boom.getMessage == "chain b dies")
    assert(firstSettled.get())
    assert(sc.parallelize(1 to 10, 2).count() == 10L)
  }

  test("failure cancels the sibling's job group (long sibling job aborts, not completes)") {
    val sc = spark.sparkContext
    @volatile var siblingOutcome: Option[Throwable] = None
    val t0 = System.nanoTime()
    intercept[RuntimeException] {
      Concurrent.all[Unit](sc)(Seq(
        () => { Thread.sleep(200); throw new RuntimeException("fail fast") },
        () =>
          try longJob()
          catch { case e: Throwable => siblingOutcome = Some(e); throw e }))
    }
    val elapsed = secondsSince(t0)
    assert(elapsed < promptSec, s"all() took $elapsed s of the sibling's $uncancelledSec s — it was not cancelled")
    assert(siblingOutcome.nonEmpty, "sibling should have aborted with a cancellation error")
    assert(sc.parallelize(1 to 10, 2).count() == 10L)
  }

  test("a later chain failing first cancels an earlier long chain") {
    val sc = spark.sparkContext
    @volatile var earlierOutcome: Option[Throwable] = None
    val t0 = System.nanoTime()
    val boom = intercept[RuntimeException] {
      Concurrent.all[Unit](sc)(Seq(
        () =>
          try longJob()
          catch { case e: Throwable => earlierOutcome = Some(e); throw e },
        () => { Thread.sleep(200); throw new RuntimeException("later chain dies") }))
    }
    val elapsed = secondsSince(t0)
    assert(boom.getMessage == "later chain dies")
    assert(elapsed < promptSec, s"all() took $elapsed s: the earlier chain ran to completion")
    assert(earlierOutcome.nonEmpty, "the earlier chain should have aborted with a cancellation error")
  }

  test("a sibling between jobs submits no further job after the cancel") {
    val sc = spark.sparkContext
    val firstJobDone = new CountDownLatch(1)
    val jobsDone = new AtomicInteger(0)
    @volatile var siblingOutcome: Option[Throwable] = None
    val t0 = System.nanoTime()
    intercept[RuntimeException] {
      Concurrent.all[Unit](sc)(Seq(
        () => {
          firstJobDone.await(10, TimeUnit.SECONDS)
          throw new RuntimeException("dies while the sibling is between jobs")
        },
        () =>
          try for (_ <- 1 to 5) {
            sc.parallelize(1 to 4, 2).count()
            jobsDone.incrementAndGet()
            firstJobDone.countDown()
            Thread.sleep(1000) // driver-side work between jobs
          } catch { case e: Throwable => siblingOutcome = Some(e); throw e }))
    }
    assert(jobsDone.get() == 1, s"the sibling ran ${jobsDone.get()} jobs; the cancel should stop it after 1")
    assert(siblingOutcome.nonEmpty, "the sibling's next job should have failed at submission")
    assert(secondsSince(t0) < 4.0)
    assert(sc.parallelize(1 to 10, 2).count() == 10L)
  }

  test("an interrupted caller cancels and settles every chain") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(2)
    val settled = Seq.fill(2)(new AtomicBoolean(false))
    @volatile var caught: Option[Throwable] = None
    @volatile var settledAtReturn: Seq[Boolean] = Nil
    val caller = new Thread(() =>
      try Concurrent.all[Unit](sc)(Seq(
        () => try { started.countDown(); longJob() } finally settled(0).set(true),
        () =>
          try {
            started.countDown()
            for (_ <- 1 to 40) { sc.parallelize(1 to 2, 2).count(); Thread.sleep(500) }
          } finally settled(1).set(true)))
      catch { case e: Throwable => caught = Some(e) }
      finally settledAtReturn = settled.map(_.get))
    val t0 = System.nanoTime()
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS))
    Thread.sleep(500) // the long job's tasks are sleeping now
    caller.interrupt()
    caller.join(uncancelledSec * 1000L)
    assert(!caller.isAlive, "all() did not return after the interrupt")
    assert(secondsSince(t0) < promptSec)
    assert(caught.exists(_.isInstanceOf[InterruptedException]), s"expected the interrupt, got $caught")
    assert(settledAtReturn == Seq(true, true), "every chain must be settled when all() returns")
    assert(sc.parallelize(1 to 10, 2).count() == 10L)
  }
}
