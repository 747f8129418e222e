package graft.core

import org.apache.spark.SparkContext

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicReference
import scala.util.{Failure, Success, Try}

/**
 * The one way the engine overlaps INDEPENDENT driver-side Spark job
 * chains (guide §2.6: a chain's straggler tail leaves cores idle that
 * a sibling chain's stages can back-fill) — the reference's uploader
 * goroutines under one shared lifecycle (uploader/base.go:65-214).
 *
 * A bare `Future` holds no Spark job group and nobody awaits it on
 * failure, so an orphan thread can keep submitting jobs into a
 * stopping SparkContext (round 15's `RejectedExecutionException`), or
 * keep appending to a batch dir its replay is rewriting. The contract
 * here closes every leak path:
 *
 *   - a pool per call, one thread per chain, shut down in `finally`;
 *     its threads are created by the caller, so they inherit the
 *     caller's Spark local properties (e.g. the streaming batch's);
 *   - each chain runs under its OWN job group with
 *     `interruptOnCancel = true`;
 *   - the first chain to fail (in completion order) cancels every
 *     sibling's group with `cancelJobGroupAndFutureJobs`, so a sibling
 *     that sits between jobs submits no further job;
 *   - an interrupted caller cancels every chain the same way;
 *   - `all` returns (or throws) only after EVERY chain has settled —
 *     the caller never observes a still-running chain.
 *
 * Chains are not interrupted: a chain in driver-side work between jobs
 * stops at its next job submission, which fails at once.
 */
object Concurrent {

  /** Run every chain concurrently as its own Spark job chain; return
    * their results in order, or rethrow the first failure (by
    * completion order) once every chain has settled. */
  private[graft] def all[T](sc: SparkContext)(chains: Seq[() => T]): Seq[T] = {
    val gid = java.util.UUID.randomUUID().toString
    val groups = chains.indices.map(i => s"$gid-$i")
    val results = new Array[Try[T]](chains.size)
    val settled = new CountDownLatch(chains.size)
    val firstFailure = new AtomicReference[Throwable]
    def cancel(except: Int, why: String): Unit =
      for ((g, i) <- groups.zipWithIndex if i != except)
        try sc.cancelJobGroupAndFutureJobs(g, why)
        catch { case _: Throwable => () }

    val pool = Executors.newFixedThreadPool(math.max(1, chains.size))
    try {
      for ((chain, i) <- chains.zipWithIndex) pool.execute { () =>
        try {
          sc.setJobGroup(groups(i), s"concurrent chain $i", interruptOnCancel = true)
          results(i) = Success(chain())
        } catch { case e: Throwable =>
          results(i) = Failure(e)
          if (firstFailure.compareAndSet(null, e)) cancel(except = i, s"sibling chain $i failed")
        } finally { sc.clearJobGroup(); settled.countDown() }
      }
      try settled.await()
      catch { case e: InterruptedException =>
        cancel(except = -1, "the caller was interrupted")
        awaitUninterruptibly(settled)
        throw e
      }
    } finally pool.shutdown()
    Option(firstFailure.get).foreach(e => throw e)
    results.toSeq.map(_.get)
  }

  /** The caller rethrows its interrupt once this returns. */
  private def awaitUninterruptibly(latch: CountDownLatch): Unit =
    while (latch.getCount > 0)
      try latch.await() catch { case _: InterruptedException => () }
}
