package graft.streaming

import scala.collection.mutable

/**
 * Driver-resident exists-cache of one expansion table (index, tagged or
 * a legacy table): the reference's CMap (uploader/cmap.go:10-141) on the
 * process that runs the uploads.
 *
 * Keys are bucketed by `udate`, the receive-time day of the row that
 * wrote them, so TTL expiry drops whole buckets. Each key remembers the
 * id of the batch that first wrote it: a batch re-run under the same id
 * ignores its own entries, so it rewrites every row of its first attempt
 * into the `batch=b<id>` dir it overwrites.
 *
 * Lookups may run from the concurrent per-table write futures; every
 * mutation (commit, expire, clear, seed) runs on the stream thread
 * between batches.
 */
private[streaming] final class ExistsCache {
  import ExistsCache.Stats

  private val buckets = mutable.TreeMap.empty[Int, mutable.HashMap[Any, Long]]
  @volatile private var last = Stats(0L, 0L, 0L)

  /** True when a live bucket holds `key` written by a batch other than `batchId`. */
  def contains(key: Any, batchId: Long): Boolean =
    buckets.valuesIterator.exists(_.get(key).exists(_ != batchId))

  /** Records `key` under `udateDay`; a key already there keeps its first writer. */
  def add(udateDay: Int, key: Any, batchId: Long): Unit =
    buckets.getOrElseUpdate(udateDay, mutable.HashMap.empty).getOrElseUpdate(key, batchId)

  /** Commits one batch's written keys (only after every write of the
    * batch succeeded, uploader/cached.go:108-110) and records the
    * batch's counters. */
  def commit(written: Iterable[(Int, Any)], checked: Long, batchId: Long): Unit = {
    written.foreach { case (day, key) => add(day, key, batchId) }
    last = Stats(checked, written.size.toLong, entries)
  }

  /** TTL expiry: drops every bucket of a day before `cutoffDay`. */
  def expire(cutoffDay: Int): Unit =
    buckets.rangeUntil(cutoffDay).keys.toList.foreach(buckets.remove)

  def clear(): Unit = buckets.clear()

  def entries: Long = buckets.valuesIterator.map(_.size.toLong).sum

  /** Counters of the last committed batch. */
  def stats: Stats = last
}

object ExistsCache {
  /** One batch's counters: expansion keys looked up, keys absent from
    * the cache (written and committed), and live entries after commit. */
  final case class Stats(checked: Long, added: Long, entries: Long)
}
