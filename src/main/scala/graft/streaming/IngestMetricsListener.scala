package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Engine-side self-metrics: a StreamingQueryListener that feeds the
 * streaming job's own counters (rows ingested per batch, batch
 * duration, processed-rows rate) back into the spool as metric points —
 * the Spark half of the reference's collector (carbon/collector.go
 * gathers writer/uploader module stats alongside the receiver
 * counters; SURVEY §2.1 maps it to exactly this listener). With
 * `cacheStats` (e.g. `StreamingIngest.existsCacheStats`) it also writes
 * each exists-cache's new keys and live entries after the batch, as
 * `<prefix>.<table>.cacheNew` and `<prefix>.<table>.cacheEntries`.
 */
final class IngestMetricsListener(
    spool: SpoolWriter,
    prefix: String = "carbon.agents.graft.stream",
    clock: () => Long = () => System.currentTimeMillis() / 1000,
    cacheStats: () => Seq[(String, ExistsCache.Stats)] = () => Nil
) extends StreamingQueryListener {

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val now = clock()
    spool.write(s"$prefix.inputRows", p.numInputRows.toDouble, now, now)
    spool.write(s"$prefix.processedRowsPerSecond",
      if (p.processedRowsPerSecond.isNaN) 0.0 else p.processedRowsPerSecond, now, now)
    Option(p.batchDuration).foreach(d =>
      spool.write(s"$prefix.batchDurationMs", d.toDouble, now, now))
    for ((table, st) <- cacheStats()) {
      spool.write(s"$prefix.$table.cacheNew", st.added.toDouble, now, now)
      spool.write(s"$prefix.$table.cacheEntries", st.entries.toDouble, now, now)
    }
  }
}
