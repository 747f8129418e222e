package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import Engine.{Ingested, ReadCall, median, pct}

/**
 * Per-layer metrics of a traced run, measured from outside the program:
 * wall time around the benchmark's own calls, the stream's progress
 * events, and Spark's job, task and SQL-execution events. A SQL
 * execution belongs to a table by the output path in its plan;
 * `.compact-*` outputs belong to TableCompactor.
 */
final case class Layers(tr: SparkTrace, batches: Seq[Batch], ing: Ingested, calls: Seq[ReadCall], gcS: Double,
                        heapMb: Double) {

  private val tables = s"${ing.dir}/tables/"
  private val points = ing.handoverMs.length.toDouble
  private def inBatch(t: Long) = batches.exists(b => t >= b.startMs && t <= b.endMs)

  private val execs = tr.execs.values.toSeq
  private def writesTo(table: String) =
    execs.filter(_.target.exists(t => t.contains(s"$tables$table/batch=b")))
  private val compacts = execs.filter(_.target.exists(t => t.contains(tables) && t.contains("/.compact-")))
  /** The foreachBatch sink's own execution (the batch's spool scan)
    * wraps the whole batch. */
  private def isSink(e: Exec) = e.plan.contains("Scan csv")
  private val stats = execs.filter(e => e.target.isEmpty && !isSink(e) && inBatch(e.startMs))
  private def ms(es: Seq[Exec]) = es.map(e => (e.endMs - e.startMs).toDouble).sum

  private val compactIds = compacts.map(_.id).toSet
  private val batchJobs = tr.jobs.toSeq.filter(j => inBatch(j.startMs))
  private val ingestJobs = batchJobs.filterNot(_.execId.exists(compactIds))
  private def execJobs(es: Seq[Exec]) = { val ids = es.map(_.id).toSet; tr.jobs.toSeq.filter(_.execId.exists(ids)) }

  private def callJobs(c: ReadCall) = tr.jobs.toSeq.filter(j => j.startMs >= c.startMs && j.startMs <= c.endMs)
  private def perCall(kind: String, f: StageAgg => Long) =
    median(calls.filter(_.read.kind == kind).map(c => tr.stageAggs(callJobs(c)).map(f).sum.toDouble))

  /** Per batch: from the first compaction write's start to the last one's end. */
  private val compactSpans = batches.flatMap { b =>
    val cs = compacts.filter(e => e.startMs >= b.startMs && e.startMs <= b.endMs)
    if (cs.isEmpty) None else Some((cs.map(_.endMs).max - cs.map(_.startMs).min).toDouble)
  }

  private def tableFiles = Files.walk(Paths.get(tables)).iterator().asScala.toSeq
  private def phase(ks: String*) = median(batches.map(b => ks.map(b.phases.getOrElse(_, 0L)).sum.toDouble))

  def metrics: Seq[(String, Double, String)] = Seq(
    ("sources.send_s", ing.cycles.map(c => c.sendEndMs - c.firstMs).sum / 1000.0, "s"),
    ("sources.wait_ms_p50", median(ing.sourceWaitMs), "ms"),
    ("sources.wait_ms_p99", pct(ing.sourceWaitMs, 99), "ms"),
    ("spool.chunks", Engine.sourceLog(ing.dir).map(_._2).distinct.size.toDouble, "count"),
    ("spool.bytes_per_point", tr.stageAggs(execJobs(stats)).map(_.bytesRead).sum / points, "B/point"),
    ("spool.unhandled_chunks_max", ing.unhandledMax.toDouble, "count"),
    ("stream.batches", batches.size.toDouble, "count"),
    ("stream.drain_s", ing.cycles.map(c => ing.batchesOf(c, batches).map(_.endMs).max - c.drainStartMs).sum / 1000.0, "s"),
    ("stream.add_batch_ms_p50", phase("addBatch"), "ms"),
    ("stream.batch_ms_p50", median(batches.map(_.durationMs.toDouble)), "ms"),
    ("stream.batch_ms_p95", pct(batches.map(_.durationMs.toDouble), 95), "ms"),
    ("stream.plan_ms_p50", phase("latestOffset", "getBatch", "queryPlanning"), "ms"),
    ("stream.commit_ms_p50", phase("walCommit", "commitOffsets"), "ms"),
    ("ingest.write_points_ms", ms(writesTo("points")), "ms"),
    ("ingest.write_points_reverse_ms", ms(writesTo("points_reverse")), "ms"),
    ("ingest.write_index_ms", ms(writesTo("index")), "ms"),
    ("ingest.write_tagged_ms", ms(writesTo("tagged")), "ms"),
    ("ingest.stats_ms", ms(stats), "ms"),
    ("ingest.jobs_per_batch", ingestJobs.size.toDouble / batches.size, "count"),
    ("ingest.tasks_per_batch", tr.stageAggs(ingestJobs).map(_.tasks).sum.toDouble / batches.size, "count"),
    ("ingest.index_rows_per_key",
      writesTo("index").map(tr.written(_, "number of output rows")).sum.toDouble /
        Inputs.indexKeys(ing.input.points).size, "ratio"),
    ("ingest.shuffle_bytes_per_point", tr.stageAggs(ingestJobs).map(_.shuffleWrite).sum / points, "B/point"),
    ("ingest.files_written",
      Seq("points", "points_reverse", "index", "tagged").flatMap(writesTo)
        .map(tr.written(_, "number of written files")).sum.toDouble, "count"),
    ("compact.runs", compactSpans.size.toDouble, "count"),
    ("compact.ms_total", compactSpans.sum, "ms"),
    ("compact.ms_max", (0.0 +: compactSpans).max, "ms"),
    ("compact.bytes_rewritten_per_point", compacts.map(tr.written(_, "written output")).sum / points, "B/point"),
    ("tables.dirs_end", tableFiles.count(Files.isDirectory(_)).toDouble, "count"),
    ("tables.files_end", tableFiles.count(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_")).toDouble, "count"),
    ("read.find_forward_ms_p50", median(calls.collect { case c @ ReadCall(f: Inputs.Find, _, _, _, _, _) if !f.reverse => c.ms }), "ms"),
    ("read.find_reverse_ms_p50", median(calls.collect { case c @ ReadCall(f: Inputs.Find, _, _, _, _, _) if f.reverse => c.ms }), "ms"),
    ("read.first_job_ms_p50", median(calls.flatMap(c => callJobs(c).map(_.startMs - c.startMs).minOption.map(_.toDouble))), "ms"),
    ("read.jobs_per_query", calls.map(callJobs(_).size).sum.toDouble / calls.size, "count"),
    ("read.find_rows_read", perCall("find", _.recordsRead), "count"),
    ("read.render_rows_read", perCall("render", _.recordsRead), "count"),
    ("read.tags_rows_read", perCall("tags", _.recordsRead), "count"),
    ("read.find_bytes_read", perCall("find", _.bytesRead), "B"),
    ("read.render_bytes_read", perCall("render", _.bytesRead), "B"),
    ("read.tags_bytes_read", perCall("tags", _.bytesRead), "B"),
    ("jvm.gc_s", gcS, "s"),
    ("jvm.heap_retained_mb", heapMb, "MB"))
}
