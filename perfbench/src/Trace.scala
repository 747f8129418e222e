package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One committed micro-batch, from the stream's own progress event. */
final case class Batch(queryId: String, id: Long, rows: Long, startMs: Long, durationMs: Long,
                       phases: Map[String, Long]) {
  def endMs: Long = startMs + durationMs
}

/** Progress events of every streaming query. Used in both modes: the
  * freshness of a point is the end of the batch that committed it. */
final class StreamLog extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      val phases = mutable.Map.empty[String, Long]
      p.durationMs.forEach((k, v) => phases(k) = v.longValue)
      batches += Batch(p.id.toString, p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration, phases.toMap)
    }
  }
  def of(queryId: String): Seq[Batch] = synchronized(batches.filter(_.queryId == queryId).sortBy(_.id).toSeq)
  def rowsOf(queryId: String): Long = synchronized(batches.filter(_.queryId == queryId).map(_.rows).sum)
}

/** `target` is the output path of a file write, if the execution writes one. */
final class Exec(val id: Long, val startMs: Long, val plan: String, val target: Option[String],
                 var metricIds: Map[String, Seq[Long]]) {
  var endMs: Long = -1
}

final class StageAgg {
  var tasks = 0L; var runMs = 0L; var shuffleWrite = 0L; var recordsRead = 0L; var bytesRead = 0L
}

final case class Job(id: Int, startMs: Long, execId: Option[Long], stages: Seq[Int])

/** Spark's own job, stage, task and SQL-execution events, kept in memory
  * and summarised after the run. Attached only in the traced run. */
final class SparkTrace extends SparkListener {
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val accum = mutable.Map.empty[Long, Long]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.Map.empty[Int, StageAgg]

  private val WriteTarget = """InsertIntoHadoopFsRelationCommand (\S+?),""".r
  private def writeNodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    (if (WriteTarget.findFirstIn(p.simpleString).isDefined) Seq(p) else Nil) ++ p.children.flatMap(writeNodes)
  private def writeTarget(p: SparkPlanInfo): Option[String] =
    writeNodes(p).headOption.flatMap(n => WriteTarget.findFirstMatchIn(n.simpleString)).map(_.group(1))
  /** Write-command metric name -> accumulator ids, over every version of
    * the plan (adaptive execution re-plans and re-registers them). */
  private def writeMetrics(p: SparkPlanInfo): Map[String, Seq[Long]] =
    writeNodes(p).flatMap(_.metrics).groupBy(_.name).map { case (k, ms) => k -> ms.map(_.accumulatorId) }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new Exec(s.executionId, s.time, s.physicalPlanDescription,
          writeTarget(s.sparkPlanInfo), writeMetrics(s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach { e =>
          val more = writeMetrics(u.sparkPlanInfo)
          e.metricIds = (e.metricIds.keySet ++ more.keySet).map(k =>
            k -> (e.metricIds.getOrElse(k, Nil) ++ more.getOrElse(k, Nil))).toMap
        }
      case s: SparkListenerSQLExecutionEnd => execs.get(s.executionId).foreach(_.endMs = s.time)
      case a: SparkListenerDriverAccumUpdates => a.accumUpdates.foreach { case (id, v) => accum(id) = v }
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs += Job(j.jobId, j.time, exec, j.stageIds)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(t.stageId, new StageAgg)
    a.tasks += 1
    Option(t.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.recordsRead += m.inputMetrics.recordsRead
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }

  /** Driver-side write statistic of an execution (files, bytes, rows). */
  def written(e: Exec, name: String): Long =
    e.metricIds.getOrElse(name, Nil).flatMap(accum.get).maxOption.getOrElse(0L)

  def stageAggs(js: Seq[Job]): Seq[StageAgg] = js.flatMap(_.stages).distinct.flatMap(stages.get)
}
