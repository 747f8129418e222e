package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.core.Sessions

/**
 * Per-query execution profile: wall seconds vs jobs / stages / tasks /
 * summed task time / shuffle bytes, for named SparkEntry queries (or
 * the full suite). Separates the two optimization regimes the guide
 * cares about: a row whose wall >> Σtask/cores is scheduler- or
 * plan-bound (fix = fewer jobs/stages/exchanges), a row whose Σtask is
 * the wall × cores is compute-bound (fix = cheaper kernels, §1.2).
 *
 *   sbt "runMain graft.tools.QueryProfile q17_pagerank,q54_ktruss"
 */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt, "graft-query-profile")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val shufWrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          shufWrite.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)

    // warmup
    try materialize(graft.SparkEntry.queries("q1_agg")(spark, sfDir))
    catch { case e: Throwable => System.err.println(s"warmup: $e") }

    println(f"${"query"}%-28s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%7s ${"shuf_mb"}%8s")
    for (pass <- 1 to 2; name <- names) {
      val fn = graft.SparkEntry.queries(name)
      Thread.sleep(50)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); shufWrite.set(0)
      val t0 = System.nanoTime()
      try {
        spark.sparkContext.setJobDescription(name)
        materialize(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are async; give the bus a moment on the last stage
        Thread.sleep(100)
        if (pass == 2)
          println(f"$name%-28s $wall%7.2f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d ${taskMs.get / 1000.0}%7.1f ${shufWrite.get / 1e6}%8.2f")
      } catch {
        case e: Throwable => println(s"$name FAILED: $e")
      }
      graft.core.Blocks.releaseAll(spark)
    }
    spark.stop()
  }
}
