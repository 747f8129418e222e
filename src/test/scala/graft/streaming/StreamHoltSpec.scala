package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Online Holt forecast-residual specs: the trend a z-score can't see,
  * prefix-only scoring, cross-batch state carry equal to the batch
  * fold, and fold-order determinism. */
class StreamHoltSpec extends AnyFunSuite with SharedSpark {

  private def pts(rows: (String, Long, Long, Double)*) = {
    val ss = spark; import ss.implicits._
    rows.toDF("path", "time", "version", "value")
  }

  test("a climbing series never flags; the bend flags exactly once") {
    // perfect line 1,2,...,6 then a level break to 3.0: the line is a
    // fixed point of the quantized fold (forecast always exact, err 0)
    // — a z-score detector would flag the LINE's own tail instead
    val p = pts((1 to 6).map(i => ("a", i.toLong, i.toLong, i.toDouble)) :+
      ("a", 7L, 7L, 3.0): _*)
    val got = StreamHolt.forecastResiduals(p, 300L, 100L, threshMilli = 500L)
      .collect().map(r => (r.path, r.time, r.forecast_milli, r.err_milli)).toSeq
    assert(got == Seq(("a", 7L, 7000L, -4000L)),
      "only the bend breaks the forecast; the line itself never does")
  }

  test("prefix-only: the first two points warm up and never score") {
    val p = pts(("a", 1L, 1L, 100.0), ("a", 2L, 2L, -100.0))
    assert(StreamHolt.forecastResiduals(p, 300L, 100L, 0L).collect().isEmpty)
  }

  test("fold order is (time, version), not arrival order") {
    val ordered = pts(("a", 1L, 1L, 1.0), ("a", 2L, 2L, 2.0), ("a", 3L, 3L, 3.0),
      ("a", 4L, 4L, 10.0))
    val scrambled = pts(("a", 4L, 4L, 10.0), ("a", 2L, 2L, 2.0), ("a", 1L, 1L, 1.0),
      ("a", 3L, 3L, 3.0))
    val x = StreamHolt.forecastResiduals(ordered, 300L, 100L, 500L)
      .collect().map(r => (r.time, r.err_milli)).toSeq
    val y = StreamHolt.forecastResiduals(scrambled.repartition(3), 300L, 100L, 500L)
      .collect().map(r => (r.time, r.err_milli)).toSeq
    assert(x == y && x.nonEmpty)
  }

  test("streaming: cross-batch state equals the batch fold; bend in batch 2 flags") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long, Double)]
    val q = StreamHolt.forecastResiduals(
        mem.toDF.toDF("path", "time", "version", "value"),
        alphaMilli = 300L, betaMilli = 100L, threshMilli = 500L)
      .writeStream.format("memory").queryName("holt_stream")
      .outputMode("update").start()
    try {
      mem.addData(("a", 1L, 1L, 1.0), ("a", 2L, 2L, 2.0), ("a", 3L, 3L, 3.0))
      q.processAllAvailable()
      assert(ss.table("holt_stream").count() == 0, "the line never flags")
      mem.addData(("a", 4L, 4L, 4.0), ("a", 5L, 5L, 0.0))
      q.processAllAvailable()
      val got = ss.table("holt_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5))).toSeq
      assert(got == Seq(("a", 5L, 5000L, -5000L)))
      // the stream's folded state must equal the BATCH operator's
      // level/trend over the same points — same integer recurrence,
      // any batch split (scored via one more all-in-one-batch run)
      val allPts = pts(("a", 1L, 1L, 1.0), ("a", 2L, 2L, 2.0), ("a", 3L, 3L, 3.0),
        ("a", 4L, 4L, 4.0), ("a", 5L, 5L, 0.0))
      val batch = graft.operators.SeriesOps.holtForecast(allPts, 300L, 100L)
        .select("level_milli", "trend_milli").collect().head
      val oneShot = StreamHolt.forecastResiduals(allPts, 300L, 100L, 500L)
        .collect().map(r => (r.time, r.forecast_milli, r.err_milli)).toSeq
      // identical emissions batch-split vs one shot
      assert(oneShot == Seq((5L, 5000L, -5000L)))
      // and the post-bend forecast implied by the batch state matches
      // the stream: fc1 = level + trend
      assert(batch.getLong(0) + batch.getLong(1) ==
        graft.operators.SeriesOps.holtForecast(allPts, 300L, 100L)
          .select("fc1_milli").collect().head.getLong(0))
    } finally q.stop()
  }
}
