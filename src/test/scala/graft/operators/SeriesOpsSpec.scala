package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Specs for the graphite-style series functions: summarize bucket
  * alignment and fns, perSecond reset/zero-dt/head nulls, movingAverage
  * warm-up frames and integer-exact sums. */
class SeriesOpsSpec extends AnyFunSuite with SharedSpark {

  private def pts(rows: (String, Double, Long, Long)*) = {
    val ss = spark; import ss.implicits._
    rows.toDF("path", "value", "time", "version")
  }

  test("summarize: epoch-aligned buckets, sum / last / count fns") {
    // bucket 60: times 59 and 60 land in different buckets
    val p = pts(("a", 1.0, 59L, 1L), ("a", 2.0, 60L, 2L), ("a", 3.0, 119L, 3L),
      ("b", 5.0, 0L, 1L))
    val sums = SeriesOps.summarize(p, 60L, "sum").orderBy("path", "bucket_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(sums.toSeq == Seq(("a", 0L, 1L, 1.0), ("a", 60L, 2L, 5.0), ("b", 0L, 1L, 5.0)))
    // last = LWW by (time, version): same time, higher version wins
    val lww = SeriesOps.summarize(
      pts(("a", 1.0, 10L, 5L), ("a", 9.0, 10L, 6L), ("a", 4.0, 5L, 9L)), 60L, "last")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(lww.toSeq == Seq(("a", 9.0)))
    val cnt = SeriesOps.summarize(p, 3600L, "count").orderBy("path")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(cnt.toSeq == Seq(("a", 3.0), ("b", 1.0)))
  }

  test("perSecond: head null, counter reset null, zero-dt null, plain rate") {
    val p = pts(
      ("a", 10.0, 100L, 1L),  // head -> null
      ("a", 40.0, 110L, 2L),  // (40-10)/10 = 3.0
      ("a", 5.0, 120L, 3L),   // reset (negative delta) -> null
      ("a", 5.0, 120L, 4L),   // dt = 0 -> null
      ("a", 25.0, 130L, 5L))  // (25-5)/10 = 2.0
    val out = SeriesOps.perSecond(p).orderBy("time", "version")
      .collect().map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    assert(out.toSeq == Seq(None, Some(3.0), None, None, Some(2.0)))
  }

  test("movingAverage: warm-up frames average what exists; matches a naive trailing mean") {
    val p = pts(
      ("a", 1.0, 1L, 1L), ("a", 2.0, 2L, 2L), ("a", 3.0, 3L, 3L),
      ("a", 4.0, 4L, 4L), ("a", 5.0, 5L, 5L), ("a", 6.0, 6L, 6L))
    val out = SeriesOps.movingAverage(p, 3).orderBy("time")
      .collect().map(r => (r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 1.0), (2L, 1.5), (3L, 2.0), (3L, 3.0), (3L, 4.0), (3L, 5.0)))
  }

  test("outliers: flags only |z|>threshold points; constant series emit nothing") {
    val ss = spark; import ss.implicits._
    // series a: nine 10.0s and one 100.0 -> the 100 is the lone outlier
    // (mean 19, sd 27 -> z = 3.0 exactly at... compute: mean=19, var=729, sd=27, z=(100-19)/27=3.0)
    // exactly 3.0 is NOT > 3.0 -> use threshold 2.9 to include it
    val a = (1 to 9).map(i => ("a", 10.0, i.toLong, i.toLong)) :+ ("a", 100.0, 10L, 10L)
    val b = (1 to 5).map(i => ("b", 7.0, i.toLong, i.toLong)) // constant -> no output
    val out = SeriesOps.outliers((a ++ b).toDF("path", "value", "time", "version"), 2.9)
      .collect().map(r => (r.getString(0), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(("a", 100.0, 3.0)))
  }

  test("highestAverage: exact means rank series, path tie-break") {
    val ss = spark; import ss.implicits._
    val p = Seq(
      ("hi", 10.0, 1L, 1L), ("hi", 20.0, 2L, 2L),     // avg 15
      ("mid", 15.0, 1L, 3L),                            // avg 15, 'hi' < 'mid'
      ("lo", 1.0, 1L, 4L)
    ).toDF("path", "value", "time", "version")
    val out = SeriesOps.highestAverage(p, 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, "hi", 15.0), (2L, "mid", 15.0)))
  }

  test("nonNegativeDerivative: head null, reset null, non-negative deltas kept") {
    val p = pts(
      ("a", 10.0, 100L, 1L),  // head -> null
      ("a", 40.0, 110L, 2L),  // +30
      ("a", 5.0, 120L, 3L),   // reset -> null
      ("a", 5.0, 130L, 4L))   // +0 kept (>= 0)
    val out = SeriesOps.nonNegativeDerivative(p).orderBy("time")
      .collect().map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    assert(out.toSeq == Seq(None, Some(30.0), None, Some(0.0)))
  }

  test("integral: per-series exact running sum, independent across series") {
    val p = pts(
      ("a", 0.1, 1L, 1L), ("a", 0.2, 2L, 2L), ("a", 0.3, 3L, 3L),
      ("b", 5.0, 1L, 4L), ("b", -2.0, 2L, 5L))
    val out = SeriesOps.integral(p).orderBy("path", "time")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    // quantized-long prefix sums: 0.1+0.2 is exactly 0.3, not 0.30000000000000004
    assert(out.toSeq == Seq(("a", 0.1), ("a", 0.3), ("a", 0.6), ("b", 5.0), ("b", 3.0)))
  }

  test("timeShiftCompare: bucket LWW then shift-join; only overlapping buckets emit") {
    val p = pts(
      ("a", 1.0, 0L, 1L),     // bucket 0
      ("a", 9.0, 55L, 2L),    // bucket 0, later time wins LWW
      ("a", 4.0, 65L, 3L),    // bucket 60 -> pairs with bucket 0
      ("a", 7.0, 125L, 4L),   // bucket 120 -> pairs with bucket 60
      ("b", 2.0, 60L, 5L))    // lone bucket, no t-60 partner
    val out = SeriesOps.timeShiftCompare(p, shiftSec = 60L, stepSec = 60L)
      .orderBy("path", "gtime")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", 60L, 4.0, 9.0), ("a", 120L, 7.0, 4.0)))
    intercept[IllegalArgumentException] {
      SeriesOps.timeShiftCompare(p, shiftSec = 90L, stepSec = 60L)
    }
  }

  test("keepLastValue: fills gaps up to limit buckets, leaves longer holes null") {
    val p = pts(
      ("a", 1.0, 0L, 1L),    // bucket 0
      ("a", 2.0, 60L, 2L),   // bucket 60
      // buckets 120..300 empty (4-bucket gap), point at 360
      ("a", 9.0, 360L, 3L))
    val out = SeriesOps.keepLastValue(p, stepSec = 60L, limit = 2)
      .orderBy("gtime")
      .collect().map(r => (r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out.toSeq == Seq(
      (0L, false, Some(1.0)), (60L, false, Some(2.0)),
      (120L, true, Some(2.0)), (180L, true, Some(2.0)),  // within limit=2 of bucket 60
      (240L, true, None), (300L, true, None),             // beyond the fill limit
      (360L, false, Some(9.0))))
  }

  test("groupByNode: LWW collapse then exact pointwise sum/avg on the node segment") {
    val p = pts(
      ("evt.click.u1", 0.1, 10L, 1L),
      ("evt.click.u1", 0.3, 10L, 2L),  // same (path,time): version 2 wins LWW
      ("evt.click.u2", 0.2, 10L, 3L),
      ("evt.view.u1", 5.0, 10L, 4L))
    val sum = SeriesOps.groupByNode(p, node = 1, fn = "sum").orderBy("node_group")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(sum.toSeq == Seq(("click", 2L, 0.5), ("view", 1L, 5.0)))
    val avg = SeriesOps.groupByNode(p, node = 1, fn = "avg").orderBy("node_group")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(avg.toSeq == Seq(("click", 0.25), ("view", 5.0)))
    intercept[IllegalArgumentException] {
      SeriesOps.groupByNode(p, node = 1, fn = "median")
    }
  }

  test("asPercent: shares sum to 100 per instant, zero-total instants go null") {
    val p = pts(
      ("a", 3.0, 10L, 1L), ("b", 1.0, 10L, 2L),          // 75 / 25
      ("a", 5.0, 20L, 1L),                                 // lone series -> 100
      ("a", 1.0, 30L, 1L), ("b", -1.0, 30L, 2L))           // total 0 -> null
    val out = SeriesOps.asPercent(p).orderBy("time", "path")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out.toSeq == Seq(
      ("a", 10L, Some(75.0)), ("b", 10L, Some(25.0)),
      ("a", 20L, Some(100.0)),
      ("a", 30L, None), ("b", 30L, None)))
  }

  test("movingStdDev: hand-computed trailing stddev, constant frames are exactly 0") {
    val p = pts(
      ("a", 2.0, 1L, 1L), ("a", 2.0, 2L, 2L),   // constant warm-up -> 0
      ("a", 8.0, 3L, 3L))                        // frame {2,2,8}: mean 4, var 8
    val out = SeriesOps.movingStdDev(p, 3).orderBy("time")
      .collect().map(r => (r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 0.0), (2L, 0.0),
      (3L, math.rint(math.sqrt(8.0) * 1e6) / 1e6)))
  }

  test("seasonalBaseline: per-slot means, residuals, LWW collapse first") {
    val p = pts(
      ("a", 10.0, 3600L, 1L),          // day 0, hod 1
      ("a", 99.0, 90000L, 1L),         // day 1, hod 1 — but LWW below wins
      ("a", 20.0, 90000L, 2L),         // same instant, higher version
      ("a", 7.0, 7200L, 1L))           // hod 2, lone
    val out = SeriesOps.seasonalBaseline(p).orderBy("time")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // hod 1 baseline = (10+20)/2 = 15
    assert(out.toSeq == Seq(
      (3600L, 1L, 10.0, 15.0, -5.0),
      (7200L, 2L, 7.0, 7.0, 0.0),
      (90000L, 1L, 20.0, 15.0, 5.0)))
  }

  test("exponentialMovingAverage: head renormalizes to the value itself; terms match the weight formula") {
    val p = pts(("a", 2.5, 1L, 1L), ("a", 4.0, 2L, 2L), ("a", 1.0, 3L, 3L))
    val out = SeriesOps.exponentialMovingAverage(p, n = 8, window = 8)
      .orderBy("time").collect().map(_.getDouble(3))
    val w = SeriesOps.emaWeights(8, 8)
    def q(v: Double) = math.floor(v * 1e6 + 0.5).toLong
    def expect(vs: Seq[Double]) = { // vs newest-first
      val num = vs.zip(w).map { case (v, wk) => q(v) * wk }.sum
      val den = w.take(vs.length).sum
      math.rint(num.toDouble / den.toDouble / 1e6 * 1e6) / 1e6
    }
    assert(out(0) == 2.5) // lone head: weighted avg of itself
    assert(out(1) == expect(Seq(4.0, 2.5)))
    assert(out(2) == expect(Seq(1.0, 4.0, 2.5)))
    // newest point carries the α = 2/(n+1) share exactly
    assert(w.head == 222222L)
  }

  test("the same summarize declaration runs under Structured Streaming; complete state equals batch") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double, Long, Long)]
    val stream = SeriesOps.summarize(
      mem.toDF.toDF("path", "value", "time", "version"), 60L, "sum")
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("summ_stream")
      .outputMode("complete").start()
    try {
      val b1 = Seq(("a", 1.0, 59L, 1L), ("a", 2.0, 60L, 2L))
      val b2 = Seq(("a", 3.0, 119L, 3L), ("b", 5.0, 0L, 4L))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = ss.table("summ_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = SeriesOps.summarize((b1 ++ b2).toDF("path", "value", "time", "version"), 60L, "sum")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("linearTrend: exact rational OLS, degenerate series emit NULL slope") {
    val p = pts(
      ("a", 1.0, 0L, 1L), ("a", 2.0, 60L, 2L), ("a", 3.0, 120L, 3L), // slope 1/min
      ("b", 7.0, 500L, 1L),                    // single point
      ("c", 1.0, 0L, 1L), ("c", 9.0, 30L, 2L)) // same minute -> den 0
    val rows = SeriesOps.linearTrend(p).orderBy("path").collect()
    val a = rows(0)
    // n=3, sx=3, sq=6000, sxx=5, sxq=8000 -> num 6000, den 6
    assert((a.getString(0), a.getLong(1), a.getLong(2), a.getLong(3)) ==
      ("a", 3L, 6000L, 6L))
    assert(a.getDouble(4) == 1.0 && a.getDouble(5) == 1.0)
    assert(rows(1).isNullAt(4) && rows(1).isNullAt(5))
    assert(rows(2).getLong(3) == 0L && rows(2).isNullAt(4))
  }

  test("madOutliers: dyadic medians, MAD=0 guard, even-count interpolation") {
    val p = pts(
      // one wild point against a constant base: MAD 0 -> no outliers
      ("a", 1.0, 0L, 1L), ("a", 1.0, 1L, 2L), ("a", 1.0, 2L, 3L),
      ("a", 1.0, 3L, 4L), ("a", 100.0, 4L, 5L),
      // spread base: the wild point is the one outlier
      ("b", 1.0, 0L, 1L), ("b", 2.0, 1L, 2L), ("b", 3.0, 2L, 3L),
      ("b", 4.0, 3L, 4L), ("b", 100.0, 4L, 5L),
      // even count: median/MAD interpolate to exact halves
      ("c", 1.0, 0L, 1L), ("c", 2.0, 1L, 2L))
    val rows = SeriesOps.madOutliers(p, k = 3.5).orderBy("path").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(rows(0) == ("a", 5L, 1.0, 0.0, 0L))
    assert(rows(1) == ("b", 5L, 3.0, 1.0, 1L))
    assert(rows(2) == ("c", 2L, 1.5, 0.5, 0L))
  }

  test("gaps: holes over the threshold only, per-series isolation") {
    val p = pts(("a", 1.0, 0L, 1L), ("a", 1.0, 50L, 2L), ("a", 1.0, 500L, 3L),
      ("b", 1.0, 0L, 1L), ("b", 1.0, 90L, 2L))
    val got = SeriesOps.gaps(p, minGapSec = 100L).orderBy("path", "gap_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // a: 50 -> 500 is a 450s hole; 0 -> 50 is under; b's 90s is under
    assert(got == Seq(("a", 50L, 500L, 450L)))
  }

  test("cusumChangePoint: level shift located at the step; exact integer numerator") {
    // 1,1,1 then 5,5: |C| peaks at i=3 (the last pre-shift point)
    val p = pts(("a", 1.0, 1L, 1L), ("a", 1.0, 2L, 2L), ("a", 1.0, 3L, 3L),
      ("a", 5.0, 4L, 4L), ("a", 5.0, 5L, 5L))
    val r = SeriesOps.cusumChangePoint(p).collect()(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5)) ==
      ("a", 5L, 3L, -24000000L, -4800.0))
  }

  test("m4Downsample: first/last/min/max per bucket, struct tie-breaks") {
    val p = pts(
      ("a", 5.0, 10L, 1L),   // first (and min tie with t=30: earliest wins)
      ("a", 9.0, 20L, 1L),   // max
      ("a", 5.0, 30L, 2L),   // min tie, later -> not the min pick
      ("a", 7.0, 59L, 1L),   // last
      ("a", 1.0, 60L, 1L))   // next bucket alone
    val rows = SeriesOps.m4Downsample(p, bucketSec = 60L).orderBy("bucket_start")
      .collect().map(r => (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getDouble(6),
        r.getLong(7), r.getDouble(8), r.getLong(9), r.getDouble(10))).toSeq
    assert(rows == Seq(
      (0L, 4L, 10L, 5.0, 59L, 7.0, 10L, 5.0, 20L, 9.0),
      (60L, 1L, 60L, 1.0, 60L, 1.0, 60L, 1.0, 60L, 1.0)))
  }

  test("movingMinMax: trailing envelope pair, head frames cover what exists") {
    val p = pts(("a", 5.0, 10L, 1L), ("a", 1.0, 20L, 1L), ("a", 7.0, 30L, 1L))
    val got = SeriesOps.movingMinMax(p, n = 2).orderBy("time")
      .collect().map(r => (r.getLong(1), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      (10L, 5.0, 5.0, 1L), (20L, 1.0, 5.0, 2L), (30L, 1.0, 7.0, 2L)))
  }

  test("integralByInterval: running total resets at each epoch-aligned boundary") {
    // hour bucket: t=10,20 accumulate; t=3605 starts a fresh total
    val p = pts(("a", 1.5, 10L, 1L), ("a", 2.5, 20L, 1L), ("a", 4.0, 3605L, 1L),
      ("b", 7.0, 15L, 1L))
    val got = SeriesOps.integralByInterval(p, intervalSec = 3600L)
      .orderBy("path", "time")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("a", 0L, 10L, 1.5), ("a", 0L, 20L, 4.0), ("a", 3600L, 3605L, 4.0),
      ("b", 0L, 15L, 7.0)))
  }

  test("percentileOfSeries: per-instant cross-series percentile, LWW collapse first") {
    // at t=10 three series contribute (9, 5, 1) — path a's stale v=1
    // must lose to its version-2 re-send before the band is computed;
    // type-7 median of {1,5,9} is 5. t=20 has one series.
    val p = pts(
      ("a", 1.0, 10L, 1L), ("a", 9.0, 10L, 2L),
      ("b", 5.0, 10L, 1L), ("c", 1.0, 10L, 1L),
      ("b", 7.0, 20L, 1L))
    val got = SeriesOps.percentileOfSeries(p, p = 50).orderBy("time")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((10L, 3L, 5.0), (20L, 1L, 7.0)))
    // interpolating case: p90 of {1,5,9} = type-7 1 + 0.8*(9-5)... rank
    // r = 1 + 0.9*(3-1) = 2.8 -> 5 + 0.8*(9-5) = 8.2
    val p90 = SeriesOps.percentileOfSeries(p, p = 90).orderBy("time")
      .collect().head.getDouble(2)
    assert(p90 == 8.2, s"type-7 interpolation expected 8.2, got $p90")
  }

  test("seriesPercentile / removeAbovePercentile: type-7 value, boundary point kept") {
    val p = pts((1 to 10).map(i => ("a", i.toDouble, i.toLong, i.toLong)): _*)
    val pct = SeriesOps.seriesPercentile(p, 90).collect()(0)
    assert((pct.getString(0), pct.getLong(1), pct.getDouble(2)) == ("a", 10L, 9.1))
    // p50 of 1..10 is 5.5: points 1..5 survive (boundary <= cap)
    val kept = SeriesOps.removeAbovePercentile(p, 50).orderBy("time")
      .collect().map(_.getDouble(3)).toSeq
    assert(kept == (1 to 5).map(_.toDouble))
  }

  test("filterSeries: strict above/below on exact aggregates; sortByTotal ranks sums") {
    val p = pts(
      ("hot", 10.0, 1L, 1L), ("hot", 20.0, 2L, 2L),   // avg 15, sum 30
      ("cold", 1.0, 1L, 1L), ("cold", 3.0, 2L, 2L),   // avg 2,  sum 4
      ("edge", 5.0, 1L, 1L))                           // avg 5,  sum 5
    val above = SeriesOps.filterSeries(p, "avg", "above", 5.0)
      .select("path").distinct().collect().map(_.getString(0)).toSeq
    assert(above == Seq("hot")) // strict: edge's avg == 5.0 is dropped
    val below = SeriesOps.filterSeries(p, "max", "below", 5.0)
      .select("path").distinct().collect().map(_.getString(0)).toSeq
    assert(below == Seq("cold"))
    val totals = SeriesOps.sortByTotal(p, 2).orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3))).toSeq
    assert(totals == Seq((1L, "hot", 30.0), (2L, "edge", 5.0)))
  }

  test("movingAverage is partition-layout invariant (integer frame sums)") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val tsec = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case _ => col("ts").cast("timestamp").cast("long")
    }
    val ev = raw.withColumn("tsec", tsec)
      .select(concat(lit("s."), col("user_id") % 7).as("path"),
        col("value"), col("tsec").as("time"), col("event_id").as("version"))
    val a = SeriesOps.movingAverage(ev.repartition(1), 5)
      .orderBy("path", "time", "version").collect().toSeq
    val b = SeriesOps.movingAverage(ev.repartition(13), 5)
      .orderBy("path", "time", "version").collect().toSeq
    assert(a == b)
  }

  test("movingMedian: hand-computed frames, spike robustness vs movingAverage") {
    // series a: 1, 2, 100, 3, 4 — window 3
    val p = pts(("a", 1.0, 0L, 1L), ("a", 2.0, 10L, 2L), ("a", 100.0, 20L, 3L),
      ("a", 3.0, 30L, 4L), ("a", 4.0, 40L, 5L))
    val r = SeriesOps.movingMedian(p, 3).orderBy("time")
      .collect().map(x => (x.getLong(3), x.getDouble(4)))
    // frames: [1]→1; [1,2]→1.5 (even: interpolated); [1,2,100]→2;
    // [2,100,3]→3; [100,3,4]→4 — the spike never leaks into the median
    assert(r.toSeq == Seq((1L, 1.0), (2L, 1.5), (3L, 2.0), (3L, 3.0), (3L, 4.0)))
    // contrast: movingAverage's middle frame is dragged to 34.333333
    val ma = SeriesOps.movingAverage(p, 3).orderBy("time")
      .collect().map(_.getDouble(4))
    assert(ma(2) == 34.333333)
  }

  test("weightedAverage: hand-built pairs, zero-weight gap, bucket-last consolidation") {
    // two hosts under one service; value*weight exact: (10*2 + 20*6)/(2+6) = 17.5
    val p = pts(
      ("svc.api.h1.value", 10.0, 5L, 1L), ("svc.api.h1.min", 2.0, 7L, 2L),
      ("svc.api.h2.value", 20.0, 9L, 3L), ("svc.api.h2.min", 6.0, 3L, 4L),
      // h3 pairs but with weight 0 only — alone in its bucket → null gap
      ("svc.web.h3.value", 50.0, 3605L, 5L), ("svc.web.h3.min", 0.0, 3601L, 6L),
      // consolidation: LATER point in the bucket wins (time 8 beats 5)
      ("svc.api.h1.value", 12.0, 8L, 7L))
    val r = SeriesOps.weightedAverage(p, "value", "min", groupNode = 1, stepSec = 3600L)
      .orderBy("grp", "bucket").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) null else x.getDouble(3)))
    // h1 value consolidates to 12 (last in bucket): (12*2 + 20*6)/8 = 18.0
    assert(r.toSeq == Seq(("api", 0L, 2L, 18.0), ("web", 3600L, 1L, null)))
  }

  test("weightedAverage: unmatched leaves drop; LWW beats bucket-last") {
    val p = pts(
      ("x.a.n1.value", 1.0, 0L, 1L),                // no weight series → no pair
      ("x.b.n2.value", 5.0, 10L, 1L),
      ("x.b.n2.value", 7.0, 10L, 9L),               // same time: version 9 wins LWW
      ("x.b.n2.min", 1.0, 20L, 1L))
    val r = SeriesOps.weightedAverage(p, "value", "min", groupNode = 1, stepSec = 3600L)
      .collect().map(x => (x.getString(0), x.getDouble(3)))
    assert(r.toSeq == Seq(("b", 7.0)))
  }

  test("theilSenTrend and holtForecast are partition-layout invariant") {
    val p = pts((1 to 60).map(i =>
      (s"s${i % 4}", (i * 37 % 23) / 3.0, i * 60L, i.toLong)): _*)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(SeriesOps.theilSenTrend(p.repartition(1), 5)) ==
      rows(SeriesOps.theilSenTrend(p.repartition(7), 5)))
    assert(rows(SeriesOps.holtForecast(p.repartition(1), 300L, 100L)) ==
      rows(SeriesOps.holtForecast(p.repartition(7), 300L, 100L)))
  }

  test("holtForecast: linear series forecast exactly; scalar replay; short series drop") {
    // a perfectly linear series is a FIXED POINT of the quantized
    // recurrence (the q1 no-op property generalized): level tracks the
    // line, trend stays the slope, forecasts continue it exactly
    val lin = pts(("s", 1.0, 0L, 1L), ("s", 2.0, 60L, 2L),
      ("s", 3.0, 120L, 3L), ("s", 4.0, 180L, 4L))
    val g = SeriesOps.holtForecast(lin, 300L, 100L, horizon = 3).collect().head
    assert((g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4), g.getLong(5), g.getLong(6)) ==
      (4L, 4000L, 1000L, 5000L, 6000L, 7000L))
    // noisy series: exact scalar replay of the same integer fold
    val vals = Seq(1.5, 3.25, 2.0, 5.125, 4.0)
    val noisy = pts(vals.zipWithIndex.map { case (v, i) =>
      ("t", v, i * 60L, i + 1L) }: _*)
    val qs = vals.map(v => math.floor(v * 1000.0 + 0.5).toLong)
    var l = qs(0); var b = qs(1) - qs(0)
    for (x <- qs.drop(1)) {
      val l2 = (300L * x + 700L * (l + b)) / 1000L
      b = (100L * (l2 - l) + 900L * b) / 1000L
      l = l2
    }
    val n = SeriesOps.holtForecast(noisy, 300L, 100L).collect().head
    assert((n.getLong(2), n.getLong(3), n.getLong(4)) == (l, b, l + b))
    // a single-point series has no trend to initialize -> no row
    assert(SeriesOps.holtForecast(pts(("u", 9.0, 0L, 1L)), 300L, 100L).isEmpty)
  }

  test("theilSenTrend: spike-proof median slope; dyadic even-count interpolation") {
    // minute grid, unit slope (1.0 value/min = 1e6 micro), one 1000.0
    // spike at the end: 6 of the 10 pairwise slopes are exactly
    // 1,000,000 micro/min, so the median ignores the spike entirely —
    // the breakdown OLS lacks (linearTrend on the same series tilts)
    val p = pts(
      ("s", 1.0, 0L, 1L), ("s", 2.0, 60L, 2L), ("s", 3.0, 120L, 3L),
      ("s", 4.0, 180L, 4L), ("s", 1000.0, 240L, 5L))
    val got = SeriesOps.theilSenTrend(p, maxLag = 5).collect().head
    assert((got.getLong(1), got.getLong(2)) == (10L, 2000000L))
    val ols = SeriesOps.linearTrend(p).collect().head
    assert(ols.getLong(2) * 1000L > ols.getLong(3) * 2000000L,
      "OLS slope must be spike-inflated well past the robust one")
    // even slope count with an ODD doubled-median sum would round
    // ambiguously if doubling preceded the division — pin the exact
    // interpolated value: slopes 1,003,000 and 1,001,000 micro/min,
    // median = (2,006,000 + 2,002,000)/2 = 2,004,000 exactly
    val q = pts(("t", 1.0, 0L, 1L), ("t", 2.003, 60L, 2L), ("t", 3.004, 120L, 3L))
    val g2 = SeriesOps.theilSenTrend(q, maxLag = 1).collect().head
    assert((g2.getLong(1), g2.getLong(2)) == (2L, 2004000L))
  }

  test("holtWinters: periodic series converges to exact level/seasonals; forecasts replay the cycle") {
    // alpha=1 gamma=1 beta=0 on a perfectly 4-periodic series: level
    // locks to the cycle mean, seasonals to the (negative-going)
    // deviations — the floor-division path is exercised by s0 < 0
    val vals = Seq(10.0, 20.0, 30.0, 40.0)
    val p = pts((0 until 12).map(i =>
      ("a", vals(i % 4), (i + 1).toLong, (i + 1).toLong)): _*)
    val r = SeriesOps.holtWinters(p, alphaMilli = 1000L, betaMilli = 0L,
      gammaMilli = 1000L).collect().head
    assert(r.getAs[Long]("n") == 12L)
    assert(r.getAs[Long]("level_milli") == 25000L)
    assert(r.getAs[Long]("trend_milli") == 0L)
    assert(r.getAs[Long]("s0_milli") == -15000L)
    assert(r.getAs[Long]("s3_milli") == 15000L)
    // forecasts walk the next cycle: slots (12+h-1) % 4
    assert((1 to 4).map(h => r.getAs[Long](s"fc${h}_milli")) ==
      Seq(10000L, 20000L, 30000L, 40000L))
    // fewer than 5 points -> no row (nothing to smooth)
    assert(SeriesOps.holtWinters(pts(("b", 1.0, 1L, 1L), ("b", 2.0, 2L, 2L),
      ("b", 3.0, 3L, 3L), ("b", 4.0, 4L, 4L)), 300L, 100L, 200L).isEmpty)
  }

  test("holtWintersBands: periodic series has zero deviation; a spike after warm-up aberrates") {
    // same alpha=1 gamma=1 fixture as the holtWinters fixed-point spec:
    // every one-step prediction is exact, so d stays 0 and nothing
    // aberrates (strict > comparison — 0 is never > 3*0)
    val vals = Seq(10.0, 20.0, 30.0, 40.0)
    val clean = pts((0 until 16).map(i =>
      ("a", vals(i % 4), (i + 1).toLong, (i + 1).toLong)): _*)
    val r = SeriesOps.holtWintersBands(clean, 1000L, 0L, 1000L).collect().head
    assert(r.getAs[Long]("dev_milli") == 0L, s"periodic dev: $r")
    assert(r.getAs[Long]("n_aberrant") == 0L, s"periodic aberrations: $r")
    assert(r.getAs[Long]("band_lo_milli") == r.getAs[Long]("fc1_milli"))
    // one 10x spike well past the i>=8 warm-up must count
    val spiked = pts(((0 until 16).map(i =>
      ("s", if (i == 13) 400.0 else vals(i % 4), (i + 1).toLong, (i + 1).toLong))): _*)
    val rs = SeriesOps.holtWintersBands(spiked, 1000L, 0L, 1000L).collect().head
    assert(rs.getAs[Long]("n_aberrant") >= 1L, s"spike must aberrate: $rs")
    assert(rs.getAs[Long]("dev_milli") >= 0L)
    assert(rs.getAs[Long]("band_hi_milli") >= rs.getAs[Long]("band_lo_milli"))
  }

  test("hitcount: rate x forward-gap areas, bucketed by point time; last point emits nothing") {
    val p = pts(
      ("a", 2.0, 0L, 1L),    // gap 50 -> area 100, bucket 0
      ("a", 4.0, 50L, 2L),   // gap 20 -> area 80, bucket 0
      ("a", 6.0, 70L, 3L),   // gap 50 -> area 300, but bucket 60
      ("a", 1.0, 120L, 4L),  // last -> dropped
      ("b", 9.0, 10L, 1L))   // single point -> series emits nothing
    val out = SeriesOps.hitcount(p, 60L).orderBy("path", "bucket_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", 0L, 2L, 180.0), ("a", 60L, 1L, 300.0)))
  }

  test("stddevBands: integer breach inequality flags exactly the out-of-band point") {
    // constant frames never breach (dev 0, var 0 -> 0 > 0 false); the
    // spike point's OWN trailing frame is (5,5,50): mean 20, sigma
    // ~21.2, |50-20| = 30 -> breaches k=1 but NOT k=2 (a lone spike
    // inflates its own frame's sigma — the known trailing-band trait)
    val p = pts(("a", 5.0, 1L, 1L), ("a", 5.0, 2L, 2L), ("a", 5.0, 3L, 3L),
      ("a", 50.0, 4L, 4L))
    val k1 = SeriesOps.stddevBands(p, n = 3, k = 1).orderBy("time")
      .collect().map(r => (r.getLong(3), r.getDouble(4), r.getLong(6)))
    assert(k1.map(_._3).toSeq == Seq(0L, 0L, 0L, 1L))
    assert(k1(3)._2 == 20.0) // mid of frame (5, 5, 50)
    val k2 = SeriesOps.stddevBands(p, n = 3, k = 2).orderBy("time")
      .collect().map(_.getLong(6))
    assert(k2.toSeq == Seq(0L, 0L, 0L, 0L))
  }

  test("mostDeviant: integer variance key ranks series, path tie-break, top-n cut") {
    val p = pts(("flat", 5.0, 1L, 1L), ("flat", 5.0, 2L, 2L),
      ("wild", 0.0, 1L, 1L), ("wild", 10.0, 2L, 2L),
      ("mild", 4.0, 1L, 1L), ("mild", 6.0, 2L, 2L))
    val out = SeriesOps.mostDeviant(p, 2).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    // var_key = n*S2 - S1^2 on milli longs: wild = 2*(0+1e8)-1e8... use ranks
    assert(out.map(_._1).toSeq == Seq("wild", "mild"))
    // variance display: wild mean 5, var 25 -> 25.0
    val wild = SeriesOps.mostDeviant(p, 1).collect().head
    assert(wild.getDouble(3) == 25.0)
  }

  test("offsetToZero: exact re-base at the series min, independent per series") {
    val p = pts(("a", 3.5, 1L, 1L), ("a", 7.25, 2L, 2L),
      ("b", -2.0, 1L, 1L), ("b", 0.0, 2L, 2L))
    val out = SeriesOps.offsetToZero(p).orderBy("path", "time")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", 0.0), ("a", 3.75), ("b", 0.0), ("b", 2.0)))
  }

  test("changed: first point 0, equal-to-previous 0, moved 1") {
    val p = pts(("a", 1.0, 1L, 1L), ("a", 1.0, 2L, 2L), ("a", 2.0, 3L, 3L),
      ("a", 2.0, 4L, 4L), ("b", 9.0, 1L, 1L))
    val out = SeriesOps.changed(p).orderBy("path", "time")
      .collect().map(r => (r.getString(0), r.getLong(3)))
    assert(out.toSeq == Seq(("a", 0L), ("a", 0L), ("a", 1L), ("a", 0L), ("b", 0L)))
  }

  test("divideSeries: sibling-leaf bucket means, zero divisor -> null, no-pair buckets drop") {
    val p = pts(
      ("x.y.value", 10.0, 5L, 1L), ("x.y.value", 20.0, 50L, 2L), // bucket 0 mean 15
      ("x.y.min", 3.0, 30L, 1L),                                  // bucket 0 mean 3
      ("x.y.value", 8.0, 70L, 3L),                                // bucket 60, no min -> drops
      ("z.z.value", 4.0, 0L, 1L), ("z.z.min", 0.0, 1L, 1L))       // zero divisor -> null
    val out = SeriesOps.divideSeries(p, "value", "min", 60L)
      .orderBy("prefix", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.toSeq == Seq(("x.y", 0L, Some(5.0)), ("z.z", 0L, None)))
  }
}
