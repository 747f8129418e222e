package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Online z-score anomaly specs: prefix-only scoring (a point never
  * vouches for itself), cross-batch state carry under MemoryStream,
  * fold-order determinism, warm-up and constant-series gates. */
class StreamAnomalySpec extends AnyFunSuite with SharedSpark {

  private def pts(rows: (String, Long, Long, Double)*) = {
    val ss = spark; import ss.implicits._
    rows.toDF("path", "time", "version", "value")
  }

  test("batch pass: spike flags against its prefix, warm-up and constant series gate") {
    // baseline 1,3,1,3 (mean 2, var 1) then 100 -> z = 98; the first
    // minPoints points never score; series "c" is constant -> nothing
    val p = pts(
      ("a", 1L, 1L, 1.0), ("a", 2L, 2L, 3.0), ("a", 3L, 3L, 1.0), ("a", 4L, 4L, 3.0),
      ("a", 5L, 5L, 100.0),
      ("c", 1L, 1L, 7.0), ("c", 2L, 2L, 7.0), ("c", 3L, 3L, 7.0), ("c", 4L, 4L, 7.0))
    val got = StreamAnomaly.zscoreAnomalies(p, z = 3.0, minPoints = 3)
      .collect().map(r => (r.path, r.time, r.value, r.zscore)).toSeq
    assert(got == Seq(("a", 5L, 100.0, 98.0)))
  }

  test("fold order is (time, version), not arrival order") {
    // same rows fed in scrambled order must score identically
    val ordered = pts(("a", 1L, 1L, 1.0), ("a", 2L, 2L, 3.0), ("a", 3L, 3L, 1.0),
      ("a", 4L, 4L, 3.0), ("a", 5L, 5L, 100.0))
    val scrambled = pts(("a", 5L, 5L, 100.0), ("a", 3L, 3L, 1.0), ("a", 1L, 1L, 1.0),
      ("a", 4L, 4L, 3.0), ("a", 2L, 2L, 2.0 + 1.0))
    val a = StreamAnomaly.zscoreAnomalies(ordered, 3.0, 3).collect().toSeq
    val b = StreamAnomaly.zscoreAnomalies(scrambled.repartition(3), 3.0, 3).collect().toSeq
    assert(a.map(r => (r.path, r.time, r.zscore)) == b.map(r => (r.path, r.time, r.zscore)))
  }

  test("streaming: state carries across micro-batches; spike in batch 2 flags") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long, Double)]
    val q = StreamAnomaly.zscoreAnomalies(
        mem.toDF.toDF("path", "time", "version", "value"), z = 3.0, minPoints = 3)
      .writeStream.format("memory").queryName("anom_stream")
      .outputMode("update").start()
    try {
      // batch 1: baseline only — nothing can flag yet
      mem.addData(("a", 1L, 1L, 1.0), ("a", 2L, 2L, 3.0), ("a", 3L, 3L, 1.0), ("a", 4L, 4L, 3.0))
      q.processAllAvailable()
      assert(ss.table("anom_stream").count() == 0)
      // batch 2: the spike scores against batch-1 state
      mem.addData(("a", 5L, 5L, 100.0), ("a", 6L, 6L, 2.0))
      q.processAllAvailable()
      val got = ss.table("anom_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(4))).toSeq
      assert(got == Seq(("a", 5L, 98.0)))
    } finally q.stop()
  }
}
