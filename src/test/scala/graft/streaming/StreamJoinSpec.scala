package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Stream-stream windowed attribution: append-mode output across
  * micro-batches equals the batch declaration on the same rows;
  * out-of-window and cross-user clicks never pair. */
class StreamJoinSpec extends AnyFunSuite with SharedSpark {

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("batch: window boundaries inclusive, user isolation") {
    val ss = spark; import ss.implicits._
    val clicks = Seq((1L, 10L, ts(100)), (1L, 11L, ts(40)), (2L, 20L, ts(100)))
      .toDF("user_id", "click_id", "click_time")
    val purchases = Seq((1L, 500L, ts(130))).toDF("user_id", "purchase_id", "purchase_time")
    // window 30s: click at 100 (exactly purchase-30) matches, 40 does
    // not, user 2's click never pairs
    val got = StreamJoin.attributionPairs(clicks, purchases, windowSec = 30L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 500L, 10L)))
  }

  test("streaming: the same declaration joins across micro-batches; equals batch") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val memC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Timestamp)]
    val memP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamJoin.attributionPairs(
      memC.toDF.toDF("user_id", "click_id", "click_time"),
      memP.toDF.toDF("user_id", "purchase_id", "purchase_time"),
      windowSec = 30L, watermarkSec = 5L)
    val q = joined.writeStream.format("memory").queryName("attr_pairs")
      .outputMode("append").start()
    try {
      // clicks arrive in batch 1, purchases in batch 2: the join's
      // click-side STATE must hold batch-1 clicks for batch-2 matches
      val clicks = Seq((1L, 10L, ts(100)), (1L, 11L, ts(40)), (2L, 20L, ts(110)))
      val purchases = Seq((1L, 500L, ts(130)), (2L, 600L, ts(120)))
      memC.addData(clicks: _*); q.processAllAvailable()
      memP.addData(purchases: _*); q.processAllAvailable()
      val streamed = ss.table("attr_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = StreamJoin.attributionPairs(
          clicks.toDF("user_id", "click_id", "click_time"),
          purchases.toDF("user_id", "purchase_id", "purchase_time"), 30L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch && batch == Set((1L, 500L, 10L), (2L, 600L, 20L)),
        s"streamed $streamed batch $batch")
    } finally q.stop()
  }
}
