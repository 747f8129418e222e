package graft.streaming

import org.apache.spark.sql.functions._
import graft.operators.SketchOps
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/**
 * Streaming parity for the HLL register/finisher split: the register
 * stage ([[SketchOps.hllRegisters]] — max rank per (group, register))
 * is an ordinary streaming aggregation with ≤ 2^p rows of state per
 * group, and the batch finisher over the emitted state must equal the
 * one-shot batch estimate on the same data regardless of how the feed
 * was split or ordered. This is the sketch's 100 TB contract run
 * through Structured Streaming for real — not just asserted mergeable.
 */
class StreamHllSpec extends AnyFunSuite with SharedSpark {

  test("streaming HLL registers: split scrambled overlapping feed; finisher equals one-shot batch") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val regs = SketchOps.hllRegisters(mem.toDF.toDF("g", "v"), Seq("g"), "v", p = 8)
    assert(regs.isStreaming, "register stage must be a streaming aggregation")
    val q = regs.writeStream.format("memory").queryName("shll")
      .outputMode("complete").start()
    // overlapping + scrambled + duplicated across micro-batches:
    // max-per-register must make all of that invisible
    val feed1 = (300L to 1L by -1L).map(i => ("a", i)) ++ (1L to 50L).map(i => ("b", i * 7))
    val feed2 = (200L to 500L).map(i => ("a", i)) ++ (1L to 50L).map(i => ("b", i * 7))
    try {
      mem.addData(feed1)
      q.processAllAvailable()
      mem.addData(feed2)
      q.processAllAvailable()
      val streamed = SketchOps.hllFromRegisters(ss.table("shll"), Seq("g"), p = 8)
        .select("g", "m", "v_empty", "s_inv", "est_milli")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = SketchOps.hllDistinct(
          (feed1 ++ feed2).toDF("g", "v"), Seq("g"), "v", p = 8)
        .select("g", "m", "v_empty", "s_inv", "est_milli")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(streamed == batch,
        s"stream register state must equal the one-shot batch:\n$streamed\nvs\n$batch")
      // the state bound itself: at most 2^p register rows per group
      val perGroup = ss.table("shll").groupBy("g").count()
        .collect().map(_.getLong(1))
      assert(perGroup.forall(_ <= 256L), s"register rows per group: ${perGroup.toSeq}")
    } finally q.stop()
  }
}
