package graft.streaming

import org.apache.spark.sql.functions._
import graft.operators.SketchOps
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Specs for the streaming grid-quantile sketch: hand-traced cells,
  * batch ≡ the SketchOps.quantilesFromCells walk, state persistence
  * across micro-batches, tail clipping observability, and order
  * independence (histogram folds commute). */
class StreamQuantileSpec extends AnyFunSuite with SharedSpark {

  test("hand trace: cells, quantile walk, and the clip counter") {
    val ss = spark; import ss.implicits._
    // grid 10: values 5,15,15,95 -> cells 0,1,1,9; n=4
    // p50 needs cum>=2 -> cell 1; p90 needs cum>=4 -> cell 9
    val df = Seq(("g", 5.0), ("g", 15.0), ("g", 15.0), ("g", 95.0))
      .toDF("g", "v")
    val r = StreamQuantile.gridQuantiles(df, "g", "v", grid = 10.0).collect().head
    assert((r.n, r.clipped, r.p50_cell, r.p90_cell, r.p99_cell) ==
      ((4L, 0L, 1L, 9L, 9L)))
    // a value past maxAbsCell*grid clips into the saturating end cell
    val far = Seq(("g", 5.0), ("g", 1e12)).toDF("g", "v")
    val rc = StreamQuantile.gridQuantiles(far, "g", "v", grid = 10.0,
      maxAbsCell = 100L).collect().head
    assert(rc.clipped == 1L && rc.p99_cell == 100L)
  }

  test("batch result matches SketchOps.quantilesFromCells on the same grid") {
    val ss = spark; import ss.implicits._
    val vals = (1 to 500).map(i => ((i * 37) % 997).toDouble)
    val df = vals.map(("g", _)).toDF("g", "v")
    val got = StreamQuantile.gridQuantiles(df, "g", "v", grid = 5.0)
      .collect().head
    val exact = SketchOps.gridQuantiles(df.select(col("v")), "v",
        Seq(0.5, 0.9, 0.99), grid = 5.0)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got.p50_cell == exact(0.5))
    assert(got.p90_cell == exact(0.9))
    assert(got.p99_cell == exact(0.99))
  }

  test("streaming over MemoryStream: state merges across micro-batches; order-free") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val stream = StreamQuantile.gridQuantiles(
      mem.toDF.toDF("g", "v"), "g", "v", grid = 10.0)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("sq")
      .outputMode("update").start()
    try {
      mem.addData(("g", 95.0), ("g", 15.0)) // scrambled vs hand trace
      q.processAllAvailable()
      mem.addData(("g", 5.0), ("g", 15.0))
      q.processAllAvailable()
      val last = ss.table("sq").collect().last
      assert((last.getLong(1), last.getLong(3), last.getLong(4)) ==
        ((4L, 1L, 9L)), "split + scrambled feed must equal the batch pass")
    } finally q.stop()
  }
}
