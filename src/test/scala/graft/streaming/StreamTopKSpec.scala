package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Specs for Space-Saving streaming top-k: the hand-traced counter
  * dance (takeover inheritance, eviction tie-break), batch ≡ streaming
  * on a split feed, bounded state, and the N/k containment + err
  * overestimate guarantees against exact counts on real corpus text. */
class StreamTopKSpec extends AnyFunSuite with SharedSpark {

  test("hand trace: takeover inherits count+1 with err = evicted count") {
    val ss = spark; import ss.implicits._
    // k=2, order a a b c: c evicts b (the unique min) and starts at
    // (count 2, err 1) — count-err bounds the true count 1 from below
    val df = Seq(("g", 1L, "a"), ("g", 2L, "a"), ("g", 3L, "b"), ("g", 4L, "c"))
      .toDF("g", "seq", "tok")
    val got = StreamTopK.spaceSavingTopK(df, "g", "seq", "tok", k = 2, emit = 2)
      .collect().map(r => (r.token, r.count, r.err)).toSeq
    assert(got == Seq(("a", 2L, 0L), ("c", 2L, 1L)))
  }

  test("eviction tie-break: the lexicographically largest min-count token goes") {
    val ss = spark; import ss.implicits._
    // k=2, order a b c: a and b both at count 1 -> b is evicted,
    // a survives (deterministic tie policy)
    val df = Seq(("g", 1L, "a"), ("g", 2L, "b"), ("g", 3L, "c"))
      .toDF("g", "seq", "tok")
    val got = StreamTopK.spaceSavingTopK(df, "g", "seq", "tok", k = 2, emit = 2)
      .collect().map(r => (r.token, r.count, r.err)).toSeq
    assert(got == Seq(("c", 2L, 1L), ("a", 1L, 0L)))
  }

  test("fold order follows seqCol, not input row order") {
    val ss = spark; import ss.implicits._
    // same rows, scrambled physical order: seq order is b-first, so
    // with k=1 the final counter reflects the LAST seq token
    val df = Seq(("g", 3L, "a"), ("g", 1L, "b"), ("g", 2L, "b"))
      .toDF("g", "seq", "tok").repartition(4)
    val got = StreamTopK.spaceSavingTopK(df, "g", "seq", "tok", k = 1, emit = 1)
      .collect().map(r => (r.token, r.count, r.err)).toSeq
    // trace: b(1,0) -> b(2,0) -> a evicts b: (3, 2)
    assert(got == Seq(("a", 3L, 2L)))
  }

  test("streaming over MemoryStream: state persists across micro-batches; final counters equal one batch pass") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, String)]
    val stream = StreamTopK.spaceSavingTopK(
      mem.toDF.toDF("g", "seq", "tok"), "g", "seq", "tok", k = 2, emit = 2)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("sstopk")
      .outputMode("update").start()
    try {
      mem.addData(("g", 1L, "a"), ("g", 2L, "a"), ("g", 3L, "b"))
      q.processAllAvailable()
      mem.addData(("g", 4L, "c"))
      q.processAllAvailable()
      // update mode re-emits per batch: take the LAST batch's rows,
      // which must match the single-pass batch result of the full feed
      val batches = ss.table("sstopk").collect()
      val lastEmit = batches.takeRight(2).map(r =>
        (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(lastEmit == Seq(("a", 2L, 0L), ("c", 2L, 1L)),
        s"got ${batches.toSeq}")
    } finally q.stop()
  }

  test("guarantees on real text: N/k containment, count bounds, bounded counters") {
    val ss = spark; import ss.implicits._
    val docs = ss.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val occ = docs.select(col("lang").as("g"), col("doc_id"),
        posexplode(filter(split(col("text"), "\\s+"), x => x =!= ""))
          .as(Seq("pos", "tok")))
      .select(col("g"), (col("doc_id") * 100000L + col("pos")).as("seq"), col("tok"))
    val k = 64
    val got = StreamTopK.spaceSavingTopK(occ, "g", "seq", "tok", k = k, emit = k)
      .collect().map(r => (r.group, r.token) -> (r.count, r.err)).toMap
    val exact = occ.groupBy("g", "tok").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    // every token with true count > N/k must be tracked
    exact.foreach { case ((g, t), n) =>
      if (n > totals(g) / k)
        assert(got.contains((g, t)), s"frequent token $t of $g missing (n=$n)")
    }
    // every tracked counter bounds its true count: count-err <= true <= count
    got.foreach { case ((g, t), (c, e)) =>
      val n = exact.getOrElse((g, t), 0L)
      assert(n <= c && n >= c - e, s"($g,$t): true $n not in [${c - e}, $c]")
    }
    // bounded state: never more than k counters per group
    got.keys.groupBy(_._1).foreach { case (g, ks) =>
      assert(ks.size <= k, s"group $g tracks ${ks.size} > $k")
    }
  }
}
