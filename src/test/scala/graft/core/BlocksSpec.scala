package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.operators.DedupOps

/**
 * Pins the ownership convention in [[Blocks]]: operators may
 * localCheckpoint intermediates, the caller releases them between
 * queries, and the pinned set is therefore BOUNDED across an arbitrary
 * sequence of operator calls — the long-lived-driver leak model.
 */
class BlocksSpec extends AnyFunSuite with SharedSpark {

  private def docs = {
    val ss = spark; import ss.implicits._
    (1L to 40L).map { i =>
      (i, if (i % 2 == 0) s"the quick brown fox jumps over dog $i" else s"totally different text body number $i with words")
    }.toDF("doc_id", "text")
  }

  test("operator calls pin blocks; releaseAll drops them; repeated calls stay bounded") {
    Blocks.releaseAll(spark)
    assert(Blocks.pinnedCount(spark) == 0)

    var peak = 0
    for (round <- 1 to 5) {
      // a checkpoint-heavy operator chain (minhash candidates + verify)
      val out = DedupOps.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.5)
      out.write.format("noop").mode("overwrite").save()
      val pinned = Blocks.pinnedCount(spark)
      assert(pinned > 0, s"round $round: expected operator to pin checkpoint blocks")
      peak = math.max(peak, pinned)
      // caller-owned release (the Bench/Verify convention)
      Blocks.releaseAll(spark)
      assert(Blocks.pinnedCount(spark) == 0,
        s"round $round: releaseAll must leave zero pinned RDDs")
    }
    // bounded: the per-round pin count never compounds across rounds —
    // 5 rounds peak equals a single round's footprint (small constant)
    assert(peak <= 8, s"per-round pinned footprint unexpectedly large: $peak")
  }

  test("released results are rebuildable — rerun after release is identical") {
    Blocks.releaseAll(spark)
    val a = DedupOps.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(_.toString).sorted.toSeq
    Blocks.releaseAll(spark)
    val b = DedupOps.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
    Blocks.releaseAll(spark)
  }
}
