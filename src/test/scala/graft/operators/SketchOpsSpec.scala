package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Specs for the KMV distinct sketch: exactness below k, estimate
  * accuracy above k, partition-layout invariance (mergeability), and
  * the bounded-state plan shape (ObjectHashAggregate, partial merge). */
class SketchOpsSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  test("below k the sketch IS the exact distinct count; duplicates don't inflate it") {
    val ss = spark; import ss.implicits._
    val df = (Seq.tabulate(40)(i => ("g", s"v$i")) ++
      Seq.fill(60)(("g", "v0")) ++ // heavy duplicate
      Seq.tabulate(3)(i => ("h", s"w$i"))).toDF("grp", "v")
    val out = SketchOps.distinctSketch(df, Seq("grp"), "v", k = 64)
      .orderBy("grp").collect()
    assert(out(0).getLong(1) == 40 && out(0).getDouble(3) == 40.0)
    assert(out(1).getLong(1) == 3 && out(1).getDouble(3) == 3.0)
  }

  test("above k the estimate lands within 20% of truth on the real corpus") {
    val ss = spark
    val docs = ss.read.parquet(s"$sfDir/documents.parquet")
    val est = SketchOps.distinctSketch(docs, Seq("lang"), "text", k = 32)
      .select("lang", "est_distinct").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = docs.groupBy("lang").agg(countDistinct("text").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (lang, d) =>
      val e = est(lang)
      assert(math.abs(e - d) / d < 0.20, s"$lang: est $e vs exact $d")
    }
  }

  test("sketch is partition-layout invariant (partial states merge losslessly)") {
    val ss = spark
    val docs = ss.read.parquet(s"$sfDir/documents.parquet")
    val one = SketchOps.distinctSketch(docs.repartition(1), Seq("lang"), "text", k = 72)
      .orderBy("lang").collect().toSeq
    val many = SketchOps.distinctSketch(docs.repartition(16), Seq("lang"), "text", k = 72)
      .orderBy("lang").collect().toSeq
    assert(one == many)
  }

  test("gridQuantiles: hand histogram, rank convention, exact-to-grid answers") {
    val ss = spark; import ss.implicits._
    // 100 values 0.0005..0.0995 (cells 0..99, one per cell)
    val df = (0 until 100).map(i => i.toDouble / 1000.0 + 0.0005).toDF("v")
    val out = SketchOps.gridQuantiles(df, "v", Seq(0.5, 0.99), 0.001)
      .orderBy("p").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    // p=0.5 -> 50th smallest -> cell 49 (cum 50); p=0.99 -> 99th -> cell 98
    assert(out.toSeq == Seq((0.5, 49L, 50L, 100L), (0.99, 98L, 99L, 100L)))
  }

  test("cmsEstimates: never undercounts, exact when width clears the keyspace, 0 for unseen") {
    val ss = spark; import ss.implicits._
    val occ = (Seq.fill(10)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("token")
    val probes = Seq("a", "b", "c", "ghost").toDF("token")
    // wide sketch: 3 keys in 64 buckets ~never collide -> exact
    val wide = SketchOps.cmsEstimates(occ, "token", probes, depth = 3, width = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(wide == Map("a" -> 10L, "b" -> 3L, "c" -> 1L, "ghost" -> 0L))
    // degenerate 1-bucket sketch: every estimate is the stream length —
    // the extreme of the ≥-truth guarantee
    val narrow = SketchOps.cmsEstimates(occ, "token", probes, depth = 2, width = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(narrow == Map("a" -> 14L, "b" -> 14L, "c" -> 14L, "ghost" -> 14L))
    // and in between, the estimate is bounded below by truth for seen keys
    val mid = SketchOps.cmsEstimates(occ, "token", probes, depth = 2, width = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(mid("a") >= 10L && mid("b") >= 3L && mid("c") >= 1L)
  }

  test("cmsEstimates is partition-layout invariant (counter addition commutes)") {
    val ss = spark; import ss.implicits._
    val occ = (1 to 500).map(i => s"t${i % 37}").toDF("token")
    val probes = (0 until 37).map(i => s"t$i").toDF("token")
    val one = SketchOps.cmsEstimates(occ.repartition(1), "token", probes, 3, 8)
      .orderBy("token").collect().toSeq
    val many = SketchOps.cmsEstimates(occ.repartition(16), "token", probes, 3, 8)
      .orderBy("token").collect().toSeq
    assert(one == many)
  }

  test("numericProfile: one row per column, nulls counted, exact mean, exact distinct below k") {
    val ss = spark; import ss.implicits._
    val df = Seq((Some(1.0), Some(10.0)), (Some(2.0), None), (Some(1.0), Some(30.0)))
      .toDF("a", "b")
    val got = SketchOps.numericProfile(df, Seq("a", "b")).orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == Seq(
      ("a", 3L, 0L, 1.0, 2.0, math.rint(4.0 / 3.0 * 1e6) / 1e6, 2.0),
      ("b", 2L, 1L, 10.0, 30.0, 20.0, 2.0)))
  }

  test("gridCells runs under Structured Streaming; finisher over streamed cells equals batch") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Double]
    val cellsStream = SketchOps.gridCells(mem.toDF.toDF("v"), "v", grid = 10.0)
    assert(cellsStream.isStreaming)
    val q = cellsStream.writeStream.format("memory").queryName("grid_cells")
      .outputMode("complete").start()
    try {
      val b1 = Seq(1.0, 5.0, 17.0, 23.0)
      val b2 = Seq(25.0, 99.0, 3.0, 41.0)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = SketchOps.quantilesFromCells(
          ss.table("grid_cells"), Seq(0.5, 0.9), grid = 10.0)
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
      val batch = SketchOps.gridQuantiles(
          (b1 ++ b2).toDF("v"), "v", Seq(0.5, 0.9), grid = 10.0)
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("distinctSketch runs under Structured Streaming; state stays k-bounded, equals batch") {
    // the KMV aggregate's streaming contract: the TypedImperativeAggregate
    // buffer IS the state-store row, so an unbounded distinct stream per
    // key costs k longs forever and streamed results equal the batch run
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val q = SketchOps.distinctSketch(mem.toDF.toDF("grp", "v"), Seq("grp"), "v", k = 16)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      mem.addData((1 to 10).map(i => ("g", s"v$i")) ++ Seq(("h", "w1")): _*)
      q.processAllAvailable()
      mem.addData((5 to 40).map(i => ("g", s"v$i")): _*) // overlap + growth past k
      q.processAllAvailable()
      val streamed = ss.table("kmv_stream").orderBy("grp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val batch = SketchOps.distinctSketch(
          ((1 to 10).map(i => ("g", s"v$i")) ++ Seq(("h", "w1")) ++
            (5 to 40).map(i => ("g", s"v$i"))).toDF("grp", "v"),
          Seq("grp"), "v", k = 16)
        .orderBy("grp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(streamed == batch)
      assert(streamed.head._2 == 16L) // 40 distinct > k: buffer pinned at k
    } finally q.stop()
  }

  test("kmvOverlap: exact below k — inclusion-exclusion recovers the true intersection") {
    val ss = spark; import ss.implicits._
    // |A|=60, |B|=50, |A∩B|=30: all sets below k=256, so every
    // estimate is the exact count and the intersection is exact
    val a = (1 to 60).map(_.toLong).toDF("key")
    val b = (31 to 80).map(_.toLong).toDF("key")
    val r = SketchOps.kmvOverlap(a, "key", b, "key", k = 256).collect()(0)
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) ==
      ((60.0, 50.0, 80.0, 30.0)))
  }

  test("kmvOverlap: above k the union estimate stays within 15% of truth") {
    val ss = spark; import ss.implicits._
    val a = (1 to 3000).map(_.toLong).toDF("key")
    val b = (2001 to 5000).map(_.toLong).toDF("key")
    val r = SketchOps.kmvOverlap(a, "key", b, "key", k = 256).collect()(0)
    assert(math.abs(r.getDouble(2) - 5000.0) / 5000.0 < 0.15, r.toString)
  }

  test("plan: bounded ObjectHashAggregate with a map-side partial, no distinct shuffle") {
    val ss = spark
    val docs = ss.read.parquet(s"$sfDir/documents.parquet")
    val plan = SketchOps.distinctSketch(docs, Seq("lang"), "text", k = 72)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_kmv_sketch") || plan.contains("partial kmv_sketch")
      || plan.toLowerCase.contains("partial"), plan)
    // one exchange for the final group-by; no expand/distinct pre-shuffle
    assert(!plan.contains("Expand"), plan)
  }

  test("hllDistinct: within 3σ of truth at p=8; small sets take the linear-counting branch") {
    val ss = spark; import ss.implicits._
    // 10k distinct values, one group: HLL σ = 1.04/√256 ≈ 6.5%
    val big = (1 to 10000).map(i => ("g", s"item$i")).toDF("grp", "v")
    val bigRow = SketchOps.hllDistinct(big, Seq("grp"), "v").collect().head
    val est = bigRow.getAs[Long]("est_milli") / 1000.0
    assert(math.abs(est - 10000) / 10000.0 < 0.20, s"est $est vs 10000")
    // 30 distinct (dupes collapse): most registers empty -> linear
    // counting, which is near-exact in this regime
    val small = ((1 to 30).map(i => ("s", s"x$i")) ++ Seq.fill(50)(("s", "x1")))
      .toDF("grp", "v")
    val smallRow = SketchOps.hllDistinct(small, Seq("grp"), "v").collect().head
    assert(smallRow.getAs[Long]("v_empty") > 200)
    val smallEst = smallRow.getAs[Long]("est_milli") / 1000.0
    assert(math.abs(smallEst - 30) < 3, s"linear counting should be near-exact: $smallEst")
  }

  test("linear-counting branch is integer-exact via the shared StrictMath table") {
    val ss = spark; import ss.implicits._
    // the table IS the contract: both engines embed these literals, so
    // no runtime ln is ever taken and a last-ulp libm difference can't
    // flip a floor(x+0.5) boundary. Pin the endpoints and the midpoint
    // against independently-computed values (ln 256 = 8·ln 2).
    val t = SketchOps.linearCountMilli(8)
    assert(t.length == 256)
    assert(t(0) == 1419565L, s"v=1: 256000·ln(256) milli = ${t(0)}")   // 1419565.4257…
    assert(t(127) == 177446L, s"v=128: 256000·ln(2) milli = ${t(127)}") // 177445.6781…
    assert(t(255) == 0L, "v=m: ln(1) = 0")
    assert(t.sliding(2).forall(w => w(0) > w(1)), "strictly decreasing in v")
    // and the operator must READ the table: a 30-distinct group lands in
    // the branch, so est_milli equals the v_empty'th entry exactly
    val small = (1 to 30).map(i => ("s", s"x$i")).toDF("grp", "v")
    val row = SketchOps.hllDistinct(small, Seq("grp"), "v").collect().head
    val vEmpty = row.getAs[Long]("v_empty").toInt
    assert(vEmpty > 200, s"premise: linear regime, v_empty=$vEmpty")
    assert(row.getAs[Long]("est_milli") == t(vEmpty - 1),
      s"est_milli must be the table entry for v_empty=$vEmpty")
  }

  test("hllRegisters runs under Structured Streaming; finisher over streamed registers equals batch") {
    // the gridCells split applied to HLL: register max is an ordinary
    // streaming aggregate (≤ m state rows per group), the estimate is
    // a batch finisher over the bounded register table
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val q = SketchOps.hllRegisters(mem.toDF.toDF("grp", "v"), Seq("grp"), "v")
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      mem.addData((1 to 800).map(i => ("g", s"v$i")): _*)
      q.processAllAvailable()
      mem.addData((500 to 2000).map(i => ("g", s"v$i")): _*) // overlap + growth
      q.processAllAvailable()
      val streamed = SketchOps.hllFromRegisters(
        ss.table("hll_stream"), Seq("grp")).collect().head
      val batch = SketchOps.hllDistinct(
        ((1 to 800) ++ (500 to 2000)).map(i => ("g", s"v$i")).toDF("grp", "v"),
        Seq("grp"), "v").collect().head
      assert(streamed.getAs[Long]("s_inv") == batch.getAs[Long]("s_inv"))
      assert(streamed.getAs[Long]("est_milli") == batch.getAs[Long]("est_milli"))
      assert(ss.table("hll_stream").count() <= 256) // state bounded by m
    } finally q.stop()
  }

  test("cmsCells runs under Structured Streaming; probe finisher equals batch estimates") {
    // the same register/finisher split applied to count-min: the cell
    // count is an ordinary streaming aggregate whose state can never
    // exceed depth x width rows, and the probe min is a batch finisher
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val q = SketchOps.cmsCells(mem.toDF.toDF("k"), "k", depth = 4, width = 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      mem.addData((1 to 600).map(i => s"k${i % 37}"): _*)
      q.processAllAvailable()
      mem.addData((1 to 900).map(i => s"k${i % 53}"): _*)
      q.processAllAvailable()
      val all = ((1 to 600).map(i => s"k${i % 37}") ++
        (1 to 900).map(i => s"k${i % 53}")).toDF("k")
      val probes = (0 until 60).map(i => s"k$i").toDF("k")
      val streamed = SketchOps.cmsFromCells(ss.table("cms_stream"), probes, "k",
          depth = 4, width = 64)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val batch = SketchOps.cmsEstimates(all, "k", probes, depth = 4, width = 64)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(streamed == batch, "streamed cells must finish to the batch estimates")
      assert(ss.table("cms_stream").count() <= 4L * 64, "state bounded by depth x width")
      // CMS bound sanity: estimates never under-count the true frequency
      val truth = all.groupBy("k").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      truth.foreach { case (k, n) =>
        assert(batch(k) >= n, s"$k: est ${batch(k)} < truth $n")
      }
    } finally q.stop()
  }

  test("hllDistinct is partition-layout invariant and merge-consistent") {
    val ss = spark; import ss.implicits._
    val df = (1 to 5000).map(i => ("g", s"val$i")).toDF("grp", "v")
    val a = SketchOps.hllDistinct(df.repartition(1), Seq("grp"), "v").collect().head
    val b = SketchOps.hllDistinct(df.repartition(17), Seq("grp"), "v").collect().head
    assert(a.getAs[Long]("s_inv") == b.getAs[Long]("s_inv") &&
      a.getAs[Long]("est_milli") == b.getAs[Long]("est_milli"))
    // register-max merge: union of two halves = whole
    val whole = SketchOps.hllDistinct(df, Seq("grp"), "v").collect().head
    val union = SketchOps.hllDistinct(
      df.filter(expr("substring(v, 4) % 2 = 0"))
        .union(df.filter(expr("substring(v, 4) % 2 <> 0"))),
      Seq("grp"), "v").collect().head
    assert(whole.getAs[Long]("s_inv") == union.getAs[Long]("s_inv"))
  }

  test("sharded register tables max-merge into the direct registers (p_hll_shard_merge shape)") {
    val ss = spark; import ss.implicits._
    // the executor-summary reduction: per-shard hllRegisters, folded by
    // max per register slot, must be ROW-IDENTICAL to one direct pass —
    // with overlapping values across shards (the case where a naive
    // sum-merge would double count)
    val df = (1 to 3000).map(i => (i % 7, s"val${i % 1100}")).toDF("shard", "v")
    val merged = SketchOps.hllRegisters(df, Seq("shard"), "v")
      .groupBy("_idx").agg(max(col("_r")).as("_r"))
    val direct = SketchOps.hllRegisters(df, Nil, "v")
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "merged register table must equal the direct one")
    val em = SketchOps.hllFromRegisters(merged, Nil).collect().head.getAs[Long]("est_milli")
    val ed = SketchOps.hllFromRegisters(direct, Nil).collect().head.getAs[Long]("est_milli")
    assert(em == ed)
  }
}
