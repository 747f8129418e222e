package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Specs for the integer-quantized PageRank: symmetric graphs keep the
  * uniform fixed point exactly, a star concentrates rank on the hub by
  * the same integer math as a naive reference, and the result is
  * partition-layout invariant. */
class GraphOpsSpec extends AnyFunSuite with SharedSpark {

  /** Naive driver-side replay of the identical integer recurrence. */
  private def reference(edges: Seq[(String, String)], iters: Int,
                        scale: Long = 1000000000L): Map[String, Long] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = edges.map(_._1).distinct
    val base = scale / nodes.size
    val teleport = (3L * base) / 20L
    var pr = nodes.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val s = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => pr(src) / deg(src) }.sum).toMap
      pr = nodes.map(n => n -> (teleport + (17L * s.getOrElse(n, 0L)) / 20L)).toMap
    }
    pr
  }

  private def undirected(pairs: (String, String)*): Seq[(String, String)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  private def run(edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
    val ss = spark; import ss.implicits._
    GraphOps.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("symmetric 2-cycle holds the uniform fixed point exactly") {
    val e = undirected(("a", "b"))
    assert(run(e, 3) == Map("a" -> 500000000L, "b" -> 500000000L))
  }

  test("star graph concentrates rank on the hub; matches the integer reference") {
    val e = undirected(("hub", "x"), ("hub", "y"), ("hub", "z"))
    val got = run(e, 3)
    assert(got == reference(e, 3))
    assert(got("hub") > got("x") && got("x") == got("y") && got("y") == got("z"))
  }

  test("personalized PageRank: mass reaches only walk-connected nodes; seed holds the teleport") {
    val ss = spark; import ss.implicits._
    // two components: a-b connected, z isolated with its own partner w
    val e = undirected(("a", "b"), ("z", "w"))
    val seeds = Seq("a").toDF("node")
    val got = GraphOps.personalizedPageRank(e.toDF("src", "dst"), seeds, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // unreachable component stays exactly 0 — quantized truth
    assert(got("z") == 0L && got("w") == 0L)
    // mass reached the neighbor (on a 2-node chain it OSCILLATES: after
    // an odd round count the neighbor holds the bulk — that's the
    // recurrence, not a bug, and the reference replay below pins it)
    assert(got("a") > 0L && got("b") > 0L)
    // replay the integer recurrence by hand: base = 1e9 (one seed)
    val base = 1000000000L; val tele = (3L * base) / 20L
    var pr = Map("a" -> base, "b" -> 0L, "z" -> 0L, "w" -> 0L)
    val deg = Map("a" -> 1L, "b" -> 1L, "z" -> 1L, "w" -> 1L)
    val edges = Seq(("a", "b"), ("b", "a"), ("z", "w"), ("w", "z"))
    for (_ <- 1 to 3) {
      val s = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / deg(u) }.sum).toMap
      pr = pr.keys.map(n => n ->
        ((if (n == "a") tele else 0L) + (17L * s.getOrElse(n, 0L)) / 20L)).toMap
    }
    assert(got == pr)
  }

  test("HITS: the auth every hub points at dominates; sides renormalize to ~scale") {
    val ss = spark; import ss.implicits._
    // hubs u1,u2,u3 all point at 'popular'; only u1 points at 'niche'
    val e = Seq(("u1", "popular"), ("u2", "popular"), ("u3", "popular"), ("u1", "niche"))
      .toDF("src", "dst")
    val got = GraphOps.hits(e, iterations = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("popular", "auth")) > got(("niche", "auth")))
    // u1 points at both -> the strongest hub
    assert(got(("u1", "hub")) > got(("u2", "hub")) &&
      got(("u2", "hub")) == got(("u3", "hub")))
    // L1 renormalization: each side sums to scale minus floor dust
    val authSum = got.collect { case ((_, "auth"), v) => v }.sum
    val hubSum = got.collect { case ((_, "hub"), v) => v }.sum
    assert(authSum > 999999990L && authSum <= 1000000000L)
    assert(hubSum > 999999990L && hubSum <= 1000000000L)
  }

  test("HITS is partition-layout invariant") {
    val ss = spark; import ss.implicits._
    val e = Seq(("u1", "a"), ("u2", "a"), ("u2", "b"), ("u3", "b"), ("u3", "c"))
      .toDF("src", "dst")
    val one = GraphOps.hits(e.repartition(1), 2).orderBy("side", "node").collect().toSeq
    val many = GraphOps.hits(e.repartition(7), 2).orderBy("side", "node").collect().toSeq
    assert(one == many)
  }

  test("rank is partition-layout invariant (pure integer arithmetic)") {
    val ss = spark; import ss.implicits._
    val e = undirected(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"))
    val df = e.toDF("src", "dst")
    val one = GraphOps.pageRank(df.repartition(1), 3)
      .orderBy("node").collect().toSeq
    val many = GraphOps.pageRank(df.repartition(7), 3)
      .orderBy("node").collect().toSeq
    assert(one == many)
    assert(one.map(_.getLong(1)) == reference(e, 3).toSeq.sortBy(_._1).map(_._2))
  }

  private def runLpa(edges: Seq[(String, String)], iters: Int): Map[String, String] = {
    val ss = spark; import ss.implicits._
    GraphOps.labelPropagation(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("labelPropagation: disjoint triangles each converge to their min node label") {
    // round 1 spreads min labels, round 2 builds plurality, round 3
    // is the fixpoint — hand-traced: every triangle node ends on the
    // triangle's lexicographic minimum, and the components never mix
    val e = undirected(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"))
    val got = runLpa(e, 3)
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x"))
  }

  test("labelPropagation: plurality beats the smaller label; duplicate edges act as weight") {
    // node m sees label z twice (duplicated edge) and label a once:
    // plurality keeps z even though a < z lexicographically
    val e = Seq(("z", "m"), ("z", "m"), ("a", "m"),
      ("m", "z"), ("m", "z"), ("m", "a"))
    val got = runLpa(e, 1)
    assert(got("m") == "z")
    // the strict-tie case on the same shape without the duplicate:
    // one z vote vs one a vote -> min label a wins
    val tied = Seq(("z", "m"), ("a", "m"), ("m", "z"), ("m", "a"))
    assert(runLpa(tied, 1)("m") == "a")
  }

  test("labelPropagation is partition-layout invariant") {
    val ss = spark; import ss.implicits._
    val e = undirected(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"))
    val df = e.toDF("src", "dst")
    val one = GraphOps.labelPropagation(df.repartition(1), 3)
      .orderBy("node").collect().toSeq
    val many = GraphOps.labelPropagation(df.repartition(7), 3)
      .orderBy("node").collect().toSeq
    assert(one == many)
  }

  test("triangleParticipation: shared-edge triangles, duplicate/reversed edges, self-loops") {
    val ss = spark; import ss.implicits._
    // triangles {1,2,3} and {2,3,4}; (2,1) duplicates (1,2) reversed,
    // (4,4) is a self-loop — both must not change the counts
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L), (2L, 1L), (4L, 4L))
      .toDF("src", "dst")
    val got = GraphOps.triangleParticipation(e).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 1L)))
  }

  test("clusteringCoefficient: triangle + pendant — exact micro ratios, deg-1 zero row") {
    val ss = spark; import ss.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.clusteringCoefficient(e).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 2L, 1L, 1000000L), (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L), (4L, 1L, 0L, 0L)))
  }

  test("triangleParticipation: triangle-free graph emits nothing; K4 gives 3 per node") {
    val ss = spark; import ss.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.triangleParticipation(path).isEmpty)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = GraphOps.triangleParticipation(k4).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (1L to 4L).map(n => (n, 3L)))
  }

  test("linkPrediction: 4-cycle diagonals score exactly; existing edges never appear") {
    val ss = spark; import ss.implicits._
    // square 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the only
    // non-edges, each sharing BOTH its endpoints' full neighborhoods —
    // common=2, jaccard = 2/(2+2-2) = 1.0 exactly, pa = 2*2
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = GraphOps.linkPrediction(e, minCommon = 2L, maxHubDeg = 10L)
      .orderBy("node_a", "node_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, 3L, 2L, 1000000L, 4L), (2L, 4L, 2L, 1000000L, 4L)))
  }

  test("linkPrediction: the hub cap closes wedges at celebrity centers") {
    val ss = spark; import ss.implicits._
    // star: hub 0 with leaves 1..5 — every leaf pair co-occurs only
    // through the hub; capping below the hub degree must predict
    // NOTHING (the stop-hub rule), uncapped predicts all C(5,2) pairs
    val e = (1L to 5L).map(l => (0L, l)).toDF("src", "dst")
    assert(GraphOps.linkPrediction(e, minCommon = 1L, maxHubDeg = 4L).isEmpty)
    assert(GraphOps.linkPrediction(e, minCommon = 1L, maxHubDeg = 5L).count() == 10L)
  }

  test("linkPrediction: duplicate and reversed raw edges do not inflate the counts") {
    val ss = spark; import ss.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    // path 1-2-3: one candidate (1,3) through center 2, common=1,
    // jaccard = 1/(1+1-1), pa = 1*1
    val got = GraphOps.linkPrediction(e, minCommon = 1L, maxHubDeg = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, 3L, 1L, 1000000L, 1L)))
  }

  test("round-11 graph ops are partition-layout invariant (pure integer arithmetic)") {
    val ss = spark; import ss.implicits._
    // one graph with hubs, wedges, a pendant and a dense core —
    // every operator must produce byte-identical rows at 1 and 7
    // partitions (the repo-wide determinism contract)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 1L),
      (2L, 5L), (5L, 6L)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val a = e.repartition(1); val b = e.repartition(7)
    assert(rows(GraphOps.linkPrediction(a, 1L, 10L)) == rows(GraphOps.linkPrediction(b, 1L, 10L)))
    assert(rows(GraphOps.kCore(a, 2L, 3)) == rows(GraphOps.kCore(b, 2L, 3)))
    assert(rows(GraphOps.assortativity(a)) == rows(GraphOps.assortativity(b)))
    assert(rows(GraphOps.bipartiteProject(
        a.withColumnRenamed("src", "left").withColumnRenamed("dst", "right"))) ==
      rows(GraphOps.bipartiteProject(
        b.withColumnRenamed("src", "left").withColumnRenamed("dst", "right"))))
    val wa = a.withColumn("w", col("src") + col("dst"))
    val wb = b.withColumn("w", col("src") + col("dst"))
    assert(rows(GraphOps.weightedPageRank(wa, 3)) == rows(GraphOps.weightedPageRank(wb, 3)))
    val lbl = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 2L))
      .toDF("node", "label")
    assert(rows(GraphOps.modularity(a, lbl)) == rows(GraphOps.modularity(b, lbl)))
  }

  test("modularity: disjoint triangles score exactly 1/2; one community is exactly 0") {
    val ss = spark; import ss.implicits._
    val tri2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("src", "dst")
    // the natural partition: Q = 2·(3/6 − (6/12)²) = 1/2 exactly
    val good = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L), (6L, 20L))
      .toDF("node", "label")
    val g = GraphOps.modularity(tri2, good).collect().head
    assert((g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4)) ==
      (6L, 2L, 72L, 144L, 500L))
    // everything in one community: Q = e/m − (2m/2m)² = 0 exactly
    val one = (1L to 6L).map(n => (n, 7L)).toDF("node", "label")
    assert(GraphOps.modularity(tri2, one).collect().head.getLong(2) == 0L)
    // a partial labeling scores the covered subgraph: only triangle 1
    // labeled → its edges count intra, triangle 2's degrees drop
    val part = Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("node", "label")
    val p = GraphOps.modularity(tri2, part).collect().head
    assert(p.getLong(1) == 1L && p.getLong(2) == 4L * 6L * 3L - 36L)
  }

  test("bipartiteProject: shared-left counts, duplicate links collapse, hub cap drops") {
    val ss = spark; import ss.implicits._
    // docs 1,2 both cite {x,y}; doc 3 cites {y,z}; doc 1's (x) link
    // repeats — the SET semantics keep w(x,y) at 2
    val inc = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "y"), (3L, "z")).toDF("left", "right")
    val got = GraphOps.bipartiteProject(inc)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("x", "y", 2L), ("y", "z", 1L)))
    // a mega-doc citing 5 hosts opens no pairs under a cap of 4
    val mega = (1 to 5).map(i => (9L, s"h$i")).toDF("left", "right")
    assert(GraphOps.bipartiteProject(mega, maxLeftDeg = 4L).isEmpty)
    assert(GraphOps.bipartiteProject(mega, maxLeftDeg = 5L).count() == 10L)
  }

  test("weightedPageRank: matches a scalar replay; heavy edges pull rank") {
    val ss = spark; import ss.implicits._
    // triangle with one heavy edge a<->b (w 10) vs light spokes (w 1)
    val und = Seq(("a", "b", 10L), ("b", "c", 1L), ("a", "c", 1L))
    val edges = und.flatMap { case (x, y, w) => Seq((x, y, w), (y, x, w)) }
      .toDF("src", "dst", "w")
    val got = GraphOps.weightedPageRank(edges, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // scalar replay of the identical integer recurrence
    val dir = und.flatMap { case (x, y, w) => Seq((x, y, w), (y, x, w)) }
    val wdeg = dir.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = dir.map(_._1).distinct
    val base = 1000000000L / nodes.size
    val tele = (3L * base) / 20L
    var pr = nodes.map(_ -> base).toMap
    for (_ <- 1 to 3) {
      val s = dir.groupBy(_._2).view.mapValues(
        _.map { case (src, _, w) => (pr(src) * w) / wdeg(src) }.sum).toMap
      pr = nodes.map(n => n -> (tele + (17L * s.getOrElse(n, 0L)) / 20L)).toMap
    }
    assert(got == pr, "weighted recurrence must replay exactly")
    // a and b split the heavy edge's mass; c starves
    assert(got("a") > got("c") && got("b") > got("c"))
  }

  test("assortativity: star is exactly -1000 milli, regular graphs degenerate to 0") {
    val ss = spark; import ss.implicits._
    // star K_{1,3}: hubs never meet hubs -> r = -1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val s = GraphOps.assortativity(star).collect().head
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4)) ==
      (6L, 18L, 12L, 30L, -1000L))
    // triangle: every degree equal -> den = 0 -> reported 0
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(GraphOps.assortativity(tri).collect().head.getLong(4) == 0L)
    // K4 minus one edge: r = -2/3, floored to -667 (negative floor
    // direction pinned)
    val k4m = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    assert(GraphOps.assortativity(k4m).collect().head.getLong(4) == -667L)
  }

  test("kCore: pendant peels, triangle survives as the 2-core") {
    val ss = spark; import ss.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.kCore(e, k = 2L, rounds = 3).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kCore: the peel cascades — fixed rounds pin the intermediate state") {
    val ss = spark; import ss.implicits._
    // path 1-2-3-4 under k=2: round 1 deletes the endpoints (deg 1),
    // which DROPS 2 and 3 to degree 1; round 2 deletes them too.
    // rounds=1 must report the non-converged intermediate exactly,
    // rounds=2 the empty fixpoint — the fixed-round contract both
    // engines replay
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r1 = GraphOps.kCore(e, k = 2L, rounds = 1).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r1 == Seq((2L, 1L), (3L, 1L)))
    assert(GraphOps.kCore(e, k = 2L, rounds = 2).isEmpty)
  }

  test("connectedComponents: hash-min labels disjoint chains by their min node") {
    val ss = spark; import ss.implicits._
    // two components: a chain a-b-c-d (diameter 3) and a pair x-y;
    // edge orientation and duplicates must not matter
    val e = Seq(("b", "a"), ("b", "c"), ("c", "d"), ("c", "d"), ("y", "x"))
      .toDF("src", "dst")
    val out = GraphOps.connectedComponents(e, rounds = 3).orderBy("node")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
      ("x", "x"), ("y", "x")))
    // under-provisioned rounds are DETERMINISTIC, just unconverged:
    // with 1 round, d only sees distance-1 ids (c < d)
    val r1 = GraphOps.connectedComponents(e, rounds = 1)
      .filter(col("node") === "d").collect().head.getString(1)
    assert(r1 == "c")
  }

  test("componentsStars: star contraction reaches the exact fixpoint on a long chain") {
    val ss = spark; import ss.implicits._
    // one chain 0-1-...-19 (diameter 19 — hash-min would need 19
    // rounds) plus a disjoint pair; stars must converge inside the
    // default 16-round budget and label every node by the component min
    val chain = (0L until 19L).map(i => (i, i + 1))
    val e = (chain :+ (100L, 101L)).toDF("src", "dst")
    val out = GraphOps.componentsStars(e).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (0L to 19L).map(i => (i, 0L)) ++ Seq((100L, 100L), (101L, 100L))
    assert(out.toSeq == expected)
  }

  test("componentsStars / harmonicCentrality / powerLawFit are partition-layout invariant") {
    val ss = spark; import ss.implicits._
    // mixed topology: two chains, a K4 clique, a pendant
    val e = ((0L until 9L).map(i => (i, i + 1)) ++
      (20L until 26L).map(i => (i, i + 2)) ++
      (for (i <- 40L to 43L; j <- (i + 1) to 43L) yield (i, j)) :+ (43L, 50L))
      .toDF("src", "dst")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    for (op <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      d => GraphOps.componentsStars(d),
      d => GraphOps.harmonicCentrality(d, radius = 3),
      d => GraphOps.powerLawFit(d, dMin = 2L),
      d => GraphOps.richClub(d, Seq(1L, 3L)))) {
      assert(sig(op(e.repartition(1))) == sig(op(e.repartition(13))),
        "result must not depend on the input layout")
    }
  }

  test("degreeHistogram: exact suffix-sum CCDF over the K4+pendants degrees") {
    val ss = spark; import ss.implicits._
    // degrees (4,4,3,3,1,1): P(D>=1)=1, P(D>=3)=4/6, P(D>=4)=2/6
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val e = (k4 ++ Seq((4L, 0L), (5L, 1L))).toDF("src", "dst")
    val got = GraphOps.degreeHistogram(e).orderBy("deg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1000000L), (3L, 2L, 666666L), (4L, 2L, 333333L)))
  }

  test("richClub: K4 core scores phi = 1, pendant spokes fall out as k rises") {
    val ss = spark; import ss.implicits._
    // K4 on 0..3 plus pendants 4-0 and 5-1: degrees (4,4,3,3,1,1).
    // k=2 keeps the K4 (6/6 edges -> phi 1); k=3 keeps {0,1} whose one
    // edge is present (phi 1); k=4 keeps nobody
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val e = (k4 ++ Seq((4L, 0L), (5L, 1L))).toDF("src", "dst")
    val got = GraphOps.richClub(e, Seq(0L, 2L, 3L, 4L)).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 6L, 8L, 533333L),  // whole graph: 2*8/(6*5)
      (2L, 4L, 6L, 1000000L),
      (3L, 2L, 1L, 1000000L),
      (4L, 0L, 0L, 0L)))
  }

  test("powerLawFit: micro-log MLE on a regular graph, tail filter, n-invariance") {
    val ss = spark; import ss.implicits._
    // cycle: every degree is exactly 2, so Σ_micro = n·(⌊1e6·ln4⌋ −
    // ⌊1e6·ln3⌋) = n·287682 and α_milli = 1000 + 1e9 div 287682 = 4476
    // for ANY n — the size-invariance a correct per-node quantization
    // must show
    def cycle(n: Int) = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    for (n <- Seq(6, 60)) {
      val got = GraphOps.powerLawFit(cycle(n).toDF("src", "dst"), dMin = 2L)
        .collect().head
      assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4)) ==
        ((n.toLong, 2L, 2L, n.toLong, 4476L)), s"n=$n got $got")
    }
    // star: leaves have degree 1 and fall OUT of the dMin=2 tail —
    // only the hub contributes
    val star = (1L to 9L).map(i => (0L, i)).toDF("src", "dst")
    val s = GraphOps.powerLawFit(star, dMin = 2L).collect().head
    assert(s.getLong(3) == 1L && s.getLong(2) == 9L, s"star tail: $s")
  }

  test("harmonicCentrality: chain distances priced at true minimum, radius-capped") {
    val ss = spark; import ss.implicits._
    // path 0-1-2-3-4, radius 3: H(0) = 1000/1 + 1000/2 + 1000/3 = 1833
    // over {1,2,3}; node 4 is unreachable within the cap from 0
    val e = (0L until 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = GraphOps.harmonicCentrality(e, radius = 3).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, 1833L, 3L), (1L, 2833L, 4L), (2L, 3000L, 4L),
      (3L, 2833L, 4L), (4L, 1833L, 3L)))
  }

  test("harmonicCentrality: a shortcut edge re-prices the pair at the SHORTER distance") {
    val ss = spark; import ss.implicits._
    // square 0-1-2-3-0: everyone has two d=1 neighbors and one d=2
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val got = GraphOps.harmonicCentrality(e, radius = 3).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == (0L to 3L).map(n => (n, 2500L, 3L)))
  }

  test("betweennessPivots: exact Brandes x 1e6 on the path and the diamond (all nodes as pivots)") {
    val ss = spark; import ss.implicits._
    // path 0-1-2-3 with every node a pivot: interior nodes sit on the
    // shortest paths of the 4 ordered endpoint-ish pairs crossing them
    // — exact Brandes bc(1) = bc(2) = 4.0, endpoints 0 (all sigma = 1,
    // so every integer division is exact)
    val path = (0L until 3L).map(i => (i, i + 1)).toDF("src", "dst")
    val gotP = GraphOps.betweennessPivots(path, radius = 3, pivots = 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gotP.toSeq == Seq((0L, 0L), (1L, 4000000L), (2L, 4000000L), (3L, 0L)),
      s"path got ${gotP.toSeq}")
    // diamond 0-1, 0-2, 1-3, 2-3 (the 4-cycle): EVERY node is interior
    // to exactly one of its opposite pair's two shortest paths — 0.5
    // per ordered pair, two orderings — exact Brandes bc = 1.0 for all
    // four; the sigma = 2 division is exact so the quantized value is
    // exact x 1e6
    val diamond = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val gotD = GraphOps.betweennessPivots(diamond, radius = 3, pivots = 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gotD.toSeq == (0L to 3L).map(n => (n, 1000000L)),
      s"diamond got ${gotD.toSeq}")
    // break the tie with a chord: 0-1, 0-2, 1-3, 2-3, 1-2 — now (0,3)
    // still splits over {1,2} but (1,2) is direct, so bc(0) = bc(3) = 0
    // while 1 and 2 keep the split: exact Brandes bc(1) = bc(2) = 1.0
    val chord = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val gotC = GraphOps.betweennessPivots(chord, radius = 3, pivots = 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gotC.toSeq == Seq((0L, 0L), (1L, 1000000L), (2L, 1000000L), (3L, 0L)),
      s"chord got ${gotC.toSeq}")
  }

  test("betweennessPivots: radius caps the credited pairs; pivot subset only sums its own sources; layout-invariant") {
    val ss = spark; import ss.implicits._
    // path 0-1-2-3-4: radius 2 from every pivot drops the d=3/d=4
    // pairs — node 2 keeps only (0,2-hop) crossings: from 0: delta(1)
    // counts pairs (0,1 excluded as endpoint... exact replay below)
    val path = (0L until 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val full = GraphOps.betweennessPivots(path, radius = 4, pivots = 5)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    // exact Brandes on the 5-path: bc(1) = bc(3) = 6, bc(2) = 8
    assert(full.toSeq == Seq((0L, 0L), (1L, 6000000L), (2L, 8000000L),
      (3L, 6000000L), (4L, 0L)), s"full got ${full.toSeq}")
    val capped = GraphOps.betweennessPivots(path, radius = 2, pivots = 5)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    // radius 2 keeps only length-2 pairs: each interior node carries
    // the two ordered pairs exactly one hop each side of it
    assert(capped.toSeq == Seq((0L, 0L), (1L, 2000000L), (2L, 2000000L),
      (3L, 2000000L), (4L, 0L)), s"capped got ${capped.toSeq}")
    // determinism: the estimate is a pure function of the corpus
    val a = GraphOps.betweennessPivots(path.repartition(1), radius = 3, pivots = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = GraphOps.betweennessPivots(path.repartition(7), radius = 3, pivots = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, s"pivot run must be layout-invariant: $a vs $b")
    // and a strict subset of the all-pivot run per node
    val fullMap = full.toMap
    a.foreach { case (n, v) => assert(v <= fullMap(n),
      s"pivot-subset bc($n) = $v exceeds the all-pivot value ${fullMap(n)}") }
  }

  test("hyperBallHarmonic: ball estimates track exact BFS balls; fixpoint past diameter; order matches exact harmonic") {
    val ss = spark; import ss.implicits._
    // path 0-1-2-3-4-5 with a chord 1-4: diameter 3 (0..5 = 0-1-4-5)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val e = edges.toDF("src", "dst")
    // exact BFS balls
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, r: Int): Set[Long] = {
      var seen = Set(v); var frontier = Set(v)
      for (_ <- 1 to r) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      seen
    }
    val got3 = GraphOps.hyperBallHarmonic(e, rounds = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (v <- 0L to 5L) {
      val exact = ball(v, 3).size
      val est = got3(v)._1 / 1000.0
      // tiny balls sit in the linear-counting regime: est ~ present
      // registers, so ±12% covers both register collisions and the
      // ln(m/(m-v)) curvature
      assert(math.abs(est - exact) <= exact * 0.12,
        s"node $v ball est $est vs exact $exact")
    }
    // fixpoint: past the diameter the registers stop changing, so extra
    // rounds add zero deltas — output identical
    val got4 = GraphOps.hyperBallHarmonic(e, rounds = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got6 = GraphOps.hyperBallHarmonic(e, rounds = 6).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got4 == got6, "ball/harmonic changed past the diameter fixpoint")
    // harmonic ORDER matches the exact full-radius harmonic ranking
    // (ties allowed): 1 and 4 are the two centers
    def exactHarmonicMicro(v: Long): Double = {
      var seen = Set(v); var frontier = Set(v); var h = 0.0; var d = 1
      while (frontier.nonEmpty && d <= 6) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
        h += frontier.size * 1e6 / d
        d += 1
      }
      h
    }
    val hbTop = got6.toSeq.sortBy { case (n, (_, h)) => (-h, n) }.map(_._1).take(2).toSet
    val exTop = (0L to 5L).sortBy(v => (-exactHarmonicMicro(v), v)).take(2).toSet
    assert(hbTop == exTop, s"HyperBall top-2 $hbTop vs exact $exTop")
    // estimates within 12% of exact harmonic too (same regime argument)
    for (v <- 0L to 5L) {
      val ex = exactHarmonicMicro(v)
      assert(math.abs(got6(v)._2 - ex) <= ex * 0.12,
        s"node $v harmonic ${got6(v)._2} vs exact $ex")
    }
  }

  test("hyperBallNeighborhood: N(t) monotone, saturates at the diameter, ge90 marks effective diameter") {
    val ss = spark; import ss.implicits._
    // path 0-1-2-3-4-5 + chord 1-4 (diameter 3, same graph as the
    // harmonic spec): N(t) grows until t=3 then freezes
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val got = GraphOps.hyperBallNeighborhood(e, rounds = 5).orderBy("t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.length == 6)
    // monotone nondecreasing mass; rounds past the diameter identical
    for (i <- 1 until got.length)
      assert(got(i)._2 >= got(i - 1)._2, s"N(t) not monotone at $i: $got")
    assert(got(3)._2 == got(4)._2 && got(4)._2 == got(5)._2,
      s"N(t) must freeze at the diameter: $got")
    // final frac is exactly 1e6; t=0 (6 singleton balls of 36 pairs
    // total possible) is well under 90%
    assert(got.last._3 == 1000000L && got.last._4)
    assert(!got(0)._4, s"t=0 cannot carry 90% of the mass: $got")
    // effective diameter on this graph: the first ge90 row is t=2 or 3
    // (exact balls: N(2)=26 of N(3)=30 pairs = 86.7% -> first ge90 is 3
    // modulo HLL wobble; pin it is <= 3 and >= 2)
    val firstGe90 = got.find(_._4).get._1
    assert(firstGe90 >= 2L && firstGe90 <= 3L, s"effective diameter $firstGe90: $got")
  }

  test("kTruss: K4 survives k=4, weak triangle survives only k=3, shared-edge pair cascades to empty") {
    val ss = spark; import ss.implicits._
    // K4 on 1-4, pendant 4-5, lone triangle 5-6-7
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L)).toDF("src", "dst")
    val t4 = GraphOps.kTruss(g, k = 4, rounds = 2).orderBy("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // only K4 remains; every K4 edge sits in 2 triangles of K4
    assert(t4 == Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)), s"got $t4")
    // k=3 keeps both triangle communities, drops only the pendant
    val t3 = GraphOps.kTruss(g, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3 == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (6L, 7L)), s"got $t3")
    // peeling CASCADE: two triangles sharing edge (2,3) — at k=4 the
    // shared edge alone survives round 1 (support 2) but its triangles
    // died with the others, so round 2 clears it
    val pair = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val r1 = GraphOps.kTruss(pair, k = 4, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(r1 == Seq((2L, 3L, 0L)), s"round 1 must keep only the shared edge at support 0: $r1")
    assert(GraphOps.kTruss(pair, k = 4, rounds = 2).count() == 0L)
  }

  test("hyperBallHarmonicDirected: estimates equal HLL over exact directed BFS balls; harmonic folds them; out/in asymmetric") {
    val ss = spark; import ss.implicits._
    // branched chain 0→1→2→3 with 1→4 and 5→1: real sinks (3, 4), a
    // real source (5), asymmetric reach everywhere
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L), (5L, 1L))
    val e = edges.toDF("src", "dst")
    val rounds = 3
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
    val fwd = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def ballAt(n: Long, r: Int): Set[Long] = {
      var b = Set(n)
      for (_ <- 1 to r) b = b ++ b.flatMap(fwd.getOrElse(_, Set.empty[Long]))
      b
    }
    // the register-level identity: the HLL state of B_out(v, t) IS the
    // max-merge of its members' seed registers, so the recurrence's
    // estimate must equal the estimate over the EXACT BFS ball — not
    // approximately, bit for bit
    def estAt(r: Int): Map[Long, Long] = {
      val pairs = nodes.flatMap(n => ballAt(n, r).map(m => (n, m))).toDF("node", "_v")
      SketchOps.hllFromRegisters(
          SketchOps.hllRegisters(pairs, Seq("node"), "_v", 8), Seq("node"), 8)
        .select("node", "est_milli")
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    }
    val got = GraphOps.hyperBallHarmonicDirected(e, rounds, direction = "out")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ests = (0 to rounds).map(estAt)
    nodes.foreach { n =>
      assert(got(n)._1 == ests(rounds)(n),
        s"node $n ball ${got(n)._1} != exact-BFS register estimate ${ests(rounds)(n)}")
      // harmonic = the clamped delta fold over the same exact estimates
      val h = (1 to rounds).map(t =>
        math.max(ests(t)(n) - ests(t - 1)(n), 0L) * 1000L / t).sum
      assert(got(n)._2 == h, s"node $n harmonic ${got(n)._2} != exact fold $h")
    }
    // asymmetry: the chain head reaches 5 nodes but only itself reaches
    // it; sink 3 is reached by 4 nodes but reaches only itself
    val gin = GraphOps.hyperBallHarmonicDirected(e, rounds, direction = "in")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L)._1 > gin(0L), s"source 0: out ${got(0L)._1} !> in ${gin(0L)}")
    assert(gin(3L) > got(3L)._1, s"sink 3: in ${gin(3L)} !> out ${got(3L)._1}")
    // the directed PROFILE rides the identical registers: its ball
    // equals the harmonic frame's, its Σ t·Δ folds the same exact
    // per-round estimates, and its median is the first t holding half
    // the final mass
    val prof = GraphOps.hyperBallProfileDirected(e, rounds, direction = "out")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    nodes.foreach { n =>
      val (ball, tMed, sumDist) = prof(n)
      assert(ball == got(n)._1, s"node $n profile ball $ball != harmonic ${got(n)._1}")
      val sd = (1 to rounds).map(t => math.max(ests(t)(n) - ests(t - 1)(n), 0L) * t).sum
      assert(sumDist == sd, s"node $n sum_dist $sumDist != exact fold $sd")
      val med = (0 to rounds).find(t => ests(t)(n) * 2 >= ests(rounds)(n)).get
      assert(tMed == med, s"node $n t_median $tMed != $med")
    }
  }

  test("hyperBallLin: agrees with profile state; reach beats the island where classic closeness inverts; isolated = 1") {
    val ss = spark; import ss.implicits._
    // a 6-node path (center reaches everything, far) + a 2-node island
    // (tiny Σd): classic closeness 1/Σd ranks the island's nodes ABOVE
    // the path center; Lin's |B|²/Σd must rank the center higher
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L)).toDF("src", "dst")
    val rounds = 6
    val lin = GraphOps.hyperBallLin(e, rounds).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val prof = GraphOps.hyperBallProfile(e, rounds).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    // the lin frame IS the profile state plus the index arithmetic
    lin.foreach { case (n, (ball, sd, lm)) =>
      assert((ball, sd) == prof(n), s"node $n state diverges from profile")
      val expect = if (sd > 0) ball * ball / sd else 1000L
      assert(lm == expect, s"node $n lin $lm != $expect")
    }
    // island node: ball 2, Σd = 1 -> classic closeness 1/1; path center
    // (node 2): ball 6, Σd = 1+1+2+2+3 = 9 -> classic 1/9 LOSES to the
    // island, Lin 36/9 = 4 beats the island's 4/1... tie — node 3:
    // Σd = 1+1+2+2+3 = 9 too. Compare center vs island on lin_milli:
    // both 4000 on EXACT balls — HLL wobble aside, assert center >= island
    // minus nothing and classic inversion via the raw state instead:
    val (ballC, sdC, linC) = lin(2L)
    val (ballI, sdI, linI) = lin(10L)
    assert(sdI < sdC, "classic closeness 1/sd would rank the island first")
    assert(linC >= linI, s"Lin must not invert: center $linC vs island $linI")
    assert(ballC > ballI, "the center genuinely reaches more")
    // directed composition: on a directed chain 20→21→22, the head's
    // OUT Lin sees the whole chain while its IN Lin is the isolated
    // convention (nothing reaches it) — and vice versa for the tail
    val de = Seq((20L, 21L), (21L, 22L)).toDF("src", "dst")
    def linMap(dir: String) =
      GraphOps.hyperBallLinDirected(de, rounds = 4, direction = dir)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val lo = linMap("out"); val li = linMap("in")
    assert(li(20L) == 1000L && lo(22L) == 1000L,
      s"unreached ends take the defined value 1: in-head ${li(20L)}, out-tail ${lo(22L)}")
    assert(lo(20L) > 1000L && li(22L) > 1000L,
      s"reaching ends score above it: out-head ${lo(20L)}, in-tail ${li(22L)}")
  }

  test("kTruss: decremented support equals a fresh enumeration on the final subgraph; early stop ≡ excess rounds") {
    val ss = spark; import ss.implicits._
    // deterministic hash graph: ~50 nodes, dense enough for real
    // multi-round peeling cascades
    val hash = (0 until 300)
      .map(i => (((i * i + 1) % 50).toLong, ((i * i * i + 2) % 50).toLong))
      .filter(p => p._1 != p._2)
    // K6 anchor on 100-105 (edge support 4 inside it) so a non-empty
    // truss survives next to the hash graph's peeling cascades
    val k6 = for (a <- 100 to 105; b <- (a + 1) to 105) yield (a.toLong, b.toLong)
    val raw = (hash ++ k6).toDF("src", "dst")
    def set(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = set(GraphOps.kTruss(raw, k = 4, rounds = 8))
    assert(got.nonEmpty, "fixture must leave a non-empty 4-truss")
    // THE invariant the decrement refinement must hold: the maintained
    // count equals a fresh degree-oriented enumeration on the final
    // edge set, edge for edge
    val fin = got.toSeq.map(e => (e._1, e._2)).toDF("a", "b")
    val recount = set(fin.join(GraphOps.trussSupport(fin), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        org.apache.spark.sql.functions.coalesce(col("support"),
          org.apache.spark.sql.functions.lit(0L)).as("support")))
    assert(got == recount, s"maintained supports diverge from recompute: " +
      s"only-maintained ${got -- recount}, only-recount ${recount -- got}")
    // convergence: every survivor at k=4 holds >= 2 triangles, so the
    // fixpoint was reached and excess rounds are exact no-ops
    assert(got.forall(_._3 >= 2L), s"unconverged rows in $got")
    assert(set(GraphOps.kTruss(raw, k = 4, rounds = 6)) == got,
      "early stop must make excess rounds free AND identical")
  }

  test("hyperBallProfile: ball matches hyperBallHarmonic exactly; median t ordered center-out; sum-dist tracks exact") {
    val ss = spark; import ss.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val e = edges.toDF("src", "dst")
    val prof = GraphOps.hyperBallProfile(e, rounds = 6).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the ball estimate is the SAME state hyperBallHarmonic reads
    val harm = GraphOps.hyperBallHarmonic(e, rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (v <- 0L to 5L)
      assert(prof(v)._1 == harm(v), s"ball mismatch at $v: ${prof(v)._1} vs ${harm(v)}")
    // median distance: centers (1, 4) reach half their world no later
    // than the endpoints (0, 5); all medians within [1, diameter]
    for (v <- 0L to 5L) assert(prof(v)._2 >= 1L && prof(v)._2 <= 3L, s"t_median($v)=${prof(v)._2}")
    assert(prof(1L)._2 <= prof(0L)._2 && prof(4L)._2 <= prof(5L)._2,
      s"centers must not be farther than endpoints: $prof")
    // sum of distances within the HLL band of the exact value
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def sumDist(v: Long): Long = {
      var seen = Set(v); var frontier = Set(v); var s = 0L; var d = 1
      while (frontier.nonEmpty && d <= 6) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
        s += frontier.size.toLong * d
        d += 1
      }
      s
    }
    for (v <- 0L to 5L) {
      val ex = sumDist(v) * 1000.0
      assert(math.abs(prof(v)._3 - ex) <= ex * 0.12,
        s"sum_dist($v)=${prof(v)._3} vs exact $ex")
    }
  }

  test("componentsStars agrees with converged hash-min and is orientation/dup-proof") {
    val ss = spark; import ss.implicits._
    val e = Seq(("b", "a"), ("b", "c"), ("c", "d"), ("c", "d"), ("y", "x"), ("x", "y"))
      .toDF("src", "dst")
    val stars = GraphOps.componentsStars(e).orderBy("node")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val hashmin = GraphOps.connectedComponents(e, rounds = 4).orderBy("node")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(stars == hashmin)
  }
}
