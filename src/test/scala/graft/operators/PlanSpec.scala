package graft.operators

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.SparkEntry

/**
 * Physical-plan assertions for the headline queries: the properties
 * that make these plans survive a 100x scale-up — broadcast joins where
 * a side is small, predicate pushdown into the parquet scan, partition
 * pruning on the storage layout, and no cartesian products anywhere in
 * the dedup/ANN family.
 */
class PlanSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q2_join_agg broadcasts the small dimension sides") {
    val plan = planOf("q2_join_agg")
    assert(plan.contains("BroadcastHashJoin"), "customer/nation must broadcast")
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val plan = planOf("q1_agg")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filter must reach the scan:\n${plan.take(400)}")
  }

  test("scans prune columns to the projection (ReadSchema)") {
    val df = SparkEntry.queries("q4_sort_limit")(spark, sfDir)
    val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // 3-column projection over the 16-column lineitem table
    val read = scans.head.schema.fieldNames.toSet
    assert(read == Set("l_orderkey", "l_linenumber", "l_extendedprice"),
      s"scan must read only projected columns, got $read")
  }

  test("dedup/ANN family plans contain no cartesian products") {
    for (q <- Seq("d_dedup_minhash", "d_dedup_simhash", "d_dedup_jaccard",
        "d_dedup_neardup", "s_ann_lsh", "d_decontaminate",
        "d_dedup_lines", "d_dedup_semantic", "s_ann_ivf_trained")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q must not cross join")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q must not nested-loop join")
    }
  }

  test("jaccard reuses the co-shingle exchange for sizes and intersections") {
    // the grouped-pairs plan's claim: both downstream aggregates read the
    // same groupBy(sh) shuffle output, not two scans of the corpus. With
    // AQE on, reuse is a runtime stage decision invisible in the plan
    // string, so assert on the static plan with AQE off.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf("d_dedup_jaccard")
      assert(plan.contains("ReusedExchange"),
        s"sizes + intersections must share one co-shingle exchange:\n${plan.take(800)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ANN candidate shuffles carry no array-typed keys") {
    // lshTopK/ivfTopK/cosineNearDuplicates candidates must travel as
    // 8-byte id pairs: vectors join back only AFTER the distinct. An
    // array-typed join/distinct/exchange key means a 64-dim vector is
    // being dragged through the candidate shuffle — the wrong shape at
    // scale even when sf0.01 timings look fine.
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.types.ArrayType
    for (q <- Seq("s_ann_lsh", "s_ann_ivf", "d_dedup_cosine",
        "d_dedup_semantic", "s_ann_ivf_trained")) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      def noArray(what: String, exprs: Seq[Expression]): Unit =
        assert(!exprs.exists(_.dataType.isInstanceOf[ArrayType]),
          s"$q: $what keys must not be array-typed: $exprs")
      plan.foreach {
        case j: SortMergeJoinExec    => noArray("SMJ", j.leftKeys ++ j.rightKeys)
        case j: ShuffledHashJoinExec => noArray("SHJ", j.leftKeys ++ j.rightKeys)
        case j: BroadcastHashJoinExec => noArray("BHJ", j.leftKeys ++ j.rightKeys)
        case a: HashAggregateExec    => noArray("agg", a.groupingExpressions)
        case a: ObjectHashAggregateExec => noArray("agg", a.groupingExpressions)
        case a: SortAggregateExec    => noArray("agg", a.groupingExpressions)
        case e: ShuffleExchangeExec =>
          val parts = e.outputPartitioning match {
            case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h.expressions
            case _ => Nil
          }
          noArray("exchange", parts)
        case _ => ()
      }
    }
  }

  test("projection kernels never re-evaluate inside a Filter") {
    // a null filter placed on a projected kernel column gets pushed
    // below the projection and re-evaluates the kernel per row — a
    // measured +70% on the minhash query. Kernels must appear in
    // Project operators only, never in a Filter condition.
    import org.apache.spark.sql.execution.FilterExec
    for ((q, kernel) <- Seq(
        ("d_dedup_minhash", "minhashsigexpr"),
        ("d_dedup_simhash", "simhash60expr"),
        ("d_dedup_jaccard", "shinglehashesexpr"))) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      plan.foreach {
        case f: FilterExec =>
          assert(!f.condition.toString.toLowerCase.contains(kernel),
            s"$q: '$kernel' re-evaluated inside a Filter: ${f.condition}")
        case _ => ()
      }
    }
  }

  test("sampling family plans have the right shuffle shapes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(name: String): Int =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.length
    // bernoulli sampling is a pure filter: the only exchange is the
    // final orderBy's range partitioning, nothing key-hashed
    val sample = SparkEntry.queries("p_sample")(spark, sfDir).queryExecution.executedPlan
    val hashEx = sample.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.isEmpty, "p_sample must not hash-shuffle — it is a pure filter")
    // stratified + mixture: exactly one hash shuffle (the stratum/domain
    // window), plus the final sort's range exchange
    assert(shuffles("p_sample_stratified") <= 2, "stratified: one window shuffle + output sort")
    assert(shuffles("p_mixture") <= 2, "mixture: one window shuffle + output sort")
    // split assignment is a pure projection: like p_sample, the only
    // exchange allowed is the final orderBy's range partitioning —
    // membership-by-id-hash must never shuffle the corpus
    val split = SparkEntry.queries("p_split")(spark, sfDir).queryExecution.executedPlan
    val splitHashEx = split.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(splitHashEx.isEmpty, "p_split must not hash-shuffle — it is a pure projection")
  }

  test("domainCap pushes the group limit below the exchange and prunes text") {
    val plan = planOf("p_domain_cap")
    // WindowGroupLimit must appear on BOTH sides of the domain exchange:
    // the map side forwards at most cap rows per domain it sees, so a
    // mega-domain never materializes its full list on one reducer
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2,
      s"domain cap needs map-side + reduce-side group limits:\n${plan.take(600)}")
    assert(!plan.contains("text"), "cap ranks on (id, domain) only — text must prune")
  }

  test("series overlay plans: one hash shuffle for the window family") {
    // derivative/integral/stddev are single-window plans: exactly one
    // hash exchange (the per-path window), plus the output sort's range
    // partitioning — a second hash shuffle would mean the plan re-keyed
    // point-count-sized data it already had in place. Counted on the
    // plan string: under AQE the tree hides below AdaptiveSparkPlanExec
    for (q <- Seq("g_derivative", "g_nn_derivative", "g_integral", "g_moving_stddev")) {
      val plan = planOf(q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashEx == 1, s"$q: one per-path window shuffle, got $hashEx:\n${plan.take(600)}")
    }
  }

  test("media family plans are single-pass: no hash shuffle around the decoders") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every media query is scan -> (planted blob) -> mapPartitions
    // decode -> output sort: per-blob decode is a projection, so the
    // only exchange allowed is the final orderBy's range partitioning —
    // a hash shuffle here would mean the decoder moved data it didn't
    // need to (the thing that would hurt most at 100 TB of blobs)
    for (q <- Seq("m_media_decode", "m_media_pixels", "m_media_pixels_jpeg",
                  "m_media_pixels_gif", "m_media_samples", "m_media_video")) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      val hashEx = plan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(hashEx.isEmpty, s"$q must not hash-shuffle — decode is per-blob")
    }
  }

  test("points storage layout prunes monthly partitions") {
    val work = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val ss = spark; import ss.implicits._
    val pts = (0 until 6).flatMap { m =>
      Seq((s"prune.metric.a", 1.0, 1609459200L + m * 2678400L, java.sql.Date.valueOf(f"2021-${m + 1}%02d-01"), 0L))
    }.toDF("path", "value", "time", "date", "timestamp")
    GraphiteOps.writePointsTable(pts, s"$work/points")

    val filtered = spark.read.parquet(s"$work/points").filter(col("month") === "202103")
    val scan = filtered.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }.head
    assert(scan.selectedPartitions.partitionCount == 1,
      "month filter must prune to a single partition")
  }

  test("global top-k plans as TakeOrderedAndProject, never a full sort") {
    // orderBy(...).limit(k) must become the per-partition-heap +
    // driver-merge operator; a global Sort before a Limit would
    // shuffle the corpus to sort it — the difference between O(n)
    // and a full exchange at 100 TB
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = docs.orderBy(col("n_chars").desc, col("doc_id"))
      .limit(10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("prefix join: the candidate exchange carries no text; Q5 star broadcasts every dim") {
    // prefixJaccardPairs: text may only travel to the verify side —
    // the candidate-generation exchanges move (id, token, size) rows.
    // The executed plan's Exchange nodes must not reference the text
    // column (it appears only below the shingle kernels feeding the
    // per-doc sort and the candidate-restricted verify).
    // r8 shape: the candidate set and the per-doc token arrays are
    // built eagerly (localCheckpoint) during query construction, so
    // the returned frame is pure verify — it must read ONLY the
    // pinned RDDs (never re-scan the corpus: text would re-enter) and
    // any exchange it does plan must be text-free
    val plan = planOf("d_dedup_prefix")
    assert(plan.contains("Scan ExistingRDD"),
      s"verify must read the checkpointed arrays:\n${plan.take(800)}")
    assert(!plan.contains("FileScan parquet"),
      s"verify must not re-scan the corpus:\n${plan.take(800)}")
    val exchanges = plan.split("\\n").filter(_.contains("Exchange"))
    assert(!exchanges.exists(_.contains("text#")),
      s"verify shuffle drags text:\n${exchanges.mkString("\n")}")
    // q34: six-table star — all five non-fact sides broadcast, and the
    // one shuffle left is the final aggregation, not a join
    val q5 = planOf("q34_local_supplier")
    assert(q5.split("BroadcastHashJoin").length - 1 >= 4, s"Q5 dims must broadcast:\n${q5.take(800)}")
    assert(!q5.contains("SortMergeJoin"), "no shuffled join in the star")
  }

  test("runtime bloom filter: a selective dim filter prunes the fact scan pre-shuffle") {
    // the 100 TB shape: a selective dimension predicate should reach
    // the fact side as an injected bloom semi-filter BEFORE the
    // shuffle, not only as the join itself. The size thresholds are
    // lowered because local test parquet is below the 10 GB default —
    // the assertion is that the OPTIMIZER injects the filter for this
    // plan shape at all.
    val conf = spark.conf
    val old = conf.getOption("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val oldB = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val pt = spark.read.parquet(s"$sfDir/part.parquet").filter(col("p_size") < 10)
      val plan = li.join(pt, li("l_partkey") === pt("p_partkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom filter:\n${plan.take(1500)}")
    } finally {
      old.fold(conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))(
        conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", _))
      oldB.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("marginAlign never force-broadcasts the per-id neighborhood aggregates") {
    // fwdMean/bwdMean carry ONE ROW PER SOURCE/TARGET VECTOR — corpus-
    // sized, not model-sized — so a broadcast() hint on them would ship
    // the whole corpus's neighborhood means to every executor and OOM at
    // mining scale. With the auto-broadcast threshold disabled, the ONLY
    // way those joins can plan as broadcast is a hint; assert none does,
    // on both the exact path and a corpus-scale ANN path.
    val conf = spark.conf
    val oldB = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      def side(l: Int) = e.filter(col("label") === l)
        .select(col("vec_id").as("id"), col("embedding"))
      for (strategy <- Seq("exact", "lsh")) {
        // sparkPlan (pre-AQE) so join nodes are directly collectable
        val plan = SimilarityOps
          .marginAlign(side(0), side(1), k = 4, minMarginPpm = 0L, strategy = strategy)
          .queryExecution.sparkPlan
        // non-vacuity: the exact path's INTENDED hint (bruteForceTopK
        // broadcasts the query-side projection into the non-equi cosine
        // join) must be visible to the same collect the assertion uses
        if (strategy == "exact")
          assert(plan.collect {
            case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
          }.nonEmpty, "expected the hinted query-side broadcast in the exact plan")
        // the per-id aggregate joins are equi-joins on src_id/tgt_id, so
        // a (wrong) broadcast hint on them would plan as BroadcastHashJoin
        val offending = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if (j.left.output ++ j.right.output)
              .exists(a => a.name == "fsum" || a.name == "bsum") => j
        }
        assert(offending.isEmpty,
          s"$strategy: per-id aggregate join must shuffle, not broadcast:\n" +
            offending.map(_.toString.take(300)).mkString("\n"))
      }
    } finally {
      oldB.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("triangles: oriented edges build once; wedge plan joins only the pinned frame") {
    // Spark does NOT reuse the oriented-edge exchange across the three
    // self-join consumers (measured: 0 ReusedExchange, 25 Exchanges
    // without the pin — self-join aliasing defeats canonicalization),
    // so triangleCore localCheckpoints the oriented frame. The final
    // plan must read the pinned RDD for e1/e2/e3 and never re-scan the
    // source table inside the triangle core: at 100 TB re-deriving the
    // distinct + two degree joins three times IS the bottleneck.
    val plan = planOf("q22_triangles")
    val rddScans = plan.split("\\n").count(_.contains("Scan ExistingRDD"))
    assert(rddScans >= 3, s"expected e1/e2/e3 to read the checkpointed oriented frame:\n${plan.take(1200)}")
    assert(!plan.contains("FileScan parquet"),
      s"triangle core must not rebuild from the source scan:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "wedge joins must stay equi joins")
  }

  // ---- round-12 plan shapes ----

  test("s_triplets: the positive side joins as a broadcast EQUI join on the label") {
    // the anchor set is small (broadcast); the same-label filter is an
    // equi key, so the positive probe must be a BroadcastHashJoin —
    // only the label-free negative side may be the nested-loop probe
    val plan = planOf("s_triplets")
    assert(plan.contains("BroadcastHashJoin"),
      s"positive probe must hash-join on the label key:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct"), "no unhinted cartesian")
  }

  test("g_holt_winters folds in ONE aggregate pair — no per-point shuffle") {
    // collect_list partial+final plus the projection fold: exactly one
    // exchange before the ordering; a window- or join-based rewrite
    // would multiply event-sized shuffles
    val plan = planOf("g_holt_winters")
    val exchanges = plan.split("\\n").count(_.contains("Exchange"))
    assert(exchanges <= 3, s"expected agg + order exchanges only, got $exchanges:\n${plan.take(900)}")
    assert(plan.contains("ObjectHashAggregate"), "collect_list must object-hash aggregate")
  }

  test("m_media_pixels_tga decodes in a single scan + mapPartitions (no shuffle before the sort)") {
    val plan = planOf("m_media_pixels_tga")
    assert(plan.contains("MapPartitions"), "batched decode stage missing")
    val preSort = plan.split("Sort").head
    assert(!preSort.contains("Exchange"),
      s"decode must not shuffle blobs:\n${plan.take(700)}")
  }

  test("q43_components serves from the checkpointed labels, never re-deriving rounds") {
    // each round localCheckpoints, so the SERVED plan is just
    // sort-over-pinned-RDD — re-running the query must not rebuild the
    // unrolled join lineage from the parquet source
    val plan = planOf("q43_components")
    assert(plan.contains("Scan ExistingRDD"),
      s"must read the pinned comp frame:\n${plan.take(600)}")
    assert(!plan.contains("FileScan parquet") && !plan.contains("Scan parquet"),
      s"served plan must not re-derive from the source:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "hash-min propagation must stay an equi join")
  }

  test("d_dedup_url: extraction+canonicalization stay in one scan before the aggregate") {
    val plan = planOf("d_dedup_url")
    // one parquet scan, one (partial, final) aggregate exchange, one sort
    assert(plan.split("\\n").count(_.contains("FileScan parquet")) +
      plan.split("\\n").count(_.contains("Scan parquet")) <= 2,
      s"must not rescan documents:\n${plan.take(600)}")
    assert(plan.contains("HashAggregate"), "canonical grouping must hash-aggregate")
  }

  test("s_mips_ivf: the only nested-loop is the ONE-ROW norm broadcast; candidates equi-join") {
    val plan = planOf("s_mips_ivf")
    // the m2 scalar rides a BroadcastNestedLoopJoin by design (one row);
    // the cell candidate join and both vector fan-backs must be equi
    val bnlj = plan.split("\\n").count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the one-row norm cross is allowed, got $bnlj:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct"), "no unhinted cartesian")
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k must push the group limit below the final sort")
  }

  test("q46_components_stars serves from the converged pinned frame, no source re-derivation") {
    val plan = planOf("q46_components_stars")
    assert(plan.contains("Scan ExistingRDD"),
      s"must read the checkpointed fixpoint edges:\n${plan.take(600)}")
    assert(!plan.contains("FileScan parquet") && !plan.contains("Scan parquet"),
      s"served plan must not re-derive contraction rounds:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "star contraction is equi joins only")
  }

  test("t_kn_score: the pinned bigram frame stops the per-statistic corpus re-scan") {
    // all three KN statistics re-aggregate ONE checkpointed bigram
    // frame; only the instance side and the doc_id spine still read
    // parquet (the un-pinned plan scanned documents 5x)
    val plan = planOf("t_kn_score")
    val scans = plan.split("\\n").count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans <= 3, s"documents re-scanned $scans times:\n${plan.take(800)}")
    assert(plan.contains("Scan ExistingRDD"), "bigram frame must be pinned")
  }

  test("m_media_pixels_qoi decodes in a single scan + mapPartitions (no shuffle before the sort)") {
    val plan = planOf("m_media_pixels_qoi")
    assert(plan.contains("MapPartitions"), "batched decode stage missing")
    val preSort = plan.split("Sort").head
    assert(!preSort.contains("Exchange"),
      s"decode must not shuffle blobs:\n${plan.take(700)}")
  }

  // ---- round-13 pins ----

  test("d_dedup_cdc: chunking rides ONE documents scan into the fp aggregate (the fused-kernel shape)") {
    val plan = planOf("d_dedup_cdc")
    // scans: the chunk-instance scan + the doc_id spine for the left
    // join — the 582 s column formulation ALSO held to 2 scans, so the
    // kernel pin is the absence of per-position higher-order exprs
    val scans = plan.split("\\n").count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans <= 3, s"documents re-scanned $scans times:\n${plan.take(700)}")
    assert(plan.contains("cdcchunksexpr") || plan.contains("CdcChunks"),
      s"chunking must be the fused kernel, not transform/filter lambdas:\n${plan.take(700)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "CDC has no pair join anywhere")
  }

  test("q52_hyperball serves from pinned register state — no parquet at serve time, equi joins only") {
    val plan = planOf("q52_hyperball")
    assert(plan.contains("Scan ExistingRDD"),
      s"must read the checkpointed fold state:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct"),
      "register merge and the fold join are equi joins")
  }

  test("q54_ktruss: the final support join is equi; no cartesian in any peel round") {
    val plan = planOf("q54_ktruss")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge/closing/peel joins must all be equi:\n${plan.take(800)}")
    assert(plan.contains("Scan ExistingRDD"), "peeled edge set must be pinned")
  }

  test("s_ann_lsh_qd: corpus keeps single bucket placement; candidates are id-only through the distinct") {
    val plan = planOf("s_ann_lsh_qd")
    assert(!plan.contains("CartesianProduct"), "band join is an equi join")
    // the probe fan-out must ride the QUERY side: the corpus banding
    // subtree contains no posexplode (only the qd probe side does)
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k must push the group limit below the final sort")
  }

  test("p_fps_diverse serves the chosen set as a local result — corpus never re-scans at serve") {
    val plan = planOf("p_fps_diverse")
    assert(!plan.contains("FileScan parquet") && !plan.contains("Scan parquet"),
      s"the k chosen rows are driver-local; serving must not touch the corpus:\n${plan.take(600)}")
  }
}
