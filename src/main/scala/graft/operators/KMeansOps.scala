package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic spherical k-means over embedding columns, and the two
 * operators a training-data pipeline builds on it: SemDeDup-style
 * semantic deduplication (cluster, then exact-verify within clusters)
 * and IVF ANN with a TRAINED codebook (vs [[SimilarityOps.ivfTopK]]'s
 * fixed md5 codebook — training adapts the cells to the corpus, which
 * is what makes nprobe/ncells recall hold on real embedding
 * distributions).
 *
 * Everything here is reproducible across engines, which is what lets
 * the DuckDB oracles replay the full TRAINING loop, not just the final
 * assignment:
 *
 *  - init centroids are md5-derived ("kmeans:c:d", same generator as
 *    [[SimilarityOps.lshPlanes]]);
 *  - assignment is argmax cosine with the cell index as tiebreak, an
 *    ordered left-to-right fold like every other vector kernel in this
 *    package;
 *  - centroid means are EXACT: components quantize to integers
 *    (floor(x*1e7 + 0.5)) and sum as longs, so the mean is independent
 *    of partition order — a plain double `avg` would differ between
 *    engines (and between Spark runs!) in the last ulps because
 *    floating-point addition isn't associative, and a near-boundary
 *    vector would then flip cells. The quantization (1e-7, below
 *    float32's own granularity near 1.0) costs nothing in cluster
 *    quality and buys bit-identical training everywhere.
 *
 * Scale shape: one pass per Lloyd round — assignment is a pure
 * projection against broadcast centroids (no join, no shuffle), the
 * mean update is a single groupBy(cell, dim) over posexploded
 * components (map-side partial sums; k*dim result rows). Centroids
 * (k x dim doubles) are a model artifact and live on the driver, like
 * any trained model parameter.
 */
object KMeansOps {

  /** First 8 md5 hex chars of `s` as an unsigned 32-bit value. */
  private def md5Head32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  /** Deterministic init codebook: component d of centroid c in [-1, 1). */
  def initCentroids(k: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(k, dim) { (c, d) =>
      md5Head32(s"kmeans:$c:$d").toDouble / (1L << 31) - 1.0
    }

  /**
   * Rank all cells for a vector by cosine (desc, cell index asc) and
   * return the top `n` — n=1 is the Lloyd assignment, n=nprobe is the
   * IVF probe list. The fold order (dims left-to-right, double
   * accumulators) is the contract the oracles replay.
   */
  /** [[cellsUdf]] for the IVF cell lookups in [[PqOps]]; its plan A/B
    * is EVIDENCE.md, "Measured plan fixes" (round 5). */
  private[graft] def cellsUdfPublic(centroids: Array[Array[Double]], n: Int) =
    cellsUdf(centroids, n)

  // The codebook is captured by CLOSURE, not an explicit broadcast: a
  // k x dim model is kilobytes, rides the task binary (which Spark
  // torrent-broadcasts and garbage-collects per stage), and leaves no
  // per-invocation Broadcast handle to leak in long-lived sessions —
  // the earlier sparkContext.broadcast-per-call version leaked one
  // block per Lloyd round. A genuinely large codebook (say 64k cells
  // x 1k dims) belongs in a caller-managed broadcast with an explicit
  // destroy; none of the operators here go there.
  private def cellsUdf(centroids: Array[Array[Double]], n: Int) = {
    udf { (v: Seq[Float]) =>
      val cs = centroids
      val sims = cs.indices.map { ci =>
        val c = cs(ci)
        var dot = 0.0; var nc = 0.0; var nv = 0.0
        var d = 0
        val len = math.min(c.length, v.length)
        while (d < len) { dot += c(d) * v(d); nc += c(d) * c(d); nv += v(d).toDouble * v(d); d += 1 }
        // zero-norm guard: an all-zero vector has no cosine to any cell;
        // -MaxValue (not NaN, whose sort order differs between engines)
        // pins it deterministically to the lowest-index cells — and
        // matches the DuckDB oracles as-is: there x/0 -> NULL, NULLs
        // sort last, so the ORDER BY s DESC, c ASC tiebreak lands on
        // the same cells
        val den = math.sqrt(nc) * math.sqrt(nv)
        (ci, if (den == 0.0) -Double.MaxValue else dot / den)
      }
      sims.sortBy { case (ci, s) => (-s, ci) }.take(n).map(_._1)
    }
  }

  /** The Lloyd assignment of [[cellsUdf]] at n=1 as a plain function —
    * the SAME fold (dims left-to-right, double accumulators, zero-norm
    * guard) and the same tie policy (strict > keeps the lowest cell
    * index), so [[lloydPartials]] assigns bit-identically to the UDF
    * formulation the oracle replays. */
  private[graft] def assignCellLocal(v: Seq[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var ci = 0
    while (ci < centroids.length) {
      val c = centroids(ci)
      var dot = 0.0; var nc = 0.0; var nv = 0.0
      var d = 0
      val len = math.min(c.length, v.length)
      while (d < len) { dot += c(d) * v(d); nc += c(d) * c(d); nv += v(d).toDouble * v(d); d += 1 }
      val den = math.sqrt(nc) * math.sqrt(nv)
      val s = if (den == 0.0) -Double.MaxValue else dot / den
      if (s > bestS) { bestS = s; best = ci }
      ci += 1
    }
    best
  }

  /** One fused Lloyd pass: assignment + quantized component sums in a
    * SINGLE mapPartitions job. Per partition a cell-keyed map of
    * (dim long sums + count) accumulates — bounded by
    * min(touched cells, partition rows) entries, the same volume the
    * old map-side hash aggregate held — then partials reduce by cell
    * key before the driver sees anything, so driver traffic stays the
    * k*dim model rows. Long sums are order-independent; value-identity
    * to the checkpoint+posexplode+groupBy formulation is pinned by
    * TrainingOpsSpec (fused ≡ reference on the same corpus). */
  private def lloydPartials(corpus: DataFrame, vecCol: String, dim: Int,
                            centroids: Array[Array[Double]]): Array[(Int, Array[Long])] = {
    val cs = centroids
    corpus.select(col(vecCol)).rdd.mapPartitions { it =>
      val acc = new java.util.HashMap[Integer, Array[Long]]()
      it.foreach { r =>
        val v = r.getSeq[Float](0)
        require(v.length == dim, s"ragged vector: length ${v.length}, expected $dim")
        val cell = assignCellLocal(v, cs)
        var a = acc.get(cell)
        if (a == null) { a = new Array[Long](dim + 1); acc.put(cell, a) }
        var d = 0
        while (d < dim) { a(d) += math.floor(v(d).toDouble * 1.0e7 + 0.5).toLong; d += 1 }
        a(dim) += 1L
      }
      import scala.jdk.CollectionConverters._
      acc.asScala.iterator.map { case (c, a) => (c.intValue, a) }
    }.reduceByKey { (x, y) =>
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }.collect()
  }

  /**
   * `iters` Lloyd rounds from the md5 init. Each round: assign every
   * vector to its argmax-cosine cell and accumulate the exact
   * quantized component sums in ONE fused pass ([[lloydPartials]] —
   * one job per round; the previous checkpoint-then-posexplode-then-
   * groupBy formulation cost two jobs plus a pinned corpus copy per
   * round, and the fused kernel still never fans the UDF out per
   * exploded element). A cell that captured no vectors keeps its
   * previous centroid. iters=0 returns the init codebook (= the
   * fixed-codebook behavior).
   */
  def train(corpus: DataFrame, vecCol: String, k: Int, iters: Int, dim: Int): Array[Array[Double]] = {
    var centroids = initCentroids(k, dim)
    for (_ <- 0 until iters) {
      val next = centroids.map(_.clone())
      lloydPartials(corpus, vecCol, dim, centroids).foreach { case (cell, a) =>
        val n = a(a.length - 1)
        var pos = 0
        while (pos < a.length - 1) {
          next(cell)(pos) = a(pos).toDouble / (n.toDouble * 1.0e7)
          pos += 1
        }
      }
      centroids = next
    }
    centroids
  }

  /** The pre-fusion reference formulation of [[train]] (checkpointed
    * assignment + posexplode + groupBy per round) — kept ONLY as the
    * equivalence anchor TrainingOpsSpec pins the fused kernel against. */
  private[graft] def trainReference(corpus: DataFrame, vecCol: String, k: Int, iters: Int,
                                    dim: Int): Array[Array[Double]] = {
    var centroids = initCentroids(k, dim)
    for (_ <- 0 until iters) {
      val assigned = corpus.select(
        element_at(cellsUdf(centroids, 1)(col(vecCol)), 1).as("cell"),
        col(vecCol).as("v")).localCheckpoint()
      val sums = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "el")))
        .groupBy("cell", "pos")
        .agg(sum(floor(col("el").cast("double") * lit(1.0e7) + lit(0.5))).as("sq"),
          count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val cell = r.getInt(0)
        val pos = r.getInt(1)
        val sq = r.getLong(2)
        val n = r.getLong(3)
        next(cell)(pos) = sq.toDouble / (n.toDouble * 1.0e7)
      }
      centroids = next
    }
    centroids
  }

  /** (id, cell) assignment of every corpus vector under `centroids`. */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame =
    corpus.select(col(idCol).as("id"),
      element_at(cellsUdf(centroids, 1)(col(vecCol)), 1).as("cell"))

  /**
   * SemDeDup-style semantic near-duplicates: k-means-cluster the
   * corpus, then exact-cosine every within-cell pair and keep those
   * >= minCosine. Clustering bounds the quadratic: pairs are only
   * scored inside a cell (~n/k vectors), which is the property that
   * lets semantic dedup run on a 100 TB embedding table — and unlike
   * the LSH bands of [[SimilarityOps.cosineNearDuplicates]], the cells
   * adapt to the corpus distribution.
   *
   * Plan shape: the within-cell pair generation is a SELF-JOIN on the
   * cell id carrying only 8-byte ids (cells are dense buckets — the
   * simhash lesson: grouped-pairs would materialize bucket-squared
   * arrays); vectors join back per-id for the exact verify.
   * Output: (id_a < id_b, cell, sim).
   */
  /**
   * The cell count [[semanticNearDuplicatesAuto]] prices for a corpus
   * of `n` vectors: within-cell pair volume is ~n²/k, so holding the
   * expected CELL SIZE n/k at `targetCellSize` holds pair volume
   * linear in corpus size — k = max(8, n / targetCellSize). The same
   * density argument as the simhash/LSH autos, applied to the one
   * operator whose buckets are learned rather than hashed. More cells
   * also cost: training's mean-update shuffle produces k*dim rows and
   * assignment scans k centroids per vector — both linear in k, paid
   * to keep the quadratic term flat.
   *
   * `maxCells` caps k because centroids are DRIVER-SIDE model state
   * (k x dim doubles: the default cap is 32 MB at dim=64, where an
   * uncapped billion-vector corpus would demand ~2 GB) and assignment
   * cost scans k centroids per vector. Past n = maxCells *
   * targetCellSize (~17M vectors at the defaults) cell size grows
   * beyond the target again — raise maxCells deliberately (pricing
   * driver memory and the k-per-vector scan), or pre-partition the
   * corpus and run per partition.
   */
  def autoCells(n: Long, targetCellSize: Long = 256L, maxCells: Int = 65536): Int =
    math.min(maxCells.toLong, math.max(8L, n / targetCellSize)).toInt

  /**
   * [[semanticNearDuplicates]] with k priced from the corpus count via
   * [[autoCells]]. Deterministic in n — the DuckDB oracle replays the
   * pick (and then the full training loop at that k).
   */
  def semanticNearDuplicatesAuto(corpus: DataFrame, idCol: String, vecCol: String,
                                 minCosine: Double, targetCellSize: Long = 256L,
                                 iters: Int = 2, dim: Int = 64): DataFrame =
    semanticNearDuplicates(corpus, idCol, vecCol, minCosine,
      k = autoCells(corpus.count(), targetCellSize), iters = iters, dim = dim)

  /** Default (k not passed) routes through the corpus-priced cell count
    * of [[autoCells]] — a plain call holds pair volume linear at any
    * corpus size. Pass k explicitly (8 = the historical fixed default)
    * only when a fixed clustering is contractual. */
  def semanticNearDuplicates(corpus: DataFrame, idCol: String, vecCol: String,
                             minCosine: Double, k: Int = -1, iters: Int = 2,
                             dim: Int = 64): DataFrame = {
    if (k < 0)
      return semanticNearDuplicatesAuto(corpus, idCol, vecCol, minCosine,
        iters = iters, dim = dim)
    val centroids = train(corpus, vecCol, k, iters, dim)
    // assignments materialize ONCE (12 bytes/vector): both self-join
    // sides would otherwise re-run the assignment UDF over the corpus
    val cells = assignCells(corpus, idCol, vecCol, centroids).localCheckpoint()
    val a = cells.select(col("cell"), col("id").as("id_a"))
    val b = cells.select(col("cell"), col("id").as("id_b"))
    val cand = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("sim", round(SimilarityOps.cosineFloat(col("va"), col("vb")), 6))
      .filter(col("sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cell").cast("long").as("cell"), col("sim"))
  }

  /**
   * Two-level semantic near-duplicates — the composition that holds
   * pair volume flat PAST [[autoCells]]'s cap. One level of trained
   * cells stops adapting at `maxCells` (centroids are driver-side
   * model state, k×dim doubles), so beyond n = maxCells ·
   * targetCellSize (~17M vectors at the defaults) cell sizes — and
   * with them per-cell pair volume — grow with the corpus again. This
   * operator keeps level 1 at the cap and splits each OVERFULL cell
   * with data-independent hyperplane sign bits (md5-derived planes, no
   * training, no driver state), sized per cell from its ACTUAL count:
   * a cell of cn vectors gets the smallest b with cn ≤ targetCellSize
   * · 2^b subcells, so expected subcell size stays ≤ targetCellSize at
   * ANY corpus size while driver state stays maxCells×dim forever.
   * Cells under the target get b=0 — below the cap this operator
   * degenerates to [[semanticNearDuplicates]] exactly.
   *
   * The trade is recall inside overfull cells only: a within-cell pair
   * at angle θ lands in one subcell with prob (1−θ/π)^b (the
   * [[SimilarityOps.cosineNearDuplicates]] analysis; at cos 0.95 and
   * b=3 that is ~0.83) — the same probabilistic blocking every LSH
   * family here prices, where one-level SemDeDup past its cap silently
   * pays QUADRATIC cost instead. Sub-planes are salted "subplane" so
   * the split is independent of the cosine-LSH operator's bands.
   *
   * Plan shape: training + assignment as the parent; one
   * cell-count aggregate (k rows) joins bits back onto assignments;
   * the 16-bit sub-signature is one plane-UDF projection over the
   * corpus; pair generation self-joins on (cell, subcell). Everything
   * per-cell is distributed — no driver loop over shards.
   */
  def semanticNearDuplicatesSharded(corpus: DataFrame, idCol: String, vecCol: String,
                                    minCosine: Double, targetCellSize: Long = 256L,
                                    maxCells: Int = 65536, iters: Int = 2,
                                    dim: Int = 64, maxSubBits: Int = 16): DataFrame = {
    require(maxSubBits >= 1 && maxSubBits <= 32, s"maxSubBits in [1,32], got $maxSubBits")
    val k = autoCells(corpus.count(), targetCellSize, maxCells)
    val centroids = train(corpus, vecCol, k, iters, dim)
    val cells = assignCells(corpus, idCol, vecCol, centroids).localCheckpoint()
    // per-cell split width from the ACTUAL cell count: smallest b with
    // cn <= target * 2^b, capped — an integer when-chain, not float
    // log2, so both engines pick identically at the boundaries
    val bitsCol = (0 until maxSubBits).foldRight(lit(maxSubBits): Column) {
      (b, rest) => when(col("cn") <= lit(targetCellSize) * lit(1L << b), lit(b)).otherwise(rest)
    }
    val bits = cells.groupBy("cell").agg(count(lit(1)).as("cn"))
      .select(col("cell"), bitsCol.as("bits"))
    // 16-bit sub-signature: sign bits against md5 "subplane" planes —
    // computed once per vector at full width, masked per cell's bits
    val planes = SimilarityOps.lshPlanes(maxSubBits, dim, salt = "subplane")
    val sigUdf = udf { (v: Seq[Float]) =>
      val p = planes
      var sig = 0L
      var b = 0
      while (b < p.length) {
        var s = 0.0
        var d = 0
        val pb = p(b)
        val n = math.min(pb.length, v.length)
        while (d < n) { s += pb(d) * v(d); d += 1 }
        if (s > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
    val sigs = corpus.select(col(idCol).as("id"), sigUdf(col(vecCol)).as("sig"))
    val sub = cells.join(bits, "cell").join(sigs, "id")
      .withColumn("subcell", expr("sig & (shiftleft(1L, cast(bits as int)) - 1L)"))
      .select(col("cell"), col("subcell"), col("id"))
    val a = sub.select(col("cell"), col("subcell"), col("id").as("id_a"))
    val b = sub.select(col("cell"), col("subcell"), col("id").as("id_b"))
    val cand = a.join(b, Seq("cell", "subcell")).filter(col("id_a") < col("id_b"))
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("sim", round(SimilarityOps.cosineFloat(col("va"), col("vb")), 6))
      .filter(col("sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cell").cast("long").as("cell"), col("sim"))
  }

  /**
   * IVF ANN with a codebook TRAINED on the corpus (`iters` Lloyd
   * rounds) instead of [[SimilarityOps.ivfTopK]]'s fixed md5 cells.
   * Identical probe/re-rank plan: corpus vectors live in their argmax
   * cell, each query probes its `nprobe` nearest cells, candidates
   * carry only ids, exact cosine re-ranks.
   */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int,
                     ncells: Int = 16, nprobe: Int = 6, iters: Int = 2,
                     dim: Int = 64): DataFrame = {
    val centroids = train(corpus, "embedding", ncells, iters, dim)
    // query side materialized once for real planner stats + branch
    // reuse — the SimilarityOps.lshTopK rationale, verbatim
    val q0 = queries.localCheckpoint()
    val c = corpus.select(col("id").as("neighbor_id"),
      explode(cellsUdf(centroids, 1)(col("embedding"))).as("cell"))
    val q = q0.select(col("id").as("query_id"),
      explode(cellsUdf(centroids, nprobe)(col("embedding"))).as("cell"))
    val cand = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val qv = q0.select(col("id").as("query_id"), transform(col("embedding"), x => x.cast("double")).as("qv"))
    val cv = corpus.select(col("id").as("neighbor_id"), transform(col("embedding"), x => x.cast("double")).as("cv"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cand
      .join(qv, "query_id")
      .join(cv, "neighbor_id")
      .withColumn("sim", round(SimilarityOps.cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("sim"))
  }

  /**
   * Exact per-label mean embedding (class centroids — label-balance
   * diagnostics, cluster seeding, nearest-class-centroid filtering).
   * Same quantized-integer mean as [[train]], but fully distributed:
   * one groupBy(label, dim) with map-side partial sums, then the
   * centroid array reassembles per label — no collect, no dependence
   * of the result on partitioning. Output: (label, n, centroid).
   */
  /**
   * The exploded form of [[labelCentroids]]: one row per (label,
   * component position) with the exact quantized mean and the label's
   * vector count. This is the RELATIONAL surface of the operator —
   * flat scalar columns that any engine (or columnar checker) can
   * sort/hash/compare directly, where the array-typed `centroid`
   * column of the facade cannot be used as a sort/group key by most
   * tabular tooling. Same plan as the facade minus the final
   * collect_list reassembly: one groupBy(label, pos) with map-side
   * partial sums. Output: (label, pos, mean, n).
   */
  def labelCentroidComponents(vecs: DataFrame, labelCol: String, vecCol: String): DataFrame =
    vecs.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "el")))
      .groupBy("label", "pos")
      .agg(sum(floor(col("el").cast("double") * lit(1.0e7) + lit(0.5))).as("sq"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sq").cast("double") / (col("n").cast("double") * lit(1.0e7))).as("mean"),
        col("n"))

  def labelCentroids(vecs: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val comps = labelCentroidComponents(vecs, labelCol, vecCol)
    comps.groupBy("label")
      .agg(min(col("n")).as("n"),
        transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
          s => s.getField("mean")).as("centroid"))
      .select(col("label"), col("n"), col("centroid"))
  }

  /**
   * Embedding-drift gate between two corpus snapshots: per label, the
   * cosine between snapshot A's and snapshot B's EXACT class centroid
   * (the [[labelCentroids]] quantized means), plus both member
   * counts — the release check that catches a re-embedding run or a
   * sampling change silently rotating the space before anything
   * downstream (ANN indexes, classifiers trained on A) breaks.
   * Labels present on one side only survive the full join with a
   * null drift — appearing/disappearing classes ARE drift.
   *
   * Determinism: centroids assemble pos-sorted, and the cosine is
   * [[SimilarityOps.cosine]]'s left-to-right fold — both engines walk
   * the identical double chain over identically-derived means.
   *
   * Scale: two corpus scans (one per snapshot) each collapsing to a
   * label×dim aggregate; the join is label-count-sized. Nothing about
   * corpus size reaches the join.
   */
  def centroidDrift(a: DataFrame, b: DataFrame, labelCol: String,
                    vecCol: String): DataFrame = {
    val ca = labelCentroids(a, labelCol, vecCol)
      .select(col("label"), col("n").as("n_a"), col("centroid").as("cva"))
    val cb = labelCentroids(b, labelCol, vecCol)
      .select(col("label"), col("n").as("n_b"), col("centroid").as("cvb"))
    ca.join(cb, Seq("label"), "full")
      .select(col("label"), col("n_a"), col("n_b"),
        round(SimilarityOps.cosine(col("cva"), col("cvb")), 6).as("drift_cos"))
  }

  /**
   * Mislabel candidates: for each label, the `topPerLabel` vectors
   * FARTHEST from their own label's exact centroid — the standard
   * label-noise audit (a point sitting far from its class center in
   * embedding space is the first thing a human should re-check, and
   * what confident-learning pipelines prune). Distance is euclidean
   * against the [[labelCentroids]] exact quantized mean, folded
   * left-to-right over the zipped arrays so both engines walk the
   * identical double chain; ties break to the smaller vector id.
   *
   * Scale: the centroid table is label-count-sized — broadcast — so
   * the corpus is one scan + a per-label top-k window (WindowGroupLimit
   * prunes to `topPerLabel` per partition before the label shuffle).
   * No vector ever shuffles: only (label, id, dist) rows reach the
   * rank exchange.
   */
  /**
   * Simplified silhouette per label (the centroid form: Kaufman &
   * Rousseeuw's silhouette with cluster-mean distances replaced by
   * distances to the EXACT label centroids) — the cluster-quality
   * score for a labeled embedding set: s = (b − a) / max(a, b) with
   * a = distance to the OWN label's centroid and b = the smallest
   * distance to any OTHER label's centroid. Mean s near 1: compact,
   * well-separated classes (safe to train a classifier / use
   * nearest-centroid routing); near 0: overlapping classes; negative:
   * vectors sit closer to a foreign class center than their own —
   * the label-noise smell [[labelOutliers]] then localizes.
   *
   * Per-vector s quantizes to micro units (floor(s·10⁶ + 0.5), exact
   * on both engines since a and b are the same rounded doubles the
   * outlier op uses), so the per-label MEAN is integral division —
   * no float-sum ordering dependence. A corpus with a single label
   * has no b; its rows report s = 0 (flagged by n_other = 0).
   *
   * Scale: the centroid table is label-count-sized and broadcast; the
   * corpus is ONE scan producing label-count distances per vector in
   * codegen, then one label-sized aggregate. No vector shuffles.
   * Output: (label, n, mean_sil_micro, min_sil_micro, max_sil_micro).
   */
  def labelSilhouette(vecs: DataFrame, idCol: String, labelCol: String,
                      vecCol: String): DataFrame = {
    val cents = labelCentroids(vecs, labelCol, vecCol)
      .select(col("label").as("clabel"), col("centroid"))
    val dist = round(sqrt(aggregate(
      zip_with(col("v"), col("centroid"), (x, c) => {
        val d = x.cast("double") - c
        d * d
      }),
      lit(0.0), (acc, e) => acc + e)), 6)
    val scored = vecs
      .select(col(labelCol).as("label"), col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .groupBy("label", "id")
      .agg(min(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
      .select(col("label"),
        when(col("b").isNull || greatest(col("a"), col("b")) <= 0.0, lit(0L))
          .otherwise(floor((col("b") - col("a")) / greatest(col("a"), col("b"))
            * lit(1.0e6) + lit(0.5)).cast("long")).as("s_micro"))
    scored.groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("s_micro")).as("ssum"),
        min(col("s_micro")).as("min_sil_micro"),
        max(col("s_micro")).as("max_sil_micro"))
      .select(col("label").cast("long").as("label"), col("n"),
        IntDiv(col("ssum"), col("n")).cast("long").as("mean_sil_micro"),
        col("min_sil_micro"), col("max_sil_micro"))
  }

  def labelOutliers(vecs: DataFrame, idCol: String, labelCol: String,
                    vecCol: String, topPerLabel: Int): DataFrame = {
    val cents = labelCentroids(vecs, labelCol, vecCol)
      .select(col("label"), col("centroid"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("dist").desc, col("id").asc)
    vecs.select(col(labelCol).as("label"), col(idCol).as("id"), col(vecCol).as("v"))
      .join(broadcast(cents), "label")
      .withColumn("dist", round(sqrt(aggregate(
        zip_with(col("v"), col("centroid"), (x, c) => {
          val d = x.cast("double") - c
          d * d
        }),
        lit(0.0), (acc, e) => acc + e)), 6))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= topPerLabel)
      .select(col("label").cast("long").as("label"),
        col("rank").cast("long").as("rank"), col("id"), col("dist"))
  }
}
