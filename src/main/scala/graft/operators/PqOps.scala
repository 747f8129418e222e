package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Concurrent

/**
 * Product quantization (PQ) for embedding columns, and the ADC
 * (asymmetric distance computation) top-k search over the codes —
 * Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
 * Search" (TPAMI 2011).
 *
 * The 100 TB rationale: a 64-dim float32 embedding is 256 bytes; its
 * PQ code at m=4 subquantizers is m SMALL INTS (≤1 byte each at
 * k≤256). The ANN scan then reads a codes table ~64x smaller than the
 * vector table, and distance evaluation is m table lookups + m-1 adds
 * per candidate — no float vector is touched until an (optional)
 * exact re-rank of the short candidate list. This is the standard
 * billion-vector compromise IVF alone doesn't make: IVF prunes WHICH
 * vectors are scanned, PQ shrinks WHAT a scan reads.
 *
 * Determinism contract (the same one [[KMeansOps]] documents, so the
 * DuckDB oracle replays training, codes, and distances bit-exactly):
 *  - sub-codebook init is Forgy from the corpus — cell c of every
 *    subquantizer starts as the matching sub-slice of the vector with
 *    the c-th smallest id. Unlike the cosine k-means of [[KMeansOps]]
 *    (where direction is all that matters and an md5-random codebook
 *    splits any corpus), L2 subquantizers NEED data-scaled init:
 *    uniform [-1,1)^16 centroids have norm ~2.3 while typical
 *    embedding sub-slices sit near 0.5, so every vector would pick
 *    the same least-far random cell and the codes would collapse to
 *    one value (a measured recall-zero failure mode, pinned in the
 *    spec);
 *  - subquantizer assignment is argmin L2², dims accumulated
 *    left-to-right in doubles, ties to the lower cell index;
 *  - Lloyd mean updates quantize components to 1e-7 integers and sum
 *    as longs (partition-order independent);
 *  - ADC distances quantize each per-subspace distance to a 1e-9
 *    integer ONCE, then sum LONGS across subspaces — so the total is
 *    exact and independent of both engine and summation order, where
 *    a double sum would drift in the last ulps.
 */
object PqOps {

  /** Deterministic Forgy init: cell c of subquantizer sub is the
    * sub-slice of the corpus vector with the c-th smallest id (k
    * driver-side model rows — the same "model artifact" budget as
    * [[KMeansOps.train]]'s centroids). */
  def initSubCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, subDim: Int): Array[Array[Array[Double]]] = {
    val seed = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
    require(seed.length == k, s"PQ Forgy init needs >= $k corpus vectors, got ${seed.length}")
    Array.tabulate(m, k, subDim) { (sub, c, d) =>
      seed(c).getSeq[Float](1)(sub * subDim + d).toDouble
    }
  }

  /** L2² between a vector's sub-slice (read through `at`, so float
    * and double vector columns share one fold) and one sub-centroid —
    * the left-to-right accumulation the oracle replays. */
  private def subDistAt(at: Int => Double, book: Array[Array[Double]],
                        cell: Int, sub: Int, subDim: Int): Double = {
    val c = book(cell)
    var dist = 0.0
    var d = 0
    while (d < subDim) {
      val diff = at(sub * subDim + d) - c(d)
      dist += diff * diff
      d += 1
    }
    dist
  }

  /** L2² between a vector's sub-slice and one sub-centroid — the
    * left-to-right fold the oracle replays. */
  private def subDist(v: Seq[Float], book: Array[Array[Double]],
                      cell: Int, sub: Int, subDim: Int): Double =
    subDistAt(i => v(i).toDouble, book, cell, sub, subDim)

  private def argminCell(at: Int => Double, book: Array[Array[Double]],
                         sub: Int, subDim: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val dist = subDistAt(at, book, c, sub, subDim)
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** PQ encoder: vector → m argmin-cell codes (strict < keeps the
    * lowest index on ties, matching the oracle's dist ASC, c ASC). */
  private def codesUdf(books: Array[Array[Array[Double]]]) = {
    val m = books.length
    val subDim = books(0)(0).length
    udf { (v: Seq[Float]) =>
      Array.tabulate(m)(sub => argminCell(i => v(i).toDouble, books(sub), sub, subDim))
    }
  }

  /** [[codesUdf]] over an `array<double>` column (rotated vectors). */
  private def codesUdfD(books: Array[Array[Array[Double]]]) = {
    val m = books.length
    val subDim = books(0)(0).length
    udf { (v: Seq[Double]) =>
      Array.tabulate(m)(sub => argminCell(v, books(sub), sub, subDim))
    }
  }

  /** Per-query distance table, flattened [sub*k + cell], each entry
    * the 1e-9-quantized integer L2² to that sub-centroid. */
  private def distTableUdf(books: Array[Array[Array[Double]]]) = {
    val m = books.length
    val k = books(0).length
    val subDim = books(0)(0).length
    udf { (v: Seq[Float]) =>
      Array.tabulate(m * k) { i =>
        math.floor(subDist(v, books(i / k), i % k, i / k, subDim) * 1.0e9 + 0.5).toLong
      }
    }
  }

  /** [[distTableUdf]] over an `array<double>` column. */
  private def distTableUdfD(books: Array[Array[Array[Double]]]) = {
    val m = books.length
    val k = books(0).length
    val subDim = books(0)(0).length
    udf { (v: Seq[Double]) =>
      Array.tabulate(m * k) { i =>
        math.floor(subDistAt(v, books(i / k), i % k, i / k, subDim) * 1.0e9 + 0.5).toLong
      }
    }
  }

  /**
   * `iters` Lloyd rounds per subquantizer, all subspaces trained in
   * the SAME pass: one assignment projection + one
   * groupBy(sub, cell, d) shuffle per round producing m·k·subDim
   * result rows (the model), exactly [[KMeansOps.train]]'s shape with
   * `sub` as one more grouping column. iters=0 returns the Forgy init
   * (the fixed-codebook behavior).
   */
  def trainSubCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                        m: Int, k: Int, subDim: Int, iters: Int): Array[Array[Array[Double]]] =
    trainCore(corpus, vecCol, subDim, iters,
      initSubCodebooks(corpus, idCol, vecCol, m, k, subDim))

  /** [[initSubCodebooks]] over an `array<double>` vector column. */
  def initSubCodebooksD(corpus: DataFrame, idCol: String, vecCol: String,
                        m: Int, k: Int, subDim: Int): Array[Array[Array[Double]]] = {
    val seed = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
    require(seed.length == k, s"PQ Forgy init needs >= $k corpus vectors, got ${seed.length}")
    Array.tabulate(m, k, subDim) { (sub, c, d) =>
      seed(c).getSeq[Double](1)(sub * subDim + d)
    }
  }

  /** [[trainSubCodebooks]] over an `array<double>` vector column —
    * identical Forgy init + quantized-Lloyd contract; the shared core
    * only differs in the encoder UDF's input type. */
  def trainSubCodebooksD(corpus: DataFrame, idCol: String, vecCol: String,
                         m: Int, k: Int, subDim: Int, iters: Int): Array[Array[Array[Double]]] =
    trainCore(corpus, vecCol, subDim, iters,
      initSubCodebooksD(corpus, idCol, vecCol, m, k, subDim))

  /** One fused Lloyd pass over all m subquantizers: per-subspace argmin
    * assignment + quantized component sums in a SINGLE mapPartitions
    * job — the previous formulation cost two jobs plus a pinned corpus
    * copy per round (checkpointed codes, posexplode, groupBy). Per
    * partition a (sub,cell)-keyed map of (subDim long sums + count)
    * accumulates (≤ m·k entries — model-sized), partials reduce by key
    * before collect, so driver traffic stays the m·k·subDim model rows
    * and long sums keep the result partition-order independent.
    * Value-identity to the aggregation formulation is pinned by
    * PqOpsSpec (fused ≡ reference). Handles both float (raw) and
    * double (rotated) vector columns via the schema element type. */
  private def lloydPartials(corpus: DataFrame, vecCol: String, subDim: Int,
                            books: Array[Array[Array[Double]]])
      : Array[((Int, Int), Array[Long])] = {
    val m = books.length
    val dim = m * subDim
    val isDouble = corpus.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.DoubleType
    corpus.select(col(vecCol)).rdd.mapPartitions { it =>
      val acc = new java.util.HashMap[(Int, Int), Array[Long]]()
      it.foreach { r =>
        val (len, at) =
          if (isDouble) { val v = r.getSeq[Double](0); (v.length, (i: Int) => v(i)) }
          else { val v = r.getSeq[Float](0); (v.length, (i: Int) => v(i).toDouble) }
        require(len == dim, s"ragged vector: length $len, expected $dim")
        var sub = 0
        while (sub < m) {
          val cell = argminCell(at, books(sub), sub, subDim)
          val key = (sub, cell)
          var a = acc.get(key)
          if (a == null) { a = new Array[Long](subDim + 1); acc.put(key, a) }
          var d = 0
          while (d < subDim) {
            a(d) += math.floor(at(sub * subDim + d) * 1.0e7 + 0.5).toLong
            d += 1
          }
          a(subDim) += 1L
          sub += 1
        }
      }
      import scala.jdk.CollectionConverters._
      acc.asScala.iterator.map { case (k, a) => (k, a) }
    }.reduceByKey { (x, y) =>
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }.collect()
  }

  private def trainCore(corpus: DataFrame, vecCol: String, subDim: Int, iters: Int,
                        init: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    var books = init
    for (_ <- 0 until iters) {
      val next = books.map(_.map(_.clone()))
      lloydPartials(corpus, vecCol, subDim, books).foreach { case ((sub, cell), a) =>
        val n = a(subDim)
        var d = 0
        while (d < subDim) {
          next(sub)(cell)(d) = a(d).toDouble / (n.toDouble * 1.0e7)
          d += 1
        }
      }
      books = next
    }
    books
  }

  /** The pre-fusion reference formulation of [[trainCore]] — kept ONLY
    * as the equivalence anchor PqOpsSpec pins the fused kernel against. */
  private[graft] def trainCoreReference(corpus: DataFrame, vecCol: String, subDim: Int, iters: Int,
                                        init: Array[Array[Array[Double]]])
      : Array[Array[Array[Double]]] = {
    val isDouble = corpus.schema(vecCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.DoubleType
    val encoder: Array[Array[Array[Double]]] => org.apache.spark.sql.expressions.UserDefinedFunction =
      if (isDouble) codesUdfD else codesUdf
    var books = init
    for (_ <- 0 until iters) {
      // materialize codes before the explode (the KMeansOps lesson:
      // fused, the UDF re-evaluates once per exploded component)
      val assigned = corpus.select(
        encoder(books)(col(vecCol)).as("codes"),
        col(vecCol).as("v")).localCheckpoint()
      val sums = assigned
        .select(col("codes"), posexplode(col("v")).as(Seq("pos", "el")))
        .select(
          (col("pos") / subDim).cast("int").as("sub"),
          (col("pos") % subDim).as("d"),
          element_at(col("codes"), (col("pos") / subDim).cast("int") + 1).as("cell"),
          col("el"))
        .groupBy("sub", "cell", "d")
        .agg(sum(floor(col("el").cast("double") * lit(1.0e7) + lit(0.5))).as("sq"),
          count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        val sub = r.getInt(0)
        val cell = r.getInt(1)
        val d = r.getInt(2)
        val sq = r.getLong(3)
        val n = r.getLong(4)
        next(sub)(cell)(d) = sq.toDouble / (n.toDouble * 1.0e7)
      }
      books = next
    }
    books
  }

  /** (id, codes) PQ encoding of every corpus vector. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             books: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol).as("id"), codesUdf(books)(col(vecCol)).as("codes"))

  /**
   * PQ ANN: ADC shortlist, then exact re-rank — the standard two-stage
   * PQ search. Stage 1 ranks EVERY corpus vector by approximate L2²
   * from codes alone and keeps the `cand` closest per query (ties to
   * the smaller neighbor id); stage 2 joins the float vectors back for
   * those ≤`cand` ids only and re-ranks by exact cosine. Output:
   * (query_id, rank, neighbor_id, sim) — the same surface as
   * [[SimilarityOps.bruteForceTopK]], with the scan cost paid on m
   * ints/row instead of dim floats/row.
   *
   * Direct ADC-only ranking is measurably not enough on this corpus:
   * near-uniform unit vectors concentrate pairwise distances, and at
   * m=8·k=32 the quantization error reorders the top-5 almost freely
   * (recall@5 ≈ 0.26; EVIDENCE.md, "PQ ANN" row) — but the true top-5
   * lands inside the 50-candidate ADC shortlist 81% of the time, and
   * the exact re-rank recovers it. `cand` is the recall/cost knob; the
   * shortlist containment curve is in EVIDENCE.md.
   *
   * Plan shape: the corpus side of stage 1 is the CODES table (m
   * ints/row); the query side carries its m·k-entry integer distance
   * table and broadcasts (query sets are small by the same contract as
   * [[SimilarityOps.lshTopK]], and localCheckpoint gives the planner
   * real stats instead of a forced hint). The per-candidate distance
   * is m codegen'd element_at lookups summed as LONGS — no UDF, no
   * float vector access until the ≤cand-per-query re-rank join.
   */
  def pqTopK(queries: DataFrame, corpus: DataFrame, topk: Int,
             m: Int = 8, k: Int = 32, iters: Int = 1, cand: Int = 50,
             dim: Int = 64, excludeSelf: Boolean = true): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val books = trainSubCodebooks(corpus, "id", "embedding", m, k, subDim, iters)
    val q0 = queries.localCheckpoint()
    val codes = encode(corpus, "id", "embedding", books)
      .withColumnRenamed("id", "neighbor_id")
    val q = q0.select(col("id").as("query_id"),
      distTableUdf(books)(col("embedding")).as("dt"))
    adcShortlistRerank(codes, q, q0, corpus, topk, m, k, cand, excludeSelf)
  }

  /** The shared ADC tail of [[pqTopK]] and [[opqTopK]]: rank every
    * codes row by the LONG table-lookup sum against the broadcast
    * query distance tables, keep the `cand` closest per query, then
    * re-rank that shortlist by exact cosine over the ORIGINAL float
    * vectors. `codes` carries (neighbor_id, codes); `q` carries
    * (query_id, dt). */
  private def adcShortlistRerank(codes: DataFrame, q: DataFrame, q0: DataFrame,
                                 corpus: DataFrame, topk: Int, m: Int, k: Int,
                                 cand: Int, excludeSelf: Boolean): DataFrame = {
    val adistQ: Column = (0 until m)
      .map(sub => element_at(col("dt"),
        lit(sub * k) + element_at(col("codes"), sub + 1) + 1))
      .reduce(_ + _)
    val scoredAdc = codes.join(broadcast(q),
        if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), adistQ.as("adist_q"))
    val winAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    val shortlist = scoredAdc
      .withColumn("arn", row_number().over(winAdc))
      .filter(col("arn") <= cand)
      .select("query_id", "neighbor_id")
    val qv = q0.select(col("id").as("query_id"), col("embedding").as("qe"))
    val cv = corpus.select(col("id").as("neighbor_id"), col("embedding").as("ce"))
    val winSim = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("sim", round(SimilarityOps.cosineFloat(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(winSim))
      .filter(col("rank") <= topk)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("sim"))
  }

  // ---- OPQ: optimized (rotated) product quantization ----

  /** Rotation application under the exact-integer contract: every
    * input component quantizes to xq = floor(x·1e7 + 0.5), every
    * rotation entry is ALREADY a 1e7-quantized long, and output
    * component i is the exact LONG dot product Σ rq(i)(j)·xq(j)
    * scaled by 1e-14 — so the rotated `array<double>` is an exact
    * function of integers and the oracle reproduces it bit-for-bit
    * from the rotation literals (|Σ| ≤ 64·1e7·2e7 ≈ 1.3e16, inside
    * the long envelope). */
  /** The exact-integer rotation of one vector — shared verbatim by the
    * executor-side [[rotateUdf]] and the driver-side Forgy seed
    * derivation in [[opqTrainRotation]], so the two are bit-identical
    * by construction. */
  private[graft] def rotateVec(rq: Array[Array[Long]], v: Seq[Float]): Array[Double] = {
    val dim = rq.length
    val xq = new Array[Long](dim)
    var j = 0
    while (j < dim) {
      xq(j) = math.floor(v(j).toDouble * 1.0e7 + 0.5).toLong
      j += 1
    }
    Array.tabulate(dim) { i =>
      val row = rq(i)
      var s = 0L
      var jj = 0
      while (jj < dim) { s += row(jj) * xq(jj); jj += 1 }
      s.toDouble / 1.0e14
    }
  }

  private[graft] def rotateUdf(rq: Array[Array[Long]]) =
    udf { (v: Seq[Float]) => rotateVec(rq, v) }

  /** The OPQ correlation matrix M(i)(j) = Σ_rows x̂(i)·x(j), where x̂
    * is the codebook reconstruction of the ROTATED vector and x the
    * original — the statistic the Procrustes step rotates toward (Ge,
    * He, Ke, Sun, "Optimized Product Quantization", CVPR 2013, §3.1,
    * non-parametric solution). One mapPartitions pass accumulating a
    * dim² LONG grid per partition (each product quantized to 1e-9
    * integers, so the sum is partition-order independent), reduced
    * driver-side — model-sized traffic regardless of corpus size,
    * the [[PcaOps.covariance]] shape. */
  private def accumulateM(rot: DataFrame, books: Array[Array[Array[Double]]],
                          m: Int, k: Int, subDim: Int): Array[Array[Double]] = {
    val dim = m * subDim
    val acc = rot.select(col("rv"), col("ov")).rdd.mapPartitions { it =>
      val a = new Array[Long](dim * dim)
      it.foreach { r =>
        val rv = r.getSeq[Double](0)
        val ov = r.getSeq[Float](1)
        val xh = new Array[Double](dim)
        var sub = 0
        while (sub < m) {
          val best = argminCell(rv, books(sub), sub, subDim)
          var d = 0
          while (d < subDim) { xh(sub * subDim + d) = books(sub)(best)(d); d += 1 }
          sub += 1
        }
        var i = 0
        while (i < dim) {
          val xa = xh(i)
          var j = 0
          while (j < dim) {
            a(i * dim + j) += math.floor(xa * ov(j).toDouble * 1.0e9 + 0.5).toLong
            j += 1
          }
          i += 1
        }
      }
      Iterator.single(a)
    }.reduce { (x, y) =>
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    Array.tabulate(dim, dim)((i, j) => acc(i * dim + j).toDouble / 1.0e9)
  }

  /** Orthogonal Procrustes solve: the rotation R = U·Vᵀ maximizing
    * tr(R·Mᵀ) for M = [[accumulateM]]'s x̂-x correlation — via the
    * deterministic route the library already owns: MᵀM = V·Σ²·Vᵀ by
    * [[PcaOps.jacobiEigen]] (cyclic sweeps, canonical signs), left
    * vectors recovered as u_j = M·v_j/σ_j (the sign convention
    * cancels in u_j·v_jᵀ, so R is unique even under sign flips).
    * Returns the 1e7-quantized rotation rows the rest of the
    * pipeline — and the oracle's literal feed — consume. */
  private def procrustesQ(mat: Array[Array[Double]]): Array[Array[Long]] = {
    val dim = mat.length
    val s = Array.tabulate(dim, dim) { (i, j) =>
      var acc = 0.0
      var a = 0
      while (a < dim) { acc += mat(a)(i) * mat(a)(j); a += 1 }
      acc
    }
    val (vals, vecs) = PcaOps.jacobiEigen(s)
    val sigma = vals.map(v => math.sqrt(math.max(v, 0.0)))
    require(sigma(0) > 0.0 && sigma(dim - 1) > 1.0e-9 * sigma(0),
      s"OPQ Procrustes: reconstruction correlation is rank-deficient " +
        s"(sigma_min=${sigma(dim - 1)}, sigma_max=${sigma(0)})")
    val u = Array.tabulate(dim, dim) { (j, a) =>
      var acc = 0.0
      var b = 0
      while (b < dim) { acc += mat(a)(b) * vecs(j)(b); b += 1 }
      acc / sigma(j)
    }
    Array.tabulate(dim, dim) { (a, b) =>
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += u(j)(a) * vecs(j)(b); j += 1 }
      math.floor(acc * 1.0e7 + 0.5).toLong
    }
  }

  /**
   * Non-parametric OPQ rotation training (Ge et al., CVPR 2013, §3.1
   * alternating solution), from the IDENTITY start: each alternation
   * (a) trains fresh sub-codebooks on the current rotated corpus
   * (Forgy + one quantized-Lloyd round — the [[trainSubCodebooks]]
   * contract verbatim), (b) accumulates the x̂-x correlation M in one
   * corpus pass, and (c) re-solves the rotation by orthogonal
   * Procrustes. Identity start rather than a PCA eigenvalue
   * allocation because this corpus punishes the latter (measured:
   * PCA-permuted recall@5 0.76 vs raw 0.81 at m=8·k=32·cand=50 —
   * near-isotropic embeddings make the eigenbasis mostly sampling
   * noise) while the alternation is what actually lowers quantization
   * error: 242 → 197 summed L2² over 3 alternations on sf0.01, recall
   * 0.81 → 0.86 at the same budget.
   *
   * Every step is deterministic (exact-long sums; Jacobi's fixed
   * sweep order; sqrt/abs only — no libm transcendentals), so the
   * returned 1e7-quantized rotation is a pure function of the corpus:
   * the property that lets the oracle take it as integer literals
   * instead of replaying the derivation. Per alternation the corpus
   * is read twice (Lloyd, M) and only model-sized state (m·k·subDim
   * codebooks + dim² correlation) ever reaches the driver — at 100 TB
   * the cost is opqIters·2 corpus scans, each embarrassingly
   * parallel.
   */
  def opqTrainRotation(corpus: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, k: Int, opqIters: Int): Array[Array[Long]] =
    opqTrainRotationWithSeed(corpus, idCol, vecCol, dim, m, k, opqIters)._1

  /** [[opqTrainRotation]] plus the collected Forgy seed vectors, so
    * callers that train final sub-codebooks on the rotated corpus
    * ([[opqTopK]], [[ivfOpqTopK]]) can derive their init driver-side
    * instead of paying another TakeOrdered collect. */
  private def opqTrainRotationWithSeed(corpus: DataFrame, idCol: String, vecCol: String,
                                       dim: Int, m: Int, k: Int, opqIters: Int)
      : (Array[Array[Long]], Array[Seq[Float]]) = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    // Forgy seed rows (the k lowest-id ORIGINAL vectors) collect ONCE
    // before the loop; each alternation derives its rotated seed
    // driver-side through [[rotateVec]] — the same exact-integer
    // arithmetic the executor UDF runs, so the seed is bit-identical to
    // collecting it from the rotated frame, minus one TakeOrdered job
    // per alternation.
    val seed = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
    require(seed.length == k, s"PQ Forgy init needs >= $k corpus vectors, got ${seed.length}")
    val seedVecs: Array[Seq[Float]] = seed.map(_.getSeq[Float](1))
    var rq = Array.tabulate(dim, dim)((i, j) => if (i == j) 10000000L else 0L)
    for (_ <- 0 until opqIters) {
      // no localCheckpoint: the two per-alternation passes (fused Lloyd,
      // M accumulation) each recompute the rotation projection inside
      // their own scan — at 100 TB that is one extra embarrassingly
      // parallel projection instead of materializing a 512 B/row rotated
      // corpus copy to executor storage, and at bench scale it removes a
      // whole job per alternation.
      val rot = corpus.select(col(idCol).as("id"), col(vecCol).as("ov"),
        rotateUdf(rq)(col(vecCol)).as("rv"))
      val rotSeed = seedVecs.map(v => rotateVec(rq, v))
      val init = Array.tabulate(m, k, subDim)((sub, c, d) => rotSeed(c)(sub * subDim + d))
      val books = trainCore(rot, "rv", subDim, iters = 1, init)
      rq = procrustesQ(accumulateM(rot, books, m, k, subDim))
    }
    (rq, seedVecs)
  }

  /**
   * OPQ ANN: [[pqTopK]] with the corpus rotated by the learned
   * orthonormal basis before sub-chunking, so the m subspaces
   * decorrelate and the per-subspace quantizers spend their k cells
   * where the variance actually is (Ge et al. 2013). The ADC scan
   * runs on codes of ROTATED vectors (rotation preserves L2, so the
   * shortlist semantics are unchanged); the exact re-rank — and the
   * reported `sim` — use the ORIGINAL float vectors, exactly like
   * [[pqTopK]], so rotation error can never leak into the output
   * scores. Same output surface: (query_id, rank, neighbor_id, sim).
   *
   * Measured at identical geometry (m=8, k=32, cand=50, sf0.01):
   * recall@5 0.86 vs raw PQ's 0.81 — the spec pins opq ≥ raw.
   */
  def opqTopK(queries: DataFrame, corpus: DataFrame, topk: Int,
              m: Int = 8, k: Int = 32, iters: Int = 1, cand: Int = 50,
              dim: Int = 64, opqIters: Int = 3,
              excludeSelf: Boolean = true): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val (rq, seedVecs) = opqTrainRotationWithSeed(corpus, "id", "embedding", dim, m, k, opqIters)
    // rotated frame stays LAZY (no checkpoint): the one extra consumer
    // beyond training is the final codes projection, which recomputes
    // the rotation inside the ADC scan — a per-row projection, vs
    // materializing a rotated corpus copy to executor storage at 100 TB
    val rot = corpus.select(col("id"), col("embedding"),
      rotateUdf(rq)(col("embedding")).as("rv"))
    val rotSeed = seedVecs.map(v => rotateVec(rq, v))
    val init = Array.tabulate(m, k, subDim)((sub, c, d) => rotSeed(c)(sub * subDim + d))
    val books = trainCore(rot, "rv", subDim, iters, init)
    val q0 = queries.localCheckpoint()
    val codes = rot.select(col("id").as("neighbor_id"),
      codesUdfD(books)(col("rv")).as("codes"))
    val q = q0.select(col("id").as("query_id"),
      distTableUdfD(books)(rotateUdf(rq)(col("embedding"))).as("dt"))
    adcShortlistRerank(codes, q, q0, corpus, topk, m, k, cand, excludeSelf)
  }

  /** The learned rotation as the flat row-major 1e7-quantized longs
    * the DuckDB oracle embeds as literals (see
    * `graft.tools.OpqBasisDump`). */
  def opqBasisFlat(corpus: DataFrame, idCol: String, vecCol: String,
                   dim: Int, m: Int, k: Int, opqIters: Int): Array[Long] =
    opqTrainRotation(corpus, idCol, vecCol, dim, m, k, opqIters).flatten

  /**
   * IVF+PQ ANN — the composition FAISS ships as `IndexIVFPQ` (Jégou et
   * al. 2011 §V), and the standard billion-vector architecture: IVF
   * prunes WHICH vectors are scanned (each query probes its `nprobe`
   * nearest coarse cells out of `ncells`), PQ shrinks WHAT the scan
   * reads (m small ints per candidate instead of dim floats), and an
   * exact re-rank of the ≤`cand` ADC shortlist restores top-k quality.
   * At 10⁹ vectors the probed fraction is nprobe/ncells of the corpus
   * and the scanned bytes per candidate are m vs 4·dim — the two
   * multiplicative savings are independent, which is the whole point
   * of composing them.
   *
   * Divergence from FAISS, documented: codes are built on RAW vectors,
   * not per-cell residuals. The coarse quantizer here is the COSINE
   * k-means of [[KMeansOps.train]] (direction cells), so "residual"
   * has no natural L2 meaning; raw-vector codes keep both stages
   * independently replayable by the oracle and cost one shared
   * codebook instead of ncells of them. The recall knob is `cand`
   * exactly as in [[pqTopK]].
   *
   * Plan shape: the corpus index frame is (id, cell, codes) — the
   * narrow "stored index" a real deployment materializes — built in
   * one projection pass. Queries (small by the [[pqTopK]] contract)
   * carry their probe cells and integer distance table, broadcast,
   * and hash-join the index on `cell`; each corpus vector lives in
   * exactly ONE cell, so a (query, neighbor) pair can never appear
   * twice and no distinct is needed. ADC scoring is the codegen'd
   * element_at LONG sum; float vectors are touched only in the
   * ≤cand-per-query re-rank join.
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, topk: Int,
                ncells: Int = 16, nprobe: Int = 6, coarseIters: Int = 2,
                m: Int = 8, k: Int = 32, pqIters: Int = 1, cand: Int = 50,
                dim: Int = 64, excludeSelf: Boolean = true): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    // the coarse quantizer and the sub-codebooks are INDEPENDENT models
    // over the same corpus: train them as concurrent driver-side jobs
    // (guide §2.6 overlap) so the second chain's stages back-fill the
    // first one's stragglers — the models themselves are unchanged
    // (each training is deterministic on its own).
    var centroids: Array[Array[Double]] = null
    var books: Array[Array[Array[Double]]] = null
    Concurrent.all(corpus.sparkSession.sparkContext)(Seq(
      () => centroids = KMeansOps.train(corpus, "embedding", ncells, coarseIters, dim),
      () => books = trainSubCodebooks(corpus, "id", "embedding", m, k, subDim, pqIters)))
    val q0 = queries.localCheckpoint()
    val idx = corpus.select(col("id").as("neighbor_id"),
      element_at(KMeansOps.cellsUdfPublic(centroids, 1)(col("embedding")), 1).as("cell"),
      codesUdf(books)(col("embedding")).as("codes"))
    val q = q0.select(col("id").as("query_id"),
        distTableUdf(books)(col("embedding")).as("dt"),
        KMeansOps.cellsUdfPublic(centroids, nprobe)(col("embedding")).as("probes"))
      .select(col("query_id"), col("dt"), explode(col("probes")).as("cell"))
    ivfAdcRerank(idx, q, q0, corpus, topk, m, k, cand, excludeSelf)
  }

  /**
   * IVF+OPQ ANN — [[ivfPqTopK]] with the learned [[opqTrainRotation]]
   * basis applied to the CODE stage: sub-codebooks, corpus codes and
   * query distance tables all live in rotated space, while the coarse
   * quantizer stays on the ORIGINAL vectors. Deliberate composition
   * order, documented: the coarse cells here are COSINE direction
   * cells, and an orthonormal rotation preserves every angle, so
   * rotating the coarse stage would change which cells exist without
   * changing their quality — keeping it original keeps the coarse
   * replay byte-identical to [[ivfPqTopK]]'s and spends the rotation
   * where it pays, the subspace decorrelation of the codes (the same
   * place [[opqTopK]] measured 0.81 → 0.86 recall). Exact re-rank and
   * reported `sim` on original floats as always.
   */
  def ivfOpqTopK(queries: DataFrame, corpus: DataFrame, topk: Int,
                 ncells: Int = 16, nprobe: Int = 6, coarseIters: Int = 2,
                 m: Int = 8, k: Int = 32, pqIters: Int = 1, cand: Int = 50,
                 dim: Int = 64, opqIters: Int = 3,
                 excludeSelf: Boolean = true): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    // coarse quantizer (original vectors) and the OPQ rotation chain are
    // independent — overlap them as concurrent driver jobs (guide §2.6);
    // each chain is internally sequential and deterministic on its own
    var centroids: Array[Array[Double]] = null
    var rotation: (Array[Array[Long]], Array[Seq[Float]]) = null
    Concurrent.all(corpus.sparkSession.sparkContext)(Seq(
      () => centroids = KMeansOps.train(corpus, "embedding", ncells, coarseIters, dim),
      () => rotation = opqTrainRotationWithSeed(corpus, "id", "embedding", dim, m, k, opqIters)))
    val (rq, seedVecs) = rotation
    // lazy rotated frame — same rationale as [[opqTopK]]
    val rot = corpus.select(col("id"), col("embedding"),
      rotateUdf(rq)(col("embedding")).as("rv"))
    val rotSeed = seedVecs.map(v => rotateVec(rq, v))
    val init = Array.tabulate(m, k, subDim)((sub, c, d) => rotSeed(c)(sub * subDim + d))
    val books = trainCore(rot, "rv", subDim, pqIters, init)
    val q0 = queries.localCheckpoint()
    val idx = rot.select(col("id").as("neighbor_id"),
      element_at(KMeansOps.cellsUdfPublic(centroids, 1)(col("embedding")), 1).as("cell"),
      codesUdfD(books)(col("rv")).as("codes"))
    val q = q0.select(col("id").as("query_id"),
        distTableUdfD(books)(rotateUdf(rq)(col("embedding"))).as("dt"),
        KMeansOps.cellsUdfPublic(centroids, nprobe)(col("embedding")).as("probes"))
      .select(col("query_id"), col("dt"), explode(col("probes")).as("cell"))
    ivfAdcRerank(idx, q, q0, corpus, topk, m, k, cand, excludeSelf)
  }

  /** The shared cell-join ADC tail of [[ivfPqTopK]] / [[ivfOpqTopK]]:
    * broadcast probe rows hash-join the (neighbor_id, cell, codes)
    * index on `cell`, the LONG table-lookup sum ranks candidates, and
    * the `cand` shortlist re-ranks by exact cosine over ORIGINAL
    * floats. */
  private def ivfAdcRerank(idx: DataFrame, q: DataFrame, q0: DataFrame,
                           corpus: DataFrame, topk: Int, m: Int, k: Int,
                           cand: Int, excludeSelf: Boolean): DataFrame = {
    val adistQ: Column = (0 until m)
      .map(sub => element_at(col("dt"),
        lit(sub * k) + element_at(col("codes"), sub + 1) + 1))
      .reduce(_ + _)
    val scoredAdc = idx.join(broadcast(q), Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), adistQ.as("adist_q"))
    val winAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    val shortlist = scoredAdc
      .withColumn("arn", row_number().over(winAdc))
      .filter(col("arn") <= cand)
      .select("query_id", "neighbor_id")
    val qv = q0.select(col("id").as("query_id"), col("embedding").as("qe"))
    val cv = corpus.select(col("id").as("neighbor_id"), col("embedding").as("ce"))
    val winSim = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("sim", round(SimilarityOps.cosineFloat(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(winSim))
      .filter(col("rank") <= topk)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("sim"))
  }
}
