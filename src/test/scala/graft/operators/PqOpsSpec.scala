package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Specs for product quantization: training determinism under
  * repartitioning, code compactness, ADC recall against the exact
  * scan, and the no-UDF codegen shape of the ADC ranking plan. */
class PqOpsSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding"))

  test("sub-codebook training is partition-order independent (quantized means)") {
    val e = embeddings
    val a = PqOps.trainSubCodebooks(e.repartition(1), "id", "embedding", m = 8, k = 32, subDim = 8, iters = 1)
    val b = PqOps.trainSubCodebooks(e.repartition(13), "id", "embedding", m = 8, k = 32, subDim = 8, iters = 1)
    assert(a.flatten.flatten.toSeq == b.flatten.flatten.toSeq)
  }

  test("fused Lloyd pass ≡ reference (checkpoint+posexplode+groupBy) formulation — float and rotated-double corpora") {
    val e = embeddings
    // float corpus
    val init = PqOps.initSubCodebooks(e, "id", "embedding", m = 8, k = 32, subDim = 8)
    val fusedF = PqOps.trainSubCodebooks(e, "id", "embedding", 8, 32, 8, iters = 2)
    val refF = PqOps.trainCoreReference(e.select(col("embedding")), "embedding", 8, 2, init)
    assert(fusedF.flatten.flatten.toSeq == refF.flatten.flatten.toSeq,
      "fused float-corpus training must be bit-identical to the reference formulation")
    // rotated (array<double>) corpus — identity rotation keeps the values honest doubles
    val rq = Array.tabulate(64, 64)((i, j) => if (i == j) 10000000L else 0L)
    val rot = e.select(col("id"), PqOps.rotateUdf(rq)(col("embedding")).as("rv"))
    val initD = PqOps.initSubCodebooksD(rot, "id", "rv", 8, 32, 8)
    val fusedD = PqOps.trainSubCodebooksD(rot, "id", "rv", 8, 32, 8, iters = 2)
    val refD = PqOps.trainCoreReference(rot.select(col("rv")), "rv", 8, 2, initD)
    assert(fusedD.flatten.flatten.toSeq == refD.flatten.flatten.toSeq,
      "fused double-corpus training must be bit-identical to the reference formulation")
  }

  test("codes are m small ints; every cell index < k") {
    val books = PqOps.trainSubCodebooks(embeddings, "id", "embedding", 8, 32, 8, iters = 1)
    val codes = PqOps.encode(embeddings, "id", "embedding", books).collect()
    assert(codes.length == 500)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 32))
    }
  }

  test("shortlist+re-rank recall@5 vs bruteForceTopK on sf0.01 embeddings") {
    val e = embeddings
    val queries = e.filter(col("id") < 25)
    val approx = PqOps.pqTopK(queries, e, topk = 5, m = 8, k = 32, iters = 1, cand = 50)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = SimilarityOps.bruteForceTopK(queries, e, k = 5)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // direct ADC ranking alone reads ~0.26 on this concentrated-distance
    // corpus (EVIDENCE.md, "PQ ANN" row); the 50-candidate shortlist + exact re-rank is
    // what makes PQ usable here
    val recalls = brute.keys.toSeq.map(q => (approx(q) & brute(q)).size.toDouble / 5.0)
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.7, s"mean PQ recall@5 too low: $mean")
  }

  test("pqTopK equals a naive driver-side shortlist + exact re-rank") {
    val e = embeddings
    val books = PqOps.trainSubCodebooks(e, "id", "embedding", 8, 32, 8, iters = 1)
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sub2(v: Array[Float], sub: Int, cell: Int): Double = {
      var s = 0.0; var d = 0
      while (d < 8) { val diff = v(sub * 8 + d).toDouble - books(sub)(cell)(d); s += diff * diff; d += 1 }
      s
    }
    def code(v: Array[Float], sub: Int): Int =
      (0 until 32).minBy(c => (sub2(v, sub, c), c))
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = (0L until 5L).flatMap { q =>
      val adc = vecs.keys.filter(_ != q).toSeq.map { x =>
        val a = (0 until 8).map { sub =>
          math.floor(sub2(vecs(q), sub, code(vecs(x), sub)) * 1.0e9 + 0.5).toLong
        }.sum
        (x, a)
      }
      val shortlist = adc.sortBy { case (x, a) => (a, x) }.take(50).map(_._1)
      shortlist
        .map(x => (x, BigDecimal(cosine(vecs(q), vecs(x)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy { case (x, s) => (-s, x) }.take(5).zipWithIndex
        .map { case ((x, s), i) => (q, (i + 1).toLong, x, s) }
    }.toSet
    val got = PqOps.pqTopK(e.filter(col("id") < 5), e, topk = 5, m = 8, k = 32, iters = 1, cand = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expect)
  }

  test("opqTrainRotation is partition-order independent and near-orthonormal") {
    val e = embeddings
    val a = PqOps.opqTrainRotation(e.repartition(1), "id", "embedding",
      dim = 64, m = 8, k = 32, opqIters = 3)
    val b = PqOps.opqTrainRotation(e.repartition(13), "id", "embedding",
      dim = 64, m = 8, k = 32, opqIters = 3)
    assert(a.flatten.toSeq == b.flatten.toSeq,
      "OPQ rotation must be a pure function of the corpus (exact-long sums)")
    // R'R ~ I within the 1e-7 quantization budget: the Procrustes
    // factor is orthonormal up to the literal rounding
    val r = a.map(_.map(_.toDouble / 1.0e7))
    for (i <- 0 until 64; j <- i until 64) {
      val dot = (0 until 64).map(l => r(l)(i) * r(l)(j)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-4, s"R'R[$i][$j] = $dot")
    }
  }

  test("opqTopK recall@5 >= raw pqTopK at identical m/k/cand (the rotation pays)") {
    val e = embeddings
    // 25- and 50-query panels (the 5-query canonical set is too small
    // to resolve a 5-point recall delta; measured: pq 0.88/0.84/0.81
    // vs opq 0.80/0.89/0.86 at nq=5/25/50 — EVIDENCE.md, "Round-15 batch 2: OPQ")
    for (nq <- Seq(25, 50)) {
      val queries = e.filter(col("id") < nq)
      val brute = SimilarityOps.bruteForceTopK(queries, e, k = 5)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val rs = brute.keys.toSeq.map(q => (got(q) & brute(q)).size.toDouble / 5.0)
        rs.sum / rs.length
      }
      val pq = recallOf(PqOps.pqTopK(queries, e, topk = 5, m = 8, k = 32,
        iters = 1, cand = 50))
      val opq = recallOf(PqOps.opqTopK(queries, e, topk = 5, m = 8, k = 32,
        iters = 1, cand = 50, opqIters = 3))
      assert(opq >= pq, s"nq=$nq: opq recall $opq < raw pq recall $pq")
    }
  }

  test("ivfOpqTopK: recall@5 >= ivfPqTopK at identical geometry; neighbors still come from probed cells") {
    val e = embeddings
    for (nq <- Seq(25, 50)) {
      val queries = e.filter(col("id") < nq)
      val brute = SimilarityOps.bruteForceTopK(queries, e, k = 5)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val rs = brute.keys.toSeq.map(q =>
          (got.getOrElse(q, Set.empty[Long]) & brute(q)).size.toDouble / 5.0)
        rs.sum / rs.length
      }
      val ivfPq = recallOf(PqOps.ivfPqTopK(queries, e, topk = 5))
      val ivfOpq = recallOf(PqOps.ivfOpqTopK(queries, e, topk = 5))
      // the probe set caps the gain (misses happen before ADC ever
      // sees the codes) — the pin is "the rotation never hurts"
      assert(ivfOpq >= ivfPq, s"nq=$nq: ivf+opq $ivfOpq < ivf+pq $ivfPq")
    }
    // coarse stage untouched by the rotation: every returned neighbor
    // still lives in a probed cell of the ORIGINAL-vector quantizer
    val queries = e.filter(col("id") < 25)
    val approx = PqOps.ivfOpqTopK(queries, e, topk = 5)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val cent = KMeansOps.train(e, "embedding", 16, 2, 64)
    val assign = e.select(col("id"),
        element_at(KMeansOps.cellsUdfPublic(cent, 1)(col("embedding")), 1).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probes = queries.select(col("id"),
        KMeansOps.cellsUdfPublic(cent, 6)(col("embedding")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    approx.foreach { case (q, ns) =>
      ns.foreach(n => assert(probes(q).contains(assign(n)),
        s"neighbor $n of query $q is outside the probed cells"))
    }
  }

  test("ivfPqTopK: IVF candidates bound the scan; recall@5 vs brute force stays usable") {
    val e = embeddings
    val queries = e.filter(col("id") < 25)
    val approx = PqOps.ivfPqTopK(queries, e, topk = 5,
        ncells = 16, nprobe = 6, coarseIters = 2, m = 8, k = 32, pqIters = 1, cand = 50)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = SimilarityOps.bruteForceTopK(queries, e, k = 5)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // two stacked approximations (probe pruning + code quantization):
    // the contract is "usable with the cand re-rank", not exactness —
    // the threshold rides below pqTopK's because IVF can prune a true
    // neighbor before ADC ever sees it
    val recalls = brute.keys.toSeq.map(q =>
      (approx.getOrElse(q, Set.empty) & brute(q)).size.toDouble / 5.0)
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.6, s"mean IVF+PQ recall@5 too low: $mean")
    // every returned neighbor must come from a probed cell: re-run the
    // coarse assignment and check containment
    val cent = KMeansOps.train(e, "embedding", 16, 2, 64)
    val assign = e.select(col("id"),
        element_at(KMeansOps.cellsUdfPublic(cent, 1)(col("embedding")), 1).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probes = queries.select(col("id"),
        KMeansOps.cellsUdfPublic(cent, 6)(col("embedding")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    approx.foreach { case (q, ns) =>
      ns.foreach(n => assert(probes(q).contains(assign(n)),
        s"neighbor $n of query $q is outside the probed cells"))
    }
  }

  test("ivfPqTopK plan: equi joins only — no cartesian, no nested loop") {
    val e = embeddings
    val plan = PqOps.ivfPqTopK(e.filter(col("id") < 5), e, topk = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"IVF+PQ must stay equi-join shaped:\n$plan")
  }

  test("sub-codebook training rejects a ragged vector") {
    val ss = spark; import ss.implicits._
    // the ragged row is not among the k lowest ids the init seeds from
    val e = Seq((0L, Seq.fill(8)(0.5f)), (1L, Seq.fill(8)(0.25f)), (2L, Seq.fill(7)(0.75f)))
      .toDF("id", "embedding")
    val err = intercept[Exception](PqOps.trainSubCodebooks(e, "id", "embedding", m = 2, k = 2, subDim = 4, iters = 1))
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains("ragged vector: length 7, expected 8")), messages)
  }
}
