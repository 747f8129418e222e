package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Specs for covariance/PCA: exact-integer covariance vs a naive
  * driver-side replay, partition invariance, Jacobi eigensolver
  * properties, and projection variance ordering. */
class PcaOpsSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("covariance equals the naive quantized-sum replay; partition invariant") {
    val vecs = embeddings.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val dim = 64
    val n = vecs.length.toLong
    val s1 = new Array[Long](dim)
    val s2 = Array.ofDim[Long](dim, dim)
    vecs.foreach { v =>
      for (i <- 0 until dim) {
        s1(i) += math.floor(v(i).toDouble * 1.0e7 + 0.5).toLong
        for (j <- i until dim)
          s2(i)(j) += math.floor(v(i).toDouble * v(j).toDouble * 1.0e9 + 0.5).toLong
      }
    }
    def expect(i: Int, j: Int): Double =
      BigDecimal((s2(i)(j).toDouble / 1.0e9) / n.toDouble
          - (s1(i).toDouble / 1.0e7 / n.toDouble) * (s1(j).toDouble / 1.0e7 / n.toDouble))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = PcaOps.covariance(embeddings.repartition(7), "embedding", dim)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == dim * (dim + 1) / 2)
    for (((i, j), (gn, gc)) <- got) {
      assert(gn == n)
      assert(gc == expect(i, j), s"cov($i,$j)")
    }
    val again = PcaOps.covariance(embeddings.repartition(1), "embedding", dim)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(3))).toMap
    assert(got.view.mapValues(_._2).toMap == again)
  }

  test("jacobiEigen: known 2x2 eigensystem, orthonormal vectors, Av = lambda v") {
    // [[2,1],[1,2]] has eigenvalues 3 (vec (1,1)/sqrt2) and 1
    val (vals, vecs) = PcaOps.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12)
    assert(math.abs(vecs(0)(0) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(vecs(0)(1) - math.sqrt(0.5)) < 1e-12)
    // orthonormality
    val dot = vecs(0).zip(vecs(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 1e-12)
  }

  test("projection: component variances descend and match explainedVariance") {
    val k = 4
    val proj = PcaOps.project(embeddings, "vec_id", "embedding", 64, k)
      .select((0 until k).map(i => col("projection")(i).as(s"c$i")): _*)
      .collect()
    val n = proj.length.toDouble
    val vars = (0 until k).map { i =>
      val xs = proj.map(_.getDouble(i))
      val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / n
    }
    assert(vars.sliding(2).forall(p => p(0) >= p(1) - 1e-9),
      s"projected variances must descend: $vars")
    val ev = PcaOps.explainedVariance(embeddings, "embedding", 64, k)
    // variance along component c == its eigenvalue
    for (i <- 0 until k)
      assert(math.abs(vars(i) - ev(i)._2) < 1e-4,
        s"component $i: projected var ${vars(i)} vs eigenvalue ${ev(i)._2}")
    assert(ev.map(_._3).sum <= 1.0 + 1e-9)
  }
}
