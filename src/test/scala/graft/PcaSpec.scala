package graft

import org.apache.spark.sql.functions._
import graft.operators.Pca

/** PCA pinned by its spectral invariants: the aggregator's covariance
  * equals a driver-side brute force; Jacobi solves a known matrix;
  * Cv = λv; components are orthonormal.
  */
class PcaSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def bruteCov(vecs: Seq[Seq[Double]]): Array[Array[Double]] = {
    val n = vecs.length
    val d = vecs.head.length
    val mean = (0 until d).map(p => vecs.map(_(p)).sum / n)
    Array.tabulate(d, d) { (i, j) =>
      vecs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n
    }
  }

  test("GramAggregator covariance equals the driver-side brute force") {
    val vecs = Seq(
      Seq(1.0, 2.0, 0.5), Seq(2.0, 1.0, 0.5), Seq(3.0, 0.0, 1.5),
      Seq(0.0, 3.0, -0.5), Seq(1.5, 1.5, 0.5))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val got = Pca.covariance(df, "vec", d = 3, scale = 9)
      .as[(Int, Int, Double)].collect()
      .map { case (i, j, c) => ((i, j), c) }.toMap
    val want = bruteCov(vecs)
    for (i <- 0 until 3; j <- i until 3)
      assert(math.abs(got((i, j)) - want(i)(j)) < 1e-9, s"cov($i,$j)")
  }

  test("jacobiEigen solves a known symmetric matrix") {
    // [[2,1],[1,2]] has eigenvalues 3 and 1 with vectors (1,1)/√2, (1,-1)/√2
    val (vals, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val sorted = vals.sorted
    assert(math.abs(sorted(0) - 1.0) < 1e-10 && math.abs(sorted(1) - 3.0) < 1e-10)
    // eigenvector check: A v = λ v for each column
    for (c <- 0 until 2) {
      val v = Array(vecs(0)(c), vecs(1)(c))
      val av = Array(2 * v(0) + v(1), v(0) + 2 * v(1))
      val ratio = av(0) / v(0)
      assert(math.abs(av(1) / v(1) - ratio) < 1e-10)
    }
  }

  test("fit: Cv = lambda*v, components orthonormal, eigenvalues descending") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val d = 64
    val model = Pca.fit(e, "embedding", d, k = 3)
    assert(model.eigenvalues.length === 3)
    assert(model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    // rebuild the covariance and check the eigen equation
    val cov = Pca.covariance(e, "embedding", d, scale = 12)
      .as[(Int, Int, Double)].collect()
      .flatMap { case (i, j, c) => Seq(((i, j), c), ((j, i), c)) }.toMap
    for ((v, li) <- model.components.zipWithIndex) {
      val lambda = model.eigenvalues(li)
      val cv = Array.tabulate(d)(i => (0 until d).map(j => cov((i, j)) * v(j)).sum)
      for (i <- 0 until d)
        assert(math.abs(cv(i) - lambda * v(i)) < 1e-6, s"Cv != lambda*v at $i")
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, "component not unit norm")
      // sign pin: largest-magnitude entry is positive
      val mx = v.indices.maxBy(i => math.abs(v(i)))
      assert(v(mx) > 0, "sign not pinned")
    }
    // orthogonality across components
    for (a <- 0 until 3; b <- (a + 1) until 3) {
      val dot = model.components(a).zip(model.components(b)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot) < 1e-9, s"components $a,$b not orthogonal")
    }
  }

  test("q95/q96 execute on the fixture with the declared shapes") {
    val cov = SparkEntry.q95(spark, sf0001)
    assert(cov.count() === 64L * 65 / 2)
    assert(cov.columns.toSeq === Seq("i", "j", "cov"))
    val pr = SparkEntry.q96(spark, sf0001)
    assert(pr.columns.toSeq ===
      Seq("vec_id", "pc1_units", "pc2_units", "pc1_r", "pc2_r"))
    assert(pr.count() > 0)
  }

  test("powerProject aligns with the Jacobi eigenbasis on a planted spectrum") {
    // strong eigengap: dim 0 has 10x the variance of dim 1, everything
    // else is tiny — 4 power steps must lock onto dims 0 then 1.
    // Deterministic +-1 patterns (i odd/even) give exact variances.
    val d = 8
    val rows = (0 until 256).map { i =>
      val v = Array.fill(d)(0.001 * ((i * 7 + 3) % 5 - 2))
      v(0) = if (i % 2 == 0) 10.0 else -10.0
      v(1) = if (i % 4 < 2) 3.0 else -3.0
      (i.toLong, v.toSeq)
    }
    val e = rows.toDF("vec_id", "embedding")
    val pr = Pca.powerProject(e, "vec_id", "embedding", d, iters = 4)
      .orderBy("vec_id")
      .select("vec_id", "pc1_units", "pc2_units")
      .as[(Long, Long, Long)].collect()
    // pc1 must separate the +-10 strata of dim 0: sign of pc1 follows
    // i % 2; pc2 follows the dim-1 strata (i % 4 < 2)
    assert(pr.forall { case (i, p1, _) => (p1 > 0) == (i % 2 == 0) })
    assert(pr.forall { case (i, _, p2) => (p2 > 0) == (i % 4 < 2) })
    // magnitudes: |pc1| ~ 10 * 1e12 units dominated by dim 0
    assert(pr.forall { case (_, p1, _) => math.abs(p1) > 5e12 })
  }

  test("powerProject survives a constant (zero-covariance) corpus") {
    val e = (0 until 10).map(i => (i.toLong, Seq.fill(4)(2.5)))
      .toDF("vec_id", "embedding")
    val pr = Pca.powerProject(e, "vec_id", "embedding", 4, iters = 3)
      .select("pc1_units").as[Long].collect()
    assert(pr.length === 10) // no crash; v stays at the start vector
  }
}
