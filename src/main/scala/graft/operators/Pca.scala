package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed PCA over an embedding column: one-pass second-moment
  * aggregation (count + per-dim sums + upper-triangular Gram matrix) via
  * a typed [[Aggregator]], eigen-decomposition of the resulting d × d
  * covariance on the driver (cyclic Jacobi — the matrix is METADATA,
  * d² doubles, not data), and [[powerProject]]'s exact-integer power
  * iteration with map-side projection.
  *
  * Scale design: the only shuffle is the aggregator's merge — each
  * partition contributes one buffer of `1 + d + d(d+1)/2` doubles (for
  * d = 64: ~17 KB), regardless of row count. The naive alternative
  * (posexplode twice + self-join on id) shuffles corpus × d² rows. At
  * 100 TB the pass is scan-bound; nothing downstream of the buffer
  * merge grows with the corpus.
  */
object Pca {

  /** Accumulates [n, s_0..s_{d-1}, G_00, G_01, .., G_{d-1,d-1}] (upper
    * triangle, row-major) in one flat double array. Rows that are null
    * or of a different length are skipped, not crashed on — a ragged
    * corpus surfaces via the count, not a task failure.
    */
  class GramAggregator(d: Int)
      extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    private val tri = d * (d + 1) / 2
    override def zero: Array[Double] = new Array[Double](1 + d + tri)
    override def reduce(b: Array[Double], v: Seq[Double]): Array[Double] = {
      if (v != null && v.length == d) {
        b(0) += 1.0
        // IndexedSeq view once: Seq.apply on a List would be O(d²)
        val a = v.toArray
        var i = 0
        var g = 1 + d
        while (i < d) {
          b(1 + i) += a(i)
          var j = i
          while (j < d) { b(g) += a(i) * a(j); g += 1; j += 1 }
          i += 1
        }
      }
      b
    }
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Double]): Seq[Double] = b.toSeq
    override def bufferEncoder: Encoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] =
      ExpressionEncoder[Seq[Double]]()
  }

  /** Raw moments of the corpus: (n, sums, upper-tri gram), one job. */
  def moments(embeddings: DataFrame, vecCol: String, d: Int): (Double, Array[Double], Array[Double]) = {
    val agg = udaf(new GramAggregator(d), ExpressionEncoder[Seq[Double]]())
    val m = embeddings
      .select(col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .select(agg(col("v")).as("m"))
      .head().getSeq[Double](0).toArray
    val n = m(0)
    (n, java.util.Arrays.copyOfRange(m, 1, 1 + d),
      java.util.Arrays.copyOfRange(m, 1 + d, m.length))
  }

  /** Population covariance entries `(i, j, cov)` for i ≤ j, rounded to
    * `scale` decimals (cross-engine double summation differs in final
    * ulps) with negative zero normalized to `+0.0` (a tiny negative
    * covariance rounds to a signed zero whose sign bit engines disagree
    * on). The result is d(d+1)/2 rows of driver-built metadata.
    */
  def covariance(embeddings: DataFrame, vecCol: String, d: Int,
                 scale: Int = 6): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (n, s, g) = moments(embeddings, vecCol, d)
    require(n > 0, "covariance of an empty corpus")
    val rows = for (i <- 0 until d; j <- i until d) yield {
      val gij = g(triIndex(i, j, d))
      val cov = gij / n - (s(i) / n) * (s(j) / n)
      (i, j, graft.functions.NumFunctions.normNegZero(
        BigDecimal(cov).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    rows.toDF("i", "j", "cov")
  }

  @inline private def triIndex(i: Int, j: Int, d: Int): Int =
    i * d - i * (i - 1) / 2 + (j - i)

  /** Fitted PCA: top-k eigenvectors (row-major [k][d], each sign-fixed
    * so its largest-magnitude entry is positive — eigenvectors are
    * sign-ambiguous, pinning makes projections reproducible),
    * eigenvalues descending, and total variance. All from ONE moments
    * pass.
    */
  final case class Model(components: Array[Array[Double]], eigenvalues: Array[Double],
                         totalVariance: Double)

  /** Top-`k` principal components of the corpus. Cyclic Jacobi on the
    * driver — deterministic, O(d³ · sweeps) on d² metadata.
    */
  def fit(embeddings: DataFrame, vecCol: String, d: Int, k: Int): Model = {
    require(k >= 1 && k <= d, s"need 1 <= k <= d, got k=$k d=$d")
    val (n, s, g) = moments(embeddings, vecCol, d)
    require(n > 0, "PCA of an empty corpus")
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      g(triIndex(a, b, d)) / n - (s(i) / n) * (s(j) / n)
    }
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.zipWithIndex.sortBy(-_._1).map(_._2).take(k)
    val top = order.map { c =>
      val v = Array.tabulate(d)(r => vecs(r)(c))
      val mx = v.indices.maxBy(i => math.abs(v(i)))
      if (v(mx) < 0) v.map(-_) else v
    }
    Model(top, order.map(vals), vals.sum)
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix by COLUMN). Sweeps until the
    * off-diagonal Frobenius mass drops below 1e-12 or 64 sweeps pass.
    */
  private[graft] def jacobiEigen(mIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = mIn.length
    val a = mIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-12 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // sign(0) must be +1 here: equal diagonal entries mean a full
            // 45-degree rotation, not the identity signum(0)=0 would give
            val sgn = if (theta >= 0.0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - sn * aqi
              a(q)(i) = sn * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    s
  }

  /** Top-2 spectral projection by FIXED-POINT POWER ITERATION — the
    * oracle-replayable face of the PCA family. [[fit]]'s Jacobi solve
    * is exact but float-iterative (no SQL engine can replay it);
    * this operator instead derives its two directions from `iters`
    * power-iteration steps in EXACT INTEGER arithmetic over the
    * 6-decimal-quantized covariance grid, so every step — and the
    * final per-row projection — replays bit-for-bit in any engine
    * with big-integer math (the q133/q148 fixed-point recipe):
    *
    *  - covariance entries quantize to units `floor(cov·1e6 + 0.5)`,
    *  - v₀ = the diagonal-argmax unit vector (ties → lowest index),
    *  - each step: `w = C·v`, then `v ← (w·1e6) quot max|wᵢ|`
    *    (truncate-toward-zero: BigInt `/` ≡ DuckDB `//` ≡ Spark `div`;
    *    L∞ normalization keeps everything integral — no sqrt),
    *  - sign pin: largest-|entry| coordinate positive (ties → lowest),
    *  - deflation for the 2nd direction without leaving integers:
    *    `C₂ = (C·den² − num·v vᵀ) quot den²` with `num = vᵀCv`,
    *    `den = vᵀv` — a positive multiple of the exact rank-1
    *    deflation, same eigenvectors, then the same iteration.
    *
    * Projection is map-side only: each vector quantizes to
    * `floor(x·1e6 + 0.5)` and folds against the two component
    * literals — `(id, pc1_units, pc2_units, pc1_r, pc2_r)` with
    * `pc*_r = units / 1e12` rounded to 6. Projections are of RAW
    * (uncentered) vectors: centering shifts every projection by one
    * constant, preserving all pairwise geometry, and omitting it keeps
    * the oracle free of a cross-engine float mean replay. Documented
    * bound: |x| < 1e5 per coordinate (the int64 product headroom).
    *
    * Scale design: the covariance grid is ONE aggregator pass (the
    * [[moments]] buffer — ~17 KB per partition at d=64); iteration is
    * driver-side d² metadata; projection adds zero exchanges.
    * Convergence: with iters ≈ 4 the directions approach the dominant
    * eigenvectors at eigengap-dependent rate — PcaSpec pins alignment
    * against [[fit]] on a planted-spectrum corpus; the ORACLE match is
    * exact regardless of convergence (both sides replay the same
    * arithmetic).
    */
  def powerProject(embeddings: DataFrame, idCol: String, vecCol: String,
                   d: Int, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 16, s"need 1 <= iters <= 16, got $iters")
    val S = BigInt(1000000)
    val C = Array.fill(d, d)(BigInt(0))
    covariance(embeddings, vecCol, d, scale = 6).collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val u = BigInt(math.floor(r.getDouble(2) * 1e6 + 0.5).toLong)
      C(i)(j) = u; C(j)(i) = u
    }
    def powerIter(m: Array[Array[BigInt]]): Array[BigInt] = {
      var best = 0
      var i = 1
      while (i < d) { if (m(i)(i) > m(best)(best)) best = i; i += 1 }
      var v = Array.tabulate(d)(i => if (i == best) S else BigInt(0))
      for (_ <- 1 to iters) {
        val w = Array.tabulate(d) { i =>
          var acc = BigInt(0); var j = 0
          while (j < d) { acc += m(i)(j) * v(j); j += 1 }
          acc
        }
        val mx = w.map(_.abs).max
        if (mx > 0) v = w.map(x => (x * S) / mx)
      }
      var k = 0
      i = 1
      while (i < d) { if (v(i).abs > v(k).abs) k = i; i += 1 }
      if (v(k) < 0) v.map(-_) else v
    }
    val v1 = powerIter(C)
    val den = v1.map(x => x * x).sum
    var num = BigInt(0)
    for (i <- 0 until d; j <- 0 until d) num += v1(i) * C(i)(j) * v1(j)
    val dd2 = den * den
    val v2 = powerIter(Array.tabulate(d, d)((i, j) =>
      (C(i)(j) * dd2 - num * v1(i) * v1(j)) / dd2))

    val x = col(vecCol).cast("array<double>")
    val xq = transform(x, e => floor(e * lit(1e6) + lit(0.5)).cast("long"))
    def proj(v: Array[BigInt]): Column = {
      val vlit = array(v.map(b => lit(b.toLong)).toIndexedSeq: _*)
      aggregate(zip_with(xq, vlit, (a, b) => a * b), lit(0L), (acc, t) => acc + t)
    }
    embeddings.filter(x.isNotNull && size(x) === d)
      .select(col(idCol), proj(v1).as("pc1_units"), proj(v2).as("pc2_units"))
      .withColumn("pc1_r", graft.functions.NumFunctions.roundNz(
        col("pc1_units").cast("double") / 1e12, 6))
      .withColumn("pc2_r", graft.functions.NumFunctions.roundNz(
        col("pc2_units").cast("double") / 1e12, 6))
  }
}
