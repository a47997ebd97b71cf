package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** SQL-registration type guard shared by every vector kernel (a
  * non-array child must fail analysis with a TypeCheckFailure, not
  * blow up execution with a ClassCastException), and the element
  * widening the centroid kernels share.
  */
private[functions] object VectorTypeCheck {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  def floatOrDoubleArray(dt: DataType, name: String): TypeCheckResult =
    dt match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name needs array<float> or array<double>, got ${other.catalogString}")
    }

  /** The row's vector widened to Double once, so a kernel's
    * per-centroid loops read a primitive array instead of calling
    * `getFloat`/`getDouble` and branching on the element type per
    * element. The values, and so every sum over them, are unchanged.
    */
  def widened(a: ArrayData, isFloat: Boolean): Array[Double] =
    if (!isFloat) a.toDoubleArray()
    else {
      val out = new Array[Double](a.numElements()); var i = 0
      while (i < out.length) { out(i) = a.getFloat(i).toDouble; i += 1 }
      out
    }
}

/** Shared machinery for pairwise float/double-vector expressions over
  * `ArrayType(FloatType|DoubleType)` columns (the `embeddings.embedding`
  * fixture column is `array<float>`).
  *
  * North-star similarity-search scalar kernel (SURVEY.md §2.2 Q14). All
  * arithmetic is performed in Double after widening, so results are
  * deterministic and match an oracle that casts to DOUBLE[] first.
  */
abstract class VectorBinaryExpression extends BinaryExpression with KernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = VectorTypeCheck.floatOrDoubleArray(left.dataType, prettyName)
    if (!l.isSuccess) l
    else VectorTypeCheck.floatOrDoubleArray(right.dataType, prettyName)
  }

  protected def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @inline protected final def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
}

/** `dot(a, b)` — inner product in Double; null on length mismatch. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else {
      val lf = leftIsFloat; val rf = rightIsFloat
      var s = 0.0; var i = 0; val n = a.numElements()
      while (i < n) { s += elem(a, i, lf) * elem(b, i, rf); i += 1 }
      s
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `cosine_similarity(a, b)` = dot(a,b) / (||a||·||b||), computed in one
  * pass in Double. Null on length mismatch or a zero-norm input.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else {
      val lf = leftIsFloat; val rf = rightIsFloat
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0; val n = a.numElements()
      while (i < n) {
        val x = elem(a, i, lf); val y = elem(b, i, rf)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `nearest_centroid(vec)` — index of the cosine-nearest centroid from a
  * plan-constant centroid matrix (the IVF coarse-quantizer assignment,
  * [[graft.operators.IvfIndex]]). The matrix is nlist × dim metadata
  * carried in the expression, so
  * cell assignment is a pure map-side projection: no crossJoin against a
  * centroid table, no groupBy-by-vector shuffle.
  *
  * Scoring maximizes dot(v, c)/||c|| — equal to the cosine argmax because
  * ||v|| is a constant positive scale per row (a zero-norm row scores
  * -inf everywhere and lands deterministically in cell 0). Ties break to
  * the smallest cell index; centroids with mismatched length or zero
  * norm are skipped. A row NO centroid can score (every centroid's
  * length differs from the vector's, or all are zero-norm) yields null
  * — a ragged row must surface, not silently land in cell 0 (same
  * policy as [[PqAdcScore]]'s corrupted-input handling).
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with KernelCodegen {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.floatOrDoubleArray(child.dataType, prettyName)

  private def childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // 1/||c|| per centroid, precomputed once (0.0 marks a zero-norm cell)
  @transient private lazy val invNorms: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    if (s == 0.0) 0.0 else 1.0 / math.sqrt(s)
  }

  override def nullSafeEval(v: Any): Any = {
    val x = VectorTypeCheck.widened(v.asInstanceOf[ArrayData], childIsFloat)
    val n = x.length
    val norms = invNorms
    var best = 0; var bestScore = Double.NegativeInfinity
    var cell = 0
    while (cell < centroids.length) {
      val c = centroids(cell)
      if (c.length == n && norms(cell) > 0.0) {
        var dot = 0.0; var i = 0
        while (i < n) { dot += x(i) * c(i); i += 1 }
        val s = dot * norms(cell)
        if (s > bestScore) { bestScore = s; best = cell }
      }
      cell += 1
    }
    if (bestScore == Double.NegativeInfinity) null else best
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `nearest_centroid_l2(vec)` — index of the L2-nearest centroid from a
  * plan-constant centroid matrix: the product-quantizer assignment
  * kernel ([[graft.operators.Quantize]]), where sub-vectors are NOT
  * norm-comparable so the cosine argmax of [[NearestCentroid]] is the
  * wrong metric. Minimizes ||v||² - 2·dot(v,c) + ||c||²; ||v||² is a
  * per-row constant, so the scan scores `||c||² - 2·dot` and takes the
  * argmin. Ties break to the smallest index; mismatched-length
  * centroids are skipped. A vector NO centroid matches in length yields
  * null — a ragged row must surface, not silently take code 0 (same
  * policy as [[PqAdcScore]]).
  */
case class NearestCentroidL2(child: Expression, centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with KernelCodegen {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.floatOrDoubleArray(child.dataType, prettyName)

  private def childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val sqNorms: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  override def nullSafeEval(v: Any): Any = {
    val x = VectorTypeCheck.widened(v.asInstanceOf[ArrayData], childIsFloat)
    val n = x.length
    val norms = sqNorms
    var best = 0; var bestScore = Double.PositiveInfinity
    var cell = 0
    while (cell < centroids.length) {
      val c = centroids(cell)
      if (c.length == n) {
        var dot = 0.0; var i = 0
        while (i < n) { dot += x(i) * c(i); i += 1 }
        val s = norms(cell) - 2.0 * dot
        if (s < bestScore) { bestScore = s; best = cell }
      }
      cell += 1
    }
    if (bestScore == Double.PositiveInfinity) null else best
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_adc_score(codes, lut)` — asymmetric-distance accumulation for
  * product-quantized search ([[graft.operators.Quantize.pqTopK]]):
  * `sum_s lut[s * ksub + codes[s]]`, where `lut` is the per-probe table
  * of subspace partial dot products. One array index per subspace — the
  * corpus row is scored without decoding. Null on null/malformed input;
  * out-of-range codes score null (a corrupted index must surface, not
  * silently skew ranking).
  */
case class PqAdcScore(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with KernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val lut = lutAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var acc = 0.0; var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      val idx = s * ksub + c
      if (c < 0 || c >= ksub || idx >= lut.numElements()) return null
      acc += lut.getDouble(idx)
      s += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `cosine_own_max(vec, ownIdx)` — the silhouette scoring kernel
  * ([[graft.operators.Similarity.silhouetteSimplified]]): ONE pass over
  * a plan-constant centroid matrix per row, returning the 2-element
  * array `[cos(vec, centroid(ownIdx)), max over cells != ownIdx of
  * cos(vec, centroid(cell))]`. Each element is null exactly when the
  * fused [[CosineSimilarity]] kernel would be (length mismatch or a
  * zero-norm side), and every cosine is the kernel's bit-identical
  * chain `dot / (sqrt(na) * sqrt(nb))` with the row norm accumulated
  * ONCE — where the previous formulation (a fold of `maxClusters`
  * independent CosineSimilarity calls inside nested CASE WHENs)
  * re-accumulated the row norm per cell and generated code past the
  * JIT/codegen limits at real cluster counts.
  */
case class CosineOwnMax(left: Expression, right: Expression,
                        centroids: Array[Array[Double]])
    extends BinaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = VectorTypeCheck.floatOrDoubleArray(left.dataType, prettyName)
    if (!l.isSuccess) l
    else if (right.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an integer own-centroid index, got ${right.dataType.catalogString}")
  }

  private def childIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // sqrt(||c||^2) per centroid, precomputed once — the same double the
  // fused kernel's per-call Math.sqrt(nb) produces (0.0 marks zero-norm)
  @transient private lazy val sqrtNorms: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  override def nullSafeEval(v: Any, idxAny: Any): Any = {
    val x = VectorTypeCheck.widened(v.asInstanceOf[ArrayData], childIsFloat)
    val ownIdx = idxAny.asInstanceOf[Int]
    val n = x.length
    val norms = sqrtNorms
    var na = 0.0; var i = 0
    while (i < n) { na += x(i) * x(i); i += 1 }
    val sqna = math.sqrt(na)
    var own: Any = null
    var best = 0.0; var any = false
    var cell = 0
    while (cell < centroids.length) {
      val c = centroids(cell)
      if (c.length == n && na != 0.0 && norms(cell) != 0.0) {
        var dot = 0.0; i = 0
        while (i < n) { dot += x(i) * c(i); i += 1 }
        val cos = dot / (sqna * norms(cell))
        if (cell == ownIdx) own = cos
        else if (!any || cos > best) { best = cos; any = true }
      }
      cell += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](own, if (any) best else null))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `l2_normalize(vec)` — vector scaled to unit L2 norm, in one pass
  * (norm accumulation + scale, no per-element lambda interpretation —
  * a `transform(v, x -> x / sqrt(dot))` composition re-evaluates the
  * norm subtree per element and runs interpreted). Output is
  * array<double>; a zero-norm or empty vector normalizes to itself
  * (all zeros), never NaN.
  */
case class L2Normalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorTypeCheck.floatOrDoubleArray(child.dataType, prettyName)

  private def childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val isF = childIsFloat
    val n = a.numElements()
    val out = new Array[Double](n)
    var s = 0.0; var i = 0
    while (i < n) {
      val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = x; s += x * x; i += 1
    }
    if (s > 0.0) {
      val inv = 1.0 / math.sqrt(s)
      i = 0
      while (i < n) { out(i) *= inv; i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API surface for the vector kernels. */
object VectorFunctions {
  import ColumnBridge.{column, expression}
  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def cosineSimilarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCentroid(expression(vec), centroids))
  def nearestCentroidL2(vec: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCentroidL2(expression(vec), centroids))
  def pqAdcScore(codes: Column, lut: Column, ksub: Int): Column =
    column(PqAdcScore(expression(codes), expression(lut), ksub))
  def cosineOwnMax(vec: Column, ownIdx: Column,
                   centroids: Array[Array[Double]]): Column =
    column(CosineOwnMax(expression(vec), expression(ownIdx), centroids))
  def l2Normalize(vec: Column): Column = column(L2Normalize(expression(vec)))
}
