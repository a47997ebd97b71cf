package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `random_hyperplane_signature(vec)` (Charikar, STOC 2002 §3) — sign
  * pattern of `bits` dot
  * products against pseudo-random Gaussian hyperplanes, packed into a
  * Long. The LSH primitive for cosine similarity (SimHash-for-vectors):
  * P[sig bits agree] = 1 - θ(a,b)/π per bit.
  *
  * Hyperplanes are generated lazily per observed input dimension from
  * java.util.Random(seed ⊕ dim) — the JDK specifies the generator
  * algorithm, so buckets are identical on every executor/JVM.
  *
  * `portable = true` swaps the Gaussian entries for Rademacher ±1
  * drawn from the low bit of MD5(`"seed:bit:dim-index"`) — sign random
  * projection with ±1 entries is the same Charikar family (Achlioptas,
  * JCSS 2003 shows ±1 projections preserve the geometry), and unlike
  * `nextGaussian()` (a rejection loop) the construction replays in
  * plain SQL, so an oracle can rebuild every bucket bit-for-bit
  * (`MediaQueries.q26`'s DuckDB twin does exactly that). Production
  * callers keep the Gaussian default; recall of both modes is pinned
  * in SimilaritySpec.
  */
/** Hyperplane matrix generation shared by [[RandomHyperplaneSignature]]
  * and [[RandomHyperplaneMultiprobe]] — one construction, so a
  * multiprobed side always joins the single-signature side's buckets
  * in BOTH modes.
  */
private[functions] object HyperplanePlanes {
  def gen(bits: Int, dim: Int, seed: Long, portable: Boolean): Array[Double] =
    if (portable) {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(bits * dim) { j =>
        val b = j / dim
        val i = j % dim
        val h = md.digest(s"$seed:$b:$i"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // low bit of the first 8 big-endian bytes = low bit of byte 7
        // = parity of the 16th hex digit — what the oracle replays
        if ((h(7) & 1) == 1) 1.0 else -1.0
      }
    } else {
      val rnd = new java.util.Random(seed ^ (dim.toLong * 0x9E3779B97F4A7C15L))
      Array.fill(bits * dim)(rnd.nextGaussian())
    }
}

case class RandomHyperplaneSignature(child: Expression, bits: Int, seed: Long,
                                     portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")

  override def dataType: DataType = LongType

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // dim -> bits × dim plane matrix (row-major), cached per executor
  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def planes(dim: Int): Array[Double] =
    planeCache.computeIfAbsent(dim, d =>
      HyperplanePlanes.gen(bits, d, seed, portable))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val p = planes(n)
    val f = isFloat
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      val off = b * n
      while (i < n) {
        val x = if (f) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += x * p(off + i)
        i += 1
      }
      if (dot >= 0.0) sig |= (1L << b)
      b += 1
    }
    sig
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `random_hyperplane_multiprobe(vec)` — the base signature plus its
  * `probes` least-confident single-bit flips (Lv et al., "Multi-probe
  * LSH", VLDB 2007, adapted to the hyperplane family): a true near
  * neighbor most likely lands one bucket away on the hyperplane whose
  * |dot| is smallest, so probing those flips recovers most of the
  * recall extra hash tables would buy at a fraction of the candidate
  * volume (probing multiplies only the PROBE side's rows; a new table
  * re-hashes both sides). Plane generation is IDENTICAL to
  * [[RandomHyperplaneSignature]] for the same seed (and the same
  * `portable` mode — MD5 Rademacher ±1 planes that replay in SQL, the
  * q26 discipline; `MediaQueries.q147`'s oracle rebuilds the multiprobe
  * buckets from them), so a multiprobed side joins directly against
  * single-signature buckets.
  *
  * Returns `array<bigint>` of 1 + `probes` distinct signatures, base
  * first, then flips in increasing (|dot|, bit) order — the tie on
  * equal |dot| goes to the LOWER bit index (strict `<` selection),
  * which the oracle's `(abs(d), b)` sort key replays.
  */
case class RandomHyperplaneMultiprobe(child: Expression, bits: Int, seed: Long,
                                      probes: Int, portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
  require(probes >= 0 && probes < bits, "probes must be in [0, bits)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def planes(dim: Int): Array[Double] =
    planeCache.computeIfAbsent(dim, d =>
      HyperplanePlanes.gen(bits, d, seed, portable))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val p = planes(n)
    val f = isFloat
    val absDots = new Array[Double](bits)
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      val off = b * n
      while (i < n) {
        val x = if (f) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += x * p(off + i)
        i += 1
      }
      if (dot >= 0.0) sig |= (1L << b)
      absDots(b) = math.abs(dot)
      b += 1
    }
    // per round, pick the unselected bit minimizing (|dot|, bit): the
    // ascending-index scan with strict < resolves exact |dot| ties to
    // the LOWEST bit — the documented order, and what the q147
    // oracle's ORDER BY abs(d), b replays. (A swap-based selection
    // sort would permute the scan order and break tie resolution.)
    // bits <= 64 and probes is typically 1-3, so this stays trivially
    // cheap per row.
    val selected = new Array[Boolean](bits)
    val out = new Array[Any](1 + probes)
    out(0) = sig
    var k = 0
    while (k < probes) {
      var best = -1
      var j = 0
      while (j < bits) {
        if (!selected(j) && (best < 0 || absDots(j) < absDots(best))) best = j
        j += 1
      }
      selected(best) = true
      out(k + 1) = sig ^ (1L << best)
      k += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
