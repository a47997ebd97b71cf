package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local kernel for the Gopher repetition gates (Rae et al. 2021,
  * Appendix A): duplicate-line fractions plus top/duplicated n-gram
  * character shares for n = 2..10 — ALL per-document statistics, so
  * nothing ever needs to leave the row. The previous implementation
  * exploded every n-gram of every size into a corpus-wide
  * `(doc, n, gram)` aggregate: a ~9× shuffle of the token stream (gram
  * STRINGS, up to 10 words each — ~50× the text size at the wire) for
  * numbers each document can compute alone. This kernel folds one
  * hash map per gram size over the token array — memory bounded by
  * the document's own length — and emits the finished eleven ratios,
  * the same zero-exchange discipline as [[UnigramKernel]] (q190).
  *
  * Determinism contract (load-bearing for the exact q193 oracle):
  *  - tokens = whitespace split ([[TextFunctions.tokens]]' class),
  *    lines = newline split, both with empties dropped;
  *  - all "length" counts are Unicode CODE POINTS — Spark's
  *    `length()` (UTF8String.numChars) and DuckDB's `length()` agree
  *    on code points, not UTF-16 units;
  *  - the top gram per size is the (count DESC, gram ASC) argmax with
  *    grams ordered by CODE POINT (≡ UTF-8 byte ≡ UTF8String binary
  *    order — NOT `String.compareTo`, which misorders supplementary
  *    characters against surrogates);
  *  - every ratio is one integer ÷ integer division rounded to 6
  *    decimals with the exact arithmetic Spark's `round(_, 6)` runs on
  *    doubles (shortest-decimal BigDecimal, HALF_UP), then `-0.0`
  *    normalized ([[NumFunctions]]' convention).
  */
private[graft] object RepetitionKernel {

  private val nlSplit = java.util.regex.Pattern.compile("\n")

  def tokens(text: String): Array[String] =
    TextFunctions.whitespacePattern.split(text, -1).filter(_.nonEmpty)

  def lines(text: String): Array[String] =
    nlSplit.split(text, -1).filter(_.nonEmpty)

  /** Code-point count — Spark `length()` / DuckDB `length()`. */
  def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Code-point order ≡ UTF-8 byte order ≡ UTF8String binary order. */
  def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Exactly Spark's `round(x, 6)` on a double (RoundBase: NaN/Inf
    * pass through, else shortest-decimal BigDecimal, HALF_UP), then
    * signed-zero normalization. */
  def round6Nz(x: Double): Double = {
    if (x.isNaN || x.isInfinite) return x
    val r = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    if (r == 0.0) 0.0 else r
  }

  /** `num / den` rounded — 0.0 when the denominator is empty or the
    * statistic does not exist (no grams of that size), the convention
    * the oracle's `CASE WHEN coalesce(den,0)=0 OR num IS NULL` pins. */
  def frac(num: Long, den: Long, defined: Boolean = true): Double =
    if (!defined || den == 0L) 0.0
    else round6Nz(num.toDouble / den.toDouble)

  /** The eleven ratios plus the line count, in output-column order:
    * `(n_lines, dup_line_r, dup_line_char_r, top2_r..top4_r,
    * dup5_r..dup10_r)`. One pass builds all nine gram maps by
    * extending each start position's gram incrementally (total work =
    * total gram characters, no re-joins); gram character lengths come
    * from a code-point prefix sum, never from rescanning the gram. */
  def metrics(text: String): (Long, Array[Double]) = {
    val toks = tokens(text)
    val nTok = toks.length
    // tchars = len(concat_ws(' ', tokens)): token code points + gaps
    val cps = new Array[Long](nTok + 1) // prefix sums of cpLen
    var i = 0
    while (i < nTok) { cps(i + 1) = cps(i) + cpLen(toks(i)); i += 1 }
    val tchars = if (nTok == 0) 0L else cps(nTok) + nTok - 1

    // gram maps, gramMap(n - 2) — value counts per n-gram string
    val maxN = 10
    val gramMap = Array.fill(9)(new java.util.HashMap[String, Long]())
    i = 0
    while (i < nTok) {
      val top = math.min(maxN, nTok - i)
      if (top >= 2) {
        val sb = new java.lang.StringBuilder(toks(i))
        var n = 2
        while (n <= top) {
          sb.append(' ').append(toks(i + n - 1))
          val m = gramMap(n - 2)
          val g = sb.toString
          m.put(g, m.getOrDefault(g, 0L) + 1L)
          n += 1
        }
      }
      i += 1
    }

    val out = new Array[Double](11)
    // gram cp length: token prefix sum + (n - 1) separators — only
    // needed for the top gram (argmax re-derives its start is lost, so
    // measure the winning STRING; dup sums measure each key once)
    var n = 2
    while (n <= maxN) {
      val m = gramMap(n - 2)
      if (!m.isEmpty) {
        if (n <= 4) {
          var bestG: String = null
          var bestC = 0L
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue
            if (bestG == null || c > bestC ||
                (c == bestC && cpCompare(e.getKey, bestG) < 0)) {
              bestG = e.getKey; bestC = c
            }
          }
          out(n) = frac(bestC * cpLen(bestG).toLong, tchars)
        } else {
          var dup = 0L
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue >= 2L)
              dup += (e.getValue - 1L) * cpLen(e.getKey).toLong
          }
          out(n) = frac(dup, tchars)
        }
      } // else: no grams of this size → 0.0 (array default)
      n += 1
    }

    val lns = lines(text)
    val lineMap = new java.util.HashMap[String, Long]()
    var lchars = 0L
    i = 0
    while (i < lns.length) {
      lineMap.put(lns(i), lineMap.getOrDefault(lns(i), 0L) + 1L)
      lchars += cpLen(lns(i)).toLong
      i += 1
    }
    val nLines = lns.length.toLong
    var duplc = 0L
    val it = lineMap.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue >= 2L) duplc += (e.getValue - 1L) * cpLen(e.getKey).toLong
    }
    out(0) = frac(nLines - lineMap.size().toLong, nLines)
    out(1) = frac(duplc, lchars)
    (nLines, out)
  }
}

/** `repetition_metrics(text)` — the full Gopher repetition gate family
  * as ONE row-local struct: `(n_lines, dup_line_r, dup_line_char_r,
  * top2_r..top4_r, dup5_r..dup10_r)`. Zero exchanges at any corpus
  * size; per-row memory bounded by the document's own token count.
  */
case class RepetitionMetrics(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(
    StructField("n_lines", LongType, nullable = false) +:
      RepetitionMetrics.ratioFields.map(StructField(_, DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val (nLines, r) = RepetitionKernel.metrics(input.asInstanceOf[UTF8String].toString)
    InternalRow.fromSeq(nLines +: r.toIndexedSeq)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RepetitionMetrics {
  val ratioFields: Seq[String] =
    Seq("dup_line_r", "dup_line_char_r") ++
      (2 to 4).map(n => s"top${n}_r") ++ (5 to 10).map(n => s"dup${n}_r")

  def repetitionMetrics(text: Column): Column =
    ColumnBridge.column(RepetitionMetrics(ColumnBridge.expression(text)))
}
