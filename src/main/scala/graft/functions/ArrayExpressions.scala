package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `string_array_except_set(tokens)` — drop every element that is in a
  * fixed excluded set, PRESERVING order and duplicates (unlike
  * `array_except`, which dedups the left side). The driver-provided set
  * rides in the expression as a hashed `UTF8String` set, so membership
  * is O(1) per element — the composed alternative (`filter(tokens, t ->
  * !array_contains(lit(stop), t))`) runs the lambda interpreted and
  * scans the literal array linearly per element: O(|tokens|·|stop|)
  * interpreted vs one hashed pass here (BASELINE.md `df_prune`). The
  * apply face of [[graft.operators.Corpus.pruneHighDfTokens]].
  */
case class StringArrayExceptSet(child: Expression, excluded: Array[String])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "string_array_except_set"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<string>, got ${other.catalogString}")
    }
  }

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(16, excluded.length * 2))
    excluded.foreach(e => s.add(UTF8String.fromString(e)))
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) out.add(null)
      else {
        val v = arr.getUTF8String(i)
        if (!set.contains(v)) out.add(v)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `cdc_chunks(text)` — content-defined chunking: the document is cut
  * where a `width`-code-point rolling window hash has its low
  * `maskBits` bits zero (expected chunk ≈ 2^maskBits chars), bounded
  * by `[minChars, maxChars]`. Returns `array<struct<offset, len,
  * hash>>` (code-point offsets; hash = xxHash64 of the chunk's bytes).
  * The storage-dedup / long-document primitive (Muthitacharoen et al.,
  * "A low-bandwidth network file system", SOSP 2001): because
  * boundaries depend only on LOCAL content, an edit reshapes O(1)
  * chunks while fixed-stride chunking shifts every chunk after the
  * edit — chunk-hash equality then finds shared spans across documents
  * as a plain equi-join, no quadratic alignment. One pass per row, no
  * string allocation until nothing (hashes only); map-side everywhere.
  *
  * Boundary rule details (all spec-pinned): the window ENDING at
  * code-point `p` (p ≥ width) proposes a cut at `p`; proposals closer
  * than `minChars` to the chunk start are ignored; a chunk reaching
  * `maxChars` cuts unconditionally; the tail remainder is always its
  * own chunk. Texts shorter than `width` yield one whole-text chunk.
  */
case class CdcChunkHashes(child: Expression, width: Int, maskBits: Int,
                          minChars: Int, maxChars: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1 && maskBits >= 1 && maskBits <= 62,
    s"need width >= 1, maskBits in [1, 62]; got $width, $maskBits")
  require(minChars >= 1 && maxChars >= minChars,
    s"need 1 <= minChars <= maxChars; got $minChars, $maxChars")
  // the first window ends at p = width, so no cut can happen earlier and
  // a maxChars below width would silently emit width-length chunks,
  // violating the documented [minChars, maxChars] bound
  require(maxChars >= width,
    s"need maxChars >= width (first possible cut is at width); got " +
      s"maxChars=$maxChars width=$width")

  import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("offset", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("hash", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string child, got ${child.dataType.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    val mask = (1L << maskBits) - 1L

    // code-point start byte offsets + end sentinel (CharWindowHashes idiom)
    val starts = new Array[Int](len + 1)
    var nCp = 0
    var i = 0
    while (i < len) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if ((b & 0xC0) != 0x80) { starts(nCp) = i; nCp += 1 }
      i += 1
    }
    starts(nCp) = len

    val rows = new java.util.ArrayList[AnyRef]()
    def emit(fromCp: Int, untilCp: Int): Unit = {
      val fromB = starts(fromCp); val untilB = starts(untilCp)
      rows.add(org.apache.spark.sql.catalyst.InternalRow(
        fromCp, untilCp - fromCp,
        XXH64.hashUnsafeBytes(base, off + fromB, untilB - fromB, seed)))
    }
    if (nCp == 0) return new GenericArrayData(Array.empty[AnyRef])
    var chunkStart = 0
    var p = width // windows end at p = width .. nCp
    while (p <= nCp) {
      val inChunk = p - chunkStart
      val isCut =
        if (inChunk >= maxChars) true
        else if (inChunk < minChars) false
        else {
          val fromB = starts(p - width); val untilB = starts(p)
          val h = XXH64.hashUnsafeBytes(base, off + fromB, untilB - fromB, seed)
          (h & mask) == 0L
        }
      if (isCut) { emit(chunkStart, p); chunkStart = p }
      p += 1
    }
    if (chunkStart < nCp) emit(chunkStart, nCp)
    new GenericArrayData(rows.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `common_prefix_len(a, b)` — length in CODE POINTS of the longest
  * common prefix of two strings; the row-local LCP kernel of
  * [[graft.operators.SuffixArray.repeatProfile]] (rank-adjacent
  * suffixes carry their order-H prefixes side by side, so their LCP
  * needs no join at all). Code-point counting matches DuckDB's
  * `length`/`substr` character semantics, which is what lets the q194
  * oracle replay the comparison exactly.
  */
case class CommonPrefixLen(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two strings, got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String].toString
    val b = r.asInstanceOf[UTF8String].toString
    var i = 0
    var n = 0L
    var done = false
    while (!done && i < a.length && i < b.length) {
      val ca = a.codePointAt(i)
      if (ca != b.codePointAt(i)) done = true
      else { i += Character.charCount(ca); n += 1 }
    }
    n
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Column-level accessors for the array expressions. */
object ArrayFunctions {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
  import org.apache.spark.sql.Column

  /** Code-point length of the longest common prefix of two strings. */
  def commonPrefixLen(a: Column, b: Column): Column =
    column(CommonPrefixLen(expression(a), expression(b)))

  /** Content-defined chunks of a text column (see [[CdcChunkHashes]]). */
  def cdcChunks(text: Column, width: Int = 8, maskBits: Int = 6,
                minChars: Int = 16, maxChars: Int = 256,
                seed: Long = 42L): Column =
    column(CdcChunkHashes(expression(text), width, maskBits, minChars, maxChars, seed))
}
