package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import TextFunctions.isWhitespace

/** Document-sketch expressions for the north-star dedup operators
  * (MinHash+LSH, SimHash). Single-pass over the token/shingle array:
  * one xxHash64 per element, then cheap per-function mixing — versus the
  * k-passes-over-the-array plan a `transform(sequence(...))` composition
  * of built-ins would produce.
  *
  * Hash-function family: h_i(x) = base(x) * A(i) + B(i) over Z/2^64 with
  * odd multipliers A(i) (a 2-universal-style affine family; wrapping
  * arithmetic is intentional). Constants derive deterministically from
  * `seed` via java.util.Random (algorithm fixed by the JDK spec, so
  * signatures are stable across JVMs/executors).
  */
object HashFamilies {
  def multipliers(k: Int, seed: Long): Array[Long] = {
    val rnd = new java.util.Random(seed)
    Array.fill(k)(rnd.nextLong() | 1L) // odd => bijective mod 2^64
  }
  def offsets(k: Int, seed: Long): Array[Long] = {
    val rnd = new java.util.Random(seed + 0x9E3779B97F4A7C15L)
    Array.fill(k)(rnd.nextLong())
  }
}

/** `minhash_signature(shingles)` — array<string> | array<long> →
  * array<long> of k per-hash-function minima. String elements are
  * xxHash64'd first; long elements (pre-hashed shingles from
  * [[HashedWordNgrams]]) feed the affine family directly. Null input →
  * null; empty array → signature of Long.MaxValue entries.
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val as: Array[Long] = HashFamilies.multipliers(numHashes, seed)
  @transient private lazy val bs: Array[Long] = HashFamilies.offsets(numHashes, seed)
  @transient private lazy val elementIsLong: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    val isLong = elementIsLong
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base =
          if (isLong) arr.getLong(i)
          else XxHash64Function.hash(arr.getUTF8String(i), StringType, seed)
        var j = 0
        while (j < numHashes) {
          val v = base * as(j) + bs(j)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `hashed_word_ngrams(text)` — text → sorted distinct array<long> of
  * 64-bit word-n-gram shingle hashes, in ONE pass with zero intermediate
  * string allocation.
  *
  * Rationale: composing `split` + higher-order `transform`/`filter` +
  * `concat_ws` + `array_distinct` builds every shingle as a UTF8String
  * and runs interpreted lambda evaluation per element — measured ~10 s
  * for 5 000 docs. This expression tokenizes the UTF8 bytes directly
  * (the explicit `[ \t\n\f\r]` class RE2's `\s` matches),
  * xxHash64s each token byte-range in place, mixes n consecutive token
  * hashes per shingle, and sort-dedupes the longs. Shingle identity is
  * preserved w.h.p. (64-bit collisions ≈ n²/2⁶⁴), so Jaccard counts
  * match a string-shingle oracle exactly at any realistic corpus size.
  * Sorted output enables merge-join intersection
  * ([[SortedLongIntersectSize]]).
  */
case class HashedWordNgrams(child: Expression, n: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "n must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()

    // tokenize: hash each ASCII-whitespace-separated byte run in place
    var tokenHashes = new Array[Long](math.max(8, len / 5))
    var nTok = 0
    var i = 0
    while (i < len) {
      // skip whitespace
      while (i < len && isWhitespace(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < len && !isWhitespace(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i > start) {
        if (nTok == tokenHashes.length)
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTok * 2)
        tokenHashes(nTok) = XXH64.hashUnsafeBytes(base, off + start, i - start, seed)
        nTok += 1
      }
    }
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)

    // n-gram mix: chain-hash n consecutive token hashes
    val grams = new Array[Long](nTok - n + 1)
    var g = 0
    while (g < grams.length) {
      var h = seed
      var k = 0
      while (k < n) { h = XXH64.hashLong(tokenHashes(g + k), h); k += 1 }
      grams(g) = h
      g += 1
    }

    // sorted distinct
    java.util.Arrays.sort(grams)
    var out = 1
    var j = 1
    while (j < grams.length) {
      if (grams(j) != grams(j - 1)) { grams(out) = grams(j); out += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(grams, out))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `word_shingles(text)` — text → distinct array<string> of word
  * n-gram shingles in FIRST-OCCURRENCE order: the exact value of the
  * composed `array_distinct(transform(sequence(...), i ->
  * concat_ws(' ', tokens...)))` chain over
  * [[TextFunctions.tokens]] (null text and < n tokens both yield the
  * empty array, matching the chain's `when(...).otherwise(array())`),
  * in ONE pass over the UTF8 bytes instead of interpreted
  * higher-order-function evaluation (~30 µs/row measured in the q215
  * member-shingle stage). Same explicit `[ \t\n\f\r]` whitespace class
  * as [[HashedWordNgrams]] (RE2's `\s`, not Java's).
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "n must be >= 1")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = false

  private val emptyResult =
    new GenericArrayData(Array.empty[Any])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return emptyResult
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()

    var starts = new Array[Int](math.max(8, len / 5))
    var lens = new Array[Int](starts.length)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && isWhitespace(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < len && !isWhitespace(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i > start) {
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          lens = java.util.Arrays.copyOf(lens, nTok * 2)
        }
        starts(nTok) = start; lens(nTok) = i - start
        nTok += 1
      }
    }
    if (nTok < n) return emptyResult

    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var g = 0
    while (g <= nTok - n) {
      var bytes = n - 1
      var k = 0
      while (k < n) { bytes += lens(g + k); k += 1 }
      val out = new Array[Byte](bytes)
      var pos = 0
      k = 0
      while (k < n) {
        if (k > 0) { out(pos) = ' '; pos += 1 }
        org.apache.spark.unsafe.Platform.copyMemory(base, off + starts(g + k),
          out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos, lens(g + k))
        pos += lens(g + k)
        k += 1
      }
      seen.add(org.apache.spark.unsafe.types.UTF8String.fromBytes(out))
      g += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `sorted_long_intersect_size(a, b)` — |A ∩ B| for two SORTED DISTINCT
  * array<long> columns by linear merge: no per-row hash-set allocation
  * (which is what makes built-in `array_intersect` the bottleneck on
  * large candidate sets).
  */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var cnt = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `winnow_fingerprints(text)` — rolling-hash document fingerprints via
  * the winnowing scheme (Schleimer, Wilkerson & Aiken, "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003): Rabin–Karp rolling hash over character k-grams,
  * then the minimum hash of every window of w consecutive k-grams (each
  * distinct selected hash recorded once). Output: sorted distinct
  * array<long>.
  *
  * Two documents sharing any substring of length ≥ k + w - 1 are
  * guaranteed to share a fingerprint — the plagiarism/near-dup detection
  * property exhaustive shingling gives, at a fraction of the set size.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  require(k >= 2 && w >= 1, "need k >= 2, w >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val B = 257L
  @transient private lazy val bPowK1: Long = {
    var p = 1L; var i = 0
    while (i < k - 1) { p *= B; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    if (len < k) return new GenericArrayData(Array.emptyLongArray)

    // rolling k-gram hashes (finalized through one xxh mix so monotone
    // byte runs don't produce monotone hashes)
    val n = len - k + 1
    val grams = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < k) { h = h * B + (org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xFF); i += 1 }
    grams(0) = XXH64.hashLong(h, seed)
    i = 1
    while (i < n) {
      val outB = org.apache.spark.unsafe.Platform.getByte(base, off + i - 1) & 0xFF
      val inB = org.apache.spark.unsafe.Platform.getByte(base, off + i + k - 1) & 0xFF
      h = (h - outB * bPowK1) * B + inB
      grams(i) = XXH64.hashLong(h, seed)
      i += 1
    }

    // winnow: min per window of w (unsigned compare), dedup adjacent picks
    val nw = math.max(1, n - w + 1)
    val picks = new Array[Long](nw)
    var np = 0
    var wi = 0
    while (wi < nw) {
      var m = grams(wi)
      var j = wi + 1
      val end = math.min(wi + w, n)
      while (j < end) {
        if (java.lang.Long.compareUnsigned(grams(j), m) < 0) m = grams(j)
        j += 1
      }
      if (np == 0 || picks(np - 1) != m) { picks(np) = m; np += 1 }
      wi += 1
    }
    val out = java.util.Arrays.copyOf(picks, np)
    java.util.Arrays.sort(out)
    var u = 1
    var j = 1
    while (j < np) {
      if (out(j) != out(j - 1)) { out(u) = out(j); u += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, u))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `char_window_hashes(text)` — 64-bit hash of every `width`-character
  * sliding window, POSITIONAL: element `i` is the hash of
  * `substring(text, i + 1, width)`, so a downstream `posexplode` can
  * recover the exact source substring without the expression ever
  * allocating one (the cross-document repeated-substring scan of
  * [[graft.operators.Dedup.repeatedWindows]] — the exact-substring
  * deduplication primitive of Lee et al., "Deduplicating Training Data
  * Makes Language Models Better", ACL 2022).
  *
  * Windows are counted in CODE POINTS (one pass over the UTF-8 bytes
  * precomputes code-point byte offsets), matching SQL `substr`
  * semantics byte-for-byte on any input, not just ASCII. Each window's
  * byte range is xxHash64'd in place. Shorter-than-`width` texts
  * produce an empty array.
  */
case class CharWindowHashes(child: Expression, width: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1, "width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()

    // code-point start offsets (one extra slot holds the end sentinel);
    // UTF-8 start bytes are every byte not matching the 10xxxxxx
    // continuation pattern
    val starts = new Array[Int](math.max(8, len + 1))
    var nCp = 0
    var i = 0
    while (i < len) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if ((b & 0xC0) != 0x80) {
        starts(nCp) = i
        nCp += 1
      }
      i += 1
    }
    starts(nCp) = len
    if (nCp < width) return new GenericArrayData(Array.emptyLongArray)

    val out = new Array[Long](nCp - width + 1)
    var w = 0
    while (w < out.length) {
      val from = starts(w)
      val until = starts(w + width)
      out(w) = XXH64.hashUnsafeBytes(base, off + from, until - from, seed)
      w += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `simhash64(tokens)` — array<string> → 64-bit SimHash fingerprint.
  * Token multiplicity weights bits naturally (duplicates vote twice).
  */
case class SimHash64(child: Expression, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[SimHash64]] with a PORTABLE per-token hash: the first 8 bytes of
  * standard MD5 over the token's UTF-8 bytes, big-endian, as the
  * 64-bit value whose bits vote. Same signature semantics, slower per
  * token than xxHash — its purpose is cross-engine verifiability:
  * every SQL engine ships the same MD5, so an external system (the
  * q27 DuckDB oracle) can rebuild the exact bit sets and brute-force
  * the pair ground truth. Use [[SimHash64]] for production corpora,
  * this for runs whose output must be independently auditable.
  */
case class SimHash64Md5(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xFFL); b += 1 }
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HashFunctions {
  import ColumnBridge.{column, expression}

  /** k-minima MinHash signature of a shingle array. */
  def minhashSignature(shingles: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    column(MinHashSignature(expression(shingles), numHashes, seed))

  /** 64-bit SimHash of a token array. */
  def simhash64(tokens: Column, seed: Long = 42L): Column =
    column(SimHash64(expression(tokens), seed))

  /** 64-bit SimHash with the portable MD5 token hash (see
    * [[SimHash64Md5]]).
    */
  def simhash64Md5(tokens: Column): Column =
    column(SimHash64Md5(expression(tokens)))

  /** One-pass tokenize + word-n-gram + hash + sort + dedup (see
    * [[HashedWordNgrams]]).
    */
  def hashedWordNgrams(text: Column, n: Int = 3, seed: Long = 42L): Column =
    column(HashedWordNgrams(expression(text), n, seed))

  /** One-pass distinct word-n-gram shingle STRINGS in first-occurrence
    * order (see [[WordShingles]] — the string twin of
    * [[hashedWordNgrams]] for the evidence tier).
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    column(WordShingles(expression(text), n))

  /** Merge-count |A∩B| of two sorted distinct array<long> columns. */
  def sortedLongIntersectSize(a: Column, b: Column): Column =
    column(SortedLongIntersectSize(expression(a), expression(b)))

  /** Positional hash per `width`-char sliding window (see
    * [[CharWindowHashes]]).
    */
  def charWindowHashes(text: Column, width: Int, seed: Long = 42L): Column =
    column(CharWindowHashes(expression(text), width, seed))

  /** Winnowed rolling-hash fingerprints of a document (see
    * [[WinnowFingerprints]]).
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4, seed: Long = 42L): Column =
    column(WinnowFingerprints(expression(text), k, w, seed))
}
