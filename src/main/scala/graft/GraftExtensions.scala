package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.{CharWindowHashes, CosineSimilarity, DotProduct,
  HashedWordNgrams, L2Normalize, MinHashSignature, SimHash64,
  SortedLongIntersectSize}
import org.apache.spark.sql.graft.ColumnBridge

/** SQL surface for the custom expressions: registers them in the
  * function registry so `spark.sql("SELECT cosine_similarity(a, b) ...")`
  * works — either per-session via [[GraftExtensions.register]] or at
  * session build time via
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
         new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
         builder))
    }
  }
}

object GraftExtensions {

  private def intArg(e: Expression): Int =
    e.eval(null).toString.toInt
  private def longArg(e: Expression): Long =
    e.eval(null).toString.toLong

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (args => CosineSimilarity(args(0), args(1))),
    "dot_product"       -> (args => DotProduct(args(0), args(1))),
    "simhash64"         -> (args => SimHash64(args.head, 42L)),
    "minhash_signature" -> (args => args match {
      case Seq(c)       => MinHashSignature(c, 128, 42L)
      case Seq(c, k)    => MinHashSignature(c, intArg(k), 42L)
      case Seq(c, k, s) => MinHashSignature(c, intArg(k), longArg(s))
      case _ => throw new IllegalArgumentException("minhash_signature(arr[, k[, seed]])")
    }),
    "hashed_word_ngrams" -> (args => args match {
      case Seq(c)    => HashedWordNgrams(c, 3, 42L)
      case Seq(c, n) => HashedWordNgrams(c, intArg(n), 42L)
      case _ => throw new IllegalArgumentException("hashed_word_ngrams(text[, n])")
    }),
    "sorted_long_intersect_size" ->
      (args => SortedLongIntersectSize(args(0), args(1))),
    "l2_normalize" -> (args => L2Normalize(args.head)),
    "char_window_hashes" -> (args => args match {
      case Seq(c, w)    => CharWindowHashes(c, intArg(w), 42L)
      case Seq(c, w, s) => CharWindowHashes(c, intArg(w), longArg(s))
      case _ => throw new IllegalArgumentException("char_window_hashes(text, width[, seed])")
    }),
    "string_array_except_set" -> (args => args match {
      // the excluded set must be a foldable array literal — it is baked
      // into the expression as driver metadata, same as the Column API
      case Seq(c, setExpr) if setExpr.foldable =>
        val arr = setExpr.eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        graft.functions.StringArrayExceptSet(c,
          arr.toObjectArray(org.apache.spark.sql.types.StringType)
            .flatMap(v => Option(v).map(_.toString)))
      case _ => throw new IllegalArgumentException(
        "string_array_except_set(arr, array('a', 'b', ...)) — set must be a literal")
    }),
    "cdc_chunks" -> (args => args match {
      case Seq(c) => graft.functions.CdcChunkHashes(c, 8, 6, 16, 256, 42L)
      case Seq(c, w, m, lo, hi) =>
        graft.functions.CdcChunkHashes(c, intArg(w), intArg(m), intArg(lo), intArg(hi), 42L)
      case _ => throw new IllegalArgumentException(
        "cdc_chunks(text[, width, maskBits, minChars, maxChars])")
    }))

  /** Register all graft functions on an existing session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      ColumnBridge.registerFunction(spark, name, b)
    }
}
