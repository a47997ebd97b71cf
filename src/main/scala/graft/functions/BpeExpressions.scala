package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding kernels (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016) for
  * distributed tokenizer TRAINING: a 100 TB pipeline learns its merge
  * table from the corpus itself, one map-side pass per Lloyd-style
  * round ([[graft.operators.Corpus.learnBpe]]).
  *
  * Both expressions start every whitespace-separated word as its
  * code-point symbols and apply the given merge list IN ORDER within
  * word boundaries (merges never cross words — the classic formulation).
  */
private[functions] object BpeKernel {
  /** Apply `merges` in order to one word's symbol list, left-to-right
    * per merge (the reference greedy semantics).
    */
  def applyMerges(word: String, merges: Array[(String, String)]): Array[String] = {
    var syms: Array[String] = {
      val n = word.codePointCount(0, word.length)
      val out = new Array[String](n)
      var i = 0; var off = 0
      while (i < n) {
        val next = word.offsetByCodePoints(off, 1)
        out(i) = word.substring(off, next)
        off = next; i += 1
      }
      out
    }
    var m = 0
    while (m < merges.length && syms.length >= 2) {
      val (a, b) = merges(m)
      var found = false
      var i = 0
      while (!found && i < syms.length - 1) {
        if (syms(i) == a && syms(i + 1) == b) found = true else i += 1
      }
      if (found) {
        val buf = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            buf += a + b; j += 2
          } else { buf += syms(j); j += 1 }
        }
        syms = buf.toArray
      }
      m += 1
    }
    syms
  }

  def words(text: String): Array[String] =
    TextFunctions.whitespacePattern.split(text).filter(_.nonEmpty)
}

/** `bpe_symbols(text)` — the corpus tokenized under a FIXED merge list:
  * array<string> of subword symbols, word-by-word, flattened. The
  * inference face of the trained tokenizer.
  */
case class BpeSymbols(child: Expression, merges: Array[(String, String)])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    for (w <- BpeKernel.words(text); s <- BpeKernel.applyMerges(w, merges))
      out += UTF8String.fromString(s)
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `bpe_pairs(text)` — adjacent symbol pairs under a fixed merge list,
  * WITHIN words only (boundaries never pair): array<struct<l, r>>, so
  * no separator encoding can collide with symbol content. The counting
  * face of one training round: explode + count = merge candidate
  * frequencies.
  */
case class BpePairs(child: Expression, merges: Array[(String, String)])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("l", StringType, nullable = false),
                   StructField("r", StringType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    for (w <- BpeKernel.words(text)) {
      val syms = BpeKernel.applyMerges(w, merges)
      var i = 0
      while (i < syms.length - 1) {
        out += org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(syms(i)), UTF8String.fromString(syms(i + 1)))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BpeFunctions {
  import ColumnBridge.{column, expression}
  def bpeSymbols(text: Column, merges: Array[(String, String)]): Column =
    column(BpeSymbols(expression(text), merges))
  def bpePairs(text: Column, merges: Array[(String, String)]): Column =
    column(BpePairs(expression(text), merges))
}
