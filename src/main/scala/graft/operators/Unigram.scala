package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, UnigramFunctions, UnigramKernel}

/** Unigram-LM subword tokenizer (Kudo, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", ACL 2018 — the SentencePiece unigram model): the
  * second of the two production tokenizer families, complementing the
  * BPE tier ([[Corpus.learnBpe]] / [[Corpus.bpeStats]]). Where BPE
  * grows a vocabulary bottom-up by merging, the unigram model starts
  * from a LARGE seed vocabulary and prunes: each word segments into
  * the pieces that minimize total cost (-log probability), costs are
  * re-estimated from segmentation counts, and low-count pieces drop
  * until the target size remains.
  *
  * This implementation is the deterministic Viterbi-EM (hard-EM)
  * variant: the E-step counts each word's single BEST segmentation
  * (Viterbi) rather than posterior expectations — the standard
  * deterministic approximation, and the one that keeps every statistic
  * an exact integer so training replays bit-identically on any
  * partitioning. Costs are integer micro-nats
  * (`round(-ln(cnt/total)·1e6)`), and the Viterbi DP minimizes the
  * packed integer `cost_units·64 + n_pieces` (cost first, then fewest
  * pieces) — see [[graft.functions.UnigramKernel]] for the full
  * determinism contract the q190 oracle replays.
  *
  * Scale shape (the [[Corpus.learnBpe]] two-tier discipline): the
  * corpus is touched ONCE — the word-frequency aggregate — and every
  * EM round then runs at VOCABULARY scale over the distributed word
  * dict: one map-side Viterbi pass ([[graft.functions.UnigramPieces]]
  * under the broadcast current vocab), one vocab-bounded
  * partial-aggregated shuffle, one ≤|vocab|-row collect. The dict
  * itself NEVER collects — unlike BPE's incremental-heap local tier
  * (which needs the dict in memory), unigram EM is a pure map-reduce
  * per round, so the distributed loop IS the scalable path and a
  * web-scale dict changes nothing but executor count. Driver state is
  * one vocab-size cost map per round (metadata).
  */
object Unigram {

  /** One trained vocabulary entry: the piece, its E-step count (corpus
    * frequency under the final segmentation), and its frozen integer
    * cost in micro-nats. */
  final case class VocabEntry(piece: String, cnt: Long, costUnits: Long)

  /** Train a `vocabSize`-piece unigram vocabulary over the
    * whitespace-word corpus of `textCol`.
    *
    *  1. Word dict: one corpus-scale aggregate → `(word, cnt)`,
    *     cached for the rounds (distinct-word scale, stays
    *     distributed).
    *  2. Seed: all 1..`maxPieceLen`-code-point substrings of each
    *     dict word, weighted `occurrences × word count`
    *     ([[graft.functions.UnigramSeedSubstrings]]) — one
    *     vocab-bounded shuffle; keep every single character seen plus
    *     the `seedFactor·vocabSize` heaviest multi-character pieces
    *     (ties `(weight desc, piece asc)`). Seed costs freeze from
    *     the kept weights.
    *  3. `iters` Viterbi-EM rounds: segment every dict word under the
    *     broadcast costs, weight piece counts by word count, collect
    *     the ≤|vocab|-row histogram, re-estimate costs, prune to all
    *     single characters + the `vocabSize − |alphabet|` heaviest
    *     multi pieces (ties `(cnt desc, piece asc)`). Pieces unused
    *     in any round leave the vocabulary; single characters never
    *     leave (totality — every word must stay segmentable) and fall
    *     back to [[UnigramKernel.UnkCostUnits]] when uncounted.
    *
    * Returns the final vocabulary sorted `(cnt desc, piece asc)`.
    * Deterministic: counts are exact integers, `ln` runs driver-side
    * on exact ratios, ties break lexicographically — UnigramSpec pins
    * the whole train against an independent sequential reference and
    * against itself under adversarial repartitioning.
    */
  def learnUnigram(docs: DataFrame, textCol: String, vocabSize: Int = 256,
                   maxPieceLen: Int = 4, iters: Int = 2,
                   seedFactor: Int = 4): Array[VocabEntry] = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1 && maxPieceLen <= UnigramKernel.MaxWordLen,
      s"maxPieceLen must be in [1, ${UnigramKernel.MaxWordLen}], got $maxPieceLen")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = docs.sparkSession
    import spark.implicits._

    val dict = docs
      .select(explode(split(col(textCol), TextFunctions.whitespaceClass)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      // ---- seed: substring weights, one vocab-bounded shuffle
      val seedCounts = dict
        .select(explode(UnigramFunctions.unigramSeedSubstrings(col("w"), maxPieceLen))
          .as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
      val singles = seedCounts
        .filter(length(col("piece")) === 1)
        .as[(String, Long)].collect().sortBy(_._1)
      val multiTop = seedCounts
        .filter(length(col("piece")) > 1)
        .orderBy(col("n").desc, col("piece").asc)
        .limit(math.max(0, seedFactor * vocabSize))
        .as[(String, Long)].collect()
      var vocab: Map[String, Long] = freezeCosts(singles ++ multiTop)

      // ---- Viterbi-EM rounds at dict scale
      var counts: Array[(String, Long)] = null
      val alphabet = singles.map(_._1)
      for (_ <- 1 to iters) {
        counts = dict
          .select(explode(UnigramFunctions.unigramPieces(col("w"), vocab, maxPieceLen))
            .as("piece"), col("cnt"))
          .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
          .as[(String, Long)].collect()
        val pruned = prune(counts, alphabet, vocabSize)
        vocab = freezeCosts(pruned)
      }

      val byPiece = prune(counts, alphabet, vocabSize).toMap
      byPiece.toArray
        .map { case (p, n) => VocabEntry(p, n, vocab(p)) }
        .sortBy(e => (-e.cnt, e.piece))
    } finally dict.unpersist(blocking = false)
  }

  /** Keep every alphabet single (zero-count singles included — they
    * must stay segmentable) plus the `vocabSize − |alphabet|` heaviest
    * multi-character pieces by `(cnt desc, piece asc)`. */
  private def prune(counts: Array[(String, Long)], alphabet: Array[String],
                    vocabSize: Int): Array[(String, Long)] = {
    val byPiece = counts.toMap
    val singles = alphabet.map(a => (a, byPiece.getOrElse(a, 0L)))
    val keepMulti = math.max(0, vocabSize - singles.length)
    val multi = counts
      .filter { case (p, _) => p.codePointCount(0, p.length) > 1 }
      .sortBy { case (p, n) => (-n, p) }
      .take(keepMulti)
    singles ++ multi
  }

  /** Freeze integer micro-nat costs from counts:
    * `round(-ln(cnt/total)·1e6)`, zero-count pieces (uncounted
    * alphabet singles) at [[UnigramKernel.UnkCostUnits]]. `total` sums
    * the kept set — exact integer, so the ratio is reproducible. */
  private def freezeCosts(entries: Array[(String, Long)]): Map[String, Long] = {
    val total = entries.map(_._2).sum
    entries.map { case (p, n) =>
      val cost =
        if (n <= 0L || total <= 0L) UnigramKernel.UnkCostUnits
        else math.round(-math.log(n.toDouble / total.toDouble) * 1e6)
      (p, math.max(1L, cost))
    }.toMap
  }

  /** Corpus-wide tokenization stats under a FROZEN vocabulary — the
    * inference face (q102's [[Corpus.bpeStats]] shape): per document,
    * the Viterbi piece count and total integer cost, plus
    * non-whitespace character count and the compression ratio. Pure
    * row-local projection — zero exchanges at any corpus size, and a
    * valid streaming projection for the same reason.
    *
    * Returns `(id, n_pieces, cost_units, n_chars, chars_per_piece)`;
    * the ratio is `round(n_chars / n_pieces, 4)`, NULL for pieceless
    * documents. Exact oracle: the q190 SQL replays the packed-integer
    * Viterbi DP per distinct word chunk as an unrolled
    * shortest-path over the pinned vocab literal — see
    * [[graft.registry.TextQueries.q190OracleSql]].
    */
  def unigramStats(docs: DataFrame, idCol: String, textCol: String,
                   vocab: Seq[(String, Long)], maxPieceLen: Int): DataFrame = {
    val vmap = vocab.toMap
    require(vmap.size == vocab.size, "duplicate pieces in vocab")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        UnigramFunctions.unigramStats(col(textCol), vmap, maxPieceLen).as("__st"),
        length(regexp_replace(col(textCol), TextFunctions.whitespaceClass, ""))
          .cast("long").as("n_chars"))
      .select(col("id"),
        col("__st.n_pieces").as("n_pieces"),
        col("__st.cost_units").as("cost_units"),
        col("n_chars"),
        when(col("__st.n_pieces") > 0,
          graft.functions.NumFunctions.roundNz(
            col("n_chars").cast("double") / col("__st.n_pieces"), 4))
          .as("chars_per_piece"))
  }

  /** Corpus top-`k` pieces under a frozen vocab — the tokens face
    * (map-side explode, one partial-aggregated vocab-bounded shuffle,
    * TakeOrdered cut). Piece identity follows the full canonical
    * tie-break (cost, fewest pieces, longest-final-piece), which
    * [[graft.functions.UnigramKernel.chunkPacked]] carries as
    * length-digit tiebreak integers — so identity replays exactly and
    * this face is oracle-hashed end to end (q192). */
  def unigramTopPieces(docs: DataFrame, textCol: String,
                       vocab: Seq[(String, Long)], maxPieceLen: Int,
                       k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs.filter(col(textCol).isNotNull)
      .select(explode(UnigramFunctions.unigramPieces(col(textCol), vocab.toMap,
        maxPieceLen)).as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(k)
  }
}
