package graft

import org.apache.spark.sql.functions._
import graft.functions.UnigramKernel
import graft.operators.Unigram

/** Unigram-LM tokenizer (Kudo 2018, Viterbi-EM variant): the DP kernel
  * pinned against brute-force segmentation enumeration, and the
  * distributed trainer pinned against an independent sequential
  * reference over the same word-count dictionary.
  */
class UnigramSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  // ---- brute-force reference segmentation -------------------------------

  /** Every feasible segmentation of `word` into vocab pieces of
    * ≤ maxPieceLen code points (single-char UNK always feasible),
    * as (costUnits, pieceCount, startPositions).
    */
  private def allSegs(word: String, vocab: Map[String, Long],
                      maxPieceLen: Int): Seq[(Long, Int, List[Int])] = {
    val cps = UnigramKernel.codePoints(word)
    def rec(from: Int): Seq[(Long, Int, List[Int])] =
      if (from == cps.length) Seq((0L, 0, Nil))
      else (1 to math.min(maxPieceLen, cps.length - from)).flatMap { len =>
        val piece = cps.slice(from, from + len).mkString
        val cost = vocab.get(piece)
          .orElse(if (len == 1) Some(UnigramKernel.UnkCostUnits) else None)
        cost.toSeq.flatMap { c =>
          rec(from + len).map { case (tc, tp, ts) => (tc + c, tp + 1, from :: ts) }
        }
      }
    rec(0)
  }

  /** The kernel's contract: min cost, then fewest pieces, then the
    * lexicographically smallest REVERSED start vector (= backtrack
    * preferring the longest final piece).
    */
  private def bestSegOrd(word: String, vocab: Map[String, Long],
                         maxPieceLen: Int): (Long, Int, List[Int]) = {
    implicit val listOrd: Ordering[List[Int]] =
      (a: List[Int], b: List[Int]) => {
        val ra = a.reverse; val rb = b.reverse
        val cmp = ra.zip(rb).collectFirst {
          case (x, y) if x != y => Integer.compare(x, y)
        }
        cmp.getOrElse(Integer.compare(ra.length, rb.length))
      }
    allSegs(word, vocab, maxPieceLen).min(
      Ordering.Tuple3(Ordering.Long, Ordering.Int, listOrd))
  }

  private def piecesOf(word: String, starts: List[Int]): Seq[String] = {
    val cps = UnigramKernel.codePoints(word)
    val bounds = starts :+ cps.length
    bounds.sliding(2).map { case List(a, b) => cps.slice(a, b).mkString }.toSeq
  }

  private val testVocab = Map(
    "a" -> 2500000L, "b" -> 3000000L, "c" -> 3000000L, "t" -> 2500000L,
    "l" -> 2900000L, "e" -> 2600000L,
    "ta" -> 1500000L, "tab" -> 1000000L, "le" -> 1000000L,
    "ble" -> 1600000L, "table" -> 3500000L,
    "jo" -> 1000000L, "in" -> 1000000L, "join" -> 2000000L,
    "j" -> 3200000L, "o" -> 2600000L, "i" -> 2800000L, "n" -> 2700000L)

  test("kernel: DP picks the cheapest split, not the longest piece") {
    // table: tab+le = 2.0e6 cost, 2 pieces beats the whole-word 3.5e6
    val (cost, pieces) = UnigramKernel.segmentWord("table", testVocab, 5)
    assert((cost, pieces) === (2000000L, 2L))
    assert(UnigramKernel.segmentPieces("table", testVocab, 5).toSeq ===
      Seq("tab", "le"))
  }

  test("kernel: equal-cost tie breaks by fewest pieces") {
    // join alone = 2.0e6 / 1 piece; jo+in = 2.0e6 / 2 pieces
    val (cost, pieces) = UnigramKernel.segmentWord("join", testVocab, 5)
    assert((cost, pieces) === (2000000L, 1L))
    assert(UnigramKernel.segmentPieces("join", testVocab, 5).toSeq === Seq("join"))
  }

  test("kernel: out-of-vocab characters take the UNK cost") {
    val (cost, pieces) = UnigramKernel.segmentWord("bxa", testVocab, 5)
    assert(cost === 3000000L + UnigramKernel.UnkCostUnits + 2500000L)
    assert(pieces === 3L)
  }

  test("kernel: words beyond MaxWordLen segment per 16-char chunk") {
    // 20 a's: chunk1 = 16 a's, chunk2 = 4 a's — no piece may span the
    // chunk boundary even if a cheaper cross-boundary piece existed
    val vocab = Map("a" -> 2000000L, "aa" -> 500000L)
    val (cost, pieces) = UnigramKernel.segmentWord("a" * 20, vocab, 2)
    assert(pieces === 8L + 2L)         // 8 aa-pairs + 2 aa-pairs
    assert(cost === 10L * 500000L)
    // 17 a's: 16-chunk = 8 pairs, 1-chunk = single 'a'
    val (c17, p17) = UnigramKernel.segmentWord("a" * 17, vocab, 2)
    assert((c17, p17) === (8L * 500000L + 2000000L, 9L))
  }

  test("kernel ≡ brute-force enumeration on random small vocabs/words") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc"
    for (trial <- 1 to 200) {
      // random vocab: singles for a subset, random multi pieces
      val singles = alphabet.filter(_ => rnd.nextBoolean())
        .map(c => c.toString -> (1000000L + rnd.nextInt(5000000))).toMap
      val multis = (1 to rnd.nextInt(8)).map { _ =>
        val len = 2 + rnd.nextInt(3)
        val p = Array.fill(len)(alphabet(rnd.nextInt(3))).mkString
        p -> (500000L + rnd.nextInt(4000000))
      }.toMap
      val vocab = singles ++ multis
      val word = Array.fill(1 + rnd.nextInt(8))(alphabet(rnd.nextInt(3))).mkString
      val (bc, bp, bs) = bestSegOrd(word, vocab, 4)
      val (kc, kp) = UnigramKernel.segmentWord(word, vocab, 4)
      assert((kc, kp) === (bc, bp.toLong), s"trial $trial word=$word vocab=$vocab")
      assert(UnigramKernel.segmentPieces(word, vocab, 4).toSeq ===
        piecesOf(word, bs), s"trial $trial word=$word vocab=$vocab")
    }
  }

  // ---- sequential reference trainer -------------------------------------

  /** Independent driver-side trainer over an explicit word-count dict:
    * same seed rule, same Viterbi-EM (segmentation via the BRUTE-FORCE
    * enumerator, not the kernel DP), same pruning and cost freezing.
    */
  private def refTrain(wordCounts: Seq[(String, Long)], vocabSize: Int,
                       maxPieceLen: Int, iters: Int,
                       seedFactor: Int): Seq[(String, Long, Long)] = {
    def substrings(w: String): Seq[String] = {
      val cps = UnigramKernel.codePoints(w)
      for (i <- cps.indices; len <- 1 to maxPieceLen if i + len <= cps.length)
        yield cps.slice(i, i + len).mkString
    }
    def freeze(entries: Seq[(String, Long)]): Map[String, Long] = {
      val total = entries.map(_._2).sum
      entries.map { case (p, n) =>
        val c = if (n <= 0L || total <= 0L) UnigramKernel.UnkCostUnits
                else math.round(-math.log(n.toDouble / total.toDouble) * 1e6)
        (p, math.max(1L, c))
      }.toMap
    }
    def isSingle(p: String) = p.codePointCount(0, p.length) == 1
    val seedCounts = scala.collection.mutable.Map.empty[String, Long]
    for ((w, c) <- wordCounts; s <- substrings(w))
      seedCounts(s) = seedCounts.getOrElse(s, 0L) + c
    val singles = seedCounts.toSeq.filter(e => isSingle(e._1)).sortBy(_._1)
    val alphabet = singles.map(_._1)
    val multiTop = seedCounts.toSeq.filter(e => !isSingle(e._1))
      .sortBy { case (p, n) => (-n, p) }.take(seedFactor * vocabSize)
    var vocab = freeze(singles ++ multiTop)
    var counts: Seq[(String, Long)] = null
    def prune(cs: Seq[(String, Long)]): Seq[(String, Long)] = {
      val byPiece = cs.toMap
      val s = alphabet.map(a => (a, byPiece.getOrElse(a, 0L)))
      val m = cs.filter(e => !isSingle(e._1))
        .sortBy { case (p, n) => (-n, p) }
        .take(math.max(0, vocabSize - s.length))
      s ++ m
    }
    for (_ <- 1 to iters) {
      val cm = scala.collection.mutable.Map.empty[String, Long]
      for ((w, c) <- wordCounts) {
        val (_, _, starts) = bestSegOrd(w, vocab, maxPieceLen)
        for (p <- piecesOf(w, starts)) cm(p) = cm.getOrElse(p, 0L) + c
      }
      counts = cm.toSeq
      vocab = freeze(prune(counts))
    }
    prune(counts).map { case (p, n) => (p, n, vocab(p)) }
      .sortBy { case (p, n, _) => (-n, p) }
  }

  test("learnUnigram ≡ sequential reference on planted corpora") {
    val corpora = Seq(
      Seq.fill(20)("abab abba bab") ++ Seq.fill(5)("aa bb"),
      Seq.fill(12)("the cat sat") ++ Seq.fill(7)("that hat") ++ Seq("zz"),
      Seq.fill(9)("aaaa aaa aa a") ++ Seq.fill(3)("b ab ba"))
    for ((texts, i) <- corpora.zipWithIndex; vs <- Seq(6, 12); it <- Seq(1, 3)) {
      val wc = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq
      val want = refTrain(wc, vs, maxPieceLen = 3, iters = it, seedFactor = 2)
      val got = Unigram.learnUnigram(texts.toDF("text"), "text", vocabSize = vs,
          maxPieceLen = 3, iters = it, seedFactor = 2)
        .map(e => (e.piece, e.cnt, e.costUnits)).toSeq
      assert(got === want, s"corpus #$i vocabSize=$vs iters=$it")
    }
  }

  test("learnUnigram is partitioning-invariant") {
    val texts = Seq.fill(30)("spark scala spar park") ++ Seq.fill(10)("ark spa")
    val one = Unigram.learnUnigram(texts.toDF("text").repartition(1), "text",
      vocabSize = 10, maxPieceLen = 4, iters = 2).toSeq
    val many = Unigram.learnUnigram(texts.toDF("text").repartition(13), "text",
      vocabSize = 10, maxPieceLen = 4, iters = 2).toSeq
    assert(one === many)
  }

  test("unigramStats: empty and pieceless docs keep exact zero rows") {
    val docs = Seq((1L, "table join"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val got = Unigram.unigramStats(docs, "doc_id", "text",
        testVocab.toSeq, maxPieceLen = 5)
      .orderBy("id").as[(Long, Long, Long, Long, Option[Double])].collect()
    assert(got(0) === ((1L, 3L, 4000000L, 9L, Some(3.0))))
    assert(got(1) === ((2L, 0L, 0L, 0L, None)))
    assert(got(2) === ((3L, 0L, 0L, 0L, None)))
  }

  test("unigramTopPieces: tokens face counts the tie-broken Viterbi pieces") {
    val docs = Seq((1L, "table table join"), (2L, "table")).toDF("doc_id", "text")
    val got = Unigram.unigramTopPieces(docs, "text", testVocab.toSeq,
        maxPieceLen = 5, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("le", 3L), ("tab", 3L), ("join", 1L)))
  }
}
