package graft

import org.apache.spark.sql.functions._
import graft.functions.BpeFunctions
import graft.operators.Corpus
import graft.registry.TextQueries

/** BPE training pinned against an independent driver-side reference:
  * same start symbols (code points within whitespace words), same
  * left-to-right merge application, same (count desc, l asc, r asc)
  * tie-break.
  */
class BpeSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  /** Reference BPE learner over an in-memory corpus. */
  private def refLearn(texts: Seq[String], k: Int): Seq[(String, String, Long)] = {
    def split(w: String): Vector[String] =
      w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
      val buf = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          buf += a + b; i += 2
        } else { buf += syms(i); i += 1 }
      }
      buf.result()
    }
    var words: Seq[Vector[String]] = texts
      .flatMap(_.split("[ \t\n\f\r]+")).filter(_.nonEmpty).map(split)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (merges.length < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for (w <- words; i <- 0 until w.length - 1)
        counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + 1
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        merges += ((a, b, c))
        words = words.map(applyMerge(_, a, b))
      }
    }
    merges.toSeq
  }

  private val corpus = Seq(
    "the cat sat on the mat",
    "the cats eat the fish",
    "that mat is flat",
    "the the the banana stand")

  test("learnBpe matches the reference learner merge-for-merge (both execution tiers)") {
    val want = refLearn(corpus, 10)
    // local-dict tier (the default: vocabulary-scale dict collected once)
    val local = Corpus.learnBpe(corpus.toDF("text"), "text", numMerges = 10)
      .orderBy("rank").as[(Int, String, String, Long)].collect()
      .map { case (_, l, r, c) => (l, r, c) }.toSeq
    assert(local === want)
    // distributed tier (forced with localDictMax = 0): certified batches
    val dist = Corpus.learnBpe(corpus.toDF("text"), "text", numMerges = 10,
        localDictMax = 0L)
      .orderBy("rank").as[(Int, String, String, Long)].collect()
      .map { case (_, l, r, c) => (l, r, c) }.toSeq
    assert(dist === want)
  }

  test("batched learnBpe ≡ sequential reference on adversarial corpora") {
    // each corpus is engineered to stress one certification hazard:
    // chained tops that consume each other, concat collisions where two
    // different pairs produce the same string, ties at the batch
    // boundary, and same-symbol (a,a) merges
    val corpora = Seq(
      // heavy (t,h)/(h,e) interaction — "the" everywhere
      Seq.fill(30)("the then there ha he at") ++ Seq("x y z"),
      // concat collision: merges can form "abc" as (a,bc) and (ab,c)
      Seq.fill(20)("abc abc ab bc a b c") ++ Seq.fill(10)("xabcx"),
      // (a,a) self-merge with odd runs (greedy one-pass semantics)
      Seq.fill(15)("aaa aaaa aa a") ++ Seq.fill(5)("baab aab"),
      // many equal counts — tie-breaks must batch identically
      Seq.fill(10)("pq rs tu vw xy") ++ Seq.fill(10)("qp sr ut wv yx"),
      // boost hazard: symbol "ab" pre-formable, then (x,ab) pairs
      Seq.fill(25)("xab ab xa") ++ Seq.fill(12)("cab abd"))
    for ((c, i) <- corpora.zipWithIndex; k <- Seq(5, 25);
         dictMax <- Seq(0L, Corpus.BpeLocalDictMax)) {
      val got = Corpus.learnBpe(c.toDF("text"), "text", numMerges = k,
          localDictMax = dictMax)
        .orderBy("rank").as[(Int, String, String, Long)].collect()
        .map { case (_, l, r, n) => (l, r, n) }.toSeq
      assert(got === refLearn(c, k),
        s"corpus #$i diverged at numMerges=$k dictMax=$dictMax")
    }
  }

  test("certifyBpeBatch: accepts disjoint prefix, stops at interaction, strict bound on ties") {
    // (t,h) then (e,r) disjoint; (h,e) interacts with (t,h) via its h
    val rows = Array(("t", "h", 100L), ("e", "r", 80L), ("h", "e", 70L),
      ("i", "n", 60L))
    val got = Corpus.certifyBpeBatch(rows, truncated = false, Set.empty, 10)
    assert(got === Seq(("t", "h", 100L), ("e", "r", 80L)))
    // tie at the bound: accepted rows with cnt == first-conflict cnt drop
    val tied = Array(("t", "h", 100L), ("e", "r", 70L), ("h", "e", 70L))
    assert(Corpus.certifyBpeBatch(tied, truncated = false, Set.empty, 10) ===
      Seq(("t", "h", 100L)))
    // concat collision with a prior merge is a barrier — head-only fallback
    val coll = Array(("a", "bc", 90L), ("x", "y", 50L))
    assert(Corpus.certifyBpeBatch(coll, truncated = false, Set("abc"), 10) ===
      Seq(("a", "bc", 90L)))
    // truncated list: the tail count bounds everything uncollected
    val trunc = Array(("t", "h", 100L), ("e", "r", 80L), ("i", "n", 80L))
    assert(Corpus.certifyBpeBatch(trunc, truncated = true, Set.empty, 10) ===
      Seq(("t", "h", 100L)))
    // full table, all disjoint: accept everything
    assert(Corpus.certifyBpeBatch(trunc, truncated = false, Set.empty, 10)
      .length === 3)
  }

  test("bpeSymbols applies merges within words only; boundaries never merge") {
    val merges = Array(("t", "h"), ("th", "e"))
    val syms = Seq("the thermos, the").toDF("text")
      .select(BpeFunctions.bpeSymbols(col("text"), merges).as("s"))
      .as[Seq[String]].head()
    assert(syms === Seq("the", "the", "r", "m", "o", "s", ",", "the"))
  }

  test("bpePairs under no merges = adjacent code points within words") {
    val pairs = Seq("ab cd").toDF("text")
      .select(explode(BpeFunctions.bpePairs(col("text"),
        Array.empty[(String, String)])).as("p"))
      .select(col("p.l"), col("p.r")).as[(String, String)].collect().toSeq
    assert(pairs === Seq(("a", "b"), ("c", "d"))) // no ("b", "c") across the space
  }

  test("learnBpe stops early when the corpus is fully merged") {
    val tiny = Seq("aa aa", "aa").toDF("text")
    val got = Corpus.learnBpe(tiny, "text", numMerges = 50).count()
    assert(got < 50) // "aa" collapses after one merge; no infinite loop
  }

  test("bpeStats: zero merges = non-ws code points; more merges never increase counts") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val zero = Corpus.bpeStats(docs, "doc_id", "text", Array.empty)
      .select("id", "n_subwords", "n_chars").as[(Long, Long, Long)].collect()
    // with no merges every non-whitespace code point is its own subword
    assert(zero.forall { case (_, subs, chars) => subs === chars })
    val merges = Corpus.learnBpe(docs, "text", 6).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val six = Corpus.bpeStats(docs, "doc_id", "text", merges)
      .select("id", "n_subwords").as[(Long, Long)].collect().toMap
    val zeroMap = zero.map(r => r._1 -> r._2).toMap
    assert(six.forall { case (id, n) => n <= zeroMap(id) })
    assert(six.values.sum < zeroMap.values.sum) // the merges actually fired
  }

  test("q102 tokenizes the fixture under the pinned merge table; ratio >= 1 everywhere") {
    val st = TextQueries.q102(spark, sf0001)
      .select("id", "n_subwords", "n_chars", "chars_per_subword")
      .as[(Long, Long, Long, Double)].collect()
    assert(st.length === 500)
    // merged subwords can only span >= 1 char each
    assert(st.forall { case (_, subs, chars, ratio) =>
      subs <= chars && ratio >= 1.0 })
    assert(st.exists(_._4 > 1.0)) // the pinned merges compress somewhere
  }

  test("q102's pinned chain merges exactly as the sentinel-replace oracle predicts") {
    // hand-applied: table →(t,a)(ta,b)(l,e)(tab,le)→ [table] = 1;
    // part →(a,r)(p,ar)→ [par, t] = 2; scan →(s,c)(a,n)→ [sc, an] = 2;
    // value has no adjacent merge pair → 5 single-char symbols
    val df = Seq((1L, "table part scan value")).toDF("doc_id", "text")
    val got = Corpus.bpeStats(df, "doc_id", "text",
        Array(("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"),
          ("a", "r"), ("p", "ar"), ("s", "c"), ("a", "n")))
      .select("n_subwords", "n_chars").as[(Long, Long)].head()
    assert(got === ((1L + 2L + 2L + 5L, 18L)))
  }

  test("q99 runs on the fixture and learns frequent merges first") {
    val m = TextQueries.q99(spark, sf0001)
      .orderBy("rank").as[(Int, String, String, Long)].collect()
    assert(m.length === 12)
    // counts are non-increasing-ish is NOT guaranteed (later merges can
    // create new frequent pairs), but every chosen count is positive and
    // ranks are dense
    assert(m.forall(_._4 > 0))
    assert(m.map(_._1).toSeq === (1 to 12))
  }
}
