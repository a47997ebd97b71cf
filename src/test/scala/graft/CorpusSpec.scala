package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Corpus
import graft.registry.{CorpusQueries, DedupQueries, TextQueries}

/** [[graft.operators.Corpus]] — TF-IDF, stratified sampling, sequence
  * packing, decontamination, reweighting. Formula pins on crafted
  * fixtures; the packing decomposition is checked against the naive
  * global-window prefix sum it replaces.
  */
class CorpusSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def docTable(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  test("mixtureAllocate: caps fire, freed budget water-fills, invariants hold") {
    // skewed domains: tiny 'rare' is heavily up-weighted by alpha=0.5
    // and MUST cap at 2 epochs; its freed budget flows to the others.
    // (doc_id, source, tokens): rare = 100 tokens, mid = 1000, big = 10000
    val d = Seq((1L, "rare", 100L), (2L, "mid", 1000L), (3L, "big", 10000L))
      .toDF("doc_id", "source", "n_tok")
    val got = graft.operators.Corpus.mixtureAllocate(d, "source", "n_tok",
        alpha = 0.5, budgetNum = 1, budgetDen = 1, maxEpNum = 2, maxEpDen = 1)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap

    // driver witness of the whole fill (same arithmetic, BigInt floors)
    val total = 11100L
    def w(n: Long) = math.pow(n.toDouble / total, 0.5)
    val z = w(100) + w(1000) + w(10000)
    def micro(n: Long) = math.round(
      BigDecimal(w(n) / z).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble * 1e6)
    val (mR, mM, mB) = (micro(100), micro(1000), micro(10000))
    // round 1: rare's share of the full budget exceeds its 200-token cap
    val r1rare = BigInt(total) * mR / (mR + mM + mB)
    assert(r1rare > 200, s"fixture must force the cap: $r1rare")
    // round 2: mid's share of (budget - 200) over {mid, big} vs cap 2000
    val r2mid = (BigInt(total) - 200) * mM / (mM + mB)
    val midCaps = r2mid > 2000
    val expMid = if (midCaps) 2000L else r2mid.toLong
    val expBig =
      if (midCaps) ((BigInt(total) - 200 - 2000) * mB / mB).toLong
      else ((BigInt(total) - 200) * mB / (mM + mB)).toLong
    assert(got("rare")._5 === 200L && got("rare")._6 === 2.0)
    assert(got("mid")._5 === expMid)
    assert(got("big")._5 === expBig)
    // invariants: nothing exceeds its cap; the budget is not exceeded
    got.values.foreach(r => assert(r._5 <= r._4, s"alloc over cap: $r"))
    assert(got.values.map(_._5).sum <= total)
    // weight monotonicity survives allocation: temperature UP-weights
    // the rare domain per token (epochs descending in size)
    assert(got("rare")._6 >= got("mid")._6 && got("mid")._6 >= got("big")._6)
  }

  test("spanCorruptionPlan equals the driver-side md5 replay; spans coalesce") {
    // plain-Scala witness of the whole plan: same md5 keying, same
    // anchor gate (< 0x0d, the ~15 %-token T5 density), same 2-4 span
    // lengths, same touching-spans-merge — independent of every engine
    // expression
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def witness(id: Long, text: String): (Long, Long, Long, Long, Double) = {
      val n = text.trim.split("[ \t\n\f\r]+").count(_.nonEmpty).toLong
      val ivs = (1L to n).flatMap { p =>
        val hx = md5hex(s"sc:$id:$p")
        if (hx.substring(0, 2) < "0d")
          Some((p, math.min(p + 2 + Integer.parseInt(hx.substring(2, 3), 16) % 3,
            n + 1)))
        else None
      }
      var masked = 0L; var spans = 0L; var cur = 0L
      ivs.foreach { case (s, e) =>
        if (s > cur) { masked += e - s; spans += 1; cur = e }
        else if (e > cur) { masked += e - cur; cur = e }
      }
      (n, ivs.length.toLong, spans, masked,
        if (n > 0) BigDecimal(masked.toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0)
    }
    val fixture = Seq(
      1L -> ("the quick brown fox jumps over the lazy dog and then " +
        "continues running through the forest for a very long time " +
        "while seven wizards watch from the old stone tower nearby"),
      2L -> "short text here",
      3L -> "", // zero tokens: all-zero row, ratio 0
      4L -> ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"),
      // long doc: enough positions that the 13/256 gate statistically
      // must anchor — exercises coalescing at the T5 density
      5L -> (1 to 400).map(i => s"tok$i").mkString(" "))
    val got = Corpus.spanCorruptionPlan(docTable(fixture), "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    fixture.foreach { case (id, text) =>
      val (n, na, ns, nm, ratio) = witness(id, text)
      assert(got(id) === ((n, na, ns, nm, ratio)), s"doc $id diverged")
    }
    // sanity: the long doc anchored, and its realized mask ratio sits
    // near the T5 ~15 % target (wide band: 400 tokens is still small)
    assert(got(5L)._2 > 0)
    assert(got(5L)._5 > 0.05 && got(5L)._5 < 0.30,
      s"mask ratio ${got(5L)._5} far from the ~15 % T5 target")
    assert(got(3L) === ((0L, 0L, 0L, 0L, 0.0)))
  }

  test("codeSwitchAudit flags the planted mixed-language doc; pure docs score 1.0") {
    // doc 1: 30 English-marker tokens then 30 German-marker tokens —
    // exactly two windows, one per language → n_langs 2, share 0.5
    // (majority tie 1-1 breaks to 'de' < 'en' lexicographically)
    val en = Seq.fill(6)("the a of and is").mkString(" ")   // 30 toks
    val de = Seq.fill(6)("der die und ist nicht").mkString(" ")
    val d = docTable(Seq(
      1L -> (en + " " + de),
      2L -> en,                          // one pure-en window
      3L -> (en + " " + en + " " + en))) // three pure-en windows
    val got = Corpus.codeSwitchAudit(d, "doc_id", "text")
      .as[(Long, Long, Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === ((2L, 2L, "de", 0.5)))
    assert(got(2L) === ((1L, 1L, "en", 1.0)))
    assert(got(3L) === ((3L, 1L, "en", 1.0)))
    // empty text emits no row; a short window still classifies
    val e = Corpus.codeSwitchAudit(docTable(Seq(9L -> "", 10L -> "le les une")),
        "doc_id", "text")
      .as[(Long, Long, Long, String, Double)].collect()
    assert(e.toSeq === Seq((10L, 1L, 1L, "fr", 1.0)))
  }

  test("selfBleu2 equals the hand-computed clip arithmetic") {
    // A = "a b a b": bigrams {a b:2, b a:1}, total 3
    // B = "a b c":   bigrams {a b:1, b c:1}, total 2
    // C = "x y":     bigram  {x y:1},        total 1
    // per-g top-2: "a b" m1=2(d1=A) m2=1; others m1=1 m2=0
    // A: min(2, m2=1) + min(1, 0) = 1 → p2 = 1/3
    // B: min(1, m1=2) + min(1, 0) = 1 → p2 = 1/2 (copies A's phrase)
    // C: owns its only bigram, no other holder → p2 = 0 (fully novel)
    val d = docTable(Seq(1L -> "a b a b", 2L -> "a b c", 3L -> "x y",
      4L -> "solo")) // < 2 tokens: no bigrams, no row
    val got = Corpus.selfBleu2(d, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      1L -> ((3L, 1L, 0.333333)),
      2L -> ((2L, 1L, 0.5)),
      3L -> ((1L, 0L, 0.0))))
    // a corpus restating itself scores 1.0 on the copies
    val dup = docTable(Seq(1L -> "p q r s", 2L -> "p q r s", 3L -> "p q r s"))
    val all1 = Corpus.selfBleu2(dup, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(_._4).toSet
    assert(all1 === Set(1.0))
  }

  test("tfidf: score is tf·ln(N/df), rounded, cut by a total order") {
    // 4 docs; "rare" appears 3× in doc 0 only → tf=3, df=1, N=4:
    // score = 3·ln(4) ≈ 4.1589. "common" is in every doc → ln(1) = 0.
    val d = docTable(Seq(
      0L -> "rare rare rare common",
      1L -> "common x",
      2L -> "common y",
      3L -> "common z"))
    val top = Corpus.tfidf(d, "doc_id", "text", 3).collect()
    assert(top.head.getLong(0) === 0L && top.head.getString(1) === "rare")
    assert(top.head.getDouble(2) === math.round(3 * math.log(4.0) * 1e4) / 1e4)
    // ln(1)=0 scores exist but never outrank the singletons (ln(4)≈1.386)
    assert(top.forall(_.getDouble(2) > 0))
  }

  test("tfidf: tokenization is lowercased (Foo and foo are one term)") {
    val d = docTable(Seq(0L -> "Foo foo", 1L -> "bar"))
    val all = Corpus.tfidf(d, "doc_id", "text", 10).collect()
    val foo = all.filter(_.getString(1) == "foo")
    assert(foo.length === 1 && all.forall(_.getString(1) != "Foo"))
    // tf=2, df=1, N=2 → 2·ln(2)
    assert(foo.head.getDouble(2) === math.round(2 * math.log(2.0) * 1e4) / 1e4)
  }

  test("stratifiedSample: exactly floor(tot·num/den) rows per stratum, first ids win") {
    // strata sizes 25 and 7 at 1/10 → 2 and 0 rows
    val df = ((0 until 25).map(i => (i.toLong, "a")) ++
      (100 until 107).map(i => (i.toLong, "b"))).toDF("id", "st")
    val got = Corpus.stratifiedSample(df, Seq("st"), "id", 1, 10)
      .as[(Long, String)].collect().sorted
    assert(got.toSeq === Seq((0L, "a"), (1L, "a")))
  }

  test("stratifiedSample: num=den keeps everything, num=0 keeps nothing") {
    val df = (0 until 10).map(i => (i.toLong, i % 2)).toDF("id", "st")
    assert(Corpus.stratifiedSample(df, Seq("st"), "id", 1, 1).count() === 10)
    assert(Corpus.stratifiedSample(df, Seq("st"), "id", 0, 10).count() === 0)
  }

  test("packSequences: two-level decomposition equals the naive global prefix sum") {
    val rows = (0L until 500L).map(i => (i, 1L + (i * 7 + 3) % 41))
    val df = rows.toDF("id", "n")
    val got = Corpus.packSequences(df, "id", col("n"), budget = 100, bucketWidth = 32)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val naive = df
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", floor(col("off") / 100).cast("long"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === naive.toSeq)
  }

  test("packSequences: result is invariant to bucketWidth (pure tuning knob)") {
    val df = (0L until 300L).map(i => (i, 5L + i % 9)).toDF("id", "n")
    def run(bw: Long) = Corpus.packSequences(df, "id", col("n"), 64, bw)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(1) === run(37) && run(37) === run(4096))
  }

  test("packSequences: offsets are the exclusive cumsum — contiguous, gap-free") {
    val df = Seq((10L, 3L), (20L, 5L), (30L, 2L), (40L, 7L)).toDF("id", "n")
    val got = Corpus.packSequences(df, "id", col("n"), budget = 8, bucketWidth = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._3).toSeq === Seq(0L, 3L, 8L, 10L))
    assert(got.map(_._4).toSeq === Seq(0L, 0L, 1L, 1L))
  }

  test("decontaminate: distinct shared 3-gram shingles per train doc; clean docs absent") {
    val bench = docTable(Seq(100L -> "the quick brown fox jumps"))
    val train = docTable(Seq(
      // shares "the quick brown" and "quick brown fox"
      0L -> "a the quick brown fox",
      1L -> "totally different words here",
      // repeated shared shingle still counts once (shingles are distinct)
      2L -> "the quick brown x the quick brown"))
    val got = Corpus.decontaminate(train, bench, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 2L, 2L -> 1L))
  }

  test("decontaminate: benchmark side broadcasts — train corpus is not shuffled for the probe") {
    val p = CorpusQueries.q59(spark, sf0001).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"probe join should broadcast:\n$p")
  }

  test("decontaminate: broadcastBench=false shuffle-joins with identical results") {
    val bench = docTable(Seq(100L -> "the quick brown fox jumps"))
    val train = docTable(Seq(0L -> "a the quick brown fox", 1L -> "unrelated words"))
    val a = Corpus.decontaminate(train, bench, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val b = Corpus.decontaminate(train, bench, "doc_id", "text", broadcastBench = false)
      .as[(Long, Long)].collect().toMap
    assert(a === b && a === Map(0L -> 2L))
  }

  test("splitAssign: pure function of identity — stable under repartitioning, proportions sane") {
    val df = (0L until 2000L).toDF("id")
    val a = Corpus.splitAssign(df, "id", "s").as[(Long, String)].collect().toMap
    val b = Corpus.splitAssign(df.repartition(13), "id", "s")
      .as[(Long, String)].collect().toMap
    assert(a === b)
    val bySplit = a.values.groupBy(identity).view.mapValues(_.size).toMap
    // e6/f6 cuts = 230/16/10 of 256 ≈ 89.8/6.3/3.9% — allow wide slack
    assert(bySplit("train") > 1600 && bySplit("val") > 50 && bySplit("test") > 30)
    assert(bySplit.values.sum === 2000)
    // no shuffle: the split is map-side
    val p = Corpus.splitAssign(df, "id", "s").queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"splitAssign must stay map-side:\n$p")
  }

  test("splitAssign: different salt reshuffles membership") {
    val df = (0L until 500L).toDF("id")
    val a = Corpus.splitAssign(df, "id", "s1").as[(Long, String)].collect().toMap
    val b = Corpus.splitAssign(df, "id", "s2").as[(Long, String)].collect().toMap
    assert(a.exists { case (k, v) => b(k) != v })
  }

  test("chunk: overlapping-window layout — counts, sizes, tail chunk, empty docs dropped") {
    val df = Seq((0L, 30L), (1L, 16L), (2L, 17L), (3L, 1L), (4L, 0L)).toDF("id", "n")
    val got = Corpus.chunk(df, "id", col("n"), size = 16, stride = 12)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got === Seq(
      (0L, 0L, 16L), (0L, 1L, 16L), (0L, 2L, 6L), // 30 tokens → starts 0,12,24
      (1L, 0L, 16L), (1L, 1L, 4L),                // 16 tokens → starts 0,12
      (2L, 0L, 16L), (2L, 1L, 5L),
      (3L, 0L, 1L)))                              // 1 token → one 1-token chunk
  }

  test("chunk: stride == size means zero overlap and every token exactly once") {
    val df = Seq((0L, 100L), (1L, 7L)).toDF("id", "n")
    val got = Corpus.chunk(df, "id", col("n"), size = 8, stride = 8)
      .as[(Long, Long, Long)].collect()
    assert(got.filter(_._1 == 0L).map(_._3).sum === 100L)
    assert(got.filter(_._1 == 1L).map(_._3).sum === 7L)
  }

  test("pseudonymize: deterministic, salt-dependent, join-preserving") {
    val df = Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("event_id", "user_id")
    val out = Corpus.pseudonymize(df, "user_id", "s", "tok")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // same user → same token (grouping survives); different user → different
    assert(out(0)._3 === out(1)._3)
    assert(out(0)._3 !== out(2)._3)
    assert(out(0)._3.matches("[0-9a-f]{64}"))
    val other = Corpus.pseudonymize(df, "user_id", "s2", "tok")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(other(0)._3 !== out(0)._3)
  }

  test("map-side corpus ops compose with Structured Streaming (split+pseudonymize+chunk in-stream)") {
    // splitAssign/pseudonymize/chunk are stateless projections, so the SAME
    // code runs unchanged inside a streaming query — the batch/stream parity
    // the engine promises for its map-side operators.
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    input.addData((1L, 30L), (2L, 5L), (3L, 0L))
    val staged = Corpus.chunk(
      Corpus.pseudonymize(
        Corpus.splitAssign(input.toDF().toDF("doc_id", "n"), "doc_id", "s"),
        "doc_id", "s", "tok"),
      "doc_id", col("n"), size = 16, stride = 12)
    val q = staged.writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("corpus_stream").as[(Long, Long, Long)].collect().sorted.toSeq
    // doc 1 (30 tokens) → starts 0,12,24 → sizes 16,16,6;
    // doc 2 (5 tokens) → one 5-token chunk; doc 3 (0 tokens) → dropped
    assert(out === Seq((1L, 0L, 16L), (1L, 1L, 16L), (1L, 2L, 6L), (2L, 0L, 5L)))
  }

  test("bigramCounts: multiplicity-preserving adjacent pairs (the BPE merge statistic)") {
    val d = docTable(Seq(
      0L -> "a b a b a",   // "a b" ×2, "b a" ×2
      1L -> "a b c",       // "a b" ×1, "b c" ×1
      2L -> "solo"))       // 1 token → no pairs
    val got = Corpus.bigramCounts(d, "doc_id", "text", 10)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a b", 3L), ("b a", 2L), ("b c", 1L)))
  }

  test("null/empty robustness: corpus ops drop or bucket null rows, never throw") {
    val d = Seq((0L, "a b c d"), (1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    // explode-based ops simply skip null/empty token streams
    assert(Corpus.tfidf(d, "doc_id", "text", 10).collect()
      .forall(_.getLong(0) === 0L))
    assert(Corpus.bigramCounts(d, "doc_id", "text", 10).count() === 3)
    assert(Corpus.unigramSurprisal(d, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq === Seq(0L))
    assert(Corpus.chunk(d, "doc_id",
      graft.functions.TextFunctions.tokenCount(col("text")), 4, 4)
      .select("doc_id").as[Long].collect().distinct.toSeq === Seq(0L))
    val deco = Corpus.decontaminate(d, d.limit(1), "doc_id", "text")
    assert(deco.select("doc_id").as[Long].collect().toSeq === Seq(0L))
    // splitAssign on a NULL id: every when() is null → falls to "test"
    // (pinned: null identities quarantine into the smallest split)
    val nid = Seq(Some(1L), None).toDF("id")
    val splits = Corpus.splitAssign(nid, "id", "s")
      .select("split").as[String].collect().toSeq
    assert(splits.contains("test") && splits.size === 2)
  }

  test("heavyHitters: top-k by count with exact share, total tie-break") {
    val rows = Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++ Seq("d")
    val got = Corpus.heavyHitters(rows.toDF("k"), Seq("k"), 3)
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("a", 6L, 0.461538), ("b", 3L, 0.230769), ("c", 3L, 0.230769)))
  }

  test("unigramSurprisal: mean -ln p(token), exact decimal path, partitioning-invariant") {
    // corpus: 4 tokens total — "a" ×3 (p=3/4), "b" ×1 (p=1/4)
    val d = docTable(Seq(0L -> "a a b", 1L -> "a"))
    def expected(ps: Seq[Double]) = {
      val dec = ps.map(p => BigDecimal(-math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
      (dec.sum.toDouble / ps.size * 1e6).round / 1e6
    }
    val got = Corpus.unigramSurprisal(d, "doc_id", "text")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, expected(Seq(0.75, 0.75, 0.25)), 3L),
      (1L, expected(Seq(0.75)), 1L)))
    // decimal-routed sum: immune to partitioning (a raw double sum is not)
    val sp17 = Corpus.unigramSurprisal(d.repartition(17), "doc_id", "text")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(sp17 === got)
  }

  test("repetition score (q68): 1 - distinct/total 3-grams; short docs excluded") {
    val d = docTable(Seq(
      0L -> "x y z x y z x y",      // 6 3-grams, 3 distinct → 0.5
      1L -> "a b c d",              // 2 3-grams, 2 distinct → 0.0
      2L -> "w w"))                 // < 3 tokens → filtered out
    val got = DedupQueries.q68(spark, sf0001) // shape check only against fixture
    assert(got.columns.toSeq === Seq("doc_id", "rep_score"))
    val rows = d.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n"),
        size(graft.functions.HashFunctions.hashedWordNgrams(col("text"), 3)).cast("long").as("nd"))
      .filter(col("n") >= 3)
      .select(col("doc_id"), round(lit(1.0) - col("nd").cast("double") / (col("n") - 2), 6))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows === Seq((0L, 0.5), (1L, 0.0)))
  }

  test("reweight: each row appears weight times with 1-based copy index; no shuffle") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "src")
    val out = Corpus.reweight(df, when(col("src") === "a", 3).otherwise(1))
      .as[(Long, String, Long)].collect().sorted
    assert(out.toSeq === Seq((1L, "a", 1L), (1L, "a", 2L), (1L, "a", 3L), (2L, "b", 1L)))
    val p = Corpus.reweight(df, lit(2)).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"reweight must stay map-side:\n$p")
  }

  test("weightedSample: replay-stable, monotone in weight, exact at the clamps") {
    val df = (0L until 2000L).map(i => (i, i.toDouble / 1000)).toDF("doc_id", "w")
    def keep(weight: org.apache.spark.sql.Column) =
      Corpus.weightedSample(df, "doc_id", weight, "graft")
        .select("doc_id").as[Long].collect().toSet
    val a = keep(col("w"))
    assert(a === keep(col("w")), "same salt + weights must keep the same rows")
    // weight >= 1 keeps unconditionally; weight <= 0 keeps nothing
    assert(keep(lit(1.5)).size === 2000)
    assert(keep(lit(0.0)).isEmpty && keep(lit(-3.0)).isEmpty)
    // monotone: a row kept at w is kept at any higher w (same draw)
    val half = keep(col("w") * 0.5)
    assert(half.subsetOf(a), "halving weights must only drop rows, never add")
    // the keep rate tracks the weight (16-bit draw, ±5 % tolerance)
    val rate = keep(lit(0.3)).size / 2000.0
    assert(math.abs(rate - 0.3) < 0.05, s"keep rate $rate far from 0.3")
  }

  test("shuffleOrder: a permutation, stable under repartitioning, reshuffled by salt") {
    val df = (0L until 500L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def ranks(d: DataFrame, salt: String) =
      Corpus.shuffleOrder(d, "doc_id", salt)
        .select("doc_id", "shuffle_rank").as[(Long, Long)].collect().toMap
    val a = ranks(df, "graft")
    assert(a.values.toSeq.sorted === (1L to 500L), "ranks must be a permutation of 1..n")
    assert(a !== (0L until 500L).map(i => i -> (i + 1)).toMap, "order must not be identity")
    assert(ranks(df.repartition(7), "graft") === a, "partitioning must not change the order")
    assert(ranks(df, "other") !== a, "a different salt must reshuffle")
  }

  test("bigramSurprisal: mean −ln p(cur|prev) under corpus MLE counts") {
    // bigrams: d0 → (a,b),(b,a),(a,b); d1 → (a,b),(b,c)
    // counts: (a,b)=3 (b,a)=1 (b,c)=1; prefixes: a=3, b=2
    // p(b|a)=1 → 0; p(a|b)=p(c|b)=1/2 → ln 2 (= 0.693147181 at 9 places)
    val d = docTable(Seq(0L -> "a b a b", 1L -> "a b c"))
    val got = Corpus.bigramSurprisal(d, "doc_id", "text")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    val ln2_9 = BigDecimal(math.log(2.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def mean6(sum: BigDecimal, n: Int): Double =
      (sum / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(
      (0L, mean6(ln2_9, 3), 3L),       // 0 + ln2 + 0 over 3 bigrams
      (1L, mean6(ln2_9, 2), 2L)))      // 0 + ln2 over 2 bigrams
  }

  test("bigramSurprisal: docs with fewer than two tokens are excluded") {
    val d = docTable(Seq(0L -> "solo", 1L -> "   ", 2L -> "", 3L -> "a a"))
    val got = Corpus.bigramSurprisal(d, "doc_id", "text")
      .as[(Long, Double, Long)].collect().toSeq
    // d3's only bigram (a,a) has p=1 → surprisal 0
    assert(got === Seq((3L, 0.0, 1L)))
  }

  test("winsorize: values clamp to the group's rounded [lo, hi] quantile band") {
    val df = ((1 to 10).map(v => ("g", Option(v.toDouble))) :+
      ("g", Option.empty[Double])).toDF("grp", "value")
    val got = Corpus.winsorize(df, "grp", "value", 0.1, 0.9, outCol = "w")
      .select("value", "w").as[(Double, Double)].collect().toMap
    // interpolated p10 of 1..10 = 1.9, p90 = 9.1 (9 intervals × 0.1/0.9)
    assert(got(1.0) === 1.9 && got(2.0) === 2.0)
    assert(got(10.0) === 9.1 && got(9.0) === 9.0)
    assert(got(5.0) === 5.0)
    assert(got.size === 10, "null values must be excluded, not clamped")
  }

  test("temperatureMixture: weights are p^α normalized; α=1 is proportional") {
    // groups of 8 and 2 docs: shares 0.8 / 0.2
    val df = ((0 until 8).map(i => (i.toLong, "en")) ++
      (8 until 10).map(i => (i.toLong, "de"))).toDF("doc_id", "lang")
    def mix(alpha: Double): Map[String, (Long, Double, Double, Long)] =
      Corpus.temperatureMixture(df, "lang", alpha)
        .as[(String, Long, Double, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val a1 = mix(1.0) // proportional: weight == share
    assert(a1("en") === ((8L, 0.8, 0.8, 8L)))
    assert(a1("de") === ((2L, 0.2, 0.2, 2L)))
    val a3 = mix(0.3) // tail upsampled, head damped, weights sum to 1
    val z = math.pow(0.8, 0.3) + math.pow(0.2, 0.3)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(a3("de")._3 === r6(math.pow(0.2, 0.3) / z))
    assert(a3("de")._3 > 0.2 && a3("en")._3 < 0.8)
    assert(r6(a3("en")._3 + a3("de")._3) === 1.0)
    intercept[IllegalArgumentException] { mix(0.0) }
  }

  test("collocations: PMI formula with a count floor, total-order cut") {
    // pairs: (a,b)×3, (b,a)×1, (c,d)×1 → only (a,b) clears minCount=2.
    // N=8 tokens (a:3 b:3 c:1 d:1), M=5 bigrams:
    // PMI = ln((3/5) / ((3/8)(3/8))) = ln(4.2666…)
    val d = docTable(Seq(0L -> "a b a b", 1L -> "c d", 2L -> "a b"))
    val got = Corpus.collocations(d, "doc_id", "text", minCount = 2L, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    val want = BigDecimal(math.log((3.0 / 5) / ((3.0 / 8) * (3.0 / 8))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(("a", "b", 3L, want)))
  }

  test("winsorize: quantile bounds are validated") {
    val df = Seq(("g", 1.0)).toDF("grp", "value")
    intercept[IllegalArgumentException] {
      Corpus.winsorize(df, "grp", "value", 0.9, 0.1)
    }
  }

  test("pruneHighDfTokens: strict threshold, order kept, empty-doc row kept") {
    // 4 docs. df: the=4 (100%), cat=2 (50%), dog=1, mat=2 (50%).
    // At maxDfPct=50 only "the" clears df·100 > N·pct (200 > 200 is
    // FALSE for cat/mat — the boundary stays).
    val d = docTable(Seq(
      0L -> "the cat the mat", 1L -> "the dog", 2L -> "the cat mat",
      3L -> "the the the"))
    val got = Corpus.pruneHighDfTokens(d, "doc_id", "text", maxDfPct = 50)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (0L, 4L, 2L, "cat mat"),
      (1L, 2L, 1L, "dog"),
      (2L, 3L, 2L, "cat mat"),
      (3L, 3L, 0L, ""))) // all-boilerplate doc survives as an empty row
  }

  test("pruneHighDfTokens: no token above the cap = identity reassembly") {
    val d = docTable(Seq(0L -> "  a  b ", 1L -> "c d"))
    val got = Corpus.pruneHighDfTokens(d, "doc_id", "text", maxDfPct = 60)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    // whitespace runs collapse through tokenize→join, nothing dropped
    assert(got === Seq((0L, 2L, 2L, "a b"), (1L, 2L, 2L, "c d")))
  }

  test("vocabCoverage: exact shares, tie-break by token, coverage reaches 1 at full cut") {
    // stream: a×3, b×2, c×2, d×1 (total 8); ties (b,c) break by token asc
    val d = docTable(Seq(0L -> "a b c a", 1L -> "a b c d"))
    val got = Corpus.vocabCoverage(d, "text", k = 10)
      .as[(Long, String, Long, Double, Double)].collect().toSeq
    assert(got === Seq(
      (1L, "a", 3L, 0.375, 0.375),
      (2L, "b", 2L, 0.25, 0.625),
      (3L, "c", 2L, 0.25, 0.875),
      (4L, "d", 1L, 0.125, 1.0)))
    // a tighter cut keeps the prefix
    val cut = Corpus.vocabCoverage(d, "text", k = 2)
      .as[(Long, String, Long, Double, Double)].collect().toSeq
    assert(cut === got.take(2))
  }

  test("pruneHighDfTokens: pct bounds validated") {
    val d = docTable(Seq(0L -> "a"))
    intercept[IllegalArgumentException] {
      Corpus.pruneHighDfTokens(d, "doc_id", "text", maxDfPct = 0)
    }
    intercept[IllegalArgumentException] {
      Corpus.pruneHighDfTokens(d, "doc_id", "text", maxDfPct = 100)
    }
  }

  test("invertedIndex: df counts documents once, postings are the k lowest ids") {
    val d = docTable(Seq(
      7L -> "apple apple banana",   // duplicate token counts ONE doc
      3L -> "Apple cherry",         // case-folds into the same posting
      9L -> "banana apple"))
    val got = Corpus.invertedIndex(d, "doc_id", "text", maxPostings = 2)
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("apple", 3L, "3,7"),   // df = 3 but postings capped at the 2 lowest
      ("banana", 2L, "7,9"),
      ("cherry", 1L, "3")))
  }

  test("distinctiveTerms: a planted source-exclusive term ranks first for its source") {
    // both sources use "common" at the SAME rate (4/8 vs 3/6), so only
    // the exclusive terms can separate — log-odds vs the rest rewards
    // what a source says that others don't, not what it says a lot
    val d = Seq(
      (0L, "srcA", "zebra zebra zebra common common"),
      (1L, "srcA", "zebra common common"),
      (2L, "srcB", "common common quux"),
      (3L, "srcB", "common quux quux")
    ).toDF("doc_id", "source", "text")
    val got = Corpus.distinctiveTerms(d, "source", "text", k = 2)
      .select("source", "token", "rk").as[(String, String, Long)]
      .collect().toSet
    assert(got.contains(("srcA", "zebra", 1L)), s"zebra not #1 for srcA: $got")
    assert(got.contains(("srcB", "quux", 1L)), s"quux not #1 for srcB: $got")
    // the log-odds sign agrees with exclusivity: zebra's z for srcA > 0
    val z = Corpus.distinctiveTerms(d, "source", "text", k = 2)
      .filter(col("source") === "srcA" && col("token") === "zebra")
      .select("z").as[Double].collect().head
    assert(z > 0.0, s"exclusive term scored non-positive: $z")
  }

  test("distinctiveTerms: matches the literal Monroe formula on one cell") {
    val d = Seq((0L, "sA", "x x y"), (1L, "sB", "y y"))
      .toDF("doc_id", "source", "text")
    // cell (sA, x): y_s=2, n_s=3, y_rest=0, n_rest=2
    val lo = math.log((2 + 0.5) / (3 - 2 + 0.5)) -
      math.log((0 + 0.5) / (2 - 0 + 0.5))
    val expect = math.round(lo / math.sqrt(1.0 / 2.5 + 1.0 / 0.5) * 1e6) / 1e6
    val z = Corpus.distinctiveTerms(d, "source", "text", k = 3)
      .filter(col("source") === "sA" && col("token") === "x")
      .select("z").as[Double].collect().head
    assert(z === expect, s"got $z, want $expect")
  }

  test("blocklistProfile: flags exactly the documents containing a blocked token") {
    val d = Seq(
      (0L, "s1", "clean text here"),
      (1L, "s1", "has the BAD word"),     // case-insensitive hit
      (2L, "s1", "badge is not bad-word"), // substring must NOT match
      (3L, "s2", "bad bad bad"),
      (4L, "s2", "spotless")
    ).toDF("doc_id", "source", "text")
    val got = Corpus.blocklistProfile(d, "source", "text", Seq("BAD"))
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(("s1", 3L, 1L, 0.333333), ("s2", 2L, 1L, 0.5)))
    intercept[IllegalArgumentException] {
      Corpus.blocklistProfile(d, "source", "text", Seq.empty)
    }
  }

  test("budgetSelect: keeps the greedy best-first prefix that fits the budget") {
    // priority order (desc, id tie-break): d2(0.9,w=4) d0(0.8,w=5)
    // d3(0.8,w=3) d1(0.5,w=2) — cum 4, 9, 12, 14; budget 12 keeps the
    // first three; d1 is cut even though it alone would fit (prefix
    // rule, not knapsack)
    val d = Seq((0L, 0.8, 5L), (1L, 0.5, 2L), (2L, 0.9, 4L), (3L, 0.8, 3L))
      .toDF("doc_id", "score", "w")
    val got = Corpus.budgetSelect(d, "doc_id", col("score"), col("w"),
        budget = 12L, bucket = floor((lit(1.0) - col("score")) * 8))
      .orderBy("cum_tokens")
      .as[(Long, Double, Long, Long)].collect().toSeq
    assert(got === Seq((2L, 0.9, 4L, 4L), (0L, 0.8, 5L, 9L), (3L, 0.8, 3L, 12L)))
    intercept[IllegalArgumentException] {
      Corpus.budgetSelect(d, "doc_id", col("score"), col("w"), 0L, lit(0))
    }
  }

  test("budgetSelect: bucket decomposition equals the naive global prefix sum") {
    // 200 rows, many bucket collisions AND many distinct buckets; the
    // two-level cumsum must reproduce the single-window ground truth
    val rows = (0L until 200L).map { i =>
      (i, ((i * 37) % 101).toDouble / 101.0, 1L + (i * 13) % 7)
    }
    val d = rows.toDF("doc_id", "score", "w")
    val naive = rows.sortBy { case (id, p, _) => (-p, id) }
      .scanLeft((0L, 0.0, 0L, 0L)) { case ((_, _, _, cum), (id, p, w)) =>
        (id, p, w, cum + w)
      }.drop(1).takeWhile(_._4 <= 300L)
    val got = Corpus.budgetSelect(d, "doc_id", col("score"), col("w"),
        budget = 300L, bucket = floor((lit(1.0) - col("score")) * 1024))
      .orderBy("cum_tokens")
      .as[(Long, Double, Long, Long)].collect().toSeq
    assert(got === naive)
  }

  test("hashSample: the k smallest md5 keys, stable under repartitioning") {
    val d = (0L until 50L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expect = (0L until 50L).map(i => md5hex(i.toString) -> i)
      .sortBy(_._1).take(7)
    val got = Corpus.hashSample(d, "doc_id", k = 7)
      .select("sample_key", "doc_id", "sample_rank")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2)) === expect)
    assert(got.map(_._3) === (1L to 7L))
    // a pure function of the ids: any partitioning yields the same rows
    val re = Corpus.hashSample(d.repartition(13), "doc_id", k = 7)
      .select("sample_key", "doc_id", "sample_rank")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(re === got)
    intercept[IllegalArgumentException] { Corpus.hashSample(d, "doc_id", 0) }
  }

  test("oovRate: OOV fraction against the (tf desc, token) top-k vocabulary") {
    // tf: a=4, b=2, c=1, d=1, e=1 → vocab(k=2) = {a, b}
    val d = docTable(Seq(0L -> "a a b c", 1L -> "a b d", 2L -> "a e"))
    val got = Corpus.oovRate(d, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (0L, 4L, 1L, 0.25),      // c is OOV
      (1L, 3L, 1L, 0.333333),  // d is OOV
      (2L, 2L, 1L, 0.5)))      // e is OOV
    // tie-break at the cut is lexicographic: c beats d and e at tf=1
    val wide = Corpus.oovRate(d, "doc_id", "text", vocabSize = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(wide.map(_._3) === Seq(0L, 1L, 1L))
    intercept[IllegalArgumentException] { Corpus.oovRate(d, "doc_id", "text", 0) }
  }

  test("filterFunnel: each document is charged to its FIRST failing stage") {
    val d = Seq(
      0L -> "a b",                                          // n=2 → min_tokens
      1L -> (0 until 100).map(i => s"w$i").mkString(" "),   // n=100 → max_tokens
      2L -> "x x x x x x x x x x",                          // 1 distinct 3-gram → repetition
      3L -> "a b c d e f g h i j a c e g i b d f h j",      // d=10 < 15 → quality
      4L -> "der die und ist nicht haus katze hund baum wasser feuer erde luft berg tal", // de
      5L -> "the cat sat on a mat with one two three four five six seven eight" // survivor
    ).toDF("doc_id", "text")
    val got = Corpus.filterFunnel(d, "doc_id", "text")
      .orderBy("stage_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "min_tokens", 6L, 1L, 5L),
      (2L, "max_tokens", 5L, 1L, 4L),
      (3L, "repetition", 4L, 1L, 3L),
      (4L, "quality",    3L, 1L, 2L),
      (5L, "language",   2L, 1L, 1L)))
    intercept[IllegalArgumentException] {
      Corpus.filterFunnel(d, "doc_id", "text", minTokens = 2)
    }
  }

  test("chunkWindows: stride steps, short tail, final window reaches the last token") {
    val d = docTable(Seq(
      0L -> (0 until 10).map(i => s"t$i").mkString(" "),  // n=10
      1L -> "a b c",                                       // n=3 < window → one chunk
      2L -> ""))                                           // no tokens → no rows
    // W=4, S=3: nc = 1 + ceil(6/3) = 3 → starts 0,3,6, all full-width
    val got = Corpus.chunkWindows(d, "doc_id", "text", window = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (0L, 0L, 0L, 4L, "t0 t1 t2 t3"),
      (0L, 1L, 3L, 4L, "t3 t4 t5 t6"),
      (0L, 2L, 6L, 4L, "t6 t7 t8 t9"),
      (1L, 0L, 0L, 3L, "a b c")))
    // W=4, S=4 (no overlap): nc = 1 + ceil(6/4) = 3 → tail is short
    val tail = Corpus.chunkWindows(d.where(col("doc_id") === 0), "doc_id", "text", 4, 4)
      .orderBy("chunk_id").as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(tail.map(c => (c._3, c._4)) === Seq((0L, 4L), (4L, 4L), (8L, 2L)))
    assert(tail.last._5 === "t8 t9")
    intercept[IllegalArgumentException] {
      Corpus.chunkWindows(d, "doc_id", "text", window = 4, stride = 5)
    }
  }

  test("mixtureSample: identity-hash thresholds, unknown strata dropped, rerun-stable") {
    val d = (0L until 200L).map(i => (i, if (i < 80) "a" else if (i < 160) "b" else "zz"))
      .toDF("doc_id", "source")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // ground truth in plain Scala: keep iff first-6-hex < ⌊rate·16⁶⌋
    val expect = (0L until 200L).flatMap { i =>
      val src = if (i < 80) "a" else if (i < 160) "b" else "zz"
      val rate = src match { case "a" => 0.5; case "b" => 1.0; case _ => -1.0 }
      val key = md5hex(s"mix:$i")
      val keep = rate match {
        case 1.0  => true
        case -1.0 => false   // "zz" is not in the rates map
        case r    => key.substring(0, 6) < f"${(r * (1L << 24)).toLong}%06x"
      }
      if (keep) Some((i, src, key)) else None
    }.toSet
    val got = Corpus.mixtureSample(d, "doc_id", "source",
        rates = Map("a" -> 0.5, "b" -> 1.0))
      .as[(Long, String, String)].collect().toSet
    assert(got === expect)
    // every "b" row survives (rate 1.0); no "zz" row survives
    assert(got.count(_._2 == "b") === 80 && !got.exists(_._2 == "zz"))
    // a ~0.5 rate actually thins stratum "a" (sanity, not exact)
    val aKept = got.count(_._2 == "a")
    assert(aKept > 10 && aKept < 70, s"rate 0.5 kept $aKept of 80")
    // stable under repartitioning — identical key set, no re-draw
    val re = Corpus.mixtureSample(d.repartition(17), "doc_id", "source",
        rates = Map("a" -> 0.5, "b" -> 1.0))
      .as[(Long, String, String)].collect().toSet
    assert(re === got)
    intercept[IllegalArgumentException] {
      Corpus.mixtureSample(d, "doc_id", "source", rates = Map.empty)
    }
    intercept[IllegalArgumentException] {
      Corpus.mixtureSample(d, "doc_id", "source", rates = Map("a" -> 1.5))
    }
  }

  test("perplexityBuckets: balanced tiers ordered by score, remainder to early buckets") {
    val rows = Corpus.perplexityBuckets(Tables.documents(spark, sf0001),
        "doc_id", "text", k = 3)
      .select("doc_id", "surprisal", "bucket")
      .as[(Long, Double, Long)].collect().toSeq
    val byBucket = rows.groupBy(_._3)
    assert(byBucket.keySet === Set(1L, 2L, 3L))
    val sizes = byBucket.view.mapValues(_.size).toMap
    assert(sizes.values.max - sizes.values.min <= 1, s"unbalanced: $sizes")
    // the head tier's worst score never exceeds the tail tier's best
    assert(byBucket(1L).map(_._2).max <= byBucket(3L).map(_._2).min)
  }

  test("hashSamplePerGroup: k per stratum, the k smallest keys, rerun/partitioning stable") {
    val d = (0L until 200L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val got = Corpus.hashSamplePerGroup(d, "source", "doc_id", k = 5)
      .select("doc_id", "source", "sample_key")
      .as[(Long, String, String)].collect().toSeq
    assert(got.groupBy(_._2).view.mapValues(_.size).toMap ===
      Map("src0" -> 5, "src1" -> 5, "src2" -> 5, "src3" -> 5))
    // per stratum, exactly the 5 smallest md5 keys survive
    val all = d.withColumn("k", org.apache.spark.sql.functions.md5(
        col("doc_id").cast("string")))
      .as[(Long, String, String)].collect()
    all.groupBy(_._2).foreach { case (src, rows) =>
      val want = rows.sortBy(r => (r._3, r._1)).take(5).map(_._1).toSet
      assert(got.filter(_._2 == src).map(_._1).toSet === want, s"stratum $src")
    }
    // a stratum smaller than k returns whole
    val tiny = Corpus.hashSamplePerGroup(
        Seq((1L, "only")).toDF("doc_id", "source"), "source", "doc_id", k = 5)
      .count()
    assert(tiny === 1L)
    // stable under repartitioning
    val re = Corpus.hashSamplePerGroup(d.repartition(13), "source", "doc_id", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(re === got.map(_._1).toSet)
  }

  test("thresholdSweep: hand-counted keep curve, dense grid, monotone") {
    val d = Seq(("a", 0.02), ("a", 0.30), ("a", 0.30), ("a", 0.99),
      ("b", 0.50)).toDF("source", "score")
    val got = Corpus.thresholdSweep(d, "source", col("score"), steps = 10)
      .select("source", "thr_idx", "n_kept", "keep_rate")
      .as[(String, Long, Long, Double)].collect().toSeq
    // dense: every (source, 0..9) row exists
    assert(got.size === 20)
    val a = got.filter(_._1 == "a").sortBy(_._2).map(r => (r._3, r._4))
    // t=0 keeps all 4; t=0.1..0.3 keeps the 0.30,0.30,0.99 trio;
    // t=0.4.. keeps only 0.99
    assert(a(0) === ((4L, 1.0)))
    assert(a(1) === ((3L, 0.75)) && a(3) === ((3L, 0.75)))
    assert(a(4) === ((1L, 0.25)) && a(9) === ((1L, 0.25)))
    // keep counts never increase as the threshold rises
    got.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(_._2).map(_._3).sliding(2).foreach {
        case Seq(x, y) => assert(y <= x)
        case _ =>
      }
    }
  }

  test("curriculumOrder: positions injective, per-source difficulty monotone, first wave mixed") {
    val d = Seq(
      (1L, "a", 0.9), (2L, "a", 0.7), (3L, "a", 0.7), (4L, "b", 0.8),
      (5L, "b", 0.95), (6L, "c", 0.5)
    ).toDF("doc_id", "source", "score")
    val got = Corpus.curriculumOrder(d, "doc_id", "source", col("score"))
      .select("doc_id", "source", "score", "src_rank", "position")
      .as[(Long, String, Double, Long, Long)].collect().toSeq
    // injective positions
    assert(got.map(_._5).distinct.size === got.size)
    // within each source, score never increases along src_rank (tie → id)
    got.groupBy(_._2).values.foreach { rows =>
      rows.sortBy(_._4).sliding(2).foreach {
        case Seq(a, b) => assert(a._3 >= b._3, s"difficulty regressed: $rows")
        case _ =>
      }
    }
    // the first |sources| positions hold at most one doc per source
    val ns = got.map(_._2).distinct.size
    val firstWave = got.filter(_._5 <= ns)
    assert(firstWave.map(_._2).distinct.size === firstWave.size)
    // hand-check: a-rank1 doc 1 → position 1; b-rank1 doc 5 → 2; c doc 6 → 3
    val byDoc = got.map(r => r._1 -> r._5).toMap
    assert(byDoc(1L) === 1L && byDoc(5L) === 2L && byDoc(6L) === 3L)
    // tie in source a: doc 2 beats doc 3 by id → ranks 2,3 → positions 4,7
    assert(byDoc(2L) === 4L && byDoc(3L) === 7L)
  }

  test("zipfFit: an exact c=24/r power law recovers slope -1 and intercept ln 24") {
    val text = (("a " * 24) + ("b " * 12) + ("c " * 8) + ("d " * 6)).trim
    val row = Corpus.zipfFit(docTable(Seq(0L -> text)), "text").collect().head
    assert(row.getLong(0) === 4L)
    assert(row.getDouble(1) === -1.0)       // counts 24,12,8,6 = 24/rank exactly
    assert(row.getDouble(2) === 3.178054)   // round(ln 24, 6)
  }

  test("zipfFit: natural-ish corpus slope is negative and k caps the fit") {
    val row = Corpus.zipfFit(Tables.documents(spark, sf0001), "text", k = 50)
      .collect().head
    // the fixture vocabulary is smaller than k — the fit uses what exists
    assert(row.getLong(0) > 2L && row.getLong(0) <= 50L)
    assert(row.getDouble(1) < 0.0, s"non-decreasing rank-frequency: $row")
    intercept[IllegalArgumentException] {
      Corpus.zipfFit(Tables.documents(spark, sf0001), "text", k = 1)
    }
  }

  test("fertility (q134): subword count is never below the word count") {
    val rows = TextQueries.q134(spark, sf0001)
      .select("n_bpe", "n_words", "fertility")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (b, w, f) =>
      assert(b >= w, s"BPE-ish splitting can only refine words: $b < $w")
      assert(f >= 1.0)
    }
  }

  test("heapsCurve: hand-computed buckets, empty docs contribute nothing") {
    // bucketWidth 2: docs 0,1 → bucket 0; docs 2,3 → bucket 2.
    // bucket 0 stream = [a,b,b,c] (4 tokens, vocab {a,b,c});
    // bucket 2 adds [a,c,d] (3 tokens, one new type d); doc 3 is empty.
    val d = docTable(Seq(
      0L -> "a b", 1L -> "b c", 2L -> "a c d", 3L -> "   "))
    val got = Corpus.heapsCurve(d, "doc_id", "text", bucketWidth = 2L)
      .orderBy("bucket")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 4L, 3L), (2L, 7L, 4L)))
  }

  test("heapsCurve: both series are non-decreasing and vocab never exceeds tokens") {
    val rows = Corpus.heapsCurve(Tables.documents(spark, sf0001),
        "doc_id", "text", bucketWidth = 50L)
      .orderBy("bucket").as[(Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Seq((_, t0, v0), (_, t1, v1)) =>
        assert(t1 >= t0 && v1 >= v0, s"non-monotone at $rows")
      case _ =>
    }
    assert(rows.forall { case (_, t, v) => v <= t })
    // saturation: the LAST bucket mints proportionally fewer new types
    // than the first (Heaps β < 1 on any natural-ish corpus)
    val firstRate = rows.head._3.toDouble / rows.head._2
    val lastNew = (rows.last._3 - rows(rows.length - 2)._3).toDouble
    val lastTok = (rows.last._2 - rows(rows.length - 2)._2).toDouble
    assert(lastNew / lastTok < firstRate,
      s"vocabulary not saturating: $firstRate vs ${lastNew / lastTok}")
  }

  test("dsirSelect: domain-vocabulary docs outrank off-domain, ranks dense, rerun-stable") {
    // target speaks {alpha beta gamma}; raw pool: docs 0-2 share the
    // domain vocabulary, docs 10-12 speak {delta epsilon zeta} — the
    // in-domain docs must claim ranks 1-3 regardless of partitioning
    val target = docTable(Seq(
      100L -> "alpha beta gamma alpha", 101L -> "beta gamma beta alpha"))
    val raw = docTable(Seq(
      0L -> "alpha beta gamma", 1L -> "beta alpha beta", 2L -> "gamma gamma alpha",
      10L -> "delta epsilon zeta", 11L -> "epsilon zeta delta", 12L -> "zeta delta delta"))
    def run(r: DataFrame) =
      Corpus.dsirSelect(r, target, "doc_id", "text", dim = 32, k = 6)
        .as[(Long, Long, Double, Long)].collect().toSeq
    val got = run(raw)
    assert(got.map(_._4) === (1L to 6L))
    assert(got.take(3).map(_._1).toSet === Set(0L, 1L, 2L),
      s"in-domain docs must rank first: $got")
    // every in-domain weight strictly above every off-domain weight
    assert(got.take(3).map(_._3).min > got.drop(3).map(_._3).max)
    assert(run(raw.repartition(7)) === got)
  }

  test("dsirScoreMap freezes once; dsirScoreRowWise scores new batches without a shuffle") {
    val target = docTable(Seq(100L -> "alpha beta gamma alpha"))
    val raw = docTable(Seq(
      0L -> "alpha beta gamma", 10L -> "delta epsilon zeta"))
    val su = Corpus.dsirScoreMap(raw, target, "text", dim = 32)
    // frozen map agrees with the end-to-end selection on the same pool
    val sel = Corpus.dsirSelect(raw, target, "doc_id", "text", dim = 32, k = 2)
      .as[(Long, Long, Double, Long)].collect().map(r => r._1 -> r._3).toMap
    val scored = Corpus.dsirScoreRowWise(raw, "doc_id", "text", su, dim = 32)
    assert(scored.as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap === sel)
    // a LATER batch scores under the frozen map: in-domain above off-domain
    val batch = docTable(Seq(50L -> "beta gamma beta", 51L -> "zeta zeta epsilon"))
    val got = Corpus.dsirScoreRowWise(batch, "doc_id", "text", su, dim = 32)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(50L) > got(51L), s"frozen scorer lost the domain signal: $got")
    // the scoring plan is a pure projection
    val p = scored.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"row-wise DSIR scoring must not shuffle:\n$p")
  }

  test("dsirScoreRowWise equals explode + score-table join + per-doc sum on the fixture corpus") {
    val docs = Tables.documents(spark, sf0001)
    val dim = 256
    val su = Corpus.dsirScoreMap(docs, docs.filter($"source" === "src0"), "text", dim)
    val rowWise = Corpus.dsirScoreRowWise(docs, "doc_id", "text", su, dim)
      .select($"id", $"logw_units").as[(Long, Long)].collect().toMap
    val joined = docs
      .select($"doc_id", explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
      .select($"doc_id",
        graft.operators.QualityClassifier.featureBucket($"tok", dim).as("j"))
      .join(su.toSeq.toDF("j", "u"), "j")
      .groupBy($"doc_id").agg(sum($"u").as("logw_units"))
      .as[(Long, Long)].collect().toMap
    assert(rowWise.nonEmpty && rowWise === joined)
  }

  test("dsirSelect: n_tokens matches tokenization; weights are finite; k caps output") {
    val target = Tables.documents(spark, sf0001).filter($"source" === "src0")
    val raw = Tables.documents(spark, sf0001).filter($"source" =!= "src0")
    val got = Corpus.dsirSelect(raw, target, "doc_id", "text", dim = 64, k = 10)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.length === 10)
    val nTok = raw.select($"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (id, n, w, _) =>
      assert(n === nTok(id))
      assert(!w.isNaN && !w.isInfinite)
    }
  }

  private def bm25Queries(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("qid", "qtext")

  test("bm25TopK: single-term score matches the literal Robertson formula") {
    // corpus: 4 docs, "whale" only in doc 0 (tf=2, dl=4), avgdl=(4+2+2+2)/4=2.5
    val d = docTable(Seq(
      0L -> "whale whale sea sky",
      1L -> "sea sky", 2L -> "sky sun", 3L -> "sun sea"))
    val q = bm25Queries(Seq(10L -> "whale"))
    val got = Corpus.bm25TopK(d, "doc_id", "text", q, "qid", "qtext", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.length === 1)
    val (qid, id, score, rk) = got.head
    assert(qid === 10L && id === 0L && rk === 1L)
    val idf = math.log(1.0 + (4.0 - 1.0 + 0.5) / (1L + 0.5))
    val tfn = 2.0 * (1.2 + 1.0) / (2.0 + 1.2 * (1.0 - 0.75 + 0.75 * 4.0 / (10.0 / 4L)))
    val want = new java.math.BigDecimal(idf * tfn)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(score === math.round(want * 1e6) / 1e6)
  }

  test("bm25TopK: non-numeric doc ids (UUID-style strings) rank per-doc, not null-collapsed") {
    val d = Seq(
      "a-0" -> "whale whale sea sky", "b-1" -> "sea sky",
      "c-2" -> "sky sun", "d-3" -> "sun sea").toDF("doc_id", "text")
    val q = bm25Queries(Seq(10L -> "sea"))
    val got = Corpus.bm25TopK(d, "doc_id", "text", q, "qid", "qtext", k = 5)
      .collect().map(r => (r.getString(1), r.getLong(3)))
    // "sea" appears in three distinct docs — each must keep its own id
    assert(got.map(_._1).toSet === Set("a-0", "b-1", "d-3"))
    assert(got.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("bm25TopK: rarer terms outrank common ones; length normalization favors short docs") {
    val d = docTable(Seq(
      0L -> "alpha beta beta beta beta beta beta beta",
      1L -> "alpha beta",
      2L -> "beta gamma", 3L -> "gamma delta", 4L -> "delta alpha"))
    val q = bm25Queries(Seq(1L -> "alpha"))
    val got = Corpus.bm25TopK(d, "doc_id", "text", q, "qid", "qtext", k = 10)
      .orderBy($"rk").collect()
    // same tf=1 for docs 1 and 4 (dl=2) vs doc 0 (dl=8): short docs rank first
    val ids = got.map(_.getLong(1)).toSeq
    assert(ids.take(2).toSet === Set(1L, 4L) && ids(2) === 0L)
    // equal scores tie-break by doc_id ascending
    assert(got(0).getLong(1) === 1L && got(1).getLong(1) === 4L)
    assert(got(0).getDouble(2) === got(1).getDouble(2))
  }

  test("bm25TopK: multi-term queries sum per-term scores; k cuts; no-hit query is empty") {
    val d = docTable(Seq(
      0L -> "alpha beta", 1L -> "alpha gamma", 2L -> "beta gamma",
      3L -> "delta epsilon", 4L -> "epsilon zeta"))
    val q = bm25Queries(Seq(1L -> "alpha beta", 2L -> "nosuchterm"))
    val got = Corpus.bm25TopK(d, "doc_id", "text", q, "qid", "qtext", k = 2)
    val byQ = got.collect().groupBy(_.getLong(0))
    assert(!byQ.contains(2L), "query with no corpus terms yields no rows")
    val q1 = byQ(1L).sortBy(_.getLong(3))
    assert(q1.length === 2, "k=2 cuts the candidate list")
    // doc 0 matches both terms, docs 1/2 match one: doc 0 must rank first
    assert(q1.head.getLong(1) === 0L)
  }

  test("classEntropy: 0 for a monoculture, ln(k) for a uniform mix, nulls excluded") {
    val df = Seq(
      ("mono", Some("en")), ("mono", Some("en")), ("mono", Some("en")),
      ("uni", Some("en")), ("uni", Some("de")), ("uni", Some("fr")),
      ("skew", Some("en")), ("skew", Some("en")), ("skew", Some("de")),
      ("skew", None)).toDF("source", "lang")
    val got = Corpus.classEntropy(df, "source", "lang")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got("mono") === ((1L, 0.0)))
    def dec9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val lnK = (1 to 3).map(_ => dec9(-(1.0 / 3 * math.log(1.0 / 3)))).sum.toDouble
    assert(got("uni") === ((3L, math.round(lnK * 1e6) / 1e6)))
    // skew: p = 2/3, 1/3 (the null row is excluded)
    val h = (dec9(-(2.0 / 3 * math.log(2.0 / 3))) +
      dec9(-(1.0 / 3 * math.log(1.0 / 3)))).toDouble
    assert(got("skew") === ((2L, math.round(h * 1e6) / 1e6)))
  }

  test("tokenConcentration: deciles partition the corpus, cumulative share ends at 1") {
    val d = docTable((0L until 40L).map(i =>
      i -> (Seq.tabulate((i % 7 + 2).toInt)(j => s"w${i}_$j").mkString(" "))))
    val got = Corpus.tokenConcentration(d, "doc_id", "text", k = 10)
      .orderBy($"decile")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq === (1L to 10L))
    assert(got.map(_._2).sum === 40L, "deciles partition the docs")
    val shares = got.map(_._4)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b },
      "cumulative share is monotone")
    assert(shares.last === 1.0)
  }

  test("keywordsPerDoc: per-doc tf·ln(N/df) top-k with token tie-break") {
    val d = docTable(Seq(
      0L -> "rare rare common shared",
      1L -> "common other shared",
      2L -> "common third x"))
    val got = Corpus.keywordsPerDoc(d, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getString(1)).toMap
    // doc 0: "rare" tf=2 df=1 → 2·ln3 ≈ 2.197 beats "shared" (df=2, ln1.5)
    assert(got((0L, 1L)) === "rare")
    // "common" df=3 → score 0 everywhere; never rank 1
    assert(!got.exists { case ((_, rk), t) => t == "common" && rk == 1L })
    assert(got((2L, 1L)) === "third" || got((2L, 1L)) === "x",
      s"doc 2's singletons tie at ln3, token order decides: ${got((2L, 1L))}")
    assert(got((2L, 1L)) === "third", "tie-break is token ASC")
  }

  test("associationPairs: hand-computed support and lift; ordered pair keys") {
    // users: 1 {a,b}, 2 {a,b}, 3 {a,c}, 4 {c}  → nk = 4
    val df = Seq((1L, "a"), (1L, "b"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"), (4L, "c")).toDF("user_id", "item")
    val got = Corpus.associationPairs(df, "user_id", "item")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    // (a,b): n_a=3, n_b=2, n_ab=2 → support 0.5, lift 4·2/(3·2) = 4/3
    assert(got(("a", "b")) === ((3L, 2L, 2L, 0.5,
      math.round(4.0 * 2 / (3.0 * 2) * 1e6) / 1e6)))
    // (a,c): n_ab=1 → support 0.25, lift 4·1/(3·2) = 2/3
    assert(got(("a", "c")) === ((3L, 2L, 1L, 0.25,
      math.round(4.0 * 1 / (3.0 * 2) * 1e6) / 1e6)))
    assert(!got.contains(("b", "c")), "never co-occur → absent")
    assert(got.keys.forall { case (a, b) => a < b }, "unordered pairs keyed a < b")
  }

  test("knSurprisal: hand-computed interpolated Kneser-Ney terms (D = 3/4)") {
    val d = docTable(Seq(1L -> "a b", 2L -> "a b", 3L -> "c b", 4L -> "a d",
      5L -> "single"))
    // cbg: (a,b)=2 (c,b)=1 (a,d)=1; ctx a:(3,2) c:(1,1); cont b:2 d:1; types=3
    def kn(cbg: Long, cprefix: Long, n1fw: Long, contw: Long): Double = {
      val p = (cbg.toDouble - 0.75) / cprefix +
        0.75 * n1fw.toDouble / cprefix * (contw.toDouble / 3L)
      val s = new java.math.BigDecimal(-math.log(p))
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      math.round(s / 1 * 1e6) / 1e6
    }
    val got = Corpus.knSurprisal(d, "doc_id", "text")
      .as[(Long, Double, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L), "1-token docs are excluded")
    assert(got(1L) === ((kn(2, 3, 2, 2), 1L)))
    assert(got(3L) === ((kn(1, 1, 1, 2), 1L)))
    assert(got(4L) === ((kn(1, 3, 2, 1), 1L)))
  }

  test("repetitionMetrics: hand-computed line and n-gram repetition shares") {
    // doc 1: 11 tokens, tchars = 27 + 10 = 37; lines: "a b a b c",
    // "x"×2, "longer line"×2 → dupl = 2/5, dup chars = (1 + 11)/33;
    // top2 tie at c=2 between "a b" and "longer line" → "a b" (2×3)/37
    // doc 2: period-5 repeat → every 5..10-gram duplicates across
    // period boundaries; dup5 = (2+1+1+1+1)·9/29, dup10 = 1·19/29
    val d = docTable(Seq(
      1L -> "a b a b c\nx\nx\nlonger line\nlonger line",
      2L -> "p q r s t p q r s t p q r s t",
      3L -> "",
      4L -> "solo"))
    def r6(x: Double): Double = math.round(x * 1e6) / 1e6
    val got = Corpus.repetitionMetrics(d, "doc_id", "text")
    assert(got.columns === Array("doc_id", "n_lines", "dup_line_r",
      "dup_line_char_r", "top2_r", "top3_r", "top4_r",
      "dup5_r", "dup6_r", "dup7_r", "dup8_r", "dup9_r", "dup10_r"))
    val byId = got.collect().map(r => r.getLong(0) -> r).toMap
    val r1 = byId(1L)
    assert(r1.getLong(1) === 5L)
    assert(r1.getDouble(2) === 0.4)
    assert(r1.getDouble(3) === r6(12.0 / 33))
    assert(r1.getDouble(4) === r6(6.0 / 37))
    assert(r1.getDouble(5) === r6(5.0 / 37))
    assert(r1.getDouble(6) === r6(7.0 / 37))
    (7 to 12).foreach(i => assert(r1.getDouble(i) === 0.0,
      s"doc 1 col $i: no 5..10-gram repeats"))
    val r2 = byId(2L)
    assert(r2.getDouble(4) === r6(9.0 / 29))
    assert(r2.getDouble(7) === r6(54.0 / 29),
      "overlap convention: duplicated-char share may exceed 1")
    assert(r2.getDouble(12) === r6(19.0 / 29))
    val r3 = byId(3L)
    assert(r3.getLong(1) === 0L)
    (2 to 12).foreach(i => assert(r3.getDouble(i) === 0.0,
      s"empty doc col $i must be 0.0, not null/NaN"))
    val r4 = byId(4L)
    assert(r4.getLong(1) === 1L)
    assert(r4.getDouble(2) === 0.0)
    assert(r4.getDouble(4) === 0.0, "single token: no grams")
  }

  test("repetitionMetrics: row-local kernel equals the legacy shuffle-based replay on random docs") {
    // the legacy (doc, n, gram) corpus-wide aggregate the kernel
    // replaced — kept here as the independent arithmetic witness: same
    // token convention, same (count DESC, gram ASC) argmax, same
    // Spark-round(…, 6) discipline. Any kernel divergence in
    // tokenization, tie order, code-point lengths, or rounding fails
    // this bit-for-bit comparison.
    def legacy(docs: DataFrame): DataFrame = {
      import graft.functions.{NumFunctions, TextFunctions}
      val base = docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextFunctions.tokens(col("text")).as("__t"),
          filter(split(col("text"), "\n"), l => l =!= "").as("__l"))
        .withColumn("__tchars",
          when(size(col("__t")) === 0, lit(0L)).otherwise(
            aggregate(transform(col("__t"), t => length(t).cast("long")),
              lit(0L), (a, x) => a + x) + size(col("__t")) - 1))
      val grams = base.filter(size(col("__t")) >= 2)
        .select(col("doc_id"), explode(expr(
          """flatten(transform(array(2,3,4,5,6,7,8,9,10), n ->
            |  transform(slice(sequence(1, size(__t)), 1,
            |      greatest(size(__t) - n + 1, 0)),
            |    i -> named_struct('n', n,
            |      'g', concat_ws(' ', slice(__t, i, n))))))""".stripMargin)).as("e"))
        .select(col("doc_id"), col("e.n").as("n"), col("e.g").as("g"))
      val gc = grams.groupBy(col("doc_id"), col("n"), col("g"))
        .agg(count(lit(1)).as("c"))
      val gAgg = gc.groupBy(col("doc_id"), col("n")).agg(
          min(struct(negate(col("c")).as("nc"), col("g").as("g"))).as("__top"),
          sum(when(col("c") >= 2,
            (col("c") - 1) * length(col("g")).cast("long")).otherwise(0L))
            .as("__dupn"))
        .select(col("doc_id"), col("n"),
          (negate(col("__top.nc")) * length(col("__top.g")).cast("long"))
            .as("__topn"),
          col("__dupn"))
      val wide = {
        val aggs = (2 to 10).flatMap { n =>
          (if (n <= 4) Seq(max(when(col("n") === n, col("__topn"))).as(s"__top$n"))
           else Seq.empty) ++
            (if (n >= 5) Seq(max(when(col("n") === n, col("__dupn"))).as(s"__dup$n"))
             else Seq.empty)
        }
        gAgg.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      }
      val lines = base.select(col("doc_id"), explode(col("__l")).as("ln"))
        .groupBy(col("doc_id"), col("ln")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_lines"),
          (sum(col("c")) - count(lit(1))).as("__dupl"),
          sum((col("c") - 1) * length(col("ln")).cast("long")).as("__duplc"),
          sum(col("c") * length(col("ln")).cast("long")).as("__lchars"))
      def fr(num: org.apache.spark.sql.Column,
             den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        NumFunctions.roundNz(
          when(den.isNull || den === 0 || num.isNull, lit(0.0))
            .otherwise(num.cast("double") / den), 6)
      base.select(col("doc_id"), col("__tchars"))
        .join(lines, Seq("doc_id"), "left")
        .join(wide, Seq("doc_id"), "left")
        .select(Seq(col("doc_id"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          fr(col("__dupl"), col("n_lines")).as("dup_line_r"),
          fr(col("__duplc"), col("__lchars")).as("dup_line_char_r")) ++
          (2 to 4).map(n => fr(col(s"__top$n"), col("__tchars")).as(s"top${n}_r")) ++
          (5 to 10).map(n => fr(col(s"__dup$n"), col("__tchars")).as(s"dup${n}_r")): _*)
    }
    val rnd = new scala.util.Random(193)
    // small vocab forces gram collisions; π/µ exercise code-point
    // lengths and the UTF-8-order tie-break; \t and runs of blanks
    // exercise the whitespace class
    val vocab = Array("a", "b", "ab", "π", "µx", "zz", "q1")
    val docs = (0L until 60L).map { id =>
      val n = rnd.nextInt(30)
      val toks = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
      val sepChoices = Seq(" ", "  ", "\t", "\n", " \n ")
      val seps = Seq.fill(math.max(n - 1, 0))(sepChoices(rnd.nextInt(5)))
      val body = if (n == 0) "" else
        toks.head + seps.zip(toks.tail).map { case (s, t) => s + t }.mkString
      // occasionally duplicate the whole body to force line + long-gram dups
      id -> (if (rnd.nextBoolean()) body + "\n" + body else body)
    } :+ (999L -> "") :+ (998L -> "solo")
    val d = docTable(docs)
    val want = legacy(d).collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val got = Corpus.repetitionMetrics(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(got.keySet === want.keySet)
    for (id <- want.keySet)
      assert(got(id) === want(id), s"doc $id: ${got(id)} vs legacy ${want(id)}")
  }

  test("knSurprisal: continuation weighting separates one-context words from versatile ones") {
    // "x" follows only "glue"; "y" follows many different contexts.
    // Under MLE P(x|glue) = P(y|c1) = 1; KN discounts the one-context
    // continuation harder: surprisal(glue x) > surprisal(c1 y).
    val d = docTable(Seq(
      1L -> "glue x", 2L -> "glue x", 3L -> "glue x",
      4L -> "c1 y", 5L -> "c2 y", 6L -> "c3 y", 7L -> "c4 y"))
    val got = Corpus.knSurprisal(d, "doc_id", "text")
      .as[(Long, Double, Long)].collect().map(t => t._1 -> t._2).toMap
    assert(got(1L) > got(4L),
      s"one-context x must surprise more than versatile y: ${got(1L)} vs ${got(4L)}")
  }

  test("kAnonymityAudit: group sizes, l-diversity, and the k flag are exact") {
    val rows = Seq(
      // (zip, age_band, disease): the classic Sweeney shape
      ("37201", "20-30", "flu"), ("37201", "20-30", "flu"),
      ("37201", "20-30", "cold"),
      ("37215", "40-50", "flu"),                       // singleton → at risk
      ("37220", "30-40", "asthma"), ("37220", "30-40", "asthma"))
    val df = rows.toDF("zip", "age", "disease")
    val got = Corpus.kAnonymityAudit(df, Seq("zip", "age"), "disease", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(got === Set(
      ("37201", "20-30", 3L, 2L, false),
      ("37215", "40-50", 1L, 1L, true),
      ("37220", "30-40", 2L, 1L, false)))
  }

  test("kAnonymityAudit: null sensitive is one class; plan is two partial aggregates, no expand") {
    val df = Seq(("a", Some(1)), ("a", None), ("a", None), ("b", Some(2)))
      .toDF("q", "s")
    val audited = Corpus.kAnonymityAudit(df, Seq("q"), "s", k = 3)
    val got = audited.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got === Set(("a", 3L, 2L, false), ("b", 1L, 1L, true)))
    val plan = audited.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"no count_distinct row expansion:\n$plan")
  }

  test("bm25TopK: corpus token stream prunes via broadcast semi-join, no corpus-wide window") {
    val d = docTable((0L until 50L).map(i => i -> s"tok$i alpha common"))
    val q = bm25Queries(Seq(1L -> "alpha"))
    val plan = Corpus.bm25TopK(d, "doc_id", "text", q, "qid", "qtext", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"query-vocab prune must be a broadcast semi-join:\n$plan")
    assert(!plan.contains("Window"), s"top-k must be the heap, not a window:\n$plan")
  }

  test("recursiveCLDiversity: dominance test is exact integers; distinct-l alone is not enough") {
    // class x: {a:5, b:1} — two distinct values, but the top one
    //   dominates: 5·1 < 2·1 is FALSE → not (2,2)-diverse
    // class y: {a:2, b:2, c:1} — tail from rank 2 is 3: 2 < 6 → ok
    // class z: one value → m_distinct < l → not diverse
    val rows =
      (1 to 5).map(_ => ("x", "a")) ++ Seq(("x", "b")) ++
      Seq(("y", "a"), ("y", "a"), ("y", "b"), ("y", "b"), ("y", "c")) ++
      Seq(("z", "a"), ("z", "a"))
    val got = Corpus.recursiveCLDiversity(rows.toDF("q", "s"), Seq("q"), "s",
        l = 2, cNum = 2, cDen = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(got("x") === ((6L, 2L, 5L, 1L, false)))
    assert(got("y") === ((5L, 3L, 2L, 3L, true)))
    assert(got("z") === ((2L, 1L, 2L, 0L, false)))
    // rank-1 ties break by sensitive value, so r1 is deterministic
    val tied = Seq(("t", "b"), ("t", "a")).toDF("q", "s")
    val t = Corpus.recursiveCLDiversity(tied, Seq("q"), "s", 2, 2, 1)
      .collect().head
    assert((t.getLong(3), t.getLong(4)) === ((1L, 1L)))
    intercept[IllegalArgumentException] {
      Corpus.recursiveCLDiversity(tied, Seq("q"), "s", l = 1, 2, 1)
    }
  }

  test("goodTuringMass: hand-counted hapax share and adjusted count; closed vocab reports 0") {
    // en: tokens a a a b b c d → N=7, vocab 4, N1=2 (c,d), N2=1 (b)
    //   p0 = 2/7, r*₁ = 2·1/2 = 1.0
    // de: x x — N2 = 1 but N1 = 0 → gt1_r = 0 (nothing to discount)
    val df = Seq(
      ("en", "a a a b"), ("en", "b c d"),
      ("de", "x x")).toDF("lang", "text")
    val got = Corpus.goodTuringMass(df, "lang", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    val p0 = BigDecimal(2.0 / 7)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("en") === ((7L, 4L, 2L, 1L, p0, 1.0)))
    assert(got("de") === ((2L, 1L, 0L, 1L, 0.0, 0.0)))
    // null/empty texts contribute nothing; a lang with only those is absent
    val sparse = Seq(("fr", null: String), ("fr", "  "), ("en", "tok"))
      .toDF("lang", "text")
    assert(Corpus.goodTuringMass(sparse, "lang", "text").count() === 1)
  }
}
