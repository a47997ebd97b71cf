package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.registry.{CorpusQueries, DedupQueries}

/** Dedup operator specs — LSH results validated against brute force
  * computed independently on the driver.
  */
class DedupSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  /** Brute-force 3-gram-shingle Jaccard >= num/den pairs, computed in
    * plain Scala from the raw texts (independent of all engine code).
    */
  private def brutePairs(num: Int, den: Int): Set[(Long, Long)] = {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val sh = docs.map { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      id -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    (for {
      i <- sh.indices.iterator
      j <- (i + 1) until sh.length
      (ida, sa) = sh(i); (idb, sb) = sh(j)
      inter = (sa & sb).size
      un = sa.size + sb.size - inter
      if un > 0 && inter * den >= un * num
    } yield (math.min(ida, idb), math.max(ida, idb))).toSet
  }

  test("minhashLshPairs == brute-force jaccard >= 0.7 pairs on sf0.001 documents") {
    val got = DedupQueries.q22(spark, sf0001)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val want = brutePairs(7, 10)
    assert(want.nonEmpty, "fixture should contain planted near-dups")
    assert(got === want)
  }

  test("setSimJoinPrefix == brute-force jaccard >= 0.5 pairs — EXACT, no w.h.p.") {
    val got = DedupQueries.q129(spark, sf0001)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val want = brutePairs(1, 2)
    assert(want.nonEmpty, "fixture should contain planted near-dups")
    assert(got === want)
  }

  test("setSimJoinPrefix matches brute force at a tighter threshold (0.7)") {
    val got = Dedup.setSimJoinPrefix(Tables.documents(spark, sf0001),
        "doc_id", "text", thresholdNum = 7, thresholdDen = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === brutePairs(7, 10))
  }

  test("setSimJoinPrefix at t=1 (prefix length 1) finds exactly the identical-set pairs") {
    val df = Seq(
      (1L, "x y z w x y z w"), // same shingle set as 2
      (2L, "x y z w x y z w"),
      (3L, "p q r s t u v"),
      (4L, "x y z w p q r s")  // overlaps 1/2 but not identical
    ).toDF("doc_id", "text")
    val got = Dedup.setSimJoinPrefix(df, "doc_id", "text",
        thresholdNum = 1, thresholdDen = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("sortedNeighborhoodPairs: window-restricted key-sort brute force, late edits caught") {
    // planted fixture: docs 1/2 share a long head and diverge in the
    // TAIL (the family sorted-neighborhood catches deterministically —
    // their normalized 24-char keys are identical, so they sort
    // adjacent); doc 3 is an unrelated text that happens to sort
    // between nothing relevant; 4/5 are identical twins with distinct
    // leading words (different keys — adjacency not guaranteed, the
    // documented blocking limitation).
    val head = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rows = Seq(
      1L -> (head + " shared tail one two three four five six seven"),
      2L -> (head + " shared tail one two three four five six DIFFER"),
      3L -> "quebec romeo sierra tango unrelated words entirely here now",
      4L -> "zulu prefix common body words repeated across the pair here",
      5L -> "zulu prefix common body words repeated across the pair here")
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(rows, "doc_id", "text",
        window = 3, keyLen = 24, thresholdNum = 7, thresholdDen = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // witness: key-sort in plain Scala, window-3 pairs, exact Jaccard
    val data = rows.as[(Long, String)].collect().toSeq
    def sh(t: String) = t.trim.split("\\s+").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sorted = data.map { case (id, t) =>
      (t.trim.replaceAll("[ \t\n\f\r]+", " ").toLowerCase.take(24), id, t)
    }.sorted
    val want = (for {
      i <- sorted.indices; j <- (i + 1) until math.min(i + 3, sorted.length)
      (_, ida, ta) = sorted(i); (_, idb, tb) = sorted(j)
      inter = (sh(ta) & sh(tb)).size
      un = sh(ta).size + sh(tb).size - inter
      if un > 0 && inter * 10 >= un * 7
    } yield (ida, idb)).toSet
    assert(got === want)
    assert(got((1L, 2L)), s"tail-divergent near-twins must be caught: $got")
    assert(got((4L, 5L)), s"adjacent identical twins must be caught: $got")
  }

  test("ngramJaccardBanded == brute force restricted to the id window") {
    val got = DedupQueries.q21(spark, sf0001)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val want = brutePairs(1, 2).filter { case (a, b) => b - a <= 20 }
    assert(got === want)
  }

  test("exactDedup keeps the lowest-id survivor per key") {
    val df = Seq((3L, "k1"), (1L, "k1"), (2L, "k2"), (5L, "k1")).toDF("id", "key")
    val out = Dedup.exactDedup(df, Seq("key"), "id")
      .select("key", "id").as[(String, Long)].collect().toMap
    assert(out === Map("k1" -> 1L, "k2" -> 2L))
  }

  test("nearDupComponents: chains collapse to min-id survivor, singletons survive") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // chain 1-2, 2-3 (one component), pair 5-6, node 4 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val comps = Dedup.nearDupComponents(ids, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("dedupCorpus keeps exactly one representative per near-dup cluster") {
    val docs = Tables.documents(spark, sf0001)
    val survivors = Dedup.dedupCorpus(docs, "doc_id", "text")
    val pairSet = brutePairs(7, 10)
    // survivors must contain no near-dup pair...
    val sIds = survivors.select("doc_id").as[Long].collect().toSet
    assert(pairSet.forall { case (a, b) => !(sIds.contains(a) && sIds.contains(b)) })
    // ...and every document is represented (its component survivor kept)
    val comps = Dedup.nearDupComponents(
      docs.select(col("doc_id")), "doc_id",
      DedupQueries.q22(spark, sf0001).select("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    assert(comps.values.toSet.subsetOf(sIds))
  }

  test("dedupCorpus collapses planted exact duplicates through the fingerprint stage") {
    // 3 byte-identical docs + one near-dup of them + one unrelated doc:
    // the exact trio collapses to one representative BEFORE MinHash, the
    // near-dup joins its component via the LSH pair, survivors = {1, 9}
    val base = (1 to 40).map(i => s"word$i").mkString(" ")   // 38 distinct shingles
    val near = base.replace("word20", "changed")             // jaccard ≈ 35/41 = 0.85
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), (5L, near),
      (9L, "completely different content about spark shuffle partitions and joins here"))
      .toDF("doc_id", "text")
    val sIds = Dedup.dedupCorpus(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(sIds === Set(1L, 9L))
  }

  test("dedupLines: corpus-wide keep-first line dedup, untouched docs byte-identical") {
    val d = Seq(
      (1L, "unique alpha\nBOILERPLATE NAV\nunique beta"),
      (2L, "BOILERPLATE NAV\nother prose\n\nBOILERPLATE NAV"),
      (3L, "totally original\n\ncontent here"),
      (4L, null: String),
      (5L, "BOILERPLATE NAV")).toDF("doc_id", "text")
    val byId = Dedup.dedupLines(d, "doc_id", "text")
      .select("doc_id", "text", "n_dropped")
      .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // first occurrence (doc 1, pos 1) keeps the boilerplate; every
    // later occurrence — including doc 2's SECOND copy and doc 5's
    // whole body — is deleted in place
    assert(byId(1L) === (("unique alpha\nBOILERPLATE NAV\nunique beta", 0L)))
    assert(byId(2L) === (("other prose\n", 2L)),
      "both copies in doc 2 drop; the sub-2-char blank line is structural and survives")
    assert(byId(3L) === (("totally original\n\ncontent here", 0L)),
      "untouched documents keep their original text byte-for-byte")
    assert(byId(4L) === ((null, 0L)), "null text passes through")
    assert(byId(5L) === (("", 1L)),
      "a fully-deduplicated document becomes the empty string")
    assert(byId.size === 5)
  }

  test("dedupLines normalize=true: case/whitespace variants collapse, survivors keep original bytes") {
    val d = Seq(
      (1L, "Cookie  Policy\nunique alpha"),
      (2L, "cookie policy\nunique beta"),
      (3L, "COOKIE\tPOLICY"),
      (4L, "cookie policies")).toDF("doc_id", "text")
    val norm = Dedup.dedupLines(d, "doc_id", "text", normalize = true)
      .select("doc_id", "text", "n_dropped")
      .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // all three variants normalize to 'cookie policy'; the first
    // occurrence survives WITH ITS ORIGINAL BYTES (double space and
    // all), the rest die; the near-miss 'cookie policies' is untouched
    assert(norm(1L) === (("Cookie  Policy\nunique alpha", 0L)))
    assert(norm(2L) === (("unique beta", 1L)))
    assert(norm(3L) === (("", 1L)))
    assert(norm(4L) === (("cookie policies", 0L)))
    // exact mode sees three distinct byte strings — nothing drops
    val exact = Dedup.dedupLines(d, "doc_id", "text")
      .select("n_dropped").as[Long].collect()
    assert(exact.forall(_ === 0L),
      "the variants are invisible to the exact tier")
  }

  test("boilerplateTopK: most-duplicated lines in text, count-ranked, winner example") {
    val d = Seq(
      (1L, "COOKIE BANNER\nreal prose one"),
      (2L, "COOKIE BANNER\nreal prose two\nFOOTER TXT"),
      (3L, "COOKIE BANNER\nFOOTER TXT"),
      (4L, "all original here")).toDF("doc_id", "text")
    val got = Dedup.boilerplateTopK(d, "doc_id", "text", k = 5)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // COOKIE BANNER ×3 ranks first with its first occurrence (doc 1,
    // pos 0); FOOTER TXT ×2 second (first seen in doc 2); unique
    // lines never surface
    assert(got === Seq(
      (1L, "COOKIE BANNER", 3L, 1L),
      (2L, "FOOTER TXT", 2L, 2L)))
    // k cuts deterministically when more duplicated lines exist
    val one = Dedup.boilerplateTopK(d, "doc_id", "text", k = 1)
      .as[(Long, String, Long, Long)].collect()
    assert(one.toSeq === Seq((1L, "COOKIE BANNER", 3L, 1L)))
  }

  test("pairEvidence ranks shared shingles rarest-first with exact df") {
    // docs 1 and 2 are identical (the verified pair); doc 3 shares ONLY
    // the boilerplate "p q r" 3-gram (jaccard 1/7, below threshold) —
    // so "p q r" has df 3 (uninformative) and the pair's evidence must
    // lead with the df-2 shingles unique to the duplicated text
    val d = Seq(
      1L -> "p q r s t u",
      2L -> "p q r s t u",
      3L -> "p q r x y z w").toDF("doc_id", "text")
    val got = Dedup.pairEvidence(d, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, String, Long)].collect().sortBy(_._3)
    assert(got.map(x => (x._1, x._2)).toSet === Set((1L, 2L)))
    assert(got.map(x => (x._3, x._4, x._5)).toSeq === Seq(
      (1L, "q r s", 2L), (2L, "r s t", 2L), (3L, "s t u", 2L)))
    // k beyond the shared set exhausts it, boilerplate ranked LAST
    val all = Dedup.pairEvidence(d, "doc_id", "text", k = 10)
      .as[(Long, Long, Long, String, Long)].collect().sortBy(_._3)
    assert(all.length === 4)
    assert(all.last._4 === "p q r" && all.last._5 === 3L)
  }

  test("dedupCorpusByQuality keeps the best copy per cluster, ties to smallest id") {
    // the planted cluster {1,2,3,5} with quality making doc 5 the best
    // copy; doc 9 is a singleton and must survive regardless of score
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val near = base.replace("word20", "changed")
    val docs = Seq(
      (1L, base, 10.0), (2L, base, 10.0), (3L, base, 10.0),
      (5L, near, 99.0),
      (9L, "completely different content about spark shuffle partitions and joins here", 1.0))
      .toDF("doc_id", "text", "quality")
    val kept = Dedup.dedupCorpusByQuality(docs, "doc_id", "text", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(5L, 9L))
    // equal quality everywhere degenerates to min-id — dedupCorpus's pick
    val flat = docs.withColumn("quality", lit(7.0))
    val keptFlat = Dedup.dedupCorpusByQuality(flat, "doc_id", "text", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(keptFlat === Set(1L, 9L))
    // same clustering ⇒ same cardinality as dedupCorpus, any quality
    assert(Dedup.dedupCorpusByQuality(docs, "doc_id", "text", "quality").count() ===
      Dedup.dedupCorpus(docs.drop("quality"), "doc_id", "text").count())
    // original columns ride through on the kept rows
    val row5 = Dedup.dedupCorpusByQuality(docs, "doc_id", "text", "quality")
      .filter(col("doc_id") === 5L).select("quality").as[Double].head()
    assert(row5 === 99.0)
  }

  test("softDedupWeights: cluster mass sums to one; singletons keep weight 1.0") {
    // same planted corpus as the collapse test: {1,2,3,5} form one
    // cluster of 4 (exact trio + near-dup), 9 is a singleton
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val near = base.replace("word20", "changed")
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), (5L, near),
      (9L, "completely different content about spark shuffle partitions and joins here"))
      .toDF("doc_id", "text")
    val got = Dedup.softDedupWeights(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq === Seq(
      (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (5L, 1L, 4L), (9L, 9L, 1L)))
    assert(got.filter(_._3 == 4L).forall(_._4 === 0.25))
    assert(got.find(_._1 == 9L).get._4 === 1.0)
    // expected training mass = one unit per cluster
    assert(got.map(_._4).sum === 2.0)
  }

  test("leakageFreeSplit: a near-dup cluster never straddles splits; singleton matches plain split") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val near = base.replace("word20", "changed")
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), (5L, near),
      (9L, "completely different content about spark shuffle partitions and joins here"))
      .toDF("doc_id", "text")
    val got = graft.operators.Corpus
      .leakageFreeSplit(docs, "doc_id", "text", salt = "graft")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // the {1,2,3,5} cluster carries ONE split (its rep's), 9 its own
    val clusterSplits = got.filter(_._2 == 1L).map(_._3).distinct
    assert(got.map(_._2).toSeq === Seq(1L, 1L, 1L, 1L, 9L))
    assert(clusterSplits.length === 1, s"cluster straddles splits: ${got.toSeq}")
    // each split equals splitAssign applied to the representative id
    val repSplit = graft.operators.Corpus
      .splitAssign(Seq(1L, 9L).toDF("doc_id"), "doc_id", salt = "graft")
      .as[(Long, String)].collect().toMap
    got.foreach { case (_, rep, split) => assert(split === repSplit(rep)) }
  }

  test("simhashPairs finds identical texts at hamming 0 and respects the cap") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup
      (3L, "completely different words about database engines and shuffles"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text")
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    assert(pairs.forall(_._3 <= 3))
  }

  test("incrementalNearDup: planted cross dups found, within-side pairs excluded") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "spark shuffles partition data across the cluster network at scale"),
      (3L, "spark shuffles partition data across the cluster network at scale"))
      .toDF("doc_id", "text") // 2 and 3 duplicate each other WITHIN the corpus
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "an entirely unrelated sentence about beam search and decoding"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text")
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(got === Set((10L, 1L))) // cross pair only; (2,3) is not reported
  }

  test("cdcChunks: chunks exactly partition the text, within bounds") {
    import graft.functions.ArrayFunctions
    val texts = Seq(
      "x",                                  // shorter than width: one chunk
      "a" * 1000,                           // degenerate repetition
      (1 to 300).map(i => s"tok$i").mkString(" ")) // varied content
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        ArrayFunctions.cdcChunks(col("text"), width = 8, maskBits = 4,
          minChars = 8, maxChars = 64).as("ch"))
      .as[(Long, String, Seq[(Int, Int, Long)])].collect()
    rows.foreach { case (_, t, ch) =>
      val nCp = t.codePointCount(0, t.length)
      assert(ch.map(_._2).sum === nCp)               // exact partition
      assert(ch.head._1 === 0)
      ch.sliding(2).foreach {
        case Seq((o1, l1, _), (o2, _, _)) => assert(o1 + l1 === o2) // contiguous
        case _ =>
      }
      ch.dropRight(1).foreach { case (_, l, _) => assert(l >= 8 && l <= 64) }
      assert(ch.last._2 <= 64)
    }
  }

  test("cdcChunks: a one-char edit reshapes O(1) chunks; fixed stride shifts all") {
    import graft.functions.ArrayFunctions
    val base = (1 to 400).map(i => s"w${i % 97}x${(i * 7) % 31}").mkString(" ")
    val edited = base.updated(base.length / 2, '@')
    val out = Seq((0L, base), (1L, edited)).toDF("doc_id", "text")
      .select(col("doc_id"),
        ArrayFunctions.cdcChunks(col("text"), width = 8, maskBits = 5,
          minChars = 8, maxChars = 128).as("ch"))
      .as[(Long, Seq[(Int, Int, Long)])].collect().sortBy(_._1)
    val h0 = out(0)._2.map(_._3); val h1 = out(1)._2.map(_._3)
    assert(h0.size > 10, s"expected many chunks, got ${h0.size}")
    // symmetric difference is a handful of chunks around the edit, not
    // the whole tail — the CDC locality property
    val common = h0.toSet & h1.toSet
    val changed = (h0.size - common.size) max (h1.size - common.size)
    assert(changed <= 3, s"edit reshaped $changed of ${h0.size} chunks")
  }

  test("cdcChunkDupProfile: planted shared span flagged in both docs, unique doc clean") {
    val span = (1 to 40).map(i => s"shared$i").mkString(" ") // ~300 chars
    val d = Seq(
      (0L, s"prefix zero ${span} suffix zero"),
      (1L, s"a different opening here ${span} and a different close"),
      (2L, "entirely unique content with no overlap at all in this document"))
      .toDF("doc_id", "text")
    val got = Dedup.cdcChunkDupProfile(d, "doc_id", "text",
        maskBits = 4, minChars = 8, maxChars = 64)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L)._4 > 0 && got(1L)._4 > 0, "shared span must flag in both docs")
    assert(got(2L)._4 === 0L && got(2L)._6 === 0.0, "unique doc must be clean")
    assert(got(0L)._6 > 0.3, s"most of doc 0 is the shared span: ${got(0L)}")
  }

  test("q109: every leaked pair crosses the split boundary, at jaccard >= 0.7") {
    val splits = graft.operators.Corpus.splitAssign(
        Tables.documents(spark, sf0001), "doc_id", salt = "graft")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val got = CorpusQueries.q109(spark, sf0001)
      .select("eval_id", "train_id", "jac").as[(Long, Long, Double)].collect()
    assert(got.nonEmpty, "fixture plants cross-split near-dups")
    got.foreach { case (e, t, j) =>
      assert(splits(e) != "train" && splits(t) == "train", s"pair ($e,$t) does not cross")
      assert(j >= 0.7)
    }
  }

  test("prepared index round-trips through parquet; probe == from-text path") {
    val dd = Tables.documents(spark, sf0001)
    val batch = dd.filter(col("source") === "src1")
    val corpus = dd.filter(col("source") =!= "src1")
    val dir = java.nio.file.Files.createTempDirectory("neardup_index").toString
    // day 0: materialize the standing index once (append-only state)
    Dedup.prepareNearDupIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val fromText = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val prepared = Dedup.incrementalNearDupPrepared(
        batch, spark.read.parquet(dir), "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(prepared === fromText)
    assert(prepared.nonEmpty)
  }

  test("streams compose: per-micro-batch incremental probe == one-shot batch probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "spark shuffles partition data across the cluster network at scale"))
      .toDF("doc_id", "text").persist()
    val arrivals = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "an entirely unrelated sentence about beam search and decoding"),
      (12L, "spark shuffles partition data across the cluster network at scale"))
    // the ingest shape: every trigger's documents probe the standing
    // corpus; results accumulate — no state beyond the corpus itself
    val found = scala.collection.mutable.Set.empty[(Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          found ++= Dedup.incrementalNearDup(b, corpus, "doc_id", "text")
            .select("new_id", "old_id").as[(Long, Long)].collect()
        }
        ()
      }.start()
    input.addData(arrivals.take(2)); q.processAllAvailable()
    input.addData(arrivals.drop(2)); q.processAllAvailable()
    q.stop()
    val oneShot = Dedup.incrementalNearDup(
        arrivals.toDF("doc_id", "text"), corpus, "doc_id", "text")
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(found.toSet === oneShot)
    assert(found.toSet === Set((10L, 1L), (12L, 2L)))
  }

  test("streams compose: stored index GROWS per trigger — probe sees every earlier batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the full day-over-day lifecycle: each trigger probes the STORED
    // index, then appends its own prepared rows (append-only parquet —
    // exactly the state table q111 certifies read-side). A duplicate
    // arriving in trigger 2 of a document from trigger 1 must be
    // caught even though neither is in the day-0 corpus.
    val dir = java.nio.file.Files.createTempDirectory("neardup_grow").toString
    Dedup.prepareNearDupIndex(
        Seq((1L, "the quick brown fox jumps over the lazy dog again and again today"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .write.mode("overwrite").parquet(dir) // day 0: seed corpus
    val found = scala.collection.mutable.Set.empty[(Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val bp = b.persist()
          found ++= Dedup.incrementalNearDupPrepared(
              bp, spark.read.parquet(dir), "doc_id", "text")
            .select("new_id", "old_id").as[(Long, Long)].collect()
          Dedup.prepareNearDupIndex(bp, "doc_id", "text")
            .write.mode("append").parquet(dir)
          bp.unpersist()
        }
        ()
      }.start()
    input.addData(Seq(
      (10L, "a fresh document about beam search and decoding strategies today"),
      (11L, "spark shuffles partition data across the cluster network at scale")))
    q.processAllAvailable()
    input.addData(Seq(
      (20L, "spark shuffles partition data across the cluster network at scale"),
      (21L, "the quick brown fox jumps over the lazy dog again and again today")))
    q.processAllAvailable()
    q.stop()
    // 20 dups 11 (both streamed — only visible because the index grew);
    // 21 dups the day-0 seed; nothing matches the fresh doc 10
    assert(found.toSet === Set((20L, 11L), (21L, 1L)))
  }

  test("incrementalNearDup == brute-force cross jaccard on the fixture split") {
    val dd = Tables.documents(spark, sf0001)
    val got = DedupQueries.q105(spark, sf0001)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    // brute force: every (src1, non-src1) pair with exact jaccard >= 0.7
    val sh = dd.select(col("doc_id"), col("source"),
        graft.functions.HashFunctions.hashedWordNgrams(col("text"), 3).as("s"))
      .as[(Long, String, Seq[Long])].collect()
    val batch = sh.filter(_._2 == "src1"); val corpus = sh.filter(_._2 != "src1")
    val want = (for {
      (na, _, sa) <- batch; (ob, _, sb) <- corpus
      inter = (sa.toSet & sb.toSet).size
      un = sa.toSet.size + sb.toSet.size - inter
      if un > 0 && inter * 10 >= un * 7
    } yield (na, ob)).toSet
    assert(want.nonEmpty, "fixture should contain a planted cross near-dup")
    assert(got === want)
  }

  test("containmentJoinPrefix: an embedded copy is caught in its direction only; Jaccard misses it") {
    // doc 1 is pasted verbatim inside doc 2 (with 12 tokens of wrapper):
    // containment(1→2) = 1.0, containment(2→1) ≈ 0.27, Jaccard ≈ 0.27
    val small = "alpha beta gamma delta epsilon"
    val big = s"w1 w2 w3 w4 w5 w6 $small x1 x2 x3 x4 x5 x6"
    val d = Seq(1L -> small, 2L -> big, 3L -> "totally unrelated words here").toDF("doc_id", "text")
    val got = Dedup.containmentJoinPrefix(d, "doc_id", "text", 7, 10)
      .select("a_id", "b_id", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 1.0)))
    val jac = Dedup.setSimJoinPrefix(d, "doc_id", "text", 7, 10).collect()
    assert(jac.isEmpty, "symmetric Jaccard at 0.7 must miss the embedded copy")
  }

  test("containmentJoinPrefix: equals brute-force containment on the fixture corpus") {
    val d = Tables.documents(spark, sf0001)
    val got = Dedup.containmentJoinPrefix(d, "doc_id", "text", 7, 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sh = d.select(col("doc_id"),
        graft.functions.HashFunctions.hashedWordNgrams(col("text"), 3).as("s"))
      .as[(Long, Seq[Long])].collect().filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- sh; (b, sb) <- sh; if a != b
      inter = (sa.toSet & sb.toSet).size
      if inter * 10 >= sa.toSet.size * 7
    } yield (a, b)).toSet
    assert(want.nonEmpty, "fixture should contain near-dup containment pairs")
    assert(got === want)
  }

  test("containmentJoinPrefix: exact integer threshold boundary (inter·den >= szA·num kept)") {
    // A has 10 shingles (12 tokens), exactly 7 shared with B → 7/10 kept at 7/10
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9"           // 7 shingles
    val a = s"$shared a1 a2 a3"                          // 10 shingles total
    val b = s"$shared b1 b2 b3 b4 b5"                    // shares exactly the 7
    val d = Seq(1L -> a, 2L -> b).toDF("doc_id", "text")
    val got = Dedup.containmentJoinPrefix(d, "doc_id", "text", 7, 10)
      .select("a_id", "b_id", "inter", "sz_a").as[(Long, Long, Long, Long)]
      .collect().toSet
    assert(got.contains((1L, 2L, 7L, 10L)), s"boundary pair must be kept, got $got")
    // at 71% the same pair must drop
    val tighter = Dedup.containmentJoinPrefix(d, "doc_id", "text", 71, 100)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!tighter.contains((1L, 2L)))
  }

  test("clusterSizeHistogram: planted triple + pair + singletons") {
    val txt = "c1 c2 c3 c4 c5 c6 c7 c8"
    val other = "p1 p2 p3 p4 p5 p6 p7 p8"
    val d = Seq(
      1L -> txt, 2L -> txt, 3L -> txt,     // exact triple
      4L -> other, 5L -> other,            // exact pair
      6L -> "unique words entirely here",  // singleton
      7L -> "another singleton of text").toDF("doc_id", "text")
    val got = Dedup.clusterSizeHistogram(d, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(3L -> 1L, 2L -> 1L, 1L -> 2L))
  }

  test("lshCapturePlan: banding formula 1-(1-j^4)^32 per bucket, squaring-chain exact") {
    // two exact dups (j = 1.0, bucket 9) and one ~0.5 pair
    val base = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    val half = "a1 a2 a3 a4 a5 a6 a7 x1 x2 x3 x4 x5 x6 x7"
    val d = Seq(1L -> base, 2L -> base, 3L -> half).toDF("doc_id", "text")
    val got = Dedup.lshCapturePlan(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // j(1,2) = 1.0 → capture 1 − 0^32 = 1.0 exactly, bucket 9
    assert(got(9L) === ((1L, 1.0)))
    // j(1,3) and j(2,3): 5 shared trigrams of 8 vs 12 → j = 5/15 = 1/3
    val j = 5.0 / 15
    val j4 = (j * j) * (j * j)
    var t = 1.0 - j4
    (1 to 5).foreach(_ => t = t * t)
    val cap = BigDecimal(1.0 - t)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = math.round(cap * 2 / 2 * 1e6) / 1e6
    assert(got(3L) === ((2L, want)), s"bucket 3: ${got.get(3L)} vs $want")
  }

  test("dedupSavings: per-source doc and token accounting matches the survivor set") {
    val txt = "d1 d2 d3 d4 d5 d6 d7 d8"          // 8 tokens
    val d = Seq(
      (1L, "a", txt), (2L, "a", txt),            // exact dups: one survives
      (3L, "b", txt),                            // cross-source dup of 1/2
      (4L, "b", "totally different text here now") // 5 tokens, unique
    ).toDF("doc_id", "source", "text")
    val got = Dedup.dedupSavings(d, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    // survivor of the {1,2,3} component is min id = 1 (source a)
    assert(got("a") === ((2L, 1L, 16L, 8L, 0.5)))
    assert(got("b") === ((2L, 1L, 13L, 5L,
      math.round((1.0 - 5.0 / 13) * 1e6) / 1e6)))
  }

  test("jaccardTopK: symmetric neighbor lists ranked by similarity, k cut, floor applied") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val d = Seq(
      1L -> base,                              // anchor
      2L -> s"$base x1",                       // very close to 1
      3L -> s"$base y1 y2 y3 y4 y5 y6",        // close-ish to 1
      4L -> "totally different words only here" // below the floor
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardTopK(d, "doc_id", "text", k = 5)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    // doc 1's best neighbor is 2 (higher Jaccard than 3); doc 4 has none
    assert(got(1L).map(_._1) === Seq(2L, 3L))
    assert(!got.contains(4L))
    // symmetry: 1 appears first in 2's list and the Jaccard matches
    assert(got(2L).head._1 === 1L)
    assert(got(2L).head._2 === got(1L).head._2)
    // k truly cuts: with k = 1 each list has one row
    val cut = Dedup.jaccardTopK(d, "doc_id", "text", k = 1)
      .groupBy("doc_id").count().select("count").as[Long].collect()
    assert(cut.forall(_ === 1L))
  }

  test("ngramNovelty: first occurrence wins by lowest id; duplicates score 0") {
    val d = Seq(
      (5L, "a b c d e"),      // 3 shingles, all first-seen here → 1.0
      (9L, "a b c d e"),      // exact dup of doc 5 → 0 novel → 0.0
      (7L, "x y z a b c"),    // 4 shingles; "a b c" first seen in doc 5 → 3/4
      (3L, "too short")       // < n tokens → no shingles → null novelty
    ).toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(d, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(got === Seq(
      (3L, 0L, 0L, None),
      (5L, 3L, 3L, Some(1.0)),
      (7L, 4L, 3L, Some(0.75)),
      (9L, 3L, 0L, Some(0.0))))
  }
}
