package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, TextFunctions}

/** Edge inputs for the byte-level expressions (multi-byte UTF-8, empty
  * and whitespace-only text, nulls) and Spark-SQL vs DataFrame parity.
  */
class EdgeCaseSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("hashedWordNgrams: unicode, empty, whitespace-only, null") {
    val df = Seq(
      Some("héllo wörld 你好 мир tokens here"), // multi-byte UTF-8 tokens
      Some(""), Some("   \t  "), None)
      .toDF("text")
    val out = df.select(HashFunctions.hashedWordNgrams(col("text")).as("g"))
      .collect()
    assert(out(0).getSeq[Long](0).length === 4) // 6 tokens -> 4 trigrams
    assert(out(1).getSeq[Long](0).isEmpty)
    assert(out(2).getSeq[Long](0).isEmpty)
    assert(out(3).isNullAt(0))
    // unicode tokenization agrees with the string-shingle path on counts
    val viaStrings = df.filter(col("text").isNotNull).select(
      size(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)).as("n"))
      .as[Int].collect()
    val viaHashes = df.filter(col("text").isNotNull).select(
      size(HashFunctions.hashedWordNgrams(col("text"))).as("n"))
      .as[Int].collect()
    assert(viaStrings.toSeq === viaHashes.toSeq)
  }

  test("winnowFingerprints: short and empty inputs") {
    val out = Seq("ab", "", "exactly8").toDF("text")
      .select(HashFunctions.winnowFingerprints(col("text"), 8, 4).as("f"))
      .as[Seq[Long]].collect()
    assert(out(0).isEmpty && out(1).isEmpty)
    assert(out(2).length === 1) // one 8-gram -> one fingerprint
  }

  test("simhash64 and minhash survive empty arrays") {
    val df = Seq(Seq.empty[String]).toDF("toks")
    val r = df.select(
      HashFunctions.simhash64(col("toks")).as("sh"),
      HashFunctions.minhashSignature(col("toks"), 16).as("sig")).head()
    assert(r.getLong(0) === 0L)
    assert(r.getSeq[Long](1).forall(_ === Long.MaxValue))
  }

  test("spark.sql expression of q10 agrees with the DataFrame query") {
    Tables.lineitem(spark, sf0001).createOrReplaceTempView("li")
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM li WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin)
      .as[(String, String, Double, Long)].collect().toSeq
    val viaDf = SparkEntry.q10(spark, sf0001)
      .select("l_returnflag", "l_linestatus", "sum_qty", "n")
      .orderBy("l_returnflag", "l_linestatus")
      .as[(String, String, Double, Long)].collect().toSeq
    assert(viaSql === viaDf)
  }

  test("round-8 operators tolerate empty inputs (no exceptions, empty output)") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Corpus.bigramSurprisal(emptyDocs, "doc_id", "text")
      .count() === 0)
    assert(graft.operators.Corpus.temperatureMixture(emptyDocs, "text", 0.3)
      .count() === 0)
    val emptyVals = Seq.empty[(String, Double)].toDF("grp", "value")
    assert(graft.operators.Corpus.winsorize(emptyVals, "grp", "value", 0.01, 0.99)
      .count() === 0)
    assert(graft.operators.Drift.psiProfile(emptyVals, emptyVals, "grp", "value")
      .count() === 0)
    assert(graft.operators.TopK.modePerKey(emptyVals, Seq("grp"), "value")
      .count() === 0)
  }

  test("round-9 operators tolerate empty and degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.repeatedWindows(emptyDocs, "doc_id", "text")
      .count() === 0)
    // texts all shorter than the window width: zero windows, zero rows
    val shorts = Seq((1L, "tiny"), (2L, "tiny")).toDF("doc_id", "text")
    assert(graft.operators.Dedup.repeatedWindows(shorts, "doc_id", "text",
      width = 32).count() === 0)
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "vec")
    assert(graft.operators.Quantize.scalarQuantize(emptyVecs, "vec_id", "vec")
      .count() === 0)
    // BPE on an empty corpus: no pairs, empty merge table, no hang
    assert(graft.operators.Corpus.learnBpe(emptyDocs, "text", 5).count() === 0)
    // single-char words only: nothing to merge
    val chars = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(graft.operators.Corpus.learnBpe(chars, "text", 5).count() === 0)
    // covariance/fit refuse an empty corpus loudly instead of NaN-ing
    intercept[IllegalArgumentException] {
      graft.operators.Pca.covariance(emptyVecs, "vec", d = 4)
    }
  }

  test("round-9b operators tolerate empty and degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, String, Double)]
      .toDF("event_id", "ts", "key", "value")
    assert(graft.operators.TimeSeries.sessionize(
      emptyEvents, "key", "ts", "event_id", 1800).count() === 0)
    intercept[IllegalArgumentException] {
      graft.operators.TimeSeries.sessionize(emptyEvents, "key", "ts", "event_id", 0)
    }
    assert(graft.operators.Corpus.invertedIndex(emptyDocs, "doc_id", "text")
      .count() === 0)
    // whitespace-only text contributes no postings at all
    val blank = Seq((1L, "s", "   \t ")).toDF("doc_id", "source", "text")
    assert(graft.operators.Corpus.invertedIndex(blank, "doc_id", "text")
      .count() === 0)
    assert(graft.operators.Corpus.distinctiveTerms(emptyDocs, "source", "text")
      .count() === 0)
    assert(graft.operators.Corpus.blocklistProfile(
      emptyDocs, "source", "text", Seq("bad")).count() === 0)
    // blank docs count but never flag
    assert(graft.operators.Corpus.blocklistProfile(
      blank, "source", "text", Seq("bad"))
      .select("n_flagged").as[Long].collect() === Array(0L))
    // KS of a group with an empty current side: D = max CDF gap = 1 - 0
    val ref = (1 to 10).map(i => (i.toLong, "g", i.toDouble))
      .toDF("id", "grp", "value")
    val cur = Seq.empty[(Long, String, Double)].toDF("id", "grp", "value")
    val ks = graft.operators.Drift.ksProfile(ref, cur, "grp", "value")
      .select("n_cur").as[Long].collect()
    assert(ks === Array(0L))
  }

  test("round-9c operators tolerate empty and degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptySrc = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    // exact set-sim join: nothing to pair, no exception
    assert(graft.operators.Dedup.setSimJoinPrefix(emptyDocs, "doc_id", "text")
      .count() === 0)
    // all-blank docs: every shingle set is empty → filtered before prefixes
    val blanks = Seq((1L, " "), (2L, "\t")).toDF("doc_id", "text")
    assert(graft.operators.Dedup.setSimJoinPrefix(blanks, "doc_id", "text")
      .count() === 0)
    assert(graft.operators.Corpus.heapsCurve(emptyDocs, "doc_id", "text")
      .count() === 0)
    assert(graft.operators.Corpus.perplexityBuckets(emptyDocs, "doc_id", "text")
      .count() === 0)
    // empty edge table: no nodes, no ranks, no divide-by-zero
    val emptyEdges = Seq.empty[(String, String)].toDF("src", "dst")
    assert(graft.operators.Graph.pageRank(emptyEdges, "src", "dst").count() === 0)
    assert(graft.operators.Corpus.bigramEdges(emptyDocs, "doc_id", "text")
      .count() === 0)
    // MAD of an empty / all-null column
    val nullVals = Seq((1L, "g", Option.empty[Double])).toDF("id", "grp", "value")
    assert(graft.operators.Drift.madOutliers(nullVals, "grp", "value").count() === 0)
    // sweep / curriculum / stratified sample over empty strata
    assert(graft.operators.Corpus.thresholdSweep(
      Seq.empty[(String, Double)].toDF("source", "score"), "source", col("score"))
      .count() === 0)
    assert(graft.operators.Corpus.curriculumOrder(
      Seq.empty[(Long, String, Double)].toDF("doc_id", "source", "score"),
      "doc_id", "source", col("score")).count() === 0)
    assert(graft.operators.Corpus.hashSamplePerGroup(emptySrc, "source", "doc_id", 3)
      .count() === 0)
    // quantile scan over an empty frame: empty result, no convergence error
    assert(graft.operators.Quantiles.quantileScan(
      Seq.empty[(String, Double)].toDF("g", "v"), "g", "v", 0.5).count() === 0)
    // debounce/journeys over empty events
    val emptyEvents = Seq.empty[(Long, Long, String, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "event_type", "ts")
    assert(graft.operators.TimeSeries.debounce(emptyEvents,
      Seq("user_id", "event_type"), "ts", "event_id", 60L).count() === 0)
    assert(graft.operators.TimeSeries.journeys(emptyEvents, "user_id", "ts",
      "event_id", "event_type", 60L, 5).count() === 0)
    // zipfFit over a single-token vocabulary: one rank reaches the
    // regression, whose denominator is 0 — the undefined slope surfaces
    // as NULL (a 1-point line has no slope), k reports the truth
    val mono = Seq((1L, "a a a")).toDF("doc_id", "text")
    val fit = graft.operators.Corpus.zipfFit(mono, "text", k = 2).collect().head
    assert(fit.getLong(0) === 1L)
    assert(fit.isNullAt(1) && fit.isNullAt(2))
  }

  test("round-8b operators tolerate empty and degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    // empty corpus: no stop set, empty output, no divide-by-zero
    assert(graft.operators.Corpus.pruneHighDfTokens(emptyDocs, "doc_id", "text")
      .count() === 0)
    // empty bench: bloom of nothing rejects everything -> empty result
    assert(graft.operators.Corpus.decontaminateBloom(
      someDocs, emptyDocs, "doc_id", "text").count() === 0)
    // empty train side
    assert(graft.operators.Corpus.decontaminateBloom(
      emptyDocs, someDocs, "doc_id", "text").count() === 0)
    // empty batch / empty corpus probes
    assert(graft.operators.Dedup.incrementalNearDup(
      emptyDocs, someDocs, "doc_id", "text").count() === 0)
    assert(graft.operators.Dedup.incrementalNearDup(
      someDocs, emptyDocs, "doc_id", "text").count() === 0)
    // vocab coverage of nothing
    assert(graft.operators.Corpus.vocabCoverage(emptyDocs, "text").count() === 0)
    // bpeStats under empty docs
    assert(graft.operators.Corpus.bpeStats(emptyDocs, "doc_id", "text",
      Array(("a", "b"))).count() === 0)
  }

  test("scalarQuantize: constant and single-row dimensions code to 0") {
    val one = Seq((7L, Seq(1.5f, -2.0f))).toDF("id", "vec")
    val codes = graft.operators.Quantize.scalarQuantize(one, "id", "vec")
      .select("code").as[Long].collect()
    assert(codes.toSeq === Seq(0L, 0L)) // mn == mx per dim -> code 0
  }

  test("snapshot diff against an empty side degenerates to all-added/all-removed") {
    val some = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    val none = Seq.empty[(Long, Double)].toDF("id", "v")
    val added = graft.operators.Snapshot.diff(none, some, Seq("id"), Seq("v"))
      .select("status").as[String].collect()
    val removed = graft.operators.Snapshot.diff(some, none, Seq("id"), Seq("v"))
      .select("status").as[String].collect()
    assert(added.toSeq === Seq("added", "added"))
    assert(removed.toSeq === Seq("removed", "removed"))
    assert(graft.operators.Snapshot.diff(none, none, Seq("id"), Seq("v"))
      .count() === 0)
  }

  test("round-10 operators on degenerate inputs: empty target, no dup pairs, single class, empty corpus") {
    import graft.operators.{Corpus, Dedup, NaiveBayes}
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val empty = docs.filter(col("doc_id") < 0)

    // DSIR with an EMPTY target: every bucket smooths to 1/(0+dim) —
    // weights still finite, ranks dense, and k larger than the pool
    // just returns the pool
    val sel = Corpus.dsirSelect(docs, empty, "doc_id", "text", dim = 16, k = 10)
      .as[(Long, Long, Double, Long)].collect()
    assert(sel.length === 2)
    assert(sel.map(_._4).sorted.toSeq === Seq(1L, 2L))
    assert(sel.forall(r => !r._3.isNaN && !r._3.isInfinite))

    // soft dedup with no near-dup pairs: all singletons, weight 1.0
    val w = Dedup.softDedupWeights(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
    assert(w.map(r => (r._1, r._2, r._3, r._4)).toSet ===
      Set((1L, 1L, 1L, 1.0), (2L, 2L, 1L, 1.0)))

    // leakage-free split of an empty corpus: empty, not an error
    assert(Corpus.leakageFreeSplit(empty, "doc_id", "text", "graft").count() === 0)

    // NB with a single class: everything predicts that class, correctly
    val one = docs.withColumn("lang", lit("en"))
    val nb = NaiveBayes.nbClassify(one, "doc_id", "text", "lang")
      .as[(Long, String, String, Boolean)].collect()
    assert(nb.length === 2 && nb.forall(r => r._3 == "en" && r._4))
  }

  test("round-10b operators tolerate empty and degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")

    // BM25 against an empty corpus / with an empty query set: no rows
    val qs = Seq((1L, "alpha")).toDF("qid", "qtext")
    assert(graft.operators.Corpus.bm25TopK(empty, "doc_id", "text", qs, "qid", "qtext").count() === 0)
    val noQs = Seq.empty[(Long, String)].toDF("qid", "qtext")
    assert(graft.operators.Corpus.bm25TopK(docs, "doc_id", "text", noQs, "qid", "qtext").count() === 0)

    // containment join with no shared shingles: empty, not an error
    assert(graft.operators.Dedup.containmentJoinPrefix(docs, "doc_id", "text").count() === 0)
    assert(graft.operators.Dedup.containmentJoinPrefix(empty, "doc_id", "text").count() === 0)

    // HITS on an empty edge table: empty result (no divide-by-zero on
    // the Σraw normalizer — there are no rows to normalize)
    val noEdges = Seq.empty[(String, String)].toDF("src", "dst")
    assert(graft.operators.Graph.hits(noEdges, "src", "dst", 1).count() === 0)

    // W1 with both sides empty / a k-anonymity audit of nothing
    assert(graft.operators.Drift.w1Profile(
      Seq.empty[(String, Double)].toDF("grp", "value"),
      Seq.empty[(String, Double)].toDF("grp", "value"), "grp", "value")
      .count() === 0)
    assert(graft.operators.Corpus.kAnonymityAudit(empty, Seq("doc_id"), "text", 5).count() === 0)

    // decay score over no valid timestamps: empty
    val ev = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "ts", "value")
    assert(graft.operators.TimeSeries.decayScore(ev, "user_id", "ts", "value")
      .count() === 0)

    // KN surprisal: single-token docs have no bigrams → empty
    val singles = Seq((1L, "solo"), (2L, "alone")).toDF("doc_id", "text")
    assert(graft.operators.Corpus.knSurprisal(singles, "doc_id", "text").count() === 0)

    // classification report of an empty prediction table: no classes
    assert(graft.operators.Eval.classificationReport(
      Seq.empty[(String, String)].toDF("label", "pred"), "label", "pred")
      .count() === 0)

    // AUC over an empty score table: one row, zero counts, null metrics
    val auc = graft.operators.Eval.binaryScoreEval(
      Seq.empty[(Long, Long)].toDF("p_units", "y"), "p_units", "y")
      .collect().head
    assert(auc.getLong(0) === 0L && auc.getLong(1) === 0L)
    assert(auc.isNullAt(2) && auc.isNullAt(3))
  }

  test("round-11 operators tolerate empty and degenerate inputs") {
    import graft.multimodal.Multimodal

    // hamming joins over no hashes / an empty arriving batch: empty
    val noHashes = Seq.empty[(Long, Long)].toDF("media_id", "h")
    val someHashes = Seq((1L, 42L), (2L, 43L)).toDF("media_id", "h")
    assert(Multimodal.hammingNearDupPairs(noHashes, "media_id", "h").count() === 0)
    assert(Multimodal.incrementalHammingNearDup(noHashes, someHashes,
      "media_id", "h").count() === 0)
    assert(Multimodal.incrementalHammingNearDup(someHashes, noHashes,
      "media_id", "h").count() === 0)

    // perceptual hashes over an empty media table: empty, no decode
    val emptyMedia = Multimodal.asMediaTable(
      Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload"),
      "media_id", "payload")
    assert(Multimodal.imageDHash(emptyMedia).count() === 0)
    assert(Multimodal.audioEnvelopeHash(emptyMedia).count() === 0)

    // DDSketch quantiles of nothing / of all-non-positive values: empty
    val noVals = Seq.empty[(String, Double)].toDF("grp", "v")
    assert(graft.operators.Sketches.ddQuantiles(noVals, "grp", "v", Seq(50))
      .count() === 0)
    val negVals = Seq(("g", -1.0), ("g", 0.0)).toDF("grp", "v")
    assert(graft.operators.Sketches.ddQuantiles(negVals, "grp", "v", Seq(50))
      .count() === 0)

    // certified BPE batching on a single candidate: accepts it
    assert(graft.operators.Corpus.certifyBpeBatch(
      Array(("a", "b", 5L)), truncated = false, Set.empty, 10) ===
      Seq(("a", "b", 5L)))
  }

  test("round-12 operator guards reject invalid arguments loudly") {
    val sp2 = spark
    import sp2.implicits._
    val series = Seq(("k", 1L, 1.0)).toDF("key", "idx", "v")
    // PAA segments must divide the probe length
    intercept[IllegalArgumentException] {
      graft.operators.TimeSeries.ssdTopKPaa(series, "key", "idx", "v",
        Array.fill(10)(0.0), k = 1, segments = 4)
    }
    // banding is lossless only to hamming 3
    intercept[IllegalArgumentException] {
      graft.multimodal.Multimodal.hammingNearDupClasses(
        Seq((1L, 2L)).toDF("media_id", "h"), "media_id", "h", maxHamming = 4)
    }
    // sink partition columns must be key columns
    intercept[IllegalArgumentException] {
      graft.sinks.QuantileSink.maintain(spark,
        Seq(("g", 1.0)).toDF("grp", "v"), "/tmp/never-written",
        partCols = Seq("other"), keyCols = Seq("grp"), valueCol = "v")
    }
    // dd_estimate type checking: wrong map type fails analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Map("a" -> 1L), 1L)).toDF("m", "r")
        .select(graft.functions.SketchFunctions.ddEstimate(
          org.apache.spark.sql.functions.col("m"),
          org.apache.spark.sql.functions.col("r"), 1.02))
        .collect()
    }
  }

  test("round-15 operators on degenerate inputs") {
    import graft.operators.{Corpus, Dedup, Eval, Selection, Similarity}

    // kcenter: all-identical vectors — every post-seed distance is 0,
    // picks fall back to id order with radius 0
    val twins = (1L to 4L).map(i => (i, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val kc = Selection.kcenter(twins, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(kc.map(_._2) === Seq(1L, 2L, 3L))
    assert(kc.head._3 === 2000000L && kc.tail.forall(_._3 === 0L))
    // empty candidate pool: empty result, no exception
    assert(Selection.kcenter(twins.filter(col("vec_id") < 0), "vec_id",
      "embedding", k = 3).count() === 0)

    // sortedNeighborhood: empty corpus and single doc produce no pairs
    val docs1 = Seq((1L, "only one document here")).toDF("doc_id", "text")
    assert(Dedup.sortedNeighborhoodPairs(docs1, "doc_id", "text").count() === 0)
    assert(Dedup.sortedNeighborhoodPairs(docs1.filter(col("doc_id") < 0),
      "doc_id", "text").count() === 0)

    // spanCorruptionPlan: null text rows drop, empty text keeps a zero row
    val sc = Corpus.spanCorruptionPlan(
        Seq((1L, Some("")), (2L, None)).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(sc.toSeq === Seq((1L, 0L, 0L, 0L, 0L, 0.0)))

    // rbo: keys of `a` with NO counterpart ranking in b still get a row
    val ra = Seq(("q1", 1L, 1L), ("q2", 9L, 1L)).toDF("qid", "item", "rk")
    val rb = Seq(("q1", 1L, 1L)).toDF("qid", "item", "rk")
    val rr = Similarity.rbo(ra, rb, "qid", "item", "rk", depth = 10)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(rr.keySet === Set("q1", "q2") && rr("q2") === 0.0)

    // bootstrap: single-row corpus — every resample is that row
    val b1 = Eval.bootstrapMeanCI(Seq((1L, 5L)).toDF("doc_id", "m"),
        "doc_id", "m", numResamples = 10, qPcts = Seq(50))
      .as[(Long, Long, Long, Double)].collect()
    assert(b1.toSeq === Seq((50L, 1L, 10L, 5.0)))
    intercept[IllegalArgumentException] {
      Eval.bootstrapMeanCI(Seq.empty[(Long, Long)].toDF("doc_id", "m"),
        "doc_id", "m")
    }
  }

  test("round-16 operators on degenerate inputs") {
    import graft.operators.{Corpus, Dedup, Eval}
    // selfBleu2: empty corpus and sub-bigram docs emit nothing;
    // a single multi-bigram doc scores 0 (no other holder of any gram)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Corpus.selfBleu2(empty, "doc_id", "text").count() === 0)
    assert(Corpus.selfBleu2(Seq((1L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text").count() === 0)
    val single = Corpus.selfBleu2(
        Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
    assert(single.toSeq === Seq((1L, 3L, 0L, 0.0)))
    // null text drops, never NPEs
    assert(Corpus.selfBleu2(Seq((1L, Option.empty[String]),
        (2L, Some("x y z"))).toDF("doc_id", "text"),
      "doc_id", "text").count() === 1)

    // pairEvidence: no qualifying pairs -> empty frame, not an error
    assert(Dedup.pairEvidence(Seq(
      (1L, "completely unrelated first document text body"),
      (2L, "another entirely different second story line")).toDF("doc_id", "text"),
      "doc_id", "text").count() === 0)
    assert(Dedup.pairEvidence(empty, "doc_id", "text").count() === 0)

    // dedupCorpusByQuality: null text docs survive as singletons (the
    // fingerprint stage gives them per-id identities), quality nulls of
    // OTHER clusters never bleed in
    val mixed = Seq((1L, Some("one two three four five six seven"), 2.0),
        (2L, Option.empty[String], 9.0))
      .toDF("doc_id", "text", "q")
    assert(Dedup.dedupCorpusByQuality(mixed.filter(col("text").isNotNull),
      "doc_id", "text", "q").count() === 1)

    // mcnemarGate: empty input -> empty frame; all-pass group -> z = 0
    assert(Eval.mcnemarGate(Seq.empty[(String, Boolean, Boolean)]
      .toDF("g", "a", "b"), "g", col("a"), col("b")).count() === 0)
    val allPass = Eval.mcnemarGate(Seq(("g", true, true), ("g", true, true))
        .toDF("g", "a", "b"), "g", col("a"), col("b"))
      .as[(String, Long, Long, Long, Long, Long, Double, Boolean)].collect()
    assert(allPass.toSeq === Seq(("g", 2L, 2L, 2L, 0L, 0L, 0.0, false)))

    // bootstrapMeanCIPooled: single-row corpus — every retained
    // resample's weighted mean is that row's value
    val p1 = Eval.bootstrapMeanCIPooled(Seq((1L, 5L)).toDF("doc_id", "m"),
        "doc_id", "m", numResamples = 10, qPcts = Seq(50))
      .as[(Long, Long, Long, Double)].collect()
    assert(p1.length === 1 && p1(0)._1 === 50L && p1(0)._4 === 5.0)
    assert(p1(0)._3 <= 10L && p1(0)._3 >= 1L) // zero-weight resamples drop

    // fleissKappa: empty ratings -> empty frame
    assert(Eval.fleissKappa(Seq.empty[(String, Long, Int, String)]
      .toDF("g", "i", "r", "l"), "g", "i", "r", "l", 2).count() === 0)

    // pairedPermutationTest: single doc — every permuted |T| equals
    // |T_obs| (sign flip preserves magnitude) → p = 1
    val permOne = Eval.pairedPermutationTest(
        Seq(("g", 1L, 10L, 3L)).toDF("g", "id", "a", "b"),
        "g", "id", col("a"), col("b"), numPerms = 7)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(permOne.toSeq === Seq(("g", 1L, 7L, 7L, 1.0)))

    // bhFdr: empty battery -> empty; one gate is its own Bonferroni
    assert(Eval.bhFdr(Seq.empty[(String, Long)].toDF("t", "p"), "t", "p")
      .count() === 0)
    val one = Eval.bhFdr(Seq(("t", 40000L)).toDF("t", "p"), "t", "p",
        qPpm = 50000L)
      .as[(String, Long, Long, Long, Double, Boolean)].collect()
    assert(one.toSeq === Seq(("t", 40000L, 1L, 1L, 0.04, true)))

    // goodTuringMass / recursiveCLDiversity: empty inputs -> empty
    assert(Corpus.goodTuringMass(Seq.empty[(String, String)]
      .toDF("lang", "text"), "lang", "text").count() === 0)
    assert(Corpus.recursiveCLDiversity(Seq.empty[(String, String)]
      .toDF("q", "s"), Seq("q"), "s", 2, 2, 1).count() === 0)

    // fellegiSunterScores: singleton blocks produce no pairs
    val solo = Seq((1L, "B1", "x"), (2L, "B2", "x")).toDF("id", "bk", "f")
    assert(graft.operators.Linkage.fellegiSunterScores(solo, "id",
      Seq("bk"), Seq("f"), Seq(900000L), 1.0, 0.0).count() === 0)

    // krippendorffAlpha: empty ratings -> empty frame
    assert(Eval.krippendorffAlpha(Seq.empty[(String, Long, String)]
      .toDF("g", "i", "l"), "g", "i", "l").count() === 0)

    // cochranQ / cohensD / cliffsDelta: empty inputs -> empty frames
    val noFlags = Seq.empty[(String, Boolean, Boolean)].toDF("g", "a", "b")
    assert(Eval.cochranQ(noFlags, "g", Seq(col("a"), col("b")))
      .count() === 0)
    val noMetric = Seq.empty[(String, Long, Boolean)].toDF("g", "x", "a")
    assert(Eval.cohensD(noMetric, "g", "x", col("a")).count() === 0)
    assert(Eval.cliffsDelta(noMetric, "g", "x", col("a")).count() === 0)

    // wilcoxonSignedRank / spearmanRho: empty inputs -> empty frames
    val noPairs = Seq.empty[(String, Long, Long)].toDF("g", "a", "b")
    assert(Eval.wilcoxonSignedRank(noPairs, "g", col("a"), col("b"))
      .count() === 0)
    assert(Eval.spearmanRho(noPairs, "g", "a", "b").count() === 0)
  }
}
