package graft

import graft.registry._

/** Physical-plan quality gates: the properties that make queries scale
  * are asserted, not assumed — filters reach the parquet scan, scans
  * prune columns, dimension joins broadcast, heap top-k aggregates
  * partially before the exchange and plans no Window sort.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: validity filters are pushed to the parquet scan") {
    val p = plan(EventQueries.q02(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(ts)"), s"no pushed filter in:\n$p")
  }

  test("q01: scan prunes to the projected columns only") {
    val p = plan(EventQueries.q01(spark, sf0001))
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double>"),
      s"scan did not prune columns:\n$p")
  }

  test("q09: all dimension joins are broadcast (lineitem streams, no shuffle join)") {
    val p = plan(EventQueries.q09(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("q10: aggregation is partial before the exchange") {
    val p = plan(EventQueries.q10(spark, sf0001))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), s"no partial aggregation:\n$p")
  }

  test("q32: heap top-k has partial merge and no Window operator") {
    val p = plan(EventQueries.q32(spark, sf0001))
    assert(p.contains("partial_collect_top_k"), s"no map-side top-k:\n$p")
    assert(!p.contains("Window"), s"unexpected window sort:\n$p")
  }

  test("q14: probe side is broadcast, corpus never shuffles for scoring") {
    val p = plan(MediaQueries.q14(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe not broadcast:\n$p")
  }

  test("whole-stage codegen covers the scan->filter->project pipeline (q02)") {
    // codegen'd operators print with a `*(stageId)` prefix
    val p = plan(EventQueries.q02(spark, sf0001))
    assert(p.contains("*(1) Project") && p.contains("*(1) Filter"),
      s"no codegen span:\n$p")
  }

  private def wideEmbeddings = {
    val sp = spark
    import sp.implicits._
    // hash-repartitioned to >= defaultParallelism so the conditional
    // spread must NOT fire (a round-robin Exchange would be the bug)
    (0L until 64L).map(i => (i, Array.fill(8)(1.0 + i.toDouble)))
      .toDF("vec_id", "embedding")
      .repartition(8, org.apache.spark.sql.functions.col("vec_id"))
  }

  test("IVF cell assignment is map-side: fit() adds no Exchange of its own") {
    val input = wideEmbeddings
    val inputExchanges = "Exchange".r.findAllMatchIn(plan(input)).size
    val (assigned, _) = graft.operators.IvfIndex.fit(
      input, "vec_id", "embedding", nlist = 4, iters = 1)
    // the returned assignment is a pure projection (the NearestCentroid
    // expression) over the input — the Lloyd loop and final assignment
    // never shuffle corpus rows, so any Exchange in the plan must be the
    // input's own (the test input repartitions itself; the uncached fit()
    // no longer hides that behind a persisted InMemoryRelation)
    val p = plan(assigned)
    assert("Exchange".r.findAllMatchIn(p).size === inputExchanges,
      s"assignment stage added a shuffle:\n$p")
    assert(!p.contains("RoundRobinPartitioning"),
      s"conditional spread fired on an already-wide corpus:\n$p")
    assert(p.contains("nearestcentroid"), s"expected the map-side assignment expression:\n$p")
  }

  test("q40: salted join runs as a sort-merge join on (key, salt), never broadcast") {
    val p = plan(EventQueries.q40(spark, sf0001))
    assert(p.contains("SortMergeJoin"), s"salt demo must exercise the shuffle join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"broadcast defeats the salting:\n$p")
    assert(p.contains("__salt"), s"join keys must include the salt column:\n$p")
  }

  test("bucketed tables co-locate the join: zero Exchange, zero Sort in the plan") {
    // the 100 TB co-located-join path: both sides bucketed+sorted on the
    // key, the sort-merge join consumes bucket files directly — no
    // shuffle, no sort, repeatable across every query that joins on the
    // bucket key. Sort elision additionally requires ONE file per bucket
    // (multiple files per bucket are only per-file sorted), hence the
    // repartition on the bucket key before the write — repartition's
    // HashPartitioning and bucketing share the same murmur3 hash, so
    // each task then owns exactly one bucket
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // since Spark 3.0 the bucketed scan hides its per-bucket ordering
    // unless this conf is on (one-file-per-bucket is still required for
    // the ordering to be true) — with it, the join needs no Sort either
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      Tables.orders(spark, sf0001)
        .repartition(8, org.apache.spark.sql.functions.col("o_custkey"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode("overwrite")
        .saveAsTable("b_orders")
      Tables.customer(spark, sf0001)
        .repartition(8, org.apache.spark.sql.functions.col("c_custkey"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode("overwrite")
        .saveAsTable("b_customer")
      val j = spark.table("b_orders").hint("merge")
        .join(spark.table("b_customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(!p.contains("Sort "), s"bucket-sorted join still sorts:\n$p")
      assert(j.count() === Tables.orders(spark, sf0001)
        .join(Tables.customer(spark, sf0001),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey")).count())
    } finally {
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("q45: conditional-agg pivot — one shuffle, partial agg, no pivotfirst phase") {
    // built-in .pivot() plans two Exchanges (pre-agg + pivotfirst) and,
    // without explicit values, a distinct values-discovery scan;
    // Reshape.pivotWide must plan as one plain codegen'd aggregate
    val p = plan(EventQueries.q45(spark, sf0001))
    assert("Exchange".r.findAllMatchIn(p).size === 1, s"pivot should shuffle once:\n$p")
    assert(p.contains("partial"), s"pivot aggregate not partial:\n$p")
    assert(!p.contains("pivotfirst"), s"fell back to the two-phase pivot plan:\n$p")
  }

  test("q46: cube expands grouping sets before the partial aggregate — one shuffle total") {
    val p = plan(EventQueries.q46(spark, sf0001))
    assert(p.contains("Expand"), s"cube should plan an Expand:\n$p")
    assert("Exchange".r.findAllMatchIn(p).size === 1,
      s"cube should need exactly one shuffle, not a union of group-bys:\n$p")
    // Expand feeds the partial aggregate, so map-side combine still runs
    assert(p.contains("partial"), s"no partial aggregation after Expand:\n$p")
  }

  test("q47: cumulative frame is a running window — one shuffle, one sort, no self-join") {
    val p = plan(EventQueries.q47(spark, sf0001))
    assert(p.contains("Window"), s"expected a Window operator:\n$p")
    assert("Exchange".r.findAllMatchIn(p).size === 1, s"running total should shuffle once:\n$p")
    assert(!p.contains("Join"), s"cumulative sum must not plan a self-join:\n$p")
  }

  test("q48: semi join broadcasts the filtered side — customer scan never shuffles for the join") {
    val p = plan(EventQueries.q48(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected a broadcast left-semi join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,200000.0)"),
      s"order-size filter not pushed to the scan:\n$p")
  }

  test("q49: RANGE frame plans one shuffle + one sort, no self-join") {
    val p = plan(EventQueries.q49(spark, sf0001))
    assert(p.contains("Window"), s"expected a Window operator:\n$p")
    assert("Exchange".r.findAllMatchIn(p).size === 1, s"moving window should shuffle once:\n$p")
    assert(!p.contains("Join"), s"range frame must not plan a self-join:\n$p")
  }

  test("q51: grouping sets expand by exactly the requested set count, one shuffle") {
    val p = plan(EventQueries.q51(spark, sf0001))
    assert(p.contains("Expand"), s"grouping sets should plan an Expand:\n$p")
    assert("Exchange".r.findAllMatchIn(p).size === 1, s"should shuffle once:\n$p")
  }

  test("q53: term frequency partial-aggregates the exploded tokens before its shuffle") {
    val p = plan(TextQueries.q53(spark, sf0001))
    assert(p.contains("Generate explode"), s"tokens should explode map-side:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine before the shuffle:\n$p")
  }

  test("q54: the candidate pair join broadcasts — no corpus shuffle for the metric kernel") {
    val p = plan(DedupQueries.q54(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"pair join should broadcast at this scale:\n$p")
    assert(p.contains("levenshtein"), s"metric kernel missing from plan:\n$p")
  }

  test("q56: tfidf joins broadcast and the top-k cut is TakeOrdered, never a global sort") {
    val p = plan(TextQueries.q56(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k should be TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"tf⋈df should broadcast at this scale:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("q57: both sampling windows share ONE exchange on the strata columns") {
    val p = plan(EventQueries.q57(spark, sf0001))
    assert("Exchange".r.findAllMatchIn(p).size === 1,
      s"rank and total windows must share one shuffle:\n$p")
    assert("Window".r.findAllMatchIn(p).size === 2, s"expected two windows:\n$p")
  }

  test("q63/q64/q65: split-assign, chunking, pseudonymization are pure map-side (zero Exchange)") {
    for (q <- Seq(CorpusQueries.q63 _, CorpusQueries.q64 _, EventQueries.q65 _)) {
      val p = plan(q(spark, sf0001))
      assert(!p.contains("Exchange"), s"map-side operator planned a shuffle:\n$p")
    }
  }

  test("q58: the data-scale cumsum window partitions by bucket; only the bucket-offset window is global") {
    val p = plan(CorpusQueries.q58(spark, sf0001))
    // exactly one single-partition window (over the tiny bucket list);
    // the per-row window must carry the __bucket partition spec
    // plan text: partitioned = `Window [fns], [partSpec], [orderSpec]`
    // (two `], [` separators), global = `Window [fns], [orderSpec]` (one)
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    val global = windows.count(w => "\\], \\[".r.findAllIn(w).size == 1)
    val bucketed = windows.count(w =>
      "\\], \\[".r.findAllIn(w).size == 2 && w.contains("[__bucket"))
    assert(windows.size === 2, s"expected 2 windows:\n$p")
    assert(global === 1 && bucketed === 1,
      s"need one metadata-scale global window and one bucket-partitioned window:\n$p")
  }

  test("q61/q77/q78: no partition-less window over the data — rank is two-level") {
    for (q <- Seq(EventQueries.q61 _, EventQueries.q77 _, CorpusQueries.q78 _)) {
      val p = plan(q(spark, sf0001))
      assert(!p.contains("ntile"), s"ntile window survived into the plan:\n$p")
      val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
      val globals = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 1)
      val partitioned = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 2)
      assert(partitioned.nonEmpty && partitioned.forall(_.contains("[__part")),
        s"the data-scale row_number window must partition by __part:\n$p")
      // the only global windows are the count-cumsum/total over the
      // partition list — metadata scale, identified by their __cnt input
      assert(globals.nonEmpty && globals.forall(_.contains("__cnt")),
        s"found a global window that is not over the partition-count metadata:\n$p")
      // the offsets and data subtrees must read ONE materialization of
      // the ranged frame — two independent range exchanges would sample
      // two boundary sets and silently corrupt ranks (Ranks.globalRank)
      assert("InMemoryTableScan".r.findAllMatchIn(p).size >= 2,
        s"ranged frame not shared via cache — boundary drift hazard:\n$p")
    }
  }

  test("q244: shard assignment — partition-less windows only over metadata-scale frames") {
    // the export's prefix sum must follow the two-level packSequences
    // shape: the ONLY global windows are the partition-count cumsum of
    // globalRank (__cnt) and the bucket-offset cumsum (__bsum) — both
    // metadata scale; the corpus-scale windows partition by __part
    // (rank) or __bucket (local cumsum), and the bucket offsets come
    // back via broadcast, never a corpus shuffle
    val p = plan(graft.sinks.ShardExport.assignShards(
      graft.Tables.documents(spark, sf0001)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")),
      "doc_id", "text", budget = 4000L, salt = "graft"))
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    val globals = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 1)
    val partitioned = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 2)
    assert(globals.nonEmpty &&
      globals.forall(w => w.contains("__cnt") || w.contains("__bsum")),
      s"found a global window not over partition-count/bucket-sum metadata:\n$p")
    assert(partitioned.nonEmpty &&
      partitioned.forall(w => w.contains("[__part") || w.contains("[__bucket")),
      s"a data-scale window must partition by __part or __bucket:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"bucket offsets must broadcast back to the corpus:\n$p")
  }

  test("q80: the three stacked funnel windows share one hash partitioning") {
    val p = plan(EventQueries.q80(spark, sf0001))
    // exactly one per-user exchange feeds all three stage windows; the
    // only other hash exchange is the multi-count-distinct aggregate's
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllMatchIn(p).size
    assert(userExchanges === 1, s"funnel windows must share one user shuffle:\n$p")
    assert("Window".r.findAllMatchIn(p).size >= 3, s"expected three stage windows:\n$p")
  }

  test("similarity corpus spread is conditional: a wide corpus never round-robins") {
    val df = wideEmbeddings
    val p = plan(graft.operators.Similarity.topKCosine(
      df, df.filter(org.apache.spark.sql.functions.col("vec_id") === 0),
      "vec_id", "embedding", 5))
    assert(!p.contains("RoundRobinPartitioning"),
      s"wide corpus paid a full round-robin shuffle:\n$p")
  }

  test("q82: bigram extraction is map-side — no Window, no per-doc shuffle") {
    val p = plan(TextQueries.q82(spark, sf0001))
    // unlike bigramCounts' lead() pairing, surprisal extracts bigrams by
    // zipping shifted array slices in the scan's own projection: zero
    // Window operators and no doc_id exchange anywhere in the plan
    assert(!p.contains("Window"), s"unexpected window in bigram extraction:\n$p")
    // the ONLY doc_id exchange is the final per-doc aggregate's —
    // extraction itself (slice + arrays_zip in the scan's projection)
    // adds none, unlike a lead()-window pairing which would pay a full
    // token-stream shuffle before the first count
    assert("Exchange hashpartitioning\\(doc_id".r.findAllMatchIn(p).size === 1,
      s"bigram extraction must not shuffle the token stream by doc:\n$p")
    assert(p.contains("partial"), s"bigram counts must partial-aggregate:\n$p")
  }

  test("q83: the diff is one full-outer equi-join — no nested loop, no cartesian") {
    val p = plan(EventQueries.q83(spark, sf0001))
    assert(p.contains("FullOuter"), s"expected a full outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff must stay an equi-join:\n$p")
  }

  test("q84: clamp is a projection behind one cutoff aggregate — no Window") {
    val p = plan(EventQueries.q84(spark, sf0001))
    assert(!p.contains("Window"), s"winsorize must not rank rows:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(value)"),
      s"null filter not pushed to the scan:\n$p")
  }

  test("q92: encoding is a pure map-side projection — zero exchanges, no join") {
    // the min/max stats fold into expression literals at build time; the
    // returned plan must be scan -> generate -> project with no shuffle
    val p = plan(MediaQueries.q92(spark, sf0001))
    assert(!p.contains("Exchange"), s"quantization encode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"encode must not join the stats table:\n$p")
  }

  test("q193: repetition metrics are row-local — zero exchanges, no join, no window") {
    // every output column is per-document: the gram maps fold inside
    // RepetitionMetrics, so the plan must be scan -> project, with no
    // shuffle anywhere (the legacy 9x gram explosion is the regression
    // this gate exists to catch)
    val p = plan(DedupQueries.q193(spark, sf0001))
    assert(!p.contains("Exchange"), s"repetition metrics must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"repetition metrics must stay a pure projection:\n$p")
  }

  test("q207: span-corruption plan is row-local — zero exchanges, no join, no window") {
    // anchor selection, span-length draws, and the interval-merge fold
    // all run inside the document row: the plan must be scan -> project
    val p = plan(CorpusQueries.q207(spark, sf0001))
    assert(!p.contains("Exchange"), s"span-corruption plan must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"span-corruption plan must stay a pure projection:\n$p")
  }

  test("q206: sorted-neighborhood rank windows stay slice-partitioned; offsets broadcast") {
    // the key sort must be the two-level globalRank shape: corpus-scale
    // row_number windows partitioned by __part, the ONLY partition-less
    // window the <= numPartitions offsets cumsum (identified by __cnt),
    // offsets broadcast back — never a global window over doc rows
    val sp = spark
    import sp.implicits._
    val docs = Seq(1L -> "alpha beta gamma delta epsilon zeta eta",
      2L -> "alpha beta gamma delta epsilon zeta theta")
      .toDF("doc_id", "text")
    // gate the LAZY plan: the public method localCheckpoints (which
    // collapses the visible plan to the checkpoint scan), so the plan
    // shape lives on the internal builder
    val (lazyPairs, release) = graft.operators.Dedup
      .sortedNeighborhoodPairsPlan(docs, "doc_id", "text", window = 3)
    val p = plan(lazyPairs)
    release()
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    val globals = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 1)
    val partitioned = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 2)
    assert(partitioned.nonEmpty && partitioned.forall(_.contains("[__part")),
      s"rank windows must partition by the range slice:\n$p")
    assert(globals.forall(_.contains("__cnt")),
      s"found a global window that is not the offsets cumsum:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rank offsets must broadcast back:\n$p")
  }

  test("q209: bootstrap grid joins on the draw position, windows stay resample-scale") {
    // the only corpus-scale work is the grid⋈corpus equi-join on __idx
    // (a hash join); the percentile inequality join runs over
    // <= numResamples mean rows against the broadcast q_pct list —
    // a metadata-scale BroadcastNestedLoopJoin is the expected shape
    // there (the ddBoundCheck pattern), but nothing may Cartesian
    val p = plan(StatsQueries.q209(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"bootstrap must not cross-join:\n$p")
    assert("HashJoin [^\n]*__idx".r.findFirstIn(p).isDefined ||
      "SortMergeJoin [^\n]*__idx".r.findFirstIn(p).isDefined,
      s"grid must equi-join the corpus on the draw position:\n$p")
  }

  test("q212: pooled bootstrap is one corpus pass — no grid join, codegen'd weight fold") {
    // the Poisson twin must never join corpus-scale frames: the only
    // joins allowed are the metadata-scale percentile inequality join
    // against the broadcast q_pct list; the weight chain must stay
    // inside WholeStageCodegen (an array HOF here once cost 4×)
    val p = plan(StatsQueries.q212(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"pooled bootstrap must not cross-join:\n$p")
    assert(!"HashJoin [^\n]*__idx".r.findFirstIn(p).isDefined &&
      !"SortMergeJoin".r.findFirstIn(p).isDefined,
      s"pooled bootstrap must have NO draw-grid join:\n$p")
    // the corpus-side stage (scan → explode → weight → partial agg)
    // is one codegen span: the Generate feeds a HashAggregate with no
    // exchange between them, and no interpreted HOF breaks the stage
    assert(!p.contains("ArrayFilter") && !p.contains("filter(lambda"),
      s"weight lookup must not be an interpreted HOF:\n$p")
    assert(p.contains("Generate explode"),
      s"expected the per-doc resample explode:\n$p")
  }

  test("q214/q215/q217: the round-16 text ops avoid windows over corpus-scale keys") {
    // q214: the per-bigram top-2 must be the bounded-heap aggregate —
    // a g-partitioned rank window would sort a stopword bigram's whole
    // count group in one task
    val p214 = plan(TextQueries.q214(spark, sf0001))
    assert(!p214.contains("Window"),
      s"selfBleu2 must not window over bigram keys:\n$p214")
    assert(!p214.contains("CartesianProduct"),
      s"selfBleu2 must not cross-join:\n$p214")
    // q215: pair evidence is equi-joins + the heap top-k — nothing
    // cartesian, no window
    val p215 = plan(DedupQueries.q215(spark, sf0001))
    assert(!p215.contains("CartesianProduct") && !p215.contains("Window"),
      s"pairEvidence must stay equi-join + heap:\n$p215")
    // q215's one corpus-scale exchange (the global df collapse) must
    // carry 64-bit gram hashes, never the shingle STRING — string-keyed
    // it degraded ~15× under an 8 GiB driver heap (round-16 verdict)
    val docs0 = spark.read.parquet(s"$sf0001/documents.parquet")
    val pDf = plan(graft.operators.Dedup.pairEvidenceDfByHash(docs0, "text", 3))
    assert(pDf.contains("hashpartitioning(__h"),
      s"df collapse must key on the gram hash:\n$pDf")
    assert(!pDf.contains("shingle"),
      s"no shingle string may reach the corpus-scale df exchange:\n$pDf")
  }

  test("q238/q239: line-tier exchanges carry hashes; q239's text join broadcasts") {
    // q238: the corpus-scale collapse keys on the xxhash64 line hash —
    // the line STRING must never be a corpus exchange key
    val p238 = plan(DedupQueries.q238(spark, sf0001))
    assert(p238.contains("hashpartitioning(__h"),
      s"line-df collapse must key on the line hash:\n$p238")
    assert(!p238.contains("hashpartitioning(__line"),
      s"line strings must not key a corpus exchange:\n$p238")
    assert(!p238.contains("CartesianProduct") && !p238.contains("Window"),
      s"line dedup is aggregates + equi-joins, no window:\n$p238")
    // q239: k winner rows broadcast back for the text re-extract; the
    // only window runs AFTER the limit (≤ k metadata rows)
    val p239 = plan(DedupQueries.q239(spark, sf0001))
    assert(p239.contains("BroadcastHashJoin"),
      s"the k-winner text join must broadcast:\n$p239")
    assert(!p239.contains("SortMergeJoin") && !p239.contains("CartesianProduct"),
      s"no corpus-scale join in the audit query:\n$p239")
  }

  test("q240: standing line-hash set never shuffles — batch hashes broadcast in, matched set broadcasts back") {
    val sp2 = spark
    import sp2.implicits._
    val lines = Seq((1L, 0, 100L), (1L, 1, 200L), (2L, 0, 100L))
      .toDF("__id", "__pos", "__h")
    val winners = graft.sinks.LineDedupSink.batchWinners(lines)
    // standing state arrives as a parquet scan (what BatchCommit.read yields) —
    // the gate must exercise that shape, not a local relation
    val dir = java.nio.file.Files.createTempDirectory("q240gate").toString
    Seq(100L, 300L).toDF("h").write.mode("overwrite").parquet(dir)
    val prior = Seq(spark.read.parquet(dir).select($"h".as("__h")))
    val probe = graft.sinks.LineDedupSink.probeMatched(prior, winners).get
    val pProbe = plan(probe)
    assert(pProbe.contains("BroadcastHashJoin"),
      s"batch hashes must broadcast into the standing scan:\n$pProbe")
    assert(!pProbe.contains("SortMergeJoin") && !pProbe.contains("ShuffledHashJoin"),
      s"standing state must never shuffle for the probe:\n$pProbe")
    // exactly ONE broadcast build (the batch winners) and at most the
    // batch-lines winner collapse as an exchange — the standing parquet
    // scan feeds the join with no exchange of its own (round-17 verdict:
    // the old probe shuffled the corpus-scale standing set twice a batch)
    assert("BroadcastExchange".r.findAllIn(pProbe).length === 1,
      s"only the batch side may broadcast:\n$pProbe")
    assert("Exchange hashpartitioning".r.findAllIn(pProbe).length <= 1,
      s"standing state must not hash-exchange:\n$pProbe")
    // downstream split: the matched subset (≤ batch hashes) broadcasts
    // back; no corpus-scale join shape anywhere
    val matched = Seq(100L).toDF("__h")
    val pDrops = plan(graft.sinks.LineDedupSink.dropsFor(
      lines, winners, Some(matched)))
    assert(pDrops.contains("BroadcastHashJoin"),
      s"the matched set must broadcast back into the split:\n$pDrops")
    assert(!pDrops.contains("CartesianProduct") && !pDrops.contains("Window"),
      s"the split stays equi-join + aggregate:\n$pDrops")
  }

  test("ssdTopK large-probe fan-out is range-co-located; small probes stay unshuffled") {
    val sp2 = spark
    import sp2.implicits._
    val series = (1 to 200).map(i => ("k", i.toLong, i * 0.5))
      .toDF("key", "idx", "v")
    // L > 8: the fan-out input must range-partition on (key, idx) so
    // each window's L contributions co-locate and the (key, start)
    // partial aggregate collapses them BEFORE the exchange — a
    // round-robin spread would scatter them and inflate the shuffle ×L
    val big = plan(graft.operators.TimeSeries.ssdTopK(
      series, "key", "idx", "v", Array.tabulate(64)(_.toDouble), k = 5))
    assert(big.contains("rangepartitioning(key"),
      s"large-probe fan-out must range-partition on (key, idx):\n$big")
    assert(!big.contains("RoundRobinPartitioning"),
      s"round-robin would scatter window contributions:\n$big")
    assert(big.contains("partial"), s"fan-out aggregate must combine map-side:\n$big")
    // L <= 8 (q186's regime): no extra exchange at all
    val small = plan(graft.operators.TimeSeries.ssdTopK(
      series, "key", "idx", "v", Array.tabulate(8)(_.toDouble), k = 5))
    assert(!small.contains("rangepartitioning(key"),
      s"small probes must not pay the spread shuffle:\n$small")
    // q217: window texts build row-locally; the majority is a struct
    // min_by — the plan is scan → generate → two hash aggregates
    val p217 = plan(TextQueries.q217(spark, sf0001))
    assert(!p217.contains("Window") && !p217.contains("Join"),
      s"codeSwitchAudit must be generate + aggregates only:\n$p217")
    assert(p217.contains("Generate explode"),
      s"expected the per-doc window explode:\n$p217")
  }

  test("q218-q223: the round-16 stats/linkage ops keep windows off data-scale keys") {
    // q218: kappa is aggregates + key-local joins — no window at all
    val p218 = plan(StatsQueries.q218(spark, sf0001))
    assert(!p218.contains("Window") && !p218.contains("CartesianProduct"),
      s"fleissKappa must stay aggregate + equi-join:\n$p218")
    // q219: two aggregation levels, nothing else
    val p219 = plan(SinkQueries.q219(spark, sf0001))
    assert(!p219.contains("Window") && !p219.contains("Join"),
      s"goodTuringMass must be generate + aggregates only:\n$p219")
    assert(p219.contains("Generate explode"), s"expected token explode:\n$p219")
    // q220: the frequency-rank window must partition BY THE QUASI
    // CLASS — a global window here would sort every class in one task
    val p220 = plan(EventQueries.q220(spark, sf0001))
    val w220 = "Window \\[[^\\n]*".r.findAllIn(p220).toSeq
    assert(w220.nonEmpty && w220.forall(_.contains("c_nationkey")),
      s"the rank window must partition by the quasi class:\n$p220")
    // q222: the q212 one-pass shape — per-doc sign explode, partial
    // agg, group-grain join; no window, no cartesian
    val p222 = plan(StatsQueries.q222(spark, sf0001))
    assert(!p222.contains("Window") && !p222.contains("CartesianProduct"),
      s"permutation totals must fold map-side:\n$p222")
    assert(p222.contains("Generate explode"),
      s"expected the per-doc permutation explode:\n$p222")
    // q223: the u-stats row rides a broadcast; candidate pairs come
    // from the block-key EQUI-join, never a cartesian
    val p223 = plan(EventQueries.q223(spark, sf0001))
    assert(p223.contains("BroadcastNestedLoopJoin") ||
      p223.contains("BroadcastExchange"),
      s"the scalar stats row must broadcast:\n$p223")
    assert(!p223.contains("CartesianProduct"),
      s"pair generation must be the block equi-join:\n$p223")
    // q224/q225: the mcnemar shape at any k — one collapse, no join,
    // no window
    Seq("q224" -> plan(StatsQueries.q224(spark, sf0001)),
        "q225" -> plan(StatsQueries.q225(spark, sf0001))).foreach {
      case (n, p) =>
        assert(!p.contains("Window") && !p.contains("Join"),
          s"$n must be one aggregation pass:\n$p")
    }
    // q226: the cumulative pair window must partition by the group —
    // it runs over distinct metric values, never a global sort
    val p226 = plan(StatsQueries.q226(spark, sf0001))
    val w226 = "Window \\[[^\\n]*".r.findAllIn(p226).toSeq
    assert(w226.nonEmpty && w226.forall(_.contains("grp")),
      s"cliffsDelta windows must partition by group:\n$p226")
    // q227: the fleiss skeleton — aggregates + key-local joins only
    val p227 = plan(StatsQueries.q227(spark, sf0001))
    assert(!p227.contains("Window") && !p227.contains("CartesianProduct"),
      s"krippendorffAlpha must stay aggregate + equi-join:\n$p227")
    // q228: centroids are collected literals — the scoring pass joins
    // NOTHING and windows nothing (scan → project → one aggregate)
    val p228 = plan(MediaQueries.q228(spark, sf0001))
    assert(!p228.contains("Join") && !p228.contains("Window"),
      s"silhouette scoring must be a zero-join projection:\n$p228")
    // q229/q230/q237: every rank window partitions by the group
    // (bounded value support), never a global sort; no cartesian
    Seq("q229" -> plan(StatsQueries.q229(spark, sf0001)),
        "q230" -> plan(StatsQueries.q230(spark, sf0001)),
        "q237" -> plan(StatsQueries.q237(spark, sf0001))).foreach {
      case (n, p) =>
        val ws = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
        assert(ws.nonEmpty && ws.forall(_.contains("grp")),
          s"$n rank windows must partition by group:\n$p")
        assert(!p.contains("CartesianProduct"), s"$n must not cross-join:\n$p")
    }
  }

  test("q196: the contamination scan has no global window over position-scale data") {
    // the nearest-train-neighbor scan must run inside the range slices
    // (windows partitioned by __part) and on the per-doc interval keys;
    // the ONLY partition-less windows allowed are the slice-carry
    // cumulations over the <= numPartitions metadata rows (identified
    // by their __lastT/__firstT inputs), and the carry frame itself
    // must broadcast back, never shuffle the position rows again
    val sp = spark
    import sp.implicits._
    val train = Seq(1L -> "some training text here").toDF("doc_id", "text")
    val eval = Seq(2L -> "some evaluation text here").toDF("doc_id", "text")
    val (perPos, release) = graft.operators.SuffixArray
      .positionMatches(train, eval, "doc_id", "text", 32)
    try {
      val p = plan(perPos)
      val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
      val globals = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 1)
      val partitioned = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 2)
      assert(partitioned.nonEmpty && partitioned.forall(_.contains("[__part")),
        s"position-scale windows must partition by the range slice:\n$p")
      assert(globals.nonEmpty && globals.forall(w =>
          w.contains("__lastT") || w.contains("__firstT")),
        s"found a global window that is not the metadata carry cumulation:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"the carry frame must broadcast back to the slices:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"no position-scale join may shuffle:\n$p")
    } finally release()
  }

  test("q198: the bucketed fact-fact join plans ZERO join exchanges") {
    // both sides are bucketed catalog tables keyed on orderkey: the
    // sort-merge join must consume the bucket partitioning directly —
    // the ONLY exchange in the plan is the 5-row priority aggregate
    val p = plan(SinkQueries.q198(spark, sf0001))
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"the merge hint must pin the scale-relevant strategy:\n$p")
    val ex = "Exchange [^\\n]*".r.findAllIn(p).toSeq
    assert(ex.size === 1, s"expected exactly one exchange, got ${ex.size}:\n$p")
    assert(ex.head.contains("o_orderpriority"),
      s"the one exchange must be the post-join aggregate:\n$p")
    assert(p.contains("graft_bucketed_"),
      s"both scans must read the bucketed layout:\n$p")
  }

  test("q199: the IN-list point lookup prunes to the keys' buckets") {
    // the filter is on the bucket column, so the scan must select only
    // the (at most 3) buckets the keys hash into — file-level skipping
    // before any row-group stat is consulted
    val q = SinkQueries.q199(spark, sf0001)
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val m = "SelectedBucketsCount: (\\d+) out of 16".r.findFirstMatchIn(p)
    assert(m.isDefined, s"scan is not bucket-pruned:\n$p")
    assert(m.get.group(1).toInt <= 3,
      s"expected <= 3 selected buckets, got ${m.get.group(1)}:\n$p")
  }

  test("q93: substrings materialize only after the hash-count join") {
    val p = plan(DedupQueries.q93(spark, sf0001))
    // stage A shuffles 8-byte hashes (count per hash); raw window strings
    // appear only above the join with the heavy-hash set
    // plans print top-down: the substr projection must sit ABOVE (= run
    // after) the join, so its first occurrence precedes the join's in
    // the plan string — raw window strings never feed a shuffle below it
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val substrIdx = p.indexOf("substr")
    assert(joinIdx >= 0,
      s"heavy-hash set must broadcast (SMJ would shuffle text-carrying window rows):\n$p")
    assert(substrIdx >= 0, s"expected the substring recovery:\n$p")
    assert(substrIdx < joinIdx,
      s"substrings must be derived above (after) the hash join, not shuffled raw:\n$p")
    assert(!p.contains("SortMergeJoin"), s"window rows must not shuffle for the join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q98: the fact scan carries a dynamic partition-pruning filter") {
    val p = plan(SinkQueries.q98(spark, sf0001))
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must be dynamically partition-pruned by the dim side:\n$p")
  }

  test("q110: source-overlap joins 8-byte hashes with partial aggregation, no cartesian") {
    val p = plan(CorpusQueries.q110(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("partial"), s"pair count must partial-aggregate:\n$p")
    // the join carries only (source, hash) — document text never reaches it
    assert(!p.toLowerCase.contains("text#") ||
      p.indexOf("text#") > p.indexOf("Join"), s"text must not ride into the join:\n$p")
  }

  test("q103: the apply plan is exchange-free — one hashed-set pass over the scan") {
    val p = plan(TextQueries.q103(spark, sf0001))
    // the df aggregate ran during construction (stop-set collect); the
    // RETURNED plan must be pure map-side: scan -> expression -> project
    assert(p.contains("string_array_except_set"), s"expected the hashed-set expression:\n$p")
    assert(!p.contains("Exchange"), s"apply pass must not shuffle:\n$p")
    assert(!p.contains("Join"), s"apply pass must not join:\n$p")
  }

  test("q107: top-k cut is TakeOrdered (heaps), never a global sort of the vocabulary") {
    val p = plan(TextQueries.q107(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"expected a heap-based cut:\n$p")
    // the only Sort allowed is the k-row window's; a pre-cut global
    // Sort of the counts table would materialize the whole vocabulary
    val sortIdx = p.indexOf("Sort ")
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    assert(sortIdx < 0 || sortIdx < takeIdx,
      s"vocabulary must not globally sort before the cut:\n$p")
  }

  test("q105: corpus side never shuffles — broadcasts only, one candidate exchange") {
    val p = plan(DedupQueries.q105(spark, sf0001))
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for a join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"batch side must broadcast:\n$p")
    // the single allowed exchange is the candidate-pair distinct
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected at most the candidate distinct exchange, got $exchanges:\n$p")
  }

  test("q104: bloom probe filters map-side, BELOW the confirm join's exchange") {
    val p = plan(CorpusQueries.q104(spark, sf0001))
    val probeIdx = p.indexOf("long_bloom_might_contain")
    assert(probeIdx >= 0, s"expected the codegen'd bloom probe:\n$p")
    // plans print top-down: the probe must sit below (= run before)
    // every join — its first occurrence comes after the last join's
    val lastJoin = math.max(p.lastIndexOf("SortMergeJoin"),
      math.max(p.lastIndexOf("BroadcastHashJoin"), p.lastIndexOf("ShuffledHashJoin")))
    assert(lastJoin >= 0, s"expected the exact confirm join:\n$p")
    assert(probeIdx > lastJoin,
      s"bloom probe must prune before the join, not after:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q111: probe reads the STORED index (parquet scan, text column never read) and keeps q105's shape") {
    val p = plan(DedupQueries.q111(spark, sf0001))
    // the index side must be a parquet scan of the stored state — and a
    // pruned one: signatures and shingles, never document text
    assert(p.contains("graft-neardupidx"), s"expected a stored-index scan:\n$p")
    val readSchemas = "ReadSchema: [^\\n]+".r.findAllIn(p).toList
    val idxSchemas = readSchemas.filterNot(_.contains("text"))
    assert(idxSchemas.nonEmpty, s"expected index scans without text:\n$p")
    assert(!p.contains("SortMergeJoin"), s"index must not shuffle for a join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"batch side must broadcast:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"expected at most the candidate distinct exchange, got $exchanges:\n$p")
  }

  test("q112: PII redaction is a pure map-side projection — zero exchanges, no UDF") {
    val p = plan(TextQueries.q112(spark, sf0001))
    assert(!p.contains("Exchange"), s"redaction must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"),
      s"redaction must stay in codegen'd builtins:\n$p")
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the
    // compact plan string
    assert(p.contains("*(1) Project"), s"expected codegen coverage:\n$p")
  }

  test("q108: CDC dup profile shuffles only chunk hashes — hash window + doc aggregate, chunker runs once") {
    val dd = Tables.documents(spark, sf0001)
    val p = plan(graft.operators.Dedup.cdcChunkDupProfile(dd, "doc_id", "text"))
    // exactly two exchanges: partition-by-hash for the shared window,
    // then the per-document aggregate
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected hash-window + doc-agg exchanges, got $exchanges:\n$p")
    // one chunker invocation in the whole plan: the window formulation
    // must not re-derive chunks for a second branch
    val chunkers = "cdc_chunks".r.findAllIn(p).length
    assert(chunkers == 1, s"chunker must run once, found $chunkers:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"window formulation needs no join at all:\n$p")
  }

  test("q114: the whole sessionization is ONE keyed exchange, never partition-less") {
    val p = plan(EventQueries.q114(spark, sf0001))
    // the lag + prefix-sum frames share one Window over user_id, and the
    // (user, session) aggregate reuses that partitioning (user_id alone
    // already clusters every group) — zero additional shuffles
    assert(p.contains("windowspecdefinition(user_id"),
      s"window lost its partition spec:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"window partitioning must serve the session agg too, got $exchanges:\n$p")
    assert(!p.contains("SinglePartition"),
      s"sessionization must never collapse to one partition:\n$p")
  }

  test("q115: inverted index is ONE aggregation — heap postings, no window, no sort") {
    val p = plan(TextQueries.q115(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"df + postings must share one exchange, got $exchanges:\n$p")
    assert(p.contains("partial_collect_top_k"),
      s"postings must heap-cap map-side (bounded shuffle per stop word):\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      s"no window/join belongs in this plan:\n$p")
  }

  test("q117: totals broadcast back; the per-source cut is a bounded heap") {
    val p = plan(TextQueries.q117(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"vocab/source totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join for metadata-scale totals:\n$p")
    assert(p.contains("partial_collect_top_k"),
      s"per-source cut must be a bounded heap, not a vocabulary window:\n$p")
  }

  test("q119: budget cut is two-level — data windows partition by bucket, offsets broadcast") {
    val p = plan(CorpusQueries.q119(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back, not shuffle-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join:\n$p")
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    val globals = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 1)
    val partitioned = windows.filter(w => "\\], \\[".r.findAllIn(w).size == 2)
    assert(partitioned.nonEmpty && partitioned.forall(_.contains("__bucket")),
      s"the data-scale prefix sum must partition by __bucket:\n$p")
    // the only global window is the cumsum over the BUCKET list —
    // metadata scale, identified by its __bsum input
    assert(globals.forall(_.contains("__bsum")),
      s"found a global window not over the bucket metadata:\n$p")
  }

  test("q120: sample cut is TakeOrdered (per-partition heaps), rank only after the cut") {
    val p = plan(CorpusQueries.q120(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"expected a heap-based cut:\n$p")
    // the rank window may sort its k rows; the corpus itself must not
    // globally sort before the cut
    val sortIdx = p.indexOf("Sort ")
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    assert(sortIdx < 0 || sortIdx < takeIdx,
      s"corpus must not globally sort before the cut:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no range-partitioned global sort belongs in this plan:\n$p")
  }

  test("q123: the OOV probe is exchange-free — the vocabulary rides as a hashed set") {
    val p = plan(TextQueries.q123(spark, sf0001))
    assert(!p.contains("Exchange"), s"OOV apply must not shuffle:\n$p")
    assert(!p.contains("Join"), s"hashed-set membership must not join:\n$p")
    assert(p.contains("string_array_except_set"),
      s"OOV count must ride the hashed-set expression:\n$p")
  }

  test("q125: chunking is a pure map-side explode — zero exchanges") {
    val p = plan(CorpusQueries.q125(spark, sf0001))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate explode"), s"expected the start-sequence explode:\n$p")
  }

  test("q126: mixture sampling is a pure map-side filter — zero exchanges, no join") {
    val p = plan(CorpusQueries.q126(spark, sf0001))
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(!p.contains("Join"), s"the rate table must ride as a literal, not a join:\n$p")
  }

  test("q118: blocklist flag is map-side — one aggregate exchange, no join") {
    val p = plan(CorpusQueries.q118(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the source-agg exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"hashed-set membership must not join:\n$p")
    assert(p.contains("string_array_except_set"),
      s"flag must ride the hashed-set expression:\n$p")
  }

  test("q137: the curriculum's data window is keyed by source; the index broadcasts back") {
    val p = plan(CorpusQueries.q137(spark, sf0001))
    assert(p.contains("windowspecdefinition(source"),
      s"per-source rank must partition by the stratum key:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the |sources|-row index table must broadcast, not shuffle the corpus:\n$p")
  }

  test("q138: the sweep window runs over the metadata grid, keyed by source") {
    val p = plan(CorpusQueries.q138(spark, sf0001))
    assert(p.contains("windowspecdefinition(source"),
      s"cumulative keep counts must partition by source:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q147: ANN mining candidates come from an EQUI-join on the LSH bucket") {
    val p = plan(MediaQueries.q147(spark, sf0001))
    // the candidate join keys on the bucket struct — an equi strategy
    // Spark may size-pick (broadcast here, SMJ at scale); what must
    // NEVER appear is a nested-loop/cartesian pairing of the sides
    assert(p.contains("[bucket"), s"candidate join not keyed on bucket:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pairing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian pairing:\n$p")
  }

  test("q150: learned-quality inference is a pure projection — zero exchanges") {
    val p = plan(StatsQueries.q150(spark, sf0001))
    // training runs eagerly inside q150; the PLAN under test is the
    // scoring pass, which folds tokens against the weight-map literal
    // row-locally — nothing shuffles at any corpus size
    assert(!p.contains("Exchange"), s"inference plan must not shuffle:\n$p")
    assert(!p.contains("Join"), s"inference plan must not join:\n$p")
  }

  test("q149: DSIR weigh is a row-local projection; cut plans TakeOrdered, no join") {
    val p = plan(CorpusQueries.q149(spark, sf0001))
    // the frozen score map is a plan literal folded per row: no join,
    // no aggregation, NO exchange reaches the doc-scale side — the cut
    // is per-partition heaps and the rank window runs over the k cut
    // rows (metadata scale by construction)
    assert(p.contains("TakeOrderedAndProject"), s"cut must be TakeOrdered:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"score lookup must be the map literal, not a join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 0, s"expected ZERO doc-scale exchanges, got $exchanges:\n$p")
  }

  test("q129: exact set-sim join plans equi-joins only — no cartesian, no nested loop") {
    val p = plan(DedupQueries.q129(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"cartesian in exact join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in exact join:\n$p")
    // the per-doc reorder is array_sort over (df, h) structs, never a
    // global sort of the shingle stream
    assert(!p.contains("Sort [df"), s"global sort crept in:\n$p")
  }

  test("q156: containment join plans equi-joins only — prefix probe vs full postings") {
    val p = plan(DedupQueries.q156(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"cartesian in containment join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in containment join:\n$p")
    assert(!p.contains("Sort [df"), s"global sort of the shingle stream:\n$p")
  }

  test("q158: W1 windows are keyed by group and run over collapsed distinct values") {
    val p = plan(StatsQueries.q158(spark, sf0001))
    assert(!p.contains("windowspecdefinition()"),
      s"partition-less window in the W1 plan:\n$p")
    // the (group, value) collapse aggregates BEFORE any window
    val firstWindow = p.indexOf("Window")
    val lastAgg = p.lastIndexOf("HashAggregate")
    assert(firstWindow >= 0 && lastAgg > firstWindow,
      s"distinct-value collapse must sit below the window:\n$p")
  }

  test("q154: BM25 prunes the token stream map-side and cuts with the heap, not a window") {
    val p = plan(TextQueries.q154(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"query-vocab prune must broadcast-semi-join:\n$p")
    assert(!p.contains("Window"), s"top-k must be the heap:\n$p")
    assert(!p.contains("SortMergeJoin"), s"all BM25 joins broadcast at this scale:\n$p")
  }

  test("q160: decay score is map-side + one keyed aggregate — no window, no sort") {
    val p = plan(EventQueries.q160(spark, sf0001))
    assert(!p.contains("Window"), s"no window in the decay plan:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"decay plan should be ~1 keyed exchange (+AQE reads), got $exchanges:\n$p")
  }

  test("q178: TPC-H Q3 pushes both date filters; top-10 is TakeOrdered") {
    val p = plan(EventQueries.q178(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("LessThan(o_orderdate"), s"order-date filter not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered, not a global sort:\n$p")
  }

  test("q179: TPC-H Q5's bounded dimension chain broadcasts — lineitem never sort-merge-joins a dim") {
    val p = plan(EventQueries.q179(spark, sf0001))
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 3, s"supplier/nation-region chains must broadcast, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q180: TPC-H Q18's qualifying keys enter as a semi-join; top-100 is TakeOrdered") {
    val p = plan(EventQueries.q180(spark, sf0001))
    assert(p.contains("LeftSemi"), s"HAVING>n keys must re-enter as a semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q181: TPC-H Q21 shape — semi + anti self-joins, supplier dim broadcasts") {
    val p = plan(EventQueries.q181(spark, sf0001))
    assert(p.contains("LeftSemi"), s"other-supplier EXISTS must be a semi-join:\n$p")
    assert(p.contains("LeftAnti"), s"no-other-late NOT EXISTS must be an anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the nation-filtered supplier dim must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q182/q186: no cartesian products; q186's top-20 is TakeOrdered over one keyed aggregate") {
    val p182 = plan(MediaQueries.q182(spark, sf0001))
    assert(!p182.contains("CartesianProduct"),
      s"banded hamming join must never go quadratic:\n$p182")
    val p186 = plan(EventQueries.q186(spark, sf0001))
    assert(!p186.contains("CartesianProduct"), p186)
    assert(p186.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort:\n$p186")
    // the dense index must come from the two-level per-key rank: every
    // window either carries the __part range-split key (data scale,
    // bounded per task) or is the metadata cumsum over the (key, part)
    // counts (__cnt input) — a bare PARTITION BY event_type window
    // would serialize each ~5-value key through one task
    val windows = "Window \\[[^\\n]*".r.findAllIn(p186).toSeq
    assert(windows.forall(w => w.contains("__part") || w.contains("__cnt")),
      s"q186 index window is single-task per key:\n${windows.mkString("\n")}")
  }

  test("q187: media dedup pipeline — no cartesian anywhere, pixels stay in their decode stage") {
    // AQE off for this one plan so EnsureRequirements-inserted
    // exchanges are inspectable as concrete nodes with input schemas.
    // Set AFTER construction: Tables.* re-enable it via
    // GraftSession.configure, and physical planning is lazy.
    val df = MediaQueries.q187(spark, sf0001)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"pipeline pairing must stay banded/keyed:\n$p")
      // the payload column must die at the map-side hash projection: an
      // Exchange whose input schema carries it would mean pixels/samples
      // cross the wire
      val shuffles = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }
      assert(shuffles.nonEmpty, s"expected keyed exchanges in:\n$p")
      shuffles.foreach { s =>
        val names = s.child.output.map(_.name.toLowerCase)
        assert(!names.exists(_.contains("payload")),
          s"payload bytes must never shuffle; exchange schema was $names")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no broadcast hint targets a fact-scaling table, anywhere in the registry") {
    // A broadcast() hint pins the planner's hand: on a table that
    // scales with the fact side (TPC-H customer/orders/lineitem, the
    // event stream, the corpus, the embedding store) the hint still
    // "works" at test SF but is a driver OOM at lake scale, and it
    // disables AQE's size-based fallback. Bounded dims (region,
    // nation, supplier, metadata-scale literals/aggregates) may hint
    // freely. Sweep every registered query's ANALYZED plan: collect
    // ResolvedHint nodes carrying a broadcast strategy and assert no
    // fact-scaling parquet scan lives under one.
    // "Under" means reachable WITHOUT crossing a cardinality-bounding
    // node: an Aggregate/Limit/Deduplicate between the hint and the
    // scan makes the broadcast a bounded derivative (centroids, vocab
    // histograms, top-k probes), and a Filter marks a slice that is
    // selective BY CONTRACT (a probe id set, a daily ingest batch, the
    // held-out split) — both are the metadata-scale patterns this
    // codebase uses deliberately, and they stay legal. What the gate
    // rejects is a hint on a RAW fact scan: never selective, always a
    // driver OOM at lake scale, and it disables AQE's size-based
    // fallback (the q178/q179 customer-broadcast bug class).
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val fact = Set("customer", "orders", "lineitem", "events",
      "documents", "embeddings")
    def unboundedScans(p: LogicalPlan): Seq[String] = p match {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit |
           _: Deduplicate | _: Filter => Seq.empty
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths
          .map(_.getName.stripSuffix(".parquet")).filter(fact.contains)
        case _ => Seq.empty
      }
      case other => other.children.flatMap(unboundedScans)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf0001).queryExecution.analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
            unboundedScans(h.child)
              .map(t => s"$name broadcasts fact table $t")
        }.flatten
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("\n"))
  }

  test("q133: every PageRank iteration reads the persisted edge cache, not the corpus") {
    // round 19: the registry path cuts rank lineage LAZILY every
    // iteration, so its final plan is a truncated ExistingRDD — assert
    // the truncation (no corpus re-derivation can survive it), and
    // check the per-iteration cache discipline on the UNCUT plan
    // (checkpointEvery = 0), where the iteration structure is visible
    val p = plan(TextQueries.q133(spark, sf0001))
    assert(!p.contains("FileScan"),
      s"the checkpointed registry plan must not re-derive the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val uncut = plan(graft.operators.Graph.pageRank(
        graft.operators.Corpus.bigramEdges(
          Tables.documents(spark, sf0001), "doc_id", "text"),
        "src", "dst", iterations = 5, dampingPct = 85, checkpointEvery = 0)
      .orderBy(org.apache.spark.sql.functions.col("rank_units").desc,
        org.apache.spark.sql.functions.col("node").asc).limit(50))
    // each of the 5 iterations reads edges (contrib leg) and the
    // node-scale outdeg/nodes tables from their caches —
    // InMemoryTableScans must dominate; a plan that re-derived the
    // bigram explode per iteration would repeat the tokenize/explode
    // pipeline outside any InMemoryRelation block
    val cacheScans = "InMemoryTableScan".r.findAllIn(uncut).length
    assert(cacheScans >= 10, s"expected >=10 cache scans, got $cacheScans:\n$uncut")
    assert(!uncut.contains("CartesianProduct"), uncut)
  }
}
