package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{NumFunctions, TextFunctions}

/** Corpus-preparation operators for a training-data pipeline: TF-IDF
  * term weighting, deterministic stratified sampling, token-budget
  * sequence packing, benchmark decontamination, and epoch-weighted
  * oversampling. These extend the reference's per-record ETL surface
  * (it stops at decode → route → sink, `run.py:139-170`) with the
  * corpus-level passes an LLM data pipeline runs after ingest.
  *
  * Scale design (100 TB): no operator here materializes per-row state on
  * the driver, sorts the full corpus in one partition, or self-joins
  * un-bucketed. Aggregations partial-aggregate before their single
  * shuffle; the one global prefix-sum (packing) is the classic two-level
  * decomposition — bucket sums first, a window over the (tiny) bucket
  * list, then per-bucket local cumsums — so no stage ever sees more than
  * one bucket's rows in a single task.
  */
object Corpus {

  /** Corpus TF-IDF, top-k (doc, token) pairs by `tf · ln(N/df)`.
    *
    * One tokenize/explode pass feeds both frequencies: `tf` is the
    * (doc, token) count, and `df` is derived FROM `tf` (distinct docs
    * per token ≡ rows per token after the tf collapse) — the token
    * stream is never exploded twice. Both aggregations partial-aggregate
    * map-side, so shuffle volume is bounded by the distinct
    * (doc, token) set, not the token stream. The doc count joins in as
    * a broadcast scalar; tf⋈df is a plain equi-join on token (AQE
    * broadcasts it when the vocabulary is small; at 100 TB a 100M-term
    * vocabulary still shuffle-joins safely).
    *
    * Scores are rounded to 4 places BEFORE the top-k order (rounded
    * score desc, then doc, then token), so the cut at k is a total
    * order over values both engines agree on bit-for-bit.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // split+explode+predicate stays in codegen; TextFunctions.tokens'
    // array-filter lambda would run interpreted (HOFs have no codegen)
    val tk = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(lower(col(textCol))), TextFunctions.whitespaceClass)).as("token"))
      .filter(col("token") =!= "")
    val tf = tk.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        NumFunctions.roundNz(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id").asc, col("token").asc)
      .limit(k)
  }

  /** Per-document keyword extraction: each document's `k` best tokens
    * by `tf · ln(N/df)` — [[tfidf]]'s scoring turned into the per-doc
    * keyword list a search snippet / tagging pass wants (the global
    * variant cuts one corpus-wide top-k; this cuts per document).
    * Returns `(doc_id, token, tfidf, rk)`, rounded score, (score desc,
    * token asc) ties.
    *
    * Scale shape: same two partial-aggregating collapses as [[tfidf]]
    * (tf, then df derived from it), the doc-count broadcast scalar,
    * and the bounded [[TopK.topKPerKey]] heap per document — ≤ k rows
    * per doc per partition cross the final exchange, no window.
    */
  def keywordsPerDoc(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // spread a narrow input before the tokenize explode (round 19 —
    // never fires on a wide real-scale scan)
    val tk = Similarity.spreadIfNarrow(
        docs.select(col(idCol), col(textCol)), computeWeight = 64)
      .select(col(idCol).as("doc_id"),
        explode(split(trim(lower(col(textCol))), TextFunctions.whitespaceClass)).as("token"))
      .filter(col("token") =!= "")
    val tf = tk.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        NumFunctions.roundNz(
          col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
    TopK.topKPerKey(scored.withColumn("__neg", -col("tfidf")),
      Seq("doc_id"), struct(col("__neg"), col("token")), Seq("token", "tfidf"), k)
  }

  /** Association profile over per-key item sets (Agrawal & Srikant,
    * VLDB 1994's support/confidence frame plus lift): for every
    * unordered pair of items co-occurring under at least `minKeys`
    * keys, the exact support and lift
    * `n·n_ab / (n_a·n_b)` — which event types travel together across
    * users, which languages co-occur in a source, etc. Returns
    * `(item_a, item_b, n_a, n_b, n_ab, support, lift)` with
    * item_a < item_b.
    *
    * Scale shape: the (key, item) stream dedups FIRST (one
    * partial-aggregating shuffle); per-item counts collapse from it;
    * the pair generation is a self-join ON THE KEY whose per-key cost
    * is |items-per-key|² — bounded by the ITEM VOCABULARY, not the
    * row count (document the contract: this is a market-basket
    * operator, not a free-text one); pair counts partial-aggregate,
    * and the item counts join back vocab-keyed (AQE broadcasts).
    * Ratios are IEEE divisions of exact longs.
    */
  def associationPairs(df: DataFrame, keyCol: String, itemCol: String,
                       minKeys: Long = 1L): DataFrame = {
    require(minKeys >= 1L, s"minKeys must be >= 1, got $minKeys")
    val ki = df.select(col(keyCol).as("__k"), col(itemCol).as("__i"))
      .filter(col("__i").isNotNull && col("__k").isNotNull).distinct()
    val itemN = ki.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val nKeys = ki.select(col("__k")).distinct().agg(count(lit(1)).as("__nk"))
    val pairs = ki.as("x").join(ki.as("y"),
        col("x.__k") === col("y.__k") && col("x.__i") < col("y.__i"))
      .groupBy(col("x.__i").as("item_a"), col("y.__i").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minKeys)
    pairs
      .join(itemN.select(col("__i").as("item_a"), col("__n").as("n_a")), "item_a")
      .join(itemN.select(col("__i").as("item_b"), col("__n").as("n_b")), "item_b")
      .crossJoin(broadcast(nKeys))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("n_ab"),
        NumFunctions.roundNz(
          col("n_ab").cast("double") / col("__nk"), 6).as("support"),
        NumFunctions.roundNz(
          col("__nk").cast("double") * col("n_ab") /
            (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
  }

  /** Per-group Shannon entropy of a class column — `H = −Σ p·ln p`
    * over the group's class distribution: the diversity index a
    * mixture datasheet reports per source (language entropy, topic
    * entropy). H = 0 means a monoculture; ln(k) means a uniform mix
    * over k classes. Null classes are excluded. Returns
    * `(groupCol, n_classes, entropy)`.
    *
    * Determinism: one IEEE `p·ln p` per (group, class) routed through
    * DECIMAL(18,9) before the per-group sum (the q67 recipe).
    *
    * Scale shape: one partial-aggregating shuffle to (group, class)
    * counts; totals collapse from that table and join back group-keyed
    * (AQE broadcasts); the entropy sum is ≤ |classes| rows per group.
    */
  def classEntropy(df: DataFrame, groupCol: String,
                   classCol: String): DataFrame = {
    val counts = df.filter(col(classCol).isNotNull)
      .groupBy(col(groupCol), col(classCol)).agg(count(lit(1)).as("__n"))
    val tot = counts.groupBy(col(groupCol)).agg(sum(col("__n")).as("__total"))
    val p = col("__n").cast("double") / col("__total")
    counts.join(tot, groupCol)
      .withColumn("__t",
        (-(p * log(p))).cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_classes"),
        NumFunctions.roundNz(sum(col("__t")).cast("double"), 6).as("entropy"))
  }

  /** Token-mass concentration curve (the Lorenz view of curation
    * economics): documents cut into `k` quality deciles
    * ([[Ranks.ntileExact]] over the rounded heuristic quality score,
    * id tie-break) and, per decile, the doc count, token count, and
    * CUMULATIVE token share — "the top 30 % of documents by quality
    * hold X % of the tokens", the number that decides how aggressive a
    * quality cut can be before it starves the token budget. Returns
    * `(decile, n_docs, n_tokens, cum_token_share)`.
    *
    * Scale shape: one map-side score projection, the exact-ntile cut
    * (two-level rank, no global one-partition window), one ≤ k-row
    * aggregate; the cumulative window runs over k rows and the total
    * rides as a broadcast scalar.
    */
  def tokenConcentration(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = TextFunctions.tokens(col(textCol))
    val scored = docs.select(col(idCol),
      size(toks).cast("long").as("__t"),
      TextFunctions.qualityScore(toks).as("__score"))
    val binned = Ranks.ntileExact(scored,
      Seq(col("__score").desc, col(idCol).asc), k, outCol = "decile")
    val g = binned.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))
    val tot = g.agg(sum(col("n_tokens")).as("__tt"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("__cum", sum(col("n_tokens")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        NumFunctions.roundNz(
          col("__cum").cast("double") / col("__tt"), 6).as("cum_token_share"))
  }

  /** Deterministic exact-count stratified sample: within each stratum,
    * the first ⌊tot·num/den⌋ rows in `idCol` order. Unlike
    * `DataFrame.sampleBy` (Bernoulli — count varies run to run, seed
    * plumbing required), this is replay-stable: same input → same rows,
    * and every stratum's sampled count is exactly proportional (floor),
    * so rare strata are never over- or under-drawn by chance.
    *
    * One shuffle on the strata columns; both windows (rank and stratum
    * total) share that single partitioning. The per-stratum sort is the
    * honest cost of exact counts — when a stratum outgrows a task at
    * extreme scale, the cheap alternative is hash-threshold sampling
    * (`hash(id) % den < num`), which trades exact counts for zero sort.
    */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], idCol: String,
                       num: Int, den: Int): DataFrame = {
    require(num >= 0 && den > 0, s"bad fraction $num/$den")
    val strata = strataCols.map(col)
    val w = Window.partitionBy(strata: _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__tot", count(lit(1)).over(Window.partitionBy(strata: _*)))
      .filter(col("__rn") * den <= col("__tot") * num)
      .drop("__rn", "__tot")
  }

  /** Token-budget sequence packing: documents in `idCol` order are
    * concatenated into a virtual token stream and cut every `budget`
    * tokens; each document is assigned the bin its FIRST token lands in
    * (`bin = exclusive-prefix-sum(tokens) div budget` — the standard
    * concat-then-chunk layout LLM trainers pack with).
    *
    * The global prefix sum is decomposed so no single task ever sorts
    * the corpus (a bare `Window.orderBy(id)` would coalesce 100 TB into
    * one partition):
    *   1. bucket docs by `id div bucketWidth`; sum tokens per bucket
    *      (one partial-aggregated shuffle);
    *   2. exclusive-cumsum the bucket sums with a window over the bucket
    *      list — rows there number `maxId/bucketWidth`, thousands at
    *      most, so the single-partition window is over metadata, not data;
    *   3. broadcast the bucket offsets back and window WITHIN each
    *      bucket (partitioned, bounded by bucketWidth rows per task).
    *
    * Returns one row per document: (idCol, n_tokens, offset, bin).
    */
  def packSequences(docs: DataFrame, idCol: String, nTokens: Column,
                    budget: Long, bucketWidth: Long = 4096): DataFrame = {
    require(budget > 0 && bucketWidth > 0, s"bad budget=$budget bucketWidth=$bucketWidth")
    val t = docs.select(col(idCol).as("__id"), nTokens.cast("long").as("__n"))
      .withColumn("__bucket", floor(col("__id") / bucketWidth).cast("long"))
    val bucketSums = t.groupBy(col("__bucket")).agg(sum(col("__n")).as("__bsum"))
    val wBuckets = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = bucketSums
      .withColumn("__boff", coalesce(sum(col("__bsum")).over(wBuckets), lit(0L)))
      .drop("__bsum")
    val wInBucket = Window.partitionBy(col("__bucket")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(bucketOffsets), "__bucket")
      .withColumn("__off", col("__boff") + coalesce(sum(col("__n")).over(wInBucket), lit(0L)))
      .select(col("__id").as(idCol), col("__n").as("n_tokens"),
        col("__off").as("offset"),
        floor(col("__off") / budget).cast("long").as("bin"))
  }

  /** Benchmark decontamination: for each training document, the number
    * of distinct word n-gram shingles it shares with ANY benchmark
    * document (docs with zero overlap are absent). The canonical
    * eval-leak scan: training corpora are decontaminated against
    * benchmark suites before training.
    *
    * The benchmark side collapses to its distinct shingle set and
    * broadcasts — benchmark suites are millions of shingles against a
    * 100 TB train side, so the train corpus never shuffles: the explode
    * and the semi-join-shaped probe stay map-side, and the only shuffle
    * is the per-doc count aggregation.
    *
    * Shingles are the one-pass 64-bit hashes of
    * [[graft.functions.HashedWordNgrams]] (distinct per doc, so the
    * count IS the distinct overlap) — the composed
    * split→transform→concat_ws HOF pipeline is interpreted, not
    * codegen'd, and measured ~20× slower; xxHash64 collisions are
    * negligible (P ≈ n²/2⁶⁴), so counts match string-shingle semantics
    * exactly at any realistic corpus size, and fixed-width longs keep
    * the broadcast hash table compact.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 3,
                    broadcastBench: Boolean = true): DataFrame = {
    def sh(d: DataFrame): DataFrame = d.select(col(idCol),
      explode(graft.functions.HashFunctions.hashedWordNgrams(col(textCol), n)).as("__g"))
    val benchGrams = sh(benchmark).select(col("__g")).distinct()
    // benchmark suites are normally tiny next to the train corpus —
    // broadcast keeps the train side map-side. For the rare inverted
    // shape (decontaminating against another full corpus),
    // broadcastBench=false shuffle-joins on the 8-byte shingle hash
    // instead of materializing it on every executor.
    val probe = if (broadcastBench) broadcast(benchGrams) else benchGrams
    sh(train).join(probe, "__g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** Vocabulary coverage: the top-`k` tokens by corpus frequency with
    * each token's share of the token STREAM and the cumulative coverage
    * down the ranking — the "how large a vocabulary covers 95 % of the
    * corpus" tokenizer diagnostic. Returns `(rank, token, cnt, share,
    * cum_share)`, ordered by `(cnt desc, token)` (total order, both
    * engines agree bit-for-bit; shares are integer-ratio doubles
    * rounded at the end).
    *
    * Scale shape: one partial-aggregated shuffle to the vocabulary
    * count table; the top-k cut is `orderBy().limit(k)` — Spark plans
    * TakeOrdered (per-partition heaps, never a global sort
    * materialization); the cumulative window runs AFTER the cut, over
    * k rows of metadata (the packSequences bucket-window pattern, not
    * a q61-style global data window).
    */
  def vocabCoverage(docs: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tk = docs.select(
        explode(split(trim(lower(col(textCol))), TextFunctions.whitespaceClass)).as("token"))
      .filter(col("token") =!= "")
    val counts = tk.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token").asc)).cast("long"))
      .withColumn("share", NumFunctions.roundNz(col("cnt").cast("double") / col("total"), 6))
      .withColumn("cum_share",
        NumFunctions.roundNz(sum(col("cnt")).over(w).cast("double") / col("total"), 6))
      .select(col("rank"), col("token"), col("cnt"), col("share"), col("cum_share"))
  }

  /** Vocabulary-growth (Heaps-law) curve: cumulative token count vs
    * cumulative DISTINCT-token count over the corpus in id order,
    * checkpointed every `bucketWidth` document ids — the empirical
    * `V(n) ≈ K·n^β` curve (Heaps 1978) a tokenizer team reads to decide
    * whether a vocabulary is saturating or the crawl keeps minting new
    * types. Returns `(bucket, n_tokens_cum, vocab_cum)` with one row
    * per non-empty id bucket.
    *
    * The distributed trick: cumulative-distinct needs no cumulative
    * state — a token first enters the vocabulary in bucket
    * `min(bucket)` over its occurrences, so `vocab_cum(b)` is the
    * running sum of first-occurrence counts. One token-scale shuffle
    * (partial-aggregated min per token), one doc-scale bucket count;
    * the two running sums are windows over BUCKET rows (corpus_size /
    * bucketWidth of them — metadata, the packSequences bucket-window
    * pattern), never over tokens.
    */
  def heapsCurve(docs: DataFrame, idCol: String, textCol: String,
                 bucketWidth: Long = 50L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val tk = docs.select((col(idCol) - pmod(col(idCol), lit(bucketWidth)))
        .cast("long").as("bucket"),
        explode(split(trim(lower(col(textCol))), TextFunctions.whitespaceClass)).as("token"))
      .filter(col("token") =!= "")
    // tokens-per-bucket: one partial-aggregating shuffle on the bucket id
    val perBucket = tk.groupBy(col("bucket")).agg(count(lit(1)).as("__n_tok"))
    // first-occurrence bucket per token, then first-occurrences per bucket
    val firsts = tk.groupBy(col("token")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("__n_first"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket.join(firsts, Seq("bucket"), "left")
      .withColumn("__n_first", coalesce(col("__n_first"), lit(0L)))
      .select(col("bucket"),
        sum(col("__n_tok")).over(w).as("n_tokens_cum"),
        sum(col("__n_first")).over(w).as("vocab_cum"))
  }

  /** Quality-threshold sweep: for every candidate cutoff
    * `t = i/steps, i ∈ [0, steps)`, the per-source keep count and keep
    * rate if documents with `score ≥ t` survive — the calibration curve
    * read BEFORE committing a C4/Gopher-style quality gate (pick the
    * threshold where the keep-rate knee sits per source, not one global
    * guess). Scores are assumed in [0, 1]; out-of-range scores clamp
    * into the first/last bucket (symmetric clamps), so every document
    * is counted under some threshold.
    *
    * Scale shape: ONE pass buckets each document map-side
    * (`⌊score·steps⌋`), one partial-aggregating shuffle to (source,
    * bucket) counts, and the sweep is a cumulative-from-above window
    * over the DENSE (source × steps) grid — `|sources|·steps` metadata
    * rows, never the corpus. The dense grid (a broadcast sequence
    * explode) guarantees every threshold appears even when no document
    * lands in its bucket.
    */
  def thresholdSweep(df: DataFrame, srcCol: String, scoreCol: Column,
                     steps: Int = 20): DataFrame = {
    require(steps >= 2, s"need steps >= 2, got $steps")
    val bucketed = df.select(col(srcCol),
        greatest(lit(0L), least(lit((steps - 1).toLong),
          floor(scoreCol * steps).cast("long"))).as("__b"))
    val counts = bucketed.groupBy(col(srcCol), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val totals = bucketed.groupBy(col(srcCol)).agg(count(lit(1)).as("__total"))
    val grid = totals.select(col(srcCol), col("__total"),
      explode(sequence(lit(0L), lit((steps - 1).toLong))).as("thr_idx"))
    val w = Window.partitionBy(col(srcCol)).orderBy(col("thr_idx").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(counts, grid(srcCol) === counts(srcCol) && col("thr_idx") === col("__b"),
        "left")
      .select(grid(srcCol), col("__total"), col("thr_idx"),
        coalesce(col("__n"), lit(0L)).as("__n"))
      .withColumn("n_kept", sum(col("__n")).over(w))
      .select(col(srcCol), col("thr_idx"),
        NumFunctions.roundNz(col("thr_idx").cast("double") / steps, 6).as("threshold"),
        col("n_kept"),
        NumFunctions.roundNz(col("n_kept").cast("double") / col("__total"), 6)
          .as("keep_rate"))
  }

  /** Curriculum ordering with source balancing: rank each stratum's
    * documents easy→hard (score descending, id tie-break) and
    * interleave the strata round-robin — position
    * `(rank−1)·|sources| + source_index + 1` — so a trainer consuming
    * the corpus in `position` order sees difficulty rise monotonically
    * PER SOURCE while every batch window stays source-mixed (Bengio et
    * al. 2009 curriculum + the mixture-balance constraint a multi-source
    * pretraining run actually has). Deterministic: every input of the
    * position formula is an integer rank under a total order.
    *
    * Scale shape: ONE keyed window (hash exchange on the stratum key +
    * per-group sort — q127's shape, never a global sort); the source
    * index table is `|sources|` rows (its row_number window is
    * metadata-scale) and broadcasts back; the node count rides as a
    * 1-row broadcast scalar. A global sort by `position` is the
    * CONSUMER's choice at write time, not part of the operator.
    */
  def curriculumOrder(df: DataFrame, idCol: String, srcCol: String,
                      scoreCol: Column): DataFrame = {
    val w = Window.partitionBy(col(srcCol))
      .orderBy(scoreCol.desc, col(idCol).asc)
    val ranked = df.withColumn("src_rank", row_number().over(w).cast("long"))
    val indexed = df.select(col(srcCol)).distinct()
      .withColumn("__sidx", row_number().over(Window.orderBy(col(srcCol)))
        .cast("long") - 1)
    val nsrc = indexed.agg(count(lit(1)).as("__ns"))
    ranked.join(broadcast(indexed), srcCol).crossJoin(broadcast(nsrc))
      .withColumn("position",
        (col("src_rank") - 1) * col("__ns") + col("__sidx") + 1)
      .drop("__sidx", "__ns")
  }

  /** Zipf-law fit over the top-`k` vocabulary: least-squares slope and
    * intercept of `ln(count)` against `ln(rank)` — the one-row corpus
    * health check (natural text slopes ≈ −1; a slope collapsing toward
    * 0 means boilerplate flooding, a cliff past −2 means a vocabulary
    * dominated by a handful of tokens). Returns
    * `(k, slope_r, intercept_r)`.
    *
    * Determinism: the regression sums run over doubles only after each
    * `ln` is cast to DECIMAL(18,9) — 9 digits absorb any libm ulp
    * disagreement between engines, and decimal sums/products are exact
    * and order-independent, so the closed-form slope is bit-stable.
    * Scale shape: one vocabulary shuffle, a TakeOrdered top-k cut, and
    * a k-row regression aggregate — the fit never sees the corpus.
    */
  def zipfFit(docs: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    require(k >= 2, s"need k >= 2 ranks to fit, got $k")
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val tk = docs.select(
        explode(split(trim(lower(col(textCol))), TextFunctions.whitespaceClass)).as("token"))
      .filter(col("token") =!= "")
    val top = tk.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(k)
    // rank over the k cut rows only (vocabCoverage's bounded window)
    val ranked = top.withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token").asc)).cast("long"))
      .select(log(col("rank").cast("double")).cast(dec).as("x"),
        log(col("cnt").cast("double")).cast(dec).as("y"))
    // sums are exact decimals (order-independent); the closed form then
    // runs in double with a FIXED operation order both engines share
    val agg = ranked
      .agg(count(lit(1)).as("__k"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
      .select(col("__k").cast("double").as("__kd"), col("__k").as("k"),
        col("__sx").cast("double").as("__sx"), col("__sy").cast("double").as("__sy"),
        col("__sxy").cast("double").as("__sxy"), col("__sxx").cast("double").as("__sxx"))
    // a 1-rank vocabulary has no slope: denominator 0 → NULL (explicit,
    // rather than ANSI mode's divide-by-zero error)
    val den = col("__kd") * col("__sxx") - col("__sx") * col("__sx")
    val slope = when(den =!= 0.0,
      (col("__kd") * col("__sxy") - col("__sx") * col("__sy")) / den)
    agg.select(col("k"),
      NumFunctions.roundNz(slope, 6).as("slope_r"),
      NumFunctions.roundNz((col("__sy") - slope * col("__sx")) / col("__kd"), 6)
        .as("intercept_r"))
  }

  /** [[decontaminate]] with a Bloom prefilter — the shape for the
    * INVERTED scale case, where the "benchmark" side is itself a corpus
    * too large to hash-set broadcast. Build: one distributed pass ORs
    * per-partition bit arrays ([[Sketches.BloomAggregator]]) into
    * `bloomKB` kilobytes of metadata. Apply: a codegen'd map-side
    * probe ([[graft.functions.LongBloomMightContain]]) drops
    * non-matching train shingles BEFORE the exact join, cutting shuffle
    * volume to (matches + ε·non-matches) — ε ≈ (1 − e^(−kn/m))^k. The
    * exact confirm join keeps the RESULT identical to [[decontaminate]]
    * (same oracle): the bloom only prunes, never decides.
    */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         bloomKB: Int = 0, numHashes: Int = 5,
                         seed: Long = 42L,
                         broadcastBench: Boolean = false): DataFrame = {
    require(bloomKB >= 0, s"bloomKB must be >= 0 (0 = auto-size), got $bloomKB")
    def sh(d: DataFrame): DataFrame = d.select(col(idCol),
      explode(graft.functions.HashFunctions.hashedWordNgrams(col(textCol), n)).as("__g"))
    // the gram set feeds BOTH the bloom build (eager, inside this call)
    // and the confirm join (lazy, in the returned plan) — persist so the
    // distinct shuffle runs once. Lifecycle is deliberately
    // caller-managed, same as IvfIndex.fitCached's assignment table: a
    // driver screening many train batches against ONE benchmark wants
    // this hot across calls, and MEMORY_AND_DISK memory blocks are
    // LRU-evictable so an idle entry degrades to disk, not OOM. A caller
    // done with the benchmark releases it via
    // `result.sparkSession.catalog.clearCache()` or by dropping the
    // session.
    val benchGrams = sh(benchmark).select(col("__g")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // auto-size at ~10 bits/key (fp ≈ 1 % at k=5); a saturated bloom
    // filters nothing and just adds probe work, so sizing IS the win
    val kb =
      if (bloomKB > 0) bloomKB
      else math.min(64L * 1024, math.max(64L, benchGrams.count() * 10 / 8192 + 1)).toInt
    val bits = Sketches.bloomOfTree(benchGrams, "__g", kb * 128, numHashes, seed)
    import org.apache.spark.sql.graft.ColumnBridge
    val mightContain = ColumnBridge.column(
      graft.functions.LongBloomMightContain(
        ColumnBridge.expression(col("__g")), bits, numHashes, seed))
    val probe = if (broadcastBench) broadcast(benchGrams) else benchGrams
    sh(train).where(mightContain).join(probe, "__g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** Deterministic content-addressed train/val/test split: the first
    * two hex chars of `md5(salt:id)` land each row in [00..ff], cut at
    * `trainTo`/`valTo` (lowercase-hex thresholds, lexicographic — hex
    * digits sort correctly in ASCII). Stable under repartitioning,
    * re-ingestion, and cluster size — the split is a pure function of
    * the row's identity, which is how real pipelines keep eval rows
    * out of training across reruns. Map-side only, no shuffle. A NULL
    * identity nulls every comparison, so such rows quarantine into the
    * `test` fallback rather than leaking into training (spec-pinned).
    */
  /** The shared content-addressed draw: md5 of `salt:id` — ONE format
    * for every deterministic decision ([[splitAssign]] compares 2 hex
    * chars, [[weightedSample]] 4, [[shuffleOrder]] the whole digest),
    * each with a DuckDB oracle string pinned to it. Changing the format
    * here without the oracles is a spec-suite failure, not silent drift.
    */
  private def hexDraw(idCol: String, salt: String): Column =
    md5(concat(lit(salt + ":"), col(idCol).cast("string")))

  def splitAssign(df: DataFrame, idCol: String, salt: String,
                  trainTo: String = "e6", valTo: String = "f6"): DataFrame = {
    val h2 = substring(hexDraw(idCol, salt), 1, 2)
    df.withColumn("split",
      when(h2 < trainTo, "train").when(h2 < valTo, "val").otherwise("test"))
  }

  /** Cluster-aware train/val/test split: [[splitAssign]]'s
    * content-addressed draw applied to each document's NEAR-DUP CLUSTER
    * representative, so a whole cluster lands in one split. The plain
    * per-document split leaks: a near-duplicate of a training document
    * in the test set scores as memorized generalization (the
    * contamination Lee et al. 2022 measured across public benchmarks) —
    * here that leak is structurally impossible, because split is a pure
    * function of the cluster identity [[Dedup.corpusComponents]]
    * computes exactly.
    *
    * Returns `(idCol, cluster_rep, split)`. Scale shape: the measured-
    * linear component pipeline plus a map-side hash compare — no new
    * shuffle beyond [[Dedup.corpusComponents]]'s own.
    */
  def leakageFreeSplit(docs: DataFrame, idCol: String, textCol: String,
                       salt: String, trainTo: String = "e6",
                       valTo: String = "f6"): DataFrame =
    splitAssign(
      Dedup.corpusComponents(docs, idCol, textCol)
        .select(col("id").as(idCol), col("survivor_id").as("cluster_rep")),
      "cluster_rep", salt, trainTo, valTo)

  /** Context-window chunking: each document yields
    * ⌊(n−1)/stride⌋+1 chunks starting every `stride` tokens, each
    * holding `min(size, n − start)` tokens — the overlapping-window
    * layout (overlap = size − stride) used to fit long documents into
    * a model's context. The 1→k explode is map-side inside the scan
    * stage; chunk counts are arithmetic on the token count, so no
    * token materializes twice.
    */
  def chunk(docs: DataFrame, idCol: String, nTokens: Column,
            size: Long, stride: Long): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"bad chunk size=$size stride=$stride")
    val n = nTokens.cast("long")
    docs.select(col(idCol), n.as("__n"))
      .filter(col("__n") > 0)
      .select(col(idCol),
        explode(sequence(lit(0L), floor((col("__n") - 1) / stride).cast("long")))
          .as("chunk_idx"),
        col("__n"))
      .select(col(idCol), col("chunk_idx"),
        least(lit(size), col("__n") - col("chunk_idx") * stride).as("chunk_tokens"))
  }

  /** PII pseudonymization: replace an identifier with `sha256(salt:id)`
    * — deterministic (the same user maps to the same token, so joins
    * and group-bys still work downstream) but irreversible without the
    * salt. Pure map-side projection over a codegen'd hash.
    */
  def pseudonymize(df: DataFrame, idCol: String, salt: String,
                   outCol: String): DataFrame =
    df.withColumn(outCol,
      sha2(concat(lit(salt + ":"), col(idCol).cast("string")), 256))

  /** k-anonymity / l-diversity audit (Sweeney, IJUFKS 2002;
    * Machanavajjhala et al., ICDE 2006): for every distinct
    * quasi-identifier combination, the group size `n`, the number of
    * distinct sensitive values `l_distinct`, and an `at_risk` flag for
    * groups smaller than `k` — the re-identification report a pipeline
    * reviews before releasing a dataset (a row in a group of size < k
    * is linkable from the quasi-identifiers alone; a group with
    * l_distinct = 1 leaks its sensitive value even when large). The
    * privacy counterpart of [[pseudonymize]]: hashing ids does nothing
    * when the quasi-identifiers themselves single a person out.
    *
    * Scale design: exact distinct-sensitive counts come from TWO-LEVEL
    * aggregation — (quasi, sensitive) counts first, then a per-quasi
    * collapse — so both exchanges partial-aggregate map-side and the
    * second is bounded by the distinct (quasi, sensitive) set; no
    * `count_distinct` row expansion, no window. Null sensitive values
    * count as one class (documented contract).
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k > 0, s"k must be positive, got $k")
    df.groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("l_distinct"))
      .withColumn("at_risk", col("n") < k)
  }

  /** Recursive (c, l)-diversity audit (Machanavajjhala et al., ICDE
    * 2006 §4.2) — the STRONGER check [[kAnonymityAudit]]'s
    * `l_distinct` only approximates: a group can hold l distinct
    * sensitive values and still leak when one value dominates (99 %
    * "cancer", 1 % noise still tells an attacker the answer). A class
    * is recursively (c, l)-diverse when its most frequent sensitive
    * count `r_1` is bounded by c times the tail mass from the l-th
    * value down: `r_1 < c · (r_l + r_{l+1} + … + r_m)` — even after
    * discarding the l−1 most frequent values, the top value cannot
    * dominate. `c` arrives as the rational `cNum/cDen`, so the test is
    * an exact integer cross-multiplication — no float boundary an
    * engine could disagree on.
    *
    * Scale shape: rows collapse ONCE to (quasi, sensitive) counts
    * (partial-aggregating shuffle); the rank window partitions BY THE
    * QUASI CLASS and runs over that class's distinct sensitive values
    * — bounded by the sensitive domain, never by row count; the final
    * collapse is one regroup of the same table. Ties in the frequency
    * order break by sensitive value, so `r_1` is deterministic.
    *
    * Returns per class: `(quasi…, n, m_distinct, r1, tail_sum, ok_cl)`
    * where `tail_sum = Σ_{j ≥ l} r_j` and
    * `ok_cl = (m_distinct ≥ l) ∧ (r1·cDen < cNum·tail_sum)`.
    */
  def recursiveCLDiversity(df: DataFrame, quasiCols: Seq[String],
                           sensitiveCol: String, l: Int,
                           cNum: Long, cDen: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"l must be at least 2, got $l")
    require(cNum >= 1 && cDen >= 1, s"c must be positive, got $cNum/$cDen")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(quasiCols.map(col): _*)
      .orderBy(col("__r").desc, col(sensitiveCol).asc)
    df.groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__r"))
      .withColumn("__rk", row_number().over(w))
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__r")).as("n"), count(lit(1)).as("m_distinct"),
        max(when(col("__rk") === 1, col("__r"))).as("r1"),
        sum(when(col("__rk") >= l, col("__r")).otherwise(0L)).as("tail_sum"))
      .withColumn("ok_cl", col("m_distinct") >= l &&
        col("r1") * cDen < lit(cNum) * col("tail_sum"))
  }

  /** Good-Turing unseen-mass estimate per language (Good, Biometrika
    * 1953; the Gale & Sampson 1995 reading): the probability that the
    * NEXT token drawn from each language is a word never seen in the
    * corpus, estimated by the hapax share `p0 = N1/N` — the
    * vocabulary-coverage number a tokenizer or LM training run reads
    * before trusting per-language statistics ("this slice's vocab is
    * closed" vs "every 20th token here is new"). Also reports the
    * Good-Turing adjusted count for hapaxes, `r*₁ = 2·N2/N1`: how much
    * a singleton's raw count overstates its true frequency.
    *
    * Exactness: `N`, vocab, `N1`, `N2` are exact integers off one
    * term-count table; each estimate is a single IEEE division of
    * exact longs, rounded at the edge. `N1 = 0` (no hapaxes) reports
    * `gt1_r = 0` rather than a division by zero — a corpus with a
    * closed vocabulary has nothing to discount.
    *
    * Scale shape: ONE partial-aggregating collapse to (lang, term)
    * counts, then a per-language regroup — the same two-exchange shape
    * as every term-statistic operator here ([[distinctiveTerms]],
    * BM25's document frequencies); no window, no join.
    *
    * Returns `(lang, n_tokens, vocab, n1, n2, p0_r, gt1_r)`.
    */
  def goodTuringMass(df: DataFrame, langCol: String,
                     textCol: String): DataFrame = {
    import graft.functions.TextFunctions
    df.filter(col(textCol).isNotNull)
      .select(col(langCol).as("lang"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col("lang"), col("__t"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("lang"))
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n2"))
      .withColumn("p0_r", NumFunctions.roundNz(
        col("n1").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("gt1_r", when(col("n1") === 0, lit(0.0))
        .otherwise(NumFunctions.roundNz(
          (lit(2L) * col("n2")).cast("double") / col("n1").cast("double"), 6)))
  }

  /** Heavy-hitter profile: top-k keys by row count with their share of
    * the total — the skew scan run BEFORE choosing a join strategy
    * (its output decides [[Joins.saltedJoin]]'s factor, or which keys
    * AQE skew handling must split). One partial-aggregated shuffle;
    * the total joins in as a broadcast scalar; the top-k cut carries a
    * total tie-break order.
    */
  def heavyHitters(df: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    val keys = keyCols.map(col)
    val counts = df.groupBy(keys: _*).agg(count(lit(1)).as("cnt"))
    val total = df.agg(count(lit(1)).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(keys :+ col("cnt") :+
        NumFunctions.roundNz(col("cnt").cast("double") / col("__total"), 6).as("share"): _*)
      .orderBy(col("cnt").desc +: keys: _*)
      .limit(k)
  }

  /** Corpus-unigram surprisal: each document's mean −ln p(token) under
    * the corpus's own unigram distribution — the zero-dependency stand-in
    * for model-based quality scoring (high = rare-token-heavy outliers,
    * low = boilerplate), the shape of Wenzek et al.'s CCNet LM filter.
    *
    * One explode feeds both the frequency table and the scoring pass;
    * the (token, count) table joins back by equi-join (AQE broadcasts a
    * small vocabulary) and the total rides along as a broadcast scalar.
    * Per-token surprisals are cast to DECIMAL(18,9) before the per-doc
    * sum so the aggregate is exact and order-independent — a raw double
    * sum would vary with partitioning (float addition does not commute
    * across merge orders).
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), TextFunctions.whitespaceClass)).as("token"))
      .filter(col("token") =!= "")
    val freq = tk.groupBy(col("token")).agg(count(lit(1)).as("ctf"))
    val total = tk.agg(count(lit(1)).as("__total"))
    tk.join(freq, "token").crossJoin(broadcast(total))
      .select(col("doc_id"),
        (-log(col("ctf").cast("double") / col("__total")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("__s"))
      .groupBy(col("doc_id"))
      .agg(NumFunctions.roundNz((sum(col("__s")).cast("double") / count(lit(1))), 6).as("surprisal"),
        count(lit(1)).as("n_tokens"))
  }

  /** Per-doc mean conditional bigram surprisal −ln p(wᵢ | wᵢ₋₁) under
    * the corpus's own MLE bigram model — the LM-based quality signal one
    * rung above [[unigramSurprisal]] (CCNet scores docs with a 5-gram
    * KenLM, Wenzek et al. 2019; the bigram MLE is its zero-dependency
    * shape). Every observed bigram has positive probability by
    * construction — the model is trained on the corpus being scored —
    * so no smoothing is needed and the score is exactly reproducible.
    *
    * Scale design: bigrams are extracted MAP-SIDE by zipping the token
    * array against itself shifted by one (`slice` × 2 + `arrays_zip`,
    * all codegen'd — no per-doc window shuffle, unlike [[bigramCounts]]
    * which only needs multiplicity and pays one shuffle total). The
    * conditional probability is assembled on the DISTINCT-bigram count
    * table: `cbg` is the (prev, cur) count and `cprefix` is re-aggregated
    * FROM `cbg` (the [[tfidf]] df-from-tf trick — the bigram stream is
    * never re-counted), so the prefix pass touches vocabulary-bounded
    * rows, not the corpus. The scoring join keys on (prev, cur); both
    * aggregations partial-aggregate map-side. Per-bigram surprisals
    * route through DECIMAL(18,9) so the per-doc sum is exact and
    * partition-order-independent. Docs with fewer than two tokens have
    * no bigrams and are excluded.
    */
  /** (doc_id, prev, cur) adjacent-token pairs, extracted MAP-SIDE by
    * zipping shifted slices of the token array — no per-doc shuffle.
    * Post trim+split, empty tokens can only appear as the sole element
    * of an all-whitespace doc (size 1 → dropped by the ≥ 2 gate), so no
    * interpreted array-filter lambda is needed anywhere.
    */
  private def bigramPairs(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val tk = split(trim(col(textCol)), TextFunctions.whitespaceClass)
    docs
      .select(col(idCol).as("doc_id"), tk.as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col("doc_id"),
        slice(col("__tk"), lit(1), size(col("__tk")) - 1).as("p"),
        slice(col("__tk"), lit(2), size(col("__tk")) - 1).as("c"))
      .select(col("doc_id"), explode(arrays_zip(col("p"), col("c"))).as("b"))
      .select(col("doc_id"),
        col("b").getField("p").as("prev"), col("b").getField("c").as("cur"))
  }

  /** Distinct directed bigram edges `(src, dst)` — the token-adjacency
    * graph ([[bigramPairs]] de-duplicated), the input shape for
    * [[Graph.pageRank]]-style link analysis over a corpus's vocabulary.
    * Map-side extraction; the only exchange is the distinct.
    */
  def bigramEdges(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramPairs(docs, idCol, textCol)
      .select(col("prev").as("src"), col("cur").as("dst"))
      .distinct()

  /** CCNet-style perplexity bucketing (Wenzek et al. 2019): documents
    * scored by [[unigramSurprisal]] (the zero-dependency stand-in for
    * the KenLM score) and cut into `k` equal-population buckets —
    * bucket 1 = "head" (most predictable), bucket k = "tail". The cut
    * is [[Ranks.ntileExact]] over the TOTAL order (surprisal, id): no
    * partition-less data window, and the rounded score plus id
    * tie-break make the bucket assignment bit-reproducible.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3): DataFrame =
    Ranks.ntileExact(unigramSurprisal(docs, idCol, textCol),
      Seq(col("surprisal"), col("doc_id")), k, outCol = "bucket")

  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = bigramPairs(docs, idCol, textCol)
    val cbg = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cbg"))
    val cprefix = cbg.groupBy(col("prev")).agg(sum(col("cbg")).as("cprefix"))
    val probs = cbg.join(cprefix, "prev")
      .select(col("prev"), col("cur"),
        (-log(col("cbg").cast("double") / col("cprefix")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("__s"))
    bg.join(probs, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(NumFunctions.roundNz((sum(col("__s")).cast("double") / count(lit(1))), 6)
          .as("bigram_surprisal"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Interpolated Kneser-Ney bigram surprisal (Kneser & Ney, ICASSP
    * 1995; Chen & Goodman 1999's interpolated form with absolute
    * discount D = 0.75): per-doc mean `−ln P_KN(cur|prev)` where
    * `P_KN(w|v) = (c(vw) − D)/c(v·) + D·N₁₊(v·)/c(v·) · N₁₊(·w)/N₁₊(··)`
    * — the proper smoothed LM score behind CCNet-style perplexity
    * filtering, upgrading [[bigramSurprisal]]'s raw MLE: the
    * continuation weight ranks a word by how many CONTEXTS it follows,
    * so boilerplate that always rides one fixed phrase stops looking
    * "predictable everywhere". D = 3/4 is exactly representable; every
    * ratio is a double division of exact counts in a pinned order, and
    * per-bigram surprisals route through DECIMAL(18,9) (the q67
    * recipe).
    *
    * Scale shape: three partial-aggregating collapses of the bigram
    * stream (type counts, context totals, continuation counts — each
    * bounded by the bigram-type vocabulary), a 1-row type total riding
    * as a broadcast scalar, vocab-keyed equi-joins back, and one
    * per-doc aggregate. No window, no collect.
    */
  def knSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = bigramPairs(docs, idCol, textCol)
    val cbg = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cbg"))
    val ctx = cbg.groupBy(col("prev"))
      .agg(sum(col("cbg")).as("cprefix"), count(lit(1)).as("n1fw"))
    val cont = cbg.groupBy(col("cur")).agg(count(lit(1)).as("contw"))
    val types = cbg.agg(count(lit(1)).as("types"))
    val probs = cbg.join(ctx, "prev").join(cont, "cur")
      .crossJoin(broadcast(types))
      .select(col("prev"), col("cur"),
        (-log(
          (col("cbg").cast("double") - lit(0.75)) / col("cprefix") +
            lit(0.75) * col("n1fw").cast("double") / col("cprefix") *
              (col("contw").cast("double") / col("types"))))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("__s"))
    bg.join(probs, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(NumFunctions.roundNz(
          (sum(col("__s")).cast("double") / count(lit(1))), 6)
          .as("kn_surprisal"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Gopher-style repetition metrics (Rae et al. 2021, Appendix A —
    * the repetition family of quality gates), one row per document:
    *
    *  - `n_lines` / `dup_line_r` / `dup_line_char_r`: non-empty
    *    `\n`-separated lines; the fraction of lines that repeat an
    *    identical line, and the fraction of line characters carried by
    *    the repeat occurrences (count − 1 per duplicated line).
    *  - `top{2,3,4}_r`: characters covered by the single most frequent
    *    word n-gram — occurrences × gram length over the space-joined
    *    token stream's length; ties go to the lexicographically
    *    smallest gram.
    *  - `dup{5..10}_r`: characters covered by the REPEAT occurrences
    *    (count − 1 per duplicated gram) of every duplicated n-gram.
    *
    * Every metric is a single integer ÷ integer division rounded to 6
    * decimals — bit-exact cross-engine, which is what lets q193 carry
    * a full SQL oracle over all eleven columns.
    *
    * Scale shape: a pure map-side projection — every column is a
    * per-document statistic, so the whole family folds row-locally
    * inside [[graft.functions.RepetitionMetrics]] (one hash map per
    * gram size over the token array, memory bounded by the document's
    * own length — the q190 `UnigramKernel` zero-exchange discipline).
    * ZERO exchanges at any corpus size; the previous implementation's
    * corpus-wide `(doc, n, gram)` aggregate shuffled ~9× the token
    * stream (~50× the text bytes as full gram strings) for numbers no
    * other row influences.
    */
  def repetitionMetrics(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val m = graft.functions.RepetitionMetrics.repetitionMetrics(col(textCol))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), m.as("__m"))
      .select(col("doc_id") +: (col("__m.n_lines").as("n_lines") +:
        graft.functions.RepetitionMetrics.ratioFields
          .map(f => col(s"__m.$f").as(f))): _*)
  }

  /** Token-budget MIXTURE ALLOCATION with repeat caps — the data-mixing
    * planner that turns [[temperatureMixture]]'s weights into an
    * actual per-domain token allocation under a total budget and a
    * maximum-epochs bound (the practice in large-pretraining mixes:
    * low-resource domains are up-weighted by temperature but never
    * repeated past a few epochs; see e.g. Llama's reported per-source
    * epoch caps and the sampling analyses around them): allocate the
    * budget ∝ the 6-dp temperature weights, CAP any domain exceeding
    * `maxEpNum/maxEpDen` epochs of its own tokens, redistribute the
    * freed budget over the uncapped domains, and repeat to fixpoint —
    * classic water-filling, ≤ D rounds for D domains since each
    * non-final round caps at least one.
    *
    * Exactness: weights follow q85's exact shape (share → `pow` →
    * normalized, rounded to 6 dp → integer micro-weights); budget,
    * caps, and every round's allocations are floor-divided BigInt
    * arithmetic (HUGEINT in the oracle), so the whole table replays
    * bit-for-bit. The fill loop itself runs on the collected per-DOMAIN
    * table — metadata by contract (`maxGroups`), like the selection
    * operators' greedy rounds.
    *
    * Returns one row per domain: `(grp, n_tokens, weight_micros,
    * cap_tokens, alloc_tokens, epochs_r)` — `epochs_r` the realized
    * repeat factor, ≤ the cap by construction.
    */
  def mixtureAllocate(df: DataFrame, groupCol: String, tokensCol: String,
                      alpha: Double, budgetNum: Int, budgetDen: Int,
                      maxEpNum: Int, maxEpDen: Int,
                      maxGroups: Int = 1024): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperature alpha must be in (0, 1], got $alpha")
    require(budgetNum >= 1 && budgetDen >= 1 && maxEpNum >= 1 && maxEpDen >= 1,
      "budget and epoch-cap rationals must be positive")
    val spark = df.sparkSession
    import spark.implicits._

    val counts = df.groupBy(col(groupCol).cast("string").as("grp"))
      .agg(sum(col(tokensCol).cast("long")).as("n_tok"))
    val scored = counts
      .crossJoin(broadcast(counts.agg(sum(col("n_tok")).as("__t"))))
      .withColumn("__share", col("n_tok").cast("double") / col("__t"))
      .withColumn("__pa", pow(col("__share"), alpha))
    val z = scored.agg(sum(col("__pa")).as("__z"))
    val w = scored.crossJoin(broadcast(z))
      .select(col("grp"), col("n_tok"),
        round(round(col("__pa") / col("__z"), 6) * 1e6, 0)
          .cast("long").as("w_micro"))
      .collect()
    require(w.length >= 1 && w.length <= maxGroups,
      s"mixture allocation is a per-DOMAIN planner: need 1..$maxGroups " +
        s"groups, got ${w.length}")

    val groups = w.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val total = groups.map(g => BigInt(g._2)).sum
    val budget = total * budgetNum / budgetDen
    val cap = groups.map(g => g._1 -> (BigInt(g._2) * maxEpNum / maxEpDen)).toMap
    val micro = groups.map(g => g._1 -> BigInt(g._3)).toMap

    var capped = Set.empty[String]
    var last = Map.empty[String, BigInt]
    var done = false
    while (!done) {
      val open = groups.map(_._1).filterNot(capped)
      val m = open.map(micro).sum
      // m == 0 with open groups: every uncapped domain's 6-dp
      // micro-weight rounded to zero — allocate them zero explicitly
      // so the final mapping below never misses a key
      if (open.isEmpty || m == 0) {
        last = open.map(_ -> BigInt(0)).toMap; done = true
      }
      else {
        val r = budget - capped.toSeq.map(cap).sum
        val a = open.map(g => g -> r * micro(g) / m).toMap
        val newly = a.collect { case (g, v) if v > cap(g) => g }.toSet
        if (newly.isEmpty) { last = a; done = true }
        else capped ++= newly
      }
    }
    groups.toSeq.map { case (g, nTok, wm) =>
      val alloc = if (capped(g)) cap(g) else last(g)
      (g, nTok, wm, cap(g).toLong, alloc.toLong)
    }.toDF("grp", "n_tokens", "weight_micros", "cap_tokens", "alloc_tokens")
      .withColumn("epochs_r", NumFunctions.roundNz(
        col("alloc_tokens").cast("double") / col("n_tokens"), 6))
  }

  /** Deterministic span-corruption PLANNER — the masking plan for
    * T5-style denoising pretraining (Raffel et al., "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", JMLR 2020 §3.1.4: corrupt ~15 % of tokens in
    * mean-length-3 spans, one sentinel per contiguous masked run).
    * Randomness is md5-keyed on `(salt, doc, position)` — the q63/q109
    * hash-split discipline — so the plan is a pure function of the
    * corpus: reproducible across runs, engines, and partitionings,
    * with no RNG state to ship.
    *
    * Per token position `p`: `p` anchors a span iff the first md5
    * byte < `densityNum`/256; an anchored span covers
    * `minSpan + (md5 nibble mod spanRange)` tokens (clipped at the
    * document end). Overlapping or touching spans COALESCE — a
    * contiguous masked run is ONE sentinel, exactly the T5 packing
    * rule — via a row-local running-max fold over the (ascending)
    * anchor list. Expected mask ratio ≈ density · meanSpan against
    * sparse anchors: the default `densityNum = 13` anchors
    * 13/256 ≈ 5.1 % of positions at mean span 3, ≈ 15 % of tokens —
    * the T5 recipe (coalescing trims the realized ratio slightly);
    * the realized per-doc numbers are what this reports.
    *
    * Scale shape: ZERO exchanges — token counting, anchor selection
    * (`filter` over the position sequence), span-length draws, and the
    * interval-merge fold (`aggregate`) all run inside the document
    * row; the output is one row per input row. The q193
    * row-local-metrics discipline applied to mask planning.
    *
    * Returns `(doc_id, n_tokens, n_anchors, n_spans, n_masked,
    * mask_ratio)` — counts exact integers, ratio rounded to 6.
    */
  def spanCorruptionPlan(docs0: DataFrame, idCol: String, textCol: String,
                         salt: String = "sc", densityNum: Int = 13,
                         minSpan: Int = 2, spanRange: Int = 3): DataFrame = {
    require(densityNum >= 1 && densityNum <= 255,
      s"densityNum must be in [1, 255], got $densityNum")
    // row-local but md5-per-position heavy: spread a narrow input so
    // the zero-exchange pass uses the cluster (round 19 — never fires
    // on a wide real-scale scan; output is one row per input row, so
    // partitioning cannot change values)
    val docs = Similarity.spreadIfNarrow(docs0, computeWeight = 64)
    require(minSpan >= 1 && spanRange >= 1,
      s"minSpan/spanRange must be >= 1, got $minSpan/$spanRange")
    val hexThr = f"$densityNum%02x"
    val n = TextFunctions.tokenCount(col(textCol))
    def h(p: Column) = md5(concat_ws(":", lit(salt),
      col(idCol).cast("string"), p.cast("string")))
    val positions = when(n >= 1, sequence(lit(1L), n))
      .otherwise(array().cast("array<long>"))
    val anchors = filter(positions, p => substring(h(p), 1, 2) < lit(hexThr))
    val ivs = transform(anchors, p => struct(
      p.as("s"),
      least(p + lit(minSpan.toLong) +
        pmod(conv(substring(h(p), 3, 1), 16, 10).cast("long"),
          lit(spanRange.toLong)), n + 1).as("e")))
    // running-max interval merge: anchors ascend, so one fold tracks
    // (union length, span count, current exclusive end); s > cur opens
    // a new span, s <= cur extends the current one by max(e - cur, 0)
    val folded = aggregate(ivs,
      struct(lit(0L).as("masked"), lit(0L).as("spans"), lit(0L).as("cur")),
      (st, iv) => {
        val s = iv.getField("s"); val e = iv.getField("e")
        val cur = st.getField("cur")
        struct(
          (st.getField("masked") + when(s > cur, e - s)
            .otherwise(greatest(e - cur, lit(0L)))).as("masked"),
          (st.getField("spans") +
            when(s > cur, lit(1L)).otherwise(lit(0L))).as("spans"),
          greatest(cur, e).as("cur"))
      })
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), n.as("n_tokens"),
        size(anchors).cast("long").as("n_anchors"), folded.as("__f"))
      .select(col("doc_id"), col("n_tokens"), col("n_anchors"),
        col("__f.spans").as("n_spans"), col("__f.masked").as("n_masked"),
        when(col("n_tokens") > 0, NumFunctions.roundNz(
          col("__f.masked").cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("mask_ratio"))
  }

  /** Per-group winsorization: values clamped to the group's
    * [`lo`, `hi`] quantile band — the robust-stats outlier trim a
    * pipeline applies before normalizing a feature (a handful of
    * corrupt readings otherwise drag a mean or a z-score arbitrarily
    * far). Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`), rounded to 6 places BEFORE the clamp so both
    * engines cut at bit-identical thresholds.
    *
    * Scale design: one partial-aggregating shuffle computes the
    * per-group cutoffs; the clamp itself is a map-side projection after
    * the cutoff table joins back by group key (AQE broadcasts it — one
    * row per group — and a genuinely huge group count degrades to a
    * plain equi-join, never a cross or a window). Null values carry no
    * rank and would clamp asymmetrically (Spark's `greatest` skips
    * nulls, other engines propagate them), so they are excluded
    * explicitly.
    *
    * `percentile` is EXACT: its aggregation state buffers each group's
    * value multiset on one reducer, which is the oracle-checkable choice
    * but bounds the per-group cardinality by executor memory. For
    * billion-row groups set `useScan = true`: both cutoffs then come
    * from ONE [[Quantiles.quantileScanMulti]] bisection family —
    * bounded counting state instead of reducer buffering, shared
    * passes across the two ranks, and still EXACT (the scan's
    * `v₁+(v₂−v₁)f` and percentile's `v₁(1−f)+v₂f` agree after the
    * 6-place round both paths apply; the scan casts the group key to
    * string internally, so the cut join coerces to string — injective
    * for every sane key type).
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                lo: Double, hi: Double, outCol: String = "winsorized",
                useScan: Boolean = false): DataFrame = {
    require(0.0 <= lo && lo < hi && hi <= 1.0,
      s"winsorize needs 0 <= lo < hi <= 1, got lo=$lo hi=$hi")
    val nonNull = df.filter(col(valueCol).isNotNull)
    val cuts =
      if (useScan)
        Quantiles.quantileScanMulti(nonNull, groupCol, valueCol, Seq(lo, hi))
          .groupBy(col(groupCol)).agg(
            NumFunctions.roundNz(max(when(col("p") === lo, col("q"))), 6).as("__lo"),
            NumFunctions.roundNz(max(when(col("p") === hi, col("q"))), 6).as("__hi"))
      else nonNull.groupBy(col(groupCol)).agg(
        NumFunctions.roundNz(expr(s"percentile($valueCol, $lo)"), 6).as("__lo"),
        NumFunctions.roundNz(expr(s"percentile($valueCol, $hi)"), 6).as("__hi"))
    nonNull.join(cuts, groupCol)
      .withColumn(outCol,
        NumFunctions.roundNz(least(greatest(col(valueCol), col("__lo")), col("__hi")), 6))
      .drop("__lo", "__hi")
  }

  /** Top-k collocations by pointwise mutual information:
    * `PMI(a,b) = ln( (c_ab/M) / ((c_a/N)(c_b/N)) )` over adjacent token
    * pairs (Church & Hanks 1990) — the phrase-mining statistic behind
    * multi-word vocabulary entries and tokenizer merge audits. A
    * `minCount` floor suppresses the low-frequency PMI explosion (a
    * pair seen once between two hapaxes otherwise tops every list).
    *
    * Scale design: pairs extract map-side ([[bigramPairs]]); unigram
    * and bigram counts each partial-aggregate before their single
    * shuffle; the scoring join runs on the DISTINCT-bigram table
    * (vocabulary-bounded) against the two unigram legs, with the N/M
    * totals riding along as 1-row broadcast scalars. PMI rounds to 6
    * places BEFORE the top-k cut, whose (pmi, prev, cur) order is total.
    */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
                   minCount: Long, k: Int): DataFrame = {
    val tok = docs.select(
        explode(split(trim(col(textCol)), TextFunctions.whitespaceClass)).as("t"))
      .filter(col("t") =!= "")
    val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val n = uni.agg(sum(col("cu")).as("__n"))
    val bg = bigramPairs(docs, idCol, textCol)
    val cbg = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cbg"))
      .filter(col("cbg") >= minCount)
    val m = bg.agg(count(lit(1)).as("__m"))
    cbg
      .join(uni.select(col("t").as("prev"), col("cu").as("ca")), "prev")
      .join(uni.select(col("t").as("cur"), col("cu").as("cb")), "cur")
      .crossJoin(broadcast(n)).crossJoin(broadcast(m))
      .select(col("prev"), col("cur"), col("cbg"),
        NumFunctions.roundNz(log((col("cbg").cast("double") / col("__m")) /
          ((col("ca").cast("double") / col("__n")) *
           (col("cb").cast("double") / col("__n")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("prev").asc, col("cur").asc)
      .limit(k)
  }

  /** Temperature-smoothed mixture weights: for each group (language,
    * source domain), the α-scaled sampling weight
    * `w_g = p_g^α / Σ_h p_h^α` where `p_g` is the group's share of the
    * corpus — the multilingual-sampling rule (α ≈ 0.3 in XLM-R, Conneau
    * et al. 2019) that upsamples tail groups without letting the head
    * dominate; α = 1 is proportional sampling, α → 0 uniform. Output per
    * group: count, share, weight, and the expected draws in an N-row
    * epoch (computed from the ROUNDED weight so both engines agree
    * bit-for-bit). Feed the weights to [[reweight]] (integer epochs) or
    * [[weightedSample]] (fractional keep) to apply the mixture.
    *
    * Scale design: one partial-aggregating shuffle produces the
    * per-group counts; every later step (total, normalizer Σ p^α, the
    * weight projection) runs on the group-count table — metadata scale,
    * one row per group — with scalars riding along as 1-row broadcast
    * joins. Nothing re-touches corpus rows.
    */
  def temperatureMixture(df: DataFrame, groupCol: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperature alpha must be in (0, 1], got $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
    val n = counts.agg(sum(col("n_docs")).as("__n"))
    val scored = counts.crossJoin(broadcast(n))
      .withColumn("__share", col("n_docs").cast("double") / col("__n"))
      .withColumn("__pa", pow(col("__share"), alpha))
    val z = scored.agg(sum(col("__pa")).as("__z"))
    scored.crossJoin(broadcast(z))
      .select(col(groupCol), col("n_docs"),
        NumFunctions.roundNz(col("__share"), 6).as("share"),
        NumFunctions.roundNz(col("__pa") / col("__z"), 6).as("weight"),
        round(round(col("__pa") / col("__z"), 6) * col("__n"), 0)
          .cast("long").as("expected_docs"))
  }

  /** Corpus adjacent-token pair counts, top-k — the statistic BPE
    * tokenizer training merges on (most frequent adjacent pair wins
    * each merge round; Sennrich et al. 2016). Multiplicity matters
    * (unlike the distinct shingle set), so pairs come from a
    * `lead(token)` window over the position-exploded token stream —
    * one shuffle on doc id, codegen'd throughout, rather than an
    * interpreted array-zip lambda. The count partial-aggregates before
    * its shuffle; the cut carries a total tie-break order.
    */
  def bigramCounts(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "token")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks.withColumn("__next", lead(col("token"), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(concat_ws(" ", col("token"), col("__next")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** Epoch-weighted oversampling: replicate each row `weight` times with
    * a 1-based `copy` index — the deterministic form of training-mix
    * reweighting ("see source X three times per epoch"). The explode is
    * map-side (1→w inside the scan stage, no shuffle); downstream
    * shuffles see the already-weighted stream, which is exactly what a
    * mixing pass wants.
    */
  def reweight(df: DataFrame, weight: Column): DataFrame =
    df.withColumn("copy", explode(sequence(lit(1L), weight.cast("long"))))

  /** Deterministic corpus shuffle: a stable pseudo-random training order
    * from the content-addressed md5 of (salt, id) — the same salt gives
    * the same permutation on any cluster at any partitioning, so an
    * epoch's order is reproducible and resumable (and changing the salt
    * reshuffles). The 1-based `shuffle_rank` is [[Ranks.globalRank]]'s
    * two-level rank over (hash, id), so no partition-less window ever
    * touches the data — the standard derangement trick (sort by a keyed
    * hash) made exact and distributed.
    */
  def shuffleOrder(df: DataFrame, idCol: String, salt: String): DataFrame = {
    val key = hexDraw(idCol, salt)
    Ranks.globalRank(df.withColumn("__shufkey", key),
        Seq(col("__shufkey").asc, col(idCol).asc), outCol = "shuffle_rank")
      .drop("__shufkey", "__total")
  }

  /** Per-document CROSS-corpus duplication profile: the fraction of a
    * doc's distinct word n-gram shingles that occur in at least one
    * OTHER document — the flagging scan run before committing to a full
    * dedup pass (within-doc repetition is [[unigramSurprisal]]'s
    * sibling q68; pairwise similarity is LSH's job). Shingles are the
    * one-pass 64-bit hashes of [[graft.functions.HashedWordNgrams]]
    * (distinct per doc, so a per-shingle `count(*)` IS its document
    * frequency).
    *
    * Scale shape: per-doc totals are `size(shingles)` — map-side, no
    * join needed — so the only joined stream is occurrences of SHARED
    * shingles (document frequency > 1), normally a small minority of a
    * deduplicated-ish corpus; unique shingles never shuffle twice.
    */
  def crossDupProfile(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val grams = graft.functions.HashFunctions.hashedWordNgrams(col(textCol), n)
    val sh = docs.select(col(idCol), explode(grams).as("__g"))
    val sharedGrams = sh.groupBy(col("__g")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1).select(col("__g"))
    val nShared = sh.join(sharedGrams, "__g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    docs.select(col(idCol), size(grams).as("n_shingles"))
      .filter(col("n_shingles") > 0)
      .join(nShared, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col(idCol), col("n_shingles").cast("long").as("n_shingles"),
        col("n_shared"),
        NumFunctions.roundNz(col("n_shared").cast("double") / col("n_shingles"), 6).as("dup_ratio"))
  }

  /** Deterministic weighted (importance) sampling: keep each row with
    * probability `weight` (clamped to [0, 1]) — the replay-stable form
    * of training-mix downsampling ("keep 30 % of source X"), decided by
    * the row's own content-addressed hash, never an RNG: re-runs,
    * repartitions, and retries keep EXACTLY the same rows, so downstream
    * shards and checkpoints stay consistent. Map-side only.
    *
    * Mechanics: the first 4 md5 hex chars of (salt, id) are a uniform
    * 16-bit draw, compared lexicographically against the weight's hex
    * threshold (the [[splitAssign]] trick — no numeric hex parsing, so
    * the same predicate runs in any SQL engine). `weight >= 1` keeps the
    * row unconditionally; resolution is 1/65536.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
                     salt: String): DataFrame = {
    val u = substring(hexDraw(idCol, salt), 1, 4)
    val p = least(lit(1.0), greatest(lit(0.0), weight))
    val thr = lpad(lower(conv(floor(p * 65536).cast("long").cast("string"), 10, 16)),
      4, "0")
    df.filter(p >= 1.0 || u < thr)
  }

  /** Distributed BPE vocabulary training (Sennrich et al., ACL 2016):
    * learn `numMerges` merge rules from the corpus. The corpus is
    * touched ONCE — a word-frequency aggregate (the original paper's
    * formulation trains on the word-count dictionary) — and every
    * training ROUND then runs at VOCABULARY scale: re-tokenize each
    * distinct word under the merges so far ([[graft.functions.BpePairs]]),
    * weight its pairs by the word count, partial-aggregate, and collect
    * the top candidate pairs once. Ties break deterministically by
    * (count desc, l asc, r asc). Returns `(rank, l, r, cnt)`; `cnt` is
    * the pair's corpus frequency when chosen — the standard training
    * statistic.
    *
    * Two-tier execution — the shape every production tokenizer train
    * has (HuggingFace tokenizers, SentencePiece): the corpus scan is
    * the only DATA-scale step, and the word-count dict it produces is
    * VOCABULARY-scale. When the dict fits `localDictMax` rows (the
    * 2M-row default routes moderate vocabularies — books, code, one
    * language's news — locally; web-scale corpora with tens of
    * millions of distinct "words" take the distributed tier, or raise
    * the cap if driver memory allows ~100 B/row), it collects ONCE
    * and the merge
    * loop runs the exact incremental algorithm ([[localBpeTrain]]:
    * lazy-invalidation heap + pair→word inverted index) with ZERO
    * further Spark jobs — a 32k-merge train is ~3 jobs total instead
    * of 32k driver round-trips. A larger dict falls back to the
    * distributed per-round loop, which still accepts a certified BATCH
    * of merges per candidate collect ([[certifyBpeBatch]]). Both paths
    * are provably BIT-IDENTICAL to the naive sequential learner (the
    * BpeSpec reference pin runs both).
    */
  def learnBpe(docs: DataFrame, textCol: String, numMerges: Int,
               localDictMax: Long = BpeLocalDictMax): DataFrame = {
    import graft.functions.BpeFunctions
    val spark = docs.sparkSession
    import spark.implicits._
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val words0 = docs
      .select(explode(split(col(textCol), TextFunctions.whitespaceClass)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the merge loop re-scans this dict numMerges times, so its
    // partition count sets the fixed cost of EVERY round: budget it by
    // the vocabulary size (the count also materializes the cache before
    // the loop), not the corpus's shuffle width — a 3 k-word toy dict
    // at 32 partitions pays 12 × 32 near-empty tasks for nothing, a
    // 10 M-word web dict still saturates the clamp
    val nw = words0.count()
    if (nw <= localDictMax) {
      // vocabulary-scale dict: one collect, zero jobs per merge
      val dict = words0.collect().map(r => (r.getString(0), r.getLong(1)))
      words0.unpersist(blocking = false)
      return localBpeTrain(dict, numMerges).zipWithIndex
        .map { case ((l, r, c), i) => (i + 1, l, r, c) }
        .toDF("rank", "l", "r", "cnt")
    }
    val sc = spark.sparkContext
    val wparts = math.max(1L, math.min(sc.defaultParallelism.toLong,
      nw / 16384L + 1L)).toInt
    val words =
      if (words0.rdd.getNumPartitions > wparts) words0.coalesce(wparts) else words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    // concat strings of every merge learned so far: a candidate whose
    // concat collides with an EXISTING symbol is a batch barrier (its
    // merge would add mass to that symbol's existing pairs). Initial
    // symbols are single code points and concats are >= 2 code points,
    // so the collision set is exactly the merge concats — no corpus
    // scan needed.
    val concats = scala.collection.mutable.HashSet.empty[String]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val cur = merges.map(m => (m._1, m._2)).toArray
      val top = words
        .select(explode(BpeFunctions.bpePairs(col("w"), cur)).as("p"), col("wc"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(BpeCandidateBatch).collect()
      if (top.isEmpty) exhausted = true // corpus fully merged: stop early
      else {
        val rows = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val batch = certifyBpeBatch(rows, top.length == BpeCandidateBatch,
          concats, numMerges - merges.length)
        merges ++= batch
        concats ++= batch.iterator.map(m => m._1 + m._2)
      }
    }
    words0.unpersist(blocking = false)
    merges.zipWithIndex
      .map { case ((l, r, c), i) => (i + 1, l, r, c) }.toSeq
      .toDF("rank", "l", "r", "cnt")
  }

  /** Candidates collected per training round — bounds driver memory at
    * ~100 KB of (l, r, cnt) rows while giving late (sparse, mostly
    * non-interacting) rounds room to certify large batches.
    */
  val BpeCandidateBatch: Int = 2048

  /** Word-count dict rows under which [[learnBpe]] trains locally —
    * ~2M words × ~100 B ≈ 200 MB of driver state, covering essentially
    * every real tokenizer train (web-scale corpora normalize to tens
    * of millions of distinct words at most; the collect is the same
    * vocabulary-scale class as the engine's other metadata collects).
    */
  val BpeLocalDictMax: Long = 2000000L

  /** Code-point order (== UTF-8 byte order, == Spark's StringType sort)
    * — NOT java.lang.String's UTF-16 order, which disagrees for
    * supplementary-plane symbols. Keeps the local trainer's tie-break
    * bit-identical to the distributed path's `orderBy(l asc, r asc)`.
    */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Exact sequential BPE over a collected word-count dict — the
    * classic incremental algorithm (pair→word inverted index + lazy-
    * invalidation max-heap) every single-node trainer uses, with this
    * engine's exact semantics: one-pass left-to-right greedy merge
    * application per word ([[graft.functions.BpeKernel.applyMerges]])
    * and (count desc, l asc, r asc) tie-break in code-point order.
    * O(total symbol rewrites + log-factor heap traffic) for the whole
    * train, instead of one full dict re-scan per merge.
    */
  private[graft] def localBpeTrain(dict: Array[(String, Long)],
                                   k: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val syms: Array[Array[String]] = dict.map { case (w, _) =>
      val n = w.codePointCount(0, w.length)
      val out = new Array[String](n)
      var i = 0; var off = 0
      while (i < n) {
        val next = w.offsetByCodePoints(off, 1)
        out(i) = w.substring(off, next); off = next; i += 1
      }
      out
    }
    val wc: Array[Long] = dict.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    def bump(p: (String, String), n: Long, wi: Int): Unit = {
      val c = counts.getOrElse(p, 0L) + n
      if (c == 0L) { counts.remove(p); () }
      else counts(p) = c
      if (n > 0L) { index.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += wi; () }
    }
    for (wi <- syms.indices) {
      val s = syms(wi)
      var i = 0
      while (i < s.length - 1) { bump((s(i), s(i + 1)), wc(wi), wi); i += 1 }
    }
    // max-heap of (cnt, l, r) snapshots; stale entries (count moved on)
    // are discarded at pop time. A snapshot matching the CURRENT count
    // is valid no matter when it was pushed.
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = cpCompare(b._2, a._2) // smaller l = higher priority
          if (l != 0) l else cpCompare(b._3, a._3)
        }
      }
    }
    val pq = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((l, r), c) => pq.enqueue((c, l, r)) }
    def applyOne(s: Array[String], a: String, b: String): Array[String] = {
      val buf = new mutable.ArrayBuffer[String](s.length)
      var j = 0
      while (j < s.length) {
        if (j + 1 < s.length && s(j) == a && s(j + 1) == b) { buf += a + b; j += 2 }
        else { buf += s(j); j += 1 }
      }
      buf.toArray
    }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    while (out.length < k && pq.nonEmpty) {
      val (c, l, r) = pq.dequeue()
      if (counts.getOrElse((l, r), 0L) == c) {
        out += ((l, r, c))
        val changed = mutable.HashSet.empty[(String, String)]
        val wids = index.remove((l, r)).getOrElse(mutable.ArrayBuffer.empty)
        val seen = mutable.HashSet.empty[Int]
        for (wi <- wids if seen.add(wi)) {
          val s = syms(wi)
          var has = false
          var i = 0
          while (!has && i < s.length - 1) {
            if (s(i) == l && s(i + 1) == r) has = true else i += 1
          }
          if (has) { // index entries can be stale after earlier rewrites
            i = 0
            while (i < s.length - 1) {
              bump((s(i), s(i + 1)), -wc(wi), wi)
              changed += ((s(i), s(i + 1))); i += 1
            }
            val ns = applyOne(s, l, r)
            syms(wi) = ns
            i = 0
            while (i < ns.length - 1) {
              bump((ns(i), ns(i + 1)), wc(wi), wi)
              changed += ((ns(i), ns(i + 1))); i += 1
            }
          }
        }
        changed.foreach { p =>
          val cc = counts.getOrElse(p, 0L)
          if (cc > 0L) pq.enqueue((cc, p._1, p._2))
        }
      }
    }
    out.toSeq
  }

  /** Certify the longest prefix of one round's sorted candidate list
    * (count desc, l asc, r asc) that the SEQUENTIAL learner would
    * provably pick in exactly this order — fast-BPE batching with a
    * bit-identical guarantee instead of the usual heuristic one.
    *
    * Interaction classes under the greedy one-pass kernel
    * ([[graft.functions.BpeKernel.applyMerges]]): merging `(a, b)` can
    * only DECREASE counts of pairs `(x, a)` (their `a` consumed when
    * followed by `b`) and `(b, y)` (their `b` consumed when preceded by
    * `a`), and only INCREASE counts of pairs touching the new symbol
    * `a+b`. Pairs sharing no symbol with `{a, b, a+b}` — including
    * `(a, y)` for `y != b` and `(x, b)` for `x != a`, whose shared
    * symbol can never be consumed by an occurrence of this merge — keep
    * their counts exactly.
    *
    * Scan the list in order, accepting candidates whose count cannot
    * have changed; stop at the first candidate in a may-change class
    * (or whose concat collides with an existing merge symbol — merging
    * it would ADD mass to that symbol's existing pairs, an unbounded
    * boost). Let B = that candidate's count (or the last collected
    * row's count when the list was truncated at the collect limit —
    * every uncollected pair is <= it). Every pair whose count can
    * change after the accepted merges is bounded by B: may-decrease
    * pairs start <= B (a higher one would have stopped the scan
    * earlier), and each NEW pair `(x, a+b)` / `(a+b, y)` inherits its
    * count from occurrences of `(x, a)` / `(b, y)` — may-decrease
    * pairs, themselves <= B. So every accepted candidate with count
    * STRICTLY above B out-ranks everything whose count moved, and the
    * sequential argmax sequence is exactly the accepted prefix. Kept =
    * the strict-majority prefix `cnt > B`; when even the head fails
    * (its concat collides, or it ties B), fall back to the head alone —
    * the argmax is the sequential pick by definition.
    *
    * When the whole pair table fit under the collect limit and no
    * candidate interacts, there is nothing left to change: accept all.
    */
  private[graft] def certifyBpeBatch(rows: Array[(String, String, Long)],
                                     truncated: Boolean,
                                     priorConcats: scala.collection.Set[String],
                                     maxAccept: Int): Seq[(String, String, Long)] = {
    val lefts = scala.collection.mutable.HashSet.empty[String]
    val rights = scala.collection.mutable.HashSet.empty[String]
    val fresh = scala.collection.mutable.HashSet.empty[String]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var bound = if (truncated) rows.last._3 else -1L
    var stopped = false
    var i = 0
    while (!stopped && i < rows.length) {
      val (l, r, cnt) = rows(i)
      val cc = l + r
      val conflict =
        rights.contains(l) ||                    // (b, y): may decrease
        lefts.contains(r) ||                     // (x, a): may decrease
        fresh.contains(l) || fresh.contains(r) ||  // touches a new symbol
        fresh.contains(cc) || priorConcats.contains(cc) // concat collision
      if (conflict) { bound = cnt; stopped = true }
      else {
        accepted += ((l, r, cnt))
        lefts += l; rights += r; fresh += cc
        i += 1
      }
    }
    val kept = accepted.takeWhile(_._3 > bound).take(maxAccept)
    if (kept.isEmpty) Seq(rows.head) else kept.toSeq
  }

  /** Document-frequency-cap token pruning — the CCNet/RefinedWeb-style
    * boilerplate pass: any token present in MORE than `maxDfPct` percent
    * of documents is dropped from every document, and the text is
    * reassembled in original token order. Returns `(id, n_tokens,
    * n_kept, cleaned_text)`.
    *
    * Scale shape: ONE shuffle total — the per-token document-frequency
    * aggregate over the per-doc-distinct token stream (partial-
    * aggregated map-side). The stop set it yields is bounded by
    * construction, independent of corpus size: a token needs
    * `> maxDfPct/100 · N` containing docs to qualify, so at most
    * `Σ|distinct(doc)| / (maxDfPct/100 · N)` ≈ avg-distinct-per-doc ÷
    * (maxDfPct/100) tokens can clear the bar. That metadata-scale set
    * is collected once (same lifecycle as the k-means centroids in
    * [[graft.operators.IvfIndex]]) and applied MAP-SIDE through the
    * hashed-set expression [[graft.functions.StringArrayExceptSet]] —
    * zero exchanges, O(1) membership per token. The threshold is the
    * integer cross-multiplication `df · 100 > N · maxDfPct` (strict),
    * so both engines cut identically with no double rounding.
    */
  def pruneHighDfTokens(docs: DataFrame, idCol: String, textCol: String,
                        maxDfPct: Int = 60): DataFrame = {
    require(maxDfPct > 0 && maxDfPct < 100,
      s"maxDfPct must be in (0, 100), got $maxDfPct")
    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("tk"))
    val nDocs = toks.count()
    val stop = toks
      .select(explode(array_distinct(col("tk"))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("dfc"))
      .where(col("dfc") * 100 > lit(nDocs) * maxDfPct)
      .select(col("g")).collect().map(_.getString(0)).sorted
    import org.apache.spark.sql.graft.ColumnBridge
    toks
      .withColumn("kept",
        if (stop.isEmpty) col("tk")
        else ColumnBridge.column(graft.functions.StringArrayExceptSet(
          ColumnBridge.expression(col("tk")), stop)))
      .select(col("id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("cleaned_text"))
  }

  /** Inverted index over the corpus — per lowercased token, its document
    * frequency and the `maxPostings` LOWEST doc ids as a comma-joined
    * posting string (the bounded preview a search/debug console shows;
    * the full posting list is the same plan with the cap removed).
    *
    * Scale design: per-doc `array_distinct` collapses duplicates
    * map-side before the explode, and BOTH outputs come from ONE
    * aggregation — `count` for df and a bounded `collectTopK` heap for
    * the postings — so the single shuffle carries at most
    * `maxPostings + 1` values per token per map partition even for a
    * stop word whose true posting list is the whole corpus. No window,
    * no sort, no unbounded `collect_set`.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int = 20): DataFrame = {
    require(maxPostings > 0, s"maxPostings must be positive, got $maxPostings")
    import org.apache.spark.sql.graft.ColumnBridge
    docs
      .select(col(idCol).cast("long").as("__id"),
        explode(array_distinct(TextFunctions.tokens(lower(col(textCol)))))
          .as("token"))
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        ColumnBridge.collectTopK(col("__id"), maxPostings, reverse = true)
          .as("__top"))
      .select(col("token"), col("df"),
        array_join(transform(col("__top"), _.cast("string")), ",")
          .as("postings"))
  }

  /** Okapi BM25 top-k retrieval (Robertson & Walker, SIGIR 1994; the
    * Robertson/Zaragoza 2009 survey's BM25 with the "+1" idf variant
    * `ln(1 + (N − df + 0.5)/(df + 0.5))`, which keeps idf positive for
    * terms in more than half the corpus). For every query in `queries`
    * (`qidCol`, `qtextCol`), returns the `k` best-scoring documents:
    * `(qidCol, idCol, score, rk)` — the lexical-retrieval baseline every
    * RAG/eval pipeline runs before or beside dense retrieval, and the
    * exact ranking function behind Lucene/Elasticsearch defaults.
    *
    * Determinism: each (term, doc) partial score routes through
    * DECIMAL(18,9) before the per-doc sum (the [[unigramSurprisal]]
    * recipe), so the total is exact and addition-order-independent; the
    * final round(6) + (score desc, id asc) rank is a total order any
    * engine replays bit-for-bit.
    *
    * Scale design (100 TB corpus, query set ≪ corpus — documented
    * contract): the query term table broadcasts; the corpus token
    * stream is pruned MAP-SIDE by a broadcast left-semi join on the
    * query vocabulary before its only shuffle (the (doc, term) tf
    * partial-aggregate), so shuffle volume is bounded by matching
    * tokens, not the token stream. Document frequency derives from the
    * tf table (query-vocab-scale, broadcast back), corpus N/avgdl is a
    * 1-row aggregate, and the per-query cut is the bounded
    * [[TopK.topKPerKey]] heap — at most k rows per query per map
    * partition cross the final exchange, no window over the corpus.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, 0 <= b <= 1, got k1=$k1 b=$b")
    val qterm = queries
      .select(col(qidCol).as("__qid"),
        explode(array_distinct(TextFunctions.tokens(lower(col(qtextCol)))))
          .as("token"))
    val toks = TextFunctions.tokens(lower(col(textCol)))
    // dl rides along with every surviving token row so no second join
    // back to a per-doc length table is needed
    // id carried through as-is — string keys / UUIDs rank the same as
    // integral ids (a cast("long") here would NULL-collapse them)
    val base = docs
      .select(col(idCol).as("__id"),
        size(toks).cast("long").as("__dl"), explode(toks).as("token"))
      .join(broadcast(qterm.select(col("token")).distinct()),
        Seq("token"), "left_semi")
    // tf feeds both the df count and the scoring join — persist it or
    // the tokenize + semi-join + aggregate chain runs twice. Bounded by
    // documents matching a query term; lazy-scoped lifecycle.
    val tf = base.groupBy(col("__id"), col("token"))
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val stats = docs.select(size(toks).cast("long").as("__n"))
      .agg(count(lit(1)).as("__ndocs"), sum(col("__n")).as("__totlen"))
    val perDoc = tf
      .join(broadcast(dfreq), Seq("token"))
      .join(broadcast(qterm), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("__totlen").cast("double") / col("__ndocs"))
      .withColumn("__idf", log(lit(1.0) +
        (col("__ndocs").cast("double") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5))))
      .withColumn("__tfn",
        col("__tf").cast("double") * (lit(k1) + lit(1.0)) /
          (col("__tf").cast("double") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("__dl").cast("double") / col("__avgdl"))))
      .withColumn("__s", (col("__idf") * col("__tfn"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("__qid"), col("__id"))
      .agg(sum(col("__s")).as("__sum"))
      .select(col("__qid").as(qidCol), col("__id").as(idCol),
        NumFunctions.roundNz(col("__sum").cast("double"), 6).as("score"))
    TopK.topKPerKey(perDoc.withColumn("__neg", -col("score")),
      Seq(qidCol), struct(col("__neg"), col(idCol)), Seq(idCol, "score"), k)
  }

  /** Per-source distinctive vocabulary — Monroe/Colaresi/Quinn
    * "Fightin' Words" (2008) log-odds with a +0.5 Haldane prior: each
    * (source, token)'s usage odds against the REST of the corpus,
    * z-scored by the delta's approximate variance
    * `1/(y_s+0.5) + 1/(y_rest+0.5)`, top `k` terms per source by z.
    * The corpus-datasheet companion (q113 reports volumes; this reports
    * what each source actually SAYS differently).
    *
    * Scale design: one partial-aggregating shuffle builds the
    * (source, token) counts; source totals, token totals, and the grand
    * total derive from that table (vocab- and source-scale aggregates,
    * broadcast back). The final cut is a bounded `collectTopK` heap per
    * source — shuffle carries ≤ k rows per source per partition, no
    * window over the vocabulary.
    */
  def distinctiveTerms(docs: DataFrame, sourceCol: String, textCol: String,
                       k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val counts = docs
      .select(col(sourceCol).as("source"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("y_s"))
    val srcTot = counts.groupBy(col("source")).agg(sum(col("y_s")).as("n_s"))
    val tokTot = counts.groupBy(col("token")).agg(sum(col("y_s")).as("y_all"))
    val grand = counts.agg(sum(col("y_s")).as("n_all"))
    val scored = counts
      .join(broadcast(srcTot), Seq("source"))
      .join(broadcast(tokTot), Seq("token"))
      .crossJoin(broadcast(grand))
      .withColumn("__yr", col("y_all") - col("y_s"))
      .withColumn("__nr", col("n_all") - col("n_s"))
      .withColumn("__lo",
        log((col("y_s") + 0.5d) / (col("n_s") - col("y_s") + 0.5d)) -
        log((col("__yr") + 0.5d) / (col("__nr") - col("__yr") + 0.5d)))
      .withColumn("z", NumFunctions.roundNz(
        col("__lo") / sqrt(lit(1.0d) / (col("y_s") + 0.5d) +
          lit(1.0d) / (col("__yr") + 0.5d)), 6))
    // rank by z DESC with token ASC ties: heap keeps k smallest of
    // (-z, token); -0.0 from negating z=0.0 still orders equal to +0.0
    TopK.topKPerKey(
      scored.withColumn("__negz", -col("z")),
      Seq("source"), struct(col("__negz"), col("token")),
      Seq("token", "y_s", "z"), k)
  }

  /** Blocklist document filter (the C4 "bad words" gate): flag every
    * document containing ANY blocklisted token and report the per-source
    * damage — `(source, n_docs, n_flagged, flag_rate)` — the dry-run a
    * pipeline reviews before destructive filtering. Matching reuses the
    * hashed-set membership expression ([[graft.functions.StringArrayExceptSet]]):
    * a doc is flagged iff removing blocked tokens shrinks its token
    * array, so membership is O(1) per token regardless of blocklist
    * size (the `arrays_overlap`-with-literal alternative scans the
    * blocklist per token). Pure map-side flag + one tiny aggregate.
    */
  def blocklistProfile(docs: DataFrame, sourceCol: String, textCol: String,
                       blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "blocklist must not be empty")
    import org.apache.spark.sql.graft.ColumnBridge
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val kept = ColumnBridge.column(graft.functions.StringArrayExceptSet(
      ColumnBridge.expression(toks), blocked.map(_.toLowerCase).toArray))
    docs
      .select(col(sourceCol).as("source"),
        (size(kept) < size(toks)).as("__hit"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__hit").cast("long")).as("n_flagged"))
      .withColumn("flag_rate", NumFunctions.roundNz(
        col("n_flagged").cast("double") / col("n_docs"), 6))
  }

  /** Greedy token-budget selection — documents ranked by a priority
    * expression are kept, in rank order, while the running weight total
    * stays within `budget` (the prefix rule a curation pipeline uses to
    * cut a corpus to a token target: "best documents first, stop at N
    * tokens"). Returns the selected rows as
    * `(idCol, priority, n_tokens, cum_tokens)` where `cum_tokens` is the
    * INCLUSIVE prefix sum in `(priority desc, id)` order — a document is
    * kept iff it fits entirely.
    *
    * Scale shape: the prefix sum over an arbitrary priority order uses
    * the same two-level decomposition as [[packSequences]] — a bare
    * `Window.orderBy(priority)` would coalesce the corpus into one task.
    * The caller supplies `bucket`, a coarse quantization of the priority
    * that must be monotone in the selection order
    * (`bucket(a) < bucket(b)` ⟹ a ranks before b — e.g.
    * `floor((1 - score) * 1024)` for a score in [0,1]):
    *   1. per-bucket weight sums (one partial-aggregated shuffle);
    *   2. exclusive-cumsum over the bucket LIST (metadata-scale window);
    *   3. broadcast offsets back, window WITHIN each bucket only.
    * The final `cum <= budget` filter is a map-side predicate; rows past
    * the budget boundary are never collected anywhere.
    */
  def budgetSelect(docs: DataFrame, idCol: String, priority: Column,
                   weight: Column, budget: Long, bucket: Column): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val t = docs.select(col(idCol).as("__id"), priority.as("__p"),
      weight.cast("long").as("__w"), bucket.cast("long").as("__bucket"))
    val bucketSums = t.groupBy(col("__bucket")).agg(sum(col("__w")).as("__bsum"))
    val wBuckets = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = bucketSums
      .withColumn("__boff", coalesce(sum(col("__bsum")).over(wBuckets), lit(0L)))
      .drop("__bsum")
    val wInBucket = Window.partitionBy(col("__bucket"))
      .orderBy(col("__p").desc, col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(broadcast(bucketOffsets), "__bucket")
      .withColumn("__cum", col("__boff") + sum(col("__w")).over(wInBucket))
      .where(col("__cum") <= budget)
      .select(col("__id").as(idCol), col("__p").as("priority"),
        col("__w").as("n_tokens"), col("__cum").as("cum_tokens"))
  }

  /** Deterministic uniform k-sample — the `k` rows with the SMALLEST
    * `md5(id)` values, with their rank in that order. Hash-rank sampling
    * is the distributed replacement for reservoir sampling: the sample
    * is a pure function of the ids (stable across runs, partitionings,
    * and cluster sizes — re-running on an updated corpus keeps every
    * still-present member whose hash stays in the smallest k), and
    * uniform because md5 scrambles id order.
    *
    * Scale shape: `orderBy(key).limit(k)` plans TakeOrdered —
    * per-partition k-row heaps, one k-row driver merge, never a global
    * sort materialization; the rank window then runs over the k
    * SELECTED rows only (metadata, not data — the [[vocabCoverage]]
    * pattern).
    */
  def hashSample(docs: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val keyed = docs.withColumn("sample_key", md5(col(idCol).cast("string")))
    keyed.orderBy(col("sample_key")).limit(k)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(col("sample_key"))).cast("long"))
  }

  /** Stratified deterministic sample: the `k` smallest-`md5(id)` rows
    * PER GROUP — [[hashSample]]'s rerun-stable uniform draw with the
    * stratum guarantee an eval-set build actually needs ("100 random
    * docs from EVERY source", where a global sample would starve small
    * strata). Same identity-hash key as [[hashSample]], so the global
    * and stratified samples agree on what "random" means.
    *
    * Scale shape: ONE keyed window (hash exchange on the stratum +
    * per-group sort, q127's shape); the per-group sort is the honest
    * cost of exact per-stratum ranks — no global sort, no driver
    * collect.
    */
  def hashSamplePerGroup(docs: DataFrame, groupCol: String, idCol: String,
                         k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("sample_key"), col(idCol))
    docs.withColumn("sample_key", md5(col(idCol).cast("string")))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-`vocabSize` token vocabulary — the coverage check run before
    * freezing a tokenizer ("how much of the corpus does a k-token vocab
    * fail to cover, and which documents are worst"). Returns
    * `(idCol, n_tokens, n_oov, oov_rate)` over documents with ≥ 1
    * token; tokens are whitespace-split over normalized (lowercased)
    * text and the vocabulary cut is the total order `(tf desc, token)`.
    *
    * Scale shape: the term-frequency pass is one partial-aggregated
    * shuffle; the cut plans TakeOrdered (per-partition heaps — the
    * vocabulary never globally sorts); the `vocabSize`-bounded set then
    * rides into [[graft.functions.StringArrayExceptSet]], so the apply
    * pass is a map-side hashed-set probe with zero exchanges — q103's
    * df-prune shape with the set inverted (keep = miss).
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val tk = TextFunctions.tokens(TextFunctions.normalize(col(textCol)))
    val t = docs.select(col(idCol).as("__id"), tk.as("__tk"))
    val vocab = t
      .select(explode(col("__tk")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(vocabSize)
      .select("token").collect().map(_.getString(0)).sorted
    import org.apache.spark.sql.graft.ColumnBridge
    t.where(size(col("__tk")) > 0)
      .withColumn("__oov",
        if (vocab.isEmpty) col("__tk")
        else ColumnBridge.column(graft.functions.StringArrayExceptSet(
          ColumnBridge.expression(col("__tk")), vocab)))
      .select(col("__id").as(idCol),
        size(col("__tk")).cast("long").as("n_tokens"),
        size(col("__oov")).cast("long").as("n_oov"),
        NumFunctions.roundNz(
          size(col("__oov")).cast("double") / size(col("__tk")), 6)
          .as("oov_rate"))
  }

  /** Curation filter funnel — the C4/Gopher-style gate sequence (token
    * bounds → repetition → lexical quality → language), reported as the
    * per-stage waterfall `(stage_id, stage, n_in, n_dropped, n_out)` a
    * pipeline publishes before committing to thresholds. Each document
    * is charged to its FIRST failing stage, so the stage counts chain:
    * `n_in(i+1) = n_out(i)`.
    *
    * Every rule is evaluated with INTEGER comparisons (`10·d ≥ 3·n`
    * instead of `d/n ≥ 0.3`), so the oracle can reproduce the
    * thresholds bit-exactly with no float rounding at the boundary.
    * The repetition rule is q68's `1 − distinct/total 3-grams > 0.6`
    * (safe: stage 1 guarantees `n ≥ minTokens ≥ 3`); the quality rule
    * is [[graft.functions.TextFunctions.qualityScore]] `≥ 0.3` in
    * integer form; language is [[graft.functions.TextFunctions.langId]]
    * `= "en"`.
    *
    * Scale shape: the per-document flags are pure map-side expressions;
    * the ONLY shuffle is the single 6-counter aggregate row, and the
    * 5 stage rows are exploded from that one row (metadata scale).
    */
  def filterFunnel(docs: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 5, maxTokens: Int = 80): DataFrame = {
    require(minTokens >= 3, s"minTokens must be >= 3 (repetition needs 3-grams), got $minTokens")
    require(maxTokens > minTokens, s"maxTokens must exceed minTokens, got $maxTokens")
    val tk = TextFunctions.tokens(col(textCol))
    val n = size(tk).cast("long")
    val d = size(array_distinct(tk)).cast("long")
    val nd3 = size(graft.functions.HashFunctions
      .hashedWordNgrams(col(textCol), 3)).cast("long")
    val qualityFails = when(n >= 50, d * 10 < n * 3).otherwise(d < 15)
    val firstFail = when(n < minTokens, 1L)
      .when(n > maxTokens, 2L)
      .when(nd3 * 5 < (n - 2) * 2, 3L)
      .when(qualityFails, 4L)
      .when(TextFunctions.langId(col(textCol)) =!= "en", 5L)
      .otherwise(0L)
    val counters = (1 to 5).map(i =>
      sum(when(col("__ff") === i, 1L).otherwise(0L)).as(s"f$i"))
    val a = docs.select(firstFail.as("__ff"))
      .agg(count(lit(1)).as("n"), counters: _*)
    val names = Seq("min_tokens", "max_tokens", "repetition", "quality", "language")
    val stageRows = (1 to 5).map { i =>
      val nIn = (1 until i).map(j => col(s"f$j"))
        .foldLeft(col("n"))(_ - _)
      struct(lit(i.toLong).as("stage_id"), lit(names(i - 1)).as("stage"),
        nIn.as("n_in"), col(s"f$i").as("n_dropped"),
        (nIn - col(s"f$i")).as("n_out"))
    }
    a.select(explode(array(stageRows: _*)).as("s")).select(col("s.*"))
  }

  /** Stride-overlap context-window chunking — each document's token
    * stream is cut into training windows of `window` tokens whose
    * starts step by `stride` (overlap = `window − stride`), the shape
    * every LLM pre-training pipeline uses to turn documents into
    * fixed-length examples. A document emits
    * `1 + ⌈max(0, n − window) / stride⌉` chunks, so the final window
    * always reaches the last token and no redundant suffix fragments
    * are produced; the tail chunk may be short. Returns
    * `(idCol, chunk_id, start_tok, n_tokens, chunk_text)`.
    *
    * Scale shape: pure map-side — tokenize, compute the chunk count
    * per row, explode the start sequence, slice. Zero exchanges at any
    * corpus size (plan-gated); output volume is the deliberate
    * `≈ window/stride ×` duplication of the overlap.
    */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window] for contiguous coverage, got $stride")
    val tk = TextFunctions.tokens(col(textCol))
    val nChunks = when(col("__n") > window,
      lit(1L) + floor((col("__n") - window + (stride - 1)) / lit(stride.toDouble)))
      .otherwise(1L)
    docs.select(col(idCol).as("__id"), tk.as("__tk"))
      .withColumn("__n", size(col("__tk")).cast("long"))
      .where(col("__n") > 0)
      .select(col("__id"), col("__tk"), col("__n"),
        explode(sequence(lit(0L), (nChunks - 1) * stride, lit(stride.toLong)))
          .as("__start"))
      .select(col("__id").as(idCol),
        (col("__start") / stride).cast("long").as("chunk_id"),
        col("__start").as("start_tok"),
        least(lit(window.toLong), col("__n") - col("__start")).as("n_tokens"),
        concat_ws(" ", slice(col("__tk"),
          (col("__start") + 1).cast("int"), lit(window))).as("chunk_text"))
  }

  /** Deterministic mixture sampling — each stratum is downsampled to
    * its target rate by a pure function of row identity: a row is kept
    * iff the first 6 hex chars of `md5(salt:id)` fall below the
    * stratum's threshold `⌊rate·16⁶⌋` (resolution 1/16.7M). This is how
    * a training-mix pipeline applies per-source weights ("web at 75 %,
    * forums at 25 %") so that reruns, retries, and cluster resizes keep
    * EXACTLY the same rows — a `rand()`-based sample would re-draw per
    * task attempt. Strata absent from `rates` are dropped (an unlisted
    * source must never leak into the mix by default). Returns
    * `(idCol, strataCol, sample_key)`.
    *
    * Scale shape: pure map-side — the rate table rides as a
    * `when`-chain literal (strata counts are human-scale); no shuffle,
    * no driver data. Same identity-hash family as [[contentSplit]] and
    * [[hashSample]]; hex strings compare lexicographically ⟺
    * numerically at fixed width.
    */
  def mixtureSample(docs: DataFrame, idCol: String, strataCol: String,
                    rates: Map[String, Double],
                    salt: String = "mix"): DataFrame = {
    require(rates.nonEmpty, "rates must be non-empty")
    rates.foreach { case (k, r) =>
      require(r >= 0.0 && r <= 1.0, s"rate for '$k' must be in [0, 1], got $r")
    }
    val key = md5(concat(lit(salt + ":"), col(idCol).cast("string")))
    val key6 = substring(col("sample_key"), 1, 6)
    val keep = rates.toSeq.sortBy(_._1).foldLeft(lit(false)) {
      case (acc, (stratum, rate)) =>
        val t = (rate * (1L << 24)).toLong
        val cond =
          if (t >= (1L << 24)) lit(true)
          else if (t <= 0L) lit(false)
          else key6 < lit(f"$t%06x")
        when(col(strataCol) === stratum, cond).otherwise(acc)
    }
    docs.select(col(idCol), col(strataCol), key.as("sample_key"))
      .where(keep)
  }

  /** Tokenize the corpus under a FIXED merge list and report per-doc
    * subword statistics — the APPLY face of BPE training: `(id,
    * n_subwords, n_chars, chars_per_subword)`. Pure map-side; the merge
    * table rides in the expression as metadata.
    */
  def bpeStats(docs: DataFrame, idCol: String, textCol: String,
               merges: Array[(String, String)]): DataFrame = {
    import graft.functions.BpeFunctions
    docs.select(col(idCol).as("id"),
        size(BpeFunctions.bpeSymbols(col(textCol), merges)).cast("long").as("n_subwords"),
        length(regexp_replace(col(textCol), TextFunctions.whitespaceClass, ""))
          .cast("long").as("n_chars"))
      .withColumn("chars_per_subword",
        when(col("n_subwords") > 0,
          NumFunctions.roundNz(col("n_chars").cast("double") / col("n_subwords"), 4)))
  }

  /** Per-group document cap — keep at most `k` rows per group, best
    * first by `priority` (ties broken by `idCol`), with each kept row's
    * rank. The web-corpus "domain cap": no single domain/source may
    * contribute more than `k` documents, and when it would, only its
    * `k` highest-quality ones survive (RefinedWeb's per-domain limits;
    * C4's host-level balancing).
    *
    * The cut is a TOTAL order — `(priority desc, idCol asc)` — so the
    * boundary row is deterministic and an oracle can reproduce the
    * exact kept set, not just its size.
    *
    * Scale shape: ONE partitioned window (`partitionBy(groupCol)`),
    * which is one hash exchange on the group key and a per-group sort —
    * never a global sort. Groups far larger than `k` do sort all their
    * rows before ranking; at web scale that per-key cost is the
    * documented trade for an exact cap (an approximate variant would
    * pre-filter with a per-partition heap).
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  priority: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.withColumn("__prio", priority)
      .withColumn("cap_rank", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col("__prio").desc, col(idCol).asc)).cast("long"))
      .filter(col("cap_rank") <= k)
      .drop("__prio")
  }

  /** Segment-level exact deduplication (CCNet's duplicated-line removal,
    * Wenzek et al. 2020, re-expressed over fixed-width token segments):
    * each document is cut into consecutive `width`-token segments, any
    * segment whose exact text occurs more than once in the CORPUS
    * (across documents or repeated within one) is dropped, and the
    * survivors are stitched back in order. Returns
    * `(idCol, n_segments, n_kept, clean_text)` — documents whose every
    * segment was duplicated survive with `clean_text = ''`, so the
    * output is row-complete over input documents with ≥ 1 token.
    *
    * Scale shape: segments carry an 8-byte xxhash64 key, so the
    * frequency pass and the membership join shuffle hashes + bounded
    * segment rows, never full documents. Three segment-scale exchanges
    * total: (1) the partial-aggregated frequency count, (2) the
    * freq⋈segment equi-join on the hash (AQE broadcasts the count side
    * when small), (3) the per-document rebuild — whose `collect_list`
    * is bounded by the document's own segment count, and order is
    * restored by an in-row `array_sort` on `(seg_idx)`, not by any
    * cross-row sort guarantee.
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   width: Int): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    val tk = TextFunctions.tokens(col(textCol))
    val nSegs = ceil(col("__n") / lit(width.toDouble)).cast("long")
    val segs = docs.select(col(idCol).as("__id"), tk.as("__tk"))
      .withColumn("__n", size(col("__tk")))
      .filter(col("__n") > 0)
      .select(col("__id"),
        posexplode(transform(sequence(lit(0L), nSegs - 1),
          i => array_join(
            slice(col("__tk"), (i * width + 1).cast("int"), lit(width)), " "))))
      .select(col("__id"), col("pos").cast("long").as("seg_idx"),
        col("col").as("seg"), xxhash64(col("col")).as("__h"))
    val freq = segs.groupBy(col("__h")).agg(count(lit(1)).as("__cnt"))
    segs.join(freq, "__h")
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__cnt") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("__cnt") === 1,
          struct(col("seg_idx"), col("seg"))))).as("__kept"))
      .select(col("__id").as(idCol), col("n_segments"), col("n_kept"),
        array_join(transform(col("__kept"), s => s("seg")), " ").as("clean_text"))
  }

  /** DSIR domain selection (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023, in its
    * deterministic top-k form): rank every RAW document by its
    * importance weight under hashed bag-of-words models of the TARGET
    * versus RAW distributions —
    * `log w(x) = Σ_tokens [log p̂_tgt(bucket) − log p̂_raw(bucket)]`
    * with add-one-smoothed bucket probabilities — and keep the `k`
    * highest-weight documents (ties broken by id). The standing
    * pretraining recipe for "more data that looks like my domain
    * sample": the target side is small (a quality corpus, a domain
    * benchmark's training split), the raw side is the web crawl.
    *
    * Determinism contract (the [[QualityClassifier]] recipe): bucket =
    * first 6 hex digits of `md5(token)` mod `dim` (exact on any
    * engine); each bucket's log-ratio is frozen ONCE into integer
    * 1e-6-units (half-away-from-zero, from a double computed with a
    * fixed operation order any libm reproduces), so the per-document
    * sum is pure BIGINT arithmetic — same rank list on every engine,
    * every partitioning, every rerun. Overflow headroom: |su| ≤ ~3e7
    * units (|log ratio| < 30), so 1e9 tokens per document stays under
    * 2^63.
    *
    * Scale shape: the two bucket histograms ([[dsirScoreMap]]) are
    * partial-aggregated shuffles of `dim`-bounded rows; the driver
    * holds 2·`dim` counters (metadata scale, the [[QualityClassifier]]
    * contract) and freezes them into a `dim`-entry score-map literal.
    * The per-document weigh ([[dsirScoreRowWise]]) is then a pure
    * ROW-LOCAL projection — zero exchanges at any corpus size — and
    * the cut plans TakeOrdered (per-partition heaps, never a global
    * sort); the rank window runs over the `k` selected rows only (the
    * [[hashSample]] k-row pattern). Nothing doc-scale reaches the
    * driver.
    *
    * Returns `(id, n_tokens, logw_r, sel_rank)`, `sel_rank` 1-based by
    * `(weight desc, id)`.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, dim: Int = 256, k: Int = 100): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val su = dsirScoreMap(raw, target, textCol, dim)
    dsirScoreRowWise(raw, idCol, textCol, su, dim)
      .orderBy(col("logw_units").desc, col("id").asc).limit(k)
      .withColumn("sel_rank",
        row_number().over(Window.orderBy(col("logw_units").desc, col("id").asc))
          .cast("long"))
      .select(col("id"), col("n_tokens"), col("logw_r"), col("sel_rank"))
  }

  /** [[dsirSelect]]'s scoring pass with a FROZEN score map, as a
    * ROW-LOCAL projection: the token array folds per row against the
    * `dim`-entry unit-score literal (per-token summing ≡ per-bucket
    * `c_j·s_j` — same integers). Freeze the map once with
    * [[dsirScoreMap]] over the reference corpora, then score any later
    * batch — or a STREAM (pure projection, so it drops into a
    * streaming query unchanged; the [[QualityClassifier.scoreRowWise]]
    * contract) — without touching the histograms again. Zero
    * exchanges. Returns `(id, n_tokens, logw_units, logw_r)`.
    */
  def dsirScoreRowWise(docs: DataFrame, idCol: String, textCol: String,
                       su: Map[Long, Long], dim: Int): DataFrame = {
    require(su.keySet == (0L until dim.toLong).toSet,
      s"score map must cover exactly [0, $dim)")
    import graft.operators.QualityClassifier.featureBucket
    val sMap = typedlit(su)
    Similarity.spreadIfNarrow(docs.select(col(idCol), col(textCol)),
        computeWeight = 64)
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) > 0)
      .withColumn("__units", aggregate(col("__tk"), lit(0L), (acc, t) =>
        acc + coalesce(element_at(sMap, featureBucket(t, dim)), lit(0L))))
      .select(col("id"), size(col("__tk")).cast("long").as("n_tokens"),
        col("__units").as("logw_units"),
        NumFunctions.roundNz(col("__units").cast("double") / 1000000.0, 6)
          .as("logw_r"))
  }

  /** Freeze the [[dsirSelect]] bucket score map — target-vs-raw
    * smoothed log-ratios in integer 1e-6 units — for reuse by
    * [[dsirScoreRowWise]] (train once / score many, the incremental
    * and streaming face). Driver state: 2·`dim` counters.
    */
  def dsirScoreMap(raw: DataFrame, target: DataFrame, textCol: String,
                   dim: Int = 256): Map[Long, Long] = {
    require(dim >= 2 && dim <= (1 << 20), s"dim must be in [2, 2^20], got $dim")
    import graft.operators.QualityClassifier.featureBucket
    def hist(df: DataFrame): Map[Long, Long] =
      Similarity.spreadIfNarrow(df.select(col(textCol)), computeWeight = 64)
        .select(explode(TextFunctions.tokens(col(textCol))).as("__tok"))
        .select(featureBucket(col("__tok"), dim).as("j"))
        .groupBy(col("j")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ct = hist(target)
    val cr = hist(raw)
    val tt = ct.valuesIterator.sum
    val tr = cr.valuesIterator.sum
    (0L until dim.toLong).map { j =>
      val pt = (ct.getOrElse(j, 0L) + 1).toDouble / (tt + dim).toDouble
      val pr = (cr.getOrElse(j, 0L) + 1).toDouble / (tr + dim).toDouble
      j -> BigDecimal((math.log(pt) - math.log(pr)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue
    }.toMap
  }

  /** Windowed CODE-SWITCH audit: language consistency WITHIN each
    * document. A document-level language id (q19) happily labels a
    * half-English/half-German page "en" and a curation pipeline then
    * files mixed-language noise into its English corpus; windowing the
    * same marker heuristic over fixed `windowTokens` slices exposes
    * the mix — per document: how many windows, how many distinct
    * window languages, the majority language (ties to the
    * lexicographically smallest) and its share. `n_langs > 1` or a low
    * `major_share_r` is the code-switching / boilerplate-mix flag
    * (the CCNet/C4 line of per-segment language filtering).
    *
    * Scale shape: window texts build ROW-LOCALLY (token slice +
    * rejoin inside the document row), one explode, two
    * partial-aggregating collapses ((doc, lang) then doc — the
    * majority via one struct `min_by`, no window function). Documents
    * with zero tokens emit no row.
    *
    * Returns `(doc_id, n_windows, n_langs, major_lang,
    * major_share_r)`, share rounded to 6.
    */
  def codeSwitchAudit(docs: DataFrame, idCol: String, textCol: String,
                      windowTokens: Int = 30): DataFrame = {
    require(windowTokens >= 1,
      s"windowTokens must be >= 1, got $windowTokens")
    val toks = TextFunctions.tokens(col(textCol))
    val nW = ceil(size(toks).cast("double") / windowTokens).cast("int")
    val wins = transform(sequence(lit(0), nW - 1),
      i => concat_ws(" ",
        slice(toks, i * windowTokens + 1, lit(windowTokens))))
    val wl = docs.filter(col(textCol).isNotNull && size(toks) >= 1)
      .select(col(idCol).as("doc_id"), explode(wins).as("__wtext"))
      .select(col("doc_id"), TextFunctions.langId(col("__wtext")).as("lang"))
    wl.groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_windows"),
        count(lit(1)).as("n_langs"),
        min_by(col("lang"),
          struct(negate(col("__c")).as("nc"), col("lang").as("l")))
          .as("major_lang"),
        max(col("__c")).as("__mc"))
      .withColumn("major_share_r", NumFunctions.roundNz(
        col("__mc").cast("double") / col("n_windows"), 6))
      .drop("__mc")
  }

  /** Self-BLEU-2 precision core (Zhu et al., "Texygen: A Benchmarking
    * Platform for Text Generation Models", SIGIR 2018): per document,
    * the MODIFIED BIGRAM PRECISION of the document against all OTHER
    * documents as references — THE standard diversity gate for
    * synthetic/generated training data (scores near 1 mean the corpus
    * is restating itself; near 0, diverse). BLEU's multi-reference
    * clip takes the MAX reference count per n-gram, so corpus-as-
    * references needs no pairwise work at all: for bigram `g`, doc
    * `d`'s clip is `min(c_d(g), max_{d'≠d} c_{d'}(g))` — the global
    * top count unless `d` itself owns it, then the runner-up. Reported
    * WITHOUT the brevity penalty: BP is an `exp()` of a length ratio —
    * transcendental, engine-divergent — and the precision core is the
    * diversity signal; the ratio is one IEEE division of two exact
    * integers, rounded to 6.
    *
    * Scale shape: LINEAR where the textbook definition is quadratic
    * (n² BLEU calls) — bigram explode, one (doc, g) count aggregate,
    * per-g top-2 via the BOUNDED-HEAP aggregate (map-side partial
    * heaps — deliberately NOT a g-partitioned rank window: a stopword
    * bigram like "of the" holds a count row for nearly every document,
    * and a window would sort that whole group inside ONE task — a
    * straggler/OOM at corpus scale, where the heap's partials combine
    * skew-free), then a g-keyed equi-join of the 2-row-per-g top table
    * back onto the counts (AQE splits any residual join skew), one
    * per-doc collapse. Nothing pairwise, nothing driver-side.
    *
    * Returns `(doc_id, n_bigrams, clipped, self_p2)`; documents with
    * fewer than 2 tokens have no bigrams and emit no row.
    */
  def selfBleu2(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    // tokens contain no whitespace (split on it), so the single-space
    // join is an injective bigram key
    val grams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    // bigram texts build through interpreted HOFs (no codegen); spread
    // a narrow single-file scan so the per-doc work parallelizes (the
    // q215 lesson: one task otherwise owns the whole explode)
    val cnt = Similarity.spreadIfNarrow(
        docs.filter(col(textCol).isNotNull)
          .select(col(idCol).as("doc_id"), col(textCol)),
        computeWeight = 512)
      .select(col("doc_id"), explode(grams).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val top = TopK.topKPerKey(cnt, Seq("g"),
        struct(negate(col("c")).as("nc"), col("doc_id").as("d")),
        Seq("doc_id", "c"), 2)
      .groupBy(col("g")).agg(
        max(when(col("rk") === 1, col("c"))).as("m1"),
        max(when(col("rk") === 1, col("doc_id"))).as("d1"),
        coalesce(max(when(col("rk") === 2, col("c"))), lit(0L)).as("m2"))
    cnt.join(top, "g")
      .withColumn("__clip", least(col("c"),
        when(col("doc_id") === col("d1"), col("m2")).otherwise(col("m1"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), sum(col("__clip")).as("clipped"))
      .withColumn("self_p2", NumFunctions.roundNz(
        col("clipped").cast("double") / col("n_bigrams"), 6))
  }
}
