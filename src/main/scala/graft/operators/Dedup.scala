package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, NumFunctions, TextFunctions}

/** North-star deduplication operators over the `documents` table shape
  * (id + text). Exact, MinHash+LSH, SimHash, and banded n-gram Jaccard.
  *
  * Scale design (100 TB): every path is shuffle-bounded —
  * exact dedup shuffles once on the dedup key; MinHash LSH shuffles on
  * (band, bucket-hash) where bucket populations are tiny by construction,
  * then verifies only candidate pairs (never all pairs); banded Jaccard
  * turns the quadratic self-join into an equi-join on a derived bucket.
  * No driver-side collection anywhere.
  */
object Dedup {

  /** Exact dedup with a deterministic survivor (lowest id per key group) —
    * unlike `dropDuplicates`, replay/parallelism cannot change the output.
    */
  def exactDedup(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Shingle sets as sorted distinct 64-bit hashes via the one-pass
    * [[graft.functions.HashedWordNgrams]] expression. Set operations on
    * fixed-width longs are ~10× cheaper than on UTF8 strings, xxHash64
    * collisions are negligible at corpus scale (P ≈ n²/2⁶⁴ per pair), so
    * |A∩B| / |A∪B| matches the string-shingle semantics exactly w.h.p.
    */
  private def hashedShingles(docs: DataFrame, idCol: String, textCol: String,
                             n: Int): DataFrame =
    // spread a NARROW input before the tokenize+hash pass: every
    // consumer (LSH signatures, prefix joins, verify sides) inherits
    // the width through the persisted shingle table — a
    // single-row-group fixture otherwise runs the whole family's
    // hash/explode stages one task at a time (round 19, measured);
    // never fires on a wide real-scale scan
    Similarity.spreadIfNarrow(docs.select(col(idCol), col(textCol)),
        computeWeight = 64)
      .select(col(idCol),
        HashFunctions.hashedWordNgrams(col(textCol), n).as("shingles"))

  /** MinHash + LSH near-duplicate pairs (Broder, "On the resemblance
    * and containment of documents", 1997; banding per Leskovec et al.,
    * Mining of Massive Datasets ch. 3).
    *
    * Pipeline: shingle → k-minima signature (one xxHash64 pass, custom
    * Catalyst expression) → split signature into `bands` bands of
    * `numHashes/bands` rows → hash each band → self-join on band hash →
    * distinct candidate pairs → verify with *exact* Jaccard on shingle
    * sets, keeping pairs with j >= thresholdNum/thresholdDen (exact
    * integer comparison, no float boundary).
    *
    * With k=128, b=32 (r=4): P[candidate | j] = 1-(1-j^4)^32 — ≈0.9998 at
    * j=0.7, ≈1-1e-15 at j=0.9. False positives are eliminated by the
    * verify step, so output = { pairs with exact Jaccard ≥ t } w.h.p.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 128, bands: Int = 32,
                      thresholdNum: Int = 7, thresholdDen: Int = 10,
                      ngram: Int = 3, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // shingling feeds three plan branches (signatures + both verify
    // sides); persist so the tokenize+hash pass runs once — spills to
    // disk if the corpus outgrows memory, and the ContextCleaner drops
    // it once the result DataFrame is unreachable
    val sh = hashedShingles(docs, idCol, textCol, ngram)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // shingle-less documents (< ngram tokens) all share the sentinel
    // all-MaxValue signature — banding them would pair every such doc
    // with every other (O(m²) in one bucket) only for the un > 0 verify
    // filter to discard the lot; they can never clear the threshold, so
    // drop them before banding
    val sig = sh.filter(size(col("shingles")) > 0).select(col(idCol),
      HashFunctions.minhashSignature(col("shingles"), numHashes, seed).as("sig"))

    // (id, band-bucket) rows; band index folded into the hash so buckets
    // from different bands never collide on the join key.
    val bandHashes = (0 until bands).map(b => xxhash64(lit(b), slice(col("sig"), b * r + 1, r)))
    val buckets = sig.select(col(idCol).as("id"),
      explode(array(bandHashes: _*)).as("bucket"))

    val candidates = buckets.as("x")
      .join(buckets.as("y"), col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()

    verifyJaccard(candidates, sh, idCol, thresholdNum, thresholdDen)
  }

  /** Incremental near-dup: the arriving batch probed against the
    * standing corpus WITHOUT re-clustering it — the shape a daily
    * ingest runs ("which of today's documents near-duplicate anything
    * already ingested?"). Returns `(new_id, old_id, inter, un, jac)`
    * for every cross pair with exact Jaccard ≥ num/den.
    *
    * Scale contract — the CORPUS side never shuffles: batch band
    * buckets and batch shingle sets (both batch-sized) broadcast; the
    * corpus derives its buckets map-side (the 32× band explode feeds
    * the broadcast hash probe inside one stage, nothing is
    * materialized), candidates verify in the same stage through the
    * second broadcast, and the only exchange anywhere is the final
    * distinct over MATCHED scored pairs. Same signature/banding math
    * as [[minhashLshPairs]] (k=128, b=32 ⇒ P[candidate | j=0.7] ≈
    * 0.9998), same exact integer-threshold verify — the LSH only
    * proposes, the exact Jaccard decides.
    */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 128, bands: Int = 32,
                         thresholdNum: Int = 7, thresholdDen: Int = 10,
                         ngram: Int = 3, seed: Long = 42L): DataFrame =
    incrementalNearDupPrepared(batch,
      prepareNearDupIndex(corpus, idCol, textCol, ngram, numHashes, seed),
      idCol, textCol, numHashes, bands, thresholdNum, thresholdDen, ngram, seed)

  /** The per-document state a standing dedup index stores: `(idCol,
    * shingles, sig)` — sorted hashed shingle set (exact verify) and
    * MinHash signature (banding). Parquet-writable and APPEND-ONLY: a
    * production pipeline materializes this once per ingested document
    * and the daily probe ([[incrementalNearDupPrepared]]) never
    * re-reads document text, making the daily cost O(batch) end to
    * end. Shingle-less documents are dropped (they can never clear a
    * Jaccard threshold — same rule as [[minhashLshPairs]]).
    */
  def prepareNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
                          ngram: Int = 3, numHashes: Int = 128,
                          seed: Long = 42L): DataFrame =
    hashedShingles(docs, idCol, textCol, ngram)
      .filter(size(col("shingles")) > 0)
      .select(col(idCol),
        col("shingles"),
        HashFunctions.minhashSignature(col("shingles"), numHashes, seed).as("sig"))

  /** [[prepareNearDupIndex]] written to parquet once per JVM per
    * (`cacheKey`, params, scratch root) ([[graft.Memo.scratchDir]]) and
    * read back from disk — the production shape of the
    * standing index: day 0 computes and stores per-document state; every
    * later probe ([[incrementalNearDupPrepared]]) scans the stored
    * table and never re-touches corpus text. The returned frame is a
    * plain parquet scan, so probes get column pruning and (at real
    * scale) partition pruning against the stored state for free.
    */
  def prepareNearDupIndexStored(docs: DataFrame, idCol: String, textCol: String,
                                cacheKey: String, ngram: Int = 3,
                                numHashes: Int = 128,
                                seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    spark.read.parquet(graft.Memo.scratchDir(spark, "graft-neardupidx",
        cacheKey, idCol, textCol, ngram, numHashes, seed) { dir =>
      prepareNearDupIndex(docs, idCol, textCol, ngram, numHashes, seed)
        .write.mode("overwrite").parquet(dir)
    })
  }

  /** [[incrementalNearDup]] against a PREPARED index (see
    * [[prepareNearDupIndex]]) — the production shape: corpus text is
    * never touched, band buckets re-derive map-side from the stored
    * signature, and the index side still never shuffles (batch buckets
    * and batch shingle sets broadcast; the only exchange is the
    * matched-candidate distinct).
    */
  def incrementalNearDupPrepared(batch: DataFrame, index: DataFrame,
                                 idCol: String, textCol: String,
                                 numHashes: Int = 128, bands: Int = 32,
                                 thresholdNum: Int = 7, thresholdDen: Int = 10,
                                 ngram: Int = 3, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    def bandCols(sigCol: Column): Column = {
      val bandHashes = (0 until bands).map(b =>
        xxhash64(lit(b), slice(sigCol, b * r + 1, r)))
      array(bandHashes: _*)
    }
    // no persist: the batch side is small by contract (a daily delta),
    // so re-deriving its shingles for the second broadcast is cheaper
    // than a named cache entry that would outlive the query in a
    // long-lived driver
    val batchSh = hashedShingles(batch, idCol, textCol, ngram)
    val newBuckets = batchSh.filter(size(col("shingles")) > 0)
      .select(col(idCol).as("new_id"),
        HashFunctions.minhashSignature(col("shingles"), numHashes, seed).as("sig"))
      .select(col("new_id"), explode(bandCols(col("sig"))).as("bucket"))
    val oldBuckets = index.select(col(idCol).as("old_id"),
      explode(bandCols(col("sig"))).as("bucket"))
    val sa = batchSh.select(col(idCol).as("new_id"), col("shingles").as("sa"))
    // index scan → map-side bucket explode → broadcast probe →
    // broadcast verify, all one stage; index shingles re-read above the
    // match (cheap: matches are rare) rather than riding the explode
    val cand = oldBuckets.join(broadcast(newBuckets), "bucket")
      .select(col("new_id"), col("old_id")).distinct()
    val sb = index.select(col(idCol).as("old_id"), col("shingles").as("sb"))
    sb.join(broadcast(cand.join(broadcast(sa), "new_id")), "old_id")
      .withColumn("inter",
        HashFunctions.sortedLongIntersectSize(col("sa"), col("sb")).cast("long"))
      .withColumn("un", (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .filter(col("un") > 0 && col("inter") * thresholdDen >= col("un") * thresholdNum)
      .select(col("new_id"), col("old_id"), col("inter"), col("un"),
        (col("inter").cast("double") / col("un")).as("jac"))
  }

  /** Chunk-level duplication profile via content-defined chunking
    * ([[graft.functions.CdcChunkHashes]]): each document splits at
    * content-determined boundaries; a chunk is SHARED when its hash
    * occurs in ≥ 2 distinct documents. Returns per document `(idCol,
    * n_chunks, n_chars, n_shared_chunks, shared_chars, shared_ratio)` —
    * the span-level complement of [[crossDupProfile]]'s shingle ratio:
    * CDC finds long verbatim spans (boilerplate, quotations, templated
    * sections) that survive insertions around them, because an edit
    * reshapes O(1) chunks instead of shifting every later boundary.
    *
    * Scale shape: chunking is map-side (one expression pass); the
    * shuffles move 8-byte chunk hashes only — one exchange on the hash
    * (a window marks a chunk shared when ≥ 2 distinct documents carry
    * it: min(doc) ≠ max(doc) over the hash partition), one on the
    * document for the final aggregate. No string ever shuffles, the
    * chunker runs exactly once, and nothing is persisted.
    */
  def cdcChunkDupProfile(docs: DataFrame, idCol: String, textCol: String,
                         width: Int = 8, maskBits: Int = 6,
                         minChars: Int = 16, maxChars: Int = 256,
                         seed: Long = 42L): DataFrame = {
    import graft.functions.ArrayFunctions
    val chunks = docs.select(col(idCol),
        explode(ArrayFunctions.cdcChunks(col(textCol), width, maskBits,
          minChars, maxChars, seed)).as("c"))
      .select(col(idCol), col("c.hash").as("h"), col("c.len").as("l"))
    val wh = Window.partitionBy(col("h"))
    val flagged = chunks
      .withColumn("shared",
        (min(col(idCol)).over(wh) =!= max(col(idCol)).over(wh)).cast("int"))
    flagged.groupBy(col(idCol)).agg(
        count(lit(1)).as("n_chunks"),
        sum(col("l")).as("n_chars"),
        sum(col("shared")).as("n_shared_chunks"),
        sum(col("l") * col("shared")).as("shared_chars"))
      .withColumn("shared_ratio",
        NumFunctions.roundNz(col("shared_chars").cast("double") / col("n_chars"), 6))
  }

  /** Exact-Jaccard verification of candidate pairs against sorted hashed
    * shingle sets (merge-count intersection, no per-row hash sets).
    * Keeps j >= num/den via integer cross-multiplication (exact).
    */
  private def verifyJaccard(pairs: DataFrame, sh: DataFrame, idCol: String,
                            num: Int, den: Int): DataFrame = {
    val a = sh.select(col(idCol).as("a_id"), col("shingles").as("sa"))
    val b = sh.select(col(idCol).as("b_id"), col("shingles").as("sb"))
    pairs.join(a, "a_id").join(b, "b_id")
      .withColumn("inter",
        HashFunctions.sortedLongIntersectSize(col("sa"), col("sb")).cast("long"))
      .withColumn("un", (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .filter(col("un") > 0 && col("inter") * den >= col("un") * num)
      .select(col("a_id"), col("b_id"), col("inter"), col("un"),
        (col("inter").cast("double") / col("un")).as("jac"))
  }

  /** Sorted-neighborhood near-dup blocking (Hernández & Stolfo, "The
    * merge/purge problem for large databases", SIGMOD 1995): sort the
    * corpus by a CONTENT key — the first `keyLen` characters of the
    * whitespace-normalized, lowercased text — and compare each
    * document only to the `window − 1` documents that FOLLOW it in
    * that order, verified with exact shingle Jaccard. The classic
    * entity-resolution blocking discipline, complementary to the
    * probabilistic tiers: [[minhashLshPairs]] catches any
    * high-Jaccard pair w.h.p. regardless of where the edit falls;
    * sorted-neighborhood is DETERMINISTIC (no banding-miss
    * probability at all) for the near-dup family whose divergence
    * lies after the key prefix — truncations, appended tails, late
    * edits — and O(n·window) always.
    *
    * Scale shape: one [[Ranks.globalRank]] total-order rank over
    * `(key, id)` (range exchange + metadata offsets — no global
    * window task), one equi-join on the rank (each row probes its
    * `window − 1` successors via a sequence explode), then the shared
    * exact-Jaccard verify. Candidates are exactly `n·(window−1)` —
    * linear at any corpus size, no quadratic block blow-up (the
    * fixed-width window is the method's defining bound).
    *
    * Returns `(a_id, b_id, inter, un, jac)` with `a` the earlier row
    * in sort order, for pairs at exact Jaccard ≥ num/den.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, textCol: String,
                              window: Int = 5, keyLen: Int = 24,
                              thresholdNum: Int = 7, thresholdDen: Int = 10,
                              ngram: Int = 3): DataFrame = {
    val (lazyPairs, release) = sortedNeighborhoodPairsPlan(docs, idCol,
      textCol, window, keyLen, thresholdNum, thresholdDen, ngram)
    // eager localCheckpoint: materializes the (threshold-filtered)
    // pair set and CUTS its lineage off the rank frame, so release()
    // is safe immediately and — unlike persist — no cacheManager entry
    // outlives the call (checkpoint blocks free with the frame's GC)
    val out = lazyPairs.localCheckpoint(true)
    release()
    out
  }

  /** The LAZY sorted-neighborhood plan + the rank-frame release handle
    * — the shape PlanSpec gates (the public method checkpoints the
    * result, which collapses the visible plan to the checkpoint scan).
    * Callers must exhaust or checkpoint the frame before `release()`.
    */
  private[graft] def sortedNeighborhoodPairsPlan(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 5, keyLen: Int = 24,
      thresholdNum: Int = 7, thresholdDen: Int = 10,
      ngram: Int = 3): (DataFrame, () => Unit) = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(keyLen >= 1, s"keyLen must be >= 1, got $keyLen")
    val base = docs.filter(col(textCol).isNotNull)
    val keyed = base.select(col(idCol).as("__id"),
      substring(TextFunctions.normalize(col(textCol)), 1, keyLen).as("__key"))
    val (ranked, release) = Ranks.globalRankOwned(keyed,
      Seq(col("__key"), col("__id")), outCol = "__rn")
    val probes = ranked
      .select(col("__id").as("a_id"), col("__rn"),
        explode(sequence(lit(1), lit(window - 1))).as("__d"))
      .select(col("a_id"), (col("__rn") + col("__d")).as("__rn"))
    val pairs = probes
      .join(ranked.select(col("__id").as("b_id"), col("__rn")), "__rn")
      .select(col("a_id"), col("b_id"))
    (verifyJaccard(pairs,
      hashedShingles(base, idCol, textCol, ngram), idCol,
      thresholdNum, thresholdDen), release)
  }

  /** Banded n-gram Jaccard: compare each doc only to ids within `window`
    * of it (a deterministic, O(n·window) candidate set — the pattern for
    * time- or id-clustered corpora where near-dups arrive close together).
    * The id-range join is turned into an equi-join on `id div window` (+
    * next bucket) so it shuffles instead of nested-looping.
    */
  def ngramJaccardBanded(docs: DataFrame, idCol: String, textCol: String,
                         window: Int = 20, thresholdNum: Int = 1, thresholdDen: Int = 2,
                         ngram: Int = 3): DataFrame = {
    val sh = hashedShingles(docs, idCol, textCol, ngram)
    val a = sh.select(col(idCol).as("a_id"), col("shingles").as("sa"),
      (col(idCol) / window).cast("long").as("abkt"))
    // each left row probes its own bucket and the next (covers id+window)
    val aExp = a.withColumn("bkt", explode(array(col("abkt"), col("abkt") + 1))).drop("abkt")
    val b = sh.select(col(idCol).as("b_id"), col("shingles").as("sb"),
      (col(idCol) / window).cast("long").as("bkt"))
    aExp.join(b, "bkt")
      .filter(col("b_id") > col("a_id") && col("b_id") <= col("a_id") + window)
      .withColumn("inter",
        HashFunctions.sortedLongIntersectSize(col("sa"), col("sb")).cast("long"))
      .withColumn("un", (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .filter(col("un") > 0 && col("inter") * thresholdDen >= col("un") * thresholdNum)
      .select(col("a_id"), col("b_id"), col("inter"), col("un"),
        (col("inter").cast("double") / col("un")).as("jac"))
  }

  /** Collapse near-duplicate PAIRS into groups and pick one survivor per
    * group: connected components by iterative min-label propagation
    * (each node repeatedly adopts the smallest id reachable over pair
    * edges), then the component minimum survives.
    *
    * Returns (id, survivor_id); rows not in any pair map to themselves.
    * Each round does a one-hop neighbor-min propagation AND a pointer
    * jump (label := min(label, label-of-label)), so reachable-distance
    * roughly doubles per round (cf. Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014): `maxIters = 10`
    * covers chains of length ~2^10, and non-convergence within the
    * bound logs a warning instead of silently returning partial labels.
    */
  def nearDupComponents(ids: DataFrame, idCol: String, pairs: DataFrame,
                        maxIters: Int = 10): DataFrame = {
    // materialize the pair list ONCE (executor-local, no driver
    // collect): `pairs` is typically the output of the whole LSH
    // pipeline, and it feeds every propagation round plus the final
    // singleton anti-join — without the cut, each of those re-runs
    // shingling + banding + verification from scratch
    // LAZY checkpoint: the count below materializes it in the same job
    // (plan truncation is immediate; one scheduled job instead of two)
    val p0 = pairs.select(col("a_id"), col("b_id")).localCheckpoint(false)
    // the partition budget for every loop frame follows the PAIR COUNT,
    // not the upstream's partitioning: near-dup pairs are sparse, so the
    // checkpointed set routinely holds a few hundred rows spread over
    // the full shuffle width — and every round would then schedule
    // width-many near-empty tasks per stage (measured ~0.2 s per
    // 32-task stage vs ~5 ms for 1). A billion-pair set still saturates
    // the clamp and keeps full parallelism.
    val np = p0.count()
    val sc = ids.sparkSession.sparkContext
    val parts = math.max(1L, math.min(sc.defaultParallelism.toLong,
      np / 65536L + 1L)).toInt
    val p = if (p0.rdd.getNumPartitions > parts) p0.coalesce(parts) else p0

    // ACTIVE-SET propagation: only nodes that appear in some pair
    // iterate — duplicate pairs are sparse, so each round touches a
    // small fraction of the corpus instead of dragging every singleton's
    // self-loop through ~log(chain) join rounds. Untouched singletons
    // rejoin as their own survivors at the end. Checkpointed so the
    // distinct is computed once, not once per round inside the edge set.
    val active = p.select(col("a_id").as("id"))
      .unionByName(p.select(col("b_id").as("id"))).distinct()
      .coalesce(parts).localCheckpoint(false) // lazy: round 1 materializes it

    // undirected edges both ways + self-loops so a node's own label
    // stays reachable through the groupBy-min (narrow over the two
    // checkpoints — rebuilding it per round shuffles nothing)
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(p.select(col("b_id").as("src"), col("a_id").as("dst")))
      .unionByName(active.select(col("id").as("src"), col("id").as("dst")))

    // labels are active-set-sized: lineage is cut per round with
    // localCheckpoint (executor-local materialization, no driver
    // collect); each round carries a `chg` flag computed inside the
    // SAME job, so the convergence check is a trivial count over the
    // checkpoint instead of a second join query per round
    // identity init is NARROW over the checkpointed active set — no
    // separate materialization job needed
    var labels = active.select(col("id"), col("id").as("label"))
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      // one hop: each node adopts min(own label, neighbors' labels)
      val hopped = edges.join(labels.select(col("id").as("dst"),
          col("label").as("dst_label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("label"))
      // pointer jump: label := min(label, label(label)) — doubles the
      // reachable distance, giving logarithmic convergence on chains
      val next = hopped.as("a")
        .join(hopped.select(col("id").as("jid"), col("label").as("jlabel")),
          col("a.label") === col("jid"), "left")
        .join(labels.select(col("id"), col("label").as("old_label")), "id")
        .select(col("id"),
          least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"),
          (least(col("label"), coalesce(col("jlabel"), col("label")))
            =!= col("old_label")).as("chg"))
        .coalesce(parts)
        .localCheckpoint(true)
      converged = next.filter(col("chg")).count() == 0
      labels = next.select(col("id"), col("label"))
      it += 1
    }
    if (!converged)
      System.err.println(s"[graft] nearDupComponents: not converged after $maxIters rounds; " +
        "labels may be partial — raise maxIters for adversarially long duplicate chains")
    // ids never seen in a pair are their own survivors (left-anti keeps
    // this one pass over the full id set, outside the iteration)
    val singletons = ids.select(col(idCol).as("id"))
      .join(active, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("survivor_id"))
    labels.withColumnRenamed("label", "survivor_id").unionByName(singletons)
  }

  /** End-to-end corpus dedup: exact-duplicate collapse → MinHash-LSH
    * pairs over the representatives → connected components → keep only
    * each component's minimum-id document.
    *
    * The exact-collapse stage is the skew guard that makes this safe at
    * 100 TB: a cluster of m byte-identical documents would land every
    * member in the same LSH buckets and produce O(m²) candidate pairs in
    * one task; collapsing by content fingerprint first (one shuffle on
    * the md5) reduces that cluster to ONE representative, and the
    * member→representative edges re-enter at the (linear) component
    * stage. Survivors are identical to the naive formulation because the
    * component minimum is unchanged.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  thresholdNum: Int = 7, thresholdDen: Int = 10,
                  ngram: Int = 3, cacheKey: Option[String] = None): DataFrame = {
    val comps = componentsFor(docs, idCol, textCol,
      thresholdNum, thresholdDen, ngram, cacheKey)
    docs.join(comps.filter(col("id") === col("survivor_id")).select(col("id")),
      docs(idCol) === col("id")).drop("id")
  }

  /** [[corpusComponents]] built once per (session application, `key`,
    * params) and kept persisted ([[graft.Memo.frame]]): the clustering is
    * the expensive stage that [[dedupCorpus]], [[softDedupWeights]],
    * [[dedupSavings]] and [[clusterSizeHistogram]] share, so a session
    * running the dedup report family clusters once.
    */
  def corpusComponentsCached(key: String, docs: DataFrame, idCol: String,
                             textCol: String, thresholdNum: Int = 7,
                             thresholdDen: Int = 10, ngram: Int = 3): DataFrame =
    graft.Memo.frame(docs.sparkSession, "Dedup.corpusComponents", key, idCol,
        textCol, thresholdNum, thresholdDen, ngram) {
      corpusComponents(docs, idCol, textCol, thresholdNum, thresholdDen, ngram)
    }

  private def componentsFor(docs: DataFrame, idCol: String, textCol: String,
                            thresholdNum: Int, thresholdDen: Int, ngram: Int,
                            cacheKey: Option[String]): DataFrame = cacheKey match {
    case Some(k) => corpusComponentsCached(k, docs, idCol, textCol,
      thresholdNum, thresholdDen, ngram)
    case None => corpusComponents(docs, idCol, textCol,
      thresholdNum, thresholdDen, ngram)
  }

  /** The component stage of [[dedupCorpus]], exposed: `(id,
    * survivor_id)` for EVERY document — exact-collapse skew guard, LSH
    * pairs among representatives, membership edges, min-label
    * components. [[dedupCorpus]] keeps the survivors;
    * [[softDedupWeights]] reweights by cluster size instead.
    */
  def corpusComponents(docs: DataFrame, idCol: String, textCol: String,
                       thresholdNum: Int = 7, thresholdDen: Int = 10,
                       ngram: Int = 3): DataFrame = {
    // stage 1: exact collapse on the RAW content hash — byte-identical
    // texts with at least `ngram` tokens have identical non-empty
    // shingle sets (Jaccard 1), so this collapse is invisible to the
    // all-pairs Jaccard semantics. Documents BELOW the shingle width
    // (empty shingle set) can never clear a Jaccard threshold even
    // against a byte-identical twin (union 0 ⇒ no pair), so they must
    // NOT collapse: each gets a unique per-id fingerprint and stays its
    // own singleton. A normalized fingerprint would likewise merge
    // case/whitespace variants the Jaccard threshold might not.
    val withFp = docs.select(col(idCol).as("id"),
      when(TextFunctions.tokenCount(col(textCol)) >= ngram, md5(col(textCol)))
        .otherwise(concat(lit("short:"), col(idCol).cast("string"))).as("fp"))
    val repOf = withFp
      .withColumn("rep", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .select(col("id"), col("rep"))
    val reps = docs.join(repOf.filter(col("id") === col("rep")).select("id"),
      docs(idCol) === col("id")).drop("id")

    // stage 2: near-dup pairs among representatives only
    val pairs = minhashLshPairs(reps, idCol, textCol,
      thresholdNum = thresholdNum, thresholdDen = thresholdDen, ngram = ngram)
      .select("a_id", "b_id")
      // stage 3: exact-dup membership edges rejoin the graph
      .unionByName(repOf.filter(col("id") =!= col("rep"))
        .select(col("id").as("a_id"), col("rep").as("b_id")))

    nearDupComponents(docs.select(col(idCol)), idCol, pairs)
  }

  /** Soft deduplication (He et al., "SoftDedup: an Efficient Data
    * Reweighting Method for Speeding Up Language Model Pre-training",
    * ACL 2024, in its cluster-mass form): instead of DROPPING
    * near-duplicates, every document keeps a sampling weight
    * `1/|cluster|` under [[dedupCorpus]]'s exact clustering — each
    * near-dup cluster contributes one unit of expected training mass,
    * so common text is downweighted, not erased (the information a
    * hard dedup throws away — which variants existed, how common the
    * content is — stays available to the sampler).
    *
    * Returns `(idCol, cluster_rep, cluster_size, weight_r)`. Scale
    * shape: [[corpusComponents]]'s measured-linear pipeline plus ONE
    * cluster-keyed count and a cluster-keyed join — both shuffle on
    * the representative id, partial-aggregated; no new skew surface
    * (the exact-collapse stage already bounds per-bucket pair
    * blowups).
    */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
                       thresholdNum: Int = 7, thresholdDen: Int = 10,
                       ngram: Int = 3, cacheKey: Option[String] = None): DataFrame = {
    val comps = componentsFor(docs, idCol, textCol,
      thresholdNum, thresholdDen, ngram, cacheKey)
    val sizes = comps.groupBy(col("survivor_id"))
      .agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, "survivor_id")
      .select(col("id").as(idCol), col("survivor_id").as("cluster_rep"),
        col("cluster_size"),
        NumFunctions.roundNz(lit(1.0) / col("cluster_size"), 6).as("weight_r"))
  }

  /** SimHash near-duplicate pairs (Charikar, "Similarity estimation
    * techniques from rounding algorithms", STOC 2002): 64-bit
    * fingerprints, candidates via
    * 4×16-bit chunk banding (pigeonhole: hamming ≤ 3 ⇒ ≥1 identical
    * chunk), verified with `bit_count(a^b) <= maxHamming`.
    *
    * `portableHash = true` swaps the per-token xxHash for the MD5
    * prefix ([[graft.functions.SimHash64Md5]]): identical banding and
    * verification, but the bit sets rebuild in any SQL engine — the
    * auditable mode the q27 oracle checks; `seed` is ignored there.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, seed: Long = 42L,
                   portableHash: Boolean = false): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding only guarantees recall for hamming <= 3")
    val toks = TextFunctions.tokens(col(textCol))
    val hashed = docs.select(col(idCol).as("id"),
      (if (portableHash) HashFunctions.simhash64Md5(toks)
       else HashFunctions.simhash64(toks, seed)).as("sh"))
    val chunkCols = (0 until 4).map { c =>
      struct(lit(c).as("c"),
        shiftrightunsigned(col("sh"), c * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }
    val chunks = hashed.select(col("id"), col("sh"),
      explode(array(chunkCols: _*)).as("chunk"))
    val candidates = chunks.as("x")
      .join(chunks.as("y"), col("x.chunk") === col("y.chunk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        col("x.sh").as("sha"), col("y.sh").as("shb"))
      .distinct()
    candidates
      .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Semantic deduplication (SemDeDup — Abbas, Tirumala et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): k-means-cluster the embedding corpus, find
    * cosine-near pairs ONLY within each cluster, connected-component
    * them, keep the lowest-id survivor per component. Returns
    * `(id, cell, survivor_id, is_survivor)` for every input row — the
    * caller filters `is_survivor` to drop semantic duplicates.
    *
    * Scale design: the coarse quantizer bounds the pairwise stage —
    * candidates are an equi-join on `cell` (corpus² / nlist expected
    * pairs, tunable), never an all-pairs scan; clustering itself is
    * [[IvfIndex.fit]]'s map-side-assign / metadata-update loop. A
    * pathologically hot cell is the documented failure mode: raise
    * `nlist` (finer cells) — the same dial FAISS-style pipelines turn.
    */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, tau: Double = 0.9,
                    iters: Int = 5): DataFrame = {
    import graft.functions.VectorFunctions
    val (assigned, _) = IvfIndex.fit(embeddings, idCol, vecCol, nlist, iters)
    val a = assigned.select(col("id"), col("vec"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .withColumn("sim",
        VectorFunctions.cosineSimilarity(col("x.vec"), col("y.vec")))
      .filter(col("sim") >= tau)
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
    val comps = nearDupComponents(a.select(col("id")), "id", pairs)
      .withColumnRenamed("id", "cid")
    val out = a.select(col("id"), col("cell"))
      .join(comps, col("id") === col("cid"))
      .select(col("id"), col("cell"), col("survivor_id"),
        (col("id") === col("survivor_id")).as("is_survivor"))
    // the persist fed the (eagerly checkpointed) pair join; the returned
    // plan's remaining `a` references are map-side re-assignment from
    // source, so releasing here costs one extra scan, not a re-join
    a.unpersist(blocking = false)
    out
  }

  /** Cross-document repeated substrings: every `width`-char window
    * occurring in ≥ `minDocs` distinct documents, with its exact
    * distinct-document count — the exact-substring duplication scan of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), reshaped for Spark. Returns `(w, n_docs)`.
    *
    * Scale design — grouping the corpus by raw window STRINGS would
    * shuffle ~`width ×` the corpus bytes, so the scan runs in two
    * hash-first stages:
    *  1. per-document DISTINCT 64-bit window hashes
    *     ([[graft.functions.CharWindowHashes]], one pass, zero string
    *     allocation) → count per hash → hashes in ≥ minDocs docs. This
    *     shuffles only 8-byte hashes and is an OVER-approximation under
    *     collision (hashing can merge string groups, never split one).
    *  2. re-walk the windows positionally, keep positions whose hash is
    *     in the (small) heavy set, materialize ONLY those substrings,
    *     and exact-count distinct documents per string — the final
    *     `n_docs >= minDocs` filter re-verifies on true strings, so
    *     hash collisions cost candidate rows, never correctness.
    * The heavy-hash side is aggregation output bounded by actually-
    * repeated content; AQE picks the broadcast side at runtime.
    */
  def repeatedWindows(docs: DataFrame, idCol: String, textCol: String,
                      width: Int = 32, minDocs: Int = 2,
                      seed: Long = 42L): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    // spread a narrow input once — both consumers (the heavy-hash
    // aggregate and the positional re-walk) share the one reused
    // exchange; per-byte cost here is a hash per character position,
    // so a single-row-group fixture otherwise runs two back-to-back
    // ~1 s single-task stages (round 19, measured); never fires on a
    // wide real scan
    val base = Similarity.spreadIfNarrow(
      docs.select(col(idCol).as("id"), col(textCol).as("text"))
        .filter(col("text").isNotNull), computeWeight = 64)
    val heavy = base
      .select(explode(array_distinct(
        HashFunctions.charWindowHashes(col("text"), width, seed))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("h"))
    // the probe side drags a copy of `text` per window row — a shuffle
    // join would move ~width× the corpus; the heavy set (8 B per
    // repeated window) must broadcast. AQE alone won't: the pre-runtime
    // size estimate of an aggregate over an explode is the exploded
    // width, far past the auto-broadcast threshold — measured 2.5×
    // end-to-end (SMJ 12 s → BHJ 4.9 s at sf0.1) before the hint.
    base
      .select(col("id"), col("text"),
        posexplode(HashFunctions.charWindowHashes(col("text"), width, seed))
          .as(Seq("p", "h")))
      .join(broadcast(heavy), "h")
      .select(col("id"), col("text").substr(col("p") + 1, lit(width)).as("w"))
      .groupBy(col("w"))
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Per-document n-gram novelty — for each document, how much of it is
    * NEW relative to everything already collected: the fraction of its
    * distinct word n-gram shingles whose FIRST corpus occurrence (lowest
    * id) is this document. The freshness curve a crawl pipeline watches —
    * novelty decaying toward 0 means a source has stopped contributing
    * new content. Returns `(idCol, n_shingles, n_novel, novelty)`;
    * `novelty` is null when a document is too short to shingle.
    *
    * Scale shape: the shingle stream shuffles ONCE — the partial-
    * aggregated `min(id)` per 8-byte shingle hash — and every later
    * stage is document-scale: the first-occurrence table re-aggregates
    * to per-doc novel counts (`groupBy(first_id)`), and the join back to
    * per-doc totals (computed map-side as the shingle-array size) is
    * id-to-id. The (doc × shingle) pair stream is never joined against
    * itself and never carries strings
    * ([[graft.functions.HashedWordNgrams]] hashes are collision-
    * negligible at P ≈ n²/2⁶⁴, as in [[Corpus.decontaminate]]).
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    val grams = HashFunctions.hashedWordNgrams(col(textCol), n)
    val totals = docs.select(col(idCol).as("__id"),
      size(grams).cast("long").as("n_shingles"))
    val novel = docs
      .select(col(idCol).as("__id"), explode(grams).as("__h"))
      .groupBy(col("__h")).agg(min(col("__id")).as("__first"))
      .groupBy(col("__first")).agg(count(lit(1)).as("n_novel"))
    totals
      .join(novel, totals("__id") === novel("__first"), "left")
      .select(col("__id").as(idCol), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_shingles") > 0, NumFunctions.roundNz(
          coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles"), 6))
          .as("novelty"))
  }

  /** EXACT set-similarity self-join by prefix filtering (Chaudhuri et
    * al., "A Primitive Operator for Similarity Joins", ICDE 2006;
    * Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW
    * 2007; Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection" [PPJoin], WWW 2008). Returns EVERY pair with shingle
    * Jaccard ≥ num/den — unlike [[minhashLshPairs]] there is no w.h.p.
    * qualifier: prefix filtering is lossless, so this is the operator a
    * pipeline reaches for when the dedup report must be provably
    * complete (an audit), and LSH when a vanishing miss rate is
    * acceptable (daily dedup).
    *
    * Prefix-filter principle: order every set by one global total order
    * and keep only each set's first `|S| - ⌈t·|S|⌉ + 1` elements; any
    * pair with J ≥ t must share a prefix element (if the intersection
    * lived entirely in A's suffix, then |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤
    * t·|A∪B|·… contradiction), so the prefix equi-join proposes a
    * superset of the answer and exact verification decides.
    *
    * Scale shape: the global order is DOCUMENT FREQUENCY ASCENDING
    * (rarest shingle first, hash tie-break) — prefixes land on the
    * rarest shingles, so candidate buckets stay small exactly where a
    * naive token join explodes (a stop-word-like shingle shared by 1 %
    * of a 100 TB corpus never enters a prefix unless a set is nearly
    * all stop-words). Exchanges: one df count (8-byte hashes), one
    * ordered-set rebuild (doc-scale), the prefix self-join (prefix
    * rows ≈ (1−t)·Σ|S|, rare-key buckets), and the candidate distinct;
    * verification reuses the shingle sets through doc-scale joins.
    * Length filter `t·|A| ≤ |B| ≤ |A|/t` (integer cross-multiplied)
    * prunes candidates before the distinct.
    */
  def setSimJoinPrefix(docs: DataFrame, idCol: String, textCol: String,
                       thresholdNum: Int = 1, thresholdDen: Int = 2,
                       ngram: Int = 3): DataFrame = {
    require(thresholdNum > 0 && thresholdDen >= thresholdNum,
      s"need 0 < num/den <= 1, got $thresholdNum/$thresholdDen")
    // shingle sets feed ordering, prefixes, and both verify sides —
    // persist so tokenize+hash runs once (ContextCleaner reclaims)
    val sh = hashedShingles(docs, idCol, textCol, ngram)
      .filter(size(col("shingles")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifyJaccard(prefixCandidates(sh, idCol, thresholdNum, thresholdDen),
      sh, idCol, thresholdNum, thresholdDen)
  }

  /** Per-doc shingle arrays rebuilt in the global (df asc, h asc) order
    * — the rarest-first total order both prefix-filter joins key on.
    * `array_sort` on (df, h) structs is a per-doc, bounded-size sort;
    * no global sort anywhere.
    */
  private def dfOrderedSets(sh: DataFrame, idCol: String): DataFrame = {
    val ex = sh.select(col(idCol).as("id"), explode(col("shingles")).as("h"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, "h")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), s => s.getField("h")).as("ord"),
        size(col("ord")).cast("long").as("sz"))
  }

  /** Asymmetric CONTAINMENT self-join by prefix filtering: every ordered
    * pair (a, b), a ≠ b, with `|shingles(a) ∩ shingles(b)| / |shingles(a)|
    * ≥ num/den` — the dedup relation symmetric Jaccard structurally
    * misses: a document pasted verbatim inside a much larger one has
    * containment 1.0 but Jaccard ≈ |A|/|B| → 0 (Broder 1997 defines both
    * resemblance AND containment for exactly this reason). The operator a
    * pipeline runs to find quotes, mirrored fragments, and
    * boilerplate-wrapped copies that [[setSimJoinPrefix]] keeps.
    *
    * Prefix principle (asymmetric form): with sets ordered rarest-first,
    * a qualifying pair must share one of A's first
    * `|A| − ⌈t·|A|⌉ + 1` shingles — if the whole intersection sat in
    * A's suffix, `|A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A|`. Only the PROBE side
    * prefixes; the indexed side posts every shingle (containment puts
    * no upper bound on |B|).
    *
    * Scale shape: identical exchange profile to [[setSimJoinPrefix]] —
    * one df count on 8-byte hashes, one ordered-set rebuild, the
    * prefix⋈postings equi-join (probe prefixes land on each set's
    * RAREST shingles, so the big posting buckets of common shingles are
    * only ever probed by sets that are mostly common shingles), the
    * candidate distinct, and doc-scale verify joins. The size filter
    * `|B|·den ≥ |A|·num` (integer cross-multiply) prunes before the
    * distinct. Verification counts the exact intersection on sorted
    * hash arrays — no float boundary, `inter·den ≥ |A|·num`.
    */
  def containmentJoinPrefix(docs: DataFrame, idCol: String, textCol: String,
                            thresholdNum: Int = 7, thresholdDen: Int = 10,
                            ngram: Int = 3): DataFrame = {
    require(thresholdNum > 0 && thresholdDen >= thresholdNum,
      s"need 0 < num/den <= 1, got $thresholdNum/$thresholdDen")
    val sh = hashedShingles(docs, idCol, textCol, ngram)
      .filter(size(col("shingles")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = containmentCandidatesFrom(sh, idCol, thresholdNum, thresholdDen)
    val a = sh.select(col(idCol).as("a_id"), col("shingles").as("sa"))
    val b = sh.select(col(idCol).as("b_id"), col("shingles").as("sb"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("inter",
        HashFunctions.sortedLongIntersectSize(col("sa"), col("sb")).cast("long"))
      .withColumn("sz_a", size(col("sa")).cast("long"))
      .filter(col("inter") * thresholdDen >= col("sz_a") * thresholdNum)
      .select(col("a_id"), col("b_id"), col("inter"), col("sz_a"),
        (col("inter").cast("double") / col("sz_a")).as("containment"))
  }

  /** Near-dup pair FORENSICS: for every verified near-dup pair, the
    * `k` most CHARACTERISTIC shared shingles — shared n-grams ranked
    * rarest-first by corpus document frequency (a boilerplate phrase
    * in half the corpus explains nothing; a 3-gram shared by exactly
    * these two documents is the evidence). The audit face a
    * destructive dedup pass needs: before dropping a million
    * "duplicates", a reviewer samples pairs and reads WHY the engine
    * called them duplicates, in actual text rather than hash values.
    *
    * Scale shape: pairs come from the same banded LSH tier as
    * [[minhashLshPairs]] (never all-pairs), and the repo's "hashes
    * shuffle, never text" discipline (q128/q93/q108) holds here too:
    * the global document-frequency collapse keys on the 64-bit
    * [[graft.functions.HashedWordNgrams]] gram hash — the corpus-scale
    * exchange carries ONE long per shingle occurrence, never the
    * 3-gram string (string-keyed, this query degraded ~15× under an
    * 8 GiB driver heap; hash-keyed it holds its envelope). The string
    * form is materialized only for pair-member documents (dup-mass,
    * not corpus): a standalone shingle is exactly `n` single-space-
    * joined whitespace-free tokens, so `HashedWordNgrams(shingle, n)`
    * reproduces the full-document gram hash bit-for-bit and the df
    * joins back on the long key. Shingle identity is preserved w.h.p.
    * (64-bit collisions ≈ n²/2⁶⁴ — the same contract every
    * hashed-shingle operator here relies on). Everything after the df
    * join (the a/b evidence joins, the per-pair bounded-heap top-k)
    * touches only dup-mass-sized frames pinned by an eager
    * localCheckpoint. No window anywhere. Returns
    * `(a_id, b_id, rk, shingle, df)`, rk 1-based by (df ASC, shingle
    * ASC).
    */
  def pairEvidence(docs: DataFrame, idCol: String, textCol: String,
                   thresholdNum: Int = 7, thresholdDen: Int = 10,
                   ngram: Int = 3, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pairs = minhashLshPairs(docs, idCol, textCol,
        thresholdNum = thresholdNum, thresholdDen = thresholdDen,
        ngram = ngram)
      .select(col("a_id"), col("b_id"))
    val dfByHash = pairEvidenceDfByHash(docs, textCol, ngram)
    val ids = pairs.select(col("a_id").as("__id"))
      .unionByName(pairs.select(col("b_id").as("__id"))).distinct()
    // pair-member docs only (dup-mass): the STRING shingles ride
    // interpreted HOFs (~30 µs/row) but over member docs, not the
    // corpus; spreadIfNarrow keeps a single-file member set from
    // running in one task. The standalone-shingle rehash recovers the
    // df join key without ever shuffling corpus text.
    val mem = Similarity.spreadIfNarrow(
        docs.select(col(idCol).as("__id"), col(textCol)),
        computeWeight = 512)
      .join(broadcast(ids), Seq("__id"))
      .select(col("__id"), explode(
        HashFunctions.wordShingles(col(textCol), ngram)).as("shingle"))
      .withColumn("__h", element_at(
        HashFunctions.hashedWordNgrams(col("shingle"), ngram), 1))
      .join(dfByHash, Seq("__h"))
      .select(col("__id"), col("shingle"), col("df"))
      // lazy: both evidence sides read the checkpointed RDD — one
      // materialization at first use, no dedicated eager job
      .localCheckpoint(false)
    val shared = pairs
      .join(mem.select(col("__id").as("a_id"), col("shingle"), col("df")),
        Seq("a_id"))
      .join(mem.select(col("__id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
    TopK.topKPerKey(shared, Seq("a_id", "b_id"),
        struct(col("df"), col("shingle")), Seq("shingle", "df"), k)
      .select(col("a_id"), col("b_id"), col("rk"), col("shingle"), col("df"))
  }

  /** The corpus-scale half of [[pairEvidence]]: global shingle document
    * frequency keyed on the 64-bit gram hash — `(__h, df)`. Exposed
    * `private[graft]` so PlanSpec can gate that the one corpus-wide
    * exchange in q215 carries longs, not shingle strings.
    */
  private[graft] def pairEvidenceDfByHash(docs: DataFrame, textCol: String,
                                          ngram: Int): DataFrame =
    Similarity.spreadIfNarrow(docs.select(col(textCol)), computeWeight = 512)
      .select(explode(
        HashFunctions.hashedWordNgrams(col(textCol), ngram)).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("df"))

  /** QUALITY-AWARE corpus dedup: the exact clustering of
    * [[dedupCorpus]], but each near-dup cluster keeps its
    * HIGHEST-`qualityCol` member (ties → smallest id) instead of the
    * smallest id — the curation choice when copies are not equal: a
    * less-truncated crawl of the same page, a cleaner mirror, a
    * higher-scoring extraction of the same document (web-curation
    * pipelines routinely keep the longest/best-scored copy rather
    * than an arbitrary one — see e.g. Penedo et al., RefinedWeb 2023
    * §3 on keeping one representative per duplicate cluster).
    *
    * Scale shape: [[dedupCorpus]]'s exchanges plus ONE component-keyed
    * `min_by` aggregate (partial map-side — component labels are the
    * grouping key, one row out per cluster) and one id equi-join to
    * re-attach the kept documents. `qualityCol` must be numeric; the
    * argmax is exact (no rounding enters the comparison).
    *
    * Returns the kept documents with their original columns, exactly
    * one per cluster — same cardinality as [[dedupCorpus]] on the
    * same input, possibly different representatives.
    */
  def dedupCorpusByQuality(docs: DataFrame, idCol: String, textCol: String,
                           qualityCol: String,
                           thresholdNum: Int = 7, thresholdDen: Int = 10,
                           ngram: Int = 3,
                           cacheKey: Option[String] = None): DataFrame = {
    val comps = componentsFor(docs, idCol, textCol,
      thresholdNum, thresholdDen, ngram, cacheKey)
    val q = docs.select(col(idCol).as("id"), col(qualityCol).as("__q"))
    // min over (-q, id): the largest quality, ties to the smallest id —
    // one struct-ordered min_by per component, deterministic in any
    // partitioning because the (quality, id) pair is unique per row
    val keepers = comps.join(q, "id")
      .groupBy(col("survivor_id"))
      .agg(min_by(col("id"),
        struct(negate(col("__q")).as("nq"), col("id").as("i"))).as("keep_id"))
    docs.join(keepers.select(col("keep_id")),
      docs(idCol) === col("keep_id")).drop("keep_id")
  }

  /** Per-source dedup savings datasheet: how many documents and TOKENS
    * near-dup deduplication ([[dedupCorpus]], q37's exact pipeline)
    * would remove from each source — the number a data lead reads
    * before approving a destructive dedup pass, and the per-source
    * duplication ranking that decides where crawl budget is wasted.
    * Returns `(sourceCol, n_docs, n_kept, n_tokens, n_tokens_kept,
    * token_savings)` with savings = fraction of tokens removed (null
    * for a zero-token source).
    *
    * Scale shape: [[dedupCorpus]]'s exchanges plus one id-keyed left
    * join (survivor flags) and one per-source partial aggregate.
    */
  def dedupSavings(docs: DataFrame, idCol: String, textCol: String,
                   sourceCol: String,
                   thresholdNum: Int = 7, thresholdDen: Int = 10,
                   ngram: Int = 3, cacheKey: Option[String] = None): DataFrame = {
    val surv = dedupCorpus(docs, idCol, textCol, thresholdNum, thresholdDen,
      ngram, cacheKey)
      .select(col(idCol)).withColumn("__kept", lit(1L))
    docs
      .select(col(idCol), col(sourceCol),
        TextFunctions.tokenCount(col(textCol)).as("__tok"))
      .join(surv, Seq(idCol), "left")
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__kept").isNotNull, 1L).otherwise(0L)).as("n_kept"),
        sum(col("__tok")).as("n_tokens"),
        sum(when(col("__kept").isNotNull, col("__tok")).otherwise(0L))
          .as("n_tokens_kept"))
      .withColumn("token_savings", NumFunctions.roundNz(
        when(col("n_tokens") > 0,
          lit(1.0) - col("n_tokens_kept").cast("double") / col("n_tokens"))
          .otherwise(lit(null)), 6))
  }

  /** Corpus-wide LINE-level exact dedup, keep-first (the C4 §2.2 /
    * Dolma "paragraph deduplication" recipe — Raffel et al. 2020,
    * Soldaini et al. 2024): boilerplate lines (nav bars, cookie
    * banners, license headers) repeat across millions of pages, and
    * doc-level dedup never sees them because the SURROUNDING text
    * differs. Every newline-delimited line of at least `minLineChars`
    * characters is deduplicated across the WHOLE corpus: the first
    * occurrence (smallest `(idCol, line position)` — a total order, so
    * replay-stable under any partitioning) survives, every later
    * occurrence is deleted in place, and each document's text is
    * rebuilt with its surviving lines in original order. Lines shorter
    * than `minLineChars` (e.g. blank separators) are structural, not
    * content — they are never candidates and always survive. The tier
    * between [[exactDedup]] (whole-document) and
    * [[SuffixArray.dedupSpans]] (length-L char spans anywhere): line
    * granularity with natural boundaries.
    *
    * Scale shape ("hashes shuffle, never text"): the corpus-scale
    * exchanges carry `(id, pos, xxhash64(line))` — 8-byte line hashes,
    * never line text. One hash-keyed partial-aggregating collapse
    * yields each duplicated line's occurrence count and winner; unique
    * lines (`n = 1`, the vast majority) never re-enter. Drop decisions
    * aggregate to one bounded per-document position array, broadcast
    * back by id, and the rebuild is a map-side indexed `filter` over
    * `split(text)` — a document with no drops keeps its ORIGINAL
    * string byte-for-byte (no split/rejoin round trip). Line identity
    * is 64-bit-hash w.h.p. — the contract every hashed-shingle
    * operator here shares.
    *
    * Returns the input columns with `textCol` rewritten plus
    * `n_dropped` (lines deleted from this document; 0 for untouched
    * and null-text documents).
    *
    * `normalize = true` dedups on the NORMALIZED line (case-folded,
    * whitespace-collapsed — [[TextFunctions.normalize]], the q52
    * kernel) so `Cookie Policy` and `cookie   policy` collapse — the
    * C4/Dolma practice of deduplicating canonicalized paragraphs.
    * Candidate selection stays on the RAW line (`minLineChars` against
    * original bytes) and the rebuild always re-emits the ORIGINAL
    * line text; only the dedup KEY changes, map-side before the hash,
    * so the scale shape is identical.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 minLineChars: Int = 2, normalize: Boolean = false): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val key =
      if (normalize) TextFunctions.normalize(col("__line")) else col("__line")
    // spread a NARROW input before the split/hash explode AND the
    // rebuild (both heavy per byte — measured 0.37 µs/byte): the two
    // consumers share ONE reused exchange; at real corpus scale the
    // scan is already wide and the spread never fires (round 19 —
    // before, a single-row-group fixture ran all three stages as
    // back-to-back single-task 0.5 s stages)
    val spread = Similarity.spreadIfNarrow(docs, computeWeight = 64)
    val lines = spread
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .filter(length(col("__line")) >= minLineChars)
      .select(col("__id"), col("__pos"), xxhash64(key).as("__h"))
    val dupWinners = lines.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("__id").as("i"), col("__pos").as("p"))).as("__w"))
      .filter(col("__n") > 1)
      .select(col("__h"), col("__w"))
    val drops = lines.join(dupWinners, "__h")
      .filter(!(col("__id") === col("__w.i") && col("__pos") === col("__w.p")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__drops"),
        count(lit(1)).as("__nd"))
    applyLineDrops(spread, idCol, textCol, drops)
  }

  /** Shared rebuild of [[dedupLines]] and [[graft.sinks.LineDedupSink]]:
    * apply a `(__id, __drops, __nd)` per-document drop-position frame —
    * documents with no drops keep their ORIGINAL string byte-for-byte
    * (no split/rejoin round trip), null text passes through, a
    * fully-deleted document becomes ''. Returns the input columns with
    * `textCol` rewritten plus `n_dropped`.
    */
  private[graft] def applyLineDrops(docs: DataFrame, idCol: String,
                                    textCol: String,
                                    drops: DataFrame): DataFrame = {
    val rebuilt = when(col("__drops").isNotNull,
      concat_ws("\n", filter(split(col(textCol), "\n"),
        (_, i) => !array_contains(col("__drops"), i))))
      .otherwise(col(textCol))
    val keep = docs.columns.toSeq.filterNot(_ == textCol).map(docs(_))
    docs.join(drops, docs(idCol) === col("__id"), "left")
      .select(keep :+ rebuilt.as(textCol)
        :+ coalesce(col("__nd"), lit(0L)).as("n_dropped"): _*)
  }

  /** The audit face of [[dedupLines]] (the q37→dedupSavings /
    * q22→pairEvidence discipline: every destructive pass gets a
    * reviewer-facing profile): the `k` most-duplicated lines corpus-
    * wide, in actual text — what a reviewer reads to confirm the
    * line-dedup pass is about to delete cookie banners and license
    * headers, not legitimate repeated quotations. Returns
    * `(rk, line, n_occurrences, example_id)` ranked by occurrence
    * count descending, ties by first occurrence `(id, pos)` — a total
    * order, so the cut is deterministic.
    *
    * Scale shape: the same 8-byte line-hash collapse as
    * [[dedupLines]] (text never rides the corpus exchange), a
    * TakeOrdered cut to `k` metadata rows, and ONE broadcast join back
    * to the k winner documents to re-extract the line string — text
    * materializes for exactly `k` rows.
    */
  def boilerplateTopK(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 20, minLineChars: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // same narrow-input spread as [[dedupLines]] — never fires at scale
    val lines = Similarity.spreadIfNarrow(docs, computeWeight = 64)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .filter(length(col("__line")) >= minLineChars)
      .select(col("__id"), col("__pos"), xxhash64(col("__line")).as("__h"))
    val top = lines.groupBy(col("__h"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(struct(col("__id").as("i"), col("__pos").as("p"))).as("__w"))
      .filter(col("n_occurrences") > 1)
      .select(col("n_occurrences"), col("__w.i").as("example_id"),
        col("__w.p").as("__p"))
      .orderBy(col("n_occurrences").desc, col("example_id").asc,
        col("__p").asc)
      .limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(
        col("n_occurrences").desc, col("example_id").asc, col("__p").asc))
        .cast("long"))
    broadcast(top).join(docs.select(col(idCol).as("example_id"),
        col(textCol).as("__t")), Seq("example_id"))
      .select(col("rk"),
        element_at(split(col("__t"), "\n"), (col("__p") + 1).cast("int"))
          .as("line"),
        col("n_occurrences"), col("example_id"))
  }

  /** Near-duplicate source matrix: the exact Jaccard ≥ num/den pair set
    * ([[setSimJoinPrefix]]) aggregated by UNORDERED source pair — which
    * sources duplicate each other and which duplicate themselves. The
    * routing diagnostic behind [[dedupSavings]]: heavy within-source
    * mass means a crawler re-fetches its own content; heavy
    * cross-source mass means two feeds mirror each other and one can
    * be dropped. Returns `(src_a, src_b, n_pairs)` with src_a ≤ src_b.
    *
    * Scale shape: [[setSimJoinPrefix]]'s exchanges + two id-keyed
    * joins for the source lookup + one ≤|sources|² aggregate.
    */
  def nearDupSourceMatrix(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String,
                          thresholdNum: Int = 7, thresholdDen: Int = 10,
                          ngram: Int = 3): DataFrame = {
    val pairs = setSimJoinPrefix(docs, idCol, textCol,
      thresholdNum, thresholdDen, ngram)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("a_id"), col(sourceCol).as("__sa")), "a_id")
      .join(src.select(col(idCol).as("b_id"), col(sourceCol).as("__sb")), "b_id")
      .select(least(col("__sa"), col("__sb")).as("src_a"),
        greatest(col("__sa"), col("__sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Near-dup cluster-size histogram: how many clusters of each size
    * the exact [[dedupCorpus]] clustering produces — the shape report
    * behind [[dedupSavings]]'s totals (a few giant clusters mean
    * boilerplate/template content; a long size-2 tail means true
    * near-copies). Returns `(cluster_size, n_clusters)`; singletons
    * included (size 1 = unique documents).
    *
    * Scale shape: [[corpusComponents]]'s exchanges + two
    * partial-aggregating collapses (per-survivor size, then per-size
    * count).
    */
  def clusterSizeHistogram(docs: DataFrame, idCol: String, textCol: String,
                           thresholdNum: Int = 7, thresholdDen: Int = 10,
                           ngram: Int = 3,
                           cacheKey: Option[String] = None): DataFrame =
    componentsFor(docs, idCol, textCol, thresholdNum, thresholdDen, ngram,
      cacheKey)
      .groupBy(col("survivor_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /** LSH capture planner: for the TRUE near-dup pairs (exact Jaccard ≥
    * num/den via [[setSimJoinPrefix]]), the probability the banded
    * MinHash screen ([[minhashLshPairs]] with `bands` bands of
    * `rowsPerBand` rows) would propose each pair —
    * `P = 1 − (1 − j^r)^b` (Leskovec et al., MMDS ch. 3) — averaged
    * per 0.1-wide Jaccard bucket. The table that justifies choosing
    * the cheap LSH screen over the exact audit join at a given
    * threshold: it shows exactly where the miss mass would sit.
    * Returns `(j_bucket, n_pairs, capture_mean)`.
    *
    * Determinism: `j^r` and `(1−j^r)^b` are computed by REPEATED
    * SQUARING with a fixed association order (both exponents must be
    * powers of two — enforced), so every engine runs the same IEEE
    * multiply chain; per-pair capture routes through DECIMAL(18,9)
    * before the bucket mean.
    *
    * Scale shape: [[setSimJoinPrefix]]'s exchanges + one map-side
    * capture projection + one ≤10-row aggregate.
    */
  def lshCapturePlan(docs: DataFrame, idCol: String, textCol: String,
                     bands: Int = 32, rowsPerBand: Int = 4,
                     thresholdNum: Int = 3, thresholdDen: Int = 10,
                     ngram: Int = 3): DataFrame = {
    def isPow2(x: Int) = x > 0 && (x & (x - 1)) == 0
    require(isPow2(bands) && isPow2(rowsPerBand),
      s"bands and rowsPerBand must be powers of two (squaring chain), got $bands/$rowsPerBand")
    def powBySquaring(base: Column, e: Int): Column = {
      var acc = base; var k = 1
      while (k < e) { acc = acc * acc; k *= 2 }
      acc
    }
    val pairs = setSimJoinPrefix(docs, idCol, textCol,
      thresholdNum, thresholdDen, ngram)
    val jr = powBySquaring(col("jac"), rowsPerBand)
    val capture = lit(1.0) - powBySquaring(lit(1.0) - jr, bands)
    pairs
      .select(least(lit(9L), floor(col("jac") * 10).cast("long")).as("j_bucket"),
        capture.cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("__c"))
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        NumFunctions.roundNz(
          sum(col("__c")).cast("double") / count(lit(1)), 6).as("capture_mean"))
  }

  /** Per-document nearest neighbors by exact shingle Jaccard: for every
    * document, its `k` most similar others with Jaccard ≥ num/den —
    * the "more like this" retrieval face of the dedup family (a
    * curation console shows it next to every near-dup report; Broder's
    * resemblance as a k-NN relation instead of a pair predicate).
    * Returns `(idCol, nbr, jac, rk)`, ties broken by neighbor id.
    *
    * Scale shape: exactly [[setSimJoinPrefix]]'s exchanges (the pair
    * set IS that join's output — lossless prefix filtering bounds the
    * verify set), plus one mirror union and a bounded
    * [[TopK.topKPerKey]] heap cut — at most k rows per document per
    * partition cross the final exchange, no window over the pair set.
    * The threshold is load-bearing: k-NN without a similarity floor
    * would be all-pairs; a floor is what makes prefix filtering apply
    * (and is what a dedup console wants anyway).
    */
  def jaccardTopK(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, thresholdNum: Int = 3, thresholdDen: Int = 10,
                  ngram: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val pairs = setSimJoinPrefix(docs, idCol, textCol,
      thresholdNum, thresholdDen, ngram)
    val both = pairs
      .select(col("a_id").as(idCol), col("b_id").as("nbr"), col("jac"))
      .unionByName(pairs
        .select(col("b_id").as(idCol), col("a_id").as("nbr"), col("jac")))
    TopK.topKPerKey(both.withColumn("__neg", -col("jac")),
      Seq(idCol), struct(col("__neg"), col("nbr")), Seq("nbr", "jac"), k)
  }

  /** Asymmetric prefix candidates: A's prefix probes B's FULL postings
    * with the one-sided size filter — the pairs [[containmentJoinPrefix]]
    * verifies.
    */
  private def containmentCandidatesFrom(sh: DataFrame, idCol: String,
                                        thresholdNum: Int,
                                        thresholdDen: Int): DataFrame = {
    val ordered = dfOrderedSets(sh, idCol)
    val p = (col("sz") - floorDiv(col("sz") * thresholdNum + (thresholdDen - 1),
      lit(thresholdDen.toLong)) + 1).cast("int")
    val probe = ordered
      .select(col("id").as("a_id"), col("sz").as("sz_a"),
        explode(slice(col("ord"), lit(1), p)).as("h"))
    val index = ordered
      .select(col("id").as("b_id"), col("sz").as("sz_b"),
        explode(col("ord")).as("h"))
    probe.join(index,
        probe("h") === index("h") && col("a_id") =!= col("b_id") &&
          col("sz_b") * thresholdDen >= col("sz_a") * thresholdNum)
      .select(col("a_id"), col("b_id")).distinct()
  }

  private def prefixCandidates(sh: DataFrame, idCol: String,
                               thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val ordered = dfOrderedSets(sh, idCol)
    // p = sz − ⌈t·sz⌉ + 1, all-integer; ⌈a/b⌉ = (a + b − 1) div b
    val p = (col("sz") - floorDiv(col("sz") * thresholdNum + (thresholdDen - 1),
      lit(thresholdDen.toLong)) + 1).cast("int")
    val prefix = ordered
      .select(col("id"), col("sz"), explode(slice(col("ord"), lit(1), p)).as("ph"))

    prefix.as("x")
      .join(prefix.as("y"),
        col("x.ph") === col("y.ph") && col("x.id") < col("y.id") &&
          col("x.sz") * thresholdNum <= col("y.sz") * thresholdDen &&
          col("y.sz") * thresholdNum <= col("x.sz") * thresholdDen)
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
  }

  /** Exact ⌊a/b⌋ for non-negative longs: subtract the remainder first so
    * the double division is exact (an integer result, never a rounding).
    */
  private def floorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")
}
