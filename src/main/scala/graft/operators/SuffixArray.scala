package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Order-`H` suffix ranking and the two operators it enables — the
  * exact-substring duplication signal AND removal of Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better" (ACL
  * 2022), computed WITHOUT hashing: two positions repeat iff their
  * suffixes literally agree, so unlike the
  * [[Dedup.repeatedWindows]] window-hash tier there are no collisions
  * to argue away, and the span length is measured (up to `H`), not
  * fixed in advance. [[repeatProfile]] reports the per-document
  * profile; [[dedupSpans]] actually removes the repeated spans and
  * stitches the survivor text — one suffix sort feeds both.
  *
  * Design note — direct sort, not prefix doubling. A full suffix array
  * wants Manber–Myers prefix doubling (log n rounds of pair-rank
  * sorts); for the bounded-order profile the right plan is to sort the
  * n order-`H` prefix keys DIRECTLY: one range exchange shipping ≤ `H`
  * extra bytes per position, versus `log2(H)` doubling rounds of ~3
  * exchanges each. At `H = 32` the direct sort moves ~32 bytes × n
  * once; doubling moves ~24 bytes × n some fifteen times — the direct
  * plan wins at any corpus size, and only cedes ground when `H` grows
  * past a few hundred. Row-local LCP then needs NO join ladder at all:
  * rank-adjacent suffixes sit side by side with their prefix strings,
  * and [[graft.functions.CommonPrefixLen]] measures the span in place.
  *
  * Scale shape: one projection (`substr`), one
  * [[Ranks.globalRank]] total-order rank (two-level — no global
  * window), one self-join on `ord ± 1`, one map-side LCP, then
  * partial-aggregating collapses (profile) or doc-keyed interval
  * merges (dedup). Nothing is serial in the corpus size; the dedup
  * stitch is serial only within one document, the unit a single text
  * column already bounds.
  */
object SuffixArray {

  /** Slice-width policy (round 15): the suffix tiers buffer one
    * contiguous range slice per task (the within-slice window passes
    * and the local rank sort), so the number of range slices must grow
    * WITH the corpus — a fixed `defaultParallelism` split makes the
    * per-task buffer linear in corpus size and eventually exhausts
    * executor memory (measured: the 64 k-doc / 17 M-char corpus dies
    * with UNABLE_TO_ACQUIRE_MEMORY under an 8 GiB heap at 16 fixed
    * slices). Policy: one slice per [[positionsPerSlice]] = 2^18
    * suffix positions (≈ 25 MB of position rows at order 32), floored
    * at `defaultParallelism` — per-task memory is CONSTANT in corpus
    * size, slice count is linear, and the per-slice carry table stays
    * metadata-scale (one row per slice). Costs one column-pruned
    * `sum(length(text))` pre-pass per input, trivial next to the sort.
    */
  private val positionsPerSlice: Long = 1L << 18

  private def slicesFor(textCol: String, inputs: DataFrame*): Int = {
    val total = inputs.map { df =>
      df.filter(col(textCol).isNotNull)
        .select(coalesce(sum(length(col(textCol)).cast("long")), lit(0L)))
        .head().getLong(0)
    }.sum
    val byWidth = ((total + positionsPerSlice - 1) / positionsPerSlice).toInt
    math.max(inputs.head.sparkSession.sparkContext.defaultParallelism, byWidth)
  }

  /** The shared core: `(doc_id, pos, __m)` — for every character
    * position, the longest prefix of its suffix (≤ `maxOrder`) that
    * also occurs at ANY other position in the corpus. The maximum over
    * all other positions is attained at a rank-adjacent suffix, so
    * only the two suffix-order neighbors are inspected. The returned
    * release drains both position-scale caches (the ord frame and the
    * ranged frame inside [[Ranks.globalRankOwned]]); call it only
    * after materializing everything derived from the frame.
    *
    * Truncation doubles as the cap: each prefix string ends at
    * `maxOrder` characters AND at its document's end, so the row-local
    * common-prefix length is automatically `min(true LCP, maxOrder,
    * remaining)` — no separate bounds arithmetic.
    */
  private def positionRepeats(docs: DataFrame, idCol: String, textCol: String,
                              maxOrder: Int): (DataFrame, () => Unit) = {
    // (doc_id, pos 1-based, order-H prefix) — the suffix universe;
    // empty/null texts contribute nothing
    val sfx = docs.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"),
        explode(sequence(lit(1), length(col(textCol)))).as("pos"),
        col(textCol).as("__txt"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        substring(col("__txt"), col("pos"), lit(maxOrder)).as("pfx"))

    // suffix order = total order (prefix, doc, pos): the two-level
    // exact rank — neighbors in this order attain every suffix's
    // maximal LCP, so the profile never compares non-adjacent pairs.
    // Persisted: both sides of the ord±1 self-join read it.
    // Slice count follows the corpus (see the slice-width policy).
    val (ranked, releaseRank) = Ranks.globalRankOwned(sfx,
        Seq(col("pfx"), col("doc_id"), col("pos")), outCol = "__ord",
        numPartitions = slicesFor(textCol, docs))
    val ord = ranked
      .select(col("doc_id"), col("pos"), col("pfx"), col("__ord"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val pairs = ord.select(col("doc_id").as("a_doc"), col("pos").as("a_pos"),
        col("pfx").as("__pa"), col("__ord"))
      .join(ord.select(col("doc_id").as("b_doc"), col("pos").as("b_pos"),
        col("pfx").as("__pb"), (col("__ord") - 1).as("__ord")), "__ord")
      .select(col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"),
        graft.functions.ArrayFunctions
          .commonPrefixLen(col("__pa"), col("__pb")).as("__lcp"))

    val perPos = pairs.select(col("a_doc").as("doc_id"),
        col("a_pos").as("pos"), col("__lcp"))
      .unionByName(pairs.select(col("b_doc").as("doc_id"),
        col("b_pos").as("pos"), col("__lcp")))
      .groupBy(col("doc_id"), col("pos"))
      .agg(max(col("__lcp")).as("__m"))
    (perPos, () => { ord.unpersist(blocking = false); releaseRank() })
  }

  /** Per-document repeated-span profile over the corpus suffix
    * ranking. Returns one row per document:
    * `(doc_id, n_pos, max_rep, n_rep)` — position count, the longest
    * repeated span seen, and how many positions start a repeated span
    * of at least `minLen` characters. All-integer output: the q194
    * oracle replays it bit for bit from the same prefix sort.
    */
  def repeatProfile(docs: DataFrame, idCol: String, textCol: String,
                    maxOrder: Int = 32, minLen: Int = 20): DataFrame = {
    require(maxOrder >= 2, s"maxOrder must be >= 2, got $maxOrder")
    require(minLen >= 1 && minLen <= maxOrder,
      s"minLen must be in [1, maxOrder], got $minLen")
    val (perPos, release) = positionRepeats(docs, idCol, textCol, maxOrder)
    val out = perPos.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_pos"),
        max(col("__m")).as("max_rep"),
        sum(when(col("__m") >= minLen, 1L).otherwise(0L)).as("n_rep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the doc-count-scale result, then release BOTH
    // position-scale caches (the ord frame and the ranged frame inside
    // globalRank) — a finished call must not leave corpus-scale blocks
    // in the cache manager
    out.count()
    release()
    out
  }

  /** The contamination core, exposed lazily for plan inspection:
    * `(doc_id, pos, __m)` for every EVAL position — the longest
    * train-verbatim match — plus ownership of the internal range-slice
    * cache ([[Ranks.globalRankOwned]]'s contract: release only after
    * every consumer materialized).
    */
  private[graft] def positionMatches(train: DataFrame, eval: DataFrame,
                                     idCol: String, textCol: String,
                                     maxOrder: Int): (DataFrame, () => Unit) = {
    def positions(docs: DataFrame, src: Int): DataFrame =
      docs.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
        .select(lit(src).as("__src"), col(idCol).as("doc_id"),
          explode(sequence(lit(1), length(col(textCol)))).as("pos"),
          col(textCol).as("__txt"))
        .select(col("__src"), col("doc_id"), col("pos").cast("long").as("pos"),
          substring(col("__txt"), col("pos"), lit(maxOrder)).as("pfx"))

    val tagged = positions(train, 0).unionByName(positions(eval, 1))
    val ordCols = Seq(col("pfx"), col("__src"), col("doc_id"), col("pos"))
    // slice count follows the combined corpus (see the slice-width
    // policy) — per-task window buffers stay constant-size at any scale
    val parts = slicesFor(textCol, train, eval)
    // one range exchange: each physical partition is a contiguous slice
    // of the combined suffix order. Persisted for the same boundary-
    // stability reason as Ranks.globalRank — the carry subtree and the
    // data subtree must read ONE sampled range split.
    val ranged = tagged.repartitionByRange(parts, ordCols: _*)
      .withColumn("__part", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)

    // per-slice train extremes (metadata: ≤ numPartitions rows), then
    // exclusive running carries across slices — the prev-train prefix
    // entering each slice from above, the next-train prefix from below
    val tKey = struct(col("pfx"), col("doc_id"), col("pos"))
    val sums = ranged.filter(col("__src") === 0).groupBy(col("__part")).agg(
      max_by(col("pfx"), tKey).as("__lastT"),
      min_by(col("pfx"), tKey).as("__firstT"))
    val wUp = Window.orderBy(col("__part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDn = Window.orderBy(col("__part").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = ranged.select(col("__part")).distinct()
      .join(sums, Seq("__part"), "left")
      .select(col("__part"),
        last(col("__lastT"), ignoreNulls = true).over(wUp).as("__cprev"),
        last(col("__firstT"), ignoreNulls = true).over(wDn).as("__cnext"))

    // within each slice: running last-train prefix at-or-before (asc)
    // and at-or-after (desc) every row; a slice with no train rows
    // falls through to its carry. Train rows see themselves — harmless,
    // only eval rows are scored.
    val trainPfx = when(col("__src") === 0, col("pfx"))
    val wAsc = Window.partitionBy(col("__part")).orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy(col("__part"))
      .orderBy(ordCols.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lcp = graft.functions.ArrayFunctions.commonPrefixLen _
    val perPos = ranged.join(broadcast(carries), "__part")
      .withColumn("__pT", coalesce(
        last(trainPfx, ignoreNulls = true).over(wAsc), col("__cprev")))
      .withColumn("__nT", coalesce(
        last(trainPfx, ignoreNulls = true).over(wDesc), col("__cnext")))
      .filter(col("__src") === 1)
      .select(col("doc_id"), col("pos"),
        greatest(coalesce(lcp(col("pfx"), col("__pT")), lit(0L)),
          coalesce(lcp(col("pfx"), col("__nT")), lit(0L))).as("__m"))
    (perPos, () => { ranged.unpersist(blocking = false); () })
  }

  /** Cross-corpus exact-substring CONTAMINATION (the decontamination
    * measurement of Lee et al. §6.2, character-exact): for every
    * position of every EVAL document, the longest prefix of its suffix
    * (≤ `maxOrder` chars) that occurs verbatim ANYWHERE in the TRAIN
    * corpus, collapsed per eval document into
    * `(doc_id, n_pos, max_match, n_hits, contam_chars)` — position
    * count, the longest train-verbatim span, positions starting a
    * ≥ `minLen` match, and the character coverage of the qualifying
    * spans after the [[dedupSpans]] interval merge. Unlike the n-gram
    * tiers (q59 exact n-gram join, q104 Bloom prefilter) this is
    * hash-free AND measures the match length, not a fixed `n`; eval
    * docs duplicating OTHER EVAL docs do not count — contamination is
    * eval ∩ train only.
    *
    * Shape: ONE src-tagged order-`maxOrder` prefix sort over both
    * corpora (the q194 range exchange), then a nearest-train-neighbor
    * scan. In the combined suffix order the train suffix maximizing
    * the LCP with an eval suffix is the NEAREST train row above or
    * below it (for sorted strings, LCP(x, z) = min of adjacent LCPs
    * between them, so moving past the nearest train row can only
    * shrink the match) — and since every row carries its `maxOrder`-
    * char prefix string, the LCP against that neighbor is computed
    * directly, row-locally. The scan itself is two running
    * `last(ignoreNulls)` window passes (asc and desc) WITHIN each
    * contiguous range slice, plus per-slice first/last-train carries
    * cumulated over a `numPartitions`-row metadata window — the
    * [[Ranks.globalRank]] two-level discipline: no global window,
    * no phase serial in the corpus size.
    */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, maxOrder: Int = 32,
                    minLen: Int = 20): DataFrame = {
    require(maxOrder >= 2, s"maxOrder must be >= 2, got $maxOrder")
    require(minLen >= 1 && minLen <= maxOrder,
      s"minLen must be in [1, maxOrder], got $minLen")
    val (perPos, release) =
      positionMatches(train, eval, idCol, textCol, maxOrder)

    // per-doc profile + merged-interval coverage (the dedupSpans sweep)
    val spans = perPos.filter(col("__m") >= minLen)
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + col("__m")).as("e"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val contam = spans
      .withColumn("__pmax", max(col("e"))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__ng",
        when(col("__pmax").isNull || col("s") > col("__pmax"), 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__ng")).over(wDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s")).as("contam_chars"))
    val out = perPos.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_pos"),
        max(col("__m")).as("max_match"),
        sum(when(col("__m") >= minLen, 1L).otherwise(0L)).as("n_hits"))
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pos"), col("max_match"), col("n_hits"),
        coalesce(col("contam_chars"), lit(0L)).as("contam_chars"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    release()
    out
  }

  /** Shared removal tail: merge every qualifying span `[pos, pos+__m)`
    * of `perPos` per document (running-max sweep under a doc-keyed
    * window) and stitch each document's survivor text row-locally.
    * Returns the LAZY `(doc_id, clean_text, kept_chars, removed_chars)`
    * frame over every non-null-text row of `docs` — the caller
    * materializes it before releasing the position caches.
    */
  private def removeSpans(docs: DataFrame, idCol: String, textCol: String,
                          perPos: DataFrame, minLen: Int): DataFrame = {
    val spans = perPos.filter(col("__m") >= minLen)
      .select(col("doc_id"), col("pos").cast("int").as("s"),
        (col("pos") + col("__m")).cast("int").as("e"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val merged = spans
      .withColumn("__pmax", max(col("e"))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__ng",
        when(col("__pmax").isNull || col("s") > col("__pmax"), 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__ng")).over(wDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__ivs"),
        sum((col("e") - col("s")).cast("long")).as("removed_chars"))

    // stitch: fold the interval list left to right, emitting the gap
    // before each interval, then the tail — row-local, one pass
    def stitch(text: Column, ivs: Column): Column = {
      val folded = aggregate(ivs,
        struct(lit("").as("acc"), lit(1).as("cur")),
        (st, iv) => struct(
          concat(st.getField("acc"),
            text.substr(st.getField("cur"),
              iv.getField("s") - st.getField("cur"))).as("acc"),
          iv.getField("e").as("cur")),
        st => concat(st.getField("acc"),
          text.substr(st.getField("cur"), length(text) - st.getField("cur") + 1)))
      folded
    }

    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("__txt"))
    base.join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__ivs").isNull, col("__txt"))
          .otherwise(stitch(col("__txt"), col("__ivs"))).as("clean_text"),
        (length(col("__txt")).cast("long") -
          coalesce(col("removed_chars"), lit(0L))).as("kept_chars"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"))
  }

  /** Exact-substring REMOVAL (Lee et al. §4.1's payoff): every
    * character covered by a repeated span of at least `minLen`
    * characters (capped at `maxOrder` — the measured profile length)
    * is dropped, and the survivors stitch back in document order.
    * Removal is the ALL-OCCURRENCES variant: both copies of a
    * duplicated span disappear (Lee et al.'s released pipeline does
    * the same, noting a span worth removing typically recurs many
    * times, so keeping one canonical copy changes little while
    * requiring a global occurrence election).
    *
    * Returns one row per non-null-text document:
    * `(doc_id, clean_text, kept_chars, removed_chars)` — documents
    * with no qualifying repeats pass through verbatim, fully-covered
    * documents come back as the empty string.
    *
    * Shape: the shared [[positionRepeats]] sort, then per-DOCUMENT
    * interval merging (classic running-max sweep under a doc-keyed
    * window — a document's spans are its own; no cross-doc traffic)
    * and one row-local `aggregate` fold that substrings the gaps
    * between merged intervals out of the original text. Merged
    * intervals are ≥ `minLen` chars each, so a document carries at
    * most `len / minLen` of them — the stitch list is strictly smaller
    * than the text it rebuilds.
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 maxOrder: Int = 32, minLen: Int = 20): DataFrame = {
    require(maxOrder >= 2, s"maxOrder must be >= 2, got $maxOrder")
    require(minLen >= 1 && minLen <= maxOrder,
      s"minLen must be in [1, maxOrder], got $minLen")
    val (perPos, release) = positionRepeats(docs, idCol, textCol, maxOrder)
    val out = removeSpans(docs, idCol, textCol, perPos, minLen)
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    release()
    out
  }

  /** Contamination REMOVAL (q196's payoff face, the cross-corpus twin
    * of [[dedupSpans]]): every eval character covered by a ≥ `minLen`
    * span occurring verbatim anywhere in TRAIN is dropped and the
    * survivors stitch back in order — the eval set the benchmark can
    * actually be scored on (Lee et al. §6.2 dropped contaminated eval
    * items; this removes the contaminated SPANS, the finer-grained
    * repair). Train is untouched; eval-on-eval duplication is
    * preserved. One [[positionMatches]] sort feeds the q196 audit and
    * this removal.
    *
    * Returns one row per non-null-text EVAL document:
    * `(doc_id, clean_text, kept_chars, removed_chars)`.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, maxOrder: Int = 32,
                    minLen: Int = 20): DataFrame = {
    require(maxOrder >= 2, s"maxOrder must be >= 2, got $maxOrder")
    require(minLen >= 1 && minLen <= maxOrder,
      s"minLen must be in [1, maxOrder], got $minLen")
    val (perPos, release) =
      positionMatches(train, eval, idCol, textCol, maxOrder)
    val out = removeSpans(eval, idCol, textCol, perPos, minLen)
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    release()
    out
  }
}
