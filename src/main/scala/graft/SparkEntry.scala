package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.EventOps
import graft.functions.{NumFunctions, TextFunctions, UnigramKernel}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the north-star extensions), with a DuckDB-executable
  * oracle for every SQL-expressible one.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - double aggregates go through DECIMAL(18,s) (exact, order-independent)
  *    and are cast back to DOUBLE;
  *  - averages are computed as exact-decimal-sum / count in DOUBLE;
  *  - timestamps are surfaced as epoch-µs BIGINT or formatted strings;
  *  - top-k queries carry a total tie-break order;
  *  - Jaccard thresholds compare integers (inter·den ≥ un·num), never
  *    floats.
  */
object SparkEntry {

  /** Flagship query (sf0.001): the 4-way revenue join, Q9 shape. */
  def entry(spark: SparkSession): DataFrame =
    q09(spark, "/root/testdata/sf0.001")

  // ---- helpers ----------------------------------------------------------

  /** Exact, order-independent sum of a double column: route through
    * DECIMAL(18,s), return DOUBLE.
    */
  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  /** Scratch-root key for the standing-sink queries (q200/q204/q231/
    * q232/q234): md5 over the query tag plus the dataset's CONTENT
    * fingerprint ([[Tables.fileIdentity]]: each backing file's name,
    * byte length, mtime and footer tail), not the path string alone. A
    * dataset REGENERATED at the same path must get a fresh scratch
    * root, or the sinks' `_APPLIED` markers would short-circuit the
    * folds and serve stale standing state (round-16 ADVICE); and two
    * concurrent suites over different content no longer race one marker
    * protocol. The footer tail keeps the key content-sensitive even when
    * a regeneration lands identical names/sizes inside one mtime tick
    * (round-17 ADVICE).
    */
  private def scratchKeyHex(tag: String, d: String, table: String): String =
    Memo.hex(tag, d, Tables.fileIdentity(new java.io.File(d, s"$table.parquet")))

  // ---- reference-surface queries (SURVEY §2.2) --------------------------

  /** Q1 — O3/O11 scan + projection. */
  def q01(s: SparkSession, d: String): DataFrame =
    ev(s, d).select("event_id", "user_id", "event_type", "value")

  /** Q2 — O9/O14 validity filters; ts surfaced as epoch-µs. */
  def q02(s: SparkSession, d: String): DataFrame =
    EventOps.filterValid(ev(s, d))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))

  /** Q3 — O12 derived time columns. */
  def q03(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("d"),
      date_format(col("ts"), "yyyy-MM").as("ym"))

  /** Q4 — O13 distinct months. */
  def q04(s: SparkSession, d: String): DataFrame =
    EventOps.distinctMonths(ev(s, d))

  /** Q5 — O15 half-open range predicate (fixes the reference's
    * boundary-dropping bug, `df_manager.py:70-74`).
    */
  def q05(s: SparkSession, d: String): DataFrame =
    EventOps.rangeFilter(ev(s, d), "ts", "2024-01-05 00:00:00", "2024-01-20 00:00:00")
      .agg(count(lit(1)).as("n"))

  /** Q6 — O16/O17 group fan-out as a declarative aggregation. */
  def q06(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(col("event_type"),
        year(col("ts")).cast("long").as("y"), month(col("ts")).cast("long").as("m"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("s"))

  /** Q7 — O4 schema patch / default column on the raw-JSON escape hatch. */
  def q07(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(col("event_id"),
      coalesce(get_json_object(col("props"), "$.k"), lit("0")).as("hits"))

  /** Q8 — O19 append/accumulate as a pure union. */
  def q08(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select("event_id", "user_id", "event_type", "value")
    EventOps.append(e.filter(col("event_id") % 2 === 0), e.filter(col("event_id") % 2 === 1))
  }

  /** Q9 — multi-way join + aggregation (broadcast the 25-row nation dim). */
  def q09(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))

  /** Q10 — TPC-H Q1 shape (scan-heavy aggregation). */
  def q10(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base"),
        (dsum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("n"))

  /** Q11 — window function top-k per key (total order via tie-break). */
  def q11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
  }

  /** Q12 — north-star exact dedup accounting. */
  def q12(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), countDistinct(col("text")).as("n_unique"))

  /** Q13 — north-star text stats. */
  def q13(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))

  /** Q14 — north-star similarity: exact top-10 cosine neighbors of
    * vec_id=0 via the custom [[graft.functions.CosineSimilarity]]
    * expression.
    */
  def q14(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.topKCosine(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", 10)
  }

  /** Q15 — O10 micro-batch semantics, batch-equivalent: tumbling 1-hour
    * event-time window aggregation (streaming twin in
    * [[graft.streaming.IngestPipeline]] specs).
    */
  def q15(s: SparkSession, d: String): DataFrame =
    ev(s, d).filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))

  /** Q16 — E3 end-to-end: validity gates → derived time → JSON patch →
    * grouped sink-shaped aggregation (the whole reference pipeline as one
    * declarative query).
    */
  def q16(s: SparkSession, d: String): DataFrame =
    EventOps.filterValid(ev(s, d))
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM").as("ym"),
        coalesce(get_json_object(col("props"), "$.k"), lit("0")).cast("long").as("hits"))
      .groupBy(col("event_type"), col("ym"))
      .agg(count(lit(1)).as("n"), sum(col("hits")).as("hits_sum"))

  // ---- north-star extensions -------------------------------------------

  /** Q17 — token counting. */
  def q17(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))

  /** Q18 — quality scoring (length credit × lexical diversity). */
  def q18(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    docs(s, d).select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      NumFunctions.roundNz(TextFunctions.typeTokenRatio(toks), 6).as("ttr"),
      TextFunctions.qualityScore(toks).as("score"))
  }

  /** Q19 — language-ID heuristic. */
  def q19(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))

  /** Q20 — content fingerprint (normalized md5). */
  def q20(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))

  /** Q21 — banded 3-gram Jaccard near-dup scan (id-window candidates). */
  def q21(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardBanded(docs(s, d), "doc_id", "text",
      window = 20, thresholdNum = 1, thresholdDen = 2)

  /** Q22 — MinHash+LSH near-dup pairs, verified with exact Jaccard;
    * oracle is the brute-force all-pairs scan (see [[Dedup.minhashLshPairs]]
    * for the recall argument).
    */
  def q22(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
      numHashes = 128, bands = 32, thresholdNum = 7, thresholdDen = 10)

  /** Q23 — banded cosine near-duplicate scan over embeddings. */
  def q23(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupBanded(emb(s, d), "vec_id", "embedding",
      window = 100, minSim = 0.3)

  /** Q24 — exact distinct-entity count (the O13 pattern at entity level). */
  def q24(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))

  /** Q25 — multimodal column plumbing: binary payload metadata (byte
    * length, chunk count, checksum) of documents-as-blobs.
    */
  def q25(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      ceil(octet_length(col("text")).cast("double") / 256.0d).cast("long").as("n_chunks"),
      md5(col("text")).as("fp"))

  // ---- hash/sketch replays and accuracy-contract queries ---------------

  /** Q26 — ANN top-k via random-hyperplane LSH in PORTABLE-plane mode
    * ([[graft.operators.Similarity.annTopKCosine]] with Rademacher ±1
    * planes drawn from MD5 low bits): identical bucketing, candidate
    * join, and exact cosine re-rank as the production Gaussian mode
    * (whose recall SimilaritySpec pins), but every plane entry replays
    * in DuckDB — so the oracle rebuilds all 8 tables' 8-bit signatures
    * with `list_dot_product` against the same ±1 lists, joins buckets,
    * and re-ranks candidates with the same rounded cosine. A plane-gen
    * bug, a bucket-join bug, or a re-rank ordering divergence all
    * hash-fail. The approximation is thus oracle-CHECKED, not merely
    * recall-pinned: both engines agree on the exact candidate set.
    */
  def q26(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // 8-bit signatures: the fixture embeddings are near-uniform (no real
    // clusters), so shorter signatures keep candidate sets non-degenerate.
    Similarity.annTopKCosine(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
      bits = 8, tables = 8, portablePlanes = true)
  }

  /** Q27 — SimHash near-dup pairs in PORTABLE-hash mode
    * ([[graft.operators.Dedup.simhashPairs]] with
    * [[graft.functions.SimHash64Md5]]): identical Charikar banding and
    * verification as the production xxHash mode (which DedupSpec
    * pins), but each token's 64 voting bits come from the first 8
    * bytes of standard MD5 — so the oracle rebuilds every document's
    * bit set in DuckDB (both engines ship the same MD5 and the same
    * whitespace tokenizer) and brute-forces all pairs at hamming ≤ 3.
    * A banding bug, a vote-count bug, or a tokenizer divergence all
    * hash-fail. NULL texts are filtered out IDENTICALLY on both sides
    * (here and in the oracle's `doc0` CTE): the engine's simhash of a
    * null text is null (never banded) while a brute-force oracle would
    * otherwise assign it an empty bit set and pair it with token-poor
    * documents — the engines must agree on degenerate rows.
    */
  def q27(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(docs(s, d).filter(col("text").isNotNull),
      "doc_id", "text", maxHamming = 3, portableHash = true)

  /** Q28 — HLL++ approximate distinct (`approx_count_distinct`, Heule
    * et al. 2013) with its accuracy contract made oracle-checkable: the
    * exact per-group cardinality is computed alongside, and the output
    * carries `within_bound` = |est − exact| ≤ max(4, 3·rsd·exact)
    * (three standard deviations of the published relative-error
    * contract, with an absolute floor for sparse-mode small groups).
    * The engine-specific estimate itself stays out of the hashed
    * columns; the oracle reproduces the exact count and asserts the
    * bound held.
    */
  def q28(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("__est"),
           countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__est") - col("exact_users")).cast("double") <=
          greatest(lit(4.0), col("exact_users") * lit(0.15))).as("within_bound"))

  /** Q29 — BPE-ish subword token counting (regex identical in Java and
    * RE2, so oracle-checked).
    */
  def q29(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** Q30 — winnowed rolling-hash fingerprints (Schleimer et al.,
    * "Winnowing: local algorithms for document fingerprinting",
    * SIGMOD 2003). Exact oracle: the whole hash path replays in
    * DuckDB — the base-257 k-gram polynomial mod 2^64 rebuilds from
    * `ascii()` bytes (the fixture is pure ASCII; strlen = length
    * verified), the XXH64 single-long finalizer expands to its
    * mul/rotl/xor steps in HUGEINT with & 2^64−1 wraps (constants are
    * the published xxHash64 primes, seed 42), and the winnow is a
    * plain window-min + distinct count. Any drift in the rolling
    * update, the finalizer, or the unsigned window compare hash-fails.
    */
  def q30(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.functions.HashFunctions.winnowFingerprints(col("text")).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
        // try_element_at: a document shorter than the winnow k-gram
        // yields an empty fps array, and plain element_at throws
        // INVALID_ARRAY_INDEX under ANSI mode (the Spark 4 default)
        try_element_at(col("fps"), lit(1)).as("fp_min"))

  /** Q31 — IVF ANN ([[graft.operators.IvfIndex.annTopK]]): the
    * k-means-trained coarse quantizer, probes routed to their `nProbe`
    * best cells, exact cosine re-rank inside the probed cells. EXACT
    * oracle since the trainer went replay-stable (the q97 decimal-mean
    * Lloyd loop): [[q31OracleSql]] unrolls the two fit iterations,
    * replays the cell routing (cosine to each centroid, smallest cell
    * on ties) and the candidate re-rank — the index's approximation
    * vs TRUE top-k stays a recall-vs-exact property (spec-pinned),
    * but the COMPUTATION itself is oracle-checked bit for bit.
    */
  def q31(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // cacheKey = the corpus dir: the index is fit ONCE per corpus and
    // reused across calls (the build-once / probe-many lifecycle);
    // without it every query call would re-run the Lloyd iterations
    graft.operators.IvfIndex.annTopK(e, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, nlist = 8, nProbe = 3, iters = 2,
      cacheKey = Some(d))
  }

  /** Q33 — gap-based sessionization (30-min inactivity): lag + cumulative
    * window flags, then per-session aggregates. All-integer arithmetic
    * (epoch-µs) with total tie-break orders, so oracle-exact.
    */
  def q33(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(us, 1).over(wOrd)
    val flag = when(prev.isNull, 0).when(us - prev > 1800000000L, 1).otherwise(0)
    ev(s, d).filter(col("ts").isNotNull)
      .withColumn("us", us)
      .withColumn("session_idx",
        sum(flag).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n"), (max(col("us")) - min(col("us"))).as("span_us"))
  }

  /** Q34 — ROLLUP grouping sets over the ETL dimensions. */
  def q34(s: SparkSession, d: String): DataFrame =
    ev(s, d).rollup(col("event_type"), date_format(col("ts"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("s"))

  /** Q35 — anti join: market segments' customers with no large orders. */
  def q35(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0d)
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
  }

  /** Q36 — interpolated percentiles per group (rounded: both engines
    * interpolate linearly but may differ in the last ulp).
    */
  def q36(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(col("event_type")).agg(
      NumFunctions.roundNz(expr("percentile(value, 0.5)"), 6).as("p50"),
      NumFunctions.roundNz(expr("percentile(value, 0.9)"), 6).as("p90"))

  /** Q37 — END-TO-END corpus dedup: exact-collapse → MinHash-LSH →
    * connected components → min-id survivors ([[Dedup.dedupCorpus]]).
    * Oracle: brute-force Jaccard pairs + recursive-CTE transitive
    * closure in DuckDB.
    */
  def q37(s: SparkSession, d: String): DataFrame =
    Dedup.dedupCorpus(docs(s, d), "doc_id", "text", cacheKey = Some(d))
      .select("doc_id")

  /** Q38 — stream-shaped dimension enrichment ([[EventOps.enrich]]):
    * broadcast left-join of the customer dimension onto events, the
    * batch twin of the `foreachBatch` stream-static join.
    */
  def q38(s: SparkSession, d: String): DataFrame =
    EventOps.enrich(
      ev(s, d).select(col("event_id"), col("user_id").as("c_custkey"), col("event_type")),
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
      Seq("c_custkey"))
      .select(col("event_id"), col("c_custkey").as("user_id"),
        col("event_type"), col("c_mktsegment"))

  /** Q39 — the REAL image codec, oracle-checked end-to-end: render a
    * deterministic solid-gray PNG per document (dims and gray level
    * derived from the text's byte length), decode it back through the
    * JDK codec ([[graft.multimodal.Multimodal.imageMeta]]), and surface
    * the DECODED dimensions + mean luma. The oracle computes the same
    * values arithmetically from `octet_length(text)`, so a hash match
    * proves the whole encode → PNG bytes → decode → pixel-stats path
    * (luma of gray g is exactly g). Per-partition batch kernels, no
    * shuffle, no UDF registry.
    */
  def q39(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .map { case (id, n) =>
        Multimodal.MediaRow(id, "image",
          Multimodal.renderSolidPng(n % 13 + 3, n % 7 + 2, n % 256),
          n % 13 + 3, n % 7 + 2, 0)
      }
    Multimodal.imageMeta(media).select(
      col("media_id").as("doc_id"),
      col("width").cast("long").as("width"),
      col("height").cast("long").as("height"),
      NumFunctions.roundNz(col("mean_luma"), 6).as("mean_luma"))
  }

  /** Q43 — the REAL audio codec, oracle-checked end-to-end: render a
    * deterministic 16-bit PCM WAV per document (frame count / sample
    * rate / amplitude derived from the text's byte length), decode it
    * back through the JDK codec
    * ([[graft.multimodal.Multimodal.audioMeta]]), and surface the
    * DECODED sample rate, frame count and RMS amplitude. The oracle
    * computes the same values arithmetically from `octet_length(text)`
    * (the RMS of a ±A square wave is exactly A), so a hash match proves
    * the whole encode → WAV bytes → decode → sample-stats path.
    * Per-partition batch kernels, no shuffle, no UDF registry.
    */
  def q43(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread: javax.sound's provider registry serializes concurrent
    // decode/render calls (synchronized static lookup per call), so a
    // parallel audio stage runs ~3x SLOWER than one task (round 19,
    // measured) — image/video kernels spread, audio stays narrow
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .as[(Long, Int)]
      .map { case (id, n) =>
        val rate = 8000 + (n % 5) * 1000
        Multimodal.MediaRow(id, "audio",
          Multimodal.renderPcmWav(n % 50 + 10, rate, (n % 100 + 1) * 100),
          0, 0, rate)
      }
    Multimodal.audioMeta(media).select(
      col("media_id").as("doc_id"),
      col("sample_rate").cast("long").as("sample_rate"),
      col("n_samples").as("n_samples"),
      NumFunctions.roundNz(col("rms"), 6).as("rms"))
  }

  /** Q44 — the REAL video codec, oracle-checked end-to-end: render a
    * deterministic YUV4MPEG2 stream per document (dims / frame count /
    * per-frame constant luma derived from the text's byte length),
    * decode it back through the hand-rolled Y4M parser, extract every
    * frame ([[graft.multimodal.Multimodal.videoFrameMeta]] — real FRAME
    * boundaries, not byte strides), and surface the DECODED per-frame
    * dimensions + mean luma. The oracle computes the same values
    * arithmetically from `octet_length(text)` (the mean luma of a
    * constant plane is exactly its value), so a hash match proves the
    * whole encode → Y4M bytes → parse → frame-split → pixel-stats path.
    * Per-partition flatMap kernel, no shuffle, no UDF registry.
    */
  def q44(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .map { case (id, n) =>
        val lumas = Array.tabulate(n % 6 + 1)(k => (n + k * 7) % 256)
        Multimodal.MediaRow(id, "video",
          Multimodal.renderY4m(n % 11 + 2, n % 9 + 2, lumas),
          n % 11 + 2, n % 9 + 2, 0)
      }
    Multimodal.videoFrameMeta(media).select(
      col("media_id").as("doc_id"),
      col("frame_idx").cast("long").as("frame_idx"),
      col("width").cast("long").as("width"),
      col("height").cast("long").as("height"),
      NumFunctions.roundNz(col("mean_luma"), 6).as("luma"))
  }

  /** Q45 — PIVOT: long→wide reshaping via
    * [[graft.operators.Reshape.pivotWide]] — one conditional aggregation
    * instead of built-in pivot's two-Exchange `pivotfirst` plan (and no
    * values-discovery scan: values are explicit by construction). One
    * shuffle on the grouping key, map-side partial aggregation, fully
    * codegen'd — gated in PlanSpec.
    */
  def q45(s: SparkSession, d: String): DataFrame =
    graft.operators.Reshape.pivotWide(
      Tables.lineitem(s, d), "l_returnflag", "l_linestatus",
      Seq("F", "O"), col("l_quantity"), c => dsum(c, 2))

  /** Q46 — CUBE grouping sets (all 2² subtotal combinations in one
    * pass). Catalyst expands the cube into a grouping-sets Expand (×4
    * rows) BEFORE the partial aggregate, so map-side combine still
    * collapses each grouping set locally — one shuffle total, versus
    * four separate scans+shuffles for the union-of-group-bys a naive
    * caller would write. Completes the q34 ROLLUP story.
    */
  def q46(s: SparkSession, d: String): DataFrame =
    // the cube's Expand multiplies per-row work x4 before the partial
    // aggregate — spread a narrow scan accordingly (never fires wide)
    graft.operators.Similarity.spreadIfNarrow(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_linestatus"), col("l_extendedprice")), computeWeight = 32)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("s"))

  /** Q47 — running total per customer: a cumulative window frame
    * (`rows unbounded preceding → current`). One shuffle on the
    * partition key, one in-partition sort, then a single streaming pass
    * — the frame never materializes (running aggregation, not
    * per-row re-scan). Decimal accumulate / double surface for exact
    * oracle parity; `o_orderkey` in the ordering makes the running
    * order total-tie-break deterministic.
    */
  def q47(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
        .cast("double").as("run_total"))
  }

  /** Q48 — LEFT SEMI join: customers with at least one large order, by
    * segment. Semi joins short-circuit on first match and never
    * replicate matched rows (an inner join + distinct would shuffle the
    * full match multiplicity first); the filtered orders side stays
    * small enough to broadcast, so the customer scan never shuffles.
    */
  def q48(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 200000.0),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))

  /** Q49 — trailing 7-day revenue per customer: a RANGE window frame
    * over event-time (epoch days), the time-based sibling of Q47's ROWS
    * frame. RANGE includes all peers of the current ordering value, so
    * same-day orders see identical totals — deterministic without a
    * tie-break. One shuffle + one sort; the frame slides, never
    * re-scans.
    */
  def q49(s: SparkSession, d: String): DataFrame = {
    val ds = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("ds"))
      .rangeBetween(-6, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), ds.cast("long").as("ds"),
        col("o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"), col("ds"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("rev_7d"))
  }

  /** Q50 — FORWARD as-of join (q41's mirror): each event picks the
    * user's next order at-or-after the event time — same union-tag +
    * one-shuffle + forward-fill plan with the time ordering reversed
    * ([[graft.operators.Joins.asofJoin]] `direction = "forward"`),
    * through the bucketed hot-key fallback like q41 — the forward
    * stitch carries each bucket's FIRST right row backward across the
    * bucket list. Hash-matches the LATERAL `>= ... ORDER BY ASC LIMIT 1`
    * oracle.
    */
  def q50(s: SparkSession, d: String): DataFrame = {
    val events = ev(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val orders = Tables.orders(s, d).select(
      col("o_custkey").as("user_id"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("ots"),
      col("o_orderkey"), col("o_totalprice"))
    graft.operators.Joins.asofJoin(
        events, orders, Seq("user_id"), "ts_us", "ots",
        tieBreak = "o_orderkey", direction = "forward",
        timeBucket = 180L * 24 * 3600 * 1000000)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_orderkey").as("next_orderkey"), col("o_totalprice").as("next_price"))
  }

  /** Q51 — explicit GROUPING SETS: per-returnflag and per-linestatus
    * subtotals in one pass, WITHOUT the cross products or grand total a
    * cube would add — the general form q34 (rollup) and q46 (cube) are
    * shorthands of. Same Expand-then-partial-aggregate single-shuffle
    * plan, but the Expand factor is exactly the number of requested
    * sets (2 here), not 2^dims.
    */
  def q51(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("s"))

  /** Q52 — text normalization ([[graft.functions.TextFunctions.normalize]]):
    * whitespace-collapse + trim + lowercase, the canonical first pass
    * before any dedup — a pure per-row codegen'd projection, no shuffle.
    */
  def q52(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.functions.TextFunctions.normalize(col("text")).as("norm"))

  /** Q53 — corpus term frequency, top 20: explode tokens of the
    * normalized text, count per token, keep the heaviest (total order:
    * count desc, token asc — deterministic under ties). The explode is
    * map-side (1→N inside the scan stage); the count partial-aggregates
    * before its single shuffle, so shuffle volume is the DISTINCT token
    * set per partition, not the token stream.
    */
  def q53(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(graft.functions.TextFunctions.tokens(
        graft.functions.TextFunctions.normalize(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(20)

  /** Q54 — edit-distance near-dup scan: Levenshtein distance between
    * each document's normalized prefix and its successor's (adjacent
    * doc_ids pair via a self equi-join — at 100 TB the candidate pairs
    * would come from an LSH band join exactly like q22; the metric
    * kernel is what this query pins). `levenshtein` is codegen'd and
    * O(len²) per pair, which is why real pipelines gate it behind
    * cheap candidate generation rather than all-pairs.
    */
  def q54(s: SparkSession, d: String): DataFrame = {
    val norm = graft.functions.TextFunctions.normalize(col("text"))
    val a = docs(s, d).select(col("doc_id"), substring(norm, 1, 40).as("pa"))
    val b = docs(s, d).select((col("doc_id") - 1).as("doc_id"),
      substring(norm, 1, 40).as("pb"))
    a.join(b, Seq("doc_id"))
      .select(col("doc_id"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
  }

  /** Q55 — set difference (EXCEPT, distinct semantics): customers who
    * ordered but show no event activity. Catalyst plans `except` as a
    * distinct left-anti join — one shuffle each side on the compared
    * column, partial-aggregated dedup, no full materialized distinct
    * before the join.
    */
  def q55(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("user_id"))
      .except(ev(s, d).select(col("user_id")))

  /** Q56 — corpus TF-IDF top-20 ([[graft.operators.Corpus.tfidf]]):
    * one explode pass feeds tf, df derives from tf (no second explode),
    * doc count broadcasts as a scalar. Scores rounded before the top-k
    * order so the cut is a total order both engines agree on.
    */
  def q56(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.tfidf(docs(s, d), "doc_id", "text", 20)

  /** Q57 — deterministic exact stratified sample
    * ([[graft.operators.Corpus.stratifiedSample]]): the first ⌊tot/10⌋
    * events per event_type in event_id order — replay-stable,
    * exactly-proportional per stratum, one shuffle shared by both
    * windows. The declarative alternative to `sampleBy`'s Bernoulli
    * draw (whose per-stratum counts vary run to run).
    */
  def q57(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.stratifiedSample(
      ev(s, d).select(col("event_id"), col("event_type"), col("user_id")),
      Seq("event_type"), "event_id", num = 1, den = 10)

  /** Q58 — token-budget sequence packing
    * ([[graft.operators.Corpus.packSequences]]): docs concatenate in
    * doc_id order and cut every 512 tokens; per-bin rollup. The global
    * prefix sum runs as the two-level decomposition (bucket sums →
    * tiny bucket-offset window → per-bucket local cumsum), never a
    * corpus-wide single-partition sort.
    */
  def q58(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.packSequences(
        docs(s, d), "doc_id", TextFunctions.tokenCount(col("text")),
        budget = 512, bucketWidth = 64)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))

  /** Q59 — benchmark decontamination
    * ([[graft.operators.Corpus.decontaminate]]): distinct 3-gram
    * shingles shared between each training doc (source ≠ src0) and the
    * src0 benchmark slice. The benchmark shingle set broadcasts; the
    * train side never shuffles until the per-doc count.
    */
  def q59(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    graft.operators.Corpus.decontaminate(
      dd.filter(col("source") =!= "src0"), dd.filter(col("source") === "src0"),
      "doc_id", "text", n = 3)
  }

  /** Q60 — set intersection (INTERSECT, distinct semantics — q55's
    * complement): customers who ordered AND have event activity.
    * Catalyst plans it as a distinct left-semi join, partial-aggregated
    * each side before its single shuffle.
    */
  def q60(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("user_id"))
      .intersect(ev(s, d).select(col("user_id")))

  /** Q61 — quantile bucketing: users ranked into spend quartiles with
    * [[graft.operators.Ranks.ntileExact]] — bit-identical to
    * `ntile(4) OVER (ORDER BY spend DESC, user_id)` (the oracle SQL),
    * but with NO partition-less window over the data: the per-user
    * aggregate is range-partitioned, ranked locally, and stitched with a
    * metadata-scale offset window, so the plan completes even when the
    * aggregate itself (billions of users at 100 TB) outgrows one task.
    */
  def q61(s: SparkSession, d: String): DataFrame = {
    val spend = ev(s, d).groupBy(col("user_id"))
      .agg(dsum(col("value"), 2).as("spend"))
    graft.operators.Ranks.ntileExact(spend,
        Seq(col("spend").desc, col("user_id").asc), k = 4, outCol = "quartile")
      .select(col("user_id"), col("spend"), col("quartile"))
  }

  /** Q62 — epoch-weighted oversampling
    * ([[graft.operators.Corpus.reweight]]): src0 docs replicated ×3
    * (copy index 1..3), everything else ×1 — the deterministic
    * training-mix reweight. Map-side explode, no shuffle.
    */
  def q62(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.reweight(
      docs(s, d).select(col("doc_id"), col("source")),
      when(col("source") === "src0", 3).otherwise(1))

  /** Q63 — content-addressed train/val/test split
    * ([[graft.operators.Corpus.splitAssign]]): md5-bucketed, stable
    * under repartitioning and rerun — eval rows can never leak into
    * training across reruns. Map-side, no shuffle.
    */
  def q63(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.splitAssign(
      docs(s, d).select(col("doc_id")), "doc_id", salt = "graft")

  /** Q64 — context-window chunking ([[graft.operators.Corpus.chunk]]):
    * 16-token windows every 12 tokens (overlap 4). The 1→k explode is
    * map-side; chunk sizes are arithmetic on the token count.
    */
  def q64(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.chunk(
      docs(s, d), "doc_id", TextFunctions.tokenCount(col("text")),
      size = 16, stride = 12)

  /** Q65 — PII pseudonymization ([[graft.operators.Corpus.pseudonymize]]):
    * user ids replaced by salted sha256 — deterministic (joins/groupBys
    * survive) but irreversible without the salt.
    */
  def q65(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.pseudonymize(
        ev(s, d).select(col("event_id"), col("user_id")),
        "user_id", salt = "graft", outCol = "uid_token")
      .select(col("event_id"), col("uid_token"))

  /** Q66 — heavy-hitter skew profile
    * ([[graft.operators.Corpus.heavyHitters]]): top-10 users by event
    * count with share of total — the scan whose output picks
    * [[graft.operators.Joins.saltedJoin]]'s factor.
    */
  def q66(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.heavyHitters(
      ev(s, d).select(col("user_id")), Seq("user_id"), k = 10)

  /** Q67 — corpus-unigram surprisal
    * ([[graft.operators.Corpus.unigramSurprisal]]): mean −ln p(token)
    * per doc under the corpus's own unigram distribution — the
    * zero-dependency shape of LM-based quality filtering. Per-token
    * surprisals route through DECIMAL(18,9) so the per-doc sum is
    * exact and order-independent.
    */
  def q67(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.unigramSurprisal(docs(s, d), "doc_id", "text")

  /** Q68 — within-doc repetition score (the Gopher/C4 repetition
    * filter): 1 − distinct/total 3-grams. Distinct counts come from the
    * one-pass [[graft.functions.HashedWordNgrams]] expression (the HOF
    * shingle pipeline runs interpreted); total 3-grams is arithmetic
    * on the token count. Pure map-side projection.
    */
  def q68(s: SparkSession, d: String): DataFrame = {
    val n = TextFunctions.tokenCount(col("text"))
    docs(s, d)
      .select(col("doc_id"), n.as("n_tokens"),
        size(graft.functions.HashFunctions.hashedWordNgrams(col("text"), 3))
          .cast("long").as("n_distinct"))
      .filter(col("n_tokens") >= 3)
      .select(col("doc_id"),
        NumFunctions.roundNz(lit(1.0) - col("n_distinct").cast("double") / (col("n_tokens") - 2), 6)
          .as("rep_score"))
  }

  /** Q71 — adjacent-token pair counts
    * ([[graft.operators.Corpus.bigramCounts]]): the BPE-merge statistic
    * (most frequent adjacent pair), multiplicity-preserving via a
    * lead window over the position-exploded stream.
    */
  def q71(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.bigramCounts(docs(s, d), "doc_id", "text", 20)

  /** Q72 — fixed-bin histogram: event values bucketed into width-50
    * bins (clamped to [0, 9]) per event type — one partial-aggregated
    * shuffle, the map-side bucketization a dashboard's distribution
    * panel runs. The floor input is guarded finite: under ANSI (Spark 4
    * default) `cast(NaN as long)` THROWS, so one bad row would
    * otherwise kill the scan.
    */
  def q72(s: SparkSession, d: String): DataFrame = {
    val v = col("value")
    val bin = greatest(lit(0L), least(lit(9L),
      floor(v / 50).cast("long")))
    ev(s, d).filter(v.isNotNull && !isnan(v))
      .groupBy(col("event_type"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Q73 — Pearson correlation between value and hour-of-day per event
    * type, computed FROM EXACT SUMS (n, Σx, Σy, Σx², Σy², Σxy routed
    * through decimals) rather than the built-in `corr` (whose
    * double-accumulator merge order varies with partitioning). The
    * formula then runs in double on six deterministic scalars —
    * replay-stable, hash-matching the same sums in DuckDB.
    */
  def q73(s: SparkSession, d: String): DataFrame = {
    val x = col("value")
    val y = hour(col("ts")).cast("long")
    val dec = (c: Column, s: Int) => sum(c.cast(DecimalType(28, s))).cast("double")
    ev(s, d).filter(x.isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dec(x, 6).as("sx"), sum(y).as("sy"),
        dec(x * x, 6).as("sxx"), sum(y * y).as("syy"), dec(x * y, 6).as("sxy"))
      .select(col("event_type"), col("n"),
        NumFunctions.roundNz((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("corr_vh"))
  }

  /** Q74 — cohort retention: users grouped by first-active day, counted
    * per day-offset of later activity — the canonical retention matrix.
    * Two shuffles total: the user-day dedup reuses its partitioning for
    * the first-day aggregate (same key), then one shuffle to the
    * (cohort, offset) cells; the first-day table joins back user-keyed.
    * Cells are COUNTS of (user, day) pairs, which the dedup already
    * made distinct — no count-distinct shuffle needed.
    */
  def q74(s: SparkSession, d: String): DataFrame = {
    val daily = EventOps.filterValid(ev(s, d))
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val first = daily.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    daily.join(first, "user_id")
      .select(date_format(col("d0"), "yyyy-MM-dd").as("cohort"),
        datediff(col("d"), col("d0")).cast("long").as("day_offset"))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Q75 — layout-governed scan ([[graft.sinks.Layout]]): events
    * re-clustered on the Z-order of (user_id, event_id) — domains
    * normalized to a common bit width first — then a user_id band
    * answered through the file-level min/max manifest, reading only the
    * files whose band intersects. The copy + manifest are built once per
    * JVM (the compaction lifecycle); the EXACT predicate re-applies
    * after pruning, so skipping can never change the answer — the oracle
    * is the same SELECT over the original table. The spec asserts
    * files_read ≪ files_total; this row asserts rows are right.
    */
  def q75(s: SparkSession, d: String): DataFrame = {
    val (df, _, _) = q75Pruned(s, d)
    df.select("event_id", "user_id", "event_type", "value")
  }

  /** q75's pruned read with its (files read, files total) skip counters
    * — the spec gate consumes the counters, the registry row the rows.
    */
  def q75Pruned(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val src = ev(s, d).select("event_id", "user_id", "event_type", "value")
    val (dir, stats) = graft.sinks.Layout.zOrderedWithStats(
      src, cacheKey = s"events:$d", Seq("user_id", "event_id"), nFiles = 16)
    graft.sinks.Layout.readPruned(s, dir, stats, "user_id", lo = 4, hi = 7)
  }

  /** Q77 — exact global ranking ([[graft.operators.Ranks.globalRank]]),
    * oracle-checked directly: every user's 1-based rank by (spend desc,
    * user_id) against DuckDB's `row_number()` over the same total order.
    * The distributed two-level rank (range partition → local row_number
    * → metadata offset stitch) that q61's ntile is built on, proven
    * hash-exact on its own.
    */
  def q77(s: SparkSession, d: String): DataFrame = {
    val spend = ev(s, d).groupBy(col("user_id"))
      .agg(dsum(col("value"), 2).as("spend"))
    graft.operators.Ranks.globalRank(spend,
        Seq(col("spend").desc, col("user_id").asc), outCol = "rk")
      .select(col("user_id"), col("spend"), col("rk"))
  }

  /** Q78 — deterministic corpus shuffle
    * ([[graft.operators.Corpus.shuffleOrder]]): every document's stable
    * pseudo-random training position — md5-keyed order, rank via the
    * distributed two-level machinery. Oracle: `row_number()` over the
    * identical md5 ordering in DuckDB.
    */
  def q78(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.shuffleOrder(
      docs(s, d).select(col("doc_id")), "doc_id", salt = "graft")

  /** Q79 — deterministic importance sampling
    * ([[graft.operators.Corpus.weightedSample]]): keep each doc with
    * probability `tokens/200` (longer docs kept more — a mixing-pass
    * shape), decided by the content-addressed hash so the sample is
    * replay-stable. Oracle: the identical md5-threshold predicate in
    * DuckDB.
    */
  def q79(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))
    graft.operators.Corpus.weightedSample(
      dd, "doc_id", col("n_tokens") / 200.0, salt = "graft")
  }

  /** Q80 — ordered conversion funnel: users who viewed, then clicked
    * at-or-after their first view, then purchased at-or-after that
    * click — the classic sequence-match analytics scan. Three STACKED
    * per-user windows (each stage's cutoff feeds the next) share ONE
    * hash partitioning, so the whole funnel costs a single shuffle at
    * any scale; the final stage counts are a tiny global aggregate.
    */
  def q80(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = EventOps.filterValid(ev(s, d))
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") >= col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") >= col("t2"), col("ts"))).over(w))
    staged.agg(
      count_distinct(when(col("t1").isNotNull, col("user_id"))).as("n_view"),
      count_distinct(when(col("t2").isNotNull, col("user_id"))).as("n_click"),
      count_distinct(when(col("t3").isNotNull, col("user_id"))).as("n_purchase"))
  }

  /** Q81 — cross-doc duplication profile
    * ([[graft.operators.Corpus.crossDupProfile]]): per doc, the share of
    * its 3-gram shingles found in any other document — the dedup-scope
    * flagging scan. Oracle: the same shingle frequency join in DuckDB.
    */
  def q81(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.crossDupProfile(docs(s, d), "doc_id", "text", n = 3)

  /** Q82 — bigram LM scoring ([[graft.operators.Corpus.bigramSurprisal]]):
    * per-doc mean conditional bigram surprisal under the corpus's own
    * MLE bigram model — the CCNet-shaped LM quality filter one rung
    * above q67's unigrams. Map-side array-shift bigram extraction (no
    * per-doc window shuffle); conditional probabilities assembled on the
    * distinct-bigram table. Oracle: the same zip + count join in DuckDB.
    */
  def q82(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.bigramSurprisal(docs(s, d), "doc_id", "text")

  /** Q83 — snapshot diff ([[graft.operators.Snapshot.changes]]): two
    * deterministic versions of `orders` (keys ≡ 0 mod 13 removed in the
    * new load, ≡ 1 mod 13 added, ≡ 2 mod 13 repriced +100) reconciled
    * into the added/removed/changed delta via ONE full-outer shuffle
    * join — the CDC feed incremental maintenance consumes. Oracle: the
    * same FULL OUTER JOIN + IS DISTINCT FROM ladder in DuckDB.
    */
  def q83(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val old = base.filter(pmod(col("o_orderkey"), lit(13)) =!= 1)
    val neu = base.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(13)) === 2, col("o_totalprice") + 100.0d)
          .otherwise(col("o_totalprice")))
    graft.operators.Snapshot.changes(old, neu,
      keyCols = Seq("o_orderkey"), compareCols = Seq("o_totalprice"))
  }

  /** Q84 — per-group winsorization
    * ([[graft.operators.Corpus.winsorize]]): event values clamped to
    * their event type's [p01, p99] band — the robust-stats outlier trim
    * run before normalization. Cutoffs are exact interpolated
    * percentiles rounded to 6 places before the clamp so both engines
    * cut identically; the clamp is a map-side projection behind one
    * cutoff aggregation. Oracle: `quantile_cont` + the same clamp.
    */
  def q84(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.winsorize(
        ev(s, d).select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value", lo = 0.01, hi = 0.99, outCol = "value_w")
      .select(col("event_id"), col("event_type"), col("value_w"))

  /** Q85 — α-temperature mixture planning
    * ([[graft.operators.Corpus.temperatureMixture]]): per-language
    * sampling weights `p^α / Σ p^α` (α = 0.3, the XLM-R rule) over the
    * corpus's language distribution, plus the expected draws per epoch —
    * the mixture q62's reweight then applies. One count shuffle;
    * everything after runs on the one-row-per-language table. Oracle:
    * the same pow/normalize arithmetic in DuckDB.
    */
  def q85(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.temperatureMixture(docs(s, d), "lang", alpha = 0.3)

  /** Q86 — distribution drift profile ([[graft.operators.Drift.psiProfile]]):
    * events split into reference (even event_id) and current (odd)
    * loads; the current batch binned on the REFERENCE's per-type decile
    * cutoffs, per-bin shares compared via the PSI decomposition — the
    * data-quality monitor run before trusting a new load. Static
    * nine-comparison binning, no lambda, no window. Oracle: the same
    * decile binning + share arithmetic in DuckDB.
    */
  def q86(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("event_id"), col("event_type"), col("value"))
    graft.operators.Drift.psiProfile(
      e.filter(pmod(col("event_id"), lit(2)) === 0),
      e.filter(pmod(col("event_id"), lit(2)) === 1),
      "event_type", "value")
  }

  /** Q87 — per-user modal event type ([[graft.operators.TopK.modePerKey]]):
    * each user's most frequent event_type, ties broken toward the
    * greatest value — deterministic where SQL `mode()` is not. Two
    * partial-aggregating shuffles, no window. Oracle: the count +
    * row_number formulation of the same total order in DuckDB.
    */
  def q87(s: SparkSession, d: String): DataFrame =
    graft.operators.TopK.modePerKey(
      ev(s, d).select(col("user_id"), col("event_type")),
      Seq("user_id"), "event_type")

  /** Q88 — END-TO-END corpus prep: the full training-data pipeline over
    * the non-benchmark corpus in one plan — quality gate (≥ 10 tokens)
    * → exact dedup (min-id survivor per text,
    * [[graft.operators.Dedup.exactDedup]]) → benchmark decontamination
    * (drop docs sharing any 3-gram with the held-out src0 suite,
    * [[graft.operators.Corpus.decontaminate]] as an anti-join) →
    * content-addressed train/val/test split
    * ([[graft.operators.Corpus.splitAssign]]) → per-split doc and token
    * counts. Every stage is an already-oracle-proven operator (q17, q12,
    * q59, q63); this row proves they COMPOSE — the q16/q37 end-to-end
    * pattern for the corpus-prep surface. Oracle: the same four stages
    * chained in DuckDB SQL.
    */
  def q88(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val bench = dd.filter(col("source") === "src0")
    val quality = dd.filter(col("source") =!= "src0")
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
      .filter(col("n_tokens") >= 10)
    val deduped = graft.operators.Dedup.exactDedup(quality, Seq("text"), "doc_id")
    val contaminated = graft.operators.Corpus.decontaminate(
      deduped, bench, "doc_id", "text", n = 3).select(col("doc_id"))
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    graft.operators.Corpus.splitAssign(
        clean.select(col("doc_id"), col("n_tokens")), "doc_id", salt = "graft")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  /** Q89 — per-label embedding centroids
    * ([[graft.operators.Similarity.labelCentroids]]): the class-mean
    * vectors in long form — the prototype/SemDeDup building block.
    * Map-side ×d explode collapses to centroid-sized rows in the
    * partial aggregate; dimension sums are decimal-exact. Oracle: the
    * same zip-unnest + decimal mean in DuckDB.
    */
  def q89(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.labelCentroids(
      Tables.embeddings(s, d), "label", "embedding")

  /** Q90 — intra-class centroid cohesion
    * ([[graft.operators.Similarity.centroidSpread]]): mean cosine of
    * each vector to its own label's centroid — the SemDeDup scoring
    * pass and the first embedding-quality diagnostic. Centroids
    * broadcast back; one corpus shuffle. Oracle: `list(c ORDER BY pos)`
    * + `list_cosine_similarity` in DuckDB.
    */
  def q90(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.centroidSpread(
      Tables.embeddings(s, d), "label", "embedding")

  /** Q91 — top collocations by PMI
    * ([[graft.operators.Corpus.collocations]]): the strongest adjacent
    * token associations above a count floor — phrase mining for
    * vocabulary/tokenizer work. Scored on the distinct-bigram table;
    * rounded before the total-order cut. Oracle: the same PMI join in
    * DuckDB.
    */
  def q91(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.collocations(docs(s, d), "doc_id", "text",
      minCount = 5L, k = 20)

  /** Q92 — int8 scalar quantization of the embedding corpus
    * ([[graft.operators.Quantize.scalarQuantize]]): per-dimension
    * min/max train (one d-row shuffle), then codes as a pure map-side
    * projection against the broadcast stats. Codes are integers, so the
    * oracle match is bit-exact, no rounding tolerance.
    */
  def q92(s: SparkSession, d: String): DataFrame =
    graft.operators.Quantize.scalarQuantize(emb(s, d), "vec_id", "embedding")
      .select(col("id").as("vec_id"), col("pos"), col("code"))

  /** Q93 — cross-document repeated 32-char substrings
    * ([[graft.operators.Dedup.repeatedWindows]]): the exact-substring
    * duplication scan (Lee et al., ACL 2022), hash-prefiltered so only
    * actually-repeated windows ever materialize as strings. Oracle =
    * the naive substring explosion the engine must never shuffle.
    */
  def q93(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.repeatedWindows(docs(s, d), "doc_id", "text",
      width = 32, minDocs = 2)

  /** Q94 — product-quantized ANN with exact re-rank
    * ([[graft.operators.Quantize]]; Jégou et al., TPAMI 2011): the
    * third ANN scale path next to hyperplane LSH (q26) and IVF (q31).
    * Codebooks train on the L2-NORMALIZED corpus (so ADC's inner
    * product approximates cosine) and are cached per corpus dir — the
    * build-once / probe-many lifecycle. Approximate by nature: recall
    * pinned by spec (QuantizeSpec), not a SQL oracle.
    */
  def q94(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val norm = e.select(col("vec_id").as("id"),
      graft.functions.VectorFunctions.l2Normalize(col("embedding")).as("nvec"))
    val books = graft.operators.Quantize.fitPqCached(d, norm, "id", "nvec",
      m = 8, ksub = 16, iters = 5)
    graft.operators.Quantize.pqTopKRefined(e, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", books, k = 10, shortlist = 100)
  }

  /** Q95 — embedding covariance matrix ([[graft.operators.Pca]]): the
    * d × d second-moment pass as ONE typed-aggregator job — each
    * partition ships a single `1 + d + d(d+1)/2` double buffer, never
    * exploded rows. Oracle = the corpus × d² self-join DuckDB can
    * afford at sf and the engine never runs. Rounded to 6 decimals
    * (cross-engine summation-order ulps).
    */
  def q95(s: SparkSession, d: String): DataFrame =
    graft.operators.Pca.covariance(emb(s, d), "embedding", d = 64, scale = 6)

  /** Q96 — spectral projection by fixed-point power iteration
    * ([[graft.operators.Pca.powerProject]]): top-2 directions from 4
    * exact-integer power steps over the 6-decimal-quantized covariance
    * (L∞ normalization, truncating division, integer rank-1
    * deflation — the q133/q148 fixed-point recipe applied to linear
    * algebra), projections as map-side integer folds. Every step
    * replays bit-for-bit in DuckDB HUGEINT CTEs — the full oracle the
    * Jacobi path (spec-pinned in PcaSpec, and still the `Pca.fit`
    * surface) cannot have. Alignment with the true eigenbasis is
    * PcaSpec-pinned on a planted-spectrum corpus.
    */
  def q96(s: SparkSession, d: String): DataFrame =
    graft.operators.Pca.powerProject(emb(s, d), "vec_id", "embedding",
      d = 64, iters = 4)

  /** Q97 — semantic deduplication (SemDeDup, Abbas et al. 2023;
    * [[graft.operators.Dedup.semanticDedup]]): k-means cells bound the
    * pairwise cosine stage, connected components pick lowest-id
    * survivors. τ = 0.42 sits just inside the fixture's cosine tail so
    * real duplicate groups form. EXACT oracle: the whole Lloyd loop is
    * deterministic arithmetic — init = the `nlist` lowest-id vectors,
    * assignment = the [[graft.functions.NearestCentroid]] argmax
    * (sequential dot × 1/√‖c‖², smallest cell on ties), and the
    * centroid update routes per-dim sums through DECIMAL(27,18) (an
    * order-independent fold — a plain avg(double) would make the
    * fitted centroids partition-order-dependent and unreplayable) — so
    * [[q97OracleSql]] unrolls the three iterations verbatim in DuckDB,
    * replays the final assignment, the in-cell cosine pairs, and the
    * q37 recursive component closure. A drift in ANY iteration's
    * assignment or mean hash-fails; SemanticDedupSpec additionally
    * pins planted-cluster semantics.
    */
  def q97(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.semanticDedup(emb(s, d), "vec_id", "embedding",
      nlist = 8, tau = 0.42, iters = 3)

  /** Q98 — dynamic partition pruning over the Hive-partitioned layout
    * ([[graft.sinks.Layout.partitionedCopy]]): the fact side reads the
    * events copy partitioned by `event_type`; the dim side is the
    * above-average-frequency types (count × 5 > total — integer
    * arithmetic, no float boundary). Catalyst inserts a
    * `dynamicpruningexpression` into the fact scan's PartitionFilters,
    * so only the dim's partitions are ever read — the lake-format
    * partition-elimination path, plan-gated in PlanSpec. Oracle = the
    * same join over the unpartitioned table.
    */
  def q98(s: SparkSession, d: String): DataFrame = {
    val src = ev(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    val dir = graft.sinks.Layout.partitionedCopy(src, s"events:$d", "event_type")
    val fact = s.read.parquet(dir)
    val total = src.count()
    val dim = src.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") * 5 > lit(total))
      .select(col("event_type"))
    fact.join(dim, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_v"))
  }

  /** Q99 — BPE tokenizer training ([[graft.operators.Corpus.learnBpe]];
    * Sennrich et al. 2016): 12 merge rules learned from the documents
    * corpus, one partial-aggregated pair-count pass per round. EXACT
    * oracle ([[q99OracleSql]]): the sequential reference semantics —
    * overlapping adjacent-pair counts weighted by word frequency,
    * argmax by (count DESC, left, right) in code-point order, merge
    * applied left-to-right non-overlapping — replay as 12 unrolled CTE
    * rounds under the q102 sentinel-encoding trick (each learned
    * symbol ↦ a private-use code point, so one merge application ≡ one
    * string `replace`); a decode table maps sentinels back to symbol
    * strings for the tie-break and the output. The distributed batch
    * path's ≡-to-sequential property stays BpeSpec-pinned.
    */
  def q99(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.learnBpe(docs(s, d), "text", numMerges = 12)

  /** Q100 — Count-Min frequency sketch
    * ([[graft.operators.Sketches]]; Cormode & Muthukrishnan 2005): the
    * MERGEABLE counter grid — one grid per partition through the
    * shuffle, elementwise adds — with the exact top-20 alongside so the
    * never-underestimate guarantee is visible in the output. The grid
    * is deterministic given the affine family, and the JVM's wrapping
    * 64-bit hash replays exactly in HUGEINT mod-2^64 arithmetic — the
    * oracle rebuilds the (depth, slot) grid and takes the same min.
    * The CMS guarantees (est ≥ exact, merge ≡ one-pass, error ≤ bound)
    * stay spec-pinned (SketchesSpec).
    */
  def q100(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketches.heavyHittersWithEstimates(
      ev(s, d), "user_id", k = 20)

  /** Q101 — composed IVF-PQ ANN ([[graft.operators.Quantize.ivfPqTopK]];
    * Jégou et al. 2011 end-to-end): coarse cells bound WHICH rows score,
    * PQ codes bound WHAT is read to score them, exact re-rank restores
    * precision. Index cached per corpus (build-once / probe-many).
    * EXACT oracle since both trainers went replay-stable (decimal-mean
    * Lloyd loops): [[q101OracleSql]] unrolls the coarse quantizer, the
    * residual PQ books, the multiprobe routing, the bias+LUT ADC fold,
    * and the re-rank — the recall-vs-exact property stays spec-pinned
    * (QuantizeSpec), but the computation is oracle-checked bit for bit.
    */
  def q101(s: SparkSession, d: String): DataFrame =
    // nProbe = 6 of 16 cells (multiprobe) + a 100-row shortlist +
    // RESIDUAL codes (books quantize v − centroid; ADC adds the
    // per-(probe, cell) p·centroid bias): BASELINE.md `pq_recall`'s
    // frontier point — recall@10 0.95 on the fixture vs 0.6–0.7 at the
    // old (4, 50, raw-code) corner; scoring still touches only m-byte
    // codes
    graft.operators.Quantize.ivfPqTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, nlist = 16, nProbe = 6,
      shortlist = 100, cacheKey = Some(d), residual = true)

  /** Q102 — BPE apply ([[graft.operators.Corpus.bpeStats]]): tokenize
    * the corpus under a PINNED production merge table (the inference
    * face of a trained tokenizer — GPT-2-style fixed published vocab,
    * applied corpus-wide) and report per-doc subword compression. The
    * merge list chains deliberately (t+a→ta, ta+b→tab, l+e→le,
    * tab+le→table) so multi-symbol merges are exercised. Exact oracle:
    * because every symbol is one "character" under a sentinel encoding
    * (merged symbols ↦ private-use code points), one left-to-right
    * non-overlapping merge pass ≡ one string `replace`, so DuckDB
    * replays the whole application as a sequential replace chain and
    * the per-doc subword counts match bit-for-bit. The LEARNED-merge
    * path (q99's output fed back in) stays covered by BpeSpec, which
    * pins monotonicity and the zero-merge identity.
    */
  def q102(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.bpeStats(docs(s, d), "doc_id", "text", q102Merges)

  /** The pinned q102 merge table — mirrored symbol-for-symbol by the
    * sentinel replace chain in the q102 oracle SQL; keep both in sync.
    */
  private val q102Merges: Array[(String, String)] = Array(
    ("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"),
    ("a", "r"), ("p", "ar"), ("s", "c"), ("a", "n"))

  /** Q103 — df-cap boilerplate pruning
    * ([[graft.operators.Corpus.pruneHighDfTokens]]): tokens in > 60 % of
    * documents dropped everywhere, text reassembled in order. One
    * vocabulary shuffle builds the document-frequency table; the stop
    * set is bounded independent of corpus size (see operator scaladoc)
    * and applies map-side as a sorted literal.
    */
  def q103(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.pruneHighDfTokens(docs(s, d), "doc_id", "text", maxDfPct = 60)

  /** Q104 — Bloom-prefiltered decontamination
    * ([[graft.operators.Corpus.decontaminateBloom]]): q59's semantics
    * through the inverted-scale path — an auto-sized (~10 bits/key)
    * Bloom of the benchmark shingles probes map-side (codegen'd, no
    * broadcast hash set), the
    * exact shuffle-join confirms. Same oracle as q59: the bloom only
    * prunes, never decides.
    */
  def q104(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    graft.operators.Corpus.decontaminateBloom(
      dd.filter(col("source") =!= "src0"), dd.filter(col("source") === "src0"),
      "doc_id", "text", n = 3, broadcastBench = false)
  }

  /** Q105 — incremental near-dup
    * ([[graft.operators.Dedup.incrementalNearDup]]): the `src1` slice
    * arrives as today's batch, probed against the rest of the corpus
    * for cross near-duplicates at Jaccard ≥ 0.7. Batch side broadcasts
    * (buckets + shingle sets); the standing corpus never shuffles —
    * oracle is the exact brute-force cross Jaccard on the same split.
    */
  def q105(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    graft.operators.Dedup.incrementalNearDup(
      dd.filter(col("source") === "src1"), dd.filter(col("source") =!= "src1"),
      "doc_id", "text")
  }

  /** Q111 — the PREPARED-index daily cycle, end to end: the standing
    * corpus's near-dup index is computed once, stored to parquet, read
    * back, and today's batch is probed against the STORED state
    * ([[graft.operators.Dedup.prepareNearDupIndexStored]] →
    * [[graft.operators.Dedup.incrementalNearDupPrepared]]) — corpus
    * text is never touched on the probe path. Result ≡ q105 (same
    * split, same threshold), so the same brute-force cross-Jaccard
    * oracle certifies the store-and-probe shape, not just the
    * in-memory one.
    */
  def q111(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val index = graft.operators.Dedup.prepareNearDupIndexStored(
      dd.filter(col("source") =!= "src1"), "doc_id", "text",
      cacheKey = s"neardup:$d")
    graft.operators.Dedup.incrementalNearDupPrepared(
      dd.filter(col("source") === "src1"), index, "doc_id", "text")
  }

  /** Q112 — PII redaction ([[TextFunctions.redactPii]]): the scrub pass
    * a corpus runs before leaving its enclave. The fixture text is
    * synthetic, so each row plants a deterministic email, IPv4, and
    * 9-digit ID derived from its `doc_id` — the redaction provably
    * fires on EVERY row, and the oracle plants and scrubs the same
    * strings. Pure map-side `regexp_replace` chain: no shuffle, no
    * UDF, patterns restricted to the RE2 ∩ Java common subset so both
    * engines execute the same source regexes.
    */
  def q112(s: SparkSession, d: String): DataFrame = {
    val t2 = concat_ws(" ", col("text"),
      concat(lit("user"), col("doc_id"), lit("@mail.example.org")),
      concat(lit("10.20."), pmod(col("doc_id"), lit(256)), lit(".9")),
      (col("doc_id") + lit(100000000L)).cast("string"))
    docs(s, d).select(col("doc_id"), TextFunctions.redactPii(t2).as("clean"))
  }

  /** Q113 — per-source corpus datasheet (Gebru et al., "Datasheets for
    * Datasets", 2018 — the governance summary shipped WITH a training
    * corpus): per source, document count, total token volume, mean
    * tokens per document, language spread, and the exact-duplicate
    * count (docs minus distinct content fingerprints, q20's md5 of
    * whitespace-normalized lowercase text). One partial-aggregating
    * shuffle on `source`; the token count and fingerprint are map-side
    * projections, and the mean divides two exact aggregates so both
    * engines agree bit-for-bit.
    */
  def q113(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("source"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("__tk"),
        TextFunctions.fingerprint(col("text")).as("__fp"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tk")).as("n_tokens"),
        NumFunctions.roundNz(
          sum(col("__tk")).cast("double") / count(lit(1)), 6).as("mean_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("__fp"))).as("n_exact_dups"))

  /** Q114 — gap-based sessionization
    * ([[graft.operators.TimeSeries.sessionize]]): each user's valid
    * events split into sessions at 30-minute silences, one summary row
    * per session — the canonical event-log rollup the reference's
    * telemetry domain feeds (per-entity activity bursts). One window
    * exchange tags rows (lag + prefix sum share a single sort) and the
    * session aggregate reuses that partitioning — a single shuffle end
    * to end. Exact-microsecond arithmetic throughout.
    */
  def q114(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.sessionize(
      EventOps.filterValid(ev(s, d)), "user_id", "ts", "event_id",
      gapSeconds = 1800)

  /** Q115 — inverted index ([[graft.operators.Corpus.invertedIndex]]):
    * per token, document frequency and the 20 lowest doc ids as a
    * bounded posting preview. ONE aggregation produces both outputs —
    * `count` plus a bounded top-k heap — so a stop word shuffles at
    * most 21 values per map partition, never its full posting list.
    */
  def q115(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.invertedIndex(docs(s, d), "doc_id", "text",
      maxPostings = 20)

  /** Q116 — two-sample Kolmogorov–Smirnov drift
    * ([[graft.operators.Drift.ksProfile]]): q86's even/odd event split
    * compared per event type by maximum CDF separation over the
    * reference-decile bins (location-shift detector; PSI reads density
    * ratios). Bin counts cost one partial-aggregating shuffle per side;
    * the CDF window runs over ≤ 10 rows per group.
    */
  def q116(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        pmod(col("event_id"), lit(2)).as("__side"))
    graft.operators.Drift.ksProfile(
      e.filter(col("__side") === 0).drop("__side"),
      e.filter(col("__side") === 1).drop("__side"),
      "event_type", "value")
  }

  /** Q117 — per-source distinctive vocabulary
    * ([[graft.operators.Corpus.distinctiveTerms]]): Monroe et al.
    * "Fightin' Words" log-odds (+0.5 prior) of each source's token
    * usage against the rest of the corpus, top 10 terms per source by
    * z — the qualitative companion to q113's volume datasheet. Count
    * shuffle + broadcast totals + bounded per-source heap.
    */
  def q117(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.distinctiveTerms(docs(s, d), "source", "text",
      k = 10)

  /** Q118 — blocklist dry-run ([[graft.operators.Corpus.blocklistProfile]]):
    * per-source count and share of documents containing any
    * blocklisted token (the C4 bad-words gate, reported before
    * destructive filtering). Hashed-set membership rides map-side in
    * [[graft.functions.StringArrayExceptSet]]; the only shuffle is the
    * source-count aggregate.
    */
  def q118(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.blocklistProfile(docs(s, d), "source", "text",
      blocked = Seq("dup", "xyzzy"))

  /** Q119 — greedy token-budget selection
    * ([[graft.operators.Corpus.budgetSelect]]): documents ranked by
    * q18's quality score are kept best-first while the running token
    * total stays within a 10 000-token budget — the prefix cut a
    * curation pipeline uses to hit a corpus token target. The global
    * prefix sum over the quality order is the two-level packSequences
    * decomposition (priority quantized to 1 024 buckets, windows only
    * WITHIN a bucket), never one task sorting the corpus.
    */
  def q119(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val scored = docs(s, d).select(col("doc_id"),
      TextFunctions.qualityScore(toks).as("score"),
      size(toks).cast("long").as("n_tokens"))
    graft.operators.Corpus.budgetSelect(scored, "doc_id",
        col("score"), col("n_tokens"), budget = 10000L,
        bucket = least(lit(1023), floor((lit(1.0) - col("score")) * 1024)))
      .withColumnRenamed("priority", "score")
  }

  /** Q120 — deterministic uniform sample
    * ([[graft.operators.Corpus.hashSample]]): the 100 documents with
    * the smallest `md5(doc_id)` — hash-rank sampling, the distributed,
    * rerun-stable replacement for reservoir sampling (the sample is a
    * pure function of the ids). Plans TakeOrdered (per-partition
    * heaps); the rank window runs over the 100 selected rows only.
    */
  def q120(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.hashSample(
      docs(s, d).select(col("doc_id"), col("source"), col("lang")),
      "doc_id", k = 100)

  /** Q121 — language audit: declared `lang` column vs q19's detected
    * language, as a confusion matrix `(declared, detected, n_docs)` —
    * the metadata-trust check a multi-source corpus runs before
    * filtering on either label. Detection is map-side; the only
    * shuffle is the matrix aggregate (≤ |langs|² rows).
    */
  def q121(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("lang").as("declared"),
        TextFunctions.langId(col("text")).as("detected"))
      .groupBy(col("declared"), col("detected"))
      .agg(count(lit(1)).as("n_docs"))

  /** Q122 — per-document n-gram novelty
    * ([[graft.operators.Dedup.ngramNovelty]]): the fraction of each
    * document's distinct shingles first seen in THAT document (lowest
    * doc id wins) — the crawl-freshness curve. One shingle-scale
    * shuffle (partial-aggregated min per 8-byte hash); everything
    * after is document-scale.
    */
  def q122(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.ngramNovelty(docs(s, d), "doc_id", "text")

  /** Q123 — out-of-vocabulary rate ([[graft.operators.Corpus.oovRate]]):
    * per-document OOV fraction against the corpus's own top-20 token
    * vocabulary — the tokenizer-coverage check. One tf shuffle, a
    * TakeOrdered vocabulary cut, then a zero-exchange hashed-set probe
    * (q103's apply shape, set inverted).
    */
  def q123(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.oovRate(docs(s, d), "doc_id", "text", vocabSize = 20)

  /** Q124 — curation filter funnel
    * ([[graft.operators.Corpus.filterFunnel]]): the C4/Gopher gate
    * sequence (token bounds → repetition → quality → language) as a
    * per-stage waterfall. Map-side flags; the only shuffle is one
    * 6-counter aggregate row.
    */
  def q124(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.filterFunnel(docs(s, d), "doc_id", "text")

  /** Q125 — context-window chunking
    * ([[graft.operators.Corpus.chunkWindows]]): 32-token training
    * windows stepping by 24 (8-token overlap) — documents → fixed-size
    * examples. Pure map-side explode, zero exchanges (plan-gated).
    */
  def q125(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.chunkWindows(docs(s, d), "doc_id", "text",
      window = 32, stride = 24)

  /** Q126 — deterministic mixture sampling
    * ([[graft.operators.Corpus.mixtureSample]]): even-numbered sources
    * kept at 75 %, odd at 25 % — per-source training-mix weights
    * applied as a pure function of row identity (rerun-stable, no
    * `rand()`). Map-side only; the rate table is a literal when-chain.
    */
  def q126(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.mixtureSample(docs(s, d), "doc_id", "source",
      rates = (0 until 20).map(i =>
        s"src$i" -> (if (i % 2 == 0) 0.75 else 0.25)).toMap)

  /** Q127 — per-source document cap
    * ([[graft.operators.Corpus.capPerGroup]]): no source may contribute
    * more than 15 documents; when one would, only its 15 best by q18's
    * quality score survive (ties broken by doc id) — RefinedWeb's
    * domain cap / C4's host balancing as an exact, deterministic cut.
    * One partitioned window (hash exchange on `source` + per-group
    * sort); never a global sort.
    */
  def q127(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.capPerGroup(
      docs(s, d).select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(TextFunctions.tokens(col("text"))).as("score")),
      "source", "doc_id", col("score"), k = 15)

  /** Q128 — segment-level exact dedup
    * ([[graft.operators.Corpus.segmentDedup]]): CCNet's duplicated-line
    * removal over 8-token segments — any segment occurring more than
    * once in the corpus is dropped and survivors are stitched back in
    * order, so exact-duplicate documents (the fixture plants them) are
    * scrubbed to empty while unique prose passes through. Segment rows
    * shuffle as 8-byte hashes; three segment-scale exchanges end to
    * end.
    */
  def q128(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.segmentDedup(docs(s, d), "doc_id", "text",
      width = 8)

  /** Q129 — EXACT set-similarity self-join by prefix filtering
    * ([[graft.operators.Dedup.setSimJoinPrefix]], PPJoin family):
    * every document pair with shingle Jaccard ≥ 0.5 — no w.h.p.
    * qualifier, the provably-complete dedup audit next to q22's LSH.
    * Rarest-first prefixes keep candidate buckets small; the oracle is
    * the same brute-force all-pairs scan as q22 at the lower
    * threshold, so the EXACT claim is what the hash check certifies.
    */
  def q129(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.setSimJoinPrefix(docs(s, d), "doc_id", "text",
      thresholdNum = 1, thresholdDen = 2)

  /** Q130 — robust outlier profile ([[graft.operators.Drift.madOutliers]]):
    * per event type, values beyond 3 MADs of the median — the
    * 50 %-breakdown screen that mean±kσ is not. Exact medians; the
    * outlier comparison runs on unrounded estimates in both engines.
    */
  def q130(s: SparkSession, d: String): DataFrame =
    graft.operators.Drift.madOutliers(
      ev(s, d).filter(col("value").isNotNull), "event_type", "value", k = 3.0)

  /** Q131 — Heaps-law vocabulary growth
    * ([[graft.operators.Corpus.heapsCurve]]): cumulative tokens vs
    * cumulative distinct tokens every 50 document ids. First-occurrence
    * min-aggregation makes cumulative-distinct one token-scale shuffle;
    * the running sums window over bucket rows only.
    */
  def q131(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.heapsCurve(docs(s, d), "doc_id", "text",
      bucketWidth = 50L)

  /** Q132 — CCNet perplexity buckets
    * ([[graft.operators.Corpus.perplexityBuckets]]): q67's unigram
    * surprisal score cut into head/middle/tail thirds by
    * [[graft.operators.Ranks.ntileExact]] — the Wenzek et al. 2019
    * quality-tier split, with a bit-reproducible bucket edge (rounded
    * score + id tie-break, no partition-less data window).
    */
  def q132(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.perplexityBuckets(docs(s, d), "doc_id", "text",
      k = 3)

  /** Q133 — token-graph PageRank ([[graft.operators.Graph.pageRank]]):
    * 5 damped iterations over the distinct bigram-adjacency graph
    * ([[graft.operators.Corpus.bigramEdges]]), top-50 nodes. Rank state
    * is fixed-point 64-bit integer (1e12 units) — exact arithmetic, so
    * an iterative float-free oracle can replay it move for move; the
    * final cut is TakeOrdered on `(rank_units desc, node)`.
    */
  def q133(s: SparkSession, d: String): DataFrame =
    graft.operators.Graph.pageRank(
        graft.operators.Corpus.bigramEdges(docs(s, d), "doc_id", "text"),
        "src", "dst", iterations = 5, dampingPct = 85)
      .orderBy(col("rank_units").desc, col("node").asc)
      .limit(50)

  /** Q134 — tokenizer fertility per language: subword-per-word ratio
    * (q29's BPE-ish token count over q17's whitespace words), the
    * cross-lingual tokenizer-equity diagnostic (a high-fertility
    * language pays more sequence length for the same text). Map-side
    * counts; one ≤|langs|-row aggregate; integer sums so the ratio is
    * an exact-input double.
    */
  def q134(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("lang"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("__bpe"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("__ws"))
      .groupBy(col("lang"))
      .agg(sum(col("__bpe")).as("n_bpe"), sum(col("__ws")).as("n_words"),
        NumFunctions.roundNz(
          sum(col("__bpe")).cast("double") / sum(col("__ws")), 6).as("fertility"))

  /** Q135 — Zipf-law fit ([[graft.operators.Corpus.zipfFit]]): the
    * least-squares slope of ln(count) vs ln(rank) over the top-50
    * vocabulary — one row of corpus health. Decimal-routed logs make
    * the k-row regression bit-stable; the fit never sees the corpus.
    */
  def q135(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.zipfFit(docs(s, d), "text", k = 50)

  /** Q136 — hard-negative mining
    * ([[graft.operators.Similarity.hardNegatives]]): for 5 anchor
    * embeddings, the 5 most-similar vectors carrying a DIFFERENT
    * label — the contrastive-training negatives that teach the margin.
    * Anchors broadcast; the corpus is scored in one pass with the
    * label filter map-side; ranking is the bounded-heap aggregate.
    */
  def q136(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.hardNegatives(
      e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "label", k = 5)
  }

  /** Q137 — curriculum ordering
    * ([[graft.operators.Corpus.curriculumOrder]]): q18's quality score
    * ranks each source easy→hard and sources interleave round-robin
    * into one global `position` — difficulty rises per source while
    * every training window stays source-mixed. One keyed window; the
    * source-index table is metadata-scale.
    */
  def q137(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.curriculumOrder(
      docs(s, d).select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(TextFunctions.tokens(col("text"))).as("score")),
      "doc_id", "source", col("score"))

  /** Q138 — quality-threshold sweep
    * ([[graft.operators.Corpus.thresholdSweep]]): per-source keep
    * count/rate at every cutoff i/20 over q18's quality score — the
    * calibration curve read before committing a filter threshold. One
    * bucketing pass; the sweep windows over the dense |sources|×20
    * metadata grid.
    */
  def q138(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.thresholdSweep(
      docs(s, d).select(col("source"),
        TextFunctions.qualityScore(TextFunctions.tokens(col("text"))).as("score")),
      "source", col("score"), steps = 20)

  /** Q147 — LSH-candidate bitext mining
    * ([[graft.operators.Similarity.marginMiningAnn]]): q144's margin
    * miner with random-hyperplane candidate generation — neither side
    * broadcasts, only bucket-sharing pairs are scored, the candidate
    * table persists. The probe side multiprobes its 2 least-confident
    * bit flips per table (recall 15/16 vs 13/16 planted-mate floor;
    * the tables-vs-probes cost trade is measured in BASELINE.md
    * `ann_mine_recall`). Runs in PORTABLE-plane mode (MD5 Rademacher
    * ±1, the q26/q27 discipline), so the EXACT oracle
    * ([[q147OracleSql]]) rebuilds every table's per-bit dots, the base
    * signatures, the 2 least-confident flips, the bucket join, and
    * q144's margin machinery over the candidate set — bucketing
    * included, bit for bit. The production Gaussian mode's recall
    * stays SimilaritySpec-pinned (partner agreement with q144).
    */
  def q147(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.marginMiningAnn(
      e.filter(pmod(col("vec_id"), lit(2)) === 0),
      e.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", k = 4, portablePlanes = true)
  }

  /** Q148 — learned quality classifier
    * ([[graft.operators.QualityClassifier.train]]): 3 full-batch
    * fixed-point gradient steps of a hashed-bag-of-words linear
    * classifier (hard-sigmoid link, LMS update, 1e6-unit weights)
    * against the integer distinct-ratio label — the trained corpus
    * filter of the CCNet/GPT-3/LLaMA recipes. All arithmetic is exact
    * 64-bit integer, so the oracle replays the 3 steps as unrolled
    * CTEs bit for bit. Per iteration: map-side scoring + one dim-sized
    * gradient shuffle. Training is session-memoized (trainCached) —
    * the q150/q162/q163/q166 evaluation family reuses this one run.
    */
  def q148(s: SparkSession, d: String): DataFrame =
    graft.operators.QualityClassifier.weightsTable(s,
      graft.operators.QualityClassifier.trainCached(d, docs(s, d),
        "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L))

  /** Q149 — DSIR domain selection ([[graft.operators.Corpus.dsirSelect]];
    * Xie et al. 2023, deterministic top-k form): the `src0` slice plays
    * the domain sample, the rest of the corpus is the raw pool, and the
    * 100 highest importance-weight raw documents are kept. Bucket
    * log-ratios frozen into integer 1e-6 units (the q148 fixed-point
    * recipe), so the oracle replays rank-for-rank.
    */
  def q149(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    graft.operators.Corpus.dsirSelect(
      dd.filter(col("source") =!= "src0"), dd.filter(col("source") === "src0"),
      "doc_id", "text", dim = 256, k = 100)
  }

  /** Q180 — TPC-H Q18 (large-volume orders): customers whose orders
    * total more than 300 units — the classic large-group
    * `HAVING sum(qty) > n` SEMI-JOIN planner stressor. The qualifying
    * key set comes from one partial-aggregating pass over lineitem and
    * re-enters as a left-semi on `l_orderkey`, so lineitem shuffles
    * ONCE on the key both the semi and the orders join reuse; AQE
    * decides whether the (selective) key set broadcasts. Quantity sums
    * route through DECIMAL(18,2); the final order is total
    * (totalprice desc, date, orderkey).
    */
  def q180(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val l = Tables.lineitem(s, d)
    val big = l.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("__q"))
      .filter(col("__q") > 300)
      .select(col("l_orderkey").as("__bk"))
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    l.join(big, l("l_orderkey") === col("__bk"), "left_semi")
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
        col("o_orderkey").asc)
      .limit(100)
  }

  /** Q181 — TPC-H Q21 join shape (sole implicated supplier): for
    * finalized orders with a RETURNED item, the suppliers who were the
    * ONLY supplier with a return among an order's several suppliers —
    * the classic multi-EXISTS / NOT-EXISTS self-join stressor (the
    * fixture lacks commit/receipt dates, so `l_returnflag = 'R'` plays
    * the "failed the order" role; the join geometry is Q21's exactly).
    * The returned-line table semi-joins lineitem (another supplier
    * exists), anti-joins the returned subset (no OTHER supplier
    * returned), semi-joins 'F' orders — all three legs co-partitioned
    * on `l_orderkey` — then the nation-filtered supplier dim
    * broadcasts for the count.
    */
  def q181(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val late = l.filter(col("l_returnflag") === "R")
    val l1 = late.select(col("l_orderkey").as("__ok"), col("l_suppkey").as("__sk"))
    val others = l.select(col("l_orderkey").as("__ok2"), col("l_suppkey").as("__sk2"))
    val lateOthers = late.select(col("l_orderkey").as("__ok3"),
      col("l_suppkey").as("__sk3"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    l1.join(others, col("__ok") === col("__ok2") && col("__sk") =!= col("__sk2"),
        "left_semi")
      .join(lateOthers,
        col("__ok") === col("__ok3") && col("__sk") =!= col("__sk3"), "left_anti")
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("__ok") === col("o_orderkey"), "left_semi")
      .join(broadcast(sup), col("__sk") === col("s_suppkey"))
      .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  /** Q182 — perceptual image near-dup (dHash;
    * [[graft.multimodal.Multimodal.imageDHash]] /
    * [[graft.multimodal.Multimodal.hammingNearDupPairs]]): each document
    * renders a deterministic 9×8 gradient PNG — pattern parameters
    * from `doc_id % 25` (so ~4 % of docs share each pattern) plus a
    * PER-DOC brightness shift dHash must cancel — decodes through the
    * real JDK codec, hashes, and pairs by the lossless 4×16-bit-band
    * Hamming join (ham ≤ 3 ⇒ one clean band, pigeonhole). The image
    * dedup class exact payload hashing misses: re-encoded and
    * brightness-shifted copies. Oracle: the gradient luma is
    * arithmetic in doc_id, so DuckDB rebuilds every doc's bit set and
    * brute-forces all pairs — a hash match proves the whole
    * render → PNG bytes → decode → grid → hash → banded-join path.
    */
  def q182(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
      .map { id =>
        val g = (id % 25).toInt
        Multimodal.MediaRow(id, "image",
          Multimodal.renderQuadGradPng(9, 8, offset = g,
            shift = (id % 3).toInt * 4),
          9, 8, 0)
      }
    // decoded = false rows carry hash 0L — pairing them would report any
    // two corrupt payloads as exact duplicates, so drop them before banding
    val hashes = Multimodal.imageDHash(media)
      .filter(col("decoded"))
      .select(col("media_id").as("doc_id"), col("dhash"))
    Multimodal.hammingNearDupPairs(hashes, "doc_id", "dhash", maxHamming = 3)
  }

  /** Q197 — transform-invariant image near-dup (dihedral-canonical
    * hash; [[graft.multimodal.Multimodal.imageDihedralHash]] /
    * [[graft.multimodal.Multimodal.hammingNearDupPairs]]): each
    * document renders q182's quadratic-gradient pattern on an 8×8
    * grid THROUGH a dihedral transform (`doc_id % 8` — a mirrored or
    * rotated re-upload) plus the per-doc brightness shift, decodes
    * through the real JDK codec, and hashes to the MINIMUM over all 8
    * grid isometries of the 56-bit difference hash — so every
    * transform of the same pattern collapses to one canonical value
    * (D4 closure), the duplicate class plain dHash (q182) misses by
    * ~30 bits. Pairing is the same lossless 4×16-bit-band Hamming
    * join. Oracle: luma, transform table, per-variant bit packing,
    * min, and the all-pairs Hamming brute force all replay in integer
    * SQL — a transform-composition bug anywhere hash-fails.
    */
  def q197(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
      .map { id =>
        Multimodal.MediaRow(id, "image",
          Multimodal.renderDihedralGradPng(offset = (id % 25).toInt,
            shift = (id % 3).toInt * 4, t = (id % 8).toInt),
          8, 8, 0)
      }
    val hashes = Multimodal.imageDihedralHash(media)
      .filter(col("decoded"))
      .select(col("media_id").as("doc_id"), col("dhash"))
    Multimodal.hammingNearDupPairs(hashes, "doc_id", "dhash", maxHamming = 3)
  }

  /** Q184 — perceptual audio near-dup (envelope hash;
    * [[graft.multimodal.Multimodal.audioEnvelopeHash]]): each document
    * renders a deterministic 65-step amplitude-staircase WAV — step
    * heights from `doc_id % 20`, scaled by a PER-DOC gain the
    * energy-contour hash must cancel — decodes through the real JDK
    * codec, fingerprints window-energy deltas into 64 bits, and pairs
    * by the same lossless Hamming-band join as q182
    * ([[graft.multimodal.Multimodal.hammingNearDupPairs]]). The audio
    * dedup class byte hashing misses: re-encoded and gain-changed
    * copies. Oracle: window energy is pure doc_id arithmetic (square
    * wave: every sample is ±step height; windows align with steps), so
    * DuckDB rebuilds every clip's bit set and brute-forces all pairs.
    */
  def q184(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread — the q43 audio-registry contention note applies
    val media = docs(s, d)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val g = (id % 20).toInt
        val gain = 1 + (id % 4).toInt
        val amps = Array.tabulate(65) { st =>
          val t = st + g * 5 + 1
          ((t * t * 7) % 97 + 1) * gain
        }
        Multimodal.MediaRow(id, "audio",
          Multimodal.renderSteppedWav(amps, samplesPerStep = 64,
            sampleRate = 8000),
          0, 0, 8000)
      }
    val hashes = Multimodal.audioEnvelopeHash(media, windows = 65)
      .filter(col("decoded"))
      .select(col("media_id").as("doc_id"), col("ahash"))
    Multimodal.hammingNearDupPairs(hashes, "doc_id", "ahash", maxHamming = 3)
  }

  /** The q186/q189 dense per-type index: `(event_type, idx, v)` with
    * `idx` = 1-based position of each event within its type by
    * event_id. Derived via [[graft.operators.Ranks.perKeyRank]] — the
    * two-level range-partitioned rank — NOT a
    * `row_number() OVER (PARTITION BY event_type ...)` window:
    * event_type has ~5 values, so the keyed window would sort N/5 rows
    * in ONE task per key at any scale; the two-level shape spreads
    * every hot key across the range split (PlanSpec gates it).
    */
  private def ssdBase(s: SparkSession, d: String): DataFrame =
    graft.operators.Ranks.perKeyRank(
      ev(s, d).filter(col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"), col("event_id"),
          col("value").cast("double").as("v")),
      Seq("event_type"), Seq(col("event_id")), outCol = "idx")

  /** Q186 — subsequence similarity search
    * ([[graft.operators.TimeSeries.ssdTopK]]): the 20 length-8 windows
    * across all per-type value sequences closest (sum of squared
    * differences, DECIMAL(38,12) terms) to the first type's opening
    * 8-value pattern — "where does this sensor signature recur".
    * Probe broadcasts as 8 rows; each series row fans out to ≤ 8
    * windows feeding one partial-aggregating (type, start) shuffle and
    * a bounded TakeOrdered cut. Exact oracle: the same window algebra
    * over `row_number` sequences.
    */
  def q186(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val base = ssdBase(s, d)
    val probeType = base.agg(min(col("event_type"))).head().getString(0)
    val probe = base
      .filter(col("event_type") === probeType && col("idx") <= 8)
      .orderBy("idx").select("v").as[Double].collect()
    // the DuckDB twin hard-codes complete windows as n = 8: a shorter
    // probe (first type has < 8 rows) must fail loudly here, not
    // silently diverge from the oracle's window-length literal
    require(probe.length == 8,
      s"q186 probe must be exactly 8 values (oracle pins n = 8), got ${probe.length}")
    graft.operators.TimeSeries.ssdTopK(base, "event_type", "idx", "v",
      probe, k = 20)
  }

  /** Q189 — LARGE-probe subsequence search through the PAA
    * propose/verify path ([[graft.operators.TimeSeries.ssdTopKPaa]]):
    * q186's shape at L = 64 (segments = 8) — the probe is the first
    * type's values at positions 101–164, and the top-15 closest
    * windows anywhere are found by the PAA lower-bound prune + exact
    * DECIMAL verify. Because the PAA path is output-identical to the
    * exact operator (TimeSeriesSpec pins it), the oracle is the SAME
    * exact window algebra as q186's — which means the whole
    * propose/seed/τ-prune machinery is oracle-checked end to end, not
    * just spec-pinned.
    */
  def q189(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    // the ranked base feeds THREE actions (probe-type min, the probe
    // collect, and the search itself) — persist it or perKeyRank's
    // two-level rank recomputes per action (~1 s each at sf0.1). Safe
    // to release before returning: ssdTopKPaa materializes its ≤ k
    // result rows eagerly, so the returned frame never re-reads base
    val base = ssdBase(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probeType = base.agg(min(col("event_type"))).head().getString(0)
      val probe = base
        .filter(col("event_type") === probeType &&
          col("idx").between(101, 164))
        .orderBy("idx").select("v").as[Double].collect()
      require(probe.length == 64,
        s"q189 probe must be exactly 64 values (oracle pins n = 64), got ${probe.length}")
      graft.operators.TimeSeries.ssdTopKPaa(base, "event_type", "idx", "v",
        probe, k = 15, segments = 8)
    } finally base.unpersist(blocking = false)
  }

  /** Q190 — unigram-LM tokenizer apply
    * ([[graft.operators.Unigram.unigramStats]]): the corpus tokenized
    * under a PINNED unigram vocabulary (q102's fixed-published-vocab
    * shape for the SECOND production tokenizer family — SentencePiece's
    * unigram model), reporting per-doc piece counts and total integer
    * cost. The pinned costs are chosen so the Viterbi DP actually
    * decides: `table` must take tab+le over the whole-word piece (the
    * whole word costs MORE than the split), `join` must beat jo+in on
    * the fewest-pieces tie-break at EQUAL cost, `dup` exercises
    * the single-char UNK fallback (`u` is deliberately absent), and
    * the 6-code-point pieces `filter`/`window` must WIN over their
    * splits (fil+ter / wind+ow cost more) — `maxPieceLen = 6`, so
    * every pinned vocab entry is reachable by the DP.
    *
    * Exact oracle: the packed-integer Viterbi (`cost·64 + pieces`,
    * integer min) replays in SQL as a 16-level unrolled shortest-path
    * over distinct word chunks — generated programmatically in
    * [[q190OracleSql]], same pinned vocab literal, same UNK constant,
    * same 16-code-point chunk contract. The LEARNED-vocab path
    * ([[graft.operators.Unigram.learnUnigram]]) is pinned by
    * UnigramSpec against an independent sequential reference trainer
    * instead (data-dependent vocab — same reasoning as q99).
    */
  def q190(s: SparkSession, d: String): DataFrame =
    graft.operators.Unigram.unigramStats(docs(s, d), "doc_id", "text",
      q190Vocab, maxPieceLen = 6)

  /** Q191 — frame-level video NEAR-dup
    * ([[graft.multimodal.Multimodal.videoNearDupClips]] over
    * [[graft.multimodal.Multimodal.videoFrameDHash]]): recover
    * re-encoded / trimmed / partially-edited clip pairs that the exact
    * sequence hash (q139's frame classes, `videoSequenceHash`'s
    * re-mux catcher) cannot see. Each document renders a 9×8 Y4M clip
    * whose per-frame dHash bits are PLANTED arithmetic — grid column
    * steps of ±4 whose signs come from MD5("v191:gk:c:y:x") low bits
    * (the q26/q27 portable-hash discipline), with gk = doc_id % 40
    * the shared-content group. Encoder generations vary by
    * jit = doc_id % 3: jit 1 trims the head frame and flips one grid
    * sign per frame (1-bit Hamming — the band join must catch it, not
    * hash equality); jit 2 replaces frame 1 with doc-unique MD5 noise
    * (coverage < 1, the 0.6 threshold filters the 2-frame clips).
    * The oracle rebuilds every frame hash from the same MD5 bits,
    * brute-forces ALL frame pairs at Hamming ≤ 3 (the banding is
    * lossless, so candidate-set equality is part of what's checked),
    * and replays the offset-evidence/best-offset/coverage pipeline.
    * Decode runs through the real Y4M codec end-to-end; pixels never
    * shuffle.
    */
  def q191(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .map { case (id, n) =>
        val gk = id % 40
        val jit = (id % 3).toInt
        val f = n % 5 + 2
        val nf = f - (if (jit == 1) 1 else 0)
        val md = java.security.MessageDigest.getInstance("MD5")
        def upBit(key: String): Boolean = {
          val h = md.digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (h(7) & 1) == 1
        }
        val frames = (0 until nf).map { i =>
          val c = if (jit == 1) i + 1 else i
          val noise = jit == 2 && i == 1
          val plane = new Array[Byte](9 * 8)
          var y = 0
          while (y < 8) {
            var l = 128
            plane(y * 9) = l.toByte
            var x = 1
            while (x < 9) {
              val up =
                if (noise) upBit(s"u191:$id:$y:$x")
                else upBit(s"v191:$gk:$c:$y:$x") ^
                  (jit > 0 && x == jit && y == jit)
              l += (if (up) 4 else -4)
              plane(y * 9 + x) = l.toByte
              x += 1
            }
            y += 1
          }
          plane
        }
        Multimodal.MediaRow(id, "video",
          Multimodal.renderPlanesY4m(9, 8, frames), 9, 8, 0)
      }
    Multimodal.videoNearDupClips(media, maxHamming = 3, minCoverage = 0.6)
  }

  /** The pinned q190 vocabulary (piece → integer micro-nat cost) —
    * mirrored literally by the VALUES table in [[q190OracleSql]].
    * Singles cover the corpus alphabet EXCEPT `u` (forcing the UNK
    * path on `dup`); multi pieces are priced to exercise the DP's
    * choices (see [[q190]]).
    */
  private val q190Vocab: Array[(String, Long)] = Array(
    // singles (no 'u' — UNK exercises at 20e6)
    ("a", 2500000L), ("b", 3000000L), ("c", 3000000L), ("d", 3000000L),
    ("e", 2600000L), ("f", 3000000L), ("g", 3000000L), ("h", 3000000L),
    ("i", 2800000L), ("j", 3200000L), ("k", 3000000L), ("l", 2900000L),
    ("m", 3000000L), ("n", 2700000L), ("o", 2600000L), ("p", 3000000L),
    ("q", 3500000L), ("r", 2800000L), ("s", 2700000L), ("t", 2500000L),
    ("v", 3300000L), ("w", 3100000L), ("y", 3400000L),
    // multi-character pieces
    ("th", 1400000L), ("the", 900000L), ("er", 1300000L),
    ("ta", 1500000L), ("tab", 1000000L), ("le", 1000000L),
    ("ble", 1600000L), ("table", 3500000L),
    ("me", 1800000L), ("rge", 2200000L), ("merge", 2000000L),
    ("jo", 1000000L), ("in", 1000000L), ("join", 2000000L),
    ("sp", 1500000L), ("ark", 1700000L), ("spark", 1600000L),
    ("qu", 1500000L), ("ery", 1500000L), ("query", 1400000L),
    ("fil", 1500000L), ("ter", 1400000L), ("filter", 2400000L),
    ("row", 1200000L), ("ow", 1500000L), ("scan", 1300000L),
    ("str", 1500000L), ("eam", 1600000L), ("batch", 1500000L),
    ("wind", 1500000L), ("window", 2600000L),
    ("or", 1300000L), ("der", 1500000L), ("order", 2300000L),
    ("val", 1500000L), ("ue", 1500000L), ("agg", 1200000L),
    ("col", 1400000L), ("umn", 1500000L), ("data", 1300000L),
    ("sl", 1500000L), ("slow", 2000000L), ("fast", 1400000L),
    ("key", 1300000L), ("part", 1400000L), ("small", 1900000L),
    ("hash", 1400000L), ("big", 1300000L),
    ("gr", 1500000L), ("oup", 1600000L), ("group", 2200000L),
    ("li", 1400000L), ("ne", 1300000L), ("line", 1800000L),
    ("cust", 1500000L), ("omer", 1600000L),
    ("vec", 1500000L), ("tor", 1400000L))

  /** q190's exact oracle, generated: the packed-integer Viterbi DP
    * (`v = cost_units·64 + n_pieces`, minimized as ONE integer — cost
    * first, fewest pieces on ties) unrolled to the 16-code-point chunk
    * bound as chained CTEs `dp0..dp16`. Level k extends level j ∈
    * [k−6, k−1]: single-char steps LEFT JOIN the vocab with the
    * 20 000 000-unit UNK fallback; multi-char steps INNER JOIN (no
    * piece, no path). The DP runs over DISTINCT word chunks
    * (vocabulary scale), then joins back through word occurrences to
    * per-document sums — exactly [[graft.functions.UnigramKernel]]'s
    * arithmetic, so the engines hash-match bit-for-bit.
    */
  /** Q192 — unigram tokenizer PIECES face
    * ([[graft.operators.Unigram.unigramTopPieces]] under the q190
    * pinned vocab): the corpus-wide top-30 piece histogram. Piece
    * IDENTITY depends on the full canonical tie-break (cost, fewest
    * pieces, longest-final-piece backtrack) — which is now
    * oracle-checkable because the kernel's packed DP carries the
    * tiebreak as base-`maxPieceLen` DIGITS THAT ARE THE PIECE LENGTHS
    * (`UnigramKernel.chunkPacked`): the oracle replays the same
    * 16-level DP over HUGEINT `v·2^64 + t`, takes the minimum, and
    * DECODES the winning segmentation from t's digits — no backtrack,
    * no arg-min plumbing, identity from two integers. A cost bug, a
    * tie-break divergence, or a digit-packing bug all hash-fail.
    */
  def q192(s: SparkSession, d: String): DataFrame =
    graft.operators.Unigram.unigramTopPieces(docs(s, d), "text",
      q190Vocab, maxPieceLen = 6, k = 30)

  /** Q193 — Gopher-style repetition metrics
    * ([[graft.operators.Corpus.repetitionMetrics]]; Rae et al. 2021
    * Appendix A): the repetition family of quality gates per document —
    * duplicate-line fraction (count and characters), the
    * most-frequent-n-gram character share for n = 2..4, and the
    * duplicated-n-gram character share for n = 5..10. Every column is
    * one integer ÷ integer division rounded to 6 decimals, so the
    * oracle replays all eleven bit for bit (same n-gram join
    * convention, same (count DESC, gram) argmax tie).
    */
  def q193(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.repetitionMetrics(docs(s, d), "doc_id", "text")

  /** Q194 — exact repeated-span profile over the corpus suffix ranking
    * ([[graft.operators.SuffixArray.repeatProfile]]; Lee et al., ACL
    * 2022's exact-substring signal): for every character position the
    * longest suffix prefix (≤ 32 chars) that recurs ANYWHERE in the
    * corpus, collapsed per document into (position count, longest
    * repeated span, positions starting a ≥ 20-char repeat). Hash-free —
    * a window-hash tier (q93) can collide; this measures literal
    * equality via ONE order-32 prefix sort + neighbor LCP. All-integer
    * output: the oracle replays the same sort, the same truncation-as-
    * cap convention, and the same per-position/per-doc collapses.
    */
  def q194(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixArray.repeatProfile(docs(s, d), "doc_id", "text",
      maxOrder = 32, minLen = 20)

  /** Q195 — exact-substring REMOVAL
    * ([[graft.operators.SuffixArray.dedupSpans]]; Lee et al., ACL 2022
    * §4.1's payoff: q194 profiles the repeated spans, this one deletes
    * them): every character covered by a ≥ 20-char span that recurs
    * anywhere in the corpus is dropped (all occurrences — the
    * released-pipeline variant), survivors stitched back in document
    * order. The same order-32 prefix sort feeds the profile and the
    * removal. Oracle: the q194 sort/LCP replay, then the identical
    * running-max interval merge and gap stitch in SQL — clean_text is
    * compared as a STRING, so a single off-by-one in any survivor
    * boundary hash-fails.
    */
  def q195(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixArray.dedupSpans(docs(s, d), "doc_id", "text",
      maxOrder = 32, minLen = 20)

  /** Q196 — cross-corpus exact-substring decontamination audit
    * ([[graft.operators.SuffixArray.contamination]]; Lee et al., ACL
    * 2022 §6.2 measured BENCHMARK contamination this way): the corpus
    * splits content-addressed into train (q63's md5 draw, 'train'
    * bucket) vs eval (val + test), and for every eval position the
    * longest suffix prefix (≤ 32 chars) appearing verbatim ANYWHERE in
    * train — per eval doc: position count, longest train-verbatim
    * span, ≥ 20-char match starts, and merged-interval character
    * coverage. Hash-free and length-measuring where q59/q104 are
    * fixed-n n-gram tiers; eval-on-eval duplication deliberately does
    * NOT count. One src-tagged order-32 prefix sort + a two-level
    * nearest-train-neighbor scan — no global window. The oracle
    * replays the same sort with IGNORE-NULLS running windows and the
    * same interval merge.
    */
  def q196(s: SparkSession, d: String): DataFrame = {
    val dd = graft.operators.Corpus.splitAssign(docs(s, d), "doc_id",
      salt = "graft")
    graft.operators.SuffixArray.contamination(
      dd.filter(col("split") === "train"), dd.filter(col("split") =!= "train"),
      "doc_id", "text", maxOrder = 32, minLen = 20)
  }

  private def q190OracleSql: String = {
    val maxLen = UnigramKernel.MaxWordLen // 16
    val maxPiece = 6
    val unk = UnigramKernel.UnkCostUnits
    val vocabValues = q190Vocab
      .map { case (p, c) => s"('${p.replace("'", "''")}', CAST($c AS BIGINT))" }
      .mkString(",\n    ")
    val dps = (1 to maxLen).map { k =>
      val branches = scala.collection.mutable.ArrayBuffer.empty[String]
      branches +=
        s"""    SELECT d.chunk, d.v + (coalesce(vv.cu, $unk) * 64 + 1) AS v
           |    FROM dp${k - 1} d LEFT JOIN vocab vv ON substr(d.chunk, $k, 1) = vv.piece
           |    WHERE length(d.chunk) >= $k""".stripMargin
      for (j <- math.max(0, k - maxPiece) until (k - 1)) {
        branches +=
          s"""    SELECT d.chunk, d.v + (vv.cu * 64 + 1) AS v
             |    FROM dp$j d JOIN vocab vv ON substr(d.chunk, ${j + 1}, ${k - j}) = vv.piece
             |    WHERE length(d.chunk) >= $k""".stripMargin
      }
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // dpK referencing dp(k-1)..dp(k-6) would expand the chain
      // EXPONENTIALLY (a ~5^16-node plan) — materializing makes each
      // level compute once, the DP's actual O(len·maxPiece) shape
      s"dp$k AS MATERIALIZED (SELECT chunk, min(v) AS v FROM (\n" +
        branches.mkString("\n    UNION ALL\n") + "\n  ) GROUP BY chunk)"
    }
    val fin = (1 to maxLen)
      .map(k => s"  SELECT chunk, v FROM dp$k WHERE length(chunk) = $k")
      .mkString("\n  UNION ALL\n")
    s"""WITH vocab(piece, cu) AS (VALUES
       |    $vocabValues),
       |docsrc AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |wordocc AS MATERIALIZED (SELECT doc_id, w FROM (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS w
       |  FROM docsrc) WHERE w <> ''),
       |dwords AS (SELECT DISTINCT w FROM wordocc),
       |wchunks AS MATERIALIZED (SELECT w, unnest(list_transform(
       |  range(CAST(ceil(length(w) / $maxLen.0) AS BIGINT)),
       |  i -> substr(w, CAST(i * $maxLen + 1 AS INT), $maxLen))) AS chunk FROM dwords),
       |chunks AS MATERIALIZED (SELECT DISTINCT chunk FROM wchunks),
       |dp0 AS MATERIALIZED (SELECT chunk, CAST(0 AS BIGINT) AS v FROM chunks),
       |${dps.mkString(",\n")},
       |fin AS (
       |$fin),
       |wstat AS (SELECT wc.w, CAST(sum(f.v // 64) AS BIGINT) AS cu,
       |    CAST(sum(f.v % 64) AS BIGINT) AS np
       |  FROM wchunks wc JOIN fin f USING (chunk) GROUP BY wc.w),
       |daggr AS (SELECT o.doc_id, sum(s.np) AS np, sum(s.cu) AS cu
       |  FROM wordocc o JOIN wstat s ON o.w = s.w GROUP BY 1)
       |SELECT d.doc_id AS id,
       |  CAST(coalesce(a.np, 0) AS BIGINT) AS n_pieces,
       |  CAST(coalesce(a.cu, 0) AS BIGINT) AS cost_units,
       |  CAST(length(regexp_replace(d.text, '[ \\t\\n\\f\\r]+', '', 'g')) AS BIGINT) AS n_chars,
       |  CASE WHEN coalesce(a.np, 0) > 0
       |       THEN round(CAST(length(regexp_replace(d.text, '[ \\t\\n\\f\\r]+', '', 'g'))
       |                       AS DOUBLE) / a.np, 4) + 0
       |  END AS chars_per_piece
       |FROM docsrc d LEFT JOIN daggr a USING (doc_id)
       |""".stripMargin
  }

  /** The q97 oracle: the Lloyd loop unrolled — per iteration, the
    * [[graft.functions.NearestCentroid]] assignment (same operation
    * order: sequential dot, × 1/√‖c‖², ties to the smallest cell) and
    * the DECIMAL(27,18)-routed per-dim mean with lost cells keeping
    * their previous centroid — then the final assignment, the in-cell
    * cosine pair stage at τ, and the q37 recursive reach closure.
    */
  /** Shared Lloyd-loop CTE builder: `e` (vectors), `ev` (exploded
    * dims), `c0` (lowest-id init), `iters` assign/update rounds, and
    * the final assignment `af` — the exact replay of
    * [[graft.operators.IvfIndex.fit]] (sequential-dot argmax with
    * smallest-cell ties, DECIMAL(27,18) means, lost cells keep their
    * centroid). q97 and q31 both build on it.
    */
  private def kmeansCtes(nlist: Int, iters: Int,
                         normalized: Boolean = false): String = {
    def assign(prev: String, name: String): String =
      s"""$name AS MATERIALIZED (SELECT id, cell FROM (
         |  SELECT e.id, c.cell,
         |    row_number() OVER (PARTITION BY e.id ORDER BY
         |      list_dot_product(e.vec, c.cvec) *
         |        (1.0 / sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
         |      c.cell ASC) AS rk
         |  FROM e, $prev c
         |  WHERE list_dot_product(c.cvec, c.cvec) > 0 AND len(c.cvec) = len(e.vec)
         |) WHERE rk = 1)""".stripMargin
    def update(a: String, prev: String, name: String): String =
      s"""${name}m AS MATERIALIZED (SELECT a.cell, ev.pos,
         |    CAST(sum(CAST(ev.v AS DECIMAL(27,18))) AS DOUBLE) / count(*) AS m
         |  FROM $a a JOIN ev ON ev.id = a.id GROUP BY 1, 2),
         |$name AS MATERIALIZED (SELECT cell, list(newv ORDER BY pos) AS cvec FROM (
         |  SELECT cp.cell, cp.pos, coalesce(m.m, cp.oldv) AS newv
         |  FROM (SELECT cell, generate_subscripts(cvec, 1) - 1 AS pos,
         |        unnest(cvec) AS oldv FROM $prev) cp
         |  LEFT JOIN ${name}m m ON m.cell = cp.cell AND m.pos = cp.pos
         |) GROUP BY cell)""".stripMargin
    val rounds = (1 to iters).map(i =>
      assign(s"c${i - 1}", s"a$i") + ",\n" + update(s"a$i", s"c${i - 1}", s"c$i"))
      .mkString(",\n")
    // `normalized` replays [[graft.functions.L2Normalize]] first (the
    // q94 CTE): IvfIndex.fit inside ivfPqTopK runs on the L2-normalized
    // corpus, while q97/q31 train on raw vectors
    val eCtes =
      if (normalized)
        """en AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS raw
          |  FROM embeddings WHERE embedding IS NOT NULL),
          |e AS MATERIALIZED (SELECT id, list_transform(raw,
          |  x -> x * (1.0 / sqrt(list_dot_product(raw, raw)))) AS vec FROM en)""".stripMargin
      else
        """e AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
          |  FROM embeddings WHERE embedding IS NOT NULL)""".stripMargin
    s"""$eCtes,
       |ev AS MATERIALIZED (SELECT id, generate_subscripts(vec, 1) - 1 AS pos,
       |  unnest(vec) AS v FROM e),
       |c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY id) - 1 AS cell,
       |  vec AS cvec FROM (SELECT id, vec FROM e ORDER BY id LIMIT $nlist)),
       |$rounds,
       |${assign(s"c$iters", "af")}""".stripMargin
  }

  private def q97OracleSql: String = {
    val (nlist, tau, iters) = (8, 0.42, 3)
    s"""WITH RECURSIVE
       |${kmeansCtes(nlist, iters)},
       |pairs AS (SELECT x.id AS a_id, y.id AS b_id
       |  FROM af ax JOIN af ay ON ax.cell = ay.cell AND ax.id < ay.id
       |  JOIN e x ON x.id = ax.id JOIN e y ON y.id = ay.id
       |  WHERE list_cosine_similarity(x.vec, y.vec) >= $tau),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs
       |  UNION SELECT id, id FROM e),
       |reach(a, b) AS (SELECT src, dst FROM edges
       |  UNION SELECT e2.src, r.b FROM edges e2 JOIN reach r ON e2.dst = r.a),
       |surv AS (SELECT a AS id, min(b) AS survivor_id FROM reach GROUP BY a)
       |SELECT af.id, CAST(af.cell AS INT) AS cell, s.survivor_id,
       |  (af.id = s.survivor_id) AS is_survivor
       |FROM af JOIN surv s USING (id)
       |""".stripMargin
  }

  /** The q31 oracle: the fitted index replayed ([[kmeansCtes]], two
    * Lloyd rounds), probes routed to their `nProbe` best cells by
    * cosine (ties to the smallest cell), candidates = members of the
    * probed cells, exact cosine re-rank top-k — the IDENTICAL
    * deterministic computation, so the "approximate" index is
    * oracle-CHECKED end to end, cell routing included.
    */
  private def q31OracleSql: String = {
    val (nlist, iters, nProbe, k) = (8, 2, 3, 10)
    s"""WITH RECURSIVE
       |${kmeansCtes(nlist, iters)},
       |routed AS (SELECT probe_id, cell FROM (
       |  SELECT p.id AS probe_id, c.cell,
       |    row_number() OVER (PARTITION BY p.id ORDER BY
       |      list_cosine_similarity(p.vec, c.cvec) DESC, c.cell ASC) AS crk
       |  FROM e p, c$iters c WHERE p.id < 5
       |) WHERE crk <= $nProbe),
       |cand AS (SELECT r.probe_id, af.id,
       |    list_cosine_similarity(x.vec, pv.vec) AS sim
       |  FROM routed r JOIN af ON af.cell = r.cell AND af.id <> r.probe_id
       |  JOIN e x ON x.id = af.id JOIN e pv ON pv.id = r.probe_id)
       |SELECT probe_id, id AS vec_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, id) AS BIGINT) AS rk,
       |  round(sim, 4) + 0 AS sim_r
       |FROM cand QUALIFY rk <= $k
       |""".stripMargin
  }

  /** Shared PQ-training CTE builder over `$src` (columns `id`,
    * `vec`): `sv`/`svv` (subvector split), `b0` (first-`ksub`-by-id
    * init), `iters` assign/update rounds with
    * [[graft.functions.NearestCentroidL2]]'s exact scoring
    * (`‖c‖² − 2·dot`, ties to the smallest centroid) and
    * DECIMAL(27,18) means, and the final `codes` assignment — the
    * exact replay of [[graft.operators.Quantize.fitPq]] +
    * `encodePq`. q94 feeds it the normalized corpus; q101 the IVF
    * residuals.
    */
  private def pqCtes(src: String, m: Int, ksub: Int, dsub: Int,
                     iters: Int): String = {
    def assignCte(books: String, name: String): String =
      s"""$name AS MATERIALIZED (SELECT id, sub, cent FROM (
         |  SELECT sv.id, sv.sub, b.cent,
         |    row_number() OVER (PARTITION BY sv.id, sv.sub ORDER BY
         |      list_dot_product(b.bvec, b.bvec) -
         |        2.0 * list_dot_product(sv.sv, b.bvec) ASC,
         |      b.cent ASC) AS rk
         |  FROM sv JOIN $books b ON b.sub = sv.sub AND len(b.bvec) = len(sv.sv)
         |) WHERE rk = 1)""".stripMargin
    def updateCte(a: String, prev: String, name: String): String =
      s"""${name}m AS MATERIALIZED (SELECT a.sub, a.cent, vv.pos,
         |    CAST(sum(CAST(vv.v AS DECIMAL(27,18))) AS DOUBLE) / count(*) AS m
         |  FROM $a a JOIN svv vv ON vv.id = a.id AND vv.sub = a.sub
         |  GROUP BY 1, 2, 3),
         |$name AS MATERIALIZED (SELECT sub, cent, list(nv ORDER BY pos) AS bvec
         |  FROM (SELECT bp.sub, bp.cent, bp.pos, coalesce(m.m, bp.ov) AS nv
         |    FROM (SELECT sub, cent, generate_subscripts(bvec, 1) - 1 AS pos,
         |          unnest(bvec) AS ov FROM $prev) bp
         |    LEFT JOIN ${name}m m ON m.sub = bp.sub AND m.cent = bp.cent
         |      AND m.pos = bp.pos
         |  ) GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to iters).map(i =>
      assignCte(s"b${i - 1}", s"p$i") + ",\n" +
        updateCte(s"p$i", s"b${i - 1}", s"b$i")).mkString(",\n")
    s"""sv AS MATERIALIZED (SELECT id, s.range AS sub,
       |    vec[CAST(s.range * $dsub + 1 AS INT):CAST(s.range * $dsub + $dsub AS INT)] AS sv
       |  FROM $src, range($m) s),
       |svv AS MATERIALIZED (SELECT id, sub, generate_subscripts(sv, 1) - 1 AS pos,
       |  unnest(sv) AS v FROM sv),
       |b0 AS MATERIALIZED (SELECT sv.sub, r.cent, sv.sv AS bvec
       |  FROM (SELECT id, row_number() OVER (ORDER BY id) - 1 AS cent
       |        FROM $src ORDER BY id LIMIT $ksub) r
       |  JOIN sv ON sv.id = r.id),
       |$rounds,
       |${assignCte(s"b$iters", "codes")}""".stripMargin
  }

  private def q94OracleSql: String = {
    val (m, ksub, dsub, iters, shortlist, k) = (8, 16, 8, 5, 100, 10)
    s"""WITH en AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS raw
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |e AS MATERIALIZED (SELECT id, list_transform(raw,
       |  x -> x * (1.0 / sqrt(list_dot_product(raw, raw)))) AS vec FROM en),
       |${pqCtes("e", m, ksub, dsub, iters)},
       |lut AS MATERIALIZED (SELECT sv.id AS probe_id, b.sub, b.cent,
       |    list_dot_product(sv.sv, b.bvec) AS t
       |  FROM sv JOIN b$iters b ON b.sub = sv.sub WHERE sv.id < 5),
       |sc AS MATERIALIZED (SELECT l.probe_id, c.id,
       |    list_reduce(list(l.t ORDER BY l.sub), (x, y) -> x + y) AS score
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.cent = c.cent
       |  WHERE c.id <> l.probe_id GROUP BY 1, 2),
       |short AS (SELECT probe_id, id FROM (SELECT probe_id, id,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, id ASC) AS srk FROM sc) WHERE srk <= $shortlist),
       |rer AS (SELECT s.probe_id, s.id,
       |    list_cosine_similarity(cx.vec, px.vec) AS sim
       |  FROM short s JOIN e cx ON cx.id = s.id JOIN e px ON px.id = s.probe_id)
       |SELECT probe_id, id AS vec_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, id) AS BIGINT) AS rk,
       |  round(sim, 4) + 0 AS sim_r
       |FROM rer QUALIFY rk <= $k
       |""".stripMargin
  }

  /** The q101 oracle: the COMPOSED IVF-PQ pipeline replayed end to
    * end — L2 normalization, the coarse quantizer's three Lloyd rounds
    * ([[kmeansCtes]] in normalized mode), the RESIDUAL encoding
    * (`v − centroid(cell)` rebuilt per-dimension from the exploded
    * corpus × the final centroid table), three per-subspace PQ Lloyd
    * rounds over those residuals ([[pqCtes]]), multiprobe cell routing
    * (cosine to each centroid, `nProbe` best, ties to the smallest
    * cell), per-(probe, cell) bias `p·centroid` + per-subspace LUTs
    * (the residual-ADC identity `p·v = p·c + p·r`), the ADC shortlist
    * as a left-to-right fold + bias (the PqAdcScore + bias order), and
    * the exact cosine re-rank. Both trained codebooks, the cell
    * routing, and every score replay bit for bit — the approximation
    * vs TRUE top-k stays a recall property (QuantizeSpec pins it), but
    * the computation itself is oracle-checked.
    */
  private def q101OracleSql: String = {
    val (nlist, nProbe, m, ksub, dsub, iters, shortlist, k) =
      (16, 6, 8, 16, 8, 3, 100, 10)
    s"""WITH RECURSIVE
       |${kmeansCtes(nlist, iters, normalized = true)},
       |cf AS MATERIALIZED (SELECT cell, generate_subscripts(cvec, 1) - 1 AS pos,
       |  unnest(cvec) AS cv FROM c$iters),
       |rv AS MATERIALIZED (SELECT af.id, ev.pos, ev.v - cf.cv AS v
       |  FROM af JOIN ev ON ev.id = af.id
       |  JOIN cf ON cf.cell = af.cell AND cf.pos = ev.pos),
       |r AS MATERIALIZED (SELECT id, list(v ORDER BY pos) AS vec
       |  FROM rv GROUP BY id),
       |${pqCtes("r", m, ksub, dsub, iters)},
       |pr AS MATERIALIZED (SELECT id, vec FROM e WHERE id < 5),
       |routed AS MATERIALIZED (SELECT probe_id, cell, bias FROM (
       |  SELECT p.id AS probe_id, c.cell,
       |    list_dot_product(p.vec, c.cvec) AS bias,
       |    row_number() OVER (PARTITION BY p.id ORDER BY
       |      list_cosine_similarity(p.vec, c.cvec) DESC, c.cell ASC) AS crk
       |  FROM pr p, c$iters c
       |) WHERE crk <= $nProbe),
       |lut AS MATERIALIZED (SELECT p.id AS probe_id, b.sub, b.cent,
       |    list_dot_product(
       |      p.vec[CAST(b.sub * $dsub + 1 AS INT):CAST(b.sub * $dsub + $dsub AS INT)],
       |      b.bvec) AS t
       |  FROM pr p, b$iters b),
       |sc AS MATERIALIZED (SELECT rt.probe_id, af.id,
       |    list_reduce(list(l.t ORDER BY l.sub), (x, y) -> x + y) + rt.bias AS score
       |  FROM routed rt JOIN af ON af.cell = rt.cell AND af.id <> rt.probe_id
       |  JOIN codes c ON c.id = af.id
       |  JOIN lut l ON l.probe_id = rt.probe_id AND l.sub = c.sub AND l.cent = c.cent
       |  GROUP BY rt.probe_id, af.id, rt.bias),
       |short AS (SELECT probe_id, id FROM (SELECT probe_id, id,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, id ASC) AS srk FROM sc) WHERE srk <= $shortlist),
       |rer AS (SELECT s.probe_id, s.id,
       |    list_cosine_similarity(cx.vec, px.vec) AS sim
       |  FROM short s JOIN e cx ON cx.id = s.id JOIN pr px ON px.id = s.probe_id)
       |SELECT probe_id, id AS vec_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, id) AS BIGINT) AS rk,
       |  round(sim, 4) + 0 AS sim_r
       |FROM rer QUALIFY rk <= $k
       |""".stripMargin
  }

  /** The q99 oracle: 12 rounds of sequential BPE unrolled. Round k
    * extracts every adjacent code-point pair of the current
    * sentinel-encoded word strings (OVERLAPPING positions — "aaa"
    * counts (a,a) twice, the Sennrich reference convention
    * [[graft.operators.Corpus.localBpeTrain]] implements), weights by
    * word frequency, decodes pair halves through the sentinel table
    * for the (cnt DESC, l, r) code-point tie-break (UTF-8 binary
    * collation ≡ code-point order), records the winner, and applies
    * the merge as `replace(s, lc||rc, chr(0xE000+k))` — left-to-right
    * non-overlapping, exactly `applyOne`. Incremental-count drift in
    * the engine (the heap path) or any tokenize/tie-break divergence
    * hash-fails against this from-scratch recount.
    */
  private def q99OracleSql: String = {
    val numMerges = 12
    val head =
      """w AS MATERIALIZED (SELECT w AS s0, CAST(count(*) AS BIGINT) AS wc FROM (
        |  SELECT unnest(regexp_split_to_array(text, '[ \t\n\f\r]+')) AS w
        |  FROM documents) WHERE w <> '' GROUP BY 1),
        |s0 AS MATERIALIZED (SELECT s0 AS s, wc FROM w),
        |dec0 AS (SELECT '' AS cp, '' AS str WHERE false)""".stripMargin
    val rounds = (1 to numMerges).map { k =>
      val p = k - 1
      val sent = 0xE000 + k
      s"""p$k AS (SELECT substr(s, CAST(i AS INT), 1) AS lc,
         |    substr(s, CAST(i AS INT) + 1, 1) AS rc, wc
         |  FROM (SELECT s, wc, unnest(range(1, length(s))) AS i FROM s$p)),
         |c$k AS (SELECT lc, rc, sum(wc) AS cnt FROM p$k GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT lc, rc, CAST(cnt AS BIGINT) AS cnt,
         |    coalesce(dl.str, lc) AS l, coalesce(dr.str, rc) AS r
         |  FROM c$k LEFT JOIN dec$p dl ON dl.cp = c$k.lc
         |  LEFT JOIN dec$p dr ON dr.cp = c$k.rc
         |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |s$k AS MATERIALIZED (SELECT replace(s, (SELECT lc || rc FROM b$k),
         |    chr($sent)) AS s, wc FROM s$p),
         |dec$k AS (SELECT * FROM dec$p
         |  UNION ALL SELECT chr($sent), (SELECT l || r FROM b$k))""".stripMargin
    }.mkString(",\n")
    val finals = (1 to numMerges)
      .map(k => s"SELECT CAST($k AS INT) AS rank, l, r, cnt FROM b$k")
      .mkString("\nUNION ALL ")
    s"WITH $head,\n$rounds\n$finals\n"
  }

  /** The q193 oracle: the repetition metrics replayed column for
    * column — the same token convention ($TOKS), the same 9-size
    * n-gram join (grams joined by single spaces, positions via the
    * slice window), the (count DESC, gram ASC) argmax, the
    * (count − 1)-weighted duplicate character sums, and the non-empty
    * line grouping. All eleven ratios are single integer ÷ integer
    * divisions rounded to 6, so both engines agree bit for bit.
    */
  private def q193OracleSql: String = {
    def frac(num: String, den: String): String =
      s"CASE WHEN coalesce($den, 0) = 0 OR $num IS NULL THEN 0.0 " +
        s"ELSE round(CAST($num AS DOUBLE) / $den, 6) + 0 END"
    val tops = (2 to 4).map(n =>
      s"max(CASE WHEN n = $n THEN num END) AS t$n").mkString(",\n    ")
    val dups = (5 to 10).map(n =>
      s"max(CASE WHEN n = $n THEN dnum END) AS d$n").mkString(",\n    ")
    val topCols = (2 to 4).map(n =>
      s"  ${frac(s"tp.t$n", "b.tchars")} AS top${n}_r").mkString(",\n")
    val dupCols = (5 to 10).map(n =>
      s"  ${frac(s"dp.d$n", "b.tchars")} AS dup${n}_r").mkString(",\n")
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |tk AS (SELECT doc_id, $TOKS AS t FROM d),
       |base AS MATERIALIZED (SELECT doc_id, t, len(t) AS nt,
       |  CASE WHEN len(t) = 0 THEN 0
       |    ELSE CAST(list_reduce(list_transform(t, x -> length(x)),
       |      (a, b) -> a + b) AS BIGINT) + len(t) - 1
       |  END AS tchars FROM tk),
       |gr AS (SELECT doc_id, n.range AS n, t,
       |    unnest(range(1, nt - n.range + 2)) AS i
       |  FROM base, range(2, 11) n WHERE nt >= n.range),
       |g2 AS (SELECT doc_id, n,
       |  array_to_string(t[CAST(i AS INT):CAST(i + n - 1 AS INT)], ' ') AS gm
       |  FROM gr),
       |gc AS MATERIALIZED (SELECT doc_id, n, gm, count(*) AS c
       |  FROM g2 GROUP BY 1, 2, 3),
       |top AS (SELECT doc_id, n, c * length(gm) AS num FROM (
       |  SELECT doc_id, n, gm, c, row_number() OVER (PARTITION BY doc_id, n
       |    ORDER BY c DESC, gm ASC) AS rk FROM gc) WHERE rk = 1),
       |dup AS (SELECT doc_id, n, sum((c - 1) * length(gm)) AS dnum
       |  FROM gc WHERE c >= 2 GROUP BY 1, 2),
       |tp AS (SELECT doc_id,
       |    $tops
       |  FROM top GROUP BY 1),
       |dp AS (SELECT doc_id,
       |    $dups
       |  FROM dup GROUP BY 1),
       |ln AS (SELECT doc_id,
       |  unnest(list_filter(string_split(text, chr(10)), x -> x <> '')) AS l
       |  FROM d),
       |lc AS (SELECT doc_id, l, count(*) AS c FROM ln GROUP BY 1, 2),
       |la AS (SELECT doc_id, sum(c) AS n_lines, sum(c) - count(*) AS dupl,
       |    sum((c - 1) * length(l)) AS duplc, sum(c * length(l)) AS lchars
       |  FROM lc GROUP BY 1)
       |SELECT b.doc_id,
       |  CAST(coalesce(la.n_lines, 0) AS BIGINT) AS n_lines,
       |  ${frac("la.dupl", "la.n_lines")} AS dup_line_r,
       |  ${frac("la.duplc", "la.lchars")} AS dup_line_char_r,
       |$topCols,
       |$dupCols
       |FROM base b LEFT JOIN la USING (doc_id)
       |LEFT JOIN tp USING (doc_id) LEFT JOIN dp USING (doc_id)
       |""".stripMargin
  }

  /** The q194 oracle: the repeated-span profile replayed from the same
    * order-32 prefix sort — positions exploded, `substr(text, pos, 32)`
    * keys ordered by (prefix, doc, pos) binary collation (≡ Spark's
    * UTF8String order), rank-adjacent pairs joined on ord + 1, LCP as
    * the max k with equal k-prefixes (monotone, so max ≡ LCP; the
    * truncated keys make `min(lcp, 32, remaining)` automatic — the
    * engine's [[graft.functions.CommonPrefixLen]] convention), then
    * the per-position max and per-doc collapse. All-integer.
    */
  private def q194OracleSql: String = {
    val (h, minLen) = (32, 20)
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |  WHERE text IS NOT NULL AND length(text) > 0),
       |p AS (SELECT doc_id, CAST(unnest(range(1, length(text) + 1)) AS BIGINT)
       |    AS pos, text FROM d),
       |s AS MATERIALIZED (SELECT doc_id, pos,
       |  substr(text, CAST(pos AS INT), $h) AS pfx FROM p),
       |o AS MATERIALIZED (SELECT doc_id, pos, pfx,
       |    row_number() OVER (ORDER BY pfx, doc_id, pos) AS ord FROM s),
       |adj AS (SELECT x.doc_id AS a_doc, x.pos AS a_pos, x.pfx AS a,
       |    y.doc_id AS b_doc, y.pos AS b_pos, y.pfx AS b
       |  FROM o x JOIN o y ON y.ord = x.ord + 1),
       |lc AS MATERIALIZED (SELECT a_doc, a_pos, b_doc, b_pos,
       |    coalesce(max(CASE WHEN substr(a, 1, CAST(k AS INT)) =
       |      substr(b, 1, CAST(k AS INT)) THEN k END), 0) AS lcp
       |  FROM (SELECT *, unnest(range(1, least(length(a), length(b)) + 1)) AS k
       |        FROM adj)
       |  GROUP BY 1, 2, 3, 4),
       |pp AS (SELECT doc_id, pos, max(lcp) AS m FROM (
       |  SELECT a_doc AS doc_id, a_pos AS pos, lcp FROM lc
       |  UNION ALL SELECT b_doc, b_pos, lcp FROM lc) GROUP BY 1, 2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
       |  CAST(max(m) AS BIGINT) AS max_rep,
       |  CAST(sum(CASE WHEN m >= $minLen THEN 1 ELSE 0 END) AS BIGINT) AS n_rep
       |FROM pp GROUP BY 1
       |""".stripMargin
  }

  /** The q195 oracle: the q194 sort/LCP replay (identical CTE prefix),
    * then the removal — qualifying spans become [pos, pos + m)
    * intervals, the running-max sweep merges them per document, and
    * the survivor text is the ORDER BY gap stitch of `substr` slices
    * (the engine's row-local `aggregate` fold, replayed as
    * `string_agg`). `clean_text` compares as a string, so survivor
    * boundaries are pinned character-exactly.
    */
  private def q195OracleSql: String = {
    val (h, minLen) = (32, 20)
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |de AS (SELECT doc_id, text FROM d WHERE length(text) > 0),
       |p AS (SELECT doc_id, CAST(unnest(range(1, length(text) + 1)) AS BIGINT)
       |    AS pos, text FROM de),
       |s AS MATERIALIZED (SELECT doc_id, pos,
       |  substr(text, CAST(pos AS INT), $h) AS pfx FROM p),
       |o AS MATERIALIZED (SELECT doc_id, pos, pfx,
       |    row_number() OVER (ORDER BY pfx, doc_id, pos) AS ord FROM s),
       |adj AS (SELECT x.doc_id AS a_doc, x.pos AS a_pos, x.pfx AS a,
       |    y.doc_id AS b_doc, y.pos AS b_pos, y.pfx AS b
       |  FROM o x JOIN o y ON y.ord = x.ord + 1),
       |lc AS MATERIALIZED (SELECT a_doc, a_pos, b_doc, b_pos,
       |    coalesce(max(CASE WHEN substr(a, 1, CAST(k AS INT)) =
       |      substr(b, 1, CAST(k AS INT)) THEN k END), 0) AS lcp
       |  FROM (SELECT *, unnest(range(1, least(length(a), length(b)) + 1)) AS k
       |        FROM adj)
       |  GROUP BY 1, 2, 3, 4),
       |pp AS (SELECT doc_id, pos, max(lcp) AS m FROM (
       |  SELECT a_doc AS doc_id, a_pos AS pos, lcp FROM lc
       |  UNION ALL SELECT b_doc, b_pos, lcp FROM lc) GROUP BY 1, 2),
       |spn AS (SELECT doc_id, pos AS st, pos + m AS en FROM pp
       |  WHERE m >= $minLen),
       |sw AS (SELECT doc_id, st, en, max(en) OVER (PARTITION BY doc_id
       |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS pmax FROM spn),
       |sg AS (SELECT doc_id, st, en,
       |    sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY st) AS grp FROM sw),
       |mi AS MATERIALIZED (SELECT doc_id, grp, min(st) AS st, max(en) AS en
       |  FROM sg GROUP BY 1, 2),
       |rm AS (SELECT doc_id, sum(en - st) AS removed FROM mi GROUP BY 1),
       |gaps AS (
       |  SELECT doc_id, coalesce(lag(en) OVER (PARTITION BY doc_id
       |      ORDER BY st), 1) AS ss, st AS se FROM mi
       |  UNION ALL
       |  SELECT m2.doc_id, max(m2.en) AS ss,
       |    any_value(length(d2.text)) + 1 AS se
       |  FROM mi m2 JOIN d d2 USING (doc_id) GROUP BY m2.doc_id),
       |ct AS (SELECT g.doc_id,
       |    string_agg(substr(d2.text, CAST(g.ss AS INT),
       |      CAST(g.se - g.ss AS INT)), '' ORDER BY g.ss) AS clean
       |  FROM gaps g JOIN d d2 USING (doc_id) GROUP BY g.doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN rm.removed IS NULL THEN d.text
       |       ELSE coalesce(ct.clean, '') END AS clean_text,
       |  CAST(length(d.text) - coalesce(rm.removed, 0) AS BIGINT) AS kept_chars,
       |  CAST(coalesce(rm.removed, 0) AS BIGINT) AS removed_chars
       |FROM d LEFT JOIN rm USING (doc_id) LEFT JOIN ct USING (doc_id)
       |""".stripMargin
  }

  /** The q196 oracle: the contamination scan replayed — q63's md5
    * split draw tags each document train (0) / eval (1), the q194
    * prefix sort runs over BOTH corpora, IGNORE-NULLS running windows
    * find every row's nearest train prefix above and below in suffix
    * order, the LCP against each unrolls character-by-character (the
    * q194 unnest idiom), and the qualifying spans merge with the q195
    * interval sweep. A neighbor-selection bug, an LCP bug, or an
    * interval-merge bug all hash-fail.
    */
  private def q196OracleSql: String = {
    val (h, minLen) = (32, 20)
    s"""WITH doc AS (SELECT doc_id, text,
       |    CASE WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |      < 'e6' THEN 0 ELSE 1 END AS src
       |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
       |p AS (SELECT src, doc_id, CAST(unnest(range(1, length(text) + 1))
       |    AS BIGINT) AS pos, text FROM doc),
       |s AS MATERIALIZED (SELECT src, doc_id, pos,
       |  substr(text, CAST(pos AS INT), $h) AS pfx FROM p),
       |nb AS MATERIALIZED (SELECT src, doc_id, pos, pfx,
       |    last_value(CASE WHEN src = 0 THEN pfx END IGNORE NULLS) OVER (
       |      ORDER BY pfx, src, doc_id, pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
       |    first_value(CASE WHEN src = 0 THEN pfx END IGNORE NULLS) OVER (
       |      ORDER BY pfx, src, doc_id, pos
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
       |  FROM s),
       |ev AS (SELECT doc_id, pos, pfx, pt, nt FROM nb WHERE src = 1),
       |lx AS MATERIALIZED (SELECT doc_id, pos, greatest(
       |    coalesce(max(CASE WHEN substr(pfx, 1, CAST(k AS INT)) =
       |      substr(pt, 1, CAST(k AS INT)) THEN k END), 0),
       |    coalesce(max(CASE WHEN substr(pfx, 1, CAST(k AS INT)) =
       |      substr(nt, 1, CAST(k AS INT)) THEN k END), 0)) AS m
       |  FROM (SELECT *, unnest(range(1, length(pfx) + 1)) AS k FROM ev)
       |  GROUP BY 1, 2),
       |spn AS (SELECT doc_id, pos AS st, pos + m AS en FROM lx
       |  WHERE m >= $minLen),
       |sw AS (SELECT doc_id, st, en, max(en) OVER (PARTITION BY doc_id
       |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS pmax FROM spn),
       |sg AS (SELECT doc_id, st, en,
       |    sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY st) AS grp FROM sw),
       |mi AS (SELECT doc_id, grp, min(st) AS st, max(en) AS en
       |  FROM sg GROUP BY 1, 2),
       |cv AS (SELECT doc_id, sum(en - st) AS contam FROM mi GROUP BY 1),
       |prof AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
       |    CAST(max(m) AS BIGINT) AS max_match,
       |    CAST(sum(CASE WHEN m >= $minLen THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hits
       |  FROM lx GROUP BY 1)
       |SELECT prof.doc_id, prof.n_pos, prof.max_match, prof.n_hits,
       |  CAST(coalesce(cv.contam, 0) AS BIGINT) AS contam_chars
       |FROM prof LEFT JOIN cv USING (doc_id)
       |""".stripMargin
  }

  /** The q201 oracle: the greedy facility-location selection unrolled —
    * the 6-dp DECIMAL sim matrix once, then per round an argmax CTE
    * (ORDER BY gain DESC, cid — the engine's exact tie order) and a
    * cover-update CTE. A sim-rounding bug, a tie-break bug, or a
    * cover-clip bug diverges the whole selection chain.
    */
  private def q201OracleSql: String = {
    val k = 6
    val rounds = (1 to k).map { r =>
      val prior = (1 until r).map(i => s"SELECT cid FROM s$i").mkString(" UNION ALL ")
      val excl = if (r == 1) "" else s"WHERE s.cid NOT IN ($prior)"
      s"""g$r AS (SELECT s.cid, sum(greatest(s.s, c.c) - c.c) AS gain
         |  FROM sims s JOIN cov${r - 1} c USING (tid) $excl GROUP BY 1),
         |s$r AS MATERIALIZED (SELECT cid, gain FROM g$r
         |  ORDER BY gain DESC, cid LIMIT 1),
         |cov$r AS MATERIALIZED (SELECT c.tid, greatest(c.c, s.s) AS c
         |  FROM cov${r - 1} c JOIN sims s ON s.tid = c.tid
         |  JOIN s$r x ON s.cid = x.cid)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS sel_rank, cid AS vec_id, " +
      s"CAST(gain * 1000000 AS BIGINT) AS gain_micros FROM s$r")
      .mkString("\nUNION ALL\n")
    s"""WITH tgt AS (SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |cand AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id % 20 <> 0),
       |sims AS MATERIALIZED (SELECT cid, tid,
       |    CAST(round(list_cosine_similarity(c.v, t.v), 6) + 0
       |      AS DECIMAL(18,6)) AS s
       |  FROM cand c JOIN tgt t ON true),
       |cov0 AS (SELECT tid, CAST(0 AS DECIMAL(18,6)) AS c FROM tgt),
       |$rounds
       |$out
       |""".stripMargin
  }

  /** The q202 oracle: the q196 sort/neighbor/LCP replay, then the q195
    * removal applied to the EVAL side — qualifying spans merge per doc
    * and the survivor text rebuilds as the ORDER BY gap stitch.
    */
  private def q202OracleSql: String = {
    val (h, minLen) = (32, 20)
    s"""WITH ed AS (SELECT doc_id, text,
       |    CASE WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |      < 'e6' THEN 0 ELSE 1 END AS src
       |  FROM documents WHERE text IS NOT NULL),
       |doc AS (SELECT doc_id, text, src FROM ed WHERE length(text) > 0),
       |p AS (SELECT src, doc_id, CAST(unnest(range(1, length(text) + 1))
       |    AS BIGINT) AS pos, text FROM doc),
       |s AS MATERIALIZED (SELECT src, doc_id, pos,
       |  substr(text, CAST(pos AS INT), $h) AS pfx FROM p),
       |nb AS MATERIALIZED (SELECT src, doc_id, pos, pfx,
       |    last_value(CASE WHEN src = 0 THEN pfx END IGNORE NULLS) OVER (
       |      ORDER BY pfx, src, doc_id, pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
       |    first_value(CASE WHEN src = 0 THEN pfx END IGNORE NULLS) OVER (
       |      ORDER BY pfx, src, doc_id, pos
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
       |  FROM s),
       |ev AS (SELECT doc_id, pos, pfx, pt, nt FROM nb WHERE src = 1),
       |lx AS MATERIALIZED (SELECT doc_id, pos, greatest(
       |    coalesce(max(CASE WHEN substr(pfx, 1, CAST(k AS INT)) =
       |      substr(pt, 1, CAST(k AS INT)) THEN k END), 0),
       |    coalesce(max(CASE WHEN substr(pfx, 1, CAST(k AS INT)) =
       |      substr(nt, 1, CAST(k AS INT)) THEN k END), 0)) AS m
       |  FROM (SELECT *, unnest(range(1, length(pfx) + 1)) AS k FROM ev)
       |  GROUP BY 1, 2),
       |spn AS (SELECT doc_id, pos AS st, pos + m AS en FROM lx
       |  WHERE m >= $minLen),
       |sw AS (SELECT doc_id, st, en, max(en) OVER (PARTITION BY doc_id
       |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS pmax FROM spn),
       |sg AS (SELECT doc_id, st, en,
       |    sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY st) AS grp FROM sw),
       |mi AS MATERIALIZED (SELECT doc_id, grp, min(st) AS st, max(en) AS en
       |  FROM sg GROUP BY 1, 2),
       |rm AS (SELECT doc_id, sum(en - st) AS removed FROM mi GROUP BY 1),
       |evd AS (SELECT doc_id, text FROM ed WHERE src = 1),
       |gaps AS (
       |  SELECT doc_id, coalesce(lag(en) OVER (PARTITION BY doc_id
       |      ORDER BY st), 1) AS ss, st AS se FROM mi
       |  UNION ALL
       |  SELECT m2.doc_id, max(m2.en) AS ss,
       |    any_value(length(d2.text)) + 1 AS se
       |  FROM mi m2 JOIN evd d2 USING (doc_id) GROUP BY m2.doc_id),
       |ct AS (SELECT g.doc_id,
       |    string_agg(substr(d2.text, CAST(g.ss AS INT),
       |      CAST(g.se - g.ss AS INT)), '' ORDER BY g.ss) AS clean
       |  FROM gaps g JOIN evd d2 USING (doc_id) GROUP BY g.doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN rm.removed IS NULL THEN d.text
       |       ELSE coalesce(ct.clean, '') END AS clean_text,
       |  CAST(length(d.text) - coalesce(rm.removed, 0) AS BIGINT) AS kept_chars,
       |  CAST(coalesce(rm.removed, 0) AS BIGINT) AS removed_chars
       |FROM evd d LEFT JOIN rm USING (doc_id) LEFT JOIN ct USING (doc_id)
       |""".stripMargin
  }

  /** The q203 oracle: MMR unrolled — the 6-dp query-sim column, a
    * candidate-pair sim matrix for the redundancy term, then per round
    * an argmax CTE over `7·sq − 3·max(sim to selected)` (round 1 is
    * pure relevance) with the engine's exact (score DESC, cid) order.
    */
  private def q203OracleSql: String = {
    val (k, lamNum, lamDen) = (6, 7, 10)
    val rounds = (1 to k).map { r =>
      val prior = (1 to r - 1).map(i => s"SELECT cid FROM s$i").mkString(" UNION ALL ")
      val score =
        if (r == 1) s"$lamNum * q.sq"
        else s"""$lamNum * q.sq - ${lamDen - lamNum} *
           |    (SELECT max(cc.s) FROM cc WHERE cc.ca = q.cid
           |     AND cc.cb IN ($prior))""".stripMargin
      val excl = if (r == 1) "" else s"WHERE q.cid NOT IN ($prior)"
      s"""g$r AS (SELECT q.cid, $score AS sc FROM simq q $excl),
         |s$r AS MATERIALIZED (SELECT cid, sc FROM g$r
         |  ORDER BY sc DESC, cid LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS sel_rank, cid AS vec_id, " +
      s"CAST(sc * 1000000 AS BIGINT) AS score_micros FROM s$r")
      .mkString("\nUNION ALL\n")
    s"""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id <> 0),
       |simq AS MATERIALIZED (SELECT cid,
       |    CAST(round(list_cosine_similarity(c.v, q.v), 6) + 0
       |      AS DECIMAL(18,6)) AS sq
       |  FROM cand c, qv q),
       |cc AS MATERIALIZED (SELECT a.cid AS ca, b.cid AS cb,
       |    CAST(round(list_cosine_similarity(a.v, b.v), 6) + 0
       |      AS DECIMAL(18,6)) AS s
       |  FROM cand a JOIN cand b ON a.cid <> b.cid),
       |$rounds
       |$out
       |""".stripMargin
  }

  /** The q210 oracle: the water-filling allocation unrolled — q85's
    * weight shape (share → pow → normalize → 6-dp micro ints), HUGEINT
    * budget/caps, then 21 fill rounds (capped set grows by >= 1 per
    * non-final round over <= 20 sources, so round 21 is a fixpoint
    * no-op) with the engine's floor-division arithmetic.
    */
  private def q210OracleSql: String = {
    val rounds = 21
    val roundCtes = (1 to rounds).map { k =>
      s"""a$k AS MATERIALIZED (SELECT w.grp,
         |  ((SELECT b FROM b) - coalesce((SELECT sum(w2.cap) FROM w w2
         |      WHERE w2.grp IN (SELECT grp FROM c${k - 1})), 0))
         |    * CAST(w.m AS HUGEINT)
         |    // (SELECT sum(CAST(w3.m AS HUGEINT)) FROM w w3
         |        WHERE w3.grp NOT IN (SELECT grp FROM c${k - 1})) AS a
         |  FROM w WHERE w.grp NOT IN (SELECT grp FROM c${k - 1})),
         |c$k AS MATERIALIZED (SELECT grp FROM c${k - 1}
         |  UNION SELECT x.grp FROM a$k x JOIN w USING (grp)
         |  WHERE x.a > w.cap)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS (SELECT source AS grp, CAST(sum(n_chars) AS BIGINT) AS n_tok
       |  FROM documents GROUP BY 1),
       |t AS (SELECT sum(n_tok) AS tot FROM g),
       |sc AS (SELECT grp, n_tok,
       |  pow(CAST(n_tok AS DOUBLE) / tot, 0.5) AS pa FROM g, t),
       |z AS (SELECT sum(pa) AS z FROM sc),
       |w AS MATERIALIZED (SELECT grp, n_tok,
       |  CAST(round(round(pa / z, 6) * 1000000, 0) AS BIGINT) AS m,
       |  CAST(n_tok AS HUGEINT) * 3 // 2 AS cap FROM sc, z),
       |b AS (SELECT CAST(tot AS HUGEINT) * 6 // 5 AS b FROM t),
       |c0 AS (SELECT grp FROM w WHERE 1 = 0),
       |$roundCtes
       |SELECT w.grp, w.n_tok AS n_tokens, w.m AS weight_micros,
       |  CAST(w.cap AS BIGINT) AS cap_tokens,
       |  CAST(CASE WHEN c.grp IS NOT NULL THEN w.cap ELSE a.a END
       |    AS BIGINT) AS alloc_tokens,
       |  round(CAST(CASE WHEN c.grp IS NOT NULL THEN w.cap ELSE a.a END
       |    AS DOUBLE) / w.n_tok, 6) + 0 AS epochs_r
       |FROM w LEFT JOIN c$rounds c USING (grp)
       |LEFT JOIN a$rounds a USING (grp)
       |""".stripMargin
  }

  /** The q208 oracle: both q169 legs replayed (BM25 + dense top-10),
    * then the exact-integer RBO fold — each common item keyed by
    * max(rank_a, rank_b) through the cumulative weight VALUES table
    * the builder derives from the same closed form.
    */
  private def q208OracleSql: String = {
    val depth = 10
    val lcm = 2520L
    def pow(x: Long, e: Int): Long = (0 until e).foldLeft(1L)((r, _) => r * x)
    val w = (1 to depth).map(i => (lcm / i) * pow(9, i - 1) * pow(10, depth - i))
    val cum = (1 to depth).map(m => w.drop(m - 1).sum)
    val norm = (1 to depth).map(i => lcm * pow(9, i - 1) * pow(10, depth - i)).sum
    val values = (1 to depth).map(m => s"($m, ${cum(m - 1)})").mkString(", ")
    s"""$BM25_CTE,
       |lex AS (SELECT qid, doc_id, rk FROM (SELECT qid, doc_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rk
       |  FROM perdoc) WHERE rk <= 10),
       |dense0 AS (SELECT p.vec_id AS qid, e.vec_id AS doc_id,
       |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |    CAST(p.embedding AS DOUBLE[])) AS sim
       |  FROM embeddings e JOIN embeddings p
       |    ON p.vec_id < 3 AND e.vec_id <> p.vec_id),
       |dense AS (SELECT qid, doc_id, rk FROM (SELECT qid, doc_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id) AS rk
       |  FROM dense0) WHERE rk <= 10),
       |wt(mx, w) AS (VALUES $values),
       |m AS (SELECT l.qid, greatest(l.rk, dn.rk) AS mx
       |  FROM lex l JOIN dense dn ON dn.qid = l.qid AND dn.doc_id = l.doc_id),
       |sc AS (SELECT m.qid, count(*) AS n_common, sum(w.w) AS rbo_scaled
       |  FROM m JOIN wt w ON w.mx = m.mx GROUP BY 1),
       |qs AS (SELECT DISTINCT qid FROM lex)
       |SELECT qs.qid, CAST(coalesce(sc.n_common, 0) AS BIGINT) AS n_common,
       |  CAST(coalesce(sc.rbo_scaled, 0) AS BIGINT) AS rbo_scaled,
       |  round(CAST(coalesce(sc.rbo_scaled, 0) AS DOUBLE) / $norm, 6) + 0 AS rbo
       |FROM qs LEFT JOIN sc USING (qid)
       |""".stripMargin
  }

  /** The q205 oracle: k-center greedy unrolled — the candidate-pair
    * 6-dp decimal distance matrix (1 − cosine), the smallest-id seed,
    * then per round an argmax CTE over the min distance to the
    * selected set with the engine's exact (d DESC, cid) order; radii
    * in exact 1e-6 integer units (seed row = the 2 000 000 ceiling).
    */
  private def q205OracleSql: String = {
    val k = 8
    val rounds = (2 to k).map { r =>
      val prior = (1 until r).map(i => s"SELECT cid FROM s$i").mkString(" UNION ALL ")
      s"""g$r AS (SELECT q.cid,
         |    (SELECT min(cc.d) FROM cc WHERE cc.ca = q.cid
         |     AND cc.cb IN ($prior)) AS d
         |  FROM cand q WHERE q.cid NOT IN ($prior)),
         |s$r AS MATERIALIZED (SELECT cid, d FROM g$r
         |  ORDER BY d DESC, cid LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (Seq("SELECT CAST(1 AS BIGINT) AS sel_rank, cid AS vec_id, " +
      "CAST(2000000 AS BIGINT) AS radius_micros FROM s1") ++
      (2 to k).map(r =>
        s"SELECT CAST($r AS BIGINT) AS sel_rank, cid AS vec_id, " +
        s"CAST(d * 1000000 AS BIGINT) AS radius_micros FROM s$r"))
      .mkString("\nUNION ALL\n")
    s"""WITH cand AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |cc AS MATERIALIZED (SELECT a.cid AS ca, b.cid AS cb,
       |    CAST(1 AS DECIMAL(18,6)) -
       |    CAST(round(list_cosine_similarity(a.v, b.v), 6) + 0
       |      AS DECIMAL(18,6)) AS d
       |  FROM cand a JOIN cand b ON a.cid <> b.cid),
       |s1 AS MATERIALIZED (SELECT cid FROM cand ORDER BY cid LIMIT 1),
       |$rounds
       |$out
       |""".stripMargin
  }

  /** The q147 oracle: the multiprobe-LSH bitext miner replayed end to
    * end — the q26 MD5 Rademacher plane construction per table
    * (seed 42 + t), per-bit dots, base signatures, the probe side's 2
    * least-confident single-bit flips (sorted by (|dot|, bit) — the
    * expression's strict-< selection order), the (t, sig) bucket join,
    * DISTINCT candidate pairs, and q144's margin machinery (top-4 both
    * directions over the CANDIDATE set, DECIMAL(18,4) averages,
    * rounded margin, top-1 per probe). A plane bug, a flip-order bug,
    * a bucket-join bug, or a margin divergence all hash-fail.
    */
  private def q147OracleSql: String = {
    val (bits, tables, probes, k, seed) = (8, 8, 2, 4, 42)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (SELECT unnest(range(len(e0.embedding))) AS i
       |  FROM (SELECT embedding FROM embeddings LIMIT 1) e0),
       |pl AS MATERIALIZED (SELECT t.range AS t, b.range AS b,
       |    list(CASE WHEN CAST('0x' || substr(md5(
       |          ($seed + t.range) || ':' || b.range || ':' || dims.i),
       |        16, 1) AS INT) & 1 = 1
       |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
       |      ORDER BY dims.i) AS p
       |  FROM range($tables) t, range($bits) b, dims
       |  GROUP BY 1, 2),
       |db AS MATERIALIZED (SELECT e.vec_id, pl.t, pl.b,
       |    list_dot_product(e.v, pl.p) AS d
       |  FROM e, pl),
       |sg AS MATERIALIZED (SELECT vec_id, t,
       |    CAST(sum(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS sig
       |  FROM db GROUP BY 1, 2),
       |fl AS (SELECT vec_id, t, b FROM (SELECT vec_id, t, b,
       |    row_number() OVER (PARTITION BY vec_id, t
       |      ORDER BY abs(d) ASC, b ASC) AS frk
       |  FROM db WHERE vec_id % 2 = 0) WHERE frk <= $probes),
       |asig AS (SELECT vec_id, t, sig FROM sg WHERE vec_id % 2 = 0
       |  UNION ALL
       |  SELECT f.vec_id, f.t, xor(s.sig, CAST(1 << f.b AS BIGINT)) AS sig
       |  FROM fl f JOIN sg s ON s.vec_id = f.vec_id AND s.t = f.t),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id
       |  FROM asig a JOIN sg c ON c.t = a.t AND c.sig = a.sig
       |  WHERE c.vec_id % 2 = 1),
       |pr AS MATERIALIZED (SELECT c.a_id, c.b_id,
       |    list_cosine_similarity(bv.v, av.v) AS sim
       |  FROM cand c JOIN e av ON av.vec_id = c.a_id
       |  JOIN e bv ON bv.vec_id = c.b_id),
       |fwd AS (SELECT a_id, b_id, round(sim, 4) + 0 AS sim_r
       |  FROM (SELECT a_id, b_id, sim,
       |    row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rk
       |  FROM pr) WHERE rk <= $k),
       |bwd AS (SELECT b_id, round(sim, 4) + 0 AS sim_r
       |  FROM (SELECT b_id, sim,
       |    row_number() OVER (PARTITION BY b_id ORDER BY sim DESC, a_id) AS rk
       |  FROM pr) WHERE rk <= $k),
       |aa AS (SELECT a_id, CAST(sum(CAST(sim_r AS DECIMAL(18,4))) AS DOUBLE)
       |  / count(*) AS avg_a FROM fwd GROUP BY 1),
       |ab AS (SELECT b_id, CAST(sum(CAST(sim_r AS DECIMAL(18,4))) AS DOUBLE)
       |  / count(*) AS avg_b FROM bwd GROUP BY 1),
       |sc AS (SELECT f.a_id, f.b_id, f.sim_r,
       |  round(f.sim_r / ((aa.avg_a + ab.avg_b) / 2), 6) + 0 AS margin
       |  FROM fwd f JOIN aa USING (a_id) JOIN ab USING (b_id)),
       |r AS (SELECT a_id, b_id, sim_r, margin,
       |  row_number() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rk
       |  FROM sc)
       |SELECT a_id, b_id, sim_r, margin FROM r WHERE rk = 1
       |""".stripMargin
  }

  /** The q140 oracle: both Count-Min grids replayed as GROUP BYs over
    * the SAME affine-hash slot arithmetic — constants inlined from
    * [[graft.functions.HashFamilies]] at generation time (one code
    * path, no drift) — then `min_d ⟨row_d(orders), row_d(lineitem)⟩`.
    * All mod-2^64 wrapping runs in HUGEINT.
    */
  private def q140OracleSql: String = {
    val (depth, width, seed) = (4, 8192, 42L)
    val as = graft.functions.HashFamilies.multipliers(depth, seed)
    val bs = graft.functions.HashFamilies.offsets(depth, seed)
    val consts = (0 until depth)
      .map(d => s"($d, CAST(${as(d)} AS HUGEINT), CAST(${bs(d)} AS HUGEINT))")
      .mkString(",\n  ")
    val h = "18446744073709551616" // 2^64
    def slotCte(name: String, table: String, key: String): String =
      s"""$name AS (SELECT c.d,
         |    CAST((((CAST($key AS HUGEINT) * c.a + c.b) % $h + $h) % $h)
         |      // 8589934592 % $width AS INT) AS s, count(*) AS cnt
         |  FROM $table, consts c WHERE $key IS NOT NULL GROUP BY 1, 2)""".stripMargin
    s"""WITH consts(d, a, b) AS (VALUES
       |  $consts),
       |${slotCte("oslot", "orders", "o_orderkey")},
       |${slotCte("lslot", "lineitem", "l_orderkey")},
       |dd AS (SELECT range AS d FROM range($depth)),
       |dots AS (SELECT dd.d, coalesce(sum(o.cnt * l.cnt), 0) AS dot
       |  FROM dd LEFT JOIN oslot o ON o.d = dd.d
       |  LEFT JOIN lslot l ON l.d = o.d AND l.s = o.s
       |  GROUP BY 1)
       |SELECT CAST(min(dot) AS BIGINT) AS est_join_rows FROM dots
       |""".stripMargin
  }

  /** The q192 pieces-face oracle: the q190 DP skeleton lifted to
    * HUGEINT `p = v·2^64 + t` (t = the length-digit tiebreak of
    * `UnigramKernel.chunkPacked`, base `maxPiece`, last piece most
    * significant), min(p) per chunk, then the winning segmentation
    * DECODED from t's digits — `len_i = maxPiece − (t ÷ b^i) mod b` —
    * sliced out of the chunk text and counted per word occurrence.
    */
  private def q192OracleSql: String = {
    val maxLen = UnigramKernel.MaxWordLen // 16
    val maxPiece = 6
    val unk = UnigramKernel.UnkCostUnits
    val h = "18446744073709551616" // 2^64, parses as HUGEINT
    val pow = Iterator.iterate(1L)(_ * maxPiece).take(maxLen).mkString("[", ", ", "]")
    val vocabValues = q190Vocab
      .map { case (p, c) => s"('${p.replace("'", "''")}', CAST($c AS BIGINT))" }
      .mkString(",\n    ")
    // step(cuExpr, len): the packed increment for appending one piece of
    // `len` code points to the dp-j prefix (whose piece count is m_j)
    def step(cu: String, len: Int): String =
      s"($cu * 64 + 1) * $h + " +
        s"(${maxPiece - len}) * ($pow)[CAST((d.p // $h) % 64 AS INT) + 1]"
    val dps = (1 to maxLen).map { k =>
      val branches = scala.collection.mutable.ArrayBuffer.empty[String]
      branches +=
        s"""    SELECT d.chunk, d.p + ${step(s"coalesce(vv.cu, $unk)", 1)} AS p
           |    FROM dp${k - 1} d LEFT JOIN vocab vv ON substr(d.chunk, $k, 1) = vv.piece
           |    WHERE length(d.chunk) >= $k""".stripMargin
      for (j <- math.max(0, k - maxPiece) until (k - 1)) {
        branches +=
          s"""    SELECT d.chunk, d.p + ${step("vv.cu", k - j)} AS p
             |    FROM dp$j d JOIN vocab vv ON substr(d.chunk, ${j + 1}, ${k - j}) = vv.piece
             |    WHERE length(d.chunk) >= $k""".stripMargin
      }
      s"dp$k AS MATERIALIZED (SELECT chunk, min(p) AS p FROM (\n" +
        branches.mkString("\n    UNION ALL\n") + "\n  ) GROUP BY chunk)"
    }
    val fin = (1 to maxLen)
      .map(k => s"  SELECT chunk, p FROM dp$k WHERE length(chunk) = $k")
      .mkString("\n  UNION ALL\n")
    s"""WITH vocab(piece, cu) AS (VALUES
       |    $vocabValues),
       |docsrc AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |wordocc AS MATERIALIZED (SELECT doc_id, w FROM (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS w
       |  FROM docsrc) WHERE w <> ''),
       |dwords AS (SELECT DISTINCT w FROM wordocc),
       |wchunks AS MATERIALIZED (SELECT w, unnest(list_transform(
       |  range(CAST(ceil(length(w) / $maxLen.0) AS BIGINT)),
       |  i -> substr(w, CAST(i * $maxLen + 1 AS INT), $maxLen))) AS chunk FROM dwords),
       |chunks AS MATERIALIZED (SELECT DISTINCT chunk FROM wchunks),
       |dp0 AS MATERIALIZED (SELECT chunk, CAST(0 AS HUGEINT) AS p FROM chunks),
       |${dps.mkString(",\n")},
       |fin AS (
       |$fin),
       |fpc AS (SELECT chunk, CAST((p // $h) % 64 AS INT) AS m,
       |    CAST(p % $h AS BIGINT) AS t FROM fin),
       |pl AS (SELECT chunk, i.range AS i,
       |    $maxPiece - CAST((t // ($pow)[CAST(i.range AS INT) + 1]) % $maxPiece AS INT) AS len
       |  FROM fpc, range($maxLen) i WHERE i.range < m),
       |ps AS (SELECT chunk, i, len,
       |    CAST(1 + coalesce(sum(len) OVER (PARTITION BY chunk ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS s
       |  FROM pl),
       |cpieces AS MATERIALIZED (SELECT chunk, substr(chunk, s, len) AS piece
       |  FROM ps),
       |occ AS (SELECT o.doc_id, wc.chunk FROM wordocc o JOIN wchunks wc ON o.w = wc.w),
       |pcnt AS (SELECT cp.piece, count(*) AS cnt
       |  FROM occ JOIN cpieces cp USING (chunk) GROUP BY 1)
       |SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM pcnt
       |ORDER BY cnt DESC, piece ASC LIMIT 30
       |""".stripMargin
  }

  /** Q185 — incremental perceptual media dedup
    * ([[graft.multimodal.Multimodal.incrementalHammingNearDup]]): the
    * q105 daily-batch shape applied to q182's image hashes — every
    * tenth document plays today's arriving batch, the rest the
    * standing index, and the batch's hash bands broadcast while the
    * corpus streams map-side to the probe (its only exchange is the
    * matched-pair distinct). Oracle: the q182 luma arithmetic,
    * brute-forced over CROSS pairs only.
    */
  def q185(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def mediaOf(ids: org.apache.spark.sql.Dataset[Long]) = ids.map { id =>
      val g = (id % 25).toInt
      Multimodal.MediaRow(id, "image",
        Multimodal.renderQuadGradPng(9, 8, offset = g,
          shift = (id % 3).toInt * 4),
        9, 8, 0)
    }
    val all = docs(s, d).select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
    def hashesOf(ids: org.apache.spark.sql.Dataset[Long]) =
      Multimodal.imageDHash(mediaOf(ids))
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("dhash"))
    Multimodal.incrementalHammingNearDup(
      hashesOf(all.filter(_ % 10 == 0)), hashesOf(all.filter(_ % 10 != 0)),
      "doc_id", "dhash", maxHamming = 3)
  }

  /** Q187 — end-to-end media dedup pipeline
    * ([[graft.multimodal.Multimodal.mediaDedupPipeline]]): the q37
    * corpus-dedup composition for a MULTIMODAL lake — even doc_ids
    * render q182's brightness-shifted gradient PNGs, odd doc_ids
    * q184's gain-scaled staircase WAVs, and the pipeline runs exact
    * payload collapse → per-modality perceptual hash → banded CLASS
    * pairs → connected components → survivor datasheet in one query.
    * Pixels and samples never shuffle (hashing is map-side); the band
    * join sees only distinct hash values; components run over linear
    * membership + class-pair edges. Oracle: both modalities' bit sets
    * are pure doc_id arithmetic (the q182 luma and q184 step-energy
    * replays), so DuckDB brute-forces each modality's ham ≤ 3 pairs,
    * closes them with a recursive CTE (the q37 closure), and rebuilds
    * each survivor's member and exact-byte-class counts.
    */
  def q187(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread — the audio half hits the q43 audio-registry
    // contention; the mixed pipeline stays narrow like q43/q184
    val media = docs(s, d).select(col("doc_id")).as[Long].map { id =>
      if (id % 2 == 0) {
        val g = (id % 25).toInt
        Multimodal.MediaRow(id, "image",
          Multimodal.renderQuadGradPng(9, 8, offset = g,
            shift = (id % 3).toInt * 4),
          9, 8, 0)
      } else {
        val g = (id % 20).toInt
        val gain = 1 + (id % 4).toInt
        val amps = Array.tabulate(65) { st =>
          val t = st + g * 5 + 1
          ((t * t * 7) % 97 + 1) * gain
        }
        Multimodal.MediaRow(id, "audio",
          Multimodal.renderSteppedWav(amps, samplesPerStep = 64,
            sampleRate = 8000),
          0, 0, 8000)
      }
    }
    Multimodal.mediaDedupPipeline(media, maxHamming = 3)
      .select(col("survivor_id"), col("kind"), col("n_members"),
        col("n_exact_classes"))
  }

  /** Q183 — mergeable quantile sketch, bound-checked
    * ([[graft.operators.Sketches.ddQuantiles]]; Masson et al., VLDB
    * 2019): per-event-type p25/p50/p75/p90 of positive values from ONE
    * DDSketch pass — bucket-count maps merge order-independently
    * (task order cannot change a bit), ~16 KB of state per (partition,
    * group) through the shuffle at any row count. The q28 oracle
    * pattern: the estimate never leaves the engine; the output carries
    * the EXACT discrete order statistic (min v with cum ≥
    * ceil(n·q/100) over the distinct-value support) and a boolean
    * asserting the sketch's published relative-error guarantee
    * α = (γ−1)/(γ+1) ≈ 0.99 % held — DuckDB replays the exact side and
    * the TRUE literal.
    */
  def q183(s: SparkSession, d: String): DataFrame = {
    val pos = ddPos(s, d)
    val est = graft.operators.Sketches.ddQuantiles(pos, "event_type", "v",
      Seq(25, 50, 75, 90), 1.02)
    ddBoundCheck(s, pos, est, Seq(25, 50, 75, 90), 1.02)
  }

  /** The sketch-admissible event values (positive finite), shared by
    * q183/q188.
    */
  private def ddPos(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(col("event_type"), col("value").cast("double").as("v"))
      .filter(col("v").isNotNull && col("v") > 0 && !isnan(col("v")) &&
        col("v") =!= Double.PositiveInfinity)

  /** The q28/q183 oracle pattern: join an estimate table against the
    * exact per-group order statistic and emit `(exact_v,
    * within_bound)` — the engine-specific estimate stays internal.
    */
  private def ddBoundCheck(s: SparkSession, pos: DataFrame, est: DataFrame,
                           qs: Seq[Int], gamma: Double,
                           keyCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alpha = (gamma - 1.0) / (gamma + 1.0)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("v"))
    val cum = pos.groupBy(col(keyCol), col("v")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("__c")).over(
        Window.partitionBy(col(keyCol))))
    val sp = s
    import sp.implicits._
    // cum >= ceil(tot·q/100)  ⟺  100·cum >= tot·q for integer cum
    val exact = cum
      .join(broadcast(qs.map(_.toLong).toDF("q_pct")),
        col("__cum") * 100 >= col("__tot") * col("q_pct"))
      .groupBy(col(keyCol), col("q_pct"))
      .agg(min(col("v")).as("__exact"))
    exact.join(est, Seq(keyCol, "q_pct"))
      .select(col(keyCol), col("q_pct"), col("n"),
        NumFunctions.roundNz(col("__exact"), 6).as("exact_v"),
        (abs(col("est") - col("__exact")) <=
          lit(alpha) * col("__exact") + lit(1e-9)).as("within_bound"))
  }

  /** Q188 — STANDING quantile table, maintained then bound-checked
    * ([[graft.sinks.QuantileSink]]): the events split into two
    * micro-batches (the q76 incremental-rollup drill), each folded
    * into the partitioned sketch table — only touched partitions
    * rewritten, bucket counts merged by addition — and the standing
    * table's estimates checked exactly like q183's one-shot sketch:
    * the output carries the exact order statistic and a
    * `within_bound` flag, so the oracle is the same SQL. Because the
    * maintained state merges order-independently and buckets with the
    * identical StrictMath code, maintained ≡ one-shot bit for bit
    * (QuantilesSinkSpec) — and therefore this query's rows match
    * q183's exactly.
    */
  def q188(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-qsink-${math.abs(d.hashCode)}/sk").toString
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val src = ev(s, d).select(col("event_type"), col("value"),
      pmod(col("event_id"), lit(2)).as("__b"))
    for (b <- 0 to 1)
      graft.sinks.QuantileSink.maintain(s,
        src.filter(col("__b") === b).drop("__b"), root,
        partCols = Seq("event_type"), keyCols = Seq("event_type"),
        valueCol = "value", gamma = 1.02)
    val est = graft.sinks.QuantileSink.quantiles(s, root,
      Seq("event_type"), Seq(25, 50, 75, 90), 1.02)
    ddBoundCheck(s, ddPos(s, d), est, Seq(25, 50, 75, 90), 1.02)
  }

  /** Q179 — TPC-H Q5 (local supplier volume): revenue by nation for
    * ASIA-region customers served by same-nation suppliers in 1996 —
    * the classic six-table join. The region→nation→supplier dimension
    * chain broadcasts (genuinely bounded); customer carries NO hint
    * (fact-scaling — AQE size-picks its join); lineitem streams through
    * one shuffle join with orders; revenue routes through
    * DECIMAL(28,6).
    */
  def q179(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val nations = Tables.nation(s, d).join(
      broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
      col("n_regionkey") === col("r_regionkey"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      // customer scales LINEARLY with the fact side (sf·150k rows): no
      // broadcast HINT — AQE size-picks BHJ while it fits and falls back
      // to a shuffle join at lake scale, where a forced driver-side
      // broadcast of a growing table would OOM. Only genuinely bounded
      // dims (nation/region/supplier chain) stay pinned.
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("__r"))
      .select(col("n_name"),
        NumFunctions.roundNz(col("__r").cast("double"), 2).as("revenue"))
  }

  /** Q177 — per-source language entropy
    * ([[graft.operators.Corpus.classEntropy]]): Shannon diversity of
    * each source's language mix — 0 = monoculture, ln(k) = uniform
    * over k; the datasheet companion to q121's raw shares. Decimal
    * p·ln p path.
    */
  def q177(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.classEntropy(docs(s, d), "source", "lang")

  /** Q178 — TPC-H Q3 (shipping-priority revenue): top-10 unshipped
    * BUILDING-segment orders by discounted revenue as of 1995-03-15 —
    * the classic 3-table join + aggregate + total-order cut, with
    * revenue routed through DECIMAL(28,6) before the rounded rank.
    * The customer side carries NO broadcast hint (it scales with the
    * fact side) — AQE size-picks the join strategy; PlanSpec gates
    * that no fact-scaling table is ever hint-pinned.
    */
  def q178(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1995-03-15 00:00:00").cast("timestamp")
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      // customer is fact-scaling (sf·150k): no broadcast hint — AQE
      // size-picks the strategy (BHJ at test SF, shuffle join at scale)
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("__r"))
      .select(col("l_orderkey"),
        NumFunctions.roundNz(col("__r").cast("double"), 2).as("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc,
        col("l_orderkey").asc)
      .limit(10)
  }

  /** Q198 — zero-exchange co-located join over bucketed tables
    * ([[graft.sinks.Layout.bucketedTable]]): orders and lineitem are
    * laid out ONCE as 16-bucket parquet tables keyed on orderkey (one
    * sorted file per bucket), and the fact-fact join then sort-merges
    * with NO shuffle on either side — each bucketed scan reports its
    * hash partitioning and sort order, so the only exchange in the
    * whole plan is the 5-row priority aggregate above the join. The
    * layout-vs-query trade every lake makes: pay the co-location at
    * write/compaction time, never per query; at 100 TB this deletes
    * the two largest exchanges a TPC-H-shaped join pipeline has. The
    * `merge` hint pins the scale-relevant strategy at test SF (size
    * stats would otherwise broadcast the small fixture). Plan-gated:
    * exactly one exchange, and it carries the post-join aggregate.
    */
  def q198(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("__r"))
    val ot = graft.sinks.Layout.bucketedTable(o, s"q198-orders|$d",
      "o_orderkey", 16)
    val lt = graft.sinks.Layout.bucketedTable(l, s"q198-lineitem|$d",
      "l_orderkey", 16)
    s.table(ot).hint("merge")
      .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        NumFunctions.roundNz(sum(col("__r")).cast("double"), 2).as("revenue"))
  }

  /** Q199 — bucket-PRUNED point lookup over q198's layout (the same
    * [[graft.sinks.Layout.bucketedTable]] copy, same cache key — one
    * compaction pass serves the co-located join AND the point reads):
    * an IN-list on the bucket key scans only the buckets the keys hash
    * to, `SelectedBucketsCount ≤ 3 out of 16` instead of the full
    * table — at 100 TB a point lookup touches 1/16th of the files
    * before any row-group stat is even consulted. Plan-gated on the
    * selected-bucket count. Oracle: the plain IN-list aggregate —
    * layout changes the scan, never the answer.
    */
  def q199(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("__r"))
    val lt = graft.sinks.Layout.bucketedTable(l, s"q198-lineitem|$d",
      "l_orderkey", 16)
    s.table(lt).filter(col("l_orderkey").isin(1L, 7L, 32L))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        NumFunctions.roundNz(sum(col("__r")).cast("double"), 2).as("revenue"))
  }

  /** Q200 — self-maintaining streaming dedup index
    * ([[graft.sinks.DedupIndexSink]]): the corpus arrives as three
    * content-keyed daily batches (`doc_id % 3`); each batch is probed
    * against the STANDING MinHash index (cross-day pairs — the index
    * side never shuffles, q105's discipline), checked against itself
    * (intra-day pairs), and appended as prepared per-document state
    * (shingle hashes + signature — text never re-read), all
    * exactly-once under streaming replay (per-batch overwrite dirs +
    * `_APPLIED` markers; the probe reads only SEALED prior batches).
    * Day N costs O(batch · probe), never O(corpus²). Output: every
    * committed batch's matches. Oracle: brute-force day-ordered
    * cross-Jaccard — `(new, old)` qualifies when day(new) > day(old),
    * or same day with new > old, at Jaccard ≥ 0.7.
    */
  def q200(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q200|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-dedupsink-$keyHex/idx").toString
    (0L to 2L).foreach { day =>
      graft.sinks.DedupIndexSink.maintain(s,
        docs(s, d).filter(pmod(col("doc_id"), lit(3)) === day),
        root, "doc_id", "text", day)
    }
    graft.sinks.DedupIndexSink.allMatches(s, root)
      .select(col("new_id"), col("old_id"), col("inter"), col("un"),
        col("jac"))
  }

  /** Q201 — greedy facility-location data selection
    * ([[graft.operators.Selection.facilityLocation]]; Lin & Bilmes,
    * ACL 2011): pick 6 candidates maximizing target coverage
    * `Σ_t max(0, max_sel sim)` against the 5 % target slice
    * (`vec_id % 20 = 0`) — target-RELEVANT and DIVERSE at once (a
    * near-dup of a prior pick gains nothing), the submodular selector
    * similarity-top-k lacks. Sims route through 6-dp DECIMAL so every
    * greedy round is exact in any partitioning; per round the plan is
    * one zero-exchange row-local fold + TakeOrdered(1). Oracle unrolls
    * all 6 rounds (argmax CTE + cover update per round).
    */
  def q201(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Selection.facilityLocation(
      e.filter(pmod(col("vec_id"), lit(20)) =!= 0),
      e.filter(pmod(col("vec_id"), lit(20)) === 0),
      "vec_id", "embedding", k = 6)
  }

  /** Q202 — contamination REMOVAL
    * ([[graft.operators.SuffixArray.decontaminate]]; q196's payoff
    * face, the cross-corpus twin of q195): every eval character
    * covered by a ≥ 20-char span occurring verbatim anywhere in the
    * train split is dropped, survivors stitched in order — the eval
    * set a benchmark can actually be scored on. One src-tagged
    * order-32 sort feeds the q196 audit and this removal. Oracle: the
    * q196 sort/neighbor/LCP replay, then the q195 interval merge and
    * `string_agg` gap stitch applied to the eval docs — clean_text is
    * compared as a STRING, pinning every survivor boundary.
    */
  def q202(s: SparkSession, d: String): DataFrame = {
    val dd = graft.operators.Corpus.splitAssign(docs(s, d), "doc_id",
      salt = "graft")
    graft.operators.SuffixArray.decontaminate(
      dd.filter(col("split") === "train"), dd.filter(col("split") =!= "train"),
      "doc_id", "text", maxOrder = 32, minLen = 20)
  }

  /** Q203 — MMR diversified re-ranking
    * ([[graft.operators.Selection.mmr]]; Carbonell & Goldstein, SIGIR
    * 1998): q14's relevance list re-ranked for diversity — greedy
    * `λ·sim(query, c) − (1−λ)·max_sel sim` at λ = 7/10 against probe
    * vec 0, k = 6. Exact decimal scoring (6-dp sims, rational λ never
    * divided), zero-exchange rounds; the oracle unrolls every round
    * with a candidate-pair sim matrix.
    */
  def q203(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Selection.mmr(e.filter(col("vec_id") =!= 0),
      e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 6,
      lamNum = 7, lamDen = 10)
  }

  /** Q205 — k-center greedy coreset
    * ([[graft.operators.Selection.kcenter]]; Gonzalez, TCS 1985;
    * Sener & Savarese, ICLR 2018): seed at the smallest id, then 7
    * farthest-point rounds over the embeddings table — each pick
    * maximizes the min 6-dp-decimal cosine distance to the selected
    * set, ties to the smallest id. Zero-exchange rounds (selected
    * vectors ride as ONE nested-array literal), one TakeOrdered(1)
    * each. Oracle: the candidate-pair distance matrix + all 8 rounds
    * unrolled in argmax CTEs, radius in exact 1e-6 units.
    */
  def q205(s: SparkSession, d: String): DataFrame =
    graft.operators.Selection.kcenter(emb(s, d), "vec_id", "embedding",
      k = 8)

  /** Q206 — sorted-neighborhood near-dup blocking
    * ([[graft.operators.Dedup.sortedNeighborhoodPairs]]; Hernández &
    * Stolfo, SIGMOD 1995): sort by the 24-char normalized-text key,
    * compare each document to its 5 successors in that order, verify
    * with exact shingle Jaccard ≥ 0.7 — the deterministic
    * entity-resolution blocking tier next to the probabilistic LSH
    * family; candidates are exactly n·5. Oracle: the same key sort
    * via ROW_NUMBER, the same window pair set, the same exact-Jaccard
    * gate.
    */
  def q206(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.sortedNeighborhoodPairs(docs(s, d), "doc_id",
      "text", window = 6, keyLen = 24)

  /** Q207 — deterministic span-corruption planner
    * ([[graft.operators.Corpus.spanCorruptionPlan]]; Raffel et al.,
    * JMLR 2020 §3.1.4): md5-keyed anchors at 13/256 ≈ 5.1 % density
    * (× mean span 3 ≈ the T5 ~15 % token-corruption rate), span
    * lengths 2–4 from the next md5 nibble, touching spans coalesced
    * row-locally — zero exchanges, one output row per document.
    * Oracle replays the md5 gates and the window interval merge.
    */
  def q207(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.spanCorruptionPlan(docs(s, d), "doc_id", "text")

  /** Q208 — rank-biased overlap between retrieval runs
    * ([[graft.operators.Similarity.rbo]]; Webber, Moffat & Zobel, TOIS
    * 2010): the top-weighted agreement between q169's two legs — the
    * BM25 lexical top-10 and the dense cosine top-10 — per query, at
    * p = 0.9. Exact integer evaluation through the cumulative-weight
    * lookup (`rbo_scaled`); the normalized score divides two exact
    * integers and rounds to 6. Oracle replays both legs (the q169
    * CTEs) and the same weight table.
    */
  def q208(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val queries = dd.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"),
        concat_ws(" ",
          slice(graft.functions.TextFunctions.tokens(lower(col("text"))), 1, 5))
          .as("qtext"))
    val lexical = graft.operators.Corpus.bm25TopK(dd, "doc_id", "text",
        queries, "qid", "qtext", k = 10)
      .select(col("qid"), col("doc_id"), col("rk"))
    val e = emb(s, d)
    val dense = Similarity.topKCosine(e, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", 10)
      .select(col("probe_id").as("qid"), col("vec_id").as("doc_id"), col("rk"))
    Similarity.rbo(lexical, dense, "qid", "doc_id", "rk", depth = 10)
  }

  /** Q209 — deterministic bootstrap confidence band
    * ([[graft.operators.Eval.bootstrapMeanCI]]; Efron's percentile
    * bootstrap): 200 md5-keyed with-replacement resamples of the
    * documents table, each resample's exact-integer mean of `n_chars`,
    * exact order-statistic percentiles (5/50/95) across the resample
    * means. Oracle replays the md5 draw indices, the position join,
    * and the percentile CTE.
    */
  def q209(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.bootstrapMeanCI(docs(s, d), "doc_id", "n_chars",
      numResamples = 200, qPcts = Seq(5, 50, 95))

  /** Q210 — capped-epochs mixture allocation
    * ([[graft.operators.Corpus.mixtureAllocate]]): the data-mixing
    * planner — distribute a 1.2×-corpus token budget over the 20
    * sources ∝ α = 0.5 temperature weights, cap every source at 1.5
    * epochs of itself, water-fill the freed budget to fixpoint. Exact
    * BigInt arithmetic end to end; oracle unrolls the fill rounds in
    * HUGEINT CTEs.
    */
  def q210(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.mixtureAllocate(docs(s, d), "source", "n_chars",
      alpha = 0.5, budgetNum = 6, budgetDen = 5, maxEpNum = 3, maxEpDen = 2)

  /** Q211 — kNN-distance outlier scores
    * ([[graft.operators.Similarity.knnOutlierScores]]; Ramaswamy et
    * al., SIGMOD 2000): the 20 % audit slice's (`vec_id % 5 = 0`)
    * distance to its 10th nearest neighbor in the FULL corpus — the
    * embedding-space curation gate for corrupt or off-distribution
    * vectors. The probe side is an explicit bounded slice (the
    * broadcast-audit contract: only the probes broadcast, neighbors
    * scan map-side); lake-scale full sweeps batch the probes or route
    * through the ANN tier. Oracle: the slice-by-corpus pair matrix +
    * row_number at rk = 10.
    */
  def q211(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.knnOutlierScores(e,
      e.filter(pmod(col("vec_id"), lit(5)) === 0), "vec_id",
      "embedding", k = 10)
  }

  /** Q212 — one-pass Poisson bootstrap confidence band
    * ([[graft.operators.Eval.bootstrapMeanCIPooled]]; Chamandy et
    * al. 2012): q209's band recomputed the way a 100 TB corpus must —
    * every document draws a Poisson(1) weight per resample from
    * `md5(bsp:b:doc_id) mod 1e6` against the integer CDF table, all
    * 200 weighted sums fold map-side in ONE corpus pass (no draw
    * grid, no join, no rank), resample mean = Σw·v / Σw, exact
    * order-statistic percentiles over the retained means. Oracle
    * replays the md5 draws, the threshold lookup, and the percentile
    * CTE with the same integer table.
    */
  def q212(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.bootstrapMeanCIPooled(docs(s, d), "doc_id",
      "n_chars", numResamples = 200, qPcts = Seq(5, 50, 95))

  /** Q213 — quality-aware dedup survivors
    * ([[graft.operators.Dedup.dedupCorpusByQuality]]; the RefinedWeb
    * keep-the-best-copy discipline): q37's exact clustering
    * (exact-collapse → MinHash-LSH → components, shared via the same
    * cacheKey so the expensive stage computes once per session), but
    * each cluster keeps its highest-`n_chars` member, ties to the
    * smallest id. Oracle: the q37 recursive reach closure + a
    * per-component (quality DESC, id ASC) row_number at 1.
    */
  def q213(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.dedupCorpusByQuality(docs(s, d), "doc_id",
        "text", "n_chars", cacheKey = Some(d))
      .select(col("doc_id"), col("n_chars").cast("long").as("quality"))

  /** Q214 — self-BLEU-2 corpus diversity
    * ([[graft.operators.Corpus.selfBleu2]]; Zhu et al., SIGIR 2018):
    * per document, the modified bigram precision against the rest of
    * the corpus as references — the diversity gate a synthetic-data
    * pipeline reads before mixing generated text in. Linear via the
    * per-bigram top-2 reduction (no pairwise BLEU calls); precision =
    * exact clipped/total integers, one rounded division. Oracle
    * replays the bigram counts, the (count DESC, id ASC) top-2
    * window, and the clip.
    */
  def q214(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.selfBleu2(docs(s, d), "doc_id", "text")

  /** Q215 — near-dup pair forensics
    * ([[graft.operators.Dedup.pairEvidence]]): for every q22 verified
    * near-dup pair, the 3 rarest shared 3-grams by corpus document
    * frequency — the human-readable WHY behind each pair a reviewer
    * samples before approving a destructive dedup pass. One string-
    * shingle explode, one df collapse, pair fan-out over the a-side,
    * (id, shingle) semi-match on the b-side, bounded-heap top-k per
    * pair. Oracle: the q22 brute-force Jaccard pair set + unnested
    * shingles + df join + (df ASC, shingle ASC) row_number ≤ 3.
    */
  def q215(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.pairEvidence(docs(s, d), "doc_id", "text")

  /** Q216 — McNemar filter-promotion gate
    * ([[graft.operators.Eval.mcnemarGate]]): per language, does
    * quality-filter B (≥ 50 tokens) pass a significantly different
    * document set than filter A (≥ 300 chars) on the SAME corpus?
    * Paired-data discordant counts, z = (n_ab − n_ba)/√(n_ab + n_ba)
    * (IEEE sqrt is correctly rounded in both engines), significance
    * on the rounded z vs the 1.96 literal. One partial-aggregating
    * collapse; the flags evaluate in the scan projection. Oracle
    * replays the flags, counts, and the same sqrt arithmetic.
    */
  def q216(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.mcnemarGate(docs(s, d), "lang",
      col("n_chars") >= 300,
      graft.functions.TextFunctions.tokenCount(col("text")) >= 50)

  /** Q217 — windowed code-switch audit
    * ([[graft.operators.Corpus.codeSwitchAudit]]; the CCNet/C4
    * per-segment language-filter discipline): the q19 marker
    * heuristic applied per 30-token window instead of per document —
    * window count, distinct window languages, majority language
    * (ties to the smallest) and its share per document. Window texts
    * build row-locally; majority via one struct min_by, no window
    * function. Oracle replays the token slices, the marker counts,
    * and the (count DESC, lang ASC) head per document.
    */
  def q217(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.codeSwitchAudit(docs(s, d), "doc_id", "text")

  /** Q218 — Fleiss' kappa inter-annotator agreement
    * ([[graft.operators.Eval.fleissKappa]], Fleiss 1971): per
    * language, the chance-corrected agreement of a 3-rater panel
    * labeling each document short/mid/long — rater judgments are the
    * document's length perturbed by a per-(doc, rater) md5 jitter, so
    * the panel disagrees exactly at bucket boundaries and the whole
    * fixture is a pure function of the corpus. The kappa itself is
    * ONE division of two exact 128-bit integers. Oracle replays the
    * jittered labels, both integer marginals, and the cleared-denominator
    * formula in HUGEINT.
    */
  def q218(s: SparkSession, d: String): DataFrame = {
    val eff = col("n_chars") + pmod(conv(substring(md5(concat_ws(":",
      lit("fk"), col("doc_id").cast("string"), col("rater").cast("string"))),
      1, 8), 16, 10).cast("long"), lit(200L))
    val ratings = docs(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1), lit(3))).as("rater"))
      .withColumn("label", when(eff < 400, lit("short"))
        .when(eff < 700, lit("mid")).otherwise(lit("long")))
    graft.operators.Eval.fleissKappa(ratings, "lang", "doc_id", "rater",
      "label", ratersPerItem = 3)
  }

  /** Q219 — Good-Turing unseen-mass estimate
    * ([[graft.operators.Corpus.goodTuringMass]], Good 1953): per
    * language, the probability the next token is unseen (`N1/N`) and
    * the Good-Turing adjusted hapax count (`2·N2/N1`) — exact integer
    * counts off one (lang, term) table, one IEEE division each.
    * Oracle replays the whitespace tokens and counts-of-counts.
    */
  def q219(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.goodTuringMass(docs(s, d), "lang", "text")

  /** Q220 — recursive (c, l)-diversity audit
    * ([[graft.operators.Corpus.recursiveCLDiversity]],
    * Machanavajjhala et al. 2006): q155's quasi-identifier classes
    * ((nation, segment) with the balance bucket sensitive), but the
    * STRONGER dominance test — the top sensitive count must stay
    * under c = 2 times the tail mass from the 2nd value down, as an
    * exact integer cross-multiplication. Oracle replays the
    * frequency-ranked window and the integer test.
    */
  def q220(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.recursiveCLDiversity(
      Tables.customer(s, d).withColumn("bal_bucket",
        floor(col("c_acctbal") / 2000).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket",
      l = 2, cNum = 2, cDen = 1)

  /** Q221 — Benjamini-Hochberg FDR step-up
    * ([[graft.operators.Eval.bhFdr]], Benjamini & Hochberg 1995):
    * one significance gate per (lang, source) cell with a
    * deterministic md5 p-value (even-length sources draw from
    * [0, 1000) ppm — the "real effects"; odd-length from the full
    * million — the nulls), then the exact-integer step-up at
    * q = 0.1: which alarms survive FDR control. Oracle replays the
    * p-values, both windows, and the cleared-denominator comparison.
    */
  def q221(s: SparkSession, d: String): DataFrame = {
    val u = conv(substring(md5(concat_ws(":", lit("bh"), col("lang"),
      col("source"))), 1, 8), 16, 10).cast("long")
    val gates = docs(s, d).select(col("lang"), col("source")).distinct()
      .withColumn("test", concat_ws("/", col("lang"), col("source")))
      .withColumn("p_ppm", when(length(col("source")) % 2 === 0,
        pmod(u, lit(1000L))).otherwise(pmod(u, lit(1000000L))))
    graft.operators.Eval.bhFdr(gates, "test", "p_ppm", qPpm = 100000L)
  }

  /** Q222 — paired sign-flip permutation test
    * ([[graft.operators.Eval.pairedPermutationTest]], Fisher's
    * randomization logic with the Phipson-Smyth add-one estimator):
    * per language, does the character count differ from 6× the token
    * count beyond chance — 200 md5-keyed sign assignments of each
    * document's exact integer difference, folded in ONE corpus pass
    * (the q212 skeleton). Oracle replays the signs, the permuted
    * totals, and the add-one ratio.
    */
  def q222(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.pairedPermutationTest(
      docs(s, d).filter(col("text").isNotNull), "lang", "doc_id",
      col("n_chars"),
      lit(6L) * graft.functions.TextFunctions.tokenCount(col("text")),
      numPerms = 200)

  /** Q224 — Cochran's Q over three paired gate versions
    * ([[graft.operators.Eval.cochranQ]], Cochran 1950): per language,
    * do the 300-char, 50-token, and 500-char gates pass different
    * document sets beyond chance — the k-version generalization of
    * q216 in one exact-integer statistic (ONE division of two
    * DECIMAL(38,0) integers, χ²₀.₀₅ at df 2 on the rounded value).
    * Oracle replays the flags, the per-doc pass counts, and the
    * cleared-denominator formula in HUGEINT.
    */
  def q224(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.cochranQ(docs(s, d), "lang", Seq(
      col("n_chars") >= 300,
      graft.functions.TextFunctions.tokenCount(col("text")) >= 50,
      col("n_chars") >= 500))

  /** Q225 — Cohen's d between corpus halves
    * ([[graft.operators.Eval.cohensD]], Cohen 1988): per language,
    * the standardized character-count difference between even- and
    * odd-id documents — exact integer sums of squares, a fixed chain
    * of IEEE divides and one sqrt. Oracle replays the slice sums and
    * the same operation chain.
    */
  def q225(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.cohensD(docs(s, d), "lang", "n_chars",
      col("doc_id") % 2 === 0)

  /** Q226 — Cliff's delta between corpus halves
    * ([[graft.operators.Eval.cliffsDelta]], Cliff 1993): the
    * distribution-free companion of q225 on the same slices — exact
    * integer greater/less pair counts via per-value collapse + one
    * group-partitioned cumulative window, one division. Oracle
    * replays the value counts, the cumulative window, and the pair
    * products.
    */
  def q226(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.cliffsDelta(docs(s, d), "lang", "n_chars",
      col("doc_id") % 2 === 0)

  /** Q227 — Krippendorff's alpha with varying panel sizes
    * ([[graft.operators.Eval.krippendorffAlpha]], Krippendorff 2011):
    * per language, nominal agreement over panels of 2 OR 3 raters
    * (`2 + doc_id % 2` — the varying-panel table q218's Fleiss must
    * drop rows from), md5-jittered length labels; the
    * lcm-cleared disagreement ratio is ONE division of two exact
    * DECIMAL(38,0) integers. Oracle replays the panels, both
    * disagreement sums, and the lcm scaling in HUGEINT.
    */
  def q227(s: SparkSession, d: String): DataFrame = {
    val eff = col("n_chars") + pmod(conv(substring(md5(concat_ws(":",
      lit("ka"), col("doc_id").cast("string"), col("rater").cast("string"))),
      1, 8), 16, 10).cast("long"), lit(200L))
    val ratings = docs(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1L), lit(2L) + pmod(col("doc_id"), lit(2L))))
          .as("rater"))
      .withColumn("label", when(eff < 400, lit("short"))
        .when(eff < 700, lit("mid")).otherwise(lit("long")))
    graft.operators.Eval.krippendorffAlpha(ratings, "lang", "doc_id",
      "label", maxRaters = 12)
  }

  /** Q228 — simplified silhouette clustering quality
    * ([[graft.operators.Similarity.silhouetteSimplified]], Rousseeuw
    * 1987 / Hruschka et al. 2004): per embedding label, the mean
    * (b − a)/max(a, b) of cosine distances to the own vs nearest
    * foreign centroid — the cluster-validity gate over the q89
    * centroids; centroids collect (metadata tier) and score in one
    * zero-exchange projection. Oracle replays the centroid table, the
    * vector×centroid distance fan-out, and the same rounded chain.
    */
  def q228(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.silhouetteSimplified(
      Tables.embeddings(s, d), "label", "embedding")

  /** Q229 — Wilcoxon signed-rank paired test
    * ([[graft.operators.Eval.wilcoxonSignedRank]], Wilcoxon 1945):
    * per language, the magnitude-aware paired test on q222's exact
    * difference (characters vs 6× tokens) — doubled midranks over
    * tie groups, the tie-corrected z with every fraction cleared to
    * exact integers, one divide + one sqrt. Oracle replays the tie
    * groups, the doubled ranks, and the cleared-denominator z.
    */
  def q229(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.wilcoxonSignedRank(
      docs(s, d).filter(col("text").isNotNull), "lang",
      col("n_chars"),
      lit(6L) * graft.functions.TextFunctions.tokenCount(col("text")))

  /** Q230 — Spearman rank correlation
    * ([[graft.operators.Eval.spearmanRho]], Spearman 1904): per
    * language, the monotone association between character and token
    * counts — doubled midranks joined back by value, Pearson over
    * exact DECIMAL(38,0) rank sums, one fixed IEEE chain. Oracle
    * replays both rank tables, the joins, and the same formula.
    */
  def q230(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.spearmanRho(
      docs(s, d).filter(col("text").isNotNull)
        .withColumn("n_toks",
          graft.functions.TextFunctions.tokenCount(col("text"))),
      "lang", "n_chars", "n_toks")

  /** Q234 — the FOUR-sink curation loop's vocabulary reads
    * ([[graft.streaming.CurationLoop]] with `langCol` set): the q204
    * three-day composition, now also maintaining the
    * [[graft.sinks.VocabSink]] vocabulary in the same `foreachBatch`
    * body — the Good-Turing statistics then read the loop-maintained
    * standing table. Oracle is q219's raw-token recompute verbatim:
    * maintained-through-the-composed-loop ≡ recomputed.
    */
  def q234(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q234|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-curvocab-$keyHex/lake").toString
    (0L to 2L).foreach { day =>
      graft.streaming.CurationLoop(s,
        docs(s, d).filter(pmod(col("doc_id"), lit(3)) === day)
          .withColumn("quality", col("n_chars").cast("double")),
        root, "doc_id", "text", Seq("lang"), Seq("lang"), "quality",
        day, langCol = Some("lang"))
    }
    graft.sinks.VocabSink.goodTuring(s,
      graft.streaming.CurationLoop.vocabRoot(root))
  }

  /** Q236 — CLUSTER bootstrap confidence band
    * ([[graft.operators.Eval.bootstrapMeanCIPooled]] keyed on the
    * SOURCE, Field & Welsh 2007): documents within a source draw the
    * same Poisson weight per resample, so whole sources resample
    * together — the honest band when in-source correlation would make
    * q212's iid band too tight. Same one-pass fold, same md5
    * discipline, different resampling unit. Oracle replays the
    * source-keyed draws through the q212 CTE chain.
    */
  def q236(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.bootstrapMeanCIPooled(docs(s, d), "source",
      "n_chars", numResamples = 200, salt = "bspc")

  /** Q237 — Kendall's W judge concordance
    * ([[graft.operators.Eval.kendallW]], Kendall & Babington Smith
    * 1939): per language, do three judges ORDER the documents
    * consistently — each judge's score is the length perturbed by a
    * per-(doc, judge) md5 jitter, ranked in doubled midrank units per
    * judge; the tie-corrected W clears to one division of two exact
    * DECIMAL(38,0) integers. The ordinal companion of q218/q227.
    * Oracle replays the per-judge rank tables, the per-item rank
    * sums, and the cleared formula in HUGEINT.
    */
  def q237(s: SparkSession, d: String): DataFrame = {
    val score = col("n_chars") + pmod(conv(substring(md5(concat_ws(":",
      lit("kw"), col("doc_id").cast("string"), col("judge").cast("string"))),
      1, 8), 16, 10).cast("long"), lit(200L))
    val ratings = docs(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1), lit(3))).as("judge"))
      .withColumn("score", score)
    graft.operators.Eval.kendallW(ratings, "lang", "doc_id", "judge",
      "score")
  }

  /** The q238/q239 multi-line view of `documents`: each text re-lined
    * at 10-token boundaries (the fixture's texts are single-line, so
    * the line tier would otherwise be a no-op; near-dup documents
    * share 10-token runs, so the re-lined corpus carries real
    * duplicate-line mass — 134 duplicated lines at sf0.001). Both
    * engines build the view with the shared tokenizer, so the oracle
    * replays it exactly.
    */
  private def linedDocs(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val lined = when(col("text").isNull, lit(null).cast("string"))
      .when(size(toks) === 0, lit(""))
      .otherwise(concat_ws("\n",
        transform(
          sequence(lit(0), (ceil(size(toks) / lit(10.0)) - 1).cast("int")),
          i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10))))))
    docs(s, d).select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), lined.as("text"))
  }

  /** Q238 — corpus-wide line-level exact dedup, keep-first
    * ([[graft.operators.Dedup.dedupLines]], the C4/Dolma paragraph-
    * dedup recipe): every ≥ 2-char newline-delimited line of the
    * [[linedDocs]] view is deduplicated across the whole corpus —
    * first occurrence by (doc_id, position) survives, later
    * occurrences are deleted in place, documents rebuilt with
    * surviving lines in order. The tier between whole-document exact
    * dedup (q12) and suffix-array span dedup (q195): line granularity
    * with natural boundaries, so cross-page boilerplate (nav bars,
    * license headers) dies while the surrounding unique prose
    * survives. Oracle replays the re-lining, the line explode, the
    * keep-first window, and the ordered string_agg rebuild on raw
    * strings (the engine's 64-bit line hashes are identity w.h.p. —
    * the shared hashed-shingle contract).
    */
  def q238(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.dedupLines(linedDocs(s, d), "doc_id", "text")

  /** Q239 — boilerplate top-k, the audit face of q238
    * ([[graft.operators.Dedup.boilerplateTopK]]): the 20 most-
    * duplicated lines corpus-wide in actual text, ranked by occurrence
    * count (ties by first occurrence) — what a reviewer reads before
    * approving the destructive line-dedup pass. Line counts collapse
    * on 8-byte hashes; text materializes for exactly the k winners
    * via one broadcast join. Oracle replays the count, the keep-first
    * window, and the rank on raw strings.
    */
  def q239(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.boilerplateTopK(linedDocs(s, d), "doc_id", "text",
      k = 20)

  /** Q240 — self-maintaining streaming line dedup
    * ([[graft.sinks.LineDedupSink]]): three content-keyed batches
    * (`doc_id % 3`, the q200 fixture) of the [[linedDocs]] view flow
    * through the standing line-hash filter — each batch cleaned
    * against every line the stream has already seen (plus its own
    * within-batch keep-first), its new hashes folded exactly-once
    * under the marker protocol. The composed result is global
    * keep-first in `(batch, doc_id, pos)` order, which the oracle
    * replays as one window; the sink's crash/replay/compaction
    * discipline is spec-pinned (LineDedupSinkSpec). Returns the union
    * of the three cleaned batches.
    */
  def q240(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q240|v1", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-linededup-$keyHex/idx").toString
    val lined = linedDocs(s, d)
    (0L to 2L).map { day =>
      graft.sinks.LineDedupSink.maintain(s,
        lined.filter(pmod(col("doc_id"), lit(3)) === day),
        root, "doc_id", "text", day)
    }.reduce(_.unionByName(_))
  }

  /** Q241 — NORMALIZED line-level dedup, keep-first
    * ([[graft.operators.Dedup.dedupLines]] with `normalize = true`):
    * q238 on canonicalized line keys — each line is case-folded and
    * whitespace-collapsed ([[graft.functions.TextFunctions.normalize]],
    * the q52 kernel) BEFORE hashing, so `Cookie Policy` and
    * `cookie policy` collapse, while the rebuild re-emits the ORIGINAL
    * line bytes of every survivor. To carry real differential mass vs
    * the exact tier, the view upper-cases odd doc_ids' text: boilerplate
    * shared across an odd/even doc pair differs in case (invisible to
    * q238) and still dies here. Oracle replays the case perturbation
    * and windows on the q52 normalization expression over raw strings.
    */
  def q241(s: SparkSession, d: String): DataFrame = {
    val cased = linedDocs(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(2)) === 1, upper(col("text")))
        .otherwise(col("text")))
    graft.operators.Dedup.dedupLines(cased, "doc_id", "text",
      normalize = true)
  }

  /** Q242 — self-maintaining streaming NORMALIZED line dedup
    * ([[graft.sinks.LineDedupSink]] with `normalize = true`): the q240
    * stream over the q241 case-perturbed view — three content-keyed
    * batches cleaned against the standing set of NORMALIZED line
    * hashes, so a batch-2 `COOKIE POLICY` dies against batch-0's
    * `cookie policy` while every survivor keeps its original bytes.
    * Completes the line tier's 2×2: {one-shot, streaming} ×
    * {exact, normalized}. Oracle composes q240's (batch, doc_id, pos)
    * global keep-first window with q241's normalized partition key.
    */
  def q242(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q242|v1", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-linededup-$keyHex/nidx").toString
    val cased = linedDocs(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(2)) === 1, upper(col("text")))
        .otherwise(col("text")))
    (0L to 2L).map { day =>
      graft.sinks.LineDedupSink.maintain(s,
        cased.filter(pmod(col("doc_id"), lit(3)) === day),
        root, "doc_id", "text", day, normalize = true)
    }.reduce(_.unionByName(_))
  }

  /** Q235 — linkage blocking pre-flight profile
    * ([[graft.operators.Linkage.blockProfile]]): per q223 block key,
    * the record count, the exact `n(n−1)/2` candidate-pair count the
    * linkage would generate, and its share of total pair work — the
    * Σ block² cost made visible BEFORE the pass runs. Oracle replays
    * the block counts and the HUGEINT pair arithmetic.
    */
  def q235(s: SparkSession, d: String): DataFrame =
    graft.operators.Linkage.blockProfile(
      Tables.customer(s, d).select(col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_kb")),
      Seq("c_mktsegment", "bal_kb"))

  /** Q233 — chi-square drift test
    * ([[graft.operators.Drift.chiSquareHomogeneity]], Pearson 1900):
    * the q86/q116 even/odd event split over the SAME reference-decile
    * bins, but as the proper homogeneity TEST — expected counts from
    * exact integer margin products, per-cell contributions frozen at
    * 9 places into decimal before the order-independent sum, the
    * χ²₀.₀₅(df 9) gate on the rounded statistic. Oracle replays the
    * q86 bin CTEs and the same frozen-contribution chain.
    */
  def q233(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("event_id"), col("event_type"), col("value"))
    graft.operators.Drift.chiSquareHomogeneity(
      e.filter(pmod(col("event_id"), lit(2)) === 0),
      e.filter(pmod(col("event_id"), lit(2)) === 1),
      "event_type", "value")
  }

  /** Q231 — maintained vocabulary: Good-Turing off the standing table
    * ([[graft.sinks.VocabSink]]): three content-keyed batches
    * (`doc_id % 3`, the q200 fixture) fold exactly-once into the
    * (lang, bucket)-partitioned vocabulary via the [[graft.sinks
    * .IncrementalAgg]] snapshot/marker protocol; the q219 statistics
    * then read the MAINTAINED table. Oracle is q219's raw-token
    * recompute verbatim — the maintained ≡ recomputed gate.
    */
  def q231(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q231|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-vocabsink-$keyHex/vocab").toString
    (0L to 2L).foreach { day =>
      graft.sinks.VocabSink.maintain(s,
        docs(s, d).filter(pmod(col("doc_id"), lit(3)) === day),
        root, "lang", "text", day)
    }
    graft.sinks.VocabSink.goodTuring(s, root)
  }

  /** Q232 — probe OOV against the maintained vocabulary
    * ([[graft.sinks.VocabSink.oovRate]]): days 1 and 2 fold into the
    * standing table, then day 0 probes it — per language, the probe's
    * token count, unseen-token count, and share, via one key-local
    * left join against the vocabulary (the historical corpus is never
    * re-read). Oracle replays train-distinct terms and the probe join.
    */
  def q232(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q232|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-vocabsink-$keyHex/vocab").toString
    (1L to 2L).foreach { day =>
      graft.sinks.VocabSink.maintain(s,
        docs(s, d).filter(pmod(col("doc_id"), lit(3)) === day),
        root, "lang", "text", day)
    }
    graft.sinks.VocabSink.oovRate(s, root,
      docs(s, d).filter(pmod(col("doc_id"), lit(3)) === 0), "lang", "text")
  }

  /** Q223 — Fellegi-Sunter record-linkage scoring
    * ([[graft.operators.Linkage.fellegiSunterScores]], Fellegi &
    * Sunter 1969): customers blocked on (segment, balance-thousand),
    * compared on nation / name-suffix / balance-hundred with supplied
    * m-probabilities and data-estimated u-probabilities, scored as an
    * odds product (no logarithm — every factor is one IEEE division
    * of exact 128-bit integers) and banded match / possible /
    * nonmatch. Oracle replays the frequency-based u estimates, the
    * blocked pairs, and the factor product in fixed order.
    */
  def q223(s: SparkSession, d: String): DataFrame = {
    val recs = Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000).cast("long").as("bal_kb"),
      col("c_nationkey").as("nation"),
      substring(col("c_name"), -2, 2).as("name2"),
      floor(col("c_acctbal") / 100).cast("long").as("bal_hb"))
    graft.operators.Linkage.fellegiSunterScores(recs, "c_custkey",
      Seq("c_mktsegment", "bal_kb"), Seq("nation", "name2", "bal_hb"),
      Seq(900000L, 800000L, 700000L), upper = 1000.0, lower = 1.0)
  }

  /** Q204 — the COMPOSED streaming curation loop
    * ([[graft.streaming.CurationLoop]]): one `foreachBatch` body
    * driving all three certified incremental sinks — the near-dup
    * index ([[graft.sinks.DedupIndexSink]]), the per-lang DDSketch
    * quantile table ([[graft.sinks.QuantileSink]]), and the per-lang
    * (count, exact sum) rollup ([[graft.sinks.IncrementalAgg]]) —
    * over three content-keyed daily batches (`doc_id % 3`, the q200
    * fixture), each sink exactly-once on its own `_APPLIED` marker.
    * The production shape of the reference's flush loop
    * (`run.py:117-125`): one writer, every derived table advanced per
    * batch, crash-replay convergent at any point (CurationLoopSpec).
    * Output grain (lang, q_pct ∈ {50, 90}): the maintained rollup
    * (n_docs, sum_chars), the maintained sketch checked against the
    * exact order statistic (q188's bound protocol — the estimate
    * never leaves the engine), and the lifetime dedup match count by
    * the new side's lang. Oracle: per-lang recompute + brute-force
    * day-ordered cross-Jaccard count + the TRUE bound literal.
    */
  /** Q243 — lake OPTIMIZE round-trip
    * ([[graft.streaming.CurationLoop.optimizeLake]], the Delta
    * `OPTIMIZE ZORDER` analogue for the plain-parquet document lake):
    * three content-keyed batches (`doc_id % 3`, the q200 fixture) land
    * per-batch similarity-ordered through the six-sink loop's lake,
    * then the maintenance pass folds them into ONE globally
    * similarity-ordered generation under the `_MANIFEST`/`_COMMITTED`
    * crash protocol. The query returns the post-optimize lake
    * read-back — the fold is PURE DATA MOVEMENT, so the oracle is
    * simply the source rows with their batch keys: any lost, duplicated,
    * or mutated row anywhere in the marker/generation machinery breaks
    * the content hash.
    */
  def q243(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q243|v1", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-lakeopt-$keyHex/root").toString
    val src = docs(s, d).select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), col("text"),
      col("n_chars").cast("double").as("quality"))
    (0L to 2L).foreach { day =>
      graft.streaming.CurationLoop(s,
        src.filter(pmod(col("doc_id"), lit(3)) === day), root,
        "doc_id", "text", Seq("lang"), Seq("lang"), "quality", day,
        lakeFiles = 1)
    }
    graft.streaming.CurationLoop.optimizeLake(s, root, "doc_id", "text",
      nFiles = 1)
    graft.streaming.CurationLoop.lake(s, root)
      .select(col("ingest_batch"), col("doc_id"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"),
        col("text"))
  }

  /** Q244 — deterministic training-shard export round-trip
    * ([[graft.sinks.ShardExport]]): the documents corpus lands as
    * `shard=K/` parquet directories of ~4 k tokens each under a
    * content-addressed global shuffle (q78's order) with first-fit
    * token packing (q58's prefix-sum decomposition), manifest written
    * last as the commit. The query returns the manifest RECOMPUTED from
    * the read-back shard files — doc counts, token sums, rank spans and
    * the order-independent 60-bit content fingerprint sum — so any
    * document lost, duplicated, or mutated anywhere in the write/read
    * path breaks the oracle, which replays the order + packing + sums
    * from the raw table.
    */
  def q244(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q244|b4000|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-shards-$keyHex/root").toString
    val src = docs(s, d).select(col("doc_id"), col("lang"), col("source"),
      col("text"))
    graft.sinks.ShardExport.write(s, src, "doc_id", "text",
      budget = 4000L, salt = "graft", root)
    graft.sinks.ShardExport.manifestFromData(s, root, "doc_id", "text")
  }

  def q204(s: SparkSession, d: String): DataFrame = {
    val keyHex = scratchKeyHex("q204|v2", d, "documents")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-curation-$keyHex/lake").toString
    val src = docs(s, d).select(col("doc_id"), col("lang"), col("text"),
      col("n_chars").cast("double").as("quality"))
    (0L to 2L).foreach { day =>
      graft.streaming.CurationLoop(s,
        src.filter(pmod(col("doc_id"), lit(3)) === day), root,
        "doc_id", "text", Seq("lang"), Seq("lang"), "quality", day)
    }
    val stats = graft.sinks.IncrementalAgg
      .read(s, graft.streaming.CurationLoop.statsRoot(root))
      .select(col("lang"), col("n").as("n_docs"),
        col("sum_v").cast("double").as("sum_chars"))
    val matches = graft.sinks.DedupIndexSink
      .allMatches(s, graft.streaming.CurationLoop.dedupRoot(root))
      .join(docs(s, d).select(col("doc_id").as("new_id"), col("lang")),
        "new_id")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_matches"))
    val est = graft.sinks.QuantileSink.quantiles(s,
      graft.streaming.CurationLoop.quantRoot(root), Seq("lang"),
      Seq(50, 90), 1.02)
    val pos = src.filter(col("quality") > 0)
      .select(col("lang"), col("quality").as("v"))
    ddBoundCheck(s, pos, est, Seq(50, 90), 1.02, keyCol = "lang")
      .join(stats, Seq("lang"))
      .join(matches, Seq("lang"), "left")
      .na.fill(0L, Seq("n_matches"))
  }

  /** Q175 — token-mass concentration
    * ([[graft.operators.Corpus.tokenConcentration]]): the Lorenz view
    * of curation economics — quality deciles (exact ntile over q18's
    * rounded score) vs cumulative token share. Two-level rank, k-row
    * windows, broadcast total.
    */
  def q175(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.tokenConcentration(docs(s, d), "doc_id", "text")

  /** Q176 — near-dup cluster-size histogram
    * ([[graft.operators.Dedup.clusterSizeHistogram]]): the shape of
    * q37's exact clustering — giant template clusters vs the size-2
    * near-copy tail. Oracle: the component CTE + two collapses.
    */
  def q176(s: SparkSession, d: String): DataFrame =
    Dedup.clusterSizeHistogram(docs(s, d), "doc_id", "text", cacheKey = Some(d))

  /** Q173 — per-document keywords
    * ([[graft.operators.Corpus.keywordsPerDoc]]): each document's top-3
    * tokens by tf·ln(N/df) — q56's scoring cut per document by the
    * bounded heap. Oracle: the tf/df replay + rank window.
    */
  def q173(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.keywordsPerDoc(docs(s, d), "doc_id", "text", k = 3)

  /** Q174 — event association rules
    * ([[graft.operators.Corpus.associationPairs]]; Agrawal-Srikant
    * 1994 + lift): which event types co-occur across users beyond
    * chance — exact support and lift over deduped (user, type) sets;
    * the pair join is keyed by user and bounded by the type
    * vocabulary. Oracle: the same dedup + pair + ratio replay.
    */
  def q174(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.associationPairs(
      ev(s, d), "user_id", "event_type", minKeys = 1L)

  /** Q172 — LSH capture planner
    * ([[graft.operators.Dedup.lshCapturePlan]]): for the exact
    * Jaccard ≥ 0.3 pair set, the banding-theory probability
    * `1 − (1 − j⁴)³²` that the q22 MinHash screen proposes each pair,
    * averaged per Jaccard bucket — the table that places the LSH/exact
    * trade. Squaring-chain IEEE arithmetic, exact decimal means.
    */
  def q172(s: SparkSession, d: String): DataFrame =
    Dedup.lshCapturePlan(docs(s, d), "doc_id", "text")

  /** Q171 — near-dup source matrix
    * ([[graft.operators.Dedup.nearDupSourceMatrix]]): the exact
    * Jaccard ≥ 0.7 pair set bucketed by unordered source pair —
    * self-duplicating crawls vs mirrored feeds. Oracle: the q37 pair
    * CTE + source lookups.
    */
  def q171(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupSourceMatrix(docs(s, d), "doc_id", "text", "source")

  /** Q170 — tokenizer compression rate: UTF-8 bytes per BPE-style
    * token, per source — the tokenizer-efficiency datasheet column
    * (compression rate is the first-order predictor of how much
    * sequence budget a domain consumes; pairs with q134's per-language
    * fertility). Map-side byte/token counts, one ≤|sources| aggregate,
    * exact integer sums.
    */
  def q170(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("source"),
        octet_length(col("text")).cast("long").as("__b"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("__t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__b")).as("n_bytes"),
        sum(col("__t")).as("n_tokens"))
      .withColumn("bytes_per_token", NumFunctions.roundNz(
        when(col("n_tokens") > 0,
          col("n_bytes").cast("double") / col("n_tokens"))
          .otherwise(lit(null)), 6))

  /** Q169 — hybrid retrieval by reciprocal rank fusion
    * ([[graft.operators.Similarity.rrfFuse]]; Cormack et al. 2009):
    * q154's lexical BM25 lists fused with dense cosine top-10 lists
    * over the same query ids (docs/vecs 0–2) — the standard hybrid
    * search stack as one plan. Exact decimal rank-sum path.
    */
  def q169(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val queries = dd.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"),
        concat_ws(" ",
          slice(graft.functions.TextFunctions.tokens(lower(col("text"))), 1, 5))
          .as("qtext"))
    val lexical = graft.operators.Corpus.bm25TopK(dd, "doc_id", "text",
        queries, "qid", "qtext", k = 10)
      .select(col("qid"), col("doc_id"), col("rk"))
    val e = emb(s, d)
    val dense = Similarity.topKCosine(e, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", 10)
      .select(col("probe_id").as("qid"), col("vec_id").as("doc_id"), col("rk"))
    Similarity.rrfFuse(Seq(lexical, dense), "qid", "doc_id", "rk", k = 10)
  }

  /** Q168 — dedup savings datasheet
    * ([[graft.operators.Dedup.dedupSavings]]): per-source doc and
    * TOKEN counts before/after q37's exact near-dup dedup — the
    * approve-this-destructive-pass report. Oracle: the q37 recursive
    * component CTE + token sums.
    */
  def q168(s: SparkSession, d: String): DataFrame =
    Dedup.dedupSavings(docs(s, d), "doc_id", "text", "source", cacheKey = Some(d))

  /** Q167 — per-type value trend
    * ([[graft.operators.TimeSeries.trendSlope]]): OLS slope of `value`
    * over the day index per event type — the sensor-drift scan for
    * the reference's telemetry domain. Exact decimal component sums,
    * IEEE closed form, one keyed exchange.
    */
  def q167(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.trendSlope(ev(s, d), "event_type", "ts", "value")

  /** Q165 — Jaccard k-nearest neighbors
    * ([[graft.operators.Dedup.jaccardTopK]]): every document's 5 most
    * similar others at Jaccard ≥ 0.3 — q129's lossless prefix-filtered
    * pair set mirrored and cut by the bounded heap. Oracle: the
    * brute-force pair table + rank window.
    */
  def q165(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardTopK(docs(s, d), "doc_id", "text", k = 5)

  /** Q166 — uncertainty sampling
    * ([[graft.operators.Eval.uncertaintyTopK]]; Lewis & Gale 1994):
    * the 50 documents whose q148-classifier probability sits closest
    * to 0.5 — where a labeling budget goes. Integer margins,
    * TakeOrdered cut. Oracle: the shared training CTE + scoring +
    * margin order.
    */
  def q166(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = graft.operators.QualityClassifier.trainCached(d, dd,
      "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L)
    graft.operators.Eval.uncertaintyTopK(
      graft.operators.QualityClassifier.scoreRowWise(dd, "doc_id", "text", w),
      "id", "p_units", k = 50)
  }

  /** Q164 — Kneser-Ney bigram surprisal
    * ([[graft.operators.Corpus.knSurprisal]]; Kneser & Ney 1995):
    * per-doc mean −ln P under the interpolated-KN bigram model with
    * D = 3/4 — the smoothed upgrade of q82's MLE. Vocab-scale
    * collapses + one per-doc aggregate; DECIMAL(18,9) term path.
    */
  def q164(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.knSurprisal(docs(s, d), "doc_id", "text")

  /** Q163 — exact ROC-AUC + Brier score
    * ([[graft.operators.Eval.binaryScoreEval]]): the Mann-Whitney U
    * form with exact integer midrank tie handling over q148's
    * fixed-point scores, plus the Brier decomposition over the same
    * collapsed support. One collapse exchange; the cumulative window's
    * support is bounded by the score scale, not the data.
    */
  def q163(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = graft.operators.QualityClassifier.trainCached(d, dd,
      "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L)
    graft.operators.Eval.binaryScoreEval(
      graft.operators.QualityClassifier.scoreRowWise(dd, "doc_id", "text", w),
      "p_units", "y")
  }

  /** Q162 — classifier calibration
    * ([[graft.operators.Eval.calibrationBuckets]]): reliability table
    * for q148's trained quality classifier — 10 equal-width
    * fixed-point probability buckets, mean predicted p vs observed
    * positive rate. Integer bucket cuts; one keyed exchange. Oracle:
    * the shared q148 training CTE + q150's scoring pass + bucket
    * replay.
    */
  def q162(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = graft.operators.QualityClassifier.trainCached(d, dd,
      "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L)
    graft.operators.Eval.calibrationBuckets(
      graft.operators.QualityClassifier.scoreRowWise(dd, "doc_id", "text", w),
      "p_units", "y")
  }

  /** Q161 — classification report
    * ([[graft.operators.Eval.classificationReport]]): per-class
    * support/precision/recall/F1 for q152's NB language classifier —
    * the evaluation face of the learned-gate family (rows collapse to
    * K² confusion cells in one exchange; everything after is
    * metadata-scale). Oracle: the shared NB prediction CTE + cell
    * replay.
    */
  def q161(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.classificationReport(
      graft.operators.NaiveBayes.nbClassify(docs(s, d), "doc_id", "text", "lang",
        cacheKey = Some(d)),
      "label", "pred")

  /** Q160 — recency-decayed activity score
    * ([[graft.operators.TimeSeries.decayScore]]): per-user engagement
    * with a 7-day stepped half-life against the corpus max date. The
    * decay factor is a bit-shift power of two (exactly representable —
    * no libm `pow`), terms route through DECIMAL(18,9); map-side +
    * one keyed partial-aggregating shuffle.
    */
  def q160(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.decayScore(
      ev(s, d), "user_id", "ts", "value", halfLifeDays = 7)

  /** Q159 — data-quality constraint audit
    * ([[graft.operators.Audit.audit]]; the dbt-test/Deequ expectation
    * surface): not-null, range, unique-key, and referential-integrity
    * checks over orders and lineitem — one conditional-sum scan for
    * all row-local checks, a two-level distinct for uniqueness, an
    * anti-join for orphans. Exact SQL twin per constraint row.
    */
  def q159(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Audit._
    val o = Tables.orders(s, d)
    audit(o, "orders", Seq(
        NotNull("o_orderdate"),
        InRange("o_totalprice", 0.0, 200000.0),
        UniqueKey(Seq("o_orderkey")),
        ForeignKey("o_custkey", Tables.customer(s, d), "c_custkey", "customer")))
      .unionByName(audit(Tables.lineitem(s, d), "lineitem", Seq(
        InRange("l_quantity", 1.0, 30.0),
        ForeignKey("l_orderkey", o, "o_orderkey", "orders"))))
  }

  /** Q158 — exact Wasserstein-1 drift
    * ([[graft.operators.Drift.w1Profile]]; Vallender 1974's 1-D closed
    * form): earth-mover's distance between the even/odd event halves'
    * value distributions per event type — the unit-bearing magnitude
    * companion to q86's PSI and q116's KS. No binning; CDF trapezoid
    * terms route through DECIMAL(18,9).
    */
  def q158(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        pmod(col("event_id"), lit(2)).as("__side"))
    graft.operators.Drift.w1Profile(
      e.filter(col("__side") === 0).drop("__side"),
      e.filter(col("__side") === 1).drop("__side"),
      "event_type", "value")
  }

  /** Q157 — HITS hubs & authorities ([[graft.operators.Graph.hits]];
    * Kleinberg 1999) over q133's token bigram graph, 3 iterations of
    * the fixed-point integer recipe (L1 normalization to 1e6 units),
    * top-50 by authority. The oracle unrolls all three mutual-recursion
    * steps as integer CTEs — the q133 determinism contract.
    */
  def q157(s: SparkSession, d: String): DataFrame =
    graft.operators.Graph.hits(
        graft.operators.Corpus.bigramEdges(docs(s, d), "doc_id", "text"),
        "src", "dst", iterations = 3)
      .orderBy(col("auth_units").desc, col("node").asc)
      .limit(50)

  /** Q156 — containment near-dup join
    * ([[graft.operators.Dedup.containmentJoinPrefix]]; Broder 1997's
    * containment measure with the asymmetric prefix filter): every
    * ordered pair with ≥ 70 % of the probe document's 3-gram shingles
    * inside the other document — the embedded-copy relation Jaccard
    * misses. Exact: prefix filtering is lossless and verification is
    * an integer cross-multiplied intersection count; the oracle is the
    * brute-force all-pairs SQL.
    */
  def q156(s: SparkSession, d: String): DataFrame =
    Dedup.containmentJoinPrefix(docs(s, d), "doc_id", "text",
      thresholdNum = 7, thresholdDen = 10)

  /** Q155 — k-anonymity / l-diversity audit
    * ([[graft.operators.Corpus.kAnonymityAudit]]; Sweeney 2002): the
    * customer table audited on (nation, market segment) as
    * quasi-identifiers with the width-2000 account-balance bucket as
    * the sensitive attribute — per group, size, distinct sensitive
    * classes, and the k<8 re-identification flag. Two partial-
    * aggregating exchanges, exact SQL twin.
    */
  def q155(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.kAnonymityAudit(
      Tables.customer(s, d).withColumn("bal_bucket",
        floor(col("c_acctbal") / 2000).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", k = 8)

  /** Q154 — BM25 lexical retrieval
    * ([[graft.operators.Corpus.bm25TopK]]; Robertson & Walker 1994):
    * the three lowest-id documents' first five tokens play the query
    * set, and every query gets its 10 best BM25 documents — the
    * lexical-retrieval baseline beside the dense q14/q26 family.
    * Per-term scores route through DECIMAL(18,9) (the q67 recipe), so
    * the oracle replays the ranking exactly.
    */
  def q154(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val queries = dd.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"),
        concat_ws(" ",
          slice(graft.functions.TextFunctions.tokens(lower(col("text"))), 1, 5))
          .as("qtext"))
    graft.operators.Corpus.bm25TopK(dd, "doc_id", "text",
      queries, "qid", "qtext", k = 10)
  }

  /** Q153 — leakage-free split
    * ([[graft.operators.Corpus.leakageFreeSplit]]): q63's
    * content-addressed train/val/test draw keyed on each document's
    * NEAR-DUP CLUSTER representative (q37's exact clustering) — a
    * near-duplicate can never straddle train and test. Oracle: the
    * q37 component CTE + the q63 hash predicate on the representative.
    */
  def q153(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.leakageFreeSplit(docs(s, d), "doc_id", "text",
      salt = "graft")

  /** Q152 — learned language ID
    * ([[graft.operators.NaiveBayes.nbClassify]]; McCallum & Nigam
    * 1998, the fastText-family linear classifier): multinomial NB over
    * hashed bag-of-words trained on the documents' own `lang` labels,
    * every document classified by fixed-point log-posterior argmax —
    * the TRAINED counterpart of q19's character-n-gram heuristic.
    * Exact oracle: histograms, unit scores and the argmax replay as
    * integer SQL.
    */
  def q152(s: SparkSession, d: String): DataFrame =
    graft.operators.NaiveBayes.nbClassify(docs(s, d), "doc_id", "text", "lang",
      cacheKey = Some(d))

  /** Q151 — soft deduplication
    * ([[graft.operators.Dedup.softDedupWeights]]; He et al., ACL
    * 2024): q37's exact near-dup clustering, but each document keeps
    * a `1/|cluster|` sampling weight instead of being dropped — every
    * cluster contributes one unit of expected training mass. Same
    * oracle family as q37 (recursive-CTE components) extended with the
    * per-cluster count.
    */
  def q151(s: SparkSession, d: String): DataFrame =
    Dedup.softDedupWeights(docs(s, d), "doc_id", "text", cacheKey = Some(d))

  /** Q150 — learned quality SCORING
    * ([[graft.operators.QualityClassifier.scoreWith]]): q148's trained
    * weights applied back over the corpus — the inference face of the
    * learned filter (train once, rank everything; the pass a pipeline
    * actually gates documents with). Row-local: the 64 trained
    * weights fold into a plan-literal map and the token array folds
    * against it per row — ZERO exchanges in the scoring plan
    * (PlanSpec-gated), so the pass streams unchanged
    * (StreamComposeSpec's gate twin). Exact oracle: the q148 integer
    * replay plus one scoring pass.
    */
  def q150(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val w = graft.operators.QualityClassifier.trainCached(d, dd,
      "doc_id", "text", dim = 64, iterations = 3, etaDen = 64L)
    graft.operators.QualityClassifier.scoreRowWise(dd, "doc_id", "text", w)
      .withColumn("p_r",
        graft.functions.NumFunctions.roundNz(
          col("p_units").cast("double") / 1000000.0, 6))
  }

  /** Q146 — frequent journeys ([[graft.operators.TimeSeries.journeys]]):
    * the 10 most common per-session event-type sequences under q33's
    * sessionization (user key, 30-minute gap) — funnels test one
    * hypothesis, this mines them. One keyed window + per-session
    * bounded sort + TakeOrdered cut.
    */
  def q146(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.journeys(
      ev(s, d).filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts")),
      "user_id", "ts", "event_id", "event_type",
      gapSeconds = 1800L, k = 10)

  /** Q145 — exact median WITHOUT reducer-side buffering
    * ([[graft.operators.Quantiles.quantileScan]]): per-event-type
    * interpolated median by histogram bisection — counting passes
    * shrink each group's candidate region until a bounded value
    * histogram resolves the order statistics, so no executor ever
    * holds a group's values. Same interpolation as `percentile` /
    * `quantile_cont`, hence the exact oracle. Parameters are set
    * small (16 bins, 64-row terminal) so the bench exercises the
    * multi-round path, not the terminal shortcut.
    */
  def q145(s: SparkSession, d: String): DataFrame =
    graft.operators.Quantiles.quantileScan(
        ev(s, d).filter(col("value").isNotNull), "event_type", "value",
        p = 0.5, bins = 16, collectLimit = 64)
      .select(col("event_type"), col("n"),
        NumFunctions.roundNz(col("q"), 6).as("q_r"))

  /** Q144 — margin-based bitext mining
    * ([[graft.operators.Similarity.marginMining]]): even-id embeddings
    * mined against odd-id embeddings (the two-language stand-in), best
    * margin-scored partner per source row — the LASER/CCMatrix
    * parallel-corpus op. Two top-k passes + neighborhood means; the
    * margin normalizes hub-vector density away.
    */
  def q144(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.marginMining(
      e.filter(pmod(col("vec_id"), lit(2)) === 0),
      e.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", k = 4)
  }

  /** Q143 — retrieval-quality eval
    * ([[graft.operators.Similarity.retrievalMetrics]]): recall@10 and
    * MRR@10 per label over 50 probe embeddings, relevance = label
    * match — the post-re-embed eval of a retrieval pipeline. One
    * corpus pass, decimal-routed reciprocal ranks.
    */
  def q143(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.retrievalMetrics(
      e, e.filter(col("vec_id") < 50), "vec_id", "embedding", "label", k = 10)
  }

  /** Q141 — stratified deterministic sample
    * ([[graft.operators.Corpus.hashSamplePerGroup]]): the 10
    * smallest-md5 documents from EVERY source — q120's rerun-stable
    * uniform draw with the stratum guarantee an eval build needs. One
    * keyed window.
    */
  def q141(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.hashSamplePerGroup(
      docs(s, d).select(col("doc_id"), col("source")), "source", "doc_id", k = 10)

  /** Q142 — event debounce ([[graft.operators.TimeSeries.debounce]]):
    * the first event of every ≤1-day burst per (user, event type) —
    * repeat-notification suppression (the daily-digest rule), the
    * row-level complement of q114's sessionization. One keyed window.
    */
  def q142(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.debounce(
      ev(s, d).filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts")),
      Seq("user_id", "event_type"), "ts", "event_id", gapSeconds = 86400L)

  /** Q140 — sketch-based join-cardinality estimate
    * ([[graft.operators.Sketches.cmsJoinSize]]): |orders ⋈ lineitem|
    * on the order key from two one-pass KB-size Count-Min grids — the
    * planner-side oracle consulted before committing a join order or a
    * broadcast decision. Never under the true size (SketchesSpec pins
    * the ≥-exact and ε-bound guarantees against the exactly-computed
    * join size). EXACT oracle: the affine hash family is deterministic
    * integer arithmetic — `slot_d(k) = ((k·a_d + b_d) ≫ 33) mod width`
    * with the eight (a, b) constants derived from seed 42 — so
    * [[q140OracleSql]] INLINES the very constants
    * `HashFamilies.multipliers/offsets` produce (generated from the
    * same code, they cannot drift) and replays both grids as GROUP BYs
    * over HUGEINT mod-2^64 arithmetic, then the min-of-inner-products
    * estimator. A hash bug, a grid-merge bug, or an estimator bug all
    * hash-fail.
    */
  def q140(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (depth, width, seed) = (4, 8192, 42L)
    val o = graft.operators.Sketches.countMin(
      Tables.orders(s, d).select(col("o_orderkey")), "o_orderkey", depth, width, seed)
    val l = graft.operators.Sketches.countMin(
      Tables.lineitem(s, d).select(col("l_orderkey")), "l_orderkey", depth, width, seed)
    Seq(graft.operators.Sketches.cmsJoinSize(o, l, depth, width))
      .toDF("est_join_rows")
  }

  /** Q139 — cross-document FRAME-level dedup: q106's deterministic Y4M
    * corpus decoded through the real codec, every frame content-hashed
    * ([[graft.multimodal.Multimodal.videoFrameHashes]]), and frames
    * shared by ≥ 2 documents profiled per document — the multimodal
    * twin of q81's text dup profile (re-broadcast detection, credit
    * sequences, mirrored uploads). Pixel data never shuffles: frames
    * leave their partition as 8-byte hashes, then one hash-scale
    * aggregate + one doc-scale join. Exact oracle: the output exposes
    * only hash EQUALITY classes, and two frames hash equal iff their
    * (w, h, luma) construction is equal — pure doc-length arithmetic
    * DuckDB replays directly (an FNV collision on the fixture would
    * hash-fail the compare); MultimodalSpec additionally pins the
    * profile from the planted luma construction.
    */
  def q139(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread: q139's frames are tiny (<= 6 frames of <= 12x10
    // luma), so generation+hashing is lighter than the seed exchange
    // it would buy (measured 0.42 -> 0.80 s spread; reverted)
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .as[(Long, Int)]
      .map { case (id, n) =>
        val lumas = Array.tabulate(n % 6 + 1)(k => (n + k * 7) % 256)
        Multimodal.MediaRow(id, "video",
          Multimodal.renderY4m(n % 11 + 2, n % 9 + 2, lumas),
          n % 11 + 2, n % 9 + 2, 0)
      }
    val frames = Multimodal.videoFrameHashes(media)
      .select(col("media_id").as("doc_id"), col("frame_hash"))
    val perDoc = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"))
    // a frame hash is "shared" when ≥2 DISTINCT docs carry it
    val shared = frames.distinct()
      .groupBy(col("frame_hash")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2)
    val sharedPerDoc = frames.join(shared, "frame_hash")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    perDoc.join(sharedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        NumFunctions.roundNz(
          coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_frames"), 6)
          .as("shared_ratio"))
  }

  /** Q110 — cross-source contamination matrix: distinct shared
    * shingles for every unordered source pair — the corpus-governance
    * view of q59's pairwise probe ("which collections overlap, and how
    * much"). One explode to distinct (source, shingle) — 8-byte hashes
    * after the per-source collapse — then a self-equi-join on the
    * shingle and a pair-count aggregate; no strings shuffle, no
    * quadratic scan.
    */
  def q110(s: SparkSession, d: String): DataFrame = {
    val sh = docs(s, d).select(col("source"),
        explode(graft.functions.HashFunctions.hashedWordNgrams(col("text"), 3)).as("h"))
      .distinct()
    sh.as("x").join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Q109 — split-leakage audit: the dedup-aware-split check an LLM
    * pipeline runs before training — eval documents (q63's
    * content-addressed val/test split) probed against the train split
    * for near-duplicates at Jaccard ≥ 0.7
    * ([[graft.operators.Dedup.incrementalNearDup]]: eval side
    * broadcasts, train side never shuffles). A non-empty result means
    * eval rows leak into training through near-copies even though the
    * EXACT split is disjoint by construction. Oracle = brute-force
    * cross Jaccard over the same md5 split in DuckDB.
    */
  def q109(s: SparkSession, d: String): DataFrame = {
    val withSplit = graft.operators.Corpus.splitAssign(docs(s, d), "doc_id", salt = "graft")
    graft.operators.Dedup.incrementalNearDup(
        withSplit.filter(col("split") =!= "train"),
        withSplit.filter(col("split") === "train"),
        "doc_id", "text")
      .withColumnRenamed("new_id", "eval_id")
      .withColumnRenamed("old_id", "train_id")
  }

  /** Q108 — CDC chunk duplication profile
    * ([[graft.operators.Dedup.cdcChunkDupProfile]]): content-defined
    * chunking per document, chunks shared across ≥ 2 docs flagged,
    * per-doc shared-span ratio. The raw profile values (chunk count,
    * shared spans) are rolling-hash-boundary-specific, so the ORACLED
    * output is the chunker's hard invariants, checked per document:
    * the chunks exactly partition the text (`n_chars` = code-point
    * length — an exact value, not a boolean), the chunk count sits in
    * the provable `[⌈len/maxChars⌉, ⌊len/minChars⌋+1]` window, and the
    * shared-span accounting is internally consistent. The profile
    * VALUES on planted spans stay pinned by DedupSpec.
    */
  def q108(s: SparkSession, d: String): DataFrame = {
    val prof = graft.operators.Dedup.cdcChunkDupProfile(docs(s, d), "doc_id", "text")
    prof.select(col("doc_id"), col("n_chars"),
      (col("n_chunks") >= ceil(col("n_chars") / lit(256.0)).cast("long") &&
       col("n_chunks") <= floor(col("n_chars") / lit(16.0)).cast("long") + 1)
        .as("n_chunks_in_bounds"),
      (col("n_shared_chunks").between(0, col("n_chunks")) &&
       col("shared_chars").between(0, col("n_chars")) &&
       col("shared_ratio").between(0.0, 1.0)).as("shared_within_bounds"))
  }

  /** Q107 — vocabulary coverage ([[graft.operators.Corpus.vocabCoverage]]):
    * top-50 tokens with per-token stream share and cumulative coverage.
    * One vocabulary shuffle + TakeOrdered cut; the cumulative window
    * runs over the 50 cut rows only.
    */
  def q107(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.vocabCoverage(docs(s, d), "text", k = 50)

  /** Q106 — end-to-end multimodal retrieval: a deterministic Y4M video
    * per document (q44's planted lumas), decoded through the REAL codec
    * into the 64-bin content histogram
    * ([[graft.multimodal.Multimodal.extractFeatures]]), then cosine
    * top-5 against five probe documents
    * ([[graft.operators.Similarity.topKCosine]]) — the
    * decode → featurize → similarity-search composition a multimodal
    * pipeline runs, partition-wise kernels plus the broadcast-probe
    * ranking, no shuffle before the bounded-heap top-k. EXACT oracle
    * (the q182/q184 replay discipline composed): every frame's uniform
    * luma is planted arithmetic ((n + 7k) % 256), so the decoded
    * histogram is pure integer counting — bin m·w·h over total F·w·h,
    * and the w·h factors cancel EXACTLY under IEEE division (both are
    * the correctly-rounded quotient of the same real number) — and the
    * cosine re-rank replays through `list_cosine_similarity` with the
    * same float→double widening. A codec bug, a histogram bug, or a
    * ranking divergence all hash-fail; MultimodalSpec additionally
    * pins the histogram against hand-computed values.
    */
  def q106(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .map { case (id, n) =>
        val lumas = Array.tabulate(n % 6 + 1)(k => (n + k * 7) % 256)
        Multimodal.MediaRow(id, "video",
          Multimodal.renderY4m(n % 11 + 2, n % 9 + 2, lumas),
          n % 11 + 2, n % 9 + 2, 0)
      }
    val feats = Multimodal.extractFeatures(media)
      .select(col("media_id").as("vec_id"), col("feature"))
    graft.operators.Similarity.topKCosine(
        feats, feats.filter(col("vec_id") < 5), "vec_id", "feature", k = 5)
  }

  /** Q76 — incremental rollup maintenance ([[graft.sinks.IncrementalAgg]]):
    * the events stream split into two deterministic batches (even/odd
    * event_id), each folded into a partitioned (count, exact decimal
    * sum) aggregate table — only the touched partitions are read back
    * and rewritten per fold. The read-back equals the oracle's FULL
    * recompute over all events: maintained ≡ recomputed, the
    * materialized-view invariant, proven by hash. The root is
    * deterministic per (JVM tmpdir, sf dir) and wiped before the folds,
    * so re-runs are deterministic AND repeated invocations (bench warms
    * + min-of-3) do not accumulate temp copies.
    */
  def q76(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-incr-${math.abs(d.hashCode)}/rollup").toString
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val src = ev(s, d).select(col("event_type"), col("user_id"), col("value"),
      pmod(col("event_id"), lit(2)).as("__b"))
    for (b <- 0 to 1)
      graft.sinks.IncrementalAgg.maintain(s, src.filter(col("__b") === b).drop("__b"),
        root, partCols = Seq("event_type"), keyCols = Seq("event_type", "user_id"),
        valueCol = "value")
    graft.sinks.IncrementalAgg.read(s, root)
      .select(col("event_type"), col("user_id"), col("n"),
        col("sum_v").cast("double").as("sum_v"), NumFunctions.roundNz(col("mean_v"), 6).as("mean_v"))
  }

  /** Q69 — sensor gap-filling ([[graft.operators.TimeSeries.gapFillDaily]]):
    * each user's daily series completed over its own [min, max] span,
    * gaps forward-filled — the reference's air-quality domain analyzed
    * (regular grids are what downstream dashboards/models consume).
    * Per-key grid explode + one fill window per key; no global calendar
    * cross-join.
    */
  def q69(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.gapFillDaily(
      EventOps.filterValid(ev(s, d)), "user_id", "ts", "value")

  /** Q70 — rolling z-score anomaly detection
    * ([[graft.operators.TimeSeries.rollingZscore]]): trailing 7-day
    * mean/std per user over the daily series, exact decimal window
    * sums, flags on the rounded score.
    */
  def q70(s: SparkSession, d: String): DataFrame =
    graft.operators.TimeSeries.rollingZscore(
      EventOps.filterValid(ev(s, d)), "user_id", "ts", "value")

  /** Q40 — skew-mitigation salted join, oracle-checked: market-segment
    * revenue through [[graft.operators.Joins.saltedJoin]] — deterministic
    * per-row salt (`hash(o_orderkey)`), customer dimension replicated
    * `factor` times, sort-merge FORCED (the `merge` hint) so the salt
    * path is what actually runs, not a broadcast. Hash-matching the
    * plain-join oracle proves salting changes the shuffle layout only,
    * never the result.
    */
  def q40(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"), col("o_totalprice"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")).hint("merge")
    graft.operators.Joins.saltedJoin(
        orders, cust, Seq("c_custkey"), hash(col("o_orderkey")), factor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
  }

  /** Q41 — backward as-of join ([[graft.operators.Joins.asofJoin]]):
    * each event picks the user's most recent order at-or-before the
    * event time (ties on order date broken by greatest orderkey), nulls
    * when no order precedes. Runs the HOT-KEY fallback (180-day
    * `timeBucket`) so the bucketed stitch path is what the oracle — an
    * independent correlated LATERAL subquery, a nested-loop spec of the
    * same semantics — actually certifies; every task is bounded by a
    * key's rows per bucket, never a key's whole history.
    */
  def q41(s: SparkSession, d: String): DataFrame = {
    val events = ev(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val orders = Tables.orders(s, d).select(
      col("o_custkey").as("user_id"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("ots"),
      col("o_orderkey"), col("o_totalprice"))
    graft.operators.Joins.asofJoin(
        events, orders, Seq("user_id"), "ts_us", "ots", tieBreak = "o_orderkey",
        timeBucket = 180L * 24 * 3600 * 1000000)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_orderkey").as("last_orderkey"), col("o_totalprice").as("last_price"))
  }

  /** Q42 — bucketed range join ([[graft.operators.Joins.rangeJoin]]):
    * event values land in OVERLAPPING nation-derived bands (width 30,
    * stride 20 — most points match two bands), aggregated per band. The
    * plan is an equi-join on derived bucket keys + exact containment
    * filter; the oracle is the raw theta join (`BETWEEN lo AND hi`) the
    * engine must never physically run as a nested loop.
    */
  def q42(s: SparkSession, d: String): DataFrame = {
    val points = ev(s, d).select(col("event_id"), col("value"))
    val bands = Tables.nation(s, d).select(
      col("n_name"),
      (col("n_nationkey") * 20.0d).as("lo"),
      (col("n_nationkey") * 20.0d + 29.99d).as("hi"))
    graft.operators.Joins.rangeJoin(points, bands, "value", "lo", "hi",
        bucketWidth = 25.0d)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 2).as("sum_value"))
  }

  /** Q32 — the q11 ranking computed by the bounded-heap top-k aggregate
    * ([[graft.operators.TopK]]) instead of a window sort: identical
    * output contract (same oracle SQL), shuffle-light plan — the
    * scale-path formulation of per-key top-k.
    */
  def q32(s: SparkSession, d: String): DataFrame =
    graft.operators.TopK.topKPerKey(
      Tables.orders(s, d), Seq("o_custkey"),
      struct(negate(col("o_totalprice")), col("o_orderkey")),
      Seq("o_orderkey", "o_totalprice"), 3)

  // ---- driver contract --------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_project"    -> (q01 _),
    "q02_filter_valid"    -> (q02 _),
    "q03_derive_time"     -> (q03 _),
    "q04_distinct_months" -> (q04 _),
    "q05_range_count"     -> (q05 _),
    "q06_group_fanout"    -> (q06 _),
    "q07_props_patch"     -> (q07 _),
    "q08_union_append"    -> (q08 _),
    "q09_join_revenue"    -> (q09 _),
    "q10_tpch_q1"         -> (q10 _),
    "q11_window_top3"     -> (q11 _),
    "q12_dedup_exact"     -> (q12 _),
    "q13_text_stats"      -> (q13 _),
    "q14_cosine_topk"     -> (q14 _),
    "q15_hourly_window"   -> (q15 _),
    "q16_etl_pipeline"    -> (q16 _),
    "q17_token_count"     -> (q17 _),
    "q18_quality_score"   -> (q18 _),
    "q19_lang_id"         -> (q19 _),
    "q20_fingerprint"     -> (q20 _),
    "q21_ngram_jaccard"   -> (q21 _),
    "q22_minhash_lsh"     -> (q22 _),
    "q23_cosine_neardup"  -> (q23 _),
    "q24_distinct_users"  -> (q24 _),
    "q25_binary_meta"     -> (q25 _),
    "q26_ann_topk"        -> (q26 _),
    "q27_simhash_pairs"   -> (q27 _),
    "q28_approx_distinct" -> (q28 _),
    "q29_bpe_tokens"      -> (q29 _),
    "q30_winnow_fp"       -> (q30 _),
    "q31_ivf_ann"         -> (q31 _),
    "q32_topk_agg"        -> (q32 _),
    "q33_sessionize"      -> (q33 _),
    "q34_rollup"          -> (q34 _),
    "q35_anti_join"       -> (q35 _),
    "q36_percentiles"     -> (q36 _),
    "q37_dedup_corpus"    -> (q37 _),
    "q38_enrich_dim"      -> (q38 _),
    "q39_image_decode"    -> (q39 _),
    "q40_salted_join"     -> (q40 _),
    "q41_asof_join"       -> (q41 _),
    "q42_range_join"      -> (q42 _),
    "q43_audio_decode"    -> (q43 _),
    "q44_video_decode"    -> (q44 _),
    "q45_pivot"           -> (q45 _),
    "q46_cube"            -> (q46 _),
    "q47_cumsum"          -> (q47 _),
    "q48_semi_join"       -> (q48 _),
    "q49_moving_window"   -> (q49 _),
    "q50_asof_forward"    -> (q50 _),
    "q51_grouping_sets"   -> (q51 _),
    "q52_normalize"       -> (q52 _),
    "q53_term_freq"       -> (q53 _),
    "q54_edit_distance"   -> (q54 _),
    "q55_set_diff"        -> (q55 _),
    "q56_tfidf"           -> (q56 _),
    "q57_stratified_sample" -> (q57 _),
    "q58_pack_bins"       -> (q58 _),
    "q59_decontaminate"   -> (q59 _),
    "q60_intersect"       -> (q60 _),
    "q61_ntile_quartiles" -> (q61 _),
    "q62_reweight"        -> (q62 _),
    "q63_split_assign"    -> (q63 _),
    "q64_chunk"           -> (q64 _),
    "q65_pseudonymize"    -> (q65 _),
    "q66_heavy_hitters"   -> (q66 _),
    "q67_surprisal"       -> (q67 _),
    "q68_repetition"      -> (q68 _),
    "q69_gap_fill"        -> (q69 _),
    "q70_anomaly"         -> (q70 _),
    "q71_bpe_pairs"       -> (q71 _),
    "q72_histogram"       -> (q72 _),
    "q73_correlation"     -> (q73 _),
    "q74_cohort_retention" -> (q74 _),
    "q75_skip_scan"       -> (q75 _),
    "q76_incremental_rollup" -> (q76 _),
    "q77_global_rank"     -> (q77 _),
    "q78_corpus_shuffle"  -> (q78 _),
    "q79_weighted_sample" -> (q79 _),
    "q80_funnel"          -> (q80 _),
    "q81_dup_profile"     -> (q81 _),
    "q82_bigram_surprisal" -> (q82 _),
    "q83_snapshot_diff"   -> (q83 _),
    "q84_winsorize"       -> (q84 _),
    "q85_temperature_mix" -> (q85 _),
    "q86_drift_psi"       -> (q86 _),
    "q87_mode"            -> (q87 _),
    "q88_prep_pipeline"   -> (q88 _),
    "q89_label_centroids" -> (q89 _),
    "q90_centroid_spread" -> (q90 _),
    "q91_collocations"    -> (q91 _),
    "q92_quantize_int8"   -> (q92 _),
    "q93_repeated_substrings" -> (q93 _),
    "q94_pq_ann"          -> (q94 _),
    "q95_embed_covariance" -> (q95 _),
    "q96_pca_project"     -> (q96 _),
    "q97_semantic_dedup"  -> (q97 _),
    "q98_dpp_join"        -> (q98 _),
    "q99_bpe_learn"       -> (q99 _),
    "q100_cms_sketch"     -> (q100 _),
    "q101_ivfpq_ann"      -> (q101 _),
    "q102_bpe_apply"      -> (q102 _),
    "q103_df_prune"       -> (q103 _),
    "q104_bloom_decontam" -> (q104 _),
    "q105_incr_neardup"   -> (q105 _),
    "q106_media_topk"     -> (q106 _),
    "q107_vocab_coverage" -> (q107 _),
    "q108_cdc_chunks"     -> (q108 _),
    "q109_split_leakage"  -> (q109 _),
    "q110_source_overlap" -> (q110 _),
    "q111_incr_prepared"  -> (q111 _),
    "q112_pii_redact"     -> (q112 _),
    "q113_datasheet"      -> (q113 _),
    "q114_sessionize"     -> (q114 _),
    "q115_inverted_index" -> (q115 _),
    "q116_ks_drift"       -> (q116 _),
    "q117_distinct_terms" -> (q117 _),
    "q118_blocklist"      -> (q118 _),
    "q119_token_budget"   -> (q119 _),
    "q120_hash_sample"    -> (q120 _),
    "q121_lang_audit"     -> (q121 _),
    "q122_ngram_novelty"  -> (q122 _),
    "q123_oov_rate"       -> (q123 _),
    "q124_filter_funnel"  -> (q124 _),
    "q125_chunk_windows"  -> (q125 _),
    "q126_mixture_sample" -> (q126 _),
    "q127_source_cap"     -> (q127 _),
    "q128_segment_dedup"  -> (q128 _),
    "q129_setsim_join"    -> (q129 _),
    "q130_mad_outliers"   -> (q130 _),
    "q131_heaps_curve"    -> (q131 _),
    "q132_ppl_buckets"    -> (q132 _),
    "q133_pagerank"       -> (q133 _),
    "q134_fertility"      -> (q134 _),
    "q135_zipf_fit"       -> (q135 _),
    "q136_hard_negatives" -> (q136 _),
    "q137_curriculum"     -> (q137 _),
    "q138_thr_sweep"      -> (q138 _),
    "q139_frame_dedup"    -> (q139 _),
    "q140_join_card"      -> (q140 _),
    "q141_strat_sample"   -> (q141 _),
    "q142_debounce"       -> (q142 _),
    "q143_retrieval_eval" -> (q143 _),
    "q144_margin_mine"    -> (q144 _),
    "q145_scan_median"    -> (q145 _),
    "q146_journeys"       -> (q146 _),
    "q147_margin_ann"     -> (q147 _),
    "q148_quality_clf"    -> (q148 _),
    "q149_dsir_select"    -> (q149 _),
    "q150_quality_score"  -> (q150 _),
    "q151_soft_dedup"     -> (q151 _),
    "q152_nb_langid"      -> (q152 _),
    "q153_leakfree_split" -> (q153 _),
    "q154_bm25"           -> (q154 _),
    "q155_k_anonymity"    -> (q155 _),
    "q156_containment"    -> (q156 _),
    "q157_hits"           -> (q157 _),
    "q158_w1_drift"       -> (q158 _),
    "q159_audit"          -> (q159 _),
    "q160_decay_score"    -> (q160 _),
    "q161_nb_report"      -> (q161 _),
    "q162_calibration"    -> (q162 _),
    "q163_auc"            -> (q163 _),
    "q164_kn_surprisal"   -> (q164 _),
    "q165_jaccard_knn"    -> (q165 _),
    "q166_uncertainty"    -> (q166 _),
    "q167_trend"          -> (q167 _),
    "q168_dedup_savings"  -> (q168 _),
    "q169_rrf_hybrid"     -> (q169 _),
    "q170_bytes_per_tok"  -> (q170 _),
    "q171_dup_sources"    -> (q171 _),
    "q172_lsh_planner"    -> (q172 _),
    "q173_keywords"       -> (q173 _),
    "q174_associations"   -> (q174 _),
    "q175_lorenz"         -> (q175 _),
    "q176_cluster_sizes"  -> (q176 _),
    "q177_lang_entropy"   -> (q177 _),
    "q178_tpch_q3"        -> (q178 _),
    "q179_tpch_q5"        -> (q179 _),
    "q180_tpch_q18"       -> (q180 _),
    "q181_tpch_q21"       -> (q181 _),
    "q182_image_dhash"    -> (q182 _),
    "q183_dd_quantiles"   -> (q183 _),
    "q184_audio_neardup"  -> (q184 _),
    "q185_incr_media_dedup" -> (q185 _),
    "q186_subseq_search"  -> (q186 _),
    "q187_media_dedup_pipeline" -> (q187 _),
    "q188_quantile_sink"  -> (q188 _),
    "q189_subseq_paa"     -> (q189 _),
    "q190_unigram_apply"  -> (q190 _),
    "q191_video_neardup"  -> (q191 _),
    "q192_unigram_pieces" -> (q192 _),
    "q193_repetition"     -> (q193 _),
    "q194_repeat_spans"   -> (q194 _),
    "q195_dedup_spans"    -> (q195 _),
    "q196_decontam_audit" -> (q196 _),
    "q197_dihedral_dedup" -> (q197 _),
    "q198_bucket_join"    -> (q198 _),
    "q199_bucket_lookup"  -> (q199 _),
    "q200_dedup_sink"     -> (q200 _),
    "q201_facility_select" -> (q201 _),
    "q202_decontam_clean"  -> (q202 _),
    "q203_mmr_rerank"      -> (q203 _),
    "q204_curation_loop"   -> (q204 _),
    "q205_kcenter_coreset" -> (q205 _),
    "q206_sorted_neighbors" -> (q206 _),
    "q207_span_corruption"  -> (q207 _),
    "q208_rbo_agreement"    -> (q208 _),
    "q209_bootstrap_ci"     -> (q209 _),
    "q210_mixture_alloc"    -> (q210 _),
    "q211_knn_outliers"     -> (q211 _),
    "q212_bootstrap_pooled" -> (q212 _),
    "q213_quality_dedup"    -> (q213 _),
    "q214_self_bleu"        -> (q214 _),
    "q215_pair_evidence"    -> (q215 _),
    "q216_mcnemar_gate"     -> (q216 _),
    "q217_code_switch"      -> (q217 _),
    "q218_fleiss_kappa"     -> (q218 _),
    "q219_good_turing"      -> (q219 _),
    "q220_cl_diversity"     -> (q220 _),
    "q221_bh_fdr"           -> (q221 _),
    "q222_perm_test"        -> (q222 _),
    "q223_fs_linkage"       -> (q223 _),
    "q224_cochran_q"        -> (q224 _),
    "q225_cohens_d"         -> (q225 _),
    "q226_cliffs_delta"     -> (q226 _),
    "q227_krippendorff"     -> (q227 _),
    "q228_silhouette"       -> (q228 _),
    "q229_wilcoxon"         -> (q229 _),
    "q230_spearman"         -> (q230 _),
    "q231_vocab_sink"       -> (q231 _),
    "q232_vocab_oov"        -> (q232 _),
    "q233_chi2_drift"       -> (q233 _),
    "q234_curation_vocab"   -> (q234 _),
    "q235_block_profile"    -> (q235 _),
    "q236_cluster_bootstrap" -> (q236 _),
    "q237_kendall_w"        -> (q237 _),
    "q238_line_dedup"       -> (q238 _),
    "q239_boilerplate_topk" -> (q239 _),
    "q240_incr_line_dedup"  -> (q240 _),
    "q241_norm_line_dedup"  -> (q241 _),
    "q242_incr_norm_lines"  -> (q242 _),
    "q243_lake_optimize"    -> (q243 _),
    "q244_shard_export"     -> (q244 _))

  // DuckDB twins. Shared SQL fragments for the text queries:
  // explicit class: Java \s includes \x0B, RE2 \s does not — see
  // TextFunctions.whitespaceClass
  /** Shared q183/q188 oracle: exact per-group order statistic + the
    * TRUE bound literal (the estimate never leaves the engine).
    */
  private val DD_QUANT_ORACLE: String =
    """WITH pos AS (SELECT event_type, CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL AND value > 0
      |    AND NOT isnan(value) AND isfinite(CAST(value AS DOUBLE))),
      |c AS (SELECT event_type, v, count(*) AS cnt FROM pos GROUP BY 1, 2),
      |cc AS (SELECT event_type, v,
      |  sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |    ROWS UNBOUNDED PRECEDING) AS cum,
      |  sum(cnt) OVER (PARTITION BY event_type) AS tot FROM c),
      |qs AS (SELECT unnest([25, 50, 75, 90]) AS q_pct)
      |SELECT event_type, CAST(q_pct AS BIGINT) AS q_pct,
      |  CAST(tot AS BIGINT) AS n, round(min(v), 6) + 0 AS exact_v,
      |  true AS within_bound
      |FROM cc JOIN qs ON cum * 100 >= tot * q_pct
      |GROUP BY 1, 2, 3
      |""".stripMargin

  private val TOKS =
    "list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r]+'), x -> x <> '')"

  /** The q238/q239 oracle twin of [[linedDocs]]: `documents` re-lined
    * at 10-token boundaries (null text stays null, token-less text
    * becomes ''). Exposed as a `lined(...)` CTE body.
    */
  private lazy val LINED_DOCS: String =
    s"""toks0 AS (SELECT doc_id, lang, source, n_chars, text,
       |  $TOKS AS tk FROM documents),
       |lined AS (SELECT doc_id, lang, source, n_chars,
       |  CASE WHEN text IS NULL THEN NULL WHEN len(tk) = 0 THEN ''
       |  ELSE array_to_string(list_transform(
       |    range(CAST(ceil(len(tk) / 10.0) AS BIGINT)),
       |    i -> array_to_string(tk[CAST(i * 10 + 1 AS BIGINT):
       |      CAST(least((i + 1) * 10, len(tk)) AS BIGINT)], ' ')),
       |    chr(10)) END AS text FROM toks0)""".stripMargin

  /** Shared q219/q231 oracle: Good-Turing stats recomputed from raw
    * tokens — q231 reads the identical numbers off the MAINTAINED
    * vocabulary table (maintained ≡ recomputed).
    */
  private lazy val GOOD_TURING_ORACLE: String =
    s"""WITH t AS (SELECT lang, unnest($TOKS) AS tok FROM documents
       |  WHERE text IS NOT NULL),
       |c AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2),
       |g AS (SELECT lang, sum(c) AS n_tokens, count(*) AS vocab,
       |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
       |  sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
       |  FROM c GROUP BY 1)
       |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(vocab AS BIGINT) AS vocab, CAST(n1 AS BIGINT) AS n1,
       |  CAST(n2 AS BIGINT) AS n2,
       |  round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0
       |    AS p0_r,
       |  CASE WHEN n1 = 0 THEN 0.0 ELSE round(CAST(2 * n2 AS DOUBLE)
       |    / CAST(n1 AS DOUBLE), 6) + 0 END AS gt1_r
       |FROM g
       |""".stripMargin

  /** Shared q148/q150 oracle prefix: hashed features, labels, and the
    * three unrolled integer gradient steps ending in trained weights
    * `w3` ([[graft.operators.QualityClassifier]]'s fixed-point replay).
    */
  private lazy val QC_TRAIN_CTE: String = {
    def step(wp: String, k: Int): String =
      s"""z$k AS (SELECT f.doc_id, sum(f.x * $wp.w) AS z
         |  FROM f JOIN $wp USING (j) GROUP BY 1),
         |e$k AS (SELECT lab.doc_id, CAST(lab.y AS BIGINT) * 1000000 -
         |  ((2000000 + greatest(-2000000, least(2000000, coalesce(z$k.z, 0)))) // 4)
         |    AS e
         |  FROM lab LEFT JOIN z$k USING (doc_id)),
         |g$k AS (SELECT f.j, sum(e$k.e * f.x) AS g
         |  FROM f JOIN e$k USING (doc_id) GROUP BY 1),
         |w$k AS (SELECT w.j, w.w + coalesce(g$k.g, 0) // (nn.n * 64) AS w
         |  FROM $wp w LEFT JOIN g$k USING (j) CROSS JOIN nn)"""
        .stripMargin
    s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
       |t2 AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
       |lab AS (SELECT doc_id,
       |  CASE WHEN 2 * len(list_distinct(tk)) >= len(tk) THEN 1 ELSE 0 END AS y
       |  FROM t2),
       |u AS (SELECT doc_id, unnest(tk) AS tok FROM t2),
       |f AS (SELECT doc_id,
       |  CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 64 AS j,
       |  count(*) AS x FROM u GROUP BY 1, 2),
       |nn AS (SELECT count(*) AS n FROM t2),
       |w0 AS (SELECT CAST(range AS BIGINT) AS j, CAST(0 AS BIGINT) AS w
       |  FROM range(64)),
       |${step("w0", 1)},
       |${step("w1", 2)},
       |${step("w2", 3)}""".stripMargin
  }
  /** Shared q152/q161 oracle prefix: the multinomial-NB prediction
    * replay — hashed histograms, integer unit scores, prior, and the
    * per-doc argmax in `best` ([[graft.operators.NaiveBayes]]'s
    * fixed-point contract).
    */
  private lazy val NB_PRED_CTE: String =
    s"""WITH t2 AS (SELECT doc_id, lang, $TOKS AS tk FROM documents
       |  WHERE lang IS NOT NULL AND len($TOKS) > 0),
       |b AS (SELECT doc_id, lang,
       |  CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 128 AS j
       |  FROM (SELECT doc_id, lang, unnest(tk) AS tok FROM t2)),
       |hist AS (SELECT lang AS c, j, count(*) AS n FROM b GROUP BY 1, 2),
       |tot AS (SELECT c, sum(n) AS tn FROM hist GROUP BY 1),
       |ndoc AS (SELECT lang AS c, count(*) AS nd FROM t2 GROUP BY 1),
       |nn AS (SELECT count(*) AS n, count(DISTINCT lang) AS k FROM t2),
       |grid AS (SELECT ndoc.c, CAST(range AS BIGINT) AS j
       |  FROM ndoc CROSS JOIN range(128)),
       |su AS (SELECT g.c, g.j, CAST(round(
       |    ln(CAST(coalesce(h.n, 0) + 1 AS DOUBLE) /
       |       CAST(t.tn + 128 AS DOUBLE)) * 1000000) AS BIGINT) AS u
       |  FROM grid g LEFT JOIN hist h ON g.c = h.c AND g.j = h.j
       |  JOIN tot t ON g.c = t.c),
       |pri AS (SELECT ndoc.c, CAST(round(
       |    ln(CAST(ndoc.nd + 1 AS DOUBLE) /
       |       CAST(nn.n + nn.k AS DOUBLE)) * 1000000) AS BIGINT) AS p
       |  FROM ndoc CROSS JOIN nn),
       |z AS (SELECT b.doc_id, su.c, sum(su.u) AS s
       |  FROM b JOIN su USING (j) GROUP BY 1, 2),
       |zz AS (SELECT z.doc_id, z.c, z.s + pri.p AS zt
       |  FROM z JOIN pri ON z.c = pri.c),
       |best AS (SELECT doc_id, c, row_number() OVER (
       |  PARTITION BY doc_id ORDER BY zt DESC, c ASC) AS rk FROM zz)"""
      .stripMargin

  /** Shared q154/q169 oracle prefix: the full BM25 replay ending in
    * `perdoc` (qid, doc_id, score) — tf/df/dl tables, the "+1" idf,
    * per-term DECIMAL(18,9) scores.
    */
  private lazy val BM25_CTE: String =
    s"""WITH q AS (SELECT doc_id AS qid, list_slice($TOKS_LOWER, 1, 5) AS qt
       |  FROM documents WHERE doc_id < 3),
       |qterm AS (SELECT DISTINCT qid, unnest(qt) AS token FROM q),
       |dtok AS (SELECT doc_id, CAST(len($TOKS_LOWER) AS BIGINT) AS dl,
       |  unnest($TOKS_LOWER) AS token FROM documents),
       |tf AS (SELECT doc_id, token, dl, CAST(count(*) AS BIGINT) AS tf
       |  FROM dtok WHERE token IN (SELECT token FROM qterm) GROUP BY 1, 2, 3),
       |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS ndocs,
       |  CAST(sum(len($TOKS_LOWER)) AS BIGINT) AS totlen FROM documents),
       |scored AS (SELECT qterm.qid, tf.doc_id,
       |  CAST(ln(1.0 + (CAST(ndocs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |            / (CAST(df AS DOUBLE) + 0.5)) *
       |    (CAST(tf AS DOUBLE) * (1.2 + 1.0) /
       |     (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
       |       0.75 * CAST(dl AS DOUBLE) / (CAST(totlen AS DOUBLE) / ndocs))))
       |    AS DECIMAL(18,9)) AS s
       |  FROM tf JOIN dfreq USING (token) JOIN qterm USING (token)
       |  CROSS JOIN stats),
       |perdoc AS (SELECT qid, doc_id,
       |  round(CAST(sum(s) AS DOUBLE), 6) + 0 AS score FROM scored GROUP BY 1, 2)"""
      .stripMargin

  private val TOKS_LOWER =
    "list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r]+'), x -> x <> '')"
  private def shinglesSql(tk: String): String =
    s"CASE WHEN len($tk) >= 3 THEN list_distinct(list_transform(range(len($tk)-2), " +
    s"i -> $tk[i+1] || ' ' || $tk[i+2] || ' ' || $tk[i+3])) ELSE CAST([] AS VARCHAR[]) END"

  private def jaccardPairsSql(joinCond: String, num: Int, den: Int): String =
    s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
       |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
       |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
       |  FROM sh a JOIN sh b ON $joinCond)
       |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
       |  CAST(tot - inter AS BIGINT) AS un,
       |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
       |FROM pairs WHERE (tot - inter) > 0 AND inter * $den >= (tot - inter) * $num
       |""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_scan_project" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    "q02_filter_valid" ->
      ("SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props " +
       "FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970"),
    "q03_derive_time" ->
      ("SELECT event_id, strftime(ts, '%Y-%m-%d') AS d, strftime(ts, '%Y-%m') AS ym " +
       "FROM events"),
    "q04_distinct_months" ->
      "SELECT DISTINCT strftime(ts, '%Y-%m') AS ym FROM events",
    "q05_range_count" ->
      ("SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' " +
       "AND ts < TIMESTAMP '2024-01-20 00:00:00'"),
    "q06_group_fanout" ->
      ("SELECT event_type, CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m, " +
       "count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s " +
       "FROM events GROUP BY 1, 2, 3"),
    "q07_props_patch" ->
      ("SELECT event_id, coalesce(json_extract_string(props, '$.k'), '0') AS hits " +
       "FROM events"),
    "q08_union_append" ->
      ("SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 2 = 0 " +
       "UNION ALL " +
       "SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 2 = 1"),
    "q09_join_revenue" ->
      ("SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) " +
       "AS DOUBLE) AS revenue FROM customer " +
       "JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON o_orderkey = l_orderkey " +
       "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"),
    "q10_tpch_q1" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price, " +
       "count(*) AS n FROM lineitem " +
       "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2"),
    "q11_window_top3" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (" +
       "SELECT o_custkey, o_orderkey, o_totalprice, " +
       "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) " +
       "AS BIGINT) AS rk FROM orders) t WHERE rk <= 3"),
    "q12_dedup_exact" ->
      ("SELECT lang, count(*) AS n, count(DISTINCT text) AS n_unique " +
       "FROM documents GROUP BY lang"),
    "q13_text_stats" ->
      ("SELECT lang, count(*) AS n, CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars, " +
       "min(n_chars) AS min_chars, max(n_chars) AS max_chars FROM documents GROUP BY lang"),
    // q211: the dense pair matrix, k-th row per probe by (sim DESC, id),
    // the engine's 4-dp rounding on both the similarity and its
    // distance complement
    "q211_knn_outliers" ->
      ("""WITH pr AS (SELECT a.vec_id AS vec_id, b.vec_id AS nb,
         |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])) AS sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id % 5 = 0 AND a.vec_id <> b.vec_id),
         |r AS (SELECT vec_id, nb, sim, row_number() OVER (
         |  PARTITION BY vec_id ORDER BY sim DESC, nb) AS rk FROM pr)
         |SELECT vec_id, nb AS kth_neighbor, round(sim, 4) + 0 AS kth_sim_r,
         |  round(1 - round(sim, 4), 4) + 0 AS outlier_score_r
         |FROM r WHERE rk = 10
         |""".stripMargin),
    "q14_cosine_topk" ->
      ("""WITH p AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT e.vec_id,
         |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])) AS sim
         |  FROM embeddings e, p WHERE e.vec_id <> 0)
         |SELECT CAST(0 AS BIGINT) AS probe_id, vec_id,
         |  CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rk,
         |  round(sim, 4) + 0 AS sim_r
         |FROM scored QUALIFY rk <= 10
         |""".stripMargin),
    "q15_hourly_window" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart, " +
       "event_type, count(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"),
    "q16_etl_pipeline" ->
      ("SELECT event_type, strftime(ts, '%Y-%m') AS ym, count(*) AS n, " +
       "CAST(sum(TRY_CAST(coalesce(json_extract_string(props, '$.k'), '0') AS BIGINT)) " +
       "AS BIGINT) AS hits_sum " +
       "FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970 GROUP BY 1, 2"),
    "q17_token_count" ->
      s"SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens FROM documents",
    "q18_quality_score" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
          |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
          |  round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) + 0 AS ttr,
          |  round(least(CAST(1.0 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE)) *
          |        (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) + 0 AS score
          |FROM t
          |""".stripMargin),
    "q19_lang_id" ->
      ("""WITH t AS (SELECT doc_id, text,
         |  list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\f\r]+'), x -> x <> '') AS tk
         |  FROM documents),
         |s AS (SELECT doc_id, text,
         |  len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS en,
         |  len(list_filter(tk, x -> x IN ('der','die','und','ist','nicht'))) AS de,
         |  len(list_filter(tk, x -> x IN ('el','los','una','es','y'))) AS es,
         |  len(list_filter(tk, x -> x IN ('le','les','une','est','et'))) AS fr
         |  FROM t)
         |SELECT doc_id, CASE
         |  WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
         |  WHEN de > en AND de >= es AND de >= fr THEN 'de'
         |  WHEN es > en AND es >= fr THEN 'es'
         |  WHEN fr > en THEN 'fr'
         |  ELSE 'en' END AS lang_pred
         |FROM s
         |""".stripMargin),
    "q20_fingerprint" ->
      ("SELECT doc_id, md5(lower(regexp_replace(trim(text), '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS fp " +
       "FROM documents"),
    "q21_ngram_jaccard" ->
      jaccardPairsSql("b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20", 1, 2),
    "q22_minhash_lsh" ->
      jaccardPairsSql("b.doc_id > a.doc_id", 7, 10),
    "q23_cosine_neardup" ->
      ("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                               CAST(b.embedding AS DOUBLE[])), 4) + 0 AS sim_r
         |FROM embeddings a JOIN embeddings b
         |  ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 100
         |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
         |""".stripMargin),
    "q24_distinct_users" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
    "q25_binary_meta" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
       "CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / CAST(256 AS DOUBLE)) AS BIGINT) " +
       "AS n_chunks, md5(text) AS fp FROM documents"),
    "q28_approx_distinct" ->
      ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, " +
       "TRUE AS within_bound FROM events GROUP BY event_type"),
    "q29_bpe_tokens" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(text, " +
       "' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+')) AS BIGINT) AS n_bpe_tokens " +
       "FROM documents"),
    "q32_topk_agg" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (" +
       "SELECT o_custkey, o_orderkey, o_totalprice, " +
       "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) " +
       "AS BIGINT) AS rk FROM orders) t WHERE rk <= 3"),
    "q33_sessionize" ->
      ("""WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us,
         |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events WHERE ts IS NOT NULL),
         |y AS (SELECT user_id, event_id, us,
         |  CASE WHEN prev IS NULL THEN 0 WHEN us - prev > 1800000000 THEN 1 ELSE 0 END AS flag
         |  FROM x),
         |z AS (SELECT user_id, us, CAST(sum(flag) OVER (PARTITION BY user_id
         |  ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS BIGINT) AS session_idx FROM y)
         |SELECT user_id, session_idx, count(*) AS n, max(us) - min(us) AS span_us
         |FROM z GROUP BY 1, 2
         |""".stripMargin),
    "q34_rollup" ->
      ("SELECT event_type, strftime(ts, '%Y-%m') AS ym, count(*) AS n, " +
       "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s " +
       "FROM events GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m'))"),
    "q35_anti_join" ->
      ("SELECT c_mktsegment, count(*) AS n FROM customer WHERE NOT EXISTS (" +
       "SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0" +
       ") GROUP BY c_mktsegment"),
    "q36_percentiles" ->
      ("SELECT event_type, round(quantile_cont(value, 0.5), 6) + 0 AS p50, " +
       "round(quantile_cont(value, 0.9), 6) + 0 AS p90 FROM events GROUP BY event_type"),
    "q38_enrich_dim" ->
      ("SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment " +
       "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"),
    // q42: the oracle IS the theta join the engine refuses to run as a
    // nested loop — same semantics, naive formulation
    // band bounds MUST be computed in DOUBLE on both sides: a bare
    // `29.99` literal is DECIMAL in DuckDB, making hi exactly 49.99
    // (→ 49.99000000000000198 at compare time) while Spark's double
    // arithmetic yields 49.98999999999999488 — points sitting exactly
    // on the boundary (value = 49.99) then differ. Surfaced by the
    // sf0.1 check; sf0.01 had no boundary-exact values.
    "q42_range_join" ->
      ("WITH bands AS (SELECT n_name, n_nationkey * CAST(20.0 AS DOUBLE) AS lo, " +
       "n_nationkey * CAST(20.0 AS DOUBLE) + CAST(29.99 AS DOUBLE) AS hi FROM nation) " +
       "SELECT n_name, count(*) AS n_events, " +
       "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
       "FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi " +
       "GROUP BY n_name"),
    // q41: nested-loop LATERAL spec of as-of semantics — deliberately
    // nothing like the engine's union+window plan
    "q41_asof_join" ->
      ("SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, " +
       "o.o_orderkey AS last_orderkey, o.o_totalprice AS last_price " +
       "FROM events e LEFT JOIN LATERAL (" +
       "SELECT o_orderkey, o_totalprice FROM orders " +
       "WHERE o_custkey = e.user_id " +
       "AND epoch_us(CAST(o_orderdate AS TIMESTAMP)) <= epoch_us(e.ts) " +
       "ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON TRUE"),
    "q50_asof_forward" ->
      ("SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, " +
       "o.o_orderkey AS next_orderkey, o.o_totalprice AS next_price " +
       "FROM events e LEFT JOIN LATERAL (" +
       "SELECT o_orderkey, o_totalprice FROM orders " +
       "WHERE o_custkey = e.user_id " +
       "AND epoch_us(CAST(o_orderdate AS TIMESTAMP)) >= epoch_us(e.ts) " +
       "ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 1) o ON TRUE"),
    // q40: the oracle is the PLAIN join — the salted plan must be
    // result-invisible (salting changes shuffle layout, nothing else)
    "q40_salted_join" ->
      ("SELECT c_mktsegment, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
       "AS revenue, count(*) AS n_orders FROM orders JOIN customer " +
       "ON o_custkey = c_custkey GROUP BY c_mktsegment"),
    // q39: the oracle never decodes a PNG — it derives the expected
    // decoded dims/luma arithmetically from the same byte length the
    // engine renders from; matching hashes prove the codec round-trip
    "q39_image_decode" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) % 13 + 3 AS BIGINT) AS width, " +
       "CAST(octet_length(encode(text)) % 7 + 2 AS BIGINT) AS height, " +
       "round(CAST(octet_length(encode(text)) % 256 AS DOUBLE), 6) + 0 AS mean_luma " +
       "FROM documents WHERE text IS NOT NULL"),
    // q43: the oracle never decodes a WAV — it derives the expected
    // decoded rate/frames/RMS arithmetically from the same byte length
    // the engine renders from (the RMS of a ±A square wave is exactly A)
    "q43_audio_decode" ->
      ("SELECT doc_id, " +
       "CAST(8000 + (octet_length(encode(text)) % 5) * 1000 AS BIGINT) AS sample_rate, " +
       "CAST(octet_length(encode(text)) % 50 + 10 AS BIGINT) AS n_samples, " +
       "round(CAST((octet_length(encode(text)) % 100 + 1) * 100 AS DOUBLE), 6) + 0 AS rms " +
       "FROM documents WHERE text IS NOT NULL"),
    // q44: the oracle never parses Y4M — it derives each frame's
    // dimensions and constant-plane luma arithmetically from the same
    // byte length the engine renders from (one output row per frame)
    "q44_video_decode" ->
      ("WITH f AS (SELECT doc_id, octet_length(encode(text)) AS n, " +
       "unnest(generate_series(0, octet_length(encode(text)) % 6)) AS g FROM documents WHERE text IS NOT NULL) " +
       "SELECT doc_id, CAST(g AS BIGINT) AS frame_idx, " +
       "CAST(n % 11 + 2 AS BIGINT) AS width, CAST(n % 9 + 2 AS BIGINT) AS height, " +
       "round(CAST((n + g * 7) % 256 AS DOUBLE), 6) + 0 AS luma FROM f"),
    "q45_pivot" ->
      ("SELECT l_returnflag, " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS \"F\", " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS \"O\" " +
       "FROM lineitem GROUP BY l_returnflag"),
    "q46_cube" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s " +
       "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"),
    "q47_cumsum" ->
      ("SELECT o_custkey, o_orderkey, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
       "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total " +
       "FROM orders"),
    "q51_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s " +
       "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"),
    // q52/q53: DuckDB's regexp_replace needs the 'g' flag to match
    // Spark's replace-all; the explicit whitespace class is identical in
    // both regex engines (see TextFunctions.whitespaceClass)
    "q52_normalize" ->
      ("SELECT doc_id, lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))) " +
       "AS norm FROM documents"),
    "q53_term_freq" ->
      ("WITH n AS (SELECT lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS t " +
       "FROM documents), " +
       "tok AS (SELECT unnest(list_filter(regexp_split_to_array(t, '[ \\t\\n\\f\\r]+'), " +
       "x -> x <> '')) AS token FROM n) " +
       "SELECT token, count(*) AS tf FROM tok GROUP BY token " +
       "ORDER BY tf DESC, token ASC LIMIT 20"),
    "q54_edit_distance" ->
      ("WITH n AS (SELECT doc_id, " +
       "substr(lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))), 1, 40) AS p " +
       "FROM documents) " +
       "SELECT a.doc_id, CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist " +
       "FROM n a JOIN n b ON b.doc_id = a.doc_id + 1"),
    "q55_set_diff" ->
      "SELECT o_custkey AS user_id FROM orders EXCEPT SELECT user_id FROM events",
    "q56_tfidf" ->
      (s"""WITH tk AS (SELECT doc_id, unnest($TOKS_LOWER) AS token FROM documents),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
          |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents)
          |SELECT tf.doc_id, tf.token,
          |  round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) + 0 AS tfidf
          |FROM tf JOIN df USING (token) CROSS JOIN n
          |ORDER BY tfidf DESC, doc_id, token LIMIT 20
          |""".stripMargin),
    "q57_stratified_sample" ->
      ("""SELECT event_id, event_type, user_id FROM (
         |  SELECT event_id, event_type, user_id,
         |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS tot
         |  FROM events) WHERE rn * 10 <= tot
         |""".stripMargin),
    "q58_pack_bins" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n FROM documents),
          |o AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM t)
          |SELECT CAST(off // 512 AS BIGINT) AS bin, count(*) AS n_docs,
          |  CAST(sum(n) AS BIGINT) AS bin_tokens,
          |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
          |FROM o GROUP BY 1
          |""".stripMargin),
    "q59_decontaminate" ->
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, source, ${shinglesSql("tk")} AS s FROM toks),
          |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src0'),
          |t AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src0')
          |SELECT t.doc_id, count(*) AS n_shared
          |FROM t JOIN b USING (g) GROUP BY 1
          |""".stripMargin),
    "q60_intersect" ->
      "SELECT o_custkey AS user_id FROM orders INTERSECT SELECT user_id FROM events",
    "q61_ntile_quartiles" ->
      ("""WITH s AS (SELECT user_id,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |  FROM events GROUP BY 1)
         |SELECT user_id, spend,
         |  CAST(ntile(4) OVER (ORDER BY spend DESC, user_id) AS BIGINT) AS quartile
         |FROM s
         |""".stripMargin),
    "q62_reweight" ->
      ("""SELECT doc_id, source,
         |  unnest(generate_series(1, CASE WHEN source = 'src0' THEN 3 ELSE 1 END)) AS copy
         |FROM documents
         |""".stripMargin),
    "q63_split_assign" ->
      ("""SELECT doc_id, CASE
         |  WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
         |  WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f6' THEN 'val'
         |  ELSE 'test' END AS split
         |FROM documents
         |""".stripMargin),
    "q64_chunk" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n FROM documents
          |  WHERE len($TOKS) > 0),
          |c AS (SELECT doc_id, n, unnest(generate_series(0, (n - 1) // 12)) AS chunk_idx FROM t)
          |SELECT doc_id, chunk_idx, least(16, n - chunk_idx * 12) AS chunk_tokens FROM c
          |""".stripMargin),
    "q65_pseudonymize" ->
      ("SELECT event_id, sha256('graft:' || CAST(user_id AS VARCHAR)) AS uid_token " +
       "FROM events"),
    "q66_heavy_hitters" ->
      ("""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
         |t AS (SELECT count(*) AS total FROM events)
         |SELECT user_id, cnt, round(CAST(cnt AS DOUBLE) / total, 6) + 0 AS share
         |FROM c CROSS JOIN t ORDER BY cnt DESC, user_id LIMIT 10
         |""".stripMargin),
    "q67_surprisal" ->
      (s"""WITH tk AS (SELECT doc_id, unnest($TOKS) AS token FROM documents),
          |freq AS (SELECT token, count(*) AS ctf FROM tk GROUP BY 1),
          |t AS (SELECT count(*) AS total FROM tk)
          |SELECT doc_id,
          |  round(CAST(sum(CAST(-ln(CAST(ctf AS DOUBLE) / total) AS DECIMAL(18,9))) AS DOUBLE)
          |        / count(*), 6) + 0 AS surprisal,
          |  count(*) AS n_tokens
          |FROM tk JOIN freq USING (token) CROSS JOIN t
          |GROUP BY doc_id
          |""".stripMargin),
    "q68_repetition" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
          |  CAST(len(${shinglesSql("tk")}) AS BIGINT) AS nd FROM t)
          |SELECT doc_id, round(1.0 - CAST(nd AS DOUBLE) / (n - 2), 6) + 0 AS rep_score
          |FROM s WHERE n >= 3
          |""".stripMargin),
    "q74_cohort_retention" ->
      ("""WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
         |  WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |first AS (SELECT user_id, min(d) AS d0 FROM daily GROUP BY 1)
         |SELECT strftime(f.d0, '%Y-%m-%d') AS cohort,
         |  date_diff('day', f.d0, daily.d) AS day_offset, count(*) AS n_users
         |FROM daily JOIN first f USING (user_id)
         |GROUP BY 1, 2
         |""".stripMargin),
    "q72_histogram" ->
      ("""SELECT event_type, greatest(0, least(9, CAST(floor(value / 50) AS BIGINT))) AS bin,
         |  count(*) AS n
         |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |GROUP BY 1, 2
         |""".stripMargin),
    "q73_correlation" ->
      ("""WITH s AS (SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         |  sum(hour(ts)) AS sy,
         |  CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         |  sum(hour(ts) * hour(ts)) AS syy,
         |  CAST(sum(CAST(value * hour(ts) AS DECIMAL(28,6))) AS DOUBLE) AS sxy
         |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1)
         |SELECT event_type, n, round((n * sxy - sx * sy) /
         |  (sqrt(n * sxx - sx * sx) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0 AS corr_vh
         |FROM s
         |""".stripMargin),
    "q71_bpe_pairs" ->
      (s"""WITH tk AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
          |  FROM tk WHERE len(tk) >= 2)
          |SELECT tk[i] || ' ' || tk[i+1] AS pair, count(*) AS cnt
          |FROM idx GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20
          |""".stripMargin),
    "q69_gap_fill" ->
      ("""WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |daily AS (SELECT user_id, date_trunc('day', ts) AS d,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM e GROUP BY 1, 2),
         |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM span)
         |SELECT g.user_id, strftime(g.d, '%Y-%m-%d') AS day,
         |  last_value(daily.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
         |  daily.v IS NULL AS is_gap
         |FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id AND g.d = daily.d
         |""".stripMargin),
    "q70_anomaly" ->
      ("""WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |daily AS (SELECT user_id, date_trunc('day', ts) AS d,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM e GROUP BY 1, 2),
         |w AS (SELECT user_id, d, v,
         |  count(v) OVER win AS n,
         |  CAST(sum(CAST(v AS DECIMAL(18,2))) OVER win AS DOUBLE) AS s1,
         |  CAST(sum(CAST(v * v AS DECIMAL(28,6))) OVER win AS DOUBLE) AS s2
         |  FROM daily
         |  WINDOW win AS (PARTITION BY user_id ORDER BY d
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, v,
         |  CASE WHEN n >= 2 AND (s2 - s1*s1/n)/(n-1) > 0
         |    THEN round((v - s1/n)/sqrt((s2 - s1*s1/n)/(n-1)), 6) END + 0 AS zscore,
         |  coalesce(abs(CASE WHEN n >= 2 AND (s2 - s1*s1/n)/(n-1) > 0
         |    THEN round((v - s1/n)/sqrt((s2 - s1*s1/n)/(n-1)), 6) END) > 2.0, false) AS is_anomaly
         |FROM w
         |""".stripMargin),
    "q48_semi_join" ->
      ("SELECT c_mktsegment, count(*) AS n FROM customer WHERE EXISTS (" +
       "SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0" +
       ") GROUP BY c_mktsegment"),
    "q49_moving_window" ->
      ("SELECT o_custkey, o_orderkey, " +
       "CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS ds, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
       "PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate) " +
       "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d " +
       "FROM orders"),
    "q37_dedup_corpus" ->
      (s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT a_id, b_id FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7),
          |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION SELECT b_id, a_id FROM pairs
          |  UNION SELECT doc_id, doc_id FROM documents),
          |reach(a, b) AS (SELECT src, dst FROM edges
          |  UNION SELECT e.src, r.b FROM edges e JOIN reach r ON e.dst = r.a)
          |SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) = a
          |""".stripMargin),
    // q213: q37's reach closure, then per component the (quality DESC,
    // id ASC) head — the quality-aware survivor
    "q213_quality_dedup" ->
      (s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT a_id, b_id FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7),
          |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION SELECT b_id, a_id FROM pairs
          |  UNION SELECT doc_id, doc_id FROM documents),
          |reach(a, b) AS (SELECT src, dst FROM edges
          |  UNION SELECT e.src, r.b FROM edges e JOIN reach r ON e.dst = r.a),
          |comp AS (SELECT a AS doc_id, min(b) AS grp FROM reach GROUP BY a),
          |r AS (SELECT c.doc_id, c.grp,
          |  CAST(d.n_chars AS BIGINT) AS quality,
          |  row_number() OVER (PARTITION BY c.grp
          |    ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
          |  FROM comp c JOIN documents d USING (doc_id))
          |SELECT doc_id, quality FROM r WHERE rk = 1
          |""".stripMargin),
    // q214: bigram counts per doc, per-bigram top-2 by (c DESC, id ASC),
    // clip = min(c, m1) or the runner-up when the doc owns the max
    "q214_self_bleu" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents
          |  WHERE text IS NOT NULL),
          |b0 AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1,
          |  unnest(tk[2:len(tk)]) AS w2 FROM t WHERE len(tk) >= 2),
          |b AS (SELECT doc_id, w1 || ' ' || w2 AS g FROM b0),
          |cnt AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
          |rk AS (SELECT doc_id, g, c, row_number() OVER (
          |    PARTITION BY g ORDER BY c DESC, doc_id ASC) AS rk FROM cnt),
          |top AS (SELECT g, max(CASE WHEN rk = 1 THEN c END) AS m1,
          |  max(CASE WHEN rk = 1 THEN doc_id END) AS d1,
          |  coalesce(max(CASE WHEN rk = 2 THEN c END), 0) AS m2
          |  FROM rk WHERE rk <= 2 GROUP BY 1),
          |cl AS (SELECT cnt.doc_id, cnt.c, least(cnt.c,
          |    CASE WHEN cnt.doc_id = top.d1 THEN top.m2 ELSE top.m1 END) AS clip
          |  FROM cnt JOIN top USING (g))
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          |  CAST(sum(clip) AS BIGINT) AS clipped,
          |  round(CAST(sum(clip) AS DOUBLE) / sum(c), 6) + 0 AS self_p2
          |FROM cl GROUP BY 1
          |""".stripMargin),
    // q215: brute-force jaccard pairs, shared shingles, rarest-first
    // evidence ranking per pair
    "q215_pair_evidence" ->
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT a_id, b_id FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7),
          |shr AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
          |dfq AS (SELECT shingle, count(*) AS df FROM shr GROUP BY 1),
          |ev AS (SELECT p.a_id, p.b_id, a.shingle
          |  FROM pairs p JOIN shr a ON a.doc_id = p.a_id
          |  JOIN shr b ON b.doc_id = p.b_id AND b.shingle = a.shingle),
          |r AS (SELECT a_id, b_id, shingle, df, row_number() OVER (
          |    PARTITION BY a_id, b_id ORDER BY df ASC, shingle ASC) AS rk
          |  FROM ev JOIN dfq USING (shingle))
          |SELECT a_id, b_id, CAST(rk AS BIGINT) AS rk, shingle,
          |  CAST(df AS BIGINT) AS df
          |FROM r WHERE rk <= 3
          |""".stripMargin),
    // q216: paired pass flags per doc, discordant counts per lang,
    // the same sqrt z and the 1.96 literal on the rounded value
    "q216_mcnemar_gate" ->
      (s"""WITH f AS (SELECT lang,
          |  (n_chars >= 300) AS a, (len($TOKS) >= 50) AS b
          |  FROM documents),
          |g AS (SELECT lang AS grp, count(*) AS n_docs,
          |  sum(CASE WHEN a THEN 1 ELSE 0 END) AS a_pass,
          |  sum(CASE WHEN b THEN 1 ELSE 0 END) AS b_pass,
          |  sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n_ab,
          |  sum(CASE WHEN b AND NOT a THEN 1 ELSE 0 END) AS n_ba
          |  FROM f GROUP BY 1)
          |SELECT grp, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(a_pass AS BIGINT) AS a_pass,
          |  CAST(b_pass AS BIGINT) AS b_pass,
          |  CAST(n_ab AS BIGINT) AS n_ab, CAST(n_ba AS BIGINT) AS n_ba,
          |  CASE WHEN n_ab + n_ba = 0 THEN 0.0 ELSE
          |    round(CAST(n_ab - n_ba AS DOUBLE) /
          |      sqrt(CAST(n_ab + n_ba AS DOUBLE)), 6) + 0 END AS z_r,
          |  CASE WHEN n_ab + n_ba = 0 THEN abs(0.0) > 1.96 ELSE
          |    abs(round(CAST(n_ab - n_ba AS DOUBLE) /
          |      sqrt(CAST(n_ab + n_ba AS DOUBLE)), 6) + 0) > 1.96 END
          |    AS significant
          |FROM g
          |""".stripMargin),
    // q217: 30-token window slices, the q19 marker CASE per window,
    // per-doc (count DESC, lang ASC) majority head
    "q217_code_switch" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents
          |  WHERE text IS NOT NULL),
          |w AS (SELECT doc_id, tk, len(tk) AS n,
          |  unnest(range(CAST(ceil(len(tk) / 30.0) AS BIGINT))) AS i
          |  FROM t WHERE len(tk) >= 1),
          |sl AS (SELECT doc_id, i,
          |  tk[CAST(i * 30 + 1 AS BIGINT):CAST(least((i + 1) * 30, n) AS BIGINT)] AS wt
          |  FROM w),
          |sc AS (SELECT doc_id, i, array_to_string(wt, ' ') AS wtext,
          |  list_transform(wt, x -> lower(x)) AS lt FROM sl),
          |m AS (SELECT doc_id, i,
          |  len(list_filter(lt, x -> x IN ('the','a','of','and','is'))) AS en,
          |  len(list_filter(lt, x -> x IN ('der','die','und','ist','nicht'))) AS de,
          |  len(list_filter(lt, x -> x IN ('el','los','una','es','y'))) AS es,
          |  len(list_filter(lt, x -> x IN ('le','les','une','est','et'))) AS fr,
          |  wtext FROM sc),
          |l AS (SELECT doc_id, CASE
          |  WHEN regexp_matches(wtext, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
          |  WHEN de > en AND de >= es AND de >= fr THEN 'de'
          |  WHEN es > en AND es >= fr THEN 'es'
          |  WHEN fr > en THEN 'fr'
          |  ELSE 'en' END AS lang FROM m),
          |g AS (SELECT doc_id, lang, count(*) AS c FROM l GROUP BY 1, 2),
          |r AS (SELECT doc_id, lang, c,
          |  row_number() OVER (PARTITION BY doc_id
          |    ORDER BY c DESC, lang ASC) AS rk,
          |  sum(c) OVER (PARTITION BY doc_id) AS nw,
          |  count(*) OVER (PARTITION BY doc_id) AS nl FROM g)
          |SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
          |  CAST(nl AS BIGINT) AS n_langs, lang AS major_lang,
          |  round(CAST(c AS DOUBLE) / nw, 6) + 0 AS major_share_r
          |FROM r WHERE rk = 1
          |""".stripMargin),
    // q218: the md5-jittered 3-rater labels, per-item and per-category
    // integer marginals over complete items, and the cleared-denominator
    // Fleiss formula in HUGEINT — one divide, rounded at the edge
    "q218_fleiss_kappa" ->
      ("""WITH r AS (SELECT lang, doc_id, n_chars, b.range + 1 AS rater
         |  FROM documents, range(3) b),
         |lab AS (SELECT lang, doc_id,
         |  CASE WHEN n_chars + CAST('0x' || substr(md5('fk:' || doc_id ||
         |      ':' || rater), 1, 8) AS BIGINT) % 200 < 400 THEN 'short'
         |    WHEN n_chars + CAST('0x' || substr(md5('fk:' || doc_id ||
         |      ':' || rater), 1, 8) AS BIGINT) % 200 < 700 THEN 'mid'
         |    ELSE 'long' END AS label FROM r),
         |cells AS (SELECT lang, doc_id, label, count(*) AS nij
         |  FROM lab GROUP BY 1, 2, 3),
         |items AS (SELECT lang, doc_id, sum(nij) AS ni,
         |  sum(nij * nij) AS s2i FROM cells GROUP BY 1, 2),
         |gi AS (SELECT lang,
         |  sum(CASE WHEN ni = 3 THEN 1 ELSE 0 END) AS n_items,
         |  sum(CASE WHEN ni <> 3 THEN 1 ELSE 0 END) AS n_dropped,
         |  sum(CASE WHEN ni = 3 THEN s2i ELSE 0 END) AS s2
         |  FROM items GROUP BY 1),
         |ct AS (SELECT c.lang, c.label, sum(c.nij) AS cj
         |  FROM cells c JOIN items i
         |  ON c.lang = i.lang AND c.doc_id = i.doc_id
         |  WHERE i.ni = 3 GROUP BY 1, 2),
         |gc AS (SELECT lang, count(*) AS n_categories,
         |  sum(CAST(cj AS HUGEINT) * CAST(cj AS HUGEINT)) AS cs
         |  FROM ct GROUP BY 1)
         |SELECT gi.lang AS grp, CAST(n_items AS BIGINT) AS n_items,
         |  CAST(n_dropped AS BIGINT) AS n_dropped,
         |  CAST(coalesce(n_categories, 0) AS BIGINT) AS n_categories,
         |  CASE WHEN n_items = 0 THEN NULL
         |    WHEN (CAST(n_items AS HUGEINT) * 3 * (CAST(n_items AS HUGEINT)
         |      * 3) - coalesce(cs, 0)) * 2 = 0 THEN 1.0
         |    ELSE round(CAST((CAST(s2 AS HUGEINT) - n_items * 3) *
         |      (CAST(n_items AS HUGEINT) * 3) - coalesce(cs, 0) * 2 AS DOUBLE)
         |      / CAST((CAST(n_items AS HUGEINT) * 3 *
         |      (CAST(n_items AS HUGEINT) * 3) - coalesce(cs, 0)) * 2
         |      AS DOUBLE), 6) + 0 END AS kappa_r
         |FROM gi LEFT JOIN gc USING (lang)
         |""".stripMargin),
    // q219: whitespace term counts per lang, counts-of-counts, the
    // hapax-share unseen mass and the 2·N2/N1 adjusted hapax count
    "q219_good_turing" -> GOOD_TURING_ORACLE,
    // q231: the SAME Good-Turing stats, but read off the MAINTAINED
    // vocabulary table after three exactly-once batch folds — the
    // maintained ≡ recomputed gate (the q188/q204 protocol), so the
    // oracle is q219's recompute verbatim
    "q231_vocab_sink" -> GOOD_TURING_ORACLE,
    // q234: the four-sink composed loop's vocabulary — again q219's
    // recompute verbatim (maintained through the loop ≡ recomputed)
    "q234_curation_vocab" -> GOOD_TURING_ORACLE,
    // q232: probe-slice OOV against the 2-batch maintained vocabulary
    // — train terms from day 1/2 docs, probe tokens from day-0 docs,
    // one key-local left join
    "q232_vocab_oov" ->
      (s"""WITH tr AS (SELECT lang, unnest($TOKS) AS term FROM documents
          |  WHERE text IS NOT NULL AND doc_id % 3 <> 0),
          |v AS (SELECT DISTINCT lang, term FROM tr),
          |pr AS (SELECT lang, unnest($TOKS) AS term FROM documents
          |  WHERE text IS NOT NULL AND doc_id % 3 = 0)
          |SELECT pr.lang, CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_oov,
          |  round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*), 6) + 0 AS oov_r
          |FROM pr LEFT JOIN v ON pr.lang = v.lang AND pr.term = v.term
          |GROUP BY 1
          |""".stripMargin),
    // q220: frequency-ranked sensitive counts per quasi class
    // (ties to the smaller bucket), then the exact integer
    // r1·cDen < cNum·tail test at l = 2, c = 2
    "q220_cl_diversity" ->
      ("""WITH b AS (SELECT c_nationkey, c_mktsegment,
         |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket
         |  FROM customer),
         |c AS (SELECT c_nationkey, c_mktsegment, bal_bucket,
         |  count(*) AS r FROM b GROUP BY 1, 2, 3),
         |rk AS (SELECT *, row_number() OVER (
         |  PARTITION BY c_nationkey, c_mktsegment
         |  ORDER BY r DESC, bal_bucket ASC) AS rk FROM c),
         |g AS (SELECT c_nationkey, c_mktsegment, sum(r) AS n,
         |  count(*) AS m_distinct, max(CASE WHEN rk = 1 THEN r END) AS r1,
         |  sum(CASE WHEN rk >= 2 THEN r ELSE 0 END) AS tail_sum
         |  FROM rk GROUP BY 1, 2)
         |SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
         |  CAST(m_distinct AS BIGINT) AS m_distinct,
         |  CAST(r1 AS BIGINT) AS r1, CAST(tail_sum AS BIGINT) AS tail_sum,
         |  (m_distinct >= 2 AND r1 * 1 < 2 * tail_sum) AS ok_cl
         |FROM g
         |""".stripMargin),
    // q221: md5 gate p-values (even-length sources draw small),
    // rank/total windows, the exact p·m ≤ rank·q step-up, and the
    // bottom-up running min for the adjusted p
    "q221_bh_fdr" ->
      ("""WITH g AS (SELECT DISTINCT lang, source FROM documents),
         |p AS (SELECT lang || '/' || source AS test,
         |  CASE WHEN len(source) % 2 = 0
         |    THEN CAST('0x' || substr(md5('bh:' || lang || ':' || source),
         |      1, 8) AS BIGINT) % 1000
         |    ELSE CAST('0x' || substr(md5('bh:' || lang || ':' || source),
         |      1, 8) AS BIGINT) % 1000000 END AS p_ppm FROM g),
         |r AS (SELECT test, p_ppm,
         |  row_number() OVER (ORDER BY p_ppm, test) AS rnk,
         |  count(*) OVER () AS m FROM p),
         |a AS (SELECT *, least(1.0, CAST(p_ppm * m AS DOUBLE) /
         |  CAST(rnk * 1000000 AS DOUBLE)) AS raw FROM r),
         |b AS (SELECT *, min(raw) OVER (ORDER BY p_ppm, test
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS adj,
         |  max(CASE WHEN p_ppm * m <= rnk * 100000 THEN rnk ELSE 0 END)
         |    OVER () AS k FROM a)
         |SELECT test, CAST(p_ppm AS BIGINT) AS p_ppm,
         |  CAST(m AS BIGINT) AS m, CAST(rnk AS BIGINT) AS "rank",
         |  round(adj, 6) + 0 AS adj_p_r, rnk <= k AS rejected
         |FROM b
         |""".stripMargin),
    // q222: exact integer differences, 200 md5 sign assignments,
    // permuted totals vs the observed total, add-one p
    "q222_perm_test" ->
      (s"""WITH base AS (SELECT lang, CAST(doc_id AS VARCHAR) AS id,
          |  CAST(n_chars AS BIGINT) - 6 * len($TOKS) AS d
          |  FROM documents WHERE text IS NOT NULL),
          |obs AS (SELECT lang, count(*) AS n_docs, sum(d) AS t_obs
          |  FROM base GROUP BY 1),
          |pr AS (SELECT lang, d, b.range + 1 AS p,
          |  2 * (CAST('0x' || substr(md5('pt:' || (b.range + 1) || ':' ||
          |    id), 1, 8) AS BIGINT) % 2) - 1 AS s
          |  FROM base, range(200) b),
          |t AS (SELECT lang, p, sum(s * d) AS t FROM pr GROUP BY 1, 2),
          |g AS (SELECT t.lang, max(n_docs) AS n_docs,
          |  max(obs.t_obs) AS t_obs,
          |  sum(CASE WHEN abs(t.t) >= abs(obs.t_obs) THEN 1 ELSE 0 END)
          |    AS n_ge
          |  FROM t JOIN obs ON t.lang = obs.lang GROUP BY 1)
          |SELECT lang AS grp, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(t_obs AS BIGINT) AS t_obs, CAST(n_ge AS BIGINT) AS n_ge,
          |  round(CAST(n_ge + 1 AS DOUBLE) / 201.0, 6) + 0 AS p_r
          |FROM g
          |""".stripMargin),
    // q224: row-local pass flags and pass counts, one collapse per
    // lang, the cleared-denominator Q in HUGEINT, χ² literal on the
    // rounded statistic
    "q224_cochran_q" ->
      (s"""WITH f AS (SELECT lang,
          |  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS f0,
          |  CASE WHEN len($TOKS) >= 50 THEN 1 ELSE 0 END AS f1,
          |  CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS f2
          |  FROM documents),
          |g AS (SELECT lang, count(*) AS n_docs, sum(f0) AS c0,
          |  sum(f1) AS c1, sum(f2) AS c2, sum(f0 + f1 + f2) AS nn,
          |  sum((f0 + f1 + f2) * (f0 + f1 + f2)) AS sr2
          |  FROM f GROUP BY 1)
          |SELECT lang AS grp, CAST(n_docs AS BIGINT) AS n_docs,
          |  CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
          |  CAST(c2 AS BIGINT) AS c2,
          |  CASE WHEN 3 * nn - sr2 = 0 THEN 0.0
          |    ELSE round(CAST(1 * (3 * (CAST(c0 AS HUGEINT) * c0 +
          |      CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2) -
          |      CAST(nn AS HUGEINT) * nn) * 2 AS DOUBLE) /
          |      CAST(3 * CAST(nn AS HUGEINT) - sr2 AS DOUBLE), 6) + 0
          |    END AS q_r,
          |  CASE WHEN 3 * nn - sr2 = 0 THEN 0.0 > 5.991464
          |    ELSE round(CAST(1 * (3 * (CAST(c0 AS HUGEINT) * c0 +
          |      CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2) -
          |      CAST(nn AS HUGEINT) * nn) * 2 AS DOUBLE) /
          |      CAST(3 * CAST(nn AS HUGEINT) - sr2 AS DOUBLE), 6) + 0
          |      > 5.991464 END AS significant
          |FROM g
          |""".stripMargin),
    // q225: exact slice sums/squares per lang, then the same fixed
    // chain — means, n·Σx²−S² centered squares, pooled variance, one
    // sqrt — operation for operation
    "q225_cohens_d" ->
      ("""WITH b AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
         |  (doc_id % 2 = 0) AS a FROM documents),
         |g AS (SELECT lang,
         |  sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
         |  sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb,
         |  sum(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
         |  sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) END) AS sb,
         |  sum(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qa,
         |  sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) * v END) AS qb
         |  FROM b GROUP BY 1),
         |e AS (SELECT lang, na, nb,
         |  CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
         |  CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
         |  CAST(na * qa - sa * sa AS DOUBLE) / CAST(na AS DOUBLE) AS ssa,
         |  CAST(nb * qb - sb * sb AS DOUBLE) / CAST(nb AS DOUBLE) AS ssb
         |  FROM g)
         |SELECT lang AS grp, CAST(na AS BIGINT) AS n_a,
         |  CAST(nb AS BIGINT) AS n_b,
         |  CASE WHEN na = 0 OR nb = 0 THEN NULL
         |    ELSE round(ma - mb, 6) + 0 END AS mean_diff_r,
         |  CASE WHEN na < 2 OR nb < 2 THEN NULL
         |    WHEN ssa + ssb = 0.0 THEN NULL
         |    ELSE round((ma - mb) / sqrt((ssa + ssb) /
         |      CAST(na + nb - 2 AS DOUBLE)), 6) + 0 END AS d_r
         |FROM e
         |""".stripMargin),
    // q226: per-(lang, value) slice counts, cumulative-below window
    // inside each lang, exact pair products, one divide
    "q226_cliffs_delta" ->
      ("""WITH b AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
         |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a
         |  FROM documents),
         |c AS (SELECT lang, v, sum(a) AS ca, sum(1 - a) AS cb
         |  FROM b GROUP BY 1, 2),
         |w AS (SELECT lang, v, ca, cb,
         |  sum(cb) OVER (PARTITION BY lang ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) - cb AS below,
         |  sum(cb) OVER (PARTITION BY lang) AS totb FROM c),
         |g AS (SELECT lang, sum(ca) AS na, max(totb) AS nb,
         |  sum(CAST(ca AS HUGEINT) * below) AS gt,
         |  sum(CAST(ca AS HUGEINT) * (totb - below - cb)) AS lt
         |  FROM w GROUP BY 1)
         |SELECT lang AS grp, CAST(na AS BIGINT) AS n_a,
         |  CAST(nb AS BIGINT) AS n_b, CAST(gt AS BIGINT) AS gt,
         |  CAST(lt AS BIGINT) AS lt,
         |  CASE WHEN na = 0 OR nb = 0 THEN NULL
         |    ELSE round(CAST(gt - lt AS DOUBLE) /
         |      CAST(CAST(na AS HUGEINT) * nb AS DOUBLE), 6) + 0
         |    END AS delta_r
         |FROM g
         |""".stripMargin),
    // q227: varying 2/3-rater panels, the same md5 labels, both
    // disagreement sums lcm-scaled (L = lcm(1..11) = 27720), one
    // HUGEINT divide
    "q227_krippendorff" ->
      ("""WITH r AS (SELECT lang, doc_id, n_chars,
         |  unnest(range(2 + doc_id % 2)) + 1 AS rater FROM documents),
         |lab AS (SELECT lang, doc_id,
         |  CASE WHEN n_chars + CAST('0x' || substr(md5('ka:' || doc_id ||
         |      ':' || rater), 1, 8) AS BIGINT) % 200 < 400 THEN 'short'
         |    WHEN n_chars + CAST('0x' || substr(md5('ka:' || doc_id ||
         |      ':' || rater), 1, 8) AS BIGINT) % 200 < 700 THEN 'mid'
         |    ELSE 'long' END AS label FROM r),
         |cells AS (SELECT lang, doc_id, label, count(*) AS nij
         |  FROM lab GROUP BY 1, 2, 3),
         |items AS (SELECT lang, doc_id, sum(nij) AS ni
         |  FROM cells GROUP BY 1, 2),
         |j AS (SELECT c.lang, c.label, c.nij, i.ni FROM cells c
         |  JOIN items i ON c.lang = i.lang AND c.doc_id = i.doc_id
         |  WHERE i.ni BETWEEN 2 AND 12),
         |num AS (SELECT lang, sum(CAST(nij AS HUGEINT) * (ni - nij) *
         |  (27720 // (ni - 1))) AS numl FROM j GROUP BY 1),
         |cat AS (SELECT lang, label, sum(nij) AS nc FROM j GROUP BY 1, 2),
         |nt AS (SELECT lang, sum(ni) AS n FROM items
         |  WHERE ni BETWEEN 2 AND 12 GROUP BY 1),
         |dd AS (SELECT cat.lang, max(n) AS n,
         |  sum(CAST(nc AS HUGEINT) * (n - nc)) AS dden
         |  FROM cat JOIN nt ON cat.lang = nt.lang GROUP BY 1),
         |cnt AS (SELECT lang,
         |  sum(CASE WHEN ni BETWEEN 2 AND 12 THEN 1 ELSE 0 END) AS n_items,
         |  sum(CASE WHEN ni = 1 THEN 1 ELSE 0 END) AS n_single,
         |  sum(CASE WHEN ni > 12 THEN 1 ELSE 0 END) AS n_oversize
         |  FROM items GROUP BY 1)
         |SELECT cnt.lang AS grp, CAST(n_items AS BIGINT) AS n_items,
         |  CAST(n_single AS BIGINT) AS n_single,
         |  CAST(n_oversize AS BIGINT) AS n_oversize,
         |  CAST(coalesce(q.n, 0) AS BIGINT) AS n_ratings,
         |  CASE WHEN n_items = 0 THEN NULL
         |    WHEN 27720 * q.dden = 0 THEN 1.0
         |    ELSE round(CAST(27720 * q.dden - (q.n - 1) * q.numl AS DOUBLE)
         |      / CAST(27720 * q.dden AS DOUBLE), 6) + 0 END AS alpha_r
         |FROM cnt LEFT JOIN (SELECT num.lang, numl, n, dden FROM num
         |  JOIN dd ON num.lang = dd.lang) q ON cnt.lang = q.lang
         |""".stripMargin),
    // q228: the q90 centroid CTE, a vector×centroid distance fan-out
    // (the engine keeps this row-local off collected literals), own vs
    // min-foreign distances, the same rounded silhouette chain
    "q228_silhouette" ->
      ("""WITH x AS (SELECT label,
         |  unnest(range(len(embedding))) AS pos,
         |  CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
         |  FROM embeddings),
         |cd AS (SELECT label, pos,
         |  round(CAST(sum(x) AS DOUBLE) / count(*), 6) + 0 AS c
         |  FROM x GROUP BY 1, 2),
         |cv AS (SELECT label, list(c ORDER BY pos) AS cvec FROM cd GROUP BY 1),
         |p AS (SELECT e.vec_id, e.label AS lab, cv.label AS cl,
         |  1.0 - round(list_cosine_similarity(
         |    CAST(e.embedding AS DOUBLE[]), cv.cvec), 4) AS d
         |  FROM embeddings e, cv),
         |ab AS (SELECT vec_id, lab,
         |  min(CASE WHEN cl = lab THEN d END) AS a,
         |  min(CASE WHEN cl <> lab THEN d END) AS b FROM p GROUP BY 1, 2),
         |s AS (SELECT lab,
         |  CASE WHEN greatest(a, b) = 0 THEN CAST(0.0 AS DECIMAL(18,9))
         |    ELSE CAST(round((b - a) / greatest(a, b), 6) AS DECIMAL(18,9))
         |    END AS sv FROM ab)
         |SELECT lab AS label, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(sv) AS DOUBLE) / count(*), 6) + 0 AS mean_sil_r
         |FROM s GROUP BY 1
         |""".stripMargin),
    // q229: nonzero differences to (lang, |d|) tie groups, doubled
    // midranks via the cumulative window, the cleared-fraction
    // tie-corrected z
    "q229_wilcoxon" ->
      (s"""WITH base AS (SELECT lang,
          |  CAST(n_chars AS BIGINT) - 6 * len($TOKS) AS d
          |  FROM documents WHERE text IS NOT NULL),
          |nz AS (SELECT lang, abs(d) AS ad,
          |  CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
          |  FROM base WHERE d <> 0),
          |c AS (SELECT lang, ad, count(*) AS t, sum(pos) AS ca
          |  FROM nz GROUP BY 1, 2),
          |w AS (SELECT lang, ad, t, ca, sum(t) OVER (PARTITION BY lang
          |  ORDER BY ad ROWS UNBOUNDED PRECEDING) - t AS cb FROM c),
          |g AS (SELECT lang, sum(t) AS n,
          |  sum(CAST(ca AS HUGEINT) * (2 * cb + t + 1)) AS w2,
          |  sum(CAST(t AS HUGEINT) * t * t - t) AS tie FROM w GROUP BY 1)
          |SELECT lang AS grp, CAST(n AS BIGINT) AS n_nz,
          |  CAST(w2 AS BIGINT) AS w2,
          |  round(CAST(2 * w2 - CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) /
          |    sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) -
          |      tie AS DOUBLE) / 3.0), 6) + 0 AS z_r,
          |  abs(round(CAST(2 * w2 - CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) /
          |    sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) -
          |      tie AS DOUBLE) / 3.0), 6) + 0) > 1.96 AS significant
          |FROM g
          |""".stripMargin),
    // q230: doubled midranks per metric, value joins back to rows,
    // Pearson over exact rank sums
    "q230_spearman" ->
      (s"""WITH base AS (SELECT lang, CAST(n_chars AS BIGINT) AS x,
          |  len($TOKS) AS y FROM documents WHERE text IS NOT NULL),
          |cx AS (SELECT lang, x, count(*) AS t FROM base GROUP BY 1, 2),
          |wx AS (SELECT lang, x, 2 * (sum(t) OVER (PARTITION BY lang
          |  ORDER BY x ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS rx FROM cx),
          |cy AS (SELECT lang, y, count(*) AS t FROM base GROUP BY 1, 2),
          |wy AS (SELECT lang, y, 2 * (sum(t) OVER (PARTITION BY lang
          |  ORDER BY y ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS ry FROM cy),
          |j AS (SELECT b.lang, wx.rx, wy.ry FROM base b
          |  JOIN wx ON b.lang = wx.lang AND b.x = wx.x
          |  JOIN wy ON b.lang = wy.lang AND b.y = wy.y),
          |g AS (SELECT lang, count(*) AS n,
          |  sum(CAST(rx AS HUGEINT)) AS sx, sum(CAST(ry AS HUGEINT)) AS sy,
          |  sum(CAST(rx AS HUGEINT) * rx) AS sxx,
          |  sum(CAST(ry AS HUGEINT) * ry) AS syy,
          |  sum(CAST(rx AS HUGEINT) * ry) AS sxy FROM j GROUP BY 1)
          |SELECT lang AS grp, CAST(n AS BIGINT) AS n,
          |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
          |    THEN NULL
          |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
          |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
          |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0
          |    END AS rho_r
          |FROM g
          |""".stripMargin),
    // q237: per-judge doubled midranks over the jittered scores,
    // per-item rank sums, the tie-corrected W cleared to HUGEINT
    "q237_kendall_w" ->
      ("""WITH r AS (SELECT lang, doc_id, b.range + 1 AS judge,
         |  n_chars + CAST('0x' || substr(md5('kw:' || doc_id || ':' ||
         |    (b.range + 1)), 1, 8) AS BIGINT) % 200 AS s
         |  FROM documents, range(3) b),
         |c AS (SELECT lang, judge, s, count(*) AS t FROM r GROUP BY 1, 2, 3),
         |rk AS (SELECT lang, judge, s, t,
         |  2 * (sum(t) OVER (PARTITION BY lang, judge ORDER BY s
         |    ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS r2 FROM c),
         |ts AS (SELECT lang, sum(CAST(t AS HUGEINT) * t * t - t) AS tt
         |  FROM rk GROUP BY 1),
         |ri AS (SELECT r.lang, r.doc_id, sum(rk.r2) AS rr FROM r
         |  JOIN rk ON r.lang = rk.lang AND r.judge = rk.judge
         |    AND r.s = rk.s
         |  GROUP BY 1, 2),
         |sr AS (SELECT lang, count(*) AS n,
         |  sum(CAST(rr AS HUGEINT) * rr) AS sr2 FROM ri GROUP BY 1)
         |SELECT sr.lang AS grp, CAST(n AS BIGINT) AS n_items,
         |  CAST(3 AS BIGINT) AS k_judges, true AS complete,
         |  round(CAST(3 * (sr2 - 9 * CAST(n AS HUGEINT) * (n + 1) *
         |    (n + 1)) AS DOUBLE) /
         |    CAST(9 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
         |    - 3 * tt AS DOUBLE), 6) + 0 AS w_r
         |FROM sr JOIN ts ON sr.lang = ts.lang
         |""".stripMargin),
    // q238: the 10-token re-lining, line explode with 0-based
    // positions, keep-first window over the raw line string, ordered
    // string_agg rebuild; docs with no drops rebuild to their
    // identical text (split/join identity), null text stays null, a
    // fully-deduped doc becomes ''
    "q238_line_dedup" ->
      (s"""WITH $LINED_DOCS,
         |p AS (SELECT doc_id, lang, source, n_chars, text,
         |  string_split(text, chr(10)) AS parts FROM lined),
         |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |  parts[CAST(i + 1 AS BIGINT)] AS line
         |  FROM p, unnest(range(len(parts))) AS u(i)),
         |el AS (SELECT * FROM ln WHERE length(line) >= 2),
         |w AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY line) AS n,
         |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
         |  FROM el),
         |drops AS (SELECT doc_id, pos FROM w WHERE n > 1 AND rn > 1),
         |kept AS (SELECT ln.doc_id, ln.pos, ln.line FROM ln
         |  LEFT JOIN drops d ON ln.doc_id = d.doc_id AND ln.pos = d.pos
         |  WHERE d.doc_id IS NULL),
         |reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
         |  AS text2 FROM kept GROUP BY 1),
         |nd AS (SELECT doc_id, count(*) AS ndrop FROM drops GROUP BY 1)
         |SELECT p.doc_id, p.lang, p.source, p.n_chars,
         |  CASE WHEN p.text IS NULL THEN NULL
         |    ELSE coalesce(reb.text2, '') END AS text,
         |  CAST(coalesce(nd.ndrop, 0) AS BIGINT) AS n_dropped
         |FROM p LEFT JOIN reb ON p.doc_id = reb.doc_id
         |LEFT JOIN nd ON p.doc_id = nd.doc_id
         |""".stripMargin),
    // q239: same re-lining + explode, count per raw line string,
    // keep-first winner, rank by (n DESC, winner id, winner pos)
    "q239_boilerplate_topk" ->
      (s"""WITH $LINED_DOCS,
         |p AS (SELECT doc_id, string_split(text, chr(10)) AS parts
         |  FROM lined),
         |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |  parts[CAST(i + 1 AS BIGINT)] AS line
         |  FROM p, unnest(range(len(parts))) AS u(i)),
         |el AS (SELECT * FROM ln WHERE length(line) >= 2),
         |w AS (SELECT line, doc_id, pos,
         |  count(*) OVER (PARTITION BY line) AS n,
         |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
         |  FROM el),
         |t AS (SELECT line, n, doc_id AS example_id, pos FROM w
         |  WHERE rn = 1 AND n > 1),
         |r AS (SELECT *, row_number() OVER (ORDER BY n DESC,
         |  example_id ASC, pos ASC) AS rk FROM t)
         |SELECT CAST(rk AS BIGINT) AS rk, line,
         |  CAST(n AS BIGINT) AS n_occurrences, example_id
         |FROM r WHERE rk <= 20
         |""".stripMargin),
    // q240: the streamed keep-first composes to ONE global window in
    // (batch = doc_id % 3, doc_id, pos) order — rn > 1 drops, same
    // rebuild as q238
    "q240_incr_line_dedup" ->
      (s"""WITH $LINED_DOCS,
         |p AS (SELECT doc_id, lang, source, n_chars, text,
         |  doc_id % 3 AS b, string_split(text, chr(10)) AS parts
         |  FROM lined),
         |ln AS (SELECT doc_id, b, CAST(i AS BIGINT) AS pos,
         |  parts[CAST(i + 1 AS BIGINT)] AS line
         |  FROM p, unnest(range(len(parts))) AS u(i)),
         |el AS (SELECT * FROM ln WHERE length(line) >= 2),
         |w AS (SELECT doc_id, pos, row_number() OVER (
         |  PARTITION BY line ORDER BY b, doc_id, pos) AS rn FROM el),
         |drops AS (SELECT doc_id, pos FROM w WHERE rn > 1),
         |kept AS (SELECT ln.doc_id, ln.pos, ln.line FROM ln
         |  LEFT JOIN drops d ON ln.doc_id = d.doc_id AND ln.pos = d.pos
         |  WHERE d.doc_id IS NULL),
         |reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
         |  AS text2 FROM kept GROUP BY 1),
         |nd AS (SELECT doc_id, count(*) AS ndrop FROM drops GROUP BY 1)
         |SELECT p.doc_id, p.lang, p.source, p.n_chars,
         |  CASE WHEN p.text IS NULL THEN NULL
         |    ELSE coalesce(reb.text2, '') END AS text,
         |  CAST(coalesce(nd.ndrop, 0) AS BIGINT) AS n_dropped
         |FROM p LEFT JOIN reb ON p.doc_id = reb.doc_id
         |LEFT JOIN nd ON p.doc_id = nd.doc_id
         |""".stripMargin),
    // q241: q238's chain with (a) odd doc_ids upper-cased in the view
    // and (b) the keep-first window PARTITIONED BY the q52
    // normalization of the line (lowercase, whitespace-collapsed) —
    // survivors rebuild from their ORIGINAL (cased) line bytes
    "q241_norm_line_dedup" ->
      (s"""WITH $LINED_DOCS,
         |cased AS (SELECT doc_id, lang, source, n_chars,
         |  CASE WHEN doc_id % 2 = 1 THEN upper(text) ELSE text END
         |    AS text FROM lined),
         |p AS (SELECT doc_id, lang, source, n_chars, text,
         |  string_split(text, chr(10)) AS parts FROM cased),
         |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |  parts[CAST(i + 1 AS BIGINT)] AS line
         |  FROM p, unnest(range(len(parts))) AS u(i)),
         |el AS (SELECT doc_id, pos,
         |  lower(trim(regexp_replace(line, '[ \\t\\n\\f\\r]+', ' ', 'g')))
         |    AS nline
         |  FROM ln WHERE length(line) >= 2),
         |w AS (SELECT doc_id, pos,
         |  row_number() OVER (PARTITION BY nline ORDER BY doc_id, pos)
         |    AS rn FROM el),
         |drops AS (SELECT doc_id, pos FROM w WHERE rn > 1),
         |kept AS (SELECT ln.doc_id, ln.pos, ln.line FROM ln
         |  LEFT JOIN drops d ON ln.doc_id = d.doc_id AND ln.pos = d.pos
         |  WHERE d.doc_id IS NULL),
         |reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
         |  AS text2 FROM kept GROUP BY 1),
         |nd AS (SELECT doc_id, count(*) AS ndrop FROM drops GROUP BY 1)
         |SELECT p.doc_id, p.lang, p.source, p.n_chars,
         |  CASE WHEN p.text IS NULL THEN NULL
         |    ELSE coalesce(reb.text2, '') END AS text,
         |  CAST(coalesce(nd.ndrop, 0) AS BIGINT) AS n_dropped
         |FROM p LEFT JOIN reb ON p.doc_id = reb.doc_id
         |LEFT JOIN nd ON p.doc_id = nd.doc_id
         |""".stripMargin),
    // q242: q240's (batch, doc_id, pos) streamed keep-first window
    // over q241's cased view, PARTITIONED BY the normalized line
    "q242_incr_norm_lines" ->
      (s"""WITH $LINED_DOCS,
         |cased AS (SELECT doc_id, lang, source, n_chars,
         |  CASE WHEN doc_id % 2 = 1 THEN upper(text) ELSE text END
         |    AS text FROM lined),
         |p AS (SELECT doc_id, lang, source, n_chars, text,
         |  doc_id % 3 AS b, string_split(text, chr(10)) AS parts
         |  FROM cased),
         |ln AS (SELECT doc_id, b, CAST(i AS BIGINT) AS pos,
         |  parts[CAST(i + 1 AS BIGINT)] AS line
         |  FROM p, unnest(range(len(parts))) AS u(i)),
         |el AS (SELECT doc_id, b, pos,
         |  lower(trim(regexp_replace(line, '[ \\t\\n\\f\\r]+', ' ', 'g')))
         |    AS nline
         |  FROM ln WHERE length(line) >= 2),
         |w AS (SELECT doc_id, pos, row_number() OVER (
         |  PARTITION BY nline ORDER BY b, doc_id, pos) AS rn FROM el),
         |drops AS (SELECT doc_id, pos FROM w WHERE rn > 1),
         |kept AS (SELECT ln.doc_id, ln.pos, ln.line FROM ln
         |  LEFT JOIN drops d ON ln.doc_id = d.doc_id AND ln.pos = d.pos
         |  WHERE d.doc_id IS NULL),
         |reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
         |  AS text2 FROM kept GROUP BY 1),
         |nd AS (SELECT doc_id, count(*) AS ndrop FROM drops GROUP BY 1)
         |SELECT p.doc_id, p.lang, p.source, p.n_chars,
         |  CASE WHEN p.text IS NULL THEN NULL
         |    ELSE coalesce(reb.text2, '') END AS text,
         |  CAST(coalesce(nd.ndrop, 0) AS BIGINT) AS n_dropped
         |FROM p LEFT JOIN reb ON p.doc_id = reb.doc_id
         |LEFT JOIN nd ON p.doc_id = nd.doc_id
         |""".stripMargin),
    // q243: the optimize fold is pure data movement — the oracle is
    // the source rows with their content-keyed batch ids
    "q243_lake_optimize" ->
      ("SELECT doc_id % 3 AS ingest_batch, doc_id, lang, source, " +
       "n_chars, text FROM documents"),
    // q244: replay the content-addressed shuffle order (q78's kernel),
    // the strictly-before-prefix first-fit packing (q58's kernel) and
    // the 60-bit md5 fingerprint sum against the raw table — the
    // engine's number comes off the read-back shard FILES, so the match
    // certifies the whole write/read round-trip
    "q244_shard_export" ->
      (s"""WITH t AS (SELECT doc_id, text,
          |  coalesce(CAST(len($TOKS) AS BIGINT), 0) AS n,
          |  md5('graft:' || CAST(doc_id AS VARCHAR)) AS hk FROM documents),
          |o AS (SELECT doc_id, text, n,
          |  CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS rnk,
          |  coalesce(sum(n) OVER (ORDER BY hk, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          |  FROM t)
          |SELECT CAST(off // 4000 AS BIGINT) AS shard,
          |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
          |  min(rnk) AS rank_min, max(rnk) AS rank_max,
          |  CAST(sum(CAST(('0x' || substr(md5('fp:' ||
          |    CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')),
          |    1, 15)) AS BIGINT)) % 2305843009213693952 AS BIGINT)
          |    AS content_fp
          |FROM o GROUP BY 1
          |""".stripMargin),
    // q236: the q212 Poisson chain with the draw keyed on SOURCE —
    // every doc of a source shares its weight per resample
    "q236_cluster_bootstrap" ->
      ("""WITH base AS (SELECT source AS id,
         |  CAST(n_chars AS BIGINT) AS v FROM documents),
         |draws AS (SELECT b.range + 1 AS b, v,
         |  CAST('0x' || substr(md5('bspc:' || (b.range + 1) || ':' || id),
         |    1, 8) AS BIGINT) % 1000000 AS u
         |  FROM range(200) b, base),
         |wt AS (SELECT b, v, len(list_filter(
         |  [367879, 735759, 919699, 981012, 996340,
         |   999406, 999917, 999990, 999999], t -> t <= u)) AS w
         |  FROM draws),
         |means AS (SELECT b, count(*) AS nd,
         |  round(CAST(sum(w * v) AS DOUBLE) / sum(w), 6) + 0 AS m
         |  FROM wt GROUP BY 1 HAVING sum(w) > 0),
         |c AS (SELECT m, count(*) AS cnt, max(nd) AS nd
         |  FROM means GROUP BY 1),
         |cc AS (SELECT m, sum(cnt) OVER (ORDER BY m
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(cnt) OVER () AS tot, max(nd) OVER () AS ndg FROM c),
         |qs AS (SELECT unnest([5, 50, 95]) AS q_pct)
         |SELECT CAST(q_pct AS BIGINT) AS q_pct,
         |  CAST(max(ndg) AS BIGINT) AS n_docs,
         |  CAST(max(tot) AS BIGINT) AS n_resamples, min(m) AS boot_mean
         |FROM cc JOIN qs ON cum * 100 >= tot * q_pct GROUP BY 1
         |""".stripMargin),
    // q235: block counts, exact n(n−1)/2 pair counts in HUGEINT, one
    // scalar total for the shares
    "q235_block_profile" ->
      ("""WITH r AS (SELECT c_mktsegment,
         |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb FROM customer),
         |c AS (SELECT c_mktsegment, bal_kb, count(*) AS n_records
         |  FROM r GROUP BY 1, 2),
         |p AS (SELECT *, CAST(n_records AS HUGEINT) * (n_records - 1) // 2
         |  AS n_pairs FROM c),
         |t AS (SELECT greatest(sum(n_pairs), 1) AS tot FROM p)
         |SELECT c_mktsegment, bal_kb, CAST(n_records AS BIGINT) AS n_records,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  round(CAST(n_pairs AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0
         |    AS pair_share
         |FROM p, t
         |""".stripMargin),
    // q223: frequency-method u estimates per field (Laplace-clamped),
    // blocked pairs under the id total order, the odds product in
    // fixed field order, and the banded decision on the rounded odds
    "q223_fs_linkage" ->
      ("""WITH r AS (SELECT c_custkey AS id, c_mktsegment,
         |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
         |  c_nationkey AS nation, substr(c_name, -2) AS name2,
         |  CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_hb FROM customer),
         |nr AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM r),
         |s0 AS (SELECT coalesce(sum(CAST(f AS HUGEINT) * (f - 1)), 0) AS s
         |  FROM (SELECT count(*) AS f FROM r GROUP BY nation)),
         |s1 AS (SELECT coalesce(sum(CAST(f AS HUGEINT) * (f - 1)), 0) AS s
         |  FROM (SELECT count(*) AS f FROM r GROUP BY name2)),
         |s2 AS (SELECT coalesce(sum(CAST(f AS HUGEINT) * (f - 1)), 0) AS s
         |  FROM (SELECT count(*) AS f FROM r GROUP BY bal_hb)),
         |st AS (SELECT n * (n - 1) AS nn1,
         |  greatest(s0.s, 1) AS sa0, greatest(n * (n - 1) - s0.s, 1) AS sd0,
         |  greatest(s1.s, 1) AS sa1, greatest(n * (n - 1) - s1.s, 1) AS sd1,
         |  greatest(s2.s, 1) AS sa2, greatest(n * (n - 1) - s2.s, 1) AS sd2
         |  FROM nr, s0, s1, s2),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  a.nation IS NOT DISTINCT FROM b.nation AS ag0,
         |  a.name2 IS NOT DISTINCT FROM b.name2 AS ag1,
         |  a.bal_hb IS NOT DISTINCT FROM b.bal_hb AS ag2
         |  FROM r a JOIN r b ON a.c_mktsegment = b.c_mktsegment
         |    AND a.bal_kb = b.bal_kb AND a.id < b.id),
         |sc AS (SELECT id_a, id_b, ag0, ag1, ag2, round(
         |  (CASE WHEN ag0
         |    THEN CAST(900000 * nn1 AS DOUBLE) / CAST(1000000 * sa0 AS DOUBLE)
         |    ELSE CAST(100000 * nn1 AS DOUBLE) / CAST(1000000 * sd0 AS DOUBLE)
         |    END) *
         |  (CASE WHEN ag1
         |    THEN CAST(800000 * nn1 AS DOUBLE) / CAST(1000000 * sa1 AS DOUBLE)
         |    ELSE CAST(200000 * nn1 AS DOUBLE) / CAST(1000000 * sd1 AS DOUBLE)
         |    END) *
         |  (CASE WHEN ag2
         |    THEN CAST(700000 * nn1 AS DOUBLE) / CAST(1000000 * sa2 AS DOUBLE)
         |    ELSE CAST(300000 * nn1 AS DOUBLE) / CAST(1000000 * sd2 AS DOUBLE)
         |    END), 6) + 0 AS odds_r FROM p, st)
         |SELECT id_a, id_b, ag0 AS agree_nation, ag1 AS agree_name2,
         |  ag2 AS agree_bal_hb, odds_r,
         |  CASE WHEN odds_r >= 1000.0 THEN 'match'
         |    WHEN odds_r <= 1.0 THEN 'nonmatch'
         |    ELSE 'possible' END AS decision
         |FROM sc
         |""".stripMargin),
    // q152: multinomial-NB replay — the q149 unit-freeze recipe per
    // class (add-one token likelihoods + doc-count priors in integer
    // 1e-6 units), per-doc class sums, argmax with name tie-break.
    "q152_nb_langid" ->
      (s"""$NB_PRED_CTE
          |SELECT t2.doc_id AS id, t2.lang AS label, best.c AS pred,
          |  (t2.lang = best.c) AS correct
          |FROM t2 JOIN best ON t2.doc_id = best.doc_id AND best.rk = 1
          |""".stripMargin),
    // q161: q152's NB prediction CTE collapsed to confusion cells,
    // then per-class support/predicted/diagonal and IEEE ratios.
    "q161_nb_report" ->
      (s"""$NB_PRED_CTE,
          |pr AS (SELECT t2.lang AS label, best.c AS pred
          |  FROM t2 JOIN best ON t2.doc_id = best.doc_id AND best.rk = 1),
          |cells AS (SELECT label, pred, count(*) AS n FROM pr GROUP BY 1, 2),
          |sup AS (SELECT label AS class, CAST(sum(n) AS BIGINT) AS support
          |  FROM cells GROUP BY 1),
          |prd AS (SELECT pred AS class, CAST(sum(n) AS BIGINT) AS predicted
          |  FROM cells GROUP BY 1),
          |tp AS (SELECT label AS class, CAST(n AS BIGINT) AS tp FROM cells
          |  WHERE label = pred),
          |j AS (SELECT coalesce(sup.class, prd.class) AS class,
          |  coalesce(support, 0) AS support, coalesce(predicted, 0) AS predicted,
          |  coalesce(tp, 0) AS tp
          |  FROM sup FULL JOIN prd ON sup.class = prd.class
          |  LEFT JOIN tp ON coalesce(sup.class, prd.class) = tp.class),
          |m AS (SELECT class, support, predicted, tp,
          |  CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END AS p,
          |  CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS r
          |  FROM j)
          |SELECT class, support, predicted, tp,
          |  round(p, 6) + 0 AS precision, round(r, 6) + 0 AS recall,
          |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) + 0 AS f1
          |FROM m
          |""".stripMargin),
    // q160: bit-shift powers of two, IEEE multiply, decimal-path sum —
    // no pow() anywhere.
    "q160_decay_score" ->
      ("""WITH b AS (SELECT user_id, CAST(ts AS DATE) AS d, value AS v FROM events
         |  WHERE ts IS NOT NULL AND year(ts) <> 1970
         |    AND value IS NOT NULL AND NOT isnan(value)),
         |a AS (SELECT max(d) AS maxd FROM b),
         |t AS (SELECT user_id, v,
         |  least(CAST(floor(CAST(date_diff('day', d, maxd) AS DOUBLE) / 7)
         |    AS BIGINT), 62) AS steps
         |  FROM b CROSS JOIN a)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  round(CAST(sum(CAST(v * (1.0 /
         |    CAST((CAST(1 AS BIGINT) << CAST(steps AS INTEGER)) AS DOUBLE))
         |    AS DECIMAL(18,9))) AS DOUBLE), 6) + 0 AS decay_score
         |FROM t GROUP BY 1
         |""".stripMargin),
    // q159: one UNION ALL branch per constraint, labels matching the
    // engine's generated check names exactly.
    "q159_audit" ->
      ("""WITH o AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
         |  CAST(sum(CASE WHEN o_totalprice IS NOT NULL
         |    AND (o_totalprice < 0.0 OR o_totalprice > 200000.0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS v_rng FROM orders),
         |ou AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d FROM orders),
         |ofk AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IS NOT NULL
         |    AND NOT EXISTS (SELECT 1 FROM customer
         |      WHERE c_custkey = o_custkey)) AS v),
         |l AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN l_quantity IS NOT NULL
         |    AND (l_quantity < 1.0 OR l_quantity > 30.0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS v FROM lineitem),
         |lfk AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey IS NOT NULL
         |    AND NOT EXISTS (SELECT 1 FROM orders
         |      WHERE o_orderkey = l_orderkey)) AS v)
         |SELECT 'orders' AS table_name, 'not_null(o_orderdate)' AS check_name,
         |  n AS n_rows, v_nn AS n_violations,
         |  round(CAST(v_nn AS DOUBLE) / n, 6) + 0 AS violation_rate FROM o
         |UNION ALL SELECT 'orders', 'in_range(o_totalprice,0.0,200000.0)', n, v_rng,
         |  round(CAST(v_rng AS DOUBLE) / n, 6) + 0 FROM o
         |UNION ALL SELECT 'orders', 'unique(o_orderkey)', n, n - d,
         |  round(CAST(n - d AS DOUBLE) / n, 6) + 0 FROM ou
         |UNION ALL SELECT 'orders', 'fk(o_custkey->customer.c_custkey)', n, v,
         |  round(CAST(v AS DOUBLE) / n, 6) + 0 FROM ofk
         |UNION ALL SELECT 'lineitem', 'in_range(l_quantity,1.0,30.0)', n, v,
         |  round(CAST(v AS DOUBLE) / n, 6) + 0 FROM l
         |UNION ALL SELECT 'lineitem', 'fk(l_orderkey->orders.o_orderkey)', n, v,
         |  round(CAST(v AS DOUBLE) / n, 6) + 0 FROM lfk
         |""".stripMargin),
    // q158: merged-support CDF trapezoids — integer cumsums, one IEEE
    // division each, DECIMAL(18,9) terms.
    "q158_w1_drift" ->
      ("""WITH s AS (SELECT event_type, value AS v, event_id % 2 AS side
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         |m AS (SELECT event_type, v,
         |  sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_ref,
         |  sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_cur
         |  FROM s GROUP BY 1, 2),
         |c AS (SELECT event_type, v, n_ref, n_cur,
         |  sum(n_ref) OVER (PARTITION BY event_type ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) AS fr,
         |  sum(n_cur) OVER (PARTITION BY event_type ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) AS fc,
         |  sum(n_ref) OVER (PARTITION BY event_type) AS tr,
         |  sum(n_cur) OVER (PARTITION BY event_type) AS tc,
         |  lead(v) OVER (PARTITION BY event_type ORDER BY v) - v AS dv
         |  FROM m)
         |SELECT event_type,
         |  round(CAST(sum(CAST(CASE WHEN dv IS NULL THEN 0.0
         |    ELSE abs(CAST(fr AS DOUBLE) / tr - CAST(fc AS DOUBLE) / tc) * dv
         |    END AS DECIMAL(18,9))) AS DOUBLE), 6) + 0 AS w1,
         |  CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur
         |FROM c WHERE tr > 0 AND tc > 0
         |GROUP BY 1
         |""".stripMargin),
    // q157: three unrolled HITS steps in integer CTEs — raw in/out
    // sums, exact L1 renormalization `(v * 1e6) // Σv` per half-step.
    "q157_hits" -> {
      def step(hp: String, k: Int): String =
        s"""araw$k AS (SELECT e.dst AS node, sum($hp.hu) AS v
           |  FROM e JOIN $hp ON e.src = $hp.node GROUP BY 1),
           |sa$k AS (SELECT sum(v) AS s FROM araw$k),
           |a$k AS (SELECT nodes.node, (coalesce(araw$k.v, 0) * 1000000) // sa$k.s AS au
           |  FROM nodes LEFT JOIN araw$k USING (node) CROSS JOIN sa$k),
           |hraw$k AS (SELECT e.src AS node, sum(a$k.au) AS v
           |  FROM e JOIN a$k ON e.dst = a$k.node GROUP BY 1),
           |sh$k AS (SELECT sum(v) AS s FROM hraw$k),
           |h$k AS (SELECT nodes.node, (coalesce(hraw$k.v, 0) * 1000000) // sh$k.s AS hu
           |  FROM nodes LEFT JOIN hraw$k USING (node) CROSS JOIN sh$k)"""
          .stripMargin
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |b AS (SELECT unnest(tk[1:len(tk)-1]) AS src,
         |  unnest(tk[2:len(tk)]) AS dst FROM t WHERE len(tk) >= 2),
         |e AS (SELECT DISTINCT src, dst FROM b),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, 1 AS hu FROM nodes),
         |${step("h0", 1)},
         |${step("h1", 2)},
         |${step("h2", 3)}
         |SELECT a3.node, CAST(a3.au AS BIGINT) AS auth_units,
         |  CAST(h3.hu AS BIGINT) AS hub_units,
         |  round(CAST(a3.au AS DOUBLE) / 1000000, 6) + 0 AS auth_r,
         |  round(CAST(h3.hu AS DOUBLE) / 1000000, 6) + 0 AS hub_r
         |FROM a3 JOIN h3 USING (node)
         |ORDER BY auth_units DESC, a3.node LIMIT 50
         |""".stripMargin
    },
    // q156: brute-force all-ordered-pairs containment — the prefix
    // filter is lossless, so the exact quadratic SQL is the oracle.
    "q156_containment" ->
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh0 AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |sh AS (SELECT doc_id, s FROM sh0 WHERE len(s) > 0),
          |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
          |  CAST(len(a.s) AS BIGINT) AS sz_a
          |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
          |SELECT a_id, b_id, inter, sz_a,
          |  CAST(inter AS DOUBLE) / sz_a AS containment
          |FROM p WHERE inter * 10 >= sz_a * 7
          |""".stripMargin),
    // q155: two-level distinct-sensitive replay, HUGEINT sums pinned
    // back to BIGINT.
    "q155_k_anonymity" ->
      ("""WITH b AS (SELECT c_nationkey, c_mktsegment,
         |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket FROM customer),
         |g AS (SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS n
         |  FROM b GROUP BY 1, 2, 3)
         |SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS l_distinct, sum(n) < 8 AS at_risk
         |FROM g GROUP BY 1, 2
         |""".stripMargin),
    // q154: full BM25 replay — tf/df/dl tables, the "+1" idf, per-term
    // DECIMAL(18,9) partial scores (the q67 ln-parity recipe), rank by
    // (score desc, doc_id asc).
    "q154_bm25" ->
      (s"""$BM25_CTE
          |SELECT qid, doc_id, score, rk FROM (SELECT qid, doc_id, score,
          |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rk
          |  FROM perdoc) WHERE rk <= 10
          |""".stripMargin),
    // q169: the BM25 CTE's top-10 lists + a 3-probe dense cosine
    // ranking, RRF-combined with exact decimal 1/(60+rk) terms.
    "q169_rrf_hybrid" ->
      (s"""$BM25_CTE,
          |lex AS (SELECT qid, doc_id, rk FROM (SELECT qid, doc_id,
          |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rk
          |  FROM perdoc) WHERE rk <= 10),
          |dense0 AS (SELECT p.vec_id AS qid, e.vec_id AS doc_id,
          |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
          |    CAST(p.embedding AS DOUBLE[])) AS sim
          |  FROM embeddings e JOIN embeddings p
          |    ON p.vec_id < 3 AND e.vec_id <> p.vec_id),
          |dense AS (SELECT qid, doc_id, rk FROM (SELECT qid, doc_id,
          |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id) AS rk
          |  FROM dense0) WHERE rk <= 10),
          |u AS (SELECT qid, doc_id, rk FROM lex
          |  UNION ALL SELECT qid, doc_id, rk FROM dense),
          |sc AS (SELECT qid, doc_id,
          |  round(CAST(sum(CAST(CAST(1.0 AS DOUBLE) / (60 + rk) AS DECIMAL(18,9)))
          |    AS DOUBLE), 6) + 0 AS rrf,
          |  CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY 1, 2)
          |SELECT qid, doc_id, rrf, n_lists, rk FROM (SELECT qid, doc_id, rrf, n_lists,
          |  row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id ASC) AS rk
          |  FROM sc) WHERE rk <= 10
          |""".stripMargin),
    // q153: q37's component replay + q63's split predicate on the rep.
    "q153_leakfree_split" ->
      (s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT a_id, b_id FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7),
          |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION SELECT b_id, a_id FROM pairs
          |  UNION SELECT doc_id, doc_id FROM documents),
          |reach(a, b) AS (SELECT src, dst FROM edges
          |  UNION SELECT e.src, r.b FROM edges e JOIN reach r ON e.dst = r.a),
          |comp AS (SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a)
          |SELECT doc_id, rep AS cluster_rep, CASE
          |  WHEN substring(md5('graft:' || CAST(rep AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
          |  WHEN substring(md5('graft:' || CAST(rep AS VARCHAR)), 1, 2) < 'f6' THEN 'val'
          |  ELSE 'test' END AS split
          |FROM comp
          |""".stripMargin),
    // q151: q37's component replay, kept per-document and extended
    // with the cluster count — weight = 1/|cluster|.
    "q151_soft_dedup" ->
      (s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT a_id, b_id FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7),
          |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION SELECT b_id, a_id FROM pairs
          |  UNION SELECT doc_id, doc_id FROM documents),
          |reach(a, b) AS (SELECT src, dst FROM edges
          |  UNION SELECT e.src, r.b FROM edges e JOIN reach r ON e.dst = r.a),
          |comp AS (SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a),
          |cs AS (SELECT rep, count(*) AS n FROM comp GROUP BY 1)
          |SELECT comp.doc_id, comp.rep AS cluster_rep,
          |  CAST(cs.n AS BIGINT) AS cluster_size,
          |  round(1.0 / cs.n, 6) + 0 AS weight_r
          |FROM comp JOIN cs USING (rep)
          |""".stripMargin),
    "q75_skip_scan" ->
      ("SELECT event_id, user_id, event_type, value FROM events " +
       "WHERE user_id BETWEEN 4 AND 7"),
    "q76_incremental_rollup" ->
      ("""SELECT event_type, user_id, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
         |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) + 0 AS mean_v
         |FROM events GROUP BY 1, 2
         |""".stripMargin),
    "q77_global_rank" ->
      ("""WITH s AS (SELECT user_id,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |  FROM events GROUP BY 1)
         |SELECT user_id, spend,
         |  CAST(row_number() OVER (ORDER BY spend DESC, user_id) AS BIGINT) AS rk
         |FROM s
         |""".stripMargin),
    "q78_corpus_shuffle" ->
      ("""SELECT doc_id, CAST(row_number() OVER (
         |  ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
         |  AS shuffle_rank
         |FROM documents
         |""".stripMargin),
    "q79_weighted_sample" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens
          |  FROM documents)
          |SELECT doc_id, n_tokens FROM t
          |WHERE n_tokens / 200.0 >= 1.0
          |   OR substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4)
          |      < printf('%04x', CAST(floor(
          |          least(1.0, greatest(0.0, n_tokens / 200.0)) * 65536) AS INT))
          |""".stripMargin),
    "q80_funnel" ->
      ("""WITH e AS (SELECT user_id, event_type, ts FROM events
         |  WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
         |  OVER (PARTITION BY user_id) AS t1 FROM e),
         |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
         |  OVER (PARTITION BY user_id) AS t2 FROM w1),
         |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
         |  OVER (PARTITION BY user_id) AS t3 FROM w2)
         |SELECT
         |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS n_view,
         |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS n_click,
         |  count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS n_purchase
         |FROM w3
         |""".stripMargin),
    "q81_dup_profile" ->
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, unnest(${shinglesSql("tk")}) AS g FROM toks),
          |c AS (SELECT g, count(*) AS nd FROM sh GROUP BY 1)
          |SELECT sh.doc_id, count(*) AS n_shingles,
          |  count(CASE WHEN c.nd > 1 THEN 1 END) AS n_shared,
          |  round(CAST(count(CASE WHEN c.nd > 1 THEN 1 END) AS DOUBLE) / count(*), 6)
          |    + 0 AS dup_ratio
          |FROM sh JOIN c USING (g) GROUP BY 1
          |""".stripMargin),
    "q82_bigram_surprisal" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |b AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS prev,
          |  unnest(tk[2:len(tk)]) AS cur FROM t WHERE len(tk) >= 2),
          |cb AS (SELECT prev, cur, count(*) AS cbg FROM b GROUP BY 1, 2),
          |cp AS (SELECT prev, sum(cbg) AS cprefix FROM cb GROUP BY 1)
          |SELECT doc_id,
          |  round(CAST(sum(CAST(-ln(CAST(cbg AS DOUBLE) / cprefix) AS DECIMAL(18,9)))
          |             AS DOUBLE) / count(*), 6) + 0 AS bigram_surprisal,
          |  count(*) AS n_bigrams
          |FROM b JOIN cb USING (prev, cur) JOIN cp USING (prev)
          |GROUP BY doc_id
          |""".stripMargin),
    "q83_snapshot_diff" ->
      ("""WITH o AS (SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 13 <> 1),
         |n AS (SELECT o_orderkey,
         |  CASE WHEN o_orderkey % 13 = 2 THEN o_totalprice + 100.0
         |       ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 13 <> 0)
         |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         |  o.o_totalprice AS old_o_totalprice,
         |  n.o_totalprice AS new_o_totalprice,
         |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
         |       WHEN n.o_orderkey IS NULL THEN 'removed'
         |       ELSE 'changed' END AS status
         |FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
         |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
         |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
         |""".stripMargin),
    "q84_winsorize" ->
      ("""WITH e AS (SELECT event_id, event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |c AS (SELECT event_type, round(quantile_cont(value, 0.01), 6) AS lo,
         |  round(quantile_cont(value, 0.99), 6) AS hi FROM e GROUP BY 1)
         |SELECT event_id, e.event_type,
         |  round(least(greatest(value, lo), hi), 6) + 0 AS value_w
         |FROM e JOIN c USING (event_type)
         |""".stripMargin),
    "q85_temperature_mix" ->
      ("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |t AS (SELECT sum(n_docs) AS n FROM c),
         |s AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) / n AS share,
         |  pow(CAST(n_docs AS DOUBLE) / n, 0.3) AS pa FROM c CROSS JOIN t),
         |z AS (SELECT sum(pa) AS z FROM s)
         |SELECT lang, n_docs, round(share, 6) + 0 AS share,
         |  round(pa / z, 6) + 0 AS weight,
         |  CAST(round(round(pa / z, 6) * n, 0) AS BIGINT) AS expected_docs
         |FROM s CROSS JOIN z CROSS JOIN t
         |""".stripMargin),
    "q86_drift_psi" ->
      ("""WITH e AS (SELECT event_type, value, event_id % 2 AS side FROM events
         |  WHERE value IS NOT NULL),
         |cuts AS (SELECT event_type,
         |  round(quantile_cont(value, 0.1), 6) AS c1,
         |  round(quantile_cont(value, 0.2), 6) AS c2,
         |  round(quantile_cont(value, 0.3), 6) AS c3,
         |  round(quantile_cont(value, 0.4), 6) AS c4,
         |  round(quantile_cont(value, 0.5), 6) AS c5,
         |  round(quantile_cont(value, 0.6), 6) AS c6,
         |  round(quantile_cont(value, 0.7), 6) AS c7,
         |  round(quantile_cont(value, 0.8), 6) AS c8,
         |  round(quantile_cont(value, 0.9), 6) AS c9
         |  FROM e WHERE side = 0 GROUP BY 1),
         |b AS (SELECT e.event_type, side,
         |  (CASE WHEN value >= c1 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c2 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c3 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c4 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c5 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c6 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c7 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c8 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c9 THEN 1 ELSE 0 END) AS bin
         |  FROM e JOIN cuts USING (event_type)),
         |g AS (SELECT event_type, bin,
         |  count(CASE WHEN side = 0 THEN 1 END) AS n_ref,
         |  count(CASE WHEN side = 1 THEN 1 END) AS n_cur
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type, sum(n_ref) AS tr, sum(n_cur) AS tc
         |  FROM g GROUP BY 1),
         |p AS (SELECT g.event_type, bin, n_ref, n_cur,
         |  round(CAST(n_ref AS DOUBLE) / tr, 6) + 0 AS p_ref,
         |  round(CAST(n_cur AS DOUBLE) / tc, 6) + 0 AS p_cur
         |  FROM g JOIN t USING (event_type))
         |SELECT event_type, bin, n_ref, n_cur, p_ref, p_cur,
         |  CASE WHEN p_ref > 0 AND p_cur > 0 THEN
         |    round((p_ref - p_cur) * ln(p_ref / p_cur), 6) END + 0 AS psi_term
         |FROM p
         |""".stripMargin),
    // q233: the q86 decile-bin CTEs, margin-product expected counts,
    // per-cell contributions frozen at 9 places into DECIMAL(28,9)
    // before the order-independent sum, χ² gate on the rounded value
    "q233_chi2_drift" ->
      ("""WITH e AS (SELECT event_type, value, event_id % 2 AS side FROM events
         |  WHERE value IS NOT NULL),
         |cuts AS (SELECT event_type,
         |  round(quantile_cont(value, 0.1), 6) AS c1,
         |  round(quantile_cont(value, 0.2), 6) AS c2,
         |  round(quantile_cont(value, 0.3), 6) AS c3,
         |  round(quantile_cont(value, 0.4), 6) AS c4,
         |  round(quantile_cont(value, 0.5), 6) AS c5,
         |  round(quantile_cont(value, 0.6), 6) AS c6,
         |  round(quantile_cont(value, 0.7), 6) AS c7,
         |  round(quantile_cont(value, 0.8), 6) AS c8,
         |  round(quantile_cont(value, 0.9), 6) AS c9
         |  FROM e WHERE side = 0 GROUP BY 1),
         |b AS (SELECT e.event_type, side,
         |  (CASE WHEN value >= c1 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c2 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c3 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c4 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c5 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c6 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c7 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c8 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c9 THEN 1 ELSE 0 END) AS bin
         |  FROM e JOIN cuts USING (event_type)),
         |g AS (SELECT event_type, bin,
         |  count(CASE WHEN side = 0 THEN 1 END) AS n_ref,
         |  count(CASE WHEN side = 1 THEN 1 END) AS n_cur
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type, sum(n_ref) AS tr, sum(n_cur) AS tc
         |  FROM g GROUP BY 1),
         |c2 AS (SELECT g.event_type, n_ref, n_cur, tr, tc,
         |  n_ref + n_cur AS cb, tr + tc AS n
         |  FROM g JOIN t USING (event_type)),
         |k AS (SELECT event_type, tr, tc,
         |  (CASE WHEN tr = 0 THEN CAST(0 AS DECIMAL(28,9)) ELSE
         |  CAST(round((CAST(n_ref AS DOUBLE) -
         |      CAST(CAST(tr AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |    * (CAST(n_ref AS DOUBLE) -
         |      CAST(CAST(tr AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |    / (CAST(CAST(tr AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE)),
         |    9) AS DECIMAL(28,9)) END) +
         |  (CASE WHEN tc = 0 THEN CAST(0 AS DECIMAL(28,9)) ELSE
         |  CAST(round((CAST(n_cur AS DOUBLE) -
         |      CAST(CAST(tc AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |    * (CAST(n_cur AS DOUBLE) -
         |      CAST(CAST(tc AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |    / (CAST(CAST(tc AS HUGEINT) * cb AS DOUBLE) / CAST(n AS DOUBLE)),
         |    9) AS DECIMAL(28,9)) END) AS kk
         |  FROM c2),
         |f AS (SELECT event_type, max(tr) AS n_ref, max(tc) AS n_cur,
         |  count(*) AS n_bins, sum(kk) AS s FROM k GROUP BY 1)
         |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
         |  CAST(n_cur AS BIGINT) AS n_cur, CAST(n_bins AS BIGINT) AS n_bins,
         |  CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
         |    ELSE round(CAST(s AS DOUBLE), 6) + 0 END AS chi2_r,
         |  CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
         |    ELSE round(CAST(s AS DOUBLE), 6) + 0 > 16.918978
         |    END AS significant
         |FROM f
         |""".stripMargin),
    "q87_mode" ->
      ("""WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events
         |  GROUP BY 1, 2),
         |r AS (SELECT user_id, event_type, n, row_number() OVER (
         |  PARTITION BY user_id ORDER BY n DESC, event_type DESC) AS rk FROM c)
         |SELECT user_id, event_type AS mode_event_type, n FROM r WHERE rk = 1
         |""".stripMargin),
    "q88_prep_pipeline" ->
      (s"""WITH toks AS (SELECT doc_id, source, text, $TOKS AS tk FROM documents),
          |q AS (SELECT doc_id, text, tk, CAST(len(tk) AS BIGINT) AS n_tokens
          |  FROM toks WHERE source <> 'src0' AND len(tk) >= 10),
          |dd AS (SELECT doc_id, tk, n_tokens FROM (
          |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          |  FROM q) WHERE rn = 1),
          |b AS (SELECT DISTINCT unnest(s) AS g FROM
          |  (SELECT ${shinglesSql("tk")} AS s FROM toks WHERE source = 'src0')),
          |sh AS (SELECT doc_id, unnest(${shinglesSql("tk")}) AS g FROM dd),
          |contaminated AS (SELECT DISTINCT sh.doc_id FROM sh JOIN b USING (g)),
          |clean AS (SELECT dd.doc_id, dd.n_tokens FROM dd
          |  LEFT JOIN contaminated c ON dd.doc_id = c.doc_id
          |  WHERE c.doc_id IS NULL),
          |s AS (SELECT n_tokens, CASE
          |  WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
          |    THEN 'train'
          |  WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f6'
          |    THEN 'val'
          |  ELSE 'test' END AS split FROM clean)
          |SELECT split, count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          |FROM s GROUP BY 1
          |""".stripMargin),
    "q89_label_centroids" ->
      ("""WITH x AS (SELECT label,
         |  unnest(range(len(embedding))) AS pos,
         |  CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
         |  FROM embeddings)
         |SELECT label, CAST(pos AS INT) AS pos,
         |  round(CAST(sum(x) AS DOUBLE) / count(*), 6) + 0 AS c, count(*) AS n
         |FROM x GROUP BY 1, 2
         |""".stripMargin),
    "q90_centroid_spread" ->
      ("""WITH x AS (SELECT label,
         |  unnest(range(len(embedding))) AS pos,
         |  CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
         |  FROM embeddings),
         |cd AS (SELECT label, pos,
         |  round(CAST(sum(x) AS DOUBLE) / count(*), 6) + 0 AS c
         |  FROM x GROUP BY 1, 2),
         |cv AS (SELECT label, list(c ORDER BY pos) AS cvec FROM cd GROUP BY 1),
         |s AS (SELECT e.label,
         |  CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv.cvec), 4)
         |       AS DECIMAL(18,9)) AS sim
         |  FROM embeddings e JOIN cv USING (label))
         |SELECT label, round(CAST(sum(sim) AS DOUBLE) / count(*), 6) + 0 AS avg_sim,
         |  count(*) AS n
         |FROM s GROUP BY 1
         |""".stripMargin),
    "q91_collocations" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |u AS (SELECT unnest(tk) AS w FROM t),
          |uni AS (SELECT w, count(*) AS cu FROM u GROUP BY 1),
          |n AS (SELECT sum(cu) AS n FROM uni),
          |b AS (SELECT unnest(tk[1:len(tk)-1]) AS prev,
          |  unnest(tk[2:len(tk)]) AS cur FROM t WHERE len(tk) >= 2),
          |m AS (SELECT count(*) AS m FROM b),
          |cb AS (SELECT prev, cur, count(*) AS cbg FROM b
          |  GROUP BY 1, 2 HAVING count(*) >= 5)
          |SELECT prev, cur, cbg,
          |  round(ln((CAST(cbg AS DOUBLE) / m) /
          |    ((CAST(ua.cu AS DOUBLE) / n) * (CAST(ub.cu AS DOUBLE) / n))), 6) + 0 AS pmi
          |FROM cb
          |JOIN uni ua ON ua.w = cb.prev
          |JOIN uni ub ON ub.w = cb.cur
          |CROSS JOIN n CROSS JOIN m
          |ORDER BY pmi DESC, prev ASC, cur ASC LIMIT 20
          |""".stripMargin),
    "q92_quantize_int8" ->
      ("""WITH e AS (
         |  SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         |    unnest(embedding) AS v
         |  FROM embeddings),
         |st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1)
         |SELECT e.vec_id, e.pos,
         |  CASE WHEN st.mx = st.mn THEN 0
         |       ELSE LEAST(CAST(floor(
         |         (CAST(e.v AS DOUBLE) - CAST(st.mn AS DOUBLE)) * 255.0
         |           / (CAST(st.mx AS DOUBLE) - CAST(st.mn AS DOUBLE)))
         |         AS BIGINT), 255) END AS code
         |FROM e JOIN st USING (pos)
         |""".stripMargin),
    "q93_repeated_substrings" ->
      ("""WITH pos AS (
         |  SELECT doc_id, substr(text, CAST(i AS INT), 32) AS w
         |  FROM (SELECT doc_id, text,
         |        unnest(range(1, greatest(1, length(text) - 30))) AS i
         |        FROM documents))
         |SELECT w, count(DISTINCT doc_id) AS n_docs FROM pos GROUP BY w
         |HAVING count(DISTINCT doc_id) >= 2
         |""".stripMargin),
    "q95_embed_covariance" ->
      ("""WITH e AS (
         |  SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings)
         |SELECT a.pos AS i, b.pos AS j, round(covar_pop(a.v, b.v), 6) + 0 AS cov
         |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos <= b.pos
         |GROUP BY 1, 2
         |""".stripMargin),
    // q100: the CMS grid is fully deterministic given the affine hash
    // family, and the JVM's wrapping 64-bit arithmetic replays exactly
    // in HUGEINT: slot_d(k) = ((k·a_d + b_d mod 2^64 unsigned) >> 33)
    // % width. The four (a, b) pairs below ARE the seed-42 family
    // (java.util.Random, pinned constants; slot replay cross-checked
    // JVM vs DuckDB). The grid rebuilds as a (d, slot) count table and
    // est = min over the key's four cells — never under exact.
    "q100_cms_sketch" -> {
      val T = "18446744073709551616" // 2^64
      s"""WITH h(d, a, b) AS (VALUES
         |  (0, CAST(-5025562857975149833 AS BIGINT), CAST(-3346207314135029174 AS BIGINT)),
         |  (1, CAST(-5843495416241995735 AS BIGINT), CAST(7055661172365764401 AS BIGINT)),
         |  (2, CAST(5694868678511409995 AS BIGINT), CAST(5727132727125604993 AS BIGINT)),
         |  (3, CAST(5111195811822994797 AS BIGINT), CAST(9108621128106954951 AS BIGINT))),
         |ks AS MATERIALIZED (SELECT CAST(user_id AS BIGINT) AS k FROM events
         |  WHERE user_id IS NOT NULL),
         |grid AS MATERIALIZED (SELECT h.d,
         |  CAST((((CAST(ks.k AS HUGEINT) * h.a + h.b) % $T + $T) % $T)
         |    // 8589934592 % 2048 AS BIGINT) AS s,
         |  count(*) AS c
         |  FROM ks CROSS JOIN h GROUP BY 1, 2),
         |top AS MATERIALIZED (SELECT k AS key, count(*) AS exact FROM ks
         |  GROUP BY 1 ORDER BY exact DESC, key LIMIT 20)
         |SELECT CAST(t.key AS BIGINT) AS key, CAST(t.exact AS BIGINT) AS exact,
         |  CAST(min(g.c) AS BIGINT) AS est
         |FROM top t CROSS JOIN h
         |JOIN grid g ON g.d = h.d AND g.s =
         |  CAST((((CAST(t.key AS HUGEINT) * h.a + h.b) % $T + $T) % $T)
         |    // 8589934592 % 2048 AS BIGINT)
         |GROUP BY 1, 2
         |""".stripMargin
    },
    // q96: the full fixed-point power-iteration replay in HUGEINT —
    // quantized covariance grid, diagonal-argmax start, 4 steps of
    // w = C·v then v = (w·1e6) // max|w| (// truncates toward zero,
    // matching BigInt / and Spark div), sign pin at the largest-|x|
    // coordinate, integer rank-1 deflation, per-row integer folds.
    "q96_pca_project" -> {
      def step(m: String, prev: String, k: String): String =
        s"""w$k AS MATERIALIZED (SELECT mm.i, sum(mm.c * p.x) AS w
           |  FROM $m mm JOIN $prev p ON mm.j = p.i GROUP BY 1),
           |a$k AS MATERIALIZED (SELECT i, (w * 1000000) // (SELECT max(abs(w)) FROM w$k) AS x
           |  FROM w$k)""".stripMargin
      def pin(last: String, out: String): String =
        s"""$out AS MATERIALIZED (SELECT a.i, a.x * (CASE WHEN (SELECT x FROM $last
           |  ORDER BY abs(x) DESC, i LIMIT 1) < 0 THEN -1 ELSE 1 END) AS x
           |  FROM $last a)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |cov AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j,
         |  CAST(floor(round(covar_pop(a.v, b.v), 6) * 1000000 + 0.5) AS HUGEINT) AS c
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |a0 AS MATERIALIZED (SELECT i, CASE WHEN i = (SELECT i FROM cov WHERE i = j
         |    ORDER BY c DESC, i LIMIT 1)
         |  THEN CAST(1000000 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS x
         |  FROM (SELECT DISTINCT i FROM cov) dims),
         |${step("cov", "a0", "1")},
         |${step("cov", "a1", "2")},
         |${step("cov", "a2", "3")},
         |${step("cov", "a3", "4")},
         |${pin("a4", "p1")},
         |nd AS MATERIALIZED (SELECT
         |  (SELECT sum(pa.x * c.c * pb.x) FROM cov c
         |    JOIN p1 pa ON c.i = pa.i JOIN p1 pb ON c.j = pb.i) AS num,
         |  (SELECT sum(x * x) FROM p1) AS den),
         |cov2 AS MATERIALIZED (SELECT c.i, c.j,
         |  (c.c * nd.den * nd.den - nd.num * pa.x * pb.x) // (nd.den * nd.den) AS c
         |  FROM cov c CROSS JOIN nd
         |  JOIN p1 pa ON c.i = pa.i JOIN p1 pb ON c.j = pb.i),
         |b0 AS MATERIALIZED (SELECT i, CASE WHEN i = (SELECT i FROM cov2 WHERE i = j
         |    ORDER BY c DESC, i LIMIT 1)
         |  THEN CAST(1000000 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS x
         |  FROM (SELECT DISTINCT i FROM cov2) dims),
         |${step("cov2", "b0", "5")},
         |${step("cov2", "a5", "6")},
         |${step("cov2", "a6", "7")},
         |${step("cov2", "a7", "8")},
         |${pin("a8", "p2")},
         |xq AS MATERIALIZED (SELECT vec_id, pos,
         |  CAST(floor(v * 1000000 + 0.5) AS HUGEINT) AS x FROM e),
         |pr AS MATERIALIZED (SELECT xq.vec_id,
         |  sum(xq.x * p1.x) AS u1, sum(xq.x * p2.x) AS u2
         |  FROM xq JOIN p1 ON xq.pos = p1.i JOIN p2 ON xq.pos = p2.i
         |  GROUP BY 1)
         |SELECT vec_id, CAST(u1 AS BIGINT) AS pc1_units,
         |  CAST(u2 AS BIGINT) AS pc2_units,
         |  round(CAST(u1 AS DOUBLE) / 1000000000000, 6) + 0 AS pc1_r,
         |  round(CAST(u2 AS DOUBLE) / 1000000000000, 6) + 0 AS pc2_r
         |FROM pr
         |""".stripMargin
    },
    "q98_dpp_join" ->
      ("""WITH dim AS (
         |  SELECT event_type FROM events GROUP BY 1
         |  HAVING count(*) * 5 > (SELECT count(*) FROM events))
         |SELECT e.event_type, count(*) AS n,
         |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         |FROM events e JOIN dim USING (event_type)
         |GROUP BY 1
         |""".stripMargin),
    // q102: exact replay of the pinned merge table. Under a sentinel
    // encoding (each merged symbol ↦ one private-use code point,
    // chr(57344+i) = U+E000+i), BPE's single left-to-right
    // non-overlapping pass per merge is EXACTLY one string replace, so
    // the chain below — innermost first, same order as q102Merges —
    // reproduces bpeSymbols word-for-word and length() counts symbols.
    "q102_bpe_apply" ->
      ("""WITH enc AS (
         |  SELECT doc_id AS id,
         |    list_transform(regexp_split_to_array(text, '[ \t\n\f\r]+'),
         |      w -> length(
         |        replace(replace(replace(replace(replace(replace(replace(replace(w,
         |          'ta', chr(57344)),
         |          chr(57344)||'b', chr(57345)),
         |          'le', chr(57346)),
         |          chr(57345)||chr(57346), chr(57347)),
         |          'ar', chr(57348)),
         |          'p'||chr(57348), chr(57349)),
         |          'sc', chr(57350)),
         |          'an', chr(57351)))) AS lens,
         |    length(regexp_replace(text, '[ \t\n\f\r]+', '', 'g')) AS nc
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT id,
         |  CAST(coalesce(list_sum(lens), 0) AS BIGINT) AS n_subwords,
         |  CAST(nc AS BIGINT) AS n_chars,
         |  CASE WHEN coalesce(list_sum(lens), 0) > 0
         |       THEN round(CAST(nc AS DOUBLE) / list_sum(lens), 4) + 0
         |  END AS chars_per_subword
         |FROM enc
         |""".stripMargin),
    // q108: the chunker's provable invariants — exact partition
    // (n_chars), the chunk-count window, shared-span consistency; the
    // hash-specific profile values are spec-pinned, not hashed here.
    "q108_cdc_chunks" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
       "TRUE AS n_chunks_in_bounds, TRUE AS shared_within_bounds " +
       "FROM documents WHERE text IS NOT NULL AND length(text) > 0"),
    "q103_df_prune" ->
      (s"""WITH toks AS (SELECT doc_id AS id, $TOKS AS tk FROM documents),
          |tot AS (SELECT count(*) AS nd FROM toks),
          |e AS (SELECT id, unnest(tk) AS g,
          |  unnest(generate_series(1, len(tk))) AS pos FROM toks),
          |df AS (SELECT g, count(DISTINCT id) AS dfc FROM e GROUP BY 1),
          |stop AS (SELECT g FROM df, tot WHERE dfc * 100 > nd * 60),
          |k AS (SELECT e.id, e.g, e.pos FROM e ANTI JOIN stop USING (g)),
          |kk AS (SELECT id, count(*) AS n_kept,
          |  string_agg(g, ' ' ORDER BY pos) AS cleaned FROM k GROUP BY 1)
          |SELECT t.id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
          |  CAST(coalesce(kk.n_kept, 0) AS BIGINT) AS n_kept,
          |  coalesce(kk.cleaned, '') AS cleaned_text
          |FROM toks t LEFT JOIN kk USING (id)
          |""".stripMargin),
    // q104 = q59's semantics through the Bloom-prefiltered path; the
    // bloom only prunes candidates ahead of the exact confirm join, so
    // the oracle is identical.
    "q104_bloom_decontam" ->
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, source, ${shinglesSql("tk")} AS s FROM toks),
          |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src0'),
          |t AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src0')
          |SELECT t.doc_id, count(*) AS n_shared
          |FROM t JOIN b USING (g) GROUP BY 1
          |""".stripMargin),
    "q105_incr_neardup" ->
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, source, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON a.source = 'src1' AND b.source <> 'src1')
          |SELECT new_id, old_id, CAST(inter AS BIGINT) AS inter,
          |  CAST(tot - inter AS BIGINT) AS un,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
          |FROM pairs WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7
          |""".stripMargin),
    // q204: the composed curation loop — per-lang recompute of the
    // rollup (n_docs, sum_chars), exact order statistic + TRUE bound
    // literal (the q188 protocol: the sketch estimate never leaves the
    // engine), and the q200 brute-force day-ordered cross-Jaccard
    // match count attributed to the new side's lang
    "q204_curation_loop" ->
      (s"""WITH stats AS (SELECT lang, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS DOUBLE) AS sum_chars
          |  FROM documents GROUP BY 1),
          |toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS new_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON (a.doc_id % 3 > b.doc_id % 3)
          |    OR (a.doc_id % 3 = b.doc_id % 3 AND a.doc_id > b.doc_id)),
          |mt AS (SELECT d.lang, count(*) AS n_matches FROM pairs p
          |  JOIN documents d ON d.doc_id = p.new_id
          |  WHERE (p.tot - p.inter) > 0 AND p.inter * 10 >= (p.tot - p.inter) * 7
          |  GROUP BY 1),
          |pos AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
          |  WHERE n_chars > 0),
          |c AS (SELECT lang, v, count(*) AS cnt FROM pos GROUP BY 1, 2),
          |cc AS (SELECT lang, v,
          |  sum(cnt) OVER (PARTITION BY lang ORDER BY v
          |    ROWS UNBOUNDED PRECEDING) AS cum,
          |  sum(cnt) OVER (PARTITION BY lang) AS tot FROM c),
          |qs AS (SELECT unnest([50, 90]) AS q_pct),
          |ex AS (SELECT lang, CAST(q_pct AS BIGINT) AS q_pct,
          |  CAST(tot AS BIGINT) AS n, round(min(v), 6) + 0 AS exact_v
          |  FROM cc JOIN qs ON cum * 100 >= tot * q_pct GROUP BY 1, 2, 3)
          |SELECT e.lang, e.q_pct, e.n, e.exact_v, true AS within_bound,
          |  CAST(st.n_docs AS BIGINT) AS n_docs, st.sum_chars,
          |  CAST(coalesce(mt.n_matches, 0) AS BIGINT) AS n_matches
          |FROM ex e JOIN stats st ON st.lang = e.lang
          |LEFT JOIN mt ON mt.lang = e.lang
          |""".stripMargin),
    // q209: bootstrap CI — the same md5 draw indices over the
    // row_number position order, exact-integer resample sums, one IEEE
    // division rounded to 6, exact order-statistic percentiles
    "q209_bootstrap_ci" ->
      ("""WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v
         |  FROM documents),
         |ranked AS (SELECT v, row_number() OVER (ORDER BY doc_id) AS idx
         |  FROM base),
         |nn AS (SELECT count(*) AS n FROM base),
         |draws AS (SELECT b.range + 1 AS b,
         |  (CAST('0x' || substr(md5('bs:' || (b.range + 1) || ':' || r2.idx),
         |    1, 8) AS BIGINT) % (SELECT n FROM nn)) + 1 AS idx
         |  FROM range(200) b, ranked r2),
         |means AS (SELECT d.b,
         |  round(CAST(sum(r.v) AS DOUBLE) / (SELECT n FROM nn), 6) + 0 AS m
         |  FROM draws d JOIN ranked r USING (idx) GROUP BY 1),
         |c AS (SELECT m, count(*) AS cnt FROM means GROUP BY 1),
         |cc AS (SELECT m, sum(cnt) OVER (ORDER BY m
         |  ROWS UNBOUNDED PRECEDING) AS cum FROM c),
         |qs AS (SELECT unnest([5, 50, 95]) AS q_pct)
         |SELECT CAST(q_pct AS BIGINT) AS q_pct,
         |  CAST((SELECT n FROM nn) AS BIGINT) AS n_docs,
         |  CAST(200 AS BIGINT) AS n_resamples, min(m) AS boot_mean
         |FROM cc JOIN qs ON cum * 100 >= 200 * q_pct GROUP BY 1, 2, 3
         |""".stripMargin),
    // q212: Poisson bootstrap — the same md5 (salt:b:doc_id) draws,
    // the same integer Poisson(1) CDF thresholds via list_filter,
    // weighted means over retained resamples, same percentile CTE
    "q212_bootstrap_pooled" ->
      ("""WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  CAST(n_chars AS BIGINT) AS v FROM documents),
         |draws AS (SELECT b.range + 1 AS b, v,
         |  CAST('0x' || substr(md5('bsp:' || (b.range + 1) || ':' || id),
         |    1, 8) AS BIGINT) % 1000000 AS u
         |  FROM range(200) b, base),
         |wt AS (SELECT b, v, len(list_filter(
         |  [367879, 735759, 919699, 981012, 996340,
         |   999406, 999917, 999990, 999999], t -> t <= u)) AS w
         |  FROM draws),
         |means AS (SELECT b, count(*) AS nd,
         |  round(CAST(sum(w * v) AS DOUBLE) / sum(w), 6) + 0 AS m
         |  FROM wt GROUP BY 1 HAVING sum(w) > 0),
         |c AS (SELECT m, count(*) AS cnt, max(nd) AS nd
         |  FROM means GROUP BY 1),
         |cc AS (SELECT m, sum(cnt) OVER (ORDER BY m
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(cnt) OVER () AS tot, max(nd) OVER () AS ndg FROM c),
         |qs AS (SELECT unnest([5, 50, 95]) AS q_pct)
         |SELECT CAST(q_pct AS BIGINT) AS q_pct,
         |  CAST(max(ndg) AS BIGINT) AS n_docs,
         |  CAST(max(tot) AS BIGINT) AS n_resamples, min(m) AS boot_mean
         |FROM cc JOIN qs ON cum * 100 >= tot * q_pct GROUP BY 1
         |""".stripMargin),
    // q207: span-corruption plan — the same md5 anchor/length gates
    // over unnested token positions, the q202-style window interval
    // merge (touching spans coalesce: new group only when s > pmax),
    // then per-doc counts
    "q207_span_corruption" ->
      (s"""WITH d AS (SELECT doc_id, len($TOKS) AS n FROM documents
          |  WHERE text IS NOT NULL),
          |p AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS pos
          |  FROM d WHERE n >= 1),
          |h AS (SELECT doc_id, n, pos,
          |  md5('sc' || ':' || doc_id || ':' || pos) AS hx FROM p),
          |a AS (SELECT doc_id, n, pos, least(pos + 2 +
          |    CAST('0x' || substr(hx, 3, 1) AS INT) % 3, n + 1) AS e
          |  FROM h WHERE substr(hx, 1, 2) < '0d'),
          |sw AS (SELECT doc_id, pos AS s, e, max(e) OVER (
          |    PARTITION BY doc_id ORDER BY pos
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          |  FROM a),
          |sg AS (SELECT doc_id, s, e,
          |  sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY doc_id ORDER BY s) AS grp FROM sw),
          |mi AS (SELECT doc_id, grp, min(s) AS s, max(e) AS e
          |  FROM sg GROUP BY 1, 2),
          |agg AS (SELECT doc_id, count(*) AS n_spans,
          |  sum(e - s) AS n_masked FROM mi GROUP BY 1),
          |an AS (SELECT doc_id, count(*) AS n_anchors FROM a GROUP BY 1)
          |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_tokens,
          |  CAST(coalesce(an.n_anchors, 0) AS BIGINT) AS n_anchors,
          |  CAST(coalesce(agg.n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(coalesce(agg.n_masked, 0) AS BIGINT) AS n_masked,
          |  CASE WHEN d.n > 0 THEN round(
          |    CAST(coalesce(agg.n_masked, 0) AS DOUBLE) / d.n, 6) + 0
          |    ELSE 0 END AS mask_ratio
          |FROM d LEFT JOIN agg USING (doc_id) LEFT JOIN an USING (doc_id)
          |""".stripMargin),
    // q206: sorted-neighborhood blocking — the same normalized-prefix
    // key sort via ROW_NUMBER (binary collation matches Spark's UTF8
    // order on this corpus), each row paired with its 5 successors,
    // then the exact shingle-Jaccard gate
    "q206_sorted_neighbors" ->
      (s"""WITH d AS (SELECT doc_id, text FROM documents
          |  WHERE text IS NOT NULL),
          |keyed AS (SELECT doc_id, substr(lower(trim(regexp_replace(text,
          |    '[ \t\n\f\r]+', ' ', 'g'))), 1, 24) AS k FROM d),
          |rn AS (SELECT doc_id,
          |  row_number() OVER (ORDER BY k, doc_id) AS rn FROM keyed),
          |toks AS (SELECT doc_id, $TOKS AS tk FROM d),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM rn a JOIN rn b ON b.rn > a.rn AND b.rn <= a.rn + 5),
          |j AS (SELECT p.a_id, p.b_id,
          |  len(list_intersect(sa.s, sb.s)) AS inter,
          |  len(sa.s) + len(sb.s) AS tot FROM pairs p
          |  JOIN sh sa ON sa.doc_id = p.a_id
          |  JOIN sh sb ON sb.doc_id = p.b_id)
          |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
          |  CAST(tot - inter AS BIGINT) AS un,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
          |FROM j WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7
          |""".stripMargin),
    // q200: the maintained index's lifetime match set — brute-force
    // day-ordered cross-Jaccard (day = doc_id % 3); a pair qualifies
    // when the new side's day is later, or same-day with the larger id
    "q200_dedup_sink" ->
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON (a.doc_id % 3 > b.doc_id % 3)
          |    OR (a.doc_id % 3 = b.doc_id % 3 AND a.doc_id > b.doc_id))
          |SELECT new_id, old_id, CAST(inter AS BIGINT) AS inter,
          |  CAST(tot - inter AS BIGINT) AS un,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
          |FROM pairs WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7
          |""".stripMargin),
    "q113_datasheet" ->
      (s"""SELECT source, count(*) AS n_docs,
          |  CAST(sum(len($TOKS)) AS BIGINT) AS n_tokens,
          |  round(CAST(sum(len($TOKS)) AS DOUBLE) / count(*), 6) + 0 AS mean_tokens,
          |  count(DISTINCT lang) AS n_langs,
          |  count(*) - count(DISTINCT md5(lower(regexp_replace(trim(text),
          |    '[ \t\n\f\r]+', ' ', 'g')))) AS n_exact_dups
          |FROM documents GROUP BY source
          |""".stripMargin),
    "q112_pii_redact" ->
      ("""WITH t AS (SELECT doc_id,
         |  text || ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.org' ||
         |  ' 10.20.' || CAST(doc_id % 256 AS VARCHAR) || '.9 ' ||
         |  CAST(doc_id + 100000000 AS VARCHAR) AS t2 FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t2,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
         |    '\d{9,}', '<ID>', 'g') AS clean
         |FROM t
         |""".stripMargin),
    "q111_incr_prepared" ->
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, source, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON a.source = 'src1' AND b.source <> 'src1')
          |SELECT new_id, old_id, CAST(inter AS BIGINT) AS inter,
          |  CAST(tot - inter AS BIGINT) AS un,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
          |FROM pairs WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7
          |""".stripMargin),
    "q109_split_leakage" ->
      (s"""WITH sp AS (SELECT doc_id, text,
          |  CASE WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
          |    THEN 'train' ELSE 'eval' END AS side FROM documents),
          |toks AS (SELECT doc_id, side, $TOKS AS tk FROM sp),
          |sh AS (SELECT doc_id, side, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS eval_id, b.doc_id AS train_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON a.side = 'eval' AND b.side = 'train')
          |SELECT eval_id, train_id, CAST(inter AS BIGINT) AS inter,
          |  CAST(tot - inter AS BIGINT) AS un,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
          |FROM pairs WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7
          |""".stripMargin),
    // q106: the decoded per-frame uniform lumas are planted arithmetic,
    // so the 64-bin histogram replays as integer frame counting — each
    // frame adds w·h to bin ((n+7k)%256)>>2, and the w·h factors cancel
    // EXACTLY in the normalization (same real quotient → same IEEE
    // double); the float squeeze and the cosine re-rank replay through
    // CAST(… AS REAL) and list_cosine_similarity.
    "q106_media_topk" ->
      ("""WITH d AS (SELECT doc_id, strlen(text) AS n FROM documents
         |  WHERE text IS NOT NULL),
         |fr AS (SELECT doc_id, ((n + k.range * 7) % 256) // 4 AS bin
         |  FROM d, range(6) k WHERE k.range <= n % 6),
         |bins AS (SELECT doc_id, bin, count(*) AS m FROM fr GROUP BY 1, 2),
         |vecs AS (SELECT d.doc_id,
         |    list(CAST(CAST(CAST(coalesce(b2.m, 0) AS DOUBLE) / (d.n % 6 + 1)
         |      AS REAL) AS DOUBLE) ORDER BY bb.range) AS v
         |  FROM d CROSS JOIN range(64) bb
         |  LEFT JOIN bins b2 ON b2.doc_id = d.doc_id AND b2.bin = bb.range
         |  GROUP BY 1),
         |sc AS (SELECT p.doc_id AS probe_id, c.doc_id AS vec_id,
         |    list_cosine_similarity(c.v, p.v) AS sim
         |  FROM vecs p JOIN vecs c ON c.doc_id <> p.doc_id
         |  WHERE p.doc_id < 5)
         |SELECT probe_id, vec_id,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rk,
         |  round(sim, 4) + 0 AS sim_r
         |FROM sc QUALIFY rk <= 5
         |""".stripMargin),
    "q107_vocab_coverage" ->
      (s"""WITH tk AS (SELECT unnest($TOKS_LOWER) AS token FROM documents),
          |c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
          |t AS (SELECT sum(cnt) AS total FROM c),
          |top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 50)
          |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
          |  token, cnt,
          |  round(CAST(cnt AS DOUBLE) / total, 6) + 0 AS share,
          |  round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
          |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / total, 6) + 0 AS cum_share
          |FROM top CROSS JOIN t
          |""".stripMargin),
    "q110_source_overlap" ->
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT DISTINCT source, unnest(${shinglesSql("tk")}) AS g FROM toks)
          |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
          |FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
          |GROUP BY 1, 2
          |""".stripMargin),
    "q114_sessionize" ->
      ("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events
         |  WHERE ts IS NOT NULL AND year(ts) <> 1970),
         |s AS (SELECT user_id, event_id, tu,
         |  CASE WHEN lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) IS NULL
         |         OR tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id)
         |            > 1800000000
         |       THEN 1 ELSE 0 END AS brk FROM e),
         |t AS (SELECT user_id, tu,
         |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session
         |  FROM s)
         |SELECT user_id, session, min(tu) AS start_us, max(tu) AS end_us,
         |  count(*) AS n_events, max(tu) - min(tu) AS span_us
         |FROM t GROUP BY 1, 2
         |""".stripMargin),
    "q115_inverted_index" ->
      (s"""WITH tk AS (SELECT doc_id, unnest(list_distinct($TOKS_LOWER)) AS token
          |  FROM documents)
          |SELECT token, count(*) AS df,
          |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
          |FROM tk GROUP BY 1
          |""".stripMargin),
    "q116_ks_drift" ->
      ("""WITH e AS (SELECT event_type, value, event_id % 2 AS side FROM events
         |  WHERE value IS NOT NULL),
         |cuts AS (SELECT event_type,
         |  round(quantile_cont(value, 0.1), 6) AS c1,
         |  round(quantile_cont(value, 0.2), 6) AS c2,
         |  round(quantile_cont(value, 0.3), 6) AS c3,
         |  round(quantile_cont(value, 0.4), 6) AS c4,
         |  round(quantile_cont(value, 0.5), 6) AS c5,
         |  round(quantile_cont(value, 0.6), 6) AS c6,
         |  round(quantile_cont(value, 0.7), 6) AS c7,
         |  round(quantile_cont(value, 0.8), 6) AS c8,
         |  round(quantile_cont(value, 0.9), 6) AS c9
         |  FROM e WHERE side = 0 GROUP BY 1),
         |b AS (SELECT e.event_type, side,
         |  (CASE WHEN value >= c1 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c2 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c3 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c4 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c5 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c6 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c7 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c8 THEN 1 ELSE 0 END) +
         |  (CASE WHEN value >= c9 THEN 1 ELSE 0 END) AS bin
         |  FROM e JOIN cuts USING (event_type)),
         |g AS (SELECT event_type, bin,
         |  count(CASE WHEN side = 0 THEN 1 END) AS n_ref,
         |  count(CASE WHEN side = 1 THEN 1 END) AS n_cur
         |  FROM b GROUP BY 1, 2),
         |f AS (SELECT event_type, bin, n_ref, n_cur,
         |  sum(n_ref) OVER (PARTITION BY event_type ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fr,
         |  sum(n_cur) OVER (PARTITION BY event_type ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fc,
         |  sum(n_ref) OVER (PARTITION BY event_type) AS tr,
         |  sum(n_cur) OVER (PARTITION BY event_type) AS tc
         |  FROM g)
         |SELECT event_type,
         |  round(max(abs(CAST(fr AS DOUBLE) / CAST(tr AS DOUBLE) -
         |                CAST(fc AS DOUBLE) / CAST(tc AS DOUBLE))), 6) + 0 AS ks_d,
         |  CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur
         |FROM f GROUP BY 1
         |""".stripMargin),
    "q117_distinct_terms" ->
      (s"""WITH tk AS (SELECT source, unnest($TOKS_LOWER) AS token FROM documents),
          |c AS (SELECT source, token, count(*) AS y_s FROM tk GROUP BY 1, 2),
          |st AS (SELECT source, CAST(sum(y_s) AS BIGINT) AS n_s FROM c GROUP BY 1),
          |tt AS (SELECT token, CAST(sum(y_s) AS BIGINT) AS y_all FROM c GROUP BY 1),
          |g AS (SELECT CAST(sum(y_s) AS BIGINT) AS n_all FROM c),
          |z AS (SELECT c.source, c.token, c.y_s,
          |  round((ln((c.y_s + 0.5) / (st.n_s - c.y_s + 0.5)) -
          |         ln(((tt.y_all - c.y_s) + 0.5) /
          |            ((g.n_all - st.n_s) - (tt.y_all - c.y_s) + 0.5))) /
          |        sqrt(1.0 / (c.y_s + 0.5) + 1.0 / ((tt.y_all - c.y_s) + 0.5)), 6)
          |    + 0 AS z
          |  FROM c JOIN st USING (source) JOIN tt USING (token) CROSS JOIN g),
          |r AS (SELECT *, row_number() OVER (PARTITION BY source
          |  ORDER BY z DESC, token) AS rk FROM z)
          |SELECT source, token, y_s, z, CAST(rk AS BIGINT) AS rk
          |FROM r WHERE rk <= 10
          |""".stripMargin),
    "q118_blocklist" ->
      (s"""WITH f AS (SELECT source,
          |  CASE WHEN list_has_any($TOKS_LOWER, ['dup', 'xyzzy'])
          |       THEN 1 ELSE 0 END AS hit FROM documents)
          |SELECT source, count(*) AS n_docs, CAST(sum(hit) AS BIGINT) AS n_flagged,
          |  round(CAST(sum(hit) AS DOUBLE) / count(*), 6) + 0 AS flag_rate
          |FROM f GROUP BY 1
          |""".stripMargin),
    // q119: the prefix cut is over the ROUNDED score (both engines
    // round before ordering, so equal-bit doubles order identically)
    // with doc_id as the total tie-break.
    "q119_token_budget" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sc AS (SELECT doc_id,
          |  round(least(CAST(1.0 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE)) *
          |        (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) + 0 AS score,
          |  CAST(len(tk) AS BIGINT) AS n_tokens FROM t),
          |c AS (SELECT doc_id, score, n_tokens,
          |  sum(n_tokens) OVER (ORDER BY score DESC, doc_id
          |    ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM sc)
          |SELECT doc_id, score, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
          |FROM c WHERE cum_tokens <= 10000
          |""".stripMargin),
    "q120_hash_sample" ->
      ("""WITH r AS (SELECT doc_id, source, lang,
         |  md5(CAST(doc_id AS VARCHAR)) AS sample_key
         |  FROM documents ORDER BY sample_key LIMIT 100)
         |SELECT doc_id, source, lang, sample_key,
         |  CAST(row_number() OVER (ORDER BY sample_key) AS BIGINT) AS sample_rank
         |FROM r
         |""".stripMargin),
    "q121_lang_audit" ->
      ("""WITH t AS (SELECT doc_id, lang, text,
         |  list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\f\r]+'), x -> x <> '') AS tk
         |  FROM documents),
         |s AS (SELECT doc_id, lang, text,
         |  len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS en,
         |  len(list_filter(tk, x -> x IN ('der','die','und','ist','nicht'))) AS de,
         |  len(list_filter(tk, x -> x IN ('el','los','una','es','y'))) AS es,
         |  len(list_filter(tk, x -> x IN ('le','les','une','est','et'))) AS fr
         |  FROM t),
         |p AS (SELECT lang AS declared, CASE
         |  WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
         |  WHEN de > en AND de >= es AND de >= fr THEN 'de'
         |  WHEN es > en AND es >= fr THEN 'es'
         |  WHEN fr > en THEN 'fr'
         |  ELSE 'en' END AS detected FROM s)
         |SELECT declared, detected, count(*) AS n_docs
         |FROM p GROUP BY 1, 2
         |""".stripMargin),
    // q123: vocabulary = top-20 by (tf desc, token) — a total order, so
    // the cut is deterministic on both engines; OOV counted via a LEFT
    // JOIN against that vocabulary
    "q123_oov_rate" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS_LOWER AS tk FROM documents),
          |tf AS (SELECT token, count(*) AS tf FROM
          |  (SELECT unnest(tk) AS token FROM t) GROUP BY 1),
          |v AS (SELECT token FROM tf ORDER BY tf DESC, token LIMIT 20),
          |e AS (SELECT doc_id, unnest(tk) AS token FROM t),
          |j AS (SELECT e.doc_id, count(*) AS n,
          |  sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS oov
          |  FROM e LEFT JOIN v ON e.token = v.token GROUP BY 1)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
          |  CAST(oov AS BIGINT) AS n_oov,
          |  round(CAST(oov AS DOUBLE) / n, 6) + 0 AS oov_rate
          |FROM j
          |""".stripMargin),
    // q124: every threshold is an integer comparison (no float
    // boundary); the language CASE is q19's fragment verbatim
    "q124_filter_funnel" ->
      (s"""WITH t AS (SELECT doc_id, text, $TOKS AS tk,
          |  $TOKS_LOWER AS tkl FROM documents),
          |m AS (SELECT text,
          |  CAST(len(tk) AS BIGINT) AS n,
          |  CAST(len(list_distinct(tk)) AS BIGINT) AS d,
          |  CAST(len(${shinglesSql("tk")}) AS BIGINT) AS nd3,
          |  len(list_filter(tkl, x -> x IN ('the','a','of','and','is'))) AS en,
          |  len(list_filter(tkl, x -> x IN ('der','die','und','ist','nicht'))) AS de,
          |  len(list_filter(tkl, x -> x IN ('el','los','una','es','y'))) AS es,
          |  len(list_filter(tkl, x -> x IN ('le','les','une','est','et'))) AS fr
          |  FROM t),
          |ff AS (SELECT CASE
          |  WHEN n < 5 THEN 1
          |  WHEN n > 80 THEN 2
          |  WHEN nd3 * 5 < (n - 2) * 2 THEN 3
          |  WHEN CASE WHEN n >= 50 THEN d * 10 < n * 3 ELSE d < 15 END THEN 4
          |  WHEN (CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
          |    WHEN de > en AND de >= es AND de >= fr THEN 'de'
          |    WHEN es > en AND es >= fr THEN 'es'
          |    WHEN fr > en THEN 'fr'
          |    ELSE 'en' END) <> 'en' THEN 5
          |  ELSE 0 END AS ff FROM m),
          |a AS (SELECT count(*) AS n,
          |  sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS f1,
          |  sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS f2,
          |  sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS f3,
          |  sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS f4,
          |  sum(CASE WHEN ff = 5 THEN 1 ELSE 0 END) AS f5 FROM ff)
          |SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
          |  CAST(n_in AS BIGINT) AS n_in,
          |  CAST(n_dropped AS BIGINT) AS n_dropped,
          |  CAST(n_in - n_dropped AS BIGINT) AS n_out
          |FROM (
          |  SELECT 1 AS stage_id, 'min_tokens' AS stage, n AS n_in, f1 AS n_dropped FROM a
          |  UNION ALL SELECT 2, 'max_tokens', n - f1, f2 FROM a
          |  UNION ALL SELECT 3, 'repetition', n - f1 - f2, f3 FROM a
          |  UNION ALL SELECT 4, 'quality', n - f1 - f2 - f3, f4 FROM a
          |  UNION ALL SELECT 5, 'language', n - f1 - f2 - f3 - f4, f5 FROM a)
          |""".stripMargin),
    // q126: thresholds ⌊0.75·16⁶⌋ = c00000 and ⌊0.25·16⁶⌋ = 400000;
    // fixed-width hex compares lexicographically ⟺ numerically
    "q127_source_cap" ->
      (s"""WITH t AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sc AS (SELECT doc_id, source,
          |  round(least(CAST(1.0 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE)) *
          |        (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) + 0 AS score
          |  FROM t),
          |r AS (SELECT doc_id, source, score,
          |  CAST(row_number() OVER (PARTITION BY source
          |    ORDER BY score DESC, doc_id) AS BIGINT) AS cap_rank FROM sc)
          |SELECT doc_id, source, score, cap_rank FROM r WHERE cap_rank <= 15
          |""".stripMargin),
    // q128: segments are consecutive 8-token slices; DuckDB's
    // list_slice(tk, a, b) is 1-based inclusive and clamps, matching
    // Spark's slice(tk, a, 8); string_agg(... ORDER BY seg_idx)
    // restores document order, and the oracle counts by segment TEXT
    // where the engine counts by xxhash64 (collision-free at fixture
    // scale, same convention as q110/q122)
    "q128_segment_dedup" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |t2 AS (SELECT doc_id, tk, CAST(ceil(len(tk) / 8.0) AS BIGINT) AS ns
          |  FROM t WHERE len(tk) > 0),
          |s AS (SELECT doc_id,
          |  unnest(list_transform(range(ns),
          |    i -> array_to_string(list_slice(tk, i * 8 + 1, i * 8 + 8), ' '))) AS seg,
          |  unnest(range(ns)) AS seg_idx FROM t2),
          |f AS (SELECT seg, count(*) AS cnt FROM s GROUP BY 1)
          |SELECT s.doc_id,
          |  CAST(count(*) AS BIGINT) AS n_segments,
          |  CAST(sum(CASE WHEN f.cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  coalesce(string_agg(CASE WHEN f.cnt = 1 THEN s.seg END, ' '
          |    ORDER BY s.seg_idx), '') AS clean_text
          |FROM s JOIN f USING (seg) GROUP BY s.doc_id
          |""".stripMargin),
    "q126_mixture_sample" ->
      ("""WITH k AS (SELECT doc_id, source,
         |  md5('mix:' || CAST(doc_id AS VARCHAR)) AS sample_key
         |  FROM documents)
         |SELECT doc_id, source, sample_key FROM k
         |WHERE substr(sample_key, 1, 6) <
         |  (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
         |    THEN 'c00000' ELSE '400000' END)
         |""".stripMargin),
    // q125: chunk count 1 + ceil(max(0, n-32)/24) via integer division;
    // DuckDB list slice tk[a:b] is 1-based inclusive and clamps, same
    // as Spark's slice(tk, a, len)
    "q125_chunk_windows" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t
          |  WHERE len(tk) > 0),
          |c AS (SELECT doc_id, tk, n,
          |  CASE WHEN n > 32 THEN 1 + (n - 32 + 23) // 24 ELSE 1 END AS nc FROM s),
          |e AS (SELECT doc_id, tk, n,
          |  unnest(generate_series(0, (nc - 1) * 24, 24)) AS st FROM c)
          |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
          |  CAST(st AS BIGINT) AS start_tok,
          |  CAST(least(32, n - st) AS BIGINT) AS n_tokens,
          |  array_to_string(tk[st + 1 : st + 32], ' ') AS chunk_text
          |FROM e
          |""".stripMargin),
    "q122_ngram_novelty" ->
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
          |f AS (SELECT g, min(doc_id) AS first_id FROM e GROUP BY 1),
          |nv AS (SELECT first_id AS doc_id, count(*) AS n_novel FROM f GROUP BY 1)
          |SELECT sh.doc_id, CAST(len(sh.s) AS BIGINT) AS n_shingles,
          |  CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
          |  CASE WHEN len(sh.s) > 0 THEN
          |    round(CAST(coalesce(nv.n_novel, 0) AS DOUBLE) / len(sh.s), 6) + 0
          |  END AS novelty
          |FROM sh LEFT JOIN nv USING (doc_id)
          |""".stripMargin),
    // q129 is EXACT (prefix filtering is lossless), so the brute-force
    // all-pairs scan is a hash-match oracle, not a recall bound
    "q129_setsim_join" ->
      jaccardPairsSql("b.doc_id > a.doc_id", 1, 2),
    "q130_mad_outliers" ->
      ("""WITH e AS (SELECT event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
         |  FROM e GROUP BY 1),
         |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med AS med
         |  FROM e JOIN m USING (event_type)),
         |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
         |  FROM d GROUP BY 1)
         |SELECT d.event_type, count(*) AS n,
         |  CAST(sum(CASE WHEN d.dev > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_outliers,
         |  round(max(d.med), 6) + 0 AS med_r,
         |  round(max(md.mad), 6) + 0 AS mad_r
         |FROM d JOIN md USING (event_type) GROUP BY 1
         |""".stripMargin),
    "q131_heaps_curve" ->
      (s"""WITH t AS (SELECT doc_id - doc_id % 50 AS bucket,
          |  unnest($TOKS_LOWER) AS token FROM documents),
          |pb AS (SELECT bucket, count(*) AS n_tok FROM t GROUP BY 1),
          |f AS (SELECT token, min(bucket) AS bucket FROM t GROUP BY 1),
          |fb AS (SELECT bucket, count(*) AS n_first FROM f GROUP BY 1)
          |SELECT pb.bucket,
          |  CAST(sum(pb.n_tok) OVER (ORDER BY pb.bucket
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS n_tokens_cum,
          |  CAST(sum(coalesce(fb.n_first, 0)) OVER (ORDER BY pb.bucket
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS vocab_cum
          |FROM pb LEFT JOIN fb USING (bucket)
          |""".stripMargin),
    // q132 = q67's score + an ntile cut on the (rounded score, id) total order
    "q132_ppl_buckets" ->
      (s"""WITH tk AS (SELECT doc_id, unnest($TOKS) AS token FROM documents),
          |freq AS (SELECT token, count(*) AS ctf FROM tk GROUP BY 1),
          |t AS (SELECT count(*) AS total FROM tk),
          |s AS (SELECT doc_id,
          |  round(CAST(sum(CAST(-ln(CAST(ctf AS DOUBLE) / total) AS DECIMAL(18,9))) AS DOUBLE)
          |        / count(*), 6) + 0 AS surprisal,
          |  count(*) AS n_tokens
          |  FROM tk JOIN freq USING (token) CROSS JOIN t
          |  GROUP BY doc_id)
          |SELECT doc_id, surprisal, n_tokens,
          |  CAST(ntile(3) OVER (ORDER BY surprisal, doc_id) AS BIGINT) AS bucket
          |FROM s
          |""".stripMargin),
    // q133 replays the fixed-point iterations exactly: all arithmetic is
    // 64-bit integer (1e12-unit ranks, floor division), so five unrolled
    // CTE steps reproduce the engine's ranks bit for bit
    "q133_pagerank" -> {
      def step(prev: String, cur: String): String =
        s"""$cur AS (SELECT nodes.node,
           |  150000000000 // n.n + (coalesce(s.i, 0) * 85) // 100 AS ru
           |  FROM nodes CROSS JOIN n LEFT JOIN (
           |    SELECT e.dst AS node, sum($prev.ru // od.outdeg) AS i
           |    FROM e JOIN $prev ON e.src = $prev.node
           |    JOIN od ON e.src = od.src GROUP BY 1) s USING (node))"""
          .stripMargin
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |b AS (SELECT unnest(tk[1:len(tk)-1]) AS src,
         |  unnest(tk[2:len(tk)]) AS dst FROM t WHERE len(tk) >= 2),
         |e AS (SELECT DISTINCT src, dst FROM b),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |n AS (SELECT count(*) AS n FROM nodes),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, 1000000000000 // n.n AS ru
         |  FROM nodes CROSS JOIN n),
         |${step("r0", "r1")},
         |${step("r1", "r2")},
         |${step("r2", "r3")},
         |${step("r3", "r4")},
         |${step("r4", "r5")}
         |SELECT node, CAST(ru AS BIGINT) AS rank_units,
         |  round(CAST(ru AS DOUBLE) / 1000000000000, 6) + 0 AS rank_r
         |FROM r5 ORDER BY ru DESC, node LIMIT 50
         |""".stripMargin
    },
    "q134_fertility" ->
      (s"""SELECT lang,
          |  CAST(sum(len(regexp_extract_all(text,
          |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+'))) AS BIGINT) AS n_bpe,
          |  CAST(sum(len($TOKS)) AS BIGINT) AS n_words,
          |  round(CAST(sum(len(regexp_extract_all(text,
          |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+'))) AS DOUBLE)
          |    / sum(len($TOKS)), 6) + 0 AS fertility
          |FROM documents GROUP BY lang
          |""".stripMargin),
    "q135_zipf_fit" ->
      (s"""WITH tk AS (SELECT unnest($TOKS_LOWER) AS token FROM documents),
          |top AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1
          |  ORDER BY cnt DESC, token LIMIT 50),
          |r AS (SELECT
          |  CAST(ln(CAST(row_number() OVER (ORDER BY cnt DESC, token) AS DOUBLE))
          |    AS DECIMAL(18,9)) AS x,
          |  CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(18,9)) AS y FROM top),
          |a AS (SELECT CAST(count(*) AS DOUBLE) AS kd, count(*) AS k,
          |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
          |  CAST(sum(x*y) AS DOUBLE) AS sxy, CAST(sum(x*x) AS DOUBLE) AS sxx FROM r)
          |SELECT k,
          |  round((kd*sxy - sx*sy) / (kd*sxx - sx*sx), 6) + 0 AS slope_r,
          |  round((sy - ((kd*sxy - sx*sy) / (kd*sxx - sx*sx)) * sx) / kd, 6) + 0
          |    AS intercept_r
          |FROM a
          |""".stripMargin),
    "q136_hard_negatives" ->
      ("""WITH p AS (SELECT vec_id AS probe_id, embedding AS pvec, label AS plabel
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (SELECT p.probe_id, e.vec_id, e.label AS neg_label,
         |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                         CAST(p.pvec AS DOUBLE[])) AS sim
         |  FROM embeddings e CROSS JOIN p
         |  WHERE e.vec_id <> p.probe_id AND e.label <> p.plabel)
         |SELECT probe_id, vec_id, neg_label,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rk,
         |  round(sim, 4) + 0 AS sim_r
         |FROM scored QUALIFY rk <= 5
         |""".stripMargin),
    "q137_curriculum" ->
      (s"""WITH t AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sc AS (SELECT doc_id, source,
          |  round(least(CAST(1.0 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE)) *
          |        (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) + 0 AS score
          |  FROM t),
          |r AS (SELECT doc_id, source, score,
          |  CAST(row_number() OVER (PARTITION BY source
          |    ORDER BY score DESC, doc_id) AS BIGINT) AS src_rank FROM sc),
          |si AS (SELECT source,
          |  CAST(row_number() OVER (ORDER BY source) AS BIGINT) - 1 AS sidx
          |  FROM (SELECT DISTINCT source FROM documents)),
          |ns AS (SELECT count(*) AS n FROM si)
          |SELECT r.doc_id, r.source, r.score, r.src_rank,
          |  (r.src_rank - 1) * ns.n + si.sidx + 1 AS position
          |FROM r JOIN si USING (source) CROSS JOIN ns
          |""".stripMargin),
    "q138_thr_sweep" ->
      (s"""WITH t AS (SELECT source, $TOKS AS tk FROM documents),
          |sc AS (SELECT source,
          |  round(least(CAST(1.0 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE)) *
          |        (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) + 0 AS score
          |  FROM t),
          |b AS (SELECT source,
          |  greatest(0, least(19, CAST(floor(score * 20) AS BIGINT))) AS bkt FROM sc),
          |c AS (SELECT source, bkt, count(*) AS n FROM b GROUP BY 1, 2),
          |tot AS (SELECT source, count(*) AS total FROM b GROUP BY 1),
          |grid AS (SELECT tot.source, tot.total,
          |  unnest(generate_series(0, 19)) AS thr_idx FROM tot),
          |k AS (SELECT g.source, g.total, g.thr_idx, coalesce(c.n, 0) AS n
          |  FROM grid g LEFT JOIN c ON c.source = g.source AND c.bkt = g.thr_idx)
          |SELECT source, CAST(thr_idx AS BIGINT) AS thr_idx,
          |  round(CAST(thr_idx AS DOUBLE) / 20, 6) + 0 AS threshold,
          |  CAST(sum(n) OVER (PARTITION BY source ORDER BY thr_idx DESC
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_kept,
          |  round(CAST(sum(n) OVER (PARTITION BY source ORDER BY thr_idx DESC
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / total, 6) + 0
          |    AS keep_rate
          |FROM k
          |""".stripMargin),
    "q141_strat_sample" ->
      ("""WITH r AS (SELECT doc_id, source,
         |  md5(CAST(doc_id AS VARCHAR)) AS sample_key,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
         |  FROM documents)
         |SELECT doc_id, source, sample_key, sample_rank
         |FROM r WHERE sample_rank <= 10
         |""".stripMargin),
    "q142_debounce" ->
      ("""WITH x AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         |  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
         |    ORDER BY epoch_us(ts), event_id) AS prev
         |  FROM events WHERE ts IS NOT NULL)
         |SELECT event_id, user_id, event_type, ts_us
         |FROM x WHERE prev IS NULL OR ts_us - prev > 86400000000
         |""".stripMargin),
    "q143_retrieval_eval" ->
      ("""WITH p AS (SELECT vec_id AS probe_id, embedding AS pvec, label AS plabel
         |  FROM embeddings WHERE vec_id < 50),
         |scored AS (SELECT p.probe_id, p.plabel, e.label AS clabel,
         |  row_number() OVER (PARTITION BY p.probe_id
         |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                    CAST(p.pvec AS DOUBLE[])) DESC,
         |      e.vec_id) AS rk
         |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
         |per AS (SELECT probe_id, plabel AS label,
         |  min(CASE WHEN clabel = plabel THEN rk END) AS first
         |  FROM scored WHERE rk <= 10 GROUP BY 1, 2)
         |SELECT label, count(*) AS n_probes,
         |  round(CAST(sum(CASE WHEN first IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) + 0 AS recall_at_k,
         |  round(CAST(sum(coalesce(CAST(1.0 / first AS DECIMAL(18,9)),
         |                          CAST(0 AS DECIMAL(18,9)))) AS DOUBLE)
         |        / count(*), 6) + 0 AS mrr
         |FROM per GROUP BY 1
         |""".stripMargin),
    "q144_margin_mine" ->
      ("""WITH A AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |B AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |pf AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
         |                         CAST(a.embedding AS DOUBLE[])) AS sim,
         |  row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
         |                           CAST(a.embedding AS DOUBLE[])) DESC,
         |    b.vec_id) AS rk
         |  FROM A a CROSS JOIN B b),
         |fwd AS (SELECT a_id, b_id, round(sim, 4) + 0 AS sim_r FROM pf WHERE rk <= 4),
         |pb AS (SELECT b.vec_id AS b_id,
         |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                         CAST(b.embedding AS DOUBLE[])) AS sim,
         |  row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                           CAST(b.embedding AS DOUBLE[])) DESC,
         |    a.vec_id) AS rk
         |  FROM B b CROSS JOIN A a),
         |bwd AS (SELECT b_id, round(sim, 4) + 0 AS sim_r FROM pb WHERE rk <= 4),
         |aa AS (SELECT a_id, CAST(sum(CAST(sim_r AS DECIMAL(18,4))) AS DOUBLE)
         |  / count(*) AS avg_a FROM fwd GROUP BY 1),
         |ab AS (SELECT b_id, CAST(sum(CAST(sim_r AS DECIMAL(18,4))) AS DOUBLE)
         |  / count(*) AS avg_b FROM bwd GROUP BY 1),
         |sc AS (SELECT f.a_id, f.b_id, f.sim_r,
         |  round(f.sim_r / ((aa.avg_a + ab.avg_b) / 2), 6) + 0 AS margin
         |  FROM fwd f JOIN aa USING (a_id) JOIN ab USING (b_id)),
         |r AS (SELECT a_id, b_id, sim_r, margin,
         |  row_number() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rk
         |  FROM sc)
         |SELECT a_id, b_id, sim_r, margin FROM r WHERE rk = 1
         |""".stripMargin),
    "q145_scan_median" ->
      ("""SELECT event_type, count(*) AS n,
         |  round(quantile_cont(value, 0.5), 6) + 0 AS q_r
         |FROM events WHERE value IS NOT NULL GROUP BY 1
         |""".stripMargin),
    "q146_journeys" ->
      ("""WITH x AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |    AS prev
         |  FROM events WHERE ts IS NOT NULL),
         |y AS (SELECT user_id, event_id, event_type, us,
         |  CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS brk
         |  FROM x),
         |z AS (SELECT user_id, event_type, us, event_id,
         |  sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session
         |  FROM y),
         |j AS (SELECT user_id, session,
         |  string_agg(event_type, '>' ORDER BY us, event_id) AS journey
         |  FROM z GROUP BY 1, 2)
         |SELECT journey, count(*) AS n_sessions
         |FROM j GROUP BY 1 ORDER BY n_sessions DESC, journey LIMIT 10
         |""".stripMargin),
    // q148 replays the fixed-point training exactly (the q133 recipe):
    // md5-prefix feature buckets, hard-sigmoid in 1e6 units with a
    // non-negative dividend, LMS update with truncate-toward-zero
    // division (DuckDB // ≡ Spark div ≡ JVM / on negatives) — three
    // unrolled CTE steps reproduce the engine's weights bit for bit
    "q148_quality_clf" ->
      (s"""$QC_TRAIN_CTE
         |SELECT j AS feat, CAST(w AS BIGINT) AS w_units,
         |  round(CAST(w AS DOUBLE) / 1000000, 6) + 0 AS w_r
         |FROM w3 ORDER BY feat
         |""".stripMargin),
    // q150: one more integer pass over the q148 replay — score every
    // doc with the trained w3 and apply the hard-sigmoid link.
    "q150_quality_score" ->
      (s"""$QC_TRAIN_CTE,
         |z4 AS (SELECT f.doc_id, sum(f.x * w3.w) AS z
         |  FROM f JOIN w3 USING (j) GROUP BY 1),
         |sc AS (SELECT lab.doc_id, lab.y,
         |  greatest(-2000000, least(2000000, coalesce(z4.z, 0))) AS zc
         |  FROM lab LEFT JOIN z4 USING (doc_id))
         |SELECT CAST(doc_id AS VARCHAR) AS id, CAST(y AS BIGINT) AS y,
         |  CAST(zc AS BIGINT) AS z_units,
         |  CAST((2000000 + zc) // 4 AS BIGINT) AS p_units,
         |  round(CAST((2000000 + zc) // 4 AS DOUBLE) / 1000000, 6) + 0 AS p_r
         |FROM sc
         |""".stripMargin),
    // q179: the Q5 join tree, revenue through DECIMAL(28,6).
    // q186: identical window algebra — row_number sequences, the probe
    // from the lexicographically-first type's first 8 values, squared
    // differences through DECIMAL(38,12), (ssd, type, start) total
    // order for the LIMIT.
    // q189: q186's exact window algebra at L = 64 (probe = the first
    // type's positions 101-164) — the PAA propose/verify path must
    // reproduce the exact top-15, so the same SQL is the oracle.
    "q189_subseq_paa" ->
      ("""WITH s AS (SELECT event_type,
         |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS idx,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         |p AS (SELECT idx - 101 AS j, v AS pv FROM s
         |  WHERE event_type = (SELECT min(event_type) FROM s)
         |    AND idx BETWEEN 101 AND 164),
         |c AS (SELECT s.event_type, s.idx - p.j AS start_idx,
         |    CAST((s.v - p.pv) * (s.v - p.pv) AS DECIMAL(38,12)) AS t
         |  FROM s JOIN p ON s.idx - p.j >= 1),
         |w AS (SELECT event_type, start_idx, sum(t) AS ssd, count(*) AS n
         |  FROM c GROUP BY 1, 2)
         |SELECT event_type, CAST(start_idx AS BIGINT) AS start_idx,
         |  round(CAST(ssd AS DOUBLE), 6) + 0 AS ssd_r
         |FROM w WHERE n = 64
         |ORDER BY ssd_r, event_type, start_idx LIMIT 15
         |""".stripMargin),
    // q190: the packed-integer Viterbi DP (cost*64 + pieces) unrolled
    // to the 16-char chunk bound — generated in q190OracleSql, pinned
    // vocab VALUES literal, UNK = 20e6 units.
    "q190_unigram_apply" -> q190OracleSql,
    "q192_unigram_pieces" -> q192OracleSql,
    "q140_join_card" -> q140OracleSql,
    "q97_semantic_dedup" -> q97OracleSql,
    "q31_ivf_ann" -> q31OracleSql,
    "q94_pq_ann" -> q94OracleSql,
    "q101_ivfpq_ann" -> q101OracleSql,
    "q147_margin_ann" -> q147OracleSql,
    "q99_bpe_learn" -> q99OracleSql,
    "q193_repetition" -> q193OracleSql,
    "q194_repeat_spans" -> q194OracleSql,
    "q195_dedup_spans" -> q195OracleSql,
    "q196_decontam_audit" -> q196OracleSql,
    "q201_facility_select" -> q201OracleSql,
    "q202_decontam_clean" -> q202OracleSql,
    "q203_mmr_rerank" -> q203OracleSql,
    "q205_kcenter_coreset" -> q205OracleSql,
    "q208_rbo_agreement" -> q208OracleSql,
    "q210_mixture_alloc" -> q210OracleSql,
    // q191: frame hashes rebuild from the same MD5 low bits (the ±4
    // step signs ARE the dHash bits — the prefix construction cannot
    // produce ties), ALL frame pairs brute-force at hamming <= 3
    // via HUGEINT xor/bit_count, then the offset-evidence /
    // best-offset / rounded-coverage pipeline replays verbatim.
    "q191_video_neardup" ->
      ("""WITH d AS (SELECT doc_id, strlen(text) AS n, doc_id % 40 AS gk,
         |    doc_id % 3 AS jit, strlen(text) % 5 + 2 AS f FROM documents
         |  WHERE text IS NOT NULL),
         |d2 AS (SELECT doc_id, gk, jit, f,
         |    f - CASE WHEN jit = 1 THEN 1 ELSE 0 END AS nf FROM d),
         |fr AS (SELECT doc_id, gk, jit, i.range AS i,
         |    CASE WHEN jit = 1 THEN i.range + 1 ELSE i.range END AS c,
         |    (jit = 2 AND i.range = 1) AS noise
         |  FROM d2, range(6) i WHERE i.range < nf),
         |cells AS (SELECT doc_id, i, y.range AS y, x.range AS x,
         |    CASE WHEN noise THEN
         |      CASE WHEN CAST('0x' || substr(md5('u191:' || doc_id || ':'
         |            || y.range || ':' || x.range), 16, 1) AS INT) & 1 = 1
         |        THEN 1 ELSE 0 END
         |    ELSE
         |      CASE WHEN (CAST('0x' || substr(md5('v191:' || gk || ':' || c
         |            || ':' || y.range || ':' || x.range), 16, 1) AS INT)
         |            & 1 = 1)
         |          <> (jit > 0 AND x.range = jit AND y.range = jit)
         |        THEN 1 ELSE 0 END
         |    END AS up
         |  FROM fr, range(8) y, range(1, 9) x),
         |fh AS MATERIALIZED (SELECT doc_id, i,
         |    sum(CASE WHEN up = 1
         |        THEN CAST(1 AS HUGEINT) << CAST(y * 8 + x - 1 AS INT)
         |        ELSE CAST(0 AS HUGEINT) END) AS h
         |  FROM cells GROUP BY 1, 2),
         |m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, b.i - a.i AS off
         |  FROM fh a JOIN fh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.h, b.h)) <= 3),
         |ev AS (SELECT a_id, b_id, off, count(*) AS n_matched
         |  FROM m GROUP BY 1, 2, 3),
         |best AS (SELECT a_id, b_id, off, n_matched,
         |    row_number() OVER (PARTITION BY a_id, b_id
         |      ORDER BY n_matched DESC, off ASC) AS rn
         |  FROM ev)
         |SELECT b.a_id, b.b_id, CAST(b.off AS INT) AS offset,
         |  CAST(b.n_matched AS BIGINT) AS n_matched,
         |  round(CAST(b.n_matched AS DOUBLE) / least(la.nf, lb.nf), 6) + 0
         |    AS coverage_r
         |FROM best b JOIN d2 la ON la.doc_id = b.a_id
         |JOIN d2 lb ON lb.doc_id = b.b_id
         |WHERE rn = 1
         |  AND round(CAST(b.n_matched AS DOUBLE) / least(la.nf, lb.nf), 6)
         |    >= 0.6
         |""".stripMargin),
    "q186_subseq_search" ->
      ("""WITH s AS (SELECT event_type,
         |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS idx,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         |p AS (SELECT idx - 1 AS j, v AS pv FROM s
         |  WHERE event_type = (SELECT min(event_type) FROM s) AND idx <= 8),
         |c AS (SELECT s.event_type, s.idx - p.j AS start_idx,
         |    CAST((s.v - p.pv) * (s.v - p.pv) AS DECIMAL(38,12)) AS t
         |  FROM s JOIN p ON s.idx - p.j >= 1),
         |w AS (SELECT event_type, start_idx, sum(t) AS ssd, count(*) AS n
         |  FROM c GROUP BY 1, 2)
         |SELECT event_type, CAST(start_idx AS BIGINT) AS start_idx,
         |  round(CAST(ssd AS DOUBLE), 6) + 0 AS ssd_r
         |FROM w WHERE n = 8
         |ORDER BY ssd_r, event_type, start_idx LIMIT 20
         |""".stripMargin),
    // q185: the q182 bit replay, brute-forced over batch × corpus
    // pairs only (batch = doc_id % 10 = 0).
    "q185_incr_media_dedup" ->
      ("""WITH g AS MATERIALIZED (SELECT doc_id, doc_id % 25 AS gk,
         |    (doc_id % 3) * 4 AS base FROM documents),
         |cells AS MATERIALIZED (SELECT doc_id,
         |    x.range AS x, y.range AS y,
         |    base + ((x.range + 9 * y.range + gk + 1)
         |      * (x.range + 9 * y.range + gk + 1) * 13) % 150 AS lum
         |  FROM g, range(9) x, range(8) y),
         |bits AS MATERIALIZED (SELECT a.doc_id, a.y * 8 + a.x AS k
         |  FROM cells a JOIN cells b
         |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
         |  WHERE b.lum > a.lum),
         |cnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM documents d LEFT JOIN bits b USING (doc_id) GROUP BY 1),
         |pairs AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM documents n JOIN documents o
         |    ON n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
         |inter AS MATERIALIZED (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
         |    count(*) AS n
         |  FROM bits a JOIN bits b ON a.k = b.k
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |  GROUP BY 1, 2)
         |SELECT p.new_id, p.old_id,
         |  CAST(ca.c + cb.c - 2 * coalesce(i.n, 0) AS BIGINT) AS hamming
         |FROM pairs p
         |LEFT JOIN inter i ON i.new_id = p.new_id AND i.old_id = p.old_id
         |JOIN cnts ca ON ca.doc_id = p.new_id
         |JOIN cnts cb ON cb.doc_id = p.old_id
         |WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3
         |""".stripMargin),
    // q184: window energies align with amplitude steps (64 samples
    // each, every sample ±step height), so bit w = (step(w+1) energy >
    // step(w) energy) reduces to comparing the doc_id-arithmetic step
    // heights; the per-doc gain scales both sides by gain² and
    // cancels. Same hamming brute force as q182.
    "q184_audio_neardup" ->
      ("""WITH g AS MATERIALIZED (SELECT doc_id, doc_id % 20 AS gk FROM documents),
         |steps AS MATERIALIZED (SELECT doc_id, w.range AS w,
         |    ((w.range + gk * 5 + 1) * (w.range + gk * 5 + 1) * 7) % 97 AS amp
         |  FROM g, range(65) w),
         |bits AS MATERIALIZED (SELECT a.doc_id, a.w AS k
         |  FROM steps a JOIN steps b
         |    ON a.doc_id = b.doc_id AND b.w = a.w + 1
         |  WHERE b.amp > a.amp),
         |cnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM documents d LEFT JOIN bits b USING (doc_id) GROUP BY 1),
         |inter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n
         |  FROM bits a JOIN bits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.a_id, p.b_id,
         |  CAST(ca.c + cb.c - 2 * coalesce(i.n, 0) AS BIGINT) AS hamming
         |FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |      FROM documents a JOIN documents b ON a.doc_id < b.doc_id) p
         |LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |JOIN cnts ca ON ca.doc_id = p.a_id
         |JOIN cnts cb ON cb.doc_id = p.b_id
         |WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3
         |""".stripMargin),
    // q183: the q28 pattern — the sketch estimate stays internal; the
    // oracle replays the exact discrete order statistic (min v with
    // 100·cum >= tot·q over the distinct-value support) and the TRUE
    // bound literal. A sketch outside its published α would hash-fail.
    "q183_dd_quantiles" -> DD_QUANT_ORACLE,
    // q188: the MAINTAINED sketch table is bit-identical to q183's
    // one-shot sketch (addition-merged buckets, same bucketing code),
    // so the same exact-order-statistic oracle applies verbatim.
    "q188_quantile_sink" -> DD_QUANT_ORACLE,
    // q182: every doc's 9×8 gradient luma is pure doc_id arithmetic
    // (gray RGB → BT.601 luma is exact), so the bit set rebuilds as a
    // (doc, k) table — bit y·8+x set iff lum(x+1,y) > lum(x,y) — and
    // hamming(a, b) = |A| + |B| − 2·|A∩B| brute-forced over all pairs.
    // The banded engine join is lossless at ham ≤ 3, so the row sets
    // must agree exactly.
    // q197: the dihedral-canonical replay — the q182 luma arithmetic
    // rendered THROUGH the doc's own transform (rt), the 8-variant
    // 56-bit packing, the min, then an all-pairs xor/bit_count brute
    // force. The tf CTE is the ONE transform table; the engine's
    // Multimodal.dihedral composes exactly these maps.
    "q197_dihedral_dedup" ->
      ("""WITH g AS MATERIALIZED (SELECT doc_id, doc_id % 25 AS gk,
         |    (doc_id % 3) * 4 AS base, doc_id % 8 AS rt FROM documents),
         |tf AS MATERIALIZED (SELECT t.range AS t, x.range AS x, y.range AS y,
         |    CASE t.range WHEN 0 THEN x.range WHEN 1 THEN 7 - y.range
         |      WHEN 2 THEN 7 - x.range WHEN 3 THEN y.range
         |      WHEN 4 THEN 7 - x.range WHEN 5 THEN x.range
         |      WHEN 6 THEN y.range ELSE 7 - y.range END AS sx,
         |    CASE t.range WHEN 0 THEN y.range WHEN 1 THEN x.range
         |      WHEN 2 THEN 7 - y.range WHEN 3 THEN 7 - x.range
         |      WHEN 4 THEN y.range WHEN 5 THEN 7 - y.range
         |      WHEN 6 THEN x.range ELSE 7 - x.range END AS sy
         |  FROM range(8) t, range(8) x, range(8) y),
         |img AS MATERIALIZED (SELECT doc_id, f.x, f.y,
         |    base + ((f.sx + 9 * f.sy + gk + 1) * (f.sx + 9 * f.sy + gk + 1)
         |      * 13) % 150 AS lum
         |  FROM g JOIN tf f ON f.t = g.rt),
         |bits AS MATERIALIZED (SELECT i1.doc_id, a.t, a.y * 7 + a.x AS k
         |  FROM (SELECT * FROM tf WHERE x < 7) a
         |  JOIN tf b ON b.t = a.t AND b.y = a.y AND b.x = a.x + 1
         |  JOIN img i1 ON i1.x = a.sx AND i1.y = a.sy
         |  JOIN img i2 ON i2.doc_id = i1.doc_id AND i2.x = b.sx AND i2.y = b.sy
         |  WHERE i2.lum > i1.lum),
         |allt AS (SELECT doc_id, t.range AS t FROM documents, range(8) t),
         |hsh AS MATERIALIZED (SELECT a.doc_id, a.t,
         |    coalesce(sum(CAST(1 AS BIGINT) << b.k), 0) AS h
         |  FROM allt a LEFT JOIN bits b ON b.doc_id = a.doc_id AND b.t = a.t
         |  GROUP BY 1, 2),
         |canon AS MATERIALIZED (SELECT doc_id, CAST(min(h) AS BIGINT) AS ch
         |  FROM hsh GROUP BY 1)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.ch, b.ch)) AS BIGINT) AS hamming
         |FROM canon a JOIN canon b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ch, b.ch)) <= 3
         |""".stripMargin),
    "q182_image_dhash" ->
      ("""WITH g AS MATERIALIZED (SELECT doc_id, doc_id % 25 AS gk,
         |    (doc_id % 3) * 4 AS base FROM documents),
         |cells AS MATERIALIZED (SELECT doc_id,
         |    x.range AS x, y.range AS y,
         |    base + ((x.range + 9 * y.range + gk + 1)
         |      * (x.range + 9 * y.range + gk + 1) * 13) % 150 AS lum
         |  FROM g, range(9) x, range(8) y),
         |bits AS MATERIALIZED (SELECT a.doc_id, a.y * 8 + a.x AS k
         |  FROM cells a JOIN cells b
         |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
         |  WHERE b.lum > a.lum),
         |cnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM documents d LEFT JOIN bits b USING (doc_id) GROUP BY 1),
         |inter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n
         |  FROM bits a JOIN bits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.a_id, p.b_id,
         |  CAST(ca.c + cb.c - 2 * coalesce(i.n, 0) AS BIGINT) AS hamming
         |FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |      FROM documents a JOIN documents b ON a.doc_id < b.doc_id) p
         |LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |JOIN cnts ca ON ca.doc_id = p.a_id
         |JOIN cnts cb ON cb.doc_id = p.b_id
         |WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3
         |""".stripMargin),
    // q30: full winnow replay — base-257 polynomial k-gram hash
    // mod 2^64 from ascii() bytes, the xxHash64 single-long
    // finalizer unrolled in HUGEINT (& 2^64-1 wraps; + binds tighter
    // than & in DuckDB, hence the extra parens), unsigned window-min
    // over w = 4, distinct count + signed min per document. Index
    // ranges derive from each document's own length via scalar
    // range()+unnest (no fixture-size cap — any document length
    // replays, however long).
    "q30_winnow_fp" ->
      ("""WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents),
         |gi AS (SELECT doc_id, text,
         |    CAST(unnest(range(1, len - 6)) AS INT) AS i
         |  FROM d WHERE len >= 8),
         |grams AS MATERIALIZED (
         |  SELECT doc_id, i,
         |    (CAST(ascii(substr(text, i, 1)) AS HUGEINT) * 74051159531521793
         |     + ascii(substr(text, i + 1, 1)) * 288136807515649
         |     + ascii(substr(text, i + 2, 1)) * 1121154893057
         |     + ascii(substr(text, i + 3, 1)) * 4362470401
         |     + ascii(substr(text, i + 4, 1)) * 16974593
         |     + ascii(substr(text, i + 5, 1)) * 66049
         |     + ascii(substr(text, i + 6, 1)) * 257
         |     + ascii(substr(text, i + 7, 1))) & 18446744073709551615 AS g,
         |    ((((g >> 32) * 14029467366897019727) & 4294967295) * 4294967296
         |      + (g & 4294967295) * 14029467366897019727) & 18446744073709551615 AS m1,
         |    ((m1 & 8589934591) << 31) + (m1 >> 33) AS r1,
         |    ((((r1 >> 32) * 11400714785074694791) & 4294967295) * 4294967296
         |      + (r1 & 4294967295) * 11400714785074694791) & 18446744073709551615 AS m2,
         |    xor(CAST(2870177450012600311 AS HUGEINT), m2) AS x1,
         |    ((x1 & 137438953471) << 27) + (x1 >> 37) AS r2,
         |    ((((((r2 >> 32) * 11400714785074694791) & 4294967295) * 4294967296
         |      + (r2 & 4294967295) * 11400714785074694791) & 18446744073709551615)
         |      + 9650029242287828579) & 18446744073709551615 AS m3,
         |    xor(m3, m3 >> 33) AS x2,
         |    ((((x2 >> 32) * 14029467366897019727) & 4294967295) * 4294967296
         |      + (x2 & 4294967295) * 14029467366897019727) & 18446744073709551615 AS m4,
         |    xor(m4, m4 >> 29) AS x3,
         |    ((((x3 >> 32) * 1609587929392839161) & 4294967295) * 4294967296
         |      + (x3 & 4294967295) * 1609587929392839161) & 18446744073709551615 AS m5,
         |    xor(m5, m5 >> 32) AS fh
         |  FROM gi),
         |dn AS (SELECT doc_id, len - 7 AS n FROM d WHERE len >= 8),
         |wins AS (SELECT doc_id, n,
         |    CAST(unnest(range(1, greatest(1, n - 3) + 1)) AS INT) AS wi
         |  FROM dn),
         |wmin AS MATERIALIZED (SELECT w.doc_id, w.wi, min(g.fh) AS pick
         |  FROM wins w JOIN grams g ON g.doc_id = w.doc_id
         |    AND g.i BETWEEN w.wi AND w.wi + 3
         |  GROUP BY 1, 2),
         |agg AS (SELECT doc_id, count(DISTINCT pick) AS n_fp,
         |  min(CASE WHEN pick >= 9223372036854775808
         |      THEN pick - 18446744073709551616 ELSE pick END) AS fp_min
         |  FROM wmin GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(a.n_fp, 0) AS BIGINT) AS n_fp,
         |  CAST(a.fp_min AS BIGINT) AS fp_min
         |FROM d LEFT JOIN agg a USING (doc_id)
         |""".stripMargin),
    // q26: the portable ±1 planes replay directly — DuckDB rebuilds
    // every (table, bit) plane from the same MD5 low bit, packs the 8
    // sign bits per table with the same sequential dot product
    // (list_dot_product over the ordered ±1 list ≡ the expression's
    // accumulation loop), joins buckets, and re-ranks the IDENTICAL
    // candidate set with the rounded exact cosine.
    "q26_ann_topk" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |dims AS (SELECT unnest(range(len(e0.embedding))) AS i
         |  FROM (SELECT embedding FROM embeddings LIMIT 1) e0),
         |pl AS MATERIALIZED (SELECT t.range AS t, b.range AS b,
         |    list(CASE WHEN CAST('0x' || substr(md5(
         |          (42 + t.range) || ':' || b.range || ':' || dims.i),
         |        16, 1) AS INT) & 1 = 1
         |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
         |      ORDER BY dims.i) AS p
         |  FROM range(8) t, range(8) b, dims
         |  GROUP BY 1, 2),
         |sg AS MATERIALIZED (SELECT e.vec_id, pl.t,
         |    sum(CASE WHEN list_dot_product(e.v, pl.p) >= 0
         |        THEN 1 << pl.b ELSE 0 END) AS sig
         |  FROM e, pl GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id
         |  FROM sg p JOIN sg c ON p.t = c.t AND p.sig = c.sig
         |  WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id),
         |sc AS (SELECT cand.probe_id, cand.vec_id,
         |    list_cosine_similarity(ce.v, pe.v) AS sim
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |  JOIN e ce ON ce.vec_id = cand.vec_id)
         |SELECT probe_id, vec_id,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rk,
         |  round(sim, 4) + 0 AS sim_r
         |FROM sc QUALIFY rk <= 10
         |""".stripMargin),
    // q27: the portable MD5 token hash replays directly — DuckDB
    // parses each token's md5 prefix as a u64, rebuilds the 64 voting
    // bits per document, and brute-forces all pairs at hamming <= 3
    // via |A| + |B| - 2|A∩B| (the q182 pattern in token space).
    "q27_simhash_pairs" ->
      (s"""WITH doc0 AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
          |toks AS (SELECT doc_id, unnest($TOKS) AS tok FROM doc0),
          |hv AS MATERIALIZED (SELECT doc_id,
          |    CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS u FROM toks),
          |votes AS MATERIALIZED (SELECT doc_id, j.range AS j,
          |    sum(CASE WHEN (u >> CAST(j.range AS INT)) & 1 = 1
          |        THEN 1 ELSE -1 END) AS c
          |  FROM hv, range(64) j GROUP BY 1, 2),
          |bits AS MATERIALIZED (SELECT doc_id, j AS k FROM votes WHERE c > 0),
          |cnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
          |  FROM doc0 d LEFT JOIN bits b USING (doc_id) GROUP BY 1),
          |inter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    count(*) AS n
          |  FROM bits a JOIN bits b ON a.k = b.k AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT p.a_id, p.b_id,
          |  CAST(ca.c + cb.c - 2 * coalesce(i.n, 0) AS INT) AS hamming
          |FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
          |      FROM doc0 a JOIN doc0 b ON a.doc_id < b.doc_id) p
          |LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
          |JOIN cnts ca ON ca.doc_id = p.a_id
          |JOIN cnts cb ON cb.doc_id = p.b_id
          |WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3
          |""".stripMargin),
    // q139: the output exposes only frame-hash EQUALITY classes, and
    // the FNV input bytes are exactly (w, h, luma-fill) — so sharing
    // replays as tuple equality over the planted doc-length arithmetic
    // (w = n%11+2, h = n%9+2, frame k luma = (n+7k)%256, k <= n%6); a
    // hash collision in the engine would diverge and hash-fail.
    "q139_frame_dedup" ->
      ("""WITH d AS (SELECT doc_id, strlen(text) AS n FROM documents
         |  WHERE text IS NOT NULL),
         |f AS (SELECT doc_id, n % 11 + 2 AS w, n % 9 + 2 AS h,
         |    (n + k.range * 7) % 256 AS luma
         |  FROM d, range(6) k WHERE k.range <= n % 6),
         |pd AS (SELECT doc_id, count(*) AS n_frames FROM f GROUP BY 1),
         |sh AS (SELECT w, h, luma
         |  FROM (SELECT DISTINCT doc_id, w, h, luma FROM f)
         |  GROUP BY 1, 2, 3 HAVING count(*) >= 2),
         |sp AS (SELECT f.doc_id, count(*) AS n_shared
         |  FROM f JOIN sh USING (w, h, luma) GROUP BY 1)
         |SELECT pd.doc_id, CAST(pd.n_frames AS BIGINT) AS n_frames,
         |  CAST(coalesce(sp.n_shared, 0) AS BIGINT) AS n_shared,
         |  round(CAST(coalesce(sp.n_shared, 0) AS DOUBLE) / pd.n_frames, 6)
         |    + 0 AS shared_ratio
         |FROM pd LEFT JOIN sp USING (doc_id)
         |""".stripMargin),
    // q187: both modalities' bit sets replay arithmetically (the q182
    // luma CTE over even ids, the q184 step-energy CTE over odd ids),
    // each modality brute-forces its ham <= 3 pairs, and the q37
    // recursive closure labels components; exact byte classes rebuild
    // as distinct render-parameter pairs (the renderers are injective
    // in their parameters).
    "q187_media_dedup_pipeline" ->
      ("""WITH RECURSIVE
         |ig AS (SELECT doc_id, doc_id % 25 AS gk, (doc_id % 3) * 4 AS base
         |  FROM documents WHERE doc_id % 2 = 0),
         |icells AS MATERIALIZED (SELECT doc_id, x.range AS x, y.range AS y,
         |    base + ((x.range + 9 * y.range + gk + 1)
         |      * (x.range + 9 * y.range + gk + 1) * 13) % 150 AS lum
         |  FROM ig, range(9) x, range(8) y),
         |ibits AS MATERIALIZED (SELECT a.doc_id, a.y * 8 + a.x AS k
         |  FROM icells a JOIN icells b
         |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
         |  WHERE b.lum > a.lum),
         |icnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM ig d LEFT JOIN ibits b USING (doc_id) GROUP BY 1),
         |iinter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n
         |  FROM ibits a JOIN ibits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ipairs AS (SELECT p.a_id, p.b_id
         |  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |        FROM ig a JOIN ig b ON a.doc_id < b.doc_id) p
         |  LEFT JOIN iinter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |  JOIN icnts ca ON ca.doc_id = p.a_id
         |  JOIN icnts cb ON cb.doc_id = p.b_id
         |  WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3),
         |ag AS (SELECT doc_id, doc_id % 20 AS gk FROM documents
         |  WHERE doc_id % 2 = 1),
         |asteps AS MATERIALIZED (SELECT doc_id, w.range AS w,
         |    ((w.range + gk * 5 + 1) * (w.range + gk * 5 + 1) * 7) % 97 AS amp
         |  FROM ag, range(65) w),
         |abits AS MATERIALIZED (SELECT a.doc_id, a.w AS k
         |  FROM asteps a JOIN asteps b ON a.doc_id = b.doc_id AND b.w = a.w + 1
         |  WHERE b.amp > a.amp),
         |acnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM ag d LEFT JOIN abits b USING (doc_id) GROUP BY 1),
         |ainter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n
         |  FROM abits a JOIN abits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |apairs AS (SELECT p.a_id, p.b_id
         |  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |        FROM ag a JOIN ag b ON a.doc_id < b.doc_id) p
         |  LEFT JOIN ainter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |  JOIN acnts ca ON ca.doc_id = p.a_id
         |  JOIN acnts cb ON cb.doc_id = p.b_id
         |  WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3),
         |pairs AS (SELECT a_id, b_id FROM ipairs
         |  UNION ALL SELECT a_id, b_id FROM apairs),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs
         |  UNION SELECT doc_id, doc_id FROM documents),
         |reach(a, b) AS (SELECT src, dst FROM edges
         |  UNION SELECT e.src, r.b FROM edges e JOIN reach r ON e.dst = r.a),
         |comp AS (SELECT a AS doc_id, min(b) AS survivor_id FROM reach GROUP BY a)
         |SELECT survivor_id,
         |  CASE WHEN survivor_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(DISTINCT CASE WHEN doc_id % 2 = 0
         |    THEN doc_id % 25 * 10 + doc_id % 3
         |    ELSE doc_id % 20 * 10 + doc_id % 4 END) AS BIGINT) AS n_exact_classes
         |FROM comp GROUP BY 1, 2
         |""".stripMargin),
    // q180: the Q18 semi-join under the same DECIMAL(18,2) sum path;
    // (totalprice, date, orderkey) is a total order so LIMIT is stable.
    "q180_tpch_q18" ->
      ("""SELECT c_name, c_custkey, o_orderkey,
         |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         |FROM customer, orders, lineitem
         |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY 1
         |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
         |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
         |""".stripMargin),
    // q181: the Q21 EXISTS / NOT EXISTS self-join geometry with
    // l_returnflag = 'R' as the failure mark (no commit/receipt dates
    // in the fixture schema).
    "q181_tpch_q21" ->
      ("""WITH l1 AS (SELECT l_orderkey, l_suppkey FROM lineitem
         |  WHERE l_returnflag = 'R')
         |SELECT s_name, count(*) AS numwait
         |FROM l1
         |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
         |JOIN supplier ON s_suppkey = l1.l_suppkey
         |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
         |WHERE EXISTS (SELECT 1 FROM lineitem l2
         |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
         |    WHERE l3.l_returnflag = 'R' AND l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey)
         |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100
         |""".stripMargin),
    "q179_tpch_q5" ->
      ("""SELECT n_name,
         |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
         |    AS DECIMAL(28,6))) AS DOUBLE), 2) + 0 AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1
         |""".stripMargin),
    // q177: (source, lang) counts, one p·ln p per cell through the
    // decimal path.
    "q177_lang_entropy" ->
      ("""WITH c AS (SELECT source, lang, count(*) AS n FROM documents
         |  WHERE lang IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT source, sum(n) AS total FROM c GROUP BY 1)
         |SELECT c.source, CAST(count(*) AS BIGINT) AS n_classes,
         |  round(CAST(sum(CAST(-(CAST(n AS DOUBLE) / total *
         |    ln(CAST(n AS DOUBLE) / total)) AS DECIMAL(18,9))) AS DOUBLE), 6) + 0
         |    AS entropy
         |FROM c JOIN t USING (source) GROUP BY 1
         |""".stripMargin),
    // q178: the classic Q3 join tree, revenue through DECIMAL(28,6),
    // rounded rank with date + key tie-breaks.
    // q198: the bucketed layout changes the PLAN, never the answer —
    // the oracle is the plain join/aggregate over the original tables
    "q198_bucket_join" ->
      ("""SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
         |  round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
         |    AS DECIMAL(28,6))) AS DOUBLE), 2) + 0 AS revenue
         |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |GROUP BY 1
         |""".stripMargin),
    "q199_bucket_lookup" ->
      ("""SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
         |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
         |    AS DECIMAL(28,6))) AS DOUBLE), 2) + 0 AS revenue
         |FROM lineitem WHERE l_orderkey IN (1, 7, 32) GROUP BY 1
         |""".stripMargin),
    "q178_tpch_q3" ->
      ("""WITH j AS (SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
         |  CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,6)) AS r
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  WHERE c.c_mktsegment = 'BUILDING'
         |    AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
         |    AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'),
         |g AS (SELECT l_orderkey, round(CAST(sum(r) AS DOUBLE), 2) + 0 AS revenue,
         |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
         |  FROM j GROUP BY l_orderkey, j.o_orderdate, o_orderpriority)
         |SELECT l_orderkey, revenue, o_orderdate, o_orderpriority FROM g
         |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10
         |""".stripMargin),
    // q175: q18's rounded score, ntile(10) over (score desc, id), k-row
    // cumulative window.
    "q175_lorenz" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS ntok,
          |  round(least(CAST(1.0 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE)) *
          |        (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) + 0 AS score
          |  FROM t),
          |b AS (SELECT ntok,
          |  CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS decile
          |  FROM s),
          |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(ntok) AS BIGINT) AS n_tokens FROM b GROUP BY 1),
          |tot AS (SELECT sum(n_tokens) AS tt FROM g)
          |SELECT decile, n_docs, n_tokens,
          |  round(CAST(sum(n_tokens) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
          |    AS DOUBLE) / tt, 6) + 0 AS cum_token_share
          |FROM g CROSS JOIN tot
          |""".stripMargin),
    // q176: the q37 component CTE + per-survivor sizes + size counts.
    "q176_cluster_sizes" ->
      (s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT a_id, b_id FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7),
          |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION SELECT b_id, a_id FROM pairs
          |  UNION SELECT doc_id, doc_id FROM documents),
          |reach(a, b) AS (SELECT src, dst FROM edges
          |  UNION SELECT e.src, r.b FROM edges e JOIN reach r ON e.dst = r.a),
          |comp AS (SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a),
          |cs AS (SELECT rep, CAST(count(*) AS BIGINT) AS cluster_size
          |  FROM comp GROUP BY 1)
          |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
          |FROM cs GROUP BY 1
          |""".stripMargin),
    // q173: whitespace tf/df replay, tf·ln(N/df) at 4 places, rank
    // window per doc.
    "q173_keywords" ->
      ("""WITH tk AS (SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(trim(lower(text)), '[ \t\n\f\r]+'),
         |    x -> x <> '')) AS token FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk GROUP BY 1, 2),
         |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, token,
         |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) + 0 AS tfidf
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tfidf, rk FROM (SELECT doc_id, token, tfidf,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rk
         |  FROM sc) WHERE rk <= 3
         |""".stripMargin),
    // q174: dedup (user,type), pair self-join on the user, exact
    // support/lift ratios.
    "q174_associations" ->
      ("""WITH ki AS (SELECT DISTINCT user_id AS k, event_type AS i FROM events
         |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         |itn AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM ki GROUP BY 1),
         |nk AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS nk FROM ki),
         |p AS (SELECT x.i AS item_a, y.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM ki x JOIN ki y ON x.k = y.k AND x.i < y.i GROUP BY 1, 2)
         |SELECT item_a, item_b, a.n AS n_a, b.n AS n_b, n_ab,
         |  round(CAST(n_ab AS DOUBLE) / nk.nk, 6) + 0 AS support,
         |  round(CAST(nk.nk AS DOUBLE) * n_ab / (CAST(a.n AS DOUBLE) * b.n), 6) + 0
         |    AS lift
         |FROM p JOIN itn a ON p.item_a = a.i JOIN itn b ON p.item_b = b.i
         |CROSS JOIN nk
         |""".stripMargin),
    // q172: the exact-pair CTE at 3/10 + the same squaring chain
    // (j² → j⁴; (1−j⁴) squared five times → ^32), decimal bucket means.
    "q172_lsh_planner" ->
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT CAST(inter AS DOUBLE) / (tot - inter) AS jac FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 3),
          |cap AS (SELECT least(9, CAST(floor(jac * 10) AS BIGINT)) AS j_bucket,
          |  CAST(1.0 AS DOUBLE) - power_chain AS c FROM (
          |    SELECT jac, t16 * t16 AS power_chain FROM (
          |      SELECT jac, t8 * t8 AS t16 FROM (
          |        SELECT jac, t4 * t4 AS t8 FROM (
          |          SELECT jac, t2 * t2 AS t4 FROM (
          |            SELECT jac, t1 * t1 AS t2 FROM (
          |              SELECT jac, CAST(1.0 AS DOUBLE) - (jac * jac) * (jac * jac) AS t1
          |              FROM pairs))))))),
          |b AS (SELECT j_bucket, count(*) AS n,
          |  sum(CAST(c AS DECIMAL(18,9))) AS sc FROM cap GROUP BY 1)
          |SELECT j_bucket, CAST(n AS BIGINT) AS n_pairs,
          |  round(CAST(sc AS DOUBLE) / n, 6) + 0 AS capture_mean
          |FROM b
          |""".stripMargin),
    // q171: the exact-pair CTE + source lookups, unordered pair keys.
    "q171_dup_sources" ->
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT a_id, b_id FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7),
          |m AS (SELECT least(da.source, db.source) AS src_a,
          |  greatest(da.source, db.source) AS src_b
          |  FROM pairs JOIN documents da ON pairs.a_id = da.doc_id
          |  JOIN documents db ON pairs.b_id = db.doc_id)
          |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
          |FROM m GROUP BY 1, 2
          |""".stripMargin),
    // q170: octet_length bytes over the q134 BPE-ish token regex.
    "q170_bytes_per_tok" ->
      ("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
         |  CAST(sum(len(regexp_extract_all(text,
         |    ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+'))) AS BIGINT) AS n_tokens,
         |  CASE WHEN sum(len(regexp_extract_all(text,
         |    ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+'))) > 0
         |    THEN round(CAST(sum(strlen(text)) AS DOUBLE) /
         |      sum(len(regexp_extract_all(text,
         |        ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+'))), 6) + 0
         |    ELSE NULL END AS bytes_per_token
         |FROM documents GROUP BY 1
         |""".stripMargin),
    // q168: q37's component closure, survivors flagged back onto the
    // doc table, token sums per source.
    "q168_dedup_savings" ->
      (s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id),
          |pairs AS (SELECT a_id, b_id FROM p0
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7),
          |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION SELECT b_id, a_id FROM pairs
          |  UNION SELECT doc_id, doc_id FROM documents),
          |reach(a, b) AS (SELECT src, dst FROM edges
          |  UNION SELECT e.src, r.b FROM edges e JOIN reach r ON e.dst = r.a),
          |surv AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) = a),
          |t AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS tok FROM toks
          |  JOIN documents USING (doc_id))
          |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_kept,
          |  CAST(sum(tok) AS BIGINT) AS n_tokens,
          |  CAST(sum(CASE WHEN surv.doc_id IS NOT NULL THEN tok ELSE 0 END) AS BIGINT)
          |    AS n_tokens_kept,
          |  CASE WHEN sum(tok) > 0 THEN round(1.0 -
          |    CAST(sum(CASE WHEN surv.doc_id IS NOT NULL THEN tok ELSE 0 END) AS DOUBLE)
          |      / sum(tok), 6) + 0 ELSE NULL END AS token_savings
          |FROM t LEFT JOIN surv USING (doc_id)
          |GROUP BY 1
          |""".stripMargin),
    // q167: day-index OLS closed form — exact decimal component sums,
    // the q73 recipe, single-day groups null out.
    "q167_trend" ->
      ("""WITH b AS (SELECT event_type AS k, CAST(ts AS DATE) AS d, value AS y
         |  FROM events WHERE ts IS NOT NULL AND year(ts) <> 1970
         |    AND value IS NOT NULL AND NOT isnan(value)),
         |a AS (SELECT min(d) AS mind FROM b),
         |t AS (SELECT k, CAST(date_diff('day', mind, d) AS BIGINT) AS x, y
         |  FROM b CROSS JOIN a),
         |g AS (SELECT k, count(*) AS n,
         |  CAST(sum(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         |  CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         |  CAST(sum(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
         |  CAST(sum(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy
         |  FROM t GROUP BY 1)
         |SELECT k AS event_type, CAST(n AS BIGINT) AS n,
         |  CASE WHEN n * sxx - sx * sx <> 0.0
         |    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0
         |    ELSE NULL END AS slope,
         |  round(sy / n, 6) + 0 AS mean_v
         |FROM g
         |""".stripMargin),
    // q165: brute-force mirrored pair table + rank window — the prefix
    // filter is lossless, so the quadratic SQL is the oracle.
    "q165_jaccard_knn" ->
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh0 AS (SELECT doc_id, ${shinglesSql("tk")} AS s FROM toks),
          |sh AS (SELECT doc_id, s FROM sh0 WHERE len(s) > 0),
          |p AS (SELECT a.doc_id AS id, b.doc_id AS nbr,
          |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
          |  CAST(len(a.s) + len(b.s) AS BIGINT) AS tot
          |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id),
          |pairs AS (SELECT id, nbr, inter,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac FROM p
          |  WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 3)
          |SELECT id AS doc_id, nbr, jac, rk FROM (SELECT id, nbr, jac,
          |  row_number() OVER (PARTITION BY id ORDER BY jac DESC, nbr ASC) AS rk
          |  FROM pairs) WHERE rk <= 5
          |""".stripMargin),
    // q166: the scoring pass ordered by integer distance from the
    // boundary, id tie-break, k-row cut.
    "q166_uncertainty" ->
      (s"""$QC_TRAIN_CTE,
         |z4 AS (SELECT f.doc_id, sum(f.x * w3.w) AS z
         |  FROM f JOIN w3 USING (j) GROUP BY 1),
         |sc AS (SELECT lab.doc_id,
         |  greatest(-2000000, least(2000000, coalesce(z4.z, 0))) AS zc
         |  FROM lab LEFT JOIN z4 USING (doc_id)),
         |pp AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  CAST((2000000 + zc) // 4 AS BIGINT) AS p_units FROM sc)
         |SELECT id, p_units, CAST(abs(p_units - 500000) AS BIGINT) AS margin_units
         |FROM pp ORDER BY margin_units ASC, id ASC LIMIT 50
         |""".stripMargin),
    // q164: q82's bigram stream + KN terms — context totals,
    // fan-out/continuation type counts, D = 3/4, ln-parity decimals.
    "q164_kn_surprisal" ->
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |b AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS prev,
          |  unnest(tk[2:len(tk)]) AS cur FROM t WHERE len(tk) >= 2),
          |cb AS (SELECT prev, cur, count(*) AS cbg FROM b GROUP BY 1, 2),
          |cx AS (SELECT prev, sum(cbg) AS cprefix, count(*) AS n1fw
          |  FROM cb GROUP BY 1),
          |co AS (SELECT cur, count(*) AS contw FROM cb GROUP BY 1),
          |ty AS (SELECT count(*) AS types FROM cb),
          |pr AS (SELECT cb.prev, cb.cur,
          |  CAST(-ln((CAST(cbg AS DOUBLE) - 0.75) / cprefix
          |    + 0.75 * CAST(n1fw AS DOUBLE) / cprefix
          |      * (CAST(contw AS DOUBLE) / types)) AS DECIMAL(18,9)) AS s
          |  FROM cb JOIN cx USING (prev) JOIN co USING (cur) CROSS JOIN ty)
          |SELECT doc_id,
          |  round(CAST(sum(s) AS DOUBLE) / count(*), 6) + 0 AS kn_surprisal,
          |  count(*) AS n_bigrams
          |FROM b JOIN pr USING (prev, cur)
          |GROUP BY doc_id
          |""".stripMargin),
    // q163: the scoring pass collapsed per distinct score, U2 in exact
    // integers (HUGEINT side / DECIMAL(38,0) engine side), one IEEE
    // division each for AUC and Brier.
    "q163_auc" ->
      (s"""$QC_TRAIN_CTE,
         |z4 AS (SELECT f.doc_id, sum(f.x * w3.w) AS z
         |  FROM f JOIN w3 USING (j) GROUP BY 1),
         |sc AS (SELECT lab.doc_id, CAST(lab.y AS BIGINT) AS y,
         |  greatest(-2000000, least(2000000, coalesce(z4.z, 0))) AS zc
         |  FROM lab LEFT JOIN z4 USING (doc_id)),
         |pp AS (SELECT y, (2000000 + zc) // 4 AS p FROM sc),
         |s2 AS (SELECT p, sum(y) AS np, sum(1 - y) AS nn FROM pp GROUP BY 1),
         |c2 AS (SELECT p, np, nn,
         |  sum(nn) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) - nn AS cumn FROM s2),
         |ag AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  sum(np * (2 * cumn + nn)) AS u2,
         |  sum(CAST((CAST(p AS DOUBLE) / 1000000 - 1.0)
         |    * (CAST(p AS DOUBLE) / 1000000 - 1.0) * np
         |    + (CAST(p AS DOUBLE) / 1000000) * (CAST(p AS DOUBLE) / 1000000) * nn
         |    AS DECIMAL(28,9))) AS bs
         |  FROM c2)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0
         |    THEN round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) + 0
         |    ELSE NULL END AS auc,
         |  CASE WHEN n_pos + n_neg > 0
         |    THEN round(CAST(bs AS DOUBLE) / (n_pos + n_neg), 6) + 0
         |    ELSE NULL END AS brier
         |FROM ag
         |""".stripMargin),
    // q162: q150's scoring pass bucketed by integer division of
    // p_units — reliability cells with IEEE mean/rate divisions.
    "q162_calibration" ->
      (s"""$QC_TRAIN_CTE,
         |z4 AS (SELECT f.doc_id, sum(f.x * w3.w) AS z
         |  FROM f JOIN w3 USING (j) GROUP BY 1),
         |sc AS (SELECT lab.doc_id, lab.y,
         |  greatest(-2000000, least(2000000, coalesce(z4.z, 0))) AS zc
         |  FROM lab LEFT JOIN z4 USING (doc_id)),
         |pp AS (SELECT y, (2000000 + zc) // 4 AS p FROM sc),
         |bk AS (SELECT least(9, p // 100000) AS bucket, count(*) AS n,
         |  sum(p) AS sp, sum(y) AS sy FROM pp GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n_docs,
         |  round(CAST(sp AS DOUBLE) / n / 1000000, 6) + 0 AS mean_p,
         |  round(CAST(sy AS DOUBLE) / n, 6) + 0 AS pos_rate
         |FROM bk
         |""".stripMargin),
    // q149: DSIR replay — same md5 feature hash as q148, bucket
    // log-ratios frozen to integer 1e-6 units with the identical
    // operation order (double division of exact longs, ln, difference,
    // x1e6, half-away-from-zero), then a pure-BIGINT per-doc sum.
    "q149_dsir_select" ->
      (s"""WITH raw AS (SELECT doc_id, $TOKS AS tk FROM documents
          |  WHERE source <> 'src0'),
          |rj AS (SELECT doc_id,
          |  CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 256 AS j
          |  FROM (SELECT doc_id, unnest(tk) AS tok FROM raw)),
          |tgt AS (SELECT $TOKS AS tk FROM documents WHERE source = 'src0'),
          |tj AS (SELECT
          |  CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 256 AS j
          |  FROM (SELECT unnest(tk) AS tok FROM tgt)),
          |cr AS (SELECT j, count(*) AS c FROM rj GROUP BY 1),
          |ct AS (SELECT j, count(*) AS c FROM tj GROUP BY 1),
          |tot AS (SELECT (SELECT count(*) FROM rj) AS tr,
          |               (SELECT count(*) FROM tj) AS tt),
          |grid AS (SELECT CAST(range AS BIGINT) AS j FROM range(256)),
          |s AS (SELECT g.j, CAST(round(
          |    (ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE) /
          |        CAST(tot.tt + 256 AS DOUBLE)) -
          |     ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE) /
          |        CAST(tot.tr + 256 AS DOUBLE))) * 1000000) AS BIGINT) AS su
          |  FROM grid g LEFT JOIN ct ON g.j = ct.j
          |  LEFT JOIN cr ON g.j = cr.j CROSS JOIN tot),
          |w AS (SELECT rj.doc_id, count(*) AS n_tokens, sum(s.su) AS units
          |  FROM rj JOIN s USING (j) GROUP BY 1),
          |r AS (SELECT doc_id, n_tokens, units,
          |  row_number() OVER (ORDER BY units DESC, doc_id) AS sel_rank FROM w)
          |SELECT doc_id AS id, CAST(n_tokens AS BIGINT) AS n_tokens,
          |  round(CAST(units AS DOUBLE) / 1000000, 6) + 0 AS logw_r,
          |  CAST(sel_rank AS BIGINT) AS sel_rank
          |FROM r WHERE sel_rank <= 100
          |""".stripMargin))
}
