package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NumFunctions, TextFunctions}

/** Registry family: training-corpus curation — quality scores, sampling,
  * splits, mixtures, packing and chunking, filter funnels,
  * decontamination and per-source datasheets.
  */
private[graft] object CorpusQueries extends Family {

  /** Q18 — quality scoring (length credit × lexical diversity). */
  def q18(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    docs(s, d).select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      NumFunctions.roundNz(TextFunctions.typeTokenRatio(toks), 6).as("ttr"),
      TextFunctions.qualityScore(toks).as("score"))
  }
  query("q18_quality_score", q18,
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
          |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
          |  round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) + 0 AS ttr,
          |  round(least(CAST(1.0 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE)) *
          |        (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) + 0 AS score
          |FROM t
          |""".stripMargin))

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
  query("q58_pack_bins", q58,
      (s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n FROM documents),
          |o AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM t)
          |SELECT CAST(off // 512 AS BIGINT) AS bin, count(*) AS n_docs,
          |  CAST(sum(n) AS BIGINT) AS bin_tokens,
          |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
          |FROM o GROUP BY 1
          |""".stripMargin))

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
  query("q59_decontaminate", q59,
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, source, ${shinglesSql("tk")} AS s FROM toks),
          |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src0'),
          |t AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src0')
          |SELECT t.doc_id, count(*) AS n_shared
          |FROM t JOIN b USING (g) GROUP BY 1
          |""".stripMargin))

  /** Q62 — epoch-weighted oversampling
    * ([[graft.operators.Corpus.reweight]]): src0 docs replicated ×3
    * (copy index 1..3), everything else ×1 — the deterministic
    * training-mix reweight. Map-side explode, no shuffle.
    */
  def q62(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.reweight(
      docs(s, d).select(col("doc_id"), col("source")),
      when(col("source") === "src0", 3).otherwise(1))
  query("q62_reweight", q62,
      ("""SELECT doc_id, source,
         |  unnest(generate_series(1, CASE WHEN source = 'src0' THEN 3 ELSE 1 END)) AS copy
         |FROM documents
         |""".stripMargin))

  /** Q63 — content-addressed train/val/test split
    * ([[graft.operators.Corpus.splitAssign]]): md5-bucketed, stable
    * under repartitioning and rerun — eval rows can never leak into
    * training across reruns. Map-side, no shuffle.
    */
  def q63(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.splitAssign(
      docs(s, d).select(col("doc_id")), "doc_id", salt = "graft")
  query("q63_split_assign", q63,
      ("""SELECT doc_id, CASE
         |  WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
         |  WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f6' THEN 'val'
         |  ELSE 'test' END AS split
         |FROM documents
         |""".stripMargin))

  /** Q64 — context-window chunking ([[graft.operators.Corpus.chunk]]):
    * 16-token windows every 12 tokens (overlap 4). The 1→k explode is
    * map-side; chunk sizes are arithmetic on the token count.
    */
  def q64(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.chunk(
      docs(s, d), "doc_id", TextFunctions.tokenCount(col("text")),
      size = 16, stride = 12)
  query("q64_chunk", q64,
      (s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n FROM documents
          |  WHERE len($TOKS) > 0),
          |c AS (SELECT doc_id, n, unnest(generate_series(0, (n - 1) // 12)) AS chunk_idx FROM t)
          |SELECT doc_id, chunk_idx, least(16, n - chunk_idx * 12) AS chunk_tokens FROM c
          |""".stripMargin))

  /** Q78 — deterministic corpus shuffle
    * ([[graft.operators.Corpus.shuffleOrder]]): every document's stable
    * pseudo-random training position — md5-keyed order, rank via the
    * distributed two-level machinery. Oracle: `row_number()` over the
    * identical md5 ordering in DuckDB.
    */
  def q78(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.shuffleOrder(
      docs(s, d).select(col("doc_id")), "doc_id", salt = "graft")
  query("q78_corpus_shuffle", q78,
      ("""SELECT doc_id, CAST(row_number() OVER (
         |  ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
         |  AS shuffle_rank
         |FROM documents
         |""".stripMargin))

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
  query("q79_weighted_sample", q79,
      (s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens
          |  FROM documents)
          |SELECT doc_id, n_tokens FROM t
          |WHERE n_tokens / 200.0 >= 1.0
          |   OR substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4)
          |      < printf('%04x', CAST(floor(
          |          least(1.0, greatest(0.0, n_tokens / 200.0)) * 65536) AS INT))
          |""".stripMargin))

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
  query("q85_temperature_mix", q85,
      ("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |t AS (SELECT sum(n_docs) AS n FROM c),
         |s AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) / n AS share,
         |  pow(CAST(n_docs AS DOUBLE) / n, 0.3) AS pa FROM c CROSS JOIN t),
         |z AS (SELECT sum(pa) AS z FROM s)
         |SELECT lang, n_docs, round(share, 6) + 0 AS share,
         |  round(pa / z, 6) + 0 AS weight,
         |  CAST(round(round(pa / z, 6) * n, 0) AS BIGINT) AS expected_docs
         |FROM s CROSS JOIN z CROSS JOIN t
         |""".stripMargin))

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
  query("q88_prep_pipeline", q88,
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
          |""".stripMargin))

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
  // q104 = q59's semantics through the Bloom-prefiltered path; the
  // bloom only prunes candidates ahead of the exact confirm join, so
  // the oracle is identical.
  query("q104_bloom_decontam", q104,
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, source, ${shinglesSql("tk")} AS s FROM toks),
          |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src0'),
          |t AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src0')
          |SELECT t.doc_id, count(*) AS n_shared
          |FROM t JOIN b USING (g) GROUP BY 1
          |""".stripMargin))

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
  query("q113_datasheet", q113,
      (s"""SELECT source, count(*) AS n_docs,
          |  CAST(sum(len($TOKS)) AS BIGINT) AS n_tokens,
          |  round(CAST(sum(len($TOKS)) AS DOUBLE) / count(*), 6) + 0 AS mean_tokens,
          |  count(DISTINCT lang) AS n_langs,
          |  count(*) - count(DISTINCT md5(lower(regexp_replace(trim(text),
          |    '[ \t\n\f\r]+', ' ', 'g')))) AS n_exact_dups
          |FROM documents GROUP BY source
          |""".stripMargin))

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
  query("q118_blocklist", q118,
      (s"""WITH f AS (SELECT source,
          |  CASE WHEN list_has_any($TOKS_LOWER, ['dup', 'xyzzy'])
          |       THEN 1 ELSE 0 END AS hit FROM documents)
          |SELECT source, count(*) AS n_docs, CAST(sum(hit) AS BIGINT) AS n_flagged,
          |  round(CAST(sum(hit) AS DOUBLE) / count(*), 6) + 0 AS flag_rate
          |FROM f GROUP BY 1
          |""".stripMargin))

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
  // q119: the prefix cut is over the ROUNDED score (both engines
  // round before ordering, so equal-bit doubles order identically)
  // with doc_id as the total tie-break.
  query("q119_token_budget", q119,
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
          |""".stripMargin))

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
  query("q120_hash_sample", q120,
      ("""WITH r AS (SELECT doc_id, source, lang,
         |  md5(CAST(doc_id AS VARCHAR)) AS sample_key
         |  FROM documents ORDER BY sample_key LIMIT 100)
         |SELECT doc_id, source, lang, sample_key,
         |  CAST(row_number() OVER (ORDER BY sample_key) AS BIGINT) AS sample_rank
         |FROM r
         |""".stripMargin))

  /** Q124 — curation filter funnel
    * ([[graft.operators.Corpus.filterFunnel]]): the C4/Gopher gate
    * sequence (token bounds → repetition → quality → language) as a
    * per-stage waterfall. Map-side flags; the only shuffle is one
    * 6-counter aggregate row.
    */
  def q124(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.filterFunnel(docs(s, d), "doc_id", "text")
  // q124: every threshold is an integer comparison (no float
  // boundary); the language CASE is q19's fragment verbatim
  query("q124_filter_funnel", q124,
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
          |""".stripMargin))

  /** Q125 — context-window chunking
    * ([[graft.operators.Corpus.chunkWindows]]): 32-token training
    * windows stepping by 24 (8-token overlap) — documents → fixed-size
    * examples. Pure map-side explode, zero exchanges (plan-gated).
    */
  def q125(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.chunkWindows(docs(s, d), "doc_id", "text",
      window = 32, stride = 24)
  // q125: chunk count 1 + ceil(max(0, n-32)/24) via integer division;
  // DuckDB list slice tk[a:b] is 1-based inclusive and clamps, same
  // as Spark's slice(tk, a, len)
  query("q125_chunk_windows", q125,
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
          |""".stripMargin))

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
  // q126: thresholds ⌊0.75·16⁶⌋ = c00000 and ⌊0.25·16⁶⌋ = 400000;
  // fixed-width hex compares lexicographically ⟺ numerically
  query("q126_mixture_sample", q126,
      ("""WITH k AS (SELECT doc_id, source,
         |  md5('mix:' || CAST(doc_id AS VARCHAR)) AS sample_key
         |  FROM documents)
         |SELECT doc_id, source, sample_key FROM k
         |WHERE substr(sample_key, 1, 6) <
         |  (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
         |    THEN 'c00000' ELSE '400000' END)
         |""".stripMargin))

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
  query("q127_source_cap", q127,
      (s"""WITH t AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sc AS (SELECT doc_id, source,
          |  round(least(CAST(1.0 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE)) *
          |        (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)), 6) + 0 AS score
          |  FROM t),
          |r AS (SELECT doc_id, source, score,
          |  CAST(row_number() OVER (PARTITION BY source
          |    ORDER BY score DESC, doc_id) AS BIGINT) AS cap_rank FROM sc)
          |SELECT doc_id, source, score, cap_rank FROM r WHERE cap_rank <= 15
          |""".stripMargin))

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
  query("q137_curriculum", q137,
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
          |""".stripMargin))

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
  query("q138_thr_sweep", q138,
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
          |""".stripMargin))

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
  // q149: DSIR replay — same md5 feature hash as q148, bucket
  // log-ratios frozen to integer 1e-6 units with the identical
  // operation order (double division of exact longs, ln, difference,
  // x1e6, half-away-from-zero), then a pure-BIGINT per-doc sum.
  query("q149_dsir_select", q149,
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
  query("q196_decontam_audit", q196, q196OracleSql)

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

  /** Q177 — per-source language entropy
    * ([[graft.operators.Corpus.classEntropy]]): Shannon diversity of
    * each source's language mix — 0 = monoculture, ln(k) = uniform
    * over k; the datasheet companion to q121's raw shares. Decimal
    * p·ln p path.
    */
  def q177(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.classEntropy(docs(s, d), "source", "lang")
  // q177: (source, lang) counts, one p·ln p per cell through the
  // decimal path.
  query("q177_lang_entropy", q177,
      ("""WITH c AS (SELECT source, lang, count(*) AS n FROM documents
         |  WHERE lang IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT source, sum(n) AS total FROM c GROUP BY 1)
         |SELECT c.source, CAST(count(*) AS BIGINT) AS n_classes,
         |  round(CAST(sum(CAST(-(CAST(n AS DOUBLE) / total *
         |    ln(CAST(n AS DOUBLE) / total)) AS DECIMAL(18,9))) AS DOUBLE), 6) + 0
         |    AS entropy
         |FROM c JOIN t USING (source) GROUP BY 1
         |""".stripMargin))

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
  query("q202_decontam_clean", q202, q202OracleSql)

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
  // q207: span-corruption plan — the same md5 anchor/length gates
  // over unnested token positions, the q202-style window interval
  // merge (touching spans coalesce: new group only when s > pmax),
  // then per-doc counts
  query("q207_span_corruption", q207,
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
          |""".stripMargin))

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
  query("q210_mixture_alloc", q210, q210OracleSql)

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
  // q153: q37's component replay + q63's split predicate on the rep.
  query("q153_leakfree_split", q153,
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
          |""".stripMargin))

  /** Q141 — stratified deterministic sample
    * ([[graft.operators.Corpus.hashSamplePerGroup]]): the 10
    * smallest-md5 documents from EVERY source — q120's rerun-stable
    * uniform draw with the stratum guarantee an eval build needs. One
    * keyed window.
    */
  def q141(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.hashSamplePerGroup(
      docs(s, d).select(col("doc_id"), col("source")), "source", "doc_id", k = 10)
  query("q141_strat_sample", q141,
      ("""WITH r AS (SELECT doc_id, source,
         |  md5(CAST(doc_id AS VARCHAR)) AS sample_key,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
         |  FROM documents)
         |SELECT doc_id, source, sample_key, sample_rank
         |FROM r WHERE sample_rank <= 10
         |""".stripMargin))

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
  query("q110_source_overlap", q110,
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT DISTINCT source, unnest(${shinglesSql("tk")}) AS g FROM toks)
          |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
          |FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
          |GROUP BY 1, 2
          |""".stripMargin))

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
  query("q109_split_leakage", q109,
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
          |""".stripMargin))
}
