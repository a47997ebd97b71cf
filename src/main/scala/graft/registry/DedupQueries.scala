package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NumFunctions, TextFunctions}
import graft.operators.Dedup

/** Registry family: exact, near-duplicate (shingle Jaccard, MinHash, SimHash,
  * winnowing, set-similarity joins), substring and line-level dedup, with
  * the shared Jaccard-pair oracle and the `LINED_DOCS` line table.
  */
private[graft] object DedupQueries extends Family {

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

  /** Q12 — north-star exact dedup accounting. */
  def q12(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), countDistinct(col("text")).as("n_unique"))
  query("q12_dedup_exact", q12,
      ("SELECT lang, count(*) AS n, count(DISTINCT text) AS n_unique " +
       "FROM documents GROUP BY lang"))

  /** Q20 — content fingerprint (normalized md5). */
  def q20(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
  query("q20_fingerprint", q20,
      ("SELECT doc_id, md5(lower(regexp_replace(trim(text), '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS fp " +
       "FROM documents"))

  /** Q21 — banded 3-gram Jaccard near-dup scan (id-window candidates). */
  def q21(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardBanded(docs(s, d), "doc_id", "text",
      window = 20, thresholdNum = 1, thresholdDen = 2)
  query("q21_ngram_jaccard", q21,
      jaccardPairsSql("b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20", 1, 2))

  /** Q22 — MinHash+LSH near-dup pairs, verified with exact Jaccard;
    * oracle is the brute-force all-pairs scan (see [[Dedup.minhashLshPairs]]
    * for the recall argument).
    */
  def q22(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
      numHashes = 128, bands = 32, thresholdNum = 7, thresholdDen = 10)
  query("q22_minhash_lsh", q22,
      jaccardPairsSql("b.doc_id > a.doc_id", 7, 10))

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
  // q27: the portable MD5 token hash replays directly — DuckDB
  // parses each token's md5 prefix as a u64, rebuilds the 64 voting
  // bits per document, and brute-forces all pairs at hamming <= 3
  // via |A| + |B| - 2|A∩B| (the q182 pattern in token space).
  query("q27_simhash_pairs", q27,
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
          |""".stripMargin))

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
  // q30: full winnow replay — base-257 polynomial k-gram hash
  // mod 2^64 from ascii() bytes, the xxHash64 single-long
  // finalizer unrolled in HUGEINT (& 2^64-1 wraps; + binds tighter
  // than & in DuckDB, hence the extra parens), unsigned window-min
  // over w = 4, distinct count + signed min per document. Index
  // ranges derive from each document's own length via scalar
  // range()+unnest (no fixture-size cap — any document length
  // replays, however long).
  query("q30_winnow_fp", q30,
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
         |""".stripMargin))

  /** Q37 — END-TO-END corpus dedup: exact-collapse → MinHash-LSH →
    * connected components → min-id survivors ([[Dedup.dedupCorpus]]).
    * Oracle: brute-force Jaccard pairs + recursive-CTE transitive
    * closure in DuckDB.
    */
  def q37(s: SparkSession, d: String): DataFrame =
    Dedup.dedupCorpus(docs(s, d), "doc_id", "text", cacheKey = Some(d))
      .select("doc_id")
  query("q37_dedup_corpus", q37,
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
          |""".stripMargin))

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
  query("q54_edit_distance", q54,
      ("WITH n AS (SELECT doc_id, " +
       "substr(lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))), 1, 40) AS p " +
       "FROM documents) " +
       "SELECT a.doc_id, CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist " +
       "FROM n a JOIN n b ON b.doc_id = a.doc_id + 1"))

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
  query("q68_repetition", q68,
      (s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
          |  CAST(len(${shinglesSql("tk")}) AS BIGINT) AS nd FROM t)
          |SELECT doc_id, round(1.0 - CAST(nd AS DOUBLE) / (n - 2), 6) + 0 AS rep_score
          |FROM s WHERE n >= 3
          |""".stripMargin))

  /** Q81 — cross-doc duplication profile
    * ([[graft.operators.Corpus.crossDupProfile]]): per doc, the share of
    * its 3-gram shingles found in any other document — the dedup-scope
    * flagging scan. Oracle: the same shingle frequency join in DuckDB.
    */
  def q81(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.crossDupProfile(docs(s, d), "doc_id", "text", n = 3)
  query("q81_dup_profile", q81,
      (s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, unnest(${shinglesSql("tk")}) AS g FROM toks),
          |c AS (SELECT g, count(*) AS nd FROM sh GROUP BY 1)
          |SELECT sh.doc_id, count(*) AS n_shingles,
          |  count(CASE WHEN c.nd > 1 THEN 1 END) AS n_shared,
          |  round(CAST(count(CASE WHEN c.nd > 1 THEN 1 END) AS DOUBLE) / count(*), 6)
          |    + 0 AS dup_ratio
          |FROM sh JOIN c USING (g) GROUP BY 1
          |""".stripMargin))

  /** Q93 — cross-document repeated 32-char substrings
    * ([[graft.operators.Dedup.repeatedWindows]]): the exact-substring
    * duplication scan (Lee et al., ACL 2022), hash-prefiltered so only
    * actually-repeated windows ever materialize as strings. Oracle =
    * the naive substring explosion the engine must never shuffle.
    */
  def q93(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.repeatedWindows(docs(s, d), "doc_id", "text",
      width = 32, minDocs = 2)
  query("q93_repeated_substrings", q93,
      ("""WITH pos AS (
         |  SELECT doc_id, substr(text, CAST(i AS INT), 32) AS w
         |  FROM (SELECT doc_id, text,
         |        unnest(range(1, greatest(1, length(text) - 30))) AS i
         |        FROM documents))
         |SELECT w, count(DISTINCT doc_id) AS n_docs FROM pos GROUP BY w
         |HAVING count(DISTINCT doc_id) >= 2
         |""".stripMargin))

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
  query("q105_incr_neardup", q105,
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, source, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON a.source = 'src1' AND b.source <> 'src1')
          |SELECT new_id, old_id, CAST(inter AS BIGINT) AS inter,
          |  CAST(tot - inter AS BIGINT) AS un,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
          |FROM pairs WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7
          |""".stripMargin))

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
  query("q111_incr_prepared", q111,
      (s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
          |sh AS (SELECT doc_id, source, ${shinglesSql("tk")} AS s FROM toks),
          |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
          |  len(list_intersect(a.s, b.s)) AS inter, len(a.s) + len(b.s) AS tot
          |  FROM sh a JOIN sh b ON a.source = 'src1' AND b.source <> 'src1')
          |SELECT new_id, old_id, CAST(inter AS BIGINT) AS inter,
          |  CAST(tot - inter AS BIGINT) AS un,
          |  CAST(inter AS DOUBLE) / (tot - inter) AS jac
          |FROM pairs WHERE (tot - inter) > 0 AND inter * 10 >= (tot - inter) * 7
          |""".stripMargin))

  /** Q122 — per-document n-gram novelty
    * ([[graft.operators.Dedup.ngramNovelty]]): the fraction of each
    * document's distinct shingles first seen in THAT document (lowest
    * doc id wins) — the crawl-freshness curve. One shingle-scale
    * shuffle (partial-aggregated min per 8-byte hash); everything
    * after is document-scale.
    */
  def q122(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.ngramNovelty(docs(s, d), "doc_id", "text")
  query("q122_ngram_novelty", q122,
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
          |""".stripMargin))

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
  // q128: segments are consecutive 8-token slices; DuckDB's
  // list_slice(tk, a, b) is 1-based inclusive and clamps, matching
  // Spark's slice(tk, a, 8); string_agg(... ORDER BY seg_idx)
  // restores document order, and the oracle counts by segment TEXT
  // where the engine counts by xxhash64 (collision-free at fixture
  // scale, same convention as q110/q122)
  query("q128_segment_dedup", q128,
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
          |""".stripMargin))

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
  // q129 is EXACT (prefix filtering is lossless), so the brute-force
  // all-pairs scan is a hash-match oracle, not a recall bound
  query("q129_setsim_join", q129,
      jaccardPairsSql("b.doc_id > a.doc_id", 1, 2))

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
  query("q193_repetition", q193, q193OracleSql)

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
  query("q194_repeat_spans", q194, q194OracleSql)

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
  query("q195_dedup_spans", q195, q195OracleSql)

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
  // q206: sorted-neighborhood blocking — the same normalized-prefix
  // key sort via ROW_NUMBER (binary collation matches Spark's UTF8
  // order on this corpus), each row paired with its 5 successors,
  // then the exact shingle-Jaccard gate
  query("q206_sorted_neighbors", q206,
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
          |""".stripMargin))

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
  // q213: q37's reach closure, then per component the (quality DESC,
  // id ASC) head — the quality-aware survivor
  query("q213_quality_dedup", q213,
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
          |""".stripMargin))

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
  // q215: brute-force jaccard pairs, shared shingles, rarest-first
  // evidence ranking per pair
  query("q215_pair_evidence", q215,
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
          |""".stripMargin))

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
  // q238: the 10-token re-lining, line explode with 0-based
  // positions, keep-first window over the raw line string, ordered
  // string_agg rebuild; docs with no drops rebuild to their
  // identical text (split/join identity), null text stays null, a
  // fully-deduped doc becomes ''
  query("q238_line_dedup", q238,
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
         |""".stripMargin))

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
  // q239: same re-lining + explode, count per raw line string,
  // keep-first winner, rank by (n DESC, winner id, winner pos)
  query("q239_boilerplate_topk", q239,
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
         |""".stripMargin))

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
  // q240: the streamed keep-first composes to ONE global window in
  // (batch = doc_id % 3, doc_id, pos) order — rn > 1 drops, same
  // rebuild as q238
  query("q240_incr_line_dedup", q240,
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
         |""".stripMargin))

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
  // q241: q238's chain with (a) odd doc_ids upper-cased in the view
  // and (b) the keep-first window PARTITIONED BY the q52
  // normalization of the line (lowercase, whitespace-collapsed) —
  // survivors rebuild from their ORIGINAL (cased) line bytes
  query("q241_norm_line_dedup", q241,
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
         |""".stripMargin))

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
  // q242: q240's (batch, doc_id, pos) streamed keep-first window
  // over q241's cased view, PARTITIONED BY the normalized line
  query("q242_incr_norm_lines", q242,
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
         |""".stripMargin))

  /** Q176 — near-dup cluster-size histogram
    * ([[graft.operators.Dedup.clusterSizeHistogram]]): the shape of
    * q37's exact clustering — giant template clusters vs the size-2
    * near-copy tail. Oracle: the component CTE + two collapses.
    */
  def q176(s: SparkSession, d: String): DataFrame =
    Dedup.clusterSizeHistogram(docs(s, d), "doc_id", "text", cacheKey = Some(d))
  // q176: the q37 component CTE + per-survivor sizes + size counts.
  query("q176_cluster_sizes", q176,
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
          |""".stripMargin))

  /** Q172 — LSH capture planner
    * ([[graft.operators.Dedup.lshCapturePlan]]): for the exact
    * Jaccard ≥ 0.3 pair set, the banding-theory probability
    * `1 − (1 − j⁴)³²` that the q22 MinHash screen proposes each pair,
    * averaged per Jaccard bucket — the table that places the LSH/exact
    * trade. Squaring-chain IEEE arithmetic, exact decimal means.
    */
  def q172(s: SparkSession, d: String): DataFrame =
    Dedup.lshCapturePlan(docs(s, d), "doc_id", "text")
  // q172: the exact-pair CTE at 3/10 + the same squaring chain
  // (j² → j⁴; (1−j⁴) squared five times → ^32), decimal bucket means.
  query("q172_lsh_planner", q172,
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
          |""".stripMargin))

  /** Q171 — near-dup source matrix
    * ([[graft.operators.Dedup.nearDupSourceMatrix]]): the exact
    * Jaccard ≥ 0.7 pair set bucketed by unordered source pair —
    * self-duplicating crawls vs mirrored feeds. Oracle: the q37 pair
    * CTE + source lookups.
    */
  def q171(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupSourceMatrix(docs(s, d), "doc_id", "text", "source")
  // q171: the exact-pair CTE + source lookups, unordered pair keys.
  query("q171_dup_sources", q171,
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
          |""".stripMargin))

  /** Q168 — dedup savings datasheet
    * ([[graft.operators.Dedup.dedupSavings]]): per-source doc and
    * TOKEN counts before/after q37's exact near-dup dedup — the
    * approve-this-destructive-pass report. Oracle: the q37 recursive
    * component CTE + token sums.
    */
  def q168(s: SparkSession, d: String): DataFrame =
    Dedup.dedupSavings(docs(s, d), "doc_id", "text", "source", cacheKey = Some(d))
  // q168: q37's component closure, survivors flagged back onto the
  // doc table, token sums per source.
  query("q168_dedup_savings", q168,
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
          |""".stripMargin))

  /** Q165 — Jaccard k-nearest neighbors
    * ([[graft.operators.Dedup.jaccardTopK]]): every document's 5 most
    * similar others at Jaccard ≥ 0.3 — q129's lossless prefix-filtered
    * pair set mirrored and cut by the bounded heap. Oracle: the
    * brute-force pair table + rank window.
    */
  def q165(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardTopK(docs(s, d), "doc_id", "text", k = 5)
  // q165: brute-force mirrored pair table + rank window — the prefix
  // filter is lossless, so the quadratic SQL is the oracle.
  query("q165_jaccard_knn", q165,
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
          |""".stripMargin))

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
  // q156: brute-force all-ordered-pairs containment — the prefix
  // filter is lossless, so the exact quadratic SQL is the oracle.
  query("q156_containment", q156,
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
          |""".stripMargin))

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
  // q151: q37's component replay, kept per-document and extended
  // with the cluster count — weight = 1/|cluster|.
  query("q151_soft_dedup", q151,
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
          |""".stripMargin))

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
  // q108: the chunker's provable invariants — exact partition
  // (n_chars), the chunk-count window, shared-span consistency; the
  // hash-specific profile values are spec-pinned, not hashed here.
  query("q108_cdc_chunks", q108,
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
       "TRUE AS n_chunks_in_bounds, TRUE AS shared_within_bounds " +
       "FROM documents WHERE text IS NOT NULL AND length(text) > 0"))
}
