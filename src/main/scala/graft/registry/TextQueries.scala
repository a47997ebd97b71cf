package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NumFunctions, TextFunctions, UnigramKernel}
import graft.operators.Similarity

/** Registry family: tokenizers (BPE, unigram LM), language models and
  * vocabulary statistics, language ID, normalization, and lexical
  * retrieval (BM25 and the fusions built on its `BM25_CTE`).
  */
private[graft] object TextQueries extends Family {

  /** The pinned q102 merge table — mirrored symbol-for-symbol by the
    * sentinel replace chain in the q102 oracle SQL; keep both in sync.
    */
  private val q102Merges: Array[(String, String)] = Array(
    ("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"),
    ("a", "r"), ("p", "ar"), ("s", "c"), ("a", "n"))

  /** The pinned q190 vocabulary (piece → integer micro-nat cost) —
    * mirrored literally by the VALUES table in [[q190OracleSql]].
    * Singles cover the corpus alphabet EXCEPT `u` (forcing the UNK
    * path on `dup`); multi pieces are priced to exercise the DP's
    * choices (see [[q190]]).
    */
  private val q190Vocab: Seq[(String, Long)] = Seq(
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

  /** Q13 — north-star text stats. */
  def q13(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
  query("q13_text_stats", q13,
      ("SELECT lang, count(*) AS n, CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars, " +
       "min(n_chars) AS min_chars, max(n_chars) AS max_chars FROM documents GROUP BY lang"))

  /** Q17 — token counting. */
  def q17(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
  query("q17_token_count", q17,
      s"SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens FROM documents")

  /** Q19 — language-ID heuristic. */
  def q19(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
  query("q19_lang_id", q19,
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
         |""".stripMargin))

  /** Q29 — BPE-ish subword token counting (regex identical in Java and
    * RE2, so oracle-checked).
    */
  def q29(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
  query("q29_bpe_tokens", q29,
      ("SELECT doc_id, CAST(len(regexp_extract_all(text, " +
       "' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+')) AS BIGINT) AS n_bpe_tokens " +
       "FROM documents"))

  /** Q52 — text normalization ([[graft.functions.TextFunctions.normalize]]):
    * whitespace-collapse + trim + lowercase, the canonical first pass
    * before any dedup — a pure per-row codegen'd projection, no shuffle.
    */
  def q52(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      graft.functions.TextFunctions.normalize(col("text")).as("norm"))
  // q52/q53: DuckDB's regexp_replace needs the 'g' flag to match
  // Spark's replace-all; the explicit whitespace class is identical in
  // both regex engines (see TextFunctions.whitespaceClass)
  query("q52_normalize", q52,
      ("SELECT doc_id, lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))) " +
       "AS norm FROM documents"))

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
  query("q53_term_freq", q53,
      ("WITH n AS (SELECT lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS t " +
       "FROM documents), " +
       "tok AS (SELECT unnest(list_filter(regexp_split_to_array(t, '[ \\t\\n\\f\\r]+'), " +
       "x -> x <> '')) AS token FROM n) " +
       "SELECT token, count(*) AS tf FROM tok GROUP BY token " +
       "ORDER BY tf DESC, token ASC LIMIT 20"))

  /** Q56 — corpus TF-IDF top-20 ([[graft.operators.Corpus.tfidf]]):
    * one explode pass feeds tf, df derives from tf (no second explode),
    * doc count broadcasts as a scalar. Scores rounded before the top-k
    * order so the cut is a total order both engines agree on.
    */
  def q56(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.tfidf(docs(s, d), "doc_id", "text", 20)
  query("q56_tfidf", q56,
      (s"""WITH tk AS (SELECT doc_id, unnest($TOKS_LOWER) AS token FROM documents),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
          |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents)
          |SELECT tf.doc_id, tf.token,
          |  round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) + 0 AS tfidf
          |FROM tf JOIN df USING (token) CROSS JOIN n
          |ORDER BY tfidf DESC, doc_id, token LIMIT 20
          |""".stripMargin))

  /** Q67 — corpus-unigram surprisal
    * ([[graft.operators.Corpus.unigramSurprisal]]): mean −ln p(token)
    * per doc under the corpus's own unigram distribution — the
    * zero-dependency shape of LM-based quality filtering. Per-token
    * surprisals route through DECIMAL(18,9) so the per-doc sum is
    * exact and order-independent.
    */
  def q67(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.unigramSurprisal(docs(s, d), "doc_id", "text")
  query("q67_surprisal", q67,
      (s"""WITH tk AS (SELECT doc_id, unnest($TOKS) AS token FROM documents),
          |freq AS (SELECT token, count(*) AS ctf FROM tk GROUP BY 1),
          |t AS (SELECT count(*) AS total FROM tk)
          |SELECT doc_id,
          |  round(CAST(sum(CAST(-ln(CAST(ctf AS DOUBLE) / total) AS DECIMAL(18,9))) AS DOUBLE)
          |        / count(*), 6) + 0 AS surprisal,
          |  count(*) AS n_tokens
          |FROM tk JOIN freq USING (token) CROSS JOIN t
          |GROUP BY doc_id
          |""".stripMargin))

  /** Q71 — adjacent-token pair counts
    * ([[graft.operators.Corpus.bigramCounts]]): the BPE-merge statistic
    * (most frequent adjacent pair), multiplicity-preserving via a
    * lead window over the position-exploded stream.
    */
  def q71(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.bigramCounts(docs(s, d), "doc_id", "text", 20)
  query("q71_bpe_pairs", q71,
      (s"""WITH tk AS (SELECT doc_id, $TOKS AS tk FROM documents),
          |idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
          |  FROM tk WHERE len(tk) >= 2)
          |SELECT tk[i] || ' ' || tk[i+1] AS pair, count(*) AS cnt
          |FROM idx GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20
          |""".stripMargin))

  /** Q82 — bigram LM scoring ([[graft.operators.Corpus.bigramSurprisal]]):
    * per-doc mean conditional bigram surprisal under the corpus's own
    * MLE bigram model — the CCNet-shaped LM quality filter one rung
    * above q67's unigrams. Map-side array-shift bigram extraction (no
    * per-doc window shuffle); conditional probabilities assembled on the
    * distinct-bigram table. Oracle: the same zip + count join in DuckDB.
    */
  def q82(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.bigramSurprisal(docs(s, d), "doc_id", "text")
  query("q82_bigram_surprisal", q82,
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
          |""".stripMargin))

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
  query("q91_collocations", q91,
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
          |""".stripMargin))

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
  query("q99_bpe_learn", q99, q99OracleSql)

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
  // q102: exact replay of the pinned merge table. Under a sentinel
  // encoding (each merged symbol ↦ one private-use code point,
  // chr(57344+i) = U+E000+i), BPE's single left-to-right
  // non-overlapping pass per merge is EXACTLY one string replace, so
  // the chain below — innermost first, same order as q102Merges —
  // reproduces bpeSymbols word-for-word and length() counts symbols.
  query("q102_bpe_apply", q102,
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
         |""".stripMargin))

  /** Q103 — df-cap boilerplate pruning
    * ([[graft.operators.Corpus.pruneHighDfTokens]]): tokens in > 60 % of
    * documents dropped everywhere, text reassembled in order. One
    * vocabulary shuffle builds the document-frequency table; the stop
    * set is bounded independent of corpus size (see operator scaladoc)
    * and applies map-side as a sorted literal.
    */
  def q103(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.pruneHighDfTokens(docs(s, d), "doc_id", "text", maxDfPct = 60)
  query("q103_df_prune", q103,
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
          |""".stripMargin))

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
  query("q112_pii_redact", q112,
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
         |""".stripMargin))

  /** Q115 — inverted index ([[graft.operators.Corpus.invertedIndex]]):
    * per token, document frequency and the 20 lowest doc ids as a
    * bounded posting preview. ONE aggregation produces both outputs —
    * `count` plus a bounded top-k heap — so a stop word shuffles at
    * most 21 values per map partition, never its full posting list.
    */
  def q115(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.invertedIndex(docs(s, d), "doc_id", "text",
      maxPostings = 20)
  query("q115_inverted_index", q115,
      (s"""WITH tk AS (SELECT doc_id, unnest(list_distinct($TOKS_LOWER)) AS token
          |  FROM documents)
          |SELECT token, count(*) AS df,
          |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
          |FROM tk GROUP BY 1
          |""".stripMargin))

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
  query("q117_distinct_terms", q117,
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
          |""".stripMargin))

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
  query("q121_lang_audit", q121,
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
         |""".stripMargin))

  /** Q123 — out-of-vocabulary rate ([[graft.operators.Corpus.oovRate]]):
    * per-document OOV fraction against the corpus's own top-20 token
    * vocabulary — the tokenizer-coverage check. One tf shuffle, a
    * TakeOrdered vocabulary cut, then a zero-exchange hashed-set probe
    * (q103's apply shape, set inverted).
    */
  def q123(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.oovRate(docs(s, d), "doc_id", "text", vocabSize = 20)
  // q123: vocabulary = top-20 by (tf desc, token) — a total order, so
  // the cut is deterministic on both engines; OOV counted via a LEFT
  // JOIN against that vocabulary
  query("q123_oov_rate", q123,
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
          |""".stripMargin))

  /** Q131 — Heaps-law vocabulary growth
    * ([[graft.operators.Corpus.heapsCurve]]): cumulative tokens vs
    * cumulative distinct tokens every 50 document ids. First-occurrence
    * min-aggregation makes cumulative-distinct one token-scale shuffle;
    * the running sums window over bucket rows only.
    */
  def q131(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.heapsCurve(docs(s, d), "doc_id", "text",
      bucketWidth = 50L)
  query("q131_heaps_curve", q131,
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
          |""".stripMargin))

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
  // q132 = q67's score + an ntile cut on the (rounded score, id) total order
  query("q132_ppl_buckets", q132,
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
          |""".stripMargin))

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
  // q133 replays the fixed-point iterations exactly: all arithmetic is
  // 64-bit integer (1e12-unit ranks, floor division), so five unrolled
  // CTE steps reproduce the engine's ranks bit for bit
  query("q133_pagerank", q133, {
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
    })

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
  query("q134_fertility", q134,
      (s"""SELECT lang,
          |  CAST(sum(len(regexp_extract_all(text,
          |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+'))) AS BIGINT) AS n_bpe,
          |  CAST(sum(len($TOKS)) AS BIGINT) AS n_words,
          |  round(CAST(sum(len(regexp_extract_all(text,
          |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+'))) AS DOUBLE)
          |    / sum(len($TOKS)), 6) + 0 AS fertility
          |FROM documents GROUP BY lang
          |""".stripMargin))

  /** Q135 — Zipf-law fit ([[graft.operators.Corpus.zipfFit]]): the
    * least-squares slope of ln(count) vs ln(rank) over the top-50
    * vocabulary — one row of corpus health. Decimal-routed logs make
    * the k-row regression bit-stable; the fit never sees the corpus.
    */
  def q135(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.zipfFit(docs(s, d), "text", k = 50)
  query("q135_zipf_fit", q135,
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
          |""".stripMargin))

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
  // q190: the packed-integer Viterbi DP (cost*64 + pieces) unrolled
  // to the 16-char chunk bound — generated in q190OracleSql, pinned
  // vocab VALUES literal, UNK = 20e6 units.
  query("q190_unigram_apply", q190, q190OracleSql)

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
  query("q192_unigram_pieces", q192, q192OracleSql)

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
  query("q208_rbo_agreement", q208, q208OracleSql)

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
  // q214: bigram counts per doc, per-bigram top-2 by (c DESC, id ASC),
  // clip = min(c, m1) or the runner-up when the doc owns the max
  query("q214_self_bleu", q214,
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
          |""".stripMargin))

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
  // q217: 30-token window slices, the q19 marker CASE per window,
  // per-doc (count DESC, lang ASC) majority head
  query("q217_code_switch", q217,
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
          |""".stripMargin))

  /** Q175 — token-mass concentration
    * ([[graft.operators.Corpus.tokenConcentration]]): the Lorenz view
    * of curation economics — quality deciles (exact ntile over q18's
    * rounded score) vs cumulative token share. Two-level rank, k-row
    * windows, broadcast total.
    */
  def q175(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.tokenConcentration(docs(s, d), "doc_id", "text")
  // q175: q18's rounded score, ntile(10) over (score desc, id), k-row
  // cumulative window.
  query("q175_lorenz", q175,
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
          |""".stripMargin))

  /** Q173 — per-document keywords
    * ([[graft.operators.Corpus.keywordsPerDoc]]): each document's top-3
    * tokens by tf·ln(N/df) — q56's scoring cut per document by the
    * bounded heap. Oracle: the tf/df replay + rank window.
    */
  def q173(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.keywordsPerDoc(docs(s, d), "doc_id", "text", k = 3)
  // q173: whitespace tf/df replay, tf·ln(N/df) at 4 places, rank
  // window per doc.
  query("q173_keywords", q173,
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
         |""".stripMargin))

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
  // q170: octet_length bytes over the q134 BPE-ish token regex.
  query("q170_bytes_per_tok", q170,
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
         |""".stripMargin))

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
  // q169: the BM25 CTE's top-10 lists + a 3-probe dense cosine
  // ranking, RRF-combined with exact decimal 1/(60+rk) terms.
  query("q169_rrf_hybrid", q169,
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
          |""".stripMargin))

  /** Q164 — Kneser-Ney bigram surprisal
    * ([[graft.operators.Corpus.knSurprisal]]; Kneser & Ney 1995):
    * per-doc mean −ln P under the interpolated-KN bigram model with
    * D = 3/4 — the smoothed upgrade of q82's MLE. Vocab-scale
    * collapses + one per-doc aggregate; DECIMAL(18,9) term path.
    */
  def q164(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.knSurprisal(docs(s, d), "doc_id", "text")
  // q164: q82's bigram stream + KN terms — context totals,
  // fan-out/continuation type counts, D = 3/4, ln-parity decimals.
  query("q164_kn_surprisal", q164,
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
          |""".stripMargin))

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
  // q157: three unrolled HITS steps in integer CTEs — raw in/out
  // sums, exact L1 renormalization `(v * 1e6) // Σv` per half-step.
  query("q157_hits", q157, {
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
    })

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
  // q154: full BM25 replay — tf/df/dl tables, the "+1" idf, per-term
  // DECIMAL(18,9) partial scores (the q67 ln-parity recipe), rank by
  // (score desc, doc_id asc).
  query("q154_bm25", q154,
      (s"""$BM25_CTE
          |SELECT qid, doc_id, score, rk FROM (SELECT qid, doc_id, score,
          |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rk
          |  FROM perdoc) WHERE rk <= 10
          |""".stripMargin))

  /** Q107 — vocabulary coverage ([[graft.operators.Corpus.vocabCoverage]]):
    * top-50 tokens with per-token stream share and cumulative coverage.
    * One vocabulary shuffle + TakeOrdered cut; the cumulative window
    * runs over the 50 cut rows only.
    */
  def q107(s: SparkSession, d: String): DataFrame =
    graft.operators.Corpus.vocabCoverage(docs(s, d), "text", k = 50)
  query("q107_vocab_coverage", q107,
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
          |""".stripMargin))
}
