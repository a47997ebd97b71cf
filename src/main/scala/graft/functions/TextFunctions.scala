package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.NumFunctions

/** North-star text-analysis kernels (SURVEY.md §2.2 Q12/Q13 extensions):
  * tokenization, n-gram shingling, language-ID heuristic, quality scoring,
  * content fingerprinting. All built from codegen'd `functions._`
  * primitives — no UDFs — so every formula here has an exact ANSI-SQL
  * twin in `SparkEntry.oracleSql`.
  */
object TextFunctions {

  /** Whitespace tokenization; empty tokens removed so leading/trailing
    * whitespace can't produce "" tokens. The class is written out
    * explicitly because Java's `\s` includes vertical tab (\x0B) while
    * RE2's (the DuckDB oracle) does not — `[ \t\n\f\r]` means the same
    * thing in both engines.
    */
  val whitespaceClass = "[ \\t\\n\\f\\r]+"

  /** [[whitespaceClass]] compiled once, for the kernels that split Scala strings. */
  private[functions] val whitespacePattern = java.util.regex.Pattern.compile(whitespaceClass)

  /** Whether one byte is in [[whitespaceClass]], for the kernels that scan UTF-8 bytes. */
  @inline private[functions] def isWhitespace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  def tokens(text: Column): Column =
    filter(split(trim(text), whitespaceClass), t => t =!= "")

  /** Word n-gram shingles (distinct), the dedup unit for MinHash/Jaccard.
    * Guarded so documents with < n tokens yield an empty set.
    */
  def shingles(toks: Column, n: Int = 3): Column = {
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array()))
  }

  /** Token count (Long). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Canonical text normalization: collapse whitespace runs to single
    * spaces, trim, lowercase — the first pass of every dedup/training
    * pipeline (so "Foo  bar" and "foo bar\n" dedup together). Pure
    * codegen'd primitives; the whitespace class matches [[tokens]].
    */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, whitespaceClass, " ")))

  /** BPE-ish subword token count: the GPT-style pre-tokenizer shape —
    * letter runs, digit runs, and punctuation runs (each with an
    * optional leading space) count as separate tokens. The pattern uses
    * only syntax with identical semantics in Java regex (Spark) and RE2
    * (DuckDB oracle): `\p{L}`/`\p{N}` classes, leftmost-first
    * alternation, no lookaround. The whitespace exclusion is written as
    * the explicit `[ \t\n\f\r]` set (not `\s`) for the same
    * vertical-tab reason as [[whitespaceClass]].
    */
  val bpeTokenPattern = " ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0))).cast("long")

  /** Type-token ratio — distinct tokens / tokens; simple lexical-diversity
    * quality signal.
    */
  def typeTokenRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Composite quality score in [0,1]: length credit (saturating at 50
    * tokens) × lexical diversity. Deterministic double arithmetic.
    */
  def qualityScore(toks: Column): Column =
    NumFunctions.roundNz(least(lit(1.0), size(toks) / lit(50.0)) * typeTokenRatio(toks), 6)

  /** Language-ID heuristic: CJK characters → zh, else argmax of
    * marker-stopword hits with deterministic priority (en, de, es, fr) and
    * 'en' fallback. Marker sets are disjoint across languages so the
    * scoring is order-independent except for exact ties.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "es" -> Seq("el", "los", "una", "es", "y"),
    "fr" -> Seq("le", "les", "une", "est", "et"))

  def markerHits(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(langMarkers(lang): _*)))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val en = markerHits(toks, "en"); val de = markerHits(toks, "de")
    val es = markerHits(toks, "es"); val fr = markerHits(toks, "fr")
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(de > en && de >= es && de >= fr, "de")
      .when(es > en && es >= fr, "es")
      .when(fr > en, "fr")
      .otherwise("en")
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text.
    * The canonical exact-dedup key for near-identical formatting variants.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), whitespaceClass, " ")))

  // PII patterns, deliberately restricted to the RE2 ∩ java.util.regex
  // common subset (no lookarounds, no backrefs) so the SAME source
  // strings run in Spark and in the DuckDB oracle. Order matters:
  // emails first (their local part may contain digits an ID pattern
  // would eat), then dotted IPv4 (so its octets aren't consumed as
  // bare digit runs), then long digit runs (account/card/SSN-shaped).
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val longDigitPattern = "\\d{9,}"

  /** PII scrubbing: emails → `<EMAIL>`, dotted IPv4 → `<IP>`, runs of
    * ≥ 9 digits → `<ID>` — the minimum redaction pass a training-data
    * pipeline runs before a corpus leaves its enclave (C4 and CCNet
    * both ship regex-level scrubbers of exactly this shape). Map-side,
    * codegen'd (`regexp_replace` chain), no shuffle; deterministic, so
    * re-runs and replays redact byte-identically — unlike
    * pseudonymization (q65), nothing here is reversible via a lookup
    * side table.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      longDigitPattern, "<ID>")
}
