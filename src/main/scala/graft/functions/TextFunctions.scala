package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column library for training-data pipelines: token
  * counting, language ID, quality scoring, document fingerprinting.
  * Everything is built-in Catalyst expressions (regexp/array/lambda
  * higher-order functions) — fully codegen-compatible and identically
  * expressible in ANSI-ish SQL for the DuckDB oracle.
  *
  * Scale: all functions are per-row and shuffle-free; they pipeline
  * inside whole-stage codegen over a 100 TB scan without any exchange.
  */
object TextFunctions {

  /** Whitespace token count (0 for blank). */
  def wsTokenCount(c: Column): Column =
    when(trim(c) === "" || c.isNull, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish token count: lowercase word pieces + standalone
    * non-alnum marks, the usual pre-tokenizer shape. */
  val tokenRegex = "[a-z0-9]+|[^a-z0-9\\s]"
  def reTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit(tokenRegex), lit(0)))

  /** Lowercase word array (letters only — the language-ID unit). */
  def words(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z]+"), lit(0))

  /** Count of words that appear in `stops` (with repeats — a ratio
    * numerator, not a set size). Native one-pass expression
    * ([[graft.expressions.StopHits]]). */
  def stopwordHits(c: Column, stops: Seq[String]): Column =
    graft.expressions.TextExpressions.stopHits(c, stops)

  /** Small public stopword lists, enough for a coarse n-gram-free
    * language heuristic. Order of `langs` is the deterministic
    * tie-break (first wins on equal score). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "los", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"),
    "pt" -> Seq("o", "a", "de", "que", "e", "do", "da", "em", "um", "para"))

  /** Language ID: argmax stopword hits across [[stopwords]]; first
    * language (list order) wins ties; "und" when nothing matched.
    * Native one-pass expression ([[graft.expressions.LangId]]); the
    * DuckDB oracle replays the equivalent CASE/GREATEST SQL, and
    * `Composed.langId` (test sources) keeps that form for parity testing. */
  def langId(c: Column): Column =
    graft.expressions.TextExpressions.langId(c)

  /** Punctuation-ish character count (non-alnum, non-space). */
  def punctCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[^a-z0-9\\s]"), lit(0)))

  /** Heuristic quality components. Ratios are single IEEE-double
    * divisions of integer counts — bit-identical across engines, so
    * they are oracle-safe. */
  def stopRatio(c: Column, stops: Seq[String]): Column =
    when(wsTokenCount(c) === 0, lit(0.0))
      .otherwise(stopwordHits(c, stops).cast("double") / wsTokenCount(c).cast("double"))

  def punctRatio(c: Column): Column =
    when(length(c) === 0 || c.isNull, lit(0.0))
      .otherwise(punctCount(c).cast("double") / length(c).cast("double"))

  /** The C4 keep-rule thresholds — the SINGLE source for every quality
    * gate (batch [[qualityKeep]]/q16, composed q76, streaming
    * `Streams.qualityGate`); tune here, not at call sites. */
  val MinKeepTokens: Int = 5
  val MaxPunctRatio: Double = 0.2

  /** The C4-style keep rule: enough tokens, sane mean word length,
    * not punctuation soup. */
  def qualityKeep(c: Column, minTokens: Int = MinKeepTokens,
                  maxPunctRatio: Double = MaxPunctRatio): Column =
    wsTokenCount(c) >= minTokens && punctRatio(c) < maxPunctRatio

  /** Document fingerprint: md5 of whitespace-collapsed, trimmed,
    * lowercased text — the exact-dedup key (normalization-insensitive). */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))
}
