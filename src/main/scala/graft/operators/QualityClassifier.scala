package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Learned document-quality filter — the fastText/CCNet-style face of
  * the quality-gate family (reference scope: none — the ledger app has
  * no text pipeline; this is the LLM-pipeline mandate). Where q76's
  * gate is hand-written rules with per-rule attrition, real corpus
  * pipelines (CCNet, RefinedWeb) SCORE documents with a trained linear
  * model over cheap text features and threshold the score. This is
  * that operator with the training frozen: integer weights vendored as
  * constants (a real deployment would load them from a model artifact;
  * the shape of the inference — dot product, threshold — is identical),
  * so the verdict is a BIGINT dot product both engines replay
  * bit-for-bit (the q103 quantization discipline — no float weights,
  * no libm, no rounding divergence).
  *
  * Features, all integer, all from ONE text_stats pass + ONE
  * `[a-z]+` token collapse (array lambdas after that — no second
  * regexp scan of the text):
  *   - least(n_ws_tokens, 256)   — length signal, capped so one giant
  *                                 doc can't buy unbounded score;
  *   - punct_q20                 — punct chars per text char, q20
  *                                 fixed-point (punctuation soup);
  *   - stop_q20                  — stopword hits (all 5 language
  *                                 lists) per word, q20 — the
  *                                 function-word density a gibberish
  *                                 doc can't fake;
  *   - wlen_q17                  — mean word length, q17 fixed-point
  *                                 (scaled 8× below the others so the
  *                                 drag stays proportionate) —
  *                                 gibberish and base64 blobs run long.
  *
  * score = bias + Σ wᵢ·xᵢ, keep ⇔ score ≥ 0. The per-FEATURE
  * contributions (c_tokens …) are emitted alongside the verdict — the
  * linear-model analogue of q76's per-rule attrition: a dropped doc's
  * most negative contribution names the reason, and summing any
  * contribution column over a corpus slice prices that signal's drag.
  *
  * Weights were frozen against the house corpus' feature distribution
  * (median doc: 56 tokens, stop_q20 ≈ 64k, wlen_q17 ≈ 590k → score
  * ≈ +59k; a short low-stopword long-word doc lands negative; ~62%
  * keep at every committed SF — both classes well populated, so the
  * q165 oracle exercises both branches). The bias is NEGATIVE by
  * design: an empty or letter-free doc zeroes every feature, so its
  * score IS the bias — a quality filter that keeps empty documents is
  * broken, and the first cut of this model (positive bias, q20 wlen)
  * did exactly that until the spec's degenerate-row case caught it.
  *
  * Plan shape: per-row, shuffle-free, scan-side — at a 100 TB crawl
  * the score pipelines inside the same codegen stage as the scan.
  * Magnitudes: every |xᵢ| ≤ 2²⁰·max_word_len and every |wᵢ| ≤ 2¹³, so
  * the BIGINT dot product stays far below 2⁶³ — no overflow, and no
  * Spark-wraps-while-DuckDB-errors divergence.
  */
object QualityClassifier {

  /** Frozen model: integer weights + bias + threshold. */
  val Bias: Long = -65536L
  val WTokens: Long = 8192L
  val TokenCap: Int = 256
  val WPunct: Long = -8L
  val WStop: Long = 4L
  val WWlen: Long = -1L

  /** Appends c_tokens, c_punct, c_stop, c_wlen, score (BIGINT) and
    * keep (boolean) to `df`. `textCol` must be a plain column name
    * (the q20 features use SQL `div`).
    *
    * Round-18 optimization (guide §1.2 step 2): the word-derived
    * features (word count, summed word length, stopword hits over all
    * 5 lists) ride ONE fused native pass
    * ([[graft.expressions.QcFeatures]]) instead of a regexp
    * extract-all plus five interpreted filter/array_contains walks
    * plus an interpreted aggregate. `Composed.qualityScore` keeps the
    * original chain as the parity reference (QualityClassifierSpec
    * pins native == composed, NULL text included; the q165-family
    * DuckDB oracles replay the composed SQL unchanged). */
  def score(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__qc_ts",
        graft.expressions.TextExpressions.textStats(col(textCol)))
      .withColumn("__qc_f",
        graft.expressions.ScrubExpressions.qcFeatures(col(textCol)))
      .withColumn("c_tokens",
        lit(WTokens) * least(col("__qc_ts.n_ws_tokens"), lit(TokenCap))
          .cast("bigint"))
      .withColumn("c_punct", lit(WPunct) * expr(
        "(CAST(__qc_ts.n_punct AS BIGINT) * 1048576L) div " +
          "greatest(CAST(__qc_ts.n_chars AS BIGINT), 1L)"))
      .withColumn("c_stop", lit(WStop) * expr(
        "(CAST(__qc_f.hits AS BIGINT) * 1048576L) div " +
          "greatest(CAST(__qc_f.n_words AS BIGINT), 1L)"))
      .withColumn("c_wlen", lit(WWlen) * expr(
        "(CAST(__qc_f.wsum AS BIGINT) * 131072L) div " +
          "greatest(CAST(__qc_f.n_words AS BIGINT), 1L)"))
      .withColumn("score",
        lit(Bias) + col("c_tokens") + col("c_punct") + col("c_stop") +
          col("c_wlen"))
      .withColumn("keep", col("score") >= 0L)
      .drop("__qc_ts", "__qc_f")
}
