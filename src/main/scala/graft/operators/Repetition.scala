package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Within-document repetition filter — the Gopher/MassiveText quality
  * rules (Rae et al. 2021, table A1) every crawl pipeline runs beside
  * the learned filter (reference scope: none — the ledger app has no
  * text pipeline; LLM-pipeline mandate). Machine-generated and
  * boilerplate pages repeat themselves; a scorer like
  * [[QualityClassifier]] measures vocabulary CLASS signals and misses
  * a page that loops one healthy-looking sentence forever. This
  * operator measures the looping directly:
  *
  *   - `dup{2,3,4}_q20` — the fraction of positional word n-grams
  *     that are duplicates of an earlier occurrence,
  *     (total − distinct) / total in q20 fixed-point. One native
  *     [[graft.expressions.TextExpressions.wordShinglesAll]] pass per n
  *     (positions kept — dedup metrics count positions, not kinds),
  *     then pure array arithmetic.
  *   - `top2_q20` — the occurrence share of the single most frequent
  *     2-gram (Gopher's "fraction in top n-gram" signal, counted over
  *     grams rather than characters so the arithmetic stays integer),
  *     counting only bigrams that occur AT LEAST TWICE — a unique
  *     bigram is not repetition, and without the floor every ≤5-word
  *     document would fail spuriously (1/total > 0.2). Computed per
  *     row as max over distinct repeated grams of their count —
  *     O(distinct·total) array ops on a document's OWN grams, no
  *     corpus state, no shuffle.
  *
  * keep ⇔ every signal at or under its frozen threshold. Thresholds
  * are ADAPTED from Gopher table A1's top n-gram character-fraction
  * thresholds (0.20 / 0.18 / 0.16), applied here as gram-COUNT
  * duplicate fractions — not the paper's values verbatim: Gopher's
  * duplicate n-gram filters cover 5..10-grams (0.15..0.10) and weight
  * every fraction by characters, while this operator measures
  * gram-count fractions over 2/3/4-grams (integer-exact, so both
  * engines replay the verdict bit-for-bit in q20 fixed-point:
  * 0.20 / 0.18 / 0.16 / 0.20 of 2²⁰).
  * Documents with fewer than n words have no n-grams: their fractions
  * are defined 0 (greatest() guard; a max over zero grams coalesces
  * to 0), so short docs pass — length gating is q76/q165's job, not
  * this filter's.
  *
  * Plan shape: per-row, shuffle-free, scan-side (PlanSpec-pinned via
  * q168) — the whole filter pipelines inside the scan's codegen stage
  * at a 100 TB crawl, like the rest of the scrub family.
  */
object Repetition {

  /** Frozen q20 thresholds (0.20, 0.18, 0.16, 0.20 of 2²⁰). */
  val Dup2MaxQ20 = 209715L
  val Dup3MaxQ20 = 188743L
  val Dup4MaxQ20 = 167772L
  val Top2MaxQ20 = 209715L

  /** Appends dup2_q20/dup3_q20/dup4_q20/top2_q20 (BIGINT) and `keep`
    * to `df`. All per-row; `textCol` may be any column expression.
    *
    * Round-18 optimization (guide §1.2 step 2): the four signals ride
    * ONE fused native pass ([[graft.expressions.RepetitionStats]] —
    * one tokenize + one hash-count per n) instead of three positional
    * word_shingles arrays, three interpreted array_distincts and an
    * O(kinds·total) interpreted top-gram transform.
    * `Composed.repetitionAnnotate` (test sources) keeps the original
    * chain as the parity reference (RepetitionSpec
    * pins native == composed on the adversarial corpus; the q168/q170
    * DuckDB oracles replay the composed SQL unchanged). */
  def annotate(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__rep", graft.expressions.ScrubExpressions
        .repetitionStats(col(textCol)))
      .withColumn("dup2_q20", col("__rep.dup2_q20"))
      .withColumn("dup3_q20", col("__rep.dup3_q20"))
      .withColumn("dup4_q20", col("__rep.dup4_q20"))
      .withColumn("top2_q20", col("__rep.top2_q20"))
      .withColumn("keep",
        col("dup2_q20") <= Dup2MaxQ20 && col("dup3_q20") <= Dup3MaxQ20 &&
          col("dup4_q20") <= Dup4MaxQ20 && col("top2_q20") <= Top2MaxQ20)
      .drop("__rep")
}
