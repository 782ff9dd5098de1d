package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Typo-tolerant (edit-distance ≤ 1) equi-style join via SymSpell-type
  * deletion-neighborhood blocking.
  *
  * Two strings are within Levenshtein distance 1 iff their deletion
  * neighborhoods intersect, where a string's neighborhood is itself
  * plus every single-character-deletion variant (|s| + 1 keys). So the
  * join becomes: explode both sides to (id, variant) rows, hash-join
  * on the variant, verify candidates with the exact `levenshtein`
  * (candidates that merely share a variant but sit at distance 2 drop
  * out), and distinct the surviving pairs.
  *
  * Scale shape: variant generation is per-row and shuffle-free; the
  * only data movement is the variant hash join, whose volume is
  * (avg_len + 1)× the key column — NEVER an all-pairs product. Blowup
  * is linear in string length; for long strings, fuzzy-match a bounded
  * normalized key (a prefix or token) rather than the full text, as
  * every SymSpell deployment does.
  *
  * Measured band (q79, sf0.1 isolated min-of-3, round 14 — the
  * BASELINE.md standalone re-measure after the r13 in-sweep drift
  * 0.40→0.55 s with no code change here): 0.47–0.52 s across three
  * standalone sessions — inside the documented ±30% host band of the
  * r12 committed 0.40 s point for a sub-second query; not structure.
  * Gate against the band, not a point.
  */
object FuzzyJoin {

  /** `s` plus all |s| single-deletion variants, as an array column.
    * Duplicate variants (repeated chars) are deduped — they'd only
    * manufacture duplicate candidate pairs for the same verify.
    * Native fused loop ([[graft.expressions.DeletionVariants]]). */
  def deletionVariants(s: Column): Column =
    graft.expressions.DeletionVariants.variants(s)

  /** All (leftId, rightId, dist) pairs with levenshtein ≤ 1 between
    * `left.strCol` and `right.strCol`. Columns in the output:
    * `<leftIdCol>`, `<rightIdCol>`, `dist`. The two id columns must be
    * distinct names.
    *
    * The variant join runs over DISTINCT strings, with ids re-attached
    * afterwards: a corpus where a value repeats n× would otherwise pay
    * n² candidate pairs per repeated value in the variant buckets (a
    * 10×-duplication corpus measured 27× slower under the naive
    * id-level join). Candidate generation + verify scale with the
    * distinct-value count; the id re-expansion joins are linear in the
    * (inherently multiplicative) output.
    */
  def lev1Join(left: DataFrame, right: DataFrame,
               leftId: String, rightId: String, strCol: String): DataFrame = {
    require(leftId != rightId, s"id columns must differ, both are $leftId")
    // the variant index shuffles 64-bit hashes, not the variant
    // strings (~4x less exchange volume on real names); a hash
    // collision only mints a candidate pair the exact verify rejects,
    // and equal variants always hash equal, so recall is unaffected
    val lv = left.select(col(strCol).as("__ls")).distinct()
      .select(col("__ls"),
        explode(deletionVariants(col("__ls"))).as("__v0"))
      .select(col("__ls"), xxhash64(col("__v0")).as("__v"))
    val rv = right.select(col(strCol).as("__rs")).distinct()
      .select(col("__rs"),
        explode(deletionVariants(col("__rs"))).as("__v0"))
      .select(col("__rs"), xxhash64(col("__v0")).as("__v"))
    // variant keys grow with the corpus — hash join, never sort-merge.
    // verify with the native bounded check (one early-exit code-point
    // walk), not the O(len²) levenshtein DP: the join only asks
    // "within 1?", and lev1_dist answers with the exact distance for
    // every pair that survives (FuzzyJoinSpec pins DP parity)
    val strPairs = lv.join(rv.hint("shuffle_hash"), "__v")
      .select(col("__ls"), col("__rs"),
        graft.expressions.Lev1Dist.dist(col("__ls"), col("__rs")).as("dist"))
      .where(col("dist") <= 1)
      .distinct()
    // re-attach ids; (id → string) is many-to-one and strPairs is
    // distinct, so the output needs no further dedup shuffle
    left.select(col(leftId), col(strCol).as("__ls"))
      .join(strPairs.hint("shuffle_hash"), "__ls")
      .join(right.select(col(rightId), col(strCol).as("__rs")).hint("shuffle_hash"),
        "__rs")
      .select(col(leftId), col(rightId), col("dist"))
  }
}
