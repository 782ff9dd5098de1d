package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words

/** Byte-pair-encoding tokenizer training (Sennrich/Haddow/Birch) on a
  * Spark corpus, and encoding with the learned merges.
  *
  * Scale shape (100 TB): the corpus is touched EXACTLY ONCE — one
  * tokenize + word-frequency aggregate (the same map-side-combined
  * shuffle as any word count). Every merge iteration after that runs
  * on the distinct-WORD table weighted by frequency (vocabulary-sized,
  * millions of rows at web scale — not corpus-sized), which is how
  * single-node BPE trainers work too; this one just keeps the word
  * table distributed. Per iteration: one pair-count aggregate over the
  * word table and ONE bounded driver action (the argmax pair — a
  * 1-row collect, the q56 CC-loop discipline), then the merge applies
  * as a per-row array fold. Lineage is truncated each iteration
  * ([[Materialize.pin]]: localCheckpoint locally, reliable checkpoint
  * when a dir is configured) — 50 nested HOF layers would otherwise
  * double the plan per round (the dupClusters lesson).
  *
  * Determinism: ties in pair frequency break lexicographically on the
  * pair — training is reproducible across engines, partitionings, and
  * cluster layouts. Words are [a-z]+ runs of the lowercased text
  * (exactly [[words]]); symbols start as single characters with no
  * end-of-word marker (word-internal merges only — the marker variant
  * changes bookkeeping, not shape).
  */
object Bpe {

  /** Initial symbol array: the word's single characters. */
  private[graft] def chars(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => substring(w, i, lit(1)))

  /** One left-to-right merge pass of (a, b) → "ab" over a symbol
    * array, as a builtin aggregate fold (greedy, non-overlapping:
    * "aaa" under (a,a) → ["aa", "a"]). The trainer's state-update
    * step; [[graft.expressions.BpeEncode]] runs the same pass
    * natively for corpus-scale encoding, and BpeSpec pins the two
    * equal. */
  private[graft] def applyMerge(symbols: Column, a: String, b: String): Column =
    aggregate(symbols, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train `numMerges` BPE merges on `textCol`. Returns the ordered
    * merge list (earlier = higher priority). Stops early when the best
    * remaining pair's weighted frequency drops below `minPairFreq`. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minPairFreq: Long = 2): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    // the one corpus-scale pass: word frequencies. Pinned handle, not
    // raw pin — replace/delete can then only ever act on the pin root
    // (a derived frame can neither wrong-delete nor leak).
    val pinned = Materialize.pinState(
      df.select(explode(words(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(chars(col("w")).as("sym"), col("freq")))
    var state = pinned.df
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      // adjacent pairs weighted by word frequency; zip_with pads the
      // shifted copy with null, so the tail struct drops at the filter
      val best = state
        .select(col("freq"), explode(zip_with(
          col("sym"), slice(col("sym"), lit(2), greatest(size(col("sym")) - 1, lit(0))),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .filter(col("p.b").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect() // bounded: ONE row per iteration
      if (best.isEmpty || best(0).getLong(2) < minPairFreq) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        // truncate the per-iteration HOF lineage; Pinned.replace
        // deletes the superseded reliable checkpoint so a numMerges-
        // iteration run keeps ONE state copy on the checkpoint store,
        // not numMerges (cleanCheckpoints defaults to false)
        state = pinned.replace(state
          .select(applyMerge(col("sym"), a, b).as("sym"), col("freq")))
        i += 1
      }
    }
    // the final state dies with this call — reclaim its files too
    pinned.delete()
    merges.result()
  }

  /** Tokenize with learned merges: [a-z]+ words of the lowercased
    * text, each folded through the merge list in training order.
    * Native fused loop ([[graft.expressions.BpeEncode]]) — the
    * corpus-scale path. */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    graft.expressions.BpeEncode.encode(text, merges)
}
