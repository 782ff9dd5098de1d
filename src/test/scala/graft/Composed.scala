package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.TextExpressions.wordShinglesAll
import graft.functions.TextFunctions.{stopwords, words}
import graft.operators.{Bpe, Dedup, QualityClassifier, Repetition}

/** Pure-builtin compositions of the operators that run as native
  * expressions in main: interpreted higher-order-function chains,
  * spec-scale only. Each is the parity reference its spec compares the
  * native form against, and most are the shape a DuckDB oracle
  * replays. */
object Composed {

  /** [[graft.operators.Dedup.shingles]]. */
  def shingles(c: Column, k: Int): Column = {
    val w = words(c)
    if (k == 1) array_distinct(w)
    else {
      val zipped = (1 until k).foldLeft(w) { (acc, j) =>
        val shifted = slice(w, lit(j + 1), greatest(size(w) - j, lit(0)))
        zip_with(acc, shifted, (a, b) => concat(a, lit(" "), b))
      }
      array_distinct(array_compact(zipped))
    }
  }

  /** [[graft.operators.Dedup.winnow]]'s fingerprints
    * ([[graft.expressions.WinnowFingerprints]]): O(g·w) interpreted HOF
    * re-slicing vs the native O(g) deque. */
  def winnow(c: Column, k: Int, w: Int): Column = {
    val g = length(c) - lit(k) + lit(1)
    val grams = transform(sequence(lit(1), greatest(g, lit(1))),
      i => md5(c.substr(i, lit(k))))
    // CaseWhen evaluates only the selected branch per row, so the
    // descending-sequence/zero-slice garbage the other branches would
    // produce on short texts is never computed
    array_distinct(
      when(g <= 0, array().cast("array<string>"))
        .when(g <= w, array(array_min(grams)))
        .otherwise(transform(sequence(lit(1), g - lit(w) + lit(1)),
          j => array_min(slice(grams, j, lit(w))))))
  }

  /** [[graft.operators.Dedup.simhashBits]]: one interpreted
    * aggregate+zip_with pass per word occurrence. */
  def simhashBits(c: Column): Column = {
    val ws = words(c)
    val zeros = transform(sequence(lit(1), lit(64)), _ => lit(0))
    val sums = aggregate(ws, zeros,
      (acc, w) => zip_with(acc, Dedup.wordBits(w), (a, b) => a + b))
    transform(sums, s => when(s * 2 >= size(ws), lit(1)).otherwise(lit(0)))
  }

  /** [[graft.operators.Dedup.cutAndReassemble]]. */
  def cutAndReassemble(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, rm: DataFrame): DataFrame = {
    val flags = transform(col("__gs"),
      g => coalesce(array_contains(col("__rm"), g), lit(false)))
    // word j (1-based) is covered iff any removable gram STARTS in
    // [j-k+1, j] (clamped to the gram range); CaseWhen keeps the
    // empty-doc branch from ever evaluating the sequence()
    val covered =
      when(size(col("__ws")) === 0, array().cast("array<boolean>"))
        .otherwise(transform(sequence(lit(1), size(col("__ws"))), j => {
          val lo = greatest(j - lit(k - 1), lit(1))
          val hi = least(j, size(col("__flags")))
          when(hi >= lo,
            exists(slice(col("__flags"), lo, hi - lo + lit(1)),
              b => b)).otherwise(lit(false))
        }))
    docs
      // null text ≡ empty document (public-API guard: without the
      // coalesce, words(null) is null and size(null) = -1 silently
      // skips the empty-doc branch)
      .select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("__text"))
      .join(rm, Seq("doc_id"), "left")
      .withColumn("__ws", words(col("__text")))
      .withColumn("__gs", wordShinglesAll(col("__text"), k))
      .withColumn("__flags", flags)
      .withColumn("__cov", covered)
      .withColumn("__kept", filter(
        zip_with(col("__ws"), col("__cov"),
          (w, c) => when(c, lit(null).cast("string")).otherwise(w)),
        w => w.isNotNull))
      .select(col("doc_id"),
        size(col("__ws")).cast("bigint").as("total_words"),
        (size(col("__ws")) - size(col("__kept"))).cast("bigint")
          .as("removed_words"),
        aggregate(
          zip_with(col("__ws"), col("__cov"),
            (w, c) => when(c, length(w)).otherwise(lit(0))),
          lit(0L), (acc, x) => acc + x.cast("bigint")).as("removed_chars"),
        array_join(col("__kept"), " ").as("cleaned"))
  }

  /** [[graft.operators.FuzzyJoin.deletionVariants]]: two interpreted
    * substr evaluations per variant. */
  def deletionVariants(s: Column): Column =
    array_distinct(concat(
      array(s),
      // greatest(…, 0): empty strings yield one degenerate variant
      // instead of a negative-bound sequence
      transform(sequence(lit(0), greatest(length(s) - 1, lit(0))),
        i => concat(s.substr(lit(1), i), s.substr(i + lit(2), length(s))))))

  /** [[graft.operators.Repetition.annotate]]. */
  def repetitionAnnotate(df: DataFrame, textCol: String): DataFrame = {
    import Repetition.{Dup2MaxQ20, Dup3MaxQ20, Dup4MaxQ20, Top2MaxQ20}
    val g2 = col("__rep_g2")
    val top2Count =
      coalesce(array_max(filter(transform(array_distinct(g2),
        g => size(filter(g2, x => x === g))), c => c >= 2)), lit(0))
        .cast("bigint")
    df.withColumn("__rep_g2", wordShinglesAll(col(textCol), 2))
      .withColumn("__rep_g3", wordShinglesAll(col(textCol), 3))
      .withColumn("__rep_g4", wordShinglesAll(col(textCol), 4))
      // the divisions are SQL div (truncating) on non-negative BIGINTs,
      // identical to DuckDB's floor-// — the q165 discipline
      .withColumn("dup2_q20", expr(
        "((CAST(size(__rep_g2) - size(array_distinct(__rep_g2)) AS BIGINT)) " +
          "* 1048576L) div greatest(CAST(size(__rep_g2) AS BIGINT), 1L)"))
      .withColumn("dup3_q20", expr(
        "((CAST(size(__rep_g3) - size(array_distinct(__rep_g3)) AS BIGINT)) " +
          "* 1048576L) div greatest(CAST(size(__rep_g3) AS BIGINT), 1L)"))
      .withColumn("dup4_q20", expr(
        "((CAST(size(__rep_g4) - size(array_distinct(__rep_g4)) AS BIGINT)) " +
          "* 1048576L) div greatest(CAST(size(__rep_g4) AS BIGINT), 1L)"))
      .withColumn("__rep_top2", top2Count)
      .withColumn("top2_q20", expr(
        "(__rep_top2 * 1048576L) div greatest(CAST(size(__rep_g2) AS BIGINT), 1L)"))
      .withColumn("keep",
        col("dup2_q20") <= Dup2MaxQ20 && col("dup3_q20") <= Dup3MaxQ20 &&
          col("dup4_q20") <= Dup4MaxQ20 && col("top2_q20") <= Top2MaxQ20)
      .drop("__rep_g2", "__rep_g3", "__rep_g4", "__rep_top2")
  }

  /** [[graft.operators.QualityClassifier.score]]. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    import QualityClassifier.{Bias, TokenCap, WPunct, WStop, WTokens, WWlen}
    val hits = stopwords.map { case (_, stops) =>
      val set = array(stops.map(lit): _*)
      size(filter(col("__qc_ws"), w => array_contains(set, w)))
    }.reduce(_ + _)
    df.withColumn("__qc_ts",
        graft.expressions.TextExpressions.textStats(col(textCol)))
      .withColumn("__qc_ws", words(col(textCol)))
      .withColumn("__qc_hits", hits.cast("bigint"))
      .withColumn("__qc_wsum",
        aggregate(col("__qc_ws"), lit(0), (acc, w) => acc + length(w))
          .cast("bigint"))
      .withColumn("c_tokens",
        lit(WTokens) * least(col("__qc_ts.n_ws_tokens"), lit(TokenCap))
          .cast("bigint"))
      .withColumn("c_punct", lit(WPunct) * expr(
        "(CAST(__qc_ts.n_punct AS BIGINT) * 1048576L) div " +
          "greatest(CAST(__qc_ts.n_chars AS BIGINT), 1L)"))
      .withColumn("c_stop", lit(WStop) * expr(
        "(__qc_hits * 1048576L) div greatest(CAST(size(__qc_ws) AS BIGINT), 1L)"))
      .withColumn("c_wlen", lit(WWlen) * expr(
        "(__qc_wsum * 131072L) div greatest(CAST(size(__qc_ws) AS BIGINT), 1L)"))
      .withColumn("score",
        lit(Bias) + col("c_tokens") + col("c_punct") + col("c_stop") +
          col("c_wlen"))
      .withColumn("keep", col("score") >= 0L)
      .drop("__qc_ts", "__qc_ws", "__qc_hits", "__qc_wsum")
  }

  /** [[graft.operators.Bpe.encode]]: the same per-word char split +
    * sequential merge passes, one interpreted HOF layer per merge. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    val toks = transform(words(text), w =>
      merges.foldLeft(Bpe.chars(w)) { case (acc, (a, b)) =>
        Bpe.applyMerge(acc, a, b)
      })
    flatten(toks)
  }

  /** [[graft.functions.TextFunctions.stopwordHits]]. */
  def stopwordHits(c: Column, stops: Seq[String]): Column = {
    val set = array(stops.map(lit): _*)
    size(filter(words(c), w => array_contains(set, w)))
  }

  /** [[graft.functions.TextFunctions.langId]]: one regexp pass +
    * interpreted array filter per language, the CASE/GREATEST form the
    * DuckDB oracle replays. */
  def langId(c: Column): Column = {
    val scores = stopwords.map { case (l, s) => l -> stopwordHits(c, s) }
    val total = scores.map(_._2).reduce(_ + _)
    val cases = scores.init.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((lang, score), i), elseCol) =>
        val rest = scores.drop(i + 1).map(_._2)
        val restMax = if (rest.size == 1) rest.head else greatest(rest: _*)
        when(score >= restMax, lit(lang)).otherwise(elseCol)
    }
    when(total === 0, lit("und")).otherwise(cases)
  }
}
