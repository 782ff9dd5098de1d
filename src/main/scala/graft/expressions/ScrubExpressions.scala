package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused native expressions for the web-scrub / span-removal hot path
  * (round-18 optimization: guide §1.2 step 2 "per-task work" + §4
  * "prefer fused single-pass evaluation over stacked interpreted
  * passes"). Each expression replaces a chain of built-in passes whose
  * SEMANTICS it reproduces exactly — the composed forms survive as
  * parity references in the test sources (`graft.Composed`), and the
  * specs pin native == composed on adversarial inputs. The DuckDB oracles
  * are untouched: they replay the composed SQL, so the driver's hash
  * gate re-proves the fusion at every SF.
  */
private[expressions] object AzTokens {
  /** Positional [a-z]-run tokens of the lowered text — byte-for-byte
    * `regexp_extract_all(lower(text), '[a-z]+')`, the [[AzWords]] walk
    * with positions kept. */
  def list(text: UTF8String): scala.collection.mutable.ArrayBuffer[String] = {
    val lowered = text.toLowerCase.toString
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = lowered.length
    while (i < n) {
      val c = lowered.charAt(i)
      if (c >= 'a' && c <= 'z') {
        var j = i + 1
        while (j < n && lowered.charAt(j) >= 'a' && lowered.charAt(j) <= 'z') j += 1
        words += lowered.substring(i, j)
        i = j
      } else i += 1
    }
    words
  }
}

/** Native Gopher-repetition signal pack: one tokenize pass + one
  * hash-counting pass per n ∈ {2,3,4} over the document's OWN grams.
  *
  * Semantics are EXACTLY `Composed.repetitionAnnotate`'s (test sources)
  * column arithmetic:
  *   - dupN_q20 = `((total_N − distinct_N) * 2²⁰) div greatest(total_N, 1)`
  *     over POSITIONAL word n-grams (`word_shingles(text, n, true)`),
  *     distinct counted as gram KINDS;
  *   - top2_q20 = `(max count over 2-gram kinds occurring ≥ 2, else 0)
  *     * 2²⁰ div greatest(total_2, 1)`.
  * All divisions are truncating on non-negative BIGINTs (SQL `div` ==
  * Java `/`). The composed form walks three word_shingles arrays, three
  * interpreted array_distincts and an O(kinds · total) interpreted
  * transform/filter for the top-gram count; this is one loop per n with
  * an O(total) hash map. NULL text replays the composed chain's
  * degenerate arithmetic exactly (size(NULL) = NULL under Spark 4
  * defaults): dup2/dup3/dup4 NULL, top2_q20 = 0 (its coalesce(…, 0)
  * survives the null chain because greatest skips nulls) — pinned in
  * ScrubFusionSpec.
  */
case class RepetitionStats(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = RepetitionStats.schema
  override def prettyName: String = RepetitionStats.name
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${RepetitionStats.name} expects a string")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) RepetitionStats.nullTextRow else nullSafeEval(v)
  }

  private def dupQ20(total: Long, distinct: Long): Long =
    if (total <= 0L) 0L else ((total - distinct) * 1048576L) / total

  override def nullSafeEval(text: Any): Any = {
    val words = AzTokens.list(text.asInstanceOf[UTF8String])
    val n = words.length
    val sb = new java.lang.StringBuilder

    def gram(start: Int, k: Int): String = {
      sb.setLength(0)
      var t = 0
      while (t < k) {
        if (t > 0) sb.append(' ')
        sb.append(words(start + t))
        t += 1
      }
      sb.toString
    }

    // k = 2 with counts (top-gram needs multiplicities)
    val total2 = math.max(n - 1, 0)
    val m2 = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < total2) { m2.merge(gram(i, 2), 1, (a, b) => a + b); i += 1 }
    var top2 = 0
    m2.forEach { (_, c) => if (c >= 2 && c > top2) top2 = c }

    def distinctOf(k: Int): (Long, Long) = {
      val total = math.max(n - k + 1, 0)
      val s = new java.util.HashSet[String]()
      var j = 0
      while (j < total) { s.add(gram(j, k)); j += 1 }
      (total.toLong, s.size.toLong)
    }
    val (total3, distinct3) = distinctOf(3)
    val (total4, distinct4) = distinctOf(4)

    new GenericInternalRow(Array[Any](
      dupQ20(total2.toLong, m2.size.toLong),
      dupQ20(total3, distinct3),
      dupQ20(total4, distinct4),
      (top2.toLong * 1048576L) / math.max(total2.toLong, 1L)))
  }

  override protected def withNewChildInternal(
      newChild: Expression): RepetitionStats = copy(child = newChild)
}

object RepetitionStats {
  val name = "repetition_stats"

  /** The NULL-text row — the composed chain's values under Spark 4's
    * size(NULL) = NULL defaults: dup fractions NULL, top2_q20 0. */
  private[expressions] val nullTextRow =
    new GenericInternalRow(Array[Any](null, null, null, 0L))

  val schema: StructType = StructType(Seq(
    StructField("dup2_q20", LongType, nullable = true),
    StructField("dup3_q20", LongType, nullable = true),
    StructField("dup4_q20", LongType, nullable = true),
    StructField("top2_q20", LongType, nullable = false)))
}

/** Native learned-quality feature pack: word count, summed word length
  * and total stopword hits (all 5 language lists) in ONE tokenize pass.
  *
  * Semantics are EXACTLY the composed intermediates of
  * `Composed.qualityScore` (test sources):
  *   - n_words = `size(regexp_extract_all(lower(text), '[a-z]+'))`
  *     (−1 for NULL text — size-of-NULL legacy);
  *   - wsum    = `aggregate(words, 0, (acc, w) -> acc + length(w))` —
  *     INT arithmetic, NULL for NULL text;
  *   - hits    = Σ over the 5 stopword lists of
  *     `size(filter(words, w -> array_contains(list, w)))` — a word in
  *     several lists scores once per list, repeats count.
  * NULL text yields a NULL struct — every downstream consumer reads
  * NULL fields, exactly the composed chain's size(NULL) = NULL
  * propagation under Spark 4 defaults (ScrubFusionSpec pins the full
  * score-column parity on a NULL row).
  * The composed form runs one regexp pass plus five interpreted
  * filter/array_contains walks (50 comparisons per word) plus an
  * interpreted aggregate; this is one loop with a static word → list
  * multiplicity map.
  */
case class QcFeatures(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = QcFeatures.schema
  override def prettyName: String = QcFeatures.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${QcFeatures.name} expects a string")

  override def nullSafeEval(text: Any): Any = {
    val words = AzTokens.list(text.asInstanceOf[UTF8String])
    var wsum = 0 // INT on purpose: the composed aggregate wraps as INT
    var hits = 0
    var i = 0
    while (i < words.length) {
      val w = words(i)
      wsum += w.length
      val m = QcFeatures.listsPerWord.get(w)
      if (m != null) hits += m.intValue()
      i += 1
    }
    new GenericInternalRow(Array[Any](words.length, wsum, hits))
  }

  override protected def withNewChildInternal(newChild: Expression): QcFeatures =
    copy(child = newChild)
}

object QcFeatures {
  val name = "qc_features"

  /** word → number of stopword lists containing it. */
  private[expressions] val listsPerWord: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    graft.functions.TextFunctions.stopwords.foreach { case (_, ws) =>
      ws.foreach(w => m.merge(w, Integer.valueOf(1), (a, b) =>
        Integer.valueOf(a.intValue() + b.intValue())))
    }
    m
  }

  val schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("wsum", IntegerType, nullable = true),
    StructField("hits", IntegerType, nullable = false)))
}

/** Native markup text chain over an ISOLATED body: tag strip → frozen
  * entity decode → whitespace collapse + trim, plus the anchor count,
  * in three byte-level passes (strip, decode, collapse — every pattern
  * involved is pure ASCII, and UTF-8 continuation bytes can never
  * alias ASCII, so byte scanning is exactly char scanning here).
  *
  * Semantics are EXACTLY [[graft.operators.Markup]]'s composed chain:
  *   - cleaned = `trim(regexp_replace(decode₁₆(regexp_replace(
  *     regexp_replace(body, "<[^>]*>", " "), "<[^>]*$", " ")),
  *     "[ \t\n\r\f]+", " "))` where decode₁₆ is the 16-entry
  *     [[graft.operators.Markup.Entities]] replace fold;
  *   - n_links = `(length(body) − length(replace(body, "<a href", "")))
  *     div 7`.
  *
  * Single-scan decode equivalence (MarkupSpec pins it on the
  * adversarial corpus): every Entities pattern is `&…;` with no
  * interior `&` or `;`, so matches of different patterns can never
  * overlap in the input, and no replacement output re-creates a match
  * site — the only output containing `&` is the deliberate
  * `&#38;`/`&#x26;` → `&amp;` normalization, which the LAST pass then
  * maps to `&` without rescanning its own output. A left-to-right
  * scan that, at each `&`, applies the unique matching pattern
  * (collapsing the amp chain to a direct `&`) therefore produces the
  * identical byte string to the 16 sequential global replaces.
  */
case class MarkupClean(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = MarkupClean.schema
  override def prettyName: String = MarkupClean.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${MarkupClean.name} expects a string")

  override def nullSafeEval(body: Any): Any = {
    val in = body.asInstanceOf[UTF8String].getBytes
    val n = in.length

    // anchor count on the RAW body (step 2 of Markup.extract)
    var links = 0L
    var i = 0
    while (i + 7 <= n) {
      if (in(i) == '<' && in(i + 1) == 'a' && in(i + 2) == ' ' &&
          in(i + 3) == 'h' && in(i + 4) == 'r' && in(i + 5) == 'e' &&
          in(i + 6) == 'f') { links += 1; i += 7 }
      else i += 1
    }

    // pass 1: tag strip — complete tags AND the unclosed trailing
    // fragment each become one space
    val stripped = new Array[Byte](n)
    var sLen = 0
    i = 0
    while (i < n) {
      if (in(i) == '<') {
        var j = i + 1
        while (j < n && in(j) != '>') j += 1
        stripped(sLen) = ' '; sLen += 1
        i = if (j < n) j + 1 else n
      } else { stripped(sLen) = in(i); sLen += 1; i += 1 }
    }

    // pass 2: entity decode (single scan; see class doc for the
    // equivalence argument). Table order makes the match unique.
    val decoded = new Array[Byte](sLen)
    var dLen = 0
    i = 0
    while (i < sLen) {
      val b = stripped(i)
      if (b == '&') {
        val hit = MarkupClean.matchEntity(stripped, i, sLen)
        if (hit >= 0) {
          decoded(dLen) = MarkupClean.outs(hit); dLen += 1
          i += MarkupClean.pats(hit).length
        } else { decoded(dLen) = b; dLen += 1; i += 1 }
      } else { decoded(dLen) = b; dLen += 1; i += 1 }
    }

    // pass 3: whitespace collapse + trim — runs of the EXPLICIT class
    // [ \t\n\r\f] become one space; leading/trailing runs vanish
    val out = new Array[Byte](dLen)
    var oLen = 0
    var pendingSpace = false
    i = 0
    while (i < dLen) {
      val b = decoded(i)
      if (b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f')
        pendingSpace = true
      else {
        if (pendingSpace && oLen > 0) { out(oLen) = ' '; oLen += 1 }
        pendingSpace = false
        out(oLen) = b; oLen += 1
      }
      i += 1
    }

    new GenericInternalRow(Array[Any](
      UTF8String.fromBytes(java.util.Arrays.copyOf(out, oLen)), links))
  }

  override protected def withNewChildInternal(newChild: Expression): MarkupClean =
    copy(child = newChild)
}

object MarkupClean {
  val name = "markup_clean"

  /** [[graft.operators.Markup.Entities]] flattened to byte patterns;
    * the three amp-family entries collapse to a direct `&` (the
    * two-step normalize-then-decode the table's order produces). */
  private[expressions] val pats: Array[Array[Byte]] =
    graft.operators.Markup.Entities.map(_._1.getBytes("UTF-8")).toArray
  private[expressions] val outs: Array[Byte] =
    graft.operators.Markup.Entities.map { case (_, v) =>
      (if (v == "&amp;") "&" else v).getBytes("UTF-8")(0)
    }.toArray

  /** Index of the unique Entities pattern matching at `pos`, else −1. */
  private[expressions] def matchEntity(buf: Array[Byte], pos: Int,
                                       len: Int): Int = {
    var p = 0
    while (p < pats.length) {
      val pat = pats(p)
      if (pos + pat.length <= len) {
        var t = 1 // buf(pos) == '&' == pat(0) already
        while (t < pat.length && buf(pos + t) == pat(t)) t += 1
        if (t == pat.length) return p
      }
      p += 1
    }
    -1
  }

  val schema: StructType = StructType(Seq(
    StructField("extracted", StringType, nullable = false),
    StructField("n_links", LongType, nullable = false)))
}

/** Native span cut-and-reassemble: given a document's text, the set of
  * its removable k-grams and k, cut every covered word position and
  * rebuild the survivors — one tokenize pass, one hash-set membership
  * pass over the document's own grams, one coverage sweep.
  *
  * Semantics are EXACTLY
  * [[graft.operators.Dedup]]'s composed reassembly tail (kept as the
  * DedupSpec parity reference):
  *   - words  = `regexp_extract_all(lower(text), '[a-z]+')`;
  *   - word j (1-based) is covered iff any removable gram STARTS in
  *     `[j−k+1, j]` clamped to the gram range;
  *   - total_words = |words|, removed_words = covered count,
  *     removed_chars = Σ length(covered word) (separators not
  *     counted), cleaned = surviving words joined by single spaces.
  * A NULL removable array means "no removals" (the left-join miss),
  * NOT null propagation. The composed form pays an O(|grams| · |rm|)
  * interpreted array_contains per row plus a per-word slice/exists
  * window; this is O(|grams| + |rm|) with a hash set and a run-length
  * coverage sweep.
  */
case class SpanCut(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = SpanCut.schema
  override def prettyName: String = SpanCut.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(first.dataType == StringType &&
        second.dataType.isInstanceOf[ArrayType] &&
        second.dataType.asInstanceOf[ArrayType].elementType == StringType &&
        third.dataType == IntegerType && third.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"${SpanCut.name} expects (string, array<string>, foldable int)")
    else third.eval(null) match {
      case kk: Int if kk >= 1 => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${SpanCut.name} expects k to be a non-null int >= 1, got $other")
    }

  @transient private lazy val k: Int = third.eval(null).asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val text = first.eval(input)
    if (text == null) return null // callers coalesce; contract parity
    val rm = second.eval(input)   // NULL = left-join miss = no removals
    evalCut(text.asInstanceOf[UTF8String],
      rm.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  }

  private def evalCut(text: UTF8String,
                      rm: org.apache.spark.sql.catalyst.util.ArrayData): Any = {
    val words = AzTokens.list(text)
    val n = words.length
    val nGrams = math.max(n - k + 1, 0)

    val covered = new Array[Boolean](n)
    if (rm != null && rm.numElements() > 0 && nGrams > 0) {
      val set = new java.util.HashSet[String]()
      var r = 0
      while (r < rm.numElements()) {
        if (!rm.isNullAt(r)) set.add(rm.getUTF8String(r).toString)
        r += 1
      }
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < nGrams) {
        sb.setLength(0)
        var t = 0
        while (t < k) {
          if (t > 0) sb.append(' ')
          sb.append(words(i + t))
          t += 1
        }
        if (set.contains(sb.toString)) {
          var j = i
          val hi = i + k // gram starting at i covers words [i, i+k-1]
          while (j < hi) { covered(j) = true; j += 1 }
        }
        i += 1
      }
    }

    var removedWords = 0L
    var removedChars = 0L
    val outSb = new java.lang.StringBuilder
    var j = 0
    while (j < n) {
      if (covered(j)) { removedWords += 1; removedChars += words(j).length }
      else {
        if (outSb.length() > 0) outSb.append(' ')
        outSb.append(words(j))
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, removedWords, removedChars,
      UTF8String.fromString(outSb.toString)))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SpanCut =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SpanCut {
  val name = "span_cut"

  val schema: StructType = StructType(Seq(
    StructField("total_words", LongType, nullable = false),
    StructField("removed_words", LongType, nullable = false),
    StructField("removed_chars", LongType, nullable = false),
    StructField("cleaned", StringType, nullable = false)))
}

object ScrubExpressions {
  /** Fused Gopher-repetition q20 signal struct. */
  def repetitionStats(text: Column): Column =
    call_function(RepetitionStats.name, text)

  /** Fused learned-quality feature struct (n_words, wsum, hits). */
  def qcFeatures(text: Column): Column =
    call_function(QcFeatures.name, text)

  /** Fused strip → decode → collapse chain + anchor count over an
    * isolated body. */
  def markupClean(body: Column): Column =
    call_function(MarkupClean.name, body)

  /** Fused cut-and-reassemble for exact-substring span removal. */
  def spanCut(text: Column, rm: Column, k: Int): Column =
    call_function(SpanCut.name, text, rm,
      org.apache.spark.sql.functions.lit(k))
}
