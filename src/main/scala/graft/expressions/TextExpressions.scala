package graft.expressions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-shingling: distinct k-shingles of lowercase [a-z] word
  * runs, in one pass over the string.
  *
  * Semantics are EXACTLY `array_distinct(k-grams of
  * regexp_extract_all(lower(text), '[a-z]+'))` — lowercasing uses the
  * same UTF8String.toLowerCase as the `lower` function, and "word" is
  * a maximal run of post-lowercase 'a'..'z' bytes, which is precisely
  * what the regex extracts. The composed form walks the interpreted
  * higher-order-function machinery (split + 2×zip_with + compact +
  * distinct, each allocating); this is one JVM loop. CodegenFallback:
  * the surrounding stage still whole-stage-codegens and calls into
  * eval — the win is the fused loop, not codegen of the loop itself.
  *
  * k must be a foldable positive int. The optional third argument
  * `keep_duplicates` (foldable boolean, default false) switches to
  * POSITIONAL shingles: every k-gram in document order, duplicates
  * kept — the form exact-substring-dedup metrics need (each position
  * counts, [[graft.queries.DedupQueries]] q143).
  */
case class WordShingles(first: Expression, second: Expression,
                        third: Expression)
  extends TernaryExpression with CodegenFallback {

  /** The two-argument SQL form: distinct shingles. */
  def this(first: Expression, second: Expression) = this(first, second, Literal(false))

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = WordShingles.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(first.dataType == StringType && second.dataType == IntegerType &&
        second.foldable && third.dataType ==
        org.apache.spark.sql.types.BooleanType && third.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"${WordShingles.name} expects (string, foldable int, foldable bool)")
    else (second.eval(null), third.eval(null)) match {
      // resolve-time rejection: a null k would unbox to 0 and k <= 0 would
      // silently yield a single empty shingle per row instead of failing.
      case (kk: Int, _: Boolean) if kk > 0 => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${WordShingles.name} expects non-null (int > 0, bool), got $other")
    }

  @transient private lazy val k: Int =
    second.eval(null).asInstanceOf[Int]
  @transient private lazy val keepDuplicates: Boolean =
    third.eval(null).asInstanceOf[Boolean]

  override def nullSafeEval(text: Any, kAny: Any, keepAny: Any): Any = {
    val lowered = text.asInstanceOf[UTF8String].toLowerCase.toString
    // tokenize: maximal runs of 'a'..'z'
    val words = mutable.ArrayBuffer.empty[String]
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
    if (words.length < k) new GenericArrayData(Array.empty[Any])
    else {
      // LinkedHashSet dedups in first-occurrence order (the default);
      // ArrayBuffer keeps every position (keep_duplicates = true)
      val out: mutable.Growable[String] with Iterable[String] =
        if (keepDuplicates) mutable.ArrayBuffer.empty[String]
        else mutable.LinkedHashSet.empty[String]
      val sb = new java.lang.StringBuilder
      var s = 0
      while (s <= words.length - k) {
        sb.setLength(0)
        var t = 0
        while (t < k) {
          if (t > 0) sb.append(' ')
          sb.append(words(s + t))
          t += 1
        }
        out += sb.toString
        s += 1
      }
      new GenericArrayData(out.iterator.map(x => UTF8String.fromString(x): Any).toArray)
    }
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WordShingles =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WordShingles {
  val name = "word_shingles"
}

/** Shared [a-z]-run tokenizer for the native text expressions —
  * byte-for-byte the semantics of
  * `regexp_extract_all(lower(text), '[a-z]+')` (lowercasing via the
  * same UTF8String.toLowerCase as the `lower` function). */
private[expressions] object AzWords {
  /** Word → occurrence count, plus total occurrences. */
  def freq(text: UTF8String): (java.util.HashMap[String, Int], Int) = {
    val lowered = text.toLowerCase.toString
    val m = new java.util.HashMap[String, Int]()
    var total = 0
    var i = 0
    val n = lowered.length
    while (i < n) {
      val c = lowered.charAt(i)
      if (c >= 'a' && c <= 'z') {
        var j = i + 1
        while (j < n && lowered.charAt(j) >= 'a' && lowered.charAt(j) <= 'z') j += 1
        val w = lowered.substring(i, j)
        m.merge(w, 1, (a, b) => a + b)
        total += 1
        i = j
      } else i += 1
    }
    (m, total)
  }
}

/** Native SimHash bit vector: 64 ints (0/1), one fused pass.
  *
  * Semantics are EXACTLY the composed form
  * (`Composed.simhashBits`, test sources): per word occurrence,
  * the first 16 hex chars of md5(word) contribute 64 bits (nibble
  * MSB-first); bit i of the signature is 1 iff
  * `2 * sum_i >= totalWords` (ties → 1; empty text → all ones). The
  * composed aggregate/zip_with chain is interpreted and allocates two
  * 64-element arrays per word occurrence — measured 16 s for one sf0.1
  * pass vs well under a second for this loop. Repeated words hash once
  * (frequency-weighted), which the HOF form cannot express.
  */
case class SimHashBits(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = SimHashBits.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${SimHashBits.name} expects a string")

  override def nullSafeEval(text: Any): Any = {
    val (freq, total) = AzWords.freq(text.asInstanceOf[UTF8String])
    val counts = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    freq.forEach { (w, f) =>
      val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        if (((d(j >> 3) >> (7 - (j & 7))) & 1) == 1) counts(j) += f
        j += 1
      }
    }
    val bits = new Array[Any](64)
    var i = 0
    while (i < 64) {
      bits(i) = if (2 * counts(i) >= total) 1 else 0
      i += 1
    }
    new GenericArrayData(bits)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object SimHashBits {
  val name = "simhash_bits"
}

/** Native MinHash signature: for each h in 1..numHashes, the
  * lexicographic minimum of `md5('<h>:' || shingle)` hex over the
  * shingle array — EXACTLY the relational
  * `explode(sh) → groupBy(id).agg(min(md5(concat('h:', s))) …)`
  * formulation, but per-row: no explode, no shuffle, O(numHashes)
  * state. Digests are compared as raw bytes (unsigned) — hex encoding
  * is order-preserving per byte — and only the winners are hex-encoded.
  * An empty shingle array yields an empty result array and an array
  * with no non-null elements yields NULL (the relational form's min
  * over all-null inputs); a NULL array yields NULL. Null elements are
  * skipped, exactly like md5(null) vanishing under min.
  */
case class MinHashSigs(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true // all-null-element arrays yield NULL
  override def prettyName: String = MinHashSigs.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(left.dataType.isInstanceOf[ArrayType] &&
        left.dataType.asInstanceOf[ArrayType].elementType == StringType &&
        right.dataType == IntegerType && right.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"${MinHashSigs.name} expects (array<string>, foldable int)")
    else right.eval(null) match {
      case h: Int if h > 0 => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${MinHashSigs.name} expects numHashes to be a non-null int > 0, got $other")
    }

  @transient private lazy val numHashes: Int =
    right.eval(null).asInstanceOf[Int]

  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(h =>
      s"${h + 1}:".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = (a(i) & 0xff) - (b(i) & 0xff)
      if (x != 0) return x
      i += 1
    }
    a.length - b.length
  }

  private val hexTab = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexTab((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexTab(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  override def nullSafeEval(shAny: Any, nAny: Any): Any = {
    val sh = shAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = sh.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = new Array[Array[Byte]](numHashes)
    // shingle-outer: the UTF8String → bytes copy happens once per
    // shingle, not once per (shingle, h); digests land in a reused
    // scratch buffer, allocating only when a new minimum is kept.
    val tmp = new Array[Byte](16)
    var i = 0
    while (i < n) {
      // null elements are skipped, exactly like the relational form
      // (md5(null) is null and min ignores nulls)
      if (!sh.isNullAt(i)) {
        val bytes = sh.getUTF8String(i).getBytes
        var h = 0
        while (h < numHashes) {
          md.reset()
          md.update(prefixes(h))
          md.update(bytes)
          md.digest(tmp, 0, 16)
          if (mins(h) == null || cmpBytes(tmp, mins(h)) < 0)
            mins(h) = java.util.Arrays.copyOf(tmp, 16)
          h += 1
        }
      }
      i += 1
    }
    if (mins(0) == null) return null // no non-null element contributed
    new GenericArrayData(mins.map(d => hex(d): Any))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSigs =
    copy(left = newLeft, right = newRight)
}

object MinHashSigs {
  val name = "minhash_sigs"
}

/** Native stopword-hit count: occurrences (repeats counted) of words
  * from a foldable list in the [a-z]-run tokenization of the text —
  * EXACTLY `size(filter(regexp_extract_all(lower(text), '[a-z]+'),
  * w => array_contains(stops, w)))`, as one tokenize pass + hash-set
  * lookups instead of a regexp pass plus an interpreted filter lambda
  * doing a linear array scan per word.
  */
case class StopHits(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def prettyName: String = StopHits.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
        right.dataType.isInstanceOf[ArrayType] &&
        right.dataType.asInstanceOf[ArrayType].elementType == StringType &&
        right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${StopHits.name} expects (string, foldable array<string>)")

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    val arr = right.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) s.add(arr.getUTF8String(i).toString)
      i += 1
    }
    s
  }

  override def nullSafeEval(text: Any, stops: Any): Any = {
    val (freq, _) = AzWords.freq(text.asInstanceOf[UTF8String])
    var hits = 0
    freq.forEach { (w, f) => if (stopSet.contains(w)) hits += f }
    hits
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StopHits =
    copy(left = newLeft, right = newRight)
}

object StopHits {
  val name = "stop_hits"
}

/** Native language ID: one tokenize pass + static stopword lookup.
  *
  * Semantics are EXACTLY the composed CASE/greatest form
  * (`Composed.langId`, test sources): score per
  * language = stopword occurrences (repeats counted, a word may score
  * for several languages), result = first language in list order
  * attaining the maximum, "und" when all scores are zero. The composed
  * form runs one regexp_extract_all + interpreted array filter PER
  * LANGUAGE; this walks the text once and looks words up in a
  * prebuilt word → languages map.
  */
case class LangId(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = LangId.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${LangId.name} expects a string")

  override def nullSafeEval(text: Any): Any = {
    val (freq, _) = AzWords.freq(text.asInstanceOf[UTF8String])
    val scores = new Array[Int](LangId.langs.length)
    freq.forEach { (w, f) =>
      val hit = LangId.wordLangs.get(w)
      if (hit != null) {
        var i = 0
        while (i < hit.length) { scores(hit(i)) += f; i += 1 }
      }
    }
    // first language attaining the max; all-zero scores → "und"
    var best = -1
    var bestScore = 0
    var i = 0
    while (i < scores.length) {
      if (scores(i) > bestScore) { best = i; bestScore = scores(i) }
      i += 1
    }
    if (best < 0) LangId.und else LangId.langsUtf8(best)
  }

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

object LangId {
  val name = "lang_id"

  private[expressions] val langs: Array[String] =
    graft.functions.TextFunctions.stopwords.map(_._1).toArray
  private[expressions] val langsUtf8: Array[UTF8String] =
    langs.map(UTF8String.fromString)
  private[expressions] val und: UTF8String = UTF8String.fromString("und")

  /** word → indexes of every language whose stopword list contains it. */
  private[expressions] val wordLangs: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    graft.functions.TextFunctions.stopwords.zipWithIndex.foreach {
      case ((_, ws), i) =>
        ws.foreach { w =>
          m.merge(w, Array(i), (a, b) => a ++ b)
        }
    }
    m
  }
}

/** Unicode NFC normalization (canonical composition) — the standard
  * pre-dedup canonicalization step: visually identical strings with
  * different codepoint sequences ("e"+U+0301 vs precomposed "é") get
  * one byte representation, so fingerprints and shingles agree. Wraps
  * `java.text.Normalizer` (the JDK implements the Unicode standard
  * algorithm; DuckDB's ICU `nfc_normalize` produces identical output,
  * which the q66 oracle verifies).
  */
case class NfcNormalize(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = NfcNormalize.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${NfcNormalize.name} expects a string")

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    // fast path: most corpus text is already NFC
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) v
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  val name = "nfc_normalize"
}

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS local
  * fingerprinting): md5 each of the text's character k-grams, slide a
  * w-hash window over them, keep each window's minimum digest, return
  * the distinct minima as hex strings in first-occurrence order.
  *
  * Guarantee: two texts sharing any substring of length >= w + k - 1
  * share at least one fingerprint — the shared region contains a full
  * window of identical k-gram hashes on both sides, and both keep that
  * window's minimum. Expected density is ~2/(w+1), so the inverted
  * index carries ~|text|/w entries per doc instead of one per
  * character — the property that makes exact-substring dedup feasible
  * at corpus scale without suffix arrays.
  *
  * Semantics are EXACTLY the composed
  * `array_distinct(transform(windows, j -> array_min(slice(grams, j, w))))`
  * over `md5(substring(text, i, k))` grams — k-grams index by code
  * point exactly as `substring` does, and unsigned-byte digest order
  * equals lexicographic hex order — so the composed form survives as
  * the DedupSpec parity reference and the DuckDB oracle replays it
  * relationally. This fused loop finds code-point offsets once, runs
  * one md5 per gram, and takes window minima with an O(g) monotonic
  * deque; the composed HOF tree re-slices per window (O(g*w) with
  * per-window allocation, ~two orders slower on real docs).
  *
  * A text with fewer than w grams (but at least one) yields the single
  * minimum over all its grams — a whole-doc fingerprint, so a short
  * doc quoted inside a long one is still caught. k and w must be
  * foldable positive ints.
  */
case class WinnowFingerprints(first: Expression, second: Expression,
                              third: Expression)
  extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = WinnowFingerprints.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(first.dataType == StringType &&
        second.dataType == IntegerType && second.foldable &&
        third.dataType == IntegerType && third.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"${WinnowFingerprints.name} expects (string, foldable int k, foldable int w)")
    else (second.eval(null), third.eval(null)) match {
      case (kk: Int, ww: Int) if kk > 0 && ww > 0 => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${WinnowFingerprints.name} expects non-null ints k > 0 and w > 0, got $other")
    }

  @transient private lazy val k: Int = second.eval(null).asInstanceOf[Int]
  @transient private lazy val w: Int = third.eval(null).asInstanceOf[Int]

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val x = (a(i) & 0xff) - (b(i) & 0xff)
      if (x != 0) return x
      i += 1
    }
    0
  }

  private val hexTab = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexTab((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexTab(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  override def nullSafeEval(text: Any, kAny: Any, wAny: Any): Any = {
    val bytes = text.asInstanceOf[UTF8String].getBytes
    // code-point start offsets (a UTF-8 byte starts a code point unless
    // it is a continuation byte 10xxxxxx) — k-grams must index by code
    // point to match `substring`, and md5 over the raw byte range is
    // md5(substring(...)) because md5 digests the UTF-8 encoding
    val offs = new Array[Int](bytes.length + 1)
    var nChars = 0
    var b = 0
    while (b < bytes.length) {
      if ((bytes(b) & 0xc0) != 0x80) { offs(nChars) = b; nChars += 1 }
      b += 1
    }
    offs(nChars) = bytes.length
    val g = nChars - k + 1
    if (g <= 0) return new GenericArrayData(Array.empty[Any])

    val md = java.security.MessageDigest.getInstance("MD5")
    val digests = new Array[Array[Byte]](g)
    var i = 0
    while (i < g) {
      md.reset()
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      digests(i) = md.digest()
      i += 1
    }

    val seen = mutable.LinkedHashSet.empty[String] // first-occurrence order
    if (g <= w) {
      var min = digests(0)
      i = 1
      while (i < g) {
        if (cmpBytes(digests(i), min) < 0) min = digests(i)
        i += 1
      }
      seen += hex(min)
    } else {
      // monotonic deque of indices: head is the current window minimum
      val dq = new Array[Int](g)
      var head = 0; var tail = 0 // [head, tail)
      i = 0
      while (i < g) {
        while (tail > head && cmpBytes(digests(dq(tail - 1)), digests(i)) >= 0)
          tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) seen += hex(digests(dq(head)))
        i += 1
      }
    }
    new GenericArrayData(
      seen.iterator.map(x => UTF8String.fromString(x): Any).toArray)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WinnowFingerprints =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowFingerprints {
  val name = "winnow_fingerprints"
}

/** Fused text statistics: one pass computing the q16 family —
  * whitespace-token count, pre-tokenizer token count, punctuation
  * count, and code-point length — as a struct, replacing four separate
  * regexp/split passes over the same string (the 10x bench's #2 cost).
  *
  * Semantics are EXACTLY the composed forms, quirks included:
  * - n_ws_tokens = `when(trim(c) === "", 0).otherwise(size(split(trim(c), "\\s+")))`
  *   — `trim` strips SPACES only, `\s` is ASCII-only, and split with
  *   Spark's -1 limit keeps boundary empties, so a trimmed text that
  *   starts or ends with a tab contributes an empty segment (counted
  *   here as leading/trailing increments — TextFunctionsSpec pins the edges).
  * - n_tokens = `size(regexp_extract_all(lower(c), "[a-z0-9]+|[^a-z0-9\\s]"))`
  *   — alnum runs count once, every other non-ASCII-ws code point
  *   (including accented letters and unicode spaces) counts alone.
  * - n_punct = `size(regexp_extract_all(lower(c), "[^a-z0-9\\s]"))`.
  * - n_chars = `length(c)` (code points).
  * Lowercasing uses the same UTF8String.toLowerCase as `lower`.
  *
  * NULL text yields the ZERO struct, not NULL: the composed q16/q76
  * forms this expression replaced mapped NULL through
  * `when(c.isNull, 0)` — counts 0, quality gate "too_short" — and a
  * fused rewrite must not silently change the pipeline's verdict on a
  * nullable corpus. (This intentionally diverges from bare `length(c)`
  * on NULL; callers wanting SQL NULL propagation can guard with
  * `c.isNull` themselves.)
  */
case class TextStatsExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = TextStatsExpr.schema
  override def prettyName: String = TextStatsExpr.name
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) TextStatsExpr.zeroRow else nullSafeEval(v)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${TextStatsExpr.name} expects a string")

  private def isAsciiWs(cp: Int): Boolean = // Java regex \s (default flags)
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

  override def nullSafeEval(text: Any): Any = {
    val u = text.asInstanceOf[UTF8String]
    val str = u.toString
    val nChars = str.codePointCount(0, str.length)

    // whitespace tokens over the space-trimmed original
    var s = 0
    var e = str.length
    while (s < e && str.charAt(s) == ' ') s += 1
    while (e > s && str.charAt(e - 1) == ' ') e -= 1
    var wsTokens = 0
    if (e > s) {
      var runs = 0
      var inRun = false
      var i = s
      while (i < e) {
        val cp = str.codePointAt(i)
        if (isAsciiWs(cp)) inRun = false
        else { if (!inRun) runs += 1; inRun = true }
        i += Character.charCount(cp)
      }
      val leading = isAsciiWs(str.codePointAt(s))
      val trailing = isAsciiWs(str.codePointAt(str.offsetByCodePoints(e, -1)))
      wsTokens = runs + (if (leading) 1 else 0) + (if (trailing) 1 else 0)
    }

    // token/punct classification over the lowered text
    val low = u.toLowerCase.toString
    var runs = 0
    var punct = 0
    var inRun = false
    var i = 0
    while (i < low.length) {
      val cp = low.codePointAt(i)
      if ((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')) {
        if (!inRun) runs += 1
        inRun = true
      } else {
        inRun = false
        if (!isAsciiWs(cp)) punct += 1
      }
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](wsTokens, runs + punct, punct, nChars))
  }

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

object TextStatsExpr {
  val name = "text_stats"

  /** The NULL-input result: all counts zero (see class doc). */
  private[expressions] val zeroRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](0, 0, 0, 0))

  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_ws_tokens", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_tokens", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_punct", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_chars", IntegerType, nullable = false)))
}

/** Native SymSpell deletion neighborhood: the string plus every
  * single-code-point-deletion variant, deduped in first-occurrence
  * order — EXACTLY `array_distinct(concat(array(s), transform(...)))`
  * over substr splices (the composed form survives as the FuzzyJoinSpec
  * parity reference), but as one loop splicing UTF-8 byte ranges at
  * code-point offsets instead of an interpreted per-element expression
  * tree running two substrs per variant. Variant generation is the
  * fuzzy join's dominant per-row cost; this is its fused path.
  */
case class DeletionVariants(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = DeletionVariants.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${DeletionVariants.name} expects a string")

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    // code-point start offsets (same walk as winnow_fingerprints)
    val offs = new Array[Int](bytes.length + 1)
    var nChars = 0
    var b = 0
    while (b < bytes.length) {
      if ((bytes(b) & 0xc0) != 0x80) { offs(nChars) = b; nChars += 1 }
      b += 1
    }
    offs(nChars) = bytes.length
    val seen = mutable.LinkedHashSet.empty[UTF8String]
    seen += UTF8String.fromBytes(bytes)
    var j = 0
    while (j < nChars) {
      val out = new Array[Byte](bytes.length - (offs(j + 1) - offs(j)))
      System.arraycopy(bytes, 0, out, 0, offs(j))
      System.arraycopy(bytes, offs(j + 1), out, offs(j), bytes.length - offs(j + 1))
      seen += UTF8String.fromBytes(out)
      j += 1
    }
    // empty string: the composed form's degenerate transform emits the
    // empty variant once; the identity element already covers it here
    new GenericArrayData(seen.iterator.map(x => x: Any).toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): DeletionVariants =
    copy(child = newChild)
}

object DeletionVariants {
  val name = "deletion_variants"

  def variants(s: Column): Column = call_function(name, s)
}

/** Bounded edit distance for the fuzzy-join verify: 0 when equal, 1
  * when exactly one code-point substitution/insertion/deletion apart,
  * 2 meaning "more than 1" — so `lev1_dist(a,b) <= 1` filters
  * identically to `levenshtein(a,b) <= 1` and every SURVIVING value
  * equals the true distance, while the check runs one early-exit
  * code-point walk instead of the O(n*m) DP (the full matrix answers
  * "how far apart?", but the join only asks "within 1?"). Code-point
  * semantics match Spark's levenshtein (a two-char surrogate pair is
  * one edit).
  */
case class Lev1Dist(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def prettyName: String = Lev1Dist.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${Lev1Dist.name} expects (string, string)")

  override def nullSafeEval(aAny: Any, bAny: Any): Any = {
    val ua = aAny.asInstanceOf[UTF8String]
    val ub = bAny.asInstanceOf[UTF8String]
    if (ua.equals(ub)) return 0
    val a = ua.toString
    val b = ub.toString
    val la = a.codePointCount(0, a.length)
    val lb = b.codePointCount(0, b.length)
    if (math.abs(la - lb) > 1) return 2
    if (la == lb) {
      // substitution: exactly one mismatching code point
      var i = 0; var j = 0; var diff = 0
      while (i < a.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) { diff += 1; if (diff > 1) return 2 }
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      1 // not equal (checked above), so exactly one mismatch
    } else {
      // insertion/deletion: skip one code point of the longer side at
      // the first mismatch; the suffixes must then match exactly
      val (lng, sht) = if (la > lb) (a, b) else (b, a)
      var i = 0; var j = 0; var skipped = false
      while (j < sht.length || i < lng.length) {
        if (j < sht.length && i < lng.length &&
            lng.codePointAt(i) == sht.codePointAt(j)) {
          i += Character.charCount(lng.codePointAt(i))
          j += Character.charCount(sht.codePointAt(j))
        } else {
          if (skipped) return 2
          skipped = true
          i += Character.charCount(lng.codePointAt(i))
        }
      }
      1
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Lev1Dist =
    copy(left = newLeft, right = newRight)
}

object Lev1Dist {
  val name = "lev1_dist"

  def dist(a: Column, b: Column): Column = call_function(name, a, b)
}

object TextExpressions {
  /** Distinct k-shingles of [a-z] word runs, fused native loop. */
  def wordShingles(text: Column, k: Int): Column =
    call_function(WordShingles.name, text, org.apache.spark.sql.functions.lit(k))

  /** POSITIONAL k-shingles — every k-gram in order, duplicates kept
    * (exact-substring-dedup metrics count positions, not kinds). */
  def wordShinglesAll(text: Column, k: Int): Column =
    call_function(WordShingles.name, text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(true))

  /** 64 SimHash bits (0/1 ints), fused native loop. */
  def simhashBits(text: Column): Column =
    call_function(SimHashBits.name, text)

  /** Stopword-argmax language ID, fused native loop. */
  def langId(text: Column): Column =
    call_function(LangId.name, text)

  /** Unicode NFC canonical composition. */
  def nfcNormalize(text: Column): Column =
    call_function(NfcNormalize.name, text)

  /** Fused one-pass text statistics struct (ws tokens, tokens, punct,
    * chars) — the q16 family without four separate regexp passes. */
  def textStats(text: Column): Column =
    call_function(TextStatsExpr.name, text)

  /** Winnowing fingerprints (distinct window-min md5 hex of char
    * k-grams), fused native loop. */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    call_function(WinnowFingerprints.name, text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))

  /** MinHash signature array (numHashes min-md5 hex strings), per row. */
  def minhashSigs(shingles: Column, numHashes: Int): Column =
    call_function(MinHashSigs.name, shingles,
      org.apache.spark.sql.functions.lit(numHashes))

  /** Stopword occurrence count, fused native loop. */
  def stopHits(text: Column, stops: Seq[String]): Column =
    call_function(StopHits.name, text,
      org.apache.spark.sql.functions.array(
        stops.map(org.apache.spark.sql.functions.lit): _*))
}
