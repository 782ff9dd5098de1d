package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Markup, Pii, QualityClassifier, Repetition}

/** Round-18 fusion parity: every fused native introduced for the scrub
  * hot path must equal its retained composed form COLUMN FOR COLUMN on
  * an adversarial corpus — the corpus deliberately includes the decode
  * traps MarkupSpec pins individually (escaped-in-source refs, mixed
  * amp chains), degenerate rows (NULL, empty, whitespace-only),
  * non-ASCII, and seeded random soup over the entity alphabet. The
  * DuckDB oracles replay the COMPOSED SQL, so these pins plus the
  * driver's hash gate close the loop: native == composed == oracle.
  */
class ScrubFusionSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic adversarial corpus (seeded; no run-to-run drift). */
  private lazy val corpus: Seq[String] = {
    val hand = Seq(
      "", " ", "\t\n\r\f", "", "plain text",
      "the quick brown fox jumps over the lazy dog",
      "Stop! Stop! Stop! Stop! Stop!",
      "a b a b a b", "spam ham jam " * 30,
      "café résumé 字符 mixed",
      "&lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp; &#34; &#x22; &#x27;",
      "&#60;&#62;&#160;&#46;&#64;&#38;&#x26;&amp;",
      "&amp;#38; &#38;amp; &amp;lt; &#38;lt; &#x26;lt; &amp;amp;",
      "& &# &#3 &#34 &bogus; &#59; &#x22 x&", "&#38;#38;",
      "<body>unclosed <a href=\"#\">link</a> trailing <a href=",
      "<ul><li id=\"r0\">alpha</li><li id=\"r1\">beta</li></ul>",
      "<p>multi\nline\tbody</p> <div\n class=\"x\">attr\nacross</div>",
      "no tags but 16 digits 4242424242424242 and j.doe@ex.co",
      "der die das und ist the of and to el la de que words",
      "zqxjkwvblortch " * 40,
      "ein kurzer text mit ein paar worten und noch mehr")
    val rnd = new scala.util.Random(181818L)
    val alphabet = "ab &#;<>x2347tq\n\té"
    val soup = (1 to 60).map { _ =>
      val len = rnd.nextInt(80)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    hand ++ soup
  }

  private lazy val df: DataFrame =
    (corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
      (9999L, null.asInstanceOf[String])).toDF("doc_id", "text")

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit = {
    val ra = a.collect().sortBy(_.getLong(0))
    val rb = b.collect().sortBy(_.getLong(0))
    assert(ra.length === rb.length, s"$what: row counts differ")
    ra.zip(rb).foreach { case (x, y) =>
      assert(x === y, s"$what: rows differ\n native=$x\n composed=$y")
    }
  }

  test("Repetition.annotate native == composed on the adversarial corpus " +
      "(NULL text included)") {
    assertSame(Repetition.annotate(df, "text"),
      Composed.repetitionAnnotate(df, "text"), "repetition_stats")
  }

  test("QualityClassifier.score native == composed on the adversarial " +
      "corpus (NULL text included: every word-derived feature NULL via " +
      "size(NULL) = NULL propagation)") {
    assertSame(QualityClassifier.score(df, "text"),
      Composed.qualityScore(df, "text"), "qc_features")
  }

  test("Markup fused chain == composed strip/decode/collapse + composed " +
      "anchor count over isolated bodies") {
    // treat every corpus string AS a body (harsher than going through
    // the <body> isolation, which most corpus rows would fail)
    val bodies = df.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text").as("__body"))
    val native = bodies
      .withColumn("__mc",
        graft.expressions.ScrubExpressions.markupClean(col("__body")))
      .select(col("doc_id"), col("__mc.extracted").as("extracted"),
        col("__mc.n_links").as("n_links"))
    val composed = bodies
      .select(col("doc_id"),
        Markup.collapseWs(Markup.decodeEntities(
          Markup.stripTags(col("__body")))).as("extracted"),
        expr("(length(__body) - length(replace(__body, '<a href', ''))) div 7")
          .cast("long").as("n_links"))
    assertSame(native, composed, "markup_clean")
  }

  test("Markup.extract end-to-end equals the pre-fusion composed extract " +
      "on full html pages") {
    val pages = df.filter(col("text").isNotNull).select(col("doc_id"),
      concat(lit("<html><body class=\"m\">\n"), col("text"),
        lit("\n<a href=\"#\">l</a></body></html>")).as("html"))
    val native = Markup.extract(pages, "html")
      .select("doc_id", "extracted", "n_links", "html_chars",
        "extracted_chars", "markup_ratio_q20", "keep")
    val composed = pages.withColumn("__body", Markup.body(col("html")))
      .withColumn("n_links",
        expr("(length(__body) - length(replace(__body, '<a href', ''))) div 7")
          .cast("long"))
      .withColumn("extracted", Markup.collapseWs(Markup.decodeEntities(
        Markup.stripTags(col("__body")))))
      .withColumn("html_chars", length(col("html")).cast("long"))
      .withColumn("extracted_chars", length(col("extracted")).cast("long"))
      .withColumn("markup_ratio_q20",
        expr("(extracted_chars * 1048576) div greatest(html_chars, 1)"))
      .withColumn("keep", col("n_links") <= Markup.DefaultMaxLinks &&
        col("markup_ratio_q20") >= Markup.DefaultRatioMinQ20)
      .drop("__body")
      .select("doc_id", "extracted", "n_links", "html_chars",
        "extracted_chars", "markup_ratio_q20", "keep")
    assertSame(native, composed, "markup_extract")
  }

  test("SpanCut native == composed reassembly tail for every (text, rm) " +
      "shape: hit/miss/null-rm/empty-doc/whole-doc-covered") {
    val docs = df // includes NULL text (coalesced to '' by both tails)
    // removable grams: some real 2-grams from the corpus, some misses,
    // plus rows absent from rm entirely (left-join NULL)
    val rm = Seq(
      (0L, Seq("a b", "b a")), (7L, Seq("a b")), (8L, Seq("spam ham", "ham jam")),
      (5L, Seq("quick brown", "lazy dog", "not here")),
      (19L, Seq("zqxjkwvblortch zqxjkwvblortch")),
      (3L, Seq.empty[String]), (9999L, Seq("a b"))
    ).toDF("doc_id", "__rm")
    val native = Dedup.cutAndReassemble(docs, "doc_id", "text", 2, rm)
    val composed = Composed.cutAndReassemble(docs, "doc_id", "text", 2, rm)
    assertSame(native, composed, "span_cut")
  }

  test("Pii.clean rlike form == extract-all form, NULL text reads NULL " +
      "both ways") {
    val texts = (corpus ++ Seq(
      "reach j.doe@ex.co card 4242-4242-4242-4242 dial +1 555-010-1234",
      "ssn 123-45-6789 ip 10.0.0.1 clean after redact")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val d = (texts :+ (9999L, null.asInstanceOf[String])).toDF("doc_id", "t")
    val extractAllForm = Pii.Patterns.map { case (_, re, _) =>
      size(regexp_extract_all(col("t"), lit(re), lit(0))) === 0
    }.reduce(_ && _)
    val native = d.select(col("doc_id"), Pii.clean(col("t")).as("c"))
    val composed = d.select(col("doc_id"), extractAllForm.as("c"))
    assertSame(native, composed, "pii_clean")
  }

  test("docGrams distinct-shingle form: word_shingles(text, k) equals " +
      "array_distinct(word_shingles(text, k, true)) — set and order") {
    import graft.expressions.TextExpressions.{wordShingles, wordShinglesAll}
    val d = df.filter(col("text").isNotNull)
    val got = d.select(col("doc_id"), wordShingles(col("text"), 8).as("g"))
    val want = d.select(col("doc_id"),
      array_distinct(wordShinglesAll(col("text"), 8)).as("g"))
    assertSame(got, want, "distinct_shingles")
  }
}
