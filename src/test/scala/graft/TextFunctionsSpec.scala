package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("wsTokenCount handles blanks, nulls, and runs of whitespace") {
    val out = Seq(Some("a  b\tc"), Some("  "), Some(""), None, Some("one"))
      .toDF("t").select(wsTokenCount(col("t"))).as[Int].collect()
    assert(out.toSeq === Seq(3, 0, 0, 0, 1))
  }

  test("native text_stats matches the four composed forms, whitespace quirks included") {
    import graft.expressions.TextExpressions.textStats
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val diff = df
        .select(textStats(col("text")).as("ts"),
          wsTokenCount(col("text")).as("ws"),
          reTokenCount(col("text")).as("tk"),
          punctCount(col("text")).as("pc"),
          length(col("text")).as("nc"))
        .filter(col("ts.n_ws_tokens") =!= col("ws") ||
          col("ts.n_tokens") =!= col("tk") ||
          col("ts.n_punct") =!= col("pc") ||
          col("ts.n_chars") =!= col("nc"))
      assert(diff.count() === 0, diff.collect().take(3).mkString("; "))
    }
    check(Tables(spark, sf001, "documents"))
    // the quirk set: trim strips SPACES only, \s is ASCII-only, split
    // keeps boundary empties — tabs at the trimmed edges and unicode
    // whitespace must reproduce the composed counts exactly
    check(Seq("", "   ", "\t", "\ta b", "a b\t", " \t a\tb \t ", "x",
      "AÇÃO é! ótima?", "a b", "emoji 😀 end", "1a2b, 3c!")
      .toDF("text"))
  }

  test("text_stats on NULL text returns the zero struct (composed-contract parity)") {
    import graft.expressions.TextExpressions.textStats
    // the composed q16/q76 forms mapped NULL through when(c.isNull, 0);
    // the fused expression must keep that — NULL counts and a NULL keep
    // flag would silently change a nullable corpus's quality verdicts
    val out = Seq(Some("a b"), None).toDF("text")
      .select(col("text"), textStats(col("text")).as("ts"))
      .select(col("ts.n_ws_tokens"), col("ts.n_tokens"),
        col("ts.n_punct"), col("ts.n_chars"))
      .as[(Int, Int, Int, Int)].collect()
    assert(out(0) === ((2, 2, 0, 3)))
    assert(out(1) === ((0, 0, 0, 0)))
    // and the composed wsTokenCount agrees on NULL
    val ws = Seq(Option.empty[String]).toDF("t")
      .select(wsTokenCount(col("t"))).as[Int].collect()
    assert(ws.toSeq === Seq(0))
  }

  test("langId picks the dominant stopword language, und when none") {
    val out = Seq(
      "the cat sat on the mat and it is fine",
      "der Hund ist nicht mit der Katze und",
      "el perro es un animal que vive en la casa",
      "xyzzy qwerty asdf").toDF("t")
      .select(langId(col("t"))).as[String].collect()
    assert(out.toSeq === Seq("en", "de", "es", "und"))
  }

  test("native stop_hits matches the composed filter form on real docs") {
    val en = stopwords.head._2
    val diff = Tables(spark, sf001, "documents")
      .select(stopwordHits(col("text"), en).as("fast"),
        Composed.stopwordHits(col("text"), en).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() === 0)
    val edge = Seq("", "  ", "the THE The, the.", "xthex").toDF("text")
    val d2 = edge.select(stopwordHits(col("text"), en).as("fast"),
      Composed.stopwordHits(col("text"), en).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d2.count() === 0)
  }

  test("native lang_id matches the composed CASE/greatest form on real docs") {
    val diff = Tables(spark, sf001, "documents")
      .select(langId(col("text")).as("fast"),
        Composed.langId(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() === 0)
    // tie-break edges: 'de' is a stopword of es/fr/pt; 'la' of es/fr —
    // first language in list order must win on equal scores, both forms.
    val edge = Seq("de", "la", "un", "de la", "e o", "the der el le o")
      .toDF("text")
    val d2 = edge.select(langId(col("text")).as("fast"),
      Composed.langId(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d2.count() === 0)
  }

  test("nfc_normalize composes decomposed sequences, identity on NFC text") {
    val out = Seq("café", "café", "plain ascii")
      .toDF("t")
      .select(graft.expressions.TextExpressions.nfcNormalize(col("t")))
      .as[String].collect()
    assert(out(0) === "café") // e + U+0301 → precomposed é
    assert(out(1) === "café")
    assert(out(2) === "plain ascii")
    assert(out(0) === out(1)) // visually-equal strings now dedup equal
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val fps = Seq("Hello   World", "hello world", " HELLO WORLD ", "hello worlds")
      .toDF("t").select(fingerprint(col("t"))).as[String].collect()
    assert(fps(0) === fps(1) && fps(1) === fps(2))
    assert(fps(3) !== fps(0))
  }

  test("qualityKeep rejects short docs and punctuation soup") {
    val out = Seq(
      "a good long enough document with words",
      "short one",
      "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))")
      .toDF("t").select(qualityKeep(col("t"))).as[Boolean].collect()
    assert(out.toSeq === Seq(true, false, false))
  }
}
