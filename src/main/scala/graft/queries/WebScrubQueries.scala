package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.stopwords
import graft.operators.{Markup, Pii, QualityClassifier, WebScrub}

/** q167/q170 — the composed web-corpus scrub capstones: Markup →
  * QualityClassifier → Pii (q167) and the PRODUCTION 4-stage order
  * with the Gopher repetition rules between the learned filter and
  * PII (q170, r16 review item 3), each as ONE pipeline over one
  * synthetic crawl drop, the CCNet/RefinedWeb stage order. q100
  * proved the cross-row curation family composes; this is the
  * row-local counterpart — and because [[graft.operators.WebScrub]]
  * runs the whole chain without inter-stage filters, the plan is a
  * single whole-stage-codegen span over the scan plus one aggregate:
  * zero shuffles beyond the final single-row reduce, no checkpoints,
  * no recomputed prefixes. At a 100 TB crawl this is embarrassingly
  * parallel decode-free CPU — the cheapest possible shape for the
  * most-run pipeline a training-data platform has.
  *
  * One planted victim family per stage, each dying at ITS OWN stage:
  *   - % 5: an 8-link ad block — fails the markup anchor gate (the
  *     page's TEXT is fine, so it must not reach the quality stage);
  *   - % 9: the doc text replaced by 40 repetitions of a 14-letter
  *     gibberish token — passes markup (plain text, healthy ratio),
  *     then the learned filter's word-length drag sinks it:
  *     c_wlen = −(14·2¹⁷) = −1,835,008 against c_tokens = 40·8192,
  *     deterministically negative at any corpus scale;
  *   - % 7: a PII suffix exercising all three r16-WIDENED families —
  *     mixed-case email, hyphenated credit card, `+1` phone — redacted
  *     (not dropped) at the Pii stage;
  *   - % 13: an entity-OBFUSCATED email, `j&#46;doe&#64;ex&#46;co` —
  *     PII that EXISTS only if Markup's numeric-reference decode ran
  *     before Pii scanned: the composition bug class this query pins.
  *
  * Output: one row per stage — attrition count + a content-sensitive
  * BIGINT checksum, so every stage is load-bearing in the hash
  * (extraction text → extracted_chars and every downstream feature;
  * quality weights → the score sum; the widened Pii families → hit
  * counts, the redacted≠extracted count — which must equal the
  * hits>0 count — and an order-free SUM of a 32-bit md5 prefix per
  * surviving redacted string: the byte-content pin WITHOUT the
  * survivor-cardinality exchange a count-distinct would cost at
  * 100 TB). `clean_exit` pins the compliance criterion itself: ZERO
  * surviving rows may re-scan dirty.
  */
object WebScrubQueries {

  private val GibMod = 9
  private val PiiMod = 7
  private val ObfMod = 13
  private val AdMod = 5
  private val Gibberish = "zqxjkwvblortch " * 40
  private val NavLink = "<a href=\"#\">nav link</a> "
  private val AdBlock = "<div class=\"ads\">" +
    Seq.fill(8)("""<a href="#">ad</a>""").mkString + "</div>"
  /** Numeric character references load-bearing on every page. */
  private val RefSnippet = "<p>refs &#34;dq&#34; &#x27;sq&#x27; " +
    "&#60;lt&#62; nb&#160;sp &amp;#38;</p>"
  /** The composition plant: an email assembled from `&#46;`/`&#64;`
    * refs — invisible to Pii unless the decode ran first. */
  private val ObfEmail = "<p>mail j&#46;doe&#64;ex&#46;co</p>"

  // ----- q170 (the 4-stage chain) plant families -----
  /** Dies at the REPETITION stage: a stopword-rich healthy-vocabulary
    * sentence looped 30× — passes markup (plain text) and the learned
    * filter (short words, dense stopwords: exactly the signals q165
    * rewards), so only the repetition rules catch it. */
  private val LoopMod = 11
  private val LoopUnit = "and then it was all over again "
  /** The verdict-suggested page: a looping `&#46;`-obfuscated token.
    * Word-level repetition is provably DECIMAL-REF-DECODE-INVARIANT
    * (see [[graft.operators.WebScrub.scrubFull]]), so this page dies
    * at the repetition stage with or without the decode — planted to
    * DEMONSTRATE the invariance in-query (WebScrubSpec proves the
    * decoded and undecoded verdicts are equal on this exact shape,
    * and pins the hex/named forms as the NON-invariant cases). */
  private val EntLoopMod = 23
  private val EntLoopUnit = "spam&#46;ham&#46;jam "
  /** The stage-order composition that IS load-bearing for repetition:
    * a list page whose TAG SCAFFOLDING loops (`li`/`id` repeat 12×)
    * while its visible text is 24 distinct words — a repetition filter
    * reading raw markup false-drops it; reading the extracted text it
    * survives. The strip-before-repetition pin (WebScrubSpec runs the
    * filter both ways on this block). */
  private val ListMod = 17
  private val ListItems = Seq(
    "alpha meadow", "bravo harbor", "carol velvet", "delta lantern",
    "echo saffron", "frank marble", "grace willow", "henry copper",
    "irene falcon", "julia summit", "kevin drift", "laura prism")
  private[graft] val ListBlock = "<ul>" + ListItems.zipWithIndex.map {
    case (t, i) => s"""<li id="r$i">$t</li>"""
  }.mkString + "</ul>"

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q167_web_scrub", (s, d) => {
      val base = docs(s, d).filter(col("text").isNotNull).select(
        col("doc_id"),
        concat(
          when(col("doc_id") % GibMod === 0, lit(Gibberish))
            .otherwise(col("text")),
          when(col("doc_id") % PiiMod === 0,
            concat(lit(" reach John.Doe"), col("doc_id").cast("string"),
              lit("@Example.COM card 4242-4242-4242-4242 dial +1 555-010-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      val html = concat(
        lit("<html><head><title>w "), col("doc_id").cast("string"),
        lit("</title></head><body>\n<nav>"),
        expr(s"repeat('$NavLink', CAST(doc_id % 7 + 1 AS INT))"),
        lit("</nav>\n<p>"), col("text"), lit("</p>\n" + RefSnippet),
        when(col("doc_id") % ObfMod === 0, lit(ObfEmail)).otherwise(lit("")),
        when(col("doc_id") % AdMod === 0, lit(AdBlock)).otherwise(lit("")),
        lit("\n<footer>(c) corpus</footer></body></html>"))
      val wide = WebScrub.scrub(
        base.select(col("doc_id"), html.as("html")), "html")
      val surv = WebScrub.survived
      val hits = Pii.Patterns.map { case (f, _, _) => col(s"n_$f") }
        .reduce(_ + _)
      val a = wide.agg(
        count(lit(1)).cast("bigint").as("n0"),
        sum(col("html_chars")).as("c0"),
        sum(when(col("markup_keep"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("markup_keep"), col("extracted_chars")).otherwise(0L))
          .as("c1"),
        sum(when(surv, 1L).otherwise(0L)).as("n2"),
        sum(when(surv, col("score")).otherwise(0L)).as("c2"),
        sum(when(surv && hits > 0L, 1L).otherwise(0L)).as("n3"),
        sum(when(surv, hits).otherwise(0L)).as("c3"),
        // content pin WITHOUT a distinct (count-distinct would cost a
        // second, survivor-cardinality exchange — real at 100 TB): an
        // order-free SUM of a 32-bit md5 prefix per surviving redacted
        // string (2³² · rows stays far under 2⁶³ through ~10⁹ docs),
        // plus the redacted≠extracted count, which must equal n3
        sum(when(surv && col("redacted") =!= col("extracted"), 1L)
          .otherwise(0L)).as("n4"),
        sum(when(surv,
          conv(substring(md5(col("redacted")), 1, 8), 16, 10).cast("bigint"))
          .otherwise(0L)).as("c4"),
        sum(when(surv && !col("clean"), 1L).otherwise(0L)).as("n5"),
        sum(when(surv && col("clean"), 1L).otherwise(0L)).as("c5"))
      def st(ord: Int, name: String) =
        struct(lit(ord).cast("int").as("stage_ord"), lit(name).as("stage"),
          col(s"n$ord").cast("bigint").as("n_rows"),
          col(s"c$ord").cast("bigint").as("checksum"))
      a.select(explode(array(
          st(0, "ingest"), st(1, "markup"), st(2, "quality"),
          st(3, "pii_hits"), st(4, "redacted"), st(5, "clean_exit")))
          .as("s"))
        .select(col("s.stage_ord"), col("s.stage"), col("s.n_rows"),
          col("s.checksum"))
    }, {
      // identical synthesis; the markup chain replays operators.Markup
      // with the entity table GENERATED from Markup.Entities, the
      // quality features inline QualityClassifier's frozen weights (the
      // q165 fragments verbatim), and the detection/redaction chain is
      // GENERATED from Pii.Patterns — three generated surfaces, zero
      // room for engine drift
      import QualityClassifier._
      val qcHits = stopwords.map { case (_, stops) =>
        s"len(list_filter(ws, w -> list_contains(${TextQueries.duckList(stops)}, w)))"
      }.mkString(" + ")
      val piiCounts = Pii.Patterns.map { case (fam, re, _) =>
        s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$fam"
      }.mkString(",\n          ")
      val piiRedacted = Pii.Patterns.foldLeft("text") { case (e, (_, re, ph)) =>
        s"regexp_replace($e, '$re', '$ph', 'g')"
      }
      val piiClean = Pii.Patterns.map { case (_, re, _) =>
        s"len(regexp_extract_all(redacted, '$re')) = 0"
      }.mkString(" AND ")
      val piiHitSum = Pii.Patterns.map { case (f, _, _) => s"n_$f" }
        .mkString(" + ")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % $GibMod = 0 THEN repeat('zqxjkwvblortch ', 40)
         |          ELSE text END) ||
         |    (CASE WHEN doc_id % $PiiMod = 0 THEN ' reach John.Doe' ||
         |       CAST(doc_id AS VARCHAR) ||
         |       '@Example.COM card 4242-4242-4242-4242 dial +1 555-010-' ||
         |       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |     ELSE '' END) AS text
         |  FROM documents WHERE text IS NOT NULL),
         |b AS (
         |  SELECT doc_id,
         |    '<html><head><title>w ' || CAST(doc_id AS VARCHAR) ||
         |    '</title></head><body>' || chr(10) || '<nav>' ||
         |    repeat('$NavLink', CAST(doc_id % 7 + 1 AS INT)) ||
         |    '</nav>' || chr(10) || '<p>' || text || '</p>' || chr(10) ||
         |    '$RefSnippet' ||
         |    CASE WHEN doc_id % $ObfMod = 0 THEN '$ObfEmail' ELSE '' END ||
         |    CASE WHEN doc_id % $AdMod = 0 THEN '$AdBlock' ELSE '' END ||
         |    chr(10) || '<footer>(c) corpus</footer></body></html>' AS html
         |  FROM base),
         |e AS (SELECT doc_id, html,
         |        regexp_extract(html, '(?s)<body[^>]*>(.*)</body>', 1) AS body
         |      FROM b),
         |st AS (SELECT doc_id, html, body,
         |        regexp_replace(regexp_replace(body, '<[^>]*>', ' ', 'g'),
         |                       '<[^>]*$$', ' ', 'g') AS stripped
         |      FROM e),
         |m AS (SELECT doc_id,
         |        CAST(length(html) AS BIGINT) AS html_chars,
         |        CAST((length(body) - length(replace(body, '<a href', ''))) // 7
         |             AS BIGINT) AS n_links,
         |        trim(regexp_replace(${TextQueries.duckEntityDecode("stripped")},
         |          '[ \\t\\n\\r\\f]+', ' ', 'g')) AS text
         |      FROM st),
         |g AS (SELECT doc_id, html_chars, n_links, text,
         |        CAST(length(text) AS BIGINT) AS extracted_chars,
         |        (n_links <= ${Markup.DefaultMaxLinks} AND
         |         (CAST(length(text) AS BIGINT) * 1048576)
         |           // greatest(html_chars, 1)
         |           >= ${Markup.DefaultRatioMinQ20}) AS mkeep,
         |        ${TextQueries.duckWsTokens} AS n_ws,
         |        ${TextQueries.duckPunct} AS n_punct,
         |        length(text) AS n_chars,
         |        regexp_extract_all(lower(text), '[a-z]+') AS ws
         |      FROM m),
         |f AS (SELECT *,
         |        $WTokens * least(n_ws, $TokenCap) AS c_tokens,
         |        $WPunct * ((CAST(n_punct AS BIGINT) * 1048576) //
         |                   greatest(CAST(n_chars AS BIGINT), 1)) AS c_punct,
         |        $WStop * ((CAST($qcHits AS BIGINT) * 1048576) //
         |                  greatest(CAST(len(ws) AS BIGINT), 1)) AS c_stop,
         |        $WWlen * ((CAST(coalesce(list_sum(list_transform(ws,
         |                    w -> length(w))), 0) AS BIGINT) * 131072) //
         |                  greatest(CAST(len(ws) AS BIGINT), 1)) AS c_wlen
         |      FROM g),
         |q AS (SELECT *,
         |        CAST($Bias + c_tokens + c_punct + c_stop + c_wlen AS BIGINT)
         |          AS score,
         |        ($Bias + c_tokens + c_punct + c_stop + c_wlen >= 0) AS qkeep
         |      FROM f),
         |p0 AS (SELECT *,
         |          $piiCounts,
         |          $piiRedacted AS redacted,
         |          (mkeep AND qkeep) AS surv
         |       FROM q),
         |p AS (SELECT *, ($piiClean) AS clean, ($piiHitSum) AS hits FROM p0)
         |SELECT CAST(0 AS INT) AS stage_ord, 'ingest' AS stage,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(html_chars) AS BIGINT) AS checksum FROM p
         |UNION ALL SELECT 1, 'markup',
         |  CAST(SUM(CASE WHEN mkeep THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN mkeep THEN extracted_chars ELSE 0 END) AS BIGINT)
         |FROM p
         |UNION ALL SELECT 2, 'quality',
         |  CAST(SUM(CASE WHEN surv THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN surv THEN score ELSE 0 END) AS BIGINT) FROM p
         |UNION ALL SELECT 3, 'pii_hits',
         |  CAST(SUM(CASE WHEN surv AND hits > 0 THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN surv THEN hits ELSE 0 END) AS BIGINT) FROM p
         |UNION ALL SELECT 4, 'redacted',
         |  CAST(SUM(CASE WHEN surv AND redacted <> text THEN 1 ELSE 0 END)
         |       AS BIGINT),
         |  CAST(SUM(CASE WHEN surv THEN
         |    CAST('0x' || substring(md5(redacted), 1, 8) AS BIGINT)
         |    ELSE 0 END) AS BIGINT)
         |FROM p
         |UNION ALL SELECT 5, 'clean_exit',
         |  CAST(SUM(CASE WHEN surv AND NOT clean THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN surv AND clean THEN 1 ELSE 0 END) AS BIGINT)
         |FROM p""".stripMargin
    }),

    // q170 — the PRODUCTION 4-stage chain: q167's
    // scrub with the Gopher repetition rules inserted between the
    // learned filter and PII, still ONE filter-free per-row pass
    // (PlanSpec: ≤1 exchange, no join). q167's victim families carry
    // over; three NEW repetition-flavored plants (constants above):
    //   - % 11 loop tail — dies at ITS OWN stage (passes markup AND
    //     the learned filter by construction: dense stopwords, short
    //     words — the page class q168 exists to catch);
    //   - % 23 entity-obfuscated loop — the decode-INVARIANCE
    //     demonstrator (dies at repetition decoded or not; the spec
    //     proves the equality);
    //   - % 17 tag-scaffolding list — survives, pinning
    //     strip-BEFORE-repetition (raw markup loops, visible text
    //     does not; the spec runs the filter both ways).
    // Stage 3's checksum sums all four q20 repetition signals over the
    // rows REACHING the stage (markup ∧ quality), so the feature
    // arithmetic of pages the stage kills is pinned too, not just the
    // survivor count.
    QuerySpec("q170_web_scrub_full", (s, d) => {
      val base = docs(s, d).filter(col("text").isNotNull).select(
        col("doc_id"),
        concat(
          when(col("doc_id") % GibMod === 0, lit(Gibberish))
            .otherwise(col("text")),
          when(col("doc_id") % LoopMod === 0,
            expr(s"' ' || repeat('$LoopUnit', 30)")).otherwise(lit("")),
          when(col("doc_id") % PiiMod === 0,
            concat(lit(" reach John.Doe"), col("doc_id").cast("string"),
              lit("@Example.COM card 4242-4242-4242-4242 dial +1 555-010-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      val html = concat(
        lit("<html><head><title>w "), col("doc_id").cast("string"),
        lit("</title></head><body>\n<nav>"),
        expr(s"repeat('$NavLink', CAST(doc_id % 7 + 1 AS INT))"),
        lit("</nav>\n<p>"), col("text"), lit("</p>\n" + RefSnippet),
        when(col("doc_id") % ObfMod === 0, lit(ObfEmail)).otherwise(lit("")),
        when(col("doc_id") % EntLoopMod === 0,
          expr(s"'<p>' || repeat('$EntLoopUnit', 25) || '</p>'"))
          .otherwise(lit("")),
        when(col("doc_id") % ListMod === 0, lit(ListBlock)).otherwise(lit("")),
        when(col("doc_id") % AdMod === 0, lit(AdBlock)).otherwise(lit("")),
        lit("\n<footer>(c) corpus</footer></body></html>"))
      val wide = WebScrub.scrubFull(
        base.select(col("doc_id"), html.as("html")), "html")
      val mq = col("markup_keep") && col("quality_keep")
      val surv = WebScrub.survivedFull
      val hits = Pii.Patterns.map { case (f, _, _) => col(s"n_$f") }
        .reduce(_ + _)
      val repSum = col("dup2_q20") + col("dup3_q20") + col("dup4_q20") +
        col("top2_q20")
      val a = wide.agg(
        count(lit(1)).cast("bigint").as("n0"),
        sum(col("html_chars")).as("c0"),
        sum(when(col("markup_keep"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("markup_keep"), col("extracted_chars")).otherwise(0L))
          .as("c1"),
        sum(when(mq, 1L).otherwise(0L)).as("n2"),
        sum(when(mq, col("score")).otherwise(0L)).as("c2"),
        sum(when(surv, 1L).otherwise(0L)).as("n3"),
        sum(when(mq, repSum).otherwise(0L)).as("c3"),
        sum(when(surv && hits > 0L, 1L).otherwise(0L)).as("n4"),
        sum(when(surv, hits).otherwise(0L)).as("c4"),
        sum(when(surv && col("redacted") =!= col("extracted"), 1L)
          .otherwise(0L)).as("n5"),
        sum(when(surv,
          conv(substring(md5(col("redacted")), 1, 8), 16, 10).cast("bigint"))
          .otherwise(0L)).as("c5"),
        sum(when(surv && !col("clean"), 1L).otherwise(0L)).as("n6"),
        sum(when(surv && col("clean"), 1L).otherwise(0L)).as("c6"))
      def st(ord: Int, name: String) =
        struct(lit(ord).cast("int").as("stage_ord"), lit(name).as("stage"),
          col(s"n$ord").cast("bigint").as("n_rows"),
          col(s"c$ord").cast("bigint").as("checksum"))
      a.select(explode(array(
          st(0, "ingest"), st(1, "markup"), st(2, "quality"),
          st(3, "repetition"), st(4, "pii_hits"), st(5, "redacted"),
          st(6, "clean_exit")))
          .as("s"))
        .select(col("s.stage_ord"), col("s.stage"), col("s.n_rows"),
          col("s.checksum"))
    }, {
      // q167's generated surfaces (entity table, quality weights, Pii
      // chain) plus the q168 repetition fragments — four generated
      // surfaces, one SQL replay of the whole 4-stage chain
      import QualityClassifier._
      val qcHits = stopwords.map { case (_, stops) =>
        s"len(list_filter(ws, w -> list_contains(${TextQueries.duckList(stops)}, w)))"
      }.mkString(" + ")
      val piiCounts = Pii.Patterns.map { case (fam, re, _) =>
        s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$fam"
      }.mkString(",\n          ")
      val piiRedacted = Pii.Patterns.foldLeft("text") { case (e, (_, re, ph)) =>
        s"regexp_replace($e, '$re', '$ph', 'g')"
      }
      val piiClean = Pii.Patterns.map { case (_, re, _) =>
        s"len(regexp_extract_all(redacted, '$re')) = 0"
      }.mkString(" AND ")
      val piiHitSum = Pii.Patterns.map { case (f, _, _) => s"n_$f" }
        .mkString(" + ")
      def gsk(k: Int) =
        s"CASE WHEN len(ws) >= $k THEN list_transform(range(0, len(ws) - ${k - 1}), " +
          s"i -> array_to_string(list_slice(ws, CAST(i AS INT) + 1, CAST(i AS INT) + $k), ' ')) " +
          "ELSE CAST([] AS VARCHAR[]) END"
      def dupn(n: Int) =
        s"CAST(((len(g$n) - len(list_distinct(g$n))) * 1048576) // " +
          s"greatest(len(g$n), 1) AS BIGINT) AS dup${n}_q20"
      import graft.operators.Repetition._
      s"""WITH base AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % $GibMod = 0 THEN repeat('zqxjkwvblortch ', 40)
         |          ELSE text END) ||
         |    (CASE WHEN doc_id % $LoopMod = 0
         |          THEN ' ' || repeat('$LoopUnit', 30) ELSE '' END) ||
         |    (CASE WHEN doc_id % $PiiMod = 0 THEN ' reach John.Doe' ||
         |       CAST(doc_id AS VARCHAR) ||
         |       '@Example.COM card 4242-4242-4242-4242 dial +1 555-010-' ||
         |       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |     ELSE '' END) AS text
         |  FROM documents WHERE text IS NOT NULL),
         |b AS (
         |  SELECT doc_id,
         |    '<html><head><title>w ' || CAST(doc_id AS VARCHAR) ||
         |    '</title></head><body>' || chr(10) || '<nav>' ||
         |    repeat('$NavLink', CAST(doc_id % 7 + 1 AS INT)) ||
         |    '</nav>' || chr(10) || '<p>' || text || '</p>' || chr(10) ||
         |    '$RefSnippet' ||
         |    CASE WHEN doc_id % $ObfMod = 0 THEN '$ObfEmail' ELSE '' END ||
         |    CASE WHEN doc_id % $EntLoopMod = 0
         |         THEN '<p>' || repeat('$EntLoopUnit', 25) || '</p>'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % $ListMod = 0 THEN '$ListBlock' ELSE '' END ||
         |    CASE WHEN doc_id % $AdMod = 0 THEN '$AdBlock' ELSE '' END ||
         |    chr(10) || '<footer>(c) corpus</footer></body></html>' AS html
         |  FROM base),
         |e AS (SELECT doc_id, html,
         |        regexp_extract(html, '(?s)<body[^>]*>(.*)</body>', 1) AS body
         |      FROM b),
         |st AS (SELECT doc_id, html, body,
         |        regexp_replace(regexp_replace(body, '<[^>]*>', ' ', 'g'),
         |                       '<[^>]*$$', ' ', 'g') AS stripped
         |      FROM e),
         |m AS (SELECT doc_id,
         |        CAST(length(html) AS BIGINT) AS html_chars,
         |        CAST((length(body) - length(replace(body, '<a href', ''))) // 7
         |             AS BIGINT) AS n_links,
         |        trim(regexp_replace(${TextQueries.duckEntityDecode("stripped")},
         |          '[ \\t\\n\\r\\f]+', ' ', 'g')) AS text
         |      FROM st),
         |g AS (SELECT doc_id, html_chars, n_links, text,
         |        CAST(length(text) AS BIGINT) AS extracted_chars,
         |        (n_links <= ${Markup.DefaultMaxLinks} AND
         |         (CAST(length(text) AS BIGINT) * 1048576)
         |           // greatest(html_chars, 1)
         |           >= ${Markup.DefaultRatioMinQ20}) AS mkeep,
         |        ${TextQueries.duckWsTokens} AS n_ws,
         |        ${TextQueries.duckPunct} AS n_punct,
         |        length(text) AS n_chars,
         |        regexp_extract_all(lower(text), '[a-z]+') AS ws
         |      FROM m),
         |f AS (SELECT *,
         |        $WTokens * least(n_ws, $TokenCap) AS c_tokens,
         |        $WPunct * ((CAST(n_punct AS BIGINT) * 1048576) //
         |                   greatest(CAST(n_chars AS BIGINT), 1)) AS c_punct,
         |        $WStop * ((CAST($qcHits AS BIGINT) * 1048576) //
         |                  greatest(CAST(len(ws) AS BIGINT), 1)) AS c_stop,
         |        $WWlen * ((CAST(coalesce(list_sum(list_transform(ws,
         |                    w -> length(w))), 0) AS BIGINT) * 131072) //
         |                  greatest(CAST(len(ws) AS BIGINT), 1)) AS c_wlen
         |      FROM g),
         |q AS (SELECT *,
         |        CAST($Bias + c_tokens + c_punct + c_stop + c_wlen AS BIGINT)
         |          AS score,
         |        ($Bias + c_tokens + c_punct + c_stop + c_wlen >= 0) AS qkeep
         |      FROM f),
         |rg AS (SELECT *, ${gsk(2)} AS g2, ${gsk(3)} AS g3, ${gsk(4)} AS g4
         |       FROM q),
         |rr AS (SELECT *,
         |         ${dupn(2)},
         |         ${dupn(3)},
         |         ${dupn(4)},
         |         CAST((coalesce(list_max(list_filter(list_transform(
         |                list_distinct(g2),
         |                gg -> len(list_filter(g2, x -> x = gg))), c -> c >= 2)),
         |              0) * 1048576)
         |              // greatest(len(g2), 1) AS BIGINT) AS top2_q20
         |       FROM rg),
         |rk AS (SELECT *,
         |         (dup2_q20 <= $Dup2MaxQ20 AND dup3_q20 <= $Dup3MaxQ20 AND
         |          dup4_q20 <= $Dup4MaxQ20 AND top2_q20 <= $Top2MaxQ20) AS rkeep
         |       FROM rr),
         |p0 AS (SELECT *,
         |          $piiCounts,
         |          $piiRedacted AS redacted,
         |          (mkeep AND qkeep) AS mq,
         |          (mkeep AND qkeep AND rkeep) AS surv
         |       FROM rk),
         |p AS (SELECT *, ($piiClean) AS clean, ($piiHitSum) AS hits FROM p0)
         |SELECT CAST(0 AS INT) AS stage_ord, 'ingest' AS stage,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(html_chars) AS BIGINT) AS checksum FROM p
         |UNION ALL SELECT 1, 'markup',
         |  CAST(SUM(CASE WHEN mkeep THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN mkeep THEN extracted_chars ELSE 0 END) AS BIGINT)
         |FROM p
         |UNION ALL SELECT 2, 'quality',
         |  CAST(SUM(CASE WHEN mq THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN mq THEN score ELSE 0 END) AS BIGINT) FROM p
         |UNION ALL SELECT 3, 'repetition',
         |  CAST(SUM(CASE WHEN surv THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN mq THEN dup2_q20 + dup3_q20 + dup4_q20 + top2_q20
         |       ELSE 0 END) AS BIGINT) FROM p
         |UNION ALL SELECT 4, 'pii_hits',
         |  CAST(SUM(CASE WHEN surv AND hits > 0 THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN surv THEN hits ELSE 0 END) AS BIGINT) FROM p
         |UNION ALL SELECT 5, 'redacted',
         |  CAST(SUM(CASE WHEN surv AND redacted <> text THEN 1 ELSE 0 END)
         |       AS BIGINT),
         |  CAST(SUM(CASE WHEN surv THEN
         |    CAST('0x' || substring(md5(redacted), 1, 8) AS BIGINT)
         |    ELSE 0 END) AS BIGINT)
         |FROM p
         |UNION ALL SELECT 6, 'clean_exit',
         |  CAST(SUM(CASE WHEN surv AND NOT clean THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(SUM(CASE WHEN surv AND clean THEN 1 ELSE 0 END) AS BIGINT)
         |FROM p""".stripMargin
    })
  )
}
