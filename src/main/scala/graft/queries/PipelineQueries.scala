package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.{fingerprint, wsTokenCount, MinKeepTokens, MaxPunctRatio}
import graft.operators.{Dedup, Quantize, Similarity}

/** q100 — the capstone LLM-corpus pipeline: every curation stage the
  * engine provides, composed END-TO-END over one synthetic crawl drop,
  * reported as per-stage attrition counts (the q76 pattern — the
  * numbers a data-curation run actually publishes). This is the query
  * a user copies first: it pins that the operators COMPOSE — each
  * stage consumes exactly the previous stage's survivors.
  *
  *   ingest → NFC normalize → quality gate → exact dedup →
  *   incremental near-dup (batch vs corpus) → semantic prune →
  *   int8 quantize → sequence pack
  *
  * The ingest batch plants one victim family per stage (disjoint
  * moduli, disjoint id offsets), so every stage has real work whose
  * outcome the DuckDB oracle replays exactly:
  *   - % 41: a decomposed-unicode suffix (" cafe" + U+0301) — NFC
  *     canonicalizes it, so downstream fingerprints agree between
  *     engines only if normalization ran;
  *   - % 31 (+2M ids): whitespace/case exact-dup variants — caught by
  *     the fingerprint groupBy (q19 machinery);
  *   - % 29 (+1M ids): suffix-mutated near-dups — caught by the
  *     incremental MinHash/LSH batch-vs-corpus pass (q97 machinery:
  *     batch band keys broadcast, corpus never shuffled);
  *   - % 23 (+3M ids): word-order-scrambled semantic twins carrying a
  *     2x-scaled copy of the original's embedding (cosine exactly 1,
  *     far above the 0.999 line; the scramble guts 3-shingle Jaccard,
  *     so the LEXICAL pass cannot catch them — only the semantic one
  *     can, q93 machinery).
  *
  * Stage metrics (column `n_rows`): surviving row count for the
  * filter stages; distinct int8 code signatures for quantize (pins
  * the actual code arithmetic, not just plumbing); packed sequence
  * count for pack (q70 machinery, 512-token budget per lang shard).
  *
  * Scale shape: every stage is the operator's own scale path —
  * nothing here is all-pairs, the only driver actions are the four
  * documented survivor-set pins (each bounded by the corpus, reused by
  * every later stage instead of recomputing the expensive prefix once
  * per stage count; the quality-gate pin is r19 — the nfc + text_stats
  * prefix ran three times unpinned). The pins are always
  * `localCheckpoint(eager = true)`, even under a checkpoint dir: the
  * returned lazy frame reads them after the builder returns, so no
  * handle could delete a reliable checkpoint at the right time and
  * its files would outlive the query.
  */
object PipelineQueries {

  private val NfcMod = 41                 // decomposed-unicode plant
  private val ExMod = 31;  private val ExOff = 2000000L
  private val NdMod = 29;  private val NdOff = 1000000L
  private val SemMod = 23; private val SemOff = 3000000L
  private val NdSuffix = " zz qq extra mutated tail"
  private val SeqTokens = 512
  private val CosTau = 0.999
  /** ScaleUp's per-replica key stride: the corpus/batch split below is
    * taken WITHIN the replica key space (`doc_id % ReplicaK`), so the
    * pipeline keeps its shape — planted ids are the batch, real ids
    * the corpus — on the scaled bench dirs too. On driver testdata
    * (ids < 10⁹) the modulo is the identity. */
  private val ReplicaK = 1000000000L

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q100_corpus_pipeline", (s, d) => {
      // ---- stage 0: ingest (base + planted victims, one family/stage)
      val base = docs(s, d).select(
        col("doc_id"),
        when(col("doc_id") % NfcMod === 0,
          concat(col("text"), lit(" cafe" + "\u0301")))
          .otherwise(col("text")).as("text"),
        col("lang"))
      val ingest = base
        .unionAll(base.filter(col("doc_id") % ExMod === 0).select(
          (col("doc_id") + ExOff).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" ")).as("text"),
          col("lang")))
        .unionAll(base.filter(col("doc_id") % NdMod === 0).select(
          (col("doc_id") + NdOff).as("doc_id"),
          concat(col("text"), lit(NdSuffix)).as("text"),
          col("lang")))
        .unionAll(base.filter(col("doc_id") % SemMod === 0).select(
          (col("doc_id") + SemOff).as("doc_id"),
          array_join(reverse(graft.functions.TextFunctions.words(col("text"))), " ")
            .as("text"),
          col("lang")))

      // ---- stage 1: NFC normalization (q66 machinery)
      val nrm = ingest.select(col("doc_id"),
        graft.expressions.TextExpressions.nfcNormalize(col("text")).as("text"),
        col("lang"))

      // ---- stage 2: quality gate (the streaming qualityGate rules,
      // riding the fused text_stats struct — one scan). r19 (guide
      // §1.2): the gate output is PINNED too — the ingest→nfc→
      // text_stats prefix is the pipeline's per-row hot path, and
      // unpinned it executed THREE times (the exact-dedup canon branch,
      // its probe branch — no shared exchange joins them — and the
      // stage-2 count). One pass now feeds all three. The stage-0/1
      // counts stay lazy: count(1) prunes their text expressions away,
      // so they never pay the nfc work.
      val ts = graft.expressions.TextExpressions.textStats(col("text"))
      val quality = nrm
        .withColumn("__ts", ts)
        .filter(col("__ts.n_ws_tokens") >= MinKeepTokens &&
          !(when(col("__ts.n_chars") === 0, lit(0.0))
            .otherwise(col("__ts.n_punct").cast("double") /
              col("__ts.n_chars").cast("double")) >= MaxPunctRatio))
        .drop("__ts")
        .localCheckpoint(eager = true)

      // ---- stage 3: exact dedup (q19 machinery — fingerprint groupBy,
      // min-id canonical)
      val qf = quality.withColumn("fp", fingerprint(col("text")))
      val canon = qf.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      // pinned: every later stage re-reads the survivors instead of
      // re-running the gate + dedup prefix per stage count (bounded:
      // at most the ingest batch; blocks freed by the context cleaner)
      val ded = qf.join(canon, Seq("fp", "doc_id"), "left_semi")
        .drop("fp").localCheckpoint(eager = true)

      // ---- stage 4: incremental near-dup, batch vs corpus (q97
      // machinery: planted ids are the "new arrivals", the original
      // id range is the standing corpus; batch band keys broadcast)
      val corp = ded.filter(col("doc_id") % ReplicaK < NdOff)
      val btch = ded.filter(col("doc_id") % ReplicaK >= NdOff)
      val ndDrops = Dedup.nearDupPairsAgainst(corp, btch, "doc_id", "text")
        .select(col("batch_id").as("doc_id")).distinct()
      val nd = ded.join(ndDrops, Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = true)

      // ---- stage 5: semantic prune (q93 machinery — min-id keep
      // inside given clusters at cosine >= 0.999; docs without an
      // embedding pass through unpruned)
      val emb = Tables(s, d, "embeddings")
      val embAll = emb.select(col("vec_id"), col("embedding"), col("label"))
        .unionAll(emb.filter(col("vec_id") % SemMod === 0).select(
          (col("vec_id") + SemOff).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
          col("label")))
      val embSurv = nd.join(embAll, nd("doc_id") === embAll("vec_id"))
        .select(col("vec_id"), col("embedding"), col("label"))
      val semDrops = Similarity
        .semanticPrune(embSurv, "vec_id", "embedding", "label", CosTau)
        .filter(!col("keep")).select(col("id").as("doc_id"))
      val sem = nd.join(semDrops, Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = true)

      // ---- stage 6: int8 quantization of the surviving embeddings
      // (q99 machinery; bounds computed over THIS population). The
      // metric is the distinct code-signature count — the codes
      // themselves must agree with the oracle's replay, not just the
      // row plumbing.
      val semEmb = sem.join(embAll, sem("doc_id") === embAll("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val qz = Quantize.quantized(semEmb, "embedding")
        .select(array_join(transform(col("codes"), c => c.cast("string")), ",")
          .as("codes_str"))

      // ---- stage 7: sequence packing of the final corpus (q70
      // machinery — per-lang shard, 512-token budget, a doc belongs to
      // the sequence where it starts)
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packed = sem
        .select(col("doc_id"), col("lang"), wsTokenCount(col("text")).as("n_tok"))
        .withColumn("start_tok", sum(col("n_tok")).over(w) - col("n_tok"))
        .select(col("lang"),
          floor(col("start_tok") / lit(SeqTokens.toDouble)).cast("int").as("seq_id"))

      def stage(ord: Int, name: String, n: DataFrame): DataFrame =
        n.select(lit(ord).cast("int").as("stage_ord"),
          lit(name).as("stage"), col("n").cast("bigint").as("n_rows"))
      def rows(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("n"))

      stage(0, "ingest", rows(ingest))
        .unionAll(stage(1, "nfc", rows(nrm)))
        .unionAll(stage(2, "quality", rows(quality)))
        .unionAll(stage(3, "exact_dedup", rows(ded)))
        .unionAll(stage(4, "neardup", rows(nd)))
        .unionAll(stage(5, "semantic", rows(sem)))
        .unionAll(stage(6, "quantize",
          qz.agg(countDistinct(col("codes_str")).as("n"))))
        .unionAll(stage(7, "pack",
          packed.agg(countDistinct(col("lang"), col("seq_id")).as("n"))))
    }, {
      val mins = (1 to H).map(h =>
        s"list_aggregate(list_transform(sh, s -> md5('$h:' || s)), 'min')")
      val bandExprs = (0 until B).map { bi =>
        val r = H / B
        val parts = mins.slice(bi * r, (bi + 1) * r).mkString(" || '|' || ")
        s"md5('$bi' || '|' || $parts)"
      }
      s"""WITH base AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % $NfcMod = 0 THEN text || ' cafe' || chr(769)
         |              ELSE text END AS text,
         |         lang
         |  FROM documents),
         |ingest AS (
         |  SELECT doc_id, text, lang FROM base
         |  UNION ALL
         |  SELECT doc_id + $ExOff, '  ' || upper(text) || ' ', lang
         |  FROM base WHERE doc_id % $ExMod = 0
         |  UNION ALL
         |  SELECT doc_id + $NdOff, text || '$NdSuffix', lang
         |  FROM base WHERE doc_id % $NdMod = 0
         |  UNION ALL
         |  SELECT doc_id + $SemOff,
         |         array_to_string(list_reverse(regexp_extract_all(lower(text), '[a-z]+')), ' '),
         |         lang
         |  FROM base WHERE doc_id % $SemMod = 0),
         |nrm AS (SELECT doc_id, nfc_normalize(text) AS text, lang FROM ingest),
         |quality AS (
         |  SELECT doc_id, text, lang FROM nrm
         |  WHERE $duckWsTokens >= $MinKeepTokens AND NOT ($duckPunctRatio >= $MaxPunctRatio)),
         |qf AS (SELECT doc_id, text, lang,
         |              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |       FROM quality),
         |ded AS (SELECT t.doc_id, t.text, t.lang FROM qf t
         |        JOIN (SELECT fp, MIN(doc_id) AS doc_id FROM qf GROUP BY fp) m
         |          ON t.fp = m.fp AND t.doc_id = m.doc_id),
         |corp AS (SELECT * FROM ded WHERE doc_id % $ReplicaK < $NdOff),
         |btch AS (SELECT * FROM ded WHERE doc_id % $ReplicaK >= $NdOff),
         |wa AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM corp),
         |sha AS (SELECT doc_id, ${duckShingles(K)} AS sh FROM wa),
         |bda AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS bk FROM sha),
         |wb AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM btch),
         |shb AS (SELECT doc_id, ${duckShingles(K)} AS sh FROM wb),
         |bdb AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS bk FROM shb),
         |cand AS (SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS batch_id
         |         FROM bda a JOIN bdb b ON a.bk = b.bk),
         |nddrop AS (SELECT DISTINCT c.batch_id AS doc_id FROM cand c
         |           JOIN sha sa ON sa.doc_id = c.corpus_id
         |           JOIN shb sb ON sb.doc_id = c.batch_id
         |           WHERE $duckJaccard >= $Tau),
         |nd AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
         |emb_all AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $SemOff, list_transform(embedding, x -> CAST(x * 2 AS REAL)), label
         |  FROM embeddings WHERE vec_id % $SemMod = 0),
         |es AS (SELECT e.vec_id, e.embedding, e.label
         |       FROM nd JOIN emb_all e ON nd.doc_id = e.vec_id),
         |sp AS (SELECT a.vec_id AS aid, b.vec_id AS bid, $duckCos AS cos
         |       FROM es a, es b, generate_series(1, 64) i(i)
         |       WHERE a.label = b.label AND a.vec_id < b.vec_id
         |       GROUP BY 1, 2),
         |semdrop AS (SELECT DISTINCT bid AS doc_id FROM sp WHERE cos >= $CosTau),
         |sem AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM semdrop)),
         |se AS (SELECT e.vec_id, e.embedding
         |       FROM sem JOIN emb_all e ON sem.doc_id = e.vec_id),
         |ex AS (SELECT unnest(generate_series(1, len(embedding))) AS i,
         |              unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x
         |       FROM se),
         |mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
         |b AS (SELECT list(mn ORDER BY i) AS lo, list(mx ORDER BY i) AS hi FROM mm),
         |codes AS (
         |  SELECT array_to_string(list_transform(
         |    list_transform(generate_series(1, len(embedding)),
         |      i -> CASE WHEN b.hi[i] = b.lo[i] THEN CAST(0 AS BIGINT)
         |           ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - b.lo[i])
         |                           * 255.0 / (b.hi[i] - b.lo[i]) + 0.5) AS BIGINT) END),
         |    c -> CAST(c AS VARCHAR)), ',') AS codes_str
         |  FROM se, b),
         |pk AS (SELECT lang,
         |              CAST(floor((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n_tok) / ${SeqTokens}.0)
         |                   AS INT) AS seq_id
         |       FROM (SELECT doc_id, lang, $duckWsTokens AS n_tok FROM sem))
         |SELECT CAST(0 AS INT) AS stage_ord, 'ingest' AS stage, COUNT(*) AS n_rows FROM ingest
         |UNION ALL SELECT 1, 'nfc', COUNT(*) FROM nrm
         |UNION ALL SELECT 2, 'quality', COUNT(*) FROM quality
         |UNION ALL SELECT 3, 'exact_dedup', COUNT(*) FROM ded
         |UNION ALL SELECT 4, 'neardup', COUNT(*) FROM nd
         |UNION ALL SELECT 5, 'semantic', COUNT(*) FROM sem
         |UNION ALL SELECT 6, 'quantize', COUNT(DISTINCT codes_str) FROM codes
         |UNION ALL SELECT 7, 'pack', (SELECT COUNT(*) FROM (SELECT DISTINCT lang, seq_id FROM pk))""".stripMargin
    })
  )

  // ------------------------------------------------------------- oracle SQL

  private val K = 3; private val H = 12; private val B = 4; private val Tau = 0.5

  private def duckShingles(k: Int): String =
    s"CASE WHEN len(ws) >= $k THEN list_distinct(list_transform(range(0, len(ws) - ${k - 1}), " +
      s"i -> array_to_string(list_slice(ws, i + 1, i + $k), ' '))) ELSE CAST([] AS VARCHAR[]) END"

  private val duckJaccard =
    "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)"

  private val duckCos =
    """SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
      | (sqrt(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
      |  sqrt(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))))""".stripMargin

  private val duckWsTokens =
    "CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"

  private val duckPunctRatio =
    "CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0 ELSE " +
      "CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END"
}
