package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.{fingerprint, words}
import graft.operators.{Dedup, Similarity}

/** Dedup + similarity-search operators as oracle-checked queries.
  *
  * Near-dup results on a random corpus would be empty, so each query
  * PLANTS deterministic mutations inside the query itself (documents ∪
  * mutated copies with id+1e6): results are non-empty and identical at
  * every scale factor, and the DuckDB oracle plants the same rows.
  *
  * The MinHash/LSH oracle replays the FULL algorithm (shingle → md5
  * minhash → band keys → bucket join → exact-Jaccard verify) — it is
  * md5-based and RNG-free, so candidate generation is engine-exact, not
  * just the final similarity filter.
  */
object DedupQueries {

  // planted-mutation parameters (shared by Spark + oracle SQL)
  private val MutMod = 29
  private val MutOff = 1000000
  private val MutSuffix = " zz qq extra mutated tail"
  // minhash params
  private val K = 3; private val H = 12; private val B = 4
  private val Tau = 0.5

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").select("doc_id", "text")

  /** documents ∪ near-dup mutations (suffix appended). */
  private def mutatedBatch(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    base.unionAll(base.filter(col("doc_id") % MutMod === 0).select(
      (col("doc_id") + MutOff).as("doc_id"),
      concat(col("text"), lit(MutSuffix)).as("text")))
  }

  /** documents ∪ exact-dup copies (whitespace/case variants — same
    * fingerprint). */
  private def exactDupBatch(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    base.unionAll(base.filter(col("doc_id") % MutMod === 0).select(
      (col("doc_id") + MutOff).as("doc_id"),
      concat(lit("  "), upper(col("text")), lit(" ")).as("text")))
  }

  def specs: Seq[QuerySpec] = Seq(

    // exact dedup: hash-groupBy on the normalized fingerprint.
    QuerySpec("q19_exact_dedup", (s, d) =>
      exactDupBatch(s, d)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_id"))
        .filter(col("n_dups") > 1),
      s"""WITH batch AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $MutOff, '  ' || upper(text) || ' '
         |  FROM documents WHERE doc_id % $MutMod = 0)
         |SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         |       COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
         |FROM batch GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin),

    // MinHash + LSH banding + exact-Jaccard verify.
    QuerySpec("q20_minhash_lsh", (s, d) =>
      Dedup.nearDupPairs(mutatedBatch(s, d), "doc_id", "text",
        k = K, numHashes = H, bands = B, threshold = Tau), {
      val mins = (1 to H).map(h =>
        s"list_aggregate(list_transform(sh, s -> md5('$h:' || s)), 'min')")
      val bandExprs = (0 until B).map { bi =>
        val r = H / B
        val parts = mins.slice(bi * r, (bi + 1) * r).mkString(" || '|' || ")
        s"md5('$bi' || '|' || $parts)"
      }
      s"""WITH $duckTextBatch,
         |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM batch),
         |sh AS (SELECT doc_id, ${duckShingles(K)} AS sh FROM w),
         |bd AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS bk FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bd a JOIN bd b ON a.bk = b.bk AND a.doc_id < b.doc_id)
         |SELECT c.a_id, c.b_id, $duckJaccard AS jaccard
         |FROM cand c
         |JOIN sh sa ON sa.doc_id = c.a_id
         |JOIN sh sb ON sb.doc_id = c.b_id
         |WHERE $duckJaccard >= $Tau""".stripMargin
    }),

    // SimHash signatures + hamming distance over the planted pairs.
    // bits are computed in their own projection so sim derives from the
    // same evaluation (CollapseProject keeps multiply-referenced
    // non-cheap aliases separate); the self-join sides carry redundant
    // pre-filters implied by the join condition, so only original/mutated
    // rows (not the whole corpus twice) compute signatures.
    QuerySpec("q21_simhash", (s, d) => {
      val sims = mutatedBatch(s, d)
        .filter(size(words(col("text"))) > 0)
        .select(col("doc_id"), Dedup.simhashBits(col("text")).as("bits"))
        .select(col("doc_id"), Dedup.simhashHex(col("bits")).as("sim"), col("bits"))
      val a = sims.filter(col("doc_id") % MutMod === 0 && col("doc_id") < MutOff).as("a")
      val b = sims.filter(col("doc_id") >= MutOff).as("b")
      a.join(b, col("b.doc_id") === col("a.doc_id") + MutOff)
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.sim").as("sim_a"), col("b.sim").as("sim_b"),
          Dedup.hamming(col("a.bits"), col("b.bits")).cast("int").as("hamming"))
    }, {
      val nib = "CASE WHEN ascii(substr(md5(w), 1 + (i.i // 4), 1)) <= 57 " +
        "THEN ascii(substr(md5(w), 1 + (i.i // 4), 1)) - 48 " +
        "ELSE ascii(substr(md5(w), 1 + (i.i // 4), 1)) - 87 END"
      s"""WITH $duckTextBatch,
         |wd AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM batch),
         |nw AS (SELECT doc_id, COUNT(*) AS n FROM wd GROUP BY 1),
         |bits AS (
         |  SELECT doc_id, i.i AS i, (($nib) >> (3 - (i.i % 4))) & 1 AS b
         |  FROM wd, generate_series(0, 63) i(i)),
         |sums AS (SELECT doc_id, i, CAST(SUM(b) AS BIGINT) AS s FROM bits GROUP BY 1, 2),
         |sim AS (SELECT s.doc_id, s.i,
         |          CASE WHEN 2 * s.s >= nw.n THEN 1 ELSE 0 END AS bit
         |        FROM sums s JOIN nw ON nw.doc_id = s.doc_id),
         |hexs AS (
         |  SELECT doc_id, string_agg(substr('0123456789abcdef', 1 + nib, 1), '' ORDER BY j) AS simhash
         |  FROM (SELECT doc_id, i // 4 AS j, CAST(SUM(bit * (8 >> (i % 4))) AS INT) AS nib
         |        FROM sim GROUP BY 1, 2)
         |  GROUP BY 1),
         |ham AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(SUM(abs(a.bit - b.bit)) AS INT) AS hamming
         |  FROM sim a JOIN sim b ON b.doc_id = a.doc_id + $MutOff AND a.i = b.i
         |  GROUP BY 1, 2)
         |SELECT h.a_id, h.b_id, ha.simhash AS sim_a, hb.simhash AS sim_b, h.hamming
         |FROM ham h
         |JOIN hexs ha ON ha.doc_id = h.a_id
         |JOIN hexs hb ON hb.doc_id = h.b_id""".stripMargin
    }),

    // direct pairwise n-gram (word-set) Jaccard on a bounded id range.
    QuerySpec("q22_ngram_jaccard", (s, d) => {
      val t = docs(s, d).filter(col("doc_id") < 30)
        .select(col("doc_id"), Dedup.shingles(col("text"), 1).as("sh"))
      val a = t.as("a")
      val b = t.as("b")
      a.join(b, col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          Dedup.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    },
      s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
         |           FROM documents WHERE doc_id < 30),
         |sh AS (SELECT doc_id, ${duckShingles(1)} AS sh FROM w)
         |SELECT sa.doc_id AS a_id, sb.doc_id AS b_id, $duckJaccard AS jaccard
         |FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
         |WHERE $duckJaccard >= 0.5""".stripMargin),

    // connected components over the LSH pairs: cluster representative +
    // cluster size per near-duplicate document (canonical selection).
    QuerySpec("q56_dup_clusters", (s, d) => {
      val pairs = Dedup.nearDupPairs(mutatedBatch(s, d), "doc_id", "text",
        k = K, numHashes = H, bands = B, threshold = Tau)
      val labels = Dedup.dupClusters(pairs.select("a_id", "b_id"))
      val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep"))
      labels.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
        .withColumn("cluster_size", count(lit(1)).over(wc))
    }, {
      // the FULL q20 pipeline as a CTE, then transitive closure by
      // recursive CTE: rep(x) = min id reachable in the pair graph.
      val pairsSql = {
        val mins = (1 to H).map(h =>
          s"list_aggregate(list_transform(sh, s -> md5('$h:' || s)), 'min')")
        val bandExprs = (0 until B).map { bi =>
          val r = H / B
          val parts = mins.slice(bi * r, (bi + 1) * r).mkString(" || '|' || ")
          s"md5('$bi' || '|' || $parts)"
        }
        s"""SELECT c.a_id, c.b_id
           |FROM (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bd a JOIN bd b ON a.bk = b.bk AND a.doc_id < b.doc_id) c
           |JOIN sh sa ON sa.doc_id = c.a_id
           |JOIN sh sb ON sb.doc_id = c.b_id
           |WHERE $duckJaccard >= $Tau""".stripMargin ->
          s"""w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM batch),
             |sh AS (SELECT doc_id, ${duckShingles(K)} AS sh FROM w),
             |bd AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS bk FROM sh)""".stripMargin
      }
      s"""WITH RECURSIVE $duckTextBatch,
         |${pairsSql._2},
         |pairs AS (${pairsSql._1}),
         |e AS (SELECT a_id AS x, b_id AS y FROM pairs
         |      UNION SELECT b_id, a_id FROM pairs),
         |walk(a, b) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM e)
         |  UNION
         |  SELECT walk.a, e.y FROM walk JOIN e ON walk.b = e.x),
         |rep AS (SELECT a AS doc_id, MIN(b) AS cluster_rep FROM walk GROUP BY 1)
         |SELECT doc_id, cluster_rep,
         |       CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
         |FROM rep""".stripMargin
    }),

    // embedding prep: L2 norm (via the native fused dot product) and
    // max-abs — the scalars a normalize + int8-quantize stage needs.
    QuerySpec("q59_vector_norm", (s, d) =>
      Tables(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        sqrt(graft.expressions.VectorExpressions.dotF(col("embedding"), col("embedding")))
          .as("norm"),
        array_max(transform(col("embedding"), abs(_))).cast("double").as("max_abs")),
      // ss via list_reduce in list order — a GROUP-BY SUM's accumulation
      // order is an engine accident (reversing it flips the last ulp of
      // half the norms); the left fold matches Spark dotF's 0..n-1 loop
      // exactly.
      """SELECT vec_id,
        |       CAST(len(embedding) AS INT) AS n_dims,
        |       sqrt(list_reduce(
        |         list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |         (acc, v) -> acc + v)) AS norm,
        |       CAST(list_aggregate(list_transform(embedding, x -> abs(x)), 'max') AS DOUBLE) AS max_abs
        |FROM embeddings""".stripMargin),

    // brute-force cosine top-k (ANN baseline): 20 queries × corpus.
    QuerySpec("q23_ann_topk", (s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
    },
      s"""WITH p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCos AS cos
         |  FROM embeddings a, embeddings b, generate_series(1, 64) i(i)
         |  WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |  FROM p) WHERE rank <= 5""".stripMargin),

    // embedding near-dup via sign-bucket LSH + exact cosine verify;
    // planted scaled copies (×2 — exactly parallel) are the dups.
    QuerySpec("q24_embedding_neardup", (s, d) => {
      val emb = Tables(s, d, "embeddings")
      val batch = emb.select("vec_id", "embedding").unionAll(
        emb.filter(col("vec_id") % MutMod === 0).select(
          (col("vec_id") + MutOff).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      Similarity.signBucketPairs(batch, "vec_id", "embedding",
        dims = 64, threshold = 0.999)
    },
      s"""WITH eb AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $MutOff, list_transform(embedding, x -> CAST(x * 2 AS REAL))
         |  FROM embeddings WHERE vec_id % $MutMod = 0),
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, $duckCos AS cos
         |  FROM eb a, eb b, generate_series(1, 64) i(i)
         |  WHERE a.vec_id < b.vec_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id FROM p WHERE cos > 0.999""".stripMargin),

    // exact-substring (shared verbatim span) dedup via winnowing:
    // planted copies keep the original's text from char 101 on under a
    // fresh prefix — same long suffix, different document — the case
    // whole-doc Jaccard/containment under-score but ExactSubstr-style
    // dedup must catch. Guarantee: k=8, w=16 detects any shared span
    // >= 23 chars; the planted suffixes share hundreds. Short docs
    // (< 300 chars) are not planted so every planted pair has a real
    // span. minShared=3 reports pairs sharing a substantial stretch
    // (planted suffixes share tens of fingerprints; same-vocab
    // synthetic docs incidentally share 1-2), and any borderline case
    // resolves identically on both engines — the oracle replays the
    // identical algorithm, maxDocFreq drop included.
    QuerySpec("q94_winnow_spans", (s, d) => {
      val base = docs(s, d)
      val batch = base.unionAll(
        base.filter(col("doc_id") % MutMod === 0 && length(col("text")) >= 300)
          .select((col("doc_id") + MutOff).as("doc_id"),
            concat(lit("WINNOW-PREFIX "), expr("substring(text, 101)")).as("text")))
      Dedup.winnowPairs(batch, "doc_id", "text", k = 8, w = 16,
        maxDocFreq = 20, minShared = 3)
    },
      // full winnowing replay: md5 char-k-grams, window-of-w minima,
      // distinct, doc-freq drop, inverted-index pair join — the engine's
      // native expression must equal this relational form exactly
      s"""WITH batch AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $MutOff AS doc_id,
         |         'WINNOW-PREFIX ' || substr(text, 101) AS text
         |  FROM documents WHERE doc_id % $MutMod = 0 AND length(text) >= 300),
         |g AS (
         |  SELECT doc_id, length(text) - 8 + 1 AS ng,
         |    list_transform(range(1, CAST(greatest(length(text) - 8 + 1, 1) AS BIGINT) + 1),
         |      i -> md5(substr(text, CAST(i AS INT), 8))) AS hs
         |  FROM batch),
         |fps AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN ng <= 0 THEN CAST([] AS VARCHAR[])
         |         WHEN ng <= 16 THEN [list_aggregate(hs, 'min')]
         |         ELSE list_transform(range(1, CAST(ng - 16 + 1 AS BIGINT) + 1),
         |                j -> list_aggregate(list_slice(hs, CAST(j AS INT), CAST(j + 15 AS INT)), 'min'))
         |    END)) AS f FROM g),
         |idx AS (
         |  SELECT doc_id, f FROM (
         |    SELECT doc_id, f, COUNT(*) OVER (PARTITION BY f) AS df FROM fps)
         |  WHERE df <= 20)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared_fps
         |FROM idx a JOIN idx b ON a.f = b.f AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 3""".stripMargin),

    // incremental dedup: the arriving batch against the EXISTING
    // corpus — the batch's band keys broadcast, the corpus is never
    // shuffled (re-running the corpus-wide self-join per arriving
    // batch re-pays the whole corpus each time). The planted batch is
    // the same mutation set as q20, so the pairs found incrementally
    // are exactly the old-vs-new pairs of the monolithic run.
    QuerySpec("q97_incremental_dedup", (s, d) => {
      val corpus = docs(s, d)
      val batch = corpus.filter(col("doc_id") % MutMod === 0).select(
        (col("doc_id") + MutOff).as("doc_id"),
        concat(col("text"), lit(MutSuffix)).as("text"))
      Dedup.nearDupPairsAgainst(corpus, batch, "doc_id", "text",
        k = K, numHashes = H, bands = B, threshold = Tau)
    }, {
      // asymmetric replay of the q20 machinery: corpus and batch banded
      // separately, candidates from the cross band join only
      val mins = (1 to H).map(h =>
        s"list_aggregate(list_transform(sh, s -> md5('$h:' || s)), 'min')")
      val bandExprs = (0 until B).map { bi =>
        val r = H / B
        val parts = mins.slice(bi * r, (bi + 1) * r).mkString(" || '|' || ")
        s"md5('$bi' || '|' || $parts)"
      }
      s"""WITH nb AS (
         |  SELECT doc_id + $MutOff AS doc_id, text || '$MutSuffix' AS text
         |  FROM documents WHERE doc_id % $MutMod = 0),
         |wa AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
         |sha AS (SELECT doc_id, ${duckShingles(K)} AS sh FROM wa),
         |bda AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS bk FROM sha),
         |wb AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM nb),
         |shb AS (SELECT doc_id, ${duckShingles(K)} AS sh FROM wb),
         |bdb AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS bk FROM shb),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS batch_id
         |  FROM bda a JOIN bdb b ON a.bk = b.bk)
         |SELECT c.corpus_id, c.batch_id, $duckJaccard AS jaccard
         |FROM cand c
         |JOIN sha sa ON sa.doc_id = c.corpus_id
         |JOIN shb sb ON sb.doc_id = c.batch_id
         |WHERE $duckJaccard >= $Tau""".stripMargin
    }),

    // SemDeDup-style semantic prune: the embeddings table's label
    // column stands in for the k-means assignment (the clustering step
    // is [[graft.operators.Ivf]]'s job and is covered by IvfSpec; a
    // k-means label is not SQL-oracle-able, a GIVEN cluster column is).
    // Planted ×2-scaled copies carry their original's label, land in
    // the same cluster at cosine 1, and get pruned by the min-id keep
    // rule; natural intra-label pairs top out near 0.5 cosine — far
    // under the 0.999 line, so the verdict is deterministic on both
    // engines despite float-accumulation-order differences.
    QuerySpec("q93_semantic_prune", (s, d) => {
      val emb = Tables(s, d, "embeddings")
      val batch = emb.select("vec_id", "embedding", "label").unionAll(
        emb.filter(col("vec_id") % MutMod === 0).select(
          (col("vec_id") + MutOff).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
          col("label")))
      Similarity.semanticPrune(batch, "vec_id", "embedding", "label", 0.999)
        .select(col("id").as("vec_id"), col("cluster").as("label"), col("keep"))
    },
      // the oracle replays the same given-cluster algorithm: all pairs
      // within a label, exact cosine, min-id keep rule
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $MutOff, list_transform(embedding, x -> CAST(x * 2 AS REAL)), label
         |  FROM embeddings WHERE vec_id % $MutMod = 0),
         |p AS (
         |  SELECT a.vec_id AS aid, b.vec_id AS bid, $duckCos AS cos
         |  FROM eb a, eb b, generate_series(1, 64) i(i)
         |  WHERE a.label = b.label AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2),
         |d AS (SELECT DISTINCT bid FROM p WHERE cos >= 0.999)
         |SELECT eb.vec_id, eb.label, d.bid IS NULL AS keep
         |FROM eb LEFT JOIN d ON eb.vec_id = d.bid""".stripMargin),

    // embedding near-dup where the planted copies are NOISED, not
    // parallel (cos ≈ 0.992-0.994): a single 16-plane bucketing misses
    // several planted pairs (signs flip on a few planes), so this query
    // exercises the multi-probe path — 8 independent bucketings unioned.
    // The oracle is brute-force all-pairs cosine, so the query passes
    // only if LSH recall on pairs above the threshold is EXACTLY 100%
    // (verified: zero misses at sf 0.001/0.01/0.1 with these params;
    // margin is wide — max unplanted pair cosine ≈ 0.51 vs 0.99).
    QuerySpec("q67_multiprobe_neardup", (s, d) => {
      val emb = Tables(s, d, "embeddings")
      val batch = emb.select("vec_id", "embedding").unionAll(
        emb.filter(col("vec_id") % MutMod === 0).select(
          (col("vec_id") + MutOff).as("vec_id"),
          zip_with(col("embedding"), noiseLit, (x, p) => x + p).as("embedding")))
      Similarity.signBucketPairs(batch, "vec_id", "embedding",
        dims = 64, threshold = NoiseTau, planes = 16, tables = 8)
    }, {
      // brute-force all-pairs ground truth: the Spark side must achieve
      // exact recall with its 8-bucketing LSH for the hashes to match.
      val noise = noisePattern
        .map(x => if (x > 0) NoiseEps.toString else s"-$NoiseEps")
        .mkString("[", ", ", "]")
      s"""WITH eb AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $MutOff,
         |         list_transform(range(1, 65), i -> CAST(embedding[i] + ($noise)[i] AS REAL))
         |  FROM embeddings WHERE vec_id % $MutMod = 0),
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, $duckCos AS cos
         |  FROM eb a, eb b, generate_series(1, 64) i(i)
         |  WHERE a.vec_id < b.vec_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id FROM p WHERE cos > $NoiseTau""".stripMargin
    }),

    // benchmark decontamination: flag training docs sharing any k-gram
    // with the held-out eval set (doc_id % 17 — deterministic stand-in
    // for a benchmark suite). The scale shape is the point: the eval
    // side reduces to a DISTINCT n-gram set (benchmarks are tiny →
    // broadcast), the corpus side streams once through an equi-join on
    // the n-gram — never an all-pairs compare. k is a parameter; real
    // pipelines use 8-13-gram overlap, k=4 here so the synthetic corpus
    // yields a non-trivial flagged set.
    QuerySpec("q69_decontaminate", (s, d) => {
      val base = docs(s, d)
      val evalGrams = base.filter(col("doc_id") % DecontMod === 0)
        .select(explode(Dedup.shingles(col("text"), DecontK)).as("g"))
        .distinct()
      base.filter(col("doc_id") % DecontMod =!= 0)
        .select(col("doc_id"), explode(Dedup.shingles(col("text"), DecontK)).as("g"))
        .join(broadcast(evalGrams), "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_contaminated_grams"))
    },
      s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
         |           FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles(DecontK)} AS sh FROM w),
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % $DecontMod = 0),
         |cp AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % $DecontMod <> 0)
         |SELECT cp.doc_id, COUNT(DISTINCT cp.g) AS n_contaminated_grams
         |FROM cp JOIN ev USING (g)
         |GROUP BY 1""".stripMargin),

    // near-CONTAINMENT dedup — the pair class Jaccard misses: planted
    // 30-word prefix extracts (doc_id % ContainMod, id+MutOff) score
    // containment 1.0 against their parents (every surviving prefix
    // shingle is in the parent) while their Jaccard is only
    // ~30/|parent words|. Inverted shingle index + ubiquitous-shingle
    // guard; Dedup.containmentPairs.
    QuerySpec("q89_containment", (s, d) => {
      val base = docs(s, d)
      val prefix = base.filter(col("doc_id") % ContainMod === 0).select(
        (col("doc_id") + MutOff).as("doc_id"),
        array_join(slice(words(col("text")), 1, ContainWords), " ").as("text"))
      Dedup.containmentPairs(base.unionAll(prefix), "doc_id", "text",
        k = K, threshold = 0.9, maxDocFreq = ContainMaxDf)
    },
      // replays the whole containment pipeline: prefix plant → shingles →
      // windowed doc-frequency filter → inverted-index self-join → ratio
      // over FILTERED per-doc shingle counts (both engines divide the
      // same integers — one IEEE division each).
      s"""WITH batch AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $MutOff,
         |         array_to_string(list_slice(regexp_extract_all(lower(text), '[a-z]+'), 1, $ContainWords), ' ')
         |  FROM documents WHERE doc_id % $ContainMod = 0),
         |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM batch),
         |sh AS (SELECT doc_id, ${duckShingles(K)} AS sh FROM w),
         |gx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |idx AS (SELECT doc_id, g FROM (
         |  SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM gx)
         |  WHERE df <= $ContainMaxDf),
         |sz AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
         |  FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT s.a_id, s.b_id,
         |       CAST(s.shared AS DOUBLE) / CAST(least(za.sz, zb.sz) AS DOUBLE) AS containment
         |FROM shared s
         |JOIN sz za ON za.doc_id = s.a_id
         |JOIN sz zb ON zb.doc_id = s.b_id
         |WHERE CAST(s.shared AS DOUBLE) / CAST(least(za.sz, zb.sz) AS DOUBLE) >= 0.9""".stripMargin),

    // typo-tolerant join (edit distance ≤ 1) via SymSpell
    // deletion-neighborhood blocking — operators.FuzzyJoin. The dirty
    // side plants one substitution ('#' at position 6 — a char no part
    // name contains) per tenth part; candidates share a deletion
    // variant, the exact levenshtein verifies. Never an all-pairs
    // compare: the only shuffle is the (len+1)× variant hash join.
    QuerySpec("q79_fuzzy_join", (s, d) => {
      val part = Tables(s, d, "part")
      val clean = part.select(col("p_partkey").as("clean_id"), col("p_name"))
      val dirty = part.filter(col("p_partkey") % 10 === 0)
        .select((col("p_partkey") + MutOff).as("dirty_id"),
          concat(substring(col("p_name"), 1, 5), lit("#"),
            col("p_name").substr(lit(7), length(col("p_name")))).as("p_name"))
      graft.operators.FuzzyJoin.lev1Join(dirty, clean,
        "dirty_id", "clean_id", "p_name")
    }, {
      val dv = "list_distinct(list_append(" +
        "list_transform(range(0, greatest(length(s), 1)), " +
        "i -> substr(s, 1, i) || substr(s, i + 2, length(s))), s))"
      s"""WITH clean AS (SELECT p_partkey AS clean_id, p_name AS s FROM part),
         |dirty AS (SELECT p_partkey + $MutOff AS dirty_id,
         |                 substr(p_name, 1, 5) || '#' ||
         |                   substr(p_name, 7, length(p_name)) AS s
         |          FROM part WHERE p_partkey % 10 = 0),
         |cv AS (SELECT clean_id, s AS cs, unnest($dv) AS v FROM clean),
         |dv AS (SELECT dirty_id, s AS ds, unnest($dv) AS v FROM dirty)
         |SELECT DISTINCT dirty_id, clean_id,
         |       CAST(levenshtein(ds, cs) AS INT) AS dist
         |FROM dv JOIN cv USING (v)
         |WHERE levenshtein(ds, cs) <= 1""".stripMargin
    }),

    // int8-range scalar quantization of the embedding corpus
    // (operators.Quantize): one map-side-combined bounds aggregate,
    // broadcast bounds, row-local encode in explicit DOUBLE arithmetic
    // (bit-identical on any IEEE engine — the oracle replays the same
    // formula). recon_ok verdicts each engine's own codes against the
    // half-step error bound with 20% margin (the q30 discipline).
    QuerySpec("q99_embed_quant", (s, d) => {
      val q = graft.operators.Quantize.quantized(
        Tables(s, d, "embeddings"), "embedding")
      val recon = graft.operators.Quantize
        .decode(col("codes"), col("__lo"), col("__hi"))
      q.select(col("vec_id"),
        array_join(transform(col("codes"), c => c.cast("string")), ",")
          .as("codes_str"),
        forall(zip_with(col("embedding"),
          zip_with(recon, zip_with(col("__lo"), col("__hi"),
            (l, h) => (h - l) / lit(510.0) * lit(1.2) + lit(1e-12)),
            (r, b) => struct(r.as("r"), b.as("b"))),
          (x, rb) => abs(x.cast("double") - rb.getField("r")) <= rb.getField("b")),
          identity).as("recon_ok"))
    },
      // replays the exact DOUBLE quantization formula; the lateral
      // `codes` alias is reused for both the joined string and the
      // reconstruction verdict
      """WITH e AS (
        |  SELECT unnest(generate_series(1, len(embedding))) AS i,
        |         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x
        |  FROM embeddings),
        |mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM e GROUP BY i),
        |b AS (SELECT list(mn ORDER BY i) AS lo, list(mx ORDER BY i) AS hi FROM mm)
        |SELECT vec_id, codes_str, recon_ok FROM (
        |  SELECT vec_id,
        |    list_transform(generate_series(1, len(embedding)),
        |      i -> CASE WHEN b.hi[i] = b.lo[i] THEN CAST(0 AS BIGINT)
        |           ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - b.lo[i])
        |                           * 255.0 / (b.hi[i] - b.lo[i]) + 0.5)
        |                AS BIGINT) END) AS codes,
        |    array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',')
        |      AS codes_str,
        |    len(list_filter(generate_series(1, len(embedding)),
        |      i -> abs(CAST(embedding[i] AS DOUBLE)
        |               - (b.lo[i] + CAST(codes[i] AS DOUBLE)
        |                            * (b.hi[i] - b.lo[i]) / 255.0))
        |           > ((b.hi[i] - b.lo[i]) / 510.0 * 1.2 + 1e-12))) = 0
        |      AS recon_ok
        |  FROM embeddings, b)""".stripMargin),

    // exact-substring duplication accounting (Lee et al. 2022): the
    // fraction of each document's word-8-gram POSITIONS whose gram
    // recurs in another document, flagged at 50%. The exhaustive
    // position-level complement to q20's sampled signatures and q94's
    // winnowed fingerprints — what a curation pipeline thresholds on.
    QuerySpec("q143_crossdoc_spans", (s, d) =>
      Dedup.crossDocSpanStats(docs(s, d), "doc_id", "text",
        k = SpanK, flagAtE6 = SpanFlagE6),
      // positional k-grams (list_transform over the word list — every
      // position, duplicates KEPT, unlike duckShingles' list_distinct),
      // sharedness = per-gram count over the (doc, gram)-collapsed
      // table, dup positions = multiplicity sum over shared grams
      s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
         |           FROM documents),
         |pos AS (SELECT doc_id,
         |          unnest(CASE WHEN len(ws) >= $SpanK
         |            THEN list_transform(range(0, len(ws) - ${SpanK - 1}),
         |              i -> array_to_string(
         |                list_slice(ws, CAST(i AS INT) + 1, CAST(i AS INT) + $SpanK), ' '))
         |            ELSE CAST([] AS VARCHAR[]) END) AS g
         |        FROM w),
         |per AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM pos GROUP BY 1, 2),
         |sh AS (SELECT g FROM (SELECT g, COUNT(*) AS d FROM per GROUP BY 1)
         |       WHERE d >= 2),
         |dup AS (SELECT per.doc_id, CAST(SUM(cnt) AS BIGINT) AS dp
         |        FROM per JOIN sh USING (g) GROUP BY 1),
         |tot AS (SELECT doc_id,
         |          CAST(greatest(len(ws) - ${SpanK - 1}, 0) AS BIGINT) AS total_pos
         |        FROM w)
         |SELECT t.doc_id, t.total_pos,
         |       CAST(COALESCE(dup.dp, 0) AS BIGINT) AS dup_pos,
         |       CAST(CASE WHEN t.total_pos > 0
         |            THEN COALESCE(dup.dp, 0) * 1000000 // t.total_pos
         |            ELSE 0 END AS BIGINT) AS dup_frac_e6,
         |       (t.total_pos > 0 AND CASE WHEN t.total_pos > 0
         |            THEN COALESCE(dup.dp, 0) * 1000000 // t.total_pos
         |            ELSE 0 END >= $SpanFlagE6) AS flagged
         |FROM tot t LEFT JOIN dup USING (doc_id)""".stripMargin),

    // exact-substring span REMOVAL (Lee et al. 2022's second half —
    // q143 measures cross-doc duplication, q94 finds the pairs, THIS
    // deletes the shared span and keeps the rest of the document, the
    // operation production pipelines actually run). The plant is q94's:
    // a copy keeps the original's text from char 101 under a fresh
    // prefix — the copy (larger doc_id) must lose the shared suffix to
    // the original (the min-id keeper) while its fresh prefix survives,
    // and the original keeps everything. Natural cross-doc 8-gram
    // repeats in the synthetic corpus are cut by the same keeper rule
    // on both engines. md5(cleaned) byte-pins every reassembled
    // document; removed_chars prices the cut per doc.
    QuerySpec("q169_exactsubstr_scrub", (s, d) => {
      val base = docs(s, d).filter(col("text").isNotNull)
      val batch = base.unionAll(
        base.filter(col("doc_id") % MutMod === 0 && length(col("text")) >= 300)
          .select((col("doc_id") + MutOff).as("doc_id"),
            concat(lit("exsub fresh prefix "), expr("substring(text, 101)"))
              .as("text")))
      Dedup.removeSharedSpans(batch, "doc_id", "text", k = SpanK)
        .select(col("doc_id"), col("total_words"), col("removed_words"),
          col("removed_chars"), md5(col("cleaned")).as("cleaned_md5"))
    },
      // full removal replay: per-doc DISTINCT gram sets → (#docs ≥ 2,
      // min-id keeper) per gram → removable (doc, gram) membership →
      // per-word coverage via gram-start windows → reassembly. The
      // coverage window and the keeper rule are replayed exactly; both
      // engines divide nothing — pure integer/string work, md5-pinned.
      s"""WITH $duckExsubBatch,
         |$duckSpanChain
         |$duckSpanSelect
         |FROM c""".stripMargin),

    // INCREMENTAL span removal — the q97 batch-vs-corpus discipline
    // applied to q169: the corpus' maintained gram table (built once,
    // kept current with Dedup.foldGramTable) is PROBED by the arriving
    // batch's grams instead of re-running the corpus-wide gram
    // aggregate per arrival. Batch = q169's planted copies, so every
    // batch doc shares its stolen suffix with a corpus keeper. The
    // oracle is the MONOLITHIC replay over corpus ∪ batch filtered to
    // batch ids — the driver's hash gate IS the incremental ==
    // monolithic equality pin, re-proven at every SF (DedupSpec pins
    // the same equality in-engine, batch-internal duplicates included).
    QuerySpec("q171_exsub_incremental", (s, d) => {
      val corpus = docs(s, d).filter(col("text").isNotNull)
      val batch = corpus
        .filter(col("doc_id") % MutMod === 0 && length(col("text")) >= 300)
        .select((col("doc_id") + MutOff).as("doc_id"),
          concat(lit("exsub fresh prefix "), expr("substring(text, 101)"))
            .as("text"))
      val grams = Dedup.gramTable(corpus, "doc_id", "text", k = SpanK)
      Dedup.removeSharedSpansAgainst(batch, grams, "doc_id", "text",
          k = SpanK)
        .select(col("doc_id"), col("total_words"), col("removed_words"),
          col("removed_chars"), md5(col("cleaned")).as("cleaned_md5"))
    },
      // the MONOLITHIC replay over corpus ∪ batch, filtered to the batch
      // ids — hashing q171's incremental result against this IS the
      // incremental == monolithic equality pin, re-proven at every SF
      s"""WITH $duckExsubBatch,
         |$duckSpanChain
         |$duckSpanSelect
         |FROM c WHERE doc_id >= $MutOff""".stripMargin),

    // RE-FILTER AFTER REMOVAL — Lee et al. 2022's noted consequence of
    // span removal: a document stripped of its duplicated half may no
    // longer pass the quality gates, so production pipelines re-run
    // them on the cleaned text. q169's removal composes through
    // QualityClassifier (q165 weights) + Repetition (q168 thresholds)
    // with BOTH pre- and post-removal verdicts emitted and a
    // first-failing-stage reason (the q76 pattern). Plants (negative
    // ids, so the lowest of them keeps): doc -3 holds the boilerplate
    // paragraph alone (keeper — survives intact, stays keep); doc -2
    // is boilerplate + a 3-word stub (passes every gate pre-removal,
    // loses the whole paragraph to -3, and its stub remainder FAILS
    // the quality gate — the headline case); doc -1 is boilerplate +
    // a healthy remainder (loses the paragraph, still passes — the
    // control). Note the post gates score the word-normalized cleaned
    // text, so its punct feature is structurally 0 — the length /
    // stopword / word-length legs carry the post verdict.
    QuerySpec("q172_refilter_after_scrub", (s, d) => {
      import s.implicits._
      val base = docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id").cast("bigint").as("doc_id"), col("text"))
      val plants = Seq(
        (-3L, RefilterBoiler),
        (-2L, s"$RefilterBoiler $RefilterStub"),
        (-1L, s"$RefilterBoiler $RefilterHealthy")).toDF("doc_id", "text")
      val batch = base.unionAll(plants)
      val pre = graft.operators.Repetition.annotate(
          graft.operators.QualityClassifier.score(batch, "text")
            .withColumnRenamed("keep", "pre_q_keep"), "text")
        .select(col("doc_id"), col("pre_q_keep"),
          col("keep").as("pre_rep_keep"))
      val cleaned = Dedup.removeSharedSpans(batch, "doc_id", "text",
        k = SpanK)
      val post = graft.operators.Repetition.annotate(
          graft.operators.QualityClassifier.score(cleaned, "cleaned")
            .withColumnRenamed("keep", "post_q_keep")
            .withColumnRenamed("score", "post_score"), "cleaned")
        .select(col("doc_id"), col("total_words"), col("removed_words"),
          col("post_score"), col("post_q_keep"),
          col("keep").as("post_rep_keep"))
      post.join(pre, Seq("doc_id"))
        .select(col("doc_id"), col("total_words"), col("removed_words"),
          col("pre_q_keep"), col("pre_rep_keep"), col("post_score"),
          col("post_q_keep"), col("post_rep_keep"),
          when(not(col("post_q_keep")), lit("quality"))
            .when(not(col("post_rep_keep")), lit("repetition"))
            .otherwise(lit("keep")).as("post_stage"))
    }, {
      // removal replay (the q169 chain, cleaned kept as TEXT), then the
      // q165 quality legs + q168 repetition legs replayed over BOTH the
      // raw batch and the cleaned text — all fragments generated from
      // the same frozen operator constants (the q166 discipline)
      val batchCte =
        s"""batch AS (
           |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text
           |  FROM documents WHERE text IS NOT NULL
           |  UNION ALL SELECT -3, '$RefilterBoiler'
           |  UNION ALL SELECT -2, '$RefilterBoiler $RefilterStub'
           |  UNION ALL SELECT -1, '$RefilterBoiler $RefilterHealthy')"""
          .stripMargin
      s"""WITH $batchCte,
         |$duckSpanChain,
         |cl AS (SELECT doc_id,
         |        CAST(len(ws) AS BIGINT) AS total_words,
         |        CAST(len(list_filter(cov, b -> b)) AS BIGINT) AS removed_words,
         |        coalesce(array_to_string(list_filter(list_transform(
         |          range(1, len(ws) + 1),
         |          j -> CASE WHEN cov[CAST(j AS INT)] THEN NULL
         |                    ELSE ws[CAST(j AS INT)] END),
         |          x -> x IS NOT NULL), ' '), '') AS text
         |      FROM c),
         |${duckQualityCtes("batch", "pq", "")},
         |${duckRepCtes("batch", "pr")},
         |${duckQualityCtes("cl", "oq", ", total_words, removed_words")},
         |${duckRepCtes("cl", "orp")}
         |SELECT doc_id, oqsc.total_words, oqsc.removed_words,
         |  (pqsc.score >= 0) AS pre_q_keep,
         |  prrv.rep_keep AS pre_rep_keep,
         |  oqsc.score AS post_score,
         |  (oqsc.score >= 0) AS post_q_keep,
         |  orprv.rep_keep AS post_rep_keep,
         |  CASE WHEN NOT (oqsc.score >= 0) THEN 'quality'
         |       WHEN NOT orprv.rep_keep THEN 'repetition'
         |       ELSE 'keep' END AS post_stage
         |FROM pqsc
         |JOIN prrv USING (doc_id)
         |JOIN oqsc USING (doc_id)
         |JOIN orprv USING (doc_id)""".stripMargin
    }),

    // BEST-QUALITY near-dup survivor — every keep-rule in the dedup
    // family is min-id (deterministic but arbitrary); production
    // pipelines keep the best-QUALITY cluster member (SemDeDup,
    // RefinedWeb), and q165's scores are sitting right there. The
    // plant makes the rule change hash-visible: degraded copies get
    // ids BELOW every natural doc (doc_id − 1e6) with a glued
    // punctuation tail — the [a-z]+ shingle set is untouched (Jaccard
    // exactly 1, so the pair is always found) while the punct feature
    // collapses the copy's quality score, so the cluster REP (min id)
    // is the LOW-quality member and the argmax-quality survivor is
    // the original. Tie-break: highest score, then LOWEST id —
    // deterministic on both engines (row_number, no float compare).
    QuerySpec("q173_quality_survivor", (s, d) => {
      val base = docs(s, d)
      val batch = base.unionAll(
        base.filter(col("doc_id") % MutMod === 0).select(
          (col("doc_id") - MutOff).as("doc_id"),
          concat(col("text"),
            expr("repeat('!', 2 * length(text))")).as("text")))
      val pairs = Dedup.nearDupPairs(batch, "doc_id", "text",
        k = K, numHashes = H, bands = B, threshold = Tau)
      val labels = Dedup.dupClusters(pairs.select("a_id", "b_id"))
        .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
      // NOT pinned (r19 probe, reverted on 100x evidence): the score
      // table is consumed by two differently-keyed joins, so the
      // per-row scoring pass runs twice -- but pinning it measured
      // 12.0 -> 20.8 s at the 100x decade (min-of-3 stash pair, page
      // cache warmed; sf0.1 read 3.89 -> 3.18 the OTHER way). The
      // join strategies are identical either way (4 broadcasts, plan
      // dumps checked), so the regression is the pin's own serial
      // eager action vs two fully-overlapped lazy passes -- the
      // decade number decides (the q111 discipline).
      val scored = graft.operators.QualityClassifier.score(batch, "text")
        .select(col("doc_id"), col("score"))
      val m = labels.join(scored, Seq("doc_id"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_rep"))
        .orderBy(col("score").desc, col("doc_id").asc)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_rep"))
      m.withColumn("rn", row_number().over(wOrd))
        .withColumn("cluster_size", count(lit(1)).over(wAll))
        .filter(col("rn") === 1)
        .join(scored.select(col("doc_id").as("cluster_rep"),
          col("score").as("rep_score")), Seq("cluster_rep"))
        .select(col("cluster_rep"), col("cluster_size"),
          col("doc_id").as("survivor_id"), col("score").as("survivor_score"),
          col("rep_score"))
    }, {
      // q56's full LSH + recursive-CC chain over the punct-degraded
      // batch, the q165 score legs over the same batch, and the
      // identical (score DESC, doc_id ASC) row_number survivor pick
      val mins = (1 to H).map(h =>
        s"list_aggregate(list_transform(sh, s -> md5('$h:' || s)), 'min')")
      val bandExprs = (0 until B).map { bi =>
        val r = H / B
        val parts = mins.slice(bi * r, (bi + 1) * r).mkString(" || '|' || ")
        s"md5('$bi' || '|' || $parts)"
      }
      s"""WITH RECURSIVE batch AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id - $MutOff, text || repeat('!', 2 * length(text))
         |  FROM documents WHERE doc_id % $MutMod = 0),
         |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM batch),
         |sh AS (SELECT doc_id, ${duckShingles(K)} AS sh FROM w),
         |bd AS (SELECT doc_id, unnest([${bandExprs.mkString(",\n  ")}]) AS bk FROM sh),
         |pairs AS (
         |  SELECT c.a_id, c.b_id
         |  FROM (
         |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |    FROM bd a JOIN bd b ON a.bk = b.bk AND a.doc_id < b.doc_id) c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id
         |  WHERE $duckJaccard >= $Tau),
         |e AS (SELECT a_id AS x, b_id AS y FROM pairs
         |      UNION SELECT b_id, a_id FROM pairs),
         |walk(a, b) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM e)
         |  UNION
         |  SELECT walk.a, e.y FROM walk JOIN e ON walk.b = e.x),
         |rep AS (SELECT a AS doc_id, MIN(b) AS cluster_rep FROM walk GROUP BY 1),
         |${duckQualityCtes("batch", "q", "")},
         |m AS (SELECT rep.doc_id, rep.cluster_rep, qsc.score
         |      FROM rep JOIN qsc USING (doc_id)),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY cluster_rep
         |                           ORDER BY score DESC, doc_id ASC) AS rn,
         |        COUNT(*) OVER (PARTITION BY cluster_rep) AS csz
         |      FROM m)
         |SELECT r.cluster_rep, CAST(r.csz AS BIGINT) AS cluster_size,
         |  r.doc_id AS survivor_id, r.score AS survivor_score,
         |  s2.score AS rep_score
         |FROM r JOIN qsc s2 ON s2.doc_id = r.cluster_rep
         |WHERE r.rn = 1""".stripMargin
    }),

    // Cross-snapshot corpus overlap from KMV sketch SET ALGEBRA — the
    // "how much of snapshot B is already in A" planning question a
    // pipeline answers BEFORE paying for a full dedup join. Snapshot A
    // is the corpus; snapshot B is a re-crawl where even doc_ids kept
    // their text (the planted overlap) and odd ones changed. ONE
    // lang-keyed grouped pass builds both sides' KMV sketches (bounded
    // O(k) buffers, map-side combined — at most 2k longs per lang per
    // map task cross the wire); everything after is per-row array
    // algebra on the k-long sketches: union sketch = k smallest of the
    // two arrays' union, distinct estimates from the k-th minimum
    // ((k-1)/θ, Beyer et al. SIGMOD'07), intersection/Jaccard from
    // union-sketch members present in BOTH sides. At 100 TB the
    // snapshots never join — two sketch arrays per group meet instead.
    // Unlike q92's HLL (register max ⇒ union only, engine-specific
    // encoding ⇒ banded verdict), the KMV sketch is a pure function of
    // the hash SET, so DuckDB replays the whole thing EXACTLY — k
    // minima, θ, the one IEEE double division in the estimator
    // (floor-quantized), and the integer-division intersection /
    // Jaccard estimates all hash-match. The exact per-side distinct
    // counts ride along only to power the accuracy pin (KmvSpec),
    // q92's convention.
    QuerySpec("q163_kmv_overlap", (s, d) => {
      import graft.expressions.KmvMinima.kmvMinima
      val base = Tables(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), col("text"))
      val a = base.select(col("lang"), lit(true).as("in_a"), col("text"))
      val b = base.select(col("lang"), lit(false).as("in_a"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(KmvSuffix))).as("text"))
      val h = a.unionAll(b).select(col("lang"), col("in_a"),
        conv(substring(md5(concat(lit("q163:"), col("text"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      val sk = h.groupBy(col("lang")).agg(
        kmvMinima(when(col("in_a"), col("h")), KmvK).as("ska"),
        kmvMinima(when(not(col("in_a")), col("h")), KmvK).as("skb"),
        countDistinct(when(col("in_a"), col("h"))).as("exact_a"),
        countDistinct(when(not(col("in_a")), col("h"))).as("exact_b"))
      // (k-1)/θ distinct estimate, floor-quantized — the shared helper
      // the streaming face reads with too; the oracle replays its one
      // exactly-representable product + one IEEE division verbatim
      def est(arr: org.apache.spark.sql.Column) =
        graft.expressions.KmvMinima.kmvEstimate(arr, KmvK)
      sk.withColumn("sku",
          slice(array_sort(array_union(col("ska"), col("skb"))), 1, KmvK))
        .select(col("lang"), col("exact_a"), col("exact_b"),
          est(col("ska")).as("est_a"), est(col("skb")).as("est_b"),
          est(col("sku")).as("est_union"),
          size(array_intersect(array_intersect(col("sku"), col("ska")),
            col("skb"))).cast("long").as("n_common"),
          size(col("sku")).cast("long").as("sz_u"))
        .select(col("lang"), col("exact_a"), col("exact_b"),
          col("est_a"), col("est_b"), col("est_union"), col("n_common"),
          expr("(n_common * est_union) div sz_u").as("est_intersect"),
          expr("(n_common * 1048576) div sz_u").as("jaccard_q20"))
    },
      // full KMV replay: per-side k minima via a hash-ordered window,
      // union sketch = k smallest of the union set, then the identical
      // estimator arithmetic (one double product · one division · floor;
      // integer // for intersection/Jaccard).
      s"""WITH snap AS (
         |  SELECT lang, TRUE AS in_a, text FROM documents
         |    WHERE text IS NOT NULL
         |  UNION ALL
         |  SELECT lang, FALSE,
         |    CASE WHEN doc_id % 2 = 0 THEN text ELSE text || '$KmvSuffix' END
         |  FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT DISTINCT lang, in_a,
         |        CAST(('0x' || substring(md5('q163:' || text), 1, 15)) AS BIGINT) AS h
         |      FROM snap),
         |ka AS (SELECT lang, h FROM (
         |         SELECT lang, h,
         |           row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |         FROM h WHERE in_a) WHERE rn <= $KmvK),
         |kb AS (SELECT lang, h FROM (
         |         SELECT lang, h,
         |           row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |         FROM h WHERE NOT in_a) WHERE rn <= $KmvK),
         |ku AS (SELECT lang, h FROM (
         |         SELECT lang, h,
         |           row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |         FROM (SELECT lang, h FROM ka UNION SELECT lang, h FROM kb))
         |       WHERE rn <= $KmvK),
         |sa AS (SELECT lang, COUNT(*) AS sz, MAX(h) AS theta FROM ka GROUP BY 1),
         |sb AS (SELECT lang, COUNT(*) AS sz, MAX(h) AS theta FROM kb GROUP BY 1),
         |su AS (SELECT lang, COUNT(*) AS sz, MAX(h) AS theta FROM ku GROUP BY 1),
         |cm AS (SELECT ku.lang, CAST(COUNT(*) AS BIGINT) AS n_common
         |       FROM ku JOIN ka ON ku.lang = ka.lang AND ku.h = ka.h
         |               JOIN kb ON ku.lang = kb.lang AND ku.h = kb.h
         |       GROUP BY 1),
         |ex AS (SELECT lang,
         |         CAST(COUNT(DISTINCT CASE WHEN in_a THEN h END) AS BIGINT) AS exact_a,
         |         CAST(COUNT(DISTINCT CASE WHEN NOT in_a THEN h END) AS BIGINT) AS exact_b
         |       FROM h GROUP BY 1),
         |fin AS (SELECT ex.lang, ex.exact_a, ex.exact_b,
         |    CAST(CASE WHEN sa.sz < $KmvK THEN sa.sz
         |         ELSE CAST(FLOOR(${KmvK - 1}.0 * 1152921504606846976.0 /
         |                         CAST(sa.theta AS DOUBLE)) AS BIGINT)
         |         END AS BIGINT) AS est_a,
         |    CAST(CASE WHEN sb.sz < $KmvK THEN sb.sz
         |         ELSE CAST(FLOOR(${KmvK - 1}.0 * 1152921504606846976.0 /
         |                         CAST(sb.theta AS DOUBLE)) AS BIGINT)
         |         END AS BIGINT) AS est_b,
         |    CAST(CASE WHEN su.sz < $KmvK THEN su.sz
         |         ELSE CAST(FLOOR(${KmvK - 1}.0 * 1152921504606846976.0 /
         |                         CAST(su.theta AS DOUBLE)) AS BIGINT)
         |         END AS BIGINT) AS est_union,
         |    CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common,
         |    CAST(su.sz AS BIGINT) AS sz_u
         |  FROM ex JOIN sa USING (lang) JOIN sb USING (lang)
         |          JOIN su USING (lang) LEFT JOIN cm USING (lang))
         |SELECT lang, exact_a, exact_b, est_a, est_b, est_union, n_common,
         |  CAST((n_common * est_union) // sz_u AS BIGINT) AS est_intersect,
         |  CAST((n_common * 1048576) // sz_u AS BIGINT) AS jaccard_q20
         |FROM fin""".stripMargin)
  )

  // KMV overlap parameters (shared by Spark + oracle SQL)
  private val KmvK = 64
  private val KmvSuffix = " v2"

  // cross-doc span parameters (shared by Spark + oracle SQL)
  private val SpanK = 8
  private val SpanFlagE6 = 500000L

  // q172 re-filter plants (shared by Spark + oracle SQL — lowercase
  // [a-z ] only, so they survive word normalization verbatim and need
  // no SQL escaping). Boiler: ~70 stopword-rich non-repetitive words —
  // passes both gates on its own. Healthy: a second such paragraph
  // (plant -1's remainder). Stub: 3 rare non-stopword words — plant
  // -2's remainder, which FAILS the quality gate (score = bias +
  // 3 tokens − word-length drag < 0).
  private val RefilterBoiler =
    "the quarterly report shows that revenue in the northern region " +
      "grew faster than expected and the board is pleased with the " +
      "result it also notes that costs for transport and storage " +
      "remain on budget while demand in the southern market is " +
      "expected to recover early next year for that reason the " +
      "committee recommends that investment in new warehouse capacity " +
      "should continue and that hiring for the logistics team is " +
      "approved"
  private val RefilterHealthy =
    "after the review the team agreed that the new pricing model is " +
      "simpler for customers and that it reduces the number of manual " +
      "corrections in the billing cycle the rollout will start with a " +
      "small group of accounts and expand once the support staff " +
      "confirm that the documentation is clear and the migration " +
      "tools work as intended"
  private val RefilterStub = "zxq vbnw mlkp"

  // decontamination parameters (shared by Spark + oracle SQL)
  private val DecontK = 4
  private val DecontMod = 17

  // containment parameters (shared by Spark + oracle SQL)
  private val ContainMod = 31
  private val ContainWords = 30
  private val ContainMaxDf = 20

  /** q67 noise: a fixed ±ε pattern (ε = 2⁻⁶ — exactly representable in
    * float AND double, so Spark's float add and DuckDB's double-add-
    * then-cast-REAL round identically). Plane id 9999 is outside the
    * 0..127 range the 8 bucketings use. */
  private val NoiseEps = 0.015625 // 2^-6
  private val NoiseTau = 0.99
  private def noisePattern: Seq[Double] =
    Similarity.hyperplane(9999, 64).map(_ * NoiseEps)
  private def noiseLit: org.apache.spark.sql.Column =
    array(noisePattern.map(x => lit(x.toFloat)): _*)

  // ------------------------------------------------------------- oracle SQL

  private val duckTextBatch =
    s"""batch AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $MutOff, text || '$MutSuffix'
       |  FROM documents WHERE doc_id % $MutMod = 0)""".stripMargin

  private def duckShingles(k: Int): String =
    s"CASE WHEN len(ws) >= $k THEN list_distinct(list_transform(range(0, len(ws) - ${k - 1}), " +
      s"i -> array_to_string(list_slice(ws, i + 1, i + $k), ' '))) ELSE CAST([] AS VARCHAR[]) END"

  private val duckJaccard =
    "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)"

  /** The q169/q171 planted batch: corpus ∪ fresh-prefix copies. */
  private val duckExsubBatch =
    s"""batch AS (
       |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id + $MutOff AS doc_id,
       |         'exsub fresh prefix ' || substr(text, 101) AS text
       |  FROM documents
       |  WHERE text IS NOT NULL AND doc_id % $MutMod = 0
       |    AND length(text) >= 300)""".stripMargin

  /** The span-removal replay chain (w → g → dg → st → rm → f → c) over
    * a `batch(doc_id, text)` CTE — shared verbatim by q169 (monolithic,
    * plants), q171 (the monolithic half of the incremental equality
    * pin) and q172 (removal before re-filtering). `c` carries
    * (doc_id, ws, cov): the word list and the per-position coverage
    * verdicts the final selects cut with. */
  private val duckSpanChain =
    s"""w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
       |      FROM batch),
       |g AS (SELECT doc_id, ws,
       |        CASE WHEN len(ws) >= $SpanK
       |          THEN list_transform(range(0, len(ws) - ${SpanK - 1}),
       |            i -> array_to_string(
       |              list_slice(ws, CAST(i AS INT) + 1, CAST(i AS INT) + $SpanK), ' '))
       |          ELSE CAST([] AS VARCHAR[]) END AS gs
       |      FROM w),
       |dg AS (SELECT doc_id, unnest(list_distinct(gs)) AS gr FROM g),
       |st AS (SELECT gr, COUNT(*) AS d, MIN(doc_id) AS keeper
       |       FROM dg GROUP BY 1),
       |rm AS (SELECT dg.doc_id, list(dg.gr) AS rms
       |       FROM dg JOIN st USING (gr)
       |       WHERE st.d >= 2 AND dg.doc_id <> st.keeper
       |       GROUP BY 1),
       |f AS (SELECT g.doc_id, g.ws,
       |        list_transform(g.gs,
       |          x -> coalesce(list_contains(rm.rms, x), false)) AS flags
       |      FROM g LEFT JOIN rm USING (doc_id)),
       |c AS (SELECT doc_id, ws,
       |        list_transform(range(1, len(ws) + 1), j ->
       |          CASE WHEN least(j, CAST(len(flags) AS BIGINT))
       |                 >= greatest(j - ${SpanK - 1}, 1)
       |               THEN len(list_filter(list_slice(flags,
       |                      CAST(greatest(j - ${SpanK - 1}, 1) AS INT),
       |                      CAST(least(j, CAST(len(flags) AS BIGINT)) AS INT)),
       |                    b -> b)) > 0
       |               ELSE false END) AS cov
       |      FROM f)""".stripMargin

  /** q169/q171's shared final projection over `c`. */
  private val duckSpanSelect =
    """SELECT doc_id,
      |  CAST(len(ws) AS BIGINT) AS total_words,
      |  CAST(len(list_filter(cov, b -> b)) AS BIGINT) AS removed_words,
      |  CAST(coalesce(list_sum(list_transform(range(1, len(ws) + 1),
      |    j -> CASE WHEN cov[CAST(j AS INT)]
      |              THEN length(ws[CAST(j AS INT)]) ELSE 0 END)), 0)
      |    AS BIGINT) AS removed_chars,
      |  md5(coalesce(array_to_string(list_filter(list_transform(
      |    range(1, len(ws) + 1),
      |    j -> CASE WHEN cov[CAST(j AS INT)] THEN NULL
      |              ELSE ws[CAST(j AS INT)] END),
      |    x -> x IS NOT NULL), ' '), '')) AS cleaned_md5""".stripMargin

  /** q165 quality-score replay over a `src(doc_id, text, …)` CTE:
    * emits `{p}w → {p}f → {p}sc(doc_id{extra}, score)` — GENERATED
    * from QualityClassifier's frozen constants (the q166 discipline),
    * feature arithmetic identical to the q165 oracle. */
  private def duckQualityCtes(src: String, p: String,
                              extra: String): String = {
    import graft.operators.QualityClassifier._
    val hits = graft.functions.TextFunctions.stopwords.map { case (_, stops) =>
      s"len(list_filter(ws, w -> list_contains(${TextQueries.duckList(stops)}, w)))"
    }.mkString(" + ")
    s"""${p}w AS (SELECT doc_id$extra, text,
       |    regexp_extract_all(lower(text), '[a-z]+') AS ws FROM $src),
       |${p}f AS (SELECT doc_id$extra,
       |    $WTokens * least(${TextQueries.duckWsTokens}, $TokenCap) AS c_tokens,
       |    $WPunct * ((CAST(${TextQueries.duckPunct} AS BIGINT) * 1048576) //
       |      greatest(CAST(length(text) AS BIGINT), 1)) AS c_punct,
       |    $WStop * ((CAST($hits AS BIGINT) * 1048576) //
       |      greatest(CAST(len(ws) AS BIGINT), 1)) AS c_stop,
       |    $WWlen * ((CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
       |      AS BIGINT) * 131072) //
       |      greatest(CAST(len(ws) AS BIGINT), 1)) AS c_wlen
       |  FROM ${p}w),
       |${p}sc AS (SELECT doc_id$extra,
       |    CAST($Bias + c_tokens + c_punct + c_stop + c_wlen AS BIGINT) AS score
       |  FROM ${p}f)""".stripMargin
  }

  /** q168 repetition-verdict replay over a `src(doc_id, text, …)` CTE:
    * emits `{p}gw → {p}gg → {p}gr → {p}rv(doc_id, rep_keep)` —
    * generated from Repetition's frozen q20 thresholds. */
  private def duckRepCtes(src: String, p: String): String = {
    import graft.operators.Repetition._
    def gsl(k: Int) =
      s"CASE WHEN len(ws) >= $k THEN list_transform(range(0, len(ws) - ${k - 1}), " +
        s"i -> array_to_string(list_slice(ws, CAST(i AS INT) + 1, CAST(i AS INT) + $k), ' ')) " +
        "ELSE CAST([] AS VARCHAR[]) END"
    def dup(n: Int) =
      s"CAST(((len(g$n) - len(list_distinct(g$n))) * 1048576) // " +
        s"greatest(len(g$n), 1) AS BIGINT)"
    s"""${p}gw AS (SELECT doc_id,
       |    regexp_extract_all(lower(text), '[a-z]+') AS ws FROM $src),
       |${p}gg AS (SELECT doc_id, ${gsl(2)} AS g2, ${gsl(3)} AS g3,
       |    ${gsl(4)} AS g4 FROM ${p}gw),
       |${p}gr AS (SELECT doc_id, ${dup(2)} AS d2, ${dup(3)} AS d3,
       |    ${dup(4)} AS d4,
       |    CAST((coalesce(list_max(list_filter(list_transform(
       |        list_distinct(g2), g -> len(list_filter(g2, x -> x = g))),
       |        c -> c >= 2)), 0) * 1048576) //
       |      greatest(len(g2), 1) AS BIGINT) AS t2
       |  FROM ${p}gg),
       |${p}rv AS (SELECT doc_id,
       |    (d2 <= $Dup2MaxQ20 AND d3 <= $Dup3MaxQ20 AND
       |     d4 <= $Dup4MaxQ20 AND t2 <= $Top2MaxQ20) AS rep_keep
       |  FROM ${p}gr)""".stripMargin
  }

  private val duckCos =
    """SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
      | (sqrt(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
      |  sqrt(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))))""".stripMargin
}
