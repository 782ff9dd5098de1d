package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words

/** Near-duplicate detection for training-data pipelines: word-shingle
  * MinHash + LSH banding, SimHash, and exact n-gram Jaccard — all as
  * built-in Catalyst expressions (array higher-order functions + md5),
  * no UDFs, so signature computation pipelines inside whole-stage
  * codegen over the scan.
  *
  * Scale shape (100 TB): signatures are per-row (shuffle-free); the only
  * exchange is the band-key self-join, which shuffles just
  * (id, band_key, shingle-set) — the classic LSH bucket join. Candidate
  * pairs are verified with exact Jaccard, so band collisions never
  * produce false positives.
  *
  * Determinism: every hash is md5 over an explicit string; minhash
  * "values" are the md5 hex strings themselves under lexicographic min.
  * No RNG, no seed, no partition-dependence — results are identical
  * across engines and cluster layouts (the DuckDB oracle replays the
  * same algorithm).
  */
object Dedup {

  /** Distinct word k-shingles ("a b c" strings). Empty array when the
    * text has fewer than k words.
    *
    * Built as a zip_with chain over k-1 shifted copies of the word
    * array, NOT as `transform(sequence(...), i => slice(w, i, k))`:
    * higher-order-function lambdas re-evaluate captured outer
    * expressions per element, so the slice form recomputes the word
    * regexp once per shingle (O(words²) per doc — measured 7× slower
    * end-to-end). zip_with's array arguments evaluate exactly once;
    * its lambda touches only bound variables. zip_with pads the
    * shorter (shifted) side with null and concat propagates it, so the
    * k-1 tail entries null out and array_compact drops them.
    */
  def shingles(c: Column, k: Int): Column =
    graft.expressions.TextExpressions.wordShingles(c, k)

  /** Exact Jaccard over two distinct-element arrays (int/int → one IEEE
    * double division: engine-deterministic). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** The full near-dup pipeline: shingle → minhash → band explode →
    * bucket self-join → exact-Jaccard verify. Returns
    * (a_id, b_id, jaccard) with a_id < b_id and jaccard >= threshold.
    *
    * Minhash signatures are PER-ROW (native [[graft.expressions
    * .MinHashSigs]]: one pass over the shingle array, O(numHashes)
    * state) — the signature stage is completely shuffle-free, so the
    * only exchange in the whole pipeline is the band-key bucket join.
    * The equivalent relational formulation (explode shingles → 12
    * min(md5) aggregates) computes identical values but shuffles the
    * exploded shingles; it survives as the DuckDB oracle's replay and
    * in DedupSpec's parity test. Band keys and the bucket join only
    * move (id, band_key); verification joins the candidate set back to
    * the RAW text and shingles only the matched rows — the full corpus
    * is shingled exactly once, for signatures.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, numHashes: Int = 12, bands: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    val raw = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    val sig = raw.select(col("id"), shingles(col("txt"), k).as("sh"))

    // empty shingle arrays have no minhash (the relational form drops
    // them via the inner explode+groupBy)
    val mins = sig.filter(size(col("sh")) > 0).select(col("id"),
      graft.expressions.TextExpressions.minhashSigs(col("sh"), numHashes).as("ms"))

    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|",
        lit(b.toString) +: (b * rows until (b + 1) * rows)
          .map(h => element_at(col("ms"), h + 1)): _*))
    }
    // repartition on bk + shuffle_hash hint so the self-join's two sides
    // are the SAME shuffle exchange, computed ONCE (exchange/stage
    // reuse). Left to itself the planner broadcasts one side — a
    // BroadcastExchange is not reusable against the shuffle, so the full
    // corpus would be shingled+minhashed twice.
    val exploded = mins.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .repartition(col("bk"))

    val candidates = exploded.as("a").hint("shuffle_hash")
      .join(exploded.as("b").hint("shuffle_hash"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .dropDuplicates("a_id", "b_id")

    // No forced broadcast here: candidate volume grows with duplicate
    // density, so AQE picks broadcast from runtime sizes when the set is
    // small and keeps a shuffle join when it isn't — no driver-OOM cliff
    // at high-dup corpora.
    val sa = raw.select(col("id").as("a_id"), col("txt").as("txt_a"))
    val sb = raw.select(col("id").as("b_id"), col("txt").as("txt_b"))
    val withA = sa.join(candidates, "a_id")
    sb.join(withA, "b_id")
      .select(col("a_id"), col("b_id"),
        shingles(col("txt_a"), k).as("sh_a"), shingles(col("txt_b"), k).as("sh_b"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup: the NEW BATCH against the EXISTING corpus —
    * the add-a-day-of-crawl shape. Re-running corpus-wide [[nearDupPairs]]
    * for every arriving batch re-pays the full self-join; here the
    * batch's band keys BROADCAST, so the corpus is never shuffled at
    * all: one streaming pass computes corpus signatures and probes the
    * broadcast map, and the verify pass joins only the (tiny) candidate
    * set back to both texts. Batch-internal duplicates are out of
    * scope by design — run [[nearDupPairs]] on the batch alone for
    * those (it is batch-sized, so that cost is trivial).
    *
    * Same md5 minhash/banding constants as [[nearDupPairs]]: a batch
    * compared incrementally finds exactly the pairs the monolithic
    * self-join would have found between old and new rows.
    *
    * Returns (corpus_id, batch_id, jaccard) with jaccard >= threshold.
    */
  def nearDupPairsAgainst(corpus: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 3, numHashes: Int = 12, bands: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    def bandKeys(df: DataFrame, outId: String): DataFrame = {
      val sig = df.select(col(idCol).as(outId),
        shingles(col(textCol), k).as("sh"))
      val mins = sig.filter(size(col("sh")) > 0).select(col(outId),
        graft.expressions.TextExpressions.minhashSigs(col("sh"), numHashes).as("ms"))
      val bandCols = (0 until bands).map { b =>
        md5(concat_ws("|",
          lit(b.toString) +: (b * rows until (b + 1) * rows)
            .map(h => element_at(col("ms"), h + 1)): _*))
      }
      mins.select(col(outId), explode(array(bandCols: _*)).as("bk"))
    }
    val candidates = bandKeys(corpus, "corpus_id")
      .join(broadcast(bandKeys(batch, "batch_id")), "bk")
      .select(col("corpus_id"), col("batch_id"))
      .dropDuplicates("corpus_id", "batch_id")
    val ca = corpus.select(col(idCol).as("corpus_id"), col(textCol).as("txt_a"))
    val cb = batch.select(col(idCol).as("batch_id"), col(textCol).as("txt_b"))
    // the candidate set is batch-bounded (each pair names a batch row),
    // so it broadcasts EXPLICITLY — at real corpus scale the optimizer's
    // size estimate for a join output is not trusted to pick this
    ca.join(broadcast(candidates), "corpus_id")
      .join(broadcast(cb), "batch_id")
      .select(col("corpus_id"), col("batch_id"),
        jaccard(shingles(col("txt_a"), k), shingles(col("txt_b"), k)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-CONTAINMENT pairs via an inverted shingle index — the dedup
    * signal Jaccard misses: a short document embedded in a longer one
    * has Jaccard ≈ |A|/|B| (tiny when B is long) but containment
    * |A∩B|/min(|A|,|B|) ≈ 1. Quote extraction, boilerplate wrappers,
    * and prefix-truncated crawl records all look like this, and an
    * LLM-corpus dedup pass that stops at Jaccard keeps them.
    *
    * Shape: explode each doc's DISTINCT k-shingles, drop shingles
    * occurring in more than `maxDocFreq` docs (a ubiquitous shingle's
    * bucket is quadratic in the self-join and carries no identity
    * signal — the same reasoning as the LSH hot-bucket sub-split),
    * self-join the index on the shingle moving only (id, shingle),
    * count shared shingles per pair, and score against the per-doc
    * FILTERED shingle counts: containment is defined over the
    * surviving rare shingles on BOTH sides of the ratio — consistent,
    * and exactly replayable in SQL (the q89 oracle).
    *
    * One shingling pass: document frequency is a windowed count over
    * the same shuffle-by-shingle exchange the candidate join consumes
    * (repartition + shuffle_hash → the index join side and the df
    * filter share ONE exchange), not a separate groupBy-and-join-back
    * that would shingle the corpus twice.
    *
    * Candidate generation is PREFIX-FILTERED (the standard exact
    * similarity-join reduction — SSJoin/PPJoin family): under a global
    * shingle order (ascending document frequency, then the shingle —
    * rarest first), a pair with containment ≥ θ must share one of the
    * SMALLER doc's first ⌊(1−θ)·sz⌋+1 shingles, because the smaller
    * side misses at most (1−θ)·sz of its own shingles in the
    * intersection. So only each doc's short rare-shingle prefix probes
    * the full index, instead of every doc joining every doc it shares
    * ANY shingle with. The naive self-join measured ~0.9 aggregation
    * groups per joined row (12.9M→129M candidate rows for 11.5M→115M
    * pair groups across the 10×→100× decade — linear, but almost every
    * candidate shares exactly ONE shingle and dies at the threshold);
    * its corpus-proportional random-access hash state was the whole
    * cost at 100×, and neither more heap (bigger, colder tables) nor
    * spill (sort fallback) makes it cheap. The prefix filter never
    * materializes that population: candidates are verified exactly by
    * intersecting the two docs' df-filtered shingle arrays, so the
    * result is bit-identical to the naive join and the SQL oracle.
    *
    * Returns (a_id, b_id, containment) with a_id < b_id and
    * containment >= threshold.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.9,
                       maxDocFreq: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = df.select(col(idCol).as("id"),
      explode(shingles(col(textCol), k)).as("g"))
    val idx = sh.repartition(col("g"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("__df") <= maxDocFreq)
    // One exchange by id serves the rank window, the per-doc shingle
    // arrays, and both verify joins. The (df, g) sort key is a total
    // order (g is unique within a doc); ties in df break on the
    // shingle itself, so every doc ranks its shingles identically —
    // the prefix guarantee needs exactly that consistency.
    val ranked = idx
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("__df"), col("g"))))
      .withColumn("__sz", count(lit(1)).over(Window.partitionBy(col("id"))))
    // smallest shared count that can qualify when THIS doc is the min
    // side, computed conservatively low (the 1e-9 absorbs double
    // noise like 0.9×30 = 27.000000000000004): a too-low bound only
    // lengthens the prefix — more candidates, never a missed pair
    val minShared = ceil(lit(threshold) * col("__sz") - lit(1e-9))
    val prefix = ranked
      .filter(col("__r") <= col("__sz") - minShared + 1)
      .select(col("id").as("__pa"), col("g"))
    // prefix probe vs full index: ⊇ all qualifying pairs (pigeonhole
    // on the min side), symmetrized via least/greatest + distinct
    val candidates = prefix
      .join(idx.select(col("id").as("__pb"), col("g")).hint("shuffle_hash"), "g")
      .filter(col("__pa") =!= col("__pb"))
      .select(least(col("__pa"), col("__pb")).as("a_id"),
        greatest(col("__pa"), col("__pb")).as("b_id"))
      .distinct()
    // exact verify: intersect the df-filtered shingle arrays — same
    // counts the naive join aggregates, bounded by the candidate set.
    // r19 (guide §4): the per-doc arrays are SORTED once at build
    // (O(s log s), one pass over the docs) so the per-CANDIDATE
    // intersection is the native two-pointer sorted_intersect_count —
    // one codegen'd O(|A|+|B|) merge — instead of
    // size(array_intersect), which hash-builds one side and
    // materializes the intersection array per candidate pair. Shingles
    // are distinct within a doc ([[shingles]]), so the set-intersection
    // count is unchanged; sorting cannot change sizes or membership.
    val sets = ranked.groupBy(col("id"))
      .agg(sort_array(collect_list(col("g"))).as("__gs"))
    candidates
      .join(sets.select(col("id").as("a_id"), col("__gs").as("__ga"))
        .hint("shuffle_hash"), "a_id")
      .join(sets.select(col("id").as("b_id"), col("__gs").as("__gb"))
        .hint("shuffle_hash"), "b_id")
      .select(col("a_id"), col("b_id"),
        (call_function(graft.expressions.SortedIntersectCount.name,
          col("__ga"), col("__gb")).cast("double") /
          least(size(col("__ga")), size(col("__gb"))).cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** EXACT-substring near-dup pairs via winnowing — the dedup signal
    * shingle-Jaccard and containment both miss: two long documents
    * sharing one verbatim passage (a quoted paragraph, a license
    * header, a syndicated article inside different page chrome) have
    * tiny Jaccard AND tiny containment, but the passage itself is
    * byte-identical. ExactSubstr dedup (suffix-array based in the
    * single-node literature) finds it; winnowing gets the same
    * guarantee join-shaped: any shared substring of length >= w + k - 1
    * produces at least one shared fingerprint (see
    * [[graft.expressions.WinnowFingerprints]]), and fingerprints are
    * ~1 per w characters, so the index is a w-th of the corpus.
    *
    * Shape (100 TB): fingerprints are per-row native compute (no
    * shuffle); document frequency is a windowed count over the SAME
    * shuffle-by-fingerprint exchange the self-join consumes (one
    * exchange, three consumers), fingerprints in more than `maxDocFreq`
    * docs are dropped before the join (a ubiquitous span — boilerplate —
    * would make its bucket quadratic and carries no pair identity), and
    * the join moves only (id, 32-byte fingerprint). Same maxDocFreq
    * degradation contract as [[containmentPairs]]: a dropped-hot span
    * costs recall on THAT span only, loudly bounded, never correctness.
    *
    * Returns (a_id, b_id, shared_fps) with a_id < b_id and
    * shared_fps >= minShared — shared_fps is the number of distinct
    * shared window-min fingerprints, a proxy for how much verbatim text
    * the pair shares (callers wanting the exact span re-extract it from
    * the two texts — per-pair work on the candidate set, not the
    * corpus). One fingerprint ≈ one w-char stretch, so minShared > 1
    * separates real passage sharing from a single incidentally-shared
    * k-gram that happened to be a window minimum on both sides.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 16, maxDocFreq: Int = 20,
                  minShared: Int = 1): DataFrame = {
    val fp = df.select(col(idCol).as("id"),
      explode(graft.expressions.TextExpressions
        .winnowFingerprints(col(textCol), k, w)).as("f"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("f"))
    val idx = fp.repartition(col("f"))
      .withColumn("__df", count(lit(1)).over(wg))
      .filter(col("__df") <= maxDocFreq).drop("__df")
    idx.as("a").hint("shuffle_hash")
      .join(idx.as("b").hint("shuffle_hash"),
        col("a.f") === col("b.f") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Connected components over near-dup pairs: each doc gets the
    * minimum doc id reachable through the pair graph (its cluster
    * representative — the canonical-document selection step that
    * follows LSH in a dedup pipeline).
    *
    * Min-label propagation: labels start as the node's own id; each
    * round takes the min of a node's label and its neighbors' labels;
    * fixpoint in O(component diameter) rounds. Each round is one
    * shuffle-bounded join + min-aggregate — the scalable shape (this is
    * how large-graph CC runs at 100 TB). Every round's labels are
    * eagerly localCheckpoint'ed: the round plan references the previous
    * labels twice, so without lineage truncation the logical plan
    * DOUBLES per round (2^rounds nodes — planner OOM on deep chains
    * long before data size matters).
    *
    * localCheckpoint truncates lineage but stores blocks on executors
    * — NON-reliable: lose an executor mid-loop and the labels cannot
    * be recomputed (the lineage is gone), so a deep-graph run on a
    * real cluster dies at the first eviction. `checkpointEvery`
    * hardens that: when the session has a checkpoint directory set
    * (`sc.setCheckpointDir` — HDFS/object store on a cluster), every
    * Nth round writes a RELIABLE checkpoint instead, bounding the
    * work lost to executor failure to N rounds. Rounds in between
    * stay on the cheap local path. With no checkpoint dir configured
    * (local iteration), every round is local — same behavior as
    * before. Disk bound: the reliable checkpoints accumulate at most
    * ceil(maxIter / checkpointEvery) label-table-sized dirs (≤ 5 at
    * the defaults) per invocation, reclaimed with the app's
    * checkpoint dir. A superseded dir COULD be deleted once the next
    * reliable pin materializes (the [[Materialize.Pinned]] argument),
    * but the only deletion API is that handle, whose replace() always
    * re-pins — it cannot express this loop's mixed local/reliable
    * cadence with the fingerprint observation riding the
    * materialization. ≤ 5 small dirs per call does not justify a
    * second deletion surface.
    *
    * Returns (id, rep). Only nodes appearing in at least one pair are
    * labeled (singletons are not clusters).
    *
    * Measured band (q56, sf0.1 isolated min-of-3, round 14 — the
    * BASELINE.md standalone re-measure after the r13 in-sweep drift
    * 2.16→2.76 s with no code change here): 2.04–2.45 s across three
    * standalone sessions, the committed isolated point (2.03 s)
    * sitting at the band's floor — the in-sweep excess does not
    * reproduce isolated, so it is host noise on an iterative
    * multi-job query, not structure. Gate against the band, not a
    * point.
    */
  def dupClusters(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                  maxIter: Int = 50, checkpointEvery: Int = 10): DataFrame = {
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    // Self-loops fold each node's OWN label into the neighbor-min
    // aggregate, so a round is one join + one aggregate — the previous
    // formulation needed a second (left) join per round to re-merge the
    // node's own label. Edges persist pre-partitioned on the join key
    // y; labels come out of each round hash-partitioned on id (the
    // groupBy key, preserved through the checkpoint), so the per-round
    // join is co-partitioned and the ONLY shuffle left in a round is
    // the min-aggregate itself.
    // r19: loop-table partition count sized from the input scan bytes
    // ([[Partitions.forLoopTable]] — capped at shuffle.partitions, so
    // plan-identical at/above cluster scale): the persisted edge
    // partitioning propagates through every round's join, AQE cannot
    // coalesce around a cached side, and at sf0.1 the 32-way slicing
    // of a KB-scale label table × N convergence rounds was pure
    // scheduling overhead (PERF_r18 scaling: q137 0.38, q56 0.91).
    val nLoop = Partitions.forLoopTable(pairs)
    val spLoop = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val sym = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
      .unionAll(pairs.select(col(bCol).as("x"), col(aCol).as("y")))
    val edges = sym
      .unionAll(sym.select(col("x")).distinct()
        .select(col("x"), col("x").as("y")))
      .repartition(nLoop, col("y")).persist()
    // Convergence fingerprint: order-independent XOR of per-row hashes
    // of the labeling, valid for ANY id type (a sum over the rep column
    // would assume numeric ids) and overflow-free under ANSI mode (ids
    // are unique per row, so XOR cancellation can't hide a change).
    // Labels move monotonically toward the fixpoint, so fingerprint
    // equality means no label changed (up to a vanishing 64-bit
    // collision chance). Null on an empty graph.
    //
    // The fingerprint rides the checkpoint materialization as an
    // OBSERVED metric (CollectMetrics accumulator harvested by the
    // localCheckpoint action) — each round is exactly ONE driver
    // action; the previous separate fingerprint job per round was the
    // single largest cost of the loop (round-3 verdict task 2).
    val reliableAvailable = Materialize.reliableAvailable(pairs)
    def materialize(df: DataFrame, reliable: Boolean = false): (DataFrame, Option[Long]) = {
      val obs = org.apache.spark.sql.Observation()
      val observed = df.observe(obs, bit_xor(xxhash64(col("id").cast("string"),
        col("rep").cast("string"))).as("fp"))
      // reliable: survives executor loss (written to the configured
      // checkpoint dir); local: lineage truncation only, blocks freed
      // by the cleaner
      val out =
        if (reliable) observed.checkpoint(eager = true)
        else observed.localCheckpoint(true)
      (out, Option(obs.get("fp")).map(_.asInstanceOf[Long]))
    }
    // keep every round's label table on the loop sizing so the
    // per-round join is co-partitioned at nLoop (no-op when the cap
    // was hit — plan-identical to the unaligned form)
    def align(df: DataFrame): DataFrame =
      if (nLoop < spLoop) df.repartition(nLoop, col("id")) else df
    // initial labels = the self-loop rows (id, rep=id), read from the
    // already-persisted edges
    var (labels, prevSum) = materialize(align(
      edges.filter(col("x") === col("y"))
        .select(col("x").as("id"), col("x").as("rep"))))
    var iter = 0
    var done = prevSum.isEmpty
    try {
      while (!done && iter < maxIter) {
      val (next, s) = materialize(align(
        edges.join(labels, edges("y") === labels("id"))
          .groupBy(col("x")).agg(min(col("rep")).as("rep"))
          .select(col("x").as("id"), col("rep"))),
        reliable = reliableAvailable && (iter + 1) % checkpointEvery == 0)
        labels = next
        done = s == prevSum
        prevSum = s
        iter += 1
      }
      if (!done)
        throw new IllegalStateException(
          s"dupClusters did not converge in $maxIter rounds — a component's " +
            "diameter exceeds maxIter; raise it (wrong, silently split " +
            "clusters would be worse)")
      labels
    } finally edges.unpersist() // also on the non-convergence throw path
  }

  // ------------------------------------------------------------- SimHash

  private val hexTab = "0123456789abcdef"

  private def nibbleVal(ch: Column): Column =
    when(ascii(ch) <= 57, ascii(ch) - 48).otherwise(ascii(ch) - 87)

  /** 64 bits (0/1 ints) of a word's md5 prefix. The hex string is split
    * to a char array FIRST (evaluated once as a zip/transform argument)
    * so the lambda never captures the md5 expression — capture would
    * recompute the digest once per nibble (see [[shingles]]). */
  def wordBits(w: Column): Column =
    flatten(transform(slice(split(md5(w), ""), 1, 16), ch => {
      val d = nibbleVal(ch)
      array(
        when(d.bitwiseAND(lit(8)) > 0, lit(1)).otherwise(lit(0)),
        when(d.bitwiseAND(lit(4)) > 0, lit(1)).otherwise(lit(0)),
        when(d.bitwiseAND(lit(2)) > 0, lit(1)).otherwise(lit(0)),
        when(d.bitwiseAND(lit(1)) > 0, lit(1)).otherwise(lit(0)))
    }))

  /** Per-bit majority vote over all words (repeats counted); ties → 1.
    * Returns array<int> of 64 bits. Native fused loop
    * ([[graft.expressions.SimHashBits]]); the interpreted HOF chain it
    * replaces is kept as `Composed.simhashBits` for parity testing. */
  def simhashBits(c: Column): Column =
    graft.expressions.TextExpressions.simhashBits(c)

  /** Bit array → 16-char lowercase hex. Assembled via one
    * conv(bitstring, 2, 16) — indexing the bit array from a transform
    * lambda would recompute the signature per nibble (capture
    * re-evaluation, see [[shingles]]). */
  def simhashHex(bits: Column): Column =
    lpad(lower(conv(array_join(bits, ""), 2, 16)), 16, "0")

  /** SimHash as a 16-char lowercase hex string. */
  def simhash64(c: Column): Column = simhashHex(simhashBits(c))

  /** Hamming distance between two bit arrays. */
  /** Sorted-neighborhood dedup (Hernández–Stolfo merge/purge): sort
    * records by a discriminating key WITHIN blocks, slide a window of
    * `w` successors over the sorted order, and verify each
    * neighbor pair exactly (Levenshtein ≤ `maxDist`). The classic
    * record-linkage alternative to LSH banding for SHORT strings
    * (names, titles, addresses) where shingle sets are too small for
    * MinHash to discriminate.
    *
    * `df` needs (id, value); `blockOf(value)` is the blocking key —
    * near-dups must agree on it (the usual choice: first character +
    * length bucket), and it bounds both skew and the sort width.
    *
    * Shape at scale: ONE shuffle on the block key; the sort is
    * per-block inside the window operator (no global sort, no
    * single-partition window — blocks partition the corpus). Each row
    * emits ≤ w candidate pairs via `lead`, so candidates are ≤ w·n by
    * construction — never quadratic, even when a block is hot. The
    * exact-verify filter runs pipelined on the window output.
    * Determinism: the sort key is (value, id) — total, engine-exact.
    *
    * Emits (a_id, b_id, dist INT) with a_id/b_id in (value, id) sort
    * order — dups on the same value keep id order.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, valCol: String,
                              blockOf: Column => Column,
                              w: Int, maxDist: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__blk")).orderBy(col("__v"), col("__id"))
    val base = df.select(col(idCol).as("__id"), col(valCol).as("__v"),
      blockOf(col(valCol)).as("__blk"))
    // all w leads in ONE projection over ONE window spec — a per-lead
    // union would replan the window (and its exchange) w times; this
    // shape is one Exchange + one Window + one Generate end to end
    val withNext = base.select(col("__id") +: col("__v") +:
      (1 to w).map(i =>
        lead(struct(col("__id").as("nid"), col("__v").as("nv")), i)
          .over(win).as(s"__n$i")): _*)
    withNext
      .select(col("__id"), col("__v"),
        explode(array((1 to w).map(i => col(s"__n$i")): _*)).as("__nb"))
      .filter(col("__nb").isNotNull)
      .select(col("__id").as("a_id"), col("__nb.nid").as("b_id"),
        levenshtein(col("__v"), col("__nb.nv")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0), (acc, x) => acc + x)

  /** Cross-document duplicated-span statistics — the exact-substring
    * dedup metric (Lee et al. 2022, arXiv:2107.06499: a training
    * corpus's quality is measured by the fraction of each document
    * that is verbatim-repeated ELSEWHERE in the corpus) at word
    * k-gram granularity: a POSITION in a document is duplicated when
    * its k-gram also occurs in at least one other document. Returns
    * one row per document:
    * `(doc_id, total_pos, dup_pos, dup_frac_e6, flagged)` with
    * `dup_frac_e6 = dup_pos * 1e6 div total_pos` (0 for empty docs)
    * and `flagged = frac >= flagAtE6` — all BIGINT/boolean,
    * engine-exact.
    *
    * Distinct from [[nearDupPairs]] (whole-doc similarity via sampled
    * signatures) and the winnowing spans (per-doc sampled
    * fingerprints): this is the EXHAUSTIVE position-level repeat
    * accounting curation pipelines threshold on before training.
    *
    * Shape at scale: positional k-grams come from ONE native per-row
    * pass ([[graft.expressions.TextExpressions.wordShinglesAll]] — no
    * interpreted HOF chain); the only corpus-scale exchange is the
    * map-side-combined (doc, gram) aggregate. Gram sharedness derives
    * from THAT table (one gram-key exchange of (doc, gram, cnt) rows,
    * already collapsed to per-doc multiplicities), the dup-count
    * join-back runs on the same gram key, and the final per-doc sum is
    * one small exchange. Nothing is ever all-pairs; no driver action.
    * The (doc, gram) table is persisted (consumed by both the
    * sharedness aggregate and the join-back) ONLY for the duration of
    * the call: the escaping per-doc dup table is doc-count-sized and
    * eagerly pinned ([[Materialize.pin]]), after which the corpus-scale
    * cache is unpersisted — the [[Baskets.counts]] discipline, so no
    * fact-sized CacheManager entry outlives the call and callers need
    * no clearCache contract.
    */
  def crossDocSpanStats(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, flagAtE6: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(flagAtE6 >= 0, s"flagAtE6 must be >= 0, got $flagAtE6")
    val per = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.expressions.TextExpressions
          .wordShinglesAll(col(textCol), k)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `per` holds one row per (doc, gram), so sharedness = row count
    // per gram >= 2 — no COUNT(DISTINCT) expand needed
    val shared = per.groupBy(col("g")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2).select(col("g"))
    val dup = Materialize.pin(per.join(shared, "g")
      .groupBy(col("doc_id")).agg(sum(col("cnt")).as("dp")))
    per.unpersist(blocking = false)
    docs
      .select(col(idCol).as("doc_id"),
        greatest(size(words(col(textCol))) - (k - 1), lit(0))
          .cast("bigint").as("total_pos"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_pos"),
        coalesce(col("dp"), lit(0L)).cast("bigint").as("dup_pos"))
      .withColumn("dup_frac_e6",
        when(col("total_pos") > 0,
          expr("dup_pos * 1000000L div total_pos")).otherwise(lit(0L)))
      .withColumn("flagged", col("dup_frac_e6") >= flagAtE6 && col("total_pos") > 0)
  }

  /** Duplicated-span REMOVAL — ExactSubstr dedup's second half (Lee et
    * al. 2022, arXiv:2107.06499 §3: delete the repeated substring,
    * KEEP the rest of the document). [[crossDocSpanStats]] (q143) and
    * [[winnowPairs]] (q94) FIND cross-document verbatim spans; this
    * operator cuts them: dropping a whole document over one syndicated
    * boilerplate paragraph wastes the unique remainder, which is why
    * production pipelines run span removal, not doc removal, for the
    * exact-substring class.
    *
    * Word-k-gram granularity (the q143 unit): a word POSITION is cut
    * when it is covered by any k-gram that (a) occurs in at least one
    * OTHER document and (b) whose canonical keeper — the minimum
    * doc_id containing the gram — is not this document. Every
    * occurrence outside the keeper is removed (including repeats
    * within the non-keeper doc); the keeper keeps ALL its occurrences,
    * so exactly one document retains each shared span — Lee et al.'s
    * keep-one contract at gram resolution. The cleaned text is the
    * surviving words joined by single spaces (word-normalized, like
    * every metric in this family — byte-level splice-back would need
    * the original offsets, which the [a-z]+ normalization deliberately
    * discards; callers byte-pin via md5(cleaned)).
    *
    * Shape at scale — REMOVAL is fundamentally cheaper than
    * pair-FINDING: nothing here is pair-shaped, so no maxDocFreq
    * guard is needed. A gram in d documents costs d rows through the
    * gram-key exchange (linear), never d² (the reason winnowPairs
    * must drop ubiquitous grams and this operator must not — a
    * boilerplate span in a million docs is exactly what removal is
    * FOR). Exchanges: (1) the per-doc DISTINCT gram sets (array_distinct
    * before explode — membership and keeper identity need no
    * multiplicities, so the exchange payload collapses repeats
    * map-side) shuffle once on the gram key for the (count ≥ 2,
    * min-doc keeper) aggregate; (2) the removable (doc, gram) rows
    * come off a gram-key join of that same table against the shared
    * grams — candidate-proportional; (3) one doc-key collect_list;
    * (4) one doc-key join back to the corpus. Reassembly is per-row
    * HOF arithmetic over the row's own words. The (doc, gram) table
    * persists only within the call and the escaping per-doc removal
    * table is doc-count-sized and eagerly pinned — the
    * [[crossDocSpanStats]] cache discipline.
    *
    * Returns one row per input document:
    * `(doc_id, total_words, removed_words, removed_chars, cleaned)` —
    * counts BIGINT (removed_chars sums the LETTERS of removed words;
    * separators are not counted — word granularity end to end),
    * `cleaned` the reassembled surviving text.
    */
  def removeSharedSpans(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dg = docGrams(docs, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one row per (doc, gram): docs-per-gram = a plain count; the
    // keeper rides the same aggregate
    val shared = dg.groupBy(col("g"))
      .agg(count(lit(1)).as("__d"), min(col("doc_id")).as("__keeper"))
      .filter(col("__d") >= 2)
      .select(col("g"), col("__keeper"))
    val rm = Materialize.pin(dg.join(shared, "g")
      .filter(col("doc_id") =!= col("__keeper"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("g")).as("__rm")))
    dg.unpersist(blocking = false)
    cutAndReassemble(docs, idCol, textCol, k, rm)
  }

  /** The per-doc DISTINCT (doc_id, gram) rows every face of span
    * removal starts from. Null text reads as the empty document (the
    * [[cutAndReassemble]] contract — words(null) would otherwise
    * poison size() with -1 downstream). */
  private def docGrams(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    import graft.expressions.TextExpressions.wordShingles
    // round-18: the 2-arg word_shingles form IS the distinct set
    // (LinkedHashSet, first-occurrence order — exactly what
    // array_distinct(positional) produced); the positional array and
    // the interpreted array_distinct pass are dead weight before an
    // explode that only needs the set
    docs.select(col(idCol).as("doc_id"),
      explode(wordShingles(coalesce(col(textCol), lit("")), k)).as("g"))
  }

  /** The shared reassembly tail: given the pinned per-doc removable
    * gram table `rm` (`doc_id`, `__rm` array), cut every covered word
    * position and rebuild the survivors — identical arithmetic for the
    * monolithic and incremental faces, so their equality pin is a
    * statement about the AGGREGATION half only. */
  private[graft] def cutAndReassemble(docs: DataFrame, idCol: String,
                               textCol: String, k: Int,
                               rm: DataFrame): DataFrame =
    // round-18 optimization (guide §1.2 step 2): the per-row membership
    // probe + coverage window + reassembly ride ONE fused native pass
    // ([[graft.expressions.SpanCut]] — hash-set membership and a
    // run-length coverage sweep) instead of the composed
    // O(|grams|·|rm|) interpreted array_contains + per-word
    // slice/exists chain (the round-17 verdict's noted quadratic
    // row-local probe, observation 2). `Composed.cutAndReassemble`
    // keeps the original as the DedupSpec parity reference; the
    // q169/q171/q172 oracles replay the composed SQL unchanged.
    docs
      .select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("__text"))
      .join(rm, Seq("doc_id"), "left")
      .withColumn("__sc",
        graft.expressions.ScrubExpressions.spanCut(col("__text"),
          col("__rm"), k))
      .select(col("doc_id"),
        col("__sc.total_words").as("total_words"),
        col("__sc.removed_words").as("removed_words"),
        col("__sc.removed_chars").as("removed_chars"),
        col("__sc.cleaned").as("cleaned"))

  /** Corpus word-k-gram table — the MAINTAINED state for incremental
    * span removal (`(g, n_docs, keeper)`: distinct-document count and
    * min-doc-id keeper per gram). Built once from the corpus, then
    * kept current with [[foldGramTable]]; [[removeSharedSpansAgainst]]
    * probes it so an arriving batch never re-pays the corpus-wide
    * gram aggregate (the q97 batch-vs-corpus discipline applied to
    * q169). ALL grams are kept, count-1 included — a count-1 gram is
    * exactly the one a future batch promotes to shared. */
  def gramTable(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docGrams(docs, idCol, textCol, k)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
  }

  /** Fold an arriving batch into a maintained gram table: counts add,
    * keepers take the min — `foldGramTable(gramTable(old), new) ==
    * gramTable(old ∪ new)` exactly (DedupSpec pins it). The refresh is
    * gram-TABLE-sized (one unionByName + one gram-key aggregate over
    * table rows, the [[graft.ledger.Catalog]] maintained-rollup cost
    * model); the corpus TEXT is never rescanned — that is the point. */
  def foldGramTable(table: DataFrame, batch: DataFrame, idCol: String,
                    textCol: String, k: Int): DataFrame =
    table.unionByName(gramTable(batch, idCol, textCol, k))
      .groupBy(col("g"))
      .agg(sum(col("n_docs")).as("n_docs"), min(col("keeper")).as("keeper"))

  /** Incremental duplicated-span removal: scrub the ARRIVING BATCH
    * against a [[gramTable]]-maintained corpus state — the
    * add-a-day-of-crawl face of [[removeSharedSpans]]. The monolithic
    * operator re-pays the full corpus gram aggregate for every
    * arrival; here the batch's own distinct grams aggregate
    * batch-side, the corpus table is probed ONCE by a broadcast
    * semi-join on those grams (streamed, never shuffled — the
    * [[nearDupPairsAgainst]] batch-broadcast discipline), and the
    * combined (corpus + batch) count/keeper decide removability under
    * exactly the monolithic keeper rule. Batch-internal duplicates
    * are IN scope (unlike [[nearDupPairsAgainst]]): two batch docs
    * sharing a fresh gram count 2 combined, so the equality
    * `removeSharedSpansAgainst(batch, gramTable(corpus)) ==
    * removeSharedSpans(corpus ∪ batch) restricted to batch docs`
    * holds unconditionally (DedupSpec pins it; the q171 oracle IS the
    * monolithic replay filtered to batch ids, so the driver's hash
    * gate re-proves it at every SF).
    *
    * Per-arrival cost: batch gram aggregate + one corpus-table probe
    * (batch-gram-bounded output) + the batch-sized reassembly tail —
    * nothing corpus-text-proportional. Corpus docs already holding a
    * now-shared span are NOT rewritten retroactively; the keep-one
    * contract is preserved because the corpus keeper keeps and the
    * batch copies are cut (fold the batch in with [[foldGramTable]]
    * afterwards so the NEXT arrival sees it). */
  def removeSharedSpansAgainst(batch: DataFrame, corpusGrams: DataFrame,
                               idCol: String, textCol: String,
                               k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val bg = docGrams(batch, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bstat = bg.groupBy(col("g"))
      .agg(count(lit(1)).as("__bn"), min(col("doc_id")).as("__bkeeper"))
    // corpus-table rows for grams the batch mentions: the big table
    // streams against a broadcast hash set of batch grams — no corpus
    // shuffle, batch-gram-bounded output
    val probe = corpusGrams
      .select(col("g"), col("n_docs").as("__cn"), col("keeper").as("__ck"))
      .join(broadcast(bstat.select(col("g"))), Seq("g"), "left_semi")
    // combined stats under the monolithic rule: counts add, keeper =
    // min over both sides (least() skips the null of a corpus-absent
    // gram); both join inputs are batch-gram-bounded by now
    val shared = bstat.join(broadcast(probe), Seq("g"), "left")
      .select(col("g"),
        (coalesce(col("__cn"), lit(0L)) + col("__bn")).as("__d"),
        least(col("__ck"), col("__bkeeper")).as("__keeper"))
      .filter(col("__d") >= 2)
      .select(col("g"), col("__keeper"))
    val rm = Materialize.pin(bg.join(shared, "g")
      .filter(col("doc_id") =!= col("__keeper"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("g")).as("__rm")))
    bg.unpersist(blocking = false)
    cutAndReassemble(batch, idCol, textCol, k, rm)
  }
}
