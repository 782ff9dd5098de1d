package graft

/** Frozen plan-quality audit (VERDICT round-2 follow-up): the round-2
  * review verified these plans by hand; this spec fails the build if a
  * future change silently de-optimizes one — a broadcast that degrades
  * to shuffle, a lost exchange reuse, or an accidental cartesian
  * product would all pass correctness tests while being scale-killers
  * at 100 TB.
  *
  * Queries run at sf0.001 (plan shape is SF-independent; AQE finalizes
  * the plan only after execution, so each query is collected once).
  */
class PlanSpec extends SparkSpec {

  /** Execute at sf0.001 and return the FINAL adaptive physical plan
    * only (toString prints "== Final Plan ==" followed by
    * "== Initial Plan ==" — counting both would double every node). */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect() // AdaptiveSparkPlanExec finalizes in place
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def count(plan: String, token: String): Int =
    token.r.findAllMatchIn(plan).size

  /** SHUFFLE exchanges only — a plain "Exchange" count would also match
    * BroadcastExchange/ReusedExchange, so a harmless broadcast addition
    * would trip the gate while a broadcast→shuffle regression slipped. */
  private def shuffles(plan: String): Int =
    count(plan, "Exchange (hash|range)partitioning|Exchange SinglePartition")

  test("no query plan contains a cartesian or nested-loop join (audited set)") {
    for (q <- Seq("q1_pricing_summary", "q2_star_revenue", "q20_minhash_lsh",
      "q32_salted_join", "q35_asof_join", "q56_dup_clusters")) {
      val p = finalPlan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q grew a nested-loop join")
    }
  }

  test("q1: scan feeds one partial/final aggregate pair over a single exchange") {
    val p = finalPlan("q1_pricing_summary")
    assert(shuffles(p) <= 1, s"q1 should shuffle exactly once (the agg):\n$p")
    assert(p.contains("HashAggregate"), s"q1 lost hash aggregation:\n$p")
  }

  test("q2: dims broadcast, fact is never shuffled by a broadcast side") {
    val p = finalPlan("q2_star_revenue")
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"q2 nation/region must broadcast-join:\n$p")
    assert(!p.contains("SortMergeJoin") || count(p, "SortMergeJoin") <= 2,
      s"q2 grew extra sort-merge joins:\n$p")
  }

  test("q20: the LSH self-join's two sides reuse ONE shuffle exchange") {
    val p = finalPlan("q20_minhash_lsh")
    assert(p.contains("ReusedExchange") || p.contains("reuses operator id"),
      s"q20 lost its exchange reuse (corpus now shingled twice):\n$p")
  }

  test("q32: the salted join hash-joins without sorting either side") {
    val p = finalPlan("q32_salted_join")
    assert(p.contains("ShuffledHashJoin"),
      s"q32 must use shuffle-hash (sort would dominate):\n$p")
    assert(!p.contains("SortMergeJoin"), s"q32 degraded to sort-merge:\n$p")
  }

  test("q35: the as-of union+window formulation keeps a bounded shuffle count") {
    val p = finalPlan("q35_asof_join")
    assert(shuffles(p) <= 4, s"q35 grew extra shuffles:\n$p")
  }

  test("q72: the bloom probe filters the probe side BEFORE its shuffle") {
    val p = finalPlan("q72_bloom_join")
    assert(p.contains("bloom_might_contain"),
      s"q72 lost its bloom probe (pruning now happens only at the join):\n$p")
    // the probe must sit under the scan/filter side of the plan, not
    // after the join: the Filter node carrying it appears below the
    // first join in the tree (string order = top-down tree order)
    val probeIdx = p.indexOf("bloom_might_contain")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"q72 plan shape unexpected (probe above the join subtree):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q72 degraded to sort-merge (shuffle_hash hint lost):\n$p")
  }

  test("q79: the fuzzy join hash-joins variants and never goes all-pairs") {
    val p = finalPlan("q79_fuzzy_join")
    assert(!p.contains("CartesianProduct"), s"q79 grew a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"q79 grew a nested loop:\n$p")
    assert(p.contains("lev1_dist"), s"q79 lost its exact verify:\n$p")
  }

  test("q85: the vocabulary top-k is a distributed TakeOrdered, not a global window") {
    val p = finalPlan("q85_array_ops")
    assert(p.contains("TakeOrderedAndProject"),
      s"q85 top-10 must be TakeOrderedAndProject (a single-partition " +
        s"window would funnel the vocabulary through one task):\n$p")
    assert(!p.contains("Window"), s"q85 regrew a window:\n$p")
  }

  test("fact-merge existing side: month restriction becomes PartitionFilters on (ano, mes)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_factmerge").toString
    val cat = new graft.ledger.Catalog(spark, s"$dir/wh")
    // three months of fact data, partitioned by (ano, mes)
    val rows = for { mes <- 1 to 3; i <- 1 to 4 } yield
      ((mes * 10 + i).toLong, 1, 1, 1, 1, 1, s"d$mes-$i",
        new java.math.BigDecimal(s"$i.00"), s"h$mes-$i", 2024, mes)
    val df = rows.toDF(graft.ledger.Schemas.fatoLancamento.fieldNames: _*)
      .withColumn("valor", org.apache.spark.sql.functions.col("valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
    cat.appendDelta("fato_lancamento", df, partitionBy = Seq("ano", "mes"))
    // a one-month batch's anti-join side must be a STATICALLY
    // partition-pruned scan: the month predicate lands in the scan's
    // PartitionFilters (directory pruning — a month re-upload reads one
    // month of hashes, not the whole fact), not a post-scan Filter
    val scan = new graft.ledger.Warehouse(cat)
      .existingFactForMerge(Seq((2024, 2)))
    val formatted = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(formatted).toSeq
    assert(pf.nonEmpty, s"no PartitionFilters in the fact scan:\n$formatted")
    assert(pf.forall(f => f.contains("ano") && f.contains("mes")),
      s"month restriction did not reach PartitionFilters:\n$formatted")
    assert(scan.count() === 4, "pruned scan must read exactly one month")
  }

  test("fact-merge existing side over 3 commits: only the batch month's files are read") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("plan_factmerge3").toString
    val cat = new graft.ledger.Catalog(spark, s"$dir/wh")
    // one commit per month, as three monthly uploads leave the fact
    for (mes <- 1 to 3) {
      val rows = (1 to 4).map(i => ((mes * 10 + i).toLong, 1, 1, 1, 1, 1, s"d$mes-$i",
        new java.math.BigDecimal(s"$i.00"), s"h$mes-$i", 2024, mes))
      cat.appendDelta("fato_lancamento",
        rows.toDF(graft.ledger.Schemas.fatoLancamento.fieldNames: _*)
          .withColumn("valor", org.apache.spark.sql.functions.col("valor")
            .cast(org.apache.spark.sql.types.DecimalType(15, 2))),
        partitionBy = Seq("ano", "mes"))
    }
    val monthFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/wh/fato_lancamento"))
      .filter(p => p.toString.contains("/mes=2/") && p.toString.endsWith(".parquet")).count()
    assert(monthFiles > 0)
    val scan = new graft.ledger.Warehouse(cat).existingFactForMerge(Seq((2024, 2)))
    assert(scan.collect().length === 4)
    object plans extends AdaptiveSparkPlanHelper
    val scans = plans.collect(scan.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size === 1, scan.queryExecution.executedPlan.toString)
    assert(scans.head.metrics("numPartitions").value === 1L)
    assert(scans.head.metrics("numFiles").value === monthFiles)
  }

  test("small-batch fact write: no shuffle from the staging scan to the writer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_factwrite").toString
    val cat = new graft.ledger.Catalog(spark, s"$dir/wh")
    val wh = new graft.ledger.Warehouse(cat)
    def batch(months: Seq[Int], tag: String) = (for (m <- months; i <- 1 to 4) yield
      (s"$tag $m-$i", "Despesa", "Moradia", "Aluguel", "Essencial", f"$m%02d/2024", s"$i,00"))
      .toDF(graft.ledger.Schemas.requiredColumns: _*)
    graft.ledger.Ingest.stage(cat, batch(1 to 3, "a"), strict = true)
    wh.run()
    // the second batch overlaps two months, so the anti-join has an
    // existing side
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString.split("== Initial Plan ==")(0))
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val write = try {
      graft.ledger.Ingest.stage(cat, batch(2 to 4, "b"), strict = true)
      assert(batch(2 to 4, "b").count() <= graft.ledger.Warehouse.singleTaskWriteRows)
      assert(wh.run()("fato_lancamento") === 12)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def find = { import scala.jdk.CollectionConverters._
        plans.asScala.find(p => p.contains("fato_lancamento") && p.contains("Window")) }
      while (find.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      find.getOrElse(fail("no fato_lancamento write plan was observed"))
    } finally spark.listenerManager.unregister(listener)
    // assignBounded's window funnels the delta into one partition; with
    // no shuffle anywhere in the write plan, the partition-local sort
    // appendDelta adds is a total sort and the single write task holds
    // contiguous (ano, mes) spans
    assert(shuffles(write) === 0, s"the small-batch fact write shuffles:\n$write")
    assert(!write.contains("SortMergeJoin") && !write.contains("ShuffledHashJoin"),
      s"the existing side stopped broadcasting:\n$write")
    // the id lookups are map literals: the month-pruned existing fact is
    // the one broadcast, and no driver-built relation is scanned
    assert("BroadcastExchange".r.findAllMatchIn(write).size === 1,
      s"the fact write broadcasts other than the existing fact:\n$write")
    assert(!write.contains("LocalTableScan"), s"the fact write scans a local relation:\n$write")
  }

  test("q87: the sketch is partial-aggregated; only k-sized buffers reach the merge") {
    val p = finalPlan("q87_heavy_hitters")
    assert(p.contains("partial_misra_gries"),
      s"q87 lost map-side sketch partials (full rows now shuffle to one task):\n$p")
    // the verify pass must drop non-candidates at the 1-row broadcast
    // (array_contains as join condition), never sort-merge anything
    assert(!p.contains("SortMergeJoin"), s"q87 grew a sort-merge join:\n$p")
    assert(p.contains("array_contains"),
      s"q87's candidate filter left the join (full table now aggregates):\n$p")
  }

  test("q163: KMV sketches partial-aggregate map-side; scans prune to (lang, text[, doc_id])") {
    val p = finalPlan("q163_kmv_overlap")
    // the SURVEY §8 claim: at most 2k longs per (lang, map task) cross
    // the wire — losing the partial pass would shuffle every hashed row
    // to the lang's reducer instead
    assert(p.contains("partial_kmv_minima"),
      s"q163 lost map-side sketch partials (full rows now shuffle per lang):\n$p")
    // everything after the grouped agg is per-row array algebra — no
    // join between the snapshots may ever appear
    assert(!p.contains("Join"), s"q163 grew a snapshot join:\n$p")
  }

  test("q165: the learned quality score is a pure scan-side map — zero " +
      "exchanges, zero joins") {
    val p = finalPlan("q165_learned_quality")
    // a quality classifier that shuffles would be wrong by construction:
    // every feature and the dot product are per-row
    assert(shuffles(p) === 0, s"q165 grew a shuffle:\n$p")
    assert(!p.contains("Join"), s"q165 grew a join:\n$p")
  }

  test("q167: the composed web scrub is ONE scan-side map — the only " +
      "exchange is the final single-row aggregate, zero joins") {
    val p = finalPlan("q167_web_scrub")
    // Markup -> QualityClassifier -> Pii with no inter-stage filter:
    // anything beyond the one-row global-agg exchange means a stage
    // broke out of the scan's codegen span
    assert(shuffles(p) <= 1, s"q167 grew a scrub-chain shuffle:\n$p")
    assert(!p.contains("Join"), s"q167 grew a join:\n$p")
  }

  test("q168: the repetition filter is a pure scan-side map — zero " +
      "exchanges, zero joins") {
    val p = finalPlan("q168_repetition_filter")
    // all four signals are array arithmetic over a row's OWN grams;
    // a shuffle would mean corpus state leaked into a per-doc filter
    assert(shuffles(p) === 0, s"q168 grew a shuffle:\n$p")
    assert(!p.contains("Join"), s"q168 grew a join:\n$p")
  }

  test("q88: batch survivor selection is a pre-shuffle WindowGroupLimit, no sort-merge join") {
    val p = finalPlan("q88_merge_upsert")
    // Spark's rank-filter rewrite must kick in: each map task keeps only
    // its per-key top-1 BEFORE the window shuffle — at fact scale the
    // exchange then moves O(|keys|) rows, not the whole batch
    assert(p.contains("WindowGroupLimit"),
      s"q88 lost the WindowGroupLimit pushdown (whole batch now shuffles):\n$p")
    assert(!p.contains("SortMergeJoin"), s"q88's anti-join degraded to sort-merge:\n$p")
    assert(p.contains("LeftAnti"), s"q88 lost its anti-join:\n$p")
  }

  test("q89: the containment self-join is a hash join on the shingle, never all-pairs") {
    val p = finalPlan("q89_containment")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"q89's inverted-index join must hash-join on the shingle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q89 went all-pairs:\n$p")
  }

  test("q94: the winnow self-join hash-joins on the fingerprint over one reused exchange") {
    val p = finalPlan("q94_winnow_spans")
    assert(p.contains("ShuffledHashJoin"),
      s"q94's inverted-index join must hash-join on the fingerprint:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q94 went all-pairs:\n$p")
    // the doc-freq window and both join sides must consume the SAME
    // shuffle-by-fingerprint exchange — a second exchange would mean
    // the corpus is fingerprinted twice
    assert(p.contains("ReusedExchange"),
      s"q94's join sides should reuse one exchange:\n$p")
  }

  test("q169: span removal is gram-key exchanges + a doc-key join-back — " +
      "never pair-shaped, never cartesian") {
    val p = finalPlan("q169_exactsubstr_scrub")
    // removal is LINEAR in gram occurrences: the plan may exchange on
    // the gram key (stats + removable membership) and the doc key
    // (collect + join-back), but a self-join of the corpus against
    // itself (the pair shape q94 needs) or any nested-loop means the
    // operator regressed to pair-finding
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q169 went all-pairs:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q169's joins should stay hash-shaped at this scale:\n$p")
  }

  test("q171: incremental span removal probes the corpus gram table by " +
      "BROADCAST of the batch grams — bounded joins only, never " +
      "pair-shaped") {
    val p = finalPlan("q171_exsub_incremental")
    // the maintained gram table must stream against a broadcast hash
    // set of the batch's grams (and the combined-stats join is
    // batch-gram-bounded on both sides) — a corpus-side shuffle here
    // means the arrival re-paid the corpus, which is exactly what the
    // incremental face exists to avoid
    assert(p.contains("BroadcastHashJoin"),
      s"q171's corpus probe must broadcast the batch grams:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q171 went all-pairs:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q171's joins should stay hash-shaped at this scale:\n$p")
  }

  test("q170: the 4-stage scrub chain is ONE scan-side map — the only " +
      "exchange is the final single-row aggregate, zero joins") {
    val p = finalPlan("q170_web_scrub_full")
    // Markup -> QualityClassifier -> Repetition -> Pii with no
    // inter-stage filter: the q167 contract extended by one stage
    assert(shuffles(p) <= 1, s"q170 grew a scrub-chain shuffle:\n$p")
    assert(!p.contains("Join"), s"q170 grew a join:\n$p")
  }

  test("q92: HLL sketches partial-aggregate map-side; the merge sees buffers, not rows") {
    val p = finalPlan("q92_hll_rollup")
    // hll_sketch_agg is object-hash-aggregated with a partial pass, so
    // the per-group exchange moves fixed-size sketch buffers — the
    // whole point of the mergeable-rollup capability
    assert(p.contains("partial_hll_sketch_agg"),
      s"q92 lost map-side sketch partials:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q92 grew a heavyweight join:\n$p")
  }

  test("q93: the semantic-prune self-join hash-joins on the cluster key over one exchange") {
    val p = finalPlan("q93_semantic_prune")
    assert(p.contains("ShuffledHashJoin"),
      s"q93's per-cluster join must hash-join on the cluster key:\n$p")
    assert(p.contains("ReusedExchange"),
      s"q93's join sides should reuse one shuffle (corpus normed once):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q93 went all-pairs:\n$p")
  }

  test("q95: both batch partials aggregate map-side before the merge grid") {
    val p = finalPlan("q95_incremental_agg")
    // each partial() is a hash aggregate with a map-side partial pass;
    // the merge then re-aggregates the tiny grid — no join anywhere
    assert(p.contains("HashAggregate"), s"q95 lost hash aggregation:\n$p")
    assert(!p.contains("Join"), s"q95 should be join-free:\n$p")
  }

  test("q98: grouped top-k is one object-hash aggregate — no window, no sort") {
    val p = finalPlan("q98_group_topk")
    // the whole point of the mergeable k-heap: map-side partials prune
    // to k pairs per group, so no row-level sort-exchange ever happens
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topk_str"),
      s"q98 lost the map-side k-heap partial:\n$p")
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"q98 regressed to a window/sort plan:\n$p")
  }

  test("q101: LM gate counts and flags share one gram exchange; bounded shuffles") {
    val p = finalPlan("q101_lm_gate")
    // corpus count is a window OVER the gram repartition, not a separate
    // count-table aggregate joined back — so the occurrence stream moves
    // once: gram exchange + per-doc agg + the docs join side
    assert(shuffles(p) <= 4, s"q101 grew extra shuffles:\n$p")
    assert(p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"q101's doc join must stay shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct"), s"q101 grew a cartesian:\n$p")
  }

  test("q102: tf-idf reduces the token stream map-side and top-ks without a sort") {
    val p = finalPlan("q102_tfidf_terms")
    // token stream collapses to (doc, term, tf) via a partial/final pair
    // BEFORE the term exchange; df is a window over that exchange; the
    // per-doc top-k is the mergeable O(k) heap, never a ranking sort
    assert(shuffles(p) <= 4, s"q102 grew extra shuffles:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topk_str"),
      s"q102 lost the map-side k-heap partial:\n$p")
    assert(count(p, "Window") == 1,
      s"q102 must have exactly the df window, no ranking window:\n$p")
    assert(p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"q102's doc join must stay shuffle-hash:\n$p")
  }

  test("q103: BM25 ranks via a distributed TakeOrdered, never a global sort") {
    val p = finalPlan("q103_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"q103 lost the distributed top-k (global sort would ship every doc):\n$p")
    assert(shuffles(p) <= 4, s"q103 grew extra shuffles:\n$p")
    assert(p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"q103's length join must stay shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct"), s"q103 grew a cartesian:\n$p")
  }

  test("q104: stratified sample is one k-heap aggregate — no per-stratum sort") {
    val p = finalPlan("q104_stratified_sample")
    // the exchange carries |strata|*k candidates (heap partials), never
    // the corpus; a Window/row_number formulation would sort every
    // stratum in full
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topk_str"),
      s"q104 lost the map-side k-heap partial:\n$p")
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"q104 regressed to a window/sort plan:\n$p")
    assert(shuffles(p) <= 1, s"q104 should shuffle once (the stratum agg):\n$p")
  }

  test("q105/q60: conversion latency reuses the one-shuffle funnel fold") {
    for (q <- Seq("q60_funnel", "q105_conversion_latency")) {
      val p = finalPlan(q)
      assert(!p.contains("Join"), s"$q regressed to a join-per-stage funnel:\n$p")
      assert(shuffles(p) <= 2,
        s"$q should shuffle the events once (plus the tiny stage agg):\n$p")
    }
  }

  test("q108: burstiness collapses tokens map-side before the vocab exchange") {
    val p = finalPlan("q108_term_burstiness")
    assert(p.contains("HashAggregate"), s"q108 lost hash aggregation:\n$p")
    assert(shuffles(p) <= 2,
      s"q108 should shuffle (w,doc) partials then the vocab frame only:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"q108 grew a window or cartesian:\n$p")
  }

  test("q109: CMS builds map-side grid partials; probes join the broadcast sketch") {
    val p = finalPlan("q109_cms_freq")
    // the token stream collapses into O(d*w) grid partials before any
    // exchange — the sketch side never shuffles token rows
    assert(p.contains("partial_cms_sketch"),
      s"q109 lost the map-side CMS partial:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"q109's single-row sketch must broadcast to the probes:\n$p")
  }

  test("q113: session paths end in a distributed TakeOrdered, never a global sort") {
    val p = finalPlan("q113_session_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"q113 lost the distributed top-k (a global sort ships every path):\n$p")
    assert(!p.contains("CartesianProduct"), s"q113 grew a cartesian:\n$p")
  }

  test("q111: the triangle intersection joins the exploded adjacency hash-wise") {
    val p = finalPlan("q111_triangles")
    // exactly one array-carrying join remains (the dst-side lookup on
    // the exploded adjacency), and it must never be sort-merge — SMJ
    // would sort rows carrying the O(√m) neighbor arrays
    assert(p.contains("Generate explode"),
      s"q111 lost the explode-derived oriented edges:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"q111's adjacency lookup must be a hash join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q111 regressed to sorting array-payload rows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q111 grew a cartesian:\n$p")
  }

  test("q124: PageRank iterates joins — no cartesian, no global sort") {
    val p = finalPlan("q124_pagerank")
    assert(!p.contains("CartesianProduct"), s"q124 grew a cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q124 lost the distributed top-k:\n$p")
    // the round-9 OOM fix, pinned: edge list + degree table are COLUMNAR
    // persists (localCheckpoint blocks store deserialized rows — GB-scale
    // for a decade edge list), and the per-iteration contrib join must
    // never sort the edge side
    assert(p.contains("InMemoryTableScan"),
      s"q124's edge/degree tables must be persisted (columnar), not recomputed:\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"q124 regressed to localCheckpoint (deserialized row blocks):\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"q124's contrib joins must stay hash (AQE may broadcast tiny sides):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q124 regressed to sorting the edge side per iteration:\n$p")
  }

  test("q133: BFS hops consume persisted edge/dist tables via hash joins") {
    // same discipline as q124 (the round-9 OOM fix, README-documented):
    // the directed edge list and each hop's dist table are columnar
    // persists consumed from two branches, the frontier join is
    // shuffle_hash (the edge side must never sort), and no hop may
    // recompute its prefix. The hop joins live inside NESTED
    // InMemoryRelation sub-plans (each hop's persisted dist table), so
    // the outer-final-plan slice never shows them — assert over the
    // FULL executed-plan string instead; that includes nested initial
    // plans, which is safe here because the shuffle_hash hints make
    // even the pre-AQE plans hash joins.
    val df = SparkEntry.queries("q133_bfs_hops")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"q133's edge/dist tables must be persisted (columnar), not recomputed:\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"q133 regressed to localCheckpoint (deserialized row blocks):\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"q133's frontier joins must stay hash (AQE may broadcast tiny sides):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q133 regressed to sorting the edge side per hop:\n$p")
    assert(!p.contains("CartesianProduct"), s"q133 grew a cartesian:\n$p")
  }

  test("q146: the bucketed join exchanges NOTHING but the final aggregate") {
    // broadcast disabled for the pin: at spec scale AQE would broadcast
    // the orders side and the co-location claim would pass vacuously —
    // the production claim is exchange-free SMJ/SHJ between two
    // bucketed tables, which only shows when neither side broadcasts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = finalPlan("q146_bucketed_join")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"q146 must join the bucketed tables (no broadcast at -1 threshold):\n$p")
      assert(shuffles(p) <= 1,
        s"q146's bucketed join must not exchange either side " +
          s"(only the post-join priority agg may shuffle):\n$p")
      assert(!p.contains("CartesianProduct"), s"q146 grew a cartesian:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q148: the dim filter prunes fact partitions at runtime (DPP)") {
    val df = SparkEntry.queries("q148_dpp_prune")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"q148's fact scan lost its runtime partition filter — " +
        s"the full fact would be read at every year:\n$p")
    assert(!p.contains("CartesianProduct"), s"q148 grew a cartesian:\n$p")
  }

  test("q147: weighted-path rounds consume persisted tables via hash joins") {
    // the q133 discipline, tropical-semiring variant: hop joins live in
    // nested InMemoryRelation sub-plans, so assert the FULL plan string
    val df = SparkEntry.queries("q147_weighted_path")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"q147's edge/dist tables must be persisted (columnar):\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"q147 regressed to localCheckpoint (deserialized row blocks):\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"q147's relaxation joins must stay hash:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q147 regressed to sorting the edge side per round:\n$p")
    assert(!p.contains("CartesianProduct"), s"q147 grew a cartesian:\n$p")
  }

  test("q126: grid join buckets by cell — bounded generate, no cartesian") {
    val p = finalPlan("q126_grid_neighbors")
    // the probe side expands x9 through a Generate; candidates come
    // only from the cell-key join — an all-pairs plan would show a
    // cartesian or nested-loop join
    assert(p.contains("Generate explode"),
      s"q126 lost the 3x3 cell expansion:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q126 regressed to all-pairs:\n$p")
  }

  test("q128: both RRF pools are distributed TakeOrdereds, fusion joins k rows") {
    val p = finalPlan("q128_rrf_fusion")
    assert(count(p, "TakeOrderedAndProject") >= 2,
      s"q128's pools must be distributed top-ks, not global sorts:\n$p")
    assert(!p.contains("CartesianProduct"), s"q128 grew a cartesian:\n$p")
  }

  test("q129: one block exchange, ONE window, one generate — never per-lead replans") {
    val p = finalPlan("q129_sorted_neighborhood")
    assert(shuffles(p) == 1,
      s"q129 must shuffle once on the block key (a per-lead union replans the window w times):\n$p")
    assert(count(p, "\\bWindow\\b") == 1, s"q129 must compute ONE window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"q129's window must partition by block, never globally:\n$p")
  }

  test("q134: rank prunes via WindowGroupLimit; one brute-force scorer join") {
    val p = finalPlan("q134_knn_vote")
    assert(p.contains("WindowGroupLimit"),
      s"q134's rank<=k filter must push into WindowGroupLimit (top-k, not full sort):\n$p")
    // the scorer is the intended broadcast nested loop (queries side
    // broadcast, non-equi self-pair condition); exactly one may exist
    assert(count(p, "BroadcastNestedLoopJoin") == 1,
      s"q134 should have exactly the one broadcast brute-force scorer:\n$p")
    assert(!p.contains("CartesianProduct"), s"q134 grew a cartesian:\n$p")
  }

  test("q131: rules join materialized aggregates; only the one-row basket total nests") {
    val p = finalPlan("q131_brand_rules")
    // itemN / pairN / basketN are all checkpointed (Baskets.counts —
    // the fact-sized basket cache dies inside the operator): the final
    // plan may only join ExistingRDD scans, the fact shuffle having
    // happened ONCE, upstream
    assert(count(p, "Scan ExistingRDD|InMemoryTableScan") >= 4,
      s"q131 must consume materialized basket/item/pair tables, not recompute them:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") <= 1,
      s"q131 may nested-loop only the one-row basket total:\n$p")
    assert(!p.contains("CartesianProduct"), s"q131 grew a cartesian:\n$p")
  }

  test("q149: neighbor ranking consumes materialized tables; rank prunes via WindowGroupLimit") {
    val p = finalPlan("q149_item_cosine")
    // ALL fact-sized work (basket build, pair generation, pair
    // aggregate) ran upstream of the pairN checkpoint, exactly once —
    // the final plan may only rank materialized tables: both union
    // branches scan the checkpoint, the two item-count lookups ride
    // broadcast, and no aggregate over the corpus reappears
    assert(count(p, "Scan ExistingRDD") >= 2,
      s"q149's rule directions must both scan the checkpointed pair table:\n$p")
    assert(!p.contains("collect_set"),
      s"q149's basket build leaked into the ranking plan (lost materialization):\n$p")
    assert(count(p, "BroadcastHashJoin") == 2,
      s"q149's two item-count lookups must broadcast the vocabulary side:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"q149's rn<=k filter must push into WindowGroupLimit (top-k per item, not full sort):\n$p")
    assert(!p.contains("CartesianProduct"), s"q149 grew a cartesian:\n$p")
  }

  test("q136: k-means assigns via one-row broadcast carriers, seeds via TakeOrdered") {
    val p = finalPlan("q136_kmeans")
    // exactly 3 assignment passes (2 iterations + final report), each a
    // pure map over the corpus with the centroid row broadcast — more
    // BNLJs would mean a recomputed branch, fewer a lost materialization
    assert(count(p, "BroadcastNestedLoopJoin") == 3,
      s"q136 must have exactly 3 one-row centroid broadcasts:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q136's seed selection must be a distributed TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"q136 grew a cartesian:\n$p")
  }

  test("global sweep: every query cartesian-free, sort-free, partition-invariant") {
    // the whole-surface guarantee behind the per-query pins: a
    // CartesianProduct (both sides unbroadcast, no key) is never an
    // acceptable shape at 100 TB — the deliberate small-side products
    // (q55's dim×dim cross join, q134's scorer, q136's centroid
    // carriers, the one-row total carriers) all plan as
    // BroadcastNestedLoopJoin, never CartesianProduct, because one
    // side is always bounded. Runs every declared query at sf0.001.
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      spark.catalog.clearCache() // a neighbor's persist must not shape this plan
      val df = SparkEntry.queries(name)(spark, sf0001)
      val rows = df.collect().map(_.toString).sorted.toSeq
      (name,
        df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0),
        rows)
    }
    val cartesians = results.collect {
      case (name, p, _) if p.contains("CartesianProduct") => name
    }
    assert(cartesians.isEmpty,
      s"final plans with CartesianProduct: ${cartesians.mkString(", ")}")
    // global sorts (range-partition exchanges): every ordered result
    // rides TakeOrdered (bounded top-k) or a window rank, so any
    // appearance here is an accidental orderBy regression. The ONE
    // legitimate global order — q152's contiguous-id contract — is
    // structurally invisible to this check rather than allowlisted:
    // its range exchange runs behind ContiguousIds' .rdd/
    // createDataFrame hop, so the returned plan is a Scan ExistingRDD
    // (the operator's own spec pins its behavior instead).
    val globalSorts = results.collect {
      case (name, p, _) if p.contains("Exchange rangepartitioning") => name
    }
    assert(globalSorts.isEmpty,
      s"unexpected global sorts (rangepartitioning): ${globalSorts.mkString(", ")}")
    // determinism net over the WHOLE surface (InvarianceSpec replays
    // its 19 family representatives under four regimes; this replays
    // every query under the single sharpest lever): a co-prime
    // shuffle-partition count must not change any sorted row multiset
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val forks = try {
      results.collect { case (name, _, rows)
        if {
          spark.catalog.clearCache() // replay must re-EXECUTE, not re-read cache
          SparkEntry.queries(name)(spark, sf0001)
            .collect().map(_.toString).sorted.toSeq != rows
        } => name
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(forks.isEmpty,
      s"results change with the shuffle partition count: ${forks.mkString(", ")}")
  }

  test("scans prune columns: q1 reads only the aggregated lineitem fields") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf0001)
    val scans = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(scans)
      .orElse("struct<[^>]*>".r.findFirstIn(scans))
    // fall back to the formatted explain, which always prints ReadSchema
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemaLine = "ReadSchema: [^\n]*".r.findFirstIn(formatted)
      .getOrElse(readSchema.getOrElse(""))
    assert(!schemaLine.contains("l_orderkey") && !schemaLine.contains("l_comment"),
      s"q1 scan reads columns the query never touches: $schemaLine")
    assert(schemaLine.contains("l_quantity"), s"no pruned schema found: $schemaLine")
  }
}
