package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: distinct word k-grams, empty below k words") {
    val out = Seq("a b c d", "a b", "x x x x")
      .toDF("t").select(Dedup.shingles(col("t"), 3)).as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq.empty)
    assert(out(2) === Seq("x x x")) // distinct
  }

  test("word_shingles rejects non-positive or null k at analysis time") {
    val df = Seq("a b c").toDF("t")
    for (bad <- Seq("0", "-1", "CAST(NULL AS INT)")) {
      val e = intercept[Exception] {
        df.selectExpr(s"word_shingles(t, $bad)").collect()
      }
      assert(e.getMessage.contains("word_shingles"), s"k=$bad: ${e.getMessage}")
    }
  }

  test("native word_shingles matches the composed builtin form on real docs") {
    for (k <- Seq(1, 2, 3)) {
      val diff = Tables(spark, sf001, "documents")
        .select(Dedup.shingles(col("text"), k).as("fast"),
          Composed.shingles(col("text"), k).as("slow"))
        .filter(col("fast") =!= col("slow"))
      assert(diff.count() === 0, s"k=$k mismatch")
    }
    // unicode + punctuation edge: lowercase mapping shared with lower()
    val edge = Seq("AÇÃO é ótima! X9y, Zz... ,,", "", "  ", "ab").toDF("text")
    val d2 = edge.select(Dedup.shingles(col("text"), 2).as("fast"),
      Composed.shingles(col("text"), 2).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d2.count() === 0)
  }

  test("positional word_shingles keeps every k-gram in order, duplicates included") {
    import graft.expressions.TextExpressions.wordShinglesAll
    val out = Seq("a b c d", "x x x x", "a b")
      .toDF("t").select(wordShinglesAll(col("t"), 3)).as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq("x x x", "x x x")) // duplicates KEPT
    assert(out(2) === Seq.empty)
    // composed positional reference (the Composed.shingles chain minus
    // the distinct): parity on real docs incl. tokenizer edges
    def composed(c: org.apache.spark.sql.Column, k: Int) = {
      val w = graft.functions.TextFunctions.words(c)
      if (k == 1) w
      else array_compact((1 until k).foldLeft(w) { (acc, j) =>
        val shifted = slice(w, lit(j + 1), greatest(size(w) - j, lit(0)))
        zip_with(acc, shifted, (a, b) => concat(a, lit(" "), b))
      })
    }
    for (k <- Seq(1, 2, 3)) {
      val diff = Tables(spark, sf001, "documents")
        .select(wordShinglesAll(col("text"), k).as("fast"),
          composed(col("text"), k).as("slow"))
        .filter(col("fast") =!= col("slow"))
      assert(diff.count() === 0, s"k=$k mismatch")
    }
    val edge = Seq("AÇÃO é ótima! X9y, Zz... ,,", "", "  ", "ab ab ab").toDF("text")
    val d2 = edge.select(wordShinglesAll(col("text"), 2).as("fast"),
      composed(col("text"), 2).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d2.count() === 0)
  }

  test("crossDocSpanStats: planted cross-doc repeats, self-repeats, short docs") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // all 3 positions shared with doc 5
      (2L, "a b c d e f g h x y"), // 1 of 3 positions shared (the prefix 8-gram)
      (3L, "z z z z z z z z"),     // self-repeat only — within ONE doc, not shared
      (4L, "q w e r t"),           // < 8 words: zero positions
      (5L, "a b c d e f g h i j") // exact dup of doc 1
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocSpanStats(docs, "doc_id", "text", k = 8, flagAtE6 = 500000L)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === Map(
      1L -> ((3L, 3L, 1000000L, true)),
      2L -> ((3L, 1L, 333333L, false)),
      3L -> ((1L, 0L, 0L, false)),
      4L -> ((0L, 0L, 0L, false)),
      5L -> ((3L, 3L, 1000000L, true))))
  }

  test("removeSharedSpans: cross-doc spans are cut from every doc but " +
      "the min-id keeper; self-repeats and short docs are untouched") {
    val docs = Seq(
      (1L, "a b c d e f"),           // min-id keeper of the shared span
      (2L, "x y z a b c d e f"),     // loses the whole shared suffix
      (3L, "p q r p q r p q r"),     // SELF-repeat only — not cross-doc
      (4L, "a b"),                   // < k words: zero grams, untouched
      (5L, "m n a b c d q t u v w")  // shares only 'a b c'/'b c d'
    ).toDF("doc_id", "text")
    val got = Dedup.removeSharedSpans(docs, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === Map(
      // the keeper keeps ALL its occurrences — exactly one copy of the
      // span survives the corpus
      1L -> ((6L, 0L, 0L, "a b c d e f")),
      // removable grams start at 4..7, covering words 4..9
      2L -> ((9L, 6L, 6L, "x y z")),
      // within-ONE-doc repetition is q168's business, not removal's
      3L -> ((9L, 0L, 0L, "p q r p q r p q r")),
      4L -> ((2L, 0L, 0L, "a b")),
      // 'abc'@3 and 'bcd'@4 cover words 3..6 only; the unique tail stays
      5L -> ((11L, 4L, 4L, "m n q t u v w"))))
  }

  test("removeSharedSpans is consistent with crossDocSpanStats on the " +
      "real corpus: docs with zero duplicated positions lose nothing, " +
      "word accounting agrees, and every planted copy is cut") {
    // the q169 plant shape on the sf0.001 corpus: copies keep the
    // original's suffix under a fresh prefix
    val base = Tables(spark, sf0001, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val docs = base.unionAll(
      base.filter(col("doc_id") % 7 === 0 && length(col("text")) >= 300)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("fresh prefix here "), expr("substring(text, 101)"))
            .as("text")))
    val k = 8
    val stats = Dedup.crossDocSpanStats(docs, "doc_id", "text",
        k = k, flagAtE6 = 500000L)
      .select(col("doc_id"), col("total_pos"), col("dup_pos"))
    val rem = Dedup.removeSharedSpans(docs, "doc_id", "text", k = k)
    val j = stats.join(rem, "doc_id").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val (dup, removedW, totalW, totalPos) = (r.getAs[Long]("dup_pos"),
        r.getAs[Long]("removed_words"), r.getAs[Long]("total_words"),
        r.getAs[Long]("total_pos"))
      // removal only ever cuts positions covered by a CROSS-DOC gram,
      // so a doc q143 scores as 0% duplicated must come out untouched
      assert(dup > 0L || removedW === 0L, s"doc ${r.get(0)}: dup_pos=0 " +
        s"but removed_words=$removedW")
      // both operators tokenize identically: q143's position count is
      // exactly max(total_words - (k-1), 0)
      assert(totalPos === math.max(totalW - (k - 1), 0L), s"doc ${r.get(0)}")
    }
    // every planted copy shares a long suffix with its lower-id
    // original (the keeper), so each must lose words
    val copies = j.filter(_.getAs[Long]("doc_id") >= 1000000L)
    assert(copies.nonEmpty)
    copies.foreach(r => assert(r.getAs[Long]("removed_words") > 0L,
      s"planted copy ${r.get(0)} kept its shared suffix"))
  }

  test("removeSharedSpansAgainst equals the monolithic run restricted " +
      "to batch docs — corpus-shared, batch-internal, and " +
      "promoted-to-shared grams included") {
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "p q r s t u")).toDF("doc_id", "text")
    val batch = Seq(
      // shares 'a b c'/'b c d' with corpus keeper 1
      (10L, "za zb a b c d w"),
      // 11 and 12 share a gram the CORPUS has never seen — the
      // batch-internal case nearDupPairsAgainst scopes out but span
      // removal must count (keeper = 11, the lower batch id)
      (11L, "alpha one two three beta"),
      (12L, "gamma delta one two three eps"),
      // 'p q r' is count-1 in the corpus table; the batch occurrence
      // PROMOTES it to shared (count 2, corpus keeper 2 keeps)
      (13L, "p q r keeps nothing here")).toDF("doc_id", "text")
    val k = 3
    val gt = Dedup.gramTable(corpus, "doc_id", "text", k)
    val inc = Dedup.removeSharedSpansAgainst(batch, gt, "doc_id", "text", k)
    val mono = Dedup.removeSharedSpans(corpus.unionAll(batch),
        "doc_id", "text", k)
      .filter(col("doc_id") >= 10L)
    assert(inc.exceptAll(mono).isEmpty && mono.exceptAll(inc).isEmpty,
      "incremental != monolithic on the batch docs")
    val rw = inc.select("doc_id", "removed_words").as[(Long, Long)]
      .collect().toMap
    assert(rw === Map(10L -> 4L, 11L -> 0L, 12L -> 3L, 13L -> 3L))
  }

  test("removeSharedSpansAgainst == monolithic on the real corpus " +
      "(the q171 plant shape at sf0.001)") {
    val corpus = Tables(spark, sf0001, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val batch = corpus
      .filter(col("doc_id") % 7 === 0 && length(col("text")) >= 300)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("fresh prefix here "), expr("substring(text, 101)"))
          .as("text"))
    val k = 8
    val gt = Dedup.gramTable(corpus, "doc_id", "text", k)
    val inc = Dedup.removeSharedSpansAgainst(batch, gt, "doc_id", "text", k)
    val mono = Dedup.removeSharedSpans(corpus.unionAll(batch),
        "doc_id", "text", k)
      .filter(col("doc_id") >= 1000000L)
    assert(inc.count() === batch.count())
    assert(inc.exceptAll(mono).isEmpty && mono.exceptAll(inc).isEmpty,
      "incremental != monolithic on the real corpus")
    // the plant is non-trivial: every copy loses its stolen suffix
    assert(inc.filter(col("removed_words") > 0L).count() === inc.count())
  }

  test("foldGramTable(gramTable(old), new) == gramTable(old ∪ new): " +
      "counts add, keepers take the min, count-1 grams survive") {
    val corpus = Tables(spark, sf0001, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      .limit(200)
    val batch = corpus.limit(50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val k = 8
    val folded = Dedup.foldGramTable(
      Dedup.gramTable(corpus, "doc_id", "text", k),
      batch, "doc_id", "text", k)
    val direct = Dedup.gramTable(corpus.unionAll(batch),
      "doc_id", "text", k)
    assert(folded.exceptAll(direct).isEmpty &&
      direct.exceptAll(folded).isEmpty,
      "folded gram table != directly built gram table")
  }

  test("removeSharedSpans: null text reads as the empty document, " +
      "never a -1 word count") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "a b c"))
      .toDF("doc_id", "text")
    val got = Dedup.removeSharedSpans(docs, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === Map(
      1L -> ((0L, 0L, 0L, "")),
      2L -> ((3L, 0L, 0L, "a b c"))))
    val inc = Dedup.removeSharedSpansAgainst(docs,
        Dedup.gramTable(docs.limit(0), "doc_id", "text", 3),
        "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(inc(1L) === ((0L, 0L, 0L, "")))
  }

  test("nearDupPairs finds planted near-dup, not unrelated docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tail"),
      (3L, "completely different content about database engines and queries")
    ).toDF("id", "text")
    val pairs = Dedup.nearDupPairs(docs, "id", "text", k = 3, numHashes = 12,
      bands = 4, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("native minhash_sigs matches the relational explode+min(md5) form") {
    val sig = Tables(spark, sf001, "documents")
      .select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
    val native = sig.filter(size(col("sh")) > 0).select(col("id"),
      graft.expressions.TextExpressions.minhashSigs(col("sh"), 12).as("ms"))
    val minCols = (1 to 12).map(h =>
      min(md5(concat(lit(s"$h:"), col("s")))).as(s"m$h"))
    val relational = sig.select(col("id"), explode(col("sh")).as("s"))
      .groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((1 to 12).map(h => col(s"m$h")): _*).as("ms"))
    val joined = native.as("n").join(relational.as("r"), "id")
    assert(joined.count() > 0)
    assert(joined.filter(col("n.ms") =!= col("r.ms")).count() === 0)
  }

  test("dupClusters: empty pair set yields an empty labeling, not a crash") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.dupClusters(empty).count() === 0)
  }

  test("dupClusters: deep chain converges; exceeding maxIter throws, never splits silently") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val out = Dedup.dupClusters(chain).as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L) && out.length == 12)
    intercept[IllegalStateException] {
      Dedup.dupClusters(chain, maxIter = 2).collect()
    }
  }

  test("dupClusters: diameter-35 path with reliable checkpoint cadence converges, no plan blowup") {
    // a path graph needs ~diameter propagation rounds — the deep-graph
    // shape where (a) an unbounded lineage would double the plan per
    // round and (b) a lost executor would kill a local-only checkpoint
    // run. With a checkpoint dir configured, every 5th round writes a
    // RELIABLE checkpoint; the result must be identical either way.
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val path = (0L until 35L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val out = Dedup.dupClusters(path, maxIter = 50, checkpointEvery = 5)
        .as[(Long, Long)].collect()
      assert(out.length === 36 && out.forall(_._2 == 0L))
    } finally sc.setCheckpointDir(null)
  }

  test("dupClusters: multi-hop chains converge to the min id") {
    // chain 1-2-3-4 (diameter 3 → several propagation rounds) + isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val out = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("nearDupPairsAgainst equals the monolithic self-join's old-vs-new pairs") {
    val corpus = Tables(spark, sf001, "documents").select("doc_id", "text")
      .filter(col("doc_id") < 100)
    val batch = corpus.filter(col("doc_id") % 7 === 0).select(
      (col("doc_id") + 10000L).as("doc_id"),
      concat(col("text"), lit(" zz qq tail")).as("text"))
    val incremental = graft.operators.Dedup
      .nearDupPairsAgainst(corpus, batch, "doc_id", "text")
      .select(col("corpus_id").as("a_id"), col("batch_id").as("b_id"))
      .as[(Long, Long)].collect().toSet
    // monolithic run over corpus ∪ batch, restricted to cross pairs
    val monolithic = graft.operators.Dedup
      .nearDupPairs(corpus.unionAll(batch), "doc_id", "text")
      .filter(col("a_id") < 10000L && col("b_id") >= 10000L)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(incremental === monolithic)
    assert(incremental.nonEmpty, "planted mutations must match their originals")
  }

  test("nearDupPairsAgainst: the corpus side joins by broadcast, never a shuffle") {
    val corpus = Tables(spark, sf001, "documents").select("doc_id", "text")
    val batch = corpus.limit(5)
    val plan = graft.operators.Dedup
      .nearDupPairsAgainst(corpus, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"batch band keys must broadcast:\n$plan")
    // the corpus-side scans feed broadcast joins directly: no join may
    // repartition the corpus (candidate dedup is the only shuffle, and
    // it exchanges the batch-bounded candidate set, not the corpus)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct")
      && !plan.contains("ShuffledHashJoin"),
      s"corpus side grew a shuffled join:\n$plan")
  }

  test("native winnow_fingerprints matches the composed builtin form on real docs") {
    val diff = Tables(spark, sf001, "documents")
      .select(graft.expressions.TextExpressions
        .winnowFingerprints(col("text"), 8, 16).as("fast"),
        Composed.winnow(col("text"), 8, 16).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() === 0)
    // multibyte + short-text edges: code-point indexing must match
    // substring(); below-k yields empty, below-w-grams yields one fp
    val edge = Seq("ação é ótima já", "ab", "", "abcdefghij").toDF("text")
    val d2 = edge.select(graft.expressions.TextExpressions
      .winnowFingerprints(col("text"), 8, 16).as("fast"),
      Composed.winnow(col("text"), 8, 16).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d2.count() === 0)
    val sizes = edge.select(size(graft.expressions.TextExpressions
      .winnowFingerprints(col("text"), 8, 16))).as[Int].collect()
    assert(sizes.toSeq === Seq(1, 0, 0, 1))
  }

  test("winnow guarantee: any shared span of w+k-1 chars produces a shared fingerprint") {
    // k=8, w=16 → guarantee length 23. The span sits inside completely
    // different surroundings on each side; doc 3 shares nothing.
    val span = "abcdefghijklmnopqrstuvw" // exactly 23 chars
    val docs = Seq(
      (1L, s"first document context then $span and unrelated trailing text here"),
      (2L, s"zzz totally other page $span with different chrome around it 12345"),
      (3L, "no overlap at all in this one, separate content entirely 67890"))
      .toDF("id", "text")
    val pairs = Dedup.winnowPairs(docs, "id", "text", k = 8, w = 16,
      maxDocFreq = 100)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("semanticPrune: min-id keep rule within clusters, clusters never interact") {
    // cluster 10: id 1 ∥ id 2 (×2 scale, cos 1 → 2 dropped); id 3 is
    // ANTI-parallel (cos −1 — similar direction test must not fire).
    // cluster 20: id 4 orthogonal to nothing — kept; id 5 parallel to
    // id 1 but in a DIFFERENT cluster, so it must survive.
    val rows = Seq(
      (1L, Seq(1f, 0f, 0f), 10), (2L, Seq(2f, 0f, 0f), 10),
      (3L, Seq(-1f, 0f, 0f), 10),
      (4L, Seq(0f, 1f, 0f), 20), (5L, Seq(1f, 0f, 0f), 20))
      .toDF("id", "vec", "ck")
    val out = Similarity.semanticPrune(rows, "id", "vec", "ck", 0.999)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._3).toSeq ===
      Seq(1L -> true, 2L -> false, 3L -> true, 4L -> true, 5L -> true))
    assert(out.map(_._2).toSeq === Seq(10, 10, 10, 20, 20))
  }

  test("semanticPrune: the armed cluster-size guard fails loudly, names the cluster") {
    val rows = (1 to 30).map(i => (i.toLong, Seq(1f, 0f), 10))
      .toDF("id", "vec", "ck")
    val e = intercept[Exception] {
      Similarity.semanticPrune(rows, "id", "vec", "ck", 0.9,
        maxClusterSize = 5).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxClusterSize") && msg.contains("10"),
      s"guard must name the hot cluster: $e")
    // unarmed (default) and under-the-bound runs are unaffected
    val ok = Similarity.semanticPrune(rows, "id", "vec", "ck", 0.9,
      maxClusterSize = 64)
    assert(ok.count() === 30)
  }

  test("native simhash_bits matches the composed builtin form on real docs") {
    val diff = Tables(spark, sf001, "documents")
      .select(Dedup.simhashBits(col("text")).as("fast"),
        Composed.simhashBits(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() === 0)
    // edges: blank → all ones (empty majority, ties → 1); repeats weighted
    val edge = Seq("", "  ", "a a a b", "AÇÃO é!").toDF("text")
    val d2 = edge.select(Dedup.simhashBits(col("text")).as("fast"),
      Composed.simhashBits(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d2.count() === 0)
  }

  test("simhash: near-identical texts have small hamming distance") {
    val df = Seq(
      "spark catalyst optimizer rewrites logical plans into physical plans",
      "spark catalyst optimizer rewrites logical plans into physical trees",
      "bananas oranges apples grapes melons pears peaches plums kiwis figs")
      .toDF("t").select(Dedup.simhashBits(col("t")).as("bits"))
    val bits = df.as[Seq[Int]].collect()
    def ham(a: Seq[Int], b: Seq[Int]) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(bits(0), bits(1)) < ham(bits(0), bits(2)))
    assert(bits(0).size === 64)
  }

  test("cosine: parallel vectors 1.0, orthogonal 0.0") {
    val df = Seq(
      (Seq(1.0f, 0.0f, 2.0f), Seq(2.0f, 0.0f, 4.0f)),
      (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)))
      .toDF("a", "b").select(Similarity.cosine(col("a"), col("b")))
    val out = df.as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1)) < 1e-12)
  }

  test("signBucket is invariant under positive scaling") {
    val df = Seq(
      Seq.tabulate(64)(i => (math.sin(i + 1)).toFloat)).toDF("v")
      .select(Similarity.signBucket(col("v"), 64).as("b1"),
        Similarity.signBucket(transform(col("v"), x => x * lit(3.0f)), 64).as("b2"))
    val r = df.head()
    assert(r.getString(0) === r.getString(1))
    assert(r.getString(0).length === 16)
  }

  test("native sign_bucket_keys equals the composed per-plane form on real vectors") {
    val tables = 8; val planes = 16; val dims = 64
    val emb = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").as("v")).limit(200)
    val composed = (0 until tables).map { l =>
      concat(lit(s"$l:"), Similarity.signBucket(col("v"), dims, planes, planeOffset = l * planes))
    }
    val cmp = emb.select(col("vec_id"),
      graft.expressions.VectorExpressions.signBucketKeysF(col("v"), tables, planes, dims).as("nat"),
      array(composed: _*).as("cmp"))
    assert(cmp.filter(not(col("nat") === col("cmp"))).count() === 0)
    // degenerate inputs: wrong length and null element → all-zero bits,
    // matching the composed form's NULL-dot → '0' path
    val weird = Seq(
      (1L, Seq(1.0f, 2.0f)),                       // wrong length
      (2L, null.asInstanceOf[Seq[Float]])          // null vector
    ).toDF("vec_id", "v")
    val out = weird.select(
      graft.expressions.VectorExpressions.signBucketKeysF(col("v"), 2, 4, 64).as("k"))
      .collect()
    assert(out(0).getSeq[String](0) === Seq("0:0000", "1:0000"))
    assert(out(1).isNullAt(0)) // null vector → null keys (row drops at explode)
  }

  test("multi-probe LSH: exact recall on noised near-dups where one bucketing misses") {
    // the q67 construction: unit vectors + noised copies at cos ≈ 0.992
    val eps = 0.015625f
    val noise = array(Similarity.hyperplane(9999, 64).map(x => lit((x * eps).toFloat)): _*)
    val emb = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val batch = emb.unionAll(
      emb.filter(col("vec_id") % 29 === 0).select(
        (col("vec_id") + 1000000).as("vec_id"),
        zip_with(col("embedding"), noise, (x, p) => x + p).as("embedding")))

    // ground truth via the exact baseline: each noised row's nearest
    // neighbor is its origin (planted cos ≈ 0.992, best impostor ≈ 0.5)
    val truth = Similarity.bruteForceTopK(
      batch, batch.filter(col("vec_id") >= 1000000), "vec_id", "embedding", k = 1)
      .select(col("neighbor_id").as("a_id"), col("query_id").as("b_id"))
      .as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty && truth.forall { case (a, b) => b - a == 1000000 },
      s"baseline should rank each origin first: $truth")

    val multi = Similarity.signBucketPairs(batch, "vec_id", "embedding",
      dims = 64, threshold = 0.99, planes = 16, tables = 8)
      .as[(Long, Long)].collect().toSet
    val single = Similarity.signBucketPairs(batch, "vec_id", "embedding",
      dims = 64, threshold = 0.99, planes = 16, tables = 1)
      .as[(Long, Long)].collect().toSet

    assert(truth.subsetOf(multi), s"multi-probe missed: ${truth -- multi}")
    assert((truth -- single).nonEmpty,
      "expected single bucketing to miss at least one noised pair — " +
        "if this starts passing, the q67 demonstration is vacuous")
    assert(single.subsetOf(multi))
  }

  test("hot-bucket guard sub-splits a degenerate single-bucket corpus") {
    // 100 positive-scaled copies of one vector: identical sign pattern in
    // every bucketing → one quadratic bucket without the guard
    val base = Seq.tabulate(64)(i => math.sin(i + 1).toFloat)
    val rows = (0L until 100L).map(i => (i, base.map(x => x * (1.0f + i / 1000.0f))))
    val df = rows.toDF("vec_id", "embedding")
    val full = Similarity.signBucketPairs(df, "vec_id", "embedding",
      dims = 64, threshold = 0.999, tables = 2).count()
    assert(full === 100L * 99 / 2) // no guard triggered at default cap
    val capped = Similarity.signBucketPairs(df, "vec_id", "embedding",
      dims = 64, threshold = 0.999, tables = 2, maxBucketSize = 10).count()
    assert(capped > 0 && capped < full,
      s"sub-split should bound pair count below the quadratic $full, got $capped")
  }

  test("bruteForceTopK ranks the planted duplicate first") {
    val base = (0L to 30L).map(i =>
      (i, Seq.tabulate(8)(j => math.sin(i * 8.0 + j).toFloat)))
    val planted = Seq((100L, base(5)._2.map(x => x * 2.0f).toSeq))
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 5),
      "vec_id", "embedding", 1)
      .select("neighbor_id").as[Long].collect()
    assert(top.toSeq === Seq(100L))
  }

  test("containmentPairs finds the prefix-contained doc Jaccard misses") {
    // parent: 60 distinct words; child: its first 15 words. Every child
    // shingle is a parent shingle → containment 1.0, while Jaccard is
    // only ~13/58 ≈ 0.22 — below any useful near-dup threshold.
    val ws = (0 until 60).map(i => s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val docs = Seq((1, ws.mkString(" ")), (2, ws.take(15).mkString(" ")))
      .toDF("id", "text")
    val got = Dedup.containmentPairs(docs, "id", "text",
      k = 3, threshold = 0.9, maxDocFreq = 5)
      .as[(Int, Int, Double)].collect()
    assert(got.toSeq === Seq((1, 2, 1.0)))
    val Array(pa, ch) = docs
      .select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Int, Seq[String])].collect().sortBy(_._1).map(_._2)
    assert(ch.toSet.subsetOf(pa.toSet) &&
      ch.size.toDouble / (pa.toSet ++ ch.toSet).size < 0.5)
  }

  test("containmentPairs prefix filter: bit-identical to the brute-force pair scan, incl. the exact-boundary pair") {
    // k = 1 makes the shingle set the word set, so pair overlap is
    // controlled surgically. Corpus mixes: an exact-threshold pair
    // (9 of A's 10 words in B → 9/10 == 0.9, must PASS — pins the
    // ceil/epsilon prefix bound), a just-below pair (8/10), full
    // containment, df-filtered vocabulary (w0 appears in 8 docs >
    // maxDocFreq=5 → dropped everywhere), and random-overlap noise.
    // letters only: words() keeps [a-z]+ runs, so digits would silently
    // merge distinct test words into one
    def w(p: String, i: Int) = s"$p${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
    val aWords = (0 until 10).map(w("a", _))
    val docs = Seq(
      1 -> aWords,                                    // the min side
      2 -> (aWords.take(9) ++ (0 until 20).map(w("b", _))), // 9/10 = θ exactly
      3 -> (aWords.take(8) ++ (0 until 20).map(w("c", _))), // 8/10 < θ
      4 -> aWords.take(10),                           // identical → 1.0
      5 -> (0 until 40).map(w("d", _)),               // disjoint
      6 -> ((0 until 30).map(w("d", _)) ++ Seq("ea", "eb")) // 30/32 ≥ .9 vs 5
    ) ++ (0 until 8).map(i => (10 + i) -> (Seq("wz") ++ (0 until 6).map(j => w(s"u${('a' + i).toChar}", j))))
    val df = docs.map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("id", "text")
    val got = Dedup.containmentPairs(df, "id", "text",
      k = 1, threshold = 0.9, maxDocFreq = 5)
      .as[(Int, Int, Double)].collect().toSet
    // brute force over the SAME df-filtered sets, no prefix logic
    val sets0 = docs.map { case (id, ws) => id -> ws.distinct.toSet }
    val dfreq = sets0.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val sets = sets0.map { case (id, s) => id -> s.filter(dfreq(_) <= 5) }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      c = (sa & sb).size.toDouble / math.min(sa.size, sb.size)
      if c >= 0.9
    } yield (a, b, c)).toSet
    assert(got === want)
    assert(want.exists { case (a, b, c) => Set(a, b) == Set(1, 2) && c == 0.9 },
      "the exact-boundary pair must be part of what the test exercises")
  }

  test("containmentPairs: ubiquitous shingles are dropped, so shared boilerplate is not containment") {
    // 10 docs = same 5-word boilerplate + a unique tail word. All
    // boilerplate shingles have doc-frequency 10 > maxDocFreq and are
    // dropped; each doc keeps only its unique tail shingle → no pairs.
    // Without the guard every doc pair would score ~3/4 shared.
    val docs = (0 until 10).map { i =>
      val uniq = s"uq${('a' + i).toChar}${('a' + i).toChar}"
      (i, s"common one two three four $uniq")
    }.toDF("id", "text")
    val got = Dedup.containmentPairs(docs, "id", "text",
      k = 3, threshold = 0.5, maxDocFreq = 5)
    assert(got.count() === 0L)
  }
}
