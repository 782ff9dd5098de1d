package graft

import org.apache.spark.sql.functions._

import graft.expressions.KmvMinima
import graft.expressions.KmvMinima.kmvMinima

/** The native mergeable KMV distinct sketch. Key properties: the k
  * smallest DISTINCT hashes are a pure function of the group's value
  * SET (partition/merge-order invariant, duplicate-insensitive), equal
  * the window definition, and the set-algebra estimates (distinct /
  * union / intersection / Jaccard) land within the k=64 accuracy band
  * on real data with planted overlap (the q163 corpus-overlap shape).
  */
class KmvSpec extends SparkSpec {
  import spark.implicits._

  private val K = 64

  private def hashed = Tables(spark, sf001, "documents")
    .filter(col("text").isNotNull)
    .select(col("lang").as("g"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))

  test("kmv_minima equals the k smallest distinct hashes (window definition)") {
    val got = hashed.groupBy(col("g"))
      .agg(kmvMinima(col("h"), K).as("mins"))
      .as[(String, Seq[Long])].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h"))
    val want = hashed.distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      .groupBy(col("g")).agg(sort_array(collect_list(col("h"))).as("mins"))
      .as[(String, Seq[Long])].collect().toMap
    assert(got === want)
    assert(got.nonEmpty)
    assert(got.values.forall(m => m == m.sorted && m.distinct == m))
  }

  test("partition-invariant and duplicate-insensitive") {
    def run(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(kmvMinima(col("h"), K).as("mins"))
        .as[(String, Seq[Long])].collect().toMap
    val base = run(hashed.repartition(1))
    assert(run(hashed.repartition(17, col("h"))) === base)
    // tripling every row changes the multiset, not the value set
    assert(run(hashed.unionAll(hashed).unionAll(hashed).repartition(5)) === base)
  }

  test("nulls are skipped; below-k groups return the whole distinct set") {
    val df = Seq((1L, Some(10L)), (1L, None), (1L, Some(3L)), (1L, Some(10L)))
      .toDF("g", "h")
    val got = df.groupBy(col("g")).agg(kmvMinima(col("h"), K).as("m"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) === Seq(3L, 10L))
  }

  test("serialize/deserialize round-trips the bounded buffer") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = KmvMinima(Literal(0L), Literal(4))
    val buf = agg.createAggregationBuffer()
    Seq(9L, 2L, 7L, 2L, 11L, 1L).foreach(v => buf.add(v))
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.toArray === buf.toArray)
  }

  test("k is validated at analysis; non-long hash rejected") {
    val df = Seq((1L, 1L)).toDF("g", "h")
    intercept[Exception] {
      df.groupBy(col("g")).agg(kmvMinima(col("h"), 0)).collect()
    }
    intercept[Exception] {
      df.groupBy(col("g"))
        .agg(call_function(KmvMinima.name, col("g").cast("int"), lit(4)))
        .collect()
    }
  }

  test("property: kmv_minima == sorted(distinct).take(k) on seeded random multisets") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val k = 1 + rnd.nextInt(40)
      // negatives included: the aggregate orders by SIGNED long (the
      // house 60-bit md5 hashes are positive, but the contract is total)
      val vals = Seq.fill(300)(rnd.nextLong() % 1000)
      val got = vals.toDF("h")
        .repartition(1 + rnd.nextInt(7))
        .agg(kmvMinima(col("h"), k)).head.getSeq[Long](0)
      assert(got == vals.distinct.sorted.take(k), s"seed=$seed k=$k")
    }
  }

  test("maintainKmv: refresh fold equals the one-shot sketch; replayed batch id is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_cat").toString
    val cat = new graft.ledger.Catalog(spark, s"$dir/wh")
    val all = Tables(spark, sf001, "documents")
      .filter(col("text").isNotNull)
      .select(col("lang").as("g"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
    // three disjoint refreshes, folded with monotone batch ids
    val parts = Seq(col("h") % 3 === 0, col("h") % 3 === 1, col("h") % 3 === 2)
    parts.zipWithIndex.foreach { case (p, i) =>
      cat.maintainKmv("sk", all.filter(p), Seq("g"), "h", k = K,
        batchId = Some(i.toLong))
    }
    val folded = cat.table("sk").select("g", "mins")
      .as[(String, Seq[Long])].collect().toMap
    val oneShot = all.groupBy(col("g"))
      .agg(kmvMinima(col("h"), K).as("mins"))
      .as[(String, Seq[Long])].collect().toMap
    assert(folded === oneShot)
    // at-least-once replay: re-delivering batch 2 must not change the
    // table OR write a new version
    val versionsBefore = latest(s"$dir/wh", "sk")
    cat.maintainKmv("sk", all.filter(parts(2)), Seq("g"), "h", k = K,
      batchId = Some(2L))
    assert(latest(s"$dir/wh", "sk") === versionsBefore)
    assert(cat.table("sk").select("g", "mins")
      .as[(String, Seq[Long])].collect().toMap === oneShot)
    // the maintained arrays feed the same estimate readout as q163
    val est = cat.table("sk")
      .select(col("g"), KmvMinima.kmvEstimate(col("mins"), K).as("est"))
      .as[(String, Long)].collect().toMap
    val exact = all.distinct().groupBy(col("g")).count()
      .as[(String, Long)].collect().toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(est(g) - n).toDouble / n < 0.5, s"$g est=${est(g)} exact=$n")
    }
  }

  test("KmvAlgebra.overlap over two maintained sketch tables matches the " +
      "q163-style inline algebra; one-sided and empty keys are guarded") {
    import graft.operators.KmvAlgebra
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_ov").toString
    val cat = new graft.ledger.Catalog(spark, s"$dir/wh")
    val base = Tables(spark, sf001, "documents")
      .filter(col("text").isNotNull).select(col("lang"), col("doc_id"), col("text"))
    def hashed(df: org.apache.spark.sql.DataFrame) = df.select(col("lang"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
    // snapshot A = the corpus; snapshot B = re-crawl keeping even ids
    val a = hashed(base)
    val b = hashed(base.select(col("lang"),
      when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" v2"))).as("text")))
    cat.maintainKmv("sk_a", a, Seq("lang"), "h", k = K)
    cat.maintainKmv("sk_b", b, Seq("lang"), "h", k = K)
    val got = KmvAlgebra.overlap(cat.table("sk_a"), cat.table("sk_b"),
      Seq("lang"), K)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // inline replay (the q163 arithmetic) from the same stored arrays
    val want = cat.table("sk_a").withColumnRenamed("mins", "ska")
      .join(cat.table("sk_b").withColumnRenamed("mins", "skb"), "lang")
      .withColumn("sku", slice(array_sort(array_union(col("ska"), col("skb"))), 1, K))
      .select(col("lang"),
        KmvMinima.kmvEstimate(col("ska"), K).as("est_a"),
        KmvMinima.kmvEstimate(col("skb"), K).as("est_b"),
        KmvMinima.kmvEstimate(col("sku"), K).as("est_union"),
        size(array_intersect(array_intersect(col("sku"), col("ska")),
          col("skb"))).cast("long").as("n_common"),
        size(col("sku")).cast("long").as("szu"))
      .select(col("lang"), col("est_a"), col("est_b"), col("est_union"),
        col("n_common"),
        expr("(n_common * est_union) div szu").as("est_intersect"),
        expr("(n_common * 1048576) div szu").as("jaccard_q20"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got === want)
    assert(got.nonEmpty && got.values.forall(r => r._7 > 0),
      "every lang has planted overlap")
    // one-sided key: a group only snapshot A ever saw
    import spark.implicits._
    val extra = KmvAlgebra.overlap(
      Seq(("xx", Seq(5L, 9L))).toDF("lang", "mins"),
      Seq(("yy", Seq(7L))).toDF("lang", "mins"), Seq("lang"), K)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(extra("xx") === (("xx", 2L, 0L, 2L, 0L, 0L, 0L)))
    assert(extra("yy") === (("yy", 0L, 1L, 1L, 0L, 0L, 0L)))
    // both-empty sketches: zero estimates, not a division error
    val empty = KmvAlgebra.overlap(
      Seq(("zz", Seq.empty[Long])).toDF("lang", "mins"),
      Seq(("zz", Seq.empty[Long])).toDF("lang", "mins"), Seq("lang"), K)
      .as[(String, Long, Long, Long, Long, Long, Long)].head()
    assert(empty === (("zz", 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("constant-k contract is enforced: a k-mismatched overlap or " +
      "refresh fails loudly instead of silently truncating the estimator") {
    import graft.operators.KmvAlgebra
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_k").toString
    val cat = new graft.ledger.Catalog(spark, s"$dir/wh")
    val rows = Tables(spark, sf001, "documents")
      .filter(col("text").isNotNull).select(col("lang"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
    cat.maintainKmv("sk32", rows, Seq("lang"), "h", k = 32)
    assert(cat.kmvK("sk32") === Some(32))
    // the pre-r15 silent-wrong case: a k'=32 table read at k=64 would
    // hit kmvEstimate's size<k EXACT branch — reporting 32 for a
    // million-distinct group. Now the stamp fails the job loudly.
    val e = intercept[Exception] {
      KmvAlgebra.overlap(cat.table("sk32"), cat.table("sk32"),
        Seq("lang"), k = 64).collect()
    }
    assert(exceptionChain(e).exists(_.getMessage != null) &&
      exceptionChain(e).flatMap(t => Option(t.getMessage))
        .exists(m => m.contains("kmv_k=32") && m.contains("k=64")), e.getMessage)
    // refresh at a different k: loud, and the table is untouched
    val vBefore = latest(s"$dir/wh", "sk32")
    val e2 = intercept[IllegalArgumentException] {
      cat.maintainKmv("sk32", rows, Seq("lang"), "h", k = 64)
    }
    assert(e2.getMessage.contains("kmv_k=32") && e2.getMessage.contains("k=64"))
    assert(latest(s"$dir/wh", "sk32") === vBefore)
    // an UN-stamped side built at larger k' is caught by the length
    // guard (k+1..k' minima would corrupt the union)
    import spark.implicits._
    val fat = Seq(("xx", (1L to 40L).toSeq)).toDF("lang", "mins")
    val thin = Seq(("xx", Seq(3L, 9L))).toDF("lang", "mins")
    val e3 = intercept[Exception] {
      KmvAlgebra.overlap(fat, thin, Seq("lang"), k = 32).collect()
    }
    assert(exceptionChain(e3).flatMap(t => Option(t.getMessage))
      .exists(_.contains("40 minima")), e3.getMessage)
    // matching-k path unchanged: stamped tables at the caller's k pass
    val ok = KmvAlgebra.overlap(cat.table("sk32"), cat.table("sk32"),
      Seq("lang"), k = 32)
    assert(ok.collect().forall(r =>
      r.getLong(r.fieldIndex("est_a")) === r.getLong(r.fieldIndex("est_b"))))
  }

  test("kmv_k stamp anomalies: all-NULL reads as uncertified (None), a " +
      "PARTIAL stamp decertifies loudly instead of returning the " +
      "surviving k") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_null").toString
    val cat = new graft.ledger.Catalog(spark, s"$dir/wh")
    // wholly uncertified: an outside write with a NULL stamp on every
    // row — "no certified k", not a throw (the r15 contract)
    cat.replace("sknull", Seq(("aa", Seq(1L, 2L)))
      .toDF("lang", "mins")
      .withColumn("kmv_k", lit(null).cast("int")))
    assert(cat.kmvK("sknull") === None)
    // partially certified: NULL on SOME rows — the r16 advice case.
    // Skipping NULLs would return 32 and read as fully certified;
    // the constancy guard must fail loudly instead.
    cat.replace("skmix", Seq(("aa", Seq(1L, 2L), Some(32)),
        ("bb", Seq(3L, 4L), Option.empty[Int]))
      .toDF("lang", "mins", "kmv_k"))
    val e = intercept[IllegalArgumentException] { cat.kmvK("skmix") }
    assert(e.getMessage.contains("1 NULL row(s)") &&
      e.getMessage.contains("decertified"), e.getMessage)
    // two distinct non-NULL ks: same verdict
    cat.replace("skk", Seq(("aa", Seq(1L), 32), ("bb", Seq(2L), 64))
      .toDF("lang", "mins", "kmv_k"))
    val e2 = intercept[IllegalArgumentException] { cat.kmvK("skk") }
    assert(e2.getMessage.contains("2 distinct k value(s)"), e2.getMessage)
  }

  private def exceptionChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("set-algebra estimates are accurate at k=64 on planted overlap") {
    // the q163 shape: B keeps even-id texts, rewrites odd ones
    val base = Tables(spark, sf001, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val a = base.select(lit(true).as("in_a"), col("text"))
    val b = base.select(lit(false).as("in_a"),
      when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" v2"))).as("text"))
    val h = a.unionAll(b).select(col("in_a"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
    val sk = h.groupBy().agg(
      kmvMinima(when(col("in_a"), col("h")), K).as("ska"),
      kmvMinima(when(not(col("in_a")), col("h")), K).as("skb"))
      .withColumn("sku",
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, K))
      .select(
        when(size(col("sku")) < K, size(col("sku")).cast("long"))
          .otherwise(floor(lit((K - 1).toDouble) * lit(1.152921504606846976e18) /
            element_at(col("sku"), K).cast("double")).cast("long")).as("est_u"),
        size(array_intersect(array_intersect(col("sku"), col("ska")),
          col("skb"))).cast("long").as("n_common"),
        size(col("sku")).cast("long").as("sz_u"))
      .as[(Long, Long, Long)].head()
    val (estU, nCommon, szU) = sk
    val exactU = h.select(col("h")).distinct().count()
    val exactI = h.filter(col("in_a")).select("h")
      .intersect(h.filter(not(col("in_a"))).select("h")).count()
    val estI = nCommon * estU / szU
    // k=64 ⇒ σ ≈ 1/√63 ≈ 12.6%; 3σ bands (deterministic on this data —
    // the bound just documents the sketch's design accuracy)
    assert(math.abs(estU - exactU).toDouble / exactU < 0.38,
      s"union est $estU vs exact $exactU")
    assert(math.abs(estI - exactI).toDouble / exactI < 0.5,
      s"intersection est $estI vs exact $exactI")
  }
}
