package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bench tooling (not part of the driver contract): replicate the
  * driver's sf0.1 tables N× into a repo-local directory so shuffle
  * and spill behavior can be observed decades above the largest
  * driver SF (VERDICT round-2 follow-up #6; round-5 #1 extends the
  * family to ~100 replicas for the sf10ish decade).
  *
  * Replication is NOT naive duplication — that would multiply every
  * key's cardinality and every duplicate cluster instead of growing
  * the corpus, so dedup/similarity queries would measure a distorted
  * workload. Each replica i is made independent:
  *   - join keys shift by i·10⁹ (replica key spaces are disjoint);
  *   - embeddings rotate by (i mod 64) positions and NEGATE for
  *     i ≥ 64 — both transforms preserve every within-replica dot
  *     product exactly, the family gives 128 distinct maps, and any
  *     two distinct replicas end up uncorrelated or anti-parallel
  *     (cos −1), never parallel — no planted cross-replica near-dups;
  *   - embedding cluster labels shift per replica: at real scale the
  *     upstream clustering step yields MORE clusters of BOUNDED size
  *     as the corpus grows, not ever-fatter clusters, so the
  *     within-cluster (SemDeDup) contract stays bounded by design;
  *   - document text AND part names map through a replica-specific
  *     two-factor character permutation — vowels rotate by (i mod 5), a
  *     20-letter consonant set by (i div 5): 100 distinct injective
  *     maps, so within-replica shingle Jaccard and edit distances are
  *     preserved exactly while cross-replica shingle/name sets are
  *     (essentially) disjoint — the fuzzy-join and containment
  *     workloads grow with the corpus instead of multiplying each
  *     value's match set by the replica count;
  *   - event users/ids shift so session and funnel cardinalities scale
  *     linearly (same per-user history length).
  * region/nation stay fixed (dimensions don't grow with fact volume).
  */
object ScaleUp {

  private val K = 1000000000L      // per-replica key offset
  private val LabelK = 1000000     // per-replica label offset (int-safe to 99 replicas)
  private val Vowels = "aeiou"
  private val Cons = "snrtlcdmphbgfvkwyjxz"
  private val EmbDim = 64

  private def replicate(df: DataFrame, n: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(i => f(df, i)).reduce(_.unionAll(_))

  private def shift(c: String, i: Int): Column = col(c) + lit(i.toLong * K)

  private def rot(s: String, r: Int): String = s.drop(r % s.length) + s.take(r % s.length)

  /** Replica i's injective character map (identity at i = 0). */
  private def permuteText(c: Column, i: Int): Column =
    translate(c, Vowels + Cons,
      rot(Vowels, i % Vowels.length) + rot(Cons, (i / Vowels.length) % Cons.length))

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/target/sf1ish"
    val n = if (args.length > 2) args(2).toInt else 10
    // independence breaks past the permutation family's period: replica
    // 100 would reuse replica 0's identity text mapping, planting
    // exactly the cross-replica duplicates this tool exists to avoid
    val maxN = Vowels.length * Cons.length
    require(n >= 1 && n <= maxN,
      s"replica independence holds only for 1..$maxN replicas, got $n")
    val spark = Sessions.local(Sessions.defaultCpus,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def w(df: DataFrame, name: String) =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    w(t("region"), "region")
    w(t("nation"), "nation")

    w(replicate(t("customer"), n)((d, i) =>
      d.withColumn("c_custkey", shift("c_custkey", i))), "customer")
    w(replicate(t("supplier"), n)((d, i) =>
      d.withColumn("s_suppkey", shift("s_suppkey", i))), "supplier")
    // p_name maps through the same per-replica character permutation as
    // document text: an injective char map preserves every WITHIN-replica
    // edit distance exactly (and '#', digits, spaces are fixed points),
    // while cross-replica names become disjoint. Without this, all n
    // replicas share one name space and the fuzzy join's matched-pair
    // output is quadratic in n — the sf10ish run measured 14.5× time for
    // 10× data purely from materializing that n²-sized output. Distinct
    // names growing with the corpus is also the realistic shape: larger
    // part catalogs draw from a combinatorially larger name space.
    w(replicate(t("part"), n)((d, i) =>
      d.withColumn("p_partkey", shift("p_partkey", i))
        .withColumn("p_name", permuteText(col("p_name"), i))), "part")
    w(replicate(t("orders"), n)((d, i) =>
      d.withColumn("o_orderkey", shift("o_orderkey", i))
        .withColumn("o_custkey", shift("o_custkey", i))), "orders")
    w(replicate(t("lineitem"), n)((d, i) =>
      d.withColumn("l_orderkey", shift("l_orderkey", i))
        .withColumn("l_partkey", shift("l_partkey", i))
        .withColumn("l_suppkey", shift("l_suppkey", i))), "lineitem")

    // ts arrives as raw int64 nanos (legacy conf above) and is written
    // back as BIGINT — exactly how every events query reads it
    w(replicate(t("events"), n)((d, i) =>
      d.withColumn("event_id", shift("event_id", i))
        .withColumn("user_id", shift("user_id", i))), "events")

    w(replicate(t("documents"), n)((d, i) =>
      d.withColumn("doc_id", shift("doc_id", i))
        .withColumn("text", permuteText(col("text"), i))), "documents")

    w(replicate(t("embeddings"), n)((d, i) => {
      val r = i % EmbDim
      val rotated =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), r + 1, 100000),
          slice(col("embedding"), 1, r))
      val signed =
        if (i < EmbDim) rotated
        else transform(rotated, x => -x)
      d.withColumn("vec_id", shift("vec_id", i))
        .withColumn("embedding", signed)
        .withColumn("label", (col("label") + lit(i * LabelK)).cast("int"))
    }), "embeddings")

    println(s"""{"scaled":"$out","replicas":$n}""")
    spark.stop()
  }
}
