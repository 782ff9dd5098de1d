package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.KmvMinima

/** Set algebra over two KMV sketch TABLES (keys ++ `mins` array<long>)
  * — the consumer face of the sketch family: q163 builds both sides'
  * sketches in one grouped pass over a live corpus; this operator takes
  * sketches that already EXIST as tables (a [[graft.ledger.Catalog
  * .maintainKmv]] rollup, a [[graft.streaming.Streams
  * .maintainedKmvStream]] output, two different tables' rollups) and
  * answers the overlap question WITHOUT touching either corpus: per
  * key, distinct estimates for each side, the union, the
  * intersection, and the Jaccard — all from two k-long arrays.
  *
  * Shuffle shape: ONE full-outer join on the keys of two
  * groups-×-(k+ε)-sized tables — corpus size appears nowhere. A key
  * present on one side only estimates the other side as 0 (empty
  * sketch), which is the right reading of "this group never arrived".
  *
  * Same arithmetic as q163 (shared [[KmvMinima.kmvEstimate]]; integer
  * `div` for intersection/Jaccard), plus the one guard the inline
  * query never needs: a key whose BOTH sketches are empty (possible
  * here via an all-null-hash group in a maintained table) yields zero
  * estimates instead of an ANSI division-by-zero.
  */
object KmvAlgebra {

  /** Per-key overlap estimates between sketch tables `a` and `b`.
    * Both must carry `keys` and a `minsCol` array<long> column built
    * with the SAME hash convention and the same `k` (a sketch is only
    * a valid KMV sample down to the smallest k it was truncated to —
    * the [[graft.ledger.Catalog.maintainKmv]] constant-k contract).
    * The contract is VERIFIED where the data can carry it: a side
    * stamped with maintainKmv's constant `kmv_k` column fails the job
    * loudly on any row whose stamp disagrees with the caller's `k`
    * (pre-r15 a k-mismatch silently read a truncated sketch as an
    * EXACT distinct set — kmvEstimate's size<k branch), and EITHER
    * side fails on a sketch LONGER than k (an un-stamped table built
    * at larger k′ — its k+1..k′ minima would corrupt the union). An
    * un-stamped table built at SMALLER k′ is undetectable from the
    * arrays alone (a short sketch is indistinguishable from a
    * low-cardinality group) — keep maintained tables stamped.
    *
    * Precondition on the hash column (documented, not checked): hashes
    * must be ~uniform on a fixed-width domain, the house convention
    * being 60-bit md5 prefixes (`conv(substring(md5(x),1,15),16,10)`).
    * `est_intersect = n_common · est_union div size_union` multiplies
    * two BIGINTs: with uniform 60-bit hashes est_union ≤ ~(k−1)·2^60/
    * (k-th minimum) stays far below 2^63/k for any realistic
    * cardinality, but ADVERSARIAL hashes (all minima tiny) could push
    * the product past Long range, where Spark non-ANSI wraps silently
    * while DuckDB errors — a cross-engine divergence this operator
    * does not defend against.
    *
    * Output: keys ++ (est_a, est_b, est_union, n_common,
    * est_intersect, jaccard_q20), all BIGINT. */
  def overlap(a: DataFrame, b: DataFrame, keys: Seq[String], k: Int,
              minsCol: String = "mins"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(keys.nonEmpty, "overlap needs at least one key column")
    val noMins = array().cast("array<bigint>")
    // plan-side guards, not driver-side collects: the check rides the
    // same distributed scan the join reads — zero extra passes
    def checked(df: DataFrame, out: String, side: String): DataFrame = {
      val sized = df.withColumn(out,
        when(size(col(minsCol)) > k, raise_error(format_string(
          s"KmvAlgebra.overlap: side $side carries a sketch of %s minima " +
            s"> k=$k — the table was built at a larger k; re-call with " +
            "that k or re-sketch", size(col(minsCol)).cast("string"))))
          .otherwise(col(minsCol))).drop(minsCol)
      if (!df.columns.contains("kmv_k")) sized
      else sized.withColumn(out,
        when(col("kmv_k").isNotNull && col("kmv_k") =!= k,
          raise_error(format_string(
            s"KmvAlgebra.overlap: side $side is stamped kmv_k=%s but " +
              s"overlap was called with k=$k — a k-mismatch silently " +
              "degrades the estimator", col("kmv_k").cast("string"))))
          .otherwise(col(out))).drop("kmv_k")
    }
    checked(a, "__ska", "a")
      .join(checked(b, "__skb", "b"), keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        coalesce(col("__ska"), noMins).as("__a"),
        coalesce(col("__skb"), noMins).as("__b")): _*)
      .withColumn("__u", slice(array_sort(array_union(col("__a"), col("__b"))), 1, k))
      .select(keys.map(col) ++ Seq(
        KmvMinima.kmvEstimate(col("__a"), k).as("est_a"),
        KmvMinima.kmvEstimate(col("__b"), k).as("est_b"),
        KmvMinima.kmvEstimate(col("__u"), k).as("est_union"),
        size(array_intersect(array_intersect(col("__u"), col("__a")),
          col("__b"))).cast("long").as("n_common"),
        size(col("__u")).cast("long").as("__szu")): _*)
      .select(keys.map(col) ++ Seq(
        col("est_a"), col("est_b"), col("est_union"), col("n_common"),
        when(col("__szu") === 0, 0L)
          .otherwise(expr("(n_common * est_union) div __szu"))
          .as("est_intersect"),
        when(col("__szu") === 0, 0L)
          .otherwise(expr("(n_common * 1048576) div __szu"))
          .as("jaccard_q20")): _*)
  }
}
