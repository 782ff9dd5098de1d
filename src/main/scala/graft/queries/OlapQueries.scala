package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.SkewJoin

/** OLAP breadth beyond the reference's own surface (SURVEY §2.4 road-
  * map): multi-dimensional aggregates (rollup/cube/grouping sets),
  * sketches (HLL approx distinct), exact percentiles, and a skew-safe
  * salted join (oracle = the plain join it must equal).
  */
object OlapQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  def specs: Seq[QuerySpec] = Seq(

    // ROLLUP (priority, year) — Metabase-style drill-down totals.
    // Pre-aggregate to the base (priority, year) grid first, then roll
    // up the tiny grid re-aggregating the partials: rollup/cube EXPAND
    // multiplies input rows by the number of grouping sets BEFORE the
    // aggregate, so at 100 TB the expand must see |grid| rows, not |fact|.
    QuerySpec("q27_rollup", (s, d) => {
      val grid = Tables(s, d, "orders")
        .groupBy(col("o_orderpriority"),
          year(col("o_orderdate")).cast("int").as("ano"))
        .agg(count(lit(1)).as("__n"), sum(dec(col("o_totalprice"))).as("__t"))
      grid.rollup(col("o_orderpriority"), col("ano"))
        .agg(sum(col("__n")).as("n_orders"),
          sum(col("__t")).cast("double").as("total"))
    },
      """SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS ano,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, ano)""".stripMargin),

    // CUBE (returnflag, linestatus) — same pre-aggregated shape.
    QuerySpec("q28_cube", (s, d) => {
      val grid = Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"), sum(dec(col("l_quantity"))).as("__q"))
      grid.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__n")).as("n_items"),
          sum(col("__q")).cast("double").as("sum_qty"))
    },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // GROUPING SETS via the SQL surface.
    QuerySpec("q29_grouping_sets", (s, d) => {
      Tables(s, d, "customer").createOrReplaceTempView("gs_customer")
      s.sql(
        """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
          |FROM gs_customer
          |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())""".stripMargin)
    },
      """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())""".stripMargin),

    // HLL sketch — approximate distinct. The raw sketch value is
    // engine-specific, so the oracle-checked columns are the EXACT
    // count plus an engine-agnostic accuracy verdict (relative error of
    // this engine's own sketch vs its own exact count < 10%). The
    // Spark sketch is configured at rsd=0.02 (1-sigma standard
    // deviation 2%; rsd=0.01 costs ~3x the time for headroom nobody
    // needs) and DuckDB's HLL measures ~1% on this data, so the 10%
    // verdict line gives both engines >=5-sigma headroom — a
    // deterministic true, not a coin flip (Spark's DEFAULT rsd of 0.05
    // equals a 5% line and flunks with ~32% probability; see VERDICT r4).
    QuerySpec("q30_approx_distinct", (s, d) =>
      Tables(s, d, "orders")
        .agg(
          approx_count_distinct(col("o_custkey"), 0.02).as("__approx"),
          countDistinct(col("o_custkey")).as("exact_custkeys"),
          count(lit(1)).as("n_orders"))
        .select(
          col("exact_custkeys"),
          (abs(col("__approx") - col("exact_custkeys")).cast("double") /
            col("exact_custkeys") < 0.10).as("approx_ok"),
          col("n_orders")),
      // each engine checks ITS OWN sketch against the shared exact count;
      // the compared values (exact count + verdict boolean) are
      // engine-agnostic because the 10% line sits >=5 sigma above both
      // engines' configured sketch error (Spark rsd=0.02, DuckDB ~1%)
      """SELECT COUNT(DISTINCT o_custkey) AS exact_custkeys,
        | abs(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey)) / CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) < 0.10 AS approx_ok,
        | COUNT(*) AS n_orders
        |FROM orders""".stripMargin),

    // exact interpolated percentiles; whole-number quantities make the
    // midpoint arithmetic exact in double on both engines.
    QuerySpec("q31_percentiles", (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty")),
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | MIN(l_quantity) AS min_qty,
        | MAX(l_quantity) AS max_qty
        |FROM lineitem GROUP BY 1""".stripMargin),

    // quantile sketch (approx_percentile) with an engine-agnostic
    // verdict. Quantile sketches bound RANK error, not value error, so
    // the verdict checks the guarantee they actually make: the fraction
    // of rows at or below the sketch's median must sit within 10% of
    // 0.5. Spark's accuracy=10000 bounds rank error at 1e-4 and
    // DuckDB's t-digest measures well under 1% — both clear the 10%
    // line with orders-of-magnitude margin (the q30 lesson: the verdict
    // threshold must sit far outside both engines' error specs). The
    // exact median itself is oracle-compared directly — whole-number
    // quantities make the interpolation midpoint exact in double.
    QuerySpec("q90_approx_quantile", (s, d) => {
      val li = Tables(s, d, "lineitem")
      val sk = li.agg(
        expr("percentile(l_quantity, 0.5)").as("exact_median"),
        expr("approx_percentile(l_quantity, 0.5, 10000)").cast("double").as("__approx"),
        count(lit(1)).as("n_items"))
      li.join(broadcast(sk))
        .agg(
          max(col("exact_median")).as("exact_median"),
          (abs(sum(when(col("l_quantity") <= col("__approx"), 1L).otherwise(0L))
            .cast("double") / max(col("n_items")).cast("double") - 0.5) < 0.10)
            .as("approx_rank_ok"),
          max(col("n_items")).as("n_items"))
    },
      // each engine verdicts ITS OWN quantile sketch by rank error — the
      // only cross-engine-comparable property of an approximate quantile
      """WITH sk AS (
        |  SELECT quantile_cont(l_quantity, 0.5) AS exact_median,
        |         CAST(approx_quantile(l_quantity, 0.5) AS DOUBLE) AS ap,
        |         COUNT(*) AS n_items
        |  FROM lineitem)
        |SELECT sk.exact_median,
        |       abs(CAST(SUM(CASE WHEN l_quantity <= sk.ap THEN 1 ELSE 0 END) AS DOUBLE)
        |           / sk.n_items - 0.5) < 0.10 AS approx_rank_ok,
        |       sk.n_items
        |FROM lineitem, sk
        |GROUP BY sk.exact_median, sk.n_items""".stripMargin),

    // Mergeable HLL rollup — the sketch property that makes 100 TB
    // distinct-count rollups cheap: per-group Datasketches HLL sketches
    // (the partials a pipeline would persist per day/partition) UNION-
    // merge into the global estimate WITHOUT rescanning the base data —
    // a COUNT(DISTINCT) rollup re-reads everything because distincts
    // don't add, but register-max sketch merge is exact (OlapSpec pins
    // merged estimate == direct-global estimate). The oracle-compared
    // columns follow the q30/q90 lesson: exact counts plus an
    // engine-agnostic "own sketch within 10%" verdict — Spark's
    // lgConfigK=12 sketch measures ~1.6% error and DuckDB's HLL ~1%,
    // so the 10% line sits >5 sigma out on both engines, a
    // deterministic true. The exact global countDistinct here exists
    // only to power the verdict, not the capability.
    QuerySpec("q92_hll_rollup", (s, d) => {
      val o = Tables(s, d, "orders")
      val per = o.groupBy(col("o_orderpriority").as("grp"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
          countDistinct(col("o_custkey")).as("exact_cd"))
      val perOut = per.select(col("grp"),
        col("exact_cd").as("exact_custkeys"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_cd")).cast("double") /
          col("exact_cd") < 0.10).as("approx_ok"))
      val globalOut = per
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("__ap"))
        .join(broadcast(o.agg(countDistinct(col("o_custkey")).as("exact_cd"))))
        .select(lit("(all)").as("grp"),
          col("exact_cd").as("exact_custkeys"),
          (abs(col("__ap") - col("exact_cd")).cast("double") /
            col("exact_cd") < 0.10).as("approx_ok"))
      perOut.unionAll(globalOut)
    },
      // each grain's verdict checks the engine's OWN sketch against the
      // shared exact count (q30 pattern); DuckDB has no mergeable-sketch
      // surface, so the merge property itself is pinned engine-side in
      // OlapSpec rather than oracle-compared
      """SELECT o_orderpriority AS grp,
        | COUNT(DISTINCT o_custkey) AS exact_custkeys,
        | abs(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey)) / CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) < 0.10 AS approx_ok
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT '(all)' AS grp,
        | COUNT(DISTINCT o_custkey) AS exact_custkeys,
        | abs(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey)) / CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) < 0.10 AS approx_ok
        |FROM orders""".stripMargin),

    // Incremental materialized-rollup maintenance — the EXACT sibling
    // of q92's sketch rollup: two disjoint batches are partial-
    // aggregated independently and the partials merged
    // (operators.IncrementalAgg — sum/count merge by addition, min/max
    // by themselves), which must equal the direct one-shot GROUP BY
    // the oracle computes. This is the algebra Catalog.maintainAgg
    // runs per refresh: per-batch cost is the batch plus the rollup
    // grid, the fact is NEVER rescanned (CatalogSpec covers the
    // on-disk maintenance loop; this query proves the merge algebra).
    // avg is derived sum/count at read — both engines divide the same
    // exact-decimal-sum-as-double by the same count.
    QuerySpec("q95_incremental_agg", (s, d) => {
      import graft.operators.IncrementalAgg
      import graft.operators.IncrementalAgg.AggSpec
      val keys = Seq("l_returnflag", "l_linestatus")
      val aggs = Seq(AggSpec("n_items", "count", "*"),
        AggSpec("sum_qty", "sum", "__qty"),
        AggSpec("min_qty", "min", "l_quantity"),
        AggSpec("max_qty", "max", "l_quantity"))
      val li = Tables(s, d, "lineitem")
        .withColumn("__qty", dec(col("l_quantity")))
      val b1 = li.filter(col("l_orderkey") % 2 === 0)
      val b2 = li.filter(col("l_orderkey") % 2 =!= 0)
      IncrementalAgg.merge(
          IncrementalAgg.partial(b1, keys, aggs),
          IncrementalAgg.partial(b2, keys, aggs), keys, aggs)
        .select(col("l_returnflag"), col("l_linestatus"), col("n_items"),
          col("sum_qty").cast("double").as("sum_qty"),
          (col("sum_qty").cast("double") / col("n_items")).as("avg_qty"),
          col("min_qty"), col("max_qty"))
    },
      // the oracle is the direct one-shot aggregate the incremental
      // partial-merge must equal exactly
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | MIN(l_quantity) AS min_qty,
        | MAX(l_quantity) AS max_qty
        |FROM lineitem
        |GROUP BY 1, 2""".stripMargin),

    // EXACT heavy hitters through the native Misra-Gries sketch +
    // exact re-count (operators.FrequentItems): candidates come from
    // an O(k)-state aggregate (never a full-cardinality shuffle), the
    // verify pass makes the answer exact, so plain GROUP BY/HAVING is
    // a valid oracle. Skew is PLANTED (20% of rows split over 3 hot
    // keys ≈ 6.6% each vs the 5% support line; cold keys are per-order
    // noise far below it) so the result is non-empty with wide margin
    // at every SF — no boundary coin-flips (the q30 lesson).
    QuerySpec("q87_heavy_hitters", (s, d) => {
      val keyed = Tables(s, d, "lineitem").select(
        when(col("l_orderkey") % 5 === 0,
          concat(lit("hot_"), col("l_orderkey") % 3))
          .otherwise(concat(lit("cold_"), col("l_orderkey"))).as("item"))
      graft.operators.FrequentItems.exactHeavyHitters(keyed, "item", 0.05)
    },
      // the Spark side's sketch pass only PRUNES candidates; the verify
      // pass is exact, so the oracle is the direct definition. The HAVING
      // threshold multiplies the same IEEE double (0.05 * n) on both
      // engines — and the planted counts sit far from the line anyway.
      """WITH t AS (
        |  SELECT CASE WHEN l_orderkey % 5 = 0
        |              THEN 'hot_' || CAST(l_orderkey % 3 AS VARCHAR)
        |              ELSE 'cold_' || CAST(l_orderkey AS VARCHAR) END AS item
        |  FROM lineitem),
        |n AS (SELECT COUNT(*) AS n FROM t)
        |SELECT item, COUNT(*) AS cnt
        |FROM t, n
        |GROUP BY item, n.n
        |HAVING CAST(COUNT(*) AS DOUBLE) >= CAST(n.n AS DOUBLE) * 0.05""".stripMargin),

    // skew-aware join — must produce exactly the plain-join result.
    // Adaptive: hot keys (sampled estimate > threshold) take the salted
    // path, everything else an ordinary hash join — on this uniform
    // corpus the hot set is empty and the whole join takes the plain
    // path, which is precisely the operator's contract (always-salting
    // pays buckets× shuffle volume to fix skew that isn't there; the
    // forced-salt primitive is covered by OlapSpec's planted-skew test).
    QuerySpec("q32_salted_join", (s, d) => {
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = Tables(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      SkewJoin.adaptiveSaltedJoin(li, o, Seq("l_orderkey"), buckets = 8,
        hotRowThreshold = 10000, sampleFraction = 0.01)
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice"))).cast("double").as("total"))
    },
      """SELECT l_orderkey, o_orderpriority,
        | COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),

    // grouped top-k through the native mergeable k-heap aggregate
    // (expressions.TopKStrings): per returnflag, the 8 best order keys
    // by (quantity desc, key asc). The window form the oracle uses
    // shuffles AND sorts every lineitem row; the aggregate's map-side
    // partials each carry at most k pairs per group (PlanSpec pins the
    // no-Window/no-Sort plan). Payloads are zero-padded so STRING rank
    // order == numeric order on both engines — the tie-break is part
    // of the operator's determinism contract, so the oracle must rank
    // by the exact same total order.
    QuerySpec("q98_group_topk", (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(array_join(graft.expressions.TopKStrings.topk(
          col("l_quantity").cast("long"),
          lpad(col("l_orderkey").cast("string"), 10, "0"), 8), ",")
          .as("top_keys")),
      // the direct window definition — rank by the same (quantity desc,
      // zero-padded key asc) total order the aggregate uses, then emit in
      // rank order. Duplicate (q, key) rows at the cut line carry
      // identical content, so row_number's arbitrary choice between them
      // cannot change the output.
      """WITH r AS (
        |  SELECT l_returnflag,
        |         lpad(CAST(l_orderkey AS VARCHAR), 10, '0') AS pk,
        |         l_quantity AS q,
        |         row_number() OVER (
        |           PARTITION BY l_returnflag
        |           ORDER BY l_quantity DESC,
        |                    lpad(CAST(l_orderkey AS VARCHAR), 10, '0')) AS rn
        |  FROM lineitem)
        |SELECT l_returnflag, string_agg(pk, ',' ORDER BY q DESC, pk) AS top_keys
        |FROM r WHERE rn <= 8
        |GROUP BY 1""".stripMargin)
  )
}
