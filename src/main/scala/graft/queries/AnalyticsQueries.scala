package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.{AssocRules, Dedup, Expectations, Graph, ItemSimilarity, SpatialJoin, StatTests}

/** Round-9 analytics additions: iterative graph ranking, exact FIFO
  * allocation, grid-bucketed spatial join, and the declarative
  * expectation suite — each an operator family a warehouse-scale
  * engine is expected to carry, each with an exact DuckDB twin.
  *
  * Oracle-determinism rules as everywhere (CoreQueries): BIGINT /
  * DECIMAL arithmetic inside, floor division only on positive
  * operands (`div` / `//` then agree), unique-key tie-breaks on every
  * ranking, no DECIMAL or engine-formatted value in result schemas.
  */
object AnalyticsQueries {

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables(s, d, name)

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** q124 PageRank integer grid (shared by Spark + oracle SQL). */
  private val PrScale = 1000000000L
  private val PrIters = 3
  private val PrTopK = 20

  /** q149 neighbor-table shape (shared by Spark + oracle SQL). */
  private val ItemSimK = 5
  private val ItemSimMinPair = 3L

  /** q126 grid geometry (shared by Spark + oracle SQL): one M×M tile
    * per replica key block, so point density — and with it pair and
    * candidate counts — scales linearly with the corpus instead of
    * quadratically in a fixed space. */
  private val GridM = 17159L
  private val GridR = 50L

  /** q126/q137 shared synthetic point cloud. Quadratic congruential
    * mixing, not a plain LCG: custkeys are CONSECUTIVE, so linear maps
    * put every pairwise difference on a fixed 2-D lattice (measured:
    * zero pairs); the b² term makes a pair's offset depend on b_i +
    * b_j and the scatter behaves like the uniform model (~30 pairs at
    * sf0.01, ~3000 at sf0.1, simulation-checked). b is the
    * within-replica key (base keys < 10⁵, replica shifts are
    * 10⁹-multiples), keeping b²·101 far from 2⁶³ under ANSI
    * arithmetic. */
  private def gridPts(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(
      col("c_custkey").as("id"),
      (expr("(c_custkey % 100000) * (c_custkey % 100000) * 37 + " +
        "(c_custkey % 100000) * 1103515245 + 12345") % GridM +
        expr(s"(c_custkey div 1000000000) * $GridM")).as("x"),
      (expr("(c_custkey % 100000) * (c_custkey % 100000) * 101 + " +
        "(c_custkey % 100000) * 69069 + 1") % GridM +
        expr(s"(c_custkey div 1000000000) * $GridM")).as("y"))

  /** q137 planted dense triples: pairwise within GridR inside each
    * triple, far apart across triples, ids above any replica-shifted
    * custkey (≤ ~10¹¹). */
  private val PlantedTriples: Seq[(Long, Long, Long)] = Seq(
    (900000000000000001L, 100L, 100L),
    (900000000000000002L, 120L, 100L),
    (900000000000000003L, 100L, 130L),
    (900000000000000004L, 5000L, 5000L),
    (900000000000000005L, 5030L, 5000L),
    (900000000000000006L, 5000L, 5040L),
    (900000000000000007L, 9000L, 9000L),
    (900000000000000008L, 9049L, 9000L),
    (900000000000000009L, 9000L, 9001L))

  private val duckPlanted: String =
    PlantedTriples.map { case (id, x, y) => s"($id, $x, $y)" }.mkString(", ")

  /** The same point cloud as a DuckDB CTE body (the oracle twin of
    * [[gridPts]]). */
  private val duckGridPts: String =
    s"""SELECT c_custkey AS id,
       |       ((c_custkey % 100000) * (c_custkey % 100000) * 37 +
       |        (c_custkey % 100000) * 1103515245 + 12345) % $GridM +
       |         (c_custkey // 1000000000) * $GridM AS x,
       |       ((c_custkey % 100000) * (c_custkey % 100000) * 101 +
       |        (c_custkey % 100000) * 69069 + 1) % $GridM +
       |         (c_custkey // 1000000000) * $GridM AS y
       |FROM customer""".stripMargin

  def specs: Seq[QuerySpec] = Seq(

    // PageRank over the q111 co-order part graph (same 1/3 basket
    // sample, same edge build), 3 unrolled iterations on an integer
    // rank grid — operators.Graph.pageRank replays bit-identically on
    // any engine because every step is BIGINT sums and positive floor
    // divisions. Top-20 by (rank desc, part) — unique-key tie-break
    // makes the LIMIT selection deterministic.
    QuerySpec("q124_pagerank", (s, d) => {
      // r18: in-array co-order edge build (Baskets.coOrderEdges) —
      // identical edge set, one exchange less than the self-join form
      val e0 = graft.operators.Baskets.coOrderEdges(
        t(s, d, "lineitem")
          .filter(col("l_orderkey") % 3 === 0)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
      Graph.pageRank(e0, iters = PrIters, scale = PrScale)
        .orderBy(col("r").desc, col("p"))
        .limit(PrTopK)
        .select(
          row_number().over(Window.orderBy(col("r").desc, col("p")))
            .cast("int").as("rank"),
          col("p"), col("r"))
    },
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |           FROM lineitem WHERE l_orderkey % 3 = 0),
         |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
         |       FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
         |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
         |deg AS (SELECT a AS p, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
         |r_0 AS (SELECT p, $PrScale // n.n AS r FROM deg CROSS JOIN n),
         |${prIter("0", "1")},
         |${prIter("1", "2")},
         |${prIter("2", "3")}
         |SELECT CAST(row_number() OVER (ORDER BY r DESC, p) AS INT) AS rank, p,
         |       CAST(r AS BIGINT) AS r
         |FROM r_$PrIters ORDER BY r DESC, p LIMIT $PrTopK""".stripMargin),

    // FIFO allocation (the classic ledger waterfall): spread half of
    // each order's total across its lineitems in line order, each
    // line taking min(its gross, remaining credit). Pure window
    // arithmetic in exact integer cents — one shuffle on the order
    // key shared by the window and the join.
    QuerySpec("q125_fifo_alloc", (s, d) => {
      val credit = t(s, d, "orders")
        .filter(col("o_custkey") < 300)
        .select(col("o_orderkey").as("l_orderkey"),
          expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) div 2")
            .as("credit"))
      // l_linenumber is NOT unique per order in the driver testdata —
      // ties break on gross, which is output-deterministic: rows tying
      // on BOTH window keys emit interchangeable (key, alloc) rows, so
      // the sorted result multiset is engine-invariant either way
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("gross"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // join BEFORE the window: the window partitions by l_orderkey,
      // so pruning whole orders first is result-identical — and the
      // window then runs over the selected orders' lines instead of
      // the full fact table (measured the difference at the 100×
      // decade, where the credit filter keeps 1% of orders)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (dec(col("l_extendedprice")) * 100).cast("bigint").as("gross"))
        .join(broadcast(credit), "l_orderkey")
        .withColumn("prev", coalesce(sum(col("gross")).over(w), lit(0L)))
        .select(col("l_orderkey"), col("l_linenumber"),
          greatest(lit(0L), least(col("gross"), col("credit") - col("prev")))
            .as("alloc_cents"))
    },
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS gross
        |  FROM lineitem),
        |w AS (
        |  SELECT l_orderkey, l_linenumber, gross,
        |         COALESCE(SUM(gross) OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber, gross
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM li),
        |o AS (
        |  SELECT o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 2 AS credit
        |  FROM orders WHERE o_custkey < 300)
        |SELECT w.l_orderkey, w.l_linenumber,
        |       CAST(GREATEST(0, LEAST(w.gross, o.credit - w.prev)) AS BIGINT) AS alloc_cents
        |FROM w JOIN o ON w.l_orderkey = o.o_orderkey""".stripMargin),

    // grid-bucketed spatial neighbor join: customers on a synthetic
    // integer grid (LCG coordinates — deterministic, engine-exact),
    // one M×M tile per replica key block; operators.SpatialJoin finds
    // all pairs within L2 radius R through 3×3 cell buckets — the
    // oracle is the honest brute-force cross join (viable at oracle
    // scale, nonexistent at engine scale).
    QuerySpec("q126_grid_neighbors", (s, d) =>
      SpatialJoin.neighborPairs(gridPts(s, d), GridR),
      s"""WITH pts AS ($duckGridPts)
         |SELECT a.id AS a_id, b.id AS b_id,
         |       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
         |FROM pts a JOIN pts b ON a.id < b.id
         |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |      <= $GridR * $GridR""".stripMargin),

    // declarative data-quality expectation suite over orders: four
    // row-level rules folded into ONE aggregate pass, a uniqueness
    // rule (one groupBy), and referential integrity against customer
    // (one anti-join) — operators.Expectations. Rule thresholds are
    // chosen so both zero and non-zero violation counts appear.
    QuerySpec("q127_expectations", (s, d) => {
      val orders = t(s, d, "orders").withColumn("price_cents",
        (dec(col("o_totalprice")) * 100).cast("bigint"))
      Expectations.check(orders, Seq(
        Expectations.NotNull("o_orderkey_not_null", "o_orderkey"),
        Expectations.InRange("o_totalprice_cents_range", "price_cents", 1L, 30000000L),
        Expectations.InSet("o_orderstatus_in_set", "o_orderstatus", Seq("O", "F")),
        Expectations.Matches("o_orderpriority_format", "o_orderpriority", "^[1-3]-[A-Z ]+$"),
        Expectations.Unique("o_orderkey_unique", Seq("o_orderkey")),
        Expectations.RefIntegrity("o_custkey_ref_customer", "o_custkey",
          t(s, d, "customer"), "c_custkey")))
    },
      """WITH o AS (
        |  SELECT *, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT 'o_orderkey_not_null' AS rule,
        |       CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS violations
        |FROM o
        |UNION ALL
        |SELECT 'o_totalprice_cents_range',
        |       CAST(COUNT(CASE WHEN price_cents IS NOT NULL
        |                        AND (price_cents < 1 OR price_cents > 30000000)
        |                       THEN 1 END) AS BIGINT)
        |FROM o
        |UNION ALL
        |SELECT 'o_orderstatus_in_set',
        |       CAST(COUNT(CASE WHEN o_orderstatus IS NOT NULL
        |                        AND o_orderstatus NOT IN ('O', 'F')
        |                       THEN 1 END) AS BIGINT)
        |FROM o
        |UNION ALL
        |SELECT 'o_orderpriority_format',
        |       CAST(COUNT(CASE WHEN o_orderpriority IS NOT NULL
        |                        AND NOT regexp_matches(o_orderpriority, '^[1-3]-[A-Z ]+$')
        |                       THEN 1 END) AS BIGINT)
        |FROM o
        |UNION ALL
        |SELECT 'o_orderkey_unique',
        |       CAST(COALESCE((SELECT SUM(c - 1) FROM (
        |         SELECT COUNT(*) AS c FROM o GROUP BY o_orderkey HAVING COUNT(*) > 1)), 0)
        |         AS BIGINT)
        |UNION ALL
        |SELECT 'o_custkey_ref_customer',
        |       CAST(COUNT(CASE WHEN o_custkey IS NOT NULL
        |                        AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        |                       THEN 1 END) AS BIGINT)
        |FROM o""".stripMargin),

    // sorted-neighborhood dedup (Hernández–Stolfo) over customer
    // names: block on the 16-char name prefix, slide a 5-wide window
    // over the (name, id)-sorted order, verify neighbors exactly with
    // Levenshtein ≤ 2 — the record-linkage classic for short strings
    // where shingle-based MinHash can't discriminate. One shuffle on
    // the block key; candidates ≤ w·n by construction.
    QuerySpec("q129_sorted_neighborhood", (s, d) =>
      Dedup.sortedNeighborhoodPairs(
        t(s, d, "customer").select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name",
        v => substring(v, 1, 16), w = 5, maxDist = 2),
      """WITH b AS (
        |  SELECT c_custkey AS id, c_name AS v, substring(c_name, 1, 16) AS blk
        |  FROM customer),
        |w AS (
        |  SELECT id, v,
        |         lead(id, 1) OVER win AS nid1, lead(v, 1) OVER win AS nv1,
        |         lead(id, 2) OVER win AS nid2, lead(v, 2) OVER win AS nv2,
        |         lead(id, 3) OVER win AS nid3, lead(v, 3) OVER win AS nv3,
        |         lead(id, 4) OVER win AS nid4, lead(v, 4) OVER win AS nv4,
        |         lead(id, 5) OVER win AS nid5, lead(v, 5) OVER win AS nv5
        |  FROM b WINDOW win AS (PARTITION BY blk ORDER BY v, id))
        |SELECT a_id, b_id, CAST(dist AS INT) AS dist FROM (
        |  SELECT id AS a_id, nid1 AS b_id, levenshtein(v, nv1) AS dist FROM w WHERE nid1 IS NOT NULL
        |  UNION ALL
        |  SELECT id, nid2, levenshtein(v, nv2) FROM w WHERE nid2 IS NOT NULL
        |  UNION ALL
        |  SELECT id, nid3, levenshtein(v, nv3) FROM w WHERE nid3 IS NOT NULL
        |  UNION ALL
        |  SELECT id, nid4, levenshtein(v, nv4) FROM w WHERE nid4 IS NOT NULL
        |  UNION ALL
        |  SELECT id, nid5, levenshtein(v, nv5) FROM w WHERE nid5 IS NOT NULL)
        |WHERE dist <= 2""".stripMargin),

    // A/B conversion readout: unit = user, success = a heavy buyer
    // (≥ 14 purchase events — the per-user mean; "≥ 1 purchase" is
    // degenerate here, every user qualifies and the pooled variance
    // collapses to 0), variant = user_id parity. Exact counts out
    // of one per-user aggregate + one tiny group aggregate; the z²
    // statistic is one fixed IEEE-double expression tree over four
    // BIGINTs — bit-identical on any engine (StatTests Scaladoc).
    QuerySpec("q130_ab_test", (s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .geq(14), 1).otherwise(0)
          .as("converted"))
        .withColumn("variant", (col("user_id") % 2).cast("int"))
      StatTests.twoProportionZ(perUser, "variant", "converted")
    },
      """WITH pu AS (
        |  SELECT user_id,
        |         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |              THEN 1 ELSE 0 END AS converted,
        |         CAST(user_id % 2 AS INT) AS variant
        |  FROM events GROUP BY user_id),
        |g AS (SELECT variant AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(converted) AS BIGINT) AS x
        |      FROM pu GROUP BY 1),
        |a AS (SELECT * FROM g ORDER BY grp LIMIT 1),
        |b AS (SELECT * FROM g ORDER BY grp DESC LIMIT 1),
        |s AS (SELECT a.grp AS grp_a, b.grp AS grp_b,
        |             a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
        |      FROM a CROSS JOIN b),
        |z AS (SELECT *,
        |        CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b
        |             THEN CAST(0 AS DOUBLE) ELSE
        |        ((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |           - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |         * (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |             - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
        |        / (((CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
        |              / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |            * (CAST(1.0 AS DOUBLE)
        |               - (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
        |                   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))))
        |           * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |              + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) END AS z2
        |      FROM s)
        |SELECT grp_a, grp_b, n_a, x_a, n_b, x_b, z2,
        |       z2 > 3.841458820694124 AS significant
        |FROM z""".stripMargin),

    // association rules over order baskets at the brand level
    // ("orders containing brand A also contain brand B"): support /
    // confidence / lift on an integer e6 grid. Output is bounded by
    // the brand vocabulary (≤ |brands|² rules) no matter the corpus
    // size; candidate pairs are basket-size-bounded (never all-pairs).
    QuerySpec("q131_brand_rules", (s, d) => {
      val baskets = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(t(s, d, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      AssocRules.mine(baskets, minSupport = 20)
    },
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS bk, p_brand AS it
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |itemn AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS n FROM bi GROUP BY 1),
        |bn AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS baskets FROM bi),
        |pairn AS (
        |  SELECT x.it AS ia, y.it AS ib, CAST(COUNT(*) AS BIGINT) AS pair_n
        |  FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 20),
        |rules AS (SELECT ia AS a, ib AS b, pair_n FROM pairn
        |          UNION ALL SELECT ib, ia, pair_n FROM pairn)
        |SELECT r.a, r.b, r.pair_n, na.n AS a_n, nb.n AS b_n,
        |       r.pair_n * 1000000 // na.n AS confidence_e6,
        |       (r.pair_n * 1000000 // na.n) * bn.baskets // nb.n AS lift_e6
        |FROM rules r
        |JOIN itemn na ON na.it = r.a
        |JOIN itemn nb ON nb.it = r.b
        |CROSS JOIN bn""".stripMargin),

    // chi-square independence: is order priority independent of order
    // status? One groupBy produces the 15-cell contingency; marginals
    // derive from the cell table (window sums over a tiny frame); the
    // statistic is an order-invariant INTEGER sum of quantized cell
    // terms (StatTests Scaladoc).
    QuerySpec("q132_chi_square", (s, d) =>
      StatTests.chiSquare(t(s, d, "orders"), "o_orderpriority", "o_orderstatus"),
      """WITH cells AS (
        |  SELECT o_orderpriority AS va, o_orderstatus AS vb,
        |         CAST(COUNT(*) AS BIGINT) AS o
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT o,
        |        SUM(o) OVER (PARTITION BY va) AS row_n,
        |        SUM(o) OVER (PARTITION BY vb) AS col_n,
        |        SUM(o) OVER () AS n
        |      FROM cells),
        |c AS (SELECT n, row_n * col_n // n AS e_q, o FROM m),
        |t AS (SELECT n, (o - e_q) * (o - e_q) * 100 // GREATEST(1, e_q) AS cell_e2 FROM c)
        |SELECT CAST(SUM(cell_e2) AS BIGINT) AS chi2_e2,
        |       CAST(COUNT(*) AS BIGINT) AS cells,
        |       CAST(MAX(n) AS BIGINT) AS n
        |FROM t""".stripMargin),

    // multi-source BFS: exact hop distance (≤ 3) from the seed parts
    // (p_partkey % 97 = 0) over the q111/q124 co-order graph — the
    // "blast radius" query. Static 3-hop unrolled pipeline, one hash
    // join + one min-aggregate per hop, edge list materialized once.
    QuerySpec("q133_bfs_hops", (s, d) => {
      // r18: in-array co-order edge build (see q124)
      val e0 = graft.operators.Baskets.coOrderEdges(
        t(s, d, "lineitem")
          .filter(col("l_orderkey") % 3 === 0)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
      val seeds = t(s, d, "part")
        .filter(col("p_partkey") % 97 === 0).select(col("p_partkey"))
      Graph.bfs(e0, seeds, maxHops = 3)
    },
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |           FROM lineitem WHERE l_orderkey % 3 = 0),
         |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
         |       FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
         |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
         |d_0 AS (SELECT DISTINCT p_partkey AS p, CAST(0 AS INT) AS dist
         |        FROM part WHERE p_partkey % 97 = 0),
         |${bfsHop("0", "1", 1)},
         |${bfsHop("1", "2", 2)},
         |${bfsHop("2", "3", 3)}
         |SELECT p, dist FROM d_3""".stripMargin),

    // bounded-hop WEIGHTED shortest path (distributed Bellman–Ford,
    // the tropical-semiring generalization of q133's BFS): exact
    // minimum path weight within 3 hops from the seed parts over a
    // 1/7-sample co-order graph. Edge weights are a deterministic
    // integer mix of the endpoint keys — engine-exact, and mirrored
    // literally in the oracle. Each round is one hash join of the
    // pre-partitioned edge list with the vertex-sized dist table plus
    // one min-aggregate; BIGINT min/+ replays bit-identically.
    QuerySpec("q147_weighted_path", (s, d) => {
      // r18: in-array co-order edge build (see q124)
      val e0 = graft.operators.Baskets.coOrderEdges(
        t(s, d, "lineitem")
          .filter(col("l_orderkey") % 7 === 0)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
        .withColumn("w", expr("(a * 7 + b * 13) % 97 + 1").cast("long"))
      val seeds = t(s, d, "part")
        .filter(col("p_partkey") % 89 === 0).select(col("p_partkey"))
      Graph.weightedHops(e0, seeds, maxHops = 3)
    },
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |           FROM lineitem WHERE l_orderkey % 7 = 0),
         |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
         |       FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
         |ew AS (SELECT a, b, CAST((a * 7 + b * 13) % 97 + 1 AS BIGINT) AS w
         |       FROM e0),
         |e AS (SELECT a, b, w FROM ew UNION ALL SELECT b, a, w FROM ew),
         |w_0 AS (SELECT DISTINCT p_partkey AS p, CAST(0 AS BIGINT) AS dist
         |        FROM part WHERE p_partkey % 89 = 0),
         |${whopRound("0", "1")},
         |${whopRound("1", "2")},
         |${whopRound("2", "3")}
         |SELECT p, dist FROM w_3""".stripMargin),

    // item-item collaborative filtering: top-5 cosine neighbors per
    // supplier over order-basket co-occurrence — the recommender
    // counterpart of q131's directional rules (operators.
    // ItemSimilarity: same ONE basket-key shuffle + in-array pair
    // generation, then a normalized symmetric ranking instead of
    // confidence/lift). Squared cosine on the e6 grid is pure
    // positive-BIGINT floor division, so the ranking replays
    // bit-identically; (score desc, pair_n desc, neighbor) is a
    // unique-key tie-break.
    QuerySpec("q149_item_cosine", (s, d) =>
      ItemSimilarity.topNeighbors(
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
        k = ItemSimK, minPair = ItemSimMinPair),
      s"""WITH e AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS it
         |           FROM lineitem),
         |n AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
         |pr AS (SELECT x.it AS ia, y.it AS ib,
         |              CAST(COUNT(*) AS BIGINT) AS pair_n
         |       FROM e x JOIN e y ON x.bk = y.bk AND x.it < y.it
         |       GROUP BY 1, 2 HAVING COUNT(*) >= $ItemSimMinPair),
         |r AS (SELECT ia AS item, ib AS neighbor, pair_n FROM pr
         |      UNION ALL SELECT ib, ia, pair_n FROM pr),
         |sc AS (SELECT r.item, r.neighbor, r.pair_n, na.n AS a_n,
         |              nb.n AS b_n,
         |              CAST((r.pair_n * 1000000 // na.n) * r.pair_n // nb.n
         |                   AS BIGINT) AS score_e6
         |       FROM r JOIN n na ON na.it = r.item
         |              JOIN n nb ON nb.it = r.neighbor)
         |SELECT item, neighbor, pair_n, a_n, b_n, score_e6, rn FROM (
         |  SELECT sc.*, CAST(row_number() OVER (PARTITION BY item
         |           ORDER BY score_e6 DESC, pair_n DESC, neighbor) AS INT)
         |         AS rn
         |  FROM sc)
         |WHERE rn <= $ItemSimK""".stripMargin),

    // k-NN majority-vote classification over the embedding corpus:
    // for each query vector, the 7 nearest neighbors by exact cosine
    // vote on their labels; ties break to the smallest label.
    // Broadcast queries × corpus scan (the q23 brute-force path) + one
    // tiny vote aggregate. The query set is BOUNDED to the base key
    // space (vec_id < 10⁹ excludes the decade replicas' shifted ids):
    // a fixed classification workload over a growing corpus is the
    // honest scale shape — letting queries grow with the corpus makes
    // brute force quadratic (measured 21× for 10× data before the
    // bound; the scale path for a growing query set is IVF/LSH, q24/
    // q67, not this operator).
    QuerySpec("q134_knn_vote", (s, d) => {
      val emb = t(s, d, "embeddings")
      val nn = graft.operators.Similarity.bruteForceTopK(
        emb,
        emb.filter(col("vec_id") % 251 === 0 && col("vec_id") < 1000000000L),
        "vec_id", "embedding", k = 7)
      val votes = nn
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
          "neighbor_id")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("votes").desc, col("label"))
      votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("query_id"), col("label").as("pred_label"), col("votes"))
    },
      s"""WITH p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCos AS cos
         |  FROM embeddings a, embeddings b, generate_series(1, 64) i(i)
         |  WHERE a.vec_id % 251 = 0 AND a.vec_id < 1000000000
         |    AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |nn AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM p) WHERE rank <= 7),
         |v AS (SELECT nn.query_id, e.label, CAST(COUNT(*) AS BIGINT) AS votes
         |      FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
         |      GROUP BY 1, 2)
         |SELECT query_id, label AS pred_label, votes FROM (
         |  SELECT query_id, label, votes,
         |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rk
         |  FROM v) WHERE rk = 1""".stripMargin),

    // density-based spatial clustering: single-linkage components of
    // the within-R neighbor graph (the q126 grid join feeding the q56
    // min-label propagation), keeping clusters of ≥ 3 points —
    // isolated points and pairs are noise. Three dense triples are
    // PLANTED at fixed coordinates (the planted-victim pattern: q24's
    // scaled copies, q94's shared suffixes) so the operator has
    // guaranteed detections at every scale factor; organic clusters
    // join them as density grows. The composition IS the point: the
    // grid join bounds candidates, dupClusters bounds rounds by
    // cluster diameter, and the oracle replays the closure with a
    // recursive CTE.
    QuerySpec("q137_density_clusters", (s, d) => {
      import s.implicits._
      val planted = PlantedTriples.map { case (id, x, y) => (id, x, y) }
        .toDF("id", "x", "y")
      val pairs = SpatialJoin.neighborPairs(
        gridPts(s, d).unionAll(planted), GridR)
      val labels = graft.operators.Dedup.dupClusters(
        pairs.select(col("a_id"), col("b_id")))
      val wc = Window.partitionBy(col("cluster_rep"))
      labels.select(col("id"), col("rep").as("cluster_rep"))
        .withColumn("cluster_size", count(lit(1)).over(wc))
        .filter(col("cluster_size") >= 3)
    },
      s"""WITH RECURSIVE pts AS (
         |  $duckGridPts
         |  UNION ALL
         |  SELECT CAST(id AS BIGINT), CAST(x AS BIGINT), CAST(y AS BIGINT)
         |  FROM (VALUES $duckPlanted) v(id, x, y)),
         |pairs AS (
         |  SELECT a.id AS a_id, b.id AS b_id
         |  FROM pts a JOIN pts b ON a.id < b.id
         |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |        <= $GridR * $GridR),
         |e AS (SELECT a_id AS x, b_id AS y FROM pairs
         |      UNION SELECT b_id, a_id FROM pairs),
         |walk(a, b) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM e)
         |  UNION
         |  SELECT walk.a, e.y FROM walk JOIN e ON walk.b = e.x),
         |rep AS (SELECT a AS id, MIN(b) AS cluster_rep FROM walk GROUP BY 1),
         |sized AS (SELECT id, cluster_rep,
         |            CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
         |              AS cluster_size
         |          FROM rep)
         |SELECT id, cluster_rep, cluster_size FROM sized
         |WHERE cluster_size >= 3""".stripMargin),

    // integer-exact distributed k-means (k=4, 2 Lloyd iterations) over
    // the first 16 embedding dims on a 1e3 quantization grid —
    // operators.KMeans: assignment is a pure map (centroids ride as
    // one collected row), each update is ONE k-group VecSumLong
    // aggregate; the whole trajectory is BIGINT-exact so the oracle
    // replays it relationally. Report: per-cluster size, inertia, and
    // centroid component sum (pins the exact centroids scalar-wise).
    QuerySpec("q136_kmeans", (s, d) => {
      val pts = t(s, d, "embeddings").select(
        col("vec_id"),
        expr("transform(slice(embedding, 1, 16), " +
          "x -> cast(floor(cast(x as double) * 1000) as bigint))").as("q"))
      graft.operators.KMeans.fit(pts, "vec_id", "q", k = 4, iters = 2)
    },
      s"""WITH pts AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding[1:16],
         |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |c_0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid,
         |               q AS vec
         |        FROM (SELECT id, q FROM pts ORDER BY id LIMIT 4)),
         |${kmIter("0", "1")},
         |${kmIter("1", "2")},
         |a_f AS (
         |  SELECT p.id, c.cid,
         |         SUM((p.q[i.i] - c.vec[i.i]) * (p.q[i.i] - c.vec[i.i])) AS dst
         |  FROM pts p CROSS JOIN c_2 c CROSS JOIN generate_series(1, 16) i(i)
         |  GROUP BY 1, 2),
         |s_f AS (SELECT id, cid, dst,
         |          row_number() OVER (PARTITION BY id ORDER BY dst, cid) AS rk
         |        FROM a_f),
         |rep AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
         |               CAST(SUM(dst) AS BIGINT) AS inertia
         |        FROM s_f WHERE rk = 1 GROUP BY 1)
         |SELECT rep.cid, rep.n_points, rep.inertia,
         |       CAST(list_aggregate(c_2.vec, 'sum') AS BIGINT) AS centroid_sum
         |FROM rep JOIN c_2 ON c_2.cid = rep.cid""".stripMargin),

    // RFM segmentation (recency / frequency / monetary), the classic
    // customer-base cut: per customer, days since last order (anchored
    // to the corpus max date — data-internal, regeneration-proof),
    // order count, and lifetime cents; each scored into WITHIN-NATION
    // quintiles (ntile partitioned by market — quantile semantics AND
    // partition-parallel; a global ntile is a single-partition sort).
    // ntile ties break on the customer key → total order, engine-exact.
    QuerySpec("q139_rfm", (s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey"),
        // o_orderdate is TIMESTAMP_NTZ: diff against the NTZ epoch literal
        // (pure calendar arithmetic — the Tables.events idiom)
        expr("timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)")
          .as("day"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)").as("cents"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("f_raw"), sum(col("cents")).as("m_raw"))
        .crossJoin(broadcast(o.agg(max(col("day")).as("anchor"))))
        .withColumn("r_raw", col("anchor") - col("last_day"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      def quint(c: String, asc: Boolean) = ntile(5).over(
        Window.partitionBy(col("c_nationkey"))
          .orderBy(if (asc) col(c).asc else col(c).desc, col("c_custkey")))
      per.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_nationkey"),
          // recency: smaller = better = score bucket 1
          quint("r_raw", asc = true).as("r_score"),
          quint("f_raw", asc = false).as("f_score"),
          quint("m_raw", asc = false).as("m_score"))
        .withColumn("segment",
          expr("cast(r_score * 100 + f_score * 10 + m_score as int)"))
    },
      """WITH o AS (
        |  SELECT o_custkey,
        |         epoch_ns(o_orderdate) // 1000 // 86400000000 AS day,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |per AS (SELECT o_custkey, MAX(day) AS last_day,
        |               CAST(COUNT(*) AS BIGINT) AS f_raw,
        |               CAST(SUM(cents) AS BIGINT) AS m_raw
        |        FROM o GROUP BY 1),
        |anch AS (SELECT MAX(day) AS anchor FROM o),
        |j AS (SELECT c.c_custkey, c.c_nationkey,
        |             anch.anchor - per.last_day AS r_raw, per.f_raw, per.m_raw
        |      FROM per JOIN customer c ON c.c_custkey = per.o_custkey
        |      CROSS JOIN anch),
        |sc AS (SELECT c_custkey, c_nationkey,
        |         CAST(ntile(5) OVER (PARTITION BY c_nationkey
        |           ORDER BY r_raw ASC, c_custkey) AS INT) AS r_score,
        |         CAST(ntile(5) OVER (PARTITION BY c_nationkey
        |           ORDER BY f_raw DESC, c_custkey) AS INT) AS f_score,
        |         CAST(ntile(5) OVER (PARTITION BY c_nationkey
        |           ORDER BY m_raw DESC, c_custkey) AS INT) AS m_score
        |       FROM j)
        |SELECT c_custkey, c_nationkey, r_score, f_score, m_score,
        |       CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS segment
        |FROM sc""".stripMargin),

    // ABC / Pareto classification per brand: rank parts by revenue
    // within their brand, class A while the running share ≤ 80% of
    // the brand total, B to 95%, else C — exact integer
    // cross-multiplication (cum·100 vs pct·total), no percentages
    // materialized. Brand partitions keep the cumulative windows
    // parallel (a global Pareto cut is a single-partition sort).
    QuerySpec("q140_abc_pareto", (s, d) => {
      val rev = t(s, d, "lineitem")
        .select(col("l_partkey"),
          expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)").as("cents"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev_cents"))
        .join(t(s, d, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("rev_cents").desc, col("p_partkey"))
      val wt = Window.partitionBy(col("p_brand"))
      rev
        .withColumn("cum", sum(col("rev_cents")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(col("rev_cents")).over(wt))
        .select(col("p_partkey"), col("p_brand"), col("rev_cents"),
          when(col("cum") * 100 <= col("total") * 80, "A")
            .when(col("cum") * 100 <= col("total") * 95, "B")
            .otherwise("C").as("abc_class"))
    },
      """WITH rev AS (
        |  SELECT l_partkey,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |           AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT p.p_partkey, p.p_brand, rev.rev_cents
        |      FROM rev JOIN part p ON p.p_partkey = rev.l_partkey),
        |w AS (SELECT p_partkey, p_brand, rev_cents,
        |        SUM(rev_cents) OVER (PARTITION BY p_brand
        |          ORDER BY rev_cents DESC, p_partkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(rev_cents) OVER (PARTITION BY p_brand) AS total
        |      FROM j)
        |SELECT p_partkey, p_brand, rev_cents,
        |       CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |            WHEN cum * 100 <= total * 95 THEN 'B'
        |            ELSE 'C' END AS abc_class
        |FROM w""".stripMargin),

    // distribution drift: exact total-variation distance between the
    // purchase and click populations' value histograms (20 fixed
    // cent-bins over [0, 500)) — the engine-exact monitoring stand-in
    // for PSI/KL (StatTests.driftTV Scaladoc). One conditional
    // aggregate; ≤ bins rows cross the wire.
    QuerySpec("q138_value_drift", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          expr("cast(floor(cast(value as double) * 100) as bigint)").as("cents"))
      StatTests.driftTV(ev, "event_type", "cents", lo = 0L, hi = 50000L, bins = 20)
    },
      """WITH ev AS (
        |  SELECT event_type AS pop,
        |         CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |b AS (SELECT pop,
        |        GREATEST(0, LEAST(19, ((cents - 0) * 20) // 50000)) AS bin
        |      FROM ev),
        |cells AS (SELECT bin,
        |            CAST(SUM(CASE WHEN pop = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |            CAST(SUM(CASE WHEN pop = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |          FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
        |      FROM cells),
        |n AS (SELECT CAST(SUM(ABS(ca * t.n_b - cb * t.n_a)) AS BIGINT) AS tv_num,
        |             t.n_a AS n_a, t.n_b AS n_b
        |      FROM cells CROSS JOIN t GROUP BY t.n_a, t.n_b)
        |SELECT 'click' AS pop_a, 'purchase' AS pop_b, n_a, n_b, tv_num,
        |       2 * n_a * n_b AS tv_den,
        |       (tv_num // GREATEST(1, (2 * n_a * n_b) // 1000000000000))
        |         * 1000000
        |         // GREATEST(1, (2 * n_a * n_b)
        |                        // GREATEST(1, (2 * n_a * n_b) // 1000000000000))
        |         AS tv_e6
        |FROM n""".stripMargin),

    // day-of-week seasonality per event type: each (type, dow) cell's
    // share of its type's volume on a ×7 e6 grid (flat = 1e6). Epoch
    // arithmetic only — (days + 4) % 7 anchors Thursday 1970-01-01 —
    // so no engine calendar/locale functions are in play.
    QuerySpec("q135_seasonality", (s, d) => {
      val cell = Tables.events(s, d)
        .select(col("event_type"),
          expr("cast((tus div 86400000000L + 4) % 7 as int)").as("dow"))
        .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("cnt"))
      cell
        .withColumn("tot",
          sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("dow"), col("cnt"),
          expr("cnt * 7000000L div tot").as("index_e6"))
    },
      """WITH e AS (SELECT event_type,
        |             CAST((epoch_ns(ts) // 1000 // 86400000000 + 4) % 7 AS INT) AS dow
        |           FROM events),
        |cell AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS cnt
        |         FROM e GROUP BY 1, 2)
        |SELECT event_type, dow, cnt,
        |       CAST(cnt * 7000000 // SUM(cnt) OVER (PARTITION BY event_type)
        |            AS BIGINT) AS index_e6
        |FROM cell""".stripMargin)
  )

  // ------------------------------------------------------------- oracle SQL

  /** Exact cosine over the parquet float vectors — the shared
    * brute-force idiom (same text as DedupQueries.duckCos; both
    * engines fold the 64 index-ordered double products, so the IEEE
    * result is bit-identical and ranks need no tolerance). */
  private val duckCos =
    """SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) /
      | (sqrt(SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE))) *
      |  sqrt(SUM(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))))""".stripMargin

  /** One k-means Lloyd iteration as DuckDB CTEs: assignment by
    * (dist, cid) rank over the point × centroid grid, then the
    * truncated-mean update per (cluster, dim) with the emptied-cluster
    * carry. The `//`-vs-`div` negative-operand mismatch (DuckDB floors,
    * Spark truncates) is absorbed by an explicit trunc CASE. */
  private def kmIter(prev: String, cur: String): String =
    s"""a_$cur AS (
       |  SELECT p.id, c.cid,
       |         SUM((p.q[i.i] - c.vec[i.i]) * (p.q[i.i] - c.vec[i.i])) AS dst
       |  FROM pts p CROSS JOIN c_$prev c CROSS JOIN generate_series(1, 16) i(i)
       |  GROUP BY 1, 2),
       |s_$cur AS (SELECT id, cid, dst,
       |             row_number() OVER (PARTITION BY id ORDER BY dst, cid) AS rk
       |           FROM a_$cur),
       |g_$cur AS (SELECT s.cid, i.i AS i, SUM(p.q[i.i]) AS sv,
       |             CAST(COUNT(*) AS BIGINT) AS n
       |           FROM s_$cur s JOIN pts p ON p.id = s.id
       |           CROSS JOIN generate_series(1, 16) i(i)
       |           WHERE s.rk = 1
       |           GROUP BY 1, 2),
       |l_$cur AS (SELECT cid,
       |             list(CASE WHEN sv >= 0 THEN sv // n
       |                       ELSE -((-sv) // n) END ORDER BY i) AS vec
       |           FROM g_$cur GROUP BY cid),
       |c_$cur AS (SELECT c.cid, COALESCE(l.vec, c.vec) AS vec
       |           FROM c_$prev c LEFT JOIN l_$cur l ON l.cid = c.cid)""".stripMargin

  /** One BFS hop as a DuckDB CTE: relax hop-(k-1) rows through the
    * edge list, union the standing table, keep the min distance. */
  private def bfsHop(prev: String, cur: String, k: Int): String =
    s"""d_$cur AS (SELECT p, CAST(MIN(dist) AS INT) AS dist FROM (
       |    SELECT p, dist FROM d_$prev
       |    UNION ALL
       |    SELECT e.b, $k FROM e JOIN d_$prev ON e.a = d_$prev.p
       |    WHERE d_$prev.dist = ${k - 1}) GROUP BY 1)""".stripMargin

  /** One Bellman–Ford relaxation round as a DuckDB CTE (q147): keep
    * the standing dist table, relax EVERY vertex through every edge
    * (weighted paths may improve at any round — no frontier filter),
    * take the min. */
  private def whopRound(prev: String, cur: String): String =
    s"""w_$cur AS (SELECT p, CAST(MIN(dist) AS BIGINT) AS dist FROM (
       |    SELECT p, dist FROM w_$prev
       |    UNION ALL
       |    SELECT e.b, w_$prev.dist + e.w FROM e JOIN w_$prev ON e.a = w_$prev.p)
       |    GROUP BY 1)""".stripMargin

  /** One PageRank iteration as a DuckDB CTE pair (contribution sums,
    * then the damped update). */
  private def prIter(prev: String, cur: String): String =
    s"""s_$cur AS (SELECT e.b AS p, SUM(r_$prev.r // deg.dg) AS s
       |       FROM e JOIN r_$prev ON e.a = r_$prev.p JOIN deg ON deg.p = e.a
       |       GROUP BY 1),
       |r_$cur AS (SELECT deg.p,
       |         ${15L * PrScale} // (100 * n.n) + (85 * COALESCE(s_$cur.s, 0)) // 100 AS r
       |       FROM deg CROSS JOIN n LEFT JOIN s_$cur ON s_$cur.p = deg.p)""".stripMargin
}
