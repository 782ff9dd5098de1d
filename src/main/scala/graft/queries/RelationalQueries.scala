package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Remaining relational breadth: pivot, set ops, non-equi (range)
  * joins, and the window-function family. Oracles use portable CASE /
  * window SQL (no DuckDB-only syntax) so both sides share semantics.
  */
object RelationalQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** The q38/q86 price bands — ONE Scala source (the SQL VALUES copies
    * in oracleSql stay literal by design); RangeJoinSpec reuses it. */
  private[graft] def priceBands(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("low", 0.0, 930.0), ("mid", 930.0, 970.0), ("high", 970.0, 99999.0))
      .toDF("band", "lo", "hi")
  }

  def specs: Seq[QuerySpec] = Seq(

    // pivot: order totals by priority (rows) × year (columns).
    QuerySpec("q36_pivot", (s, d) =>
      Tables(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot(year(col("o_orderdate")).cast("int"), Seq(1995, 1996, 1997))
        .agg(sum(dec(col("o_totalprice"))).cast("double"))
        .withColumnsRenamed(Map("1995" -> "y1995", "1996" -> "y1996", "1997" -> "y1997")),
      """SELECT o_orderpriority,
        | CAST(SUM(CASE WHEN year(o_orderdate) = 1995 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS y1995,
        | CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS y1996,
        | CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS y1997
        |FROM orders GROUP BY 1""".stripMargin),

    // INTERSECT: customers active in both 1995 and 1996.
    QuerySpec("q37_intersect", (s, d) => {
      val o = Tables(s, d, "orders")
      def yr(y: Int) = o.filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey"))
      yr(1995).intersect(yr(1996))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin),

    // non-equi range join: price bands × parts (small band table
    // broadcasts; the nested-loop scan is the right plan for a tiny
    // non-equi build side).
    QuerySpec("q38_range_join", (s, d) => {
      val bands = priceBands(s)
      Tables(s, d, "part").join(broadcast(bands),
        col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"),
          sum(dec(col("p_retailprice"))).cast("double").as("total_price"))
    },
      """WITH bands(band, lo, hi) AS (
        |  VALUES ('low', 0.0, 930.0), ('mid', 930.0, 970.0), ('high', 970.0, 99999.0))
        |SELECT band, COUNT(*) AS n_parts,
        | CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY 1""".stripMargin),

    // window family: rank/dense_rank/lag/lead/running sum per group.
    QuerySpec("q39_window_suite", (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "orders")
        .filter(col("o_custkey") < 200)
        .select(
          col("o_custkey"), col("o_orderkey"),
          rank().over(w).cast("int").as("rnk"),
          dense_rank().over(w).cast("int").as("drnk"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          sum(dec(col("o_totalprice"))).over(cum).cast("double").as("running_total"))
    },
      """SELECT o_custkey, o_orderkey,
        | CAST(rank() OVER w AS INT) AS rnk,
        | CAST(dense_rank() OVER w AS INT) AS drnk,
        | lag(o_orderkey) OVER w AS prev_order,
        | lead(o_orderkey) OVER w AS next_order,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),

    // bloom-pruned join: the probe (lineitem) is filtered by a bloom
    // sketch of the selective build side's keys BEFORE the join
    // shuffle — the explicit semi-join-reduction operator
    // (operators.BloomJoin). False positives are discarded by the
    // exact join, so the result is identical to the plain join the
    // oracle runs; only shuffle volume differs.
    QuerySpec("q72_bloom_join", (s, d) => {
      val probe = Tables(s, d, "lineitem")
      val build = Tables(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_custkey") < 500)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.BloomJoin.prunedJoin(probe, build, "l_orderkey",
        expectedItems = 100000, fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"))
    },
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |JOIN (SELECT o_orderkey FROM orders
        |      WHERE o_orderpriority = '1-URGENT' AND o_custkey < 500) o
        |  ON l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin),

    // the SCALABLE range join (operators.RangeJoin): same semantics as
    // q38, executed as a bucket equi-join + exact verify instead of a
    // broadcast nested loop — the plan that survives an interval side
    // too big to broadcast. Bucket overlap is a candidate superset;
    // the exact predicate decides, so results == the plain non-equi
    // join the oracle runs.
    QuerySpec("q86_range_binned", (s, d) => {
      graft.operators.RangeJoin.binnedPointJoin(
        Tables(s, d, "part"), priceBands(s), "p_retailprice", "lo", "hi",
        binWidth = 100.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"),
          sum(dec(col("p_retailprice"))).cast("double").as("total_price"))
    },
      """WITH bands(band, lo, hi) AS (
        |  VALUES ('low', 0.0, 930.0), ('mid', 930.0, 970.0), ('high', 970.0, 99999.0))
        |SELECT band, COUNT(*) AS n_parts,
        | CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY 1""".stripMargin),

    // interval-OVERLAP join (RangeJoin.binnedOverlapJoin): week-long
    // order windows × 10-day order windows from two customer strata —
    // the temporal-overlap shape (concurrent sessions, conflicting
    // bookings) q86's point-in-interval rewrite doesn't cover. The
    // canonical-bucket dedup keeps each true pair exactly once, so the
    // oracle is the plain non-equi overlap join.
    QuerySpec("q91_interval_overlap", (s, d) => {
      val o = Tables(s, d, "orders")
      def day(c: org.apache.spark.sql.Column) =
        datediff(to_date(c), to_date(lit("1992-01-01")))
      val l = o.filter(col("o_custkey") % 100 === 0).select(
        col("o_orderkey").as("l_id"),
        day(col("o_orderdate")).cast("long").as("l_lo"),
        (day(col("o_orderdate")) + 7).cast("long").as("l_hi"))
      val r = o.filter(col("o_custkey") % 97 === 0).select(
        col("o_orderkey").as("r_id"),
        day(col("o_orderdate")).cast("long").as("r_lo"),
        (day(col("o_orderdate")) + 10).cast("long").as("r_hi"))
      graft.operators.RangeJoin.binnedOverlapJoin(l, r,
        "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 8.0)
        .select(col("l_id"), col("r_id"))
    },
      """WITH l AS (
        |  SELECT o_orderkey AS l_id,
        |         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS l_lo,
        |         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + 7 AS l_hi
        |  FROM orders WHERE o_custkey % 100 = 0),
        |r AS (
        |  SELECT o_orderkey AS r_id,
        |         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS r_lo,
        |         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + 10 AS r_hi
        |  FROM orders WHERE o_custkey % 97 = 0)
        |SELECT l_id, r_id
        |FROM l JOIN r ON l_lo < r_hi AND r_lo < l_hi""".stripMargin),

    // join-key skew probe: the diagnostic a planner (or an operator
    // choosing a salt factor — q32's input) runs BEFORE a big join.
    // One map-combined key aggregate + one scalar fold; the hot key
    // resolves deterministically via struct max (count, then key).
    // skew_e2 = max_n / mean_n on an integer e2 grid; rec_salt =
    // ceil(max_n / mean_n) — the partition multiplier that levels the
    // hottest key. Overflow: max_n * n_keys <= total * n_keys; scale
    // down first (the driftTV trick) past ~1e9 keys x 1e9 rows.
    // bucketed co-located join (Spark table bucketing — the 100 TB
    // technique the rest of the suite's ad-hoc repartitioning can't
    // show): both sides are written ONCE as bucketed+sorted tables on
    // the join key, and every subsequent join on that key runs with
    // ZERO exchange on either side — the bucket layout IS the shuffle,
    // paid at write time and amortized over every read (the classic
    // fact/fact co-location contract; Hive/Iceberg bucket transforms,
    // Spark `bucketBy`). The only exchange in the whole plan is the
    // tiny post-join priority aggregate — PlanSpec-pinned. Values are
    // layout-independent, so the oracle is the plain join-agg.
    QuerySpec("q146_bucketed_join", (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_q146")
      CoreQueries.cleanupAtExit(root)
      // table names carry the per-invocation temp-dir token: two
      // sessions sharing one metastore (or two concurrent suite runs)
      // must not race on a fixed catalog entry and read each other's
      // temp paths
      val tok = root.getFileName.toString
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"),
          (dec(col("l_extendedprice")) * 100).cast("bigint").as("gross_cents"))
        .write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .option("path", root.resolve("li").toString)
        .saveAsTable(s"${tok}_li")
      Tables(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        .write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .option("path", root.resolve("ord").toString)
        .saveAsTable(s"${tok}_ord")
      val out = s.table(s"${tok}_li").join(s.table(s"${tok}_ord"), "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("gross_cents")).as("rev_cents"))
      // drop the catalog entries NOW: Datasets analyze eagerly, so the
      // plan above already holds the resolved bucketed relations (file
      // paths + bucket spec) and never resolves the names again; the
      // EXTERNAL tables' files live until the temp-root exit hook. A
      // long-lived session (verify sweep, user shell) would otherwise
      // accumulate one dangling pair per invocation forever.
      s.sql(s"DROP TABLE IF EXISTS ${tok}_li")
      s.sql(s"DROP TABLE IF EXISTS ${tok}_ord")
      out
    },
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
      writesTables = true),

    // dynamic partition pruning (the third classic layout lever after
    // q146's bucketing and q80's z-order): the fact is written
    // PARTITIONED BY year, the dim filter is only known at run time
    // (a joined table, not a literal), and Spark's DPP turns the
    // broadcast dim into a runtime partition filter on the fact scan —
    // at 100 TB the fact reads 2 of N year partitions instead of all
    // of them. PlanSpec pins the `dynamicpruning` subquery in the
    // fact's PartitionFilters. Values are layout-independent, so the
    // oracle is the plain join-agg over a VALUES dim.
    //
    // Standalone band at the 100× decade (r16): 3.52 / 3.95 / 5.96 s
    // across calm isolated sessions, 11.70 s once under load-18 — vs
    // the r15 committed 2.01 s, code untouched. Unlike a pure read
    // query, q148 WRITES the partitioned fact to a temp dir every
    // invocation before probing it, so its floor carries the fact's
    // parquet write + footer IO at this decade and moves with
    // page-cache/IO weather far more than its neighbors; the DPP
    // probe itself stays pruned (PlanSpec). The committed r16
    // artifact carries the mid-band 5.96 standalone reading.
    QuerySpec("q148_dpp_prune", (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_q148")
      CoreQueries.cleanupAtExit(root)
      // plain hive-layout parquet, not saveAsTable: DPP fires on any
      // partitioned file-source scan, and skipping the metastore means
      // no per-invocation catalog entry to leak (a catalog-table fact
      // would also resolve through a LAZY CatalogFileIndex, so the
      // entry could not even be dropped before the frame is consumed)
      Tables(s, d, "orders")
        .select(col("o_orderkey"),
          (dec(col("o_totalprice")) * 100).cast("bigint").as("cents"),
          year(col("o_orderdate")).cast("int").as("oyear"))
        .write.partitionBy("oyear")
        .parquet(root.resolve("fact").toString)
      import s.implicits._
      // the dim must be a REAL scan: an in-memory LocalRelation gets
      // its filter constant-folded before the PartitionPruning rule
      // looks for a selective predicate, and DPP never fires
      Seq(
        (1992, "cold"), (1993, "cold"), (1994, "cold"), (1995, "hot"),
        (1996, "hot"), (1997, "cold"), (1998, "cold"))
        .toDF("oyear", "tag")
        .write.parquet(root.resolve("dim").toString)
      val dim = s.read.parquet(root.resolve("dim").toString)
      s.read.parquet(root.resolve("fact").toString)
        .join(broadcast(dim.filter(col("tag") === "hot")), "oyear")
        .groupBy(col("oyear"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
    },
      """WITH dim(oyear, tag) AS (VALUES
        |  (1992,'cold'),(1993,'cold'),(1994,'cold'),(1995,'hot'),
        |  (1996,'hot'),(1997,'cold'),(1998,'cold'))
        |SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS oyear,
        | CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |FROM orders JOIN dim ON year(CAST(o_orderdate AS DATE)) = dim.oyear
        |WHERE tag = 'hot'
        |GROUP BY 1""".stripMargin,
      writesTables = true),

    QuerySpec("q145_skew_probe", (s, d) => {
      val counts = Tables(s, d, "lineitem")
        .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("n"))
      counts.agg(
          sum(col("n")).cast("bigint").as("total_rows"),
          count(lit(1)).cast("bigint").as("n_keys"),
          max(struct(col("n"), col("k"))).as("hot"))
        .select(col("total_rows"), col("n_keys"),
          col("hot.k").as("hot_key"), col("hot.n").as("max_n"))
        .withColumn("skew_e2",
          expr("max_n * 100L * n_keys div total_rows"))
        .withColumn("rec_salt",
          expr("(max_n * n_keys + total_rows - 1L) div total_rows"))
    },
      """WITH c AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM lineitem GROUP BY 1),
        |a AS (SELECT CAST(SUM(n) AS BIGINT) AS total_rows,
        |             CAST(COUNT(*) AS BIGINT) AS n_keys,
        |             MAX(n) AS max_n
        |      FROM c),
        |h AS (SELECT k AS hot_key FROM c ORDER BY n DESC, k DESC LIMIT 1)
        |SELECT total_rows, n_keys, hot_key, max_n,
        |       CAST(max_n * 100 * n_keys // total_rows AS BIGINT) AS skew_e2,
        |       CAST((max_n * n_keys + total_rows - 1) // total_rows AS BIGINT)
        |         AS rec_salt
        |FROM a, h""".stripMargin)
  )
}
