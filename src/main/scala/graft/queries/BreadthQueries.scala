package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational/analytic breadth beyond SURVEY §2's literal inventory —
  * the operator families an analyst using the warehouse through the SQL
  * surface (SURVEY §3.3) reaches next: outer joins, bag set-ops,
  * value-range window frames, distribution functions, generators,
  * ordered string aggregation, scalar subqueries, exact moment
  * statistics, histograms, arg-max, date/string/regexp scalar packs,
  * and cross joins.
  *
  * Oracle-determinism rules (see CoreQueries): exact DECIMAL/BIGINT
  * arithmetic inside, single double conversions/divisions at the end,
  * unique-key ORDER BY tie-breaks in every window, counts cast BIGINT
  * on the DuckDB side, no DECIMAL in result schemas.
  */
object BreadthQueries {

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables(s, d, name)

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  def specs: Seq[QuerySpec] = Seq(

    // FULL OUTER join of two aggregates; the supplier side is filtered
    // so some nations appear on one side only (real null rows).
    QuerySpec("q40_full_outer", (s, d) => {
      val cn = t(s, d, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = t(s, d, "supplier").filter(col("s_suppkey") % 3 === 0)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, Seq("nationkey"), "full_outer")
    },
      """WITH cn AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |            FROM customer GROUP BY 1),
        |     sn AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |            FROM supplier WHERE s_suppkey % 3 = 0 GROUP BY 1)
        |SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey, n_cust, n_supp
        |FROM cn FULL JOIN sn ON cn.nationkey = sn.nationkey""".stripMargin),

    // UNION ALL (bag semantics) + re-aggregation.
    QuerySpec("q41_union_all", (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .unionAll(t(s, d, "supplier").select(col("s_nationkey")))
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n")),
      """SELECT nationkey, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY 1""".stripMargin),

    // EXCEPT ALL (multiset difference — keeps surplus duplicates).
    QuerySpec("q42_except_all", (s, d) => {
      val c = t(s, d, "customer")
      c.select(col("c_mktsegment"))
        .exceptAll(c.filter(col("c_acctbal") > 5000.0).select(col("c_mktsegment")))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
    },
      """SELECT c_mktsegment, COUNT(*) AS n FROM (
        |  SELECT c_mktsegment FROM customer
        |  EXCEPT ALL
        |  SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000.0)
        |GROUP BY 1""".stripMargin),

    // value-RANGE window frame: per customer, total of orders in the
    // 30 days up to each order (inclusive), keyed on day numbers.
    QuerySpec("q43_range_frame", (s, d) => {
      val days = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
        .rangeBetween(-30, Window.currentRow)
      t(s, d, "orders")
        .filter(col("o_custkey") < 300)
        .withColumn("d", days.cast("int"))
        .select(col("o_custkey"), col("o_orderkey"), col("d"),
          count(lit(1)).over(w).as("n_30d"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("total_30d"))
    },
      """SELECT o_custkey, o_orderkey, d,
        | CAST(COUNT(*) OVER w AS BIGINT) AS n_30d,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS total_30d
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS INT) AS d
        |      FROM orders WHERE o_custkey < 300)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY d
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""".stripMargin),

    // distribution window functions: quartile, percent_rank, cume_dist.
    // percent_rank/cume_dist order by value (ties share a value —
    // deterministic); ntile orders by the unique key.
    QuerySpec("q44_distribution", (s, d) => {
      val byKey = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      val byPrice = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
      t(s, d, "orders")
        .filter(col("o_custkey") < 300)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(byKey).cast("int").as("quartile"),
          percent_rank().over(byPrice).as("pr"),
          cume_dist().over(byPrice).as("cd"))
    },
      """SELECT o_orderkey, o_orderpriority,
        | CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS INT) AS quartile,
        | percent_rank() OVER wp AS pr,
        | cume_dist() OVER wp AS cd
        |FROM orders WHERE o_custkey < 300
        |WINDOW wp AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)""".stripMargin),

    // positional window values over an explicit full frame.
    QuerySpec("q45_first_last", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .filter(col("o_custkey") < 300)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
    },
      """SELECT o_custkey, o_orderkey,
        | first_value(o_orderkey) OVER w AS first_ok,
        | last_value(o_orderkey) OVER w AS last_ok,
        | nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders WHERE o_custkey < 300
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),

    // generator: explode a split array (UNNEST).
    QuerySpec("q46_explode", (s, d) =>
      t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), explode(split(col("p_type"), " ")).as("word")),
      """SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word
        |FROM part WHERE p_partkey <= 200""".stripMargin),

    // ordered string aggregation (LISTAGG shape) over a distinct set.
    QuerySpec("q47_listagg", (s, d) =>
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(array_join(
          sort_array(collect_set(col("c_nationkey").cast("int"))).cast("array<string>"),
          ",").as("nations")),
      """SELECT c_mktsegment,
        | string_agg(CAST(c_nationkey AS VARCHAR), ',' ORDER BY c_nationkey) AS nations
        |FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
        |GROUP BY 1""".stripMargin),

    // scalar subquery through the SQL surface (SURVEY §3.3): orders
    // beating 1.5× the exact global mean price (prices are ~uniform, so
    // 2× the mean exceeds the max and would verify an empty result).
    QuerySpec("q48_scalar_subquery", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("bq_orders")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM bq_orders
          |WHERE o_totalprice > 1.5 * (
          |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          |  FROM bq_orders)""".stripMargin)
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders)""".stripMargin),

    // exact moment statistics: mean/variance/stddev from integer sums
    // (l_quantity is whole-valued), one double conversion per output —
    // the order-independent formulation of VAR_SAMP/STDDEV_SAMP.
    QuerySpec("q49_exact_stats", (s, d) => {
      val q = col("l_quantity").cast("bigint")
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("q_sum"),
          sum(q * q).as("q2_sum"))
        .select(col("l_returnflag"), col("n"), col("q_sum"),
          (col("q_sum").cast("double") / col("n").cast("double")).as("mean_qty"),
          // moment products in DECIMAL(38,0) (HUGEINT on the DuckDB
          // side): q_sum² overflows BIGINT once a group passes ~1e9
          // rows × qty 25 — silent wraparound at fact scale otherwise
          // n=1 group: sample variance is undefined — NULL, not the
          // engine-dependent 0/0 (Spark NULL vs DuckDB NaN mismatch)
          when(col("n") > 1,
            (col("n").cast(DecimalType(38, 0)) * col("q2_sum").cast(DecimalType(38, 0)) -
              col("q_sum").cast(DecimalType(38, 0)) * col("q_sum").cast(DecimalType(38, 0)))
              .cast("double") /
              (col("n") * (col("n") - 1)).cast("double"))
            .otherwise(lit(null).cast("double")).as("var_qty"))
        .withColumn("stddev_qty", sqrt(col("var_qty")))
    },
      """WITH g AS (
        |  SELECT l_returnflag,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_sum,
        |         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS q2_sum
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, q_sum,
        |       CAST(q_sum AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
        |       CAST(CAST(n AS HUGEINT) * q2_sum - CAST(q_sum AS HUGEINT) * q_sum AS DOUBLE) /
        |         CAST(NULLIF(n * (n - 1), 0) AS DOUBLE) AS var_qty,
        |       sqrt(CAST(CAST(n AS HUGEINT) * q2_sum - CAST(q_sum AS HUGEINT) * q_sum AS DOUBLE) /
        |         CAST(NULLIF(n * (n - 1), 0) AS DOUBLE)) AS stddev_qty
        |FROM g""".stripMargin),

    // fixed-width histogram (width_bucket shape).
    QuerySpec("q50_histogram", (s, d) =>
      t(s, d, "orders")
        .groupBy(floor(col("o_totalprice") / 50000.0).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n")),
      """SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY 1""".stripMargin),

    // arg-max/arg-min keyed on the unique customer key.
    QuerySpec("q51_argmax", (s, d) =>
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          max_by(col("c_name"), col("c_custkey")).as("newest_name"),
          min_by(col("c_name"), col("c_custkey")).as("oldest_name"),
          max(col("c_custkey")).as("max_key")),
      """SELECT c_mktsegment,
        | arg_max(c_name, c_custkey) AS newest_name,
        | arg_min(c_name, c_custkey) AS oldest_name,
        | MAX(c_custkey) AS max_key
        |FROM customer GROUP BY 1""".stripMargin),

    // date arithmetic pack: offsets, month adds (with clamping),
    // quarters, day diffs, month ends.
    QuerySpec("q52_date_arith", (s, d) =>
      t(s, d, "orders").filter(col("o_custkey") < 100)
        .select(
          col("o_orderkey"),
          col("o_orderdate"),
          date_add(col("o_orderdate"), 30).as("plus30"),
          add_months(col("o_orderdate"), 3).as("plus3m"),
          quarter(col("o_orderdate")).cast("int").as("q"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("int").as("d_from95"),
          last_day(col("o_orderdate")).as("month_end")),
      """SELECT o_orderkey, o_orderdate,
        | CAST(o_orderdate AS DATE) + 30 AS plus30,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        | CAST(quarter(o_orderdate) AS INT) AS q,
        | CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS d_from95,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders WHERE o_custkey < 100""".stripMargin),

    // string scalar pack.
    //
    // Standalone band (r16, VERDICT r15 #1 — the cross-round 2.11×
    // "breach" diagnosed): five isolated fresh-JVM min-of-3 sessions
    // read 0.138–0.204 s at sf0.1, and q54_regexp — same table, same
    // 500-row filter, near-identical shape — reads 0.148–0.173 s IN
    // THE SAME SESSIONS, statistically indistinguishable. Both stood
    // at ~0.09 s in the r14 artifact: the fixed-overhead FLOOR of a
    // 500-row scan-side projection (session init + parquet footer +
    // schedule) moved for the whole trivial family (r14→r15 family
    // tail: q54 1.46×, q159 1.40×, q71 1.35×; median of the 70
    // sub-0.3 s queries 1.02×), and q53 crossed the 2× letter only
    // because its base was the family's smallest. No code in this
    // path changed since r11. Gate handling: tools/prev_round
    // cross-round banding now flags any such mover at 1.5× for a
    // standalone re-measure instead of letting it ride to 2×.
    QuerySpec("q53_string_funcs", (s, d) =>
      t(s, d, "part").filter(col("p_partkey") <= 500)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("prefix"),
          length(col("p_name")).cast("int").as("len"),
          instr(col("p_name"), "a").cast("int").as("first_a"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          reverse(col("p_name")).as("rname")),
      """SELECT p_partkey,
        | upper(p_name) AS uname,
        | substring(p_name, 1, 5) AS prefix,
        | CAST(length(p_name) AS INT) AS len,
        | CAST(strpos(p_name, 'a') AS INT) AS first_a,
        | lpad(p_brand, 12, '*') AS padded,
        | reverse(p_name) AS rname
        |FROM part WHERE p_partkey <= 500""".stripMargin),

    // regexp extraction + predicate.
    QuerySpec("q54_regexp", (s, d) =>
      t(s, d, "part").filter(col("p_partkey") <= 500)
        .select(
          col("p_partkey"),
          regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_word"),
          col("p_name").rlike("red").as("has_red")),
      """SELECT p_partkey,
        | regexp_extract(p_type, '([A-Z]+)$', 1) AS last_word,
        | regexp_matches(p_name, 'red') AS has_red
        |FROM part WHERE p_partkey <= 500""".stripMargin),

    // cross join of two small sets.
    QuerySpec("q55_cross_join", (s, d) =>
      t(s, d, "region").select(col("r_name"))
        .crossJoin(t(s, d, "customer").select(col("c_mktsegment")).distinct()),
      """SELECT r_name, c_mktsegment
        |FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)""".stripMargin),

    // UNPIVOT/melt: wide per-flag aggregates to (flag, measure, value)
    // long form — the wide→long reshape half of q36's pivot. All
    // measures are exact BIGINTs so the unified value column is
    // engine-identical.
    QuerySpec("q73_unpivot", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          count_distinct(col("l_orderkey")).as("n_orders"))
        .unpivot(
          ids = Array(col("l_returnflag")),
          values = Array(col("sum_qty"), col("n_rows"), col("n_orders")),
          variableColumnName = "measure",
          valueColumnName = "value"),
      """WITH g AS (
        |  SELECT l_returnflag,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |         CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM g
        |UNION ALL
        |SELECT l_returnflag, 'n_rows', n_rows FROM g
        |UNION ALL
        |SELECT l_returnflag, 'n_orders', n_orders FROM g""".stripMargin),

    // date-spine gap fill: a generated calendar (sequence over literal
    // bounds — driver-bounded, broadcastable at any scale) LEFT JOINs
    // daily order aggregates so no-activity days surface as zeros —
    // the time-series densification every downstream window/trend
    // computation needs.
    QuerySpec("q74_date_spine", (s, d) => {
      val spine = s.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("1995-01-01")),
        lit(java.sql.Date.valueOf("1995-03-31")))).as("day"))
      val daily = t(s, d, "orders")
        .withColumn("day", to_date(col("o_orderdate")))
        .filter(col("day").between("1995-01-01", "1995-03-31"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("t"))
      spine.join(daily, Seq("day"), "left_outer")
        .select(col("day"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("t"), lit(0.0)).as("total_price"))
    },
      """WITH spine AS (
        |  SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
        |                                     INTERVAL 1 DAY)) AS DATE) AS day),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS t
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
        |  GROUP BY 1)
        |SELECT spine.day,
        |       COALESCE(n, 0) AS n_orders,
        |       COALESCE(t, 0.0) AS total_price
        |FROM spine LEFT JOIN daily ON spine.day = daily.day""".stripMargin),

    // higher-order array functions over embeddings: filter/exists/
    // aggregate/zip_with — the lambda-function surface. Float values
    // widen to double BEFORE any arithmetic; per-row fold order is
    // index order on both engines, so every double is bit-identical.
    QuerySpec("q75_hof_arrays", (s, d) => {
      val e = col("embedding")
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(filter(e, x => x > lit(0.0f))).cast("int").as("n_pos"),
        exists(e, x => abs(x) > lit(2.0f)).as("any_big"),
        aggregate(e, lit(0.0),
          (acc, x) => acc + abs(x.cast("double"))).as("l1_norm"),
        array_max(zip_with(
          slice(e, lit(2), greatest(size(e) - 1, lit(0))), e,
          (b, a) => abs(b.cast("double") - a.cast("double")))).as("max_step"))
    },
      """SELECT vec_id,
        | CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        | len(list_filter(embedding, x -> abs(x) > 2)) > 0 AS any_big,
        | list_reduce(
        |   list_prepend(CAST(0 AS DOUBLE),
        |     list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |   (acc, v) -> acc + v) AS l1_norm,
        | CAST(list_aggregate(
        |   list_transform(range(0, len(embedding) - 1),
        |     i -> abs(CAST(embedding[i + 2] AS DOUBLE) - CAST(embedding[i + 1] AS DOUBLE))),
        |   'max') AS DOUBLE) AS max_step
        |FROM embeddings""".stripMargin),

    // Z-order (Morton) codes — the 2-D data-skipping layout key
    // (operators.ZOrder): bit-interleave (custkey mod 2^10, order-day
    // mod 2^10). Exact integer bit arithmetic, identical on every
    // engine; the oracle SQL is GENERATED from the same bit count so
    // the interleave recipe cannot drift.
    QuerySpec("q80_zorder", (s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          (col("o_custkey") % 1024).as("za"),
          (datediff(to_date(col("o_orderdate")),
            lit(java.sql.Date.valueOf("1992-01-01"))) % 1024).as("zb"))
        .select(col("o_orderkey"), col("za").cast("bigint"), col("zb").cast("bigint"),
          graft.operators.ZOrder.mortonCode(col("za"), col("zb"), ZBits)
            .as("zcode")), {
      val terms = (0 until ZBits).map(i =>
        s"(((za >> $i) & 1) * ${1L << (2 * i)}) + " +
          s"(((zb >> $i) & 1) * ${1L << (2 * i + 1)})").mkString(" + ")
      s"""SELECT o_orderkey, za, zb, CAST($terms AS BIGINT) AS zcode
         |FROM (SELECT o_orderkey,
         |        CAST(o_custkey % 1024 AS BIGINT) AS za,
         |        CAST(datediff('day', DATE '1992-01-01',
         |                      CAST(o_orderdate AS DATE)) % 1024 AS BIGINT) AS zb
         |      FROM orders WHERE o_orderkey <= 2000)""".stripMargin
    }),

    // positional generator (posexplode / UNNEST WITH ORDINALITY): the
    // element index rides along with the value — the ordered variant of
    // q46's explode. The oracle zips two same-length unnests
    // (DuckDB's positional-zip semantics).
    QuerySpec("q84_posexplode", (s, d) =>
      t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          posexplode(split(col("p_type"), " ")))
        .select(col("p_partkey"), col("pos").cast("int"), col("col").as("word")),
      """SELECT p_partkey,
        |       CAST(unnest(range(0, len(ws))) AS INT) AS pos,
        |       unnest(ws) AS word
        |FROM (SELECT p_partkey, string_split(p_type, ' ') AS ws
        |      FROM part WHERE p_partkey <= 200)""".stripMargin),

    // LOCF forward fill (last observation carried forward): plant a
    // deterministic null pattern in a measure, then carry the last
    // non-null value forward per key in event order — IGNORE NULLS
    // window semantics, the standard time-series gap repair before any
    // downstream aggregation. The key-ordered window never needs a
    // global sort.
    QuerySpec("q82_locf", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").filter(col("o_custkey") < 300)
        .withColumn("v",
          when(col("o_orderkey") % 3 === 0, lit(null).cast("double"))
            .otherwise(dec(col("o_totalprice")).cast("double")))
        .select(col("o_custkey"), col("o_orderkey"), col("v"),
          last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
    },
      """SELECT o_custkey, o_orderkey, v,
        | last_value(v IGNORE NULLS) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS UNBOUNDED PRECEDING) AS v_filled
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |        CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |             ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |        END AS v
        |      FROM orders WHERE o_custkey < 300)""".stripMargin),

    // correlated EXISTS / NOT EXISTS through the SQL surface — Catalyst
    // decorrelates to a semi join plus an anti join (no per-row
    // subquery execution, unlike the reference's row-at-a-time Postgres
    // shape at the same SQL).
    QuerySpec("q81_exists", (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("bq81_customer")
      t(s, d, "orders").createOrReplaceTempView("bq81_orders")
      s.sql(
        """SELECT c_custkey, c_mktsegment FROM bq81_customer c
          |WHERE EXISTS (SELECT 1 FROM bq81_orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT')
          |  AND NOT EXISTS (SELECT 1 FROM bq81_orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'F')""".stripMargin)
    },
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')""".stripMargin),

    // one-pass table profiling (ANALYZE-style data quality report):
    // null/range stats ride ONE narrow aggregate (no job per column —
    // the naive profiler shape reads a 100 TB table N times); exact
    // distinct counts ride ONE posexplode into (column, rendered
    // value) pairs whose two-level aggregate dedups map-side, so the
    // exchange carries at most the per-partition distinct pairs, never
    // the row stream. (A multi-countDistinct in one agg was measured
    // 8x slower here: Catalyst's expand multiplies the scan by the
    // column count BEFORE any dedup.) Doubles render through floor()
    // on BOTH engines (a bare decimal→BIGINT cast truncates in Spark
    // but rounds half-away in DuckDB, so parity would silently hinge
    // on the values being integral); timestamps through DATE casts.
    QuerySpec("q110_profile", (s, d) => {
      val li = t(s, d, "lineitem")
      val base = li.agg(
        count(lit(1)).as("n_rows"),
        count(col("l_orderkey")).as("nn1"),
        min(col("l_orderkey")).cast("string").as("mn1"),
        max(col("l_orderkey")).cast("string").as("mx1"),
        count(col("l_linenumber")).as("nn2"),
        min(col("l_linenumber")).cast("string").as("mn2"),
        max(col("l_linenumber")).cast("string").as("mx2"),
        count(col("l_quantity")).as("nn3"),
        floor(min(col("l_quantity"))).cast("string").as("mn3"),
        floor(max(col("l_quantity"))).cast("string").as("mx3"),
        count(col("l_returnflag")).as("nn4"),
        min(col("l_returnflag")).as("mn4"),
        max(col("l_returnflag")).as("mx4"),
        count(col("l_shipdate")).as("nn5"),
        min(col("l_shipdate")).cast("date").cast("string").as("mn5"),
        max(col("l_shipdate")).cast("date").cast("string").as("mx5"))
        .selectExpr("""stack(5,
            'l_orderkey',   n_rows, nn1, mn1, mx1,
            'l_linenumber', n_rows, nn2, mn2, mx2,
            'l_quantity',   n_rows, nn3, mn3, mx3,
            'l_returnflag', n_rows, nn4, mn4, mx4,
            'l_shipdate',   n_rows, nn5, mn5, mx5)
          AS (column_name, n_rows, n_nonnull, min_s, max_s)""")
      val nd = li.select(posexplode(array(
          col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
          col("l_quantity").cast("string"), col("l_returnflag"),
          col("l_shipdate").cast("string"))).as(Seq("ci", "v")))
        .filter(col("v").isNotNull)
        .groupBy(col("ci"), col("v")).agg(lit(1))
        .groupBy(col("ci")).agg(count(lit(1)).as("n_distinct"))
        .withColumn("column_name", element_at(lit(Array(
          "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
          "l_shipdate")), col("ci") + 1))
      // left join + coalesce: an all-NULL column has no distinct pairs
      // at all and must profile as n_distinct = 0, not vanish
      base.join(broadcast(nd.select(col("column_name"), col("n_distinct"))),
          Seq("column_name"), "left")
        .select(col("column_name"), col("n_rows"), col("n_nonnull"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          col("min_s"), col("max_s"))
    },
      """SELECT 'l_orderkey' AS column_name, (SELECT COUNT(*) FROM lineitem) AS n_rows,
        |       COUNT(l_orderkey) AS n_nonnull,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |       CAST(MIN(l_orderkey) AS VARCHAR) AS min_s,
        |       CAST(MAX(l_orderkey) AS VARCHAR) AS max_s
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linenumber', (SELECT COUNT(*) FROM lineitem),
        |       COUNT(l_linenumber), CAST(COUNT(DISTINCT l_linenumber) AS BIGINT),
        |       CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', (SELECT COUNT(*) FROM lineitem),
        |       COUNT(l_quantity), CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
        |       CAST(CAST(FLOOR(MIN(l_quantity)) AS BIGINT) AS VARCHAR),
        |       CAST(CAST(FLOOR(MAX(l_quantity)) AS BIGINT) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', (SELECT COUNT(*) FROM lineitem),
        |       COUNT(l_returnflag), CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
        |       MIN(l_returnflag), MAX(l_returnflag)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', (SELECT COUNT(*) FROM lineitem),
        |       COUNT(l_shipdate), CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
        |       CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR),
        |       CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR)
        |FROM lineitem""".stripMargin),

    // weighted median (lower): the smallest quantity whose cumulative
    // revenue weight reaches half the group's total — "the quantity at
    // which half the money sits at or below". Integer-exact by
    // construction: weights are cents, the half-total test is a
    // cross-multiplication (2·cum ≥ total), no interpolation. Shape:
    // collapse to one row per (group, value) FIRST (bounded by the
    // value domain, not the table), then a tiny per-group window.
    QuerySpec("q120_weighted_median", (s, d) => {
      val q = col("l_quantity").cast("bigint")
      val wc = (dec(col("l_extendedprice")) * 100).cast("bigint")
      val byVal = t(s, d, "lineitem")
        .select(col("l_returnflag"), q.as("q"), wc.as("w_c"))
        .groupBy(col("l_returnflag"), col("q"))
        .agg(sum(col("w_c")).as("w"))
      val cum = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy(col("l_returnflag"))
      byVal
        .withColumn("cum", sum(col("w")).over(cum))
        .withColumn("total", sum(col("w")).over(whole))
        .filter(col("cum") * 2 >= col("total") &&
          (col("cum") - col("w")) * 2 < col("total"))
        .select(col("l_returnflag"), col("q").as("weighted_median_qty"),
          col("total").as("total_cents"))
    },
      """WITH bv AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, q, w,
        |        CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY q
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |        CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
        |      FROM bv)
        |SELECT l_returnflag, q AS weighted_median_qty, total AS total_cents
        |FROM c
        |WHERE cum * 2 >= total AND (cum - w) * 2 < total""".stripMargin),

    // gaps-and-islands: each customer's longest streak of consecutive
    // order DAYS (distinct days collapse first, so the streak is over
    // the calendar, not row multiplicity). The classic row_number
    // difference groups consecutive days into islands with two
    // partitioned windows and zero joins; per-customer output keeps
    // the driver compare exact.
    QuerySpec("q121_order_streaks", (s, d) => {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("bigint")
      val days = t(s, d, "orders")
        .select(col("o_custkey"), day.as("day_n")).distinct()
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_n"))
      days
        .withColumn("island", col("day_n") - row_number().over(w))
        .groupBy(col("o_custkey"), col("island"))
        .agg(count(lit(1)).as("len"), min(col("day_n")).as("start_day"))
        .groupBy(col("o_custkey"))
        .agg(max(col("len")).cast("bigint").as("longest_streak"),
          count(lit(1)).as("n_islands"))
        .filter(col("longest_streak") >= 2)
    },
      """WITH days AS (
        |  SELECT DISTINCT o_custkey,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_n
        |  FROM orders),
        |isl AS (
        |  SELECT o_custkey,
        |         day_n - row_number() OVER (PARTITION BY o_custkey ORDER BY day_n) AS island,
        |         day_n
        |  FROM days),
        |g AS (SELECT o_custkey, island, COUNT(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT o_custkey, CAST(MAX(len) AS BIGINT) AS longest_streak,
        |       CAST(COUNT(*) AS BIGINT) AS n_islands
        |FROM g GROUP BY 1
        |HAVING CAST(MAX(len) AS BIGINT) >= 2""".stripMargin),

    // grouped least-squares trend: the OLS slope of price-vs-date per
    // priority class (is this segment's order value drifting up or
    // down?), from the five decomposable sums every distributed
    // regression reduces to — one shuffle, map-side partials. The
    // closed form n·Σxy − Σx·Σy over n·Σx² − (Σx)² runs in
    // DECIMAL(38,0) (HUGEINT on the DuckDB side: day·cents products
    // overflow BIGINT at fact scale), then ONE double division;
    // degenerate groups (all orders on one day) yield NULL, not 0/0.
    QuerySpec("q119_trend_slope", (s, d) => {
      val x = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("bigint")
      val y = (dec(col("o_totalprice")) * 100).cast("bigint")
      def d38(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
      t(s, d, "orders")
        .select(col("o_orderpriority"), x.as("x"), y.as("y"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(d38(col("x")) * d38(col("y"))).as("sxy"),
          sum(d38(col("x")) * d38(col("x"))).as("sxx"))
        .select(col("o_orderpriority"), col("n"),
          when(d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx")) =!= 0,
            (d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy"))).cast("double") /
              (d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx"))).cast("double"))
            .otherwise(lit(null).cast("double"))
            .as("slope_cents_per_day"))
    },
      """WITH p AS (
        |  SELECT o_orderpriority,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |g AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |        SUM(CAST(x AS HUGEINT) * x) AS sxx
        |      FROM p GROUP BY 1)
        |SELECT o_orderpriority, n,
        |  CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
        |       ELSE CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |            / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |  END AS slope_cents_per_day
        |FROM g""".stripMargin),

    // 2D skyline (Pareto front): the (price, date) points of each
    // priority class no other point dominates (≤ in both dims, < in
    // one). Shape: collapse to distinct (price, date) points first
    // (min orderkey as representative), then the O(n log n) sweep —
    // sort each class by (price, date), keep a point iff its date
    // strictly beats the running minimum date of everything before
    // it. Per-class partitions sort in parallel (never a global
    // sort), and never the O(n²) dominance anti-join the oracle
    // replays. Integer cents and epoch days keep every comparison
    // exact; after the distinct-point collapse, the sweep's
    // strictly-before order makes "dominated" coincide with the
    // NOT EXISTS strict/non-strict mix term for term.
    QuerySpec("q114_skyline", (s, d) => {
      val price = (dec(col("o_totalprice")) * 100).cast("bigint")
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("bigint")
      val pts = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          price.as("price_c"), day.as("day_n"))
        .groupBy(col("o_orderpriority"), col("price_c"), col("day_n"))
        .agg(min(col("o_orderkey")).as("o_orderkey"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("price_c"), col("day_n"))
        .rowsBetween(Window.unboundedPreceding, -1)
      pts
        .withColumn("best_prev", min(col("day_n")).over(w))
        .filter(col("best_prev").isNull || col("day_n") < col("best_prev"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("price_c"), col("day_n"))
    },
      """WITH pts AS (
        |  SELECT o_orderpriority,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_c,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_n,
        |         MIN(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2, 3)
        |SELECT r.o_orderkey, r.o_orderpriority, r.price_c, r.day_n
        |FROM pts r
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts p
        |  WHERE p.o_orderpriority = r.o_orderpriority
        |    AND p.price_c <= r.price_c AND p.day_n <= r.day_n
        |    AND (p.price_c < r.price_c OR p.day_n < r.day_n))""".stripMargin),

    // robust dispersion statistics: median absolute deviation (the
    // two-level median — inherently a second pass over the data, with
    // the tiny per-group medians BROADCAST back) and interquartile
    // range. Exact cross-engine: the interpolation fractions (0.25,
    // 0.5, 0.75) are powers of two, quantities are whole numbers, so
    // every midpoint/deviation is a dyadic rational that double
    // represents exactly — no libm, no rounding drift.
    QuerySpec("q112_robust_stats", (s, d) => {
      val q = col("l_quantity").cast("bigint")
      val med = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(CAST(l_quantity AS BIGINT), 0.5D)").as("med"),
          (expr("percentile(CAST(l_quantity AS BIGINT), 0.75D)") -
            expr("percentile(CAST(l_quantity AS BIGINT), 0.25D)")).as("iqr"))
      t(s, d, "lineitem")
        .join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"), col("med"), col("iqr"),
          abs(q.cast("double") - col("med")).as("dev"))
        .groupBy(col("l_returnflag"), col("med"), col("iqr"))
        .agg(expr("percentile(dev, 0.5D)").as("mad"))
    },
      """WITH m AS (
        |  SELECT l_returnflag,
        |         quantile_cont(CAST(l_quantity AS BIGINT), 0.5) AS med,
        |         quantile_cont(CAST(l_quantity AS BIGINT), 0.75)
        |           - quantile_cont(CAST(l_quantity AS BIGINT), 0.25) AS iqr
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, m.med, m.iqr,
        |       quantile_cont(abs(CAST(l.l_quantity AS BIGINT) - m.med), 0.5) AS mad
        |FROM lineitem l JOIN m USING (l_returnflag)
        |GROUP BY 1, 2, 3""".stripMargin),

    // triangle counting on the parts-co-ordered-together graph (the
    // market-basket projection: an edge joins two parts appearing in
    // the same order). The per-order pair expansion is bounded by the
    // max basket size (C(7,2) here), so the edge build never goes
    // quadratic in the table. The count itself is `operators.Graph` —
    // degree-ordered orientation + adjacency-set intersection, the
    // oriented adjacency MATERIALIZED ONCE and the oriented edges
    // re-derived by exploding it, so the edge self-join runs once and
    // exactly ONE array-carrying shuffle exists in the plan (see the
    // Scaladoc there; round-8 verdict #3 measured the earlier two-join
    // shape recomputing the whole lineage per branch and shipping
    // O(deg⁺) payload per edge twice at the 100× decade). n_edges
    // comes from the adjacency itself (the orientation keeps each edge
    // exactly once, so Σ size(nbrs) = m) instead of a second edge
    // build. Brute-force parity on seeded random graphs: PropertySpec.
    QuerySpec("q111_triangles", (s, d) => {
      // basket sample (whole orders kept/dropped — sampling edges
      // instead would bias triangle counts): the co-order graph's
      // triangle work is CPU-LINEAR in graph volume by construction
      // (disjoint-replica scaling multiplies edges and triangles
      // alike), so the bench runs the 1/3-basket graph; the operator
      // itself has no such bound.
      val op = t(s, d, "lineitem")
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      // r18 note: q124/q133/q147 switched to the in-array co-order
      // edge build (Baskets.coOrderEdges) and each measured FASTER at
      // the 100× decade; q111 alone was A/B-measured 2× SLOWER with it
      // (28.5 → 59.9 s min-of-2, same session) — its downstream
      // (orientedAdjacency's two degree joins + the shuffle_hash
      // triangle join) degrades on the explode-derived statistics. The
      // self-join build stays HERE, deliberately.
      val e0 = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
      val adj = graft.operators.Graph.orientedAdjacency(e0)
      graft.operators.Graph.triangleCountFromAdj(adj)
        .join(adj.agg(
          coalesce(sum(size(col("nbrs"))), lit(0)).cast("bigint").as("n_edges")))
        .join(op.select(col("p")).distinct().agg(count(lit(1)).as("n_nodes")))
    },
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem WHERE l_orderkey % 3 = 0),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |tri AS (SELECT COUNT(*) AS n_triangles
        |        FROM e e1
        |        JOIN e e2 ON e1.b = e2.a
        |        JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b)
        |SELECT n_triangles,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |       (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) FROM op) AS n_nodes
        |FROM tri""".stripMargin)
  )

  /** q80 Morton bit width — shared with the generated oracle SQL. */
  private val ZBits = 10
}
