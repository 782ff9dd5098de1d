package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.LedgerFunctions._
import graft.operators.{MergeIgnore, SurrogateKeys}

/** The SURVEY §2 operator inventory expressed as oracle-checkable queries
  * over the driver's TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Conventions shared with the DuckDB oracle SQL (driver t2 gate):
  *   - every money/quantity aggregate goes through DecimalType — exact and
  *     associative, so partial/final aggregation order can't produce
  *     floating-point drift between engines — and the FINAL output column
  *     is cast to DOUBLE on both sides: one correctly-rounded conversion
  *     of the identical exact value (unscaled < 2^53 at every SF, so the
  *     double is exact anyway). DECIMAL must not appear in result schemas:
  *     engines render equal decimals with different string scales
  *     ("901.00" vs "901.0"), which breaks the driver's stringified hash
  *     compare even when values are identical (round-1 lesson: the 12
  *     hash-mismatched queries were exactly the 12 with decimal outputs);
  *   - every output column is explicitly aliased (and explicitly typed
  *     where engine defaults differ, e.g. year() is INT in Spark but
  *     BIGINT in DuckDB);
  *   - no ORDER BY in unlimited results (driver compares as sets).
  */
object CoreQueries {

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables(s, d, name)

  /** Exact 2-dp decimal view of a double column. (12,2), NOT (18,2):
    * with narrow operands the products stay ≤ 18 digits — e.g.
    * (12,2)×(4,2) → (17,4) — which keeps Spark's Decimal on the
    * compact-long fast path instead of BigDecimal (measured ~2× on the
    * star-join aggregate). Every monetary value in the data is < 10^10,
    * and the DuckDB oracle casts identically, so values are unchanged. */
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** Money as integer cents: round(x*100) as BIGINT. Exact for 2-dp
    * money; round-half-away on positive doubles is identical in Spark
    * (HALF_UP) and DuckDB, and x*100 is the same IEEE product on both. */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("bigint")

  /** Temp roots queued for ONE shared shutdown hook (q68 creates a
    * warehouse per invocation that the returned frame reads lazily). */
  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var root = tempRoots.poll()
      while (root != null) {
        try {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        } catch { case _: java.io.IOException => () }
        root = tempRoots.poll()
      }
    }))
  private[graft] def cleanupAtExit(root: java.nio.file.Path): Unit = {
    cleanupHook
    tempRoots.add(root)
  }

  // ---------------------------------------------------------------- queries

  def specs: Seq[QuerySpec] = Seq(

    // A7/A1: grouped aggregation with filter pushdown (TPC-H Q1 shape —
    // the canonical "Metabase slice" over the fact table, SURVEY §3.3).
    // Money aggregates run in integer CENTS (round(x*100) as BIGINT):
    // exact like decimal, but the per-row product and the sum are plain
    // long arithmetic — the Tungsten-friendly money representation (the
    // narrow-decimal product was still the aggregate's hot spot). One
    // double conversion + one division by the scale at the end; both
    // engines compute round(double*100) and (double)sum/scale
    // identically (sums < 2^53 ⇒ the conversion is exact).
    QuerySpec("q1_pricing_summary", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("bigint")).cast("double").as("sum_qty"),
          (sum(cents(col("l_extendedprice"))).cast("double") / 100.0).as("sum_base_price"),
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .cast("double") / 10000.0).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        | CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // J1-J5/A7: the 5-way star join (fact + 4 dims), like the reference's
    // fato_lancamento build (app/etl.py:122-128). Dims broadcast.
    //
    // Standalone band (r16, VERDICT r15 #4 — the flagship's creep
    // examined): five isolated fresh-JVM min-of-3 sessions at sf0.1
    // read 1.42 / 1.44 / 1.45 / 1.57 / 1.96 s (the 1.96 came from the
    // session with the round's highest host load). Median 1.45 s =
    // 1.28× the r14 committed 1.13 s with this file untouched since
    // r11 — same family-floor movement the q53 note documents, scaled
    // by q2's larger fixed share (4 broadcasts + a two-level agg over
    // a 600k-row fact at sf0.1 is still overhead-dominated). The
    // decade evidence is the counter-signal that the PLAN is fine:
    // 10×/100× points stay sublinear (see README scale tables).
    QuerySpec("q2_star_revenue", (s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = broadcast(t(s, d, "nation"))
      val r = broadcast(t(s, d, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          // integer-cents revenue (see q1): exact, pure long arithmetic
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // A1/A2/P3: DISTINCT with a pushed-down filter (app/etl.py:49,63-65).
    QuerySpec("q3_distinct_filter", (s, d) =>
      t(s, d, "customer")
        .filter(col("c_acctbal") > 0.0)
        .select(col("c_mktsegment"))
        .distinct(),
      "SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal > 0.0"),

    // J6/K3: left-anti join — the merge-ignore primitive (SURVEY §2.3).
    // Customers who never placed a >400k order.
    QuerySpec("q4_anti_join", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin),

    // left-semi join (EXISTS).
    QuerySpec("q5_semi_join", (s, d) => {
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem").filter(col("l_quantity") > 45.0)
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderpriority"))
    },
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)""".stripMargin),

    // F7-F10: the dedup-hash pipeline (canon + concat + md5) applied to
    // the documents table (app/utils.py:16-25 semantics).
    QuerySpec("q6_ledger_hash", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        md5(concat(
          canon(col("lang")), lit("-"),
          canon(col("source")), lit("-"),
          col("n_chars").cast("string"))).as("id_hash")),
      """SELECT doc_id,
        | md5(lower(trim(lang)) || '-' || lower(trim(source)) || '-' || CAST(n_chars AS VARCHAR)) AS id_hash
        |FROM documents""".stripMargin),

    // F3-F6: Brazilian money parse round-trip — format a known decimal in
    // pt-BR locale then parse it back (app/utils.py:5-14).
    QuerySpec("q7_brl_money", (s, d) => {
      val p = t(s, d, "part")
      val brl = translate(col("p_retailprice").cast(DecimalType(15, 2)).cast("string"), ".", ",")
      p.select(
        col("p_partkey"),
        brl.as("valor_brl"),
        parseBrazilianMoney(brl).cast("double").as("valor"))
    },
      """SELECT p_partkey,
        | replace(CAST(CAST(p_retailprice AS DECIMAL(15,2)) AS VARCHAR), '.', ',') AS valor_brl,
        | CAST(CAST(replace(replace(replace(CAST(CAST(p_retailprice AS DECIMAL(15,2)) AS VARCHAR), '.', ','), '.', ''), ',', '.') AS DECIMAL(15,2)) AS DOUBLE) AS valor
        |FROM part""".stripMargin),

    // F11-F16: the dim_tempo build — month dim with ISO week + month
    // bounds (app/etl.py:20-40), derived from order dates.
    QuerySpec("q8_month_dim", (s, d) =>
      t(s, d, "orders")
        .select(monthStart(col("o_orderdate")).as("data_inicio"))
        .distinct()
        .select(
          yearOf(col("data_inicio")).cast("int").as("ano"),
          monthOf(col("data_inicio")).cast("int").as("mes"),
          isoWeek(col("data_inicio")).cast("int").as("semana"),
          col("data_inicio"),
          monthEnd(col("data_inicio")).as("data_fim")),
      """SELECT CAST(year(data_inicio) AS INT) AS ano,
        |       CAST(month(data_inicio) AS INT) AS mes,
        |       CAST(weekofyear(data_inicio) AS INT) AS semana,
        |       data_inicio,
        |       last_day(data_inicio) AS data_fim
        |FROM (SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS data_inicio
        |      FROM orders)""".stripMargin),

    // SERIAL replacement: dense surrogate keys over a distinct dim
    // (SURVEY §1.3, initdb/01_schema.sql:14).
    QuerySpec("q9_dim_surrogate", (s, d) =>
      SurrogateKeys.assign(
        t(s, d, "part").select(col("p_type").as("nome_tipo")).distinct(),
        "id_tipo", Seq("nome_tipo"))
        .select(col("id_tipo"), col("nome_tipo")),
      """SELECT CAST(row_number() OVER (ORDER BY nome_tipo) AS INT) AS id_tipo, nome_tipo
        |FROM (SELECT DISTINCT p_type AS nome_tipo FROM part)""".stripMargin),

    // window top-k per group (deterministic tie-break).
    QuerySpec("q10_window_topk", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          dec(col("o_totalprice")).cast("double").as("price"), col("rn"))
    },
      """SELECT o_custkey, o_orderkey, price, rn FROM (
        | SELECT o_custkey, o_orderkey,
        |        CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |        CAST(row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        | FROM orders)
        |WHERE rn <= 3""".stripMargin),

    // P5/A5/A6: the null-audit validation (app/app.py:34-62) as one
    // aggregate over the documents contract columns.
    QuerySpec("q11_null_audit", (s, d) => {
      val required = Seq("text", "lang", "source")
      val bad = required.map(c => blankToNull(col(c)).isNull).reduce(_ || _)
      t(s, d, "documents").agg(
        count(lit(1)).as("n_rows"),
        sum(when(bad, 1).otherwise(0)).cast("bigint").as("n_bad"),
        countDistinct(col("lang")).as("n_langs"))
    },
      """SELECT COUNT(*) AS n_rows,
        | CAST(SUM(CASE WHEN (text IS NULL OR regexp_matches(text, '^\s*$'))
        |                 OR (lang IS NULL OR regexp_matches(lang, '^\s*$'))
        |                 OR (source IS NULL OR regexp_matches(source, '^\s*$'))
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        | COUNT(DISTINCT lang) AS n_langs
        |FROM documents""".stripMargin),

    // K3 end-to-end: merge-ignore delta (dropDuplicates + anti join) —
    // (customer, year) combos a new batch would add to an existing dim
    // keyed by the combos that already saw a >300k order.
    QuerySpec("q12_merge_ignore", (s, d) => {
      val o = t(s, d, "orders")
      val batch = o.select(col("o_custkey"),
        yearOf(col("o_orderdate")).cast("int").as("ano"))
      val existing = o.filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey"), yearOf(col("o_orderdate")).cast("int").as("ano"))
      MergeIgnore.newRows(batch, existing, Seq("o_custkey", "ano"))
    },
      """SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS INT) AS ano FROM orders
        |EXCEPT
        |SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS ano FROM orders
        |WHERE o_totalprice > 300000.0""".stripMargin,
      writesTables = true),

    // K3's other half: full upsert merge (`ON CONFLICT DO UPDATE` /
    // MERGE WHEN MATCHED THEN UPDATE) — operators.MergeUpsert. The
    // customer dim is overwritten by each customer's LATEST order
    // (o_orderdate, o_orderkey tie-break — the caller-named conflict
    // resolution a distributed batch needs where Postgres used
    // statement order), planted brand-new keys (custkey+1e6) INSERT
    // instead of update, and customers with no orders pass through
    // untouched. The batch's ordering columns (__ts/__seq) exist only
    // for the window; the result keeps exactly the dim's columns.
    QuerySpec("q88_merge_upsert", (s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val o = t(s, d, "orders")
      def asBatch(src: DataFrame, key: org.apache.spark.sql.Column) = src.select(
        key.as("c_custkey"),
        concat(lit("upd-"), col("o_orderkey")).as("c_name"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate").as("__ts"), col("o_orderkey").as("__seq"))
      val batch = asBatch(o, col("o_custkey"))
        .unionByName(asBatch(o.filter(col("o_custkey") % 50 === 0),
          col("o_custkey") + 1000000))
      graft.operators.MergeUpsert.upsert(cust, batch, Seq("c_custkey"),
        orderBy = Seq(col("__ts"), col("__seq")))
    },
      """WITH b AS (
        |  SELECT o_custkey AS c_custkey,
        |         'upd-' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |         o_totalprice AS c_acctbal, o_orderdate AS ts, o_orderkey AS seq
        |  FROM orders
        |  UNION ALL
        |  SELECT o_custkey + 1000000, 'upd-' || CAST(o_orderkey AS VARCHAR),
        |         o_totalprice, o_orderdate, o_orderkey
        |  FROM orders WHERE o_custkey % 50 = 0),
        |latest AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM (
        |    SELECT b.*, row_number() OVER (
        |      PARTITION BY c_custkey ORDER BY ts DESC, seq DESC) AS rn
        |    FROM b) WHERE rn = 1)
        |SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal FROM latest""".stripMargin,
      writesTables = true),

    // set op: UNION (distinct).
    QuerySpec("q13_union", (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey")))
        .distinct(),
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    // J5 analog: equi-join on derived (year, month) keys
    // (app/etl.py:127-128).
    QuerySpec("q14_derived_key_join", (s, d) => {
      val om = t(s, d, "orders")
        .groupBy(
          yearOf(col("o_orderdate")).cast("int").as("ano"),
          monthOf(col("o_orderdate")).cast("int").as("mes"))
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("order_total"))
      val lm = t(s, d, "lineitem")
        .groupBy(
          yearOf(col("l_shipdate")).cast("int").as("ano"),
          monthOf(col("l_shipdate")).cast("int").as("mes"))
        .agg(sum(dec(col("l_extendedprice"))).cast("double").as("ship_total"))
      om.join(lm, Seq("ano", "mes"), "inner")
        .select(col("ano"), col("mes"), col("order_total"), col("ship_total"))
    },
      """WITH om AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS ano,
        |         CAST(month(o_orderdate) AS INT) AS mes,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS order_total
        |  FROM orders GROUP BY 1, 2),
        |lm AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS ano,
        |         CAST(month(l_shipdate) AS INT) AS mes,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ship_total
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT om.ano, om.mes, order_total, ship_total
        |FROM om JOIN lm ON om.ano = lm.ano AND om.mes = lm.mes""".stripMargin),

    // q68, the reference's warehouse build: a member below, because
    // Profile runs it too
    warehouseE2e,

    // time-windowed aggregation over the events table (batch analog of
    // the M4 streaming query). `tus` = epoch micros, normalized by
    // Tables.events at the read boundary.
    QuerySpec("q15_events_hourly", (s, d) => {
      graft.Tables.events(s, d)
        .withColumn("ts_utc", timestamp_micros(col("tus")))
        .groupBy(
          date_trunc("hour", col("ts_utc")).as("hour_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value"))
    },
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin)
  )

  // The reference's whole second entry point (staging → star schema,
  // app/etl.py:136-149) as ONE oracle-checked query: a synthetic
  // ledger batch derived from orders is ingested to staging, the
  // Warehouse builds the star schema in a fresh temp catalog, runs a
  // SECOND time to prove K3 idempotency (rerun_appended must be 0),
  // and the published fact — surrogate keys included — must equal the
  // DuckDB replay of the complete pipeline (hash, dim surrogate
  // order, 5-way join).
  //
  // Cost dissection (round-11 verdict #4; graft.Profile, sf0.1,
  // local[32], steady state): staging 0.36 s/1 job; build 1 —
  // dims 0.3–0.6 s/3–5 jobs each, fato 1.8 s/11 jobs (5 broadcast
  // builds + months collect + range-sample + write under AQE),
  // seq total 4.2 s/30 jobs; build 2 (the rerun) 4.8 s/37 jobs —
  // every loader pays run-1's price PLUS the existing-side read,
  // and appendDelta still executes the (empty) delta write because
  // emptiness is only learned by running the anti-join. Catalog
  // commit machinery is NOT the cost: manifest writes are
  // driver-side file ops (µs–ms), footer counts read in parallel,
  // and empty deltas skip the commit entirely. The ~7.5 s in-bench
  // figure is ~67 AQE-stage jobs of fixed scheduling latency over a
  // deliberately tiny batch, split across TWO complete warehouse
  // builds — and the second build is the q68 contract itself (the
  // K3 idempotency proof), so the cost is irreducible without
  // deleting what the query exists to prove. At real batch sizes
  // the fixed per-job latency amortizes to noise; nothing here
  // scales super-linearly (PlanSpec pins the month-pruned
  // existing-side scan).
  val warehouseE2e: QuerySpec = QuerySpec("q68_warehouse_e2e", (s, d) => {
    val csvish = ledgerBatch(t(s, d, "orders"))
    val root = java.nio.file.Files.createTempDirectory("graft_q68")
    // the returned frame reads this warehouse lazily, so the dir must
    // outlive the query call — queue it for one shared exit-time
    // cleanup instead of leaking a warehouse (or a hook thread) per
    // invocation
    cleanupAtExit(root)
    val cat = new graft.ledger.Catalog(s, s"$root/wh")
    cat.replace("staging_lancamentos", graft.ledger.Ingest.toStaging(csvish))
    val wh = new graft.ledger.Warehouse(cat)
    wh.run()
    // rerun idempotency on the SAME staged batch (the re-upload
    // shape with zero changes): merge-ignore must append 0 to every
    // table. No re-ingest — the staged table is already exactly the
    // rerun's input, so re-staging it would only re-pay the CSV→
    // staging hash and write for an identical result (round-5
    // verdict: the rerun's re-ingestion was pure artifact cost).
    val rerun = wh.run().values.sum // merge-ignore everywhere ⇒ 0
    cat.table("fato_lancamento")
      .withColumn("valor", col("valor").cast("double"))
      .withColumn("rerun_appended", lit(rerun))
  },
    // Full pipeline replay: staging synthesis (hash on RAW values),
    // surrogate assignment in the engine's documented key order, the
    // 5-way star join, and dense fact ids by id_hash.
    """WITH src AS (
      |  SELECT 'pedido ' || CAST(o_orderkey AS VARCHAR) AS descricao,
      |         o_orderpriority AS tipo,
      |         o_orderstatus AS grupo,
      |         'c' || CAST(o_custkey % 10 AS VARCHAR) AS categoria,
      |         'cl' || CAST(o_orderkey % 4 AS VARCHAR) AS classificacao,
      |         strftime(o_orderdate, '%m/%Y') AS data,
      |         replace(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR), '.', ',') AS valor_raw
      |  FROM orders WHERE o_orderkey % 17 = 0
      |    AND o_orderdate < DATE '1998-01-01'),
      |stg AS (
      |  SELECT descricao, tipo, grupo, categoria, classificacao, data, valor_raw,
      |         CAST(replace(replace(valor_raw, '.', ''), ',', '.') AS DECIMAL(15,2)) AS valor,
      |         md5(lower(trim(tipo)) || '-' || lower(trim(grupo)) || '-' ||
      |             lower(trim(categoria)) || '-' || trim(data) || '-' ||
      |             lower(trim(descricao)) || '-' || valor_raw) AS id_hash,
      |         CAST(year(strptime(data, '%m/%Y')) AS INT) AS ano,
      |         CAST(month(strptime(data, '%m/%Y')) AS INT) AS mes
      |  FROM src),
      |d_tipo AS (
      |  SELECT CAST(row_number() OVER (ORDER BY nome_tipo) AS INT) AS id_tipo, nome_tipo
      |  FROM (SELECT DISTINCT tipo AS nome_tipo FROM stg)),
      |d_cls AS (
      |  SELECT CAST(row_number() OVER (ORDER BY nome_classificacao) AS INT) AS id_classificacao,
      |         nome_classificacao
      |  FROM (SELECT DISTINCT classificacao AS nome_classificacao FROM stg)),
      |d_grupo AS (
      |  SELECT CAST(row_number() OVER (ORDER BY id_tipo, nome_grupo) AS INT) AS id_grupo,
      |         id_tipo, nome_grupo
      |  FROM (SELECT DISTINCT dt.id_tipo, s.grupo AS nome_grupo
      |        FROM stg s JOIN d_tipo dt ON s.tipo = dt.nome_tipo)),
      |d_cat AS (
      |  SELECT CAST(row_number() OVER (ORDER BY id_grupo, nome_categoria) AS INT) AS id_categoria,
      |         id_grupo, nome_categoria
      |  FROM (SELECT DISTINCT dg.id_grupo, s.categoria AS nome_categoria
      |        FROM stg s JOIN d_tipo dt ON s.tipo = dt.nome_tipo
      |        JOIN d_grupo dg ON dg.id_tipo = dt.id_tipo AND dg.nome_grupo = s.grupo)),
      |d_tempo AS (
      |  SELECT CAST(row_number() OVER (ORDER BY ano, mes) AS INT) AS id_tempo, ano, mes
      |  FROM (SELECT DISTINCT ano, mes FROM stg))
      |SELECT row_number() OVER (ORDER BY s.id_hash) AS id_lancamento,
      |       dt.id_tipo, dg.id_grupo, dc.id_categoria, dtm.id_tempo, dcl.id_classificacao,
      |       s.descricao, CAST(s.valor AS DOUBLE) AS valor, s.id_hash,
      |       s.ano, s.mes, CAST(0 AS BIGINT) AS rerun_appended
      |FROM stg s
      |JOIN d_tipo dt ON s.tipo = dt.nome_tipo
      |JOIN d_grupo dg ON dg.id_tipo = dt.id_tipo AND dg.nome_grupo = s.grupo
      |JOIN d_cat dc ON dc.id_grupo = dg.id_grupo AND dc.nome_categoria = s.categoria
      |JOIN d_cls dcl ON dcl.nome_classificacao = s.classificacao
      |JOIN d_tempo dtm ON dtm.ano = s.ano AND dtm.mes = s.mes""".stripMargin,
    writesTables = true, reps = Some(1))

  /** The ledger upload q68 stages: a pt-BR CSV-shaped projection of
    * `orders` (Descrição, Tipo, Grupo, Categoria, Classificação, Data,
    * Valor). Every 17th order keeps the batch big enough to exercise
    * every loader path while holding the e2e's share of the bench
    * artifact down (the build's fixed job overhead dominates, but the
    * star-join and hash work still scale with the batch). The 3-year
    * date bound caps the batch's MONTH span (36 partitions): each
    * (ano, mes) directory the fact append touches costs a fixed
    * write+footer price, so an 80-month batch paid ~2× the
    * partition-dir tax of any realistic upload while exercising
    * nothing extra (the oracle's bound moves in lockstep). */
  private[graft] def ledgerBatch(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 17 === 0 &&
      col("o_orderdate") < lit("1998-01-01").cast("date"))
      .select(
        concat(lit("pedido "), col("o_orderkey")).as("Descrição"),
        col("o_orderpriority").as("Tipo"),
        col("o_orderstatus").as("Grupo"),
        concat(lit("c"), col("o_custkey") % 10).as("Categoria"),
        concat(lit("cl"), col("o_orderkey") % 4).as("Classificação"),
        date_format(col("o_orderdate"), "MM/yyyy").as("Data"),
        translate(col("o_totalprice").cast(DecimalType(15, 2)).cast("string"),
          ".", ",").as("Valor"))
}
