package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, sum}

import graft.GraftExtensions
import graft.ledger.{BiQueries, Catalog, Ingest, Warehouse}

/** The benchmark's JVM side. It reads a plan written by `run.py` (one
  * `key value...` setting or `pass <p> <operation...>` per line), sets
  * up a warmed session, then runs the plan's passes in order while
  * another pass still fits in the time budget, at least one. It is one
  * closed-loop client: each call into the engine starts only when the
  * previous one has returned. It writes one JSON record per operation
  * and per pass; `run.py` checks them and derives the metrics. In a
  * traced run (`trace 1`) every pass records spans and the
  * [[LayerListener]]'s counters. */
object Main {
  /** `kv` holds the settings; `passes(p)` the operations of pass `p`,
    * where pass -1 is the untimed warm-up. */
  final case class Plan(kv: Map[String, String], passes: Map[Int, Seq[Seq[String]]]) {
    def apply(k: String): String = kv(k)
    def path(k: String): Path = Paths.get(kv(k))
  }

  def readPlan(p: String): Plan = {
    val lines = Files.readAllLines(Paths.get(p), StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq).toSeq
    val (ops, kv) = lines.partition(_.head == "pass")
    Plan(kv.map(l => l.head -> l.tail.mkString(" ")).toMap,
      ops.groupBy(_(1).toInt).map { case (k, v) => k -> v.map(_.drop(2)) })
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU (the client and the in-process executors), ns. */
  def processCpuNs(): Long = cpuBean.getProcessCpuTime

  /** JIT compiler time so far, ms: a JVM-wide cost that rides along
    * with the measured calls in the same process. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Process CPU and JIT time spent while `body` ran, beside its wall
    * time. */
  def costed[T](body: => T): (T, Map[String, Any]) = {
    val (c0, j0, t0) = (processCpuNs(), jitMs(), System.nanoTime())
    val r = body
    (r, Map("wall_ms" -> (System.nanoTime() - t0) / 1e6,
      "cpu_ms" -> (processCpuNs() - c0) / 1e6, "jit_ms" -> (jitMs() - j0)))
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val out = new PrintWriter(Files.newBufferedWriter(plan.path("out"), StandardCharsets.UTF_8))
    val catalogs = plan.path("work").resolve("catalogs")
    Files.createDirectories(catalogs)
    val spark = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(s"local[${plan("cores")}]")
      .config("spark.sql.shuffle.partitions", plan("cores"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", plan.path("work").resolve("spark").toString)
      .config("spark.sql.warehouse.dir", plan.path("work").resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bench = new Bench(spark, plan, catalogs, out)
    try {
      // warm-up: the untimed pass -1 (one upload and the workload's BI
      // queries), so the measured operations do not pay class loading
      // and first-time codegen
      bench.pass(-1, traced = false)
      val setupMs = System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime
      out.println(Json.obj("type" -> "setup", "ms" -> setupMs))
      val budgetNs = plan("seconds").toLong * 1000000000L
      val traced = plan("trace") == "1"
      val t0 = System.nanoTime()
      var last = 0L
      var p = 0
      while (plan.passes.contains(p) &&
             (p == 0 || System.nanoTime() - t0 + last <= budgetNs)) {
        val s = System.nanoTime()
        bench.pass(p, traced)
        last = System.nanoTime() - s
        p += 1
      }
      if (traced) bench.spans.write(plan.path("spans"))
      bench.close()
      val left = Files.list(catalogs).count()
      out.println(Json.obj("type" -> "end", "peak_rss_mb" -> peakRssMb(),
        "roots_left" -> left))
    } finally {
      out.close()
      spark.stop()
    }
  }
}

/** The run's operations. With `catalog run` every pass continues one
  * long-lived catalog that the warm-up starts (monthly uploads); with
  * `catalog pass` each pass gets a fresh catalog root and the warm-up a
  * throwaway one (backfill). Every root lives under `catalogs` and is
  * deleted when its pass, or the run, ends. */
final class Bench(spark: SparkSession, plan: Main.Plan, catalogs: Path, out: PrintWriter) {
  val spans = new Spans
  private var traced = false
  private val listener = new LayerListener
  /** Client-thread time spent in instrumentation (drains, plan walks). */
  private var instrumentNs = 0L
  private var runCatalog: Option[(Path, Catalog, Warehouse)] = None

  private def span[T](name: String)(body: => T): T =
    if (traced) spans(name)(body) else body

  private def instrument[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally instrumentNs += System.nanoTime() - t0
  }

  /** Runs `body` as the operation `label`: in a traced pass its Spark
    * work is drained and returned beside the result. */
  private def layer[T](label: String)(body: => T): (T, Map[String, Any]) = {
    if (!traced) return (body, Map.empty)
    instrument {
      PerfbenchBus.drain(spark.sparkContext)
      listener.take()
    }
    listener.label = label
    val r = body
    val layers = instrument {
      PerfbenchBus.drain(spark.sparkContext)
      listener.label = "idle"
      listener.take().map { case (k, c) => k -> c.json }
    }
    (r, layers)
  }

  private def newCatalog(): (Path, Catalog, Warehouse) = {
    val root = Files.createTempDirectory(catalogs, "catalog-")
    val cat = new Catalog(spark, root.toString, compactEvery = plan("compact_every").toInt)
    (root, cat, new Warehouse(cat))
  }

  def close(): Unit = runCatalog.foreach(c => Layout.delete(c._1))

  /** What `Bench.steadyState` in the engine does between queries: drop
    * cached relations and persistent RDDs, then let the cleaner run. */
  private def steady(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(50)
    System.gc()
  }

  def pass(p: Int, traced: Boolean): Unit = {
    this.traced = traced
    if (traced) spark.sparkContext.addSparkListener(listener)
    instrumentNs = 0L
    val shared = plan("catalog") == "run"
    if (shared && runCatalog.isEmpty) runCatalog = Some(newCatalog())
    val (root, cat, wh) = if (shared) runCatalog.get else newCatalog()
    try {
      plan.passes(p).zipWithIndex.foreach { case (op, i) =>
        steady()
        spans.trace = s"p$p.o$i"
        val rec = op.head match {
          case "upload" | "reupload" => upload(cat, wh, op)
          case "bi" => query(op.tail)
        }
        out.println(Json.write(rec ++ Map("type" -> "op", "pass" -> p, "index" -> i,
          "op" -> op.mkString(" "))))
      }
      if (p >= 0) {
        // untimed: the warehouse state the checks compare
        val fact = cat.table("fato_lancamento")
        val months = fact.groupBy("ano", "mes").agg(sum(col("valor")))
          .collect().map(r => s"${r.getInt(0)}-${r.getInt(1)}" -> cents(r, 2)).toMap
        val dims = Seq("dim_tipo", "dim_grupo", "dim_categoria", "dim_classificacao",
          "dim_tempo").map(t => t -> cat.table(t).count()).toMap
        out.println(Json.obj("type" -> "pass", "pass" -> p,
          "instrument_ms" -> instrumentNs / 1e6, "fact_rows" -> fact.count(),
          "month_cents" -> months, "dims" -> dims,
          "catalog_files" -> Layout.liveFiles(root), "catalog_bytes" -> Layout.bytes(root)))
      }
    } finally {
      if (!shared) Layout.delete(root)
      if (traced) spark.sparkContext.removeSparkListener(listener)
      this.traced = false
    }
  }

  /** `op` is `upload <file>` or `reupload <file>`. */
  private def upload(cat: Catalog, wh: Warehouse, op: Seq[String]): Map[String, Any] = {
    val csv = plan.path("inputs").resolve(op(1)).toString
    val commitsBefore = Layout.liveCommits(Paths.get(cat.root))
    val t0 = System.nanoTime()
    var t1 = 0L
    val (((staged, ingestLayers), (appended, whLayers)), cost) = Main.costed {
      span(s"op.${op.head}") {
        val i = layer("ingest") {
          span("ingest.run")(Ingest.run(cat, csv, strict = false))
        }
        t1 = System.nanoTime()
        (i, layer("warehouse")(span("warehouse.run")(wh.run())))
      }
    }
    val t2 = System.nanoTime()
    val rejected = cat.table("rejects_lancamentos").count()
    cost ++ Map(
      "ingest_ms" -> (t1 - t0) / 1e6, "warehouse_ms" -> (t2 - t1) / 1e6,
      "input_bytes" -> Files.size(Paths.get(csv)),
      "staged" -> staged, "rejected" -> rejected, "appended" -> appended,
      "commits_before" -> commitsBefore,
      "commits_after" -> Layout.liveCommits(Paths.get(cat.root)),
      "layers" -> (ingestLayers ++ whLayers))
  }

  private def query(q: Seq[String]): Map[String, Any] = {
    val t0 = System.nanoTime()
    var t1, t2 = 0L
    val (((df, rows), layers), cost) = Main.costed(span("op.bi")(layer("bi") {
      val df = span("bi.build")(q.head match {
        case "monthly" => BiQueries.monthlyByTipo(spark)
        case "drilldown" => BiQueries.categoryDrilldown(spark)
        case "share" => BiQueries.classificationShare(spark, q(1).toInt, q(2).toInt)
      })
      t1 = System.nanoTime()
      span("bi.plan")(df.queryExecution.executedPlan)
      t2 = System.nanoTime()
      (df, span("bi.exec")(df.collect()))
    }))
    val t3 = System.nanoTime()
    val result: Map[String, Any] = q.head match {
      case "monthly" =>
        rows.map(r => s"${r.getString(0)}|${r.getInt(1)}|${r.getInt(2)}" -> cents(r, 3)).toMap
      case "drilldown" =>
        rows.map(r => (0 to 2).map(i => Option(r.getString(i)).getOrElse("")).mkString("|") ->
          Seq(cents(r, 3), r.getLong(4))).toMap
      case "share" =>
        rows.map(r => r.getString(0) -> Seq(cents(r, 1), r.getDecimal(2).doubleValue)).toMap
    }
    val files = if (traced) Map("files_read" -> instrument(Layout.scanFiles(df))) else Map.empty
    cost ++ Map("build_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
      "exec_ms" -> (t3 - t2) / 1e6, "result" -> result, "layers" -> layers) ++ files
  }

  /** A money column as exact cents. */
  private def cents(r: Row, i: Int): Long =
    r.getDecimal(i).movePointRight(2).longValueExact
}

/** The catalog's on-disk layout, read from outside: per table,
  * `_manifests/LATEST` names the live manifest `v<N>`, whose lines are
  * the live commit directories. */
object Layout extends AdaptiveSparkPlanHelper {
  def liveCommitDirs(root: Path): Map[String, Seq[String]] = {
    val tables = Files.list(root)
    try tables.iterator().asScala.toList.flatMap { t =>
      val latest = t.resolve("_manifests").resolve("LATEST")
      if (!Files.exists(latest)) None
      else {
        val v = Files.readString(latest).trim
        val dirs = Files.readAllLines(t.resolve("_manifests").resolve(s"v$v")).asScala
          .toSeq.filter(_.nonEmpty)
        Some(t.getFileName.toString -> dirs)
      }
    }.toMap
    finally tables.close()
  }

  def liveCommits(root: Path): Map[String, Int] =
    liveCommitDirs(root).map { case (t, d) => t -> d.size }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** Data files a reader of the live tables lists. */
  def liveFiles(root: Path): Long =
    liveCommitDirs(root).values.flatten
      .map(d => walk(Paths.get(d)).count(_.getFileName.toString.endsWith(".parquet")))
      .sum.toLong

  /** Everything under the root, superseded commits included. */
  def bytes(root: Path): Long = walk(root).map(Files.size).sum

  /** Files the query's scans selected, from their metrics. */
  def scanFiles(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.flatMap(_.metrics.get("numFiles")).map(_.value).sum

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
}
