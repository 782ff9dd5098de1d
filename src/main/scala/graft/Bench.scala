package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ISOLATED=1: artifact mode — a FRESH SparkSession
    // (full SparkContext restart) per query, so no block-manager /
    // shuffle-file / JIT residue from one query is ever charged to the
    // next (round-10 verdict #2: the committed 100× sweep carried up to
    // 1.8× noise that isolated re-measures disproved; the artifact must
    // not need a prose footnote to be believed). Costs ~2-4 s restart
    // per query — pay it for committed artifacts, skip it while
    // iterating. SPARK_GRAFT_REPS overrides the per-query rep count.
    val isolated = sys.env.get("SPARK_GRAFT_ISOLATED")
      .exists(v => v == "1" || v == "true")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(2)
    Preflight.check(sfDir) // testdata-drift probe: named diagnostics first

    def newSession(): SparkSession = {
      val s = Sessions.local(Sessions.defaultCpus)
      // Warm up scheduler + codegen paths so the first timed query doesn't
      // absorb session startup (~3-4 s). Touches no benchmark data.
      s.range(100000).selectExpr("sum(id)").collect()
      s
    }
    var spark = newSession()
    // optional args: bench only these queries (local iteration aid; the
    // driver passes no args → full run). A misspelled name must fail
    // loudly — silently benching nothing looks like an all-green fast run.
    val only = args.toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — valid names are " +
        "the keys of SparkEntry.queries")
    // Deterministic order with the TABLE-WRITING queries LAST: q68
    // runs ~100 jobs and writes a full star schema mid-run (round 3
    // showed its residue — page cache, GC pressure, lingering blocks —
    // polluting whatever happened to run after it in Map iteration
    // order), and the layout queries write whole fact projections
    // (q146 bucketed tables, q148 a partitioned fact, q88/q12 catalog
    // commits). Round 11 measured the same mechanism at the 100×
    // decade even with per-query session isolation: q149, alphabetical
    // neighbor of q146/q148, read 31.4 s in-sweep against a 21.8-22.6 s
    // standalone band — writeback/page-cache residue from the writers,
    // not q149's own cost. Writers measure each other last; read-only
    // queries measure clean. The single-rep writer (q68) goes very last.
    val specs = SparkEntry.specs
      .sortBy(q => (q.writesTables, q.reps.nonEmpty, q.name))
      .filter(q => only.isEmpty || only(q.name))
    val loadStart = load1()
    // noop sink, not count(): count() lets the optimizer prune the
    // aggregate/projection expressions away, timing a cheaper plan
    // than the query actually is. noop materializes every column.
    // Two timed runs per query, min reported: single-shot times in a
    // shared JVM swing ±50% with JIT/GC phase (measured on identical
    // code); the min is the reproducible steady-state figure. q68 runs
    // once — it is ~100 self-averaging jobs, and a second complete
    // warehouse build buys no JIT signal for a third of the run budget.
    // a failing query reports -1, never its fast-fail elapsed time
    val results = specs.map { spec =>
      val name = spec.name
      if (isolated) { spark.stop(); spark = newSession() }
      // Per-query 1-min load sample, taken right before the first timed
      // rep (round-16 verdict #4): the session-level load1_start/end
      // told the round-16 hot-sweep story only in aggregate — a
      // per-entry sample lets tools/check.py flag the individual gate
      // values that were measured under external load instead of
      // relying on a human to notice a 10x point exceeding its own
      // 100x point. NB the sample includes the sweep's own residue
      // (the previous query's threads stay in the 1-min average long
      // after they stop contending), so consumers compare against the
      // sweep's median sample, not an absolute quiet-host number.
      val qLoad = load1()
      val nReps = spec.reps.getOrElse(reps)
      val times = (1 to nReps).map { _ =>
        steadyState(spark)
        val t0 = System.nanoTime()
        try {
          spec.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case NonFatal(_) => -1.0 }
      }
      val best = if (times.exists(_ >= 0)) times.filter(_ >= 0).min else -1.0
      if (sys.env.contains("SPARK_GRAFT_REP_TRACE"))
        System.err.println(s"[bench-reps] $name " +
          times.map(t => f"$t%.2f").mkString(" "))
      // per-query progress on stderr (the driver parses only the final
      // stdout JSON line): when a run dies mid-way — the 100×-decade
      // full sweep OOMed once — the last line names the culprit instead
      // of the whole artifact silently vanishing
      System.err.println(f"[bench] $name%-28s $best%8.2f s")
      (name, best, qLoad)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qLoads = results
      .map { case (k, _, l) => s"\"" + k + "\":" + f"$l%.2f" }
      .mkString("{", ",", "}")
    // total over successes only: summing the -1 sentinels would make
    // failing rounds look FASTER than passing ones
    val total = results.map(_._2).filter(_ >= 0).sum
    // the artifact self-describes its measurement conditions: host load
    // (1-min average) at start/end and the isolation mode — a sweep
    // taken under external load is visibly suspect from the JSON alone
    // "reps" is the default; queries measured with a DIFFERENT count
    // are named in "reps_overrides" so the artifact's measurement
    // conditions are complete without a prose footnote (q68 always
    // runs once — ~100 self-averaging jobs; a second full warehouse
    // build buys no JIT signal for a third of the run budget)
    val overrides = specs.map(q => q.name -> q.reps.getOrElse(reps))
      .filter(_._2 != reps)
      .map { case (n, r) => s"\"" + n + "\":" + r }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"sf":"$sfDir","isolated":$isolated,"reps":$reps,""" +
      s""""reps_overrides":$overrides,"query_load1":$qLoads,""" +
      s""""load1_start":$loadStart,"load1_end":${load1()}}"""
    println(json)
    // Mirror the artifact to a file (round-18 postmortem: the driver's
    // round-over-round comparison went dark because the captured stdout
    // tail of BENCH_r17 was truncated MID-LINE — the one-line JSON now
    // carries two 173-entry maps, so losing the tail loses everything).
    // The mirror is best-effort: the stdout line stays the contract.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench-last.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] artifact mirrored to $out")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] artifact mirror failed (non-fatal): $e")
    }
    spark.stop()
  }

  /** 1-minute host load average (-1 where /proc is unavailable). */
  private def load1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Return the JVM to steady state before each timed run (round-3
    * verdict: the full-run artifact read as a 2.8× regression that
    * isolated re-runs disproved — leftover localCheckpoint blocks and
    * cached relations from earlier queries were being charged to later
    * ones). Drops cached relations and persistent RDDs (q56/q67
    * checkpoint blocks, persisted edge sets — the graph/basket
    * operators persist intermediates and by contract leave them to the
    * session runner to clear), then GCs so the ContextCleaner actually
    * frees the blocks now instead of mid-way through the next
    * measurement. Two GC passes with a short pause: the cleaner works
    * off a reference queue on its own thread — the first collect
    * enqueues the dead broadcast/shuffle/block references, the pause
    * lets the cleaner drain them, the second collect reclaims what the
    * drain itself released. One pass left shuffle files and broadcast
    * blocks from the graph queries alive into the next measurement
    * (round 9: q107/q112–q119 read ~2× at sf0.1 from exactly this
    * churn while beating their own times at 10× data). */
  private[graft] def steadyState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(50)
    System.gc()
  }
}
