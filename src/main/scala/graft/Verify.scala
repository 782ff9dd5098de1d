package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json for the DuckDB compare (tools/check.py) and
  * verify_failures.json (query name → error message, `{}` when none). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // testdata-drift pre-flight (round 7→8 lesson: a regenerated
    // events.ts physical type silently broke 6 queries) — named
    // diagnostics up front instead of anonymous red cells later
    Preflight.check(sfDir)
    // optional extra args: run only these queries (local iteration aid;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val spark = Sessions.local(Sessions.defaultCpus)
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.specs.filter(q => only.isEmpty || only(q.name)).flatMap { q =>
      val failure =
        try {
          q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
          Some(q.name -> String.valueOf(e.getMessage))
        }
      // the graph/basket operators persist intermediates and leave
      // them to the session runner to clear (the Bench.steadyState
      // contract) — 140 queries in one JVM would otherwise accumulate
      // corpus-scale cached tables
      Bench.steadyState(spark)
      failure
    }
    def write(file: String, m: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        m.map { case (k, v) => s"${Preflight.jq(k)}: ${Preflight.jq(v)}" }.mkString("{", ",", "}"))
    write("oracle_sql.json", SparkEntry.oracleSql)
    write("verify_failures.json", failures)
    spark.stop()
  }
}
