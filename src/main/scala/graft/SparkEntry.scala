package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q2_star_revenue")(spark, "/root/testdata/sf0.001")
  /** The query registry: every query with its oracle, one spec each. */
  lazy val specs: Seq[QuerySpec] = join(
    CoreQueries.specs, TextQueries.specs, DedupQueries.specs,
    MultimodalQueries.specs, OlapQueries.specs, EventQueries.specs,
    RelationalQueries.specs, BreadthQueries.specs, PipelineQueries.specs,
    AnalyticsQueries.specs, WebScrubQueries.specs)
  /** Concatenate the files' specs; a name declared twice fails loudly
    * instead of one declaration silently shadowing the other. */
  private[graft] def join(files: Seq[QuerySpec]*): Seq[QuerySpec] = {
    val all = files.flatten
    val dups = all.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"query name(s) declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    specs.map(s => s.name -> s.oracleSql).toMap
  /** Queries intentionally without oracle SQL (non-SQL-expressible in
    * DuckDB; driver records a weaker rows-only check). Empty since
    * round 4: q30 now emits an engine-agnostic accuracy verdict
    * (exact count + "own sketch within 5%" boolean) instead of the
    * engine-specific raw sketch value. */
  def rowsOnlyQueries: Set[String] = Set.empty
}
