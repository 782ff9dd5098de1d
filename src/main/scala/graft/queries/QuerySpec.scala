package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark builder and the DuckDB SQL that must
  * return the same rows on the same parquet tables, declared together.
  *
  * @param build        (session, sf dir) => the query's result frame
  * @param oracleSql    ANSI SQL over the same tables; required — a query
  *                     without an oracle would only get a weaker
  *                     rows-only check
  * @param writesTables `build` writes tables, or computes a merge
  *                     into one: `Bench` measures these after every
  *                     read-only query
  * @param reps         timed reps for this query when it differs from the
  *                     bench default
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    writesTables: Boolean = false,
    reps: Option[Int] = None) {
  require(oracleSql.trim.nonEmpty, s"query $name declares no oracle SQL")
}
