package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ledger.Catalog

/** Shard-balanced corpus export atop [[ContiguousIds]] — the shipped
  * artifact the numbering primitive exists for (round-10 verdict #6):
  * globally consecutive example ids, `shard = ex_id div shardSize`, so
  * every shard holds exactly `shardSize` consecutive examples (the last
  * one the remainder) and "example 734M" addresses shard 734M div size
  * without a lookup table. A per-shard manifest (doc/byte counts, id
  * range) ships WITH the data in one atomic catalog flip, so a consumer
  * never sees data without its manifest or a manifest describing a
  * half-written export.
  *
  * Shape at 100 TB: the only global layout cost is ContiguousIds' one
  * range exchange (each executor sorts its range — nothing funnels
  * through one task); the shard column derives per-row, the manifest is
  * one shard-keyed aggregate (shard-count-sized output), and the write
  * is `partitionBy(shard)` — consecutive ids land in the same range
  * partition, so each task writes a handful of adjacent shard dirs,
  * not one file per shard per task.
  */
object ShardedExport {

  /** `df` + dense `ex_id` (0-based, `orderCols` order — unique-key
    * requirement per [[ContiguousIds.assign]]) + `shard` =
    * ex_id div shardSize. */
  def withShards(df: DataFrame, orderCols: Seq[String],
                 shardSize: Long): DataFrame = {
    require(shardSize >= 1, s"shardSize must be >= 1, got $shardSize")
    ContiguousIds.assign(df, orderCols, "ex_id")
      .withColumn("shard", expr(s"ex_id div ${shardSize}L"))
  }

  /** Per-shard manifest of a [[withShards]] frame: doc count, byte
    * count (sum of `byteCol`), and the [min, max] ex_id range — the
    * resumable-download / integrity-check record. */
  def manifest(sharded: DataFrame, byteCol: String): DataFrame =
    // shard re-cast: read back from a hive layout the partition column
    // infers as INT for small values and LONG for big ones — the
    // manifest schema must not depend on the export's size
    sharded.groupBy(col("shard").cast("bigint").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(byteCol)).cast("bigint").as("n_bytes"),
        min(col("ex_id")).as("min_ex_id"),
        max(col("ex_id")).as("max_ex_id"))

  /** Write the export: data table partitioned by shard + its manifest
    * table, committed in ONE catalog transaction — both appear
    * atomically or neither does. A reader on any catalog instance sees
    * the old pair until the transaction's single snapshot advance, and
    * a crash between the two replaces rolls both back at the next
    * transaction begin. Returns the committed manifest (read back
    * through the catalog). */
  def export(cat: Catalog, dataTable: String, manifestTable: String,
             df: DataFrame, orderCols: Seq[String], shardSize: Long,
             byteCol: String): DataFrame = {
    // ContiguousIds.assign materializes via zipWithIndex, so the shard
    // assignment is computed once here and both writes read that frame
    val sharded = withShards(df, orderCols, shardSize)
    cat.transaction {
      cat.replace(dataTable, sharded, partitionBy = Seq("shard"))
      // the manifest aggregates the COMMITTED table, not the input
      // frame: it describes the bytes a consumer will actually read
      cat.replace(manifestTable, manifest(cat.table(dataTable), byteCol))
    }
    cat.table(manifestTable)
  }
}
