package graft.ledger

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.LedgerFunctions.{blankToNull, monthParses}

/** Batch validation (reference app/app.py:25-62): a contract check on
  * the column set, then a null audit over the required columns with
  * ''/whitespace treated as null. The reference reports per-row,
  * per-column violations and hard-stops the upload; we return the
  * violations as a DataFrame (distributed — never collected unless the
  * caller asks) and let the caller decide strict vs permissive. A Data
  * that does not parse as `MM/yyyy` violates the contract too: the
  * warehouse files every row under that month.
  */
object Validate {

  final case class Result(missingColumns: Seq[String], violations: DataFrame) {
    def ok(): Boolean = missingColumns.isEmpty && violations.isEmpty
  }

  /** Normalize blanks to null on the required columns (app/app.py:34-36),
    * in one projection. Other columns pass through untouched.
    */
  def normalizeBlanks(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    df.withColumns(Schemas.requiredColumns.filter(present).map(c => c -> blankToNull(col(c))).toMap)
  }

  /** Per required column, its name when a row violates it: NULL, or for
    * Data a value that does not parse as a month. Reads blank-normalized
    * columns ([[normalizeBlanks]]). */
  def violated: Seq[Column] = Schemas.requiredColumns.map { c =>
    when(if (c == "Data") !monthParses(col(c)) else col(c).isNull, lit(c))
  }

  /** Contract + null and month audit. `violations` has one row per offending
    * (row, column): (linha BIGINT, coluna STRING) — mirroring the
    * reference's error report shape (app/app.py:53-59). Row numbers are
    * assigned by input file order via a monotonic id over the scan; they
    * identify rows for the report, nothing downstream depends on them.
    */
  def apply(df: DataFrame): Result = {
    val missing = Schemas.requiredColumns.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      return Result(missing, df.sparkSession.emptyDataFrame)
    val normalized = normalizeBlanks(df)
    val withId = normalized.withColumn("__linha", monotonically_increasing_id())
    val violations = withId
      .withColumn("coluna", explode(array_compact(array(violated: _*))))
      .select(col("__linha").as("linha"), col("coluna"))
    Result(Seq.empty, violations)
  }
}
