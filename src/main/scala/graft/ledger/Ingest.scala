package graft.ledger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.LedgerFunctions._

/** Entry point 1 (SURVEY §3.1): CSV → validate → hash → normalize →
  * staging overwrite. One lazy DataFrame chain; the reference's eager
  * pandas steps (reference app/app.py:17-79) become two cheap actions
  * (the null audit) and one write job.
  */
object Ingest {

  final case class Rejected(missingColumns: Seq[String], violations: DataFrame)
    extends RuntimeException(
      s"validation failed: missing=${missingColumns.mkString(",")}")

  /** The reference's parse config (sep=",", quote='"', header;
    * reference app/app.py:22), shared by the batch reader and the
    * file-watch stream. */
  val csvOptions: Map[String, String] = Map(
    "sep" -> ",", "quote" -> "\"", "header" -> "true", "encoding" -> "UTF-8")

  /** Read the ledger CSV with [[csvOptions]]. The Brazilian decimal
    * format is NOT handled by the reader — `Valor` stays a raw string so
    * the dedup hash sees pre-normalization bytes (SURVEY §1.4-1).
    */
  def readCsv(spark: SparkSession, csvPath: String): DataFrame =
    spark.read.options(csvOptions).schema(Schemas.csvSchema).csv(csvPath)

  /** The staging transform: blanks→null, Valor fillna "0", raw-value
    * id_hash, then money normalization — in exactly the reference's
    * order (app/app.py:65-67: fillna, hash, THEN normalize).
    */
  def toStaging(df: DataFrame): DataFrame = fromNormalized(Validate.normalizeBlanks(df))

  /** [[toStaging]] of a frame whose blanks are already null. */
  private def fromNormalized(df: DataFrame): DataFrame =
    df.withColumn("Valor", coalesce(col("Valor"), lit("0")))
      .withColumn("id_hash", ledgerHash(
        col("Tipo"), col("Grupo"), col("Categoria"),
        col("Data"), col("Descrição"), col("Valor")))
      .withColumn("Valor", parseBrazilianMoney(col("Valor")).cast(DecimalType(15, 2)))
      .select(Schemas.stagingSchema.fieldNames.map(col): _*)

  /** Full ingestion of one CSV file: [[readCsv]], then [[stage]]. */
  def run(catalog: Catalog, csvPath: String, strict: Boolean = true): Long =
    stage(catalog, readCsv(catalog.spark, csvPath), strict)

  /** Validate (strict = throw with the violation report, mirroring the
    * reference's hard stop at app/app.py:53-62), transform, overwrite
    * staging. Permissive mode routes offending rows (a NULL required
    * field, or a Data that is not a `MM/yyyy` month) to
    * `rejects_lancamentos` with the violated-column list (SURVEY
    * §1.4-7) instead of failing the batch. Returns the staged count,
    * read from the staging commit's footers (no re-scan of staging).
    */
  def stage(catalog: Catalog, raw: DataFrame, strict: Boolean): Long = {
    val staged =
      if (strict) {
        val v = Validate(raw)
        if (!v.ok()) throw Rejected(v.missingColumns, v.violations)
        toStaging(raw)
      } else {
        val checked = Validate.normalizeBlanks(raw)
          .withColumn("motivo", array_join(array_compact(array(Validate.violated: _*)), ","))
        catalog.replace("rejects_lancamentos",
          checked.filter(col("motivo") =!= "").select(Schemas.rejects.fieldNames.map(col): _*))
        fromNormalized(checked.filter(col("motivo") === "").drop("motivo"))
      }
    catalog.replace("staging_lancamentos", staged)
  }
}
