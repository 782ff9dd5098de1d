package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-expression library for the reference's scalar transforms
  * (SURVEY.md §2.6, F1–F16). Everything here composes built-in Catalyst
  * expressions — zero UDFs — so whole-stage codegen, constant folding and
  * filter pushdown all stay intact, and each function is usable both from
  * the DataFrame API and (via [[graft.functions.Registry]]) from SQL text.
  *
  * Semantics derived from the reference:
  *   - empty/blank→null: app/app.py:34-36
  *   - money normalization: app/utils.py:5-14
  *   - dedup hash: app/utils.py:16-25 (computed on RAW values, before
  *     normalization — app/app.py:66-67)
  *   - month parsing / time-dim fields: app/etl.py:20-40
  */
object LedgerFunctions {

  /** F1+F2: empty string or whitespace-only → NULL (app/app.py:35-36). */
  def blankToNull(c: Column): Column =
    when(c.rlike("^\\s*$"), lit(null: String)).otherwise(c)

  /** F3: null money string → "0" (app/utils.py:6, app/app.py:65). */
  def valorOrZero(c: Column): Column = coalesce(c, lit("0"))

  /** F4+F5+F6: Brazilian-locale money "1.234,56" → DecimalType(15,2).
    * `translate` (single-char rewrite, codegen'd) instead of regex in the
    * hot path; exact decimal, never double (app/utils.py:7-13 uses
    * Python Decimal; the staging DDL forces NUMERIC(15,2), app/app.py:79).
    */
  def parseBrazilianMoney(c: Column): Column =
    translate(translate(valorOrZero(c), ".", ""), ",", ".")
      .cast(DecimalType(15, 2))

  /** F7: key canonicalization — trim then lowercase (app/utils.py:18-22). */
  def canon(c: Column): Column = lower(trim(c))

  /** F8+F9+F10: the row dedup key. MD5 over the six RAW field values
    * joined with "-" (app/utils.py:16-25). Python renders None as "None"
    * and `concat_ws` would silently skip nulls, so nulls are coalesced to
    * the literal "None" BEFORE trim/lower for byte-parity ("none" after
    * lowering, exactly like str(None).strip().lower()). `data` is trimmed
    * but NOT lowercased; `valorRaw` is used verbatim (SURVEY §1.4-1).
    */
  def ledgerHash(tipo: Column, grupo: Column, categoria: Column,
                 data: Column, descricao: Column, valorRaw: Column): Column = {
    def s(c: Column) = coalesce(c.cast("string"), lit("None"))
    md5(concat(
      canon(s(tipo)), lit("-"),
      canon(s(grupo)), lit("-"),
      canon(s(categoria)), lit("-"),
      trim(s(data)), lit("-"),
      canon(s(descricao)), lit("-"),
      s(valorRaw)))
  }

  /** F11: "MM/YYYY" month string → first-of-month DateType
    * (app/etl.py:28; Postgres twin TO_DATE at app/etl.py:127-128). */
  def parseMonth(c: Column): Column = to_date(c, "MM/yyyy")

  /** [[parseMonth]]'s parse, NULL instead of an error when `c` does not
    * parse (under ANSI mode `to_date` raises): the ingest check that
    * keeps such a row out of staging. */
  def monthParses(c: Column): Column = try_to_timestamp(c, lit("MM/yyyy")).isNotNull

  /** F12/F13: calendar parts (app/etl.py:31-32). */
  def yearOf(c: Column): Column = year(c)
  def monthOf(c: Column): Column = month(c)

  /** F14: ISO-8601 week of a date. Spark's weekofyear IS ISO week, which
    * matches pandas isocalendar().week (app/etl.py:33). */
  def isoWeek(c: Column): Column = weekofyear(c)

  /** F15: first day of month (app/etl.py:34). */
  def monthStart(c: Column): Column = trunc(c, "month")

  /** F16: last day of month. pandas end_time is 23:59:59.999…, but the
    * DDL column is DATE (initdb/01_schema.sql:59), so the persisted
    * semantics are date-truncated (app/etl.py:35). */
  def monthEnd(c: Column): Column = last_day(c)
}
