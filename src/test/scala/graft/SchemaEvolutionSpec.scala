package graft

import java.nio.file.Files

import graft.ledger.Catalog

/** Add-column schema evolution: metadata-only version bump, initial
  * defaults for pre-evolution commits, post-evolution NULLs preserved,
  * time travel under the schema of its day. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat() = {
    val dir = Files.createTempDirectory("cat_evolve").toString
    new Catalog(spark, s"$dir/wh")
  }

  test("addColumn backfills old commits with the default, new commits keep their values") {
    val cat = freshCat()
    cat.replace("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))  // v1
    cat.addColumn("t", "score", "BIGINT", default = Some("0"))      // v2, metadata-only
    // post-evolution append: one real value, one genuine NULL
    cat.appendDelta("t", Seq((3L, "c", Some(7L)), (4L, "d", None))
      .toDF("id", "name", "score"))                                 // v3
    val rows = cat.table("t").as[(Long, String, Option[Long])]
      .collect().sortBy(_._1)
    assert(rows.toSeq === Seq(
      (1L, "a", Some(0L)), // pre-evolution rows: initial default
      (2L, "b", Some(0L)),
      (3L, "c", Some(7L)), // written value
      (4L, "d", None)))    // post-evolution NULL stays NULL — never coalesced
  }

  test("no default: old rows read as NULL") {
    val cat = freshCat()
    cat.replace("t", Seq((1L, "a")).toDF("id", "name"))
    cat.addColumn("t", "tag", "STRING")
    assert(cat.table("t").as[(Long, String, Option[String])].collect()
      .toSeq === Seq((1L, "a", None)))
  }

  test("time travel: pre-evolution versions keep the old shape, later ones the new") {
    val cat = freshCat()
    cat.replace("t", Seq((1L, "a")).toDF("id", "name"))             // v1
    cat.addColumn("t", "score", "BIGINT", default = Some("42"))     // v2
    assert(cat.tableAt("t", 1).columns.toSeq === Seq("id", "name"))
    assert(cat.tableAt("t", 2).columns.toSeq === Seq("id", "name", "score"))
    assert(cat.tableAt("t", 2).selectExpr("score").as[Long].collect().toSeq === Seq(42L))
  }

  test("second evolution carries the first's default forward") {
    val cat = freshCat()
    cat.replace("t", Seq((1L, "a")).toDF("id", "name"))
    cat.addColumn("t", "score", "BIGINT", default = Some("5"))
    cat.addColumn("t", "lang", "STRING", default = Some("'pt'"))
    val r = cat.table("t").as[(Long, String, Long, String)].collect()
    assert(r.toSeq === Seq((1L, "a", 5L, "pt")))
  }

  test("duplicate column and missing table are rejected loudly") {
    val cat = freshCat()
    intercept[IllegalArgumentException] { cat.addColumn("nope", "x", "BIGINT") }
    cat.replace("t", Seq((1L, "a")).toDF("id", "name"))
    intercept[IllegalArgumentException] { cat.addColumn("t", "NAME", "STRING") }
  }

  test("evolution survives a subsequent compact: defaults materialize into the rewrite") {
    val cat = freshCat()
    cat.replace("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.addColumn("t", "score", "BIGINT", default = Some("9"))
    cat.appendDelta("t", Seq((3L, "c", 1L)).toDF("id", "name", "score"))
    cat.compact("t")
    val rows = cat.table("t").as[(Long, String, Option[Long])]
      .collect().sortBy(_._1)
    assert(rows.toSeq === Seq(
      (1L, "a", Some(9L)), (2L, "b", Some(9L)), (3L, "c", Some(1L))))
  }

  // Rewrites and pruned reads after addColumn must read exactly what
  // table() reads: the written values of post-evolution commits, and the
  // initial default for commits that pre-date the column.

  private val tipoCols = Seq("id_tipo", "nome_tipo", "peso")

  /** dim_tipo (declared) evolved with `peso`: one pre-evolution commit,
    * then one post-evolution commit per batch. */
  private def evolvedTipo(batches: Seq[(Int, String, Int)]*) = {
    val cat = freshCat()
    cat.appendDelta("dim_tipo", Seq((1, "a"), (2, "b")).toDF("id_tipo", "nome_tipo"))
    cat.addColumn("dim_tipo", "peso", "INT", default = Some("0"))
    batches.foreach(b => cat.appendDelta("dim_tipo", b.toDF(tipoCols: _*)))
    cat
  }

  private def tipoRows(df: org.apache.spark.sql.DataFrame) = {
    assert(df.columns.toSeq === tipoCols)
    df.as[(Int, String, Option[Int])].collect().sortBy(_._1).toSeq
  }

  test("deleteWhere after addColumn keeps a declared table's written values") {
    val cat = evolvedTipo(Seq((3, "c", 5), (4, "d", 6), (5, "e", 7)))
    assert(cat.deleteWhere("dim_tipo", "id_tipo", 5, 5) === 1)
    assert(tipoRows(cat.table("dim_tipo")) === Seq(
      (1, "a", Some(0)), (2, "b", Some(0)), (3, "c", Some(5)), (4, "d", Some(6))))
  }

  test("deleteWhere after addColumn keeps an undeclared table's initial default") {
    val cat = freshCat()
    cat.replace("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.addColumn("t", "score", "BIGINT", default = Some("9"))
    cat.appendDelta("t", Seq((3L, "c", 1L)).toDF("id", "name", "score"))
    assert(cat.deleteWhere("t", "id", 2, 2) === 1)
    val t = cat.table("t")
    assert(t.columns.toSeq === Seq("id", "name", "score"))
    assert(t.as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq === Seq(
      (1L, "a", Some(9L)), (3L, "c", Some(1L))))
  }

  test("compactSmall after addColumn keeps written values and defaults") {
    val cat = evolvedTipo(Seq((3, "c", 5)), Seq((4, "d", 6)))
    assert(cat.compactSmall("dim_tipo", smallBytes = 1L << 20) === 3)
    assert(tipoRows(cat.table("dim_tipo")) === Seq(
      (1, "a", Some(0)), (2, "b", Some(0)), (3, "c", Some(5)), (4, "d", Some(6))))
  }

  test("tableWhere after addColumn returns table()'s columns and rows") {
    val cat = evolvedTipo(Seq((3, "c", 5)), Seq((4, "d", 6)))
    val expected = Seq((2, "b", Some(0)), (3, "c", Some(5)))
    assert(tipoRows(cat.table("dim_tipo").filter("id_tipo BETWEEN 2 AND 3")) === expected)
    assert(tipoRows(cat.tableWhere("dim_tipo", "id_tipo", 2, 3)) === expected)
  }
}
