package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ledger.{Catalog, Ingest, Warehouse}

/** End-to-end ledger pipeline: CSV → staging → star schema, with the
  * reference's idempotency invariant (re-running adds nothing) and an
  * overlapping second batch (only genuinely-new dims/facts appended).
  */
class LedgerPipelineSpec extends SparkSpec {

  private def writeCsv(dir: String, name: String, rows: Seq[String]): String = {
    val header = "Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor"
    val p = java.nio.file.Paths.get(dir, name)
    Files.writeString(p, (header +: rows).mkString("\n"))
    p.toString
  }

  private val batch1 = Seq(
    """Aluguel Janeiro,Despesa,Moradia,Aluguel,Essencial,01/2024,"1.500,00"""",
    """Mercado,Despesa,Alimentação,Supermercado,Essencial,01/2024,"823,45"""",
    """Salário,Receita,Trabalho,CLT,Fixo,01/2024,"10.000,00"""",
    """Cinema,Despesa,Lazer,Entretenimento,Supérfluo,01/2024,"59,90"""")

  private val batch2 = Seq( // overlaps month + dims, adds one new category
    """Aluguel Fevereiro,Despesa,Moradia,Aluguel,Essencial,02/2024,"1.500,00"""",
    """Mercado,Despesa,Alimentação,Supermercado,Essencial,02/2024,"910,12"""",
    """Farmácia,Despesa,Saúde,Remédios,Essencial,02/2024,"120,00"""")

  test("full build, idempotent rerun, then incremental second batch") {
    val dir = Files.createTempDirectory("ledger_e2e").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat)

    val csv1 = writeCsv(dir, "b1.csv", batch1)
    assert(Ingest.run(cat, csv1) === 4)
    val c1 = wh.run()
    assert(c1("dim_tempo") === 1 && c1("dim_tipo") === 2)
    assert(c1("dim_grupo") === 4 && c1("dim_categoria") === 4)
    assert(c1("dim_classificacao") === 3 && c1("fato_lancamento") === 4)

    // fact FK integrity + money exactness via the SQL surface (§3.3)
    cat.registerAll()
    val bi = spark.sql(
      """SELECT t.nome_tipo, SUM(f.valor) AS total
        |FROM fato_lancamento f JOIN dim_tipo t USING (id_tipo)
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(bi.map(r => (r.getString(0), r.getDecimal(1).toPlainString)).toSeq
      === Seq(("Despesa", "2383.35"), ("Receita", "10000.00")))

    // idempotency: same file re-ingested + rebuilt adds nothing
    Ingest.run(cat, csv1)
    val c2 = wh.run()
    assert(c2.values.sum === 0, s"rerun appended: $c2")

    // incremental batch: new month, one new grupo+categoria, 3 new facts
    val csv2 = writeCsv(dir, "b2.csv", batch2)
    Ingest.run(cat, csv2)
    val c3 = wh.run()
    assert(c3("dim_tempo") === 1 && c3("dim_tipo") === 0)
    assert(c3("dim_grupo") === 1 && c3("dim_categoria") === 1)
    assert(c3("dim_classificacao") === 0 && c3("fato_lancamento") === 3)

    // surrogate keys stay dense across batches
    val ids = cat.table("fato_lancamento")
      .select("id_lancamento").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    assert(ids.toSeq === (1L to 7L))
    // fact partition layout: ano=/mes= dirs exist inside the commit
    // dirs (scale: month pruning)
    import scala.jdk.CollectionConverters._
    val factFiles = Files.walk(java.nio.file.Paths.get(s"$dir/wh/fato_lancamento"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(factFiles.contains("ano=2024"), s"no ano=2024 dir in $factFiles")
  }

  test("multi-upload with compactEvery: commits fold atomically, content identical") {
    // the recommended production setting (Warehouse scaladoc): a low
    // threshold here so the second upload crosses it inside the test
    val dir = Files.createTempDirectory("ledger_fold").toString
    val cat = new Catalog(spark, s"$dir/wh", compactEvery = 2)
    val wh = new Warehouse(cat)
    Ingest.run(cat, writeCsv(dir, "b1.csv", batch1))
    wh.run()
    Ingest.run(cat, writeCsv(dir, "b2.csv", batch2))
    wh.run()
    // the second fact append reached the threshold mid-transaction and
    // auto-folded: one live commit, (ano, mes) layout preserved
    val md = java.nio.file.Paths.get(s"$dir/wh/fato_lancamento/_manifests")
    val latest = Files.readString(md.resolve("LATEST")).trim.toInt
    val commitDirs = Files.readString(md.resolve(s"v$latest"))
      .split("\n").filter(_.nonEmpty)
    assert(commitDirs.length === 1, "fact commits did not fold to one")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(java.nio.file.Paths.get(commitDirs.head))
    val dirs = try walk.iterator().asScala.map(_.getFileName.toString).toSet
      finally walk.close()
    assert(dirs.contains("mes=2"), s"fold lost the month layout: $dirs")
    // content identical to the unfolded pipeline run
    val ids = cat.table("fato_lancamento")
      .select("id_lancamento").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    assert(ids.toSeq === (1L to 7L))
    cat.registerAll()
    val bi = spark.sql(
      """SELECT t.nome_tipo, SUM(f.valor) AS total
        |FROM fato_lancamento f JOIN dim_tipo t USING (id_tipo)
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(bi.map(r => (r.getString(0), r.getDecimal(1).toPlainString)).toSeq
      === Seq(("Despesa", "4913.47"), ("Receita", "10000.00")))
  }

  test("BI surface: typed fact Dataset and canned Metabase-shape queries") {
    val dir = Files.createTempDirectory("ledger_bi").toString
    val cat = new graft.ledger.Catalog(spark, s"$dir/wh")
    Ingest.run(cat, writeCsv(dir, "b.csv", batch1))
    new Warehouse(cat).run()

    val fact = graft.ledger.BiQueries.fact(cat).collect()
    assert(fact.length === 4)
    assert(fact.map(_.valor.toPlainString).sorted.head === "10000.00")

    val monthly = graft.ledger.BiQueries.monthlyByTipo(spark).collect()
    assert(monthly.map(r => (r.getString(0), r.getDecimal(3).toPlainString)).toSeq
      === Seq(("Despesa", "2383.35"), ("Receita", "10000.00")))

    val drill = graft.ledger.BiQueries.categoryDrilldown(spark)
    assert(drill.filter("nome_tipo IS NULL").count() === 1) // grand total row

    val share = graft.ledger.BiQueries.classificationShare(spark, 2024, 1)
    val total = share.agg(org.apache.spark.sql.functions.sum("share"))
      .head().getDecimal(0).doubleValue()
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("validation rejects blank and null required fields with per-column report") {
    val dir = Files.createTempDirectory("ledger_val").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val bad = writeCsv(dir, "bad.csv", Seq(
      """Ok,Despesa,Moradia,Aluguel,Essencial,01/2024,"1,00"""",
      """  ,Despesa,Moradia,Aluguel,Essencial,01/2024,"2,00"""",
      """Sem tipo,,Moradia,Aluguel,Essencial,01/2024,"3,00""""))
    val ex = intercept[Ingest.Rejected] { Ingest.run(cat, bad) }
    val cols = ex.violations.select("coluna").as[String](spark.implicits.newStringEncoder)
      .collect().sorted
    assert(cols.toSeq === Seq("Descrição", "Tipo"))

    // permissive: clean rows staged, offenders routed to rejects
    assert(Ingest.run(cat, bad, strict = false) === 1)
    val rejects = cat.table("rejects_lancamentos")
      .select("motivo").as[String](spark.implicits.newStringEncoder)
      .collect().sorted
    assert(rejects.toSeq === Seq("Descrição", "Tipo"))
  }

  test("strictQuirks golden: dim_tempo blind append duplicates (ano, mes) like the reference") {
    val dir = Files.createTempDirectory("ledger_strict").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat, strictQuirks = true)
    val csv = writeCsv(dir, "b.csv", batch1)

    Ingest.run(cat, csv)
    val c1 = wh.run()
    assert(c1("dim_tempo") === 1 && c1("fato_lancamento") === 4)

    // the reference's pandas-append state: re-uploading the month adds a
    // SECOND identical (ano, mes) row with a fresh id (SURVEY §1.4-2)
    Ingest.run(cat, csv)
    val c2 = wh.run()
    assert(c2("dim_tempo") === 1, s"blind append must re-add the month: $c2")
    val tempo = cat.table("dim_tempo")
      .select("id_tempo", "ano", "mes")
      .as[(Int, Int, Int)](spark.implicits.newProductEncoder)
      .collect().sortBy(_._1)
    assert(tempo.toSeq === Seq((1, 2024, 1), (2, 2024, 1)))

    // ...but ON CONFLICT (id_hash) DO NOTHING still keeps exactly one
    // fact row per hash, resolved to the deterministic min id_tempo
    assert(c2("fato_lancamento") === 0)
    val fact = cat.table("fato_lancamento")
    assert(fact.count() === 4)
    assert(fact.select("id_tempo").distinct()
      .as[Int](spark.implicits.newIntEncoder).collect().toSeq === Seq(1))

    // sane mode on the same batches never duplicates the month
    val dir2 = Files.createTempDirectory("ledger_sane").toString
    val cat2 = new Catalog(spark, s"$dir2/wh")
    val wh2 = new Warehouse(cat2)
    Ingest.run(cat2, csv); wh2.run()
    Ingest.run(cat2, csv); wh2.run()
    assert(cat2.table("dim_tempo").count() === 1)
  }

  test("strictQuirks: a crashed run does not double-append months on the healing rerun") {
    // the reference's pandas-append runs inside a Postgres transaction —
    // an aborted upload leaves NO month rows. Our transaction-begin
    // rollback must give the same story: crash after loadDimTempo, and
    // the healing rerun appends each month exactly once.
    val dir = Files.createTempDirectory("ledger_strict_crash").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat, strictQuirks = true)
    Ingest.run(cat, writeCsv(dir, "b.csv", batch1))
    intercept[RuntimeException](cat.transaction {
      wh.loadDimTempo()
      sys.error("executor lost")
    })
    val counts = wh.run()
    assert(counts("dim_tempo") === 1 && counts("fato_lancamento") === 4)
    assert(cat.table("dim_tempo").count() === 1,
      "aborted blind-append rows must roll back, not double up")
  }

  test("hash-before-normalize: staging id_hash is computed on raw Valor") {
    val dir = Files.createTempDirectory("ledger_hash").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val csv = writeCsv(dir, "h.csv", Seq(
      """Aluguel Janeiro,Despesa,Moradia,Aluguel,Essencial,01/2024,"1.500,00""""))
    Ingest.run(cat, csv)
    val row = cat.table("staging_lancamentos").head()
    // python: md5("despesa-moradia-aluguel-01/2024-aluguel janeiro-1.500,00")
    assert(row.getAs[String]("id_hash") === "9d8982c2aa856902fbfcde2ec2b9fa40")
    assert(row.getAs[java.math.BigDecimal]("Valor").toPlainString === "1500.00")
  }

  test("overlapping uploads keep every dim's business key and surrogate id unique") {
    val dir = Files.createTempDirectory("ledger_keys").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat)
    // batch3 repeats vocabulary within itself and against both earlier
    // batches, and adds one new tipo/grupo/categoria/classificacao
    val batch3 = Seq(
      """Aluguel Março,Despesa,Moradia,Aluguel,Essencial,03/2024,"1.500,00"""",
      """Mercado,Despesa,Alimentação,Supermercado,Essencial,03/2024,"700,00"""",
      """Feira,Despesa,Alimentação,Supermercado,Essencial,03/2024,"80,00"""",
      """Dividendos,Investimento,Renda,Ações,Variável,02/2024,"300,00"""",
      """Dividendos,Investimento,Renda,Ações,Variável,03/2024,"310,00"""")
    Seq(batch1, batch2, batch3).zipWithIndex.foreach { case (b, i) =>
      Ingest.run(cat, writeCsv(dir, s"b$i.csv", b))
      wh.run()
    }
    val dims = Seq(
      ("dim_tempo", "id_tempo", Seq("ano", "mes"), 3L),
      ("dim_tipo", "id_tipo", Seq("nome_tipo"), 3L),
      ("dim_classificacao", "id_classificacao", Seq("nome_classificacao"), 4L),
      ("dim_grupo", "id_grupo", Seq("id_tipo", "nome_grupo"), 6L),
      ("dim_categoria", "id_categoria", Seq("id_grupo", "nome_categoria"), 6L))
    dims.foreach { case (t, id, keys, expected) =>
      val df = cat.table(t)
      assert(df.count() === expected, s"$t row count")
      assert(df.select(keys.map(col): _*).distinct().count() === expected,
        s"$t has a duplicate business key ${keys.mkString("(", ", ", ")")}")
      assert(df.select(id).distinct().count() === expected, s"$t has a duplicate $id")
    }
  }

  test("a small batch's fact commit holds one parquet file per ano=/mes= dir") {
    val dir = Files.createTempDirectory("ledger_files").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat)
    def monthRows(months: Seq[Int]) = for (m <- months; i <- 1 to 4) yield
      s"""Item $m-$i,Despesa,Moradia,Aluguel,Essencial,0$m/2024,"$i,00""""
    // the second upload overlaps two months of the first and adds one
    Seq(monthRows(1 to 3), monthRows(2 to 4).map(_.replace("Item", "Outro")))
      .zipWithIndex.foreach { case (batch, i) =>
        assert(batch.size <= Warehouse.singleTaskWriteRows)
        Ingest.run(cat, writeCsv(dir, s"m$i.csv", batch))
        assert(wh.run()("fato_lancamento") === batch.size)
        val md = java.nio.file.Paths.get(s"$dir/wh/fato_lancamento/_manifests")
        val latest = Files.readString(md.resolve("LATEST")).trim.toInt
        val commit = Files.readString(md.resolve(s"v$latest"))
          .split("\n").filter(_.nonEmpty).last
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(java.nio.file.Paths.get(commit))
        val perDir = try walk.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
            .groupBy(p => java.nio.file.Paths.get(commit).relativize(p.getParent).toString)
            .map { case (d, fs) => d -> fs.size }
          finally walk.close()
        val months = batch.map(_.split(",")(5).take(2).toInt).distinct
        assert(perDir === months.map(m => s"ano=2024/mes=$m" -> 1).toMap)
      }
  }
}
