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
    // rollback must give the same story: crash after the dimension pass
    // has appended the month, and the healing rerun appends each month
    // exactly once.
    val dir = Files.createTempDirectory("ledger_strict_crash").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat, strictQuirks = true)
    Ingest.run(cat, writeCsv(dir, "b.csv", batch1))
    intercept[RuntimeException](cat.transaction {
      wh.loadDims()
      sys.error("executor lost")
    })
    val counts = wh.run()
    assert(counts("dim_tempo") === 1 && counts("fato_lancamento") === 4)
    assert(cat.table("dim_tempo").count() === 1,
      "aborted blind-append rows must roll back, not double up")
  }

  test("an aborted run publishes no dim: fresh readers and writer views agree") {
    val dir = Files.createTempDirectory("ledger_abort").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat)
    Ingest.run(cat, writeCsv(dir, "b1.csv", batch1))
    wh.run()
    // corrupt fato_lancamento: its one live commit dir is gone, so
    // loadFato's maxId fails after the dimension pass has appended
    // batch2's new month to dim_tempo inside the transaction
    val md = java.nio.file.Paths.get(s"$dir/wh/fato_lancamento/_manifests")
    val factDir = Files.readString(md.resolve("v1")).split("\n").filter(_.nonEmpty).head
    val walk = Files.walk(java.nio.file.Paths.get(factDir))
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally walk.close()
    Ingest.run(cat, writeCsv(dir, "b2.csv", batch2))
    val e = intercept[IllegalStateException](wh.run())
    assert(e.getMessage.contains("live commit dir is missing"), e.getMessage)
    assert(latest(s"$dir/wh", "dim_tempo") === Some(2), "the dimension pass never appended the month")
    // the new month is only the aborted transaction's head: a fresh
    // Catalog still reads the pre-run dim_tempo...
    val reader = new Catalog(spark, s"$dir/wh")
    assert(reader.snapshotVersions("dim_tempo") === 1,
      "the aborted run's dim_tempo was published outside its transaction")
    assert(reader.table("dim_tempo").select("mes").collect().map(_.getInt(0)).toSeq === Seq(1))
    // ...and so does SQL over the writer's own session views
    assert(spark.table("dim_tempo").select("mes").collect().map(_.getInt(0)).toSeq === Seq(1),
      "the writer's dim_tempo view still reads the aborted head")
    assert(spark.sql("select mes from dim_tempo").collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  /** Every live row of every star table, ids included, in a stable order. */
  private def star(cat: Catalog): Map[String, Seq[String]] =
    graft.ledger.Schemas.tableNames.filter(_.matches("dim_.*|fato_.*"))
      .map(t => t -> cat.table(t).collect().map(_.mkString("|")).sorted.toSeq).toMap

  /** Live parquet files per star table, read from the manifests. */
  private def liveFiles(root: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    graft.ledger.Schemas.tableNames.filter(_.matches("dim_.*|fato_.*")).map { t =>
      t -> latest(root, t).toSeq.flatMap { v =>
        Files.readString(java.nio.file.Paths.get(s"$root/$t/_manifests/v$v"))
          .split("\n").filter(_.nonEmpty).toSeq
      }.map { c =>
        val walk = Files.walk(java.nio.file.Paths.get(c))
        try walk.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        finally walk.close()
      }.sum
    }.toMap
  }

  /** Per live fact commit, in manifest order: its `ano=/mes=` dirs and
    * its parquet file count. */
  private def factLayout(root: String): Seq[(Set[String], Int)] = {
    import scala.jdk.CollectionConverters._
    latest(root, "fato_lancamento").toSeq.flatMap { v =>
      Files.readString(java.nio.file.Paths.get(s"$root/fato_lancamento/_manifests/v$v"))
        .split("\n").filter(_.nonEmpty).toSeq
    }.map { c =>
      val commit = java.nio.file.Paths.get(c)
      val walk = Files.walk(commit)
      val files = try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => commit.relativize(f.getParent).toString).toVector
      finally walk.close()
      (files.toSet, files.size)
    }
  }

  test("the vocabulary pass builds the per-table pipelines' star, ids included") {
    val months = 1 to 36
    def big(tag: String) = for (i <- 0 until Warehouse.singleTaskWriteRows.toInt + 500) yield {
      val m = months(i % months.size)
      s"""$tag $i,${Seq("Despesa", "Receita", "Investimento")(i % 3)},G${i % 7},C${i % 11},""" +
        s"""Cl${i % 5},${"%02d".format((m - 1) % 12 + 1)}/${2020 + (m - 1) / 12},"${i % 900},${i % 100}""""
    }
    val batch3 = Seq( // new tipo/grupo/categoria/classificacao, repeats within itself
      """Aluguel Março,Despesa,Moradia,Aluguel,Essencial,03/2024,"1.500,00"""",
      """Feira,Despesa,Alimentação,Supermercado,Essencial,03/2024,"80,00"""",
      """Feira,Despesa,Alimentação,Supermercado,Essencial,03/2024,"80,00"""",
      """Dividendos,Investimento,Renda,Ações,Variável,02/2024,"300,00"""",
      """Ärger,Ödland,Ürsprung,Σ,Ω,02/2024,"1,00"""",
      // Spark orders strings by UTF-8 bytes, String.compareTo by UTF-16
      // units: the two disagree on U+1F600 against U+FF21
      """Emoji,Despesa,Moradia,😀,Essencial,03/2024,"1,00"""",
      """Largo,Despesa,Moradia,Ａ,Essencial,03/2024,"2,00"""")
    val unparseable = Seq(
      """Pix,Despesa,Moradia,Aluguel,Essencial,04/2024,"10,00"""",
      """Sem mês,Despesa,Lazer,Teatro,Supérfluo,13/2024,"20,00"""")
    for (strict <- Seq(false, true)) {
      val dir = Files.createTempDirectory("ledger_parity").toString
      val (a, b) = (new Catalog(spark, s"$dir/a", compactEvery = 3),
        new Catalog(spark, s"$dir/b", compactEvery = 3))
      val (wa, wb) = (new Warehouse(a, strict), new ComposedWarehouse(b, strict))
      def upload(step: String, rows: Seq[String]): Unit = {
        val csv = writeCsv(dir, s"${step.replace(' ', '_')}.csv", rows)
        Ingest.run(a, csv, strict = false)
        Ingest.run(b, csv, strict = false)
        assert(wa.run() === wb.run(), s"appended counts differ after $step (strict=$strict)")
        assert(star(a) === star(b), s"star schema differs after $step (strict=$strict)")
        assert(liveFiles(s"$dir/a") - "fato_lancamento" ===
          liveFiles(s"$dir/b") - "fato_lancamento",
          s"dimension file layout differs after $step")
        // the fact's file count depends on the range sampler's seed, so
        // compare what the layout is for: the same month dirs per commit,
        // and a range split into `tasks` contiguous spans cuts at most
        // tasks - 1 months in two
        val (la, lb) = (factLayout(s"$dir/a"), factLayout(s"$dir/b"))
        assert(la.map(_._1) === lb.map(_._1), s"fact month dirs differ after $step")
        val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
        for ((months, files) <- la ++ lb)
          assert(files <= tasks + months.size - 1,
            s"a fact commit holds $files files over ${months.size} months after $step")
      }
      upload("first upload", batch1)
      upload("overlapping upload", batch3)
      upload("verbatim re-upload", batch3)
      // ingest rejects a Data that does not parse, so under Spark's
      // default ANSI mode both builds load the rest of the batch
      upload("unparseable Data", unparseable)
      assert(a.table("rejects_lancamentos").select("Data", "motivo").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("13/2024", "Data")))
      upload("backfill above singleTaskWriteRows", big("Hist"))
      upload("backfill rerun", big("Hist"))
    }
  }

  test("a vocabulary above the cap fails before anything is published") {
    val dir = Files.createTempDirectory("ledger_cap").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat)
    val saved = Warehouse.vocabularyCap
    try {
      // batch1 holds 4 (Tipo, Grupo, Categoria) paths
      Warehouse.vocabularyCap = 3
      Ingest.run(cat, writeCsv(dir, "b1.csv", batch1))
      val e = intercept[Warehouse.VocabularyTooLarge](wh.run())
      assert(e.getMessage.contains("dim_categoria") && e.getMessage.contains("cap of 3"),
        e.getMessage)
      Seq("dim_tempo", "dim_tipo", "dim_grupo", "dim_categoria", "dim_classificacao",
        "fato_lancamento").foreach(t => assert(latest(s"$dir/wh", t) === None, s"$t was written"))
      // an existing dimension above the cap fails too: batch2's own
      // vocabulary fits 3, the stored dim_categoria holds 4 rows
      Warehouse.vocabularyCap = 4
      wh.run()
      val before = cat.snapshotVersions
      Warehouse.vocabularyCap = 3
      Ingest.run(cat, writeCsv(dir, "b2.csv", batch2))
      val e2 = intercept[Warehouse.VocabularyTooLarge](wh.run())
      assert(e2.getMessage.startsWith("dim_grupo holds 4 "), e2.getMessage)
      assert(cat.snapshotVersions === before)
      assert(before.forall { case (t, v) => latest(s"$dir/wh", t) === Some(v) },
        "a table's head moved past the published snapshot")
    } finally Warehouse.vocabularyCap = saved
  }

  test("a Data that is not an MM/yyyy month: strict ingest reports it, permissive rejects it") {
    val dir = Files.createTempDirectory("ledger_month").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val csv = writeCsv(dir, "months.csv", Seq(
      """Ok,Despesa,Moradia,Aluguel,Essencial,01/2024,"1,00"""",
      """Mês 13,Despesa,Moradia,Aluguel,Essencial,13/2024,"2,00"""",
      """Texto,Despesa,Moradia,Aluguel,Essencial,janeiro,"3,00"""",
      """Sem data,Despesa,Moradia,Aluguel,Essencial, ,"4,00""""))
    val ex = intercept[Ingest.Rejected](Ingest.run(cat, csv))
    assert(ex.violations.collect().map(_.getString(1)).toSeq === Seq("Data", "Data", "Data"))
    assert(Ingest.run(cat, csv, strict = false) === 1)
    val rejects = cat.table("rejects_lancamentos").select("Descrição", "motivo").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rejects === Seq(("Mês 13", "Data"), ("Sem data", "Data"), ("Texto", "Data")))
    // the staged batch builds under Spark's default ANSI mode
    assert(new Warehouse(cat).run()("fato_lancamento") === 1)
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

  /** `body`'s result and the tables under `root` that the queries it
    * ran scanned, read from the relations of their optimized plans. */
  private def scanned[T](root: String)(body: => T): (T, Set[String]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.optimizedPlan)
    }
    // the listener bus delivers in order: the queries of `body` are the
    // ones that arrive between two sentinel queries
    val tag = java.util.UUID.randomUUID().toString.take(8)
    def sentinel(name: String): Int = {
      spark.range(1).toDF(s"${name}_$tag").collect()
      def at = plans.asScala.toSeq.indexWhere(_.output.exists(_.name == s"${name}_$tag"))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (at < 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(at >= 0, s"the $name sentinel never arrived")
      at
    }
    spark.listenerManager.register(listener)
    val (out, ran) = try {
      val from = sentinel("start")
      val r = body
      (r, plans.asScala.toSeq.slice(from + 1, sentinel("end")))
    } finally spark.listenerManager.unregister(listener)
    val dirs = ran.flatMap(_.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }).flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
      case _ => Nil
    }
    val under = java.nio.file.Paths.get(root)
    (out, dirs.filter(_.startsWith(root + "/"))
      .map(d => under.relativize(java.nio.file.Paths.get(d)).getName(0).toString).toSet)
  }

  private val dims = Seq("dim_tipo", "dim_grupo", "dim_categoria", "dim_tempo", "dim_classificacao")

  /** `cat.rows(t)` and `cat.table(t)` hold the same rows, as multisets;
    * returns the tables `rows` scanned. */
  private def rowsMatchTable(cat: Catalog, t: String, step: String): Set[String] = {
    val (held, scans) = scanned(cat.root)(cat.rows(t))
    def lines(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.mkString("|")).sorted
    assert(lines(held) === lines(cat.table(t).collect().toSeq),
      s"$t: rows differ from the table's after $step")
    scans
  }

  test("Catalog.rows: memoized commits, folds of them, strict blind appends") {
    for (strict <- Seq(false, true)) {
      val dir = Files.createTempDirectory("ledger_rows").toString
      val cat = new Catalog(spark, s"$dir/wh", compactEvery = 2)
      val wh = new Warehouse(cat, strict)
      def upload(step: String, rows: Seq[String]): Unit = {
        Ingest.run(cat, writeCsv(dir, s"$step.csv", rows))
        wh.run()
        dims.foreach(t => assert(rowsMatchTable(cat, t, step).isEmpty,
          s"$t: rows read a commit this catalog wrote from held rows after $step"))
      }
      upload("first", batch1)
      // batch2 adds a month, a grupo and a categoria: with compactEvery
      // = 2 each of those dimensions folds right after the append
      upload("second", batch2)
      Seq("dim_tempo", "dim_grupo", "dim_categoria").foreach(t =>
        assert(cat.rowCount(t) > 0 && latest(s"$dir/wh", t).contains(3), s"$t did not fold"))
      // under strictQuirks the re-upload blind-appends the month again
      upload("re-upload", batch2)
      val months = cat.table("dim_tempo").count()
      assert(months === (if (strict) 3 else 2), s"strict=$strict")
    }
  }

  test("Catalog.rows reads another instance's commits; the next run mints no duplicate key") {
    val dir = Files.createTempDirectory("ledger_rows_foreign").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat)
    Ingest.run(cat, writeCsv(dir, "b1.csv", batch1))
    wh.run()
    // another instance appends a new tipo (and grupo, categoria) through
    // the per-table pipelines
    val other = new Catalog(spark, s"$dir/wh")
    val csv = writeCsv(dir, "b3.csv", Seq(
      """Dividendos,Investimento,Renda,Ações,Variável,02/2024,"300,00""""))
    Ingest.run(other, csv)
    assert(new ComposedWarehouse(other).run()("dim_tipo") === 1)
    assert(rowsMatchTable(cat, "dim_tipo", "the foreign append") === Set("dim_tipo"))
    Ingest.run(cat, csv)
    assert(wh.run().values.sum === 0)
    dims.foreach { t =>
      val rows = cat.table(t).collect()
      assert(rows.map(_.get(0)).distinct.length === rows.length, s"$t holds a duplicate id")
      assert(rows.map(_.toSeq.tail).distinct.length === rows.length, s"$t holds a duplicate key")
    }
  }

  test("a rolled-back transaction leaves no memoized dir behind") {
    val dir = Files.createTempDirectory("ledger_rows_abort").toString
    val root = s"$dir/wh"
    val cat = new Catalog(spark, root)
    val wh = new Warehouse(cat)
    Ingest.run(cat, writeCsv(dir, "b1.csv", batch1))
    wh.run()
    def live(t: String): Set[String] = latest(root, t).toSeq.flatMap { v =>
      Files.readString(java.nio.file.Paths.get(s"$root/$t/_manifests/v$v"))
        .split("\n").filter(_.nonEmpty)
    }.toSet
    val before = dims.map(t => t -> live(t)).toMap
    Ingest.run(cat, writeCsv(dir, "b2.csv", batch2))
    intercept[RuntimeException](cat.transaction {
      wh.loadDims()
      sys.error("executor lost")
    })
    val aborted = dims.flatMap(t => live(t) -- before(t)).toSet
    assert(aborted.nonEmpty && aborted.subsetOf(cat.memoizedDirs))
    cat.transaction(()) // rolls the aborted heads back
    assert(dims.forall(t => live(t) === before(t)))
    assert((cat.memoizedDirs intersect aborted).isEmpty,
      s"rolled-back dirs still memoized: ${cat.memoizedDirs intersect aborted}")
    dims.foreach(t => assert(rowsMatchTable(cat, t, "the rollback").isEmpty))
  }

  test("a steady-state upload scans no dimension table") {
    val dir = Files.createTempDirectory("ledger_no_dim_scan").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat)
    Ingest.run(cat, writeCsv(dir, "b1.csv", batch1))
    wh.run()
    for ((step, rows) <- Seq("new month" -> batch2, "re-upload" -> batch2)) {
      Ingest.run(cat, writeCsv(dir, s"${step.replace(' ', '_')}.csv", rows))
      val (appended, tables) = scanned(cat.root)(wh.run())
      assert(appended("fato_lancamento") === (if (step == "re-upload") 0 else 3))
      assert(tables.filter(_.startsWith("dim_")).isEmpty, s"the $step scanned $tables")
      assert(tables === Set("staging_lancamentos", "fato_lancamento"), s"the $step scanned $tables")
    }
  }
}
