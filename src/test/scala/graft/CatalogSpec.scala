package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode

import graft.ledger.{Catalog, Schemas}

/** Manifest-commit semantics of the warehouse catalog. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def tipoDf(names: String*) =
    names.zipWithIndex.map { case (n, i) => (i + 1, n) }.toDF("id_tipo", "nome_tipo")

  test("orphan data dirs without a manifest flip are invisible to readers") {
    val dir = Files.createTempDirectory("cat_orphan").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a", "b"))
    // simulate a crashed writer: data lands but no manifest commit
    tipoDf("ghost").write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/wh/dim_tipo/c99_deadbeef")
    assert(cat.table("dim_tipo").count() === 2)
    val names = cat.table("dim_tipo").select("nome_tipo")
      .as[String].collect().sorted
    assert(names.toSeq === Seq("a", "b"))
  }

  test("maxId answers from footer statistics and equals the scan across commit shapes") {
    val dir = Files.createTempDirectory("cat_maxid").toString
    val cat = new Catalog(spark, s"$dir/wh")
    // missing table
    assert(cat.maxId("dim_tipo", "id_tipo") === 0L)
    // int ids over multiple commits (non-monotone append order)
    cat.replace("dim_tipo", tipoDf("a", "b", "c"))
    cat.appendDelta("dim_tipo", Seq((7, "x")).toDF("id_tipo", "nome_tipo"))
    cat.appendDelta("dim_tipo", Seq((5, "y")).toDF("id_tipo", "nome_tipo"))
    assert(cat.maxId("dim_tipo", "id_tipo") === 7L)
    // long ids in a PARTITIONED table (footers live under ano=/mes= dirs)
    val fato = Seq(
      (101L, 1, 1, 1, 1, 1, "d1", BigDecimal("1.00"), "h1", 1995, 1),
      (203L, 1, 1, 1, 1, 1, "d2", BigDecimal("2.00"), "h2", 1995, 2),
      (150L, 1, 1, 1, 1, 1, "d3", BigDecimal("3.00"), "h3", 1996, 1))
      .toDF("id_lancamento", "id_tipo", "id_grupo", "id_categoria",
        "id_tempo", "id_classificacao", "descricao", "valor", "id_hash",
        "ano", "mes")
      .select(Schemas.fatoLancamento.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
    cat.appendDelta("fato_lancamento", fato, partitionBy = Seq("ano", "mes"))
    assert(cat.maxId("fato_lancamento", "id_lancamento") === 203L)
    // parity with the scan on both
    def scanMax(t: String, c: String): Long =
      cat.table(t).agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col(c).cast("long")),
        org.apache.spark.sql.functions.lit(0L))).head().getLong(0)
    assert(cat.maxId("dim_tipo", "id_tipo") === scanMax("dim_tipo", "id_tipo"))
    assert(cat.maxId("fato_lancamento", "id_lancamento") ===
      scanMax("fato_lancamento", "id_lancamento"))
  }

  test("replace flips to exactly the new state; appendDelta accumulates commits") {
    val dir = Files.createTempDirectory("cat_ver").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))
    cat.appendDelta("dim_tipo", tipoDf("b").withColumn("id_tipo",
      org.apache.spark.sql.functions.lit(2)))
    assert(cat.table("dim_tipo").count() === 2)
    cat.replace("dim_tipo", tipoDf("z"))
    assert(cat.table("dim_tipo").select("nome_tipo").as[String].collect().toSeq === Seq("z"))
  }

  test("transaction: a crash mid-load never exposes a half-built warehouse to readers") {
    val dir = Files.createTempDirectory("cat_txn").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    // load 1 publishes a consistent (dim_tipo, dim_grupo) pair
    writer.transaction {
      writer.replace("dim_tipo", tipoDf("a"))
      writer.replace("dim_grupo",
        Seq((1, 1, "g1")).toDF("id_grupo", "id_tipo", "nome_grupo"))
    }
    assert(reader.table("dim_tipo").count() === 1)
    assert(reader.table("dim_grupo").count() === 1)
    // load 2 crashes after the dim_tipo table commit but before grupo
    intercept[RuntimeException](writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b", "c"))
      sys.error("executor lost") // kill-point: snapshot never flips
    })
    // the writer's per-table head moved, but readers still see load 1
    assert(reader.table("dim_tipo").count() === 1)
    assert(reader.table("dim_grupo").count() === 1)
    // the next successful load heals and publishes everything at once
    writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b"))
      writer.replace("dim_grupo",
        Seq((1, 1, "g1"), (2, 2, "g2")).toDF("id_grupo", "id_tipo", "nome_grupo"))
    }
    assert(reader.table("dim_tipo").count() === 2)
    assert(reader.table("dim_grupo").count() === 2)
  }

  test("the FIRST transaction is atomic too: crash mid-load exposes nothing") {
    val dir = Files.createTempDirectory("cat_first").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    // fresh warehouse, no snapshot yet — the bootstrap window
    intercept[RuntimeException](writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b"))
      sys.error("crash during the very first load")
    })
    assert(reader.table("dim_tipo").count() === 0,
      "first-load crash leaked a half-built schema to readers")
    assert(reader.snapshotVersions.get("dim_tipo").isEmpty,
      "aborted first-load head resolvable by readers")
    // healing run publishes the complete state
    writer.transaction { writer.replace("dim_tipo", tipoDf("a", "b")) }
    assert(reader.table("dim_tipo").count() === 2)
  }

  test("readers cannot resolve a crashed transaction's unpublished head") {
    val dir = Files.createTempDirectory("cat_ttfence").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    cat.transaction { cat.replace("dim_tipo", tipoDf("a")) }
    intercept[RuntimeException](cat.transaction {
      cat.replace("dim_tipo", tipoDf("x", "y", "z"))
      sys.error("crash")
    })
    // the per-table head names the aborted v2; a reader resolves the
    // published v1 (the writer's own txn view may see v2 — readers never)
    assert(latest(s"$dir/wh", "dim_tipo") === Some(2))
    assert(reader.snapshotVersions("dim_tipo") === 1)
    assert(reader.table("dim_tipo").count() === 1)
  }

  test("snapshot-scoped reads still see direct non-transactional writes") {
    val dir = Files.createTempDirectory("cat_direct").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    writer.transaction { writer.replace("dim_tipo", tipoDf("a")) }
    // a later direct write must not be masked by the older snapshot
    writer.replace("dim_tipo", tipoDf("a", "b"))
    assert(reader.table("dim_tipo").count() === 2)
    assert(reader.snapshotVersions("dim_tipo") === 2)
  }

  test("direct write after an aborted transaction does not republish the aborted heads") {
    val dir = Files.createTempDirectory("cat_leak").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    writer.transaction {
      writer.replace("dim_tipo", tipoDf("a"))
      writer.replace("dim_classificacao",
        Seq((1, "c1")).toDF("id_classificacao", "nome_classificacao"))
    }
    // crash mid-transaction leaves dim_tipo's per-table head ahead
    intercept[RuntimeException](writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b", "c"))
      sys.error("crash")
    })
    // a later DIRECT write to a DIFFERENT scoped table must advance only
    // that table in the snapshot — not drag the aborted dim_tipo head in
    writer.replace("dim_classificacao",
      Seq((1, "c1"), (2, "c2")).toDF("id_classificacao", "nome_classificacao"))
    assert(reader.table("dim_classificacao").count() === 2)
    assert(reader.table("dim_tipo").count() === 1,
      "aborted dim_tipo head leaked into the republished snapshot")
  }

  test("transaction begin rolls back heads left by a crashed transaction") {
    val dir = Files.createTempDirectory("cat_rb").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.transaction { cat.replace("dim_tipo", tipoDf("a")) }
    intercept[RuntimeException](cat.transaction {
      cat.replace("dim_tipo", tipoDf("x", "y", "z"))
      sys.error("crash")
    })
    // the next transaction must start from the PUBLISHED state, not the
    // aborted head — its own reads see 1 row, and the version it claims
    // re-uses the rolled-back number
    cat.transaction {
      assert(cat.table("dim_tipo").count() === 1)
      cat.replace("dim_tipo", tipoDf("a", "b"))
    }
    assert(cat.table("dim_tipo").count() === 2)
    assert(cat.snapshotVersions("dim_tipo") === 2)
    assert(latest(s"$dir/wh", "dim_tipo") === Some(2))
  }

  test("direct write to a table with an unpublished transactional head fails loudly") {
    val dir = Files.createTempDirectory("cat_headclash").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.transaction { cat.replace("dim_tipo", tipoDf("a")) } // snapshot: tipo→1
    intercept[RuntimeException](cat.transaction {
      cat.replace("dim_tipo", tipoDf("x", "y")) // head v2, never published
      sys.error("crash")
    })
    // a direct write bases on the PUBLISHED v1 and claims v2 — colliding
    // with the aborted head instead of silently building on its rows
    intercept[graft.ledger.Catalog.ConcurrentWriteException](
      cat.replace("dim_tipo", tipoDf("z")))
    // the next transaction heals (same owner) and the write goes through
    cat.transaction { cat.replace("dim_tipo", tipoDf("z")) }
    assert(cat.table("dim_tipo").select("nome_tipo").as[String].collect().toSeq === Seq("z"))
  }

  test("a foreign writer's INFLIGHT marker blocks transactions until recoverTransaction") {
    val dir = Files.createTempDirectory("cat_foreign").toString
    val w1 = new Catalog(spark, s"$dir/wh")
    val w2 = new Catalog(spark, s"$dir/wh")
    w1.transaction { w1.replace("dim_tipo", tipoDf("a")) }
    intercept[RuntimeException](w1.transaction {
      w1.replace("dim_tipo", tipoDf("x", "y"))
      sys.error("w1 dies")
    })
    // w2 cannot tell w1's marker from a live transaction: loud stop
    val e = intercept[graft.ledger.Catalog.ConcurrentWriteException](
      w2.transaction { w2.replace("dim_tipo", tipoDf("b")) })
    assert(e.getMessage.contains("recoverTransaction"))
    // operator confirms w1 is dead, recovers, and w2 proceeds cleanly
    assert(w2.recoverTransaction())
    w2.transaction { w2.replace("dim_tipo", tipoDf("a", "b")) }
    assert(w2.table("dim_tipo").count() === 2)
  }

  test("two concurrent writers: exactly one commit wins, the loser fails loudly") {
    val dir = Files.createTempDirectory("cat_race").toString
    val w1 = new Catalog(spark, s"$dir/wh")
    val w2 = new Catalog(spark, s"$dir/wh")
    w1.replace("dim_tipo", tipoDf("a"))
    // simulate the race: w2 claims v2 first (its commit publishes), then
    // w1 — which read LATEST=1 before w2's flip — tries to claim v2 too
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    Files.write(md.resolve("v2"), "claimed-by-w2".getBytes)
    val e = intercept[graft.ledger.Catalog.ConcurrentWriteException](
      w1.replace("dim_tipo", tipoDf("z")))
    assert(e.getMessage.contains("another writer"))
    // the winner's manifest was NOT overwritten
    assert(Files.readString(md.resolve("v2")) === "claimed-by-w2")
    // recovery after the (simulated) competitor is confirmed dead
    Files.delete(md.resolve("v2"))
    w2.recover()
    w1.replace("dim_tipo", tipoDf("z"))
    assert(w1.table("dim_tipo").count() === 1)
  }

  test("recover clears orphan claims from crashed writers") {
    val dir = Files.createTempDirectory("cat_recover").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    // a crashed writer claimed v2 but never flipped LATEST
    Files.write(md.resolve("v2"), "orphan".getBytes)
    intercept[graft.ledger.Catalog.ConcurrentWriteException](
      cat.replace("dim_tipo", tipoDf("b")))
    assert(cat.recover() >= 1)
    cat.replace("dim_tipo", tipoDf("b"))
    assert(cat.table("dim_tipo").select("nome_tipo").as[String].collect().toSeq === Seq("b"))
  }

  test("compact folds commits into one, preserving content and partitions") {
    val dir = Files.createTempDirectory("cat_compact").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val rows = (1 to 10).map(i =>
      (i.toLong, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, i % 3 + 1))
    val df = rows.toDF(Schemas.fatoLancamento.fieldNames: _*)
      .withColumn("valor", org.apache.spark.sql.functions.col("valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
    df.filter("mes = 1").createOrReplaceTempView("b1")
    cat.appendDelta("fato_lancamento", spark.table("b1"), Seq("ano", "mes"))
    cat.appendDelta("fato_lancamento", df.filter("mes <> 1"), Seq("ano", "mes"))
    val before = cat.table("fato_lancamento").count()
    cat.compact("fato_lancamento", Seq("ano", "mes"))
    assert(cat.table("fato_lancamento").count() === before)
    // single live commit after compaction
    val latest = Files.readString(
      Paths.get(s"$dir/wh/fato_lancamento/_manifests/LATEST")).trim.toInt
    val dirs = Files.readString(
      Paths.get(s"$dir/wh/fato_lancamento/_manifests/v$latest")).split("\n")
    assert(dirs.length === 1)
    // month pruning still possible: partition dirs exist in the commit
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(dirs.head)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(files.contains("mes=1"))
    // vacuum removes the two superseded commit dirs, content unchanged
    assert(cat.vacuum("fato_lancamento") === 2)
    assert(cat.table("fato_lancamento").count() === before)
    // clustered re-compaction: first append a DESCENDING-id batch so
    // the input files are genuinely unsorted — without it the
    // assertion below would pass even if clusterBy were ignored
    val rows2 = (20 to 11 by -1).map(i =>
      (i.toLong, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, i % 3 + 1))
    cat.appendDelta("fato_lancamento",
      rows2.toDF(Schemas.fatoLancamento.fieldNames: _*)
        .withColumn("valor", org.apache.spark.sql.functions.col("valor")
          .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
        .coalesce(1).sortWithinPartitions(
          org.apache.spark.sql.functions.col("id_lancamento").desc),
      Seq("ano", "mes"))
    val beforeRows = cat.table("fato_lancamento")
      .select("id_lancamento").as[Long].collect().sorted
    cat.compact("fato_lancamento", Seq("ano", "mes"),
      clusterBy = Seq("id_lancamento"), numFiles = 1)
    val afterRows = cat.table("fato_lancamento")
      .select("id_lancamento").as[Long].collect().sorted
    assert(afterRows.toSeq === beforeRows.toSeq)
    val latest2 = Files.readString(
      Paths.get(s"$dir/wh/fato_lancamento/_manifests/LATEST")).trim.toInt
    val commitDir = Files.readString(
      Paths.get(s"$dir/wh/fato_lancamento/_manifests/v$latest2")).split("\n").head
    val walk = Files.walk(Paths.get(commitDir)) // close: holds directory fds
    val parquets =
      try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally walk.close()
    // numFiles=1 → exactly one multi-row file per (ano, mes) dir, so
    // the sortedness assertion below is NOT vacuous (the descending
    // append guaranteed unsorted input)
    assert(parquets.length === 3, parquets.mkString(","))
    parquets.foreach { f =>
      val ids = spark.read.parquet(f.toString)
        .select("id_lancamento").as[Long].collect()
      assert(ids.length > 1, s"single-row file makes the check vacuous: $f")
      assert(ids.toSeq === ids.sorted.toSeq, s"unsorted ids in $f")
    }
    // string partition columns void the clustering promise — loud error
    intercept[IllegalArgumentException] {
      cat.compact("dim_tipo", Seq("nome_tipo"), clusterBy = Seq("id_tipo"))
    }
  }

  private def liveCommitCount(root: String, t: String): Int = {
    val md = Paths.get(s"$root/$t/_manifests")
    val latest = Files.readString(md.resolve("LATEST")).trim.toInt
    Files.readString(md.resolve(s"v$latest")).split("\n").count(_.nonEmpty)
  }

  test("compactEvery auto-folds to one commit at the threshold, restoring clustering") {
    val dir = Files.createTempDirectory("cat_autofold").toString
    val cat = new Catalog(spark, s"$dir/wh", compactEvery = 3)
    // each commit is ONE deliberately-DESCENDING file: after the fold,
    // ascending per-file ids prove the auto-compaction re-applied the
    // declared clusterBy sort (concatenation would stay descending)
    def batch(ids: Seq[Long]) = ids.map(i =>
      (i, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, 1))
      .toDF(Schemas.fatoLancamento.fieldNames: _*)
      .withColumn("valor", org.apache.spark.sql.functions.col("valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
      .coalesce(1).sortWithinPartitions(
        org.apache.spark.sql.functions.col("id_lancamento").desc)
    val layout = (Seq("ano", "mes"), Seq("id_lancamento"))
    cat.appendDelta("fato_lancamento", batch(Seq(1L, 4L)), layout._1, layout._2)
    cat.appendDelta("fato_lancamento", batch(Seq(2L, 5L)), layout._1, layout._2)
    assert(liveCommitCount(s"$dir/wh", "fato_lancamento") === 2,
      "fold must not trigger below the threshold")
    cat.appendDelta("fato_lancamento", batch(Seq(3L, 6L)), layout._1, layout._2)
    // threshold reached: exactly one live commit, content identical
    assert(liveCommitCount(s"$dir/wh", "fato_lancamento") === 1)
    val ids = cat.table("fato_lancamento").select("id_lancamento")
      .as[Long].collect().sorted
    assert(ids.toSeq === (1L to 6L))
    // clustering restored: every multi-row folded file is ASCENDING by
    // id — the inputs were descending, so this is the fold's sort
    import scala.jdk.CollectionConverters._
    val commitDir = {
      val md = Paths.get(s"$dir/wh/fato_lancamento/_manifests")
      val latest = Files.readString(md.resolve("LATEST")).trim.toInt
      Files.readString(md.resolve(s"v$latest")).split("\n").head
    }
    val walk = Files.walk(Paths.get(commitDir))
    val parquets =
      try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally walk.close()
    val multiRow = parquets.filter(f =>
      spark.read.parquet(f.toString).count() > 1)
    assert(multiRow.nonEmpty, "all folded files single-row: check vacuous")
    multiRow.foreach { f =>
      val fileIds = spark.read.parquet(f.toString)
        .select("id_lancamento").as[Long].collect()
      assert(fileIds.toSeq === fileIds.sorted.toSeq, s"unsorted ids in $f")
    }
    // a bad layout fails at appendDelta ENTRY — before anything commits
    intercept[IllegalArgumentException] {
      cat.appendDelta("dim_tipo", tipoDf("a"),
        partitionBy = Seq("nome_tipo"), clusterBy = Seq("id_tipo"))
    }
    assert(!cat.exists("dim_tipo"),
      "invalid-layout append must fail before publishing its commit")
  }

  test("clusterBy layout check reads the written frame: undeclared tables append and fold") {
    val dir = Files.createTempDirectory("cat_undeclared_cluster").toString
    val cat = new Catalog(spark, s"$dir/wh", compactEvery = 2)
    def batch(ids: Seq[Long]) = ids.map(i => (i % 2, i, s"v$i")).toDF("p", "id", "v")
    cat.appendDelta("scratch_events", batch(Seq(3L, 1L)), Seq("p"), Seq("id"))
    cat.appendDelta("scratch_events", batch(Seq(4L, 2L)), Seq("p"), Seq("id"))
    assert(liveCommitCount(s"$dir/wh", "scratch_events") === 1)
    assert(cat.table("scratch_events").select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L))
    // a STRING partition column of the undeclared frame still fails loudly
    intercept[IllegalArgumentException] {
      cat.appendDelta("scratch_events_by_v", batch(Seq(1L)), Seq("v"), Seq("id"))
    }
    assert(!cat.exists("scratch_events_by_v"))
    // a BOOLEAN partition column would read back from its directories
    // as STRING, failing the auto-compaction after the append published:
    // it is rejected at append entry instead
    val flags = Seq((true, 1L), (false, 2L)).toDF("flag", "id")
    intercept[IllegalArgumentException] {
      cat.appendDelta("scratch_flags", flags, Seq("flag"), Seq("id"))
    }
    assert(!cat.exists("scratch_flags"))
  }

  test("maxId rejects non-integral footer stats and falls back to the exact scan") {
    val dir = Files.createTempDirectory("cat_decmax").toString
    val cat = new Catalog(spark, s"$dir/wh")
    // staging's Valor is DECIMAL(15,2): int-backed parquet storage with
    // a decimal logical type, whose raw footer max is the UNSCALED
    // value (150000 for 1500.00) — the logical-type guard must reject
    // the footer answer and take the exact-scan path instead
    val rows = Seq(
      ("d1", "t", "g", "c", "cl", "01/2024", new java.math.BigDecimal("1500.00"), "h1"),
      ("d2", "t", "g", "c", "cl", "01/2024", new java.math.BigDecimal("12.34"), "h2"))
      .toDF(Schemas.stagingSchema.fieldNames: _*)
      .withColumn("Valor", org.apache.spark.sql.functions.col("Valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
    cat.replace("staging_lancamentos", rows)
    assert(cat.maxId("staging_lancamentos", "Valor") === 1500L,
      "decimal footer max must come from the scan (scaled), not raw stats")
  }

  test("recover() re-syncs a snapshot left stale by a crashed direct write") {
    val dir = Files.createTempDirectory("cat_stale").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    cat.transaction { cat.replace("dim_tipo", tipoDf("a")) }
    // simulate a direct write that crashed BETWEEN its LATEST flip and
    // the snapshot bump: data + manifest v2 + LATEST=2, snapshot still →1
    val c2 = s"$dir/wh/dim_tipo/c2_crashed"
    tipoDf("a", "b").write.mode(SaveMode.Overwrite).parquet(c2)
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    Files.write(md.resolve("v2"), c2.getBytes)
    Files.writeString(md.resolve("LATEST"), "2")
    // readers resolve the stale snapshot — the crashed write is invisible
    assert(reader.table("dim_tipo").count() === 1)
    // every later direct write bases on the stale snapshot, collides
    // with the already-claimed v2, and fails loudly
    intercept[graft.ledger.Catalog.ConcurrentWriteException](
      cat.replace("dim_tipo", tipoDf("z")))
    // no INFLIGHT marker ⇒ recover() may republish from per-table heads
    cat.recover()
    assert(reader.table("dim_tipo").count() === 2,
      "recover() must re-sync the snapshot to the published head")
    // and the previously-blocked write now goes through (claims v3)
    cat.replace("dim_tipo", tipoDf("z"))
    assert(reader.table("dim_tipo").select("nome_tipo")
      .as[String].collect().toSeq === Seq("z"))
  }

  test("transaction guard: two threads on one instance — exactly one enters") {
    val dir = Files.createTempDirectory("cat_threadrace").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var winnerDone = false
    val winner = new Thread(() => {
      cat.transaction {
        entered.countDown()
        // hold the transaction open until the loser has been rejected
        assert(release.await(30, java.util.concurrent.TimeUnit.SECONDS))
        cat.replace("dim_tipo", tipoDf("a"))
      }
      winnerDone = true
    })
    winner.start()
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // the loser is rejected at the guard — its body NEVER runs, so
    // INFLIGHT is never interleaved with the winner's writes
    val e = intercept[IllegalArgumentException](cat.transaction {
      fail("loser entered the transaction body")
    })
    assert(e.getMessage.contains("already in progress"))
    release.countDown()
    winner.join(30000)
    assert(winnerDone, "winner transaction did not complete")
    // winner committed cleanly: marker cleared, next transaction runs
    assert(Files.notExists(Paths.get(s"$dir/wh/_snapshots/INFLIGHT")))
    cat.transaction { cat.replace("dim_tipo", tipoDf("a", "b")) }
    assert(cat.table("dim_tipo").count() === 2)
  }

  test("two catalogs, one root, two tables: concurrent writers both land (per-table ownership)") {
    // the documented multi-process deployment shape: one writer OWNS
    // each table; different-table writers under the same warehouse
    // root must not interfere (manifests are per-table). Two Catalog
    // instances append to two tables concurrently, several commits
    // each — both sequences must land completely and read back exactly.
    import spark.implicits._
    val dir = Files.createTempDirectory("cat_twotables").toString
    val catA = new Catalog(spark, s"$dir/wh")
    val catB = new Catalog(spark, s"$dir/wh")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(cat: Catalog, table: String, tag: String) = new Thread(() => {
      try {
        (1 to 4).foreach { i =>
          cat.appendDelta(table, Seq((i.toLong, s"${tag}_$i")).toDF("id", "v"))
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val ta = writer(catA, "owned_by_a", "a")
    val tb = writer(catB, "owned_by_b", "b")
    ta.start(); tb.start(); ta.join(60000); tb.join(60000)
    assert(errs.isEmpty, s"concurrent different-table writers failed: ${errs.peek()}")
    val a = catB.table("owned_by_a").as[(Long, String)].collect().sortBy(_._1)
    val b = catA.table("owned_by_b").as[(Long, String)].collect().sortBy(_._1)
    assert(a.toSeq === (1 to 4).map(i => (i.toLong, s"a_$i")))
    assert(b.toSeq === (1 to 4).map(i => (i.toLong, s"b_$i")))
    // four commits each — no writer lost a commit to the other's flips
    assert(latest(s"$dir/wh", "owned_by_a") === Some(4))
    assert(latest(s"$dir/wh", "owned_by_b") === Some(4))
  }

  test("tableWhere prunes commits by footer range and still answers exactly") {
    val dir = Files.createTempDirectory("cat_skip").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def batch(lo: Int, hi: Int) = (lo to hi).map(i => (i, s"n$i")).toDF("id_tipo", "nome_tipo")
    cat.replace("dim_tipo", batch(1, 100))
    cat.appendDelta("dim_tipo", batch(101, 200))
    cat.appendDelta("dim_tipo", batch(201, 300))
    // a range inside the middle commit plans exactly ONE of the three
    assert(cat.commitsInRange("dim_tipo", "id_tipo", 150, 160).size === 1)
    val got = cat.tableWhere("dim_tipo", "id_tipo", 150, 160)
      .as[(Int, String)].collect().sortBy(_._1)
    assert(got.toSeq === (150 to 160).map(i => (i, s"n$i")))
    // a boundary-spanning range keeps both touched commits, drops the third
    assert(cat.commitsInRange("dim_tipo", "id_tipo", 90, 110).size === 2)
    assert(cat.tableWhere("dim_tipo", "id_tipo", 90, 110).count() === 21)
    // out-of-range: zero commits planned, empty result with the schema
    assert(cat.commitsInRange("dim_tipo", "id_tipo", 999, 1999).isEmpty)
    assert(cat.tableWhere("dim_tipo", "id_tipo", 999, 1999).count() === 0)
    // a column without usable integral stats keeps everything (pruning
    // must never drop what it cannot prove absent) …
    assert(cat.commitsInRange("dim_tipo", "nome_tipo", 0, 1).size === 3)
    // … and tableWhere refuses non-integral columns loudly
    intercept[IllegalArgumentException] {
      cat.tableWhere("dim_tipo", "nome_tipo", 0, 1)
    }
  }

  test("deleteWhere rewrites only range-affected commits; untouched dirs carry verbatim") {
    val dir = Files.createTempDirectory("cat_delete").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def batch(ids: Seq[Int]) =
      ids.map(i => (Option(i), s"n$i")).toDF("id_tipo", "nome_tipo")
    cat.appendDelta("dim_tipo", batch(1 to 10))
    // the middle commit also holds a NULL id — it must survive a value-
    // range delete (a negated BETWEEN would silently drop it)
    cat.appendDelta("dim_tipo",
      batch(11 to 20).unionAll(Seq((Option.empty[Int], "nn")).toDF("id_tipo", "nome_tipo")))
    cat.appendDelta("dim_tipo", batch(21 to 30))
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    val preDirs = Files.readString(md.resolve("v3")).split("\n").filter(_.nonEmpty).toSeq

    assert(cat.deleteWhere("dim_tipo", "id_tipo", 15, 18) === 4)
    val postDirs = Files.readString(md.resolve("v4")).split("\n").filter(_.nonEmpty).toSeq
    // commits 1 and 3 carry over VERBATIM (no I/O); only commit 2 is new
    assert(postDirs.size === 3 && postDirs.count(preDirs.contains) === 2)
    assert(!postDirs.contains(preDirs(1)))
    val ids = cat.table("dim_tipo").select("id_tipo").as[Option[Int]].collect()
    assert(ids.flatten.sorted.toSeq === ((1 to 14) ++ (19 to 30)))
    assert(ids.count(_.isEmpty) === 1, "NULL row must survive the delete")

    // a delete matching no commit publishes no new version
    assert(cat.deleteWhere("dim_tipo", "id_tipo", 1000, 2000) === 0)
    assert(Files.readString(md.resolve("LATEST")).trim === "4")

    // deleting a commit's entire contents drops its dir with no empty
    // replacement commit
    assert(cat.deleteWhere("dim_tipo", "id_tipo", 21, 30) === 10)
    assert(liveCommitCount(s"$dir/wh", "dim_tipo") === 2)

    // the pre-delete commits were never rewritten in place: v3's dirs
    // still hold all 31 rows
    assert(preDirs.map(d => spark.read.parquet(d).count()).sum === 31)
  }

  test("rowCount: footer-only live row count equals the exact scan") {
    val dir = Files.createTempDirectory("cat_stats").toString
    val cat = new Catalog(spark, s"$dir/wh")
    assert(cat.rowCount("dim_tipo") === 0L)
    cat.appendDelta("dim_tipo", Seq((3, "c"), (7, "g")).toDF("id_tipo", "nome_tipo"))
    cat.appendDelta("dim_tipo", Seq((1, "a"), (5, "e")).toDF("id_tipo", "nome_tipo"))
    assert(cat.rowCount("dim_tipo") === 4L)
    assert(cat.rowCount("dim_tipo") === cat.table("dim_tipo").count())
  }

  test("deleteWhere on a partitioned fact keeps the (ano, mes) layout in the rewrite") {
    val dir = Files.createTempDirectory("cat_delete_part").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def batch(ids: Seq[Long], mes: Int) = ids.map(i =>
      (i, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, mes))
      .toDF(Schemas.fatoLancamento.fieldNames: _*)
      .withColumn("valor", org.apache.spark.sql.functions.col("valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
    val layout = (Seq("ano", "mes"), Seq("id_lancamento"))
    cat.appendDelta("fato_lancamento", batch(1L to 10L, 1), layout._1, layout._2)
    cat.appendDelta("fato_lancamento", batch(11L to 20L, 2), layout._1, layout._2)
    assert(cat.deleteWhere("fato_lancamento", "id_lancamento", 3, 5,
      layout._1, layout._2) === 3)
    assert(cat.table("fato_lancamento").count() === 17)
    // only the id-range commit was rewritten, and the rewrite keeps the
    // partition directory layout (month pruning still works)
    val md = Paths.get(s"$dir/wh/fato_lancamento/_manifests")
    val pre = Files.readString(md.resolve("v2")).split("\n").filter(_.nonEmpty).toSeq
    val post = Files.readString(md.resolve("v3")).split("\n").filter(_.nonEmpty).toSeq
    val rewritten = post.filterNot(pre.contains)
    assert(rewritten.length === 1 && post.count(pre.contains) === 1)
    assert(Files.exists(Paths.get(rewritten.head, "ano=2024")))
    assert(cat.table("fato_lancamento")
      .filter(org.apache.spark.sql.functions.col("mes") === 1).count() === 7)
  }

  test("deleteWhere inside an aborted transaction is rolled back like any write") {
    val dir = Files.createTempDirectory("cat_del_txn").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.transaction {
      cat.appendDelta("dim_tipo",
        (1 to 10).map(i => (i, s"n$i")).toDF("id_tipo", "nome_tipo"))
    }
    intercept[RuntimeException](cat.transaction {
      assert(cat.deleteWhere("dim_tipo", "id_tipo", 3, 7) === 5)
      sys.error("crash after delete, before publish")
    })
    // a fresh transaction begin heals the crashed head; the delete
    // never became visible
    cat.transaction { () }
    assert(cat.table("dim_tipo").count() === 10,
      "aborted deleteWhere leaked into the published state")
  }

  test("maintainAgg: refreshes equal the one-shot aggregate; schema stable; versioned") {
    import graft.operators.IncrementalAgg
    import graft.operators.IncrementalAgg.AggSpec
    val dir = Files.createTempDirectory("cat_rollup").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val aggs = Seq(AggSpec("n", "count", "*"), AggSpec("s", "sum", "v"),
      AggSpec("mx", "max", "v"))
    def batch(rows: (String, Int)*) = rows.toDF("k", "v")
      .withColumn("v", org.apache.spark.sql.functions.col("v")
        .cast(org.apache.spark.sql.types.DecimalType(12, 2)))
    val b1 = batch(("a", 1), ("b", 2))
    val b2 = batch(("a", 3), ("c", 4))
    val b3 = batch(("b", 5), ("a", 6))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    cat.maintainAgg("rollup_kv", b1, Seq("k"), aggs)
    val schema0 = cat.table("rollup_kv").schema
    val first = sorted(cat.table("rollup_kv"))
    cat.maintainAgg("rollup_kv", b2, Seq("k"), aggs)
    cat.maintainAgg("rollup_kv", b3, Seq("k"), aggs)
    // the decimal sum would widen +10 precision per refresh without the
    // cast-back; the maintained table must keep its first schema
    assert(cat.table("rollup_kv").schema === schema0)
    val direct = IncrementalAgg.partial(b1.unionAll(b2).unionAll(b3), Seq("k"), aggs)
      .select(schema0.fieldNames.map(org.apache.spark.sql.functions.col): _*)
    assert(sorted(cat.table("rollup_kv")) === sorted(direct))
    // each refresh is one atomic replace commit: three versions, and
    // the first refresh held exactly the first batch's rollup
    assert(latest(s"$dir/wh", "rollup_kv") === Some(3))
    assert(first === sorted(IncrementalAgg.partial(b1, Seq("k"), aggs)
      .select(schema0.fieldNames.map(org.apache.spark.sql.functions.col): _*)))
  }

  test("recover() clears orphan claims on export tables, not " +
      "just the star schema") {
    val dir = Files.createTempDirectory("cat_recover_export").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val docs = (0L until 6L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    // a crashed writer's claim exactly one above LATEST blocks the next
    // commit's create-exclusive fence
    Files.write(Paths.get(s"$dir/wh/export_docs/_manifests/v2"),
      "/ghost/commit".getBytes)
    intercept[Catalog.ConcurrentWriteException](
      graft.operators.ShardedExport.export(cat,
        "export_docs", "export_manifest", docs,
        Seq("lang", "doc_id"), 4L, "n_chars"))
    // the aborted attempt left its own INFLIGHT marker (same instance
    // heals at next begin); recover() must clear the foreign v-claim
    assert(cat.recover() >= 1)
    assert(!Files.exists(Paths.get(s"$dir/wh/export_docs/_manifests/v2")))
    val m = graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs.filter($"doc_id" < 4),
      Seq("lang", "doc_id"), 4L, "n_chars")
    assert(m.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) === 4L)
  }

  test("sharded export: data laid out by shard + manifest, ONE atomic snapshot flip") {
    val dir = Files.createTempDirectory("cat_export").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val docs = (0L until 10L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    val committed = graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // manifest describes the COMMITTED data exactly
    val recomputed = graft.operators.ShardedExport
      .manifest(cat.table("export_docs"), "n_chars")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(committed === recomputed)
    assert(committed.map(m => (m._1, m._2)) === Seq((0L, 4L), (1L, 4L), (2L, 2L)))
    // hive layout: a consumer fetches one shard dir without listing the rest
    val commitDirs = Files.list(Paths.get(s"$dir/wh/export_docs"))
    val shardDirs =
      try {
        import scala.jdk.CollectionConverters._
        commitDirs.iterator().asScala.filter(p =>
          Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
          .flatMap { c =>
            val l = Files.list(c)
            try l.iterator().asScala.map(_.getFileName.toString).toList
            finally l.close()
          }.toSet
      } finally commitDirs.close()
    assert(Set("shard=0", "shard=1", "shard=2").subsetOf(shardDirs), shardDirs)
    // atomicity: the flip published BOTH tables in one snapshot — and a
    // second export replaces both, never exposing new data with the old
    // manifest (read through the same snapshot-scoped table())
    graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest",
      docs.filter($"doc_id" < 6), Seq("lang", "doc_id"), 4L, "n_chars")
    val m2 = graft.operators.ShardedExport
      .manifest(cat.table("export_docs"), "n_chars")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val committed2 = cat.table("export_manifest")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(committed2 === m2)
    assert(committed2.map(_._2).sum === 6L)
  }

  test("sharded export atomicity: a reader between the two replaces sees the " +
      "OLD pair; a crash before the flip rolls BOTH tables back") {
    val dir = Files.createTempDirectory("cat_export_atomic").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val docs = (0L until 8L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    // the atomic view needs nothing of a consumer: any instance reads it
    val reader = new Catalog(spark, s"$dir/wh")
    def readerDocs(): Long = reader.table("export_docs").count()
    def readerManifestDocs(): Long = reader.table("export_manifest")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(readerDocs() === 8L && readerManifestDocs() === 8L)
    // replay export()'s body with reader probes between the steps: the
    // round-11 version flipped each table's LATEST immediately, so the
    // first probe saw 4-doc data under the 8-doc manifest
    val sharded4 = graft.operators.ShardedExport.withShards(
      docs.filter($"doc_id" < 4), Seq("lang", "doc_id"), 4L)
    cat.transaction {
      cat.replace("export_docs", sharded4, partitionBy = Seq("shard"))
      assert(readerDocs() === 8L && readerManifestDocs() === 8L)
      cat.replace("export_manifest", graft.operators.ShardedExport
        .manifest(cat.table("export_docs"), "n_chars"))
      // both replaced, flip not yet published: still the old pair
      assert(readerDocs() === 8L && readerManifestDocs() === 8L)
    }
    // after the single flip both move together
    assert(readerDocs() === 4L && readerManifestDocs() === 4L)
    // crash between the replaces (body throws): nothing published, and
    // the writer's next transaction begin rolls the data head back —
    // a subsequent full export re-claims the rolled-back version
    // numbers cleanly and the reader only ever sees committed pairs
    intercept[RuntimeException](cat.transaction {
      cat.replace("export_docs", graft.operators.ShardedExport.withShards(
        docs.filter($"doc_id" < 6), Seq("lang", "doc_id"), 4L),
        partitionBy = Seq("shard"))
      throw new RuntimeException("crash between data and manifest")
    })
    assert(readerDocs() === 4L && readerManifestDocs() === 4L)
    graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs.filter($"doc_id" < 6),
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    assert(readerDocs() === 6L && readerManifestDocs() === 6L)
  }

  test("a foreign crash never publishes the aborted head: " +
      "re-running a crashed first export recovers cleanly") {
    // first-ever export crashes between its data and manifest
    // replaces; a NEW process re-runs the export. Nothing may publish
    // the crashed writer's uncommitted data head (no snapshot entry
    // exists to fence it): that would expose new data under no/old
    // manifest AND floor the rollback at the aborted version.
    val dir = Files.createTempDirectory("cat_reg_crash").toString
    val docs = (0L until 8L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    val a = new Catalog(spark, s"$dir/wh")
    intercept[RuntimeException](a.transaction {
      a.replace("export_docs", graft.operators.ShardedExport.withShards(
        docs, Seq("lang", "doc_id"), 4L), partitionBy = Seq("shard"))
      throw new RuntimeException("crash between data and manifest")
    })
    // crashed state: data head v1, INFLIGHT remains, no snapshot entry
    assert(Files.exists(Paths.get(s"$dir/wh/_snapshots/INFLIGHT")))
    assert(!a.snapshotVersions.contains("export_docs"))
    // fresh process re-runs the export: registration must NOT bless the
    // aborted head; the transaction begin then fails loudly on the
    // foreign marker (the operator runbook: confirm dead, recover, rerun)
    val b = new Catalog(spark, s"$dir/wh")
    intercept[Catalog.ConcurrentWriteException](
      graft.operators.ShardedExport.export(b,
        "export_docs", "export_manifest", docs,
        Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars"))
    assert(!b.snapshotVersions.contains("export_docs"),
      "registration published the crashed transaction's uncommitted head")
    assert(b.recoverTransaction())
    // rollback was NOT floored by a published aborted version: the data
    // head rolled back to nonexistence
    assert(Files.notExists(
      Paths.get(s"$dir/wh/export_docs/_manifests/LATEST")))
    // rerun succeeds and a reader sees a consistent pair
    graft.operators.ShardedExport.export(b,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    val reader = new Catalog(spark, s"$dir/wh")
    assert(reader.table("export_docs").count() === 8L)
    assert(reader.table("export_manifest")
      .agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) === 8L)
  }

  test("cross-instance recovery: a fresh instance " +
      "rolls back a crashed writer's export tables") {
    // Round-12 verdict #4: the doc-comment promises rollback works even
    // when the RECOVERING instance never registered the export pair —
    // the INFLIGHT marker's recorded tables drive the rollback union.
    val dir = Files.createTempDirectory("cat_cross_recover").toString
    val docs = (0L until 8L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    val a = new Catalog(spark, s"$dir/wh")
    graft.operators.ShardedExport.export(a,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    // writer A crashes mid-second-export, AFTER replacing both tables
    // (heads at v2) but before the snapshot flip
    intercept[RuntimeException](a.transaction {
      a.replace("export_docs", graft.operators.ShardedExport.withShards(
        docs.filter($"doc_id" < 4), Seq("lang", "doc_id"), 4L),
        partitionBy = Seq("shard"))
      a.replace("export_manifest", graft.operators.ShardedExport
        .manifest(a.table("export_docs"), "n_chars"))
      throw new RuntimeException("crash before the flip")
    })
    // instance B: brand-new process, no state of its own
    val b = new Catalog(spark, s"$dir/wh")
    assert(b.recoverTransaction())
    // BOTH export tables rolled back to the committed v1 pair
    def head(t: String): Int = new String(Files.readAllBytes(
      Paths.get(s"$dir/wh/$t/_manifests/LATEST"))).trim.toInt
    assert(head("export_docs") === 1 && head("export_manifest") === 1)
    val reader = new Catalog(spark, s"$dir/wh")
    assert(reader.table("export_docs").count() === 8L)
    assert(reader.table("export_manifest")
      .agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) === 8L)
  }

  test("recover() deletes dot-prefixed write temps, never a tag whose name contains .tmp") {
    val dir = Files.createTempDirectory("cat_recover_tmp").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    // tag files as earlier versions of this catalog wrote them
    Files.write(md.resolve("tag.tmp"), "1".getBytes)
    Files.write(md.resolve("tag.rc.tmp1"), "1".getBytes)
    // what a writer killed between its temp write and the rename leaves
    Files.write(md.resolve(".LATEST.tmp0a1b2c3d"), "9".getBytes)
    assert(cat.recover() === 1)
    assert(!Files.exists(md.resolve(".LATEST.tmp0a1b2c3d")))
    assert(Files.readString(md.resolve("tag.tmp")) === "1")
    assert(Files.readString(md.resolve("tag.rc.tmp1")) === "1")
  }

  test("tag and schema_v files an earlier catalog wrote change no read or write; " +
      "vacuum refuses and deletes nothing") {
    val dir = Files.createTempDirectory("cat_compat").toString
    val plain = new Catalog(spark, s"$dir/plain")
    val planted = new Catalog(spark, s"$dir/planted")
    Seq(plain, planted).foreach { c =>
      c.replace("dim_tipo", tipoDf("a"))                            // v1
      c.replace("dim_tipo", tipoDf("a", "b", "c"))                  // v2: v1's dir dead
    }
    // a tag pinning v1 and a schema record evolving v2, as earlier
    // versions of this catalog wrote them beside the manifests
    val md = Paths.get(s"$dir/planted/dim_tipo/_manifests")
    Files.write(md.resolve("tag.rel"), "1".getBytes)
    Files.write(md.resolve("schema_v2"),
      "ddl:id_tipo INT,nome_tipo STRING,score BIGINT\ndefault:score:5".getBytes)
    def observed(c: Catalog) = (
      c.table("dim_tipo").columns.toSeq,
      c.table("dim_tipo").as[(Int, String)].collect().sorted.toSeq,
      c.tableWhere("dim_tipo", "id_tipo", 2, 3).as[(Int, String)].collect().sorted.toSeq,
      c.maxId("dim_tipo", "id_tipo"))
    assert(observed(planted) === observed(plain))
    assert(observed(plain)._1 === Seq("id_tipo", "nome_tipo"))
    val more = Seq((4, "d")).toDF("id_tipo", "nome_tipo")
    assert(planted.appendDelta("dim_tipo", more) === plain.appendDelta("dim_tipo", more))
    assert(latest(s"$dir/planted", "dim_tipo") === latest(s"$dir/plain", "dim_tipo"))
    assert(observed(planted) === observed(plain))
    assert(planted.recover() === plain.recover())
    assert(Files.exists(md.resolve("tag.rel")) && Files.exists(md.resolve("schema_v2")))
    // vacuum would collect v1's dir, which the tag pins: it refuses,
    // naming the tag file, and every commit dir stays on disk
    def commitDirs(root: String) = {
      val l = Files.list(Paths.get(s"$root/dim_tipo"))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_ != "_manifests").toSet
      } finally l.close()
    }
    val before = commitDirs(s"$dir/planted")
    assert(before.size === 3)
    val e = intercept[IllegalArgumentException](planted.vacuum("dim_tipo"))
    assert(e.getMessage.contains("tag.rel"), e.getMessage)
    assert(commitDirs(s"$dir/planted") === before)
    assert(plain.vacuum("dim_tipo") === 1)
  }

  test("appendDelta of an empty frame into a missing undeclared table publishes nothing") {
    val dir = Files.createTempDirectory("cat_empty_append").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    assert(cat.appendDelta("undeclared_t", empty) === 0L)
    assert(!cat.exists("undeclared_t"))
    assert(latest(s"$dir/wh", "undeclared_t").isEmpty)
    assert(!spark.catalog.tableExists("undeclared_t"))
    // the first non-empty append still creates the table
    assert(cat.appendDelta("undeclared_t", Seq((1L, "a")).toDF("id", "v")) === 1L)
    assert(latest(s"$dir/wh", "undeclared_t") === Some(1))
  }

  test("empty frames: which writes publish a version and which leave the table as it was") {
    import graft.operators.IncrementalAgg.AggSpec
    val dir = Files.createTempDirectory("cat_empty_writes").toString
    val root = s"$dir/wh"
    val cat = new Catalog(spark, root)
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    // replace publishes the zero-row commit: it carries the schema
    assert(cat.replace("empty_replace", empty) === 0L)
    assert(latest(root, "empty_replace") === Some(1))
    assert(spark.table("empty_replace").columns.toSeq === Seq("id", "v"))
    assert(spark.table("empty_replace").count() === 0L)
    // the rollup maintainers create their table from an empty batch
    cat.maintainAgg("empty_agg", empty, Seq("v"), Seq(AggSpec("n", "count", "*")))
    assert(latest(root, "empty_agg") === Some(1))
    assert(spark.table("empty_agg").count() === 0L)
    cat.maintainKmv("empty_kmv", empty, Seq("v"), "id", k = 8)
    assert(latest(root, "empty_kmv") === Some(1))
    assert(spark.table("empty_kmv").columns.toSeq === Seq("v", "mins", "kmv_k"))
    // an empty append onto an existing table publishes no version
    assert(cat.appendDelta("empty_replace", empty) === 0L)
    assert(latest(root, "empty_replace") === Some(1))
    // compact publishes over an existing empty table, and keeps it readable
    cat.compact("empty_replace")
    assert(latest(root, "empty_replace") === Some(2))
    assert(cat.table("empty_replace").count() === 0L)
    // on a missing declared table, nothing is written or registered
    assert(cat.deleteWhere("dim_grupo", "id_grupo", 0, 10) === 0L)
    cat.compact("dim_grupo")
    assert(cat.appendDelta("dim_grupo", Seq.empty[(Int, Int, String)]
      .toDF("id_grupo", "id_tipo", "nome_grupo")) === 0L)
    assert(!cat.exists("dim_grupo"))
    assert(!Files.exists(Paths.get(s"$root/dim_grupo/_manifests")))
  }

  /** A partitioned fact batch with ids `ids`, every row in (2024, mes). */
  private def fatoBatch(ids: Seq[Long], mes: Int) =
    ids.map(i => (i, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, mes))
      .toDF(Schemas.fatoLancamento.fieldNames: _*)
      .withColumn("valor", org.apache.spark.sql.functions.col("valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))

  /** Commit dirs named by `t`'s LATEST manifest under `root`. */
  private def liveDirs(root: String, t: String): Set[String] =
    latest(root, t).toSet[Int].flatMap(v =>
      Files.readString(Paths.get(s"$root/$t/_manifests/v$v")).split("\n").filter(_.nonEmpty))

  test("one instance's commit memos answer like a fresh Catalog and hold only live dirs") {
    val root = Files.createTempDirectory("cat_memo").toString + "/wh"
    val cat = new Catalog(spark, root, compactEvery = 3)
    val ids = Seq("dim_tipo" -> "id_tipo", "fato_lancamento" -> "id_lancamento")
    def tipo(from: Int, names: String*) =
      names.zipWithIndex.map { case (n, i) => (from + i, n) }.toDF("id_tipo", "nome_tipo")
    def check(step: String): Unit = {
      val fresh = new Catalog(spark, root)
      ids.foreach { case (t, id) =>
        assert(cat.rowCount(t) === fresh.rowCount(t), s"$t rowCount after $step")
        assert(cat.maxId(t, id) === fresh.maxId(t, id), s"$t maxId after $step")
        assert(cat.table(t).collect().map(_.toString).sorted ===
          fresh.table(t).collect().map(_.toString).sorted, s"$t rows after $step")
        Seq((0L, 2L), (4L, 5L), (100L, 200L)).foreach { case (lo, hi) =>
          assert(cat.commitsInRange(t, id, lo, hi) === fresh.commitsInRange(t, id, lo, hi),
            s"$t commits in [$lo, $hi] after $step")
        }
      }
      val live = ids.map(_._1).flatMap(liveDirs(root, _)).toSet
      assert(cat.memoizedDirs.nonEmpty && cat.memoizedDirs.subsetOf(live),
        s"memos hold dead dirs after $step: ${cat.memoizedDirs -- live}")
    }
    cat.appendDelta("dim_tipo", tipo(1, "a", "b", "c"))
    cat.appendDelta("fato_lancamento", fatoBatch(Seq(1L, 2L), 1), Seq("ano", "mes"))
    check("first appends")
    cat.appendDelta("dim_tipo", tipo(4, "d", "e"))
    cat.appendDelta("fato_lancamento", fatoBatch(Seq(4L, 5L), 2), Seq("ano", "mes"))
    check("second appends")
    cat.appendDelta("dim_tipo", tipo(6, "f"))
    cat.appendDelta("fato_lancamento", fatoBatch(Seq(6L), 3), Seq("ano", "mes"))
    assert(liveDirs(root, "dim_tipo").size === 1 && liveDirs(root, "fato_lancamento").size === 1)
    check("auto-fold")
    cat.replace("dim_tipo", tipo(1, "z"))
    check("replace")
    assert(cat.appendDelta("fato_lancamento", fatoBatch(Seq.empty, 1), Seq("ano", "mes")) === 0L)
    check("an empty append, whose commit dir is deleted")
    assert(cat.vacuum("dim_tipo") > 0 && cat.vacuum("fato_lancamento") > 0)
    check("vacuum")
  }

  test("a live commit dir deleted after an instance memoized it still fails loudly") {
    val root = Files.createTempDirectory("cat_memo_gone").toString + "/wh"
    val cat = new Catalog(spark, root)
    cat.appendDelta("dim_tipo", tipoDf("a", "b"))
    cat.appendDelta("dim_tipo", Seq((3, "c")).toDF("id_tipo", "nome_tipo"))
    assert(cat.rowCount("dim_tipo") === 3L && cat.table("dim_tipo").count() === 3L)
    val gone = Paths.get(liveDirs(root, "dim_tipo").min)
    val walk = Files.walk(gone)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally walk.close()
    Seq[Catalog => Any](_.rowCount("dim_tipo"), _.maxId("dim_tipo", "id_tipo")).foreach { f =>
      val e = intercept[IllegalStateException](f(cat))
      assert(e.getMessage.contains("live commit dir is missing"), e.getMessage)
    }
    // the same read error a fresh instance's scan raises
    val e = intercept[org.apache.spark.sql.AnalysisException](cat.table("dim_tipo"))
    val fresh = intercept[org.apache.spark.sql.AnalysisException](
      new Catalog(spark, root).table("dim_tipo"))
    assert(e.getCondition === "PATH_NOT_FOUND" && e.getMessage === fresh.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](cat.register("dim_tipo"))
  }

  /** Commands of the processes `body` starts, recorded in-process with
    * JFR's `jdk.ProcessStart` event. Spark's executor-metrics heartbeat
    * runs `getconf PAGESIZE` once per JVM from `ProcfsMetricsGetter`,
    * whenever it first fires; that one start, told apart by its stack,
    * is not the body's. */
  private def processesStarted(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val out = Files.createTempFile("cat_nofork", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.spark.executor.ProcfsMetricsGetter"))))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  /** A fact batch spread over months `m` and `m + 3` of 2024. */
  private def spreadBatch(m: Int) =
    fatoBatch(Seq(10L * m, 10L * m + 1), m).unionAll(fatoBatch(Seq(10L * m + 2), m + 3))

  test("rowCount, maxId and table over a partitioned table start no process") {
    val root = Files.createTempDirectory("cat_nofork").toString + "/wh"
    val writer = new Catalog(spark, root)
    (1 to 3).foreach(m => writer.appendDelta("fato_lancamento",
      fatoBatch(Seq(10L * m, 10L * m + 1), m).unionAll(fatoBatch(Seq(10L * m + 2), m + 3)),
      Seq("ano", "mes")))
    val started = processesStarted {
      val cat = new Catalog(spark, root)
      assert(cat.rowCount("fato_lancamento") === 9L)
      assert(cat.maxId("fato_lancamento", "id_lancamento") === 32L)
      assert(cat.table("fato_lancamento").columns.length === 11)
    }
    assert(started.isEmpty, s"processes started: ${started.mkString("; ")}")
  }

  test("appendDelta (partitioned), replace and compact start no process and " +
    "write the files and permission bits a plain parquet write does") {
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("cat_nofork_writes").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.appendDelta("fato_lancamento", spreadBatch(1), Seq("ano", "mes"))
    val started = processesStarted {
      cat.appendDelta("fato_lancamento", spreadBatch(2), Seq("ano", "mes"))
      cat.replace("dim_tipo", tipoDf("a", "b"))
      cat.compact("fato_lancamento", Seq("ano", "mes"))
    }
    assert(started.isEmpty, s"processes started: ${started.mkString("; ")}")
    assert(cat.rowCount("fato_lancamento") === 6L && cat.table("dim_tipo").count() === 2L)
    // every file and dir under a commit, by name shape, with its bits
    def layout(d: String): Map[(String, String), Int] = {
      val walk = Files.walk(Paths.get(d))
      try walk.iterator().asScala.toSeq.filter(_ != Paths.get(d)).map { p =>
        (Paths.get(d).relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]+", "part"),
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      }.groupBy(identity).map { case (k, v) => k -> v.size }
      finally walk.close()
    }
    val plainFact = s"$dir/plain_fact"
    cat.table("fato_lancamento").write.partitionBy("ano", "mes").parquet(plainFact)
    val factCommit = liveDirs(s"$dir/wh", "fato_lancamento").head
    val plainTipo = s"$dir/plain_tipo"
    tipoDf("a", "b").write.parquet(plainTipo)
    val tipoCommit = liveDirs(s"$dir/wh", "dim_tipo").head
    assert(layout(factCommit).keySet === layout(plainFact).keySet)
    assert(layout(factCommit).keys.exists(_._1.endsWith(".parquet.crc")))
    assert(layout(tipoCommit) === layout(plainTipo))
  }

  test("table() is one file scan, with no union, at 1, 2 and 3 live commits") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val root = Files.createTempDirectory("cat_onescan").toString + "/wh"
    val cat = new Catalog(spark, root)
    object plans extends AdaptiveSparkPlanHelper
    (1 to 3).foreach { m =>
      cat.appendDelta("fato_lancamento", spreadBatch(m), Seq("ano", "mes"))
      assert(liveDirs(root, "fato_lancamento").size === m)
      val df = cat.table("fato_lancamento")
      assert(df.count() === 3L * m)
      val plan = df.queryExecution.executedPlan
      assert(plans.collect(plan) { case s: FileSourceScanExec => s }.size === 1, plan.toString)
      assert(!df.queryExecution.optimizedPlan.toString.contains("Union"), plan.toString)
    }
  }

  test("a warmed aggregate over the fact compiles no new class after an append adds a commit") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.{col, sum}
    val root = Files.createTempDirectory("cat_codegen").toString + "/wh"
    val cat = new Catalog(spark, root)
    def refresh() = cat.table("fato_lancamento").groupBy("ano", "mes")
      .agg(sum(col("valor")).as("total")).orderBy("ano", "mes").collect()
    cat.appendDelta("fato_lancamento", spreadBatch(1), Seq("ano", "mes"))
    refresh(); refresh()
    cat.appendDelta("fato_lancamento", spreadBatch(2), Seq("ano", "mes"))
    assert(liveDirs(root, "fato_lancamento").size === 2)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(refresh().length === 4)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0L)
  }

  test("commits with different partition columns: the version is refused, " +
    "a hand-listed one fails to read, and both errors name the dirs") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("cat_layouts").toString + "/wh"
    val cat = new Catalog(spark, root)
    val kv = Seq((1L, 1), (2L, 2)).toDF("id", "k")
    cat.appendDelta("layouts", kv, partitionBy = Seq("k"))
    val partitioned = liveDirs(root, "layouts").head
    val e = intercept[IllegalStateException](cat.appendDelta("layouts", Seq((3L, 3)).toDF("id", "k")))
    val flat = Files.list(Paths.get(s"$root/layouts")).iterator().asScala
      .map(_.toString).find(d => d != partitioned && !d.endsWith("_manifests")).get
    assert(e.getMessage.contains(s"(k) in $partitioned") && e.getMessage.contains(s"() in $flat"),
      e.getMessage)
    // refused before the claim: the table and its view still read version 1
    assert(latest(root, "layouts") === Some(1))
    assert(spark.table("layouts").count() === 2L && cat.table("layouts").count() === 2L)
    // a version listing both (written by hand) fails every read
    val md = Paths.get(s"$root/layouts/_manifests")
    Files.writeString(md.resolve("v2"), s"$partitioned\n$flat")
    Files.writeString(md.resolve("LATEST"), "2")
    val r = intercept[IllegalStateException](new Catalog(spark, root).table("layouts"))
    assert(r.getMessage.contains(partitioned) && r.getMessage.contains(flat), r.getMessage)
    // a commit with no data files (an empty partitioned write) has no layout
    cat.replace("fato_lancamento", fatoBatch(Seq.empty, 1), Seq("ano", "mes"))
    assert(cat.appendDelta("fato_lancamento", spreadBatch(1), Seq("ano", "mes")) === 3L)
    assert(liveDirs(root, "fato_lancamento").size === 2)
    assert(cat.table("fato_lancamento").count() === 3L)
  }

  test("a side table written in a transaction that throws stays invisible " +
      "to a fresh reader, and the writer's next transaction rolls it back") {
    val root = Files.createTempDirectory("cat_side").toString + "/wh"
    val writer = new Catalog(spark, root)
    writer.replace("side_t", Seq((1L, "a")).toDF("id", "v"))
    intercept[RuntimeException](writer.transaction {
      writer.appendDelta("side_t", Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
      sys.error("crash after the side write")
    })
    assert(latest(root, "side_t") === Some(2))
    assert(new Catalog(spark, root).table("side_t").count() === 1L)
    writer.transaction { () }
    assert(latest(root, "side_t") === Some(1))
    assert(new Catalog(spark, root).table("side_t").count() === 1L)
  }

  test("after a crashed export transaction, any reader sees the committed pair") {
    val root = Files.createTempDirectory("cat_export_reader").toString + "/wh"
    val cat = new Catalog(spark, root)
    val docs = (0L until 8L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    graft.operators.ShardedExport.export(cat, "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    intercept[RuntimeException](cat.transaction {
      cat.replace("export_docs", graft.operators.ShardedExport.withShards(
        docs.filter($"doc_id" < 4), Seq("lang", "doc_id"), 4L), partitionBy = Seq("shard"))
      throw new RuntimeException("crash between data and manifest")
    })
    val reader = new Catalog(spark, root)
    assert(reader.table("export_docs").count() === 8L)
    assert(reader.table("export_manifest").agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) === 8L)
  }

  test("seen from another instance, exists and table agree on tables a crashed " +
      "transaction created") {
    val root = Files.createTempDirectory("cat_exists").toString + "/wh"
    val writer = new Catalog(spark, root)
    intercept[RuntimeException](writer.transaction {
      writer.replace("created_t", Seq((1L, "a")).toDF("id", "v"))
      writer.replace("dim_tipo", tipoDf("a"))
      sys.error("crash")
    })
    val other = new Catalog(spark, root)
    assert(!other.exists("created_t"))
    intercept[IllegalArgumentException](other.table("created_t"))
    assert(!other.exists("dim_tipo"))
    assert(other.table("dim_tipo").count() === 0L)
    // once the crash is recovered, both name what a direct write commits
    assert(other.recoverTransaction())
    other.replace("created_t", Seq((5L, "e")).toDF("id", "v"))
    assert(other.exists("created_t") && new Catalog(spark, root).exists("created_t"))
    assert(new Catalog(spark, root).table("created_t").as[(Long, String)].collect().toSeq ===
      Seq((5L, "e")))
  }

  test("a root with per-table heads and no snapshot entry for them reads the same " +
      "rows from a fresh instance and then takes a Warehouse.run") {
    import graft.ledger.{Ingest, Warehouse}
    def rows(cat: Catalog, t: String) = cat.table(t).collect().map(_.mkString("|")).sorted.toSeq
    def csv(lines: (String, String, String)*) = lines.map { case (d, data, valor) =>
      (d, "Despesa", "Moradia", "Aluguel", "Essencial", data, valor)
    }.toDF(Schemas.requiredColumns: _*)
    val staged = Seq("staging_lancamentos", "rejects_lancamentos")
    // without a snapshot (direct writes only), and with one that covers
    // only the star schema a Warehouse.run published
    for (warehouseFirst <- Seq(false, true)) {
      val root = Files.createTempDirectory("cat_heads").toString + "/wh"
      val w = new Catalog(spark, root)
      if (warehouseFirst) {
        Ingest.stage(w, csv(("Jan", "01/2024", "1,00")), strict = true)
        new Warehouse(w).run()
      }
      // a permissive ingest: one staged row, one rejected (no Data)
      Ingest.stage(w, csv(("Fev", "02/2024", "2,00"), ("Sem data", null, "3,00")), strict = false)
      val snaps = Paths.get(s"$root/_snapshots")
      if (warehouseFirst) {
        val n = Files.readString(snaps.resolve("LATEST")).trim.toInt
        val body = Files.readString(snaps.resolve(s"s$n")).split("\n")
          .filterNot(l => staged.exists(t => l.startsWith(s"$t ")))
        Files.writeString(snaps.resolve(s"s${n + 1}"), body.mkString("\n"))
        Files.writeString(snaps.resolve("LATEST"), s"${n + 1}")
        assert(new Catalog(spark, root).snapshotVersions.keySet.intersect(staged.toSet).isEmpty)
      } else {
        assert(Files.notExists(snaps), "a direct write made a snapshot")
      }
      val fresh = new Catalog(spark, root)
      staged.foreach(t => assert(rows(fresh, t) === rows(w, t), t))
      assert(fresh.table("staging_lancamentos").count() === 1L)
      assert(fresh.table("rejects_lancamentos").count() === 1L)
      new Warehouse(fresh).run()
      val after = new Catalog(spark, root)
      assert(after.table("fato_lancamento").count() === (if (warehouseFirst) 2L else 1L))
      staged.foreach(t => assert(rows(after, t) === rows(w, t), t))
      assert(after.snapshotVersions.keySet ===
        Set("dim_tempo", "dim_tipo", "dim_grupo", "dim_categoria", "dim_classificacao",
          "fato_lancamento"))
    }
  }
}
