package graft

import org.apache.spark.sql.AnalysisException

import graft.functions.Registry

class RegistrySpec extends SparkSpec {
  import spark.implicits._

  test("SQL UDFs match the Column library on golden values") {
    Registry.install(spark)
    val r = spark.sql(
      """SELECT parse_brl_money('1.234,56') AS money,
        |       blank_to_null('   ') AS blank,
        |       ledger_hash('Despesa', ' Moradia ', 'Aluguel', ' 01/2024 ',
        |                   'Pagamento Março', '1.234,56') AS h,
        |       doc_fingerprint('Hello   World') AS fp1,
        |       doc_fingerprint(' hello world ') AS fp2,
        |       ws_token_count('a  b c') AS n
        |""".stripMargin).head()
    assert(r.getDecimal(0).toPlainString === "1234.56")
    assert(r.isNullAt(1))
    assert(r.getString(2) === "022e4d86e5ba6b760869697a93ceb7b3")
    assert(r.getString(3) === r.getString(4))
    assert(r.getInt(5) === 3)
  }

  test("SQL UDFs inline: predicate through parse_brl_money still prunes/pushes") {
    Registry.install(spark)
    Seq(("1,00"), ("2,00")).toDF("valor").createOrReplaceTempView("vals")
    val out = spark.sql("SELECT parse_brl_money(valor) v FROM vals WHERE parse_brl_money(valor) > 1.5")
    assert(out.as[java.math.BigDecimal].collect().map(_.toPlainString).toSeq === Seq("2.00"))
    // the body is inlined — no ScalaUDF node in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("ScalaUDF"))
  }

  test("topk_str from a pure SQL string plans identically to the Column API") {
    // BI-surface parity (SURVEY §3.3): the session-extension aggregate
    // must be reachable from spark.sql text, and the SQL route must
    // produce the SAME optimized plan as the Column wrapper — not a
    // fallback through a different (slower) node.
    import org.apache.spark.sql.functions._
    Seq(("g1", 3L, "a"), ("g1", 1L, "b"), ("g2", 2L, "c"))
      .toDF("g", "o", "p").createOrReplaceTempView("reg_topk")
    val sqlDf = spark.sql(
      "SELECT g, topk_str(o, p, 2) AS top FROM reg_topk GROUP BY g")
    val colDf = spark.table("reg_topk").groupBy(col("g"))
      .agg(graft.expressions.TopKStrings.topk(col("o"), col("p"), 2).as("top"))
    assert(sqlDf.queryExecution.optimizedPlan.canonicalized ===
      colDf.queryExecution.optimizedPlan.canonicalized)
    assert(sqlDf.as[(String, Seq[String])].collect().toMap ===
      Map("g1" -> Seq("a", "b"), "g2" -> Seq("c")))
  }

  test("misra_gries from a pure SQL string plans identically to the Column API") {
    import org.apache.spark.sql.functions._
    Seq("x", "x", "y", "z", "x").toDF("v").createOrReplaceTempView("reg_mg")
    val sqlDf = spark.sql("SELECT misra_gries(v, 4) AS cand FROM reg_mg")
    val colDf = spark.table("reg_mg")
      .agg(call_function(graft.expressions.MisraGries.name, col("v"), lit(4)).as("cand"))
    assert(sqlDf.queryExecution.optimizedPlan.canonicalized ===
      colDf.queryExecution.optimizedPlan.canonicalized)
    // the heavy value must be among the sketch's candidates
    assert(sqlDf.as[Seq[String]].head().contains("x"))
  }

  test("native functions: 26 distinct names, each resolves from SQL and rejects a wrong argument count by name") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    // injectFunction silently keeps the last of two equal names
    assert(names.size === 26)
    assert(names.distinct.size === names.size, s"duplicate names: ${names.diff(names.distinct)}")
    for (n <- names) {
      val desc = spark.sql(s"DESCRIBE FUNCTION $n").as[String].collect()
      assert(desc.exists(_.startsWith("Class: graft.expressions.")), s"$n: ${desc.mkString("; ")}")
      // no native function takes more than 4 arguments
      for (argc <- Seq(0, 6)) {
        val call = s"SELECT $n(${Seq.fill(argc)("NULL").mkString(", ")})"
        val e = intercept[AnalysisException](spark.sql(call))
        assert(Option(e.getCondition).exists(_.startsWith("WRONG_NUM_ARGS")),
          s"$call: ${e.getCondition}: ${e.getMessage}")
      }
    }
  }

  test("word_shingles: the two-argument form is the three-argument form with false") {
    val r = spark.sql("SELECT word_shingles(t, 2) AS a, word_shingles(t, 2, false) AS b " +
      "FROM VALUES ('the cat saw the cat sat') AS v(t)").head()
    assert(r.getSeq[String](0).nonEmpty)
    assert(r.getSeq[String](0) === r.getSeq[String](1))
  }
}
