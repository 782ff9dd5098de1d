package graft

/** Every declared query must run green on sf0.001 and return rows —
  * mirrors the driver's t1 smoke gate.
  */
class QueriesSmokeSpec extends SparkSpec {
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, sf0001).count() > 0)
    }
  }

  test("every query has an oracle or is documented rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // keep this list tight: rows-only checks are weaker
    assert(noOracle.subsetOf(SparkEntry.rowsOnlyQueries),
      s"queries missing oracle SQL: ${noOracle.mkString(", ")}")
  }

  test("the registry holds 173 distinct query names") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.size === 173)
    assert(names.distinct.size === 173)
  }

  test("a query name declared twice fails registry construction") {
    val q = SparkEntry.specs.head
    val e = intercept[IllegalArgumentException] {
      SparkEntry.join(Seq(q), SparkEntry.specs.tail.take(2) :+ q.copy(oracleSql = "SELECT 1"))
    }
    assert(e.getMessage.contains(q.name))
  }

  test("a query declared without oracle SQL is rejected") {
    val q = SparkEntry.specs.head
    Seq("", "  \n ").foreach { sql =>
      val e = intercept[IllegalArgumentException](q.copy(oracleSql = sql))
      assert(e.getMessage.contains(q.name))
    }
  }
}
