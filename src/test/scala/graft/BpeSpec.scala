package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the classic Sennrich corpus: low×5 lower×2 newest×6 widest×3
  private val corpus =
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")

  test("train recovers the textbook merge sequence with deterministic tie-breaks") {
    // hand-computed: (e,s) and (s,t) tie at 9 → lexicographic picks
    // (e,s); then (es,t)=9; then (l,o)/(o,w) tie at 7 → (l,o); then
    // (lo,w)=7
    val merges = Bpe.train(Seq(corpus).toDF("text"), "text", numMerges = 4)
    assert(merges === Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
  }

  test("encode applies merges in training order; greedy non-overlapping pass") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val toks = Seq("Lowest, newest!").toDF("t")
      .select(Bpe.encode(col("t"), merges)).as[Seq[String]].head()
    assert(toks === Seq("low", "est", "n", "e", "w", "est"))
    // overlap discipline: (a,a) over "aaa" merges left-to-right once
    val aa = Seq("aaa").toDF("t")
      .select(Bpe.encode(col("t"), Seq(("a", "a")))).as[Seq[String]].head()
    assert(aa === Seq("aa", "a"))
  }

  test("native bpe_encode matches the composed builtin fold on real docs") {
    val merges = Bpe.train(
      Tables(spark, sf0001, "documents"), "text", numMerges = 8)
    assert(merges.length === 8)
    val diff = Tables(spark, sf0001, "documents")
      .select(Bpe.encode(col("text"), merges).as("fast"),
        Composed.bpeEncode(col("text"), merges).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() === 0)
  }

  test("tokens reconstruct the words exactly — merges never lose or invent bytes") {
    val merges = Bpe.train(Tables(spark, sf0001, "documents"), "text", 8)
    val bad = Tables(spark, sf0001, "documents")
      .select(
        array_join(Bpe.encode(col("text"), merges), "").as("joined"),
        array_join(graft.functions.TextFunctions.words(col("text")), "").as("raw"))
      .filter(col("joined") =!= col("raw"))
    assert(bad.count() === 0)
  }

  test("train stops early when no pair clears minPairFreq") {
    val merges = Bpe.train(Seq("ab cd ef").toDF("text"), "text",
      numMerges = 10, minPairFreq = 2)
    assert(merges === Seq.empty) // every pair occurs once
  }
}
