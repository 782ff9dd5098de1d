package graft

import org.apache.spark.sql.functions._

import graft.operators.FuzzyJoin

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  test("deletionVariants: string itself plus each single deletion, deduped") {
    val out = Seq("abc").toDF("s")
      .select(FuzzyJoin.deletionVariants(col("s")).as("v"))
      .as[Seq[String]].head()
    assert(out.toSet === Set("abc", "bc", "ac", "ab"))
    // repeated chars dedup ("aa" -> deleting either 'a' gives "a" once)
    val dup = Seq("aa").toDF("s")
      .select(FuzzyJoin.deletionVariants(col("s")).as("v"))
      .as[Seq[String]].head()
    assert(dup.toSet === Set("aa", "a"))
    // empty string survives (degenerate self-variant only)
    val empty = Seq("").toDF("s")
      .select(FuzzyJoin.deletionVariants(col("s")).as("v"))
      .as[Seq[String]].head()
    assert(empty.toSet === Set(""))
  }

  test("lev1Join finds substitution/insertion/deletion/equal, drops dist-2") {
    val left = Seq(
      (1L, "kitten"),   // equal -> dist 0
      (2L, "kitte"),    // deletion -> dist 1
      (3L, "kittens"),  // insertion -> dist 1
      (4L, "mitten"),   // substitution -> dist 1
      (5L, "mittes"),   // two edits -> no match
      (6L, "zzz")       // unrelated -> no match
    ).toDF("left_id", "name")
    val right = Seq((10L, "kitten")).toDF("right_id", "name")
    val got = FuzzyJoin.lev1Join(left, right, "left_id", "right_id", "name")
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 10L, 0), (2L, 10L, 1), (3L, 10L, 1), (4L, 10L, 1)))
  }

  test("native deletion_variants matches the composed substr form") {
    val edge = Seq("", "a", "aa", "abc", "ação", "a😀b", "kettle").toDF("s")
    val d1 = edge.select(
      FuzzyJoin.deletionVariants(col("s")).as("fast"),
      Composed.deletionVariants(col("s")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d1.count() === 0, d1.collect().mkString("; "))
    val d2 = Tables(spark, sf0001, "part").select(col("p_name").as("s"))
      .select(FuzzyJoin.deletionVariants(col("s")).as("fast"),
        Composed.deletionVariants(col("s")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d2.count() === 0)
  }

  test("native lev1_dist: min(levenshtein, 2) on adversarial pairs and real names") {
    import graft.expressions.Lev1Dist
    // edges: equality, substitution/insert/delete at every position,
    // repeats that tempt a double-skip, surrogate pairs (one code
    // point = one edit, matching Spark's levenshtein), and empties
    val pairs = Seq(
      ("abc", "abc"), ("abc", "xbc"), ("abc", "axc"), ("abc", "abx"),
      ("abc", "ab"), ("abc", "bc"), ("abc", "ac"), ("ab", "abc"),
      ("aaa", "aa"), ("aaaa", "aa"), ("abab", "ab"), ("", ""), ("", "a"),
      ("", "ab"), ("abc", "abcd"), ("abc", "abcde"), ("abc", "xyz"),
      ("ação", "acao"), ("a😀b", "ab"), ("a😀b", "a😀😀b"), ("😀", "😀"),
      ("kettle", "kettles"), ("kettle", "cattle"))
      .toDF("a", "b")
    val diff = pairs.select(
      Lev1Dist.dist(col("a"), col("b")).as("fast"),
      least(levenshtein(col("a"), col("b")), lit(2)).cast("int").as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() === 0, diff.collect().mkString("; "))
    // and across all variant-collision candidates of real part names
    val names = Tables(spark, sf0001, "part").select(col("p_name")).distinct()
    val d2 = names.as("x").crossJoin(names.as("y")).limit(20000)
      .select(Lev1Dist.dist(col("x.p_name"), col("y.p_name")).as("fast"),
        least(levenshtein(col("x.p_name"), col("y.p_name")), lit(2)).cast("int").as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(d2.count() === 0)
  }

  test("lev1Join result equals the brute-force cross check on real names") {
    val part = Tables(spark, sf0001, "part")
    val clean = part.select(col("p_partkey").as("clean_id"), col("p_name"))
    val dirty = part.filter(col("p_partkey") % 10 === 0)
      .select((col("p_partkey") + 1000L).as("dirty_id"),
        concat(substring(col("p_name"), 1, 5), lit("#"),
          col("p_name").substr(lit(7), length(col("p_name")))).as("p_name"))
    val fast = FuzzyJoin.lev1Join(dirty, clean, "dirty_id", "clean_id", "p_name")
    val brute = dirty.withColumnRenamed("p_name", "dn")
      .crossJoin(clean.withColumnRenamed("p_name", "cn"))
      .where(levenshtein(col("dn"), col("cn")) <= 1)
      .select(col("dirty_id"), col("clean_id"),
        levenshtein(col("dn"), col("cn")).cast("int").as("dist"))
    assert(fast.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(fast).count() === 0)
    assert(fast.count() > 0)
  }
}
