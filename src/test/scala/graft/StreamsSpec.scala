package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.streaming.OutputMode

import graft.ledger.Catalog
import graft.streaming.Streams
import graft.streaming.Streams.Event

class StreamsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("hourlyEventCounts: watermarked windowed aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(
      Event(ts(5), 1L, "click", 1.0), Event(ts(10), 2L, "click", 2.0),
      Event(ts(20), 1L, "view", 3.0))
    val q = Streams.hourlyEventCounts(mem.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select("event_type", "n_events", "total_value")
        .as[(String, Long, Double)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("late data past the watermark is DROPPED: a closed window's emitted " +
      "aggregate never mutates, and the drop is accounted") {
    // the contract the watermark bound exists for (round-11 verdict #7):
    // in append mode a window emits exactly once, after the watermark
    // passes its end — a row OLDER than the watermark arriving later
    // must not re-open it, not duplicate it, and must show up in
    // numRowsDroppedByWatermark rather than vanish silently
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = Streams.hourlyEventCounts(mem.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_drop")
      .outputMode(OutputMode.Append()).start()
    try {
      // window [10:00, 11:00): two clicks
      mem.addData(Event(ts(5), 1L, "click", 1.0), Event(ts(20), 2L, "click", 2.0))
      q.processAllAvailable()
      // advance event time to 12:30 → watermark 12:20 > window end
      mem.addData(Event(Timestamp.valueOf("2026-01-01 12:30:00"), 3L, "view", 1.0))
      q.processAllAvailable()
      // the LATE row: 10:30 is hours behind the watermark. Its batch
      // also triggers finalization of the closed 10:00 window — the
      // late row must not be in the emitted aggregate
      mem.addData(Event(ts(30), 9L, "click", 100.0))
      q.processAllAvailable()
      def hour10Clicks = spark.table("late_drop")
        .filter(col("hour_start") === lit(Timestamp.valueOf("2026-01-01 10:00:00")) &&
          col("event_type") === "click")
        .select("n_events", "total_value").as[(Long, Double)].collect().toSeq
      assert(hour10Clicks === Seq((2L, 3.0)),
        s"late row mutated or duplicated the closed window: $hour10Clicks")
      // a second late arrival after emission: still exactly one row
      mem.addData(Event(ts(40), 9L, "click", 100.0))
      q.processAllAvailable()
      assert(hour10Clicks === Seq((2L, 3.0)))
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 2L,
        s"expected both late rows accounted in numRowsDroppedByWatermark, got $dropped")
    } finally q.stop()
  }

  test("misra_gries sketch aggregates incrementally in a streaming query") {
    // the heavy-hitter sketch is mergeable by construction (partial
    // buffers merge in any order), which is exactly the contract a
    // streaming aggregation state update needs — candidates over the
    // whole stream so far, in Complete mode, without keeping per-value
    // state for the cold tail
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val mem = MemoryStream[String]
    mem.addData(Seq.fill(30)("hot_a") ++ (0 until 10).map(i => s"cold_$i"): _*)
    val q = mem.toDF().toDF("v")
      .agg(graft.operators.FrequentItems.sketch(col("v"), 4).as("cand"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      // a second micro-batch makes hot_b heavy too — state must merge
      mem.addData(Seq.fill(40)("hot_b") ++ (10 until 20).map(i => s"cold_$i"): _*)
      q.processAllAvailable()
      val cand = spark.table("mg_stream").head().getSeq[String](0).toSet
      // n = 90, k = 4 → everything above 90/5 = 18 is guaranteed present
      assert(Set("hot_a", "hot_b").subsetOf(cand), s"sketch lost a heavy hitter: $cand")
      assert(cand.size <= 4)
    } finally q.stop()
  }

  test("sessionWindows: gap-based sessions split on idle gaps") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // user 1: events at 10:00,10:10 (one session), then 11:30 (new session)
    mem.addData(
      Event(Timestamp.valueOf("2026-01-01 10:00:00"), 1L, "a", 0.0),
      Event(Timestamp.valueOf("2026-01-01 10:10:00"), 1L, "a", 0.0),
      Event(Timestamp.valueOf("2026-01-01 11:30:00"), 1L, "a", 0.0))
    val q = Streams.sessionWindows(mem.toDF(), gap = "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "n_events")
        .as[(Long, Long)].collect().sortBy(_._2)
      assert(rows.toSeq === Seq((1L, 1L), (1L, 2L)))
    } finally q.stop()
  }

  test("runningUserCounts: custom keyed state accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = Streams.runningUserCounts(mem.toDS())
      .writeStream.format("memory").queryName("ucounts")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Event(ts(1), 7L, "click", 0.0), Event(ts(2), 7L, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Event(ts(3), 7L, "buy", 0.0))
      q.processAllAvailable()
      val rows = spark.table("ucounts")
        .as[(Long, Long, String)].collect().sortBy(_._2)
      assert(rows.toSeq === Seq((7L, 2L, "view"), (7L, 3L, "buy")))
    } finally q.stop()
  }

  test("runningCms: streamed sketch equals the batch sketch of the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = Streams.runningCms(mem.toDF(), "event_type", depth = 3, width = 128)
      .writeStream.format("memory").queryName("cms_run")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(Event(ts(1), 1L, "click", 0.0), Event(ts(2), 2L, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Event(ts(3), 3L, "click", 0.0), Event(ts(4), 4L, "click", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("cms_run").head.getSeq[Long](0)
      // the linear-sketch property across the state store: the running
      // grid after two micro-batches == one batch pass over all 4 rows
      val batch = Seq("click", "view", "click", "click").toDF("event_type")
        .agg(graft.expressions.CmsSketch.cms(col("event_type"), 3, 128))
        .head.getSeq[Long](0)
      assert(streamed == batch)
      val est = Seq(1).toDF("x").join(
          spark.table("cms_run").select(col("sk")))
        .select(graft.expressions.CmsEstimate.estimate(col("sk"), lit("click")))
        .head.getLong(0)
      assert(est == 3L)
    } finally q.stop()
  }

  test("runningKmvMinima: streamed sketch equals the batch sketch of the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val q = Streams.runningKmvMinima(mem.toDF().toDF("g", "h"), "g", "h", k = 4)
      .writeStream.format("memory").queryName("kmv_run")
      .outputMode(OutputMode.Complete()).start()
    // k=4 with 6 distinct values per group: eviction exercised; value
    // 50 re-delivered across batches: set semantics across the state
    // store exercised (a replayed hash must be a no-op)
    val rows = Seq(
      ("a", 90L), ("a", 50L), ("b", 10L), ("a", 70L),
      ("a", 50L), ("a", 30L), ("a", 110L), ("b", 20L),
      ("a", 10L), ("a", 130L), ("b", 10L))
    try {
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      mem.addData(rows.slice(4, 8): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(8): _*)
      q.processAllAvailable()
      val streamed = spark.table("kmv_run")
        .as[(String, Seq[Long])].collect().toMap
      // min-k-of-a-set across the state store: the running sketch ==
      // one batch pass over all rows (k smallest DISTINCT per group)
      assert(streamed === Map("a" -> Seq(10L, 30L, 50L, 70L),
        "b" -> Seq(10L, 20L)))
      val batch = rows.toDF("g", "h").groupBy(col("g"))
        .agg(graft.expressions.KmvMinima.kmvMinima(col("h"), 4).as("mins"))
        .as[(String, Seq[Long])].collect().toMap
      assert(streamed === batch)
      // the estimate readout downstream of the sink: group b is still
      // below k, so its "estimate" is the exact distinct count
      val est = spark.table("kmv_run")
        .select(col("g"), graft.expressions.KmvMinima
          .kmvEstimate(col("mins"), 4, hashSpace = 1000.0).as("est"))
        .as[(String, Long)].collect().toMap
      assert(est("b") === 2L)
      assert(est("a") === (3 * 1000.0 / 70).toLong) // (k-1)/θ = 42
    } finally q.stop()
  }

  test("runningPairCounts: streamed co-occurrence equals batch pair counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Seq[String]]
    val q = Streams.runningPairCounts(mem.toDF().toDF("items"), "items")
      .writeStream.format("memory").queryName("pairs_run")
      .outputMode(OutputMode.Complete()).start()
    // duplicate items inside a basket and singleton baskets included:
    // the face must dedup in-array and emit nothing for size-1 sets
    val baskets = Seq(
      Seq("a", "b", "c"), Seq("b", "c"), Seq("c", "a", "a"),
      Seq("d"), Seq("a", "b"), Seq("b", "c", "d"))
    try {
      mem.addData(baskets.take(3): _*)
      q.processAllAvailable()
      mem.addData(baskets.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("pairs_run")
        .as[(String, String, Long)].collect().toSet
      // linearity across the state store: running pair counts == the
      // nested-loop counts of the union (canonical i < j pairs)
      val brute = baskets.map(_.distinct.sorted)
        .flatMap(its => for (i <- its; j <- its if i < j) yield (i, j))
        .groupBy(identity).map { case ((i, j), xs) => (i, j, xs.size.toLong) }
        .toSet
      assert(streamed === brute)
      // spot-pin two cells by hand: (a,b) rides baskets 1 and 5,
      // (b,c) rides baskets 1, 2 and 6
      assert(streamed.contains(("a", "b", 2L)))
      assert(streamed.contains(("b", "c", 3L)))
    } finally q.stop()
  }

  test("runningDriftBins: streamed histogram equals batch; TV readout matches driftTV") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val q = Streams.runningDriftBins(mem.toDF().toDF("pop", "v"),
        "pop", "v", lo = 0L, hi = 100L, bins = 10)
      .writeStream.format("memory").queryName("drift_run")
      .outputMode(OutputMode.Complete()).start()
    val rows = Seq(("a", 5L), ("a", 15L), ("b", 15L), ("b", 95L),
      ("a", 95L), ("b", 5L), ("b", 5L), ("a", 42L))
    try {
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("drift_run")
        .as[(String, Long, Long)].collect().toSet
      // linearity across the state store: running bins == batch bins
      val batch = rows.toDF("pop", "v")
        .select(col("pop"),
          graft.operators.StatTests.binOf("v", 0L, 100L, 10).as("bin"))
        .groupBy("pop", "bin").count()
        .as[(String, Long, Long)].collect().toSet
      assert(streamed === batch)
      // TV readout over the tiny running table == batch driftTV
      // fold over a Seq — mapping a Set to its counts would dedup them
      val cellSeq = streamed.toSeq
      val na = cellSeq.filter(_._1 == "a").map(_._3).sum
      val nb = cellSeq.filter(_._1 == "b").map(_._3).sum
      val num = cellSeq.groupBy(_._2).toSeq.map { case (_, v) =>
        val ca = v.filter(_._1 == "a").map(_._3).sum
        val cb = v.filter(_._1 == "b").map(_._3).sum
        math.abs(ca * nb - cb * na)
      }.sum
      val fromBatch = graft.operators.StatTests
        .driftTV(rows.toDF("pop", "v"), "pop", "v", 0L, 100L, 10)
        .select("tv_num", "tv_den").as[(Long, Long)].collect().head
      assert((num, 2 * na * nb) === fromBatch)
    } finally q.stop()
  }

  test("runningGapBuckets: summed streamed increments equal the batch lag-window histogram") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Streams.{GapBucket, GapEvent}
    // per-user ordered arrivals split across 3 batches at time cuts, so
    // cross-batch gaps must bridge through the saved last timestamp
    val hr = 3600000000L
    val evs = Seq( // (user, tus, event_id)
      GapEvent(1L, 0L, 0L), GapEvent(1L, hr / 2, 1L),       // gap 0.5h → b0
      GapEvent(2L, hr / 4, 2L),
      GapEvent(1L, 3 * hr, 3L),                             // gap 2.5h → b2
      GapEvent(2L, 50 * hr, 4L),                            // gap 49.75h → b48 (clamped)
      GapEvent(1L, 3 * hr, 5L),                             // tie ts: gap 0 → b0
      GapEvent(1L, 4 * hr, 6L), GapEvent(2L, 51 * hr, 7L))  // b0 (1h), b1 (1h)
    val cuts = Seq(hr, 4 * hr, Long.MaxValue)
    val mem = MemoryStream[GapEvent]
    val q = Streams.runningGapBuckets(mem.toDS())
      .writeStream.format("memory").queryName("gap_run")
      .outputMode(OutputMode.Append()).start()
    try {
      var lo = Long.MinValue
      for (hi <- cuts) {
        mem.addData(evs.filter(e => e.tus > lo && e.tus <= hi): _*)
        q.processAllAvailable()
        lo = hi
      }
      val streamed = spark.table("gap_run").as[GapBucket].collect()
        .groupBy(_.bucket_h).map { case (b, v) => b -> v.map(_.n).sum }
      val batch = evs.toDF("user_id", "tus", "event_id")
        .withColumn("gap_us", col("tus") - org.apache.spark.sql.functions
          .lag(col("tus"), 1).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))))
        .filter(col("gap_us").isNotNull)
        .select(org.apache.spark.sql.functions.least(lit(48L),
          org.apache.spark.sql.functions.expr("gap_us div 3600000000L")).as("b"))
        .groupBy("b").count().as[(Long, Long)].collect().toMap
      assert(streamed === batch)
      assert(streamed === Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 48L -> 1L))
    } finally q.stop()
  }

  test("attributedPairs: stream-stream join within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    imps.addData(Event(ts(0), 1L, "imp", 0.0), Event(ts(0), 2L, "imp", 0.0))
    clicks.addData(
      Event(ts(30), 1L, "click", 0.0),  // within 1h of user 1's impression
      Event(Timestamp.valueOf("2026-01-01 12:30:00"), 2L, "click", 0.0)) // 2.5h later: out of bound
    val q = Streams.attributedPairs(imps.toDF(), clicks.toDF(), within = "1 hour")
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attrib").select("user_id", "l_type", "r_type")
        .as[(Long, String, String)].collect()
      assert(rows.toSeq === Seq((1L, "imp", "click")))
    } finally q.stop()
  }

  test("dedupedByIds: duplicate ids across micro-batches emit once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = Streams.dedupedByIds(mem.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Event(ts(1), 1L, "click", 1.0), Event(ts(2), 1L, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Event(ts(3), 1L, "click", 3.0), Event(ts(4), 2L, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("dedup").select("user_id", "event_type")
        .as[(Long, String)].collect().sorted
      assert(rows.toSeq === Seq((1L, "click"), (2L, "click")))
    } finally q.stop()
  }

  test("enrichedEvents: stream-static broadcast join picks up the dim per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val dim = Seq(("click", "engagement"), ("view", "impression"))
      .toDF("event_type", "family")
    val q = Streams.enrichedEvents(mem.toDF(), dim, Seq("event_type"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Event(ts(1), 1L, "click", 1.0), Event(ts(2), 2L, "view", 2.0),
        Event(ts(3), 3L, "purchase", 3.0)) // no dim row → dropped (inner)
      q.processAllAvailable()
      val rows = spark.table("enriched").select("user_id", "family")
        .as[(Long, String)].collect().sorted
      assert(rows.toSeq === Seq((1L, "engagement"), (2L, "impression")))
    } finally q.stop()
  }

  test("qualityGate: streaming verdicts equal the batch expressions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val q = Streams.qualityGate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("quality")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (1L, "short text"),
        (2L, "a perfectly ordinary sentence with plenty of words in it"),
        (3L, "w@t?! pu#nct$ he%avy^ t&ex*t(!) !!%%"))
      q.processAllAvailable()
      val rows = spark.table("quality").select("doc_id", "verdict")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq((1L, "too_short"), (2L, "keep"), (3L, "high_punct")))
    } finally q.stop()
  }

  test("maintainedAggStream: micro-batches fold into a catalog rollup incrementally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.IncrementalAgg.AggSpec
    val dir = Files.createTempDirectory("stream_rollup").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val mem = MemoryStream[(String, Int)]
    val q = Streams.maintainedAggStream(mem.toDF().toDF("k", "v"), cat,
      "rollup_stream", Seq("k"),
      Seq(AggSpec("n", "count", "*"), AggSpec("s", "sum", "v")), s"$dir/cp")
    try {
      mem.addData(("a", 1), ("b", 2))
      q.processAllAvailable()
      mem.addData(("a", 3))
      q.processAllAvailable()
      val rows = cat.table("rollup_stream").select("k", "n", "s")
        .as[(String, Long, Long)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq(("a", 2L, 4L), ("b", 1L, 2L)))
      // one atomic rollup version per micro-batch
      assert(latest(s"$dir/wh", "rollup_stream") === Some(2))
    } finally q.stop()
  }

  test("maintainedKmvStream: micro-batches fold into the catalog sketch table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_kmv").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val mem = MemoryStream[(String, Long)]
    val q = Streams.maintainedKmvStream(mem.toDF().toDF("g", "h"), cat,
      "kmv_stream", Seq("g"), "h", k = 3, s"$dir/cp")
    // 5 distinct per group with k=3: eviction crosses refreshes; 40
    // re-delivered in batch 2: set semantics across commits
    try {
      mem.addData(("a", 90L), ("a", 40L), ("b", 10L))
      q.processAllAvailable()
      // the batch-0 sketch, read before the next refresh
      val v1 = cat.table("kmv_stream").select("g", "mins")
        .as[(String, Seq[Long])].collect().toMap
      mem.addData(("a", 40L), ("a", 20L), ("a", 70L), ("a", 5L))
      q.processAllAvailable()
      val rows = cat.table("kmv_stream").select("g", "mins")
        .as[(String, Seq[Long])].collect().toMap
      assert(rows === Map("a" -> Seq(5L, 20L, 40L), "b" -> Seq(10L)))
      // one atomic sketch version per micro-batch (v1 = batch-0 sketch)
      assert(latest(s"$dir/wh", "kmv_stream") === Some(2))
      assert(v1 === Map("a" -> Seq(40L, 90L), "b" -> Seq(10L)))
    } finally q.stop()
  }

  test("maintainAgg: a replayed batch id is skipped, not double-counted") {
    import spark.implicits._
    import graft.operators.IncrementalAgg.AggSpec
    val dir = Files.createTempDirectory("rollup_replay").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val aggs = Seq(AggSpec("n", "count", "*"), AggSpec("s", "sum", "v"))
    val b0 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    cat.maintainAgg("rollup_r", b0, Seq("k"), aggs, batchId = Some(0L))
    // the crash-between-commit-and-checkpoint shape: the SAME batch id
    // is delivered again — the fold must be a no-op
    cat.maintainAgg("rollup_r", b0, Seq("k"), aggs, batchId = Some(0L))
    val after = cat.table("rollup_r").select("k", "n", "s")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(after.toSeq === Seq(("a", 1L, 1L), ("b", 1L, 2L)))
    assert(cat.appliedBatchId("rollup_r") === Some(0L))
    // the NEXT id folds normally
    cat.maintainAgg("rollup_r", Seq(("a", 10)).toDF("k", "v"), Seq("k"),
      aggs, batchId = Some(1L))
    val next = cat.table("rollup_r").select("k", "n", "s")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(next.toSeq === Seq(("a", 2L, 11L), ("b", 1L, 2L)))
    assert(cat.appliedBatchId("rollup_r") === Some(1L))
  }

  test("curatedExportStream: two micro-batches (plus a duplicate redelivery) " +
      "produce the same export as the one-shot batch run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_export").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val blocklist = Seq("spamhost").toDF("source")
    // equivalence preconditions (documented at the definition site):
    // batches are doc_id-monotone; "hot" exceeds the cap but lives
    // entirely in batch 1; "a" straddles batches but stays within cap
    val b1 = Seq(
      (0L, "hot", 100L), (1L, "hot", 101L), (2L, "hot", 102L),
      (3L, "hot", 103L), (4L, "hot", 104L), (5L, "hot", 105L),
      (6L, "spamhost", 106L), (7L, "spamhost", 107L),
      (8L, "a", 108L), (9L, "a", 109L))
    val b2 = Seq(
      (10L, "a", 110L), (11L, "a", 111L), (12L, "b", 112L),
      (13L, "b", 113L), (14L, "spamhost", 114L), (15L, "b", 115L))
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streams.curatedExportStream(
      mem.toDF().toDF("doc_id", "source", "n_chars"), cat,
      "export_docs_s", "export_manifest_s", s"$dir/cp",
      "source", "doc_id", cap = 4, blocklist, "q158:",
      orderCols = Seq("doc_id"), shardSize = 3L, byteCol = "n_chars")
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      // mid-stream state: hot capped to 4, spamhost blocked, a kept — 6
      // examples, ids 0..5, and the manifest describes exactly them
      assert(cat.table("export_docs_s").count() === 6L)
      assert(cat.table("export_manifest_s")
        .agg(sum("n_docs")).head().getLong(0) === 6L)
      mem.addData(b2: _*); q.processAllAvailable()
      // at-least-once duplicate redelivery of the whole first batch:
      // the id anti-join makes it a no-op (exactly-once effect)
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    // one-shot reference: the batch operators over the union
    val cat2 = new Catalog(spark, s"$dir/wh2")
    val union = (b1 ++ b2).toDF("doc_id", "source", "n_chars")
    val curated = graft.operators.SourceCuration.curate(
      union, "source", "doc_id", 4, blocklist, "q158:").drop("rn")
    graft.operators.ShardedExport.export(cat2,
      "export_docs_s", "export_manifest_s", curated,
      Seq("doc_id"), shardSize = 3L, byteCol = "n_chars")
    def rows(c: Catalog) = c.table("export_docs_s")
      .select(col("ex_id").cast("long"), col("doc_id"), col("source"),
        col("shard").cast("long"))
      .as[(Long, Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(rows(cat) === rows(cat2))
    def mani(c: Catalog) = c.table("export_manifest_s")
      .select("shard", "n_docs", "n_bytes", "min_ex_id", "max_ex_id")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(mani(cat) === mani(cat2))
    assert(mani(cat).map(_._2).sum === 11L)
  }

  test("curatedExportStream: restart from the checkpoint continues ids, " +
      "shards, and the cross-stream source budgets") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_export_restart").toString
    val src = s"$dir/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    val blocklist = Seq("spamhost").toDF("source")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, source STRING, n_chars LONG")
    val cat = new Catalog(spark, s"$dir/wh")
    def start() = Streams.curatedExportStream(
      spark.readStream.schema(schema).json(src), cat,
      "export_docs_r", "export_manifest_r", s"$dir/cp",
      "source", "doc_id", cap = 2, blocklist, "q158r:",
      orderCols = Seq("doc_id"), shardSize = 2L, byteCol = "n_chars")
    Files.writeString(java.nio.file.Paths.get(s"$src/f1.json"),
      """{"doc_id":0,"source":"a","n_chars":100}
        |{"doc_id":1,"source":"a","n_chars":101}
        |{"doc_id":2,"source":"a","n_chars":102}
        |{"doc_id":3,"source":"spamhost","n_chars":103}
        |{"doc_id":4,"source":"b","n_chars":104}""".stripMargin)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // survivors: a capped at 2 (salted-hash pick of its 3), b's one doc
    assert(cat.table("export_docs_r").count() === 3L)
    // a NEW query instance on the SAME checkpoint (crash/upgrade
    // restart): file 1 must not reprocess, file 2's survivors continue
    // ids from the committed max, and the budget remembers source "a"
    // is already at cap — its new doc must be rejected
    Files.writeString(java.nio.file.Paths.get(s"$src/f2.json"),
      """{"doc_id":5,"source":"a","n_chars":105}
        |{"doc_id":6,"source":"b","n_chars":106}
        |{"doc_id":7,"source":"c","n_chars":107}""".stripMargin)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = cat.table("export_docs_r")
      .select(col("ex_id").cast("long"), col("doc_id"), col("shard").cast("long"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) === (0L to 4L), s"ids must stay dense: $rows")
    assert(!rows.map(_._2).contains(3L), "blocklisted doc leaked")
    assert(!rows.map(_._2).contains(5L),
      "source budget forgot committed survivors across the restart")
    assert(rows.map(_._3) === Seq(0L, 0L, 1L, 1L, 2L), s"shards: $rows")
    // the boundary shard (1) merged rows from BOTH stream incarnations
    val mani = cat.table("export_manifest_r")
      .select("shard", "n_docs", "min_ex_id", "max_ex_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(mani === Seq((0L, 2L, 0L, 1L), (1L, 2L, 2L, 3L), (2L, 1L, 4L, 4L)))
  }

  test("curatedExportStream: per-batch corpus-side work is footer-bounded " +
      "— a fresh batch's replay guard plans ZERO committed commits, the " +
      "budget ledger is manifest-sized, and within-batch duplicate ids " +
      "export once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_export_bound").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streams.curatedExportStream(
      mem.toDF().toDF("doc_id", "source", "n_chars"), cat,
      "export_docs_f", "export_manifest_f", s"$dir/cp",
      "source", "doc_id", cap = 100, Seq.empty[String].toDF("source"),
      "q160:", orderCols = Seq("doc_id"), shardSize = 4L, byteCol = "n_chars")
    try {
      // three monotone batches; batch 2 carries a WITHIN-batch
      // duplicate id (round-13 advice: both copies used to survive the
      // committed-only anti-join and export twice with distinct ex_ids)
      mem.addData((0L to 9L).map(i => (i, s"s${i % 3}", 100 + i)): _*)
      q.processAllAvailable()
      mem.addData((10L to 19L).map(i => (i, s"s${i % 3}", 100 + i)) :+
        ((15L, "s0", 115L)): _*)
      q.processAllAvailable()
      mem.addData((20L to 29L).map(i => (i, s"s${i % 3}", 100 + i)): _*)
      q.processAllAvailable()
    } finally q.stop()
    // the duplicate exported once; ids stay dense over 30 docs
    val rows = cat.table("export_docs_f")
      .select(col("ex_id").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(rows.length === 30 && rows.map(_._1).toSeq === (0L to 29L))
    assert(rows.count(_._2 == 15L) === 1, "within-batch duplicate id exported twice")
    // THE BOUND (round-13 verdict #2): for the next monotone batch's id
    // range, footer pruning plans ZERO committed commits — the replay
    // guard's committed-side cost is footer reads only, not a scan that
    // grows with the export. A REPLAYED range plans only the commits a
    // duplicate could live in, not the whole corpus.
    assert(cat.commitsInRange("export_docs_f", "doc_id", 30L, 39L).isEmpty,
      "fresh-batch replay guard must plan zero committed commits")
    val total = cat.commitsInRange(
      "export_docs_f", "doc_id", 0L, Long.MaxValue).size
    assert(cat.commitsInRange("export_docs_f", "doc_id", 0L, 9L).size < total,
      "a replayed batch must plan a strict subset of commits")
    // the manifest-delta read is bounded the same way: nothing
    // committed intersects ids past the current max
    assert(cat.commitsInRange("export_docs_f", "ex_id",
      cat.maxId("export_docs_f", "ex_id") + 1, Long.MaxValue).isEmpty)
    // the budget ledger is manifest-sized (one row per source), and its
    // counts equal the committed per-source survivor counts
    val ledger = cat.table("export_docs_f_sources")
      .as[(String, Long)].collect().toMap
    assert(ledger === Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L))
  }

  test("curatedExportStream: the straddled-cap divergence and its remedy — " +
      "periodic compaction via the batch export equals the global re-rank") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_export_straddle").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val none = Seq.empty[String].toDF("source")
    // source "s" exceeds cap=4 ACROSS batches (3 in each) — the
    // documented divergence: the stream picks first-batch-wins (all 3
    // of b1, then hash-rank-1 of b2's 3), the one-shot re-ranks all 6
    val b1 = (0L to 2L).map(i => (i, "s", 100 + i))
    val b2 = (3L to 5L).map(i => (i, "s", 100 + i))
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streams.curatedExportStream(
      mem.toDF().toDF("doc_id", "source", "n_chars"), cat,
      "export_docs_x", "export_manifest_x", s"$dir/cp",
      "source", "doc_id", cap = 4, none, "q161:",
      orderCols = Seq("doc_id"), shardSize = 3L, byteCol = "n_chars")
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = cat.table("export_docs_x")
      .select("doc_id").as[Long].collect().toSet
    assert(streamed.size === 4 && Set(0L, 1L, 2L).subsetOf(streamed),
      s"stream must keep all of batch 1 (first-batch-wins): $streamed")
    // the remedy the docstring prescribes, executed: one-shot batch
    // export over the union into a fresh table pair
    val cat2 = new Catalog(spark, s"$dir/wh2")
    val union = (b1 ++ b2).toDF("doc_id", "source", "n_chars")
    val curated = graft.operators.SourceCuration.curate(
      union, "source", "doc_id", 4, none, "q161:").drop("rn")
    graft.operators.ShardedExport.export(cat2, "export_docs_x",
      "export_manifest_x", curated, Seq("doc_id"), 3L, "n_chars")
    val compacted = cat2.table("export_docs_x")
      .select("doc_id").as[Long].collect().toSet
    // the compaction IS the global re-rank
    val globalRerank = graft.operators.SourceCuration.curate(
      union, "source", "doc_id", 4, none, "q161:")
      .select("doc_id").as[Long].collect().toSet
    assert(compacted === globalRerank)
    // and the divergence is exactly the expected shape: the streamed
    // export substitutes batch-1 rows for the global picks it couldn't
    // see yet — same size, same source, possibly different members
    assert(compacted.size === streamed.size)
    val diff = streamed.diff(compacted)
    assert(diff.subsetOf(Set(0L, 1L, 2L)),
      s"rows the stream keeps but the re-rank drops must come from " +
        s"batch 1: $diff")
    assert(compacted.diff(streamed).subsetOf(Set(3L, 4L, 5L)))
  }

  test("curatedExportStream: a SELF-OWNED crashed first-batch transaction " +
      "heals at the next batch instead of wedging the stream") {
    // Round-13 advice (medium): committed-state reads used to run
    // BEFORE catalog.transaction's begin-time recovery, so after a
    // crash mid-FIRST-batch (head v1, snapshot exists but has no entry
    // for the table) every restart saw exists()=true while
    // catalog.table() threw 'no declared schema and no committed data'
    // — a wedge the begin-time self-heal would have fixed. The reads
    // now run inside the transaction, after that recovery.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_export_heal").toString
    val cat = new Catalog(spark, s"$dir/wh")
    // forge the crash shape on disk: a transaction that appended the
    // table's v1 and died before publishing
    val boom = intercept[RuntimeException](cat.transaction {
      cat.appendDelta("export_docs_h",
        Seq((99L, "z", 1L, 0L, 0L)).toDF("doc_id", "source", "n_chars", "ex_id", "shard"))
      throw new RuntimeException("crash mid-first-batch")
    })
    assert(boom.getMessage === "crash mid-first-batch")
    assert(cat.exists("export_docs_h"), "the crash left an unpublished head")
    // the stream (same instance — self-owned marker) must heal and
    // export the batch cleanly, with the aborted row rolled back
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streams.curatedExportStream(
      mem.toDF().toDF("doc_id", "source", "n_chars"), cat,
      "export_docs_h", "export_manifest_h", s"$dir/cp",
      "source", "doc_id", cap = 10, Seq.empty[String].toDF("source"),
      "q163:", orderCols = Seq("doc_id"), shardSize = 2L, byteCol = "n_chars")
    try { mem.addData((0L, "a", 100L), (1L, "b", 101L)); q.processAllAvailable() }
    finally q.stop()
    val docs = cat.table("export_docs_h").select("doc_id").as[Long].collect().toSet
    assert(docs === Set(0L, 1L), s"aborted row must not survive recovery: $docs")
  }

  test("curatedExportStream: continuing a PRE-LEDGER export bootstraps the " +
      "sources table once and respects the committed budgets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_export_boot").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val none = Seq.empty[String].toDF("source")
    // an export created by the ONE-SHOT batch operator: no _sources
    // ledger exists (the pre-round-14 on-disk shape)
    val seeded = graft.operators.SourceCuration.curate(
      (0L to 2L).map(i => (i, "a", 100 + i)).toDF("doc_id", "source", "n_chars"),
      "source", "doc_id", 3, none, "q162:").drop("rn")
    graft.operators.ShardedExport.export(cat, "export_docs_b",
      "export_manifest_b", seeded, Seq("doc_id"), 2L, "n_chars")
    assert(!cat.exists("export_docs_b_sources"))
    // the stream continues it with cap=3: source "a" is already at cap
    // — its new docs must be rejected via the BOOTSTRAPPED counts
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streams.curatedExportStream(
      mem.toDF().toDF("doc_id", "source", "n_chars"), cat,
      "export_docs_b", "export_manifest_b", s"$dir/cp",
      "source", "doc_id", cap = 3, none, "q162:",
      orderCols = Seq("doc_id"), shardSize = 2L, byteCol = "n_chars")
    try {
      mem.addData((3L, "a", 103L), (4L, "b", 104L)); q.processAllAvailable()
    } finally q.stop()
    val docs = cat.table("export_docs_b")
      .select("doc_id").as[Long].collect().toSet
    assert(docs === Set(0L, 1L, 2L, 4L),
      s"bootstrapped budget must reject source a's 4th doc: $docs")
    // the ledger now exists: bootstrap counts + the new survivor
    assert(cat.table("export_docs_b_sources").as[(String, Long)]
      .collect().toMap === Map("a" -> 3L, "b" -> 1L))
  }

  test("mediaIngestStream: good rows land with their gate verdicts, rotten " +
      "rows quarantine with reasons in the SAME atomic commit, replays and " +
      "within-batch duplicates are no-ops, and the guard is footer-bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{ImageCodec, WavCodec, MjpegAviCodec}
    val dir = Files.createTempDirectory("stream_media").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def img(id: Long, w: Int, h: Int) = Multimodal.MediaRow(
      id, "image", ImageCodec.syntheticPng(id % 256, w, h), w, h, 16000, 1)
    def wav(id: Long, frames: Int) = Multimodal.MediaRow(
      id, "audio", WavCodec.syntheticWav(id % 65536, frames * 160, 16000),
      16, 16, 16000, frames)
    def avi(id: Long, frames: Int) = Multimodal.MediaRow(
      id, "video", MjpegAviCodec.syntheticMjpegAvi(id % 256, frames, 16, 16),
      16, 16, 16000, frames)
    val mem = MemoryStream[Multimodal.MediaRow]
    val q = Streams.mediaIngestStream(mem.toDF(), cat,
      "media_verdicts", "media_quarantine", s"$dir/cp")
    try {
      // batch 1: a keeper image (64x48=3072 px, mid brightness), a
      // too-small image (16x16), a 5-frame audio keeper, a LYING image
      // (declared dims != encoded), garbage bytes, and a within-batch
      // duplicate of id 0
      val lying = img(3L, 4, 4).copy(width = 9)
      val garbage = Multimodal.MediaRow(4L, "video",
        "not an avi".getBytes, 16, 16, 16000, 2)
      mem.addData(img(0L, 64, 48), img(1L, 16, 16), wav(2L, 5), lying,
        garbage, img(0L, 64, 48))
      q.processAllAvailable()
      val v1 = cat.table("media_verdicts")
        .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
      assert(v1.map(_._1) === Seq(0L, 1L, 2L), s"verdicts: $v1")
      assert(v1(0)._3 && !v1(1)._3, "image gate: 3072px keeps, 256px drops")
      assert(v1(2)._3, "5-frame non-silent audio keeps")
      val quar = cat.table("media_quarantine")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      assert(quar.map(_._1) === Seq(3L, 4L))
      assert(quar(0)._3.contains("decoded dims") &&
        quar(1)._3.contains("RIFF"), s"reasons: $quar")
      // replay the whole batch: both tables unchanged (ids are in the
      // guard whether they landed as verdicts OR quarantine)
      mem.addData(img(0L, 64, 48), img(1L, 16, 16), wav(2L, 5), lying,
        garbage)
      q.processAllAvailable()
      assert(cat.table("media_verdicts").count() === 3L)
      assert(cat.table("media_quarantine").count() === 2L)
      // batch 2 (monotone ids): a 3-frame video keeper and a 1-frame
      // static drop; the redelivered id 2 is a no-op
      mem.addData(avi(10L, 3), avi(11L, 1), wav(2L, 5))
      q.processAllAvailable()
      val v2 = cat.table("media_verdicts")
        .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
      assert(v2.map(_._1) === Seq(0L, 1L, 2L, 10L, 11L))
      assert(v2(3)._3 && !v2(4)._3, "video gate: motion keeps, static drops")
    } finally q.stop()
    // the footer bound: a FRESH monotone batch's id range plans zero
    // committed commits on either table
    assert(cat.commitsInRange("media_verdicts", "media_id", 12L, 20L).isEmpty)
    assert(cat.commitsInRange("media_quarantine", "media_id", 12L, 20L).isEmpty)
  }

  test("mediaIngestStream quarantine-correction runbook is executable: " +
      "same-id redelivery WITHOUT purge stays dropped; purge the " +
      "quarantine row via catalog row-level DELETE, redeliver, and the " +
      "corrected row ingests under the same id") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.ImageCodec
    val dir = Files.createTempDirectory("stream_media_purge").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def img(id: Long) = Multimodal.MediaRow(
      id, "image", ImageCodec.syntheticPng(id % 256, 64, 48), 64, 48, 16000, 1)
    val mem = MemoryStream[Multimodal.MediaRow]
    val q = Streams.mediaIngestStream(mem.toDF(), cat,
      "mv_purge", "mq_purge", s"$dir/cp")
    try {
      // batch 1: one keeper, one LYING row (declared width != encoded)
      mem.addData(img(0L), img(1L).copy(width = 9))
      q.processAllAvailable()
      assert(cat.table("mv_purge").select("media_id")
        .as[Long].collect().toSeq === Seq(0L))
      assert(cat.table("mq_purge").select("media_id")
        .as[Long].collect().toSeq === Seq(1L))
      // the documented DROP path: the producer fixes the row but does
      // NOT purge — the replay guard (correctly) treats the id as
      // already ingested, because at-least-once redelivery of the
      // ORIGINAL rotten row takes exactly this shape
      mem.addData(img(1L))
      q.processAllAvailable()
      assert(cat.table("mv_purge").count() === 1L &&
        cat.table("mq_purge").count() === 1L,
        "same-id redelivery without purge must stay dropped")
      // the documented CORRECTION path: purge the quarantine row
      // first (row-level DELETE — commit-pruned, not a table rewrite),
      // THEN redeliver: the guard no longer sees the id and the
      // corrected row lands in the verdict table
      assert(cat.deleteWhere("mq_purge", "media_id", 1L, 1L) === 1L)
      mem.addData(img(1L))
      q.processAllAvailable()
      assert(cat.table("mv_purge").select("media_id")
        .as[Long].collect().sorted.toSeq === Seq(0L, 1L))
      assert(cat.table("mq_purge").count() === 0L)
    } finally q.stop()
  }

  test("mediaIngestStream: per-batch decode pins leak NO reliable checkpoint " +
      "files on a checkpoint-dir session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.ImageCodec
    val dir = Files.createTempDirectory("stream_media_ckpt").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val sc = spark.sparkContext
    val ckpt = Files.createTempDirectory("media_pin_ckpt").toString
    sc.setCheckpointDir(ckpt)
    try {
      def img(id: Long) = Multimodal.MediaRow(
        id, "image", ImageCodec.syntheticPng(id % 256, 64, 48), 64, 48, 16000, 1)
      val mem = MemoryStream[Multimodal.MediaRow]
      val q = Streams.mediaIngestStream(mem.toDF(), cat,
        "mv_ckpt", "mq_ckpt", s"$dir/cp")
      try {
        mem.addData(img(0L), img(1L)); q.processAllAvailable()
        mem.addData(img(2L)); q.processAllAvailable()
        mem.addData(img(3L)); q.processAllAvailable()
        assert(cat.table("mv_ckpt").count() === 4L)
      } finally q.stop()
      // the disk-growth canary: a RAW pin per micro-batch would leave
      // one rdd-* checkpoint dir per batch here forever; the Pinned
      // handle reclaims each batch's files after its appends
      val leaked = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        try s.filter(p => java.nio.file.Files.isRegularFile(p)).count()
        finally s.close()
      }
      assert(leaked === 0L, s"leaked $leaked checkpoint files under $ckpt")
    } finally sc.setCheckpointDir(null)
  }

  test("dedupIngestStream: in-batch near-dups prune before the corpus check") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_dedup_inbatch").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.dedupIngestStream(mem.toDF().toDF("doc_id", "text"),
      cat, "corpus_docs2", s"$dir/cp")
    try {
      // the FIRST batch (no corpus yet) carries a crawl-refetch burst:
      // docs 1 and 2 are near-dups of each other; min-id keeps 1
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "the quick brown fox jumps over the lazy dog again and again tail"),
        (3L, "completely different content about database engines and queries"))
      q.processAllAvailable()
      val ids = cat.table("corpus_docs2").select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 3L))
      // a later batch with an in-batch pair AND a corpus match: 4 dups
      // corpus doc 3, 5/6 are an in-batch pair — only 5 survives
      mem.addData(
        (4L, "completely different content about database engines and queries extra"),
        (5L, "brand new topic entirely unrelated to anything stored so far today"),
        (6L, "brand new topic entirely unrelated to anything stored so far today plus"))
      q.processAllAvailable()
      val ids2 = cat.table("corpus_docs2").select("doc_id").as[Long].collect().sorted
      assert(ids2.toSeq === Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("dedupIngestStream: near-dups of already-ingested docs never land") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_dedup").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.dedupIngestStream(mem.toDF().toDF("doc_id", "text"),
      cat, "corpus_docs", s"$dir/cp")
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "completely different content about database engines and queries"))
      q.processAllAvailable()
      assert(cat.table("corpus_docs").count() === 2)
      // batch 2: a near-dup of doc 1 (suffix mutation) and a new doc —
      // only the new doc survives the corpus check
      mem.addData(
        (3L, "the quick brown fox jumps over the lazy dog again and again tail"),
        (4L, "entirely novel text with no resemblance to anything stored before"))
      q.processAllAvailable()
      val ids = cat.table("corpus_docs").select("doc_id")
        .as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("ledgerUploadStream: files dropped in a dir flow through the warehouse, idempotently") {
    val dir = Files.createTempDirectory("stream_ledger").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val cat = new Catalog(spark, s"$dir/wh")
    val header = "Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor"
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/m1.csv"),
      header + "\n" + """Aluguel,Despesa,Moradia,Aluguel,Essencial,01/2024,"1.500,00"""")
    val q1 = Streams.ledgerUploadStream(spark, cat, s"$dir/in", s"$dir/cp")
    q1.awaitTermination(60000)
    assert(cat.table("fato_lancamento").count() === 1)
    // second file: one dup row (merge-ignored) + one new row
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/m2.csv"),
      header + "\n" +
        """Aluguel,Despesa,Moradia,Aluguel,Essencial,01/2024,"1.500,00"""" + "\n" +
        """Mercado,Despesa,Alimentação,Mercado,Essencial,02/2024,"300,00"""")
    val q2 = Streams.ledgerUploadStream(spark, cat, s"$dir/in", s"$dir/cp")
    q2.awaitTermination(60000)
    assert(cat.table("fato_lancamento").count() === 2)
    assert(cat.table("dim_tempo").count() === 2)
  }

  test("ledgerUploadStream: a blank-Tipo row is recorded in rejects_lancamentos, the rest staged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_rejects").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val cat = new Catalog(spark, s"$dir/wh")
    val header = "Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor"
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/m1.csv"),
      header + "\n" +
        """Aluguel,Despesa,Moradia,Aluguel,Essencial,01/2024,"1.500,00"""" + "\n" +
        """Sem tipo,  ,Moradia,Aluguel,Essencial,01/2024,"9,00"""" + "\n" +
        """Mercado,Despesa,Alimentação,Mercado,Essencial,02/2024,"300,00"""")
    val q = Streams.ledgerUploadStream(spark, cat, s"$dir/in", s"$dir/cp")
    q.awaitTermination(60000)
    assert(cat.table("staging_lancamentos").select("Descrição").as[String]
      .collect().sorted.toSeq === Seq("Aluguel", "Mercado"))
    assert(cat.table("fato_lancamento").count() === 2)
    assert(cat.table("rejects_lancamentos").select("Descrição", "motivo")
      .as[(String, String)].collect().toSeq === Seq(("Sem tipo", "Tipo")))
  }

  test("ledgerUploadStream: crash after sink-write/before-commit replays with zero duplicates") {
    // the exactly-once claim (SURVEY §2.7): foreachBatch is
    // at-least-once — offsets commit AFTER the batch body — so a crash
    // in the window between the warehouse merge and the offset commit
    // re-delivers the whole batch on restart. The id_hash merge-ignore
    // must absorb the replay: rerun_appended == 0.
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_kill").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val cat = new Catalog(spark, s"$dir/wh")
    val header = "Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor"
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/m1.csv"),
      header + "\n" +
        """Aluguel,Despesa,Moradia,Aluguel,Essencial,01/2024,"1.500,00"""" + "\n" +
        """Mercado,Despesa,Alimentação,Mercado,Essencial,02/2024,"300,00"""")
    // crash exactly once, AFTER all effects (staging replace + warehouse
    // merge) have landed but BEFORE the engine commits the offset
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = Streams.ledgerUploadStream(spark, cat, s"$dir/in", s"$dir/cp",
      onBatchComplete = _ =>
        if (crashed.compareAndSet(false, true))
          throw new RuntimeException("injected crash before offset commit"))
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(60000)
    }
    assert(failure.getMessage.contains("injected crash"), failure.getMessage)
    // the batch's effects DID land (this is the dangerous half of
    // at-least-once: work done, offset not recorded)
    assert(cat.table("fato_lancamento").count() === 2)
    val before = cat.table("fato_lancamento")
      .select("id_hash").as[String].collect().sorted.toSeq
    // restart from the same checkpoint: batch 0 is re-delivered in full
    val q2 = Streams.ledgerUploadStream(spark, cat, s"$dir/in", s"$dir/cp")
    q2.awaitTermination(60000)
    val after = cat.table("fato_lancamento")
      .select("id_hash").as[String].collect().sorted.toSeq
    assert(after === before, "replay appended or mutated fact rows")
    assert(after.distinct.size === after.size, "duplicate id_hash after replay")
    // and the stream is healthy again: a NEW file still flows through
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/m2.csv"),
      header + "\n" + """Luz,Despesa,Moradia,Energia,Essencial,03/2024,"120,00"""")
    val q3 = Streams.ledgerUploadStream(spark, cat, s"$dir/in", s"$dir/cp")
    q3.awaitTermination(60000)
    assert(cat.table("fato_lancamento").count() === 3)
  }
}
