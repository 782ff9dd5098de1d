package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.ledger.{Catalog, Ingest, Warehouse}

/** Structured Streaming surface.
  *
  * The reference has no streams (SURVEY §2.7) — but its upload loop IS
  * an at-least-once stream with exactly-once effect via the id_hash
  * merge, so [[ledgerUploadStream]] runs the same validated ingest +
  * warehouse build per micro-batch from a watched directory. The events
  * analytics ([[hourlyEventCounts]], [[sessionWindows]],
  * [[runningUserCounts]]) are the streaming twins of the batch q15
  * query family.
  *
  * Scale notes: windowed aggregates shuffle on (window, key) with
  * partial aggregation; watermarks bound state. Sessionization uses the
  * built-in `session_window` (Spark's merging session aggregation)
  * rather than hand-rolled state where possible;
  * [[runningUserCounts]] shows the flatMapGroupsWithState route for
  * state machines the built-ins can't express.
  */
object Streams {

  /** Watermarked hourly counts per event_type (append-mode capable). */
  def hourlyEventCounts(events: DataFrame,
                        watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Gap-based session windows per user (built-in merging sessions). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup on an id column: at-least-once upstream →
    * effectively-once downstream. State is bounded by the watermark
    * (ids older than the delay are evicted — the training-pipeline
    * "don't reprocess the same doc" guard as a stream). */
  def dedupedByIds(events: DataFrame, idCols: Seq[String],
                   tsCol: String = "ts",
                   watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Stream-stream inner join with watermarks and an event-time range
    * bound: each right event joins left events of the same user that
    * happened in the `within` interval before it (the
    * impression→click attribution shape). The time bound + watermarks
    * let the engine evict both sides' join state — without them a
    * stream-stream join buffers forever. */
  def attributedPairs(left: DataFrame, right: DataFrame,
                      within: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("ts").as("l_ts"),
      col("event_type").as("l_type"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
      col("event_type").as("r_type"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("l_user").as("user_id"), col("l_ts"), col("r_ts"),
        col("l_type"), col("r_type"))
  }

  /** Stream-static enrichment: each micro-batch hash/broadcast-joins
    * the static dimension — no streaming state at all. The static
    * side's PLAN is fixed when the query starts: a parquet/catalog
    * DataFrame keeps reading the file set it resolved at start, so dim
    * updates require a query restart (or a `foreachBatch` body that
    * re-resolves `catalog.table(...)` per batch). The canonical
    * "events × dim" shape; inner by default, left to keep unmatched
    * events flowing. */
  def enrichedEvents(events: DataFrame, dim: DataFrame, keys: Seq[String],
                     joinType: String = "inner"): DataFrame =
    events.join(broadcast(dim), keys, joinType)

  /** Streaming document-quality gate: the SAME batch column expressions
    * ([[graft.functions.TextFunctions]] — plain Catalyst, no state, no
    * UDFs) applied to a document stream, emitting doc_id + verdict in
    * append mode. Stateless row-local transforms need no watermark; the
    * query composes with [[dedupedByIds]] upstream for
    * ingest-exactly-once. */
  def qualityGate(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    docs.select(
      col("doc_id"),
      when(wsTokenCount(col("text")) < MinKeepTokens, "too_short")
        .when(punctRatio(col("text")) >= MaxPunctRatio, "high_punct")
        .otherwise("keep").as("verdict"))
  }

  final case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)
  final case class UserCount(user_id: Long, n_events: Long, last_type: String)

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * event counts, emitting an update per batch that touches the user.
    * Production deployments bound state by enabling
    * GroupStateTimeout.ProcessingTimeTimeout + state.remove() on
    * timeout (omitted here: pending timeouts keep the engine
    * scheduling batches, which blocks test harnesses that wait for
    * quiescence). */
  def runningUserCounts(events: Dataset[Event]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserCount]) =>
          val evs = batch.toSeq
          val prev = state.getOption.getOrElse(UserCount(uid, 0L, ""))
          val next = UserCount(uid, prev.n_events + evs.size,
            evs.lastOption.map(_.event_type).getOrElse(prev.last_type))
          state.update(next)
          Iterator.single(next)
      }
  }

  /** A continuously-maintained rollup: each micro-batch folds into the
    * catalog rollup table through [[graft.ledger.Catalog.maintainAgg]]
    * — streaming incremental view maintenance. Per-batch cost is the
    * batch plus the rollup grid; the stream's history is never
    * rescanned, and each refresh publishes as one atomic replace
    * commit, so readers of the rollup always see a consistent state.
    *
    * Replay safety: foreachBatch is AT-LEAST-ONCE — the engine commits
    * its checkpoint offsets AFTER the batch function returns, so a
    * crash in between re-delivers the batch on restart. Folding a sum
    * twice is permanent corruption, so the batch id is passed through
    * to maintainAgg, which records it INSIDE the rollup's atomic
    * commit and skips ids it has already applied — the fold is
    * idempotent per batch id. The guard is per-CHECKPOINT: ids restart
    * at 0 with a fresh checkpoint (which replays the whole source), so
    * a fresh checkpoint must maintain a fresh rollup table. */
  def maintainedAggStream(df: DataFrame, catalog: Catalog, table: String,
                          keys: Seq[String],
                          aggs: Seq[graft.operators.IncrementalAgg.AggSpec],
                          checkpointDir: String) =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        catalog.maintainAgg(table, batch, keys, aggs, batchId = Some(batchId)); ()
      }
      .start()

  /** A continuously-maintained Count-Min sketch over a streamed
    * column. `cms_sketch` is a LINEAR sketch — merging is cell-wise
    * addition — so the state store folds each micro-batch's partial
    * grid exactly like batch partials, and the running sketch after
    * any number of micro-batches is bit-identical to the one-shot
    * batch sketch of the union (CmsSpec pins the batch half of that
    * property; StreamsSpec pins this half). Complete-mode single-row
    * output: a fixed O(depth·width) state footprint regardless of the
    * stream's cardinality or length — the streaming frequency monitor
    * that never grows.  */
  def runningCms(values: DataFrame, column: String,
                 depth: Int = 4, width: Int = 1024): DataFrame =
    values.agg(graft.expressions.CmsSketch.cms(col(column), depth, width).as("sk"))

  /** [[maintainedAggStream]]'s sibling for the KMV sketch table: each
    * micro-batch folds into the catalog-maintained per-group arrays via
    * [[graft.ledger.Catalog.maintainKmv]] — same at-least-once replay
    * guard (the applied batch id publishes inside the rollup's atomic
    * commit, so a re-delivered batch is skipped, and set semantics make
    * even a hypothetical double-fold harmless), same fresh-checkpoint
    * ⇒ fresh-table contract. Use this over [[runningKmvMinima]] when
    * the sketch must SURVIVE the stream (cross-table overlap against
    * another maintained sketch, reads after the query stops) rather
    * than live in the query's state store. */
  def maintainedKmvStream(df: DataFrame, catalog: Catalog, table: String,
                          keys: Seq[String], hashCol: String, k: Int,
                          checkpointDir: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        catalog.maintainKmv(table, batch, keys, hashCol, k,
          batchId = Some(batchId)); ()
      }
      .start()

  /** Continuously-maintained KMV distinct sketches: running per-group
    * k-minimum-value arrays over a streamed long-hash column — the
    * streaming face of q163's cross-snapshot overlap machinery. KMV is
    * NOT a linear sketch (min-k isn't addition) but its merge is
    * associative, commutative, and duplicate-insensitive over value
    * SETS, which is all a streaming aggregation's state fold needs:
    * the state store holds one serialized O(k) buffer per group, each
    * micro-batch's partials merge through
    * [[graft.expressions.KmvMinima]]'s own merge, and the running
    * sketch after any number of micro-batches is byte-identical to the
    * one-shot batch sketch of the union — including under replays,
    * because re-offering an already-seen hash is a no-op on a set
    * (StreamsSpec pins both). Complete-mode output, FIXED O(groups·k)
    * state regardless of stream length or cardinality — the streaming
    * distinct monitor that never grows, and the arrays it emits feed
    * the same downstream set algebra as batch
    * ([[graft.expressions.KmvMinima.kmvEstimate]], union/intersection
    * between groups or against a committed snapshot's sketch). */
  def runningKmvMinima(values: DataFrame, groupCol: String,
                       hashCol: String, k: Int): DataFrame =
    values.groupBy(col(groupCol))
      .agg(graft.expressions.KmvMinima.kmvMinima(col(hashCol), k).as("mins"))

  /** Continuously-maintained drift histograms: running per-(population,
    * bin) counts of a streamed integral metric — a histogram is a
    * LINEAR sketch (bin counts merge by addition), so the state store
    * folds micro-batch partials exactly like batch partials and the
    * running table after any number of micro-batches equals the batch
    * histogram of the union (the [[runningCms]] argument). ONE
    * streaming aggregation in Complete mode with a FIXED state
    * footprint (populations × bins rows) regardless of stream length —
    * the drift monitor that never grows. The total-variation readout
    * ([[graft.operators.StatTests.driftTV]]'s formula) is a trivial
    * fold over that tiny table, applied downstream of the sink each
    * trigger — structured streaming allows one aggregation per query,
    * and the readout would be a second. */
  def runningDriftBins(values: DataFrame, popCol: String, valueCol: String,
                       lo: Long, hi: Long, bins: Int): DataFrame =
    values
      .select(col(popCol).as("pop"),
        graft.operators.StatTests.binOf(valueCol, lo, hi, bins).as("bin"))
      .groupBy(col("pop"), col("bin"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))

  /** Streaming face of the q131/q149 basket machinery: continuously-
    * maintained item co-occurrence counts over streamed COMPLETE
    * baskets (one row per basket, `itemsCol` its item array; a basket
    * whose lines straggle across batches must be closed upstream —
    * e.g. by [[sessionWindows]] — because a pair count is not
    * incrementally patchable when a basket grows). The pair-count
    * table is a LINEAR sketch — counts merge by addition — so the
    * state store folds micro-batch partials exactly like batch
    * partials and the running table after any number of micro-batches
    * equals the batch pair count of the union (the [[runningCms]]
    * argument; StreamsSpec pins it). Canonical (i < j) pairs are
    * generated INSIDE each deduped sorted array by the same native
    * `array_pairs` the batch operators use — per-batch work is
    * C(size, 2)-bounded per basket, state is one row per DISTINCT
    * co-occurring pair. Downstream of the sink, the [[graft.operators.
    * ItemSimilarity]] scoring/ranking is a trivial fold over this
    * table plus the (also linear) per-item counts. */
  def runningPairCounts(baskets: DataFrame, itemsCol: String): DataFrame =
    baskets
      .select(explode(call_function(
        graft.expressions.ArrayPairs.name,
        sort_array(array_distinct(col(itemsCol))))).as("pr"))
      .groupBy(col("pr.ia").as("ia"), col("pr.ib").as("ib"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("pair_n"))

  final case class GapEvent(user_id: Long, tus: Long, event_id: Long)
  final case class GapBucket(user_id: Long, bucket_h: Long, n: Long)

  /** Streaming face of the q144 inter-arrival gap histogram
    * ([[graft.queries.EventQueries]]): per-user keyed state holds the
    * last seen timestamp; each micro-batch emits the batch's gap-bucket
    * increments for that user (append mode — sum downstream, or in the
    * test sink, for the running histogram). Within a batch the group's
    * events sort by (tus, event_id) — the batch window's tie rule.
    *
    * Parity contract (StreamsSpec): when a keyed stream arrives in
    * per-key time order across batches — the property a replayed
    * ordered source has — the summed increments equal the batch
    * query's lag-window bucket counts on the same data, because each
    * consecutive (prev, next) pair is scored exactly once: inside a
    * batch by the sort, across batches through the saved last
    * timestamp. A late event (tus behind the state) has no
    * well-defined predecessor gap anymore; it clamps into bucket 0
    * rather than going negative, keeping the histogram total equal to
    * the event count either way.
    *
    * State is ONE long per user — the fixed-footprint analog of the
    * session-gap tuning readout; production deployments add a state
    * timeout (the [[runningUserCounts]] note). */
  def runningGapBuckets(events: Dataset[GapEvent],
                        bucketUs: Long = 3600000000L,
                        clamp: Long = 48L): Dataset[GapBucket] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[GapEvent], state: GroupState[Long]) =>
          val evs = batch.toSeq.sortBy(e => (e.tus, e.event_id))
          val tss = evs.map(_.tus)
          val chain = state.getOption.toSeq ++ tss
          val gaps = chain.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
          if (tss.nonEmpty) state.update(math.max(
            tss.last, state.getOption.getOrElse(Long.MinValue)))
          gaps.groupBy(g => math.min(clamp, math.max(0L, g) / bucketUs))
            .map { case (b, gs) => GapBucket(uid, b, gs.size.toLong) }
            .iterator
      }
  }

  /** Dedup-on-ingest: each micro-batch is first near-dup-checked
    * AGAINST ITSELF ([[graft.operators.Dedup.nearDupPairs]] on the
    * batch alone — batch-sized, so the self-join is trivial; crawl
    * re-fetch bursts arrive as in-batch near-dups, the common case),
    * then the in-batch survivors are checked AGAINST THE CORPUS TABLE
    * with the incremental broadcast path
    * ([[graft.operators.Dedup.nearDupPairsAgainst]] — the corpus
    * streams once per batch and is never shuffled), and only documents
    * with no match on either level append. In-batch pruning uses the
    * min-id keep rule (a doc matching a smaller-id batch doc drops),
    * the same convention as the semantic prune. The corpus read
    * resolves per batch, so survivors of batch N are corpus for batch
    * N+1 — exactly the accumulate-and-dedup loop a crawl ingestion
    * runs, with at-least-once replay safe on the id level via the
    * anti-join (replayed rows match their own already-appended copies
    * ONLY if text matches, so pair ids dedup them; id-level exactness
    * comes from the checkpoint as usual). */
  def dedupIngestStream(docs: DataFrame, catalog: Catalog, table: String,
                        checkpointDir: String, idCol: String = "doc_id",
                        textCol: String = "text"): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val inBatchDups = graft.operators.Dedup
          .nearDupPairs(batch, idCol, textCol)
          .select(col("b_id").as(idCol)).distinct()
        val inBatchSurvivors = batch.join(inBatchDups, Seq(idCol), "left_anti")
        val survivors =
          if (!catalog.exists(table)) inBatchSurvivors
          else {
            val dups = graft.operators.Dedup
              .nearDupPairsAgainst(catalog.table(table), inBatchSurvivors, idCol, textCol)
              .select(col("batch_id").as(idCol)).distinct()
            inBatchSurvivors.join(dups, Seq(idCol), "left_anti")
          }
        catalog.appendDelta(table, survivors)
        ()
      }
      .start()

  /** Streaming face of the curation→number→shard export family
    * (q153/q154/q156): each micro-batch's survivors EXTEND the
    * committed export — example ids continue from the committed max,
    * shards keep filling where the last batch stopped, and the data +
    * manifest pair flips in ONE catalog transaction
    * per batch (the [[graft.operators.ShardedExport]] contract,
    * maintained incrementally).
    *
    * Per batch (all inside ONE catalog transaction — see below):
    * (1) replay/duplicate guard — `dropDuplicates(idCol)` inside the
    * batch (within-batch redelivery; under conflicting payloads the
    * pick is first-wins, matching the cross-batch rule), then an
    * anti-join on `idCol` against the committed export FOOTER-PRUNED
    * to the batch's own id range ([[graft.ledger.Catalog.tableWhere]]):
    * any committed duplicate's id lies inside that range by
    * definition, so the guard is exact while planning only the
    * commits a replay could live in — for `orderCols`-monotone
    * streams a fresh batch's range intersects NOTHING committed and
    * the guard costs footer reads only, making the at-least-once
    * foreachBatch exactly-once in effect; (2) curation — blocklist
    * broadcast anti-join, then the salted-hash per-source rank capped
    * at `cap` MINUS that source's already-committed survivor count,
    * read from the manifest-sized `<dataTable>_sources` ledger this
    * stream maintains (bootstrapped ONCE from the data table when
    * continuing an export that predates the ledger), so the cap is
    * enforced across the whole stream without re-aggregating the
    * corpus; (3) numbering — [[graft.operators.ContiguousIds]] over
    * the batch survivors, offset by the committed max ex_id
    * (footer-stats read, no scan); (4) the append (partitioned by
    * shard), the manifest merge, and the sources-ledger fold commit
    * together. The manifest delta aggregates the COMMITTED new rows —
    * read back footer-pruned to `ex_id >= offset`, which only the
    * just-appended commit intersects — and merges with the previous
    * manifest by shard: sums add, the id range widens at the boundary
    * shard, so the merge cost is manifest-sized, never a corpus
    * rescan.
    *
    * WHY the whole body runs inside `catalog.transaction`:
    * transaction-begin rolls back a SELF-OWNED crashed marker before
    * anything reads committed state, so the batch after a crash
    * mid-batch reads and extends only what was committed, and the
    * aborted batch's heads are gone before it writes. Another
    * instance's marker still fails loudly (`ConcurrentWriteException`
    * → operator runs `recoverTransaction()`), exactly the
    * cross-instance contract CatalogSpec pins.
    *
    * Equals the one-shot batch export
    * ([[graft.operators.ShardedExport.export]] of
    * [[graft.operators.SourceCuration.curate]] over the union) when
    * (a) batches are `orderCols`-monotone — every later batch sorts
    * after all earlier rows, the natural shape when orderCols lead
    * with ingest time or a monotone id — and (b) no source's docs
    * straddle batches while exceeding `cap` (survivor selection is
    * first-batch-wins across batches but hash-ordered within one; a
    * one-shot re-curation re-ranks the union globally). StreamsSpec
    * pins the equality AND the remedy: a pipeline needing the global
    * re-rank runs the batch export as a periodic compaction — the
    * straddled-cap scenario replays both sides and states exactly
    * which rows differ.
    *
    * Scale: NO per-batch cost grows with the committed corpus. The
    * replay guard plans only footer-intersecting commits (zero for
    * monotone streams), the budget debit reads the manifest-sized
    * sources ledger, the manifest delta reads only the new commit,
    * and the ex_id offset is a footer-stats read. Everything else is
    * batch-sized. */
  def curatedExportStream(docs: DataFrame, catalog: Catalog,
                          dataTable: String, manifestTable: String,
                          checkpointDir: String, sourceCol: String,
                          idCol: String, cap: Int, blocklist: DataFrame,
                          salt: String, orderCols: Seq[String],
                          shardSize: Long, byteCol: String): StreamingQuery = {
    val sourcesTable = s"${dataTable}_sources"
    val blocked = broadcast(blocklist.toDF("blocked_source"))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        val batch = rawBatch.dropDuplicates(idCol)
        // the batch's own id range drives the footer-pruned replay
        // guard — one batch-sized aggregate, no committed-side I/O
        val range = batch.agg(min(col(idCol)), max(col(idCol))).head()
        if (!range.isNullAt(0)) catalog.transaction {
          val lo = range.get(0).asInstanceOf[Number].longValue
          val hi = range.get(1).asInstanceOf[Number].longValue
          val committed = catalog.exists(dataTable)
          val fresh =
            if (!committed) batch
            else batch.join(
              catalog.tableWhere(dataTable, idCol, lo, hi).select(col(idCol)),
              Seq(idCol), "left_anti")
          val ranked = fresh
            .join(blocked, fresh(sourceCol) === blocked("blocked_source"), "left_anti")
            .withColumn("rn", graft.operators.SourceCuration
              .hashRank(salt, col(sourceCol), col(idCol)))
          // committed-survivor counts: the manifest-sized ledger, or a
          // ONE-TIME bootstrap scan when continuing a pre-ledger export
          val used =
            if (catalog.exists(sourcesTable)) catalog.table(sourcesTable)
            else if (committed) catalog.table(dataTable)
              .groupBy(col(sourceCol))
              .agg(count(lit(1)).cast("bigint").as("n_committed"))
            else null
          val survivors =
            (if (used == null) ranked.filter(col("rn") <= cap)
             else ranked.join(broadcast(used), Seq(sourceCol), "left")
               .filter(col("rn") <=
                 lit(cap.toLong) - coalesce(col("n_committed"), lit(0L)))
               .drop("n_committed")).drop("rn")
          val offset =
            if (committed) catalog.maxId(dataTable, "ex_id") + 1 else 0L
          val sharded = graft.operators.ContiguousIds
            .assign(survivors, orderCols, "ex_id")
            .withColumn("ex_id", col("ex_id") + lit(offset))
            .withColumn("shard", expr(s"ex_id div ${shardSize}L"))
          val n = catalog.appendDelta(dataTable, sharded,
            partitionBy = Seq("shard"))
          if (n > 0) {
            // COMMITTED new rows, footer-pruned: only the commit just
            // appended intersects [offset, ∞)
            val newRows = catalog.tableWhere(
              dataTable, "ex_id", offset, Long.MaxValue)
            val delta = graft.operators.ShardedExport.manifest(newRows, byteCol)
            val merged =
              if (!catalog.exists(manifestTable)) delta
              else catalog.table(manifestTable).unionByName(delta)
                .groupBy(col("shard"))
                .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
                  sum(col("n_bytes")).cast("bigint").as("n_bytes"),
                  min(col("min_ex_id")).as("min_ex_id"),
                  max(col("max_ex_id")).as("max_ex_id"))
            catalog.replace(manifestTable, merged)
            // fold the new survivors into the sources ledger (the
            // pre-append `used` frame pinned its commit list when it
            // was built, so bootstrap + delta compose correctly)
            val srcDelta = newRows.groupBy(col(sourceCol))
              .agg(count(lit(1)).cast("bigint").as("n_committed"))
            val srcMerged =
              if (used == null) srcDelta
              else used.unionByName(srcDelta).groupBy(col(sourceCol))
                .agg(sum(col("n_committed")).cast("bigint").as("n_committed"))
            catalog.replace(sourcesTable, srcMerged)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming media ingestion — the production face of
    * [[graft.operators.Multimodal.mediaVerdicts]]: each micro-batch of
    * media rows is decoded with its real codec and split into the
    * verdict table (decode succeeded and agreed with declared
    * metadata; carries the modality quality gate's `keep`) and the
    * QUARANTINE table (payload didn't decode, or metadata lied —
    * with the reason), both committed in ONE catalog
    * transaction so an auditor never sees a batch half-ingested. A
    * rotten row must quarantine, never kill the stream — the batch
    * analytics operators (`decodeImageStats` etc.) keep the abort
    * contract; ingestion keeps the evidence.
    *
    * Same bounded per-batch shape as [[curatedExportStream]]:
    * within-batch duplicate ids drop first, the replay guard
    * anti-joins against BOTH committed tables footer-pruned to the
    * batch's own id range (zero commits planned for monotone
    * streams), and the decode runs ONCE per row — the verdict frame
    * is pinned before the ok/quarantine split so the two appends read
    * one materialization, not two decode passes. Committed-state
    * reads run inside the transaction (begin-time self-owned-marker
    * recovery first). A quarantined id stays quarantined: redelivery
    * of a corrected row under the SAME id is dropped by the guard —
    * re-ingest under a new id, or purge the quarantine row first
    * ([[graft.ledger.Catalog.deleteWhere]] on the id). Both paths are
    * EXECUTED in StreamsSpec (the r13 straddled-cap lesson: a remedy
    * that only lives in prose is a remedy nobody has run). */
  def mediaIngestStream(media: DataFrame, catalog: Catalog,
                        verdictTable: String, quarantineTable: String,
                        checkpointDir: String): StreamingQuery = {
    media.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        val batch = rawBatch.dropDuplicates("media_id")
        val range = batch.agg(min(col("media_id")), max(col("media_id"))).head()
        if (!range.isNullAt(0)) catalog.transaction {
          val lo = range.getLong(0)
          val hi = range.getLong(1)
          def freshAgainst(t: String, df: DataFrame): DataFrame =
            if (!catalog.exists(t)) df
            else df.join(
              catalog.tableWhere(t, "media_id", lo, hi).select(col("media_id")),
              Seq("media_id"), "left_anti")
          val fresh = freshAgainst(quarantineTable, freshAgainst(verdictTable, batch))
          // Pinned handle, not a raw pin: the pin runs decode ONCE for
          // both consumers, and delete() reclaims its reliable
          // checkpoint files after the appends — a raw pin per
          // micro-batch leaks one checkpoint dir per batch FOREVER on
          // a checkpoint-dir session (the cluster path), unbounded
          // disk growth on a long stream. A batch that crashes between
          // the appends leaves its one dir for the restart's recovery
          // window — bounded by crash count, not stream length.
          val pinned = graft.operators.Materialize.pinState(
            graft.operators.Multimodal.mediaVerdicts(
              graft.operators.Multimodal.asMediaRows(fresh)).toDF())
          try {
            val verdicts = pinned.df
            val ok = verdicts.filter(col("ok")).select("media_id", "kind", "keep")
            if (!ok.isEmpty) catalog.appendDelta(verdictTable, ok)
            val bad = verdicts.filter(!col("ok"))
              .select("media_id", "kind", "reason")
            if (!bad.isEmpty) catalog.appendDelta(quarantineTable, bad)
          } finally pinned.delete()
        }
        ()
      }
      .start()
  }

  /** The reference's upload loop as a file-watch stream: each CSV file
    * dropped in `watchDir` becomes a micro-batch that runs the same
    * permissive [[Ingest.stage]] as a batch upload (a row missing a
    * required column lands in `rejects_lancamentos`), then the
    * warehouse merge. Idempotent under replay (at-least-once delivery,
    * exactly-once effect) because every write is a keyed merge-ignore. */
  def ledgerUploadStream(spark: SparkSession, catalog: Catalog,
                         watchDir: String, checkpointDir: String,
                         availableNow: Boolean = true,
                         onBatchComplete: Long => Unit = _ => ()) = {
    val raw = spark.readStream.options(Ingest.csvOptions)
      .schema(graft.ledger.Schemas.csvSchema)
      .csv(watchDir)
    val q = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime("30 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Ingest.stage(catalog, batch, strict = false)
        new Warehouse(catalog).run()
        // fires after ALL batch effects but before the engine commits
        // the offset — the exactly-once kill-test injects its crash
        // here, the at-least-once window where replays originate
        onBatchComplete(batchId)
        ()
      }
    q.start()
  }
}
