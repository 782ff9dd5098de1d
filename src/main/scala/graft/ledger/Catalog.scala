package graft.ledger

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StructType}

/** Parquet-backed warehouse catalog with MANIFEST-POINTER commits.
  *
  * Layout per table:
  * {{{
  *   <root>/<table>/c3/part-*.parquet          data, one dir per commit
  *   <root>/<table>/c4/ano=2024/mes=1/...      (partitioned commits)
  *   <root>/<table>/_manifests/v4              list of live commit dirs
  *   <root>/<table>/_manifests/LATEST          current version number
  * }}}
  *
  * Every write lands in a FRESH commit directory, then a new manifest
  * version is written and `LATEST` is flipped with an atomic rename.
  * Readers resolve `LATEST` → manifest → commit dirs, so a crash
  * mid-write leaves only invisible orphan data — the reference relied
  * on Postgres transactions for this (reference app/etl.py:53 et al.);
  * plain parquet append would expose partial files. On HDFS/S3 the
  * rename maps to the store's atomic-rename/commit primitive.
  *
  * '''Writer fencing''': a writer claims manifest version N by creating
  * the `v{N}` file with CREATE_NEW (create-exclusive). Two concurrent
  * writers race to the same next version; exactly one wins the create,
  * the loser fails loudly with [[ConcurrentWriteException]] instead of
  * silently overwriting the winner's manifest. A crashed winner leaves
  * an orphan `v{N}` (LATEST never flipped) that blocks the next claim —
  * [[recover]] clears it once no writer is live.
  *
  * '''Warehouse-level atomicity''': tables commit individually, so
  * without more a crash mid-[[Warehouse.run]] would publish dims
  * without the fact. [[transaction]] wraps a multi-table load: inside
  * it, per-table LATEST advances as usual (the writer reads its own
  * writes), but everyone else resolves tables through
  * `<root>/_snapshots/LATEST`, one pointer mapping tables to manifest
  * versions, which the transaction advances once, for the tables its
  * body published, after the body succeeds. A crash anywhere inside
  * the body leaves the published snapshot untouched, and the next
  * transaction begin rolls back every table the body moved.
  *
  * '''One visibility rule''', the same for every table under the root
  * and every instance ([[visibleVersion]]): a table the snapshot covers
  * reads at its entry; a table it does not cover reads at its head,
  * except while an INFLIGHT marker (a transaction in flight, or a
  * crashed one) stands, when it reads at the version the marker
  * recorded at begin (none, if the table did not exist then). A direct
  * write advances the snapshot whenever its head is not already what
  * readers resolve: the table is covered, or a marker stands.
  *
  * Every table is also registered as a temp view so the full
  * `spark.sql` surface works over the warehouse (SURVEY §3.3).
  *
  * '''One reader, one footer walker, one write tail, one publish''':
  * every DataFrame over commit dirs comes from [[read]], under the
  * schema [[schemaOf]] resolves (declared, else the first commit's), so
  * reads, rewrites ([[compact]], [[deleteWhere]]) and pruned reads
  * ([[tableWhere]]) agree on columns. A read is ONE parquet scan over
  * all the commits it covers, whatever their number: one relation over
  * one file index that concatenates the commits' own listings, so a
  * query's plan and generated code do not change when an append adds a
  * commit, and `(ano, mes)` pruning applies inside every commit. Every
  * metadata answer (row counts, id resume offsets, commit pruning)
  * comes from [[footers]] / [[dataFiles]], which fail loudly on a
  * missing live commit dir.
  * Commit dirs are write-once, so each instance reads a commit's
  * footers once and resolves its relation once ([[footers]],
  * [[relation]]), and keeps the rows of every commit it wrote from
  * driver-held rows ([[appendRows]], carried through a [[compact]] of
  * such commits alone), which [[rows]] answers without a read; the
  * memos drop a dir once it is no longer live.
  * Every write lands through [[writeCommit]], and every new version
  * goes out through [[publish]] (the v{N} claim, the `LATEST` flip, the
  * snapshot bump and the temp-view refresh, once per version); a
  * version whose read fails, such as commits of different partition
  * layouts, is refused before its claim. Commit writes set file
  * permissions through [[NioLocalFileSystem]], which starts no process. A
  * rewrite goes through [[swap]], so each public write only chooses
  * the commits it keeps and the frame it writes.
  *
  * Scale: dims stay tiny so their merge anti-joins broadcast; the fact
  * merge anti-joins on `id_hash` and its commits are partitioned by
  * (ano, mes), so month-sliced reads prune whole directories. Many
  * small commits accumulate listing and file-open overhead — [[compact]]
  * folds a table back to one commit (same manifest flip, fully atomic).
  *
  * @param compactEvery when > 0, [[appendDelta]] auto-folds a table back
  *                     to one commit whenever its live commit count
  *                     reaches the threshold — at month-upload cadence,
  *                     merge commits otherwise accumulate scan overhead
  *                     (one parquet listing + footer read per commit
  *                     per query) without bound. 0 = manual [[compact]]
  *                     only.
  */
final class Catalog(val spark: SparkSession, val root: String,
                    val compactEvery: Int = 0) {

  /** AtomicBoolean, not a @volatile check-then-act: two threads racing
    * [[transaction]] on the same instance must leave exactly one inside
    * (the loser fails loudly like every other race in this class), never
    * both past the guard with interleaved INFLIGHT writes. */
  private val inTxnFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def inTxn: Boolean = inTxnFlag.get()

  private def tableDir(t: String): String = s"$root/$t"
  private def manifestDir(t: String): Path = Paths.get(tableDir(t), "_manifests")
  private def snapDir: Path = Paths.get(root, "_snapshots")

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq

  /** The version the `LATEST` pointer file in `dir` names, if any. */
  private def pointer(dir: Path): Option[Int] =
    Some(dir.resolve("LATEST")).filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt)

  private def latestVersion(t: String): Option[Int] = pointer(manifestDir(t))

  private def latestSnapshot: Option[Int] = pointer(snapDir)

  /** table → manifest version map of the published snapshot (empty if
    * none has been published yet). */
  private[graft] def snapshotVersions: Map[String, Int] =
    latestSnapshot.map(snapshotVersionsAt).getOrElse(Map.empty)

  private def snapshotVersionsAt(n: Int): Map[String, Int] =
    nameVersions(lines(snapDir.resolve(s"s$n")))

  /** `name version` lines — a snapshot file, or the INFLIGHT marker's
    * begin-state — as a map; blank lines are skipped. */
  private def nameVersions(ls: Seq[String]): Map[String, Int] =
    ls.filter(_.nonEmpty).map { line =>
      val Array(t, v) = line.split(' '); t -> v.toInt
    }.toMap

  private def inflightPath: Path = snapDir.resolve("INFLIGHT")

  /** The INFLIGHT marker's owner and begin-state, if a marker stands. */
  private def inflight: Option[(String, Map[String, Int])] =
    try Some(readInflight(inflightPath))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Every table under the root: each dir holding a `_manifests` dir. */
  private def tables: Seq[String] =
    children(Paths.get(root)).filter(p => Files.isDirectory(p.resolve("_manifests")))
      .map(_.getFileName.toString).sorted

  /** The version everyone outside a transaction resolves `t` to: its
    * snapshot entry; else, while an INFLIGHT marker stands, the version
    * the marker recorded at begin (a table the transaction created has
    * none); else its head. */
  private def visibleVersion(t: String): Option[Int] =
    snapshotVersions.get(t).orElse(inflight match {
      case Some((_, begun)) => begun.get(t).filter(_ > 0)
      case None => latestVersion(t)
    })

  /** The manifest version a READ of `t` resolves to: the writer inside
    * a transaction reads its own writes at the head. */
  private def readVersion(t: String): Option[Int] =
    if (inTxn) latestVersion(t) else visibleVersion(t)

  /** The base version a WRITE builds on and claims over: the read
    * version. A direct write therefore never builds on a head that a
    * crashed or live transaction advanced: its claim collides with that
    * head's version file and fails loudly instead of publishing rows no
    * transaction committed. */
  private def writeBase(t: String): Int = readVersion(t).getOrElse(0)

  /** Commit dirs (absolute paths) recorded in manifest version `v`;
    * version 0 (no table yet) has none. */
  private def commitsAt(t: String, v: Int): Seq[String] =
    if (v == 0) Seq.empty
    else lines(manifestDir(t).resolve(s"v$v")).filter(_.nonEmpty)

  /** Live commit dirs (absolute paths) at the read-resolved version. */
  private def liveCommits(t: String): Seq[String] =
    commitsAt(t, readVersion(t).getOrElse(0))

  /** Entries of a local dir (none when it does not exist); the listing
    * stream is closed here, it holds a directory fd. */
  private def children(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val listing = Files.list(dir)
      try listing.iterator().asScala.toSeq finally listing.close()
    }

  /** The write-temp for `name` in `dir`: `.<name>.tmp<8 hex>`. Dot-
    * prefixed so a crash-orphaned temp matches no listing's name-prefix
    * filter (see [[claimVersionFile]]); [[recover]] deletes exactly
    * this shape, never a file that merely contains ".tmp". */
  private def tempFor(dir: Path, name: String): Path =
    dir.resolve(s".$name.tmp${java.util.UUID.randomUUID().toString.take(8)}")

  private def atomicWrite(dir: Path, name: String, body: String): Unit = {
    val tmp = tempFor(dir, name)
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The one publish step: `dirs` become the table's version base+1.
    * It claims v{base+1} with
    * create-exclusive (the fence), flips LATEST via write-temp + atomic
    * rename, advances the snapshot for a direct write whose head readers
    * do not already resolve, and points the table's temp view at the
    * new version's read,
    * which it resolves before the claim. Every published version
    * passes through here exactly once; a write that publishes nothing
    * never calls it.
    *
    * `base` is the version the CALLER observed when it computed
    * `dirs` — the claim is tied to that read, never to a re-read of
    * LATEST here. Otherwise a concurrent writer flipping LATEST between
    * the caller's read and the claim would let this commit claim
    * base+2 "successfully" while silently dropping the other writer's
    * commit dirs from its list; with the base threaded through, the
    * stale writer collides on v{base+1} and fails loudly instead. */
  private def publish(t: String, base: Int, dirs: Seq[String]): Unit = {
    // the new version's read, resolved before the claim: a version no
    // read accepts (mixed partition layouts, a missing commit dir) is
    // refused here instead of published
    val view = read(t, dirs, dirs)
    val md = manifestDir(t)
    Files.createDirectories(md)
    val next = base + 1
    claimVersionFile(md, s"v$next", dirs.mkString("\n"),
      s"table $t version $next")
    atomicWrite(md, "LATEST", next.toString)
    // a direct write is visible once readers resolve its version: at the
    // head already, unless the snapshot covers the table or a marker
    // stands (checked after the flip: see transaction's begin); inside
    // a transaction the snapshot advances once, at the end
    if (!inTxn && (snapshotVersions.contains(t) || inflight.isDefined))
      publishSnapshot(Map(t -> next))
    retain(t, dirs.toSet)
    view.createOrReplaceTempView(t)
  }

  /** The one rewrite step: `df` into a fresh commit ([[writeCommit]]),
    * its rows counted from the new commit's footers, published over
    * `base` as `kept` plus the new commit. `held`, the rows of `df`
    * when the driver holds them, is memoized under the new commit
    * ([[rows]]). With `dropEmpty`, a zero-row
    * commit is deleted instead and `kept` alone is published — or
    * nothing, when `kept` is exactly `base`'s commits. Returns the
    * written row count. */
  private def swap(t: String, base: Int, kept: Seq[String], df: DataFrame,
                   partitionBy: Seq[String] = Seq.empty,
                   clusterBy: Seq[String] = Seq.empty,
                   batchId: Option[Long] = None,
                   dropEmpty: Boolean = false,
                   held: Option[Seq[Row]] = None): Long = {
    val dir = writeCommit(t, df, partitionBy, clusterBy, batchId)
    held.foreach(heldMemo.put(dir, _))
    // exact count from the written files' parquet FOOTERS: metadata
    // only, no second data scan and no extra Spark job (an observed
    // write metric can over-count under stage retries or speculative
    // execution; a read-back count re-scans the data)
    val n = footerRows(footers(Seq(dir)))
    if (n > 0 || !dropEmpty) publish(t, base, kept :+ dir)
    else {
      deleteRecursively(Paths.get(dir))
      forget(Set(dir))
      if (kept != commitsAt(t, base)) publish(t, base, kept)
    }
    n
  }

  /** Create-exclusive claim of a manifest/snapshot file: exactly one of
    * any number of racing writers wins; losers get a loud
    * [[ConcurrentWriteException]] instead of silently overwriting the
    * winner's commit.
    *
    * Write-temp + hard-LINK to the final name, because the claim must
    * be exclusive AND crash-atomic at once: a plain
    * CREATE_NEW-then-write leaves an EMPTY claim file if the writer
    * dies between create and write, and rename(2) (ATOMIC_MOVE)
    * silently REPLACES an existing target on POSIX, losing
    * exclusivity. link(2) is both: the final name appears atomically
    * with its full content, or fails EEXIST. The temp file is cleaned
    * here on every path; one orphaned by a hard kill is what recover()
    * deletes.
    * Filesystems without hard-link support fall back to CREATE_NEW
    * (exclusive, but with the empty-file crash window back open: the
    * empty claim sits above LATEST like any crashed claim, so it
    * blocks the next claim until recover() clears it). */
  private def claimVersionFile(dir: Path, name: String, body: String,
                               what: String): Unit = {
    val tmp = tempFor(dir, name)
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    def lostRace(): Nothing =
      throw new Catalog.ConcurrentWriteException(
        s"lost the race claiming $what: another writer holds " +
          s"${dir.resolve(name)} (or a crashed one left it behind — " +
          "run recover() after confirming no writer is live)")
    // filesystems without hard links fall back to CREATE_NEW + write.
    // Still exclusive (CREATE_NEW fails EEXIST); NOT crash-atomic — a
    // writer dying between create and write leaves an empty claim file
    def createNewFallback(): Unit =
      try Files.write(dir.resolve(name),
        body.getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => lostRace()
      }
    try Files.createLink(dir.resolve(name), tmp)
    catch {
      // ordered before FileSystemException (its supertype): EEXIST is
      // the race, not a missing-capability signal
      case _: java.nio.file.FileAlreadyExistsException => lostRace()
      case _: UnsupportedOperationException => createNewFallback()
      // NFS and FUSE object-store mounts reject link(2) with EPERM /
      // ENOTSUP surfaced as FileSystemException, not
      // UnsupportedOperationException — same missing capability, same
      // fallback
      case _: java.nio.file.FileSystemException => createNewFallback()
    } finally Files.deleteIfExists(tmp)
  }

  /** Advance the snapshot: the tables in `advance` move to their given
    * versions over the published map, every other entry stays. A table
    * is never re-published from its head here: a head may be rows an
    * aborted transaction left behind.
    *
    * The s{N+1} claim is tied to the SAME observed base N the map was
    * built from (the publish() fence pattern); losing the claim race
    * means another writer published meanwhile, so the map is rebuilt
    * over THEIR snapshot and the claim retried — a concurrent advance of
    * a different table merges instead of silently vanishing. */
  private def publishSnapshot(advance: Map[String, Int]): Unit = {
    Files.createDirectories(snapDir)
    var attempts = 0
    var done = false
    while (!done) {
      val base = latestSnapshot.getOrElse(0)
      val versions = (if (base == 0) Map.empty[String, Int] else snapshotVersionsAt(base)) ++ advance
      val body = versions.toSeq.sorted.map { case (t, v) => s"$t $v" }.mkString("\n")
      try {
        claimVersionFile(snapDir, s"s${base + 1}", body, s"snapshot ${base + 1}")
        atomicWrite(snapDir, "LATEST", (base + 1).toString)
        done = true
      } catch {
        case e: Catalog.ConcurrentWriteException =>
          attempts += 1
          if (attempts > 5) throw new IllegalStateException(
            s"the snapshot advance of ${advance.keys.toSeq.sorted.mkString(", ")} kept " +
              "losing the claim race. A transaction's tables stay unpublished (its " +
              "INFLIGHT marker remains, so its next begin rolls them back); a direct " +
              "write's table stays behind the snapshot until recover() runs once no " +
              "writer is live", e)
      }
    }
  }

  /** Run a multi-table load with warehouse-level atomicity: the body's
    * per-table commits stay invisible to other catalog instances until
    * the single snapshot advance after it returns, which moves exactly
    * the tables whose heads the body moved. The writer itself reads its
    * own in-progress writes (loaders are chained). Not reentrant; one
    * transaction at a time per instance.
    *
    * BEGIN semantics: the head version of every table under the root is
    * recorded in an INFLIGHT marker before the body runs; if a previous
    * transaction of this instance crashed (its marker still present),
    * every table is first rolled back to the versions that marker
    * recorded, and a table that did not exist then to nonexistence.
    * Without this, the new body would read and build on never-published
    * rows: merge-based loaders would merely skip work, but a non-merging
    * path (strictQuirks dim_tempo blind append) would append the aborted
    * batch a SECOND time — a state the reference's Postgres transactions
    * could never produce. While the marker stands, a table the snapshot
    * does not cover reads at its recorded version ([[visibleVersion]]),
    * so even the first transaction under a root is atomic. The heads are
    * read again after the marker is written: a direct write that flipped
    * its head before the marker existed did not advance the snapshot, so
    * the marker records where it landed and no rollback can undo it.
    *
    * A body that throws leaves the temp views of its session reading the
    * published state again: each [[publish]] inside the body pointed
    * its table's view at the in-transaction head, so on the way out every
    * table the body moved has its view re-registered (dropped, if no
    * version is visible or it cannot be read) before the failure is
    * rethrown. */
  def transaction[T](body: => T): T = {
    require(inTxnFlag.compareAndSet(false, true),
      "transaction already in progress on this Catalog instance " +
        "(not reentrant; one transaction per instance at a time)")
    try {
      Files.createDirectories(snapDir)
      inflight.foreach { case (owner, begun) =>
        // whose marker? Our own instance's ⇒ our previous transaction
        // crashed mid-body: heal automatically. Anyone else's ⇒ either a
        // LIVE writer (rolling it back would corrupt both transactions
        // silently) or a dead one — we cannot tell from here, so fail
        // loudly and let the operator call recoverTransaction() once the
        // other writer is confirmed dead.
        if (owner != instanceId)
          throw new Catalog.ConcurrentWriteException(
            s"another writer's transaction is in flight at $inflightPath " +
              "(or a crashed one left it behind — run recoverTransaction() " +
              "after confirming no writer is live)")
        rollback(begun)
      }
      def heads = tables.map(t => t -> latestVersion(t).getOrElse(0)).toMap
      // atomic write: a crash mid-write must never leave a truncated
      // marker (a half-recorded state would roll tables back too far)
      def record(state: Map[String, Int]): Unit = atomicWrite(snapDir, "INFLIGHT",
        (s"owner $instanceId" +: state.toSeq.sorted.map { case (t, v) => s"$t $v" }).mkString("\n"))
      val first = heads
      record(first)
      val begun = heads
      if (begun != first) record(begun)
      def moved = heads.filter { case (t, v) => v != begun.getOrElse(t, 0) }
      try {
        val out = body
        publishSnapshot(moved)
        // crash between publish and this delete is benign: the next begin
        // rolls "back" to versions that the published entries floor
        Files.deleteIfExists(inflightPath)
        out
      } catch {
        case NonFatal(e) =>
          inTxnFlag.set(false)
          moved.keys.foreach { t =>
            try if (readVersion(t).isDefined) register(t) else spark.catalog.dropTempView(t)
            catch {
              case NonFatal(r) =>
                spark.catalog.dropTempView(t)
                e.addSuppressed(r)
            }
          }
          throw e
      }
    } finally inTxnFlag.set(false)
  }

  /** Explicit crash recovery for a transaction started by ANOTHER
    * catalog instance: rolls every table back to the marker's recorded
    * begin-state and clears the marker. Call only after confirming no
    * writer is live. Returns true if a marker was cleared. */
  def recoverTransaction(): Boolean =
    inflight.exists { case (_, begun) => rollback(begun); true }

  /** The INFLIGHT marker: its owner line, then the begin-state. */
  private def readInflight(p: Path): (String, Map[String, Int]) = {
    val ls = lines(p).filter(_.nonEmpty)
    val owner = ls.headOption.filter(_.startsWith("owner ")).fold("")(_.drop("owner ".length))
    (owner, nameVersions(ls.drop(1)))
  }

  /** Roll every table's LATEST back to `begun` (a table absent from it
    * → no version at all), deleting the now-orphaned manifest claims so
    * the next commit can re-claim those versions, then clear the
    * INFLIGHT marker. Orphan DATA dirs stay until [[vacuum]]. The
    * published snapshot is a floor: a table legitimately
    * committed-and-published AFTER the marker was written (a direct
    * write between the crash and this recovery) must never be rolled
    * below what readers already resolve. */
  private def rollback(begun: Map[String, Int]): Unit = {
    val published = snapshotVersions
    (tables ++ begun.keys).distinct.foreach { t =>
      latestVersion(t).foreach { head =>
        val tv = math.max(begun.getOrElse(t, 0), published.getOrElse(t, 0))
        if (head > tv) {
          val md = manifestDir(t)
          if (tv > 0) atomicWrite(md, "LATEST", tv.toString)
          else Files.deleteIfExists(md.resolve("LATEST"))
          (tv + 1 to head).foreach(v => Files.deleteIfExists(md.resolve(s"v$v")))
          retain(t, liveSet(t))
        }
      }
    }
    Files.deleteIfExists(inflightPath)
  }

  /** Stable identity of this catalog instance, recorded in INFLIGHT so
    * a begin can tell its own crashed transaction (auto-heal) from
    * another writer's (fail loudly). */
  private val instanceId: String = java.util.UUID.randomUUID().toString

  /** Clear orphan claims left by crashed writers: manifest files above
    * the table's LATEST (and snapshot files above the snapshot LATEST)
    * that block the create-exclusive fence. Call only after confirming
    * no writer is live — from a supervisor, not a racing writer.
    *
    * Also heals the stale-snapshot crash window: a direct write that
    * flipped its table's LATEST but crashed before advancing the
    * snapshot leaves the table's entry behind its head, and every later
    * direct write to that table bases on the stale entry, collides with
    * the already-published v{N}, and fails — a state only advancing the
    * entry can clear. That is safe exactly when no INFLIGHT marker
    * exists: with a marker, heads above the snapshot may be an aborted
    * transaction's unpublished writes, which [[recoverTransaction]]
    * (rollback, not publish) owns; recover() leaves the marker alone. */
  def recover(): Int = {
    def clean(dir: Path, latest: Int, prefix: String): Int = {
      val orphans = children(dir).map(_.getFileName.toString).filter { n =>
        // toIntOption: an over-long digit run from foreign interference
        // must not brick recovery
        (n.startsWith(prefix) &&
          n.drop(prefix.length).toIntOption.exists(_ > latest)) ||
          n.matches("""\..+\.tmp[0-9a-f]{8}""") // a tempFor orphan
      }
      orphans.foreach(n => Files.deleteIfExists(dir.resolve(n)))
      orphans.size
    }
    val all = tables
    val cleared = all.map(t =>
      clean(manifestDir(t), latestVersion(t).getOrElse(0), "v")).sum +
      clean(snapDir, latestSnapshot.getOrElse(0), "s")
    if (inflight.isEmpty) {
      val stale = snapshotVersions.flatMap { case (t, v) => latestVersion(t).filter(_ > v).map(t -> _) }
      if (stale.nonEmpty) publishSnapshot(stale)
    }
    all.foreach(t => retain(t, liveSet(t)))
    cleared
  }

  /** The shared write tail: `df` into a fresh commit dir of `t`,
    * hive-partitioned on `partitionBy`, each task's rows sorted by
    * `partitionBy ++ clusterBy` when `clusterBy` is set (the
    * partitioned writer requires the partition columns to lead), with
    * the applied-batch-id marker inside the dir when `batchId` is set.
    * Returns the dir; nothing is visible until [[publish]] lists it. */
  private def writeCommit(t: String, df: DataFrame,
                          partitionBy: Seq[String] = Seq.empty,
                          clusterBy: Seq[String] = Seq.empty,
                          batchId: Option[Long] = None): String = {
    val dir = s"${tableDir(t)}/c${latestVersion(t).getOrElse(0) + 1}_" +
      java.util.UUID.randomUUID().toString.take(8)
    val sorted =
      if (clusterBy.isEmpty) df
      else df.sortWithinPartitions((partitionBy ++ clusterBy).map(col): _*)
    // NioLocalFileSystem sets each written file's and dir's permission
    // without forking chmod; a cached FileSystem would ignore the impl
    val w = sorted.write.mode(SaveMode.Overwrite)
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
    batchId.foreach(id => Files.write(Paths.get(dir, AppliedBatchIdMarker),
      id.toString.getBytes(StandardCharsets.UTF_8)))
    dir
  }

  /** `table` has a version this instance reads (the rule [[table]]
    * follows), or a head this instance's own failed transaction left,
    * which its next transaction begin rolls back. */
  def exists(table: String): Boolean =
    readVersion(table).isDefined ||
      inflight.exists(_._1 == instanceId) && latestVersion(table).isDefined

  // ---------------------------------------------------------------------
  // the commit reader: every DataFrame over commit dirs is built here

  /** The resolved, already-listed parquet relation of one commit dir
    * under `schema` (inferred from its footers when None). Partition
    * columns (fact: ano/mes) come back through the per-commit basePath.
    *
    * A commit dir is write-once: [[writeCommit]] fills a fresh
    * `c{N}_{uuid}` dir and nothing writes into it afterwards. So the
    * relation is memoized per (dir, schema): no second source
    * resolution, existence check or directory listing. A dir that no
    * longer exists is resolved again, which fails as any read of a
    * missing path does. */
  private def relation(dir: String, schema: Option[StructType]): HadoopFsRelation = {
    def resolve() = schema.fold(spark.read)(spark.read.schema).option("basePath", dir)
      .parquet(dir).queryExecution.analyzed match {
        case r: LogicalRelation => r.relation.asInstanceOf[HadoopFsRelation]
      }
    if (!Files.isDirectory(Paths.get(dir))) resolve()
    else relationMemo.computeIfAbsent((dir, schema), _ => resolve())
  }

  /** The schema a read of a version listing `live` uses: the declared
    * schema, else the schema of `live`'s first commit. Tables outside
    * the star contract (rollups, exports) exist only once written, so a
    * missing one is a loud error, never a guess at a schema this catalog
    * never declared. */
  private def schemaOf(t: String, live: Seq[String]): StructType =
    Schemas.schemaOfOpt(t).getOrElse {
      require(live.nonEmpty, s"table '$t' has no declared schema and no committed data")
      relation(live.head, None).schema
    }

  /** `t` at manifest `version`'s schema ([[schemaOf]] its commits). */
  private def schemaAt(t: String, version: Int): StructType =
    schemaOf(t, commitsAt(t, version))

  /** `commits` (some or all of the version listing `live`) as ONE scan
    * under [[schemaOf]]`(t, live)`, selected in the schema's column
    * order, or an empty frame of that schema. The commits' memoized
    * relations ([[relation]]) are composed into one
    * [[Catalog.CommitsIndex]] that concatenates each commit's own
    * (partition-pruned) file listing, so a query over the table has the
    * same physical plan, and the same generated code, at any commit
    * count. A commit with no data files (an empty partitioned write)
    * adds no rows and takes no part; the others must share one
    * partition layout, else the read fails naming each layout's dirs. */
  private def read(t: String, live: Seq[String], commits: Seq[String]): DataFrame = {
    val schema = schemaOf(t, live)
    if (commits.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val all = commits.map(c => c -> relation(c, Some(schema)))
      val filled = Some(all.filter(_._2.location.inputFiles.nonEmpty))
        .filter(_.nonEmpty).getOrElse(all.take(1))
      val layouts = filled.groupMap(_._2.partitionSchema)(_._1)
      if (layouts.size > 1) throw new IllegalStateException(
        s"table '$t' mixes partition layouts across its commits: " + layouts.map {
          case (p, dirs) => s"(${p.fieldNames.mkString(", ")}) in ${dirs.mkString(", ")}"
        }.mkString("; "))
      val first = filled.head._2
      spark.baseRelationToDataFrame(HadoopFsRelation(
        Catalog.CommitsIndex(filled.map(_._2.location)), first.partitionSchema,
        first.dataSchema, None, first.fileFormat, Map.empty)(spark))
        .select(schema.fieldNames.map(col): _*)
    }
  }

  // ---------------------------------------------------------------------
  // the footer walker: every metadata answer is read from footers here

  /** Parquet data files under the commit `dir`: a `java.nio` walk, no
    * Spark job and no Hadoop listing (on a local file system without
    * libhadoop, Hadoop's listing forks a process per file to read its
    * permissions). */
  private def dataFiles(dir: String): Seq[Path] = {
    val found = Files.find(Paths.get(dir), Int.MaxValue,
      (p, a) => a.isRegularFile && p.getFileName.toString.endsWith(".parquet"))
    try found.iterator().asScala.toVector finally found.close()
  }

  /** Footers of every data file under `dirs` — what a table format
    * records at commit time. A commit dir is write-once (see [[relation]]),
    * so each dir's footers are read once per instance and memoized;
    * [[swap]] fills the memo when it counts the commit it just wrote.
    * Unread dirs are opened in parallel (bounded by the common pool)
    * because a partitioned append writes one file per directory (80
    * months = 80 footers) and the opens are independent reads.
    *
    * Every call checks that each dir still exists. A MISSING dir is
    * corruption — external deletion or a vacuum race — never an empty
    * commit: fail loudly, because a silently skipped commit would
    * under-count rows, lower an id offset (minting duplicate surrogate
    * ids) or prune rows that exist. */
  private def footers(dirs: Seq[String]): Seq[ParquetMetadata] = {
    import scala.collection.parallel.CollectionConverters._
    dirs.find(d => !Files.isDirectory(Paths.get(d))).foreach { dir =>
      throw new IllegalStateException(
        s"live commit dir is missing: $dir — the manifest references " +
          "files that no longer exist (external deletion or vacuum race)")
    }
    val known = dirs.flatMap(d => Option(footerMemo.get(d)).map(d -> _)).toMap
    val unread = dirs.distinct.filterNot(known.contains)
    val read = if (unread.isEmpty) Map.empty[String, Seq[ParquetMetadata]] else {
      val conf = spark.sessionState.newHadoopConf()
      val opened = unread.flatMap(d => dataFiles(d).map(d -> _)).par.map { case (d, f) =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new HPath(f.toUri), conf))
        d -> (try reader.getFooter finally reader.close())
      }.seq.groupMap(_._1)(_._2)
      unread.map(d => d -> opened.getOrElse(d, Seq.empty)).toMap
    }
    read.foreach { case (d, fs) => footerMemo.put(d, fs) }
    dirs.flatMap(d => known.getOrElse(d, read(d)))
  }

  // the commit memos: write-once commit dirs, bounded to the live ones

  private val footerMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ParquetMetadata]]()
  private val relationMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Option[StructType]), HadoopFsRelation]()
  /** The rows of each commit written from driver-held rows. */
  private val heldMemo = new java.util.concurrent.ConcurrentHashMap[String, Seq[Row]]()

  /** Drop every memo entry whose commit dir `gone` names. */
  private def forget(gone: String => Boolean): Unit = {
    footerMemo.keySet.removeIf(d => gone(d))
    relationMemo.keySet.removeIf(k => gone(k._1))
    heldMemo.keySet.removeIf(d => gone(d))
  }

  /** Drop the memo entries of `t`'s commit dirs outside `live`. */
  private def retain(t: String, live: Set[String]): Unit = {
    val td = Paths.get(tableDir(t))
    forget(d => !live(d) && Paths.get(d).getParent == td)
  }

  /** The commit dirs any memo holds, for spec observability. */
  private[graft] def memoizedDirs: Set[String] =
    footerMemo.keySet.asScala.toSet ++ relationMemo.keySet.asScala.map(_._1) ++
      heldMemo.keySet.asScala

  private def footerRows(fs: Seq[ParquetMetadata]): Long =
    fs.iterator.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum

  /** [min, max] of an integral column over the populated row groups of
    * `fs`; None when any of them lacks usable stats, which callers
    * treat as "unknown" (keep the commit, scan instead). Only plain
    * INT32/INT64 physical columns with a SIGNED int annotation or none
    * qualify: a logical type over int storage (small decimal, date)
    * would surface its RAW value as a plausible bound, and an unsigned
    * int64 above Long.MaxValue a wrapped negative one. A column absent
    * from a file (e.g. a partition column) is unusable too. All-null or
    * row-less input yields the empty range (Long.MaxValue,
    * Long.MinValue), which intersects nothing — correctly prunable for
    * any value predicate. */
  private def range(fs: Seq[ParquetMetadata], column: String): Option[(Long, Long)] = {
    var mn = Long.MaxValue
    var mx = Long.MinValue
    for (f <- fs; b <- f.getBlocks.asScala; if b.getRowCount > 0) {
      val cc = b.getColumns.asScala.find(_.getPath.toDotString == column)
        .getOrElse(return None)
      val integral = cc.getPrimitiveType.getLogicalTypeAnnotation match {
        case null => true
        case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          i.isSigned
        case _ => false
      }
      val st = cc.getStatistics
      if (!integral || st == null || st.isEmpty) return None
      if (st.hasNonNullValue) (st.genericGetMin, st.genericGetMax) match {
        case (a: java.lang.Long, z: java.lang.Long) =>
          mn = math.min(mn, a.longValue()); mx = math.max(mx, z.longValue())
        case (a: java.lang.Integer, z: java.lang.Integer) =>
          mn = math.min(mn, a.longValue()); mx = math.max(mx, z.longValue())
        case _ => return None
      }
    }
    Some((mn, mx))
  }

  /** Read a table (one scan over its live commits), or an empty frame
    * with the declared schema — [[read]] at the read-resolved version. */
  def table(table: String): DataFrame = {
    val live = liveCommits(table)
    read(table, live, live)
  }

  /** The rows [[table]] reads: the memoized rows of the live commits
    * written from driver-held rows, and the other live commits (another
    * instance's, or a fold that did not carry its rows) in one read. */
  private[graft] def rows(table: String): Seq[Row] = {
    val live = liveCommits(table)
    val held = live.map(d => d -> Option(heldMemo.get(d)))
    val unheld = held.collect { case (d, None) => d }
    held.flatMap(_._2).flatten ++
      (if (unheld.isEmpty) Seq.empty else read(table, live, unheld).collect().toSeq)
  }

  def register(table: String): Unit =
    this.table(table).createOrReplaceTempView(table)

  def registerAll(): Unit = Schemas.tableNames.foreach(register)

  /** K1: full-replace write (staging semantics, reference app/app.py:79).
    * `partitionBy` lays the commit out hive-partitioned on those
    * columns (reads recover them via the per-commit basePath) — the
    * sharded-export layout, where a consumer fetches one shard
    * directory without listing the rest. Returns the written row count
    * from the commit's footers, like [[appendDelta]]. */
  def replace(table: String, df: DataFrame,
              partitionBy: Seq[String] = Seq.empty): Long =
    swap(table, writeBase(table), Seq.empty, df, partitionBy)

  /** Current max of an integral column, or 0 on empty/missing table —
    * the surrogate-key offset (SERIAL resume semantics).
    *
    * Answered from the live commits' parquet FOOTER statistics
    * ([[range]], metadata only, no Spark job — the same reads a table
    * format serves from its manifest), not a data scan: the old
    * aggregate job re-scanned the whole id column on every load, which
    * at fact scale is a full-table pass just to resume numbering. Falls
    * back to the exact scan if any row group lacks usable stats (never
    * the case for the int/long ids this catalog writes, but correctness
    * must not depend on a writer's statistics configuration). A missing
    * live commit dir fails loudly ([[dataFiles]]): a silently lower
    * offset would mint duplicate surrogate ids. */
  def maxId(table: String, idCol: String): Long =
    range(footers(liveCommits(table)), idCol) match {
      case Some((mn, mx)) => if (mn <= mx) mx else 0L
      case None =>
        this.table(table).agg(coalesce(max(col(idCol).cast("long")), lit(0L)))
          .head().getLong(0)
    }

  /** Commit-pruned range read: rows of `table` with
    * `lo <= column <= hi`, planning ONLY the commits whose footer
    * [min, max] for `column` intersects the range — the manifest-level
    * FILE skipping a table format (Delta/Iceberg column stats) serves
    * from its metadata. Spark's parquet reader already skips row
    * groups inside a file, but it still lists, opens, and schedules a
    * task for every file of every commit; with thousands of
    * accumulated commits at warehouse scale, that fixed per-file cost
    * is the read's floor. Here the driver drops whole commits from the
    * plan using footer metadata only (same I/O class as [[maxId]]),
    * then applies the exact residual filter on what remains — pruning
    * is a planning optimization, never a semantics change. Commits
    * whose stats are unusable (missing column, non-integral type,
    * stats disabled by the writer) are conservatively kept. The kept
    * commits go through [[read]], so columns are exactly [[table]]'s. */
  def tableWhere(table: String, column: String, lo: Long, hi: Long): DataFrame = {
    val v = readVersion(table).getOrElse(0)
    requireIntegral(table, v, column, "tableWhere")
    read(table, commitsAt(table, v), commitsInRange(table, column, lo, hi))
      .filter(col(column) >= lo && col(column) <= hi)
  }

  /** `column` of `t` at `version` must be INT or BIGINT: footer-range
    * pruning reads integral statistics only. */
  private def requireIntegral(t: String, version: Int, column: String, op: String): Unit = {
    val dt = schemaAt(t, version)(column).dataType
    require(dt == IntegerType || dt == LongType,
      s"$op prunes integral columns only; $t.$column is ${dt.simpleString}")
  }

  /** The live commits whose `column` footer range intersects [lo, hi]
    * — the pruning core, exposed for spec observability. Unknown stats
    * keep the commit (pruning must never drop rows it cannot prove
    * absent). */
  private[graft] def commitsInRange(table: String, column: String,
                                    lo: Long, hi: Long): Seq[String] =
    liveCommits(table).filter(c => intersects(footers(Seq(c)), column, lo, hi))

  private def intersects(fs: Seq[ParquetMetadata], column: String,
                         lo: Long, hi: Long): Boolean =
    range(fs, column).forall { case (mn, mx) => mx >= lo && mn <= hi }

  /** Incremental materialized-rollup maintenance: fold `batch` into the
    * grouped rollup `table` by merging partial aggregates
    * ([[graft.operators.IncrementalAgg]]) — the fact is never
    * rescanned; per-refresh cost is the batch plus the rollup grid.
    * Published as ONE replace commit (the rollup is grid-sized, so the
    * rewrite is cheap at any fact scale) — readers flip atomically
    * between consistent rollup versions. The first call creates the
    * table from the batch's partials; later calls keep that first
    * version's dtypes (IncrementalAgg.merge casts re-widened decimal
    * sums back), so the maintained schema is stable across arbitrarily
    * many refreshes. */
  def maintainAgg(table: String, batch: DataFrame, keys: Seq[String],
                  aggs: Seq[graft.operators.IncrementalAgg.AggSpec],
                  batchId: Option[Long] = None): Unit = {
    // Replay guard for at-least-once callers (Structured Streaming's
    // foreachBatch commits its checkpoint AFTER the batch function
    // returns, so a crash in between re-delivers the batch): the
    // applied batch id rides INSIDE the rollup's commit directory, so
    // "rollup folded" and "batch id recorded" publish in the same
    // atomic manifest flip — a replayed id is skipped instead of
    // double-counted. Ids are per-checkpoint monotonic; a FRESH
    // checkpoint replays the whole source, so it must maintain a fresh
    // table (documented at the stream wrapper).
    if (replayed(table, batchId)) return
    val p = graft.operators.IncrementalAgg.partial(batch, keys, aggs)
    val merged =
      if (!exists(table)) p
      else graft.operators.IncrementalAgg.merge(this.table(table), p, keys, aggs)
    swap(table, writeBase(table), Seq.empty, merged, batchId = batchId)
  }

  /** [[maintainAgg]]'s sibling for the KMV distinct-sketch family —
    * the sketch is NOT decomposable into IncrementalAgg's sum/min/max
    * algebra (min-k of a SET), but its merge IS pure array algebra, so
    * the same fold shape applies: per refresh, the batch's bounded
    * partial sketches (`kmv_minima`, O(k) buffers, map-side combined)
    * merge into the stored per-group arrays as the k smallest of the
    * array union. The fact is NEVER rescanned, the maintained table
    * stays O(groups · k), and each refresh costs the batch plus the
    * sketch grid. The arrays feed the q163 set algebra downstream
    * ([[graft.expressions.KmvMinima.kmvEstimate]], union/intersection/
    * Jaccard between groups, or against another table's maintained
    * sketch) — a distinct-count and
    * overlap monitor maintained at manifest cost, never a
    * COUNT(DISTINCT) rescan. Merge is associative/commutative/
    * duplicate-insensitive, so refresh order and batch boundaries
    * cannot change the result (KmvSpec pins equality with the one-shot
    * sketch of the union).
    *
    * Same replay guard as [[maintainAgg]]: the applied batch id
    * publishes inside the same atomic commit, so at-least-once callers
    * (foreachBatch) fold each batch exactly once. Requires
    * [[graft.GraftExtensions]] on the session (`kmv_minima` resolves
    * through the function registry). Schema: keys ++ mins array<long>
    * ++ kmv_k int. `k` must stay CONSTANT across a table's refreshes:
    * a sketch is only a valid KMV sample down to the smallest k it was
    * ever truncated to, so growing k mid-life silently degrades the
    * estimator — start a fresh table to re-sketch at a larger k. The
    * contract is ENFORCED, not just documented: every write stamps `k`
    * into the constant `kmv_k` column (self-describing — it rides
    * exports and [[graft.operators.KmvAlgebra.overlap]]'s
    * verification), and a refresh whose `k` disagrees with the stored
    * stamp fails loudly instead of silently truncating the estimator
    * (a mismatched refresh would read a truncated sketch as an EXACT
    * distinct set downstream).
    */
  def maintainKmv(table: String, batch: DataFrame, keys: Seq[String],
                  hashCol: String, k: Int,
                  batchId: Option[Long] = None): Unit = {
    if (replayed(table, batchId)) return
    kmvK(table).foreach { stored =>
      require(stored == k,
        s"maintainKmv('$table'): table is stamped kmv_k=$stored but this " +
          s"refresh passed k=$k — a KMV sketch is only a valid sample down " +
          "to the smallest k it was ever truncated to; start a fresh table " +
          "to re-sketch at a different k")
    }
    val p = batch.groupBy(keys.map(col): _*)
      .agg(graft.expressions.KmvMinima.kmvMinima(col(hashCol), k).as("mins"))
    val merged0 =
      if (!exists(table)) p
      else {
        val noMins = array().cast("array<bigint>")
        this.table(table).select((keys :+ "mins").map(col): _*)
          .withColumnRenamed("mins", "__stored")
          .join(p.withColumnRenamed("mins", "__fresh"), keys, "full_outer")
          .select(keys.map(col) :+
            slice(array_sort(array_union(
              coalesce(col("__stored"), noMins),
              coalesce(col("__fresh"), noMins))), 1, k).as("mins"): _*)
      }
    swap(table, writeBase(table), Seq.empty, merged0.withColumn("kmv_k", lit(k)),
      batchId = batchId)
  }

  /** The `k` a [[maintainKmv]] sketch table was built with, read from
    * its constant `kmv_k` stamp. None when the table doesn't exist, is
    * empty, predates the stamp, or every stamp is NULL (a wholly
    * uncertified outside-the-maintainer write reads as "no certified
    * k", not a throw). A PARTIALLY certified grid — some NULL stamps,
    * or more than one distinct k — fails loudly instead: reading only
    * the non-NULL stamps would let a half-decertified table return the
    * surviving k and read as fully certified, and [[maintainKmv]]
    * would then merge new minima into a corrupt grid. One small
    * aggregate over the sketch grid — the grid is O(groups · k) by
    * contract, so the constancy scan costs what a one-row probe would
    * at any real scale. */
  private[graft] def kmvK(table: String): Option[Int] =
    Option.when(exists(table))(this.table(table))
      .filter(_.columns.contains("kmv_k")).flatMap { df =>
      val r = df.agg(
        count(lit(1)).as("rows"),
        count(col("kmv_k")).as("stamped"),
        countDistinct(col("kmv_k")).as("ks"),
        min(col("kmv_k")).as("k")).head()
      val (rows, stamped, ks) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (rows == 0L || stamped == 0L) None
      else {
        require(stamped == rows && ks == 1L,
          s"kmvK('$table'): kmv_k is not a constant non-NULL stamp " +
            s"(${rows - stamped} NULL row(s), $ks distinct k value(s) " +
            s"over $rows rows) — an outside-the-maintainer write " +
            "decertified part of the sketch grid; rebuild the table " +
            "rather than trusting a partial stamp")
        Some(r.getInt(3))
      }
    }

  private val AppliedBatchIdMarker = "_applied_batch_id"

  /** The last micro-batch id folded into `table` by [[maintainAgg]],
    * read from the marker inside the live commit (metadata-only). */
  private[graft] def appliedBatchId(table: String): Option[Long] =
    liveCommits(table).map(Paths.get(_, AppliedBatchIdMarker)).filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
      .sorted.lastOption

  /** The replay guard of [[maintainAgg]] and [[maintainKmv]]: `batchId`
    * (or a later one) is already folded into `table`. */
  private def replayed(table: String, batchId: Option[Long]): Boolean =
    batchId.exists(id => appliedBatchId(table).exists(_ >= id))

  /** Append a pre-computed delta (already deduped/anti-joined) as a new
    * commit. The delta plan may read `table` itself; it materializes
    * into its own fresh directory, which becomes visible only at the
    * manifest flip — the append can never scan files it is creating.
    *
    * The appended-row count comes from the new commit's footers — no
    * second scan of what was just written. An empty delta publishes
    * nothing: no version, no view refresh, and a missing table stays
    * missing.
    *
    * `clusterBy` declares the within-file sort order the table's
    * commits maintain: each write task's rows are sorted by
    * `partitionBy ++ clusterBy` ([[writeCommit]]), and the
    * auto-compaction pass (see [[compactEvery]]) restores the same
    * clustering when it rewrites. */
  def appendDelta(table: String, delta: DataFrame,
                  partitionBy: Seq[String] = Seq.empty,
                  clusterBy: Seq[String] = Seq.empty): Long =
    append(table, delta, partitionBy, clusterBy, held = None)

  /** [[appendDelta]] of driver-held `rows` of a declared table, as one
    * commit of one file in their order; [[rows]] answers them from
    * memory while the commit is live. */
  private[graft] def appendRows(table: String, rows: Seq[Row]): Long =
    append(table, spark.createDataFrame(rows.asJava, Schemas.schemaOf(table)).coalesce(1),
      Seq.empty, Seq.empty, Some(rows))

  private def append(table: String, delta: DataFrame, partitionBy: Seq[String],
                     clusterBy: Seq[String], held: Option[Seq[Row]]): Long = {
    // layout args are validated BEFORE anything is written: the
    // auto-compaction pass below reuses them, and a require thrown from
    // inside compact() would surface AFTER this append's commit already
    // published — reporting a successful write as a failure
    requireClusterableLayout(delta.schema, partitionBy, clusterBy)
    // the commit claim is tied to THIS read of LATEST (see publish):
    // the new manifest's dir list and its claimed version come from the
    // same observation, so a concurrent commit makes us fail loudly
    // instead of silently dropping it from the list
    val base = writeBase(table)
    val baseDirs = commitsAt(table, base)
    val n = swap(table, base, baseDirs, delta, partitionBy, clusterBy, dropEmpty = true,
      held = held)
    if (n > 0 && compactEvery > 0 && baseDirs.size + 1 >= compactEvery)
      compact(table, partitionBy, clusterBy)
    n
  }

  /** String partition columns would void the clustering promise: the
    * V1 writer wraps them in an empty2null projection, the user sort no
    * longer satisfies the writer's required ordering, and Spark stacks
    * its own partition-only sort on top — silently unsorted files. Fail
    * loudly rather than advertise clustering that isn't. Checked at
    * [[appendDelta]] entry too (not just [[compact]]): auto-compaction
    * reuses the append's layout args, and failing after the append
    * commit published would report a success as a failure. Types come
    * from the schema of the frame being written (the delta, or the
    * table as the reader sees it), so undeclared tables qualify too.
    * Only INT, BIGINT and DATE partition columns pass: an undeclared
    * table's schema is inferred from its partition directories, which
    * read some other types back as STRING (BOOLEAN does), so the append
    * and its auto-compaction must both see a type that round-trips. */
  private def requireClusterableLayout(schema: => StructType, partitionBy: Seq[String],
                                       clusterBy: Seq[String]): Unit =
    if (clusterBy.nonEmpty) {
      val written = schema
      val bad = partitionBy.map(p => p -> written(p).dataType)
        .filterNot { case (_, t) => t == IntegerType || t == LongType || t == DateType }
      require(bad.isEmpty,
        s"clusterBy needs INT, BIGINT or DATE partition columns, got " +
          bad.map { case (p, t) => s"$p ${t.sql}" }.mkString(", ") +
          ": Spark's partitioned writer re-sorts STRING ones by " +
          "empty2null(partition cols), destroying the requested clustering")
    }

  /** Row-level DELETE WHERE with commit-granular file skipping: removes
    * rows whose integral `column` falls in [lo, hi] by rewriting ONLY
    * the commits whose parquet-footer [min, max] intersects the range —
    * every other commit carries into the new version's manifest
    * verbatim (zero read or write I/O for it), and the delete publishes
    * as ONE atomic manifest flip: readers see the old state or the
    * complete post-delete state. This is the opt-out / contamination-purge
    * shape at 100 TB — deleting one id range touches the few commits
    * that contain it, not the table.
    *
    * The same conservative stats rules as [[tableWhere]] apply: a
    * commit with unusable stats is rewritten (pruning must never skip
    * rows it cannot prove unaffected), and NULLs never match a value
    * range, so they survive every delete. A delete matching no commit
    * publishes no new version. Pass the table's layout so rewritten
    * commits keep it. Returns the number of rows deleted.
    */
  def deleteWhere(table: String, column: String, lo: Long, hi: Long,
                  partitionBy: Seq[String] = Seq.empty,
                  clusterBy: Seq[String] = Seq.empty): Long = {
    val base = writeBase(table)
    requireClusterableLayout(schemaAt(table, base), partitionBy, clusterBy)
    // validated against the schema reads use, so catalog-generic tables
    // (quarantine, rollups, sketch tables) qualify too — the
    // quarantine-correction runbook purges a media_quarantine row this
    // way (StreamsSpec executes it)
    requireIntegral(table, base, column, "deleteWhere")
    val live = commitsAt(table, base)
    val affected = live.map(c => c -> footers(Seq(c)))
      .filter { case (_, fs) => intersects(fs, column, lo, hi) }
    if (affected.isEmpty) return 0L
    val affectedSet = affected.map(_._1).toSet
    val kept = live.filterNot(affectedSet)
    val before = affected.map { case (_, fs) => footerRows(fs) }.sum
    val survivors = read(table, live, affected.map(_._1))
      // keep NULLs: a negated BETWEEN would null-out and drop them
      .filter(col(column).isNull || col(column) < lo || col(column) > hi)
    // an empty rewrite dir is noise — EXCEPT when it is the table's
    // only remaining commit: an undeclared table (quarantine, rollup)
    // recovers its schema from commit footers, so a delete that empties
    // it must leave the zero-row commit as the schema carrier (the
    // quarantine-purge runbook hits this correcting the last row —
    // table()/tableWhere on the emptied table stay readable)
    before - swap(table, base, kept, survivors, partitionBy, clusterBy,
      dropEmpty = kept.nonEmpty)
  }

  /** Fold all commits into one (scan-overhead maintenance). Atomic:
    * readers see either the old commit set or the compacted one. Reads
    * the same LATEST the commit claims against — a concurrent append
    * between the read and the claim fails the claim loudly rather than
    * being silently folded away.
    *
    * `clusterBy` re-sorts rows within each write task during the fold
    * (leading with `partitionBy`, which the partitioned writer requires
    * anyway) — compaction is THE moment to restore row-group min/max
    * clustering that incremental appends erode, at zero extra passes:
    * the data is already being rewritten. */
  def compact(table: String, partitionBy: Seq[String] = Seq.empty,
              clusterBy: Seq[String] = Seq.empty,
              numFiles: Int = 0): Unit = {
    // argument validation — before the empty-table early return
    val base = writeBase(table)
    requireClusterableLayout(schemaAt(table, base), partitionBy, clusterBy)
    if (base == 0) return
    val live = commitsAt(table, base)
    val df = read(table, live, live)
    // a fold of commits whose rows are all memoized holds those rows
    val held = live.flatMap(d => Option(heldMemo.get(d)))
    // numFiles > 0: coalesce before the sort — compaction's point is
    // fewer, larger files (small-file debt is what it repays), and the
    // within-partition sort then clusters across what were separate
    // tiny files
    swap(table, base, Seq.empty, if (numFiles > 0) df.coalesce(numFiles) else df,
      partitionBy, clusterBy, held = Option.when(held.size == live.size)(held.flatten))
  }

  /** Live row count from parquet footers only — metadata reads, no
    * Spark job. */
  def rowCount(table: String): Long = footerRows(footers(liveCommits(table)))

  /** Delete commit dirs referenced by neither the LATEST manifest nor
    * the version readers resolve (crashed writers, replaced/compacted
    * history). Assumes no reader is pinned to an older version — run
    * from the single writer, like compaction in any MVCC table format.
    *
    * Refuses, deleting nothing, while `_manifests` holds a `tag.*`
    * file: earlier versions of this catalog wrote those to pin old
    * versions against vacuum, and a pin this catalog no longer reads
    * must never be collected silently. */
  def vacuum(table: String): Int = {
    val md = manifestDir(table)
    val tags = children(md).map(_.getFileName.toString).filter(_.startsWith("tag."))
    require(tags.isEmpty,
      s"vacuum aborted for '$table': ${tags.sorted.mkString(", ")} in $md " +
        "may pin versions this vacuum would delete — move them out of " +
        "_manifests once their versions are no longer needed")
    val liveDirs = liveSet(table)
    val live = liveDirs.map(p => Paths.get(p).getFileName.toString)
    val dead = children(Paths.get(tableDir(table)))
      .filter(p => Files.isDirectory(p))
      .filter(p => p.getFileName.toString != "_manifests")
      .filterNot(p => live(p.getFileName.toString))
    dead.foreach(deleteRecursively)
    retain(table, liveDirs)
    dead.size
  }

  /** Commit dirs `t` still needs: those of its LATEST manifest and of
    * the version readers resolve ([[visibleVersion]]). */
  private def liveSet(t: String): Set[String] =
    (latestVersion(t).toSeq ++ visibleVersion(t)).flatMap(commitsAt(t, _)).toSet

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }
}

object Catalog {
  /** One file index over several commit dirs: each commit's own index
    * lists (and partition-prunes) its files, and the listings are
    * concatenated. The commits share one partition schema ([[read]]
    * checks it). A case class, so two reads over the same memoized
    * commit indexes are the same relation (cache lookups and exchange
    * reuse see one table). */
  private final case class CommitsIndex(commits: Seq[FileIndex]) extends FileIndex {
    def rootPaths: Seq[HPath] = commits.flatMap(_.rootPaths)
    def listFiles(partitionFilters: Seq[Expression],
                  dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      commits.flatMap(_.listFiles(partitionFilters, dataFilters))
    def inputFiles: Array[String] = commits.flatMap(_.inputFiles).toArray
    def refresh(): Unit = commits.foreach(_.refresh())
    def sizeInBytes: Long = commits.map(_.sizeInBytes).sum
    def partitionSchema: StructType = commits.head.partitionSchema
  }

  /** Thrown when a writer loses the create-exclusive race for a
    * manifest or snapshot version file: the commit was NOT published
    * and must be retried against the new table state. */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)
}
