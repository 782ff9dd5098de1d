package graft.ledger

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.operators.MergeUpsert

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
  * '''Warehouse-level atomicity''': the six star-schema tables commit
  * individually, so without more a crash mid-[[Warehouse.run]] would
  * publish dims without the fact. [[transaction]] wraps a multi-table
  * load: inside it, per-table LATEST advances as usual (the writer
  * reads its own writes), but OTHER catalog instances resolve the
  * snapshot-scoped tables through `<root>/_snapshots/LATEST`, a single
  * pointer mapping every warehouse table to a manifest version, flipped
  * once after the body succeeds. A crash anywhere inside the body
  * leaves the published snapshot untouched — readers never observe a
  * half-built load; the next successful run heals by idempotent merge.
  * Non-transactional writes to snapshot-scoped tables bump the snapshot
  * immediately after their table commit, keeping the pointer current.
  *
  * Every table is also registered as a temp view so the full
  * `spark.sql` surface works over the warehouse (SURVEY §3.3).
  *
  * '''One reader, one footer walker, one write tail''': every DataFrame
  * over commit dirs comes from [[read]], under the schema [[schemaAt]]
  * resolves (evolved record, else declared, else the first commit's),
  * so reads, rewrites ([[compact]], [[compactSmall]], [[deleteWhere]])
  * and pruned reads ([[tableWhere]]) agree on columns and initial
  * defaults. Every metadata answer (row counts, id resume offsets,
  * commit pruning, [[stats]], commit sizes) comes from [[footers]] /
  * [[dataFiles]], which fail loudly on a missing live commit dir.
  * Every write lands through [[writeCommit]].
  *
  * Scale: dims stay tiny so their merge anti-joins broadcast; the fact
  * merge anti-joins on `id_hash` and its commits are partitioned by
  * (ano, mes), so month-sliced reads prune whole directories. Many
  * small commits accumulate scan overhead — [[compact]] folds a table
  * back to one commit (same manifest flip, fully atomic).
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

  /** Tables covered by the warehouse-level snapshot pointer: the star
    * schema that [[Warehouse.run]] must publish atomically. Staging and
    * rejects are batch scratch — per-table commits are the right
    * granularity there. */
  private val baseSnapshotScoped: Set[String] = Set(
    "dim_tempo", "dim_tipo", "dim_grupo", "dim_categoria",
    "dim_classificacao", "fato_lancamento")

  /** Tables registered into snapshot scope beyond the star schema
    * ([[registerSnapshotScoped]]) — e.g. an export's data+manifest pair
    * that must flip together. Concurrent set: registration may race a
    * reader thread resolving scope. */
  private val extraSnapshotScoped =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def snapshotScoped(t: String): Boolean =
    baseSnapshotScoped(t) || extraSnapshotScoped.contains(t)

  /** Every snapshot-scoped table, base + registered, in stable order. */
  private def scopedTables: Seq[String] =
    (baseSnapshotScoped ++ extraSnapshotScoped.asScala).toSeq.sorted

  /** Extend snapshot scope to `tables`: their commits inside a
    * [[transaction]] stay invisible until the single snapshot flip,
    * their begin-state is recorded in INFLIGHT (so a crashed
    * transaction rolls them back too), and direct commits bump the
    * snapshot pointer like any star-schema table. The mechanism
    * [[graft.operators.ShardedExport.export]] needs for its
    * "data + manifest appear together or not at all" contract —
    * without scope, each replace flips that table's LATEST
    * immediately and a reader between the two replaces sees new data
    * with the old manifest.
    *
    * Scope is per-instance: a reader wanting the atomic view of
    * registered tables must register the same names (otherwise it
    * reads their per-table LATEST). A table that already exists with
    * a head the published snapshot does not cover is migrated in with
    * a single-table snapshot bump — but ONLY a head that is provably
    * committed: a head ABOVE an existing snapshot entry is the
    * crashed-transaction shape that [[recoverTransaction]] owns and
    * is left alone here, and when an INFLIGHT marker RECORDS the
    * table, the current head may be the marker-owner's uncommitted
    * write (first-ever export crashed between its data and manifest
    * replaces, new process re-runs the export — registration here
    * precedes transaction-begin recovery). Bumping the raw head in
    * that state would publish the aborted version AND floor
    * [[rollbackScopedHeads]] at it, permanently blessing data no
    * transaction committed. Instead the bump uses the marker's
    * RECORDED begin version for that table (committed by
    * construction: begin rolls back any prior crash before recording)
    * — or nothing, if the table didn't exist at begin. Idempotent
    * (and re-runnable after recovery: the bump re-fires for a scoped
    * table that still lacks a snapshot entry); not allowed inside a
    * transaction. */
  def registerSnapshotScoped(tables: String*): Unit = {
    require(!inTxn, "cannot change snapshot scope inside a transaction")
    val inflight = snapDir.resolve("INFLIGHT")
    val recorded: Map[String, Int] =
      if (Files.exists(inflight)) readInflight(inflight)._2 else Map.empty
    tables.foreach { t =>
      extraSnapshotScoped.add(t)
      if (!baseSnapshotScoped(t) && latestSnapshot.isDefined &&
          !snapshotVersions.contains(t)) {
        val committedHead =
          if (recorded.contains(t)) Some(recorded(t)).filter(_ > 0)
          else latestVersion(t)
        committedHead.foreach(v => publishSnapshot(single = Some(t -> v)))
      }
    }
  }

  /** AtomicBoolean, not a @volatile check-then-act: two threads racing
    * [[transaction]] on the same instance must leave exactly one inside
    * (the loser fails loudly like every other race in this class), never
    * both past the guard with interleaved INFLIGHT writes. */
  private val inTxnFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def inTxn: Boolean = inTxnFlag.get()

  private def tableDir(t: String): String = s"$root/$t"
  private def manifestDir(t: String): Path = Paths.get(tableDir(t), "_manifests")
  private def snapDir: Path = Paths.get(root, "_snapshots")

  private def latestVersion(t: String): Option[Int] = {
    val p = manifestDir(t).resolve("LATEST")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt)
    else None
  }

  private def latestSnapshot: Option[Int] = {
    val p = snapDir.resolve("LATEST")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt)
    else None
  }

  /** table → manifest version map of the published snapshot (empty if
    * none has been published yet). */
  def snapshotVersions: Map[String, Int] =
    latestSnapshot.map(snapshotVersionsAt).getOrElse(Map.empty)

  private def snapshotVersionsAt(n: Int): Map[String, Int] =
    Files.readAllLines(snapDir.resolve(s"s$n"), StandardCharsets.UTF_8)
      .asScala.filter(_.nonEmpty).map { line =>
        val Array(t, v) = line.split(' '); t -> v.toInt
      }.toMap

  /** The manifest version a READ of `t` resolves to: the writer inside
    * a transaction (and any table outside snapshot scope, or before the
    * first snapshot) reads per-table LATEST; everyone else reads the
    * published snapshot for scoped tables. */
  private def readVersion(t: String): Option[Int] =
    if (inTxn || !snapshotScoped(t)) latestVersion(t)
    else snapshotVersions.get(t).orElse(
      if (latestSnapshot.isEmpty) latestVersion(t) else None)

  /** The base version a WRITE builds on and claims over. Inside a
    * transaction (and for unscoped tables, and before the first
    * snapshot) that is the per-table head. A DIRECT write to a scoped
    * table bases on the PUBLISHED snapshot instead: if a crashed or
    * live transaction has advanced the head beyond the snapshot, the
    * direct write's claim collides with that head's version file and
    * fails loudly — it must never silently build on (and then publish)
    * rows no transaction ever committed. */
  private def writeBase(t: String): Int =
    if (inTxn || !snapshotScoped(t) || latestSnapshot.isEmpty)
      latestVersion(t).getOrElse(0)
    else snapshotVersions.getOrElse(t, 0)

  /** Commit dirs (absolute paths) recorded in manifest version `v`;
    * version 0 (no table yet) has none. */
  private def commitsAt(t: String, v: Int): Seq[String] =
    if (v == 0) Seq.empty
    else Files.readAllLines(manifestDir(t).resolve(s"v$v"), StandardCharsets.UTF_8)
      .asScala.toSeq.filter(_.nonEmpty)

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

  private def atomicWrite(dir: Path, name: String, body: String): Unit = {
    // dot-prefixed for the claimVersionFile reason: a crash-orphaned
    // temp must not match any listing's name-prefix filter
    val tmp = dir.resolve(s".$name.tmp${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish `dirs` as the new table state: claim v{base+1} with
    * create-exclusive (the fence), then flip LATEST via write-temp +
    * atomic rename.
    *
    * `base` is the LATEST version the CALLER observed when it computed
    * `dirs` — the claim is tied to that read, never to a re-read of
    * LATEST here. Otherwise a concurrent writer flipping LATEST between
    * the caller's read and the claim would let this commit claim
    * base+2 "successfully" while silently dropping the other writer's
    * commit dirs from its list; with the base threaded through, the
    * stale writer collides on v{base+1} and fails loudly instead. */
  private def commit(t: String, dirs: Seq[String], base: Int): Unit = {
    val md = manifestDir(t)
    Files.createDirectories(md)
    val next = base + 1
    claimVersionFile(md, s"v$next", dirs.mkString("\n"),
      s"table $t version $next")
    atomicWrite(md, "LATEST", next.toString)
    // keep the warehouse pointer current for direct (non-transactional)
    // writes to scoped tables; inside a transaction the single flip
    // happens once, at the end
    if (!inTxn && snapshotScoped(t) && latestSnapshot.isDefined)
      publishSnapshot(single = Some(t -> next))
  }

  /** Create-exclusive claim of a manifest/snapshot file: exactly one of
    * any number of racing writers wins; losers get a loud
    * [[ConcurrentWriteException]] instead of silently overwriting the
    * winner's commit.
    *
    * Write-temp + hard-LINK to the final name, because the claim must
    * be exclusive AND crash-atomic at once: a plain
    * CREATE_NEW-then-write leaves an EMPTY claim file if the writer
    * dies between create and write (observed risk: an empty tag.* file
    * made tags() — and through it vacuum() — throw until manual
    * cleanup), and rename(2) (ATOMIC_MOVE) silently REPLACES an
    * existing target on POSIX, losing exclusivity. link(2) is both:
    * the final name appears atomically with its full content, or fails
    * EEXIST. The temp file is cleaned here on every path; one orphaned
    * by a hard kill matches the `.tmp` pattern recover() deletes.
    * Filesystems without hard-link support fall back to CREATE_NEW
    * (exclusive, but with the empty-file crash window back open —
    * contained by the unparseable-tag skip/abort machinery). */
  private def claimVersionFile(dir: Path, name: String, body: String,
                               what: String): Unit = {
    // dot-prefixed temp: "tag.rel.tmpX" would match tags()' "tag."
    // prefix filter (a fully-written orphan surfaces as a phantom tag,
    // and rollback's tag-drop could delete a LIVE writer's temp);
    // ".tag.rel.tmpX" matches no listing prefix while keeping the
    // ".tmp" substring recover() cleans
    val tmp = dir.resolve(
      s".$name.tmp${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    def lostRace(): Nothing =
      throw new Catalog.ConcurrentWriteException(
        s"lost the race claiming $what: another writer holds " +
          s"${dir.resolve(name)} (or a crashed one left it behind — " +
          "run recover() after confirming no writer is live)")
    // filesystems without hard links fall back to CREATE_NEW + write.
    // Still exclusive (CREATE_NEW fails EEXIST); NOT crash-atomic — a
    // writer dying between create and write leaves an empty claim
    // file, the exact artifact the unparseable-tag machinery (tags()
    // skips with a warning, vacuum aborts loudly) exists to contain.
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

  /** Flip the snapshot pointer atomically. At a transaction end
    * (`single = None`) every scoped table's current LATEST is recorded
    * — correct there, because the transaction body owns all of them.
    * For a direct single-table commit, ONLY that table advances over
    * the previously published map: rebuilding from per-table LATEST
    * would republish commits left behind by an aborted transaction on
    * OTHER tables, exposing exactly the half-built state the snapshot
    * exists to hide.
    *
    * The s{N+1} claim is tied to the SAME observed base N the map was
    * built from (the commit() fence pattern); losing the claim race
    * means another writer published meanwhile, so the map is rebuilt
    * over THEIR snapshot and the claim retried — a concurrent bump to a
    * different table merges instead of silently vanishing. */
  private def publishSnapshot(single: Option[(String, Int)] = None): Unit = {
    Files.createDirectories(snapDir)
    var attempts = 0
    var done = false
    while (!done) {
      val base = latestSnapshot.getOrElse(0)
      val versions = single match {
        case Some((t, v)) =>
          (if (base == 0) Map.empty[String, Int] else snapshotVersionsAt(base)) + (t -> v)
        case None =>
          scopedTables.flatMap(t => latestVersion(t).map(t -> _)).toMap
      }
      val body = versions.toSeq.sorted.map { case (t, v) => s"$t $v" }.mkString("\n")
      try {
        claimVersionFile(snapDir, s"s${base + 1}", body, s"snapshot ${base + 1}")
        atomicWrite(snapDir, "LATEST", (base + 1).toString)
        done = true
      } catch {
        case e: Catalog.ConcurrentWriteException =>
          attempts += 1
          if (attempts > 5) throw new IllegalStateException(single match {
            case Some((t, _)) =>
              s"table $t's commit IS published, but the snapshot bump kept " +
                s"losing the claim race — the snapshot pointer is stale for $t " +
                "(run recover() once no writer is live; it re-syncs the pointer)"
            case None =>
              "the transaction's snapshot publish kept losing the claim race — " +
                "the transaction is NOT visible; its INFLIGHT marker remains, so " +
                "the next transaction begin will roll it back (run recover() to " +
                "clear orphan s-file claims once no writer is live)"
          }, e)
      }
    }
  }

  /** Run a multi-table load with warehouse-level atomicity: the body's
    * per-table commits stay invisible to other catalog instances until
    * the single snapshot flip after it returns. The writer itself reads
    * its own in-progress writes (loaders are chained). Not reentrant;
    * one transaction at a time per instance.
    *
    * BEGIN semantics: the per-table head versions are recorded in an
    * INFLIGHT marker before the body runs; if a previous transaction
    * crashed (marker still present), every scoped head is first rolled
    * back to the versions that marker recorded. Without this, the new
    * body would read and build on never-published rows: merge-based
    * loaders would merely skip work, but a non-merging path
    * (strictQuirks dim_tempo blind append) would append the aborted
    * batch a SECOND time — a state the reference's Postgres
    * transactions could never produce. Rolling back to the recorded
    * begin-state (not to the snapshot) keeps legitimate
    * pre-first-snapshot direct writes intact. Crash-recovery runs at
    * the next transaction begin; direct appendDelta calls between a
    * crash and that begin build on the unpublished head — route loads
    * through transactions (Warehouse.run does). */
  def transaction[T](body: => T): T = {
    require(inTxnFlag.compareAndSet(false, true),
      "transaction already in progress on this Catalog instance " +
        "(not reentrant; one transaction per instance at a time)")
    try {
      Files.createDirectories(snapDir)
      val inflight = snapDir.resolve("INFLIGHT")
      if (Files.exists(inflight)) {
        // whose marker? Our own instance's ⇒ our previous transaction
        // crashed mid-body: heal automatically. Anyone else's ⇒ either a
        // LIVE writer (rolling it back would corrupt both transactions
        // silently) or a dead one — we cannot tell from here, so fail
        // loudly and let the operator call recoverTransaction() once the
        // other writer is confirmed dead.
        val (owner, _) = readInflight(inflight)
        if (owner != instanceId)
          throw new Catalog.ConcurrentWriteException(
            s"another writer's transaction is in flight at $inflight " +
              "(or a crashed one left it behind — run recoverTransaction() " +
              "after confirming no writer is live)")
        rollbackToInflight(inflight)
      }
      // the snapshot must exist BEFORE the body commits anything: without
      // one, scoped reads fall back to per-table LATEST and a crash
      // mid-FIRST-load would expose the half-built schema — the only
      // window where the atomicity promise used to be void. The initial
      // snapshot freezes whatever bootstrap state exists (usually empty).
      if (latestSnapshot.isEmpty) publishSnapshot()
      // every scoped table is recorded, absent ones as version 0: a
      // crashed transaction that CREATED a registered table must roll
      // it back to nonexistence, even when the recovering instance has
      // a different registration set (rollback iterates the union of
      // its own scope and the marker's recorded tables)
      val beginState = (s"owner $instanceId" +: scopedTables
        .map(t => s"$t ${latestVersion(t).getOrElse(0)}")).mkString("\n")
      // atomic write: a crash mid-write must never leave a truncated
      // marker (a half-recorded state would roll tables back too far)
      atomicWrite(snapDir, "INFLIGHT", beginState)
      val out = body
      publishSnapshot()
      // crash between publish and this delete is benign: the next begin
      // rolls "back" to versions that equal the published heads (no-op)
      Files.deleteIfExists(inflight)
      out
    } finally inTxnFlag.set(false)
  }

  /** Explicit crash recovery for a transaction started by ANOTHER
    * catalog instance: rolls scoped heads back to the marker's recorded
    * begin-state and clears the marker. Call only after confirming no
    * writer is live. Returns true if a marker was cleared. */
  def recoverTransaction(): Boolean = {
    val inflight = snapDir.resolve("INFLIGHT")
    if (!Files.exists(inflight)) false
    else { rollbackToInflight(inflight); true }
  }

  private def readInflight(p: Path): (String, Map[String, Int]) = {
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty)
    val owner = lines.headOption match {
      case Some(l) if l.startsWith("owner ") => l.drop("owner ".length)
      case _ => ""
    }
    val state = lines.drop(1).map { line =>
      val Array(t, v) = line.split(' '); t -> v.toInt
    }.toMap
    (owner, state)
  }

  private def rollbackToInflight(inflight: Path): Unit = {
    val (_, recorded) = readInflight(inflight)
    rollbackScopedHeads(recorded)
    Files.deleteIfExists(inflight)
  }

  /** Roll every scoped table's LATEST back to `target` (absent table →
    * no version at all), deleting the now-orphaned manifest claims so
    * the next commit can re-claim those versions. Orphan DATA dirs stay
    * until [[vacuum]]. The published snapshot is a floor: a table
    * legitimately committed-and-published AFTER the marker was written
    * (a direct write between the crash and this recovery) must never be
    * rolled below what readers already resolve. */
  private def rollbackScopedHeads(target: Map[String, Int]): Unit = {
    val published = snapshotVersions
    (scopedTables ++ target.keys).distinct.foreach { t =>
      latestVersion(t).foreach { head =>
        val tv = math.max(target.getOrElse(t, 0), published.getOrElse(t, 0))
        if (head > tv) {
          val md = manifestDir(t)
          if (tv > 0) atomicWrite(md, "LATEST", tv.toString)
          else Files.deleteIfExists(md.resolve("LATEST"))
          // drop tags pinning the versions being rolled back, loudly:
          // the next commit RE-CLAIMS those version numbers with
          // different data, so a surviving tag would silently re-point
          // — worse than the immutability break it looks like. The
          // tagged state was never published; rolling it back rolls
          // back its tags with it.
          tags(t).foreach { case (name, v) =>
            if (v > tv) {
              System.err.println(s"[catalog] rollback of $t to v$tv " +
                s"drops tag '$name' (pinned the aborted v$v)")
              Files.deleteIfExists(md.resolve(s"tag.$name"))
            }
          }
          (tv + 1 to head).foreach(v => Files.deleteIfExists(md.resolve(s"v$v")))
        }
      }
    }
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
    * flipped its table's LATEST but crashed before the snapshot bump
    * leaves the pointer behind the head, and every later direct write
    * to that table bases on the stale snapshot, collides with the
    * already-published v{N}, and fails — a state only a snapshot
    * re-sync can clear. Re-syncing from per-table heads is safe exactly
    * when no INFLIGHT marker exists: with a marker, heads above the
    * snapshot may be an aborted transaction's unpublished writes, which
    * [[recoverTransaction]] (rollback, not publish) owns. */
  def recover(): Int = {
    def clean(dir: Path, latest: Int, prefix: String): Int = {
      val orphans = children(dir).map(_.getFileName.toString).filter { n =>
        // toIntOption (the tags() rationale): an over-long digit run
        // from foreign interference must not brick recovery
        (n.startsWith(prefix) &&
          n.drop(prefix.length).toIntOption.exists(_ > latest)) ||
          n.contains(".tmp")
      }
      orphans.foreach(n => Files.deleteIfExists(dir.resolve(n)))
      orphans.size
    }
    // every table that HAS a manifest dir, not just the declared star
    // schema: registered snapshot-scope tables (exports) and undeclared
    // appendDelta tables crash like any other, and an orphan claim
    // above their LATEST blocks every future commit until cleared
    val allTables: Seq[String] = (Schemas.tableNames ++ children(Paths.get(root))
      .filter(p => Files.isDirectory(p) && Files.exists(p.resolve("_manifests")))
      .map(_.getFileName.toString)).distinct
    val tables = allTables.map(t =>
      clean(manifestDir(t), latestVersion(t).getOrElse(0), "v")).sum
    // rollbackScopedHeads drops tags atop the manifests it rewinds, but
    // a crash between its LATEST flip and its tag loop leaves a tag
    // pinning a version ABOVE the head; once a later commit re-claims
    // that version number, tableAtTag's liveness check passes again and
    // the tag silently serves data it never pinned. Recovery owns that
    // window: a tag above the recovered head can never become valid.
    val droppedTags = allTables.map { t =>
      val head = latestVersion(t).getOrElse(0)
      tags(t).count { case (name, v) =>
        v > head && {
          System.err.println(s"[catalog] recover drops tag '$name' of $t " +
            s"(pinned v$v above the recovered head v$head)")
          Files.deleteIfExists(manifestDir(t).resolve(s"tag.$name"))
        }
      }
    }.sum
    val cleared = tables + droppedTags +
      clean(snapDir, latestSnapshot.getOrElse(0), "s")
    if (!Files.exists(snapDir.resolve("INFLIGHT")) && latestSnapshot.isDefined) {
      val published = snapshotVersions
      val stale = scopedTables.exists(t =>
        latestVersion(t).exists(_ > published.getOrElse(t, 0)))
      if (stale) publishSnapshot() // rebuild from per-table heads
    }
    cleared
  }

  private def newCommitDir(t: String): String = {
    val v = latestVersion(t).getOrElse(0) + 1
    s"${tableDir(t)}/c${v}_${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** The shared write tail: `df` into a fresh commit dir of `t`,
    * hive-partitioned on `partitionBy`, each task's rows sorted by
    * `partitionBy ++ clusterBy` when `clusterBy` is set (the
    * partitioned writer requires the partition columns to lead), with
    * the applied-batch-id marker inside the dir when `batchId` is set.
    * Returns the dir; nothing is visible until the caller's [[commit]]. */
  private def writeCommit(t: String, df: DataFrame,
                          partitionBy: Seq[String] = Seq.empty,
                          clusterBy: Seq[String] = Seq.empty,
                          batchId: Option[Long] = None): String = {
    val dir = newCommitDir(t)
    val sorted =
      if (clusterBy.isEmpty) df
      else df.sortWithinPartitions((partitionBy ++ clusterBy).map(col): _*)
    val w = sorted.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
    batchId.foreach { id =>
      val marker = new HPath(dir, AppliedBatchIdMarker)
      val out = marker.getFileSystem(spark.sessionState.newHadoopConf()).create(marker, true)
      try out.write(id.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    dir
  }

  def exists(table: String): Boolean = latestVersion(table).isDefined

  // ---------------------------------------------------------------------
  // schema evolution (add-column)

  /** Evolve a table: add a nullable column of `ddlType` with an
    * optional SQL `default` applied to rows that PRE-DATE the column
    * (Iceberg initial-default semantics — rows written after the
    * evolution read back exactly what was written, including NULL).
    *
    * Metadata-only: publishes a new manifest version carrying the SAME
    * commit dirs plus a `schema_v{N}` record; no data file is touched.
    * Readers resolve the newest schema record at-or-below their
    * version, so time travel to a pre-evolution version sees the old
    * shape, and commits whose parquet footers lack the column are
    * filled with the default per commit (never blanket-coalesced —
    * a post-evolution NULL stays NULL). */
  def addColumn(table: String, column: String, ddlType: String,
                default: Option[String] = None): Unit = {
    val base = writeBase(table)
    require(base >= 1, s"cannot evolve '$table': table does not exist")
    val (cur, priorDefaults) = schemaAt(table, base)
    require(!cur.fieldNames.map(_.toLowerCase).contains(column.toLowerCase),
      s"column '$column' already exists on '$table'")
    val md = manifestDir(table)
    val next = base + 1
    claimVersionFile(md, s"v$next", commitsAt(table, base).mkString("\n"),
      s"table $table version $next (add column $column)")
    // prior defaults carry forward; the record is self-contained so a
    // reader never has to walk older schema files
    val defaults = priorDefaults ++ default.map(column -> _)
    val body = ("ddl:" + cur.add(column, ddlType, nullable = true).toDDL) +:
      defaults.toSeq.sorted.map { case (c, d) => s"default:$c:$d" }
    atomicWrite(md, s"schema_v$next", body.mkString("\n"))
    atomicWrite(md, "LATEST", next.toString)
    if (!inTxn && snapshotScoped(table) && latestSnapshot.isDefined)
      publishSnapshot(single = Some(table -> next))
  }

  /** Newest schema record at-or-below `version`: (evolved schema,
    * per-column initial defaults). None = never evolved. */
  private def evolvedSchemaAt(t: String, version: Int):
      Option[(StructType, Map[String, String])] = {
    val md = manifestDir(t)
    (version to 1 by -1).iterator
      .map(v => md.resolve(s"schema_v$v"))
      .find(Files.exists(_))
      .map { p =>
        val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        val ddl = lines.collectFirst { case l if l.startsWith("ddl:") => l.drop(4) }
          .getOrElse(throw new IllegalStateException(s"malformed schema record $p"))
        val defaults = lines.collect {
          case l if l.startsWith("default:") =>
            val rest = l.drop(8); val i = rest.indexOf(':')
            rest.take(i) -> rest.drop(i + 1)
        }.toMap
        (StructType.fromDDL(ddl), defaults)
      }
  }

  // ---------------------------------------------------------------------
  // the commit reader: every DataFrame over commit dirs is built here

  /** Scan one commit dir under `schema` (inferred from its footers when
    * None). Partition columns (fact: ano/mes) come back through the
    * per-commit basePath; pruning applies per scan. */
  private def scan(dir: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).option("basePath", dir).parquet(dir)

  /** The schema a read of `t` at manifest `version` uses, with the
    * initial defaults of columns [[addColumn]] added: the newest schema
    * record at-or-below `version`, else the declared schema, else the
    * schema of the version's first commit. Tables outside the star
    * contract (rollups, exports) exist only once written, so a missing
    * one is a loud error, never a guess at a schema this catalog never
    * declared. */
  private def schemaAt(t: String, version: Int): (StructType, Map[String, String]) =
    evolvedSchemaAt(t, version).getOrElse {
      val schema = Schemas.schemaOfOpt(t).getOrElse {
        val commits = commitsAt(t, version)
        require(commits.nonEmpty,
          s"table '$t' has no declared schema and no committed data")
        scan(commits.head).schema
      }
      (schema, Map.empty[String, String])
    }

  /** Union of `commits` under [[schemaAt]]`(t, version)`, or an empty
    * frame of that schema. A commit whose files pre-date an evolved
    * column gets that column's initial default — checked per commit
    * through its footers, so a NULL written after the evolution stays
    * NULL. Only tables with defaults pay that footer read: a declared,
    * never-evolved table opens no file here. */
  private def read(t: String, version: Int, commits: Seq[String]): DataFrame = {
    val (schema, defaults) = schemaAt(t, version)
    if (commits.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    commits.map { c =>
      val present =
        if (defaults.isEmpty) Set.empty[String]
        else scan(c).schema.fieldNames.map(_.toLowerCase).toSet
      schema.fieldNames
        .filter(f => defaults.contains(f) && !present(f.toLowerCase))
        .foldLeft(scan(c, Some(schema))) { (df, f) =>
          df.withColumn(f, expr(defaults(f)).cast(schema(f).dataType))
        }.select(schema.fieldNames.map(col): _*)
    }.reduce(_.unionAll(_))
  }

  /** [[read]] of manifest `version` that first checks its commit dirs
    * survive: [[vacuum]] keeps only the LATEST version's (and tagged
    * versions') files, and a missing dir should fail here naming the
    * cause rather than as FileNotFound deep in the scan. */
  private def readUnvacuumed(table: String, version: Int): DataFrame = {
    val commits = commitsAt(table, version)
    val gone = commits.filterNot(c => Files.exists(Paths.get(c)))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"$table version $version was vacuumed: missing commit dirs " +
          gone.mkString(", "))
    read(table, version, commits)
  }

  // ---------------------------------------------------------------------
  // the footer walker: every metadata answer is read from footers here

  /** Parquet data files under the commit `dirs` (a file-system
    * listing, no Spark job). A dir that is MISSING is corruption — external deletion
    * or a vacuum race — never an empty commit: fail loudly, because a
    * silently skipped commit would under-count rows, lower an id offset
    * (minting duplicate surrogate ids) or prune rows that exist. */
  private def dataFiles(dirs: Seq[String],
                        conf: Configuration = spark.sessionState.newHadoopConf()): Seq[FileStatus] =
    dirs.flatMap { dir =>
      val p = new HPath(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p))
        throw new IllegalStateException(
          s"live commit dir is missing: $dir — the manifest references " +
            "files that no longer exist (external deletion or vacuum race)")
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    }

  /** Footers of every data file under `dirs` — what a table format
    * records at commit time. Opened in parallel (bounded by the common
    * pool) because a partitioned append writes one file per directory
    * (80 months = 80 footers) and the opens are independent reads; a
    * serial loop would charge every append per-directory latency. */
  private def footers(dirs: Seq[String]): Seq[ParquetMetadata] = {
    import scala.collection.parallel.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(dirs, conf).par.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try reader.getFooter finally reader.close()
    }.seq
  }

  private def rows(fs: Seq[ParquetMetadata]): Long =
    fs.iterator.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum

  private def rowCount(dir: String): Long = rows(footers(Seq(dir)))

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

  /** Committed manifest versions, ascending (1 = first commit). Every
    * write (replace / appendDelta / compact) publishes a new version;
    * old manifests stay on disk until [[vacuum]]. Derived from the
    * READ-resolved head — never from per-table LATEST alone, and never
    * from a directory listing: a crashed writer's claimed-but-
    * unpublished versions (orphan v-file, or a scoped head an aborted
    * transaction advanced past the snapshot) must stay as invisible to
    * time travel as they are to [[table]]. */
  def versions(table: String): Seq[Int] =
    readVersion(table).fold(Seq.empty[Int])(v => (1 to v).toSeq)

  /** Time travel: the table exactly as published at manifest `version`
    * (Delta-style `versionAsOf`). Valid as long as the version's commit
    * dirs survive — [[vacuum]] keeps only the LATEST version's files,
    * so pin or copy historical versions before vacuuming. */
  def tableAt(table: String, version: Int): DataFrame = {
    require(versions(table).contains(version),
      s"$table has no version $version (have: ${versions(table).mkString(",")})")
    readUnvacuumed(table, version)
  }

  /** Named immutable refs (Iceberg-style tags): pin the table's state
    * at manifest `version` (default: the current head) under `name`,
    * readable forever as [[tableAtTag]] — and [[vacuum]] keeps every
    * tagged version's commit dirs alive, where plain [[tableAt]] time
    * travel is only valid until the next vacuum. Tags are
    * create-exclusive and immutable ([[claimVersionFile]], the same
    * fence as manifests: silently re-pointing a published release is
    * exactly the overwrite the fencing discipline exists to prevent);
    * [[dropTag]] + re-[[tag]] is the explicit way to move one.
    * Returns the pinned version. */
  def tag(table: String, name: String, version: Int = -1): Int = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name '$name' must match [A-Za-z0-9._-]+")
    val v =
      if (version == -1) readVersion(table).getOrElse(throw new
        IllegalArgumentException(s"$table has no published version to tag"))
      else version
    require(versions(table).contains(v),
      s"$table has no version $v (have: ${versions(table).mkString(",")})")
    claimVersionFile(manifestDir(table), s"tag.$name", v.toString,
      s"tag '$name' on $table")
    v
  }

  /** All tags on `table` (name → pinned manifest version). */
  def tags(table: String): Map[String, Int] =
    // skip-and-report unparseable tag files instead of throwing:
    // tags() feeds vacuum(), so one corrupt file (a pre-hard-link
    // crashed claim, or outside interference) must not brick vacuuming
    // and tag listing for the whole table
    tagFiles(table).flatMap {
      case (f, Right(v)) => Some(f.stripPrefix("tag.") -> v)
      case (f, Left(raw)) =>
        System.err.println(s"[catalog] skipping unparseable tag file " +
          s"${manifestDir(table).resolve(f)} (content '$raw') — a crashed or " +
          "foreign write; delete it (or re-tag) to clear this warning")
        None
    }.toMap

  /** Tag files whose content does not parse as a version — crashed
    * claims or foreign writes. Listing ([[tags]]) skips them with a
    * warning; the destructive path ([[vacuum]]) must abort on them. */
  private def unparseableTagFiles(table: String): Seq[String] =
    tagFiles(table).collect { case (f, Left(_)) => f }

  /** Every `tag.*` file of `table` with its pinned version, or its raw
    * content when that does not parse. toIntOption, not isDigit+toInt:
    * an all-digit value above Int.MaxValue would pass the digit guard
    * and throw from toInt. */
  private def tagFiles(table: String): Seq[(String, Either[String, Int])] =
    children(manifestDir(table)).map(_.getFileName.toString)
      .filter(_.startsWith("tag.")).map { f =>
        val raw = new String(Files.readAllBytes(manifestDir(table).resolve(f)),
          StandardCharsets.UTF_8).trim
        f -> raw.toIntOption.toRight(raw)
      }

  /** The table exactly as pinned by `name` (see [[tag]]).
    *
    * Resolved from the tag's pinned version DIRECTLY, not through
    * [[tableAt]]'s `versions()` gate: `versions()` is scoped to the
    * READ-resolved head (the published snapshot for scoped tables), and
    * a tag may legitimately pin a version ahead of it — e.g. tagged
    * inside a transaction whose snapshot publish later aborted. The
    * "readable forever" contract depends only on the tag's claim file,
    * its manifest, and its commit dirs, all of which [[vacuum]]
    * preserves; the only loud failures are a dangling tag (manifest
    * rolled back by recovery) or vacuumed commit dirs from BEFORE the
    * tag existed. */
  def tableAtTag(table: String, name: String): DataFrame = {
    val v = tags(table).getOrElse(name,
      throw new IllegalArgumentException(s"$table has no tag '$name' " +
        s"(have: ${tags(table).keys.toSeq.sorted.mkString(", ")})"))
    if (!Files.exists(manifestDir(table).resolve(s"v$v")))
      throw new IllegalStateException(
        s"tag '$name' on $table pins version $v but manifest v$v no " +
          "longer exists (rolled back by transaction recovery?) — the " +
          "tag is dangling; dropTag and re-tag a live version")
    readUnvacuumed(table, v)
  }

  /** Remove a tag; its version's commit dirs become vacuum-eligible
    * again (unless still the head / snapshot-referenced / otherwise
    * tagged). Returns false when no such tag existed. */
  def dropTag(table: String, name: String): Boolean =
    Files.deleteIfExists(manifestDir(table).resolve(s"tag.$name"))

  /** Read a table (union of live commits), or an empty frame with the
    * declared schema — [[read]] at the read-resolved version. */
  def table(table: String): DataFrame = {
    val v = readVersion(table).getOrElse(0)
    read(table, v, commitsAt(table, v))
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
              partitionBy: Seq[String] = Seq.empty): Long = {
    val base = writeBase(table)
    val dir = writeCommit(table, df, partitionBy)
    val n = rowCount(dir)
    commit(table, Seq(dir), base)
    register(table)
    n
  }

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
    * commits go through [[read]], so columns and initial defaults are
    * exactly [[table]]'s. */
  def tableWhere(table: String, column: String, lo: Long, hi: Long): DataFrame = {
    val v = readVersion(table).getOrElse(0)
    requireIntegral(table, v, column, "tableWhere")
    read(table, v, commitsInRange(table, column, lo, hi))
      .filter(col(column) >= lo && col(column) <= hi)
  }

  /** `column` of `t` at `version` must be INT or BIGINT: footer-range
    * pruning reads integral statistics only. */
  private def requireIntegral(t: String, version: Int, column: String, op: String): Unit = {
    val dt = schemaAt(t, version)._1(column).dataType
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

  /** K3 upsert merge (`… ON CONFLICT DO UPDATE` /
    * `MERGE WHEN MATCHED THEN UPDATE`). Matched rows are replaced by
    * the batch's latest version (per `orderBy` desc), new keys
    * inserted, the rest kept. Published as ONE replace commit — the
    * merged plan reads the current version while writing into a fresh
    * commit dir, and readers flip atomically at the manifest rename
    * (same visibility contract as [[replace]]). A full-table rewrite
    * is the right shape for dimension tables; for partitioned facts
    * prefer the Warehouse's partition-pruned anti-join merge. */
  def mergeUpsert(table: String, batch: DataFrame, keys: Seq[String],
                  orderBy: Seq[org.apache.spark.sql.Column] = Seq.empty): Unit =
    // table() returns an empty declared-schema frame for a missing
    // table, so the result always carries exactly the table's columns
    // (batch-only ordering columns never leak into the commit)
    replace(table, MergeUpsert.upsert(this.table(table), batch, keys, orderBy))

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
    batchId.foreach { id =>
      if (appliedBatchId(table).exists(_ >= id)) return
    }
    val p = graft.operators.IncrementalAgg.partial(batch, keys, aggs)
    val merged =
      if (!exists(table)) p
      else graft.operators.IncrementalAgg.merge(this.table(table), p, keys, aggs)
    val base = writeBase(table)
    commit(table, Seq(writeCommit(table, merged, batchId = batchId)), base)
    register(table)
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
    * Jaccard between groups, between refreshes via time travel, or
    * against another table's maintained sketch) — a distinct-count and
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
    * into the constant `kmv_k` column (self-describing — it rides time
    * travel, exports, and [[graft.operators.KmvAlgebra.overlap]]'s
    * verification), and a refresh whose `k` disagrees with the stored
    * stamp fails loudly instead of silently truncating the estimator
    * (pre-r15 the mismatch read a truncated sketch as an EXACT
    * distinct set downstream).
    */
  def maintainKmv(table: String, batch: DataFrame, keys: Seq[String],
                  hashCol: String, k: Int,
                  batchId: Option[Long] = None): Unit = {
    batchId.foreach { id =>
      if (appliedBatchId(table).exists(_ >= id)) return
    }
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
    val merged = merged0.withColumn("kmv_k", lit(k))
    val base = writeBase(table)
    commit(table, Seq(writeCommit(table, merged, batchId = batchId)), base)
    register(table)
  }

  /** The `k` a [[maintainKmv]] sketch table was built with, read from
    * its constant `kmv_k` stamp. None when the table doesn't exist, is
    * empty, predates the stamp, or every stamp is NULL (a wholly
    * uncertified outside-the-maintainer write reads as "no certified
    * k", not a throw — r15 advice). A PARTIALLY certified grid —
    * some NULL stamps, or more than one distinct k — fails loudly
    * instead (r16 advice: skipping NULL rows before a limit(1) read
    * let a half-decertified table return the surviving k and read as
    * fully certified; [[maintainKmv]] would then merge new minima into
    * a corrupt grid). One small aggregate over the sketch grid — the
    * grid is O(groups · k) by contract, so the constancy scan costs
    * what the old one-row probe did at any real scale. */
  def kmvK(table: String): Option[Int] =
    if (!exists(table) || !this.table(table).columns.contains("kmv_k")) None
    else {
      val r = this.table(table).agg(
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
  def appliedBatchId(table: String): Option[Long] =
    liveCommits(table).flatMap { dir =>
      val marker = new HPath(dir, AppliedBatchIdMarker)
      val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try {
          val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          Some(s.toLong)
        } finally in.close()
      }
    }.sorted.lastOption

  /** Append a pre-computed delta (already deduped/anti-joined) as a new
    * commit. The delta plan may read `table` itself; it materializes
    * into its own fresh directory, which becomes visible only at the
    * manifest flip — the append can never scan files it is creating.
    *
    * The appended-row count rides the write job as an observed metric —
    * no second scan of what was just written (at fact scale the old
    * read-back-and-count doubled every load's I/O).
    *
    * `clusterBy` declares the within-file sort order the table's
    * commits maintain; it is consumed by the auto-compaction pass (see
    * [[compactEvery]]), which must restore that clustering when it
    * rewrites — the delta itself is expected to arrive pre-sorted (the
    * writer already has it clustered at zero cost). */
  def appendDelta(table: String, delta: DataFrame,
                  partitionBy: Seq[String] = Seq.empty,
                  clusterBy: Seq[String] = Seq.empty): Long = {
    // layout args are validated BEFORE anything is written: the
    // auto-compaction pass below reuses them, and a require thrown from
    // inside compact() would surface AFTER this append's commit already
    // published — reporting a successful write as a failure
    requireClusterableLayout(table, partitionBy, clusterBy)
    // the commit claim is tied to THIS read of LATEST (see commit):
    // the new manifest's dir list and its claimed version come from the
    // same observation, so a concurrent commit makes us fail loudly
    // instead of silently dropping it from the list
    val base = writeBase(table)
    val baseDirs = commitsAt(table, base)
    val dir = writeCommit(table, delta, partitionBy)
    // exact appended count from the written files' parquet FOOTERS:
    // metadata-only, no second data scan and no extra Spark job (an
    // observed write metric can over-count under stage retries or
    // speculative execution; a read-back count re-scans the data)
    val n = rowCount(dir)
    if (n > 0) commit(table, baseDirs :+ dir, base)
    else deleteRecursively(Paths.get(dir))
    register(table)
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
    * commit published would report a success as a failure. */
  private def requireClusterableLayout(table: String, partitionBy: Seq[String],
                                       clusterBy: Seq[String]): Unit =
    if (clusterBy.nonEmpty) {
      val schema = Schemas.schemaOf(table)
      val stringParts = partitionBy.filter(p =>
        schema(p).dataType == org.apache.spark.sql.types.StringType)
      require(stringParts.isEmpty,
        s"clusterBy with STRING partition columns (${stringParts.mkString(",")}) " +
          "is not supported: Spark's partitioned writer re-sorts by " +
          "empty2null(partition cols), destroying the requested clustering")
    }

  /** Row-level DELETE WHERE with commit-granular file skipping: removes
    * rows whose integral `column` falls in [lo, hi] by rewriting ONLY
    * the commits whose parquet-footer [min, max] intersects the range —
    * every other commit carries into the new version's manifest
    * verbatim (zero read or write I/O for it), and the delete publishes
    * as ONE atomic manifest flip: readers see the old state or the
    * complete post-delete state, and time travel to the pre-delete
    * version stays intact. This is the opt-out / contamination-purge
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
    requireClusterableLayout(table, partitionBy, clusterBy)
    val base = writeBase(table)
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
    val before = affected.map { case (_, fs) => rows(fs) }.sum
    val survivors = read(table, base, affected.map(_._1))
      // keep NULLs: a negated BETWEEN would null-out and drop them
      .filter(col(column).isNull || col(column) < lo || col(column) > hi)
    val dir = writeCommit(table, survivors, partitionBy, clusterBy)
    val after = rowCount(dir)
    // an empty rewrite dir is noise — EXCEPT when it is the table's
    // only remaining commit: an undeclared table (quarantine, rollup)
    // recovers its schema from commit footers, so a delete that empties
    // it must leave the zero-row commit as the schema carrier (the
    // quarantine-purge runbook hits this correcting the last row —
    // table()/tableWhere on the emptied table stay readable)
    if (after > 0 || kept.isEmpty) commit(table, kept :+ dir, base)
    else {
      commit(table, kept, base)
      deleteRecursively(Paths.get(dir))
    }
    register(table)
    before - after
  }

  /** Row-level change feed between two published versions (Delta's
    * `table_changes` shape, computed from snapshots): multiset
    * difference both ways, tagged `_change` = insert | delete. An
    * updated row appears as its old version deleted plus its new
    * version inserted — exactly what a downstream incremental consumer
    * replays. Cost is a scan of both versions (anti-join shuffle on
    * all columns); for commit-granular incremental feeds, consumers at
    * scale read the per-version manifests instead — appends are
    * per-commit additive — and reserve this for versions that rewrote
    * history (upserts, deletes, compaction is content-neutral). */
  def changes(table: String, fromVersion: Int, toVersion: Int): DataFrame = {
    val a = tableAt(table, fromVersion)
    val b = tableAt(table, toVersion)
    b.exceptAll(a).withColumn("_change", lit("insert"))
      .unionAll(a.exceptAll(b).withColumn("_change", lit("delete")))
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
    requireClusterableLayout(table, partitionBy, clusterBy)
    val base = writeBase(table)
    if (base == 0) return
    // through the one reader: an evolved table's initial defaults
    // MATERIALIZE into the rewrite (afterwards every file carries the
    // column)
    val df = read(table, base, commitsAt(table, base))
    // numFiles > 0: coalesce before the sort — compaction's point is
    // fewer, larger files (small-file debt is what it repays), and the
    // within-partition sort then clusters across what were separate
    // tiny files
    val folded = if (numFiles > 0) df.coalesce(numFiles) else df
    commit(table, Seq(writeCommit(table, folded, partitionBy, clusterBy)), base)
    register(table)
  }

  /** Table statistics from parquet footers only (ANALYZE-lite): exact
    * row count always; [min, max] for each requested integral column
    * whose every populated row group carries usable stats (the same
    * conservative rules as [[tableWhere]] pruning — a column that
    * fails them is omitted from the map rather than reported wrong).
    * Driver-side metadata reads, no data scan: what a table format
    * serves from its manifest, and the numbers a query planner or
    * data-quality dashboard wants without paying for a 100 TB pass. */
  def stats(table: String, columns: Seq[String] = Seq.empty): Catalog.TableStats = {
    val fs = footers(liveCommits(table))
    // an all-null column yields the empty range, reported as no range
    Catalog.TableStats(rows(fs), columns.flatMap(c =>
      range(fs, c).filter { case (mn, mx) => mn <= mx }.map(c -> _)).toMap)
  }

  /** Size-aware compaction (the OPTIMIZE shape): fold only the commits
    * whose on-disk size is under `smallBytes` into one clustered
    * commit; every larger commit carries into the new manifest
    * VERBATIM — zero read or write I/O for data that is already in
    * healthy files. [[compact]] rewrites the whole table, which is
    * right for restoring global clustering; this pass repays
    * small-file debt (the steady drip of tiny per-batch appends) at a
    * cost proportional to the debt, not the table — the only shape
    * that stays affordable when the table is 100 TB and the debt is
    * 100 MB. Same atomic manifest flip as every other write. Returns
    * the number of commits folded (0 = nothing worth folding: fewer
    * than two small commits). */
  def compactSmall(table: String, smallBytes: Long,
                   partitionBy: Seq[String] = Seq.empty,
                   clusterBy: Seq[String] = Seq.empty): Int = {
    requireClusterableLayout(table, partitionBy, clusterBy)
    val base = writeBase(table)
    val live = commitsAt(table, base)
    val small = live.filter(c => dataFiles(Seq(c)).map(_.getLen).sum < smallBytes)
    if (small.size < 2) return 0
    val dir = writeCommit(table, read(table, base, small).coalesce(1),
      partitionBy, clusterBy)
    val smallSet = small.toSet
    commit(table, live.filterNot(smallSet) :+ dir, base)
    register(table)
    small.size
  }

  /** Move every unparseable `tag.*` file (crashed pre-hard-link
    * claims, foreign writes — the artifacts [[vacuum]] aborts on) to
    * `_manifests/quarantine/`, returning the quarantined file names.
    * The one audited recovery step the vacuum runbook needs: after a
    * quarantine, [[vacuum]] proceeds and valid pins stay readable,
    * while the quarantined bytes remain inspectable (was this a
    * crashed claim on a version we are about to collect?) instead of
    * being raw-deleted. Re-quarantining the same name uniquifies the
    * target — successive incidents never overwrite each other's
    * evidence. Run from the single writer, like vacuum itself: a
    * LIVE writer's claim mid-flight is indistinguishable from a
    * crashed one here. */
  def quarantineCorruptTags(table: String): Seq[String] = {
    val md = manifestDir(table)
    val corrupt = unparseableTagFiles(table)
    if (corrupt.isEmpty) return Seq.empty
    val qd = md.resolve("quarantine")
    Files.createDirectories(qd)
    corrupt.map { f =>
      var target = qd.resolve(f)
      var n = 1
      while (Files.exists(target)) {
        target = qd.resolve(s"$f.$n")
        n += 1
      }
      Files.move(md.resolve(f), target)
      System.err.println(s"[catalog] quarantined corrupt tag file $f " +
        s"of $table -> $target")
      target.getFileName.toString
    }
  }

  /** Delete commit dirs referenced by neither the LATEST manifest nor
    * the published snapshot (crashed writers, replaced/compacted
    * history). Assumes no reader is pinned to an older version — run
    * from the single writer, like compaction in any MVCC table format. */
  def vacuum(table: String): Int = {
    // DESTRUCTIVE path: an unparseable tag file may be a crashed claim
    // on a version this vacuum would otherwise collect — tags() skips
    // it for LISTING, but deleting data under a possible pin breaks
    // the "tagged versions stay readable forever" contract with
    // permanent loss. Abort loudly; the operator clears the corrupt
    // file (delete or re-tag) and re-runs.
    val corrupt = unparseableTagFiles(table)
    require(corrupt.isEmpty,
      s"vacuum aborted for '$table': unparseable tag file(s) " +
        s"${corrupt.mkString(", ")} may pin versions this vacuum would " +
        "delete — remove or re-tag them first (see the tags() warning)")
    val snapRefs = snapshotVersions.get(table)
      .map(v => commitsAt(table, v)).getOrElse(Seq.empty)
    // tagged versions stay readable forever — their commit dirs are
    // live no matter how far behind the head they fall (see [[tag]]).
    // A dangling tag (its manifest rolled back by recovery) pins
    // nothing; skipping it here keeps vacuum runnable — tableAtTag is
    // where the dangle is reported loudly
    val tagRefs = tags(table).values.toSeq.distinct
      .filter(v => Files.exists(manifestDir(table).resolve(s"v$v")))
      .flatMap(v => commitsAt(table, v))
    val live = (latestVersion(table).map(commitsAt(table, _)).getOrElse(Seq.empty)
        ++ snapRefs ++ tagRefs)
      .map(p => Paths.get(p).getFileName.toString).toSet
    val dead = children(Paths.get(tableDir(table)))
      .filter(p => Files.isDirectory(p))
      .filter(p => p.getFileName.toString != "_manifests")
      .filterNot(p => live.contains(p.getFileName.toString))
    dead.foreach(deleteRecursively)
    dead.size
  }

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
  /** Thrown when a writer loses the create-exclusive race for a
    * manifest or snapshot version file: the commit was NOT published
    * and must be retried against the new table state. */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** Footer-derived table statistics: exact live row count, and
    * [min, max] per requested column where every row group had usable
    * stats (see [[Catalog.stats]]). */
  final case class TableStats(rows: Long, ranges: Map[String, (Long, Long)])
}
