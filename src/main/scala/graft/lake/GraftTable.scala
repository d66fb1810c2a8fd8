package graft.lake

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, explode, expr, lit, when}
import org.apache.spark.sql.types._

/** A graft-managed table: Spark-native data plane (`df.write.parquet`)
  * plus a snapshot control plane with the reference's semantics —
  * snapshot-creating DML, time travel, metadata views, rollback,
  * expiration, column-dependency pruning (reference:
  * InsertIntoIcebergTable.scala, IcebergFileCommitProtocol.scala,
  * parsing/IceParser.scala `as of`, utils/TableUtils.scala
  * `$snapshots`).
  *
  * Commit protocol: write `meta/snapshot-<id>.json`, then atomically
  * swing `meta/version-hint.txt` via rename — readers resolve the
  * pointer once and plan entirely from that manifest (snapshot
  * isolation, single-writer; same guarantee class as the reference's
  * rename-based FileCommitProtocol (IcebergFileCommitProtocol.scala:53,76-84 commitJob)).
  *
  * Layout:
  * {{{
  *   root/meta/version-hint.txt        — current snapshot id
  *   root/meta/snapshot-<id>.json      — full manifest (see Snapshot)
  *   root/data/<k=v>/…/<sid>-<file>    — hive-layout parquet data
  * }}}
  */
final class GraftTable(val root: String, spark: SparkSession) {

  /** Metadata plane — every manifest/pointer/ledger byte goes through
    * the Hadoop FS resolved from the root URI (see [[MetaIO]]), so a
    * table rooted at `hdfs://`/`s3a://` opens exactly like a local one.
    */
  private[lake] lazy val io = new MetaIO(root, spark.sparkContext.hadoopConfiguration)
  private lazy val commitLock = CommitLock.forRoot(root, io)
  // the snapshot this thread made current under the commit lock
  private val madeCurrent = new ThreadLocal[java.lang.Long]

  // ---- control plane ------------------------------------------------

  private def hasCurrent: Boolean = io.exists(GraftTable.HintName)

  def currentId: Long = {
    // a filesystem whose pointer swap is delete+rename (see
    // MetaIO.writeAtomic) exposes a brief no-pointer window — retry
    // before concluding the table does not exist
    var tries = 0
    while (true) {
      try return io.readString(GraftTable.HintName).trim.toLong
      catch {
        case e: java.io.FileNotFoundException =>
          if (tries >= 5) throw e
          tries += 1; Thread.sleep(20)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Snapshots are immutable by (root, id) → cached process-wide so
    * repeated planner calls (optimizer fixpoint, AQE replans) don't
    * re-parse manifests. Expired snapshots may linger in cache until
    * process exit — metadata-only, never affects data reads.
    */
  def snapshot(id: Long): Snapshot =
    GraftTable.snapshotCache.computeIfAbsent((root, id), { _ =>
      val s = SnapshotCodec.fromJson(io.readString(s"snapshot-$id.json"))
      if (s.shards.isEmpty) s
      else {
        // cold open of a big table parses tens of thousands of shard
        // files — read them in parallel (order restored below; the
        // shard cache is a ConcurrentHashMap and FileSystem reads are
        // thread-safe), so open latency is bounded by IO bandwidth,
        // not shard count × per-file latency
        def load(r: ShardRef): Seq[FileEntry] =
          GraftTable.shardCache.computeIfAbsent((root, r.path), { _ =>
            SnapshotCodec.shardFromBytes(io.readBytes(r.path)).files
          })
        val refs = s.shards.toArray
        val files =
          if (refs.length < 64) refs.toSeq.flatMap(load)
          else {
            val out = new Array[Seq[FileEntry]](refs.length)
            java.util.stream.IntStream.range(0, refs.length).parallel()
              .forEach(i => out(i) = load(refs(i)))
            out.toSeq.flatten
          }
        s.copy(files = files)
      }
    })

  /** [[snapshot]] that answers None for an expired/never-existed id
    * instead of throwing — the cache is consulted first, so a snapshot
    * read before expiration stays resolvable in this JVM.
    */
  def snapshotIfExists(id: Long): Option[Snapshot] =
    if (GraftTable.snapshotCache.containsKey((root, id))
        || io.exists(s"snapshot-$id.json")) Some(snapshot(id))
    else None

  def current: Snapshot = snapshot(currentId)

  def snapshotIds: Seq[Long] =
    io.listNames()
      .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
        s.stripPrefix("snapshot-").stripSuffix(".json").toLong }
      .sorted

  def snapshots: Seq[Snapshot] = snapshotIds.map(snapshot)

  /** Serialize the COMMIT POINT (the version-pointer swap) across
    * writers. Manifest creation alone cannot be the commit point: a
    * staged manifest may be a parked write-audit-publish snapshot, so
    * a writer that "skips past" it could rebase onto a stale file set
    * and silently drop a concurrent committer's files. The lock
    * primitive is per-filesystem (see [[CommitLock]]): POSIX atomic
    * mkdir locally, exclusive-create on HDFS, conditional-PUT /
    * metastore for object stores. Held for one manifest write + one
    * rename — never during data writes. A holder that moved the
    * pointer ([[publishUnlocked]]) gets the retention dial
    * ([[autoExpire]]) run on the snapshot it made current once the
    * lock is released: expire re-acquires it for the tag ledger.
    */
  private[lake] def withCommitLock[T](f: => T): T = {
    io.mkdirs()
    commitLock.acquire()
    madeCurrent.remove() // a failed holder's pointer move is not this one's
    val out = try f finally commitLock.release()
    Option(madeCurrent.get).foreach { id => madeCurrent.remove(); autoExpire(snapshot(id)) }
    out
  }

  /** Non-commutative commit (overwrite / DML / compaction / rollback,
    * and the creating commit): inside the lock, verify the table has
    * not moved since the writer computed its file set (compare-and-swap
    * on the parent id) — a concurrent append landing in between would
    * otherwise be silently dropped from the new snapshot's file list.
    * Every snapshot reaches it through one of two doors:
    * [[commitNext]] builds a verb's successor of the snapshot it read,
    * and [[commitCreate]] a table's first snapshot. The append-shaped
    * commits take [[appendOnto]] instead, which rebases rather than
    * refusing a moved table.
    */
  private def commit(s0: Snapshot): Unit = withCommitLock {
    // no version hint yet = the creating commit (parentId -1)
    val cur = if (hasCurrent) currentId else -1L
    if (cur != s0.parentId)
      throw new java.util.ConcurrentModificationException(
        s"table $root moved to snapshot $cur while this writer computed " +
          s"against ${s0.parentId}; re-read and retry")
    // a parked staged (write-audit-publish) snapshot occupying the next
    // id is NOT a conflict — step over it; ids need not be dense
    val s = if (io.exists(s"snapshot-${s0.id}.json"))
      s0.copy(id = math.max(s0.id, snapshotIds.max) + 1) else s0
    stage(s)
    publishGuarded(s.id, s0.parentId)
  }

  /** The one successor constructor: `base`'s next snapshot, with the
    * id, parent, timestamp and operation set and no files counted as
    * added or deleted. Every other field carries over from `base`, so
    * properties, schema and spec persist unless a verb changes them.
    */
  private def successor(base: Snapshot, op: String): Snapshot =
    base.copy(id = base.id + 1, parentId = base.id, tsMillis = nextTs(base),
      operation = op, addedFiles = 0, deletedFiles = 0)

  /** Commit `cur`'s successor with the verb's delta applied, where
    * `cur` is the snapshot the verb computed against (never re-read
    * here: the compare-and-swap in [[commit]] is against it). Returns
    * this table.
    */
  private def commitNext(cur: Snapshot, op: String)(delta: Snapshot => Snapshot): GraftTable = {
    commit(delta(successor(cur, op)))
    this
  }

  /** The creating commit: a table's first snapshot, with no parent.
    * `id` is 1 for a new table; a clone or an import keeps its source
    * snapshot's id, so every inherited `addedBy` and equality-delete
    * stamp stays below any id the new table allocates.
    */
  private[lake] def commitCreate(id: Long, op: String, schemaJson: String,
      partitionCols: Seq[String], deps: Seq[DepSpec], files: Seq[FileEntry],
      addedFiles: Int, deleteFiles: Seq[DeleteFileEntry] = Seq.empty,
      properties: Map[String, String] = Map.empty): GraftTable = {
    commit(Snapshot(id = id, parentId = -1L, tsMillis = System.currentTimeMillis(),
      operation = op, schemaJson = schemaJson, partitionCols = partitionCols,
      deps = deps, files = files, addedFiles = addedFiles, deletedFiles = 0,
      properties = properties, deleteFiles = deleteFiles))
    this
  }

  /** The append-shaped commit behind [[commitAppend]], [[appendBatch]]
    * and [[publishCherryPick]], run under the commit lock: `delta` lands
    * on `cur`, the current snapshot read under the same lock, with the
    * next free id (a parked staged snapshot may hold `cur.id + 1`).
    * Appends commute, so a table that moved since the files were
    * written is rebased onto, never refused.
    */
  private def appendOnto(cur: Snapshot, op: String, delta: Seq[FileEntry],
      properties: Map[String, String]): Snapshot = {
    val next = successor(cur, op).copy(id = math.max(cur.id, snapshotIds.max) + 1,
      files = cur.files ++ delta, addedFiles = delta.size, properties = properties)
    stage(next, Some(delta.iterator.map(_.partition).toSet))
    publishGuarded(next.id, cur.id)
    next
  }

  /** Stage `added` onto `base` without moving any pointer (the
    * write-audit-publish stage and a branch append). Staging takes no
    * table-wide id reservation, so on a collision with a concurrent
    * stager or committer it steps to the next free id — gaps are fine,
    * ids are not dense. Returns the staged id.
    */
  private def stageOnto(base: Snapshot, op: String, added: Seq[FileEntry]): Long = {
    val next = successor(base, op).copy(files = base.files ++ added, addedFiles = added.size)
    val parts = Some(added.iterator.map(_.partition).toSet)
    var nid = math.max(base.id, snapshotIds.max) + 1
    var staged = false
    while (!staged) {
      try { stage(next.copy(id = nid), parts); staged = true }
      catch { case _: java.util.ConcurrentModificationException => nid += 1 }
    }
    nid
  }

  /** Retention policy (A78): `history.keep.max-snapshots` = N makes
    * every pointer move expire all but the newest N snapshots (ref-pinned
    * ones and the current survive, exactly as in [[expire]]) — bounded
    * metadata on high-frequency writers without a scheduled
    * maintenance job. A commit a minute for a year is half a million
    * manifests; with the dial it is N, forever, and expiration cost is
    * O(expired batch), amortized to O(1) snapshots per commit once in
    * steady state. The dial is read from the snapshot just committed.
    */
  private def autoExpire(committed: Snapshot): Unit = {
    val keep = committed.properties.get(GraftTable.MaxSnapshotsProp)
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ >= 1)
    keep.foreach { n =>
      val ids = snapshotIds.sorted
      if (ids.size > n) expire(keepFrom = ids(ids.size - n))
    }
  }

  /** Stage a snapshot WITHOUT making it current (the W of
    * write-audit-publish). The manifest is created with CREATE_NEW,
    * which doubles as optimistic concurrency control: two writers
    * committing against the same parent race to create
    * `snapshot-<id>.json`, and the loser fails here instead of
    * silently clobbering the winner's commit.
    */
  private def stage(s0in: Snapshot,
      appendedParts: Option[Set[Map[String, String]]] = None): Unit = {
    io.mkdirs()
    // Stamp freshly written files (addedBy = PendingAddedBy) with the
    // FINAL snapshot id — it is only known here, after rebase/step-over
    // id allocation. Carried-over files keep their original stamp, so
    // incremental/streaming readers can plan `(start, end]` deltas by
    // filtering addedBy instead of diffing whole file lists. DELETE
    // files get the same treatment: CDC picks a window's deletes via
    // `deleteFiles.filter(_.addedBy == id)`, so a pre-rebase planned id
    // surviving here would silently drop them from the change feed.
    val s0 = {
      val fs =
        if (s0in.files.exists(_.addedBy == GraftTable.PendingAddedBy))
          s0in.files.map(f =>
            if (f.addedBy == GraftTable.PendingAddedBy) f.copy(addedBy = s0in.id) else f)
        else s0in.files
      val ds =
        if (s0in.deleteFiles.exists(_.addedBy == GraftTable.PendingAddedBy))
          s0in.deleteFiles.map(d =>
            if (d.addedBy == GraftTable.PendingAddedBy) d.copy(addedBy = s0in.id) else d)
        else s0in.deleteFiles
      if ((fs eq s0in.files) && (ds eq s0in.deleteFiles)) s0in
      else s0in.copy(files = fs, deleteFiles = ds)
    }
    // Prune pending delete entries that provably cannot kill anything
    // anymore — carrying them forward double-counts deletedRows
    // (catalog rowCount, $deletes), taxes every read with a dead join,
    // and (for equality) would re-trigger delete-aware compaction
    // forever:
    //  - POSITION: every recorded target left the file list (a COW
    //    rewrite physically dropped those rows). Unknown-target
    //    entries (legacy, past the cap) stay conservatively.
    //  - EQUALITY: every live file is stamped at or past the delete
    //    (nothing predates it — e.g. after a full rewrite); files with
    //    unknown stamps (0) keep the entry.
    val sPruned =
      if (s0.deleteFiles.isEmpty) s0
      else {
        lazy val live = s0.files.iterator.map(f => GraftTable.baseName(f.path)).toSet
        val keptDels = s0.deleteFiles.filter { d =>
          if (d.equalityCols.nonEmpty)
            s0.files.exists(f => f.addedBy == 0L || f.addedBy < d.addedBy)
          else d.targets.isEmpty || d.targets.exists(live.contains)
        }
        if (keptDels.size == s0.deleteFiles.size) s0
        else s0.copy(deleteFiles = keptDels)
      }
    // Externalize big file lists into content-addressed per-partition
    // shards: an unchanged partition hashes to an existing shard file
    // and is re-pointed, not re-written — at 10⁵ files an append to
    // one partition writes one shard + one small manifest instead of a
    // tens-of-MB JSON, and readers re-parse only the changed shard.
    // Any `shards` carried in via copy() from a parent snapshot are
    // recomputed from the in-memory file list (never trusted stale).
    // Shards live under meta/shards/ so the top-level listing that
    // snapshot-id discovery pays on every commit stays O(#snapshots) —
    // at 10⁶ files / 62k shards a flat layout made every snapshotIds
    // call a 62k-entry listing (the planbench commit_one finding).
    // Legacy tables with top-level `shard-*.json` read fine (refs
    // record relative paths) and are GC'd from both locations.
    def writeShard(sorted: Seq[FileEntry]): ShardRef = {
      val body = SnapshotCodec.shardToBytes(ShardManifest(sorted))
      val sha = java.security.MessageDigest.getInstance("SHA-1")
        .digest(body).map("%02x".format(_)).mkString
      val name = s"shards/shard-$sha.json"
      if (!io.exists(name)) {
        io.mkdirsFor(name)
        try io.writeNew(name, body)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () } // racer wrote identical bytes
      }
      // seed the cache so the NEXT commit's unchanged-check hits
      // without re-reading the shard from storage
      GraftTable.shardCache.putIfAbsent((root, name), sorted)
      ShardRef(name, sorted.size.toLong)
    }
    val s =
      if (sPruned.files.size < GraftTable.ShardFilesThreshold)
        sPruned.copy(shards = Seq.empty)
      else {
        val cachedShards: Seq[Option[(ShardRef, Seq[FileEntry])]] =
          (if (sPruned.parentId >= 0) snapshotIfExists(sPruned.parentId) else None)
            .map(_.shards).getOrElse(Seq.empty)
            .map(r => Option(GraftTable.shardCache.get((root, r.path)))
              .filter(_.nonEmpty).map(r -> _))
        // APPEND fast path: the caller declared exactly which
        // partitions gained files, so every other partition's shard
        // ref carries over VERBATIM — no full-list groupBy, no
        // per-partition equality sweep. Commit cost becomes
        // O(touched partitions + #shards), not O(files).
        val fastRefs: Option[Seq[ShardRef]] = appendedParts match {
          case Some(changed) if cachedShards.nonEmpty && cachedShards.forall(_.isDefined) =>
            val cached = cachedShards.flatten
            val byPart = sPruned.files.filter(f => changed.contains(f.partition))
              .groupBy(_.partition)
            val inParent = scala.collection.mutable.HashSet[Map[String, String]]()
            val kept = cached.map { case (r, fs) =>
              val part = fs.head.partition
              if (changed.contains(part)) {
                inParent += part
                writeShard(byPart(part).sortBy(_.path))
              } else r
            }
            val fresh = (byPart.keySet -- inParent).toSeq
              .sortBy(p => byPart(p).iterator.map(_.path).min)
              .map(p => writeShard(byPart(p).sortBy(_.path)))
            Some(kept ++ fresh)
          case _ => None
        }
        // Generic path: unchanged partitions re-point to the PARENT's
        // shard without any serialization — a partition whose sorted
        // file list structurally equals the cached shard's list would
        // serialize to byte-identical content → identical content hash
        // → the same ref.
        val refs = fastRefs.getOrElse {
          val parentRefs: Map[Map[String, String], (ShardRef, Seq[FileEntry])] =
            cachedShards.flatten
              .map { case (r, fs) => fs.head.partition -> (r, fs) }.toMap
          sPruned.files.groupBy(_.partition)
            .toSeq.sortBy(_._2.iterator.map(_.path).min)
            .map { case (part, fs) =>
              val sorted = fs.sortBy(_.path)
              parentRefs.get(part) match {
                case Some((r, cached)) if cached == sorted => r
                case _ => writeShard(sorted)
              }
            }
        }
        sPruned.copy(files = Seq.empty, shards = refs)
      }
    try {
      io.writeNew(s"snapshot-${s.id}.json",
        SnapshotCodec.toJson(s).getBytes(StandardCharsets.UTF_8))
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"snapshot ${s.id} already committed by another writer " +
            s"(table $root); refresh and retry")
    }
  }

  /** Make a staged snapshot current (the P of write-audit-publish).
    *
    * Compare-and-swap on the staged snapshot's parent: the staged file
    * list was computed against `parentId`'s files at stage time, so if
    * the table has moved since (a concurrent append committed between
    * stage and publish), swinging the pointer would silently drop that
    * committer's files. Same CAS [[commit]] enforces for
    * non-commutative writes; re-stage against the new current (or
    * rebase the staged delta) and retry.
    */
  def publish(id: Long): Unit = withCommitLock {
    require(io.exists(s"snapshot-$id.json"),
      s"no staged snapshot $id under $root")
    val cur = currentId
    if (id != cur && snapshot(id).parentId != cur)
      throw new java.util.ConcurrentModificationException(
        s"cannot publish snapshot $id: staged against parent " +
          s"${snapshot(id).parentId} but table $root moved to $cur — " +
          "re-stage against the new current and retry")
    publishGuarded(id, cur)
  }

  private[lake] def publishUnlocked(id: Long): Unit = {
    require(io.exists(s"snapshot-$id.json"),
      s"no staged snapshot $id under $root")
    io.writeAtomic(GraftTable.HintName, id.toString.getBytes(StandardCharsets.UTF_8))
    madeCurrent.set(id)
    // still under the commit lock ⇒ listeners observe commits in order
    GraftTable.notifyCommit(spark, root)
  }

  /** [[publishUnlocked]] with a last-instant parent re-check: verify
    * the live pointer still equals the snapshot this commit was built
    * on. Under a correctly-exclusive lock the check never fires (we
    * hold the only write token); it exists for the claim protocol's
    * residual double-hold window (see [[ClaimCommitLock]]'s class doc)
    * and for a wrongly-broken stale lock, where two writers can be
    * inside the critical section at once — whichever publishes second
    * would silently drop the first one's files from its snapshot. One
    * extra metadata read narrows "silent loss" to a loud
    * ConcurrentModificationException with a microseconds-wide residual
    * (the check-to-swap gap) instead of the whole critical section.
    */
  private[lake] def publishGuarded(id: Long, parent: Long): Unit = {
    val live = if (hasCurrent) currentId else -1L
    if (live != parent)
      throw new java.util.ConcurrentModificationException(
        s"table $root moved to snapshot $live while this commit " +
          s"(built on $parent) held the lock — concurrent lock holder " +
          "detected; the commit was not published, retry")
    publishUnlocked(id)
  }

  /** Publish a staged APPEND even if the table moved since it was
    * staged — the Iceberg cherry-pick: the staged snapshot's file
    * DELTA (its files minus its parent's) is rebased onto the live
    * current inside the commit lock. Appends commute, so this is
    * always sound for append-staged snapshots and refused for anything
    * else (an overwrite's file set encodes what it replaced — rebasing
    * it would resurrect deleted data). Returns the published id (a new
    * one when a rebase happened).
    */
  def publishCherryPick(id: Long): Long = {
    val rebased = withCommitLock {
      require(io.exists(s"snapshot-$id.json"),
        s"no staged snapshot $id under $root")
      val staged = snapshot(id)
      val cur = current
      if (id == cur.id) None
      else if (staged.parentId == cur.id) { publishGuarded(id, cur.id); None }
      else {
        val parentPaths = snapshot(staged.parentId).files.map(_.path).toSet
        // APPEND-SHAPED structurally, whatever the operation label says
        // (tagged transaction members carry their batch tag as the op):
        // rebase is sound iff the snapshot only ADDS files vs its parent
        require(staged.deletedFiles == 0 &&
            parentPaths.subsetOf(staged.files.iterator.map(_.path).toSet),
          s"cherry-pick supports append-shaped snapshots only; $id " +
            s"('${staged.operation}') removes files")
        // Reset the rebased delta's addedBy to pending: the files carry the
        // parked STAGED id, which is <= the live current id whenever a rebase
        // is needed, so incremental/streaming readers filtering
        // `addedBy > startId` would silently never emit them. stage()
        // re-stamps pending files with the NEW published id.
        val delta = staged.files.filterNot(f => parentPaths.contains(f.path))
          .map(_.copy(addedBy = GraftTable.PendingAddedBy))
        Some(appendOnto(cur, staged.operation, delta, cur.properties))
      }
    }
    rebased.fold(id)(_.id)
  }

  /** Write-audit-publish: stage an append as a new snapshot WITHOUT
    * moving the current pointer — readers keep seeing the old table
    * while the staged data is audited via [[readAsOfId]]; then
    * [[publish]] goes live or [[abandonStaged]] drops it. The
    * quarantine-before-serve pattern for data-quality gates.
    */
  def stageAppend(df: DataFrame, op: String = "append"): Long = {
    val cur = current
    // staging does not take the commit lock: it never moves the pointer
    stageOnto(cur, op, writeFiles(df, cur.partitionCols, cur.deps, cur.id + 1))
  }

  /** Batch tags consumed by [[appendBatch]] — the durable exactly-once
    * ledger. The ledger file survives snapshot expiration (a replayed
    * batch is still recognized after VACUUM); the only possible gap is
    * a crash between publish and the ledger append, which can only
    * affect the NEWEST commit — `current.operation` closes it without
    * scanning history, so the check is O(1), not O(#snapshots).
    */
  /** One-time (per JVM, per table) ledger reconciliation: fold every
    * batch tag still recorded only in a snapshot's `operation` field
    * into the durable ledger. Covers (a) tables written before the
    * ledger existed and (b) tags lost in the publish→recordTag crash
    * window — both were previously unrecognized until [[expire]] folded
    * them, so a replayed batch in that window double-appended. O(#snapshots)
    * manifest reads, paid once per table open, not per batch.
    */
  private def readLedger(): Set[String] =
    if (!io.exists(GraftTable.LedgerName)) Set.empty[String]
    // retrying read: every recordTag rewrites the ledger in place, and
    // on filesystems without rename-overwrite a concurrent reader can
    // land in the swap's no-file window
    else io.readStringRetrying(GraftTable.LedgerName)
      .split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSet

  private def seedLedger(): Unit =
    if (!GraftTable.ledgerSeeded.contains(root) && hasCurrent) {
      val fromSnaps = snapshotIds.flatMap { i =>
        try Some(snapshot(i).operation)
        catch { case _: java.io.IOException => None } // expired mid-scan
      }.filterNot(GraftTable.StandardOps.contains).toSet
      val missing = fromSnaps -- readLedger()
      if (missing.nonEmpty) withCommitLock {
        // re-read under the lock; duplicate lines are harmless (set read)
        (fromSnaps -- readLedger()).toSeq.sorted.foreach(recordTag)
      }
      GraftTable.ledgerSeeded.add(root)
    }

  private[lake] def consumedTags: Set[String] = {
    seedLedger()
    // the ledger only ever grows, so its SIZE is a valid cache token —
    // a long-running stream sink parses it once, not once per batch
    val fromFile =
      if (!io.exists(GraftTable.LedgerName)) Set.empty[String]
      else {
        val size = io.size(GraftTable.LedgerName)
        val cached = GraftTable.tagCache.get(root)
        if (cached != null && cached._1 == size) cached._2
        else {
          val tags = readLedger()
          GraftTable.tagCache.put(root, (size, tags))
          tags
        }
      }
    if (hasCurrent) fromFile + current.operation
    else fromFile
  }

  /** Add `tag` to the ledger — call only while holding the commit
    * lock: the write is a read-modify-rewrite (Hadoop filesystems
    * don't all support append), so a concurrent unlocked writer could
    * drop a tag, not just duplicate one.
    */
  private[lake] def recordTag(tag: String): Unit = {
    val prior = if (io.exists(GraftTable.LedgerName)) io.readString(GraftTable.LedgerName) else ""
    io.writeAtomic(GraftTable.LedgerName, (prior + tag + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Idempotent tagged append — the exactly-once primitive for
    * streaming sinks: each micro-batch appends under a unique tag
    * (e.g. `stream-batch-<id>`), and a replayed batch whose tag was
    * already consumed is skipped instead of double-appending. Tags live
    * in a dedicated persistent ledger ([[consumedTags]]) re-checked
    * INSIDE the commit lock, so the guarantee survives snapshot
    * expiration and concurrent same-tag writers. Returns true iff data
    * was written.
    */
  def appendBatch(df: DataFrame, batchTag: String): Boolean = {
    if (consumedTags.contains(batchTag)) return false
    val cur = current
    val (dfObs, obs) = ndvObserveIfAuto(cur, df)
    val added = writeFiles(dfObs, cur.partitionCols, cur.deps, cur.id + 1)
    val ndvDelta = ndvFromObs(obs)
    verifyPayloads(added) // outside the lock — see commitAppend
    val committed = withCommitLock {
      // re-check inside the lock: a concurrent writer replaying the
      // same tag may have committed since the fast-path check above
      if (consumedTags.contains(batchTag)) None
      else {
        val c = current
        val next = appendOnto(c, batchTag, added,
          GraftTable.mergeNdvProps(c.properties, ndvDelta))
        recordTag(batchTag)
        Some(next)
      }
    }
    if (committed.isEmpty) {
      // lost the race: this batch's files are orphans. Delete through the
      // Hadoop FS resolved from the table root (matching writeFiles'
      // staging cleanup) — java.nio silently no-ops on object stores.
      val rootP = new org.apache.hadoop.fs.Path(root)
      val hfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      added.foreach(f =>
        hfs.delete(new org.apache.hadoop.fs.Path(rootP, f.path), false))
    }
    // the streaming sink is auto-compaction's primary customer: a
    // batch-per-minute stream otherwise accumulates a file per batch
    if (committed.nonEmpty) maybeAutoCompact()
    committed.nonEmpty
  }

  /** Drop a staged-but-unpublished snapshot and its orphaned files. */
  def abandonStaged(id: Long): Unit = {
    require(id != currentId, s"snapshot $id is published; use rollback")
    val live = snapshotIds.filterNot(_ == id)
      .flatMap(i => snapshot(i).files.map(_.path)).toSet
    val orphans = snapshot(id).files.map(_.path).filterNot(live.contains)
    val rootP = new HPath(root)
    orphans.foreach(rel => io.fs.delete(new HPath(rootP, rel), false))
    io.delete(s"snapshot-$id.json")
    GraftTable.snapshotCache.remove((root, id))
  }

  // ---- named refs (tags + branches) ---------------------------------

  /** name → (snapshot id, isBranch). Tags serialize as a bare number
    * (the original format, still readable); branches as
    * `{"id": N, "branch": true}`.
    */
  private[lake] def refEntries: Map[String, (Long, Boolean)] =
    if (!io.exists(GraftTable.RefsName)) Map.empty
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      // retrying read — refs.json is rewritten in place on every
      // tag/branch change (same swap window as the ledger)
      val node = mapper.readTree(io.readStringRetrying(GraftTable.RefsName))
      val it = node.fieldNames()
      val b = Map.newBuilder[String, (Long, Boolean)]
      while (it.hasNext) {
        val k = it.next(); val v = node.get(k)
        if (v.isNumber) b += k -> (v.asLong(), false)
        else b += k -> (v.get("id").asLong(), v.path("branch").asBoolean(false))
      }
      b.result()
    }

  private def writeRefEntries(m: Map[String, (Long, Boolean)]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach {
      case (k, (id, false)) => node.put(k, id)
      case (k, (id, true))  =>
        val o = node.putObject(k); o.put("id", id); o.put("branch", true)
    }
    io.writeAtomic(GraftTable.RefsName, mapper.writeValueAsBytes(node))
  }

  /** Tag a snapshot with a stable name; `AS OF '<name>'` resolves it. */
  def tag(name: String, id: Long): GraftTable = withCommitLock {
    require(io.exists(s"snapshot-$id.json"), s"no snapshot $id")
    val m = refEntries
    require(!m.get(name).exists(_._2), s"ref '$name' is a branch; tags cannot shadow it")
    writeRefEntries(m + (name -> (id, false)))
    this
  }

  def refId(name: String): Option[Long] = refEntries.get(name).map(_._1)

  def dropTag(name: String): GraftTable = dropRef(name, wantBranch = false)
  def dropBranch(name: String): GraftTable = dropRef(name, wantBranch = true)

  /** Remove a named ref. The snapshots it pinned stay on disk but
    * become expirable — dropping a ref never deletes data.
    */
  private def dropRef(name: String, wantBranch: Boolean): GraftTable = withCommitLock {
    require(name != "main", "cannot drop the main branch")
    val m = refEntries
    val entry = m.getOrElse(name,
      throw new IllegalArgumentException(s"no ref '$name' on table $root"))
    require(entry._2 == wantBranch,
      s"ref '$name' is a ${if (entry._2) "branch" else "tag"}")
    writeRefEntries(m - name)
    this
  }

  /** Create a BRANCH — a mutable named ref with its own snapshot
    * lineage (Iceberg branch refs re-expressed). Writers append to the
    * branch without moving the main pointer; readers opt in via
    * [[readRef]] / `AS OF '<branch>'`; main adopts the branch's work
    * via [[fastForward]]. The staging/audit workflow at team scale:
    * WAP with history.
    */
  def branch(name: String, fromId: Long = -1L): GraftTable = withCommitLock {
    val at = if (fromId < 0) currentId else fromId
    require(io.exists(s"snapshot-$at.json"), s"no snapshot $at")
    val m = refEntries
    require(!m.get(name).exists(!_._2), s"ref '$name' exists as a tag")
    writeRefEntries(m + (name -> (at, true)))
    this
  }

  /** Append onto a branch head: commits a snapshot parented at the
    * branch head and advances the BRANCH pointer only — main readers
    * never see it. Rebases onto the latest branch head inside the
    * commit lock, same as [[commitAppend]] on main.
    */
  def appendToBranch(name: String, df: DataFrame): GraftTable = {
    val (headId0, isBr) = refEntries.getOrElse(name,
      throw new IllegalArgumentException(s"no ref '$name' on table $root"))
    require(isBr, s"ref '$name' is a tag, not a branch")
    val head0 = snapshot(headId0)
    val added = writeFiles(df, head0.partitionCols, head0.deps, head0.id + 1)
    verifyPayloads(added) // outside the lock — see commitAppend
    withCommitLock {
      val m = refEntries
      val head = snapshot(m(name)._1) // re-read inside the lock: rebase
      writeRefEntries(m + (name -> (stageOnto(head, "append", added), true)))
    }
    this
  }

  /** Fast-forward MAIN to a branch head: a pure pointer move, legal
    * only when the current snapshot is an ancestor of the branch head
    * (otherwise the histories diverged and adopting the branch would
    * silently drop main's commits).
    */
  def fastForward(name: String): GraftTable = withCommitLock {
    val (headId, isBr) = refEntries.getOrElse(name,
      throw new IllegalArgumentException(s"no ref '$name' on table $root"))
    require(isBr, s"ref '$name' is a tag, not a branch")
    val cur = currentId
    var a = headId
    while (a != cur && a >= 0) a = snapshot(a).parentId
    require(a == cur,
      s"cannot fast-forward: current snapshot $cur is not an ancestor of " +
        s"branch '$name' head $headId — histories diverged")
    publishGuarded(headId, cur)
    this
  }

  /** Time travel to a named tag. */
  def readRef(name: String): DataFrame =
    readAsOfId(refId(name).getOrElse(
      throw new IllegalArgumentException(s"no ref '$name' on table $root")))

  /** Strictly increasing commit timestamps even within one millisecond
    * (time travel by timestamp must totally order snapshots).
    */
  private def nextTs(parent: Snapshot): Long =
    math.max(System.currentTimeMillis(), parent.tsMillis + 1)

  def schema: StructType = DataType.fromJson(current.schemaJson).asInstanceOf[StructType]

  // ---- write path ---------------------------------------------------

  /** Materialize derived dependency columns, write hive-layout parquet
    * into a staging dir, move files into data/, harvest footer stats.
    */
  private def writeFiles(
      dfIn0: DataFrame, partitionCols: Seq[String], deps: Seq[DepSpec],
      snapId: Long,
      // REPLACE TABLE: the incoming batch belongs to the NEW schema —
      // the old table's CHECK constraints and rename map must not
      // apply to it (they are authored against columns that may no
      // longer exist, or whose names the new schema reuses)
      replacing: Boolean = false): Seq[FileEntry] = {
    // WRITE defaults: a batch that omits an initial-default column gets
    // it materialized (Iceberg v3 write-default behavior) — this also
    // keeps the invariant that every post-add file physically carries
    // the column, which is what makes the read path's addedBy grouping
    // exact (see relationWithDefaults)
    val dfIn = if (!hasCurrent || replacing) dfIn0 else
      schema.fields
        .filter(f => f.metadata.contains(GraftTable.DefaultMetaKey))
        .filterNot(f => dfIn0.columns.contains(f.name))
        .foldLeft(dfIn0)((d, f) => d.withColumn(f.name,
          expr(f.metadata.getString(GraftTable.DefaultMetaKey)).cast(f.dataType)))
    // CHECK constraints (A73): every data write validates the incoming
    // batch against the table's `check.*` predicates BEFORE any file
    // lands — a violation aborts the whole write with the constraint
    // named, leaving the table untouched (writeFiles is the single
    // funnel all data paths share). SQL semantics: NULL predicate =
    // pass. Cost: one extra narrow scan of the WRITE BATCH (not the
    // table) per constrained write — the same price Delta invariants
    // pay; tables without constraints pay nothing. Runs on logical
    // column names (before the physical rename below), matching how
    // constraints are authored.
    if (hasCurrent && !replacing) {
      val checks = current.properties.collect {
        case (k, v) if k.startsWith(GraftTable.CheckPropPrefix) =>
          k.stripPrefix(GraftTable.CheckPropPrefix) -> v
      }
      // validation actions run on a CollectMetrics-STRIPPED copy of the
      // batch plan: under write.stats.ndv=auto the batch carries the
      // write's NDV Observation, and Observation.get latches the FIRST
      // completed action — a validation isEmpty would otherwise harvest
      // garbage sketches from its own limit-1 pass and starve the write's
      lazy val dfValidate = {
        val stripped = dfIn.queryExecution.logical.transform {
          case cm: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => cm.child
        }
        org.apache.spark.sql.graft.Shim.ofRows(spark, stripped)
      }
      checks.foreach { case (name, predicate) =>
        val bad = dfValidate.filter(!coalesce(expr(predicate), lit(true)))
        if (!bad.isEmpty)
          throw new IllegalArgumentException(
            s"CHECK constraint '$name' ($predicate) violated by the " +
              s"incoming batch on table $root — write aborted, no files written")
      }
      // NOT NULL columns (A88): unlike CHECK, a NULL fails — one narrow
      // scan of the write batch per constrained column, atomic abort.
      // Keyed on the EXPLICIT `notnull.<col>` property, never on bare
      // schema nullability: tuple-encoder DataFrames mark primitive
      // columns non-nullable incidentally, and an implicit extra batch
      // action here would also fire any attached NDV Observation early
      // (Observation.get latches the FIRST action on the plan)
      current.properties.keys
        .filter(_.startsWith(GraftTable.NotNullPropPrefix))
        .map(_.stripPrefix(GraftTable.NotNullPropPrefix))
        .foreach { c =>
          // a batch that OMITS the column is a violation, not a pass:
          // the file would be written without the column and every row
          // would read back null under a nullable=false schema —
          // silently defeating the constraint AND handing Spark's
          // nullability-based optimizations a false premise. Batches
          // with an initial-default column were materialized above and
          // arrive present here.
          if (!dfIn.columns.contains(c))
            throw new IllegalArgumentException(
              s"NOT NULL constraint on $c violated: the incoming batch " +
                s"omits the column (table $root) — write aborted, no " +
                "files written; add the column or declare a DEFAULT")
          if (!dfValidate.filter(col(c).isNull).isEmpty)
            throw new IllegalArgumentException(
              s"NOT NULL constraint on $c violated by the incoming " +
                s"batch on table $root — write aborted, no files written")
        }
    }
    // renamed columns are written under their frozen physical name so
    // all files of the table share one on-disk schema (a REPLACE's new
    // schema starts a fresh name space — no old mapping applies)
    val l2p = if (replacing) Map.empty[String, String] else logicalToPhysical
    val df0 = l2p.foldLeft(dfIn) { case (d, (log, phys)) =>
      if (d.columns.contains(log)) d.withColumnRenamed(log, phys) else d
    }
    val df1 = deps.foldLeft(df0) { (d, dep) =>
      if (d.columns.contains(dep.dest)) d
      else d.withColumn(dep.dest,
        Deps.columnTyped(dep.transform, col(dep.src), d.schema(dep.src).dataType))
    }
    // `write.sort.columns`: range-distribute on (partition cols ++ sort
    // cols) and sort within tasks, so each written file covers a NARROW
    // min/max range on the sort columns — footer/manifest pruning then
    // skips files for predicates on them without an OPTIMIZE pass
    // (Iceberg sort-order parity). The prefix keys keep the writer from
    // re-sorting by partition cols alone, which would destroy the
    // secondary order. Costs one range shuffle per multi-task write —
    // the documented price of a sorted table; leave the property unset
    // for ingest-speed-first tables. A one-task write sorts in place:
    // its one file is the whole range either way.
    val sortCols =
      (if (hasCurrent)
         current.properties.getOrElse(GraftTable.SortColsProp, "") else "")
        .split(',').map(_.trim).filter(_.nonEmpty)
        .map(c => l2p.getOrElse(c, c))
        .filter(df1.columns.contains).toSeq
    // sbucket tables auto-distribute every write by the bucket column
    // (Iceberg's hash write.distribution-mode, default on): without
    // the alignment, a W-task write into an n-bucket table fans out to
    // W×n files — the classic small-file bomb at 1000 executors. One
    // hash shuffle per write; each bucket value lands in exactly one
    // task, so a write adds AT MOST n files. `write.distribution=none`
    // opts out; an explicit sort order takes precedence (its range
    // distribution is already aligned to the partition columns).
    val bucketDist: Option[(String, Int)] = deps.collectFirst {
      case dp if Deps.sparkBucketN(dp.transform).isDefined &&
        partitionCols.contains(dp.dest) =>
        (dp.dest, Deps.sparkBucketN(dp.transform).get)
    }.filter(_ => !hasCurrent ||
      !current.properties.get("write.distribution").contains("none"))
    val df = if (sortCols.nonEmpty) {
      val keys = (partitionCols.filter(df1.columns.contains) ++ sortCols)
        .distinct.map(col)
      // toRdd, not df1.rdd: same partition count without the extra
      // encoder-deserialization RDD layer the public accessor builds
      // (plan metadata alone can't answer this — an unbucketed scan's
      // outputPartitioning is UnknownPartitioning(0)). A plan without
      // an exchange answers without running a job. SourceGuardSpec
      // keeps this the engine's one task-count question to a plan.
      df1.queryExecution.toRdd.getNumPartitions match {
        case n if n <= 1 => df1.sortWithinPartitions(keys: _*)
        case n => df1.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
      }
    } else bucketDist match {
      case Some((bd, n)) if df1.columns.contains(bd) => df1.repartition(n, col(bd))
      case _ => df1
    }
    val staging = new HPath(new HPath(root), s".staging-${UUID.randomUUID()}")
    // `write.bloom.columns`: bloom filters ride the parquet footers of
    // new files (create has no current snapshot yet → no properties)
    val bloomCols =
      (if (hasCurrent)
         current.properties.getOrElse("write.bloom.columns", "") else "")
        .split(',').map(_.trim).filter(_.nonEmpty)
        .map(c => l2p.getOrElse(c, c))
    // `write.target-file-size` caps WRITTEN files too (OPTIMIZE is the
    // other honoring site): rows-per-file = target / the table's
    // observed bytes-per-row from the manifest — a coarse shuffle can
    // otherwise emit multi-GB files no executor wants to scan. Needs
    // existing files to estimate from; the first write of a table is
    // governed by its input partitioning alone.
    val maxRecords: Option[Long] =
      if (!hasCurrent) None
      else for {
        target <- current.properties.get("write.target-file-size")
          .flatMap(v => scala.util.Try(v.toLong).toOption)
        bytes = current.files.map(_.bytes).sum
        rows = current.files.map(_.rows).sum
        if bytes > 0 && rows > 0
      } yield math.max(1L, target / math.max(1L, bytes / rows))
    val writer0 = maxRecords.foldLeft(df.write.mode("overwrite")) { (w, n) =>
      w.option("maxRecordsPerFile", n) }
    val writer = bloomCols.foldLeft(writer0) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true") }
    // Timestamps are written as INT64 micros, not Spark's legacy INT96
    // default: INT96 chunks carry NO footer statistics, so a table's
    // timestamp columns would get neither manifest min/max pruning nor
    // metadata-only MIN/MAX answers ([[graft.sql.GraftMetaAggRule]]) —
    // and micros is what Iceberg/Delta writers emit. Session-conf
    // scoped around the one staging write (no per-write parquet option
    // exists); restored even on failure.
    GraftTable.withMicrosTimestamps(spark) {
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(staging.toString)
    }

    // Plan dest names on the driver (pure path arithmetic over one
    // recursive LIST), then MOVE FILES AND READ FOOTERS IN THE CLUSTER:
    // per-file I/O scales with executors instead of serializing on the
    // driver — at 10⁵ files the driver otherwise spends minutes per
    // commit on object-store round-trips. The reference harvests at
    // task commit for the same reason (IcebergFileCommitProtocol
    // .scala:164, utils/ParquetMetrics.scala:180); the driver's only
    // remaining per-commit work is the manifest write. All staging
    // enumeration/cleanup goes through the Hadoop FS API — no
    // local-filesystem assumption anywhere in the data plane.
    val hconf = spark.sparkContext.hadoopConfiguration
    val stagingP = staging
    val hfs = stagingP.getFileSystem(hconf)
    val stagingUri = hfs.makeQualified(stagingP).toUri.getPath
    val listed = scala.collection.mutable.ArrayBuffer[String]()
    GraftTable.walkFiles(hfs, stagingP) { st =>
      if (st.getPath.getName.endsWith(".parquet"))
        listed += st.getPath.toUri.getPath
      true
    }
    // sbucket tables: embed the file's bucket id in its name using
    // Spark's own bucket-file suffix, so the read path can hand the
    // scan a truthful BucketSpec (storage-partitioned joins need
    // FileSourceScanExec to parse a bucket id out of every file name)
    val bucketDest: Option[String] = deps.collectFirst {
      case dp if Deps.sparkBucketN(dp.transform).isDefined &&
        partitionCols.contains(dp.dest) => dp.dest
    }
    var seq = 0
    val work = listed.sorted.toSeq.map { p =>
      val rel = p.stripPrefix(stagingUri).stripPrefix("/")
      val segs = rel.split('/')
      val partVals = segs.dropRight(1).toSeq
        .map { seg =>
          val i = seg.indexOf('=')
          seg.substring(0, i) -> GraftTable.unescapePath(seg.substring(i + 1))
        }.toMap
      val destDir = partVals.foldLeft(new HPath(new HPath(root), "data").toString) {
        case (d, (k, v)) => s"$d/$k=${GraftTable.escapePath(v)}" }
      val destName = bucketDest
        .flatMap(bd => partVals.get(bd))
        .flatMap(v => scala.util.Try(v.toInt).toOption) match {
        case Some(b) =>
          val nm = segs.last
          val dot = nm.indexOf('.')
          val (base, ext) = if (dot < 0) (nm, "") else nm.splitAt(dot)
          s"$base${org.apache.spark.sql.graft.Shim.bucketIdSuffix(b)}$ext"
        case None => segs.last
      }
      val dest = s"$destDir/$snapId-$seq-$destName"
      seq += 1
      (p, dest, partVals)
    }
    val rootStr = root
    // Small commits stat on the driver: a Spark job costs ~1 s of fixed
    // launch overhead, which dominates a handful of local footer reads;
    // the cluster path wins exactly when it matters — many files, where
    // per-file I/O would otherwise serialize on the driver.
    val moved =
      if (work.isEmpty) Seq.empty[FileEntry]
      else if (work.size <= GraftTable.DriverStatThreshold)
        work.map { case (src, dest, pv) => GraftTable.moveAndStat(rootStr, src, dest, pv) }
      else spark.sparkContext
        .parallelize(work, math.min(work.size, spark.sparkContext.defaultParallelism))
        .map { case (src, dest, pv) => GraftTable.moveAndStat(rootStr, src, dest, pv) }
        .collect().toSeq // collect preserves the planned (path-sorted) order
    // remove the now-empty staging tree (recursive delete via Hadoop FS)
    hfs.delete(stagingP, true)
    moved
  }

  // ---- DML ----------------------------------------------------------

  /** Commit an append snapshot with automatic REBASE. Appends commute
    * — the new files conflict with nobody's — so instead of the CAS
    * failure non-commutative commits get, an append re-reads the
    * current snapshot *inside the commit lock* and splices its files
    * onto whatever is now current (the Iceberg fast-append retry
    * model, which is what lets 1000 executors' jobs append to one
    * table concurrently). The id is allocated as max(existing)+1 so a
    * parked write-audit-publish snapshot occupying current+1 is
    * stepped over, not spun on; data writes happened before the lock,
    * so the critical section is one manifest write + one rename.
    */
  /** Rebasable appends are the one writer class vacuum's STRUCTURAL
    * in-flight guard cannot see: their planned snapshot id may be
    * taken by a concurrent commit (the rebase is the feature), leaving
    * `payloadId <= maxId` — indistinguishable from a lost race. The
    * grace period is their primary protection; this re-check under the
    * commit lock turns a mis-tuned grace sweep into a retryable
    * failure instead of a silently committed manifest referencing
    * deleted bytes. O(#added) exists-calls, appends only.
    */
  private def verifyPayloads(added: Seq[FileEntry]): Unit = {
    // O(#added) existence round trips — inline when small, a cluster
    // job past DriverPathOps (a 10⁵-file bulk adopt/append must not
    // serialize HEAD calls on the driver)
    val missing = GraftTable.missingPaths(spark, root, added.map(_.path))
    if (missing.nonEmpty) throw new java.io.IOException(
      s"append payloads vanished before commit (orphan vacuum raced this " +
        s"write? raise ${GraftTable.OrphanGraceProp}): " +
        missing.take(5).mkString(", "))
  }

  private[graft] def commitAppend(added: Seq[FileEntry], op: String,
      ndvDelta: Map[String, Array[Byte]] = Map.empty,
      extraProps: Map[String, String] = Map.empty): Snapshot = {
    // verified OUTSIDE the lock: vacuum never holds it, so the check is
    // equally effective before, and O(#added) exists-calls must not
    // stretch the critical section (a stretched holder looks stale)
    verifyPayloads(added)
    withCommitLock {
      val cur = current
      // sketch MERGE happens inside the lock against the latest
      // properties (two concurrent appends must both land their delta);
      // it is a driver-side union of kilobyte sketches, not a data pass
      appendOnto(cur, op, added,
        GraftTable.mergeNdvProps(cur.properties, ndvDelta) ++ extraProps)
    }
  }

  /** Attach an [[org.apache.spark.sql.Observation]] computing a
    * DataSketches HLL per NDV-maintainable column (see
    * [[GraftTable.ndvSketchExpr]]) to a delta dataframe — the sketches
    * ride the WRITE action itself (a `CollectMetrics` node in the same
    * plan), so `write.stats.ndv=auto` costs zero extra passes and
    * never recomputes an expensive source plan. No-op (original df,
    * None) when the property is off.
    */
  private def ndvObserveIfAuto(cur: Snapshot, df: DataFrame)
      : (DataFrame, Option[(org.apache.spark.sql.Observation, Seq[String])]) = {
    if (!cur.properties.get(GraftTable.NdvModeProp).contains("auto")) return (df, None)
    val cols = df.schema.fields.toSeq
      .flatMap(f => GraftTable.ndvSketchExpr(f).map(f.name -> _))
    if (cols.isEmpty) return (df, None)
    val obs = org.apache.spark.sql.Observation(
      s"ndv-${java.util.UUID.randomUUID()}")
    val aggs = cols.map { case (n, c) =>
      org.apache.spark.sql.functions.hll_sketch_agg(c).as(n) }
    (df.observe(obs, aggs.head, aggs.tail: _*), Some((obs, cols.map(_._1))))
  }

  /** Harvest the sketches once the observed write action has run. */
  private def ndvFromObs(
      o: Option[(org.apache.spark.sql.Observation, Seq[String])])
      : Map[String, Array[Byte]] =
    o.map { case (obs, names) =>
      val m = obs.get
      names.flatMap(n => m.get(n).collect { case b: Array[Byte] => n -> b }).toMap
    }.getOrElse(Map.empty)

  /** INSERT INTO — append snapshot (reference: InsertIntoIcebergTable
    * append mode). Concurrent appends both succeed via rebase-retry.
    */
  def append(df: DataFrame): GraftTable = append(df, Map.empty)

  /** [[append]] with property updates riding the SAME commit — one
    * snapshot instead of append + set-properties (r14: the ANN sync
    * watermark rides its fold's commit).
    */
  def append(df: DataFrame, extraProps: Map[String, String]): GraftTable = {
    val cur = current
    val (dfObs, obs) = ndvObserveIfAuto(cur, df)
    val added = writeFiles(dfObs, cur.partitionCols, cur.deps, cur.id + 1)
    commitAppend(added, "append", ndvFromObs(obs), extraProps)
    maybeAutoCompact()
    this
  }

  /** A92 auto-compaction (Delta `autoOptimize.autoCompact` parity):
    * with `write.auto-compact=true`, every row-adding append is
    * followed by a small-file check — pure manifest arithmetic, zero
    * I/O — and, past `write.auto-compact.min-files` sub-half-target
    * files in any partition, by one [[compactSmallFiles]] commit. The
    * streaming small-file problem solved at its source: a
    * micro-batch-per-minute sink stays at O(target-size) files per
    * partition forever instead of accumulating one file per batch
    * until a scheduled OPTIMIZE. Best-effort by design: the append has
    * already committed, so a compaction that loses a concurrent-commit
    * race (or fails for any reason) is swallowed — the next append
    * retries it.
    */
  private def maybeAutoCompact(): Unit = {
    val p = current.properties
    if (p.get(GraftTable.AutoCompactProp).contains("true")) {
      // everything — including property parsing — inside the try: the
      // append already committed, so a malformed numeric property must
      // not surface a successful write as a failure
      try {
        val target = p.get(GraftTable.TargetFileSizeProp).map(_.toLong)
          .getOrElse(GraftTable.DefaultAutoCompactTarget)
        val minFiles = p.get(GraftTable.AutoCompactMinFilesProp).map(_.toInt)
          .getOrElse(GraftTable.DefaultAutoCompactMinFiles)
        compactSmallFiles(target, minFiles); ()
      } catch {
        case scala.util.control.NonFatal(e) =>
          // best-effort by contract, but a PERSISTENTLY failing
          // compaction lets small files accumulate unboundedly — the
          // exact problem the feature bounds — so give operators a
          // (rate-limited) signal instead of silence
          GraftTable.warnAutoCompactFailure(root, e)
      }
    }
  }

  /** INSERT OVERWRITE (whole table). */
  def overwrite(df: DataFrame): GraftTable = {
    val cur = current
    // under write.stats.ndv=auto an overwrite REPLACES the sketches —
    // the new data is the whole table, so its sketch is exact-coverage
    val (dfObs, obs) = ndvObserveIfAuto(cur, df)
    val added = writeFiles(dfObs, cur.partitionCols, cur.deps, cur.id + 1)
    // when auto is ON, the old stats are ALWAYS cleared — the replaced
    // rows no longer exist, so even a delta with no sketch output (an
    // empty or unsketchable overwrite) must not leave stale counts for
    // later appends to merge into
    val auto = cur.properties.get(GraftTable.NdvModeProp).contains("auto")
    val props =
      if (!auto) cur.properties
      else GraftTable.mergeNdvProps(
        cur.properties.filterNot(kv => kv._1.startsWith("stats.hll.") ||
          kv._1.startsWith("stats.ndv.")), ndvFromObs(obs))
    commitNext(cur, "overwrite")(_.copy(files = added,
      addedFiles = added.size, deletedFiles = cur.files.size,
      deleteFiles = Seq.empty, // every deletable row was replaced
      properties = props))
  }

  /** INSERT OVERWRITE PARTITION (static single-partition overwrite —
    * reference: single-partition overwrite with source predicates).
    */
  def overwritePartition(df: DataFrame, partSpec: Map[String, String]): GraftTable = {
    val cur = current
    // auto-NDV: MERGE the incoming rows' sketch (they must be counted);
    // the replaced partition's rows stay in the sketch as an upper
    // bound — an HLL cannot retract, same stance as row-removing DML
    val (dfObs, obs) = ndvObserveIfAuto(cur, df)
    val added = writeFiles(dfObs, cur.partitionCols, cur.deps, cur.id + 1)
    val badNew = added.filterNot(f => partSpec.forall(kv => f.partition.get(kv._1).contains(kv._2)))
    require(badNew.isEmpty,
      s"rows outside target partition $partSpec: ${badNew.map(_.partition)}")
    val (dropped, kept) = cur.files.partition(
      f => partSpec.forall(kv => f.partition.get(kv._1).contains(kv._2)))
    commitNext(cur, "overwrite-partition")(_.copy(files = kept ++ added,
      addedFiles = added.size, deletedFiles = dropped.size,
      properties = GraftTable.mergeNdvProps(cur.properties, ndvFromObs(obs))))
  }

  /** Dynamic partition overwrite: replace exactly the partitions
    * present in the incoming data.
    */
  def overwriteDynamic(df: DataFrame): GraftTable = {
    val cur = current
    // auto-NDV: merge incoming rows; replaced rows remain an upper
    // bound (see overwritePartition)
    val (dfObs, obs) = ndvObserveIfAuto(cur, df)
    val added = writeFiles(dfObs, cur.partitionCols, cur.deps, cur.id + 1)
    val touched = added.map(_.partition).toSet
    val (dropped, kept) = cur.files.partition(f => touched.contains(f.partition))
    commitNext(cur, "overwrite-dynamic")(_.copy(files = kept ++ added,
      addedFiles = added.size, deletedFiles = dropped.size,
      properties = GraftTable.mergeNdvProps(cur.properties, ndvFromObs(obs))))
  }

  import GraftTable.{Assigned, ByKeys, ByPredicate, PostImage, Removed, RowMatch, WholeSource}

  /** DELETE WHERE `pred` — null-safe: a row whose predicate is NULL
    * stays, matching SQL DELETE. A predicate that is EXACTLY a
    * conjunction of partition-column constraints drops whole files
    * from the manifest with zero data I/O ("delete a day" at 100 TB is
    * an O(metadata) commit). Otherwise `write.delete.mode` picks
    * copy-on-write (default) or merge-on-read (`merge-on-read`, or its
    * older spelling `dv`); see [[rowLevel]].
    */
  def delete(pred: Column): GraftTable =
    rowLevel("delete", GraftTable.DeleteModeProp, ByPredicate(pred), Removed)

  /** The one row-level DML kernel behind [[delete]], [[update]],
    * [[merge]] and [[mergeDelete]] (Iceberg's `write.{delete,update,
    * merge}.mode` model: one operation, the mode a table property).
    * A verb supplies its match and its post-image; the candidate files
    * follow from the match — metadata-only pruning by the predicate, or
    * by the source's key bounds ([[sourceKeyCandidates]]) — so files
    * that cannot hold a hit row are never read. The kernel alone:
    *  - takes the metadata-only exit of a partition-exact DELETE
    *    (partition values are constant per file, so every row of a
    *    matching file matches; dependency inference is NOT used here,
    *    implied constraints would over-delete). It wins in every mode;
    *  - routes on `modeProp`: merge-on-read keys its coordinates on
    *    file basenames, unique table-wide for engine-written files;
    *    adopted layouts with colliding basenames fall back to
    *    copy-on-write;
    *  - copy-on-write: rewrites the candidates (rows not hit pass
    *    through, hit rows are dropped or replaced by their post-image,
    *    a MERGE source is added) and carries every other file verbatim
    *    — O(files-that-can-match), the Iceberg copy-on-write model;
    *  - merge-on-read: leaves every data file in place. The hit rows'
    *    coordinates fold into the deletion vectors ([[mergedDvEntries]])
    *    — or, for keyed verbs under `write.merge.delete-kind=equality`,
    *    the source keys themselves become an equality-delete file with
    *    zero target I/O ([[writeEqDeleteFiles]]) — and post-images are
    *    appended. [[applyDeletes]]/OPTIMIZE folds them back later;
    *  - commits ONE snapshot with `extraProps` riding it. A verb with
    *    `commitEmpty = false` (mergeDelete, run per stream micro-batch)
    *    commits only the properties, if any, when nothing was removed.
    * Source keys are projected once and never persisted: the
    * key-bounds agg and the one join (or the equality-delete write)
    * each read them once, so a cache would cost its materialization
    * job and buy no reuse.
    */
  private def rowLevel(op: String, modeProp: String, hit: RowMatch, post: PostImage,
      extraProps: Map[String, String] = Map.empty,
      commitEmpty: Boolean = true): GraftTable = {
    import org.apache.spark.sql.graft.GraftFileIndex.{PosFileCol, PosIdxCol}
    val cur = current
    val props = cur.properties
    val sch = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    def commitWith(operation: String, files: Seq[FileEntry], added: Int, deleted: Int,
        deleteFiles: Seq[DeleteFileEntry] = cur.deleteFiles): GraftTable =
      commitNext(cur, operation)(_.copy(files = files, addedFiles = added,
        deletedFiles = deleted, deleteFiles = deleteFiles, properties = props ++ extraProps))
    def unchanged: GraftTable =
      if (extraProps.isEmpty) this else commitWith("set-properties", cur.files, 0, 0)

    (hit, post) match {
      case (ByPredicate(pred), Removed) =>
        Pruning.extractExact(pred) match {
          // only partition columns carry a per-file value: gating on a
          // dep dest that is not one would "match" zero files and commit
          // a delete that removed nothing, so such predicates fall through
          case Some(cs) if cs.nonEmpty && cs.keySet.forall(cur.partitionCols.contains) =>
            val (dropped, kept) = cur.files.partition { f =>
              cs.forall { case (c, con) =>
                f.partition.get(c).exists { raw =>
                  // accepts() handles the null sentinel (three-valued):
                  // `DELETE WHERE k IS NULL` drops null partitions too
                  con.accepts(Pruning.parsePartitionValue(raw,
                    sch.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)))
                }
              }
            }
            return commitWith(op, kept, 0, dropped.size)
          case _ => ()
        }
      case _ => ()
    }

    val morModes =
      if (modeProp == GraftTable.DeleteModeProp) Set("merge-on-read", "dv") else Set("merge-on-read")
    val mor = props.get(modeProp).exists(morModes) && uniqueBaseNames(cur.files)
    val equality = mor && hit.isInstanceOf[ByKeys] &&
      props.get(GraftTable.MergeDeleteKindProp).contains("equality")
    val keys: Option[DataFrame] = hit match {
      case ByKeys(source, keyCols) => Some(source.select(keyCols.map(col): _*))
      case _ => None
    }
    def srcKeys = keys.get
    val depDests = cur.deps.map(_.dest).toSet
    def assign(rows: DataFrame, set: Map[String, Column], when0: Option[Column]): DataFrame =
      rows.select(rows.columns.toSeq.map { c =>
        set.get(c) match {
          case Some(v) =>
            val v1 = v.cast(sch(c).dataType)
            when0.fold(v1)(h => when(h, v1).otherwise(col(c))).as(c)
          case None => col(c)
        }
      }: _*).drop(depDests.filterNot(set.keySet.contains).toSeq: _*)
    def write(df: DataFrame): Seq[FileEntry] =
      writeFiles(df, cur.partitionCols, cur.deps, cur.id + 1)
    lazy val cands: Seq[FileEntry] = hit match {
      case ByPredicate(pred) => pruneFiles(pred)._1
      case ByKeys(_, keyCols) => sourceKeyCandidates(srcKeys, keyCols)
    }
    if (!mor) {
      if (cands.isEmpty && !commitEmpty) return unchanged
      val scan = readSnapshot(cur.copy(files = cands, shards = Seq.empty))
      val rewritten = hit match {
        case ByPredicate(pred) => post match {
          case Assigned(set) => assign(scan, set, Some(pred <=> lit(true)))
          case _ => scan.filter(!(pred <=> lit(true)))
        }
        case ByKeys(source, keyCols) =>
          // the USING join puts the keys first: restore the column order
          val kept = scan.join(srcKeys, keyCols, "left_anti")
          if (post == WholeSource) kept.select(source.columns.map(col): _*).unionByName(source)
          else kept.select(sch.fieldNames.toSeq.filterNot(depDests.contains).map(col): _*)
      }
      val added = if (cands.isEmpty && post != WholeSource) Seq.empty else write(rewritten)
      val candPaths = cands.map(_.path).toSet
      commitWith(op, cur.files.filterNot(f => candPaths.contains(f.path)) ++ added,
        added.size, cands.size)
    } else {
      val (deleteFiles, removed, images) =
        if (equality) {
          // the key projection's columns are the key columns
          val dels = writeEqDeleteFiles(srcKeys, srcKeys.columns.toSeq, cur.id + 1)
          (cur.deleteFiles ++ dels, dels.nonEmpty, Seq.empty[FileEntry])
        } else if (cands.isEmpty) (cur.deleteFiles, false, Seq.empty[FileEntry])
        else {
          val live = readSnapshotPos(cur.copy(files = cands, shards = Seq.empty))
          val hits = hit match {
            case ByPredicate(pred) => live.filter(pred <=> lit(true))
            case ByKeys(_, keyCols) =>
              live.join(sourceKeysHinted(props, srcKeys), keyCols, "left_semi")
          }
          // an UPDATE reads its hits twice (coordinates, post-images):
          // persist so the candidate scan and predicate run once
          val twice = post.isInstanceOf[Assigned]
          if (twice) hits.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val (dvOld, other) = cur.deleteFiles.partition(_.dv)
            val (dvList, any) = mergedDvEntries(
              hits.select(col(PosFileCol).as("file_name"), col(PosIdxCol).as("row_index")),
              cur.id + 1, dvOld)
            val images = post match {
              // every row here is a hit, so SET applies unconditionally
              case Assigned(set) if any => write(assign(hits.drop(PosFileCol, PosIdxCol), set, None))
              case _ => Seq.empty[FileEntry]
            }
            (if (any) other ++ dvList else cur.deleteFiles, any, images)
          } finally if (twice) hits.unpersist()
        }
      if (!removed && !commitEmpty) return unchanged
      val added = (hit, post) match {
        case (ByKeys(source, _), WholeSource) => write(source)
        case _ => images
      }
      commitWith(op, cur.files ++ added, added.size, 0, deleteFiles)
    }
  }

  /** Candidate files whose key min/max range overlaps the source's key
    * bounds — one small agg over the source, then metadata-only
    * pruning: a hit row's key lies within the source key range, so
    * every file outside it is provably untouched.
    */
  private def sourceKeyCandidates(source: DataFrame, keyCols: Seq[String]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val aggs = keyCols.flatMap(k => Seq(fmin(col(k)), fmax(col(k))))
    val bounds = source.agg(aggs.head, aggs.tail: _*).head()
    if (bounds.anyNull) Seq.empty // empty source: nothing can match
    else {
      val pred = keyCols.zipWithIndex.map { case (k, i) =>
        col(k) >= lit(bounds.get(2 * i)) && col(k) <= lit(bounds.get(2 * i + 1))
      }.reduce(_ && _)
      pruneFiles(pred)._1
    }
  }

  /** Whether every data file's basename is unique table-wide — the
    * precondition for coordinate deletes (engine-written files always
    * satisfy it; adopted layouts may not).
    */
  private def uniqueBaseNames(files: Seq[FileEntry]): Boolean = {
    val names = files.map(f => GraftTable.baseName(f.path))
    names.distinct.size == names.size
  }

  /** Broadcast-hint the merge-on-read source key frame only while it
    * is small — the same `write.delete.broadcast-threshold` gate as
    * the delete sets MOR reads join. A point upsert's keys are
    * dimension-sized and broadcasting keeps the pruned target scan
    * shuffle-free — but the source of a BULK keyed MERGE is data-scale
    * (10 % of a 100 TB table), and an unconditional hint would force
    * the driver to materialize it on every such write. The size
    * estimate is the optimizer's own (`stats.sizeInBytes`). In
    * [[rowLevel]] the key frame is never cached, so the estimate is
    * the plan's — exact for a local source, derived from the file size
    * for a file source; no filter shrinks it, so a doubtful estimate
    * errs toward the shuffled join. A materialized cache answers with
    * its actual size.
    */
  private[graft] def sourceKeysHinted(props: Map[String, String], srcKeys: DataFrame): DataFrame = {
    val limit = props.get(GraftTable.DeleteBroadcastProp).map(_.toLong)
      .getOrElse(GraftTable.DefaultDeleteBroadcastBytes)
    val est = srcKeys.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(limit)) broadcast(srcKeys) else srcKeys
  }

  /** Convert pending POSITION-delete files into deletion vectors — the
    * migration path onto A90 (Iceberg v3's position-delete→DV rewrite)
    * and `CALL system.rewrite_position_delete_files`: fold their
    * coordinates into per-file bitmaps merged with any existing vectors
    * ([[positionsToDv]]) and swap the entries in ONE commit. Equality
    * deletes are untouched (no coordinates to vectorize); logical
    * content is identical before and after (the commit is classified
    * data-preserving, so change feeds stay silent across it). The read
    * path knows vectors and equality deletes only, so a table holding
    * position entries (one written before vectors existed) reads only
    * after this runs; Iceberg imports convert theirs on import.
    */
  def convertDeletesToDv(): GraftTable = {
    val cur = current
    val (posDels, rest) = cur.deleteFiles.partition(GraftTable.isPosition)
    if (posDels.isEmpty) return this
    val (dvOld, eqDels) = rest.partition(_.dv)
    val dvList = positionsToDv(posDels.map(_.path), cur.files, cur.id + 1, dvOld)
    commitNext(cur, "convert-deletes")(_.copy(deleteFiles = eqDels ++ dvList))
  }

  /** The position→vector kernel of [[convertDeletesToDv]] and the
    * Iceberg import: read the coordinates of the position files at
    * `paths` (delete-set scale, never data scale), drop those naming a
    * file outside `files`, and merge the rest into `dvOld`
    * ([[mergedDvEntries]]); returns the replacement vector list.
    */
  private[lake] def positionsToDv(paths: Seq[String], files: Seq[FileEntry],
      snapId: Long, dvOld: Seq[DeleteFileEntry]): Seq[DeleteFileEntry] = {
    import spark.implicits._
    require(uniqueBaseNames(files),
      "position→dv conversion needs unique file basenames (adopted table?)")
    val live = broadcast(files.map(f => GraftTable.baseName(f.path)).toDF("file_name"))
    mergedDvEntries(deleteRows(paths).join(live, Seq("file_name"), "left_semi"),
      snapId, dvOld)._1
  }

  /** The commit kernel of every merge-on-read coordinate delete
    * (DELETE/UPDATE/position-kind MERGE, and position→dv conversion):
    * aggregate `hits` (file_name, row_index) into per-file bitmaps
    * ([[graft.functions.DvAgg]]), UNION with each touched file's
    * existing vector, write one merged parquet, and rebuild ownership —
    * superseded old entries shrink their `targets`/`rows` bookkeeping
    * exactly, entries left covering nothing drop. Returns (the
    * REPLACEMENT dv entry list, whether any row matched); non-dv
    * entries are the caller's to carry. The merged parquet is written
    * `coalesce(1)`: one row per touched file, bytes ∝ min(2·deletes,
    * rows/8) per file — a delete touching millions of files at once
    * belongs on the partition fast path or copy-on-write.
    */
  private def mergedDvEntries(hits: DataFrame, snapId: Long,
      dvOld: Seq[DeleteFileEntry]): (Seq[DeleteFileEntry], Boolean) = {
    import graft.functions.exprs.{dvCardinality, dvUnion}
    val newDv = hits.groupBy(col("file_name"))
      .agg(graft.functions.exprs.dvAgg(col("row_index")).as("dv_new"))
    val merged =
      if (dvOld.isEmpty)
        newDv.select(col("file_name"), col("dv_new").as("dv"),
          lit(null).cast("binary").as("dv_old"))
      else
        newDv.join(dvRows(dvOld).withColumnRenamed("dv", "dv_old"), Seq("file_name"), "left")
          .select(col("file_name"),
            when(col("dv_old").isNull, col("dv_new"))
              .otherwise(dvUnion(col("dv_new"), col("dv_old"))).as("dv"),
            col("dv_old"))
    val relDir = s"deletes/$snapId-dv-${UUID.randomUUID()}"
    val dirStr = s"$root/$relDir"
    // per-file (basename, new cardinality, replaced cardinality) rides
    // the write as an Observation — no read-back job; bounded by the
    // touched-file count, which the manifest's `targets` list holds anyway
    val obs = org.apache.spark.sql.Observation(s"dv-${UUID.randomUUID()}")
    merged.withColumn("rows", dvCardinality(col("dv")))
      .observe(obs, org.apache.spark.sql.functions.collect_list(org.apache.spark.sql.functions.struct(
        col("file_name"), col("rows"), coalesce(dvCardinality(col("dv_old")), lit(0L)))).as("files"))
      .drop("dv_old")
      .coalesce(1).write.mode("overwrite").parquet(dirStr)
    val perFile = obs.get("files").asInstanceOf[scala.collection.Seq[Row]]
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val dirP = new org.apache.hadoop.fs.Path(dirStr)
    val hfs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (perFile.isEmpty) { hfs.delete(dirP, true); (dvOld, false) }
    else {
      val part = hfs.listStatus(dirP).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).head
      val newEntry = DeleteFileEntry(
        s"$relDir/${part.getPath.getName}", perFile.map(_._2).sum,
        GraftTable.PendingAddedBy, part.getLen,
        targets = perFile.map(_._1).sorted, dv = true)
      // each touched file's old bitmap had exactly one owner entry
      val replaced: Map[String, Long] = perFile.map(f => f._1 -> f._3).toMap
      val shrunk = dvOld.flatMap { e =>
        val (gone, remaining) = e.targets.partition(replaced.contains)
        if (gone.isEmpty) Some(e)
        else if (remaining.isEmpty) None
        else Some(e.copy(targets = remaining, rows = e.rows - gone.map(replaced).sum))
      }
      (shrunk :+ newEntry, true)
    }
  }

  /** Hide the rows a deletion-vector set kills: one bitmap row per
    * data file joins the scan (broadcast under the A56 size gate) and
    * the per-row test is the codegen'd [[graft.functions.DvContains]]
    * probe; the vector step of [[hideDeleted]].
    */
  private def minusDvDeletes(df: DataFrame,
      props: Map[String, String], dvDels: Seq[DeleteFileEntry]): DataFrame = {
    import org.apache.spark.sql.graft.GraftFileIndex.{PosFileCol, PosIdxCol}
    val dvs = dvRows(dvDels)
    val limit = props.get(GraftTable.DeleteBroadcastProp).map(_.toLong)
      .getOrElse(GraftTable.DefaultDeleteBroadcastBytes)
    val hinted =
      if (GraftTable.deleteSetBytes(dvDels) <= limit) broadcast(dvs) else dvs
    df.join(hinted, df(PosFileCol) === dvs("file_name"), "left")
      .filter(col("dv").isNull ||
        !graft.functions.exprs.dvContains(col("dv"), df(PosIdxCol)))
      .drop("file_name", "dv")
  }

  /** The `(file_name, row_index)` coordinates present in `toDels`'
    * bitmaps but not `fromDels`' — the in-window deletion set
    * [[windowVictims]] reconstructs vector victims from. Output is
    * O(in-window deletions) rows, never a vector rescan; vectors only
    * grow along forward history (merge = union), so the diff is exact.
    */
  private[graft] def dvDiffRows(toDels: Seq[DeleteFileEntry],
      fromDels: Seq[DeleteFileEntry]): DataFrame = {
    val toRows = dvRows(toDels)
    val joined =
      if (fromDels.isEmpty) toRows.withColumn("dv_from", lit(null).cast("binary"))
      else {
        val f = dvRows(fromDels)
          .withColumnRenamed("dv", "dv_from")
          .withColumnRenamed("file_name", "__dv_file_from")
        toRows.join(f, toRows("file_name") === f("__dv_file_from"), "left")
          .drop("__dv_file_from")
      }
    joined.select(col("file_name"),
      explode(graft.functions.exprs.dvDiffPositions(col("dv"), col("dv_from")))
        .as("row_index"))
  }

  /** The live `(file_name, dv)` bitmap rows of a dv entry set: one
    * parquet read per entry, restricted to the entry's `targets`. A
    * re-deleted file's merged vector lives in the newer entry and the
    * older entry's `targets` drop it ([[mergedDvEntries]]), so every
    * data file has exactly one live row — a plain union, no dedupe
    * aggregate and so no shuffle on the MOR read path. Row count =
    * Σ entry targets — delete-set metadata scale, never data scale.
    */
  private[graft] def dvRows(dels: Seq[DeleteFileEntry]): DataFrame =
    dels.map { d =>
        spark.read.schema("file_name STRING, dv BINARY, rows BIGINT")
          .parquet(GraftTable.resolveEntry(root, d.path))
          .filter(col("file_name").isin(d.targets: _*))
          .select(col("file_name"), col("dv"))
      }.reduce(_ unionByName _)

  /** Write the DISTINCT key rows of `keys` as an EQUALITY-delete file
    * set — the write is O(source) with ZERO target I/O (no candidate
    * scan, no position resolution), which is the point of the flavor:
    * a keyed MERGE/DELETE of a 100 TB table costs the source, not the
    * table. Readers apply it to data files that predate the committing
    * snapshot ([[hideDeleted]]).
    */
  private def writeEqDeleteFiles(
      keys: DataFrame, keyCols: Seq[String], snapId: Long): Seq[DeleteFileEntry] = {
    val relDir = s"deletes/$snapId-${UUID.randomUUID()}"
    keys.select(keyCols.map(col): _*).distinct()
      .write.mode("overwrite").parquet(s"$root/$relDir")
    val conf = spark.sparkContext.hadoopConfiguration
    val dirP = new org.apache.hadoop.fs.Path(s"$root/$relDir")
    val hfs = dirP.getFileSystem(conf)
    val entries = hfs.listStatus(dirP).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { st =>
        val fr = GraftTable.openFooter(st.getPath, conf)
        val n = try fr.getRecordCount finally fr.close()
        // addedBy is stamped PENDING, not the planned snapId: commit()
        // may rebase the id past a parked WAP snapshot, and stage()
        // stamps the final id (the planned id survives only in the path)
        DeleteFileEntry(s"$relDir/${st.getPath.getName}", n,
          GraftTable.PendingAddedBy, st.getLen, keyCols)
      }
      .filter(_.rows > 0)
    if (entries.isEmpty) hfs.delete(dirP, true)
    entries
  }

  /** Fold pending merge-on-read deletes back into data files: rewrite
    * EXACTLY the files that have deleted rows (planned from the delete
    * list itself — untouched files survive verbatim) and clear the
    * delete list. This is OPTIMIZE's MOR half: the read-side anti-join
    * tax is paid only between a delete burst and the next maintenance
    * window.
    */
  def applyDeletes(): GraftTable = {
    val cur = current
    if (cur.deleteFiles.isEmpty) return this
    GraftTable.refusePositionDeletes(cur.deleteFiles)
    val (eqDels, dvDels) = cur.deleteFiles.partition(_.equalityCols.nonEmpty)
    // dv targets are complete by construction — affected set is
    // manifest metadata, zero delete-parquet I/O
    val dvAffected: Set[String] = dvDels.flatMap(_.targets).toSet
    // equality targets are not recorded — candidates come from key
    // bounds + age pruning (metadata-only; may rewrite a file that held
    // no matching key, which costs a rewrite, never correctness)
    val eqAffected: Set[String] =
      if (eqDels.isEmpty) Set.empty
      else eqDeleteCandidates(cur.files, eqDels)
        .map(f => GraftTable.baseName(f.path)).toSet
    val affected = eqAffected ++ dvAffected
    val (cands, kept) = cur.files.partition(f => affected.contains(GraftTable.baseName(f.path)))
    val survivors = readSnapshot(cur.copy(files = cands, shards = Seq.empty))
    val added =
      if (cands.isEmpty) Seq.empty
      else writeFiles(survivors, cur.partitionCols, cur.deps, cur.id + 1)
    commitNext(cur, "apply-deletes")(_.copy(files = kept ++ added,
      addedFiles = added.size, deletedFiles = cands.size, deleteFiles = Seq.empty))
  }

  /** TRUNCATE — drop every file from the manifest; O(metadata), no
    * data I/O (old snapshots still reference the files for time
    * travel until expired).
    */
  def truncate(): GraftTable = {
    val cur = current
    commitNext(cur, "truncate")(_.copy(files = Seq.empty,
      deletedFiles = cur.files.size, deleteFiles = Seq.empty))
  }

  /** REPLACE TABLE … AS SELECT (RTAS): atomically swap the table's
    * schema, partition spec, dependency columns, and contents in ONE
    * commit while PRESERVING history — time travel to pre-replace
    * snapshots and rollback keep working, which is exactly what
    * drop+create destroys. Prior data files are logically dropped but
    * stay on disk for time travel until expiration, like overwrite.
    * Schema-bound table state dies with the old schema: CHECK
    * constraints (authored against old columns) are cleared and the
    * rename map resets (the new schema's physical names ARE its
    * logical names); other table properties carry forward, matching
    * Iceberg's RTAS property semantics. At scale this is the
    * "recompute the rollup table in place" primitive: downstream
    * readers see old-or-new atomically, never a dropped table.
    */
  def replaceAs(df: DataFrame, partitionCols: Seq[String] = Seq.empty,
      deps: Seq[DepSpec] = Seq.empty): GraftTable = {
    val cur = current
    val withDeps = deps.foldLeft(df) { (d, dep) =>
      if (d.columns.contains(dep.dest)) d
      else d.withColumn(dep.dest,
        Deps.columnTyped(dep.transform, col(dep.src), d.schema(dep.src).dataType))
    }
    val files = writeFiles(df, partitionCols, deps, snapId = cur.id + 1,
      replacing = true)
    commitNext(cur, "replace")(_.copy(schemaJson = withDeps.schema.json,
      partitionCols = partitionCols, deps = deps, files = files,
      addedFiles = files.size, deletedFiles = cur.files.size,
      deleteFiles = Seq.empty,
      properties = cur.properties
        .filterNot(_._1.startsWith(GraftTable.CheckPropPrefix))))
  }

  /** UPDATE … SET … WHERE `pred`. Every SET expression and the
    * predicate see the PRE-update row. Derived dependency columns are
    * dropped and recomputed by the write path, so updating a
    * dependency *source* column keeps its partition-pruning column
    * consistent (rows migrate to their new partition directories).
    * `write.update.mode` picks copy-on-write (default: candidates are
    * rewritten, rows not hit pass through via `CASE WHEN pred`) or
    * merge-on-read (pre-images hidden by the deletion vectors,
    * post-images appended); see [[rowLevel]].
    */
  def update(pred: Column, set: Map[String, Column]): GraftTable =
    rowLevel("update", GraftTable.UpdateModeProp, ByPredicate(pred), Assigned(set))

  /** MERGE INTO … ON target.k = source.k WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT * — the keyed upsert. Candidate files
    * are pruned by the source's key bounds. `write.merge.mode` picks
    * copy-on-write (default: candidates anti-joined against the source
    * keys, unioned with the full source, rewritten) or merge-on-read
    * (matched rows deleted in place, the full source appended, no
    * existing file rewritten); see [[rowLevel]].
    */
  def merge(source: DataFrame, keyCols: Seq[String]): GraftTable =
    rowLevel("merge", GraftTable.MergeModeProp, ByKeys(source, keyCols), WholeSource)

  /** Partition-spec evolution — as an EXPLICIT one-snapshot rewrite.
    * Metadata-only spec changes are unsound in the hive-layout model:
    * files written under the old spec carry the new partition columns
    * only inside their data pages, while Spark's scan contract reads
    * every `partitionSchema` column from the directory row — old files
    * would silently read null. (Iceberg can mix specs because each
    * file binds its own spec id and readers fall back to data pages.)
    * So graft makes the cost visible: one distributed shuffle-rewrite
    * of the live files under the new layout — exactly what a 100 TB
    * operator schedules anyway, since a spec change without clustering
    * the bytes leaves every old file straddling the new partitions.
    * Time travel across the boundary works for free: `partitionCols`
    * is per-snapshot and each file entry carries its own partition
    * values, so pre-change snapshots plan and prune under the old
    * spec, post-change under the new.
    */
  def repartitionSpec(newPartitionCols: Seq[String],
      newDeps: Seq[DepSpec] = Seq.empty): GraftTable = {
    val cur = current
    val fields = schema.fieldNames.toSet ++ newDeps.map(_.dest)
    newPartitionCols.foreach(c => require(fields.contains(c),
      s"partition column $c not in schema and not a dependency dest"))
    newDeps.foreach(dd => require(schema.fieldNames.contains(dd.src),
      s"dependency source ${dd.src} not in schema"))
    // derive new dep dests BEFORE the shuffle so the clustering runs on
    // the final partition value (repartitioning on the raw source col
    // would make every task write every partition dir — tiny files)
    val withDeps = newDeps.foldLeft(read()) { (d, dep) =>
      if (d.columns.contains(dep.dest)) d
      else d.withColumn(dep.dest,
        Deps.columnTyped(dep.transform, col(dep.src), d.schema(dep.src).dataType))
    }
    val data =
      if (newPartitionCols.isEmpty) withDeps
      else withDeps.repartition(newPartitionCols.map(col): _*)
    val added = writeFiles(data, newPartitionCols, newDeps, cur.id + 1)
    commitNext(cur, "repartition-spec")(_.copy(partitionCols = newPartitionCols,
      deps = newDeps, schemaJson = data.schema.json, files = added,
      addedFiles = added.size, deletedFiles = cur.files.size,
      deleteFiles = Seq.empty)) // full rewrite read through (and applied) pending deletes
  }

  /** Table properties (TBLPROPERTIES equivalent). Every commit builds
    * its snapshot as the successor of the one it read ([[successor]]),
    * so properties persist across snapshots without any verb having to
    * thread them. Write-affecting keys:
    *  - `write.bloom.columns` = comma-separated columns that get a
    *    parquet bloom filter in every NEW data file ([[writeFiles]]).
    *    Point predicates on high-cardinality non-partition keys then
    *    skip row groups inside the parquet reader (parquet-mr applies
    *    blooms to pushed equality filters) — the pruning modality
    *    min/max stats can't provide on unsorted columns. Footer-local
    *    like Iceberg's write.parquet bloom props: no manifest bloat.
    */
  def properties: Map[String, String] = current.properties

  def setProperty(key: String, value: String): GraftTable =
    setProperties(Map(key -> value))

  /** Batch form: N properties land as ONE snapshot instead of N
    * metadata commits (r14 — the ANN index build stamped three).
    */
  def setProperties(kvs: Map[String, String]): GraftTable = {
    val cur = current
    commitNext(cur, "set-properties")(_.copy(properties = cur.properties ++ kvs))
  }

  def unsetProperty(key: String): GraftTable = unsetProperties(Seq(key))

  /** Removes all `keys` in ONE set-properties snapshot — the DDL-atomic
    * shape `UNSET TBLPROPERTIES ('a','b')` needs: either every key is
    * gone or (if the caller validated and threw first) none is, never a
    * half-applied statement.
    */
  def unsetProperties(keys: Seq[String]): GraftTable = {
    val cur = current
    commitNext(cur, "set-properties")(_.copy(properties = cur.properties -- keys))
  }

  /** CHECK constraint DDL (A73, Delta `ALTER TABLE ADD CONSTRAINT`
    * parity): a named boolean SQL predicate over logical columns,
    * stored as the `check.<name>` table property and enforced on every
    * subsequent data write in [[writeFiles]] (violations abort before
    * any file lands; NULL = pass, per SQL). Adding a constraint first
    * (a) resolves the predicate against the table schema — an
    * unresolvable or non-boolean predicate is rejected at DDL time —
    * and (b) scans the CURRENT data once for violations (Delta's
    * semantics: a constraint the existing table already violates is
    * refused, so `check.*` is an invariant of every snapshot from the
    * moment it exists). The add-time scan is one early-exit filter
    * over the table — the documented one-time DDL price.
    */
  def addCheckConstraint(name: String, predicate: String): GraftTable = {
    require(name.nonEmpty && !name.exists(c => c == '.' || c.isWhitespace),
      s"constraint name must be non-empty without dots/whitespace: '$name'")
    val p = expr(predicate)
    val probe = read().filter(coalesce(p, lit(true)))
    // forces resolution: unknown columns / non-boolean predicates throw here
    probe.queryExecution.assertAnalyzed()
    val bad = read().filter(!coalesce(p, lit(true)))
    if (!bad.isEmpty)
      throw new IllegalArgumentException(
        s"cannot add CHECK constraint '$name' ($predicate): existing rows " +
          s"of $root violate it")
    setProperty(GraftTable.CheckPropPrefix + name, predicate)
  }

  def dropCheckConstraint(name: String): GraftTable =
    unsetProperty(GraftTable.CheckPropPrefix + name)

  /** MERGE … WHEN MATCHED THEN DELETE (and nothing else) — the
    * deletion-list pattern (GDPR erasure, dedup-cluster removal): drop
    * every target row whose key appears in `source`. Same candidate
    * pruning and `write.merge.mode` routing as [[merge]]; a deletion
    * list that can match nothing commits nothing. See [[rowLevel]].
    */
  def mergeDelete(source: DataFrame, keyCols: Seq[String]): GraftTable =
    mergeDelete(source, keyCols, Map.empty)

  /** [[mergeDelete]] with property updates riding the SAME commit (see
    * the two-arg [[append]]); with nothing to delete they land as their
    * own set-properties commit.
    */
  def mergeDelete(source: DataFrame, keyCols: Seq[String],
      extraProps: Map[String, String]): GraftTable =
    rowLevel("merge-delete", GraftTable.MergeModeProp, ByKeys(source, keyCols), Removed,
      extraProps, commitEmpty = false)

  /** Schema evolution: add a nullable column (old files read as null). */
  def addColumn(name: String, dt: DataType): GraftTable = {
    val cur = current
    val newSchema = StructType(schema.fields :+ StructField(name, dt, nullable = true))
    commitNext(cur, "add-column")(_.copy(schemaJson = newSchema.json))
  }

  /** ALTER TABLE … ADD COLUMN … DEFAULT — metadata-only add with an
    * INITIAL DEFAULT (Iceberg v3 `initial-default` semantics): rows in
    * files written BEFORE the add read the default; rows written after
    * read what was stored — including an explicit NULL, which stays
    * NULL (a plain `coalesce` over the whole scan would get this
    * wrong). The boundary is exact because the read path groups data
    * files by their `addedBy` stamp against the column's add snapshot
    * (see [[relationWithDefaults]]) — pre-add files project the
    * literal (their scan never reads the column at all), post-add
    * files read it physically. The default also acts as the WRITE
    * default: a post-add append that omits the column materializes it
    * ([[writeFiles]]), so every post-add file physically carries the
    * column. Zero data rewritten at any scale; the default must be a
    * constant-foldable expression.
    */
  def addColumnWithDefault(name: String, dt: DataType, defaultSql: String): GraftTable = {
    val cur = current
    require(!schema.fieldNames.contains(name), s"column $name already exists on $root")
    // resolution + constant-ness probe: unknown functions / column refs
    // or a non-castable literal must fail at DDL time, not at read time
    val probe = spark.range(1).select(expr(defaultSql).cast(dt).as(name))
    probe.queryExecution.assertAnalyzed()
    require(probe.queryExecution.optimizedPlan.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if p.projectList.exists(e => !e.deterministic) => ()
      }.isEmpty, s"DEFAULT must be deterministic: $defaultSql")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(GraftTable.DefaultMetaKey, defaultSql)
      .putLong(GraftTable.DefaultAddedAtKey, cur.id + 1)
      .build()
    val newSchema = StructType(
      schema.fields :+ StructField(name, dt, nullable = true, md))
    commitNext(cur, "add-column")(_.copy(schemaJson = newSchema.json))
  }

  /** ALTER TABLE … DROP COLUMN — metadata-only: the column vanishes
    * from the snapshot schema while data files are untouched (parquet
    * readers project to the requested schema, so the on-disk column is
    * simply never read again). Time travel to pre-drop snapshots still
    * sees it; at 100 TB this is the only sane drop — a rewrite would
    * be a full-table job to delete bytes nobody will read.
    */
  def dropColumn(name: String): GraftTable = {
    val cur = current
    val sch = schema
    require(sch.fieldNames.contains(name), s"no column $name on table $root")
    require(!cur.partitionCols.contains(name), s"cannot drop partition column $name")
    require(!cur.deps.exists(d => d.src == name || d.dest == name),
      s"cannot drop column $name: used by a dependency transform")
    // CHECK predicates are SQL text: dropping a referenced column would
    // make the NEXT write fail deep in expr() analysis with an
    // unresolved-column error far from the cause — refuse here
    requireNoCheckReference(cur, name, "drop")
    val remaining = StructType(sch.fields.filterNot(_.name == name))
    require(remaining.nonEmpty, "cannot drop the last column")
    commitNext(cur, "drop-column")(_.copy(schemaJson = remaining.json,
      // per-column properties go WITH the column — a stale notnull.<col>
      // bricks every later write ("batch omits the column"), a stale
      // stats.ndv/hll poisons a re-added same-name column, a stale
      // comment ghosts through DESCRIBE
      properties = GraftTable.ColumnPropPrefixes
        .foldLeft(cur.properties)((ps, p) => ps - (p + name))))
  }

  /** Refuse a column DDL when any `check.*` predicate references the
    * column (by parse, not substring — `v2 > 0` must not pin `v`).
    * Shared guard for rename and drop: both would otherwise defer the
    * failure to the next write's predicate analysis.
    */
  private def requireNoCheckReference(
      cur: Snapshot, col: String, verb: String): Unit = {
    cur.properties.foreach { case (k, pred) =>
      if (k.startsWith(GraftTable.CheckPropPrefix)) {
        val refs = spark.sessionState.sqlParser.parseExpression(pred).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.head
        }
        require(!refs.exists(_.equalsIgnoreCase(col)),
          s"cannot $verb column $col: referenced by CHECK constraint " +
            s"'${k.stripPrefix(GraftTable.CheckPropPrefix)}' ($pred) — " +
            "drop the constraint first")
      }
    }
  }

  /** ALTER TABLE … RENAME COLUMN — metadata-only. The on-disk parquet
    * name is frozen at first write; the snapshot schema carries a
    * physical-name mapping in field metadata (the moral equivalent of
    * Iceberg's field ids), so files written before and after the
    * rename share one physical schema and nothing is rewritten. Reads
    * alias physical → logical; writes rename logical → physical; stats
    * pruning translates constraint keys the same way. Partition and
    * dependency columns are not renamable (their names are baked into
    * directory layout and dep specs).
    */
  def renameColumn(from: String, to: String): GraftTable = {
    val cur = current
    val sch = schema
    require(sch.fieldNames.contains(from), s"no column $from on table $root")
    require(!sch.fieldNames.contains(to), s"column $to already exists on table $root")
    require(!cur.partitionCols.contains(from) &&
      !cur.deps.exists(d => d.src == from || d.dest == from),
      s"cannot rename partition/dependency column $from")
    // pending equality deletes reference key columns by name — renaming
    // one would silently unbind them; fold deletes back first
    require(!cur.deleteFiles.exists(_.equalityCols.contains(from)),
      s"cannot rename column $from: referenced by a pending equality " +
        "delete (run applyDeletes/OPTIMIZE first)")
    // CHECK predicates are stored as SQL text keyed by constraint name —
    // after a rename their analysis would fail at the NEXT write with a
    // confusing unresolved-column error; refuse here with the real cause
    requireNoCheckReference(cur, from, "rename")
    val fields = sch.fields.map { f =>
      if (f.name != from) f
      else StructField(to, f.dataType, f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putString(GraftTable.PhysicalNameKey, GraftTable.physicalName(f)).build())
    }
    // per-column properties follow the column (keyed by logical name):
    // analyzed NDV + its HLL sketch (left behind, auto-NDV would start
    // a fresh delta-only sketch under the new name and OVERWRITE the
    // CBO's table-level distinctCount with last-batch NDV), the column
    // comment, and crucially the NOT NULL enforcement key — left under
    // the old name, write-time enforcement would silently stop while
    // the schema still records nullable=false, letting nulls land
    // under a non-nullable schema (wrong-answer surface via Spark's
    // nullability-based optimizations)
    val props = GraftTable.ColumnPropPrefixes
      .foldLeft(cur.properties) { (ps, prefix) =>
        ps.get(prefix + from) match {
          case Some(v) => ps - (prefix + from) + (prefix + to -> v)
          case None    => ps
        }
      }
    commitNext(cur, "rename-column")(_.copy(schemaJson = StructType(fields).json,
      properties = props))
  }

  /** ALTER TABLE … ALTER COLUMN … TYPE — metadata-only type WIDENING:
    * `int→bigint`, `float→double`, and decimal precision growth at
    * fixed scale. Data files keep their narrow physical type — Spark
    * 4's parquet readers promote narrow stored values to the wider
    * requested type at scan time — so a petabyte table re-types in one
    * manifest commit where a cast-rewrite would be a full-table job
    * (Iceberg's type-promotion rules re-expressed). Stats pruning
    * stays sound across the boundary by construction: int and long
    * share the harvested "long" stats domain, float and double the
    * "double" domain, and decimals never stats-prune
    * (Pruning.statsTrustworthy). Anything non-widening is refused —
    * narrowing silently truncates and cross-domain changes would need
    * a rewrite anyway. Time travel to pre-widen snapshots reads the
    * narrow schema.
    */
  def widenColumn(name: String, to: DataType): GraftTable = {
    val cur = current
    val sch = schema
    require(sch.fieldNames.contains(name), s"no column $name on table $root")
    require(!cur.partitionCols.contains(name) &&
      !cur.deps.exists(d => d.src == name || d.dest == name),
      s"cannot re-type partition/dependency column $name")
    val f = sch(name)
    val ok = (f.dataType, to) match {
      case (IntegerType, LongType)          => true
      case (FloatType, DoubleType)          => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _                                => false
    }
    require(ok, s"unsupported ALTER COLUMN TYPE ${f.dataType.simpleString} -> " +
      s"${to.simpleString}: only widening promotions (int->bigint, " +
      "float->double, decimal precision growth) are metadata-only")
    val fields = sch.fields.map(x =>
      if (x.name == name) StructField(x.name, to, x.nullable, x.metadata) else x)
    commitNext(cur, "widen-column")(_.copy(schemaJson = StructType(fields).json))
  }

  /** NOT NULL constraints (Delta `ALTER COLUMN … SET/DROP NOT NULL`
    * parity, SURVEY.md §2.A88): flips the column's schema nullability
    * in a metadata-only snapshot. `SET NOT NULL` must prove the
    * existing data complies first — metadata-FIRST: if every live
    * file's footer stats record zero nulls for the column (and every
    * partition value is non-null for a partition column), the proof
    * costs zero data I/O at any table size; only files without exact
    * null counts fall back to one narrow IS NULL scan over just those
    * files. Enforcement happens on every subsequent write in the
    * single writeFiles funnel (violating batches abort atomically,
    * like CHECK constraints — but NULL fails here, the opposite of
    * CHECK's SQL pass-on-NULL). Nullability is per-snapshot schema:
    * time travel reads old snapshots with their recorded flag.
    */
  def setColumnNullability(name: String, nullable: Boolean): GraftTable =
    setColumnNullability(name, nullable, preValidated = false)

  /** `preValidated = true` skips the compliance proof — for callers
    * (the multi-column SQL command) that already ran [[validateNoNulls]]
    * on every tightened column before the first commit; without it each
    * SET NOT NULL pays the stats-less-file IS NULL scan twice.
    */
  private[graft] def setColumnNullability(
      name: String, nullable: Boolean, preValidated: Boolean): GraftTable = {
    val f = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no column $name on table $root"))
    val propKey = GraftTable.NotNullPropPrefix + f.name
    if (f.nullable == nullable && current.properties.contains(propKey) == !nullable)
      return this // idempotent
    if (!nullable && !preValidated) validateNoNulls(name)
    val cur = current
    val fields = schema.fields.map(x =>
      if (x.name.equalsIgnoreCase(name)) x.copy(nullable = nullable) else x)
    // the write-funnel enforcement keys on the EXPLICIT property (bare
    // schema non-nullability also arrives incidentally from tuple
    // encoders and must not start aborting writes); both flip in ONE
    // snapshot so time travel sees consistent flag+enforcement state
    val props = if (nullable) cur.properties - propKey
                else cur.properties + (propKey -> "true")
    commitNext(cur, "set-nullability")(_.copy(schemaJson = StructType(fields).json,
      properties = props))
  }

  /** The compliance proof behind `SET NOT NULL`, commit-free so a
    * multi-column statement can validate EVERY column before the first
    * snapshot lands. Metadata-first; throws on any existing null.
    */
  private[graft] def validateNoNulls(name: String): Unit = {
    val cur = current
    val f = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no column $name on table $root"))
    val phys = GraftTable.physicalName(f)
    if (cur.partitionCols.contains(f.name)) {
      val bad = cur.files.filter(fe => fe.rows > 0L &&
        !fe.partition.get(f.name).exists(_ != Pruning.HiveNullPartition))
      // a null partition value is a definite violation — no scan needed
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"SET NOT NULL on ${f.name} refused: null partition value present")
    } else {
      // files whose stats PROVE a null refuse without any scan
      val provenBad = cur.files.filter(_.stats.get(phys).exists(_.nulls > 0L))
      if (provenBad.nonEmpty) throw new IllegalArgumentException(
        s"SET NOT NULL on ${f.name} refused: ${provenBad.size} file(s) record " +
          s"${provenBad.map(_.stats(phys).nulls).sum} null value(s)")
      // stats-less files (schema evolution, adopted files): one narrow
      // scan over JUST those files decides exactly
      val needScan = cur.files.filter(fe =>
        fe.rows > 0L && fe.stats.get(phys).isEmpty)
      if (needScan.nonEmpty) {
        // the relation aliases physical names back to logical ones AND
        // applies initial defaults: files predating an ADD COLUMN …
        // DEFAULT logically read the default, not null — a raw-relation
        // scan here would refuse SET NOT NULL on a column every row of
        // which reads a non-null default
        val sub = relationWithDefaults(
          cur.copy(files = needScan, shards = Seq.empty), withRowPos = false)
        require(sub.filter(col(f.name).isNull).isEmpty,
          s"SET NOT NULL on ${f.name} refused: existing rows contain nulls")
      }
    }
  }

  /** ANALYZE-equivalent: one distributed pass computing approximate
    * NDV (HyperLogLog++) per atomic column, persisted as
    * `stats.ndv.<col>` table properties in an `analyze` snapshot —
    * the role Iceberg's ANALYZE action plays with Puffin theta
    * sketches. The SQL catalog bridge folds these into
    * `CatalogColumnStat.distinctCount`, giving CBO join reordering
    * real cardinalities; integral columns fall back to the value-range
    * bound without it. Explicit maintenance, never a per-commit tax.
    */
  def analyzeNdv(cols: Seq[String] = Seq.empty): GraftTable = {
    import org.apache.spark.sql.functions.{approx_count_distinct, hll_sketch_agg}
    val fields = schema.fields
    val atomic = fields.filter(_.dataType match {
      case _: NumericType | StringType | DateType | TimestampType
         | TimestampNTZType | BooleanType | BinaryType => true
      case _ => false
    }).map(_.name).toSeq
    val target = if (cols.nonEmpty) cols else atomic
    require(target.nonEmpty, "no analyzable columns")
    // columns with a cardinality-preserving sketch input get a
    // DataSketches HLL (persisted — it SEEDS write.stats.ndv=auto so
    // later append deltas merge against full-table coverage); the rest
    // fall back to a plain approx_count_distinct estimate
    val sketchExpr = target.flatMap(c => fields.find(_.name == c))
      .flatMap(f => GraftTable.ndvSketchExpr(f).map(f.name -> _)).toMap
    val (sk, plain) = target.partition(sketchExpr.contains)
    val aggs = sk.map(c => hll_sketch_agg(sketchExpr(c)).as(s"hll_$c")) ++
      plain.map(c => approx_count_distinct(col(c)).as(c))
    val row = read().agg(aggs.head, aggs.tail: _*).head()
    val skBytes = sk.zipWithIndex.flatMap { case (c, i) =>
      Option(row.getAs[Array[Byte]](i)).map(c -> _) }.toMap
    val plainProps = plain.zipWithIndex.map { case (c, i) =>
      s"stats.ndv.$c" -> row.getLong(sk.size + i).toString }
    val cur = current
    commitNext(cur, "analyze")(_.copy(properties = GraftTable.mergeNdvProps(
      cur.properties -- sk.map(c => s"stats.hll.$c"), // full pass replaces, not merges
      skBytes) ++ plainProps))
  }

  /** logical → physical column names (non-identity entries only). */
  private def logicalToPhysical: Map[String, String] =
    if (!hasCurrent) Map.empty
    else schema.fields.iterator
      .map(f => f.name -> GraftTable.physicalName(f))
      .filter(kv => kv._1 != kv._2).toMap

  /** OPTIMIZE … ZORDER BY: rewrite the table clustered on the Z-order
    * (Morton) key of the given integral columns — after compaction each
    * file covers a narrow min/max range on *every* listed column, so
    * footer-stats pruning works for predicates on any of them. Column
    * domains come from the existing manifest stats (no data pass).
    * The helper `__zorder` column is written into the files but is not
    * part of the table schema — reads never see it.
    */
  def optimizeZOrder(cols: Seq[String], nFiles: Int): GraftTable =
    optimizeZOrder(cols, nFiles, None)

  /** `where` (A89, Delta `OPTIMIZE … WHERE` parity): restrict the
    * rewrite to files whose PARTITION VALUES satisfy the predicate —
    * exact per-file decision, zero data reads to plan; non-partition
    * predicates refuse loudly (a row-level scope would force a scan
    * and a partial-file rewrite, which is DML, not maintenance). A
    * scoped Z-order keeps every out-of-scope file verbatim, so
    * maintenance on one hot partition never rewrites 100 TB of cold
    * ones; pending deletes fold only for the in-scope files.
    */
  def optimizeZOrder(cols: Seq[String], nFiles: Int, where: Option[Column]): GraftTable = {
    val cur = current
    val inScope = partitionScope(cur, where)
    val scoped = cur.files.filter(f => inScope(f.partition))
    if (scoped.isEmpty) return this
    val kept = cur.files.filterNot(f => inScope(f.partition))
    val stats = cols.map { c =>
      val pc = logicalToPhysical.getOrElse(c, c) // manifest stats use physical names
      val mins = scoped.flatMap(_.stats.get(pc)).map(_.min.toLong)
      val maxs = scoped.flatMap(_.stats.get(pc)).map(_.max.toLong)
      require(mins.nonEmpty, s"no stats for zorder column $c")
      (mins.min, maxs.max)
    }
    // `write.optimize.curve=hilbert` swaps the space-filling curve:
    // Hilbert's unit-step adjacency yields files with tighter
    // per-column min/max ranges than Morton's power-of-two boundary
    // jumps (better footer-stats pruning at the same rewrite cost);
    // Morton stays the default for continuity with existing layouts.
    val curve = cur.properties.getOrElse(GraftTable.OptimizeCurveProp, "morton")
    require(curve == "morton" || curve == "hilbert",
      s"unknown ${GraftTable.OptimizeCurveProp}: $curve (morton | hilbert)")
    val keyFn =
      if (curve == "hilbert") graft.functions.exprs.hilbertKey _
      else graft.functions.exprs.zorderKey _
    val zkey = keyFn(
      cols.map(c => col(c).cast("long")),
      stats.map(_._1).toArray, stats.map(_._2).toArray)
    val clustered = readSnapshot(cur.copy(files = scoped, shards = Seq.empty))
      .withColumn("__zorder", zkey)
      .repartitionByRange(nFiles, col("__zorder"))
      .sortWithinPartitions(col("__zorder"))
    val added = writeFiles(clustered, cur.partitionCols, cur.deps, cur.id + 1)
    // scoped rewrites only fold deletes whose known targets all sit in
    // scope; a whole-table zorder (scope = everything) clears them all
    val remainingDeletes =
      if (kept.isEmpty) Seq.empty[DeleteFileEntry]
      else {
        val keptBases = kept.map(f => GraftTable.baseName(f.path)).toSet
        cur.deleteFiles.filter(d =>
          d.targets.isEmpty || d.targets.exists(keptBases.contains))
      }
    commitNext(cur, "optimize")(_.copy(files = kept ++ added,
      addedFiles = added.size, deletedFiles = scoped.size,
      deleteFiles = remainingDeletes))
  }

  /** Exact partition-scope predicate for maintenance commands: the
    * same interpreted evaluation the file index uses, or everything
    * when absent. Refuses non-partition references loudly.
    */
  private def partitionScope(
      cur: Snapshot, where: Option[Column]): Map[String, String] => Boolean =
    where match {
      case None => _ => true
      case Some(c) =>
        import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, BoundReference, Predicate => CPredicate}
        val partFields = cur.partitionCols.map { pc =>
          schema.fields.find(_.name.equalsIgnoreCase(pc)).getOrElse(
            org.apache.spark.sql.types.StructField(pc, StringType))
        }
        // resolve the unresolved Column against a dummy projection of
        // the partition columns so attribute references bind by name
        val dummy = spark.createDataFrame(
          new java.util.ArrayList[Row](), StructType(partFields))
        val resolved = (try dummy.filter(c).queryExecution.analyzed catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"OPTIMIZE WHERE references a non-partition column — maintenance " +
                s"scopes are partition-granular (partition columns: " +
                s"${cur.partitionCols.mkString(", ")}): ${e.getMessage}")
        }).collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.headOption.getOrElse(
          throw new IllegalArgumentException("OPTIMIZE WHERE predicate did not resolve"))
        require(resolved.deterministic, "OPTIMIZE WHERE must be deterministic")
        val pred = CPredicate.createInterpreted(resolved.transform {
          case a: AttributeReference =>
            val i = partFields.indexWhere(_.name.equalsIgnoreCase(a.name))
            require(i >= 0,
              s"OPTIMIZE WHERE references non-partition column ${a.name} — " +
                "maintenance scopes are partition-granular")
            BoundReference(i, partFields(i).dataType, nullable = true)
        })
        (pvals: Map[String, String]) => {
          val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(partFields.map { f =>
            pvals.get(f.name)
              .map(v => org.apache.spark.sql.graft.GraftFileIndex.castPartitionValue(v, f.dataType))
              .orNull
          })
          pred.eval(row)
        }
    }

  /** OPTIMIZE (bin-packing compaction): every partition holding more
    * than one file whose total size fits `targetBytes` is rewritten
    * into a single file; already-compact partitions (and oversized
    * ones) are carried verbatim. Small-file pressure is the chronic
    * operational problem of streaming/micro-batch ingest — at 100 TB
    * the rewrite touches only fragmented partitions, planned entirely
    * from manifest metadata.
    */
  def optimizeCompact(targetBytes: Long): GraftTable =
    optimizeCompact(targetBytes, None)

  /** `where`: partition-scoped compaction (A89) — see
    * [[optimizeZOrder]]'s scoped overload for the contract.
    */
  def optimizeCompact(targetBytes: Long, where: Option[Column]): GraftTable = {
    val cur = current
    val inScope = partitionScope(cur, where)
    val fragParts = cur.files.groupBy(_.partition).collect {
      case (p, fs) if fs.size > 1 && fs.map(_.bytes).sum <= targetBytes &&
        inScope(p) => p
    }.toSet
    // Delete-aware selection: partitions whose pending merge-on-read
    // deletes cover ≥ `write.compact.delete-ratio` of their rows
    // rewrite REGARDLESS of fragmentation or the size cap — the
    // rewrite reads through the deletes, their entries fall out of
    // the manifest (stage-time target prune), and the MOR read tax /
    // delete-set growth is bounded by compaction cadence instead of
    // delete volume. This is what keeps the broadcast-threshold gate
    // an edge case rather than a steady state. Delete-dense partitions
    // that are NOT also size-fragmented fold through writeFiles at the
    // scan's natural parallelism — forcing them through the
    // one-file-per-partition packing would make an arbitrarily large
    // dense partition a single-task straggler.
    val foldSel = deleteDenseParts(cur).filter(inScope) -- fragParts
    if (fragParts.isEmpty && foldSel.isEmpty) return this
    val kept = cur.files.filterNot(f =>
      fragParts.contains(f.partition) || foldSel.contains(f.partition))
    val packCands = cur.files.filter(f => fragParts.contains(f.partition))
    val foldCands = cur.files.filter(f => foldSel.contains(f.partition))
    val packAdded =
      if (packCands.isEmpty) Seq.empty[FileEntry] else pack(cur, packCands, targetBytes)
    val foldAdded =
      if (foldCands.isEmpty) Seq.empty[FileEntry]
      else writeFiles(readSnapshot(cur.copy(files = foldCands, shards = Seq.empty)),
        cur.partitionCols, cur.deps, cur.id + 1)
    val added = packAdded ++ foldAdded
    commitNext(cur, "compact")(_.copy(files = kept ++ added,
      addedFiles = added.size, deletedFiles = packCands.size + foldCands.size))
  }

  /** FILE-granular small-file packing — the [[maybeAutoCompact]]
    * kernel, also callable directly: in every partition holding at
    * least `minFiles` files under half the target, pack exactly THOSE
    * files (one task per partition value; `write.target-file-size`
    * still caps outputs) and leave already-right-sized files alone —
    * unlike [[optimizeCompact]]'s partition-granular bin-packing,
    * which skips any partition whose total exceeds the target and so
    * can never bound a steadily-growing streaming partition. Reads of
    * the packed subset apply pending deletes (the rewrite folds them
    * for those files; commit-time target pruning drops the stale
    * entries), and untouched files keep theirs.
    */
  def compactSmallFiles(targetBytes: Long, minFiles: Int): GraftTable = {
    val cur = current
    val smallSel = cur.files.groupBy(_.partition).values.flatMap { fs =>
      val smalls = fs.filter(_.bytes < targetBytes / 2)
      if (smalls.size >= minFiles) smalls else Seq.empty
    }.toSeq
    if (smallSel.isEmpty) return this
    val smallPaths = smallSel.map(_.path).toSet
    val kept = cur.files.filterNot(f => smallPaths.contains(f.path))
    val added = pack(cur, smallSel, targetBytes)
    commitNext(cur, "compact")(_.copy(files = kept ++ added,
      addedFiles = added.size, deletedFiles = smallSel.size))
  }

  /** The packing kernel of [[optimizeCompact]] and [[compactSmallFiles]]:
    * read `files` through `cur`'s pending deletes and rewrite them
    * repartitioned on the partition columns — exactly one task (and so
    * one file) per partition value — or, unpartitioned, into
    * `targetBytes`-sized splits.
    */
  private def pack(cur: Snapshot, files: Seq[FileEntry], targetBytes: Long): Seq[FileEntry] = {
    val frag = readSnapshot(cur.copy(files = files, shards = Seq.empty))
    val packed =
      if (cur.partitionCols.nonEmpty) frag.repartition(cur.partitionCols.map(col): _*)
      else frag.repartition(math.max(1,
        math.ceil(files.map(_.bytes).sum.toDouble / targetBytes).toInt))
    writeFiles(packed, cur.partitionCols, cur.deps, cur.id + 1)
  }

  /** Partitions whose pending-delete density crosses the compaction
    * ratio. Vector entries attribute their rows to each recorded
    * target's partition (multi-target entries over-attribute —
    * compacts sooner, never later); unknown-target entries (equality
    * flavor) can touch anything, so past
    * the ratio of the WHOLE table they nominate every partition.
    * Pure manifest arithmetic — no delete parquet is read.
    */
  private def deleteDenseParts(cur: Snapshot): Set[Map[String, String]] = {
    if (cur.deleteFiles.isEmpty) return Set.empty
    val ratio = cur.properties.get(GraftTable.CompactDeleteRatioProp)
      .map(_.toDouble).getOrElse(GraftTable.DefaultCompactDeleteRatio)
    val byBase = cur.files.map(f => GraftTable.baseName(f.path) -> f).toMap
    val acc = scala.collection.mutable.Map[Map[String, String], Long]()
    var unknown = 0L
    cur.deleteFiles.foreach { d =>
      if (d.targets.nonEmpty)
        d.targets.foreach(b => byBase.get(b).foreach(f =>
          acc(f.partition) = acc.getOrElse(f.partition, 0L) + d.rows))
      else unknown += d.rows
    }
    val rowsPerPart = cur.files.groupBy(_.partition)
      .map { case (p, fs) => p -> fs.map(_.rows).sum }
    val dense = acc.collect {
      case (p, dr) if rowsPerPart.getOrElse(p, 0L) > 0 &&
        dr.toDouble / rowsPerPart(p) >= ratio => p
    }.toSet
    if (unknown > 0 && cur.totalRows > 0 && unknown.toDouble / cur.totalRows >= ratio)
      rowsPerPart.keySet.toSet
    else dense
  }

  /** Incremental read between two snapshots: the rows of data files
    * present in `toId` but not `fromId` — exactly the appended data
    * for append-only history, which is what incremental consumers
    * (downstream ETL, training-data refresh) checkpoint on. Files
    * added by CONTENT-INVARIANT rewrite commits (compact — including
    * A92 auto-compaction — OPTIMIZE, apply-deletes) are skipped when
    * everything they repacked was already visible at `fromId`
    * ([[rewriteCarrySkips]]): they carry no new rows by construction,
    * and without the skip a table that is both a streaming sink and an
    * incremental source would re-emit every packed row each time
    * compaction fires (Delta marks such commits `dataChange=false`
    * for the same reason). A data-CHANGING rewrite in between
    * (copy-on-write delete/update) still surfaces rewritten files as
    * additions; consumers needing row-level truth use [[changelog]].
    */
  def readIncremental(fromId: Long, toId: Long): DataFrame = {
    val from = snapshot(fromId).files.map(_.path).toSet
    val to = snapshot(toId)
    val carry = rewriteCarrySkips(fromId, toId, f => from.contains(f.path))
    readSnapshot(to.copy(files = to.files.filterNot(f =>
      from.contains(f.path) || carry.contains(f.path))))
  }

  /** Paths of files added by content-invariant rewrite snapshots
    * (the [[GraftTable.ContentInvariantOps]] class — Delta's
    * `dataChange=false`) inside `(startId, endId]` that carry ONLY
    * rows a consumer positioned at the window start has already seen —
    * the files an incremental/streaming reader must skip to keep its
    * each-row-once contract when auto-compaction or OPTIMIZE
    * interleaves with appends.
    *
    * Gating is per OUTPUT partition against the files the rewrite
    * removed there: a packed file is skippable iff every source file
    * of its partition satisfies `consumed` (or was itself skipped by
    * an earlier in-window rewrite — consumed-ness propagates through
    * rewrite chains, oldest-first). If ANY source arrived in-window
    * unseen, the packed file still emits — rows are never lost; the
    * only duplication is the pre-existing spanning-batch case. A
    * partition-spec rewrite regroups rows across partition keys, so it
    * gates at whole-commit granularity. An expired snapshot inside the
    * window disables skipping (conservative: emit everything, the
    * documented pre-skip behavior). O(window) cached manifest reads,
    * zero data I/O.
    */
  private[graft] def rewriteCarrySkips(startId: Long, endId: Long,
      consumed: FileEntry => Boolean): Set[String] = {
    if (startId <= 0 || endId <= startId) return Set.empty
    val snaps = lineage(startId, endId).getOrElse(return Set.empty)
    val skips = scala.collection.mutable.Set[String]()
    def seen(f: FileEntry): Boolean = consumed(f) || skips.contains(f.path)
    for (s <- snaps if GraftTable.ContentInvariantOps(s.operation) && s.parentId >= 0;
         prev <- snapshotIfExists(s.parentId)) {
      val prevPaths = prev.files.map(_.path).toSet
      val curPaths = s.files.map(_.path).toSet
      val removed = prev.files.filterNot(f => curPaths.contains(f.path))
      val added = s.files.filterNot(f => prevPaths.contains(f.path))
      if (s.partitionCols == prev.partitionCols) {
        val byPart = removed.groupBy(_.partition)
        added.foreach { f =>
          val srcs = byPart.getOrElse(f.partition, Seq.empty)
          if (srcs.nonEmpty && srcs.forall(seen)) skips += f.path
        }
      } else if (removed.nonEmpty && removed.forall(seen))
        skips ++= added.map(_.path)
    }
    skips.toSet
  }

  /** The snapshots of the window `(startId, endId]`, oldest first; None
    * when one has expired or `startId` is not an ancestor of `endId`.
    */
  private[graft] def lineage(startId: Long, endId: Long): Option[List[Snapshot]] = {
    var snaps = List.empty[Snapshot]
    var a = endId
    while (a > startId) snapshotIfExists(a) match {
      case Some(s) => snaps ::= s; a = s.parentId
      case None    => return None
    }
    if (a == startId) Some(snaps) else None
  }

  /** Row-level change-data-capture between two snapshots (Iceberg's
    * changelog scan re-expressed): `_change_type` = insert | delete
    * (`_change_type1`, `_change_type2`, … when the table already has a
    * column of that name).
    * Copy-on-write DML rewrites whole files, so file-diffing alone
    * over-reports; the row-level truth is recovered by cancellation —
    * rows present in BOTH the removed and the added files (the
    * surviving rows a rewrite carried over byte-identically) cancel
    * under a signed-multiplicity aggregation (±1 weights, one union +
    * one hash shuffle — the EXCEPT-ALL-per-direction equivalent that
    * reads each delta side once instead of twice). Cost scales with
    * the CHANGED files only (the from∩to file set is never read) —
    * at 100 TB that is the delta, not the table. An UPDATE surfaces as
    * delete(old row) + insert(new row). A window that only appended
    * ([[appendOnlyAdds]]) needs no cancellation: its added files' rows
    * are the inserts, read without the aggregation's shuffle.
    */
  def changelog(fromId: Long, toId: Long): DataFrame = {
    val from = snapshot(fromId)
    val to = snapshot(toId)
    require(from.schemaJson == to.schemaJson,
      s"changelog across schema evolution is not supported (snapshots $fromId → $toId)")
    appendOnlyAdds(fromId, toId) match {
      case Some(added) =>
        // no removal and no delete entry in the window: every change is
        // an insert of an added file's row, and no live delete entry
        // can name a file that is new in the window
        val df = addedRows(to, added)
        df.withColumn(GraftTable.changeTypeCol(df.columns.toSeq),
          org.apache.spark.sql.functions.lit("insert"))
      case None => rowLevelChangelog(from, to)
    }
  }

  /** The files the window `(fromId, toId]` added, when it only
    * appended: it removed no data file, left the delete-entry list
    * unchanged, and every file it added is new in the window (a
    * rollback can re-add an old file that an old delete entry still
    * names). None otherwise. Manifest-only: zero data I/O.
    */
  private[graft] def appendOnlyAdds(fromId: Long, toId: Long): Option[Seq[FileEntry]] = {
    val from = snapshot(fromId)
    val to = snapshot(toId)
    val toPaths = to.files.iterator.map(_.path).toSet
    val fromPaths = from.files.iterator.map(_.path).toSet
    val added = to.files.filterNot(f => fromPaths.contains(f.path))
    val appendOnly = fromPaths.forall(toPaths.contains) &&
      to.deleteFiles.toSet == from.deleteFiles.toSet &&
      added.forall(_.addedBy > fromId)
    if (appendOnly) Some(added) else None
  }

  /** The rows of files new in a window, which no live delete entry names. */
  private def addedRows(to: Snapshot, added: Seq[FileEntry]): DataFrame =
    readSnapshot(to.copy(files = added, shards = Seq.empty, deleteFiles = Seq.empty))

  /** The window `(fromId, toId]` as (appended files, their rows, deleted
    * rows) when each commit appended ([[appendOnlyAdds]]) or is a
    * `delete`, the delete entries are unchanged, the appended files are
    * live, and their `key` ranges (long stats) miss those of the removed
    * files, so no `key` is both deleted and inserted. The deleted rows
    * (None if no file was removed) are the [[rowLevelChangelog]] without
    * the appended files: a delete rewrite keeps a subset of its rows.
    */
  private[graft] def appendDeleteSplit(fromId: Long, toId: Long, key: String)
      : Option[(Seq[FileEntry], DataFrame, Option[DataFrame])] = {
    val (from, to) = (snapshot(fromId), snapshot(toId))
    val appendedPaths = lineage(fromId, toId).getOrElse(return None).flatMap(s =>
      appendOnlyAdds(s.parentId, s.id).orElse(Some(Nil).filter(_ => s.operation == "delete"))
        .getOrElse(return None)).map(_.path).toSet
    val appended = to.files.filter(f => appendedPaths.contains(f.path))
    val live = to.files.iterator.map(_.path).toSet
    val removed = from.files.filterNot(f => live.contains(f.path))
    def range(f: FileEntry): Option[(Long, Long)] = f.stats.get(key)
      .filter(c => c.tpe == "long" && c.nulls == 0L).map(c => (c.min.toLong, c.max.toLong))
    val disjoint = appended.isEmpty || removed.isEmpty || {
      val (a, r) = (appended.map(range), removed.map(range))
      (a ++ r).forall(_.isDefined) &&
        a.flatten.forall { case (lo, hi) => r.flatten.forall(o => hi < o._1 || o._2 < lo) }
    }
    if (from.schemaJson != to.schemaJson || to.deleteFiles.toSet != from.deleteFiles.toSet ||
        appended.size != appendedPaths.size || !disjoint) None
    else Some((appended, addedRows(to, appended), if (removed.isEmpty) None else Some(
      rowLevelChangelog(from, to.copy(files = to.files.filterNot(f => appendedPaths(f.path)))))))
  }

  /** [[changelog]] over a window with removals or delete entries (any
    * window, in fact: on an append-only one it returns the same rows).
    */
  private[graft] def rowLevelChangelog(start: Snapshot, to: Snapshot): DataFrame = {
    val from = start.copy(deleteFiles =
      startVectors(start.deleteFiles, lineage(start.id, to.id).getOrElse(Nil)))
    val fromPaths = from.files.map(_.path).toSet
    val toPaths = to.files.map(_.path).toSet
    val removed = from.files.filterNot(f => toPaths.contains(f.path))
    val added = to.files.filterNot(f => fromPaths.contains(f.path))
    // each side reads with ITS OWN pending deletes applied (the copy
    // carries deleteFiles), so rows both added and MOR-deleted inside
    // the window appear as neither insert nor delete — correct CDC
    val addedDf = readSnapshot(to.copy(files = added, shards = Seq.empty))
    val removedDf = readSnapshot(from.copy(files = removed, shards = Seq.empty))
    // a MOR delete changes NO data files, so the file diff alone is
    // blind to it: rows of files present on BOTH sides that `to`'s new
    // delete entries kill were deleted in-window. Vectors diff by
    // bitmap: a merge commit writes a file's vector under a new path
    // and the old entry only shrinks, so the new paths hold every
    // changed bitmap.
    val (newDv, newEq) = {
      val fromDel = from.deleteFiles.map(_.path).toSet
      to.deleteFiles.filterNot(d => fromDel.contains(d.path)).partition(_.dv)
    }
    val victims = windowVictims(from, from.files.filter(f => toPaths.contains(f.path)),
      from.deleteFiles, newEq, newDv, isStreaming = false)
    // One signed-multiplicity pass replaces the two EXCEPT ALL
    // directions (r13 optimization): exceptAll executes BOTH child
    // subtrees per direction, so added/removed files were each scanned
    // (and their MOR-delete joins re-run) twice, behind two shuffles.
    // Here each side is read once with a ±1 weight; w = n_added −
    // n_removed per distinct row, w > 0 ⇒ w inserts, w < 0 ⇒ |w|
    // deletes — exactly exceptAll's multiset in each direction, from
    // one union + one hash aggregation over the delta.
    // collision-checked names: withColumn on a table that genuinely
    // carried a `_changelog_w` or `_change_type` column would silently
    // REPLACE user data (in the multiset key, or in the output)
    val dataCols = addedDf.columns.toSeq
    val changeType = GraftTable.changeTypeCol(dataCols)
    val fileDiff = {
      import org.apache.spark.sql.functions._
      val w = GraftTable.freshName("_changelog_w",
        n => !dataCols.contains(n) && !dataCols.contains(n + "_rep"))
      addedDf.withColumn(w, lit(1L))
        .unionAll(removedDf.withColumn(w, lit(-1L)))
        .groupBy(dataCols.map(col): _*).agg(sum(col(w)).as(w))
        .filter(col(w) =!= 0L)
        .withColumn(w + "_rep", explode(sequence(lit(1L), abs(col(w)))))
        .select(dataCols.map(col) :+
          when(col(w) > 0L, lit("insert")).otherwise(lit("delete"))
            .as(changeType): _*)
    }
    victims.fold(fileDiff)(df => fileDiff.unionByName(
      df.withColumn(changeType, org.apache.spark.sql.functions.lit("delete"))))
  }

  /** The pre-window rows a window's merge-on-read entries killed, each
    * victim once: the one victim reconstruction behind the batch
    * [[changelog]] and the streaming change feed
    * ([[graft.streaming.GraftSource]]). `pre` holds the pre-window
    * rows, `startDels` the delete entries live at the window start, and
    * `winEq`/`winDv` the window's equality and deletion-vector entries.
    * The bitmap diff dv(window) ∖ dv(start) claims victims first, then
    * the equality split reads with the window's vectors applied — so a
    * row that a vector and an equality delete both kill in one window
    * is one victim. Vector reads are pruned to their manifest targets;
    * a window with no entry reads nothing. `at` supplies the schema, defaults and broadcast
    * gates. `startDels` holds no position entry ([[startVectors]]).
    */
  private[graft] def windowVictims(at: Snapshot, pre: Seq[FileEntry],
      startDels: Seq[DeleteFileEntry], winEq: Seq[DeleteFileEntry],
      winDv: Seq[DeleteFileEntry], isStreaming: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.graft.GraftFileIndex.{PosFileCol, PosIdxCol}
    val (startDv, startEq) = startDels.partition(_.dv)
    // the rows of `files` that `dels` leave, with their coordinates
    def visible(files: Seq[FileEntry], dels: Seq[DeleteFileEntry]): DataFrame = {
      val s = at.copy(files = files, shards = Seq.empty)
      hideDeleted(relationWithDefaults(s, withRowPos = true, isStreaming), s, dels)
    }
    // a coordinate in the diff was live in its start vector, so the
    // start vectors need not be hidden
    val owned = winDv.flatMap(_.targets).toSet
    val dvFiles = pre.filter(f => owned.contains(GraftTable.baseName(f.path)))
    val dvVictims =
      if (dvFiles.isEmpty) None
      else {
        val (base, c) = (visible(dvFiles, startEq), dvDiffRows(winDv, startDv))
        Some(base.join(c, base(PosFileCol) === c("file_name") &&
          base(PosIdxCol) === c("row_index"), "left_semi"))
      }
    val eqVictims = Some(winEq).filter(_.nonEmpty).map(eqDeleteCandidates(pre, _))
      .filter(_.nonEmpty).flatMap { cands =>
        // the window's vectors own the files they touched: each file
        // keeps one bitmap, as hideDeleted's vector probe requires
        val endDv = winDv ++ startDv.map(d => d.copy(targets = d.targets.filterNot(owned)))
          .filter(_.targets.nonEmpty)
        eqDeleteSplit(visible(cands, startEq ++ endDv),
          at.copy(files = cands, shards = Seq.empty), winEq)._2
      }
    (dvVictims ++ eqVictims).map(_.drop(PosFileCol, PosIdxCol))
      .reduceOption(_ unionByName _)
  }

  /** The delete entries live at a window's start, with its position
    * entries (a table written before vectors existed) replaced by the
    * vectors of the window's first [[convertDeletesToDv]] commit: they
    * hold exactly the start's vectors and position coordinates, since
    * no vector is written while position entries are pending (every
    * verb that writes one reads the table first). A start holding
    * position entries with no conversion in `window` is refused.
    */
  private[graft] def startVectors(startDels: Seq[DeleteFileEntry],
      window: => Seq[Snapshot]): Seq[DeleteFileEntry] =
    if (!startDels.exists(GraftTable.isPosition)) startDels
    else window.find(_.operation == "convert-deletes")
      .map(c => startDels.filter(_.equalityCols.nonEmpty) ++ c.deleteFiles.filter(_.dv))
      .getOrElse { GraftTable.refusePositionDeletes(startDels); startDels }

  /** Roll the table back to an earlier snapshot's file set — recorded
    * as a NEW snapshot (history is never rewritten).
    */
  def rollback(toId: Long): GraftTable = {
    val cur = current
    val target = snapshot(toId)
    commitNext(cur, "rollback")(_.copy(schemaJson = target.schemaJson,
      // the target's spec and deps lay out its files, whatever CUR's are
      partitionCols = target.partitionCols, deps = target.deps, files = target.files,
      // the target's pending deletes are part of its logical state —
      // carrying CUR's would resurrect (or re-kill) the wrong rows
      deleteFiles = target.deleteFiles))
  }

  /** Expire snapshots with id < keepFrom (current always retained).
    * Returns orphaned data files (referenced only by expired
    * snapshots); `delete=true` removes them and the expired manifests.
    */
  def expire(keepFrom: Long, delete: Boolean = true): Seq[String] = {
    val cur = currentId
    // snapshots pinned by a named ref (tag or branch head) never expire
    val pinned = refEntries.values.map(_._1).toSet
    val (expired, retained) = snapshotIds.partition(id =>
      id < keepFrom && id != cur && !pinned.contains(id))
    val live = retained.flatMap { id =>
      val s = snapshot(id); s.files.map(_.path) ++ s.deleteFiles.map(_.path)
    }.toSet
    val orphans = expired.flatMap { id =>
      val s = snapshot(id); s.files.map(_.path) ++ s.deleteFiles.map(_.path)
    }.distinct.filterNot(live.contains).sorted
    if (delete) {
      // fold expiring batch tags into the durable ledger so replayed
      // streaming batches stay recognized after their snapshots are
      // gone (covers tables written before the ledger existed);
      // recordTag is read-modify-rewrite → must hold the commit lock
      val expTags = expired.map(snapshot(_).operation)
        .filterNot(GraftTable.StandardOps.contains).distinct
      if (expTags.nonEmpty) withCommitLock { expTags.foreach(recordTag) }
      // absolute entries are a shallow clone's references into its
      // SOURCE table — the clone never owns them, so expiration must
      // drop the reference without touching the bytes. Bulk expires
      // unlink from executors (DriverPathOps gate).
      GraftTable.deletePaths(spark, root,
        orphans.filterNot(GraftTable.isAbsoluteEntry))
      expired.foreach(id => io.delete(s"snapshot-$id.json"))
      // GC manifest shards no live snapshot points at (content-addressed
      // files are shared across snapshots, so liveness is by reference)
      val liveShards = retained.flatMap(id => snapshot(id).shards.map(_.path)).toSet
      val onDisk = io.listNames().filter(_.startsWith("shard-")) ++
        io.listNames("shards").collect {
          case n if n.startsWith("shard-") => s"shards/$n" }
      onDisk.filterNot(liveShards.contains).foreach { n =>
        GraftTable.shardCache.remove((root, n))
        io.delete(n)
      }
    }
    // absolute (clone-referenced) entries were intentionally left
    // untouched above — reporting them as removed would mislead callers
    orphans.filterNot(GraftTable.isAbsoluteEntry)
  }

  /** SHALLOW CLONE (SURVEY.md §2.A65): materialize `destRoot` as an
    * independent graft table over THIS table's current data — metadata
    * only, zero bytes copied (Delta `CLONE` / Iceberg snapshot-ref
    * parity). The clone's first snapshot references the source's data
    * and pending delete files by ABSOLUTE path; everything the clone
    * writes afterwards lands under its own root as usual, so the two
    * tables diverge freely from the shared base.
    *
    * Ordering is preserved, not re-stamped: the clone's first snapshot
    * keeps the SOURCE's snapshot id, so every inherited
    * `FileEntry.addedBy` / equality-delete sequence number stays below
    * any id the clone will allocate — keyed MOR semantics survive the
    * clone without rewriting a single entry.
    *
    * Contract (same as Delta shallow clones): the clone's own
    * expire/vacuum never touch source bytes (absolute entries are
    * skipped by both), but the SOURCE's expire/vacuum does not know
    * about clones — expiring source snapshots a clone still references
    * breaks the clone. Run source expiration with a horizon longer
    * than any clone's intended life, or deep-copy first.
    */
  def cloneTo(destRoot: String): GraftTable = cloneTo(destRoot, deep = false)

  /** `deep = true` (A66): additionally COPY every referenced data and
    * delete file under the new root (one cluster job, per-file I/O
    * scales with executors) and register them relative — the clone
    * owns its bytes outright, with no residual dependence on the
    * source's lifecycle. Manifest stats/partition values carry over
    * verbatim (a byte copy changes neither), so no footer re-read
    * happens. This is the migration/export flavor of clone (Delta
    * DEEP CLONE); the metadata-only flavor above is the sandbox one.
    */
  def cloneTo(destRoot: String, deep: Boolean): GraftTable = {
    val cur = current
    // the shallow clone's entries must pass isAbsoluteEntry or they'd
    // silently resolve under the CLONE's root — qualify a relative
    // source root (e.g. a cwd-relative test dir) before building them
    val srcRoot = {
      val rp = new HPath(root)
      if (rp.isAbsolute && GraftTable.isAbsoluteEntry(root)) root
      else rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(rp).toString
    }
    val t = GraftTable.wiped(spark, destRoot)
    // the dest-relative path of an entry: relative entries keep their
    // layout (hive dirs, bucket-id names — the BucketSpec claim
    // survives a deep clone); absolute entries (cloning a clone)
    // re-anchor at their data/ or deletes/ segment
    def rel(p: String): String =
      if (!GraftTable.isAbsoluteEntry(p)) p
      else {
        val i = math.max(p.lastIndexOf("/data/"), p.lastIndexOf("/deletes/"))
        if (i >= 0) p.substring(i + 1) else s"data/${new HPath(p).getName}"
      }
    val (files, dels) =
      if (!deep)
        (cur.files.map(f => f.copy(path = GraftTable.resolveEntry(srcRoot, f.path))),
          cur.deleteFiles.map(d => d.copy(path = GraftTable.resolveEntry(srcRoot, d.path))))
      else {
        val pairs =
          (cur.files.map(f => (GraftTable.resolveEntry(srcRoot, f.path), rel(f.path))) ++
            cur.deleteFiles.map(d => (GraftTable.resolveEntry(srcRoot, d.path), rel(d.path))))
            .map { case (src, r) => (src, s"$destRoot/$r") }
        if (pairs.nonEmpty)
          spark.sparkContext
            .parallelize(pairs, math.min(pairs.size, spark.sparkContext.defaultParallelism))
            .foreach { case (src, dst) =>
              val conf = GraftTable.taskConf
              val sp = new org.apache.hadoop.fs.Path(src)
              val dp = new org.apache.hadoop.fs.Path(dst)
              org.apache.hadoop.fs.FileUtil.copy(
                sp.getFileSystem(conf), sp, dp.getFileSystem(conf), dp,
                false, true, conf)
              ()
            }
        (cur.files.map(f => f.copy(path = rel(f.path))),
          cur.deleteFiles.map(d => d.copy(path = rel(d.path))))
      }
    t.commitCreate(cur.id, "clone", cur.schemaJson, cur.partitionCols, cur.deps,
      files, addedFiles = 0, dels,
      cur.properties + ("clone.source" -> s"$srcRoot@${cur.id}"))
  }

  /** Remove UNREFERENCED files — the leak class [[expire]] cannot see:
    * [[expire]] lists files referenced by expired snapshots, but a
    * commit that lost its CAS race (or a writer that crashed between
    * data write and manifest commit) leaves files under `data/` or
    * `deletes/` (and whole `.staging-*` trees) that NO snapshot ever
    * referenced.
    *
    * In-flight writers are protected by TWO independent guards, because
    * file mtimes alone do not track write activity (a file written
    * early in a long job is "old" while its commit is still pending):
    *
    *  1. STRUCTURAL: every engine-written payload embeds its planned
    *     snapshot id (`data/.../<snapId>-<seq>-…`, `deletes/<snapId>-…`);
    *     a commit still in flight always carries an id GREATER than any
    *     committed snapshot, so unreferenced payloads with
    *     `snapId > max(existing ids)` are never swept. CAVEAT: this
    *     proves a LOST race only for non-commutative writers (their CAS
    *     fails) — a rebasable APPEND whose planned id was taken keeps
    *     going and commits under a higher id, so for appends the guard
    *     is advisory and the grace period below is the real protection;
    *     the append paths re-verify payload existence under the commit
    *     lock ([[verifyPayloads]]) so a mis-tuned grace fails the
    *     commit instead of losing data.
    *  2. TEMPORAL: everything else still honors `graceMillis` (default
    *     24 h, tunable per table via `vacuum.orphan.grace-ms`); staging
    *     trees age by their NEWEST contained file, not the dir mtime,
    *     so an active long write keeps refreshing its own protection.
    *
    * Hadoop FS throughout (object-store safe). Returns removed
    * root-relative paths.
    */
  def vacuumOrphans(graceMillis: Long = GraftTable.DefaultOrphanGraceMillis): Seq[String] =
    orphanScan(graceMillis, delete = true).map(_._1)

  /** `` t$orphans `` — the DRY-RUN of [[vacuumOrphans]] (A70): every
    * sweep candidate past the grace period with its kind, deleting
    * nothing. The operator's "what would VACUUM reclaim" dashboard —
    * same enumeration, same structural in-flight guard, zero risk.
    */
  def orphansView(graceMillis: Long = GraftTable.DefaultOrphanGraceMillis): DataFrame = {
    import spark.implicits._
    orphanScan(graceMillis, delete = false).toDF("path", "kind")
  }

  private def orphanScan(graceMillis: Long, delete: Boolean): Seq[(String, String)] = {
    val referenced = snapshots
      .flatMap(s => s.files.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    val maxId = snapshotIds.max
    val cutoff = System.currentTimeMillis() - graceMillis
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val hfs = rootP.getFileSystem(conf)
    val rootUri = hfs.makeQualified(rootP).toUri.getPath
    val removed = scala.collection.mutable.ArrayBuffer[(String, String)]()

    // Bounded driver probe: count payload files until the inline cap.
    // Tables that fit complete entirely on the driver (a Spark job's
    // ~1 s launch overhead would dominate a handful of local stats);
    // anything larger switches to the DISTRIBUTED sweep below, where
    // the driver lists only TOP-LEVEL children and the recursive walks
    // run as cluster tasks — at object-store scale (millions of files)
    // the LIST calls issue from every executor in parallel and only
    // CANDIDATE paths come back (bounded by #orphans, never #files —
    // the reason Delta's VACUUM distributes its listing).
    var inlineFiles = 0
    var fits = true
    for (sub <- Seq("data", "deletes") if fits) {
      val dir = new org.apache.hadoop.fs.Path(rootP, sub)
      if (hfs.exists(dir)) fits = GraftTable.walkFiles(hfs, dir) { _ =>
        inlineFiles += 1
        inlineFiles <= GraftTable.VacuumDriverFiles
      }
    }

    val stagingTrees = Option(hfs.globStatus(
      new org.apache.hadoop.fs.Path(rootP, ".staging-*"))).getOrElse(Array.empty)

    if (fits) {
      // ---- inline sweep (small table): one driver walk per tree ----
      // stale staging trees from crashed writers — aged by newest content
      stagingTrees.foreach { st =>
        val newest = GraftTable.newestMtimeIn(
          st.getPath.toString, st.getModificationTime)
        if (newest < cutoff) {
          if (delete) hfs.delete(st.getPath, true)
          removed += ((st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"),
            "staging-tree"))
        }
      }
      for (sub <- Seq("data", "deletes")) {
        val dir = new org.apache.hadoop.fs.Path(rootP, sub)
        if (hfs.exists(dir)) GraftTable.walkFiles(hfs, dir) { st =>
          val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
          if (GraftTable.orphanCandidate(sub, rel,
              st.getPath.getName, st.getModificationTime,
              referenced.contains, maxId, cutoff)) {
            if (delete) hfs.delete(st.getPath, false)
            removed += ((rel, "unreferenced-payload"))
          }
          true
        }
      }
    } else {
      // ---- distributed sweep (large table) ----
      val sc = spark.sparkContext
      val slices = math.max(1, sc.defaultParallelism)
      // staging trees age as one tiny job (O(#crashed writers) tasks,
      // each walking only its own tree)
      if (stagingTrees.nonEmpty) {
        val units = stagingTrees.map(st => (st.getPath.toString, st.getModificationTime)).toSeq
        val newest = sc.parallelize(units, math.min(units.size, slices))
          .map { case (dir, m) => (dir, GraftTable.newestMtimeIn(dir, m)) }
          .collect()
        newest.foreach { case (dir, n) =>
          if (n < cutoff) {
            val p = new org.apache.hadoop.fs.Path(dir)
            if (delete) hfs.delete(p, true)
            removed += ((p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"),
              "staging-tree"))
          }
        }
      }
      // payload candidates: top-level files are judged right here from
      // their listStatus; each top-level DIRECTORY (partition dir /
      // delete-file dir) becomes one cluster task
      val refBc = sc.broadcast(referenced)
      val dirUnits = scala.collection.mutable.ArrayBuffer[(String, String)]()
      for (sub <- Seq("data", "deletes")) {
        val dir = new org.apache.hadoop.fs.Path(rootP, sub)
        if (hfs.exists(dir)) hfs.listStatus(dir).foreach { st =>
          if (st.isDirectory) dirUnits += ((st.getPath.toString, sub))
          else {
            val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
            if (GraftTable.orphanCandidate(sub, rel, st.getPath.getName,
                st.getModificationTime, referenced.contains, maxId, cutoff)) {
              if (delete) hfs.delete(st.getPath, false)
              removed += ((rel, "unreferenced-payload"))
            }
          }
        }
      }
      val rootUriCap = rootUri
      val candidates =
        if (dirUnits.isEmpty) Array.empty[String]
        else sc.parallelize(dirUnits.toSeq, math.min(dirUnits.size, slices * 4))
          .flatMap { case (dir, sub) =>
            GraftTable.orphanCandidatesIn(dir, rootUriCap, sub,
              refBc.value, maxId, cutoff) }
          .collect()
      if (delete) GraftTable.deletePaths(spark, root, candidates.toSeq)
      candidates.foreach(rel => removed += ((rel, "unreferenced-payload")))
      refBc.unpersist(blocking = false)
    }

    // a delete-file dir whose parquet payloads are all gone (folded back
    // and expired, or just swept — including THIS pass, whose unlinks
    // refresh the dir mtime) is cruft — remove the husk. Enumeration is
    // a top-level listStatus (O(#delete dirs)); the per-dir content
    // probe walks only aged/swept dirs and stops at the first parquet.
    val sweptDirs = removed.collect {
      case (r, _) if r.startsWith("deletes/") => r.split('/').take(2).mkString("/")
    }.toSet
    val delRoot = new org.apache.hadoop.fs.Path(rootP, "deletes")
    if (hfs.exists(delRoot)) {
      val aged = hfs.listStatus(delRoot).filter { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        st.isDirectory && (st.getModificationTime < cutoff || sweptDirs.contains(rel))
      }
      // dry-run: payloads were only flagged, not removed, so a dir
      // that would empty out this pass still has parquet — only the
      // genuinely-empty aged husk is reported (the conservative read)
      val empty: Seq[String] =
        if (fits || aged.isEmpty)
          aged.toSeq.filter(st => !GraftTable.hasParquetIn(st.getPath.toString))
            .map(_.getPath.toString)
        else spark.sparkContext
          .parallelize(aged.map(_.getPath.toString).toSeq,
            math.min(aged.length, math.max(1, spark.sparkContext.defaultParallelism)))
          .filter(dir => !GraftTable.hasParquetIn(dir))
          .collect().toSeq
      empty.foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        if (delete) hfs.delete(p, true)
        removed += ((p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"),
          "empty-delete-dir"))
      }
    }
    removed.toSeq.distinct.sortBy(_._1)
  }

  // ---- read path ----------------------------------------------------

  /** All reads plan through [[org.apache.spark.sql.graft.GraftFileIndex]]:
    * the scan is a HadoopFsRelation whose file listing comes from the
    * snapshot manifest — zero filesystem listing, manifest-provided
    * file sizes, and graft pruning (partition values, column
    * dependencies, footer stats) driven by Catalyst's pushed-down
    * filters.
    */
  private def readSnapshot(s: Snapshot): DataFrame =
    if (s.deleteFiles.isEmpty) relationWithDefaults(s, withRowPos = false)
    else readSnapshotPos(s).drop(
      org.apache.spark.sql.graft.GraftFileIndex.PosFileCol,
      org.apache.spark.sql.graft.GraftFileIndex.PosIdxCol)

  /** The snapshot's manifest-planned relation with INITIAL DEFAULTS
    * applied exactly (see [[GraftTable.addColumnWithDefault]]): data
    * files are grouped by WHICH defaulted columns their `addedBy`
    * stamp predates; each group scans as its own relation — pre-add
    * groups project the default literal in place of a column their
    * files never contained, post-add groups read it physically — and
    * the groups union. Group count is bounded by the number of
    * DISTINCT defaulted-add snapshots + 1 (not by file count), each
    * group keeps full partition pruning / stats / bucket claims over
    * its file subset, and tables without defaults take the unchanged
    * single-relation fast path.
    */
  private def relationWithDefaults(s: Snapshot, withRowPos: Boolean,
      isStreaming: Boolean = false): DataFrame = {
    val sch = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
    val defaulted = sch.fields.filter(_.metadata.contains(GraftTable.DefaultMetaKey))
    def rel(snap: Snapshot) = org.apache.spark.sql.graft.GraftFileIndex
      .relation(spark, root, snap, isStreaming, withRowPos)
    if (defaulted.isEmpty || s.files.isEmpty) rel(s)
    else {
      val groups = s.files.groupBy(f => defaulted
        .filter(d => f.addedBy < d.metadata.getLong(GraftTable.DefaultAddedAtKey))
        .map(_.name).toSet)
      groups.toSeq.sortBy(_._1.size).map { case (missing, fs) =>
        val sub = rel(s.copy(files = fs, shards = Seq.empty))
        if (missing.isEmpty) sub
        else sub.select(sub.columns.map { c =>
          if (!missing.contains(c)) col(c)
          else {
            val f = defaulted.find(_.name == c).get
            expr(f.metadata.getString(GraftTable.DefaultMetaKey))
              .cast(f.dataType).as(c)
          }
        }: _*)
      }.reduce(_ unionByName _)
    }
  }

  /** [[readSnapshot]] keeping the `(_graft_file, _graft_pos)` row
    * coordinates, with the snapshot's pending deletes already applied
    * — the building block for MOR reads, MOR delete stacking, and
    * changelog's deleted-row reconstruction.
    */
  private def readSnapshotPos(s: Snapshot): DataFrame =
    hideDeleted(relationWithDefaults(s, withRowPos = true), s, s.deleteFiles)

  /** Hide from `df` the rows a delete set kills: deletion vectors
    * first (one bitmap probe per row, O(1) per file however many commits
    * produced them), then equality deletes. `df` must carry the
    * `_graft_file`/`_graft_pos` position columns, which stay. `snap`
    * supplies the broadcast gate (its properties) and the addedBy-stamp
    * universe equality sequencing reads (its files). Every join is
    * against a STATIC delete frame, so this one chain serves the batch
    * read path and the streaming source alike. A position entry is
    * refused ([[GraftTable.refusePositionDeletes]]).
    */
  private[graft] def hideDeleted(
      df: DataFrame, snap: Snapshot, dels: Seq[DeleteFileEntry]): DataFrame = {
    GraftTable.refusePositionDeletes(dels)
    val (eqDels, dvDels) = dels.partition(_.equalityCols.nonEmpty)
    val afterDv = if (dvDels.isEmpty) df else minusDvDeletes(df, snap.properties, dvDels)
    if (eqDels.isEmpty) afterDv else eqDeleteSplit(afterDv, snap, eqDels)._1
  }

  /** Split `df` into the rows EQUALITY delete files keep and the rows
    * they kill (change-feed reconstruction reads the killed half). A
    * row dies when its key matches a delete row committed strictly
    * AFTER the row's own data file (`file.addedBy < delete.addedBy`) —
    * post-images appended by the deleting commit itself carry the same
    * id and survive. `df` must carry the `_graft_file` position column.
    * The file→stamp map is manifest metadata (one tiny broadcast dim,
    * O(#files) rows); the delete parquet joins as a normal scan —
    * size-gated broadcast, never collected. Key comparison is null-safe
    * (`<=>`): a null key in the delete set kills null-keyed rows,
    * Iceberg's equality semantics. Every join is against a STATIC
    * delete frame (chained semi/anti per key-set group), so both halves
    * stay legal on a streaming `df` — a kept-vs-all self-anti-join
    * would be a stream-stream join and is exactly what this shape
    * avoids. Rows are split exactly once even across multiple key-set
    * groups (each group consumes the previous group's survivors).
    */
  private def eqDeleteSplit(
      df: DataFrame, s: Snapshot, eqDels: Seq[DeleteFileEntry]): (DataFrame, Option[DataFrame]) = {
    import org.apache.spark.sql.graft.GraftFileIndex.PosFileCol
    val SeqCol = "__graft_file_seq"
    val seqRows = s.files.map(f =>
      Row(GraftTable.baseName(f.path), f.addedBy))
    val seqSchema = StructType(Seq(
      StructField("__graft_seq_file", StringType), StructField(SeqCol, LongType)))
    val fileSeq = spark.createDataFrame(seqRows.asJava, seqSchema)
    // the stamp dim is O(#files-in-scan): broadcast while that is
    // dimension-sized, fall back to a shuffled join on extreme file
    // counts (the manifest already lives in driver memory either way,
    // so the frame itself is never the new bottleneck)
    val seqHinted =
      if (seqRows.size <= GraftTable.FileSeqBroadcastMax) broadcast(fileSeq) else fileSeq
    var kept = df.join(seqHinted,
      df(PosFileCol) === fileSeq("__graft_seq_file"), "left")
      .drop("__graft_seq_file")
    var killed: Option[DataFrame] = None
    for ((cols, group) <- eqDels.groupBy(_.equalityCols.toList).toSeq.sortBy(_._1.mkString(","))) {
      val delDf = group.map { d =>
          spark.read.parquet(GraftTable.resolveEntry(root, d.path))
            .withColumn("__graft_del_seq", lit(d.addedBy))
        }.reduce(_ unionByName _)
      val renamed = cols.foldLeft(delDf) { (x, c) =>
        x.withColumnRenamed(c, s"__graft_eqd_$c") }
      val limit = s.properties.get(GraftTable.DeleteBroadcastProp).map(_.toLong)
        .getOrElse(GraftTable.DefaultDeleteBroadcastBytes)
      val hinted =
        if (GraftTable.deleteSetBytes(group) <= limit) broadcast(renamed) else renamed
      val cond = cols.map(c => kept(c) <=> renamed(s"__graft_eqd_$c")).reduce(_ && _) &&
        kept(SeqCol) < renamed("__graft_del_seq")
      val kg = kept.join(hinted, cond, "left_semi")
      killed = Some(killed.map(_.unionByName(kg)).getOrElse(kg))
      kept = kept.join(hinted, cond, "left_anti")
    }
    (kept.drop(SeqCol), killed.map(_.drop(SeqCol)))
  }

  /** Data files an equality-delete set CAN touch — metadata-only: per
    * key-set group, the (small) delete parquet aggregates its key
    * bounds once, then manifest stats/partition pruning keeps only
    * files overlapping those bounds AND predating the group's newest
    * delete. Null delete keys disable bounds pruning for the group
    * (stats min/max are null-blind), keeping the age filter only.
    */
  private def eqDeleteCandidates(
      files: Seq[FileEntry], eqDels: Seq[DeleteFileEntry]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val sch = schema
    val renames = logicalToPhysical
    val partTypes: Map[String, DataType] =
      sch.fields.map(f => GraftTable.physicalName(f) -> f.dataType).toMap
    val hit = scala.collection.mutable.LinkedHashMap[String, FileEntry]()
    for ((cols, group) <- eqDels.groupBy(_.equalityCols.toList).toSeq.sortBy(_._1.mkString(","))) {
      val maxSeq = group.map(_.addedBy).max
      val aged = files.filter(f => f.addedBy <= 0L || f.addedBy < maxSeq)
      val delDf = group.map(d =>
        spark.read.parquet(GraftTable.resolveEntry(root, d.path))).reduce(_ unionByName _)
      // one aggregation job per group: key bounds AND the null-key
      // indicator together (this runs per micro-batch on change feeds)
      import org.apache.spark.sql.functions.{max => fmaxAgg, when}
      val aggs = cols.flatMap(k => Seq(fmin(col(k)), fmax(col(k)))) :+
        fmaxAgg(when(cols.map(col(_).isNull).reduce(_ || _), 1).otherwise(0))
      val bounds = delDf.agg(aggs.head, aggs.tail: _*).head()
      val hasNullKey = !bounds.isNullAt(2 * cols.size) && bounds.getInt(2 * cols.size) == 1
      val cands =
        if (hasNullKey || (0 until 2 * cols.size).exists(bounds.isNullAt)) aged
        else {
          val pred = cols.zipWithIndex.map { case (k, i) =>
            col(k) >= lit(bounds.get(2 * i)) && col(k) <= lit(bounds.get(2 * i + 1))
          }.reduce(_ && _)
          val cs0 = Pruning.extract(pred).map { case (k, c) => renames.getOrElse(k, k) -> c }
          aged.filter(Pruning.fileSurvives(_, cs0, partTypes))
        }
      cands.foreach(f => hit.getOrElseUpdate(f.path, f))
    }
    hit.values.toSeq
  }

  /** The union of the position-delete files at `paths` as a DataFrame
    * of `(file_name, row_index)`. A file holds either graft's layout
    * (those two columns, as its Iceberg export writes them) or the
    * Iceberg spec's `(file_path, pos)`, whose path is cut to its
    * basename; the columns a file lacks read as null, so one scan takes
    * both.
    */
  private def deleteRows(paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.substring_index
    spark.read.schema("file_name STRING, row_index BIGINT, file_path STRING, pos BIGINT")
      .parquet(paths.map(GraftTable.resolveEntry(root, _)): _*)
      .select(coalesce(col("file_name"), substring_index(col("file_path"), "/", -1))
        .as("file_name"), coalesce(col("row_index"), col("pos")).as("row_index"))
  }

  /** Full-table read of the current snapshot. */
  def read(): DataFrame = readSnapshot(current)

  /** Time travel — `as of` a snapshot id (reference: IceParser's
    * `as of` prefix clause).
    */
  def readAsOfId(id: Long): DataFrame = readSnapshot(snapshot(id))

  /** Time travel — `as of` a wall-clock timestamp: latest snapshot
    * whose commit time ≤ ts.
    */
  def readAsOfTs(tsMillis: Long): DataFrame = {
    val s = snapshots.filter(_.tsMillis <= tsMillis)
    require(s.nonEmpty, s"no snapshot at or before $tsMillis")
    readSnapshot(s.maxBy(_.tsMillis))
  }

  /** Filtered scan: pruning happens inside the FileIndex when Catalyst
    * pushes the predicate down — this is just read().filter. (The
    * driver-side decision is still exposed via [[pruneFiles]].)
    */
  def scan(pred: Column): DataFrame = read().filter(pred)

  /** The pruning decision itself (exposed for specs/metadata):
    * (surviving files, #total, constraints used).
    */
  def pruneFiles(pred: Column): (Seq[FileEntry], Int, Map[String, Pruning.Constraint]) = {
    val cur = current
    // constraints are extracted over logical names; manifest stats are
    // keyed by the frozen physical names — translate before matching
    val renames = logicalToPhysical
    val cs0 = Pruning.extract(pred).map { case (k, c) => renames.getOrElse(k, k) -> c }
    val partTypes: Map[String, DataType] =
      schema.fields.map(f => GraftTable.physicalName(f) -> f.dataType).toMap
    val cs = Pruning.inferThroughDeps(cs0, cur.deps, partTypes)
    if (cs.values.exists(_.impossible)) (Seq.empty, cur.files.size, cs)
    else (cur.files.filter(Pruning.fileSurvives(_, cs, partTypes)), cur.files.size, cs)
  }

  // ---- metadata views -----------------------------------------------

  /** `` t$snapshots `` (reference: utils/TableUtils.scala). */
  def snapshotsView: DataFrame = {
    import spark.implicits._
    snapshots.map(s => (s.id, s.parentId, s.operation,
        s.addedFiles.toLong, s.deletedFiles.toLong, s.files.size.toLong, s.totalRows))
      .toDF("snapshot_id", "parent_id", "operation",
        "n_added_files", "n_deleted_files", "n_files", "n_rows")
  }

  /** `` t$txns `` — in-flight multi-table transactions this table
    * coordinates (A93 [[GraftTxn.txnsView]]): empty on a healthy
    * table, `pending` rows mean a crashed coordinator to roll forward
    * via `CALL system.recover_txns`.
    */
  def txnsView: DataFrame = GraftTxn.txnsView(spark, root)

  /** `` t$files `` — current snapshot's file inventory. */
  def filesView: DataFrame = {
    import spark.implicits._
    current.files.map(f =>
        (f.path, f.partition.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"),
          f.rows, f.bytes))
      .toDF("file_path", "partition", "n_rows", "n_bytes")
  }

  /** `` t$deletes `` — the current snapshot's pending merge-on-read
    * delete entries (empty after OPTIMIZE/applyDeletes): MOR
    * observability, the Iceberg `delete_files` metadata-table role.
    */
  def deletesView: DataFrame = {
    import spark.implicits._
    current.deleteFiles.map(d => (d.path, d.rows, d.addedBy,
        if (d.equalityCols.nonEmpty) "equality"
        else if (d.dv) "dv" else "position",
        d.equalityCols.mkString(",")))
      .toDF("file_path", "n_deleted_rows", "added_by_snapshot",
        "kind", "equality_columns")
  }

  /** `` t$refs `` — named refs (tags + branches) with their snapshot
    * ids (reference parity with Iceberg's `refs` metadata table).
    * `main` is reported as a branch at the current snapshot.
    */
  def refsView: DataFrame = {
    import spark.implicits._
    (("main", "BRANCH", currentId) +: refEntries.toSeq.sortBy(_._1)
        .map { case (n, (id, isBr)) => (n, if (isBr) "BRANCH" else "TAG", id) })
      .toDF("ref_name", "ref_type", "snapshot_id")
  }

  /** `` t$properties `` — the current table properties. */
  def propertiesView: DataFrame = {
    import spark.implicits._
    current.properties.toSeq.sortBy(_._1).toDF("key", "value")
  }

  /** `` t$history `` — every snapshot on disk (including parked
    * write-audit-publish stages) with whether it is an ancestor of
    * the published current — the lineage Iceberg's `history`
    * metadata table exposes via `is_current_ancestor`. A parked or
    * abandoned stage shows `false`; the published chain (rollbacks
    * included — history is linear, a rollback is a new commit)
    * shows `true`. O(metadata).
    *
    * Expiration can cut the parent chain: a pinned old snapshot
    * survives while the links between it and the current were
    * deleted. A survivor below the cut is still reported as an
    * ancestor UNLESS a surviving ancestor shares its parent (then it
    * is a skipped parked stage, proven non-published). The one
    * undecidable case — a pinned parked stage whose publish-time
    * sibling was expired — reports `true`; local metadata cannot
    * distinguish it from an expired-chain ancestor.
    */
  def historyView: DataFrame = {
    import spark.implicits._
    val all = snapshots
    val byId = all.map(s => s.id -> s).toMap
    val anc = scala.collection.mutable.Set.empty[Long]
    var c = currentId
    while (c >= 0 && byId.contains(c) && !anc(c)) { anc += c; c = byId(c).parentId }
    // c >= 0 here ⇔ the chain was truncated by expiration at parent c
    val cut = c
    def isAncestor(s: Snapshot): Boolean =
      anc.contains(s.id) ||
        (cut >= 0 && s.id <= cut &&
          !all.exists(t => t.id != s.id && t.parentId == s.parentId &&
            anc.contains(t.id)))
    all.map(s => (s.id, s.parentId, s.operation, isAncestor(s)))
      .toDF("snapshot_id", "parent_id", "operation", "is_current_ancestor")
  }

  /** `` t$manifests `` — how the current snapshot's manifest is
    * stored: one row per content-addressed shard (path + file count),
    * or a single `inline` row for a below-threshold manifest — the
    * Iceberg `manifests` metadata-table role, over this table's
    * shard layout (see [[GraftTable.ShardFilesThreshold]]).
    */
  def manifestsView: DataFrame = {
    import spark.implicits._
    val cur = current
    val rows =
      if (cur.shards.isEmpty)
        Seq(("inline", s"snapshot-${cur.id}.json", cur.files.size.toLong))
      else cur.shards.map(r => ("shard", r.path, r.nFiles))
    rows.toDF("kind", "path", "n_files")
  }

  /** `` t$entries `` — one row per manifest entry per retained
    * snapshot: the Iceberg `entries`/`all_entries` metadata-table
    * role (reference exposes it through the embedded library's
    * metadata tables). Status mirrors the Avro export exactly
    * ([[graft.lake.IcebergExport]]): ADDED when the entry's
    * `addedBy` is this snapshot, EXISTING when carried over
    * (incl. legacy `addedBy == 0` entries, which predate the field
    * and are EXISTING everywhere), DELETED for a parent-snapshot
    * file this snapshot removed — recorded under the REMOVING
    * snapshot's id, the removal half of an incremental diff; scans
    * skip them. `content` distinguishes data files from position/
    * equality delete files. O(snapshots × files) on the driver's
    * metadata plane like every `$` view — never touches data.
    */
  def entriesView: DataFrame = {
    import spark.implicits._
    val all = snapshots.sortBy(_.id)
    val byId = all.map(s => s.id -> s).toMap
    val rows = all.flatMap { s =>
      def dataRow(f: FileEntry, st: String) =
        (s.id, "data", st, f.path, f.rows, f.addedBy)
      def delRow(d: DeleteFileEntry, st: String) =
        (s.id,
          if (d.equalityCols.nonEmpty) "equality-delete" else "position-delete",
          st, d.path, d.rows, d.addedBy)
      val live = s.files.map(f =>
        dataRow(f, if (f.addedBy == s.id) "ADDED" else "EXISTING"))
      val liveDel = s.deleteFiles.map(d =>
        delRow(d, if (d.addedBy == s.id) "ADDED" else "EXISTING"))
      val parent = byId.get(s.parentId)
      val curPaths = s.files.iterator.map(_.path).toSet
      val curDelPaths = s.deleteFiles.iterator.map(_.path).toSet
      val removed = parent.toSeq.flatMap(_.files.filterNot(f => curPaths(f.path)))
        .map(dataRow(_, "DELETED"))
      val removedDel = parent.toSeq
        .flatMap(_.deleteFiles.filterNot(d => curDelPaths(d.path)))
        .map(delRow(_, "DELETED"))
      live ++ liveDel ++ removed ++ removedDel
    }
    rows.toDF("snapshot_id", "content", "status", "file_path",
      "n_rows", "added_by")
  }

  /** `` t$clustering `` — per-(partition, column) clustering quality
    * from manifest stats alone (SURVEY.md §2.A68): `max_overlap` is
    * the maximum number of files whose [min, max] ranges on the
    * column cover one point — 1 means perfectly clustered (any point
    * predicate reads one file; what `write.sort.columns` (A59) or
    * OPTIMIZE ZORDER (A20) produce), ≈ `n_files` means the column is
    * unclustered and point predicates read everything. The advisor
    * that tells an operator WHEN those maintenance passes are worth
    * running, computed by a sweep line over manifest ranges —
    * O(metadata), zero data access. Touching endpoints count as
    * overlapping (an equality predicate at the boundary reads both
    * files). Columns without usable stats (or with any null bound)
    * are skipped.
    */
  def clusteringView: DataFrame = {
    import spark.implicits._
    val cur = current
    val rows = for {
      (part, fs) <- cur.files.groupBy(_.partition).toSeq
      colName <- fs.flatMap(_.stats.keys).distinct
      ranges = fs.flatMap(_.stats.get(colName)).collect {
        case st if st.min != null && st.max != null =>
          st.tpe match {
            case "long"   => (st.min.toLong.toDouble, st.max.toLong.toDouble, None)
            case "double" => (st.min.toDouble, st.max.toDouble, None)
            case _        => (0d, 0d, Some(st.min -> st.max))
          }
      }
      if ranges.size == fs.size // only fully-covered columns are honest
    } yield {
      val depth =
        if (ranges.exists(_._3.isDefined)) {
          // string ranges: sweep in string order
          val evs = ranges.flatMap { r =>
            val (lo, hi) = r._3.get; Seq((lo, 0), (hi, 1))
          }.sortBy(identity) // opens ("…",0) sort before closes at equal key
          evs.foldLeft((0, 0)) { case ((cur0, mx), (_, kind)) =>
            val c = if (kind == 0) cur0 + 1 else cur0 - 1
            (c, math.max(mx, c))
          }._2
        } else {
          val evs = ranges.flatMap { case (lo, hi, _) => Seq((lo, 0), (hi, 1)) }
            .sortBy(identity)
          evs.foldLeft((0, 0)) { case ((cur0, mx), (_, kind)) =>
            val c = if (kind == 0) cur0 + 1 else cur0 - 1
            (c, math.max(mx, c))
          }._2
        }
      val partStr = part.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/")
      (partStr, logicalToPhysical.map(_.swap).getOrElse(colName, colName),
        fs.size.toLong, depth.toLong)
    }
    rows.sortBy(r => (r._1, r._2))
      .toDF("partition", "column", "n_files", "max_overlap")
  }

  /** `` t$partitions `` — per-partition rollup straight from the
    * manifest: O(metadata), zero data access. The operational
    * dashboard view (skew, fragmentation, size per partition).
    */
  def partitionsView: DataFrame = {
    import spark.implicits._
    current.files
      .groupBy(_.partition.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"))
      .map { case (p, fs) =>
        (p, fs.size.toLong, fs.map(_.rows).sum, fs.map(_.bytes).sum) }
      .toSeq.sortBy(_._1)
      .toDF("partition", "n_files", "n_rows", "n_bytes")
  }
}

object GraftTable {
  // the row-level DML kernel's vocabulary (see GraftTable.rowLevel)

  /** Which live candidate rows a row-level verb hits. */
  private sealed trait RowMatch
  /** Rows where `pred` is TRUE (null-safe: NULL is no hit). */
  private final case class ByPredicate(pred: Column) extends RowMatch
  /** Rows whose `keyCols` appear in `source`. */
  private final case class ByKeys(source: DataFrame, keyCols: Seq[String]) extends RowMatch

  /** What a row-level verb writes in place of the rows it hits. */
  private sealed trait PostImage
  /** Nothing: the hit rows are deleted. */
  private case object Removed extends PostImage
  /** The hit row with `set` applied; every assignment is evaluated
    * against the PRE-update row, in one projection (SQL UPDATE).
    */
  private final case class Assigned(set: Map[String, Column]) extends PostImage
  /** The whole keyed source, for updated and inserted keys alike. */
  private case object WholeSource extends PostImage

  /** Field-metadata key carrying a renamed column's frozen on-disk
    * (parquet) name — see [[GraftTable.renameColumn]].
    */
  val PhysicalNameKey = "graftPhysicalName"

  /** Meta-dir file names (all I/O through [[MetaIO]]). */
  private[lake] val HintName = "version-hint.txt"
  private[lake] val LedgerName = "batch-tags.txt"
  private[lake] val RefsName = "refs.json"

  /** On-disk parquet name of a schema field (== logical name unless
    * the column has been renamed).
    */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  private[graft] val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Snapshot]()

  /** `base`, or the first of `base1`, `base2`, … that `free` accepts. */
  private def freshName(base: String, free: String => Boolean): String =
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i").find(free).get

  /** The change-kind column a change feed appends to a table with
    * columns `dataCols`: `_change_type`, or `_change_type1`, … when the
    * table already has a column of that name (compared
    * case-insensitively, as the analyzer resolves names). The batch
    * [[GraftTable.changelog]] and the streaming `readChangeFeed` share
    * it, so neither replaces nor duplicates a user column.
    */
  def changeTypeCol(dataCols: Seq[String]): String =
    freshName("_change_type", n => !dataCols.exists(_.equalsIgnoreCase(n)))

  /** Manifests with at least this many files externalize the file list
    * into content-addressed per-partition shards (see [[ShardRef]]).
    * Below it a single inline JSON is cheaper than the extra reads.
    */
  val ShardFilesThreshold = 64

  /** Commits at or below this many files footer-stat on the driver —
    * the fixed launch cost of a Spark job dominates a handful of local
    * footer reads (see [[GraftTable.writeFiles]]).
    */
  val DriverStatThreshold = 16

  /** A position-delete entry: exact `(file, row)` coordinates, neither
    * a deletion vector nor an equality key set. Only tables written
    * before vectors existed hold them; see [[refusePositionDeletes]].
    */
  private[graft] def isPosition(d: DeleteFileEntry): Boolean =
    d.equalityCols.isEmpty && !d.dv

  /** The one refusal of a delete set holding position entries: the read
    * path (batch reads, `changelog`, the streaming source, maintenance)
    * knows deletion vectors and equality deletes only, and
    * [[GraftTable.convertDeletesToDv]] is the one reader of position
    * coordinates.
    */
  private[graft] def refusePositionDeletes(dels: Seq[DeleteFileEntry]): Unit =
    dels.find(isPosition).foreach { d =>
      throw new UnsupportedOperationException(
        s"pending position-delete file ${d.path}: graft reads deletion vectors and " +
          "equality deletes only. Convert the table's position deletes first with " +
          "CALL system.rewrite_position_delete_files(table => '<table>') " +
          "(GraftTable.convertDeletesToDv); its rows read the same afterwards.")
    }

  /** `FileEntry.addedBy` sentinel for files written but not yet
    * committed; [[GraftTable.stage]] replaces it with the final id.
    */
  val PendingAddedBy: Long = -1L

  /** Post-publish hooks, invoked with `(session, root)` after every
    * successful pointer swing (commit, publish, rollback — anything
    * that changes `current`). The SQL bridge installs one to keep
    * session-catalog [[org.apache.spark.sql.catalyst.catalog.CatalogStatistics]]
    * in step with the manifest, so planner stats never go stale between
    * explicit refreshes. Listener failures are swallowed: auxiliary
    * metadata must never fail a commit that already published.
    */
  private val commitListeners =
    new java.util.concurrent.CopyOnWriteArrayList[(SparkSession, String) => Unit]()
  def addCommitListener(f: (SparkSession, String) => Unit): Unit =
    commitListeners.add(f)
  private[lake] def notifyCommit(spark: SparkSession, root: String): Unit = {
    val it = commitListeners.iterator()
    while (it.hasNext) {
      try it.next()(spark, root)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Every operation graft itself writes — anything else in a
    * snapshot's `operation` field is a user batch tag (see
    * [[GraftTable.appendBatch]]), which [[GraftTable.expire]] and the
    * ledger seeding record as consumed.
    */
  private[lake] val StandardOps: Set[String] = Set(
    "create", "append", "overwrite", "overwrite-partition",
    "overwrite-dynamic", "delete", "truncate", "update", "merge",
    "merge-delete", "repartition-spec", "set-properties", "add-column",
    "drop-column", "rename-column", "widen-column", "set-nullability",
    "analyze", "optimize", "compact", "rollback", "adopt", "apply-deletes",
    "replace", "clone", "convert-deletes", "iceberg-import")

  /** TBLPROPERTIES prefix marking a column NOT NULL (A88): write-time
    * enforcement keys on this, never on bare schema nullability.
    */
  val NotNullPropPrefix = "notnull."

  /** TBLPROPERTIES key: written-file size cap, honored by the write
    * funnel, OPTIMIZE, and auto-compaction.
    */
  val TargetFileSizeProp = "write.target-file-size"

  /** Snapshot operations that move bytes without changing logical
    * content (Delta's `dataChange=false` class): their added files
    * carry only rows that were already visible in the parent snapshot.
    * Incremental/streaming consumers skip them via
    * [[GraftTable.rewriteCarrySkips]]; the CDC feed contributes
    * nothing for them by the same classification.
    */
  val ContentInvariantOps: Set[String] =
    Set("compact", "optimize", "apply-deletes", "repartition-spec",
      "convert-deletes")

  /** A92 auto-compaction properties: `write.auto-compact=true` runs a
    * manifest-only small-file check after every append and packs
    * partitions holding ≥ `write.auto-compact.min-files` files under
    * half the target ([[GraftTable.compactSmallFiles]]).
    */
  val AutoCompactProp = "write.auto-compact"
  val AutoCompactMinFilesProp = "write.auto-compact.min-files"
  val DefaultAutoCompactMinFiles = 8
  val DefaultAutoCompactTarget: Long = 128L << 20

  /** Rate limiter for auto-compaction failure warnings: at most one
    * line per table per minute, so a compaction that loses every
    * commit race to a hot concurrent writer reports without flooding.
    */
  private val autoCompactWarnAt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val AutoCompactWarnIntervalMs = 60000L
  private[lake] def warnAutoCompactFailure(root: String, e: Throwable): Unit = {
    val now = System.currentTimeMillis()
    val prev = autoCompactWarnAt.get(root)
    if (prev == null || now - prev >= AutoCompactWarnIntervalMs) {
      autoCompactWarnAt.put(root, now)
      org.slf4j.LoggerFactory.getLogger(classOf[GraftTable]).warn(
        s"auto-compaction of $root failed (best-effort, append already " +
          s"committed; small files will accumulate until one succeeds): $e")
    }
  }

  /** TBLPROPERTIES key routing DELETE between copy-on-write (default)
    * and merge-on-read deletion vectors: `merge-on-read`, or its older
    * spelling `dv`.
    */
  val DeleteModeProp = "write.delete.mode"
  /** OPTIMIZE clustering curve: "morton" (default) | "hilbert". */
  val OptimizeCurveProp = "write.optimize.curve"

  /** TBLPROPERTIES key routing UPDATE between copy-on-write (default)
    * and merge-on-read (delete the pre-image through the deletion
    * vectors, append the post-image).
    */
  val UpdateModeProp = "write.update.mode"

  /** TBLPROPERTIES key routing MERGE between copy-on-write (default)
    * and merge-on-read upserts.
    */
  val MergeModeProp = "write.merge.mode"

  /** TBLPROPERTIES key: max bytes of a merge-on-read helper frame
    * that is still broadcast-hinted — the recorded bytes of a pending
    * delete set MOR reads join (see [[GraftTable.minusDvDeletes]] and
    * the equality split) and the estimated bytes of a keyed
    * MOR write's source keys (see [[GraftTable.sourceKeysHinted]]).
    */
  val DeleteBroadcastProp = "write.delete.broadcast-threshold"

  /** TBLPROPERTIES key selecting what a merge-on-read MERGE /
    * keyed-DELETE writes: `position` (default — exact coordinates, one
    * pruned target scan, folded into the deletion vectors) or
    * `equality` (the key set itself — O(source), zero target I/O; see
    * [[DeleteFileEntry]]).
    */
  val MergeDeleteKindProp = "write.merge.delete-kind"

  /** TBLPROPERTIES key: `auto` keeps per-column NDV statistics current
    * on row-adding writes — `append`, `appendBatch` (the exactly-once
    * streaming sink path), `overwrite` (resets coverage), and
    * partition overwrites (merge; see below) — by merging a
    * DataSketches HLL of the delta into a persisted per-column sketch
    * (`stats.hll.<col>`), computed by an Observation riding the write
    * action itself, so it adds zero passes and never rescans the
    * table, and refreshing the `stats.ndv.<col>` estimate the CBO
    * bridge reads. Enable at create time, or run ANALYZE once to seed
    * the sketches from a full pass (deltas merged into an unseeded
    * sketch undercount pre-existing rows). Writes that REMOVE rows
    * (DELETE/UPDATE/MERGE, and the replaced side of a partition
    * overwrite) leave the sketch: an HLL cannot retract, so NDV stays
    * a sound upper bound until the next ANALYZE — same staleness
    * contract as Iceberg's analyze actions, minus the append-path
    * staleness. NOT maintained by the write-audit-publish staging path
    * (`stageAppend`/`publish`/cherry-pick) or branch writes — run
    * ANALYZE after publishing if exact stats matter there.
    */
  val NdvModeProp = "write.stats.ndv"

  /** TBLPROPERTIES key: comma-separated columns every write
    * range-distributes and sorts on (after the partition columns), so
    * new files carry narrow footer/manifest min-max on them and scans
    * with predicates on those columns skip whole files — clustering at
    * write time instead of a later OPTIMIZE ZORDER pass (the Z-order
    * rewrite remains the tool for EXISTING data and for multi-column
    * point lookups; a sort order clusters best for range predicates on
    * its leading column). Costs one range shuffle per write.
    */
  val SortColsProp = "write.sort.columns"

  /** Prefix for CHECK-constraint properties: `check.<name>` = boolean
    * SQL predicate, enforced on every data write (see
    * [[GraftTable.addCheckConstraint]]).
    */
  val CheckPropPrefix = "check."

  /** Every table-property prefix keyed by a COLUMN name. Column DDL
    * must treat these as one class: RENAME migrates each `<prefix><from>`
    * to `<prefix><to>`, DROP removes each `<prefix><col>` — a key left
    * under a gone/old name is live state pointed at nothing (a stale
    * `notnull.<col>` rejects every later write because the batch
    * "omits" a column the schema no longer has; a stale `stats.hll.`
    * makes auto-NDV either restart from a delta-only sketch after a
    * rename, collapsing the CBO's distinctCount to last-batch NDV, or
    * merge a re-added same-name column into the dead sketch). Adding a
    * per-column property? Register its prefix here and both DDL paths
    * handle it.
    */
  val ColumnPropPrefixes: Seq[String] =
    Seq("stats.ndv.", "stats.hll.", "comment.col.", NotNullPropPrefix)

  /** Schema-field metadata keys for initial-default columns (see
    * [[GraftTable.addColumnWithDefault]]): the default's SQL text and
    * the snapshot id the column was added at — files whose `addedBy`
    * predates it read the default.
    */
  val DefaultMetaKey = "graft.initial-default"
  val DefaultAddedAtKey = "graft.default-added-at"

  /** Retention policy property (A78): keep at most N snapshots,
    * auto-expiring the rest on every pointer move (see
    * [[GraftTable.autoExpire]]).
    */
  val MaxSnapshotsProp = "history.keep.max-snapshots"

  /** Cardinality-preserving sketch input for a column, or None when the
    * type has no 1:1 mapping into `hll_sketch_agg`'s accepted inputs
    * (int/long/string/binary). Byte/short widen to int; dates go to
    * epoch-days and timestamps to epoch-micros via the dedicated
    * functions (a plain numeric cast of date/NTZ types is rejected
    * under ANSI); boolean/fractional/decimal go through their string
    * form (distinct values stringify distinctly).
    */
  private[lake] def ndvSketchExpr(f: org.apache.spark.sql.types.StructField)
      : Option[Column] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{unix_date, unix_micros}
    val c = col(f.name)
    f.dataType match {
      case IntegerType | LongType | StringType | BinaryType => Some(c)
      case ByteType | ShortType => Some(c.cast(IntegerType))
      case DateType             => Some(unix_date(c))
      case TimestampType        => Some(unix_micros(c))
      case TimestampNTZType     => Some(unix_micros(c.cast(TimestampType)))
      case BooleanType          => Some(c.cast(StringType))
      case _: NumericType       => Some(c.cast(StringType))
      case _                    => None
    }
  }

  /** Merge per-column delta sketches into the persisted
    * `stats.hll.<col>` sketches (base64 compact HLL) and refresh the
    * `stats.ndv.<col>` estimates the CBO bridge reads. Pure
    * driver-side kilobyte unions; lgK 12 matches `hll_sketch_agg`'s
    * default so ANALYZE-seeded and delta sketches merge losslessly.
    */
  private[lake] def mergeNdvProps(props: Map[String, String],
      delta: Map[String, Array[Byte]]): Map[String, String] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val b64 = java.util.Base64.getEncoder
    delta.foldLeft(props) { case (p, (name, bytes)) =>
      val merged = p.get(s"stats.hll.$name") match {
        case Some(prev) =>
          val u = new Union(12)
          u.update(HllSketch.heapify(java.util.Base64.getDecoder.decode(prev)))
          u.update(HllSketch.heapify(bytes))
          u.getResult
        case None => HllSketch.heapify(bytes)
      }
      p + (s"stats.hll.$name" -> b64.encodeToString(merged.toCompactByteArray)) +
        (s"stats.ndv.$name" -> math.round(merged.getEstimate).toString)
    }
  }

  /** TBLPROPERTIES key: pending-delete row fraction at which a
    * partition becomes a compaction candidate regardless of
    * fragmentation (see [[GraftTable.optimizeCompact]]).
    */
  val CompactDeleteRatioProp = "write.compact.delete-ratio"
  val DefaultCompactDeleteRatio = 0.05

  /** Max scan-file count for which the equality-delete stamp dim
    * (basename → addedBy) broadcast-hints; ~60 B/row, so 1M files
    * ≈ 60 MB relation — past that the join plans shuffled.
    */
  val FileSeqBroadcastMax = 1000000

  /** 32 MB default: parquet-encoded `(file_name, row_index)` pairs
    * expand several-fold into a broadcast hash relation, so this keeps
    * the relation within the same order as Spark's own
    * autoBroadcastJoinThreshold while covering any point-delete burst.
    */
  val DefaultDeleteBroadcastBytes: Long = 32L * 1024 * 1024

  /** Recorded size of a delete set; entries from pre-`bytes` manifests
    * estimate ~64 B/row (the measured parquet footprint of a pair).
    */
  private[graft] def deleteSetBytes(dels: Seq[DeleteFileEntry]): Long =
    dels.map(d => if (d.bytes > 0) d.bytes else d.rows * 64L).sum

  /** Default orphan-sweep grace (24 h — Iceberg's remove-orphan-files
    * defaults to 3 days for the same reason: never race a slow
    * writer); per-table override via TBLPROPERTIES key
    * [[OrphanGraceProp]].
    */
  val DefaultOrphanGraceMillis: Long = 24L * 60 * 60 * 1000
  val OrphanGraceProp = "vacuum.orphan.grace-ms"

  private[graft] def baseName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** (root, shard path) → parsed file entries. Shards are immutable
    * (content-addressed), so the cache never invalidates within a
    * table generation; loading snapshot N+1 re-parses only shards N
    * didn't have.
    */
  private[graft] val shardCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[FileEntry]]()

  /** root → (ledger file size, parsed batch tags); see consumedTags. */
  private[lake] val tagCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]()

  /** Roots whose ledger has been reconciled against snapshot history in
    * this JVM; see [[GraftTable.seedLedger]].
    */
  private[lake] val ledgerSeeded =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Tables are rebuilt in place by the driver-contract queries —
    * invalidate any cached snapshots under this root. (private[graft]:
    * ScaleBench's plan-latency probe busts it to time COLD opens.)
    */
  private[graft] def invalidate(root: String): Unit = {
    snapshotCache.keySet.removeIf(_._1 == root)
    shardCache.keySet.removeIf(_._1 == root)
    tagCache.remove(root)
  }

  /** CREATE TABLE … USING parquet OPTIONS(addTableManagement,
    * columnDependencies …) PARTITIONED BY … — as an API (reference:
    * planning/CreateTableRules.scala). Deletes any prior table at
    * `root` (idempotent rebuilds for the driver contract).
    */
  def create(
      spark: SparkSession, root: String, df: DataFrame,
      partitionCols: Seq[String] = Seq.empty,
      deps: Seq[DepSpec] = Seq.empty): GraftTable = {
    val t = wiped(spark, root)
    // resolve the full schema (incl. derived dep columns) by writing
    val withDeps = deps.foldLeft(df) { (d, dep) =>
      if (d.columns.contains(dep.dest)) d
      else d.withColumn(dep.dest,
        Deps.columnTyped(dep.transform, col(dep.src), d.schema(dep.src).dataType))
    }
    val files = t.writeFiles(df, partitionCols, deps, snapId = 1)
    t.commitCreate(1, "create", withDeps.schema.json, partitionCols, deps, files, files.size)
  }

  /** CREATE TABLE without data: commit snapshot 1 with the declared
    * schema and no files (the SQL-DDL entry point; inserts fill it).
    */
  def createEmpty(
      spark: SparkSession, root: String, schema: StructType,
      partitionCols: Seq[String], deps: Seq[DepSpec]): GraftTable =
    wiped(spark, root).commitCreate(1, "create", schema.json, partitionCols, deps,
      Seq.empty, addedFiles = 0)

  /** An empty table at `root`: whatever the root held is deleted and
    * its cached metadata dropped. Every creating commit but
    * [[adopt]]'s (which keeps `data/`) starts here, and then commits
    * through [[GraftTable.commitCreate]].
    */
  private[lake] def wiped(spark: SparkSession, root: String): GraftTable = {
    val rootP = new HPath(root)
    val hfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(rootP)) hfs.delete(rootP, true)
    invalidate(root)
    hfs.mkdirs(rootP)
    new GraftTable(root, spark)
  }

  /** Bring pre-existing hive-layout parquet under graft management
    * WITHOUT rewriting a byte of data: `root/data` already holds the
    * files (written by any engine); footer stats are harvested
    * distributed, partition columns are inferred from the directory
    * layout, and snapshot-1 is committed over the files in place —
    * the `msck repair table` equivalent (reference:
    * TestTables.scala:63-72 registers existing-path tables + repairs
    * partitions). This is how 100 TB of existing parquet joins the
    * manifest-planned scan path at the cost of one footer pass.
    */
  def adopt(spark: SparkSession, root: String): GraftTable = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootP = new HPath(root)
    val hfs = rootP.getFileSystem(hconf)
    val dataP = new HPath(rootP, "data")
    require(hfs.exists(dataP) && hfs.getFileStatus(dataP).isDirectory,
      s"adopt: $dataP is not a directory")
    // fresh management state; data files untouched (re-adoption safe)
    val metaP = new HPath(rootP, "meta")
    if (hfs.exists(metaP)) hfs.delete(metaP, true)
    invalidate(root)
    // one-time schema + partition-column inference (Spark types the
    // k=v directory columns); afterwards all planning is manifest-only
    val schema = spark.read.parquet(dataP.toString).schema
    val dataUri = hfs.makeQualified(dataP).toUri.getPath
    // Listing + footer-stats harvest in ONE cluster pass: the driver
    // lists only the TOP level of data/ (partition dirs, or bare files
    // for an unpartitioned tree); each directory becomes a task that
    // recursively lists its own subtree and stats every parquet it
    // finds. An adopt is the one-time takeover of a pre-existing hive
    // tree — possibly millions of files on an object store — so
    // neither the LIST calls nor the footer reads may serialize on
    // the driver.
    val rootStr = root
    val top = hfs.listStatus(dataP)
    val topDirs = top.filter(_.isDirectory).map(_.getPath.toString).toSeq
    val topFiles = top
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    val sc = spark.sparkContext
    val slices = math.max(1, sc.defaultParallelism)
    val fromDirs =
      if (topDirs.isEmpty) Seq.empty[FileEntry]
      else sc.parallelize(topDirs, math.min(topDirs.size, slices * 4))
        .flatMap(dir => adoptEntriesIn(rootStr, dir, dataUri))
        .collect().toSeq
    val fromFiles =
      if (topFiles.isEmpty) Seq.empty[FileEntry]
      else sc.parallelize(topFiles, math.min(topFiles.size, slices))
        .map(p => statEntry(rootStr, p, Map.empty[String, String]))
        .collect().toSeq
    val entries = (fromDirs ++ fromFiles).sortBy(_.path)
    // partition-column ORDER from the first entry's directory segments
    // (identical across the tree by hive-layout construction)
    val partCols = entries.headOption.map(
      _.path.split('/').drop(1).dropRight(1).filter(_.contains('='))
        .map(_.takeWhile(_ != '=')).toSeq).getOrElse(Seq.empty)
    new GraftTable(root, spark).commitCreate(1, "adopt", schema.json, partCols,
      Seq.empty, entries, entries.size)
  }

  /** Root-relative form of a path/URI. Both sides are QUALIFIED
    * against the path's filesystem before stripping, because listings
    * return fully-qualified paths while the root string may be
    * relative or schemeless — unqualified prefix-stripping would then
    * miss and store an absolute path in the manifest (breaking every
    * later `$root/$rel` reconstruction).
    */
  private def relativize(root: String, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(taskConf)
    val q = fs.makeQualified(p).toUri.getPath
    val rq = fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toUri.getPath
    q.stripPrefix(rq).stripPrefix("/")
  }

  /** Footer-stat one existing file (no move) — runs in a cluster task. */
  /** Cluster task for [[adopt]]: recursively list ONE partition subtree
    * and harvest footer stats for every parquet payload in it — the
    * executor-side half of adopt's distributed listing.
    */
  private def adoptEntriesIn(root: String, dirStr: String,
      dataUri: String): Seq[FileEntry] = {
    val p = new org.apache.hadoop.fs.Path(dirStr)
    val fs = p.getFileSystem(taskConf)
    val out = scala.collection.mutable.ArrayBuffer[FileEntry]()
    walkFiles(fs, p) { st =>
      if (st.getPath.getName.endsWith(".parquet")) {
        val pv = st.getPath.toUri.getPath.stripPrefix(dataUri).stripPrefix("/")
          .split('/').toSeq.dropRight(1)
          .filter(_.contains('='))
          .map { seg =>
            val i = seg.indexOf('=')
            seg.substring(0, i) -> unescapePath(seg.substring(i + 1))
          }.toMap
        out += statEntry(root, st.getPath.toString, pv)
      }
      true
    }
    out.toSeq
  }

  private def statEntry(root: String, path: String,
      partVals: Map[String, String]): FileEntry = {
    val conf = taskConf
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val (rows, bytes, stats) = footerStats(p, fs, conf)
    FileEntry(relativize(root, path), partVals, rows, bytes, stats, PendingAddedBy)
  }

  /** Parse the reference's columnDependencies option string:
    * `src=dest:transform[,src=dest:transform…]` (reference:
    * utils/Transforms.scala option format).
    */
  def parseDeps(s: String): Seq[DepSpec] =
    s.split(',').filter(_.nonEmpty).toSeq.map { part =>
      val Array(src, rest) = part.trim.split("=", 2)
      val Array(dest, tr) = rest.split(":", 2)
      DepSpec(src.trim, dest.trim, tr.trim)
    }

  // Hive partition-path escaping, via the same routines Spark's own
  // dynamic-partition writer uses — %XX round-trips exactly (a
  // %20-only substitute silently mis-decodes %3A, %25, …).
  /** FileEntry/DeleteFileEntry paths are normally root-relative;
    * SHALLOW CLONES (A65) reference the source table's files by
    * absolute path. Everything that resolves an entry against a table
    * root goes through [[resolveEntry]]; everything that DELETES data
    * must skip absolute entries — a clone never owns them.
    */
  def isAbsoluteEntry(p: String): Boolean =
    p.startsWith("/") || p.contains(":/")

  def resolveEntry(root: String, p: String): String =
    if (isAbsoluteEntry(p)) p else s"$root/$p"

  private[lake] def unescapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)
  private[lake] def escapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  /** One Configuration per JVM: the constructor re-parses the default
    * XML resources; per-file construction shows up at commit time.
    * Parquet hides one such construction: its one-argument
    * `ParquetFileReader.open` (an `InputFile` alone) builds its read
    * options from a fresh `Configuration` on every call, so footer
    * reads go through [[openFooter]] with this conf (or the caller's).
    */
  @transient private lazy val taskConf = new Configuration()

  /** Graft writes in flight per session, and the session's parquet
    * timestamp type from before the first of them.
    */
  private val microsScopes = scala.collection.mutable.Map[SparkSession, (Int, Option[String])]()

  /** Run `body` with `spark.sql.parquet.outputTimestampType` set to
    * `TIMESTAMP_MICROS` on the session. Writes may overlap on one
    * session (`AnnIndex.build` writes books and codes at once): the
    * first one in sets the type, the last one out restores the type
    * the caller had, even on failure.
    */
  private[graft] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    microsScopes.synchronized {
      val (n, prev) = microsScopes.getOrElse(spark, (0, spark.conf.getOption(key)))
      if (n == 0) spark.conf.set(key, "TIMESTAMP_MICROS")
      microsScopes(spark) = (n + 1, prev)
    }
    try body
    finally microsScopes.synchronized {
      val (n, prev) = microsScopes(spark)
      if (n > 1) microsScopes(spark) = (n - 1, prev)
      else {
        microsScopes.remove(spark)
        prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
    }
  }

  /** Open a parquet file for its footer with read options built from
    * `conf` — the conf the caller already holds. About 0.7 ms a file,
    * against about 10 ms for parquet's one-argument `open`, which
    * constructs and parses a new Hadoop `Configuration` per call.
    */
  private[graft] def openFooter(p: org.apache.hadoop.fs.Path,
      conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf).build())

  /** Payload-file count up to which [[GraftTable.orphanScan]] sweeps
    * inline on the driver; larger tables distribute the listing.
    */
  val VacuumDriverFiles = 1024

  /** Per-path FS operation count (exists / delete) up to which the
    * metadata plane works inline on the driver; larger sets ship to
    * executors — at object-store latency each op is a ~10-20 ms round
    * trip, so a 10⁵-file bulk commit's existence check or a bulk
    * expire's unlink pass would otherwise serialize into minutes on
    * the driver.
    */
  val DriverPathOps = 256

  /** Root-relative paths in `rels` that do NOT exist — inline for a
    * handful, cluster-parallel past [[DriverPathOps]].
    */
  private[lake] def missingPaths(spark: org.apache.spark.sql.SparkSession,
      root: String, rels: Seq[String]): Seq[String] = {
    if (rels.size <= DriverPathOps) {
      val rootP = new org.apache.hadoop.fs.Path(root)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      rels.filterNot(r => fs.exists(new org.apache.hadoop.fs.Path(rootP, r)))
    } else {
      val rootStr = root
      spark.sparkContext
        .parallelize(rels, math.min(rels.size, spark.sparkContext.defaultParallelism * 4))
        .filter { r =>
          val p = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(rootStr), r)
          !p.getFileSystem(taskConf).exists(p)
        }
        .collect().toSeq
    }
  }

  /** Delete root-relative paths — inline for a handful,
    * cluster-parallel past [[DriverPathOps]] (non-recursive; callers
    * pass files, never trees).
    */
  private[lake] def deletePaths(spark: org.apache.spark.sql.SparkSession,
      root: String, rels: Seq[String]): Unit = {
    if (rels.size <= DriverPathOps) {
      val rootP = new org.apache.hadoop.fs.Path(root)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      rels.foreach(r => fs.delete(new org.apache.hadoop.fs.Path(rootP, r), false))
    } else {
      val rootStr = root
      spark.sparkContext
        .parallelize(rels, math.min(rels.size, spark.sparkContext.defaultParallelism * 4))
        .foreach { r =>
          val p = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(rootStr), r)
          p.getFileSystem(taskConf).delete(p, false)
          ()
        }
    }
  }

  /** Recursive file walk via `listStatusIterator`. The metadata plane
    * never needs block locations, and `listFiles(p, recursive=true)`
    * computes them PER FILE — measured ~100× the cost of a plain
    * status listing on location-computing filesystems. Directories
    * recurse; `visit` sees files only. Returns early when `visit`
    * returns false (short-circuit probes).
    */
  private[lake] def walkFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)(
      visit: org.apache.hadoop.fs.FileStatus => Boolean): Boolean = {
    val it = fs.listStatusIterator(p)
    while (it.hasNext) {
      val st = it.next()
      if (st.isDirectory) {
        if (!walkFiles(fs, st.getPath)(visit)) return false
      } else if (!visit(st)) return false
    }
    true
  }

  /** `<snapId>-…` prefix of an engine-written payload name; None for
    * adopted files (which are always referenced anyway).
    */
  private[lake] def plannedIdOf(name: String): Option[Long] = {
    val dash = name.indexOf('-')
    if (dash <= 0) None
    else {
      val p = name.substring(0, dash)
      if (p.forall(_.isDigit)) Some(p.toLong) else None
    }
  }

  /** The orphan-candidate predicate, shared verbatim by the inline
    * driver sweep and the cluster walkers: a parquet payload (writer
    * markers are inert), unreferenced by any live snapshot, whose
    * planned snapshot id is not ahead of the manifest (structural
    * in-flight guard) and whose mtime has aged past the grace cutoff.
    * Delete files live under `deletes/<snapId>-<uuid>/part….parquet`,
    * so the planned id rides the DIRECTORY name there.
    */
  private[lake] def orphanCandidate(sub: String, rel: String, name: String,
      mtime: Long, referenced: String => Boolean, maxId: Long,
      cutoff: Long): Boolean = {
    val payloadId =
      if (sub == "deletes") rel.split('/').drop(1).headOption.flatMap(plannedIdOf)
      else plannedIdOf(name)
    name.endsWith(".parquet") && !referenced(rel) &&
      payloadId.forall(_ <= maxId) && mtime < cutoff
  }

  /** Cluster task: recursively list ONE payload subtree and return only
    * its orphan candidates — the task-side half of the distributed
    * sweep (each executor issues its own LIST calls; the driver never
    * walks the tree).
    */
  private[lake] def orphanCandidatesIn(dirStr: String, rootUri: String,
      sub: String, referenced: scala.collection.Set[String], maxId: Long,
      cutoff: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dirStr)
    val fs = p.getFileSystem(taskConf)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    walkFiles(fs, p) { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      if (orphanCandidate(sub, rel, st.getPath.getName,
          st.getModificationTime, referenced.contains, maxId, cutoff))
        out += rel
      true
    }
    out.toSeq
  }

  /** Cluster task: newest mtime anywhere inside a staging tree (a live
    * long write keeps refreshing its own protection).
    */
  private[lake] def newestMtimeIn(dirStr: String, dirMtime: Long): Long = {
    val p = new org.apache.hadoop.fs.Path(dirStr)
    val fs = p.getFileSystem(taskConf)
    var newest = dirMtime
    walkFiles(fs, p) { st =>
      newest = math.max(newest, st.getModificationTime); true
    }
    newest
  }

  /** Does the subtree contain any parquet payload? Stops at the first
    * hit; runs driver-side for small tables, as a cluster task for
    * large ones.
    */
  private[lake] def hasParquetIn(dirStr: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dirStr)
    val fs = p.getFileSystem(taskConf)
    !walkFiles(fs, p)(st => !st.getPath.getName.endsWith(".parquet"))
  }

  /** Move one staged file to its final location and harvest its footer
    * stats — runs INSIDE a cluster task (Hadoop FileSystem API, so any
    * shared filesystem works), never on the driver. Reference does this
    * harvest at task commit: IcebergFileCommitProtocol.scala:164.
    */
  private[lake] def moveAndStat(root: String, src: String, dest: String,
      partVals: Map[String, String]): FileEntry = {
    val conf = taskConf
    val srcP = new org.apache.hadoop.fs.Path(src)
    val destP = new org.apache.hadoop.fs.Path(dest)
    val fs = destP.getFileSystem(conf)
    fs.mkdirs(destP.getParent) // idempotent; local FS rename needs the dir
    if (!fs.rename(srcP, destP))
      throw new java.io.IOException(s"rename $src -> $dest failed")
    val (rows, bytes, stats) = footerStats(destP, fs, conf)
    FileEntry(relativize(root, dest), partVals, rows, bytes, stats, PendingAddedBy)
  }

  /** Per-column min/max/nulls from the parquet footer — O(footer), no
    * data read (reference: utils/ParquetMetrics.scala).
    */
  private[lake] def footerStats(p: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem,
      conf: Configuration): (Long, Long, Map[String, ColStat]) = {
    val reader = openFooter(p, conf)
    try {
      val md = reader.getFooter
      val blocks = md.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val agg = scala.collection.mutable.Map[String, (String, Any, Any, Long)]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        val st = c.getStatistics
        if (st != null && st.hasNonNullValue) {
          // non-micros TIMESTAMP annotations (adopt() accepts arbitrary
          // external parquet, e.g. TIMESTAMP_MILLIS writers): the long
          // domain is NOT Spark's epoch-micros, so a recorded "long"
          // stat would make pruning AND metadata-only MIN/MAX silently
          // off by 1000× — record no stat for the column instead (the
          // scan path converts units correctly; only the stats plane
          // must bail). Graft's own writes are always TIMESTAMP_MICROS.
          val tsUnitOk = c.getPrimitiveType.getLogicalTypeAnnotation match {
            case ts: org.apache.parquet.schema.LogicalTypeAnnotation
                       .TimestampLogicalTypeAnnotation =>
              ts.getUnit ==
                org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => true
          }
          val (tpe, mn, mx): (String, Any, Any) =
            c.getPrimitiveType.getPrimitiveTypeName match {
              case _ if !tsUnitOk => (null, null, null)
              case PrimitiveTypeName.INT64 | PrimitiveTypeName.INT32 =>
                ("long",
                  st.genericGetMin.asInstanceOf[Number].longValue,
                  st.genericGetMax.asInstanceOf[Number].longValue)
              case PrimitiveTypeName.DOUBLE | PrimitiveTypeName.FLOAT =>
                ("double",
                  st.genericGetMin.asInstanceOf[Number].doubleValue,
                  st.genericGetMax.asInstanceOf[Number].doubleValue)
              case PrimitiveTypeName.BINARY =>
                ("string",
                  st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                  st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8)
              case _ => (null, null, null)
            }
          if (tpe != null) {
            agg.get(name) match {
              case None => agg(name) = (tpe, mn, mx, st.getNumNulls)
              case Some((t0, m0, x0, n0)) =>
                val nmn = if (cmpAny(mn, m0) < 0) mn else m0
                val nmx = if (cmpAny(mx, x0) > 0) mx else x0
                agg(name) = (t0, nmn, nmx, n0 + st.getNumNulls)
            }
          }
        }
      }
      val stats = agg.map { case (k, (t, mn, mx, nulls)) =>
        k -> ColStat(t, mn.toString, mx.toString, nulls) }.toMap
      (rows, fs.getFileStatus(p).getLen, stats)
    } finally reader.close()
  }

  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case _                      => 0
  }
}
