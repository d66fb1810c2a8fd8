package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

import graft.lake.{DeleteFileEntry, GraftTable, Snapshot}

/** A graft table as a Structured Streaming SOURCE: offsets are snapshot
  * ids, and each micro-batch reads exactly the data files added in
  * `(startId, endId]` through the manifest scan path — the Delta-style
  * "streaming read of a table" (SURVEY.md §2.D6). Combined with the
  * exactly-once [[graft.lake.GraftTable.appendBatch]] sink, two graft
  * tables chain into an incremental pipeline with end-to-end
  * exactly-once semantics.
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft.streaming.GraftSourceProvider")
  *     .option("path", tableRoot)
  *     .load()
  * }}}
  *
  * Admission control (all optional, composable):
  *  - `maxSnapshotsPerTrigger` — at most n snapshots per micro-batch.
  *  - `maxFilesPerTrigger` / `maxBytesPerTrigger` / `maxRowsPerTrigger`
  *    (rows budgeted from manifest counts, file-granular like Delta's)
  *    — split WITHIN a
  *    snapshot: one huge backfill commit drains across many bounded
  *    micro-batches instead of landing as one. Sub-snapshot progress is
  *    checkpointed as [[GraftFileOffset]] `(id, p)` = "all files
  *    through snapshot id, except files of id itself with path > p" —
  *    the cut is a file PATH, not a rank, so it stays stable even when
  *    a COW rewrite removes already-consumed files of a
  *    partially-streamed snapshot from later manifests; restart
  *    mid-snapshot replays exactly-once.
  *
  * Scale notes: getOffset is one version-hint read (plus O(delta)
  * cached manifest reads under admission caps); getBatch plans from
  * manifests only (no listing), and a batch's input is exactly the
  * appended files — consumers never rescan history. Content-invariant
  * rewrites (compact/auto-compact/OPTIMIZE/apply-deletes) are SKIPPED
  * when everything they repacked was already consumed
  * ([[graft.lake.GraftTable.rewriteCarrySkips]], the dataChange=false
  * contract) — so a table that is both a streaming sink with
  * `write.auto-compact=true` AND a streaming source stays
  * exactly-once. Data-CHANGING rewrites (copy-on-write
  * delete/update) still surface rewritten files as additions, same
  * contract as [[graft.lake.GraftTable.readIncremental]];
  * pure-append workloads (the streaming case) see each row once.
  * Schema is pinned at stream start (streaming requires it); evolve
  * the table ⇒ restart the stream.
  *
  * Change-data feed: `readChangeFeed=true` appends a `_change_type`
  * column (a fresh name such as `_change_type1` when the table has a
  * column of that name, as in [[graft.lake.GraftTable.changelog]]) and
  * emits row-level `insert`/`delete` changes per
  * micro-batch instead of raw appends — see [[GraftSource.cdcBatch]]
  * for the commit-classification contract (`skipChangeCommits` streams
  * past copy-on-write rewrites, dropping their changes, like Delta).
  */
class GraftSourceProvider extends StreamSourceProvider {

  private def root(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires option 'path'"))

  private def flag(parameters: Map[String, String], key: String): Boolean =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v.toBoolean
    }.getOrElse(false)

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(
      new GraftTable(root(parameters), sqlContext.sparkSession).schema)
    ("graft",
      if (flag(parameters, "readChangeFeed"))
        base.add(GraftTable.changeTypeCol(base.fieldNames.toSeq),
          org.apache.spark.sql.types.StringType, nullable = false)
      else if (flag(parameters, "deletesAsRetractions"))
        base.add(GraftSource.RetractCol, org.apache.spark.sql.types.BooleanType,
          nullable = false)
      else base)
  }

  override def createSource(
      sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source = {
    val changeFeed = flag(parameters, "readChangeFeed")
    val retractions = flag(parameters, "deletesAsRetractions")
    require(!(changeFeed && retractions),
      "readChangeFeed and deletesAsRetractions are two shapes of the same " +
        "feed — pick one")
    val maxFiles = parameters.get("maxFilesPerTrigger").map(_.toLong)
    val maxBytes = parameters.get("maxBytesPerTrigger").map(_.toLong)
    val maxRows = parameters.get("maxRowsPerTrigger").map(_.toLong)
    require(!((changeFeed || retractions) &&
        (maxFiles.isDefined || maxBytes.isDefined || maxRows.isDefined)),
      "readChangeFeed/deletesAsRetractions emit whole-snapshot change sets; " +
        "maxFilesPerTrigger/maxBytesPerTrigger/maxRowsPerTrigger cannot " +
        "split a change commit — use maxSnapshotsPerTrigger for admission control")
    new GraftSource(sqlContext.sparkSession, root(parameters),
      parameters.get("maxSnapshotsPerTrigger").map(_.toLong),
      maxFiles, maxBytes, maxRows,
      changeFeed = changeFeed,
      skipChangeCommits = flag(parameters, "skipChangeCommits"),
      retractions = retractions)
  }
}

/** Sub-snapshot offset: everything through snapshot `id`, minus the
  * files ADDED BY `id` whose path sorts after `p`. Keying the cut on
  * the PATH (not a recomputed rank) keeps it stable when later commits
  * remove files of the partially-streamed snapshot. A legacy
  * checkpointed [[LongOffset]] deserializes as "all of id", so a
  * stream can turn file caps on or off across restarts.
  */
case class GraftFileOffset(id: Long, p: String) extends Offset {
  override def json: String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("id", id); node.put("p", p)
    mapper.writeValueAsString(node)
  }
}

class GraftSource(
    spark: SparkSession, root: String,
    maxSnapshotsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None,
    changeFeed: Boolean = false,
    skipChangeCommits: Boolean = false,
    retractions: Boolean = false) extends Source {

  private val table = new GraftTable(root, spark)

  /** The table schema pinned at stream start. */
  private val tableSchema = table.schema

  /** The change-kind column of the change feed: `_change_type`, or a
    * fresh name when the table has a column of that name — the same
    * name [[graft.lake.GraftTable.changelog]] gives it.
    */
  private val changeTypeCol = GraftTable.changeTypeCol(tableSchema.fieldNames.toSeq)

  override val schema: StructType =
    if (changeFeed)
      tableSchema.add(changeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false)
    else if (retractions)
      tableSchema.add(GraftSource.RetractCol,
        org.apache.spark.sql.types.BooleanType, nullable = false)
    else tableSchema

  // admission control: highest end offset handed out so far. Restart
  // recovery initializes it via the recovered-batch getBatch call
  // before the first new getOffset, so the cap is always relative to
  // real progress (the standard v1-Source rate-limit pattern).
  // (snapshot id, last consumed path within it — None = whole snapshot)
  @volatile private var lastEnd: (Long, Option[String]) = (0L, None)

  /** Latest committed snapshot id (one version-hint read), capped at
    * `maxSnapshotsPerTrigger` snapshots beyond the last batch — a
    * backlogged stream catches up in bounded micro-batches instead of
    * one batch containing the whole history's files — then capped
    * again at `maxFilesPerTrigger`/`maxBytesPerTrigger` files within
    * the admitted range.
    *
    * Snapshot ids are explicitly NON-DENSE (parked write-audit-publish
    * stages, abandoned stages, step-over commits all leave gaps), and a
    * staged-but-unpublished snapshot must never become an end offset
    * (its files are unaudited). So the cap counts ACTUAL ids on the
    * MAIN LINEAGE — the parent chain from current back to the last
    * batch — never `lastEnd + n` arithmetic, which can name an id that
    * does not exist (getBatch would crash) or one that was never
    * published. The walk reads O(delta) cached manifests per trigger.
    */
  override def getOffset: Option[Offset] = {
    val id = table.currentId
    if (id <= 0) return None
    val (startId, startP) = lastEnd
    val capped = maxSnapshotsPerTrigger match {
      case Some(n) if id > startId =>
        var lineage = List.empty[Long] // (startId, id] oldest-first
        var a = id
        var walking = true
        while (walking && a > startId && a >= 0) {
          // An intermediate snapshot expired while the stream was
          // backlogged is not an error: stop the walk there — the head
          // of `lineage` is then the oldest RETAINED id, and a batch
          // ending at it still carries the expired snapshots' files
          // (they live on in retained manifests with their original
          // addedBy stamps, all > startId).
          table.snapshotIfExists(a) match {
            case Some(s) => lineage = a :: lineage; a = s.parentId
            case None    => walking = false
          }
        }
        lineage.take(math.min(n, lineage.size.toLong).toInt)
          .lastOption.getOrElse(id)
      case _ => id
    }
    if (capped <= 0) return None
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty &&
        maxRowsPerTrigger.isEmpty)
      return Some(LongOffset(capped))
    // file/byte admission: rank the pending files (those past the last
    // offset, through `capped`) in (addedBy, path) order and take a
    // bounded prefix — always at least one file, or the stream stalls
    val endSnap = table.snapshot(capped)
    if (!endSnap.files.forall(_.addedBy > 0L)) // pre-addedBy manifests
      return Some(LongOffset(capped))          // can't rank: whole snapshots
    val pending = GraftSource.orderedFiles(endSnap.files)
      .filter { case (f, a) =>
        (a > startId || (a == startId && startP.exists(f.path > _))) && a <= capped
      }
    if (pending.isEmpty)
      return if (capped > startId) Some(LongOffset(capped))
             else Some(startP match {
               case None    => LongOffset(startId)
               case Some(p) => GraftFileOffset(startId, p)
             })
    val maxF = maxFilesPerTrigger.getOrElse(Long.MaxValue)
    val maxB = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    // rows cap is FILE-granular like Delta's: admit whole files until
    // the manifest row budget is reached (never a partial file), and
    // always at least one file or the stream stalls
    val maxR = maxRowsPerTrigger.getOrElse(Long.MaxValue)
    var nF = 0L; var nB = 0L; var nR = 0L; var cut = 0
    while (cut < pending.size &&
           (cut == 0 || (nF + 1 <= maxF && nB + pending(cut)._1.bytes <= maxB &&
                         nR + pending(cut)._1.rows <= maxR))) {
      nF += 1; nB += pending(cut)._1.bytes; nR += pending(cut)._1.rows; cut += 1
    }
    if (cut == pending.size) Some(LongOffset(capped))
    else {
      val (lastF, lastA) = pending(cut - 1)
      // a cut exactly between snapshots is a plain snapshot offset
      // (canonical form, so cap-on/cap-off streams share offset jsons);
      // only a true mid-snapshot cut needs the (id, path) form
      if (pending(cut)._2 > lastA) Some(LongOffset(lastA))
      else Some(GraftFileOffset(lastA, lastF.path))
    }
  }

  // offsets arrive as LongOffset/GraftFileOffset within a run and as
  // SerializedOffset (raw json) after a checkpoint restart
  private def parseOffset(o: Offset): (Long, Option[String]) = o match {
    case l: LongOffset      => (l.offset, None)
    case g: GraftFileOffset => (g.id, Some(g.p))
    case other =>
      val s = other.json.trim
      if (s.startsWith("{")) {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
        (node.get("id").asLong(), Some(node.get("p").asText()))
      } else (s.toLong, None)
  }

  /** A batch plans the files ADDED in `(start, end]` by filtering each
    * entry's `addedBy` stamp (and, under file caps, its path-rank
    * within the adding snapshot) — O(batch delta), no per-trigger
    * materialization of the start snapshot's whole file list (at 10⁷
    * table files the old set-difference rebuilt a 10⁷-entry set every
    * micro-batch). Exactly-once per FILE: a rollback that re-exposes
    * previously-deleted files does NOT re-emit them (their rows were
    * already delivered when first added). Manifests predating the
    * `addedBy` field (stamp 0) fall back to the set difference.
    */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val (endId, endP) = parseOffset(end)
    val newer = lastEnd._1 < endId ||
      (lastEnd._1 == endId && ((lastEnd._2, endP) match {
        case (Some(a), Some(b)) => a < b
        case (Some(_), None)    => true // whole snapshot supersedes a partial cut
        case _                  => false
      }))
    if (newer) lastEnd = (endId, endP)
    val (startId, startP) = start.map(parseOffset).getOrElse((0L, None))
    // a restart re-plans its last committed batch: retention may have
    // expired that batch's end snapshot meanwhile
    val endSnap = table.snapshotIfExists(endId).getOrElse(throw expired(startId, endId))
    if (changeFeed) return cdcBatch(startId, endId, endSnap)
    if (retractions) return retractionBatch(startId, endId, endSnap)
    // a file added by an in-window content-invariant rewrite (A92
    // auto-compaction, OPTIMIZE) whose repacked sources were all on
    // the consumed side of the start cut carries zero unseen rows —
    // skip it, or a table used as sink AND source re-emits every
    // packed row each time compaction fires (the dataChange=false
    // contract; rewriteCarrySkips never skips unseen content)
    lazy val startPaths =
      start.map(o => table.snapshot(parseOffset(o)._1).files.map(_.path).toSet)
        .getOrElse(Set.empty[String])
    val consumedAtStart: graft.lake.FileEntry => Boolean = f =>
      if (f.addedBy > 0L)
        f.addedBy < startId || (f.addedBy == startId && startP.forall(f.path <= _))
      else startPaths.contains(f.path) // pre-stamp manifests: membership
    val carry =
      if (start.isEmpty) Set.empty[String]
      else table.rewriteCarrySkips(startId, endId, consumedAtStart)
    val delta =
      if (endSnap.files.forall(_.addedBy > 0L))
        GraftSource.orderedFiles(endSnap.files).collect {
          case (f, a)
              if (a > startId || (a == startId && startP.exists(f.path > _))) &&
                 (a < endId || (a == endId && endP.forall(f.path <= _))) &&
                 !carry.contains(f.path) => f
        }
      else {
        val seen = start.map(o => table.snapshot(parseOffset(o)._1).files.map(_.path).toSet)
          .getOrElse(Set.empty[String])
        endSnap.files.filterNot(f => seen.contains(f.path) || carry.contains(f.path))
      }
    // a batch can span an append AND a later merge-on-read delete of
    // rows in the appended files — without the filter below those rows
    // stream out despite never having been logically visible at the end
    // offset. Only deletes committed AFTER the start offset can target
    // delta files (a delete's targets have addedBy <= the delete's own
    // stamp), so a long-pending old delete costs nothing per batch.
    val liveDels = endSnap.deleteFiles
      .filter(d => d.addedBy == 0L || d.addedBy > startId)
    // the delete lists are STATIC frames, so these are plain
    // stream-static anti-joins with no state; an append-only stream
    // never retracts earlier batches
    val scanSnap = endSnap.copy(files = delta, shards = Seq.empty)
    val rel = org.apache.spark.sql.graft.GraftFileIndex.relation(
      spark, root, scanSnap, isStreaming = true, withRowPos = liveDels.nonEmpty)
    if (liveDels.isEmpty) rel
    else table.hideDeleted(rel, scanSnap, liveDels).drop(
      org.apache.spark.sql.graft.GraftFileIndex.PosFileCol,
      org.apache.spark.sql.graft.GraftFileIndex.PosIdxCol)
  }

  // ---- change-data feed ---------------------------------------------

  private def withChangeType(df: DataFrame, t: String): DataFrame =
    df.withColumn(changeTypeCol, org.apache.spark.sql.functions.lit(t))

  /** `deletesAsRetractions=true`: the change feed re-shaped for
    * incremental-aggregate consumers — the table schema plus a boolean
    * `_graft_retract` column (false = the row was added in-window,
    * true = a merge-on-read delete/update removed this pre-window row,
    * subtract it). Downstream `foreachBatch` state updated with
    * add-on-false / remove-on-true converges to the batch table state
    * under MOR DML, which plain streaming (additions only) cannot do.
    * Same commit-classification contract as the change feed
    * ([[cdcBatch]]): COW rewrites refuse unless `skipChangeCommits`.
    */
  private def retractionBatch(startId: Long, endId: Long, endSnap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    cdcBatch(startId, endId, endSnap)
      .withColumn(GraftSource.RetractCol,
        col(changeTypeCol) === lit("delete"))
      .drop(changeTypeCol)
  }

  /** Row-level changes in `(startId, endId]` as `insert` / `delete`
    * rows (an update is its delete+insert pair, like the batch
    * [[graft.lake.GraftTable.changelog]] and Iceberg's changelog scan).
    * Commit classification, per snapshot in the window:
    *
    *  - additive (append / adopt / batch tags / any merge-on-read DML):
    *    its added files are inserts, its added delete entries
    *    (deletion vectors, equality deletes) are deletes of pre-window
    *    rows. Row-level reconstructible.
    *  - data-preserving rewrite (compact / optimize / apply-deletes /
    *    repartition-spec): bytes move, logical content doesn't —
    *    contributes NOTHING to the feed (emitting its rewritten files
    *    would re-insert the whole table).
    *  - data-CHANGING rewrite (copy-on-write DELETE/UPDATE/MERGE,
    *    overwrite, truncate, rollback): the removed rows are not
    *    row-level recoverable from the manifest — refuse, unless
    *    `skipChangeCommits` accepts dropping them (Delta's contract).
    *
    * Inserts and delete targets are planned from each committing
    * snapshot's OWN manifest, not the end snapshot's — an in-window
    * compaction that replaced those files in later manifests doesn't
    * lose them (the physical files live until expire). The deleted
    * pre-window rows come from [[graft.lake.GraftTable.windowVictims]],
    * the victim reconstruction the batch changelog shares: both rebuild
    * merge-on-read victims through that one path.
    */
  private def cdcBatch(startId: Long, endId: Long, endSnap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.GraftFileIndex
    import org.apache.spark.sql.graft.GraftFileIndex.{PosFileCol, PosIdxCol}
    // output order: the CONSTRUCTION-TIME table columns + the change
    // kind (the schema pinned at stream start, NOT the live
    // table.schema — a mid-stream ALTER TABLE must not change a running
    // stream's batch shape; retractionBatch re-shapes the change kind
    // to _graft_retract)
    val order = (tableSchema.fieldNames.toSeq :+ changeTypeCol).map(col)
    // hide rows a delete set kills (GraftTable.hideDeleted: the pos
    // columns stay, dropped once every delete flavor is applied);
    // `files` is the addedBy-stamp universe equality sequencing reads
    def applyDels(rel: DataFrame, files: Seq[graft.lake.FileEntry],
        dels: Seq[DeleteFileEntry]): DataFrame =
      table.hideDeleted(rel, endSnap.copy(files = files, shards = Seq.empty), dels)
    if (startId <= 0) {
      // initial load: the end snapshot's full logical content, as inserts
      val rel = GraftFileIndex.relation(spark, root, endSnap.copy(shards = Seq.empty),
        isStreaming = true, withRowPos = endSnap.deleteFiles.nonEmpty)
      val visible =
        if (endSnap.deleteFiles.isEmpty) rel
        else applyDels(rel, endSnap.files, endSnap.deleteFiles).drop(PosFileCol, PosIdxCol)
      return withChangeType(visible, "insert").select(order: _*)
    }
    // the end snapshot reads with its entries, so it must hold no
    // position entry; one a window commit added and a later window
    // conversion vectorized streams through the conversion's vectors
    GraftTable.refusePositionDeletes(endSnap.deleteFiles)
    val snaps = table.lineage(startId, endId).getOrElse(throw expired(startId, endId))
    def isRewrite(s: Snapshot): Boolean =
      s.deletedFiles > 0 || s.operation == "rollback"
    def refuse(s: Snapshot): Unit =
      if (!skipChangeCommits) throw new UnsupportedOperationException(
        s"snapshot ${s.id} ('${s.operation}') rewrites data in place; its " +
          "row-level changes cannot be reconstructed from the manifest. Run " +
          "DML in merge-on-read mode (write.delete.mode / write.update.mode / " +
          "write.merge.mode = merge-on-read, which writes deletion vectors) for a " +
          "streamable change feed, or set skipChangeCommits=true to stream " +
          "past it (its changes are then silently dropped).")
    snaps.find(s => isRewrite(s) && !GraftSource.DataPreservingOps.contains(s.operation))
      .foreach(refuse)
    val additive = snaps.filterNot(isRewrite)
    val insFiles = additive.flatMap(s => s.files.filter(_.addedBy == s.id))
      .groupBy(_.path).map(_._2.head).toSeq
    // in-window equality deletes, from the committing snapshot's own
    // manifest (robust to an in-window applyDeletes folding them away);
    // pre-addedBy manifests (stamp 0) fall back to the end-minus-start diff
    val winEq: Seq[DeleteFileEntry] = (
      if (snaps.exists(_.deleteFiles.exists(_.addedBy == 0L))) {
        val startDel = table.snapshotIfExists(startId).getOrElse(throw expired(startId, endId))
          .deleteFiles.map(_.path).toSet
        endSnap.deleteFiles.filterNot(d => startDel.contains(d.path))
      } else
        additive.flatMap(s => s.deleteFiles.filter(_.addedBy == s.id))
          .groupBy(_.path).map(_._2.head).toSeq
      ).filter(_.equalityCols.nonEmpty)
    // deletion vectors diff by BITMAP, not by entry path (a merge
    // commit rewrites a file's vector under a new path while the old
    // entry shrinks): the in-window victims are exactly dv(window) ∖
    // dv(start) per file (GraftTable.windowVictims). A file's window
    // bitmap is its newest in-window vector, taken like winDels from
    // the committing snapshot's own manifest: an in-window applyDeletes
    // that folds the vector away does not hide its victims.
    val winDv: Seq[DeleteFileEntry] = {
      val stamped = additive.flatMap(s => s.deleteFiles.filter(d => d.dv && d.addedBy == s.id))
      val newest = stamped.flatMap(d => d.targets.map(_ -> d))
        .groupMapReduce(_._1)(_._2)((a, b) => if (b.addedBy > a.addedBy) b else a)
      stamped.map(d => d.copy(targets = d.targets.filter(newest(_).path == d.path)))
        .filter(_.targets.nonEmpty)
    }
    val anyDels = winEq.nonEmpty || winDv.nonEmpty
    val insRel = GraftFileIndex.relation(spark, root,
      endSnap.copy(files = insFiles, shards = Seq.empty),
      isStreaming = true, withRowPos = anyDels)
    val inserts = applyDels(insRel, insFiles, winEq ++ winDv)
    val insTagged = withChangeType(
      if (!anyDels) inserts else inserts.drop(PosFileCol, PosIdxCol),
      "insert").select(order: _*)
    if (!anyDels) return insTagged
    // deletes of pre-window rows: the one victim reconstruction the
    // batch changelog uses (GraftTable.windowVictims), over every
    // pre-window file an in-window manifest lists. The start snapshot's
    // entries are the ones live there; when it has expired, the end
    // snapshot's entries that predate the window stand in, unless the
    // window wrote vectors: an in-window merge moves a file's whole
    // bitmap to its new entry, so the start bitmaps the diff needs are
    // gone and the window is refused.
    val startDels = table.startVectors(table.snapshotIfExists(startId).map(_.deleteFiles)
      .getOrElse {
        if (winDv.nonEmpty) throw expired(startId, endId)
        endSnap.deleteFiles.filter(d => d.addedBy != 0L && d.addedBy <= startId)
      }, snaps)
    // an in-window compaction that repacked only pre-window rows moves
    // them into a file stamped in the window: its rows are pre-window
    // too. A vector on any other file the window wrote (a repack that
    // mixed in window rows) cannot be split into pre-window victims
    val carried = table.rewriteCarrySkips(startId, endId, _.addedBy <= startId)
    val pre = snaps.flatMap(s => s.files.filter(f => f.addedBy <= startId || carried(f.path)))
      .groupBy(_.path).map(_._2.head).toSeq
    val known = (pre ++ insFiles).map(f => GraftTable.baseName(f.path)).toSet
    val unsplit = winDv.flatMap(_.targets).filterNot(known).toSet
    if (unsplit.nonEmpty) snaps.find(_.files.exists(f =>
        unsplit(GraftTable.baseName(f.path)))).foreach(refuse)
    table.windowVictims(endSnap, pre, startDels, winEq, winDv, isStreaming = true)
      .fold(insTagged)(d => insTagged.unionByName(withChangeType(d, "delete").select(order: _*)))
  }

  /** The window's history is gone: a snapshot it needs has expired. */
  private def expired(startId: Long, endId: Long) = new IllegalStateException(
    s"stream window ($startId, $endId] crosses a snapshot that has been " +
      "expired — the change history is gone. Retain snapshots at least as long as " +
      "stream downtime, or restart the stream.")

  override def stop(): Unit = ()

  override def toString: String = s"GraftSource[$root]"
}

object GraftSource {

  /** Retraction flag appended by `deletesAsRetractions=true` (false =
    * add the row, true = subtract this pre-window row).
    */
  val RetractCol = "_graft_retract"

  /** Operations that rewrite bytes but preserve logical content — a
    * change feed skips them wholesale (see [[GraftSource.cdcBatch]]).
    */
  private[streaming] val DataPreservingOps: Set[String] =
    graft.lake.GraftTable.ContentInvariantOps

  /** Manifest files in (addedBy, path) order — the stable total order
    * sub-snapshot offsets are defined over. Path cuts (unlike ranks)
    * survive removal of neighboring files by later COW rewrites.
    */
  private[streaming] def orderedFiles(
      files: Seq[graft.lake.FileEntry]): Seq[(graft.lake.FileEntry, Long)] =
    files.groupBy(_.addedBy).toSeq.sortBy(_._1).flatMap { case (a, fs) =>
      fs.sortBy(_.path).map(f => (f, a))
    }
}
