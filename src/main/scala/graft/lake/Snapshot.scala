package graft.lake

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

/** Snapshot / manifest model for a graft-managed table — the
  * Iceberg-equivalent control plane re-expressed natively (reference:
  * src/main/scala/org/apache/spark/sql/iceberg/IcebergTableScan.scala
  * and utils/TableUtils.scala drive scans off Iceberg snapshots +
  * manifests; here the manifest is a single JSON document per
  * snapshot).
  *
  * Planning cost is O(#files-in-metadata): a scan never lists the
  * filesystem, it reads one version pointer + one manifest. Above
  * [[GraftTable.ShardFilesThreshold]] files the manifest externalizes
  * its file list into content-addressed per-partition shards
  * ([[ShardRef]]) — commit I/O and reader re-parsing then scale with
  * the changed partitions, not the table, which is Iceberg's
  * manifest-list / manifest-reuse model at 100 TB.
  */

/** Per-file, per-column min/max/null stats harvested from the parquet
  * footer at commit time (reference: utils/ParquetMetrics.scala does
  * the same via Iceberg's Metrics). Values are serialized as strings,
  * tagged with a type ("long" | "double" | "string") so pruning can
  * compare them without the schema in hand.
  */
final case class ColStat(tpe: String, min: String, max: String, nulls: Long)

/** One data file registered in a snapshot. `path` is relative to the
  * table root; `partition` maps partition-column name → string value
  * exactly as spelled in the hive-style directory. `addedBy` is the id
  * of the snapshot that first committed the file (stamped at stage
  * time): incremental/streaming readers plan a `(start, end]` delta by
  * filtering it — O(delta), no whole-file-list diffs. Manifests written
  * before the field existed deserialize it as 0 = unknown (readers
  * fall back to set difference).
  */
final case class FileEntry(
    path: String,
    partition: Map[String, String],
    rows: Long,
    bytes: Long,
    stats: Map[String, ColStat],
    addedBy: Long = 0L)

/** One pending merge-on-read delete entry registered in a snapshot:
  * rows it names are logically deleted from the data files still
  * listed in `Snapshot.files`. `path` is relative to the table root
  * (under `deletes/`) or absolute (imports). `OPTIMIZE`/
  * [[GraftTable.applyDeletes]] folds entries back into rewritten data
  * files. The Iceberg delete-file model re-expressed (the reference is
  * copy-on-write only — this extends parity for the
  * point-delete-at-100 TB case, where rewriting every touched data
  * file is crippling write amplification). `bytes` (file length,
  * recorded at write time) sizes the read-side broadcast decision;
  * manifests from before the field deserialize it as 0 = unknown
  * (readers estimate from `rows`).
  *
  * Three flavors:
  *  - DELETION VECTOR (`dv`): what every merge-on-read coordinate
  *    delete writes (DELETE, UPDATE, position-kind MERGE). `path` is a
  *    parquet of `(file_name, dv binary, rows)` — ONE merged GraftDv
  *    bitmap per covered data file. `targets` is the COMPLETE covered
  *    basename set (the merge invariant: each data file's current
  *    bitmap lives in exactly one dv entry) and `rows` the exact summed
  *    cardinality, so N delete commits against a file cost the reader
  *    ONE bitmap probe, not N anti-joins.
  *  - EQUALITY (`equalityCols` = the key column names; the parquet
  *    holds those columns): kills every row whose key matches in data
  *    files committed BEFORE this delete (`FileEntry.addedBy <
  *    this.addedBy`) — which is what lets a keyed MERGE/DELETE write
  *    O(source) with ZERO target scan, while the post-images it
  *    appends in the same commit (equal `addedBy`) survive.
  *  - POSITION (neither): `(file_name, row_index)` pairs naming exact
  *    coordinates, found only in tables written before vectors existed.
  *    No read path applies them: reading a snapshot that holds one
  *    raises an error naming `CALL system.rewrite_position_delete_files`,
  *    whose [[GraftTable.convertDeletesToDv]] migrates them to vectors.
  *    Iceberg imports convert theirs to vectors on import.
  *
  * When a copy-on-write rewrite later removes every recorded target
  * of a dv (or position) entry, the entry is provably stale and commits
  * prune it ([[GraftTable]] stage), keeping `deletedRows` (catalog
  * rowCount, `$deletes`) exact.
  */
final case class DeleteFileEntry(
    path: String, rows: Long, addedBy: Long = 0L, bytes: Long = 0L,
    equalityCols: Seq[String] = Seq.empty, targets: Seq[String] = Seq.empty,
    dv: Boolean = false)

/** A column dependency `src → dest : transform` (reference:
  * utils/Transforms.scala:30; Config.scala:77 COLUMN_DEPENDENCIES option). Declares
  * dest = transform(src) so predicates on src can be rewritten into
  * partition predicates on dest at scan time.
  */
final case class DepSpec(src: String, dest: String, transform: String)

/** Reference to a content-addressed manifest shard (one shard per
  * partition value): `path` is relative to the meta dir and embeds the
  * SHA-1 of the shard body, so a partition whose file set did not
  * change between snapshots serializes to the SAME shard file and the
  * new manifest just re-points at it — commit I/O and manifest churn
  * scale with the DELTA, not the table (Iceberg's manifest-reuse
  * model). Shards are immutable; parsed bodies are cached process-wide
  * by path, so loading snapshot N+1 after N parses only the shards
  * that actually changed.
  */
final case class ShardRef(path: String, nFiles: Long)

/** On-disk body of one manifest shard. */
final case class ShardManifest(files: Seq[FileEntry])

final case class Snapshot(
    id: Long,
    parentId: Long, // -1 = none (plain Long: jackson-scala erases Option[Long] to boxed Int)
    tsMillis: Long,
    operation: String, // one of GraftTable.StandardOps, or an appendBatch batch tag
    schemaJson: String,
    partitionCols: Seq[String],
    deps: Seq[DepSpec],
    files: Seq[FileEntry],
    addedFiles: Int,
    deletedFiles: Int,
    // non-empty ⇔ `files` was externalized into content-addressed
    // shards on disk; the loader re-inlines them (see GraftTable)
    shards: Seq[ShardRef] = Seq.empty,
    // table properties (TBLPROPERTIES equivalent); carried forward by
    // every commit, since each builds its snapshot as the successor of
    // the one it read (GraftTable.successor)
    properties: Map[String, String] = Map.empty,
    // pending merge-on-read deletes; empty once OPTIMIZE /
    // applyDeletes folds them into rewritten data files
    deleteFiles: Seq[DeleteFileEntry] = Seq.empty) {
  // NOTE: counts rows as written — pending MOR deletes are not
  // subtracted here (use deletedRows for the logical count)
  def totalRows: Long = files.map(_.rows).sum
  def deletedRows: Long = deleteFiles.map(_.rows).sum
}

object SnapshotCodec {
  private val mapper: ObjectMapper with ClassTagExtensions = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def toJson(s: Snapshot): String = mapper.writerWithDefaultPrettyPrinter.writeValueAsString(s)
  def fromJson(json: String): Snapshot = {
    val s0 = mapper.readValue[Snapshot](json)
    // jackson-scala does not apply Scala default args: manifests
    // written before a field existed deserialize it as null
    val s1 = if (s0.shards == null) s0.copy(shards = Seq.empty) else s0
    val s2 = if (s1.properties == null) s1.copy(properties = Map.empty) else s1
    val s3 = if (s2.deleteFiles == null) s2.copy(deleteFiles = Seq.empty) else s2
    if (s3.deleteFiles.exists(d => d.equalityCols == null || d.targets == null))
      s3.copy(deleteFiles = s3.deleteFiles.map { d =>
        val d1 = if (d.equalityCols == null) d.copy(equalityCols = Seq.empty) else d
        if (d1.targets == null) d1.copy(targets = Seq.empty) else d1
      })
    else s3
  }
  def shardToBytes(m: ShardManifest): Array[Byte] = mapper.writeValueAsBytes(m)
  def shardFromBytes(b: Array[Byte]): ShardManifest = mapper.readValue[ShardManifest](b)
}
