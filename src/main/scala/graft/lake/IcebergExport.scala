package graft.lake

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.types._

/** One-way Iceberg-format interop bridge (SURVEY.md §2.A69): export a
  * graft table's metadata as Iceberg-spec v2 table metadata — the
  * structure other engines' catalogs consume (reference embeds the
  * real Iceberg library for this role: utils/Transforms.scala:20,
  * table/SparkTableOperations.scala). Emitted under `<out>/metadata/`:
  *
  *  - `v1.metadata.json` — spec-v2 table metadata: format-version 2,
  *    deterministic table-uuid, field-id'd schema, partition-spec with
  *    source-id/field-id/transform (column dependencies map to Iceberg
  *    transforms: sbucket/bucket → bucket[n], truncate[n] → truncate[n],
  *    year/month/day/hour → the time transforms), snapshot list with
  *    sequence numbers + parent chain, snapshot-log, properties.
  *  - `snap-<id>.manifest-list.avro` per retained snapshot — REAL
  *    spec `manifest_file` Avro records ([[IcebergAvro]]): content
  *    kind (0 = data manifest, 1 = delete manifest), file/row counts,
  *    sequence numbers. `snapshots[].manifest-list` points here.
  *  - `manifest-<id>.avro` / `delete-manifest-<id>.avro` — spec
  *    `manifest_entry` Avro records: status (1 = added by this
  *    snapshot, 0 = existing), absolute `file_path`, `file_format`,
  *    typed partition struct, `record_count`, `file_size_in_bytes`,
  *    per-field lower/upper bounds (the spec's single-value BINARY
  *    serialization) and null counts keyed by Iceberg field id;
  *    equality-delete entries carry `equality_ids` (content kind
  *    2 = equality, 1 = position). Deletion vectors export as position
  *    deletes materialized under `<out>/deletes/` and import back as
  *    vectors.
  *  - `*.json` twins of every manifest list and manifest — the same
  *    logical entries with human-readable stat strings, for debugging
  *    (`snapshots[].graft-manifest-list-json` points at the twin
  *    chain); [[importMetadata]] reads either serialization.
  *
  * The Avro layer uses the Avro 1.12 already on Spark's classpath —
  * no Iceberg library dependency; schemas, field ids and the k/v-
  * record map encoding follow the spec's Avro appendix and are pinned
  * by IcebergExportSpec (no external Iceberg reader exists in this
  * sandbox to consume them end-to-end — documented, not hidden).
  */
object IcebergExport {

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  private[graft] def icebergType(dt: DataType): String = dt match {
    case LongType             => "long"
    case IntegerType          => "int"
    case ShortType            => "int"
    case ByteType             => "int"
    case StringType           => "string"
    case DoubleType           => "double"
    case FloatType            => "float"
    case BooleanType          => "boolean"
    case DateType             => "date"
    case TimestampType        => "timestamptz"
    case TimestampNTZType     => "timestamp"
    case BinaryType           => "binary"
    case d: DecimalType       => s"decimal(${d.precision}, ${d.scale})"
    case other                => other.simpleString
  }

  /** Iceberg-spec JSON value for a type: primitives serialize as the
    * spec's type STRING, lists as the spec's NESTED OBJECT
    * `{"type":"list","element-id":…,"element":…,"element-required":…}`
    * (a bare "list<x>" string is not spec JSON and no reader — ours
    * included — can parse it). `nextId` allocates the element field id
    * from the table's id space, so `last-column-id` covers it.
    */
  private[graft] def icebergTypeValue(dt: DataType, nextId: () => Int): Any = dt match {
    case ArrayType(et, containsNull) =>
      ListMap(
        "type" -> "list",
        "element-id" -> nextId(),
        "element" -> icebergTypeValue(et, nextId),
        "element-required" -> !containsNull)
    case other => icebergType(other)
  }

  private val BucketRe = """s?bucket\[(\d+)\]""".r
  private val TruncRe = """truncate\[(\d+)\]""".r

  private[graft] def icebergTransform(t: String): String = t match {
    case "identity"   => "identity"
    case BucketRe(n)  => s"bucket[$n]"
    case TruncRe(n)   => s"truncate[$n]"
    case "year" | "month" | "day" | "hour" => t
    case other        => other
  }

  /** Export the table's retained history as Iceberg-spec v2 metadata
    * under `outDir/metadata/`; returns the table-metadata file path.
    */
  def exportMetadata(t: GraftTable, outDir: String): String = {
    val conf = t.io.conf
    val metaDir = new HPath(new HPath(outDir), "metadata")
    val fs = metaDir.getFileSystem(conf)
    fs.mkdirs(metaDir)
    def write(name: String, value: Any): String = {
      val p = new HPath(metaDir, name)
      val out = fs.create(p, true)
      try out.write(mapper.writerWithDefaultPrettyPrinter.writeValueAsBytes(value))
      finally out.close()
      p.toString
    }

    val schema = t.schema
    val fieldIds: Map[String, Int] =
      schema.fields.zipWithIndex.map { case (f, i) => f.name -> (i + 1) }.toMap
    // Iceberg v2 manifests have no deletion-vector representation (DVs
    // are v3 puffin blobs): each (dv entry, targets) pair of the
    // retained history is written ONCE as a position-delete parquet of
    // its live `(file_name, row_index)` coordinates under
    // `outDir/deletes/`, and the delete manifests point there
    val dvExports = scala.collection.mutable.Map[(String, Seq[String]), DeleteFileEntry]()
    def exportable(d: DeleteFileEntry): DeleteFileEntry =
      if (!d.dv) d
      else dvExports.getOrElseUpdate((d.path, d.targets), {
        val dir = new HPath(new HPath(outDir), "deletes/" + java.util.UUID.nameUUIDFromBytes(
          (d.path +: d.targets).mkString("\n").getBytes("UTF-8")))
        t.dvDiffRows(Seq(d), Seq.empty)
          .coalesce(1).write.mode("overwrite").parquet(dir.toString)
        val part = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).head
        d.copy(path = fs.makeQualified(part.getPath).toString, bytes = part.getLen,
          targets = Seq.empty, dv = false)
      })
    val snaps = t.snapshots.sortBy(_.id)
      .map(s => s.copy(deleteFiles = s.deleteFiles.map(exportable)))
    val cur = t.current
    val qualifiedRoot = fs.makeQualified(new HPath(t.root)).toString

    val idToType: Map[Int, DataType] =
      schema.fields.map(f => fieldIds(f.name) -> f.dataType).toMap

    def statsOf(stats: Map[String, ColStat]): (Map[Int, String], Map[Int, String], Map[Int, Long]) = {
      val known = stats.filter { case (c, _) => fieldIds.contains(c) }
      (known.collect { case (c, st) if st.min != null => fieldIds(c) -> st.min },
        known.collect { case (c, st) if st.max != null => fieldIds(c) -> st.max },
        known.map { case (c, st) => fieldIds(c) -> st.nulls })
    }
    def js(m: Map[Int, _]): ListMap[String, Any] =
      ListMap(m.toSeq.sortBy(_._1).map { case (k, v) => k.toString -> (v: Any) }: _*)

    // one data manifest (+ optional delete manifest) per snapshot: a
    // flattened per-snapshot view; graft's own content-addressed shards
    // are the reuse layer, the export is the interchange layer. Each
    // manifest is written TWICE: the spec's real Avro object-container
    // file (what an external reader consumes — the manifest list
    // points here) and a JSON twin for debugging.
    //
    // addedBy==0 = "unknown — predates everything" (legacy manifests,
    // Snapshot.scala): exported as sequence 0, the conservative stamp,
    // so an imported equality delete (seq > 0) still applies to such
    // data files, and a delete file with addedBy==0 stays INERT
    // (nothing predates sequence 0) instead of applying to everything.
    // Entry status per the spec: 1 = ADDED by this snapshot,
    // 0 = EXISTING (carried over), 2 = DELETED — a file the parent
    // listed that this snapshot removed (COW rewrite, overwrite,
    // compaction, expire of a fold-back). Incremental consumers read
    // status-2 entries as the removal half of a snapshot diff; scans
    // skip them. DELETED entries record the REMOVING snapshot's id
    // with the file's original sequence number.
    def removedEntries(s: Snapshot, parent: Option[Snapshot]): Seq[IcebergAvro.DecodedEntry] =
      parent.toSeq.flatMap { p =>
        val live = s.files.map(_.path).toSet
        p.files.filterNot(f => live(f.path)).map { f =>
          IcebergAvro.DecodedEntry(
            status = 2,
            snapshotId = s.id,
            sequenceNumber = Some(f.addedBy),
            content = 0,
            filePath = GraftTable.resolveEntry(qualifiedRoot, f.path),
            fileFormat = "PARQUET",
            partition = f.partition,
            rows = f.rows, bytes = f.bytes,
            lower = Map.empty, upper = Map.empty, nulls = Map.empty,
            equalityIds = Seq.empty)
        }
      }
    def dataDecoded(s: Snapshot, parent: Option[Snapshot]): Seq[IcebergAvro.DecodedEntry] =
      s.files.map { f =>
        val (lo, hi, nulls) = statsOf(f.stats)
        IcebergAvro.DecodedEntry(
          status = if (f.addedBy == s.id) 1 else 0,
          snapshotId = if (f.addedBy > 0) f.addedBy else s.id,
          sequenceNumber = Some(f.addedBy),
          content = 0,
          filePath = GraftTable.resolveEntry(qualifiedRoot, f.path),
          fileFormat = "PARQUET",
          partition = f.partition,
          rows = f.rows, bytes = f.bytes,
          lower = lo, upper = hi, nulls = nulls,
          equalityIds = Seq.empty)
      } ++ removedEntries(s, parent)
    def delDecoded(s: Snapshot, parent: Option[Snapshot]): Seq[IcebergAvro.DecodedEntry] = {
      val liveDel = s.deleteFiles.map(_.path).toSet
      s.deleteFiles.map { d =>
        IcebergAvro.DecodedEntry(
          status = if (d.addedBy == s.id) 1 else 0,
          snapshotId = if (d.addedBy > 0) d.addedBy else s.id,
          sequenceNumber = Some(d.addedBy),
          content = if (d.equalityCols.nonEmpty) 2 else 1,
          filePath = GraftTable.resolveEntry(qualifiedRoot, d.path),
          fileFormat = "PARQUET",
          partition = Map.empty,
          rows = d.rows, bytes = d.bytes,
          lower = Map.empty, upper = Map.empty, nulls = Map.empty,
          equalityIds = d.equalityCols.flatMap(fieldIds.get))
      } ++ parent.toSeq.flatMap(p =>
        // delete files the parent carried that this snapshot dropped
        // (OPTIMIZE/applyDeletes fold-back, stale-entry pruning)
        p.deleteFiles.filterNot(d => liveDel(d.path)).map { d =>
          IcebergAvro.DecodedEntry(
            status = 2,
            snapshotId = s.id,
            sequenceNumber = Some(d.addedBy),
            content = if (d.equalityCols.nonEmpty) 2 else 1,
            filePath = GraftTable.resolveEntry(qualifiedRoot, d.path),
            fileFormat = "PARQUET",
            partition = Map.empty,
            rows = d.rows, bytes = d.bytes,
            lower = Map.empty, upper = Map.empty, nulls = Map.empty,
            equalityIds = d.equalityCols.flatMap(fieldIds.get))
        })
    }
    def entryJson(e: IcebergAvro.DecodedEntry): ListMap[String, Any] =
      ListMap(
        "status" -> e.status,
        "snapshot_id" -> e.snapshotId,
        "sequence_number" -> e.sequenceNumber.getOrElse(0L),
        "data_file" -> (ListMap(
          "content" -> e.content,
          "file_path" -> e.filePath,
          "file_format" -> e.fileFormat,
          "partition" -> e.partition,
          "record_count" -> e.rows,
          "file_size_in_bytes" -> e.bytes) ++
          (if (e.content == 0)
            ListMap[String, Any]("lower_bounds" -> js(e.lower),
              "upper_bounds" -> js(e.upper), "null_value_counts" -> js(e.nulls))
          else ListMap[String, Any]("equality_ids" -> e.equalityIds))))

    val schemaJson = mapper.writeValueAsString(ListMap(
      "type" -> "struct", "schema-id" -> 0, "fields" -> schema.fields.map(f =>
        ListMap("id" -> fieldIds(f.name), "name" -> f.name,
          "required" -> !f.nullable, "type" -> icebergType(f.dataType)))))

    // ---- partition-spec evolution (A40 → Iceberg's multi-spec model):
    // every DISTINCT (partition column, transform) list across the
    // retained history gets its own spec-id, in order of first
    // appearance; manifests are stamped with THEIR snapshot's spec id,
    // and default-spec-id names the current one. Partition field ids
    // follow Iceberg's evolution rule — the same (name, source,
    // transform) keeps its id across specs; new fields allocate the
    // next id from 1000.
    def specKeyOf(s: Snapshot): Seq[(String, String)] = {
      val byDest = s.deps.map(d => d.dest -> d).toMap
      s.partitionCols.map(p =>
        p -> byDest.get(p).map(_.transform).getOrElse("identity"))
    }
    val distinctSpecs: Seq[Seq[(String, String)]] =
      snaps.map(specKeyOf).distinct
    val specIdOfKey: Map[Seq[(String, String)], Int] =
      distinctSpecs.zipWithIndex.toMap
    def specIdOf(s: Snapshot): Int = specIdOfKey(specKeyOf(s))
    val partFieldId = scala.collection.mutable.LinkedHashMap[(String, String), Int]()
    distinctSpecs.flatten.foreach { k =>
      if (!partFieldId.contains(k)) partFieldId(k) = 1000 + partFieldId.size
    }

    // Avro partition struct: the snapshot's partition columns, typed by
    // the current schema (graft materializes the transform result as a
    // real column), with the evolution-stable spec field ids
    def partFieldsOf(s: Snapshot): Seq[(String, DataType, Int)] =
      specKeyOf(s).flatMap { case (p, tr) =>
        schema.fields.find(_.name == p).map(f => (p, f.dataType, partFieldId((p, tr)))) }

    // (snapshot id) -> (avro data path, avro data len, json data path,
    //                   optional same for deletes)
    val snapById = snaps.map(s => s.id -> s).toMap
    val manifestPaths = snaps.map { s =>
      val parent = snapById.get(s.parentId)
      val data = dataDecoded(s, parent)
      val dels = delDecoded(s, parent)
      val specJson = mapper.writeValueAsString(
        ListMap("spec-id" -> specIdOf(s), "fields" -> partFieldsOf(s).map { case (n, _, fid) =>
          ListMap("name" -> n, "field-id" -> fid) }))
      val dataJsonPath = write(s"manifest-${s.id}.json",
        ListMap("schema_id" -> 0, "partition_spec_id" -> specIdOf(s),
          "content" -> "data", "entries" -> data.map(entryJson)))
      val dataAvroPath = new HPath(metaDir, s"manifest-${s.id}.avro")
      val dataAvroLen = IcebergAvro.writeManifest(fs, dataAvroPath,
        partFieldsOf(s), idToType, "data", data, schemaJson, specJson,
        specId = specIdOf(s))
      val del =
        if (dels.isEmpty) None
        else {
          val jsonPath = write(s"delete-manifest-${s.id}.json",
            ListMap("schema_id" -> 0, "partition_spec_id" -> specIdOf(s),
              "content" -> "deletes", "entries" -> dels.map(entryJson)))
          val avroPath = new HPath(metaDir, s"delete-manifest-${s.id}.avro")
          val avroLen = IcebergAvro.writeManifest(fs, avroPath,
            Seq.empty, idToType, "deletes", dels, schemaJson, specJson,
            specId = specIdOf(s))
          Some((avroPath.toString, avroLen, jsonPath))
        }
      s.id -> (dataAvroPath.toString, dataAvroLen, dataJsonPath, del)
    }.toMap

    // manifest lists: the Avro list references the Avro manifests (the
    // spec chain an external reader walks); the JSON twin references
    // the JSON manifests, so each chain is self-consistent end to end
    val manifestLists = snaps.map { s =>
      val (dataAvro, dataAvroLen, dataJson, del) = manifestPaths(s.id)
      val parent = snapById.get(s.parentId)
      val removedData = parent.toSeq.flatMap { p =>
        val live = s.files.map(_.path).toSet
        p.files.filterNot(f => live(f.path))
      }
      val removedDels = parent.toSeq.flatMap { p =>
        val live = s.deleteFiles.map(_.path).toSet
        p.deleteFiles.filterNot(d => live(d.path))
      }
      val dataSeqs = s.files.map(_.addedBy) ++ removedData.map(_.addedBy)
      val delSeqs = s.deleteFiles.map(_.addedBy) ++ removedDels.map(_.addedBy)
      def mlJson(path: String, content: Int, added: Int, existing: Int,
          deleted: Int, addedRows: Long): ListMap[String, Any] =
        ListMap(
          "manifest_path" -> path,
          "manifest_length" -> fs.getFileStatus(new HPath(path)).getLen,
          "partition_spec_id" -> specIdOf(s),
          "content" -> content,
          "sequence_number" -> s.id,
          // counts mirror the per-entry status field exactly (legacy
          // addedBy==0 entries are status=existing in every snapshot;
          // deleted = parent files this snapshot removed, status 2)
          "added_files_count" -> added,
          "existing_files_count" -> existing,
          "deleted_files_count" -> deleted,
          "added_rows_count" -> addedRows)
      val addedData = s.files.count(_.addedBy == s.id)
      val addedDataRows = s.files.filter(_.addedBy == s.id).map(_.rows).sum
      // delete-manifest counts mirror entry statuses too: carried-over
      // delete files (addedBy != s.id, status 0) count as existing
      val addedDel = s.deleteFiles.count(_.addedBy == s.id)
      val addedDelRows = s.deleteFiles.filter(_.addedBy == s.id).map(_.rows).sum
      val jsonEntries =
        mlJson(dataJson, 0, addedData, s.files.size - addedData,
          removedData.size, addedDataRows) +:
        del.toSeq.map { case (_, _, jp) =>
          mlJson(jp, 1, addedDel, s.deleteFiles.size - addedDel,
            removedDels.size, addedDelRows) }
      write(s"snap-${s.id}.manifest-list.json", jsonEntries)

      val avroEntries =
        IcebergAvro.MlEntry(dataAvro, dataAvroLen, specIdOf(s), content = 0,
          sequenceNumber = s.id,
          minSequenceNumber = if (dataSeqs.isEmpty) s.id else dataSeqs.min,
          addedSnapshotId = s.id,
          addedFilesCount = addedData,
          existingFilesCount = s.files.size - addedData,
          deletedFilesCount = removedData.size,
          addedRowsCount = addedDataRows,
          existingRowsCount = s.files.filter(_.addedBy != s.id).map(_.rows).sum,
          deletedRowsCount = removedData.map(_.rows).sum) +:
        del.toSeq.map { case (ap, al, _) =>
          IcebergAvro.MlEntry(ap, al, specIdOf(s), content = 1,
            sequenceNumber = s.id,
            minSequenceNumber = if (delSeqs.isEmpty) s.id else delSeqs.min,
            addedSnapshotId = s.id,
            addedFilesCount = addedDel,
            existingFilesCount = s.deleteFiles.size - addedDel,
            deletedFilesCount = removedDels.size,
            addedRowsCount = addedDelRows,
            existingRowsCount = s.deleteFiles.filterNot(_.addedBy == s.id).map(_.rows).sum,
            deletedRowsCount = removedDels.map(_.rows).sum)
        }
      val avroListPath = new HPath(metaDir, s"snap-${s.id}.manifest-list.avro")
      IcebergAvro.writeManifestList(fs, avroListPath, s.id, s.parentId, s.id,
        avroEntries)
      s.id -> avroListPath.toString
    }.toMap

    // partition specs: one JSON spec per distinct historical layout
    // (see specIdOfKey above); dep destinations carry their transform
    // against the SOURCE field id (Iceberg's model — the derived
    // column is not a schema field there; graft materializes it, so it
    // appears in both places, documented). Dep source lookup uses the
    // LATEST snapshot carrying that spec (transforms are part of the
    // spec key, so any carrier agrees on them).
    val allSpecJsons = distinctSpecs.zipWithIndex.map { case (key, sid) =>
      val carrier = snaps.filter(s => specKeyOf(s) == key).last
      val depByDest = carrier.deps.map(d => d.dest -> d).toMap
      ListMap("spec-id" -> sid, "fields" -> key.map { case (p, _) =>
        val (srcCol, transform) = depByDest.get(p)
          .map(d => (d.src, icebergTransform(d.transform)))
          .getOrElse((p, "identity"))
        val graftTransform = depByDest.get(p).map(_.transform).getOrElse("identity")
        ListMap(
          "name" -> p,
          "transform" -> transform,
          "source-id" -> fieldIds.getOrElse(srcCol, fieldIds.getOrElse(p, 0)),
          "field-id" -> partFieldId((p, graftTransform)),
          // extra key (Iceberg readers ignore unknown fields): the
          // exact graft transform, so a round-trip import reconstructs
          // the same hash function — Iceberg's bucket hash is murmur3
          // over its own serialization, NOT interchangeable with
          // graft's
          "graft-transform" -> graftTransform)
      })
    }

    val sortCols: Seq[String] =
      cur.properties.getOrElse(GraftTable.SortColsProp, "")
        .split(",").map(_.trim).filter(c => c.nonEmpty && fieldIds.contains(c)).toSeq

    // nested-type element ids are allocated AFTER the column ids so
    // last-column-id covers every id in the schema (spec requirement)
    var lastColumnId = schema.fields.length
    val schemaFieldJsons = schema.fields.map { f =>
      ListMap(
        "id" -> fieldIds(f.name),
        "name" -> f.name,
        "required" -> !f.nullable,
        "type" -> icebergTypeValue(f.dataType, () => { lastColumnId += 1; lastColumnId }))
    }

    val metadata = ListMap(
      "format-version" -> 2,
      "table-uuid" -> java.util.UUID.nameUUIDFromBytes(
        qualifiedRoot.getBytes("UTF-8")).toString,
      "location" -> qualifiedRoot,
      "last-sequence-number" -> cur.id,
      "last-updated-ms" -> cur.tsMillis,
      "last-column-id" -> lastColumnId,
      "current-schema-id" -> 0,
      "schemas" -> Seq(ListMap(
        "type" -> "struct",
        "schema-id" -> 0,
        "fields" -> schemaFieldJsons)),
      "default-spec-id" -> specIdOf(cur),
      "partition-specs" -> allSpecJsons,
      "last-partition-id" -> (999 + partFieldId.size),
      // write.sort.columns (A60 sorted writes) maps to an Iceberg sort
      // order: identity transform, ascending, nulls-first (Spark's
      // sortWithinPartitions default) — order 0 stays the spec's
      // mandatory unsorted order
      "default-sort-order-id" -> (if (sortCols.isEmpty) 0 else 1),
      "sort-orders" -> (ListMap("order-id" -> 0, "fields" -> Seq.empty[String]) +:
        (if (sortCols.isEmpty) Seq.empty else Seq(ListMap(
          "order-id" -> 1,
          "fields" -> sortCols.map(c => ListMap(
            "transform" -> "identity",
            "source-id" -> fieldIds.getOrElse(c, 0),
            "direction" -> "asc",
            "null-order" -> "nulls-first")))))),
      "properties" -> cur.properties,
      "current-snapshot-id" -> cur.id,
      // spec-v2 refs: named branches/tags with their snapshot ids;
      // `main` is the current branch per the spec's convention
      // a user-created ref literally named "main" is dropped: the spec
      // requires refs.main.snapshot-id == current-snapshot-id, and the
      // synthesized main ref must win the merge
      "refs" -> (ListMap("main" ->
        ListMap("snapshot-id" -> cur.id, "type" -> "branch")) ++
        t.refEntries.toSeq.filterNot(_._1 == "main").sortBy(_._1)
          .map { case (n, (id, isBranch)) =>
            n -> ListMap("snapshot-id" -> id,
              "type" -> (if (isBranch) "branch" else "tag"))
          }),
      "snapshots" -> snaps.map(s => ListMap(
        "snapshot-id" -> s.id,
        "parent-snapshot-id" -> s.parentId,
        "sequence-number" -> s.id,
        "timestamp-ms" -> s.tsMillis,
        // summary carries the spec's standard metrics (engines surface
        // them in history UIs and use totals for planning hints); the
        // spec serializes every summary value as a string
        "summary" -> {
          val parent = snapById.get(s.parentId)
          val added = s.files.filter(_.addedBy == s.id)
          val removed = parent.toSeq.flatMap { p =>
            val live = s.files.map(_.path).toSet
            p.files.filterNot(f => live(f.path))
          }
          ListMap(
            "operation" -> (s.operation match {
              case "create" | "append" => "append"
              case op if op.startsWith("overwrite") => "overwrite"
              // spec v2 defines 'delete' as its own operation kind
              case "delete" | "merge-delete" => "delete"
              case "update" | "merge" => "overwrite"
              case _ => "replace"
            }),
            "graft-operation" -> s.operation,
            "added-data-files" -> added.size.toString,
            "deleted-data-files" -> removed.size.toString,
            "added-records" -> added.map(_.rows).sum.toString,
            "deleted-records" -> removed.map(_.rows).sum.toString,
            "total-records" -> s.totalRows.toString,
            "total-data-files" -> s.files.size.toString,
            "total-delete-files" -> s.deleteFiles.size.toString)
        },
        "manifest-list" -> manifestLists(s.id),
        // extra key (readers ignore unknown fields): the JSON debug
        // twin of the Avro manifest-list chain
        "graft-manifest-list-json" ->
          (manifestLists(s.id).stripSuffix(".avro") + ".json"),
        "schema-id" -> 0)),
      "snapshot-log" -> snaps.map(s => ListMap(
        "timestamp-ms" -> s.tsMillis, "snapshot-id" -> s.id)),
      "metadata-log" -> Seq.empty[String])

    // HadoopTables convention: version-hint.text names the current
    // metadata version so a reader finds v<N>.metadata.json without
    // listing the directory
    val hint = fs.create(new HPath(metaDir, "version-hint.text"), true)
    try hint.write("1".getBytes("UTF-8")) finally hint.close()

    write("v1.metadata.json", metadata)
  }

  private[graft] def sparkType(t: String): DataType = t match {
    case "long"        => LongType
    case "int"         => IntegerType
    case "string"      => StringType
    case "double"      => DoubleType
    case "float"       => FloatType
    case "boolean"     => BooleanType
    case "date"        => DateType
    case "timestamptz" => TimestampType
    case "timestamp"   => TimestampNTZType
    case "binary"      => BinaryType
    case DecRe(p, sc)  => DecimalType(p.toInt, sc.toInt)
    case other => throw new IllegalArgumentException(s"unsupported Iceberg type $other")
  }
  private val DecRe = """decimal\((\d+),\s*(\d+)\)""".r

  /** Parse an Iceberg-spec type VALUE: primitive type strings or the
    * nested list object [[icebergTypeValue]] emits.
    */
  private[graft] def sparkTypeNode(n: com.fasterxml.jackson.databind.JsonNode): DataType =
    if (n.isTextual) sparkType(n.asText())
    else if (n.isObject && n.get("type").asText() == "list")
      ArrayType(sparkTypeNode(n.get("element")),
        containsNull = !Option(n.get("element-required")).exists(_.asBoolean()))
    else throw new IllegalArgumentException(s"unsupported Iceberg type $n")

  /** The other direction of the bridge: IMPORT exported Iceberg-spec
    * metadata as a graft table at `destRoot` — zero bytes copied, the
    * imported snapshot references the exported table's data files by
    * absolute path (the same mechanics as a shallow clone, so
    * expire/vacuum on the import never touch the source bytes).
    *
    * Scope, stated honestly: the import consumes THIS bridge's JSON
    * serialization (a real Iceberg table's Avro manifests need the
    * Iceberg reader dependency — out of scope under zero-dep) and
    * materializes the CURRENT snapshot (graft snapshots are per-table
    * history; an imported table starts a fresh history, like
    * `CREATE TABLE … SHALLOW CLONE`). Dependency transforms round-trip
    * through the `graft-transform` spec extra; a foreign table
    * claiming Iceberg's own `bucket[n]` imports WITHOUT the dep
    * (Iceberg's bucket murmur3 is not graft's hash — claiming it
    * would prune the wrong files; identity partition pruning over the
    * imported per-file partition values still works). Position deletes
    * import as deletion vectors, equality deletes as themselves.
    */
  def importMetadata(spark: org.apache.spark.sql.SparkSession,
      metadataPath: String, destRoot: String): GraftTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    def parse(p: String) = {
      val hp = new HPath(p)
      val fs = hp.getFileSystem(conf)
      val len = fs.getFileStatus(hp).getLen.toInt
      val in = fs.open(hp)
      try { val buf = new Array[Byte](len); in.readFully(0, buf); mapper.readTree(buf) }
      finally in.close()
    }
    import scala.jdk.CollectionConverters._
    val md = parse(metadataPath)
    require(md.get("format-version").asInt() == 2,
      s"unsupported format-version ${md.get("format-version")}")
    val fieldNodes = md.get("schemas").get(0).get("fields").elements().asScala.toSeq
    val idToName = fieldNodes.map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val schema = StructType(fieldNodes.map(f =>
      StructField(f.get("name").asText(), sparkTypeNode(f.get("type")),
        nullable = !f.get("required").asBoolean())))

    // the DEFAULT spec (multi-spec tables list every historical layout;
    // the import materializes the current snapshot, which writes under
    // the default spec)
    val defaultSpecId = Option(md.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    val specNode = md.get("partition-specs").elements().asScala
      .find(_.get("spec-id").asInt() == defaultSpecId)
      .getOrElse(throw new IllegalArgumentException(
        s"default-spec-id $defaultSpecId absent from partition-specs"))
    val specFields = specNode.get("fields").elements().asScala.toSeq
    val partitionCols = specFields.map(_.get("name").asText())
    val deps = specFields.flatMap { sf =>
      val name = sf.get("name").asText()
      val src = idToName.getOrElse(sf.get("source-id").asInt(), name)
      val gt = Option(sf.get("graft-transform")).map(_.asText())
      gt match {
        case Some(t) if t != "identity" => Some(DepSpec(src, name, t))
        case Some(_) => None
        case None => None // foreign metadata: no graft hash claim (see scaladoc)
      }
    }

    def statType(c: String): Option[String] = schema.fields.find(_.name == c).map(_.dataType match {
      case LongType | IntegerType | ShortType | ByteType => "long"
      case DoubleType | FloatType                        => "double"
      case StringType                                    => "string"
      case _                                             => ""
    }).filter(_.nonEmpty)

    val curId = md.get("current-snapshot-id").asLong()
    val snapNode = md.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == curId)
      .getOrElse(throw new IllegalArgumentException(s"current snapshot $curId absent"))
    // the manifest chain is format-branched: a `.avro` manifest list is
    // the spec's real serialization (read via [[IcebergAvro]], binary
    // bounds decoded by field type); anything else is this bridge's
    // JSON twin. Both decode to the same [[IcebergAvro.DecodedEntry]].
    val mlPath = snapNode.get("manifest-list").asText()
    val idToType: Map[Int, DataType] =
      fieldNodes.map(f => f.get("id").asInt() -> sparkTypeNode(f.get("type"))).toMap
    def decodeJsonEntry(e: com.fasterxml.jackson.databind.JsonNode): IcebergAvro.DecodedEntry = {
      val df = e.get("data_file")
      def intKeyed[T](name: String)(conv: com.fasterxml.jackson.databind.JsonNode => T): Map[Int, T] =
        Option(df.get(name)).map(n =>
          n.fieldNames().asScala.map(k => k.toInt -> conv(n.get(k))).toMap)
          .getOrElse(Map.empty)
      IcebergAvro.DecodedEntry(
        status = Option(e.get("status")).map(_.asInt()).getOrElse(1),
        snapshotId = Option(e.get("snapshot_id")).map(_.asLong()).getOrElse(0L),
        sequenceNumber = Option(e.get("sequence_number")).map(_.asLong()),
        content = Option(df.get("content")).map(_.asInt()).getOrElse(0),
        filePath = df.get("file_path").asText(),
        fileFormat = Option(df.get("file_format")).map(_.asText()).getOrElse("PARQUET"),
        partition = Option(df.get("partition")).map(p =>
          p.fieldNames().asScala.map(k => k -> p.get(k).asText()).toMap)
          .getOrElse(Map.empty),
        rows = df.get("record_count").asLong(),
        bytes = Option(df.get("file_size_in_bytes")).map(_.asLong()).getOrElse(0L),
        lower = intKeyed("lower_bounds")(_.asText()),
        upper = intKeyed("upper_bounds")(_.asText()),
        nulls = intKeyed("null_value_counts")(_.asLong()),
        equalityIds = Option(df.get("equality_ids")).map(_.elements().asScala
          .map(_.asInt()).toSeq).getOrElse(Seq.empty))
    }
    // an entry without a sequence number inherits its manifest's (the
    // spec's rule for ADDED entries); stamping curId instead would put
    // a foreign equality delete on the sequence of the data it kills
    def inherit(seq: Long)(e: IcebergAvro.DecodedEntry): IcebergAvro.DecodedEntry =
      if (e.sequenceNumber.isDefined) e else e.copy(sequenceNumber = Some(seq))
    val (dataEntries, delEntries): (Seq[IcebergAvro.DecodedEntry], Seq[IcebergAvro.DecodedEntry]) =
      if (mlPath.endsWith(".avro")) {
        val hp = new HPath(mlPath)
        val mfs = hp.getFileSystem(conf)
        val ml = IcebergAvro.readManifestList(mfs, hp)
        // status 2 = DELETED by this snapshot (the removal half of an
        // incremental diff) — never part of the live file set
        def rd(kind: Int) = ml.filter(_.content == kind).flatMap(m =>
          IcebergAvro.readManifest(mfs, new HPath(m.manifestPath), idToType)
            .map(inherit(m.sequenceNumber)))
          .filter(_.status != 2)
        (rd(0), rd(1))
      } else {
        val mlist = parse(mlPath).elements().asScala.toSeq
        def rd(kind: Int) = mlist.filter(_.get("content").asInt() == kind)
          .flatMap(m => parse(m.get("manifest_path").asText())
            .get("entries").elements().asScala.toSeq
            .map(decodeJsonEntry)
            .map(inherit(Option(m.get("sequence_number")).map(_.asLong()).getOrElse(curId))))
          .filter(_.status != 2)
        (rd(0), rd(1))
      }

    val files = dataEntries.map { e =>
      val stats = e.lower.flatMap { case (fid, mn) =>
        val cName = idToName.getOrElse(fid, "")
        statType(cName).map(tpe =>
          cName -> ColStat(tpe, mn, e.upper.get(fid).orNull,
            e.nulls.getOrElse(fid, 0L)))
      }
      FileEntry(
        path = e.filePath, // absolute — never owned
        partition = e.partition,
        rows = e.rows,
        bytes = e.bytes,
        stats = stats,
        // PER-ENTRY sequence, not curId: equality deletes apply only to
        // files with addedBy < the delete's — a uniform stamp would make
        // every imported equality delete inert (commit-time pruning
        // drops a delete nothing predates) and resurrect its victims
        addedBy = e.sequenceNumber.get)
    }
    // Spec evolution guard: graft attaches partition values from the
    // manifest for every column of the CURRENT (default) spec, so a
    // live file written under an OLDER spec — whose partition tuple
    // lacks those fields — would scan with fabricated nulls (wrong
    // answers, not an error). Refuse loudly at import time; the remedy
    // is a compaction/rewrite to the current spec in the source engine.
    files.find(f => !partitionCols.forall(f.partition.contains)).foreach { f =>
      throw new IllegalArgumentException(
        s"import: data file ${f.path} was written under a different " +
          s"partition spec — its partition values ${f.partition.keySet} " +
          s"do not cover the default spec's columns " +
          s"${partitionCols.mkString("[", ", ", "]")}; rewrite the file " +
          "to the current spec in the source engine before importing")
    }

    val (eqEntries, posEntries) = delEntries.partition(_.content == 2)
    val eqDels = eqEntries.map { e =>
      DeleteFileEntry(
        path = e.filePath,
        rows = e.rows,
        addedBy = e.sequenceNumber.get,
        bytes = e.bytes,
        equalityCols = e.equalityIds.map(idToName.getOrElse(_, "")).filter(_.nonEmpty))
    }
    // position deletes become deletion vectors inside the import's own
    // commit — the read path knows vectors and equality deletes only.
    // Their coordinates read in the spec's (file_path, pos) layout or
    // this bridge's export layout; those naming a file outside the
    // imported snapshot are dropped
    val dest = GraftTable.wiped(spark, destRoot)
    val dvDels =
      if (posEntries.isEmpty) Seq.empty
      else dest.positionsToDv(posEntries.map(_.filePath), files, curId, Seq.empty)

    // keep the SOURCE snapshot id (like cloneTo) so inherited addedBy /
    // equality-delete sequencing survives the import
    val t = dest.commitCreate(curId, "iceberg-import",
      schema.json, partitionCols, deps, files, addedFiles = 0, eqDels ++ dvDels,
      Option(md.get("properties")).map(p =>
        p.fieldNames().asScala.map(k => k -> p.get(k).asText()).toMap)
        .getOrElse(Map.empty) +
        ("import.source" -> metadataPath))
    // named refs: re-create the ones that resolve against the imported
    // snapshot (the import starts a fresh single-snapshot history, so
    // refs at other snapshots have nothing to point at — skipped, like
    // a shallow clone's fresh ref namespace)
    Option(md.get("refs")).foreach { refs =>
      refs.fieldNames().asScala.filterNot(_ == "main").foreach { n =>
        val r = refs.get(n)
        if (r.get("snapshot-id").asLong() == curId) {
          if (r.get("type").asText() == "tag") t.tag(n, curId)
          else t.branch(n, curId)
          ()
        }
      }
    }
    t
  }
}
