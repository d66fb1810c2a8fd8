package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.lake.{DepSpec, GraftTable, IcebergAvro, IcebergExport}

/** Structural validation of the Iceberg-spec v2 metadata export (A69).
  * No external Iceberg reader exists in this sandbox (zero-dep
  * constraint), so the spec validates what a reader needs: field-id'd
  * schema, transform-mapped partition spec, sequence-numbered snapshot
  * chain, REAL Avro manifest-list/manifest files (spec field ids,
  * binary single-value bounds) whose counts reconcile with the graft
  * manifest, existing absolute file paths, and delete-file content
  * kinds with equality ids — plus JSON debug twins that decode to the
  * same entries.
  */
class IcebergExportSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def parse(path: String): JsonNode =
    mapper.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path.stripPrefix("file:"))))

  private def hfs(p: String) =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def idToTypeOf(md: JsonNode): Map[Int, org.apache.spark.sql.types.DataType] = {
    import scala.jdk.CollectionConverters._
    md.get("schemas").get(0).get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> IcebergExport.sparkTypeNode(f.get("type")))
      .toMap
  }

  test("export emits spec-v2 metadata that reconciles with the graft manifest") {
    val o = Tables.orders(spark, sfDir).limit(2000)
    val root = "/root/repo/target/laketest/iceexport"
    val t = GraftTable.create(spark, root,
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus", "ok_b"),
      Seq(DepSpec("o_orderkey", "ok_b", "bucket[4]")))
    t.append(o.limit(100).repartition(col("o_orderstatus")))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .head().getLong(0)
    t.delete(col("o_orderkey") === victim)

    val metaPath = IcebergExport.exportMetadata(t, root + "-ice")
    val md = parse(metaPath)

    // table metadata shape
    assert(md.get("format-version").asInt() === 2)
    assert(md.get("current-snapshot-id").asLong() === t.currentId)
    assert(md.get("last-sequence-number").asLong() === t.currentId)
    // deterministic uuid: re-export reproduces it
    assert(md.get("table-uuid").asText() ===
      parse(IcebergExport.exportMetadata(t, root + "-ice2")).get("table-uuid").asText())

    // schema: unique contiguous field ids, every graft column present
    import scala.jdk.CollectionConverters._
    val fields = md.get("schemas").get(0).get("fields").elements().asScala.toSeq
    val ids = fields.map(_.get("id").asInt())
    assert(ids.sorted === (1 to t.schema.fields.length))
    assert(fields.map(_.get("name").asText()).toSet === t.schema.fieldNames.toSet)
    val byName = fields.map(f => f.get("name").asText() -> f).toMap
    assert(byName("o_orderkey").get("type").asText() === "long")
    assert(byName("o_orderstatus").get("type").asText() === "string")

    // partition spec: identity on the real column, bucket[4] against
    // the dependency SOURCE's field id, spec field-ids from 1000
    val spec = md.get("partition-specs").get(0).get("fields").elements().asScala.toSeq
    assert(spec.map(_.get("name").asText()) === Seq("o_orderstatus", "ok_b"))
    val bucketField = spec.find(_.get("name").asText() == "ok_b").get
    assert(bucketField.get("transform").asText() === "bucket[4]")
    assert(bucketField.get("source-id").asInt() ===
      byName("o_orderkey").get("id").asInt())
    assert(spec.map(_.get("field-id").asInt()) === Seq(1000, 1001))

    // snapshot chain: ids, parents, sequence numbers
    val snaps = md.get("snapshots").elements().asScala.toSeq
    assert(snaps.map(_.get("snapshot-id").asLong()) === t.snapshotIds)
    snaps.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b.get("parent-snapshot-id").asLong() === a.get("snapshot-id").asLong())
      case _ =>
    }

    // current snapshot's manifest list (REAL AVRO — the chain an
    // external reader walks) reconciles with the manifest
    val curSnap = snaps.last
    val mlPath = curSnap.get("manifest-list").asText()
    assert(mlPath.endsWith(".avro"), "manifest-list must be the Avro chain")
    val fs = hfs(mlPath)
    val mlist = IcebergAvro.readManifestList(fs, new HPath(mlPath))
    val dataEntry = mlist.find(_.content == 0).get
    val delEntry = mlist.find(_.content == 1).get
    assert(delEntry.addedRowsCount === t.current.deletedRows)
    assert(dataEntry.manifestLength ===
      fs.getFileStatus(new HPath(dataEntry.manifestPath)).getLen)
    val idToType = idToTypeOf(md)
    val entries = IcebergAvro.readManifest(fs, new HPath(dataEntry.manifestPath), idToType)
    assert(entries.size === t.current.files.size)
    assert(entries.map(_.rows).sum === t.current.totalRows)
    // every referenced data file exists at its absolute path
    entries.foreach { e =>
      val p = e.filePath
      assert(p.contains(":/") || p.startsWith("/"), s"not absolute: $p")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        p.stripPrefix("file:"))), s"missing $p")
      // partition values carried per file
      assert(e.partition.contains("o_orderstatus"))
      // field-id-keyed stats present for the stats-bearing columns
      assert(e.lower.nonEmpty)
    }
    // delete manifest: position content kind, real file, row count
    val dels = IcebergAvro.readManifest(fs, new HPath(delEntry.manifestPath), idToType)
    assert(dels.size === t.current.deleteFiles.size)
    assert(dels.forall(_.content === 1))
    assert(dels.map(_.rows).sum === t.current.deletedRows)
    // the JSON debug twin decodes to the same file set
    val jl = parse(curSnap.get("graft-manifest-list-json").asText())
      .elements().asScala.toSeq
    val jsonManifest = parse(jl.find(_.get("content").asInt() == 0).get
      .get("manifest_path").asText())
    val jsonEntries = jsonManifest.get("entries").elements().asScala.toSeq
    assert(jsonEntries.map(_.get("data_file").get("file_path").asText()).toSet ===
      entries.map(_.filePath).toSet)
    assert(jsonEntries.map(_.get("data_file").get("record_count").asLong()).sum ===
      entries.map(_.rows).sum)
  }

  test("round-trip: import of exported metadata reads identically, zero bytes copied") {
    val o = Tables.orders(spark, sfDir).limit(3000)
    val root = "/root/repo/target/laketest/iceroundtrip"
    val t = GraftTable.create(spark, root,
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .head().getLong(0)
    t.delete(col("o_orderkey") === victim) // pending MOR delete must survive
    t.tag("audited", t.currentId).tag("old", 1L)
    val metaPath = IcebergExport.exportMetadata(t, root + "-ice")
    // refs export: main + both tags with their snapshot ids
    val refs = parse(metaPath).get("refs")
    assert(refs.get("main").get("type").asText() === "branch")
    assert(refs.get("audited").get("snapshot-id").asLong() === t.currentId)
    assert(refs.get("old").get("snapshot-id").asLong() === 1L)

    val imp = IcebergExport.importMetadata(spark, metaPath, root + "-imported")
    // a ref at the imported snapshot re-materializes; one at an absent
    // snapshot is skipped (fresh single-snapshot history)
    assert(imp.refId("audited").contains(imp.currentId))
    assert(imp.refId("old").isEmpty)
    // multiset equality both ways, MOR delete applied on read
    assert(imp.read().exceptAll(t.read()).count() === 0)
    assert(t.read().exceptAll(imp.read()).count() === 0)
    assert(imp.read().filter(col("o_orderkey") === victim).count() === 0)
    // zero-copy: every imported entry is absolute (source-owned)
    assert(imp.current.files.forall(f => GraftTable.isAbsoluteEntry(f.path)))
    // identity partition pruning works over imported partition values
    val (pruned, total, _) = imp.pruneFiles(col("o_orderstatus") === "F")
    assert(pruned.nonEmpty && pruned.size < total)
    // the import's own expire never touches source bytes
    imp.expire(keepFrom = imp.currentId + 1)
    assert(t.read().count() > 0, "source intact after import-side expire")
  }

  test("equality-delete export carries equality_ids; transforms map per spec") {
    import spark.implicits._
    val base = (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v")
    val root = "/root/repo/target/laketest/iceexport-eq"
    val t = GraftTable.create(spark, root, base.repartition(2))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    t.merge((1L to 3L).map(k => (k, "nv")).toDF("k", "v"), Seq("k"))
    assert(t.current.deleteFiles.exists(_.equalityCols.nonEmpty))

    val md = parse(IcebergExport.exportMetadata(t, root + "-ice"))
    import scala.jdk.CollectionConverters._
    val curSnap = md.get("snapshots").elements().asScala.toSeq.last
    val mlPath = curSnap.get("manifest-list").asText()
    val fs = hfs(mlPath)
    val mlist = IcebergAvro.readManifestList(fs, new HPath(mlPath))
    val eqEntries = IcebergAvro.readManifest(fs,
      new HPath(mlist.find(_.content == 1).get.manifestPath), idToTypeOf(md))
      .filter(_.content == 2)
    assert(eqEntries.nonEmpty, "equality deletes must export as content=2")
    // equality_ids name the key column's schema field id
    val kId = md.get("schemas").get(0).get("fields").elements().asScala
      .find(_.get("name").asText() == "k").get.get("id").asInt()
    eqEntries.foreach(e => assert(e.equalityIds === Seq(kId)))

    // EQUALITY round-trip READ: the import must preserve per-entry
    // sequence numbers, or the equality delete goes inert (nothing
    // predates a uniformly-stamped delete) and resurrects pre-images
    val imp = IcebergExport.importMetadata(
      spark, IcebergExport.exportMetadata(t, root + "-ice-rt"), root + "-imp-eq")
    assert(imp.current.deleteFiles.exists(_.equalityCols.nonEmpty),
      "imported equality delete must survive the commit (sequence preserved)")
    assert(imp.read().count() === t.read().count())
    assert(imp.read().filter(col("k") <= 3L).collect()
      .forall(_.getAs[String]("v") == "nv"),
      "post-images win after the round-trip; pre-images stay deleted")
    assert(imp.read().exceptAll(t.read()).count() === 0)

    // transform mapping: sbucket exports as Iceberg bucket
    assert(IcebergExport.icebergTransform("sbucket[8]") === "bucket[8]")
    assert(IcebergExport.icebergTransform("truncate[3]") === "truncate[3]")
    assert(IcebergExport.icebergTransform("day") === "day")
    assert(IcebergExport.icebergType(org.apache.spark.sql.types.TimestampType)
      === "timestamptz")
  }

  test("spec evolution, DELETED entries, and version-hint export per the Iceberg model") {
    import scala.jdk.CollectionConverters._
    val o = Tables.orders(spark, sfDir).limit(2000)
    val root = "/root/repo/target/laketest/icespecevo"
    // history: create partitioned by status → evolve the spec to a
    // bucket layout (A40 rewrite: every parent file is replaced) →
    // append under the new spec
    val t = GraftTable.create(spark, root,
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.repartitionSpec(Seq("ok_b"), Seq(DepSpec("o_orderkey", "ok_b", "sbucket[4]")))
    t.append(o.limit(200))
    val metaPath = IcebergExport.exportMetadata(t, root + "-ice")
    val md = parse(metaPath)

    // two distinct partition specs, default = the evolved one
    val specs = md.get("partition-specs").elements().asScala.toSeq
    assert(specs.map(_.get("spec-id").asInt()) === Seq(0, 1))
    val defId = md.get("default-spec-id").asInt()
    assert(defId === 1)
    val spec0 = specs(0).get("fields").elements().asScala.toSeq
    val spec1 = specs(1).get("fields").elements().asScala.toSeq
    assert(spec0.map(_.get("name").asText()) === Seq("o_orderstatus"))
    assert(spec1.map(_.get("name").asText()) === Seq("ok_b"))
    assert(spec1.head.get("transform").asText() === "bucket[4]")
    // partition field ids unique across specs; last-partition-id covers them
    val pfIds = (spec0 ++ spec1).map(_.get("field-id").asInt())
    assert(pfIds === pfIds.distinct)
    assert(md.get("last-partition-id").asInt() === pfIds.max)

    // each snapshot's manifest list carries ITS spec id
    val snaps = md.get("snapshots").elements().asScala.toSeq
    val fs = hfs(metaPath)
    def mlOf(i: Int) = IcebergAvro.readManifestList(fs,
      new HPath(snaps(i).get("manifest-list").asText()))
    assert(mlOf(0).head.partitionSpecId === 0)
    assert(mlOf(1).head.partitionSpecId === 1)

    // the rewrite snapshot reports the replaced files as DELETED
    // (status 2) with counts, and live counts still reconcile
    val idToType = idToTypeOf(md)
    val reEntry = mlOf(1).find(_.content == 0).get
    assert(reEntry.deletedFilesCount > 0)
    val reManifest = IcebergAvro.readManifest(fs,
      new HPath(reEntry.manifestPath), idToType)
    val deleted = reManifest.filter(_.status == 2)
    assert(deleted.size === reEntry.deletedFilesCount)
    assert(deleted.map(_.rows).sum === reEntry.deletedRowsCount)
    // deleted entries name the files the PARENT held
    val parentFiles = IcebergAvro.readManifest(fs,
      new HPath(mlOf(0).find(_.content == 0).get.manifestPath), idToType)
      .filter(_.status != 2).map(_.filePath).toSet
    assert(deleted.forall(e => parentFiles.contains(e.filePath)))
    // live = the snapshot's own file set, deleted never counted
    assert(reManifest.count(_.status != 2) ===
      t.snapshots.sortBy(_.id).apply(1).files.size)

    // version-hint.text names the metadata version (HadoopTables layout)
    val hint = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root + "-ice", "metadata", "version-hint.text")), "UTF-8")
    assert(hint === "1")

    // snapshot summaries carry the spec's standard metrics as strings;
    // the rewrite snapshot's deleted counts match its DELETED entries
    val reSummary = snaps(1).get("summary")
    assert(reSummary.get("deleted-data-files").asText().toInt === deleted.size)
    assert(reSummary.get("deleted-records").asText().toLong === deleted.map(_.rows).sum)
    assert(reSummary.get("total-records").asText().toLong ===
      t.snapshots.sortBy(_.id).apply(1).totalRows)
    assert(snaps.last.get("summary").get("total-data-files").asText().toInt ===
      t.current.files.size)

    // write.sort.columns maps to an Iceberg sort order
    t.setProperty(GraftTable.SortColsProp, "o_orderkey")
    val md2 = parse(IcebergExport.exportMetadata(t, root + "-ice2"))
    assert(md2.get("default-sort-order-id").asInt() === 1)
    val so = md2.get("sort-orders").elements().asScala.toSeq
      .find(_.get("order-id").asInt() == 1).get
      .get("fields").elements().asScala.toSeq
    assert(so.size === 1)
    assert(so.head.get("transform").asText() === "identity")
    assert(so.head.get("direction").asText() === "asc")
    assert(so.head.get("source-id").asInt() ===
      md2.get("schemas").get(0).get("fields").elements().asScala
        .find(_.get("name").asText() == "o_orderkey").get.get("id").asInt())

    // import materializes the CURRENT snapshot under the default spec,
    // ignoring status-2 entries
    val imp = IcebergExport.importMetadata(spark, metaPath, root + "-imp")
    assert(imp.current.partitionCols === Seq("ok_b"))
    assert(imp.current.files.size === t.current.files.size)
    assert(imp.read().exceptAll(t.read()).count() === 0)
    assert(t.read().exceptAll(imp.read()).count() === 0)
    // the evolved dep round-trips (graft-transform extra)
    assert(imp.current.deps === Seq(DepSpec("o_orderkey", "ok_b", "sbucket[4]")))
  }

  test("Avro layer: spec field ids pinned, binary bounds round-trip, twin-equivalent import") {
    import org.apache.spark.sql.types._
    // manifest_file (manifest-list entry) field ids — spec v2
    val mf = IcebergAvro.manifestFileSchema
    def fid(s: org.apache.avro.Schema, f: String): Any =
      s.getField(f).getObjectProp("field-id")
    assert(fid(mf, "manifest_path") === 500)
    assert(fid(mf, "manifest_length") === 501)
    assert(fid(mf, "partition_spec_id") === 502)
    assert(fid(mf, "added_snapshot_id") === 503)
    assert(fid(mf, "added_files_count") === 504)
    assert(fid(mf, "sequence_number") === 515)
    assert(fid(mf, "min_sequence_number") === 516)
    assert(fid(mf, "content") === 517)
    // manifest_entry field ids — spec v2
    val me = IcebergAvro.manifestEntrySchema(Seq(("p", StringType, 1000)))
    assert(fid(me, "status") === 0)
    assert(fid(me, "snapshot_id") === 1)
    assert(fid(me, "data_file") === 2)
    assert(fid(me, "sequence_number") === 3)
    val df = me.getField("data_file").schema()
    assert(fid(df, "file_path") === 100)
    assert(fid(df, "file_format") === 101)
    assert(fid(df, "partition") === 102)
    assert(fid(df, "record_count") === 103)
    assert(fid(df, "file_size_in_bytes") === 104)
    assert(fid(df, "null_value_counts") === 110)
    assert(fid(df, "lower_bounds") === 125)
    assert(fid(df, "upper_bounds") === 128)
    assert(fid(df, "content") === 134)
    assert(fid(df, "equality_ids") === 135)
    assert(df.getField("partition").schema().getField("p").getObjectProp("field-id")
      === 1000)

    // single-value binary serialization round-trips per type
    def rt(dt: DataType, v: String): String =
      IcebergAvro.decodeBound(dt, IcebergAvro.encodeBound(dt, v))
    assert(rt(LongType, "-92233720368") === "-92233720368")
    assert(rt(IntegerType, "42") === "42")
    assert(rt(DoubleType, "3.14159") === "3.14159")
    assert(rt(StringType, "Clerk#000000036") === "Clerk#000000036")
    assert(rt(DateType, "1997-06-23") === "1997-06-23")
    assert(rt(BooleanType, "true") === "true")
    // width per spec: long/double 8 bytes LE, int/float/date 4
    assert(IcebergAvro.encodeBound(LongType, "7").remaining() === 8)
    assert(IcebergAvro.encodeBound(IntegerType, "7").remaining() === 4)
    assert(IcebergAvro.encodeBound(DateType, "2020-01-01").remaining() === 4)
    // little-endian: long 1 encodes with the 1-bit in byte 0
    assert(IcebergAvro.encodeBound(LongType, "1").get(0) === 1.toByte)

    // importing via the Avro chain and via the JSON twin chain yields
    // the same table (same files, same stats, same read)
    val o = Tables.orders(spark, sfDir).limit(2500)
    val root = "/root/repo/target/laketest/iceavrotwin"
    val t = GraftTable.create(spark, root,
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("o_orderkey") % 17 === 0)
    val metaPath = IcebergExport.exportMetadata(t, root + "-ice")
    val impAvro = IcebergExport.importMetadata(spark, metaPath, root + "-imp-avro")
    // rewrite the metadata to point at the JSON twin list, import that
    val md = parse(metaPath)
    val snapsArr = md.get("snapshots").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    import scala.jdk.CollectionConverters._
    snapsArr.elements().asScala.foreach { s =>
      s.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("manifest-list", s.get("graft-manifest-list-json").asText())
    }
    val twinPath = java.nio.file.Paths.get(root + "-ice", "metadata", "vtwin.metadata.json")
    java.nio.file.Files.write(twinPath, mapper.writeValueAsBytes(md))
    val impJson = IcebergExport.importMetadata(spark, twinPath.toString, root + "-imp-json")
    assert(impAvro.current.files.map(f => (f.path, f.rows, f.partition)).toSet ===
      impJson.current.files.map(f => (f.path, f.rows, f.partition)).toSet)
    // stats (including binary-decoded bounds) agree with the JSON twin
    assert(impAvro.current.files.map(f => f.path -> f.stats).toMap ===
      impJson.current.files.map(f => f.path -> f.stats).toMap)
    // each import writes its own vectors from the position deletes
    assert(impAvro.current.deleteFiles.map(d => (d.targets, d.rows, d.addedBy, d.dv)).toSet ===
      impJson.current.deleteFiles.map(d => (d.targets, d.rows, d.addedBy, d.dv)).toSet)
    assert(impAvro.read().exceptAll(impJson.read()).count() === 0)
    assert(impJson.read().exceptAll(impAvro.read()).count() === 0)
    assert(impAvro.read().exceptAll(t.read()).count() === 0)
  }

  test("merge-on-read round-trip: vectors export as position deletes, import converts back") {
    val o = Tables.orders(spark, sfDir).limit(2000)
    val root = new java.io.File("target/laketest/icemor").getAbsolutePath
    val t = GraftTable.create(spark, root,
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperties(Map(GraftTable.DeleteModeProp -> "merge-on-read",
      GraftTable.UpdateModeProp -> "merge-on-read",
      GraftTable.MergeModeProp -> "merge-on-read"))
    t.delete(col("o_orderkey") % 7 === 0)
    t.update(col("o_orderkey") % 11 === 0, Map("o_totalprice" -> lit(1.25)))
    val keys = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(3).collect().map(_.getLong(0))
    t.merge(t.read().filter(col("o_orderkey").isin(keys.toSeq: _*))
      .withColumn("o_totalprice", lit(2.5)), Seq("o_orderkey"))
    assert(t.current.deleteFiles.nonEmpty && t.current.deleteFiles.forall(_.dv))

    val metaPath = IcebergExport.exportMetadata(t, root + "-ice")
    // the v2 delete manifest names position-delete parquets written
    // under the export directory, one per (dv entry, targets) pair
    import scala.jdk.CollectionConverters._
    val md = parse(metaPath)
    val mlPath = md.get("snapshots").elements().asScala.toSeq.last.get("manifest-list").asText()
    val fs = hfs(mlPath)
    val dels = IcebergAvro.readManifest(fs,
      new HPath(IcebergAvro.readManifestList(fs, new HPath(mlPath))
        .find(_.content == 1).get.manifestPath), idToTypeOf(md))
    assert(dels.nonEmpty && dels.forall(_.content == 1))
    assert(dels.forall(_.filePath.contains("icemor-ice/deletes/")))
    dels.foreach { e =>
      val pos = spark.read.parquet(e.filePath)
      assert(pos.columns.toSeq === Seq("file_name", "row_index"))
      assert(pos.count() === e.rows)
    }

    // the import converts the position deletes back to vectors in its
    // own commit: one snapshot, no position entry
    val imp = IcebergExport.importMetadata(spark, metaPath, root + "-imp")
    assert(imp.snapshotIds.size === 1)
    assert(imp.current.deleteFiles.nonEmpty && imp.current.deleteFiles.forall(_.dv))
    val owners = imp.current.deleteFiles.flatMap(_.targets)
    assert(owners.distinct.size === owners.size)
    assert(imp.current.deletedRows === t.current.deletedRows)
    assert(imp.read().exceptAll(t.read()).count() === 0)
    assert(t.read().exceptAll(imp.read()).count() === 0)
  }

  /** Golden-bytes fixture (r10 mandate): the remaining export risk is
    * writer/reader self-consistency — both could share a misreading of
    * the Iceberg spec. This pins one complete export (metadata JSON,
    * Avro manifest lists + manifests, JSON twins) BYTE-FOR-BYTE against
    * committed fixtures, so ANY serialization drift is a loud diff
    * reviewable against the spec text. The source table is built from
    * hand-written manifests (fixed ids, timestamps, paths, stats) at a
    * fixed root, and the Avro layer's sync markers are content-derived,
    * so the export is fully deterministic. Regenerate deliberately with
    * GRAFT_GOLDEN_REGEN=1 after a reviewed format change.
    */
  test("golden-bytes: the fixed-table export is byte-identical to the committed fixture") {
    import graft.lake.{ColStat, DeleteFileEntry, DepSpec, FileEntry, Snapshot, SnapshotCodec}
    import java.nio.file.{Files, Paths}
    val root = "/tmp/graft-golden-fixture"
    def wipe(dir: String): Unit = {
      val p = Paths.get(dir)
      if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => { Files.delete(f); () })
      }
    }
    wipe(root)
    val metaDir = Paths.get(root, "meta")
    Files.createDirectories(metaDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    def fe(path: String, p: String, rows: Long, bytes: Long,
        lo: Long, hi: Long, addedBy: Long) =
      FileEntry(path, Map("p" -> p), rows, bytes,
        Map("id" -> ColStat("bigint", lo.toString, hi.toString, 0L),
            "v" -> ColStat("string", "alpha", "omega", 2L)), addedBy)
    val s0 = Snapshot(
      id = 0L, parentId = -1L, tsMillis = 1700000000000L, operation = "create",
      schemaJson = schema.json, partitionCols = Seq("p"),
      deps = Seq(DepSpec("id", "p", "bucket[4]")),
      files = Seq(
        fe("data/p=a/f0.parquet", "a", 100L, 4096L, 1L, 100L, 0L),
        fe("data/p=b/f1.parquet", "b", 50L, 2048L, 101L, 150L, 0L)),
      addedFiles = 2, deletedFiles = 0,
      properties = Map("owner" -> "golden", "write.delete.mode" -> "merge-on-read"))
    val s1 = s0.copy(
      id = 1L, parentId = 0L, tsMillis = 1700000001000L, operation = "append",
      files = s0.files :+ fe("data/p=a/f2.parquet", "a", 25L, 1024L, 151L, 175L, 1L),
      addedFiles = 1, deletedFiles = 0,
      deleteFiles = Seq(DeleteFileEntry("deletes/d0.parquet", 3L, addedBy = 1L,
        bytes = 128L, equalityCols = Seq("id"))))
    Files.write(metaDir.resolve("snapshot-0.json"), SnapshotCodec.toJson(s0).getBytes("UTF-8"))
    Files.write(metaDir.resolve("snapshot-1.json"), SnapshotCodec.toJson(s1).getBytes("UTF-8"))
    Files.write(metaDir.resolve("version-hint.txt"), "1".getBytes("UTF-8"))
    GraftTable.invalidate(root)
    // manifest lists embed their own absolute output location, so the
    // export path is part of the fixture — one fixed dir, exported twice
    val out1 = "/tmp/graft-golden-export"
    wipe(out1)
    val t = new GraftTable(root, spark)
    IcebergExport.exportMetadata(t, out1)
    def artifacts(dir: String): Seq[(String, Array[Byte])] = {
      val d = Paths.get(dir, "metadata")
      val names = Files.list(d).map[String](_.getFileName.toString)
        .sorted().toArray.toSeq.map(_.toString)
        .filterNot(_.endsWith(".crc")) // Hadoop local-FS checksum sidecars
      names.map(n => n -> Files.readAllBytes(d.resolve(n)))
    }
    val a1 = artifacts(out1)
    wipe(out1)
    IcebergExport.exportMetadata(t, out1)
    val a2 = artifacts(out1)
    // determinism first: two exports of the same table, identical bytes
    assert(a1.map(_._1) === a2.map(_._1))
    for (((n, b), (_, b2)) <- a1.zip(a2))
      assert(java.util.Arrays.equals(b, b2), s"export of $n is not deterministic")
    // golden compare (or regenerate with GRAFT_GOLDEN_REGEN=1)
    val fixDir = Paths.get("src/test/resources/iceberg_golden")
    def hex(b: Array[Byte]): String =
      b.map("%02x".format(_)).mkString.grouped(120).mkString("\n") + "\n"
    if (sys.env.contains("GRAFT_GOLDEN_REGEN")) {
      wipe(fixDir.toString)
      Files.createDirectories(fixDir)
      for ((n, b) <- a1) Files.write(fixDir.resolve(n + ".hex"), hex(b).getBytes("UTF-8"))
      fail(s"fixtures regenerated under $fixDir — review the diff and commit")
    }
    assert(Files.exists(fixDir), "committed fixture dir missing")
    val fixNames = Files.list(fixDir).map[String](_.getFileName.toString)
      .sorted().toArray.toSeq.map(_.toString.stripSuffix(".hex"))
    assert(a1.map(_._1) === fixNames, "export artifact set drifted from the fixture")
    for ((n, b) <- a1) {
      val want = new String(Files.readAllBytes(fixDir.resolve(n + ".hex")), "UTF-8")
        .filterNot(_ == '\n')
      val got = b.map("%02x".format(_)).mkString
      if (got != want) {
        val at = got.zip(want).indexWhere { case (x, y) => x != y } / 2
        fail(s"$n drifted from the golden fixture at byte ~$at of ${b.length}: " +
          s"got …${got.slice(2 * at - 16, 2 * at + 24)}… " +
          s"want …${want.slice(2 * at - 16, 2 * at + 24)}… " +
          "(review against the Iceberg spec, then GRAFT_GOLDEN_REGEN=1)")
      }
    }
  }

  /** Foreign-writer fixture (r11 mandate): every prior import test
    * round-trips THIS bridge's own exports, which share its field-id
    * allocation, micros-only footers, and graft-transform extras. This
    * hand-authors an Iceberg v2 tree the way an EXTERNAL writer would
    * emit it — scrambled non-positional field ids, required/optional
    * mix, TIMESTAMP_MILLIS parquet footers, multi-spec history with a
    * non-zero default-spec-id, real Avro manifests, zero graft extras —
    * and proves the import either reads it exactly or refuses loudly.
    */
  test("foreign Iceberg metadata: scrambled ids, millis footers, multi-spec, no graft extras") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = "/root/repo/target/laketest/iceforeign"
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    // -- foreign DATA files: genuine TIMESTAMP_MILLIS footers ----------
    val rows = Seq(
      (1L, "alpha", 10.5, java.sql.Timestamp.valueOf("2021-03-04 05:06:07"), "a"),
      (2L, null.asInstanceOf[String], 99.25, java.sql.Timestamp.valueOf("2022-08-09 10:11:12"), "a"),
      (3L, "gamma", 7.75, java.sql.Timestamp.valueOf("2020-01-02 03:04:05"), "b"))
    val df = rows.toDF("id", "name", "price", "ts", "cat")
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      for (cat <- Seq("a", "b"))
        df.filter(col("cat") === cat).drop("cat").coalesce(1)
          .write.parquet(s"$root/data/cat=$cat")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    import scala.jdk.CollectionConverters._
    def partFile(cat: String): java.nio.file.Path =
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/data/cat=$cat"))
        .iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val fileA = partFile("a"); val fileB = partFile("b")
    // -- foreign MANIFESTS: scrambled field ids, micros bounds ---------
    // ids deliberately non-positional: id=4 name=1 price=7 ts=3 cat=2
    val idToType = Map(4 -> LongType, 1 -> StringType, 7 -> DoubleType,
      3 -> TimestampType, 2 -> StringType)
    def micros(s: String): String =
      (java.sql.Timestamp.valueOf(s).getTime * 1000L).toString
    def entry(p: java.nio.file.Path, cat: String, lo: Map[Int, String],
        up: Map[Int, String], nulls: Map[Int, Long], nRows: Long) =
      IcebergAvro.DecodedEntry(status = 1, snapshotId = 77L,
        sequenceNumber = Some(5L), content = 0, filePath = p.toString,
        fileFormat = "PARQUET", partition = Map("cat" -> cat),
        rows = nRows, bytes = java.nio.file.Files.size(p),
        lower = lo, upper = up, nulls = nulls, equalityIds = Seq.empty)
    val entries = Seq(
      entry(fileA, "a",
        lo = Map(4 -> "1", 7 -> "10.5", 1 -> "alpha",
          3 -> micros("2021-03-04 05:06:07")),
        up = Map(4 -> "2", 7 -> "99.25", 1 -> "alpha",
          3 -> micros("2022-08-09 10:11:12")),
        nulls = Map(1 -> 1L), nRows = 2L),
      entry(fileB, "b",
        lo = Map(4 -> "3", 7 -> "7.75", 1 -> "gamma",
          3 -> micros("2020-01-02 03:04:05")),
        up = Map(4 -> "3", 7 -> "7.75", 1 -> "gamma",
          3 -> micros("2020-01-02 03:04:05")),
        nulls = Map.empty, nRows = 1L))
    val metaDir = java.nio.file.Paths.get(s"$root/metadata")
    java.nio.file.Files.createDirectories(metaDir)
    val fs = hfs(root)
    val mPath = s"$root/metadata/m0.avro"
    val mLen = IcebergAvro.writeManifest(fs, new HPath(mPath),
      partitionFields = Seq(("cat", StringType, 1001)),
      idToType = idToType, content = "data", entries = entries,
      schemaJson = "{}", specJson = "{}", specId = 1)
    val mlPath = s"$root/metadata/ml77.avro"
    IcebergAvro.writeManifestList(fs, new HPath(mlPath), 77L, -1L, 5L, Seq(
      IcebergAvro.MlEntry(mPath, mLen, 1, 0, 5L, 5L, 77L, 2, 0, 0, 3L, 0L, 0L)))
    // -- foreign METADATA json: multi-spec, default-spec-id=1, refs ----
    def metadataJson(specOverride: Option[String] = None): String = {
      val specs = specOverride.getOrElse(
        """[{"spec-id":0,"fields":[{"name":"id_bucket","transform":"bucket[4]","source-id":4,"field-id":1000}]},
          | {"spec-id":1,"fields":[{"name":"cat","transform":"identity","source-id":2,"field-id":1001}]}]"""
          .stripMargin)
      s"""{
         |  "format-version": 2,
         |  "table-uuid": "0f0e0d0c-0b0a-0908-0706-050403020100",
         |  "location": "$root",
         |  "schemas": [{"schema-id": 0, "type": "struct", "fields": [
         |    {"id": 4, "name": "id", "required": true, "type": "long"},
         |    {"id": 1, "name": "name", "required": false, "type": "string"},
         |    {"id": 7, "name": "price", "required": false, "type": "double"},
         |    {"id": 3, "name": "ts", "required": false, "type": "timestamptz"},
         |    {"id": 2, "name": "cat", "required": false, "type": "string"}]}],
         |  "current-schema-id": 0,
         |  "partition-specs": $specs,
         |  "default-spec-id": 1,
         |  "current-snapshot-id": 77,
         |  "snapshots": [{"snapshot-id": 77, "sequence-number": 5,
         |    "timestamp-ms": 1700000000000,
         |    "manifest-list": "$mlPath", "summary": {"operation": "append"}}],
         |  "refs": {"main": {"snapshot-id": 77, "type": "branch"},
         |           "rel": {"snapshot-id": 77, "type": "tag"},
         |           "old": {"snapshot-id": 42, "type": "branch"}},
         |  "properties": {"owner": "someone"}
         |}""".stripMargin
    }
    val mdPath = metaDir.resolve("v1.metadata.json")
    java.nio.file.Files.write(mdPath, metadataJson().getBytes("UTF-8"))
    val t = IcebergExport.importMetadata(spark, mdPath.toString, root + "-imp")
    // schema: declared order, required → nullable=false, ids scrambled
    assert(t.schema.fieldNames.toSeq === Seq("id", "name", "price", "ts", "cat"))
    assert(!t.schema("id").nullable && t.schema("name").nullable)
    assert(t.schema("ts").dataType === TimestampType)
    // default spec (id 1) selected out of the multi-spec list; the
    // foreign bucket spec imports no dependency claim
    assert(t.current.partitionCols === Seq("cat"))
    assert(t.current.deps.isEmpty)
    // stats landed on the RIGHT columns through the id scramble; the
    // timestamp bounds are DROPPED (the micros/millis-unit hazard class:
    // a mis-united bound would prune or meta-agg 1000x off)
    val stA = t.current.files.find(_.partition("cat") == "a").get.stats
    assert(stA("id").min == "1" && stA("id").max == "2")
    assert(stA("price").tpe == "double" && stA("price").max == "99.25")
    assert(stA("name").nulls == 1L)
    assert(!stA.contains("ts"), "timestamp bounds must not import as stats")
    // reads: MILLIS footers decode exactly (not 1000x off), partition
    // values attach from the manifest
    val got = t.read().select("id", "name", "price", "ts", "cat")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3), r.getString(4))).toSet
    assert(got === rows.toSet)
    // pruning: price stats prune; ts never prunes (stats absent); cat
    // partition-prunes
    val (survP, totP, _) = t.pruneFiles(col("price") > lit(1e12))
    assert(totP === 2 && survP.isEmpty, "double stats must prune")
    val (survT, totT, _) = t.pruneFiles(
      col("ts") > lit(java.sql.Timestamp.valueOf("2099-01-01 00:00:00")))
    assert(totT === 2 && survT.size === 2, "no ts stats -> no ts pruning")
    assert(t.scan(col("cat") === "a").count() === 2)
    // refs: tag at the imported snapshot re-created, stale branch skipped
    assert(t.refId("rel").contains(77L) && t.refId("old").isEmpty)
    assert(t.current.properties.get("owner").contains("someone"))
    // -- refusals ------------------------------------------------------
    // (a) live file written under a non-default spec: partition values
    // don't cover the current spec's columns — refuse, never fabricate
    val mPath0 = s"$root/metadata/m_oldspec.avro"
    val mLen0 = IcebergAvro.writeManifest(fs, new HPath(mPath0),
      partitionFields = Seq(("id_bucket", IntegerType, 1000)),
      idToType = idToType, content = "data",
      entries = Seq(entry(fileB, "b", Map.empty, Map.empty, Map.empty, 1L)
        .copy(partition = Map("id_bucket" -> "3"))),
      schemaJson = "{}", specJson = "{}", specId = 0)
    val mlPathMix = s"$root/metadata/ml_mix.avro"
    IcebergAvro.writeManifestList(fs, new HPath(mlPathMix), 77L, -1L, 5L, Seq(
      IcebergAvro.MlEntry(mPath, mLen, 1, 0, 5L, 5L, 77L, 2, 0, 0, 3L, 0L, 0L),
      IcebergAvro.MlEntry(mPath0, mLen0, 0, 0, 5L, 5L, 77L, 1, 0, 0, 1L, 0L, 0L)))
    val mdMix = metaDir.resolve("v_mix.metadata.json")
    java.nio.file.Files.write(mdMix,
      metadataJson().replace(mlPath, mlPathMix).getBytes("UTF-8"))
    val exMix = intercept[IllegalArgumentException] {
      IcebergExport.importMetadata(spark, mdMix.toString, root + "-imp-mix")
    }
    assert(exMix.getMessage.contains("different partition spec"))
    // (b) format-version 1 refused loudly
    val mdV1 = metaDir.resolve("v_v1.metadata.json")
    java.nio.file.Files.write(mdV1,
      metadataJson().replace("\"format-version\": 2", "\"format-version\": 1")
        .getBytes("UTF-8"))
    val exV1 = intercept[IllegalArgumentException] {
      IcebergExport.importMetadata(spark, mdV1.toString, root + "-imp-v1")
    }
    assert(exV1.getMessage.contains("format-version"))
  }

  /** A foreign Iceberg v2 tree with two data files (ids 1-2 in `cat=a`,
    * 3-4 in `cat=b`) whose manifest entries omit `sequence_number` (the
    * manifest list carries 5), plus the delete files `deletes` writes
    * under the root, listed in one delete manifest at sequence 6 whose
    * entries omit it too. Returns (the data file paths, the metadata
    * path).
    */
  private def foreignWithDeletes(name: String)(
      deletes: (String, Seq[String]) => Seq[IcebergAvro.DecodedEntry]): (Seq[String], String) = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = new java.io.File(s"target/laketest/$name").getAbsolutePath
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("id", "cat")
    for (cat <- Seq("a", "b"))
      df.filter(col("cat") === cat).drop("cat").coalesce(1).write.parquet(s"$root/data/cat=$cat")
    import scala.jdk.CollectionConverters._
    val files = Seq("a", "b").map(cat =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/data/cat=$cat"))
        .iterator().asScala.find(_.toString.endsWith(".parquet")).get.toString)
    val idToType = Map(4 -> LongType, 2 -> StringType)
    def entry(path: String, content: Int, cat: String, rows: Long, eqIds: Seq[Int]) =
      IcebergAvro.DecodedEntry(status = 1, snapshotId = 77L, sequenceNumber = None,
        content = content, filePath = path, fileFormat = "PARQUET",
        partition = Map("cat" -> cat), rows = rows,
        bytes = java.nio.file.Files.size(java.nio.file.Paths.get(path)),
        lower = Map.empty, upper = Map.empty, nulls = Map.empty, equalityIds = eqIds)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/metadata"))
    val fs = hfs(root)
    def manifest(file: String, content: String, es: Seq[IcebergAvro.DecodedEntry]): Long =
      IcebergAvro.writeManifest(fs, new HPath(s"$root/metadata/$file"),
        partitionFields = Seq(("cat", StringType, 1001)), idToType = idToType,
        content = content, entries = es, schemaJson = "{}", specJson = "{}")
    val dataLen = manifest("m-data.avro", "data",
      files.zip(Seq("a", "b")).map { case (f, cat) => entry(f, 0, cat, 2L, Seq.empty) })
    val dels = deletes(root, files).map(e => entry(e.filePath, e.content, "a", e.rows, e.equalityIds))
    val delLen = manifest("m-deletes.avro", "deletes", dels)
    val mlPath = s"$root/metadata/ml77.avro"
    IcebergAvro.writeManifestList(fs, new HPath(mlPath), 77L, -1L, 6L, Seq(
      IcebergAvro.MlEntry(s"$root/metadata/m-data.avro", dataLen, 0, 0, 5L, 5L, 77L,
        2, 0, 0, 4L, 0L, 0L),
      IcebergAvro.MlEntry(s"$root/metadata/m-deletes.avro", delLen, 0, 1, 6L, 6L, 77L,
        dels.size, 0, 0, dels.map(_.rows).sum, 0L, 0L)))
    val mdPath = s"$root/metadata/v1.metadata.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(mdPath),
      s"""{"format-version": 2, "table-uuid": "00000000-0000-0000-0000-000000000077",
         |  "location": "$root",
         |  "schemas": [{"schema-id": 0, "type": "struct", "fields": [
         |    {"id": 4, "name": "id", "required": true, "type": "long"},
         |    {"id": 2, "name": "cat", "required": false, "type": "string"}]}],
         |  "current-schema-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": [
         |    {"name": "cat", "transform": "identity", "source-id": 2, "field-id": 1001}]}],
         |  "default-spec-id": 0, "current-snapshot-id": 77,
         |  "snapshots": [{"snapshot-id": 77, "sequence-number": 6,
         |    "timestamp-ms": 1700000000000, "manifest-list": "$mlPath",
         |    "summary": {"operation": "delete"}}]}""".stripMargin.getBytes("UTF-8"))
    (files, mdPath)
  }

  test("foreign Iceberg import: entries without sequence numbers inherit their manifest's") {
    import spark.implicits._
    // an equality delete of id 3 at (inherited) sequence 6 kills the
    // data at (inherited) sequence 5; one stamp for both would make it inert
    val (_, md) = foreignWithDeletes("iceforeign-seq") { (root, _) =>
      Seq(3L).toDF("id").coalesce(1).write.parquet(s"$root/eq")
      val f = new java.io.File(s"$root/eq").listFiles().map(_.getPath).find(_.endsWith(".parquet")).get
      Seq(IcebergAvro.DecodedEntry(1, 77L, None, 2, f, "PARQUET", Map.empty, 1L, 0L,
        Map.empty, Map.empty, Map.empty, Seq(4)))
    }
    val t = IcebergExport.importMetadata(spark, md, new java.io.File(
      "target/laketest/iceforeign-seq-imp").getAbsolutePath)
    assert(t.current.files.map(_.addedBy).distinct === Seq(5L))
    assert(t.current.deleteFiles.map(d => (d.addedBy, d.equalityCols)) === Seq((6L, Seq("id"))))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L))
  }

  test("foreign Iceberg import: spec (file_path, pos) position deletes become deletion vectors") {
    import spark.implicits._
    // the spec's position-delete columns name the data file by its full
    // path; a coordinate naming a file outside the snapshot is dropped
    var killed = Set.empty[Long]
    val (files, md) = foreignWithDeletes("iceforeign-pos") { (root, files) =>
      killed = spark.read.parquet(files.head).select(col("id"), col("_metadata.row_index"))
        .filter(col("row_index") === 0L).as[(Long, Long)].collect().map(_._1).toSet
      Seq((files.head, 0L), (s"$root/data/cat=a/gone.parquet", 1L), (files(1), 1L))
        .toDF("file_path", "pos").coalesce(1).write.parquet(s"$root/pos")
      val f = new java.io.File(s"$root/pos").listFiles().map(_.getPath).find(_.endsWith(".parquet")).get
      Seq(IcebergAvro.DecodedEntry(1, 77L, None, 1, f, "PARQUET", Map.empty, 3L, 0L,
        Map.empty, Map.empty, Map.empty, Seq.empty))
    }
    killed ++= spark.read.parquet(files(1)).select(col("id"), col("_metadata.row_index"))
      .filter(col("row_index") === 1L).as[(Long, Long)].collect().map(_._1)
    assert(killed.size === 2)
    val t = IcebergExport.importMetadata(spark, md, new java.io.File(
      "target/laketest/iceforeign-pos-imp").getAbsolutePath)
    assert(t.snapshotIds.size === 1)
    assert(t.current.deleteFiles.nonEmpty && t.current.deleteFiles.forall(_.dv))
    assert(t.current.deletedRows === 2L, "the coordinate outside the snapshot is dropped")
    assert(t.current.deleteFiles.flatMap(_.targets).sorted ===
      files.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted)
    assert(t.read().select("id").as[Long].collect().toSet === (1L to 4L).toSet -- killed)
  }
}
