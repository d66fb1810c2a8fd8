package graft.lake

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.types._

/** The Avro serialization layer of the Iceberg bridge (SURVEY.md
  * §2.A69): spec-v2 `manifest_file` (manifest-list) and
  * `manifest_entry` records written as real Avro object-container
  * files with the spec's field ids, so the exported metadata is the
  * byte format an external Iceberg reader consumes — not only the
  * logical structure (the JSON twins [[IcebergExport]] also writes
  * remain as the human-readable debug layer). Reference parity:
  * the reference delegates this to the embedded Iceberg library
  * (src/main/scala/org/apache/spark/sql/iceberg/table/
  * SparkTableOperations.scala); graft writes the records itself with
  * the Avro 1.12 already on Spark's classpath — no new dependency.
  *
  * Spec fidelity notes:
  *  - field ids ride as `"field-id"` attributes on every Avro field,
  *    `"element-id"` on array items, and the spec's k/v-record
  *    encoding (logicalType "map") for the int-keyed bounds/counts
  *    maps — Avro maps require string keys, so Iceberg stores them as
  *    arrays of key/value records (spec Appendix: Avro).
  *  - lower/upper bounds use the spec's single-value binary
  *    serialization: little-endian fixed width for int/long/float/
  *    double/date, UTF-8 for strings.
  *  - the per-entry `sequence_number` carries graft's `addedBy`
  *    (0 = unknown/predates-everything, exported conservatively — see
  *    [[IcebergExport]]); `min_sequence_number` on the list entry is
  *    the min over entries.
  *  - float-column bounds round-trip through `Float.toString`
  *    (shortest decimal form); a re-imported stat string can differ
  *    from the original in the last ulp of the widened double. No
  *    graft fixture has float scalar columns, and pruning treats
  *    bounds conservatively either way.
  */
object IcebergAvro {

  /** One manifest-list entry (spec `manifest_file`, fields 500-519). */
  final case class MlEntry(
      manifestPath: String,
      manifestLength: Long,
      partitionSpecId: Int,
      content: Int, // 0 = data manifest, 1 = delete manifest
      sequenceNumber: Long,
      minSequenceNumber: Long,
      addedSnapshotId: Long,
      addedFilesCount: Int,
      existingFilesCount: Int,
      deletedFilesCount: Int,
      addedRowsCount: Long,
      existingRowsCount: Long,
      deletedRowsCount: Long)

  /** One decoded manifest entry, format-agnostic (the JSON twin
    * decodes to the same shape in [[IcebergExport.importMetadata]]):
    * stats are keyed by Iceberg field id as (min, max, nulls) stat
    * strings, partition values by column name as the hive-dir string
    * spelling graft uses natively.
    */
  final case class DecodedEntry(
      status: Int,
      snapshotId: Long,
      sequenceNumber: Option[Long],
      content: Int, // 0 = data, 1 = position deletes, 2 = equality deletes
      filePath: String,
      fileFormat: String,
      partition: Map[String, String],
      rows: Long,
      bytes: Long,
      lower: Map[Int, String],
      upper: Map[Int, String],
      nulls: Map[Int, Long],
      equalityIds: Seq[Int])

  // ---- Avro schema construction -------------------------------------

  private def req(name: String, tpe: String, fid: Int): String =
    s"""{"name":"$name","type":$tpe,"field-id":$fid}"""
  private def opt(name: String, tpe: String, fid: Int): String =
    s"""{"name":"$name","type":["null",$tpe],"default":null,"field-id":$fid}"""
  private def kvMap(recName: String, kFid: Int, vFid: Int, vTpe: String): String =
    s"""{"type":"array","logicalType":"map","items":{"type":"record","name":"$recName","fields":[
       |{"name":"key","type":"int","field-id":$kFid},
       |{"name":"value","type":"$vTpe","field-id":$vFid}]}}""".stripMargin

  /** Spec `manifest_file` — the manifest-list entry schema. */
  val manifestFileSchema: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_file","fields":[
       |${req("manifest_path", "\"string\"", 500)},
       |${req("manifest_length", "\"long\"", 501)},
       |${req("partition_spec_id", "\"int\"", 502)},
       |${req("content", "\"int\"", 517)},
       |${req("sequence_number", "\"long\"", 515)},
       |${req("min_sequence_number", "\"long\"", 516)},
       |${req("added_snapshot_id", "\"long\"", 503)},
       |${req("added_files_count", "\"int\"", 504)},
       |${req("existing_files_count", "\"int\"", 505)},
       |${req("deleted_files_count", "\"int\"", 506)},
       |${req("added_rows_count", "\"long\"", 512)},
       |${req("existing_rows_count", "\"long\"", 513)},
       |${req("deleted_rows_count", "\"long\"", 514)},
       |${opt("key_metadata", "\"bytes\"", 519)}
       |]}""".stripMargin)

  private def avroScalar(dt: DataType): String = dt match {
    case LongType | TimestampType | TimestampNTZType => "\"long\""
    case IntegerType | ShortType | ByteType          => "\"int\""
    case DateType       => """{"type":"int","logicalType":"date"}"""
    case DoubleType     => "\"double\""
    case FloatType      => "\"float\""
    case BooleanType    => "\"boolean\""
    case _              => "\"string\"" // partition spellings are strings natively
  }

  /** Spec `manifest_entry` for a concrete partition struct: the
    * partition record (`r102`) is typed per the table's partition
    * columns (graft materializes the transform result as a schema
    * column, so its Spark type IS the transform result type), with
    * the spec's 1000+i partition field ids.
    */
  def manifestEntrySchema(partitionFields: Seq[(String, DataType, Int)]): Schema = {
    val partFields = partitionFields.map { case (n, dt, fid) =>
      opt(n, avroScalar(dt), fid)
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |${req("status", "\"int\"", 0)},
         |${opt("snapshot_id", "\"long\"", 1)},
         |${opt("sequence_number", "\"long\"", 3)},
         |${opt("file_sequence_number", "\"long\"", 4)},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |${req("content", "\"int\"", 134)},
         |${req("file_path", "\"string\"", 100)},
         |${req("file_format", "\"string\"", 101)},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partFields]}},
         |${req("record_count", "\"long\"", 103)},
         |${req("file_size_in_bytes", "\"long\"", 104)},
         |${opt("null_value_counts", kvMap("k121_v122", 121, 122, "long"), 110)},
         |${opt("lower_bounds", kvMap("k126_v127", 126, 127, "bytes"), 125)},
         |${opt("upper_bounds", kvMap("k129_v130", 129, 130, "bytes"), 128)},
         |${opt("equality_ids", """{"type":"array","items":"int","element-id":136}""", 135)},
         |${opt("sort_order_id", "\"int\"", 140)}
         |]}}]}""".stripMargin)
  }

  // ---- single-value binary serialization (spec Appendix D) ----------

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** Encode a graft stat string as the spec's single-value binary form
    * for the column's type.
    */
  def encodeBound(dt: DataType, stat: String): ByteBuffer = {
    val buf = dt match {
      case LongType | TimestampType | TimestampNTZType =>
        le(8).putLong(stat.toLong)
      case IntegerType | ShortType | ByteType =>
        le(4).putInt(stat.toLong.toInt)
      case DateType =>
        le(4).putInt(java.time.LocalDate.parse(stat).toEpochDay.toInt)
      case DoubleType  => le(8).putDouble(stat.toDouble)
      case FloatType   => le(4).putFloat(stat.toFloat)
      case BooleanType => le(1).put((if (stat.toBoolean) 1 else 0).toByte)
      case _ => ByteBuffer.wrap(stat.getBytes(StandardCharsets.UTF_8))
    }
    buf.rewind()
    buf
  }

  /** Decode a single-value binary bound back to graft's stat string. */
  def decodeBound(dt: DataType, bytes: ByteBuffer): String = {
    val b = bytes.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    b.rewind()
    dt match {
      case LongType | TimestampType | TimestampNTZType => b.getLong.toString
      case IntegerType | ShortType | ByteType          => b.getInt.toString
      case DateType =>
        java.time.LocalDate.ofEpochDay(b.getInt.toLong).toString
      case DoubleType  => b.getDouble.toString
      case FloatType   => java.lang.Float.toString(b.getFloat)
      case BooleanType => (b.get() != 0).toString
      case _ =>
        val arr = new Array[Byte](b.remaining()); b.get(arr)
        new String(arr, StandardCharsets.UTF_8)
    }
  }

  private def partitionToAvro(dt: DataType, v: String): Any = dt match {
    case _ if v == null => null
    case LongType | TimestampType | TimestampNTZType => java.lang.Long.valueOf(v.toLong)
    case IntegerType | ShortType | ByteType => java.lang.Integer.valueOf(v.toInt)
    case DateType =>
      java.lang.Integer.valueOf(java.time.LocalDate.parse(v).toEpochDay.toInt)
    case DoubleType  => java.lang.Double.valueOf(v.toDouble)
    case FloatType   => java.lang.Float.valueOf(v.toFloat)
    case BooleanType => java.lang.Boolean.valueOf(v.toBoolean)
    case _           => v
  }

  private def partitionFromAvro(dt: DataType, v: Any): String = v match {
    case null => null
    case i: java.lang.Integer if dt == DateType =>
      java.time.LocalDate.ofEpochDay(i.toLong).toString
    case other => other.toString
  }

  // ---- writers ------------------------------------------------------

  private def writeAvro(fs: FileSystem, path: HPath, schema: Schema,
      meta: Map[String, String], records: Seq[GenericRecord]): Long = {
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    // production Iceberg writers compress manifests; deflate is in the
    // Avro core (no extra codec dependency)
    writer.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(1))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    val bos = new ByteArrayOutputStream()
    // DETERMINISTIC sync marker (Avro's default is time+random): derive
    // the 16 bytes from the schema + metadata + file name, so exporting
    // the same table twice emits byte-identical manifests — which makes
    // golden-bytes fixtures possible (IcebergExportSpec) and keeps
    // exports content-addressable. The marker only needs to be unlikely
    // to collide with record bytes; a SHA-1 prefix is as good as random.
    val sync = java.security.MessageDigest.getInstance("SHA-1")
      .digest((schema.toString + meta.toSeq.sorted.mkString(",") + path.getName)
        .getBytes("UTF-8")).take(16)
    writer.create(schema, bos, sync)
    records.foreach(writer.append)
    writer.close()
    val bytes = bos.toByteArray
    val out = fs.create(path, true)
    try out.write(bytes) finally out.close()
    bytes.length.toLong
  }

  private def kvRecords(itemSchema: Schema, m: Map[Int, Any]): java.util.List[GenericRecord] =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k); r.put("value", v)
      r: GenericRecord
    }.asJava

  /** Write one manifest (data or delete) as a spec `manifest_entry`
    * Avro file. `entries` carry the per-file values; bounds arrive as
    * stat strings keyed by field id and are binary-encoded here.
    * Returns the file length (the manifest-list needs it).
    */
  def writeManifest(fs: FileSystem, path: HPath,
      partitionFields: Seq[(String, DataType, Int)],
      idToType: Map[Int, DataType],
      content: String, // "data" | "deletes"
      entries: Seq[DecodedEntry],
      schemaJson: String, specJson: String,
      specId: Int = 0): Long = {
    val schema = manifestEntrySchema(partitionFields)
    val dfSchema = schema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    def mapItem(fieldName: String): Schema =
      dfSchema.getField(fieldName).schema().getTypes.get(1).getElementType
    val records = entries.map { e =>
      val df = new GenericData.Record(dfSchema)
      df.put("content", e.content)
      df.put("file_path", e.filePath)
      df.put("file_format", e.fileFormat)
      val part = new GenericData.Record(partSchema)
      partitionFields.foreach { case (n, dt, _) =>
        part.put(n, partitionToAvro(dt, e.partition.getOrElse(n, null)))
      }
      df.put("partition", part)
      df.put("record_count", e.rows)
      df.put("file_size_in_bytes", e.bytes)
      if (e.nulls.nonEmpty)
        df.put("null_value_counts",
          kvRecords(mapItem("null_value_counts"),
            e.nulls.map { case (k, v) => k -> (java.lang.Long.valueOf(v): Any) }))
      def bounds(m: Map[Int, String]): Map[Int, Any] =
        m.flatMap { case (fid, s) =>
          idToType.get(fid).map(dt => fid -> (encodeBound(dt, s): Any)) }
      if (e.lower.nonEmpty)
        df.put("lower_bounds", kvRecords(mapItem("lower_bounds"), bounds(e.lower)))
      if (e.upper.nonEmpty)
        df.put("upper_bounds", kvRecords(mapItem("upper_bounds"), bounds(e.upper)))
      if (e.equalityIds.nonEmpty)
        df.put("equality_ids", e.equalityIds.map(Integer.valueOf).asJava)
      val rec = new GenericData.Record(schema)
      rec.put("status", e.status)
      rec.put("snapshot_id", e.snapshotId)
      e.sequenceNumber.foreach(sq => rec.put("sequence_number", sq))
      rec.put("data_file", df)
      rec
    }
    writeAvro(fs, path, schema, Map(
      "schema" -> schemaJson,
      "partition-spec" -> specJson,
      "partition-spec-id" -> specId.toString,
      "format-version" -> "2",
      "content" -> content), records)
  }

  /** Write a snapshot's manifest list as a spec `manifest_file` Avro
    * file.
    */
  def writeManifestList(fs: FileSystem, path: HPath, snapshotId: Long,
      parentId: Long, sequenceNumber: Long, entries: Seq[MlEntry]): Unit = {
    val records = entries.map { e =>
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", e.manifestPath)
      r.put("manifest_length", e.manifestLength)
      r.put("partition_spec_id", e.partitionSpecId)
      r.put("content", e.content)
      r.put("sequence_number", e.sequenceNumber)
      r.put("min_sequence_number", e.minSequenceNumber)
      r.put("added_snapshot_id", e.addedSnapshotId)
      r.put("added_files_count", e.addedFilesCount)
      r.put("existing_files_count", e.existingFilesCount)
      r.put("deleted_files_count", e.deletedFilesCount)
      r.put("added_rows_count", e.addedRowsCount)
      r.put("existing_rows_count", e.existingRowsCount)
      r.put("deleted_rows_count", e.deletedRowsCount)
      r
    }
    writeAvro(fs, path, manifestFileSchema, Map(
      "snapshot-id" -> snapshotId.toString,
      "parent-snapshot-id" -> parentId.toString,
      "sequence-number" -> sequenceNumber.toString,
      "format-version" -> "2"), records)
    ()
  }

  // ---- readers ------------------------------------------------------

  private def readAvro(fs: FileSystem, path: HPath): Seq[GenericRecord] = {
    val len = fs.getFileStatus(path).getLen.toInt
    val in = fs.open(path)
    val buf = new Array[Byte](len)
    try in.readFully(0, buf) finally in.close()
    val reader = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(buf), new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toVector finally reader.close()
  }

  def readManifestList(fs: FileSystem, path: HPath): Seq[MlEntry] =
    readAvro(fs, path).map { r =>
      MlEntry(
        manifestPath = r.get("manifest_path").toString,
        manifestLength = r.get("manifest_length").asInstanceOf[Long],
        partitionSpecId = r.get("partition_spec_id").asInstanceOf[Int],
        content = r.get("content").asInstanceOf[Int],
        sequenceNumber = r.get("sequence_number").asInstanceOf[Long],
        minSequenceNumber = r.get("min_sequence_number").asInstanceOf[Long],
        addedSnapshotId = r.get("added_snapshot_id").asInstanceOf[Long],
        addedFilesCount = r.get("added_files_count").asInstanceOf[Int],
        existingFilesCount = r.get("existing_files_count").asInstanceOf[Int],
        deletedFilesCount = r.get("deleted_files_count").asInstanceOf[Int],
        addedRowsCount = r.get("added_rows_count").asInstanceOf[Long],
        existingRowsCount = r.get("existing_rows_count").asInstanceOf[Long],
        deletedRowsCount = r.get("deleted_rows_count").asInstanceOf[Long])
    }

  /** Read a manifest Avro file back to [[DecodedEntry]]s. `idToType`
    * drives the binary-bound decode; partition values re-spell via the
    * record's own schema shape.
    */
  def readManifest(fs: FileSystem, path: HPath,
      idToType: Map[Int, DataType]): Seq[DecodedEntry] =
    readAvro(fs, path).map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      val part = df.get("partition").asInstanceOf[GenericRecord]
      val partVals = part.getSchema.getFields.asScala.flatMap { f =>
        Option(partitionFromAvro(
          // the writer types date partition fields with logicalType
          // "date"; everything else round-trips via toString
          if (f.schema().getTypes.asScala.exists(s =>
            s.getLogicalType != null && s.getLogicalType.getName == "date"))
            DateType else StringType,
          part.get(f.name()))).map(v => f.name() -> v)
      }.toMap
      def kvs[T](name: String)(conv: Any => T): Map[Int, T] =
        Option(df.get(name)).map(_.asInstanceOf[java.util.List[GenericRecord]]
          .asScala.map(kv =>
            kv.get("key").asInstanceOf[Int] -> conv(kv.get("value"))).toMap)
          .getOrElse(Map.empty)
      def boundMap(name: String): Map[Int, String] =
        kvs(name)(identity).flatMap { case (fid, raw) =>
          idToType.get(fid).map(dt =>
            fid -> decodeBound(dt, raw.asInstanceOf[ByteBuffer]))
        }
      DecodedEntry(
        status = r.get("status").asInstanceOf[Int],
        snapshotId = Option(r.get("snapshot_id")).map(_.asInstanceOf[Long]).getOrElse(0L),
        // the spec's current name for field 3 is data_sequence_number
        // (renamed from v2's original sequence_number); accept either
        // so manifests from newer external writers decode too
        // (GenericRecord.get throws on a field name its schema lacks)
        sequenceNumber = Seq("sequence_number", "data_sequence_number")
          .find(r.getSchema.getField(_) != null).flatMap(n => Option(r.get(n)))
          .map(_.asInstanceOf[Long]),
        content = df.get("content").asInstanceOf[Int],
        filePath = df.get("file_path").toString,
        fileFormat = df.get("file_format").toString,
        partition = partVals,
        rows = df.get("record_count").asInstanceOf[Long],
        bytes = df.get("file_size_in_bytes").asInstanceOf[Long],
        lower = boundMap("lower_bounds"),
        upper = boundMap("upper_bounds"),
        nulls = kvs("null_value_counts")(_.asInstanceOf[Long]),
        equalityIds = Option(df.get("equality_ids"))
          .map(_.asInstanceOf[java.util.List[Any]].asScala
            .map(_.asInstanceOf[Int]).toSeq)
          .getOrElse(Seq.empty))
    }
}
