package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{FileEntry, Pruning, Snapshot}

/** A [[FileIndex]] that plans scans *entirely from a graft snapshot
  * manifest* — no filesystem listing, ever (reference:
  * IceTableScanExec.scala plans from Iceberg manifests). Catalyst
  * pushes partition + data filters into `listFiles`, where graft's
  * pruning runs: partition-value tests, column-dependency inference,
  * and parquet-footer min/max skipping. At 100 TB this is the entire
  * point of table metadata: planning cost is O(#files in manifest)
  * with zero object-store LIST/HEAD calls, and file sizes come from
  * the manifest so split planning needs no getFileStatus either.
  */
class GraftFileIndex(
    spark: SparkSession,
    val tableRoot: String,
    val snapshot: Snapshot,
    fullSchema: StructType) extends FileIndex {

  // ONLY the declared partition columns ride the directory row: a dep
  // dest that is not a partition column is materialized into the data
  // pages by the write path (its footer stats still prune), and putting
  // it in partitionSchema would make Spark read a per-file value that
  // no directory provides.
  private val partCols: Seq[String] = snapshot.partitionCols
  private val partFields = partCols.flatMap(c => fullSchema.fields.find(_.name == c))

  override val partitionSchema: StructType = StructType(partFields)

  override def rootPaths: Seq[Path] = Seq(new Path(s"$tableRoot/data"))

  override def inputFiles: Array[String] =
    snapshot.files.map(f => graft.lake.GraftTable.resolveEntry(tableRoot, f.path)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = snapshot.files.map(_.bytes).sum

  // the last listing and its key (the filters, and the session time
  // zone temporal partition values parse in): a global aggregate's
  // planning (GraftLocalAggStrategy) lists to size its read, and when it
  // keeps the normal plan that plan's scan asks again with the same key
  @volatile private var lastListing: Option[(Any, Seq[PartitionDirectory])] = None

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val key = (partitionFilters, dataFilters,
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    lastListing.collect { case (k, dirs) if k == key => dirs }.getOrElse {
      val dirs = prune(partitionFilters, dataFilters)
      lastListing = Some((key, dirs))
      dirs
    }
  }

  private def prune(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val cs0 = (partitionFilters ++ dataFilters)
      .map(Pruning.extract)
      .foldLeft(Map.empty[String, Pruning.Constraint]) { (acc, m) =>
        (acc.keySet ++ m.keySet).map { k =>
          (acc.get(k), m.get(k)) match {
            case (Some(a), Some(b)) => k -> a.and(b)
            case (a, b)             => k -> a.orElse(b).get
          }
        }.toMap
      }
    val types: Map[String, DataType] =
      fullSchema.fields.map(f => f.name -> f.dataType).toMap
    val cs = Pruning.inferThroughDeps(cs0, snapshot.deps, types)
    val survivors =
      if (cs.values.exists(_.impossible)) Seq.empty[FileEntry]
      else snapshot.files.filter(Pruning.fileSurvives(_, cs, types))

    // Partition filters MUST be applied exactly: Catalyst removes
    // row-level predicates on partition columns from the physical plan
    // and trusts the FileIndex to enforce them (the conservative
    // extractor above only accelerates; it never decides). Same
    // name-bound interpreted evaluation as Spark's own
    // PartitioningAwareFileIndex.prunePartitions.
    val exactPartPred = partitionFilters.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And(_, _)).map { p =>
      org.apache.spark.sql.catalyst.expressions.Predicate.createInterpreted(
        p.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            val i = partFields.indexWhere(_.name == a.name)
            require(i >= 0, s"partition filter references non-partition column ${a.name}")
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, partFields(i).dataType, nullable = true)
        })
    }

    survivors.groupBy(_.partition).flatMap { case (pvals, files) =>
      val row = InternalRow.fromSeq(partFields.map { f =>
        val raw = pvals.getOrElse(f.name,
          throw new IllegalStateException(s"file missing partition value ${f.name}"))
        castPartitionValue(raw, f.dataType)
      })
      if (!exactPartPred.forall(_.eval(row))) None
      else Some(PartitionDirectory(row, files.map(fe =>
        new FileStatus(fe.bytes, false, 1, 128L * 1024 * 1024, snapshot.tsMillis,
          new Path(graft.lake.GraftTable.resolveEntry(tableRoot, fe.path)))).toArray))
    }.toSeq
  }

  private def castPartitionValue(raw: String, dt: DataType): Any =
    GraftFileIndex.castPartitionValue(raw, dt)
}

object GraftFileIndex {

  /** Hive null sentinel → null (the exact partition predicate evaluates
    * three-valued against it); a bare toLong here would throw on any
    * table that ever wrote a null partition value, bricking all reads.
    * Shared with [[graft.sql.GraftMetaAggRule]], whose exact per-file
    * partition-predicate evaluation must agree with `listFiles` exactly.
    */
  def castPartitionValue(raw: String, dt: DataType): Any =
    if (raw == Pruning.HiveNullPartition) null
    else dt match {
      case org.apache.spark.sql.types.LongType    => raw.toLong
      case org.apache.spark.sql.types.IntegerType => raw.toInt
      case org.apache.spark.sql.types.ShortType   => raw.toShort
      case org.apache.spark.sql.types.ByteType    => raw.toByte
      case org.apache.spark.sql.types.DoubleType  => raw.toDouble
      case org.apache.spark.sql.types.FloatType   => raw.toFloat
      case org.apache.spark.sql.types.BooleanType => raw.toBoolean
      // temporal partition columns: the dir value is the unescaped
      // Spark-written string ("2024-01-05", "2024-01-05 12:30:00") and
      // the internal value MUST be days/micros — a UTF8String fallback
      // here poisons the vectorized reader's partition-column populate
      // (ClassCastException on every read of a date-partitioned table).
      // Timestamp strings are interpreted in the session timezone, the
      // same convention Spark's own PartitioningUtils applies.
      case org.apache.spark.sql.types.DateType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToDate(UTF8String.fromString(raw)).getOrElse(
            throw new IllegalArgumentException(
              s"unparseable DATE partition value: $raw"))
      case org.apache.spark.sql.types.TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestamp(UTF8String.fromString(raw),
            org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
              org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          .getOrElse(throw new IllegalArgumentException(
            s"unparseable TIMESTAMP partition value: $raw"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestampWithoutTimeZone(UTF8String.fromString(raw))
          .getOrElse(throw new IllegalArgumentException(
            s"unparseable TIMESTAMP_NTZ partition value: $raw"))
      case _                                      => UTF8String.fromString(raw)
    }

  /** DataFrame over a snapshot, planned by [[GraftFileIndex]]. */
  def relation(
      spark: SparkSession, tableRoot: String, snapshot: Snapshot): DataFrame =
    relation(spark, tableRoot, snapshot, isStreaming = false)

  /** `isStreaming = true` produces the relation a streaming Source's
    * getBatch must return (the plan is spliced into the micro-batch).
    */
  def relation(
      spark: SparkSession, tableRoot: String, snapshot: Snapshot,
      isStreaming: Boolean): DataFrame =
    relation(spark, tableRoot, snapshot, isStreaming, withRowPos = false)

  /** `withRowPos = true` appends the scan's physical row coordinates —
    * `_graft_file` (file basename) and `_graft_pos` (row index within
    * the file) from the parquet `_metadata` column — which is what
    * merge-on-read deletes key on. Selected here, at the
    * relation root, because `_metadata` does not survive an
    * intervening projection.
    */
  def relation(
      spark: SparkSession, tableRoot: String, snapshot: Snapshot,
      isStreaming: Boolean, withRowPos: Boolean): DataFrame = {
    val fullSchema = DataType.fromJson(snapshot.schemaJson).asInstanceOf[StructType]
    // the relation is built over the frozen on-disk (physical) names —
    // renamed columns are aliased back to their logical names below, so
    // files written before and after a rename read through one schema
    val physSchema = StructType(
      fullSchema.fields.map(f => f.copy(name = graft.lake.GraftTable.physicalName(f))))
    val index = new GraftFileIndex(spark, tableRoot, snapshot, physSchema)
    val dataSchema = StructType(
      physSchema.fields.filterNot(f => index.partitionSchema.fieldNames.contains(f.name)))
    // Storage-partitioned joins (SURVEY.md §2.A64): a table partitioned
    // on an `sbucket[n]` dest can claim a V1 BucketSpec on the SOURCE
    // column — sbucket's hash is bit-for-bit HashPartitioning's
    // partitionIdExpression, so FileSourceScanExec's claimed
    // HashPartitioning(src, n) is truthful and joins/aggregations on
    // src skip their shuffle entirely. Claimed only when EVERY manifest
    // file proves consistent (name-encoded bucket id == its partition
    // value, in range): files adopted/compacted before the sbucket era,
    // or written under an older spec, downgrade the claim rather than
    // silently landing in the wrong bucket (createBucketedReadRDD drops
    // out-of-range ids on the floor). O(#files) driver-side string
    // parses — manifest-scale work, no I/O.
    val bucketSpec: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
      snapshot.deps.collectFirst {
        case dp if graft.lake.Deps.sparkBucketN(dp.transform).isDefined &&
          snapshot.partitionCols.contains(dp.dest) =>
          (dp, graft.lake.Deps.sparkBucketN(dp.transform).get)
      }.flatMap { case (dp, n) =>
        val srcPhys = fullSchema.fields.find(_.name == dp.src)
          .map(f => graft.lake.GraftTable.physicalName(f))
        val consistent = snapshot.files.forall { f =>
          val claimed = f.partition.get(dp.dest)
            .flatMap(v => scala.util.Try(v.toInt).toOption)
          val parsed = Shim.parseBucketId(new Path(f.path).getName)
          claimed.isDefined && parsed == claimed &&
            claimed.get >= 0 && claimed.get < n
        }
        srcPhys match {
          case Some(sp) if consistent && dataSchema.fieldNames.contains(sp) =>
            Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(n, Seq(sp), Nil))
          case _ => None
        }
      }
    val fsRelation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark.asInstanceOf[ClassicSession])
    // manifest statistics ride a stats-only CatalogTable (no
    // graftRoot/graftName markers — this is NOT a registration):
    // LogicalRelation.computeStats consults catalogTable.stats, so
    // every manifest-planned scan hands CBO its exact rowCount and
    // column min/max/nulls/NDV without an ANALYZE pass. Keyed by the
    // relation's physical names; the aliasing Project below propagates
    // them to logical names (ProjectEstimation alias handling).
    val statsTable = org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        s"graft_scan_${Integer.toHexString(tableRoot.hashCode)}"),
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty,
      schema = physSchema,
      provider = Some("parquet"),
      stats = Some(graft.lake.ManifestStats.forSnapshot(
        tableRoot, snapshot, physicalKeys = true)))
    val plan = LogicalRelation(fsRelation, isStreaming)
      .copy(catalogTable = Some(statsTable))
    // declared schema order (partition cols land last in the relation
    // output otherwise) + physical → logical aliasing
    val cols = fullSchema.fields.toSeq.map { f =>
      org.apache.spark.sql.functions.col(graft.lake.GraftTable.physicalName(f)).as(f.name)
    } ++ (if (!withRowPos) Seq.empty else Seq(
      org.apache.spark.sql.functions.col("_metadata.file_name").as(PosFileCol),
      org.apache.spark.sql.functions.col("_metadata.row_index").as(PosIdxCol)))
    Shim.ofRows(spark, plan).select(cols: _*)
  }

  /** Row-coordinate column names emitted by `withRowPos = true`. */
  val PosFileCol = "_graft_file"
  val PosIdxCol = "_graft_pos"
}
