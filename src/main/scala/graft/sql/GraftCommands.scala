package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

import graft.lake.{DepSpec, Deps, GraftTable, MatView}

/** SQL DML commands for graft-managed tables (reference: the full
  * BasicCreateAndInsertTest flow — CREATE TABLE … USING parquet
  * OPTIONS(addTableManagement 'true', columnDependencies '…')
  * PARTITIONED BY (…), `insert into`, `insert overwrite table …
  * [partition (k='v')]` with source predicates; re-expressed as
  * RunnableCommands substituted at parse time by [[GraftSqlParser]]).
  */

/** Create-time validation shared by CREATE TABLE and CTAS — reject
  * malformed specs with a message at DDL time instead of a late
  * write-path failure (reference:
  * planning/IcebergTableValidationChecks.scala:63).
  */
object GraftCreateValidation {
  private val TransformRe = """identity|truncate\[\d+\]|s?bucket\[\d+\]|year|month|day|hour""".r

  def validate(schema: StructType, partitionCols: Seq[String], deps: Seq[DepSpec]): Unit = {
    deps.foreach { dep =>
      require(TransformRe.matches(dep.transform),
        s"unknown column-dependency transform '${dep.transform}' " +
          s"(expected identity, truncate[n], bucket[n], sbucket[n], year, month, day, hour)")
      require(schema.fieldNames.contains(dep.src),
        s"column-dependency source '${dep.src}' is not a table column " +
          s"(have: ${schema.fieldNames.mkString(", ")})")
      require(dep.dest != dep.src,
        s"column-dependency destination '${dep.dest}' cannot equal its source")
      // sbucket pruning re-evaluates Catalyst's Murmur3 on the driver
      // (Deps.sparkBucketOf), which only reconstructs internal values
      // for these types — reject others at DDL time rather than let a
      // later equality predicate on the source column hit the
      // unsupported-type path during scan planning
      if (dep.transform.startsWith("sbucket")) {
        val ok = schema(dep.src).dataType match {
          case IntegerType | LongType | ShortType | ByteType | DateType |
               TimestampType | TimestampNTZType | StringType => true
          case _ => false
        }
        require(ok,
          s"sbucket source column '${dep.src}' has unsupported type " +
            s"${schema(dep.src).dataType.simpleString} (supported: int, bigint, " +
            "smallint, tinyint, date, timestamp, timestamp_ntz, string)")
      }
    }
    val depDests = deps.map(_.dest).toSet
    partitionCols.foreach { p =>
      require(schema.fieldNames.contains(p) || depDests.contains(p),
        s"partition column '$p' is neither a table column nor a dependency destination")
    }
    deps.groupBy(_.dest).foreach { case (d, ds) =>
      require(ds.size == 1, s"duplicate column-dependency destination '$d'")
    }
  }

  def destType(dep: DepSpec, sch: StructType): DataType = {
    val src = sch(dep.src).dataType
    dep.transform match {
      case "identity"                         => src
      case t if t.startsWith("truncate")      => if (src == StringType) StringType else LongType
      case t if t.startsWith("bucket") || t.startsWith("sbucket") => IntegerType
      case "year" | "month" | "day" | "hour"  => IntegerType
      case other => throw new IllegalArgumentException(s"unknown transform $other")
    }
  }
}

/** CREATE TABLE — commits an empty snapshot-0 with the declared schema
  * (plus derived dependency columns) and registers the relation name.
  */
case class GraftCreateTableCommand(
    name: String,
    tableSchema: StructType,
    partitionCols: Seq[String],
    deps: Seq[DepSpec],
    location: Option[String]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    GraftCreateValidation.validate(tableSchema, partitionCols, deps)
    val root = location.getOrElse(s"/root/repo/target/lakework/sql-$name")
    val full = deps.foldLeft(tableSchema) { (sch, dep) =>
      if (sch.fieldNames.contains(dep.dest)) sch
      else StructType(sch.fields :+
        StructField(dep.dest, GraftCreateValidation.destType(dep, sch), nullable = true))
    }
    GraftTable.createEmpty(session, root, full, partitionCols, deps)
    GraftCatalog.register(name, root)
    GraftSparkBridge.register(session, name, root)
    Seq.empty
  }
}

/** CREATE TABLE … AS SELECT with table management — create + first
  * append in one snapshot (reference: CreateTableRules.scala:66-68,
  * CreateIcebergTableAsSelect). The SELECT supplies the declared
  * (non-derived) columns; derived dependency columns are materialized
  * by the write path.
  */
case class GraftCtasCommand(
    name: String,
    partitionCols: Seq[String],
    deps: Seq[DepSpec],
    location: Option[String],
    query: LogicalPlan) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val df = Shim.ofRows(session, query)
    GraftCreateValidation.validate(df.schema, partitionCols, deps)
    val root = location.getOrElse(s"/root/repo/target/lakework/sql-$name")
    GraftTable.create(session, root, df, partitionCols, deps)
    GraftCatalog.register(name, root)
    GraftSparkBridge.register(session, name, root)
    Seq.empty
  }
}

/** [CREATE OR] REPLACE TABLE … AS SELECT (A74): when the table exists,
  * ONE atomic history-preserving snapshot via [[GraftTable.replaceAs]]
  * — schema/partitioning/contents swap, time travel and rollback to
  * pre-replace state keep working; when it does not, falls back to
  * CTAS iff `OR CREATE` was written (plain REPLACE on a missing table
  * is an error, per the SQL standard split).
  */
case class GraftRtasCommand(
    name: String,
    partitionCols: Seq[String],
    deps: Seq[DepSpec],
    location: Option[String],
    query: LogicalPlan,
    orCreate: Boolean) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val df = Shim.ofRows(session, query)
    GraftCreateValidation.validate(df.schema, partitionCols, deps)
    GraftCatalog.lookup(name) match {
      case Some(root) =>
        new GraftTable(root, session).replaceAs(df, partitionCols, deps)
        // refresh the session-catalog entry: the schema changed
        GraftSparkBridge.register(session, name, root)
      case None =>
        if (!orCreate) throw new IllegalArgumentException(
          s"REPLACE TABLE $name: table does not exist — use CREATE OR REPLACE")
        val root = location.getOrElse(s"/root/repo/target/lakework/sql-$name")
        GraftTable.create(session, root, df, partitionCols, deps)
        GraftCatalog.register(name, root)
        GraftSparkBridge.register(session, name, root)
    }
    Seq.empty
  }
}

/** CREATE MATERIALIZED VIEW mv [LOCATION '…'] AS SELECT g…, agg… FROM
  * base GROUP BY g… (A77): the SELECT is delegate-parsed and its
  * unresolved Aggregate is pattern-matched into a [[MatView]] spec —
  * plain group columns plus aliased count/sum aggregates over ONE
  * graft relation; anything else (joins, expressions, other
  * aggregates) is refused with the reason, because only these fold
  * incrementally. The MV registers like any graft table, so SELECT
  * and the `$snapshots`/`$files` views work on it immediately.
  */
case class GraftCreateMatViewCommand(
    name: String, location: Option[String],
    query: LogicalPlan) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"CREATE MATERIALIZED VIEW $name: $msg")
    val (groupCols, aggs, baseName) = query match {
      case Aggregate(gs, items, r: UnresolvedRelation, _) =>
        val g = gs.map {
          case a: UnresolvedAttribute => a.nameParts.last
          case other => bad(s"GROUP BY must be plain columns, got $other")
        }
        val specs = items.flatMap {
          case _: UnresolvedAttribute => None // group-column passthrough
          case UnresolvedAlias(_: UnresolvedAttribute, _) => None
          case Alias(f: UnresolvedFunction, n) =>
            f.nameParts.map(_.toLowerCase) match {
              case Seq("count") => Some(MatView.AggSpec(n, "count", ""))
              case Seq("sum") => f.arguments match {
                case Seq(c: UnresolvedAttribute) =>
                  Some(MatView.AggSpec(n, "sum", c.nameParts.last))
                case other => bad(s"sum argument must be a plain column, got $other")
              }
              case other => bad(
                s"only count/sum fold incrementally, got ${other.mkString(".")}")
            }
          case other => bad("SELECT items must be group columns or " +
            s"aliased count/sum aggregates, got $other")
        }
        (g, specs, r.multipartIdentifier.mkString(".").toLowerCase)
      case _ => bad("the query must be SELECT <group cols + aliased " +
        "count/sum aggregates> FROM <one graft table> GROUP BY <cols>")
    }
    val baseRoot = GraftCatalog.lookup(baseName).getOrElse(
      bad(s"base $baseName is not a registered graft table"))
    val mvRoot = location.getOrElse(s"/root/repo/target/lakework/sql-mv-${name.replace('.', '_')}")
    MatView.create(session, mvRoot, new GraftTable(baseRoot, session), groupCols, aggs)
    GraftCatalog.register(name, mvRoot)
    GraftSparkBridge.register(session, name, mvRoot)
    Seq.empty
  }
}

/** REFRESH MATERIALIZED VIEW mv — fold the base's changes since the
  * last refresh ([[MatView.refresh]]); refreshes the session-catalog
  * mirror so CBO stats track the new contents.
  */
case class GraftRefreshMatViewCommand(name: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    require(t.properties.contains(MatView.BaseRootProp),
      s"$name is not a materialized view (no ${MatView.BaseRootProp} property)")
    MatView.refresh(session, root)
    GraftSparkBridge.register(session, name, root)
    Seq.empty
  }
}

/** INSERT INTO / INSERT OVERWRITE [PARTITION (k='v')] — hive positional
  * semantics: the query supplies the non-derived, non-static columns in
  * schema order; static partition values come from the PARTITION
  * clause.
  */
case class GraftInsertCommand(
    name: String,
    overwrite: Boolean,
    staticPartition: Map[String, String],
    query: LogicalPlan,
    // dynamic-partition overwrite (V2 `overwritePartitions()`): replace
    // exactly the partitions present in the incoming data
    dynamic: Boolean = false) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    val schema = t.schema
    val depDests = t.current.deps.map(_.dest).toSet
    val target = schema.fieldNames.toSeq
      .filterNot(depDests.contains).filterNot(staticPartition.contains)
    var df = Shim.ofRows(session, query)
    require(df.columns.length == target.length,
      s"INSERT arity ${df.columns.length} != expected ${target.length} (${target.mkString(",")})")
    df = df.toDF(target: _*)
      .select(target.map(n => col(n).cast(schema(n).dataType)): _*)
    val normSpec = staticPartition.map { case (k, v) =>
      k -> normalizeValue(v, schema(k).dataType) }
    normSpec.foreach { case (k, v) =>
      df = df.withColumn(k, lit(v).cast(schema(k).dataType)) }
    if (!overwrite) t.append(df)
    else if (normSpec.nonEmpty) t.overwritePartition(df, normSpec)
    else if (dynamic && t.current.partitionCols.nonEmpty) t.overwriteDynamic(df)
    else t.overwrite(df)
    Seq.empty
  }

  /** Align the PARTITION clause literal with the directory spelling the
    * writer produces (e.g. '09' on an int column → "9").
    */
  private def normalizeValue(v: String, dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => v.trim.toLong.toString
    case DoubleType | FloatType                        => v.trim.toDouble.toString
    case _                                             => v
  }
}

/** OPTIMIZE t [ZORDER BY (cols)] — bin-packing compaction, or Z-order
  * clustering when columns are given (reference capability surface via
  * SQL, like Delta/Iceberg's OPTIMIZE statement).
  */
case class GraftOptimizeCommand(
    name: String, zorderCols: Seq[String],
    where: Option[String] = None) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    // `write.target-file-size` table property overrides the 512 MiB default
    val target = t.properties.get("write.target-file-size")
      .map(_.toLong).getOrElse(512L << 20)
    // OPTIMIZE … WHERE (A89): partition-granular scope, validated and
    // evaluated against partition VALUES only (non-partition columns
    // refuse loudly inside partitionScope)
    val scope = where.map(org.apache.spark.sql.functions.expr)
    // maintenance folds pending merge-on-read deletes back into data
    // files first — the read-side anti-join tax ends at OPTIMIZE
    // (zorder full-rewrites read through the deletes, so it subsumes
    // the apply on its own). A scoped compact keeps the deletes of
    // out-of-scope partitions pending (their files are untouched).
    if (zorderCols.isEmpty) {
      if (scope.isEmpty) t.applyDeletes()
      t.optimizeCompact(targetBytes = target, where = scope)
    } else t.optimizeZOrder(zorderCols,
      nFiles = math.max(1, t.current.files.size / 2), where = scope)
    Seq.empty
  }
}

/** DESCRIBE TABLE t over a graft table: columns, then the partition
  * spec and dependency transforms the scan planner actually uses.
  */
case class GraftDescribeCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "col_name", org.apache.spark.sql.types.StringType, nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "data_type", org.apache.spark.sql.types.StringType, nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "comment", org.apache.spark.sql.types.StringType, nullable = true)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    val cur = t.current
    val cols = t.schema.fields.map(f =>
      Row(f.name, f.dataType.simpleString,
        cur.properties.get(s"comment.col.${f.name}").orNull)).toSeq
    val parts =
      if (cur.partitionCols.isEmpty) Seq.empty
      else Row("# Partition Information", "", null) +:
        cur.partitionCols.map(c => Row(c, "", "partition column"))
    val deps = cur.deps.map(dp =>
      Row(dp.dest, "", s"= ${dp.transform}(${dp.src})"))
    cols ++ parts ++ deps
  }
}

/** SHOW GRAFT TABLES — every registered (name, root) pair. */
case class GraftShowTablesCommand() extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "table_name", org.apache.spark.sql.types.StringType, nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "root", org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    GraftCatalog.entries.map { case (n, r) => Row(n, r) }
}

/** DESCRIBE DETAIL t (A79, Delta parity): one row of table-level
  * operational facts straight from the current manifest — O(metadata),
  * no data touched: format, location, column/partition shape, live
  * file count and bytes, logical row count (pending MOR deletes
  * subtracted), snapshot count, current id + operation, property
  * count. The numbers every ops runbook asks for first.
  */
/** DESCRIBE HISTORY t — Delta's history statement over the `$history`
  * lineage view (A90): snapshot id, parent, operation, and whether the
  * snapshot is an ancestor of the current head (parked WAP stages and
  * rolled-back branches read false). Pure manifest metadata.
  */
case class GraftDescribeHistoryCommand(name: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("snapshot_id", LongType, nullable = false)(),
    AttributeReference("parent_id", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("is_current_ancestor", BooleanType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    new GraftTable(root, session).historyView
      .orderBy(col("snapshot_id")).collect().toSeq
  }
}

case class GraftDescribeDetailCommand(name: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{LongType, StringType}
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("num_columns", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("num_snapshots", LongType, nullable = false)(),
    AttributeReference("current_snapshot_id", LongType, nullable = false)(),
    AttributeReference("last_operation", StringType, nullable = false)(),
    AttributeReference("num_properties", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    val cur = t.current
    Seq(Row("parquet", root, t.schema.fields.length.toLong,
      cur.partitionCols.mkString(","), cur.files.size.toLong,
      cur.files.map(_.bytes).sum, cur.totalRows - cur.deletedRows,
      t.snapshots.size.toLong, cur.id, cur.operation,
      cur.properties.size.toLong))
  }
}

/** RESTORE TABLE t TO VERSION AS OF n / TO TIMESTAMP AS OF 'ts'
  * (A81, Delta parity): roll the table back to an earlier snapshot as
  * a NEW commit — history is never rewritten, so the restore itself is
  * time-travelable and undoable. The timestamp form resolves to the
  * latest snapshot at-or-before the instant, exactly like read-time
  * `TIMESTAMP AS OF`.
  */
case class GraftRestoreCommand(
    name: String, version: Option[Long], timestamp: Option[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    val target = version.getOrElse {
      val ts = java.sql.Timestamp.valueOf(timestamp.get).getTime
      val hits = t.snapshots.filter(_.tsMillis <= ts)
      require(hits.nonEmpty,
        s"RESTORE $name: no snapshot at or before ${timestamp.get}")
      hits.maxBy(_.tsMillis).id
    }
    t.rollback(target)
    GraftSparkBridge.register(session, name, root)
    Seq.empty
  }
}

/** SHOW CREATE TABLE t — reconstruct the managed-table DDL from the
  * current snapshot (schema, partition spec, dependency option).
  */
case class GraftShowCreateCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "createtab_stmt", org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    val cur = t.current
    val depDests = cur.deps.map(_.dest).toSet
    val cols = t.schema.fields.filterNot(f => depDests.contains(f.name))
      .map(f => s"  ${f.name} ${f.dataType.sql}").mkString(",\n")
    val depOpt =
      if (cur.deps.isEmpty) ""
      else cur.deps.map(d => s"${d.src}=${d.dest}:${d.transform}")
        .mkString(", columnDependencies '", ",", "'")
    val partBy =
      if (cur.partitionCols.isEmpty) ""
      else cur.partitionCols.mkString("\nPARTITIONED BY (", ", ", ")")
    Seq(Row(
      s"""CREATE TABLE $name (
         |$cols)
         |USING parquet
         |OPTIONS (addTableManagement 'true', path '$root'$depOpt)$partBy""".stripMargin))
  }
}

/** SHOW TBLPROPERTIES t [('key')] over a graft table. */
case class GraftShowPropertiesCommand(
    name: String, key: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "key", org.apache.spark.sql.types.StringType, nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "value", org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val props = new GraftTable(root, session).properties
    key match {
      case Some(k) => props.get(k).map(v => Row(k, v)).toSeq
      case None    => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** ALTER TABLE t SET TBLPROPERTIES('k'='v', …) — one metadata-only
  * snapshot carrying all assignments.
  */
case class GraftSetPropertiesCommand(
    name: String, props: Map[String, String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    props.toSeq.sortBy(_._1).foreach { case (k, v) => t.setProperty(k, v) }
    Seq.empty
  }
}

/** ALTER TABLE t UNSET TBLPROPERTIES [IF EXISTS] ('k', …) — the
  * inverse of SET. All keys are validated against the current
  * properties BEFORE anything is applied (so a statement that names an
  * absent key without IF EXISTS fails whole, never half-applied — the
  * Spark/Delta DDL contract), then every present key is removed in ONE
  * set-properties snapshot.
  */
case class GraftUnsetPropertiesCommand(
    name: String, keys: Seq[String], ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    val have = t.properties
    val missing = keys.filterNot(have.contains)
    if (missing.nonEmpty && !ifExists) throw new IllegalArgumentException(
      s"UNSET TBLPROPERTIES: no property '${missing.min}' on graft table " +
        s"'$name' (use IF EXISTS to ignore)")
    val present = keys.filter(have.contains)
    if (present.nonEmpty) t.unsetProperties(present)
    Seq.empty
  }
}

/** ALTER TABLE t ADD CONSTRAINT name CHECK (pred) / DROP CONSTRAINT
  * name — Delta's constraint DDL, which Spark's parser has no grammar
  * for. ADD routes through [[graft.lake.GraftTable.addCheckConstraint]]
  * (DDL-time resolution + existing-data validation); the predicate is
  * then enforced on every write (A73).
  */
case class GraftConstraintCommand(
    name: String, constraint: String, predicate: Option[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    predicate match {
      case Some(p) => t.addCheckConstraint(constraint, p)
      case None    => t.dropCheckConstraint(constraint)
    }
    Seq.empty
  }
}

/** ALTER TABLE t REPARTITION BY (c1, …) — partition-spec evolution as
  * an explicit rewrite (see [[graft.lake.GraftTable.repartitionSpec]]).
  * Dep transforms ride the same `src=dest:transform` spelling as
  * CREATE's columnDependencies option.
  */
case class GraftRepartitionCommand(
    name: String, partitionCols: Seq[String], deps: Seq[graft.lake.DepSpec])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    new GraftTable(root, session).repartitionSpec(partitionCols, deps)
    GraftSparkBridge.refreshSchema(session, name)
    Seq.empty
  }
}

/** VACUUM t [RETAIN <id>] — expire snapshots below the floor (default:
  * everything but current), delete their orphaned files, then sweep
  * files no snapshot EVER referenced (lost commit races, crashed
  * writers' staging trees) past the safety grace period.
  */
case class GraftVacuumCommand(
    name: String, retainFrom: Option[Long]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    t.expire(keepFrom = retainFrom.getOrElse(t.currentId))
    // grace is operator-tunable per table; the default (24 h) plus the
    // structural in-flight guard keeps slow writers safe
    t.vacuumOrphans(t.properties.get(GraftTable.OrphanGraceProp)
      .map(_.toLong).getOrElse(GraftTable.DefaultOrphanGraceMillis))
    Seq.empty
  }
}

/** `CREATE TABLE <new> SHALLOW CLONE <src> [LOCATION '<path>']` —
  * Delta's clone DDL over [[GraftTable.cloneTo]]: a metadata-only
  * snapshot of the source's current state at a new root, registered
  * as an independent table. Zero data copied; see cloneTo for the
  * source-expiration contract.
  */
case class GraftCloneCommand(
    newName: String, srcName: String,
    location: Option[String], deep: Boolean = false) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val srcRoot = GraftCatalog.lookup(srcName).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $srcName"))
    require(GraftCatalog.lookup(newName).isEmpty,
      s"graft table already exists: $newName")
    val root = location.getOrElse(s"/root/repo/target/lakework/sql-$newName")
    new GraftTable(srcRoot, session).cloneTo(root, deep)
    GraftCatalog.register(newName, root)
    GraftSparkBridge.register(session, newName, root)
    Seq.empty
  }
}

/** ALTER TABLE t CREATE|DROP TAG|BRANCH — Iceberg's ref DDL. CREATE
  * defaults to the current snapshot; `AS OF VERSION n` pins an older
  * one. DROP refuses a kind mismatch (a tag cannot drop a branch) and
  * never deletes data — the unpinned snapshots merely become
  * expirable.
  */
case class GraftRefDdlCommand(
    name: String, create: Boolean, isBranch: Boolean,
    ref: String, asOf: Option[Long]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    if (create) {
      if (isBranch) t.branch(ref, asOf.getOrElse(-1L))
      else t.tag(ref, asOf.getOrElse(t.currentId))
    } else if (isBranch) t.dropBranch(ref)
    else t.dropTag(ref)
    Seq.empty
  }
}

/** ALTER TABLE t FAST FORWARD b — main adopts branch b's lineage
  * (refused when histories diverged; see [[GraftTable.fastForward]]).
  */
case class GraftFastForwardCommand(
    name: String, ref: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    new GraftTable(root, session).fastForward(ref)
    Seq.empty
  }
}

/** DROP TABLE t — unregister and remove the managed table's data and
  * metadata (hive managed-table semantics).
  */
case class GraftDropTableCommand(name: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftCatalog.lookup(name).foreach { root =>
      // Hadoop FS, not java.nio: on an object-store/HDFS root the
      // latter silently no-ops, unregistering the table while
      // orphaning its entire dataset
      val rootP = new org.apache.hadoop.fs.Path(root)
      val hfs = rootP.getFileSystem(session.sparkContext.hadoopConfiguration)
      if (hfs.exists(rootP)) hfs.delete(rootP, true)
    }
    GraftCatalog.unregister(name)
    GraftSparkBridge.unregister(session, name)
    Seq.empty
  }
}

/** ALTER TABLE t ADD COLUMNS (c type [DEFAULT expr], …) — metadata-only
  * schema evolution; existing files read the new columns as null, or
  * as the initial default when one is declared
  * ([[graft.lake.GraftTable.addColumnWithDefault]]).
  */
case class GraftAddColumnsCommand(
    name: String, cols: Seq[(String, DataType, Option[String])])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    cols.foreach {
      case (c, dt, Some(d)) => t.addColumnWithDefault(c, dt, d)
      case (c, dt, None)    => t.addColumn(c, dt)
    }
    GraftSparkBridge.refreshSchema(session, name)
    Seq.empty
  }
}

/** ALTER TABLE t DROP COLUMN c — metadata-only schema evolution
  * ([[graft.lake.GraftTable.dropColumn]]).
  */
case class GraftDropColumnsCommand(
    name: String, cols: Seq[String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    cols.foreach(t.dropColumn)
    GraftSparkBridge.refreshSchema(session, name)
    Seq.empty
  }
}

/** ALTER TABLE t RENAME COLUMN a TO b — metadata-only via the frozen
  * physical-name mapping ([[graft.lake.GraftTable.renameColumn]]).
  */
case class GraftRenameColumnCommand(
    name: String, from: String, to: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    new GraftTable(root, session).renameColumn(from, to)
    GraftSparkBridge.refreshSchema(session, name)
    Seq.empty
  }
}

/** ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS …|FOR ALL COLUMNS]
  * — one distributed HLL pass persisting `stats.ndv.<col>` properties
  * ([[graft.lake.GraftTable.analyzeNdv]]). Basic statistics (rowCount,
  * sizeInBytes, per-column min/max/nulls) are already manifest-exact on
  * every scan, so NDV is the only thing an ANALYZE can add here.
  */
case class GraftAnalyzeCommand(
    name: String, cols: Seq[String], noScan: Boolean = false)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    // NOSCAN's contract is "no data pass" — basic stats are manifest-
    // exact already, so the mirror refresh IS the whole job
    if (!noScan) new GraftTable(root, session).analyzeNdv(cols)
    GraftSparkBridge.refreshSchema(session, name)
    Seq.empty
  }
}

/** ALTER TABLE t ALTER COLUMN c TYPE <wider> — metadata-only type
  * widening ([[graft.lake.GraftTable.widenColumn]]); non-widening
  * changes are refused there.
  */
case class GraftWidenColumnCommand(
    name: String, cols: Seq[(String, DataType)]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    cols.foreach { case (c, dt) => t.widenColumn(c, dt) }
    GraftSparkBridge.refreshSchema(session, name)
    Seq.empty
  }
}

/** ALTER TABLE t ALTER COLUMN c SET NOT NULL / DROP NOT NULL — NOT
  * NULL constraints ([[graft.lake.GraftTable.setColumnNullability]]):
  * SET proves existing compliance metadata-first (footer null counts /
  * partition values; only stats-less files pay a narrow scan), writes
  * enforce afterwards in the single writeFiles funnel. All columns
  * validate BEFORE any snapshot commits, so a failed multi-column
  * statement leaves the table untouched (the UNSET TBLPROPERTIES
  * atomicity rule).
  */
case class GraftSetNullabilityCommand(
    name: String, cols: Seq[(String, Boolean)]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    cols.foreach { case (c, _) =>
      require(t.schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"no column $c on table $name") }
    // prove compliance for EVERY tightened column before the first
    // commit — a failed multi-column statement leaves the table untouched
    cols.foreach { case (c, nullable) => if (!nullable) t.validateNoNulls(c) }
    cols.foreach { case (c, nullable) =>
      t.setColumnNullability(c, nullable, preValidated = true) }
    GraftSparkBridge.refreshSchema(session, name)
    Seq.empty
  }
}

/** DELETE FROM t [WHERE pred] — one snapshot delete
  * ([[graft.lake.GraftTable.delete]]: metadata-only for a partition-
  * exact predicate, else copy-on-write or merge-on-read as the table's
  * `write.delete.mode` says). The predicate is carried as an
  * opaque [[org.apache.spark.sql.Column]] (not an Expression field):
  * a LeafRunnableCommand has no children, so the analyzer would
  * otherwise fail to resolve the predicate's attributes — it is
  * resolved against the snapshot scan inside `delete` at run time.
  */
case class GraftDeleteCommand(
    name: String,
    condition: Option[org.apache.spark.sql.Column])
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    condition match {
      case Some(c) => t.delete(c)
      case None    => t.truncate() // unconditional: metadata-only
    }
    Seq.empty
  }
}

/** A84: Iceberg-parity maintenance PROCEDURES — `CALL [cat.]system.
  * <proc>(args)` (reference ecosystem surface: Iceberg ships table
  * maintenance as Spark procedures; graft's DDL spellings OPTIMIZE/
  * VACUUM/RESTORE stay, this is the procedural spelling of the same
  * machinery). Args are positional or Iceberg-style named
  * (`table => 't'`); every procedure returns one row of
  * (procedure, previous_snapshot_id, current_snapshot_id, detail)
  * like Iceberg's procedure result sets.
  */
case class GraftCallCommand(
    proc: String, args: Seq[(Option[String], String)])
    extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "procedure", org.apache.spark.sql.types.StringType, nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "previous_snapshot_id", org.apache.spark.sql.types.LongType, nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "current_snapshot_id", org.apache.spark.sql.types.LongType, nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "detail", org.apache.spark.sql.types.StringType, nullable = false)())

  private def arg(pos: Int, name: String): Option[String] =
    args.collectFirst { case (Some(n), v) if n == name => v }
      .orElse(args.lift(pos).collect { case (None, v) => v })
  private def required(pos: Int, name: String): String =
    arg(pos, name).getOrElse(throw new IllegalArgumentException(
      s"CALL system.$proc: missing argument '$name' (position ${pos + 1})"))

  override def run(session: SparkSession): Seq[Row] = {
    val tname = required(0, "table").toLowerCase
    val root = GraftCatalog.lookup(tname).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $tname"))
    val t = new GraftTable(root, session)
    val prev = t.currentId
    val detail = proc.toLowerCase match {
      case "rollback_to_snapshot" =>
        val id = required(1, "snapshot_id").toLong
        t.rollback(id); s"rolled back to snapshot $id"
      case "expire_snapshots" =>
        val keep = arg(1, "keep_from").map(_.toLong).getOrElse(t.currentId)
        val removed = t.expire(keepFrom = keep)
        s"expired snapshots below $keep, removed ${removed.size} data files"
      case "remove_orphan_files" =>
        val grace = arg(1, "older_than_millis").map(_.toLong)
          .orElse(t.properties.get(GraftTable.OrphanGraceProp).map(_.toLong))
          .getOrElse(GraftTable.DefaultOrphanGraceMillis)
        val removed = t.vacuumOrphans(grace)
        s"removed ${removed.size} orphan files"
      case "rewrite_position_delete_files" =>
        // position→dv conversion (Iceberg v3 procedure parity): swap
        // pending position-delete files for per-file deletion vectors
        val before = t.current.deleteFiles.count(GraftTable.isPosition)
        t.convertDeletesToDv()
        s"converted $before position-delete file(s) to deletion vectors"
      case "rewrite_data_files" =>
        // maintenance folds pending MOR deletes first, like OPTIMIZE
        t.applyDeletes()
        val target = t.properties.get("write.target-file-size")
          .map(_.toLong).getOrElse(512L << 20)
        t.optimizeCompact(targetBytes = target); "compacted"
      case "cherrypick_snapshot" =>
        val id = required(1, "snapshot_id").toLong
        val pub = t.publishCherryPick(id); s"published staged $id as $pub"
      case "fast_forward" =>
        val b = required(1, "branch")
        t.fastForward(b); s"fast-forwarded main to branch '$b'"
      case "recover_txns" =>
        // roll forward crashed multi-table transactions this table
        // coordinates (A93 — see GraftTxn.recover)
        val nRec = graft.lake.GraftTxn.recover(session, root)
        s"rolled forward $nRec transaction(s)"
      case other => throw new IllegalArgumentException(
        s"unknown procedure system.$other (supported: rollback_to_snapshot, " +
          "expire_snapshots, remove_orphan_files, rewrite_data_files, " +
          "rewrite_position_delete_files, cherrypick_snapshot, fast_forward, " +
          "recover_txns)")
    }
    val cur = new GraftTable(root, session).currentId
    Seq(Row(proc.toLowerCase, prev, cur, detail))
  }
}

/** A86: `COMMENT ON TABLE t IS '…'` / `COMMENT ON COLUMN t.c IS '…'`
  * — documentation DDL (Spark/Delta/Iceberg parity). Comments live in
  * the table-properties plane (`comment` / `comment.col.<name>`), so a
  * comment is one metadata-only set-properties snapshot: versioned,
  * time-travelable, visible through `$properties`, `SHOW
  * TBLPROPERTIES`, and `DESCRIBE TABLE`'s comment column. `IS NULL`
  * clears. Unknown columns refused loudly.
  */
case class GraftCommentCommand(
    name: String, column: Option[String], text: Option[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    val key = column match {
      case Some(c) =>
        // Case-insensitive resolution (Spark's default), stored under
        // the schema's canonical spelling so $properties has one key
        // per column however the DDL was typed.
        val canonical = t.schema.fieldNames.find(_.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"COMMENT ON COLUMN: no column '$c' on graft table '$name' " +
              s"(have: ${t.schema.fieldNames.mkString(", ")})"))
        s"comment.col.$canonical"
      case None => "comment"
    }
    text match {
      case Some(v) => t.setProperty(key, v)
      case None    => t.unsetProperty(key)
    }
    Seq.empty
  }
}

/** TRUNCATE TABLE t — metadata-only snapshot with an empty file set. */
case class GraftTruncateCommand(name: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    new GraftTable(root, session).truncate()
    Seq.empty
  }
}

/** UPDATE t SET c = expr[, …] [WHERE pred] — one snapshot update
  * ([[graft.lake.GraftTable.update]]: copy-on-write or merge-on-read as
  * the table's `write.update.mode` says). Assignments and predicate are
  * carried as opaque Columns (resolved against the snapshot scan at
  * run time, see [[GraftDeleteCommand]]).
  */
case class GraftUpdateCommand(
    name: String,
    set: Seq[(String, org.apache.spark.sql.Column)],
    condition: Option[org.apache.spark.sql.Column])
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    t.update(condition.getOrElse(lit(true)), set.toMap)
    Seq.empty
  }
}

/** MERGE … WHEN MATCHED THEN DELETE — the deletion-list form
  * ([[graft.lake.GraftTable.mergeDelete]]).
  */
case class GraftMergeDeleteCommand(
    name: String,
    keyCols: Seq[String],
    source: LogicalPlan) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    new GraftTable(root, session)
      .mergeDelete(Shim.ofRows(session, source), keyCols)
    Seq.empty
  }
}

/** MERGE INTO t USING src ON t.k = src.k WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT * — the canonical upsert form, mapped
  * onto [[graft.lake.GraftTable.merge]] (source-key-bounds file
  * pruning; copy-on-write or merge-on-read as the table's
  * `write.merge.mode` says). The source query supplies the table's
  * non-derived columns positionally (hive semantics, as with INSERT).
  */
case class GraftMergeCommand(
    name: String,
    keyCols: Seq[String],
    source: LogicalPlan) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val root = GraftCatalog.lookup(name).getOrElse(
      throw new IllegalArgumentException(s"graft table not registered: $name"))
    val t = new GraftTable(root, session)
    val schema = t.schema
    val depDests = t.current.deps.map(_.dest).toSet
    val target = schema.fieldNames.toSeq.filterNot(depDests.contains)
    var df = Shim.ofRows(session, source)
    require(df.columns.length == target.length,
      s"MERGE source arity ${df.columns.length} != expected ${target.length} (${target.mkString(",")})")
    df = df.toDF(target: _*)
      .select(target.map(n => col(n).cast(schema(n).dataType)): _*)
    keyCols.foreach(k => require(target.contains(k), s"unknown merge key $k"))
    t.merge(df, keyCols)
    Seq.empty
  }
}
