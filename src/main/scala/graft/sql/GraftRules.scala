package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType, UnresolvedCatalogRelation}
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Shim

import graft.lake.GraftTable

/** Analyzer-level integration with Spark's OWN catalog and write path
  * (reference: planning/CreateTableRules.scala registers managed tables
  * in the session catalog; planning/IcebergTableWriteRule.scala:21-41
  * rewrites `InsertIntoHadoopFsRelationCommand` into snapshot-creating
  * inserts). The graft parser only sees SQL text; these rules close the
  * two API-side gaps a real user hits on day one:
  *
  *  1. `spark.table("t")`, `df.write.insertInto("t")`,
  *     `saveAsTable` — plans built programmatically never pass through
  *     the parser. [[GraftRelationRule]] resolves graft relations
  *     (by registry name, or by the `graftRoot` marker on a session-
  *     catalog entry) to the manifest-planned snapshot scan, and
  *     rewrites `InsertIntoStatement` over them into
  *     [[GraftInsertCommand]].
  *  2. `df.write.parquet(root + "/data")` — a PATH write into a
  *     managed table's data directory would add files behind the
  *     manifest's back (readers would never see them, VACUUM would
  *     delete them). [[GraftWriteInterceptRule]] rewrites the planned
  *     `InsertIntoHadoopFsRelationCommand` into a snapshot-creating
  *     [[GraftPathWriteCommand]]; writes into the table root or meta
  *     dir fail loudly.
  */
case class GraftRelationRule(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftRelationRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    // INSERT built via API (DataFrameWriter.insertInto / saveAsTable
    // append): rewrite before the bare-relation cases below would turn
    // the target into a scan
    case ins: InsertIntoStatement if graftNameOf(ins.table).isDefined =>
      val static = ins.partitionSpec.collect { case (k, Some(v)) => k -> v }
      GraftInsertCommand(graftNameOf(ins.table).get, ins.overwrite, static, ins.query)
    // ---- DSv2 catalog path (graft_cat.db.t) — rewrite writes FIRST
    // (parent nodes), then bare relations, so an INSERT target is never
    // turned into a scan underneath its write node
    case ins: InsertIntoStatement if v2Table(ins.table).isDefined =>
      val static = ins.partitionSpec.collect { case (k, Some(v)) => k -> v }
      GraftInsertCommand(v2Table(ins.table).get.registryName, ins.overwrite, static, ins.query)
    case a: org.apache.spark.sql.catalyst.plans.logical.AppendData
        if v2Table(a.table).isDefined =>
      GraftInsertCommand(v2Table(a.table).get.registryName,
        overwrite = false, Map.empty, a.query)
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
        if v2Table(o.table).isDefined =>
      // full-table overwrite ONLY when the delete condition is the
      // trivial `true` — mapping a conditional overwrite to
      // t.overwrite(df) would silently delete every row OUTSIDE the
      // condition too
      o.deleteExpr match {
        case org.apache.spark.sql.catalyst.expressions.Literal(true, _) =>
          GraftInsertCommand(v2Table(o.table).get.registryName,
            overwrite = true, Map.empty, o.query)
        case cond => throw new UnsupportedOperationException(
          s"graft V2 overwrite supports only the full-table form (condition `true`), " +
            s"got condition $cond — use overwritePartition / overwriteDynamic / DELETE+append")
      }
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic
        if v2Table(o.table).isDefined =>
      GraftInsertCommand(v2Table(o.table).get.registryName,
        overwrite = true, Map.empty, o.query, dynamic = true)
    case d: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if d.table.isInstanceOf[GraftV2Table] =>
      // the V2 relation is already RESOLVED (parents hold its exprIds),
      // so the substituted scan must present the same ids — alias each
      // fresh scan attribute back to the relation's original exprId
      scanAs(session, d.table.asInstanceOf[GraftV2Table].root, d.output)
    // spark.table("t") with t registered only in the graft registry
    case u: UnresolvedRelation if registryName(u.multipartIdentifier).isDefined =>
      scan(session, GraftCatalog.lookup(registryName(u.multipartIdentifier).get).get)
    // spark.table("t") resolved through the SESSION catalog entry that
    // [[GraftSparkBridge.register]] created (before or after Spark's
    // FindDataSourceTable converts it — the fixpoint order varies)
    case u: UnresolvedCatalogRelation if rootOf(u.tableMeta).isDefined =>
      scan(session, rootOf(u.tableMeta).get)
    case l: LogicalRelation if l.catalogTable.flatMap(rootOf).isDefined =>
      scan(session, l.catalogTable.flatMap(rootOf).get)
  }
}

object GraftRelationRule {

  private def scan(session: SparkSession, root: String): LogicalPlan =
    // manifest statistics (exact rowCount + column stats) already ride
    // the scan's LogicalRelation — attached inside
    // GraftFileIndex.relation so every read path gets them
    Shim.logicalPlan(new GraftTable(root, session).read())

  /** [[scan]] whose output attributes carry the given (already-bound)
    * exprIds — for substituting a relation that parents have resolved
    * against.
    */
  private def scanAs(
      session: SparkSession, root: String,
      out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val plan = scan(session, root)
    val byName = plan.output.map(a => a.name.toLowerCase -> a).toMap
    Project(out.map { o =>
      val src = byName.getOrElse(o.name.toLowerCase,
        throw new IllegalStateException(s"graft scan of $root lacks column ${o.name}"))
      Alias(src, o.name)(exprId = o.exprId)
    }, plan)
  }

  /** graftRoot marker of a session-catalog table created by
    * [[GraftSparkBridge.register]].
    */
  private def rootOf(ct: CatalogTable): Option[String] =
    ct.properties.get("graftRoot").orElse(ct.storage.properties.get("graftRoot"))

  /** The [[GraftV2Table]] behind a (possibly aliased) V2 relation. */
  private def v2Table(plan: LogicalPlan): Option[GraftV2Table] = plan match {
    case SubqueryAlias(_, child) => v2Table(child)
    case d: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      d.table match { case g: GraftV2Table => Some(g); case _ => None }
    case _ => None
  }

  private def registryName(parts: Seq[String]): Option[String] =
    if (parts.isEmpty || parts.length > 2 || parts.last.contains("$")) None
    else Some(parts.map(_.toLowerCase).mkString("."))
      .filter(n => GraftCatalog.lookup(n).isDefined)

  /** Registered graft name behind an INSERT target in any of its
    * analyzer-stage shapes.
    */
  private def graftNameOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => graftNameOf(child)
    case u: UnresolvedRelation   => registryName(u.multipartIdentifier)
    case u: UnresolvedCatalogRelation =>
      u.tableMeta.properties.get("graftName")
    case l: LogicalRelation =>
      l.catalogTable.flatMap(_.properties.get("graftName"))
    case _ => None
  }
}

/** Mirror a graft table into Spark's session catalog so the engine's
  * own surfaces see it: `spark.table`, `SHOW TABLES`, `DESCRIBE`,
  * `saveAsTable` (reference: CreateTableRules.scala:24-69 registers a
  * CatalogTable with the management options). The entry is a plain
  * parquet EXTERNAL table at `<root>/data` carrying `graftRoot` /
  * `graftName` markers; [[GraftRelationRule]] swaps any resolution of
  * it for the manifest-planned snapshot scan, so the catalog entry is
  * discovery metadata — never the read path.
  */
object GraftSparkBridge {

  private def identOf(name: String): TableIdentifier = {
    val parts = name.split('.')
    if (parts.length == 2) TableIdentifier(parts(1), Some(parts(0)))
    else TableIdentifier(name)
  }

  /** Names this JVM has mirrored into a session catalog, by table
    * root — the reverse index the post-commit hook needs (the graft
    * registry alone misses bridge-only registrations, and scanning the
    * whole session catalog per commit would not).
    */
  private val mirrored = new ConcurrentHashMap[String, String]()

  private def normRoot(r: String): String =
    r.stripPrefix("file:").stripSuffix("/")

  /** One-time (per JVM) post-commit hook: any commit to a root that is
    * mirrored into the session catalog re-derives that entry's schema
    * and statistics from the fresh manifest, so planner stats follow
    * the table instead of going stale until the next DDL-boundary
    * [[refreshSchema]]. Commits to unregistered roots are a map miss.
    */
  private lazy val statsHook: Unit = graft.lake.GraftTable.addCommitListener {
    (session, root) =>
      val r = normRoot(root)
      val names = mirrored.entrySet().iterator()
      val hits = scala.collection.mutable.ArrayBuffer[String]()
      while (names.hasNext) {
        val e = names.next()
        if (e.getValue == r) hits += e.getKey
      }
      (hits ++ GraftCatalog.entries.collect {
        case (n, r0) if normRoot(r0) == r => n
      }).distinct.foreach(n => refreshSchema(session, n))
  }
  private[sql] def installStatsHook(): Unit = statsHook

  /** Exact table statistics straight from the manifest: the snapshot
    * already knows per-file rows and bytes, so the catalog entry gets
    * what `ANALYZE TABLE … COMPUTE STATISTICS` would cost a full scan
    * to produce — for free, and exact. Catalyst then sizes joins
    * against the table from stats alone (no AQE runtime sampling
    * needed); rowCount feeds CBO when enabled. Pending MOR deletes are
    * subtracted from rowCount (logical rows) but not sizeInBytes
    * (files still read).
    */
  private def manifestStats(t: GraftTable): org.apache.spark.sql.catalyst.catalog.CatalogStatistics =
    // logical-name keying: mirrors feed DESCRIBE/tooling, which speak
    // logical column names (scans key physically — see
    // GraftFileIndex.relation / graft.lake.ManifestStats)
    graft.lake.ManifestStats.forSnapshot(t.root, t.current, physicalKeys = false)

  def register(session: SparkSession, name: String, root: String): Unit = {
    installStatsHook()
    val catalog = session.sessionState.catalog
    val ident = identOf(name)
    ident.database.filterNot(catalog.databaseExists)
      .foreach(db => session.sql(s"CREATE DATABASE IF NOT EXISTS $db"))
    // graft CREATE is destructive (rebuild-in-place) — refresh the entry
    catalog.dropTable(ident, ignoreIfNotExists = true, purge = false)
    val props = Map(
      "addTableManagement" -> "true", "graftRoot" -> root, "graftName" -> name)
    val t = new GraftTable(root, session)
    catalog.createTable(CatalogTable(
      identifier = ident,
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new java.io.File(root, "data").toURI),
        properties = props),
      schema = t.schema,
      provider = Some("parquet"),
      properties = props,
      stats = Some(manifestStats(t))), ignoreIfExists = false)
    mirrored.put(name, normRoot(root))
  }

  def unregister(session: SparkSession, name: String): Unit = {
    mirrored.remove(name)
    session.sessionState.catalog
      .dropTable(identOf(name), ignoreIfNotExists = true, purge = false)
  }

  /** Move a session-catalog mirror (if one exists) along with a table
    * rename, so the old name stops resolving and the new one carries
    * the same root/stats.
    */
  def renameMirror(session: SparkSession, oldName: String, newName: String): Unit = {
    val catalog = session.sessionState.catalog
    val ident = identOf(oldName)
    if (catalog.tableExists(ident)) {
      catalog.getTableMetadata(ident).properties.get("graftRoot") match {
        case Some(root) =>
          unregister(session, oldName)
          register(session, newName, root)
        case None => mirrored.remove(oldName); ()
      }
    } else { mirrored.remove(oldName); () }
  }

  /** Re-mirror the live snapshot schema AND statistics after evolution
    * or DML so DESCRIBE/tooling that read the CatalogTable stay
    * coherent. Reads never depend on this — [[GraftRelationRule]]
    * always resolves to the live manifest scan, whose FileIndex reports
    * live manifest sizes; the catalog stats are planner/tooling
    * metadata refreshed at registration and DDL boundaries.
    */
  def refreshSchema(session: SparkSession, name: String): Unit = {
    val catalog = session.sessionState.catalog
    val ident = identOf(name)
    if (catalog.tableExists(ident)) {
      val ct = catalog.getTableMetadata(ident)
      ct.properties.get("graftRoot").foreach { root =>
        val t = new GraftTable(root, session)
        catalog.alterTable(ct.copy(
          schema = t.schema, stats = Some(manifestStats(t))))
      }
    }
  }
}

/** Intercept Spark-native PATH writes that target a managed table
  * (reference: IcebergTableWriteRule.scala:21-41). Runs post-hoc, after
  * `DataSourceAnalysis` has planned the V1 write command. The table's
  * own staging writes (`<root>/.staging-*`) pass through untouched.
  */
case class GraftWriteInterceptRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    // DataFrameWriter.saveAsTable(...) with
    // .option("addTableManagement", "true") — by post-hoc time,
    // ResolveSessionCatalog has turned the CTAS into the V1 command;
    // replace it wholesale with the managed create (the API twin of
    // the SQL CREATE … AS SELECT branch in [[GraftSqlParser]])
    case c: org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
        if c.table.storage.properties.keys.exists(_.equalsIgnoreCase("addTableManagement")) &&
          c.table.storage.properties.find(_._1.equalsIgnoreCase("addTableManagement"))
            .exists(_._2.equalsIgnoreCase("true")) =>
      val opts = c.table.storage.properties.map { case (k, v) => k.toLowerCase -> v }
      val name = (c.table.identifier.database.toSeq :+ c.table.identifier.table)
        .map(_.toLowerCase).mkString(".")
      val deps = opts.get("columndependencies")
        .map(GraftTable.parseDeps).getOrElse(Seq.empty)
      val location = c.table.storage.locationUri.map(u => u.getPath)
        .orElse(opts.get("path"))
      GraftCtasCommand(name, c.table.partitionColumnNames, deps, location, c.query)
    case cmd: InsertIntoHadoopFsRelationCommand =>
      GraftWriteInterceptRule.managedTarget(cmd.outputPath.toString) match {
        case Some((root, true)) =>
          GraftPathWriteCommand(
            root, cmd.mode, cmd.staticPartitions, cmd.query, cmd.outputColumnNames)
        case Some((root, false)) =>
          throw new IllegalArgumentException(
            s"refusing to write to ${cmd.outputPath}: the path is inside " +
              s"graft-managed table $root but not its data directory — " +
              "write through the table (INSERT INTO / df.write to " +
              s"$root/data) so the snapshot manifest stays consistent")
        case None => cmd
      }
  }
}

object GraftWriteInterceptRule {

  /** `(root, targetsData)` when `path` lands inside a registered graft
    * table: its data dir (route through management) or its root/meta
    * (refuse). Staging dirs and unrelated paths return None. Longest
    * root wins, and matching is on path-component boundaries
    * (`/lake/t` must not claim `/lake/t2`).
    */
  def managedTarget(path: String): Option[(String, Boolean)] = {
    val p = path.stripPrefix("file:").stripSuffix("/")
    GraftCatalog.registeredRoots.iterator.flatMap { r0 =>
      val r = r0.stripPrefix("file:").stripSuffix("/")
      if (p == s"$r/data" || p.startsWith(s"$r/data/")) Some((r0, true))
      else if (p == r || p == s"$r/meta" || p.startsWith(s"$r/meta/")) Some((r0, false))
      else None
    }.toSeq.sortBy(-_._1.length).headOption
  }
}

/** A rerouted native path write: the planned write becomes a snapshot-
  * creating append/overwrite through [[graft.lake.GraftTable]]. Columns
  * align by NAME when the incoming frame carries the table's column
  * names (the `df.write` case), positionally otherwise (hive INSERT
  * semantics, like [[GraftInsertCommand]]).
  */
case class GraftPathWriteCommand(
    root: String,
    mode: SaveMode,
    staticPartition: Map[String, String],
    query: LogicalPlan,
    outputColumnNames: Seq[String]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val t = new GraftTable(root, session)
    val schema = t.schema
    val depDests = t.current.deps.map(_.dest).toSet
    val target = schema.fieldNames.toSeq
      .filterNot(depDests.contains).filterNot(staticPartition.contains)
    var df = Shim.ofRows(session, query).toDF(outputColumnNames: _*)
    require(df.columns.length == target.length,
      s"write arity ${df.columns.length} != expected ${target.length} " +
        s"(${target.mkString(",")}) for managed table $root")
    val byName = df.columns.map(_.toLowerCase).toSet == target.map(_.toLowerCase).toSet
    df =
      if (byName) df.select(target.map(n => col(n).cast(schema(n).dataType)): _*)
      else df.toDF(target: _*).select(target.map(n => col(n).cast(schema(n).dataType)): _*)
    val normSpec = staticPartition.map { case (k, v) =>
      k -> GraftPathWriteCommand.normalizeValue(v, schema(k).dataType) }
    normSpec.foreach { case (k, v) =>
      df = df.withColumn(k, lit(v).cast(schema(k).dataType)) }
    mode match {
      case SaveMode.Append => t.append(df)
      case SaveMode.Overwrite =>
        val dynamic = session.conf
          .get("spark.sql.sources.partitionOverwriteMode", "static")
          .equalsIgnoreCase("dynamic")
        if (normSpec.nonEmpty) t.overwritePartition(df, normSpec)
        else if (dynamic && t.current.partitionCols.nonEmpty) t.overwriteDynamic(df)
        else t.overwrite(df)
      case other => throw new IllegalArgumentException(
        s"SaveMode $other is not meaningful for graft-managed table $root " +
          "(the table already exists; use Append or Overwrite)")
    }
    Seq.empty
  }
}

object GraftPathWriteCommand {
  /** Align a static PARTITION literal with the directory spelling the
    * writer produces (mirrors [[GraftInsertCommand]]).
    */
  private[sql] def normalizeValue(
      v: String, dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => v.trim.toLong.toString
      case DoubleType | FloatType                        => v.trim.toDouble.toString
      case _                                             => v
    }
  }
}
