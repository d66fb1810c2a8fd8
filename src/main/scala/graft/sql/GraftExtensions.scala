package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.StructType

import graft.functions._
import graft.lake.GraftTable

/** SQL-surface integration (SURVEY.md §2.A19; reference:
  * planning/SparkSessionExtensions.scala injects IceParser + rules).
  *
  * Register with `.config("spark.sql.extensions",
  * "graft.sql.GraftExtensions")`, then:
  *
  *  - `GraftCatalog.register(name, tableRoot)` exposes a graft table to
  *    SQL: `SELECT * FROM name` reads the current snapshot.
  *  - `AS OF '<snapshot-id | yyyy-MM-dd HH:mm:ss | epoch-millis>'
  *    SELECT …` time-travels every graft relation in the query
  *    (reference: parsing/IceParser.scala:108-111 `asOfSelect`).
  *  - graft expression functions are callable from SQL:
  *    `graft_cosine(a, b)`, `graft_polyhash(s)`, `graft_shingles(s, 3)`,
  *    `graft_simhash(arr)`, `graft_winnow(s, k, w)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    // API-side integration: spark.table / insertInto / saveAsTable
    // resolve to graft scans and snapshot-creating inserts (the parser
    // only covers SQL text)
    ext.injectResolutionRule(session => GraftRelationRule(session))
    // native df.write.parquet(<root>/data) routes through management;
    // writes into root/meta fail loudly (reference:
    // IcebergTableWriteRule.scala:21-41)
    ext.injectPostHocResolutionRule(session => GraftWriteInterceptRule(session))
    ext.injectOptimizerRule(_ => DepPredicateRule)
    // COUNT/MIN/MAX over partition-filtered graft scans answered from
    // manifest stats alone — zero data files read (SURVEY.md §2.A87)
    ext.injectOptimizerRule(session => GraftMetaAggRule(session))
    // small global aggregates (pruned graft scans, metadata views)
    // folded on the driver with zero jobs
    ext.injectPlannerStrategy(session =>
      org.apache.spark.sql.graft.GraftLocalAggStrategy(session))
    // session-catalog stats follow every commit (see GraftSparkBridge)
    GraftSparkBridge.installStatsHook()
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_polyhash"),
      info("graft_polyhash", "portable polynomial hash of a string"),
      (es: Seq[Expression]) => PolyHash(es.head)),
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "cosine similarity of two float arrays"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))),
    (FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "64-bit simhash of an array of token hashes"),
      (es: Seq[Expression]) => SimHash64(es.head)),
    (FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "distinct word n-gram shingles"),
      (es: Seq[Expression]) => WordShingles(es.head, intArg(es(1)))),
    (FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes", "hashed distinct word n-gram shingles"),
      (es: Seq[Expression]) => ShingleHashes(es.head, intArg(es(1)))),
    (FunctionIdentifier("graft_winnow"),
      info("graft_winnow", "winnowing fingerprint (k-gram, window w)"),
      (es: Seq[Expression]) => WinnowFingerprint(es.head, intArg(es(1)), intArg(es(2)))),
    (FunctionIdentifier("graft_adc_score"),
      info("graft_adc_score", "PQ asymmetric-distance score: codes × flat LUT (K codes/subspace)"),
      (es: Seq[Expression]) => graft.functions.AdcScore(es(0), es(1), intArg(es(2)))))

  private def intArg(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue
}

/** Registry: SQL relation name → graft table root. Names may be
  * multi-part (`db.table`); lookup is case-insensitive on the joined
  * form. With a warehouse directory set, every registration is
  * persisted to `<warehouse>/graft-catalog.json` and reloaded on the
  * next process (registrations survive the JVM — the metastore gap
  * the reference fills with Hive).
  */
object GraftCatalog {
  private val tables = new ConcurrentHashMap[String, String]()
  @volatile private var warehouse: Option[java.nio.file.Path] = None

  private def norm(name: String): String = name.toLowerCase

  /** Point the catalog at a warehouse dir and merge its persisted
    * registrations (in-memory entries win on conflict).
    */
  def setWarehouse(dir: String): Unit = synchronized {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    warehouse = Some(p)
    loadFrom(p).foreach { case (k, v) => tables.putIfAbsent(k, v) }
    persist()
  }

  def register(name: String, root: String): Unit = {
    tables.put(norm(name), root); persist()
    // best-effort HMS-shaped mirror (see GraftHmsAdapter: persists in
    // a metastore deployment; JVM-scoped under the sandbox's
    // InMemoryCatalog)
    SparkSession.getActiveSession.foreach(s =>
      GraftHmsAdapter.mirror(s, norm(name), root))
  }
  def unregister(name: String): Unit = {
    tables.remove(norm(name)); persist()
    SparkSession.getActiveSession.foreach(s =>
      GraftHmsAdapter.unmirror(s, norm(name)))
  }

  /** Adopt an entry surfaced by a persistence layer (warehouse JSON or
    * the ExternalCatalog mirror): fills MEMORY only, and only if
    * absent — the in-memory/JSON layer stays authoritative, and (like
    * [[reload]]) adoption never rewrites the warehouse JSON, which
    * after a [[dropInMemory]] would clobber entries not yet reloaded.
    * Returns true if added.
    */
  private[sql] def adopt(name: String, root: String): Boolean =
    tables.putIfAbsent(norm(name), root) == null
  def lookup(name: String): Option[String] = Option(tables.get(norm(name)))
  def registeredRoots: Seq[String] = {
    import scala.jdk.CollectionConverters._
    tables.values.asScala.toSeq
  }
  def entries: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    tables.asScala.toSeq.sortBy(_._1)
  }

  /** Test hook: drop the in-memory state (a fresh process), keeping
    * the warehouse pointer so the next lookup can be preceded by
    * [[reload]].
    */
  def dropInMemory(): Unit = tables.clear()
  def reload(): Unit = synchronized {
    warehouse.foreach(p => loadFrom(p).foreach { case (k, v) => tables.putIfAbsent(k, v) })
  }

  private def catalogFile(p: java.nio.file.Path) = p.resolve("graft-catalog.json")

  private def loadFrom(p: java.nio.file.Path): Map[String, String] = {
    val f = catalogFile(p)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(java.nio.file.Files.readAllBytes(f))
      import scala.jdk.CollectionConverters._
      node.fieldNames().asScala.map(k => k -> node.get(k).asText()).toMap
    }
  }

  private def persist(): Unit = synchronized {
    warehouse.foreach { p =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      import scala.jdk.CollectionConverters._
      tables.entrySet().asScala.toSeq.sortBy(_.getKey)
        .foreach(e => node.put(e.getKey, e.getValue))
      val tmp = p.resolve("graft-catalog.json.tmp")
      java.nio.file.Files.write(tmp, mapper.writeValueAsBytes(node))
      java.nio.file.Files.move(tmp, catalogFile(p),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** Delegating parser that (1) strips a leading `AS OF '<spec>'` clause
  * and (2) substitutes registered graft relations with their
  * (time-travel) snapshot scans at parse time.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private val AsOfRe =
    """(?is)\s*as\s+of\s+'([^']+)'\s+(.*)""".r
  // OPTIMIZE t [ZORDER BY (c1, c2)] / VACUUM t [RETAIN <snapshot-id>]
  // — statements Spark's parser has no grammar for; intercepted before
  // delegation (same technique as the reference's `as of` prefix).
  private val OptimizeRe =
    """(?is)\s*optimize\s+([\w.]+)(?:\s+where\s+(.+?))?\s*(?:zorder\s+by\s*\(([^)]*)\))?\s*""".r
  private val VacuumRe =
    """(?is)\s*vacuum\s+([\w.]+)(?:\s+retain\s+(\d+))?\s*""".r
  // ALTER TABLE t REPARTITION BY (c1, …) [DEPENDENCIES 'src=dest:transform,…']
  private val RepartitionRe =
    """(?is)\s*alter\s+table\s+([\w.]+)\s+repartition\s+by\s*\(([^)]*)\)\s*(?:dependencies\s+'([^']*)')?\s*""".r
  // SHOW GRAFT TABLES — a dedicated statement so the builtin SHOW
  // TABLES (session catalog) is never shadowed
  private val ShowGraftTablesRe = """(?is)\s*show\s+graft\s+tables\s*""".r
  // ALTER TABLE t CREATE TAG|BRANCH name [AS OF VERSION n] /
  // ALTER TABLE t DROP TAG|BRANCH name — Iceberg's ref DDL, which
  // Spark's parser has no grammar for
  private val RefDdlRe =
    """(?is)\s*alter\s+table\s+([\w.]+)\s+(create|drop)\s+(tag|branch)\s+(\w+)(?:\s+as\s+of\s+version\s+(\d+))?\s*""".r
  // ALTER TABLE t FAST FORWARD <branch> — adopt a branch's lineage on main
  private val FastForwardRe =
    """(?is)\s*alter\s+table\s+([\w.]+)\s+fast\s+forward\s+(\w+)\s*""".r
  // CHANGES BETWEEN <fromId> AND <toId> SELECT … — batch change-data
  // feed as a query prefix (the SQL twin of the streaming
  // readChangeFeed and of Delta's table_changes TVF): every registered
  // graft relation in the query reads as its row-level changelog over
  // (from, to], with `_change_type` ('insert' | 'delete') appended
  private val ChangesRe =
    """(?is)\s*changes\s+between\s+(\d+)\s+and\s+(\d+)\s+(.*)""".r
  // CREATE TABLE new SHALLOW|DEEP CLONE src [LOCATION '…'] — Delta's
  // clone DDL, which Spark's parser has no grammar for
  private val CloneRe =
    """(?is)\s*create\s+table\s+([\w.]+)\s+(shallow|deep)\s+clone\s+([\w.]+)(?:\s+location\s+'([^']+)')?\s*""".r
  // ALTER TABLE t ADD CONSTRAINT name CHECK (pred) / DROP CONSTRAINT
  // name — Delta's constraint DDL (A73); Spark's parser has no grammar
  // CREATE MATERIALIZED VIEW mv [LOCATION '…'] AS SELECT … /
  // REFRESH MATERIALIZED VIEW mv — incrementally-maintained aggregate
  // views (graft.lake.MatView); Spark's parser has no grammar for them
  private val MatViewRe =
    """(?is)\s*create\s+materialized\s+view\s+([\w.]+)(?:\s+location\s+'([^']+)')?\s+as\s+(select\s.*)""".r
  private val RefreshMvRe =
    """(?is)\s*refresh\s+materialized\s+view\s+([\w.]+)\s*""".r
  // DESCRIBE DETAIL t — Delta's table-detail statement (A79); the
  // builtin DESCRIBE TABLE is untouched (different keyword)
  private val DescribeDetailRe =
    """(?is)\s*describe\s+detail\s+([\w.]+)\s*""".r
  // DESCRIBE HISTORY t — Delta's history statement: the `$history`
  // lineage view (snapshot id, parent, operation, is_current_ancestor)
  private val DescribeHistoryRe =
    """(?is)\s*describe\s+history\s+([\w.]+)\s*""".r
  // RESTORE TABLE t TO VERSION AS OF n / TO TIMESTAMP AS OF 'ts' —
  // Delta's restore statement (A81): rollback as a NEW commit
  private val RestoreVersionRe =
    """(?is)\s*restore\s+table\s+([\w.]+)\s+to\s+version\s+as\s+of\s+(\d+)\s*""".r
  private val RestoreTimestampRe =
    """(?is)\s*restore\s+table\s+([\w.]+)\s+to\s+timestamp\s+as\s+of\s+'([^']+)'\s*""".r
  // CALL [cat.]system.proc(args) — Iceberg-parity maintenance
  // procedures (A84); args positional or `name => value`
  private val CallRe =
    """(?is)\s*call\s+(?:[\w]+\.)?system\.(\w+)\s*\((.*)\)\s*""".r
  private def parseCallArgs(raw: String): Seq[(Option[String], String)] =
    if (raw.trim.isEmpty) Seq.empty
    else raw.split(",(?=(?:[^']*'[^']*')*[^']*$)").toSeq.map { piece =>
      val p = piece.split("=>", 2)
      val (n, v) = if (p.length == 2) (Some(p(0).trim.toLowerCase), p(1).trim)
                   else (None, piece.trim)
      (n, v.stripPrefix("'").stripSuffix("'"))
    }
  // COMMENT ON TABLE t IS '…' / COMMENT ON COLUMN t.c IS '…' (A86);
  // IS NULL clears
  private val CommentTableRe =
    """(?is)\s*comment\s+on\s+table\s+([\w.]+)\s+is\s+(?:'([^']*)'|null)\s*""".r
  private val CommentColumnRe =
    """(?is)\s*comment\s+on\s+column\s+([\w.]+)\.(\w+)\s+is\s+(?:'([^']*)'|null)\s*""".r
  // SHOW PARTITIONS t — Hive/Spark/Iceberg parity spelling for the
  // `$partitions` rollup: O(metadata), zero data access
  private val ShowPartitionsRe =
    """(?is)\s*show\s+partitions\s+([\w.]+)\s*""".r
  private val AddConstraintRe =
    """(?is)\s*alter\s+table\s+([\w.]+)\s+add\s+constraint\s+(\w+)\s+check\s*\((.+)\)\s*""".r
  private val DropConstraintRe =
    """(?is)\s*alter\s+table\s+([\w.]+)\s+drop\s+constraint\s+(\w+)\s*""".r

  override def parsePlan(sqlText: String): LogicalPlan = {
    sqlText match {
      case OptimizeRe(name, wherePred, zcols) if GraftCatalog.lookup(name).isDefined =>
        return GraftOptimizeCommand(name.toLowerCase,
          Option(zcols).toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)),
          Option(wherePred).map(_.trim).filter(_.nonEmpty))
      case VacuumRe(name, keep) if GraftCatalog.lookup(name).isDefined =>
        return GraftVacuumCommand(name.toLowerCase, Option(keep).map(_.toLong))
      case RepartitionRe(name, cols, deps) if GraftCatalog.lookup(name).isDefined =>
        return GraftRepartitionCommand(name.toLowerCase,
          cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          Option(deps).map(GraftTable.parseDeps).getOrElse(Seq.empty))
      case ShowGraftTablesRe() => return GraftShowTablesCommand()
      case RefDdlRe(name, verb, kind, ref, asOf) if GraftCatalog.lookup(name).isDefined =>
        return GraftRefDdlCommand(name.toLowerCase,
          create = verb.equalsIgnoreCase("create"),
          isBranch = kind.equalsIgnoreCase("branch"),
          ref = ref, asOf = Option(asOf).map(_.toLong))
      case FastForwardRe(name, ref) if GraftCatalog.lookup(name).isDefined =>
        return GraftFastForwardCommand(name.toLowerCase, ref)
      case CloneRe(newName, kind, srcName, loc) if GraftCatalog.lookup(srcName).isDefined =>
        return GraftCloneCommand(newName.toLowerCase, srcName.toLowerCase,
          Option(loc), deep = kind.equalsIgnoreCase("deep"))
      case MatViewRe(name, loc, select) =>
        return GraftCreateMatViewCommand(name.toLowerCase, Option(loc),
          delegate.parsePlan(select))
      case RefreshMvRe(name) if GraftCatalog.lookup(name).isDefined =>
        return GraftRefreshMatViewCommand(name.toLowerCase)
      case DescribeDetailRe(name) if GraftCatalog.lookup(name).isDefined =>
        return GraftDescribeDetailCommand(name.toLowerCase)
      case DescribeHistoryRe(name) if GraftCatalog.lookup(name).isDefined =>
        return GraftDescribeHistoryCommand(name.toLowerCase)
      case CallRe(proc, rawArgs) =>
        return GraftCallCommand(proc, parseCallArgs(rawArgs))
      case CommentTableRe(name, text) if GraftCatalog.lookup(name).isDefined =>
        return GraftCommentCommand(name.toLowerCase, None, Option(text))
      case CommentColumnRe(name, c, text) if GraftCatalog.lookup(name).isDefined =>
        return GraftCommentCommand(name.toLowerCase, Some(c), Option(text))
      case ShowPartitionsRe(name) if GraftCatalog.lookup(name).isDefined =>
        return Shim.logicalPlan(
          new GraftTable(GraftCatalog.lookup(name).get, session).partitionsView)
      case RestoreVersionRe(name, v) if GraftCatalog.lookup(name).isDefined =>
        return GraftRestoreCommand(name.toLowerCase, Some(v.toLong), None)
      case RestoreTimestampRe(name, ts) if GraftCatalog.lookup(name).isDefined =>
        return GraftRestoreCommand(name.toLowerCase, None, Some(ts))
      case AddConstraintRe(name, cname, pred) if GraftCatalog.lookup(name).isDefined =>
        return GraftConstraintCommand(name.toLowerCase, cname, Some(pred.trim))
      case DropConstraintRe(name, cname) if GraftCatalog.lookup(name).isDefined =>
        return GraftConstraintCommand(name.toLowerCase, cname, None)
      case _ => ()
    }
    sqlText match {
      case ChangesRe(from, to, rest) =>
        return delegate.parsePlan(rest).transformUp {
          case u: UnresolvedRelation
              if joinedName(u.multipartIdentifier)
                .exists(GraftCatalog.lookup(_).isDefined) =>
            val root = GraftCatalog.lookup(joinedName(u.multipartIdentifier).get).get
            Shim.logicalPlan(
              new GraftTable(root, session).changelog(from.toLong, to.toLong))
        }
      case _ => ()
    }
    val (asOf, parsed) = sqlText match {
      case AsOfRe(spec, rest) => (Some(spec.trim), delegate.parsePlan(rest))
      case _                  => (None, delegate.parsePlan(sqlText))
    }
    // DELETE / MERGE target relations are rewritten at the root, before
    // `substitute` (a bottom-up transform) would replace the target
    // UnresolvedRelation with a snapshot scan.
    parsed match {
      case d: logical.DeleteFromTable =>
        graftName(d.table) match {
          case Some(name) => GraftDeleteCommand(name, Option(d.condition).map(Shim.column))
          case None       => substitute(parsed, asOf)
        }
      case u: logical.UpdateTable if graftName(u.table).isDefined =>
        val name = graftName(u.table).get
        val sets = u.assignments.map { a =>
          val key = a.key match {
            case attr: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              attr.nameParts.last
            case other => throw new IllegalArgumentException(
              s"graft UPDATE supports simple column assignments, got $other")
          }
          key -> Shim.column(a.value)
        }
        GraftUpdateCommand(name, sets, u.condition.map(Shim.column))
      case m: logical.MergeIntoTable if graftName(m.targetTable).isDefined =>
        val name = graftName(m.targetTable).get
        val isDeleteOnly =
          m.matchedActions.length == 1 &&
            m.matchedActions.head == logical.DeleteAction(None) &&
            m.notMatchedActions.isEmpty && m.notMatchedBySourceActions.isEmpty
        if (isDeleteOnly)
          GraftMergeDeleteCommand(name, mergeKeys(m.mergeCondition),
            substitute(m.sourceTable, asOf))
        else {
          require(
            m.matchedActions.forall(_.isInstanceOf[logical.UpdateStarAction]) &&
              m.notMatchedActions.forall(_.isInstanceOf[logical.InsertStarAction]) &&
              m.notMatchedBySourceActions.isEmpty,
            "graft MERGE supports WHEN MATCHED THEN UPDATE SET * / WHEN MATCHED THEN DELETE / WHEN NOT MATCHED THEN INSERT *")
          GraftMergeCommand(name, mergeKeys(m.mergeCondition), substitute(m.sourceTable, asOf))
        }
      case dt: logical.DropTable if identName(dt.child).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftDropTableCommand(identName(dt.child).get)
      case tt: logical.TruncateTable
          if identName(tt.table).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftTruncateCommand(identName(tt.table).get)
      case ac: logical.AddColumns if identName(ac.table).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftAddColumnsCommand(identName(ac.table).get,
          ac.columnsToAdd.map(c =>
            (c.colName, c.dataType, c.default.map(_.originalSQL))))
      case dc: logical.DropColumns
          if identName(dc.table).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftDropColumnsCommand(identName(dc.table).get,
          dc.columnsToDrop.map(fieldName))
      case rc: logical.RenameColumn
          if identName(rc.table).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftRenameColumnCommand(identName(rc.table).get,
          fieldName(rc.column), rc.newName)
      // ALTER COLUMN … TYPE only (position/comment changes are not
      // graft metadata) → metadata-only widening
      case ac: logical.AlterColumns
          if identName(ac.table).exists(GraftCatalog.lookup(_).isDefined) &&
            ac.specs.forall(sp => sp.newDataType.isDefined &&
              sp.newNullability.isEmpty && sp.newComment.isEmpty &&
              sp.newPosition.isEmpty) =>
        GraftWidenColumnCommand(identName(ac.table).get,
          ac.specs.map(sp => (fieldName(sp.column), sp.newDataType.get)))
      // ALTER COLUMN … SET/DROP NOT NULL → NOT NULL constraint (A88):
      // SET proves compliance metadata-first, writes enforce after
      case ac: logical.AlterColumns
          if identName(ac.table).exists(GraftCatalog.lookup(_).isDefined) &&
            ac.specs.forall(sp => sp.newNullability.isDefined &&
              sp.newDataType.isEmpty && sp.newComment.isEmpty &&
              sp.newPosition.isEmpty) =>
        GraftSetNullabilityCommand(identName(ac.table).get,
          ac.specs.map(sp => (fieldName(sp.column), sp.newNullability.get)))
      case sp: logical.SetTableProperties
          if identName(sp.table).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftSetPropertiesCommand(identName(sp.table).get, sp.properties)
      case up: logical.UnsetTableProperties
          if identName(up.table).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftUnsetPropertiesCommand(identName(up.table).get,
          up.propertyKeys, up.ifExists)
      case sh: logical.ShowTableProperties
          if identName(sh.table).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftShowPropertiesCommand(identName(sh.table).get, sh.propertyKey)
      case dr: logical.DescribeRelation
          if identName(dr.relation).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftDescribeCommand(identName(dr.relation).get)
      case sc: logical.ShowCreateTable
          if identName(sc.child).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftShowCreateCommand(identName(sc.child).get)
      // ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS | FOR ALL
      // COLUMNS] → the NDV sweep; basic stats are already manifest-exact.
      // NOSCAN honors its contract — metadata-only mirror refresh, no job
      case at: logical.AnalyzeTable
          if identName(at.child).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftAnalyzeCommand(identName(at.child).get, Seq.empty, noScan = at.noScan)
      case ac: logical.AnalyzeColumn
          if identName(ac.child).exists(GraftCatalog.lookup(_).isDefined) =>
        GraftAnalyzeCommand(identName(ac.child).get,
          ac.columnNames.getOrElse(Seq.empty), noScan = false)
      case p => substitute(p, asOf)
    }
  }

  /** Terminal column name of an ALTER COLUMN field reference. */
  private def fieldName(f: Any): String = f match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName => u.name.last
    case other => throw new IllegalArgumentException(s"unsupported column reference $other")
  }

  /** DDL target identifier (UnresolvedIdentifier / UnresolvedTable). */
  private def identName(plan: LogicalPlan): Option[String] = plan match {
    case id: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
      joinedName(id.nameParts)
    case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      joinedName(ut.multipartIdentifier)
    case ur: UnresolvedRelation => joinedName(ur.multipartIdentifier)
    case tv: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
      joinedName(tv.multipartIdentifier)
    case _ => None
  }

  /** 1- or 2-part identifier as the catalog's joined lowercase key. */
  private def joinedName(parts: Seq[String]): Option[String] =
    if (parts.nonEmpty && parts.length <= 2) Some(parts.map(_.toLowerCase).mkString("."))
    else None

  /** Registered graft-table name behind a (possibly aliased) relation. */
  private def graftName(plan: LogicalPlan): Option[String] = plan match {
    case logical.SubqueryAlias(_, child) => graftName(child)
    case u: UnresolvedRelation =>
      joinedName(u.multipartIdentifier).filter(n => GraftCatalog.lookup(n).isDefined)
    case _ => None
  }

  /** Equi-join key columns of a MERGE condition: conjuncts of
    * `target.k = source.k` (same terminal column name on both sides).
    */
  private def mergeKeys(cond: Expression): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        a.nameParts.last.toLowerCase
      case other => throw new IllegalArgumentException(
        s"graft MERGE condition must be conjunctive equi-join on same-named columns, got $other")
    }.distinct
  }

  private def substitute(plan: LogicalPlan, asOf: Option[String]): LogicalPlan =
    plan.transformUp {
      // INSERT INTO / INSERT OVERWRITE [PARTITION (…)] on a registered
      // graft table → snapshot-creating command (reference:
      // InsertIntoIcebergTable.scala)
      case ins: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement =>
        ins.table match {
          case u: UnresolvedRelation
              if joinedName(u.multipartIdentifier).exists(GraftCatalog.lookup(_).isDefined) =>
            val static = ins.partitionSpec.collect { case (k, Some(v)) => k -> v }
            GraftInsertCommand(
              joinedName(u.multipartIdentifier).get, ins.overwrite, static, ins.query)
          case _ => ins
        }
      // CREATE TABLE … OPTIONS(addTableManagement 'true',
      // columnDependencies '…') PARTITIONED BY (…) (reference:
      // planning/CreateTableRules.scala)
      case ct: org.apache.spark.sql.catalyst.plans.logical.CreateTable
          if tableOptions(ct.tableSpec).get("addtablemanagement").exists(_.equalsIgnoreCase("true")) =>
        val opts = tableOptions(ct.tableSpec)
        val deps = opts.get("columndependencies")
          .map(GraftTable.parseDeps).getOrElse(Seq.empty)
        val partCols = ct.partitioning.collect {
          case t if t.name == "identity" => t.references.head.fieldNames.last
        }
        val schema = StructType(ct.columns.map(c =>
          org.apache.spark.sql.types.StructField(c.name, c.dataType, nullable = true)))
        GraftCreateTableCommand(ctName(ct.name), schema, partCols.toSeq,
          deps, tableLocation(ct.tableSpec))
      // CREATE TABLE … OPTIONS(addTableManagement 'true') AS SELECT … —
      // create + append in one command (reference:
      // planning/CreateTableRules.scala:66-68 CreateIcebergTableAsSelect)
      case ctas: org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect
          if tableOptions(ctas.tableSpec).get("addtablemanagement").exists(_.equalsIgnoreCase("true")) =>
        val opts = tableOptions(ctas.tableSpec)
        val deps = opts.get("columndependencies")
          .map(GraftTable.parseDeps).getOrElse(Seq.empty)
        val partCols = ctas.partitioning.collect {
          case t if t.name == "identity" => t.references.head.fieldNames.last
        }
        GraftCtasCommand(ctName(ctas.name), partCols.toSeq, deps,
          tableLocation(ctas.tableSpec), ctas.query)
      // [CREATE OR] REPLACE TABLE … AS SELECT — one atomic
      // history-preserving snapshot via GraftTable.replaceAs (A74)
      case rtas: org.apache.spark.sql.catalyst.plans.logical.ReplaceTableAsSelect
          if tableOptions(rtas.tableSpec).get("addtablemanagement").exists(_.equalsIgnoreCase("true")) =>
        val opts = tableOptions(rtas.tableSpec)
        val deps = opts.get("columndependencies")
          .map(GraftTable.parseDeps).getOrElse(Seq.empty)
        val partCols = rtas.partitioning.collect {
          case t if t.name == "identity" => t.references.head.fieldNames.last
        }
        GraftRtasCommand(ctName(rtas.name), partCols.toSeq, deps,
          tableLocation(rtas.tableSpec), rtas.query, rtas.orCreate)
      // `t$snapshots` / `t$files` metadata views (reference:
      // TableUtils.SNAPSHOTSVIEW_SUFFIX — `` select * from `t$snapshots` ``)
      case u: UnresolvedRelation if u.multipartIdentifier.length <= 2 &&
          u.multipartIdentifier.last.contains("$") && {
            val base = metaBase(u.multipartIdentifier)
            GraftCatalog.lookup(base).isDefined
          } =>
        val base = metaBase(u.multipartIdentifier)
        val t = new GraftTable(GraftCatalog.lookup(base).get, session)
        u.multipartIdentifier.last.dropWhile(_ != '$') match {
          case "$snapshots"  => Shim.logicalPlan(t.snapshotsView)
          case "$files"      => Shim.logicalPlan(t.filesView)
          case "$partitions" => Shim.logicalPlan(t.partitionsView)
          case "$refs"       => Shim.logicalPlan(t.refsView)
          case "$properties" => Shim.logicalPlan(t.propertiesView)
          case "$deletes"    => Shim.logicalPlan(t.deletesView)
          case "$history"    => Shim.logicalPlan(t.historyView)
          case "$manifests"  => Shim.logicalPlan(t.manifestsView)
          case "$clustering" => Shim.logicalPlan(t.clusteringView)
          case "$orphans"    => Shim.logicalPlan(t.orphansView())
          case "$txns"       => Shim.logicalPlan(t.txnsView)
          case other => throw new IllegalArgumentException(
            s"unknown metadata view suffix '$other' on graft table '$base'")
        }
      // Spark-native time travel — `FROM t VERSION AS OF <id|'tag'>` /
      // `FROM t TIMESTAMP AS OF <literal>` (Spark 3.3+ grammar). The
      // node is an unresolved LEAF (its relation is a field, not a
      // child), so it must be matched here and routed to the same asOf
      // scan as graft's own `as of '<spec>'` prefix.
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
          if graftName(tt.relation).isDefined =>
        val name = graftName(tt.relation).get
        val t = new GraftTable(GraftCatalog.lookup(name).get, session)
        val df = tt.version match {
          case Some(v) if v.forall(_.isDigit) => t.readAsOfId(v.toLong)
          case Some(v) => t.refId(v).map(t.readAsOfId).getOrElse(
            throw new IllegalArgumentException(
              s"VERSION AS OF '$v': no snapshot ref with that name on graft table '$name'"))
          case None =>
            val e = tt.timestamp.get // the grammar guarantees one of the two
            require(e.foldable,
              s"graft TIMESTAMP AS OF requires a literal timestamp, got $e")
            t.readAsOfTs(literalMillis(e))
        }
        Shim.logicalPlan(df)
      case u: UnresolvedRelation
          if joinedName(u.multipartIdentifier).exists(GraftCatalog.lookup(_).isDefined) =>
        val root = GraftCatalog.lookup(joinedName(u.multipartIdentifier).get).get
        val t = new GraftTable(root, session)
        val df = asOf match {
          case None => t.read()
          case Some(spec) if spec.forall(_.isDigit) && spec.length < 10 =>
            t.readAsOfId(spec.toLong) // short digit strings = snapshot id
          case Some(spec) if spec.forall(_.isDigit) && spec.length == 10 =>
            t.readAsOfTs(spec.toLong * 1000L) // 10 digits = epoch seconds
          case Some(spec) if spec.forall(_.isDigit) =>
            t.readAsOfTs(spec.toLong) // longer digit strings = epoch millis
          case Some(spec) => t.refId(spec) match {
            case Some(id) => t.readAsOfId(id) // named tag wins
            case None     => t.readAsOfTs(sessionZoneMillis(spec))
          }
        }
        Shim.logicalPlan(df)
    }

  /** Epoch millis of a wall-clock timestamp string, parsed through
    * Spark's own string→timestamp cast in the SESSION time zone —
    * java.sql.Timestamp.valueOf reads the JVM default zone, so mixing
    * the two would let the same literal resolve to different snapshots
    * depending on spelling (`as of '…'` prefix vs TIMESTAMP AS OF vs
    * typed literal). One parser for every string spelling.
    */
  private def sessionZoneMillis(str: String): Long = {
    val zone = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    val micros = org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(str),
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.TimestampType, Some(zone)).eval(null)
    if (micros == null) throw new IllegalArgumentException(
      s"cannot parse AS OF timestamp literal '$str'")
    micros.asInstanceOf[Long] / 1000L
  }

  /** Epoch millis of a foldable TIMESTAMP AS OF expression: a
    * TimestampType literal evals to epoch-MICROS, a DateType literal to
    * epoch-DAYS, a string literal to `yyyy-MM-dd[ HH:mm:ss]` (or bare
    * epoch digits, seconds vs millis by length — same heuristic as the
    * `as of` prefix clause).
    */
  private def literalMillis(e: Expression): Long = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String =>
        val str = s.toString.trim
        if (str.forall(_.isDigit))
          if (str.length == 10) str.toLong * 1000L else str.toLong
        else sessionZoneMillis(str)
      case micros: Long if e.dataType == TimestampType => micros / 1000L
      case days: Integer if e.dataType == DateType => days.toLong * 86400000L
      case millis: Long => millis
      // bare unquoted digits parse as IntegerType when they fit an Int —
      // which every epoch-SECONDS value does (through 2038)
      case secs: Integer => secs.toLong * 1000L
      case other => throw new IllegalArgumentException(
        s"unsupported TIMESTAMP AS OF literal $other (${e.dataType})")
    }
  }

  /** `db.t$snapshots` / `t$files` → the registered base name. */
  private def metaBase(parts: Seq[String]): String =
    joinedName(parts.init :+ parts.last.takeWhile(_ != '$')).getOrElse("")

  /** CTAS / CREATE name node → joined registry key. */
  private def ctName(name: LogicalPlan): String = name match {
    case id: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
      joinedName(id.nameParts).getOrElse(throw new IllegalArgumentException(
        s"graft table names have at most 2 parts, got ${id.nameParts.mkString(".")}"))
    case other => throw new IllegalArgumentException(s"unsupported table name $other")
  }

  /** Properties + evaluated OPTIONS of a parsed table spec, lowercased. */
  private def tableOptions(
      spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase): Map[String, String] =
    spec match {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
        val fromOpts = u.optionExpression.options.collect {
          case (k, e) if e.foldable =>
            k.toLowerCase -> String.valueOf(e.eval(null) match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.toString
              case other => other
            })
        }.toMap
        u.properties.map { case (k, v) => k.toLowerCase -> v } ++ fromOpts
      case _ => Map.empty
    }

  private def tableLocation(
      spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase): Option[String] =
    spec match {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
        u.location.orElse(tableOptions(spec).get("path"))
      case _ => None
    }

  override def parseExpression(s: String): Expression = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier = delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier = delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] = delegate.parseMultipartIdentifier(s)
  override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
  override def parseDataType(s: String): org.apache.spark.sql.types.DataType = delegate.parseDataType(s)
  override def parseQuery(s: String): LogicalPlan = parsePlan(s)
  override def parseRoutineParam(s: String): StructType = delegate.parseRoutineParam(s)
}
