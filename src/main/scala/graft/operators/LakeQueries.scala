package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Tables
import graft.lake.{DepSpec, GraftTable, MatView}

/** Lakehouse-management operators (SURVEY.md §2.A) exposed through the
  * driver contract. Each query (re)builds a small graft table under
  * target/lakework from the driver-generated source parquet, exercises
  * one capability, and returns a result whose oracle is expressible in
  * plain SQL *over the original tables* — so the whole control plane
  * (snapshots, overwrite semantics, time travel, pruning, metadata) is
  * checked end-to-end against DuckDB, not just smoke-tested.
  *
  * Writes use `repartition(partitionCols)` so each partition value
  * lands in exactly one file — which makes file *counts* data-derived
  * (`count(DISTINCT part)`) and therefore oracle-checkable too.
  */
object LakeQueries {

  private[operators] def work(d: String, name: String): String =
    s"/root/repo/target/lakework/$name-${d.replaceAll("[^0-9a-zA-Z.]", "_")}"

  private[operators] def orders(s: SparkSession, d: String): DataFrame = Tables.orders(s, d)

  private[operators] def byStatus(df: DataFrame): DataFrame = df.repartition(col("o_orderstatus"))

  private[operators] val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  private[operators] def sel(df: DataFrame): DataFrame =
    df.select(orderCols.map(col): _*).orderBy(col("o_orderkey"))

  private[operators] val selSql = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"

  // ---- A1 create ----------------------------------------------------

  def lakeCreate(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "create"),
      Tables.nation(s, d).repartition(col("n_regionkey")), Seq("n_regionkey"))
    t.read().select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  val lakeCreateSql =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  // ---- A2 append ----------------------------------------------------

  def lakeAppend(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "append"),
      byStatus(o.filter(col("o_orderkey") < 5000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 5000)))
    sel(t.read())
  }

  val lakeAppendSql = s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  // ---- A41 branches: isolated lineage + fast-forward -----------------

  /** Write to a branch, audit it, fast-forward main onto it — the
    * team-scale write-audit-publish flow. Main never sees the branch
    * until the fast-forward pointer move (no data copied at any step).
    */
  def lakeBranch(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "branch"),
      byStatus(o.filter(col("o_orderkey") < 5000)), Seq("o_orderstatus"))
    t.branch("dev")
    t.appendToBranch("dev", byStatus(o.filter(col("o_orderkey") >= 5000)))
    t.fastForward("dev")
    sel(t.read())
  }

  val lakeBranchSql = s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  // ---- A39/A44 refs + properties metadata views ---------------------

  /** `lake_refs`: the `$refs` view over a table with a tag and a
    * branch — the view's contents are fully deterministic (names,
    * types, snapshot ids), so the oracle is the expected relation
    * spelled as VALUES.
    */
  def lakeRefs(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "refsview"),
      byStatus(o.filter(col("o_orderkey") < 5000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 5000)))
    t.tag("v1", 1L).branch("dev")
    t.refsView.orderBy(col("ref_name"))
  }

  val lakeRefsSql =
    """SELECT ref_name, ref_type, CAST(snapshot_id AS BIGINT) AS snapshot_id
      |FROM (VALUES ('dev', 'BRANCH', 2), ('main', 'BRANCH', 2),
      |  ('v1', 'TAG', 1)) t(ref_name, ref_type, snapshot_id)
      |ORDER BY ref_name""".stripMargin

  /** `lake_properties`: `$properties` after SET TBLPROPERTIES. */
  def lakeProperties(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "propsview"),
      byStatus(orders(s, d).limit(100)), Seq("o_orderstatus"))
    t.setProperty("write.bloom.columns", "o_orderkey")
      .setProperty("write.target-file-size", "134217728")
    t.propertiesView.orderBy(col("key"))
  }

  val lakePropertiesSql =
    """SELECT * FROM (VALUES ('write.bloom.columns', 'o_orderkey'),
      |  ('write.target-file-size', '134217728')) t(key, value)
      |ORDER BY key""".stripMargin

  // ---- A3 overwrite (full table) ------------------------------------

  def lakeOverwrite(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "overwrite"), byStatus(o), Seq("o_orderstatus"))
    t.overwrite(byStatus(o.filter(col("o_totalprice") > 200000)))
    sel(t.read())
  }

  val lakeOverwriteSql =
    s"SELECT $selSql FROM orders WHERE o_totalprice > 200000 ORDER BY o_orderkey"

  // ---- A4 overwrite static partition --------------------------------

  def lakeOverwritePartition(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "ovwpart"), byStatus(o), Seq("o_orderstatus"))
    val discounted = byStatus(
      o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") + 1.0))
    t.overwritePartition(discounted, Map("o_orderstatus" -> "F"))
    sel(t.read())
  }

  val lakeOverwritePartitionSql =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus,
       |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1.0
       |       ELSE o_totalprice END AS o_totalprice
       |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- A5 dynamic partition overwrite -------------------------------

  def lakeOverwriteDynamic(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "ovwdyn"), byStatus(o), Seq("o_orderstatus"))
    t.overwriteDynamic(byStatus(
      o.filter(col("o_orderstatus").isin("O", "P") && col("o_orderkey") < 1000)))
    sel(t.read())
  }

  val lakeOverwriteDynamicSql =
    s"""SELECT $selSql FROM orders
       |WHERE o_orderstatus = 'F'
       |   OR (o_orderstatus IN ('O', 'P') AND o_orderkey < 1000)
       |ORDER BY o_orderkey""".stripMargin

  // ---- A6/A7 time travel --------------------------------------------

  private def twoSnapshotTable(s: SparkSession, d: String, name: String): GraftTable = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, name),
      byStatus(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 3000)))
    t
  }

  def lakeAsOfTs(s: SparkSession, d: String): DataFrame = {
    val t = twoSnapshotTable(s, d, "asofts")
    sel(t.readAsOfTs(t.snapshot(1).tsMillis))
  }

  def lakeAsOfId(s: SparkSession, d: String): DataFrame = {
    val t = twoSnapshotTable(s, d, "asofid")
    sel(t.readAsOfId(1))
  }

  val lakeAsOfSql =
    s"SELECT $selSql FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey"

  // ---- A8 $snapshots view -------------------------------------------

  def lakeSnapshotsView(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "snaps"),
      byStatus(o.filter(col("o_orderkey") < 5000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 5000)))
    t.overwrite(byStatus(o.filter(col("o_totalprice") > 300000)))
    t.snapshotsView
      .select("snapshot_id", "parent_id", "operation",
        "n_added_files", "n_deleted_files", "n_files", "n_rows")
      .orderBy("snapshot_id")
  }

  /** File counts are data-derived (1 file per partition value). */
  val lakeSnapshotsViewSql =
    """WITH lo AS (SELECT count(DISTINCT o_orderstatus) AS f, count(*) AS r
       |           FROM orders WHERE o_orderkey < 5000),
       |hi AS (SELECT count(DISTINCT o_orderstatus) AS f, count(*) AS r
       |       FROM orders WHERE o_orderkey >= 5000),
       |big AS (SELECT count(DISTINCT o_orderstatus) AS f, count(*) AS r
       |        FROM orders WHERE o_totalprice > 300000)
       |SELECT 1::BIGINT AS snapshot_id, -1::BIGINT AS parent_id, 'create' AS operation,
       |       lo.f::BIGINT AS n_added_files, 0::BIGINT AS n_deleted_files,
       |       lo.f::BIGINT AS n_files, lo.r::BIGINT AS n_rows FROM lo
       |UNION ALL
       |SELECT 2, 1, 'append', hi.f, 0, lo.f + hi.f, lo.r + hi.r FROM lo, hi
       |UNION ALL
       |SELECT 3, 2, 'overwrite', big.f, lo.f + hi.f, big.f, big.r FROM lo, hi, big
       |ORDER BY snapshot_id""".stripMargin

  // ---- A9 $files view -----------------------------------------------

  def lakeFilesView(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "files"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.filesView
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"))
      .orderBy(col("partition"))
  }

  val lakeFilesViewSql =
    """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
      |  1::BIGINT AS n_files, count(*) AS n_rows
      |FROM orders GROUP BY o_orderstatus ORDER BY partition""".stripMargin

  // ---- A71 $entries view --------------------------------------------

  /** `lake_entries_view`: the Iceberg `entries`/`all_entries`
    * metadata-table role over the three-snapshot lifecycle
    * (create → append → overwrite), aggregated per (snapshot,
    * content, status) so the oracle can recompute every count and
    * row total from the source table: the overwrite snapshot carries
    * the parent's whole inventory as DELETED entries (the removal
    * half of an incremental diff) alongside its own ADDED files.
    */
  def lakeEntriesView(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "entriesv"),
      byStatus(o.filter(col("o_orderkey") < 5000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 5000)))
    t.overwrite(byStatus(o.filter(col("o_totalprice") > 300000)))
    t.entriesView
      .groupBy(col("snapshot_id"), col("content"), col("status"))
      .agg(count(lit(1)).as("n_entries"), sum(col("n_rows")).as("n_rows"))
      .orderBy(col("snapshot_id"), col("content"), col("status"))
  }

  val lakeEntriesViewSql =
    """WITH lo AS (SELECT count(DISTINCT o_orderstatus) AS f, count(*) AS r
      |           FROM orders WHERE o_orderkey < 5000),
      |hi AS (SELECT count(DISTINCT o_orderstatus) AS f, count(*) AS r
      |       FROM orders WHERE o_orderkey >= 5000),
      |big AS (SELECT count(DISTINCT o_orderstatus) AS f, count(*) AS r
      |        FROM orders WHERE o_totalprice > 300000)
      |SELECT 1::BIGINT AS snapshot_id, 'data' AS content, 'ADDED' AS status,
      |       lo.f::BIGINT AS n_entries, lo.r::BIGINT AS n_rows FROM lo
      |UNION ALL
      |SELECT 2, 'data', 'ADDED', hi.f, hi.r FROM hi
      |UNION ALL
      |SELECT 2, 'data', 'EXISTING', lo.f, lo.r FROM lo
      |UNION ALL
      |SELECT 3, 'data', 'ADDED', big.f, big.r FROM big
      |UNION ALL
      |SELECT 3, 'data', 'DELETED', lo.f + hi.f, lo.r + hi.r FROM lo, hi
      |ORDER BY snapshot_id, content, status""".stripMargin

  // ---- A10 rollback -------------------------------------------------

  def lakeRollback(s: SparkSession, d: String): DataFrame = {
    val t = twoSnapshotTable(s, d, "rollback")
    t.rollback(1)
    sel(t.read())
  }

  // rollback(1) restores the o_orderkey<3000 snapshot
  val lakeRollbackSql = lakeAsOfSql

  // ---- A11 expire + orphan listing ----------------------------------

  def lakeExpire(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "expire"),
      byStatus(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    t.overwrite(byStatus(o.filter(col("o_orderkey") >= 3000)))
    val orphans = t.expire(keepFrom = 2, delete = true)
    Seq((orphans.size.toLong, t.snapshots.size.toLong, t.read().count()))
      .toDF("n_orphans", "n_snapshots", "n_rows")
  }

  val lakeExpireSql =
    """SELECT
      |  (SELECT count(DISTINCT o_orderstatus) FROM orders WHERE o_orderkey < 3000)::BIGINT AS n_orphans,
      |  1::BIGINT AS n_snapshots,
      |  (SELECT count(*) FROM orders WHERE o_orderkey >= 3000)::BIGINT AS n_rows""".stripMargin

  // ---- A12 dep: truncate --------------------------------------------

  def lakeDepTruncate(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "deptrunc"),
      orders(s, d).repartition(col("o_orderpriority")),
      Seq("prio_t"), Seq(DepSpec("o_orderpriority", "prio_t", "truncate[1]")))
    t.scan(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  val lakeDepTruncateSql =
    """SELECT o_orderkey, o_orderpriority FROM orders
      |WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey""".stripMargin

  // ---- A13 dep: bucket ----------------------------------------------

  def lakeDepBucket(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "depbucket"),
      orders(s, d).repartition(col("o_custkey")),
      Seq("cust_b"), Seq(DepSpec("o_custkey", "cust_b", "bucket[8]")))
    t.scan(col("o_custkey") === 42L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val lakeDepBucketSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey = 42 ORDER BY o_orderkey""".stripMargin

  // ---- A14 dep: month of timestamp ----------------------------------

  def lakeDepDate(s: SparkSession, d: String): DataFrame = {
    // repartition on the derived month so each month partition is one
    // file (hash-repartitioning on the raw timestamp would make every
    // task write into every month dir → thousands of tiny files)
    val t = GraftTable.create(s, work(d, "depdate"),
      orders(s, d).repartition(graft.lake.Deps.column("month", col("o_orderdate"))),
      Seq("od_month"), Seq(DepSpec("o_orderdate", "od_month", "month")))
    t.scan(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
           col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .orderBy(col("o_orderkey"))
  }

  val lakeDepDateSql =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01'
      |ORDER BY o_orderkey""".stripMargin

  // ---- A40 partition-spec evolution ---------------------------------

  /** A40 `lake_repartition`: change the partition spec via an explicit
    * one-snapshot rewrite (see [[GraftTable.repartitionSpec]] for why
    * metadata-only spec changes are unsound in the hive-layout model),
    * then answer a partition-filtered query THROUGH the evolved spec —
    * the scan prunes on the new partition column while time travel to
    * snapshot 1 still plans under the old one.
    */
  def lakeRepartition(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "respec"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.repartitionSpec(Seq("o_orderpriority"))
    t.scan(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  val lakeRepartitionSql =
    """SELECT o_orderkey, o_orderpriority FROM orders
      |WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_orderkey""".stripMargin

  // ---- A15 partition pruning ----------------------------------------

  def lakePrunePartition(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "prunepart"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.scan(col("o_orderstatus") === "F" && col("o_totalprice") > 100000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val lakePrunePartitionSql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 100000
      |ORDER BY o_orderkey""".stripMargin

  // ---- A16 min/max file pruning -------------------------------------

  def lakePruneFiles(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "prunefiles"),
      orders(s, d).repartitionByRange(8, col("o_orderkey")))
    t.scan(col("o_orderkey") >= 1000L && col("o_orderkey") <= 2000L)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val lakePruneFilesSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderkey BETWEEN 1000 AND 2000 ORDER BY o_orderkey""".stripMargin

  // ---- A17 null scan (contradictory predicate) ----------------------

  def lakeNullScan(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "nullscan"),
      orders(s, d).repartitionByRange(4, col("o_orderkey")))
    t.scan(col("o_orderkey") < 0L && col("o_orderkey") > 100L)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  val lakeNullScanSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderkey < 0 AND o_orderkey > 100""".stripMargin

  // ---- A18 schema evolution: add column -----------------------------

  def lakeAddColumn(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "addcol"),
      Tables.nation(s, d).select(col("n_nationkey"), col("n_name")))
    t.addColumn("note", StringType)
    t.append(Tables.region(s, d).select(
      (col("r_regionkey") + 100).as("n_nationkey"),
      col("r_name").as("n_name"),
      lit("seeded").as("note")))
    t.read().orderBy(col("n_nationkey"))
  }

  val lakeAddColumnSql =
    """SELECT n_nationkey, n_name, NULL::VARCHAR AS note FROM nation
      |UNION ALL
      |SELECT r_regionkey + 100, r_name, 'seeded' FROM region
      |ORDER BY n_nationkey""".stripMargin

  // ---- A39 DROP COLUMN: metadata-only schema shrink ------------------

  /** Drop is metadata-only: files written before the drop keep the
    * column's bytes on disk, but the shrunk snapshot schema means the
    * parquet reader never projects them; the post-drop append writes
    * files without the column at all. Both generations read as one.
    */
  def lakeDropColumn(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "dropcol"), Tables.nation(s, d))
    t.dropColumn("n_regionkey")
    t.append(Tables.region(s, d).select(
      (col("r_regionkey") + 100).as("n_nationkey"),
      col("r_name").as("n_name")))
    t.read().orderBy(col("n_nationkey"))
  }

  val lakeDropColumnSql =
    """SELECT n_nationkey, n_name FROM nation
      |UNION ALL
      |SELECT r_regionkey + 100, r_name FROM region
      |ORDER BY n_nationkey""".stripMargin

  // ---- A40 RENAME COLUMN: metadata-only via physical-name mapping ----

  /** Rename freezes the on-disk name in field metadata (Iceberg's
    * field-id trick re-expressed): pre-rename files, post-rename files,
    * and footer-stats pruning all keep working — the scan below prunes
    * on the RENAMED column through the physical-name translation.
    */
  def lakeRenameColumn(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "renamecol"),
      Tables.nation(s, d).select(col("n_nationkey"), col("n_name")))
    t.renameColumn("n_name", "nation_name")
    t.append(Tables.region(s, d).select(
      (col("r_regionkey") + 100).as("n_nationkey"),
      col("r_name").as("nation_name")))
    t.scan(col("nation_name") >= "NATION_2")
      .orderBy(col("n_nationkey"))
  }

  val lakeRenameColumnSql =
    """SELECT * FROM (
      |  SELECT n_nationkey, n_name AS nation_name FROM nation
      |  UNION ALL
      |  SELECT r_regionkey + 100, r_name FROM region)
      |WHERE nation_name >= 'NATION_2' ORDER BY n_nationkey""".stripMargin

  // ---- A20 OPTIMIZE ZORDER: multi-column clustering compaction ------

  def lakeZOrder(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "zorder"),
      orders(s, d).repartitionByRange(8, col("o_orderkey")))
    t.optimizeZOrder(Seq("o_custkey", "o_orderkey"), nFiles = 8)
    // after clustering, a predicate on o_custkey (NOT the original
    // layout column) prunes files via footer stats
    t.scan(col("o_custkey") >= 100L && col("o_custkey") < 200L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val lakeZOrderSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey >= 100 AND o_custkey < 200 ORDER BY o_orderkey""".stripMargin

  /** A20b `lake_zorder_hilbert`: the same clustering compaction under
    * `write.optimize.curve=hilbert` — content identical, pruning on
    * the non-layout column still works, and the curve's locality
    * advantage is measured in the spec (LakeSpec A20b).
    */
  def lakeZOrderHilbert(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "zorderhil"),
      orders(s, d).repartitionByRange(8, col("o_orderkey")))
    t.setProperty(GraftTable.OptimizeCurveProp, "hilbert")
    t.optimizeZOrder(Seq("o_custkey", "o_orderkey"), nFiles = 8)
    t.scan(col("o_custkey") >= 100L && col("o_custkey") < 200L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val lakeZOrderHilbertSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey >= 100 AND o_custkey < 200 ORDER BY o_orderkey""".stripMargin

  // ---- A21 DELETE WHERE (copy-on-write) ------------------------------

  def lakeDelete(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "delete"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    // partition-prunable conjunct ('O') + stats conjunct: only 'O'
    // files are rewritten, 'F'/'P' files survive verbatim
    t.delete(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
    sel(t.read())
  }

  val lakeDeleteSql =
    s"""SELECT $selSql FROM orders
       |WHERE NOT (o_orderstatus = 'O' AND o_totalprice > 200000)
       |ORDER BY o_orderkey""".stripMargin

  // ---- A21b DELETE WHERE (merge-on-read) -----------------------------

  /** Same logical delete as [[lakeDelete]], executed merge-on-read:
    * `write.delete.mode=merge-on-read` routes the stats-conjunct delete
    * to deletion vectors (zero data files rewritten), a second
    * point-delete merges into them, then
    * OPTIMIZE-style [[GraftTable.applyDeletes]] folds both back into
    * rewritten files — so the oracle checks the read path over pending
    * deletes AND the apply path in one entry.
    */
  def lakeDeleteMor(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "mordel"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
    val filesAfterMor = t.current.files.map(_.path).toSet
    require(t.current.deleteFiles.nonEmpty && t.current.deleteFiles.forall(_.dv) &&
      t.snapshot(t.currentId).operation == "delete",
      "MOR delete must register deletion-vector entries")
    // point delete stacks on the pending list without touching data
    t.delete(col("o_orderkey") === 7L)
    require(t.current.files.map(_.path).toSet == filesAfterMor,
      "MOR deletes must not rewrite data files")
    t.applyDeletes()
    require(t.current.deleteFiles.isEmpty, "applyDeletes must clear the delete list")
    sel(t.read())
  }

  val lakeDeleteMorSql =
    s"""SELECT $selSql FROM orders
       |WHERE NOT (o_orderstatus = 'O' AND o_totalprice > 200000)
       |  AND o_orderkey <> 7
       |ORDER BY o_orderkey""".stripMargin

  // ---- A90 DELETE WHERE (deletion vectors) ---------------------------

  /** `lake_delete_dv`: merge-on-read deletes (spelled
    * `write.delete.mode=dv`) stored as per-file bitmap DELETION VECTORS
    * ([[graft.lake.GraftDv]]) — three stacked delete
    * commits whose vectors MERGE (one live bitmap per data file, the
    * read-amplification contract the in-entry requires), read back
    * through the bitmap-probe scan and oracle-checked row-for-row.
    */
  def lakeDeleteDv(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "dvdel"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    t.delete(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
    val filesAfter = t.current.files.map(_.path).toSet
    require(t.current.deleteFiles.nonEmpty && t.current.deleteFiles.forall(_.dv),
      "dv delete must register deletion-vector entries")
    // two stacked point deletes: vectors merge instead of accumulating
    t.delete(col("o_orderkey") === 7L)
    t.delete(col("o_orderkey") === 32L)
    require(t.current.files.map(_.path).toSet == filesAfter,
      "dv deletes must not rewrite data files")
    val owners = t.current.deleteFiles.filter(_.dv).flatMap(_.targets)
    require(owners.distinct.size == owners.size,
      "each data file's bitmap must live in exactly one dv entry")
    sel(t.read())
  }

  val lakeDeleteDvSql =
    s"""SELECT $selSql FROM orders
       |WHERE NOT (o_orderstatus = 'O' AND o_totalprice > 200000)
       |  AND o_orderkey NOT IN (7, 32)
       |ORDER BY o_orderkey""".stripMargin

  // ---- A23 UPDATE SET WHERE (copy-on-write) --------------------------

  def lakeUpdate(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "update"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    // only 'P' files rewritten; rows in them not matching the stats
    // conjunct pass through unchanged
    t.update(
      col("o_orderstatus") === "P" && col("o_totalprice") > 150000,
      Map("o_totalprice" -> (col("o_totalprice") + 1.0)))
    sel(t.read())
  }

  val lakeUpdateSql =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus,
       |  CASE WHEN o_orderstatus = 'P' AND o_totalprice > 150000
       |       THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
       |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- A23b UPDATE SET WHERE (merge-on-read) -------------------------

  /** Same logical update as [[lakeUpdate]], executed merge-on-read:
    * matched pre-images fold into deletion vectors, post-images are
    * appended — zero existing files rewritten — then
    * [[GraftTable.applyDeletes]] folds back and the oracle checks the
    * final state, covering both the pending-delete read and the apply.
    */
  def lakeUpdateMor(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "morupd"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    val filesBefore = t.current.files.map(_.path).toSet
    t.update(
      col("o_orderstatus") === "P" && col("o_totalprice") > 150000,
      Map("o_totalprice" -> (col("o_totalprice") + 1.0)))
    require(filesBefore.subsetOf(t.current.files.map(_.path).toSet),
      "MOR update must not rewrite existing data files")
    require(t.current.deleteFiles.nonEmpty && t.current.deleteFiles.forall(_.dv),
      "MOR update must register deletion vectors")
    t.applyDeletes()
    sel(t.read())
  }

  // value-identical to lake_update's oracle
  val lakeUpdateMorSql: String = lakeUpdateSql

  // ---- A22 MERGE INTO (copy-on-write upsert) -------------------------

  def lakeMerge(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val base = o.select(orderCols.map(col): _*)
    // range-clustered layout → source key bounds prune candidate files
    val t = GraftTable.create(s, work(d, "merge"),
      base.repartitionByRange(8, col("o_orderkey")))
    // updates: existing keys in [1000, 2000], price bumped;
    // inserts: fresh negative keys derived from region (provably absent)
    val updates = base.filter(col("o_orderkey").between(1000L, 2000L))
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    val inserts = Tables.region(s, d).select(
      (-col("r_regionkey") - 1L).cast("long").as("o_orderkey"),
      lit(0L).as("o_custkey"),
      lit("N").as("o_orderstatus"),
      lit(1.0).as("o_totalprice"))
    t.merge(updates.unionByName(inserts), Seq("o_orderkey"))
    sel(t.read())
  }

  val lakeMergeSql =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |    CASE WHEN o_orderkey BETWEEN 1000 AND 2000
       |         THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
       |  FROM orders
       |  UNION ALL
       |  SELECT -(r_regionkey + 1), 0, 'N', 1.0 FROM region
       |) ORDER BY o_orderkey""".stripMargin

  // ---- A22b MERGE INTO (merge-on-read, equality deletes) -------------

  /** The same logical upsert as [[lakeMerge]], executed with EQUALITY
    * delete files (Iceberg v2's second delete flavor): the write is
    * O(source) — the source keys themselves become the delete file,
    * with ZERO target data-file scan — and the read side hides matched
    * pre-images by key for files older than the merge while the
    * appended post-images survive (addedBy sequencing). The oracle
    * reads THROUGH the pending equality deletes (no fold-back), so it
    * checks the sequenced read path itself.
    */
  def lakeMergeMor(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val base = o.select(orderCols.map(col): _*)
    val t = GraftTable.create(s, work(d, "mormerge"),
      base.repartitionByRange(8, col("o_orderkey")))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    val filesBefore = t.current.files.map(_.path).toSet
    val updates = base.filter(col("o_orderkey").between(1000L, 2000L))
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    val inserts = Tables.region(s, d).select(
      (-col("r_regionkey") - 1L).cast("long").as("o_orderkey"),
      lit(0L).as("o_custkey"),
      lit("N").as("o_orderstatus"),
      lit(1.0).as("o_totalprice"))
    t.merge(updates.unionByName(inserts), Seq("o_orderkey"))
    require(filesBefore.subsetOf(t.current.files.map(_.path).toSet),
      "equality MOR merge must not rewrite existing data files")
    require(t.current.deleteFiles.exists(_.equalityCols == Seq("o_orderkey")),
      "equality MOR merge must register an equality-delete file")
    sel(t.read())
  }

  // value-identical to lake_merge's oracle
  val lakeMergeMorSql: String = lakeMergeSql

  // ---- A53 ALTER COLUMN TYPE: metadata-only widening ----------------

  /** Even-keyed rows land as `int`/`float` files; the columns then
    * widen to `bigint`/`double` in one manifest commit (zero rewrites,
    * enforced), and odd-keyed rows append at the wide type — the
    * oracle reads BOTH physical generations through one widened
    * schema, which is exactly the promotion contract (narrow parquet
    * values promote losslessly at scan time).
    */
  def lakeWidenColumn(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val narrow = o.filter(col("o_orderkey") % 2 === 0).select(
      col("o_orderkey"),
      col("o_custkey").cast("int").as("o_custkey"),
      col("o_totalprice").cast("float").as("o_totalprice"))
    val t = GraftTable.create(s, work(d, "widen"), narrow)
    val preFiles = t.current.files.map(_.path).toSet
    t.widenColumn("o_custkey", org.apache.spark.sql.types.LongType)
    t.widenColumn("o_totalprice", org.apache.spark.sql.types.DoubleType)
    require(t.current.files.map(_.path).toSet == preFiles,
      "widening must rewrite zero data files")
    t.append(o.filter(col("o_orderkey") % 2 === 1).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
    t.read().orderBy(col("o_orderkey"))
  }

  val lakeWidenColumnSql =
    """SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey,
      |  CASE WHEN o_orderkey % 2 = 0
      |       THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- A57/A58 driver-gate check twins ------------------------------

  /** `lake_autondv_check` (A58): seed-then-merge lifecycle of
    * `write.stats.ndv=auto` — create from half of nation, enable auto,
    * ANALYZE once (seeds the sketches from a full pass), append the
    * other half with NO further analyze, and assert the maintained NDV
    * equals the exact distinct counts (a lgK-12 HLL is exact at this
    * cardinality). One boolean row, pinned by a constant oracle — the
    * same gear the ANN sketch entries use.
    */
  def lakeAutoNdvCheck(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val t = GraftTable.create(s, work(d, "autondvq"), n.filter(col("n_nationkey") < 13))
    t.setProperty(GraftTable.NdvModeProp, "auto")
    t.analyzeNdv()
    t.append(n.filter(col("n_nationkey") >= 13))
    val props = t.current.properties
    import s.implicits._
    Seq((
      props.get("stats.ndv.n_nationkey").exists(_.toLong == 25L),
      props.get("stats.ndv.n_regionkey").exists(_.toLong == 5L),
      props.get("stats.ndv.n_name").exists(_.toLong == 25L),
      props.contains("stats.hll.n_nationkey")))
      .toDF("ndv_key_exact", "ndv_region_exact", "ndv_name_exact", "sketch_persisted")
  }

  val lakeAutoNdvCheckSql: String =
    """SELECT true AS ndv_key_exact, true AS ndv_region_exact,
      |  true AS ndv_name_exact, true AS sketch_persisted""".stripMargin

  /** `lake_claimlock_check` (A57): create → append → COW delete
    * entirely under the forced object-store claim lock (two-phase
    * stage/claim/verify + settle re-read + guarded publish), then
    * assert row counts, snapshot lineage, and a released lock.
    */
  def lakeClaimLockCheck(s: SparkSession, d: String): DataFrame = {
    val hconf = s.sparkContext.hadoopConfiguration
    hconf.set(graft.lake.CommitLock.ImplConfKey, "claim")
    try {
      val n = Tables.nation(s, d)
      val t = GraftTable.create(s, work(d, "claimq"), n.filter(col("n_nationkey") < 13))
      t.append(n.filter(col("n_nationkey") >= 13))
      t.delete(col("n_nationkey") === 0L)
      import s.implicits._
      Seq((
        t.read().count() == 24L,
        t.snapshotIds.size == 3,
        !new java.io.File(s"${work(d, "claimq")}/meta/commit.lock").exists()))
        .toDF("rows_ok", "lineage_ok", "lock_released")
    } finally hconf.unset(graft.lake.CommitLock.ImplConfKey)
  }

  val lakeClaimLockCheckSql: String =
    "SELECT true AS rows_ok, true AS lineage_ok, true AS lock_released"

  /** `lake_history_view` (A60): `$history` — snapshot lineage with
    * `is_current_ancestor`. The script makes the flag non-trivial:
    * snapshot 3 is a PARKED write-audit-publish stage (never
    * published → not an ancestor), then an append lands on the live
    * current (id 4, parent 2 — the id sequence skips over the parked
    * stage but the lineage does not), then a rollback commits as a
    * new snapshot (5). Every id/parent/flag is deterministic, so the
    * oracle is a VALUES literal.
    */
  def lakeHistoryView(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val t = GraftTable.create(s, work(d, "hist"), n.filter(col("n_nationkey") < 10))
    t.append(n.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 15))
    t.stageAppend(n.filter(col("n_nationkey") === 15)) // parked, never published
    t.append(n.filter(col("n_nationkey") > 15))
    t.rollback(2L)
    // `DESCRIBE HISTORY t` (Delta spelling) must be row-for-row the view
    graft.sql.GraftCatalog.register("lake_hist_t", t.root)
    val viaSql = s.sql("DESCRIBE HISTORY lake_hist_t").collect().map(_.toString).toSeq
    val viaView = t.historyView.orderBy(col("snapshot_id")).collect().map(_.toString).toSeq
    require(viaSql == viaView, "DESCRIBE HISTORY must equal the $history view")
    t.historyView.orderBy(col("snapshot_id"))
  }

  val lakeHistoryViewSql: String =
    """SELECT * FROM (VALUES
      |  (1::BIGINT, -1::BIGINT, 'create',   true),
      |  (2::BIGINT,  1::BIGINT, 'append',   true),
      |  (3::BIGINT,  2::BIGINT, 'append',   false),
      |  (4::BIGINT,  2::BIGINT, 'append',   true),
      |  (5::BIGINT,  4::BIGINT, 'rollback', true))
      |AS t(snapshot_id, parent_id, operation, is_current_ancestor)
      |ORDER BY snapshot_id""".stripMargin

  /** `lake_manifests_check` (A61): `$manifests` — manifest storage
    * observability. A bucket[80]-partitioned create crosses the
    * sharding threshold, so the view must show one content-addressed
    * shard per partition whose file counts sum to the `$files`
    * inventory; a small table shows a single `inline` row.
    */
  def lakeManifestsCheck(s: SparkSession, d: String): DataFrame = {
    val big = GraftTable.create(s, work(d, "manifbig"),
      orders(s, d).repartition(col("o_orderkey")),
      Seq("ok_b"), Seq(DepSpec("o_orderkey", "ok_b", "bucket[80]")))
    val m = big.manifestsView.collect()
    val nFiles = big.current.files.size.toLong
    val small = GraftTable.create(s, work(d, "manifsmall"), Tables.nation(s, d))
    val sm = small.manifestsView.collect()
    import s.implicits._
    Seq((
      m.forall(_.getString(0) == "shard") && m.length > 1,
      m.map(_.getLong(2)).sum == nFiles && nFiles >= 64L,
      m.map(_.getString(1)).distinct.length == m.length,
      sm.length == 1 && sm.head.getString(0) == "inline"))
      .toDF("sharded", "counts_match", "paths_unique", "small_inline")
  }

  val lakeManifestsCheckSql: String =
    """SELECT true AS sharded, true AS counts_match,
      |  true AS paths_unique, true AS small_inline""".stripMargin

  // ---- A59 write-time sort order ------------------------------------

  /** `lake_sorted_write` (A59): an empty partitioned table declares
    * `write.sort.columns=o_orderkey`; a 6-way-shuffled append then
    * lands range-distributed and sorted, and the entry REQUIRES the
    * committed files' manifest min/max ranges on the sort column to be
    * pairwise non-overlapping within every partition — the property
    * that lets scans with `o_orderkey` predicates skip whole files
    * from the manifest alone, no OPTIMIZE pass. Values are unchanged,
    * so the oracle is the plain projected table.
    */
  def lakeSortedWrite(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(orderCols.map(col): _*)
    val t = GraftTable.createEmpty(
      s, work(d, "sorted"), o.schema, Seq("o_orderstatus"), Seq.empty)
    t.setProperty(GraftTable.SortColsProp, "o_orderkey")
    t.append(o.repartition(6))
    val byPart = t.current.files.groupBy(_.partition)
    require(byPart.exists(_._2.size >= 2),
      "sorted-write check needs at least one multi-file partition")
    for ((part, fs) <- byPart) {
      val ranges = fs.flatMap(f =>
        f.stats.get("o_orderkey").map(st => (st.min.toLong, st.max.toLong)))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) => require(aMax <= bMin,
          s"sorted write left overlapping file ranges in $part: $ranges")
        case _ => ()
      }
    }
    sel(t.read())
  }

  val lakeSortedWriteSql: String =
    s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  /** `lake_clone` (A65): `CREATE TABLE … SHALLOW CLONE` through the
    * SQL surface — a metadata-only snapshot of the source registered
    * as an independent table (zero data copied; the entry REQUIRES
    * every cloned entry to be an absolute reference, i.e. no bytes
    * moved). The source then gains an append the clone must NOT see,
    * so the oracle (the original orders) also proves isolation.
    */
  def lakeClone(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "clonesrc"),
      byStatus(o), Seq("o_orderstatus"))
    graft.sql.GraftCatalog.register("clone_src", t.root)
    scala.util.Try(graft.sql.GraftCatalog.unregister("clone_dst"))
    s.sql(s"CREATE TABLE clone_dst SHALLOW CLONE clone_src " +
      s"LOCATION '${work(d, "clonedst")}'")
    val cl = new GraftTable(work(d, "clonedst"), s)
    require(cl.current.files.nonEmpty &&
      cl.current.files.forall(f => GraftTable.isAbsoluteEntry(f.path)),
      "shallow clone must reference source files, not copy them")
    t.append(byStatus(o.filter(col("o_orderkey") < 100)))
    sel(cl.read())
  }

  val lakeCloneSql: String = s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  /** `lake_clone_deep` (A66): `CREATE TABLE … DEEP CLONE` — the
    * migration/export flavor: every referenced file is copied under
    * the new root in one cluster job and registered relative. The
    * entry then DELETES THE SOURCE TABLE ENTIRELY and reads the clone
    * — only a clone that truly owns its bytes can still produce the
    * oracle's rows.
    */
  def lakeCloneDeep(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "dclonesrc"),
      byStatus(o), Seq("o_orderstatus"))
    graft.sql.GraftCatalog.register("dclone_src", t.root)
    scala.util.Try(graft.sql.GraftCatalog.unregister("dclone_dst"))
    s.sql(s"CREATE TABLE dclone_dst DEEP CLONE dclone_src " +
      s"LOCATION '${work(d, "dclonedst")}'")
    val cl = new GraftTable(work(d, "dclonedst"), s)
    require(cl.current.files.nonEmpty &&
      cl.current.files.forall(f => !GraftTable.isAbsoluteEntry(f.path)),
      "deep clone must own dest-relative copies")
    graft.lake.MetaIO.deleteDir(t.root, s.sparkContext.hadoopConfiguration)
    sel(cl.read())
  }

  val lakeCloneDeepSql: String = s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  /** `lake_bucket_join` (A64): two tables partitioned on `sbucket[8]`
    * of their join key claim truthful V1 BucketSpecs (sbucket's hash
    * is bit-for-bit `HashPartitioning.partitionIdExpression`, and
    * every committed file carries Spark's `_0000N` bucket suffix), so
    * the fact-to-fact join plans with ZERO shuffle exchanges — the
    * entry REQUIRES that plan shape with broadcast disabled, then
    * returns the per-segment rollup for the DuckDB oracle. At 100 TB
    * this is the storage-partitioned join: co-bucketed event/entity
    * tables join at a 1000-executor scan's cost, no exchange of either
    * side, no driver involvement beyond the manifest read.
    */
  def lakeBucketJoin(s: SparkSession, d: String): DataFrame = {
    // no manual repartition: the write path auto-distributes by the
    // bucket column (one aligned shuffle, ≤ 8 files per table)
    val t1 = GraftTable.create(s, work(d, "bktjoin-o"),
      Tables.orders(s, d),
      Seq("o_b"), Seq(DepSpec("o_custkey", "o_b", "sbucket[8]")))
    val t2 = GraftTable.create(s, work(d, "bktjoin-c"),
      Tables.customer(s, d),
      Seq("c_b"), Seq(DepSpec("c_custkey", "c_b", "sbucket[8]")))
    val conf = s.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val j = t1.read().join(t2.read(), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
      j.collect() // materialize so the adaptive plan is final
      def anyShuffleBelowJoin(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            anyShuffleBelowJoin(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            anyShuffleBelowJoin(q.plan)
          case sm: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
            sm.exists {
              case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
              case _ => false
            }
          case other => other.children.exists(anyShuffleBelowJoin)
        }
      require(!anyShuffleBelowJoin(j.queryExecution.executedPlan),
        "bucket join planned a shuffle below the join — BucketSpec claim lost:\n" +
          j.queryExecution.executedPlan)
      j
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
    }
  }

  val lakeBucketJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- A19 SQL surface: AS OF prefix + registered relations ---------

  def lakeSqlAsOf(s: SparkSession, d: String): DataFrame = {
    val t = twoSnapshotTable(s, d, "sqlasof")
    graft.sql.GraftCatalog.register("graft_orders", t.root)
    s.sql(s"""AS OF '1' SELECT $selSql FROM graft_orders ORDER BY o_orderkey""")
  }

  // as-of snapshot 1 = the o_orderkey<3000 subset
  val lakeSqlAsOfSql = lakeAsOfSql

  // ---- bin-packing compaction ---------------------------------------

  def lakeCompact(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    // fragment: 1 create + 3 appends → 4 files per partition value
    val t = GraftTable.create(s, work(d, "compact"),
      byStatus(o.filter(col("o_orderkey") % 4 === 0)), Seq("o_orderstatus"))
    for (r <- 1 to 3)
      t.append(byStatus(o.filter(col("o_orderkey") % 4 === r)))
    t.optimizeCompact(targetBytes = 1L << 30)
    // one file per partition afterwards, data intact — both facts are
    // data-derived and so DuckDB-oracle-checkable
    t.filesView.groupBy(col("partition"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"))
      .orderBy(col("partition"))
  }

  val lakeCompactSql =
    """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
      |  1::BIGINT AS n_files, count(*) AS n_rows
      |FROM orders GROUP BY o_orderstatus ORDER BY partition""".stripMargin

  // ---- incremental (snapshot-diff) read -----------------------------

  def lakeIncremental(s: SparkSession, d: String): DataFrame = {
    val t = twoSnapshotTable(s, d, "increm")
    sel(t.readIncremental(1, 2))
  }

  val lakeIncrementalSql =
    s"SELECT $selSql FROM orders WHERE o_orderkey >= 3000 ORDER BY o_orderkey"

  // ---- A43 row-level changelog (CDC) --------------------------------

  /** A43 `lake_changelog`: row-level CDC across a DELETE and an UPDATE
    * — copy-on-write rewrites whole files, and the changelog recovers
    * exact row deltas by EXCEPT-ALL cancellation of the rows a rewrite
    * carried over unchanged (see [[GraftTable.changelog]]). The UPDATE
    * surfaces as delete(old)+insert(new); reading cost is bounded by
    * the rewritten files, not the table.
    */
  def lakeChangelog(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "changelog"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.delete(col("o_orderkey") % 97 === 0)
    t.update(col("o_orderkey") % 101 === 0,
      Map("o_totalprice" -> lit(0.0)))
    t.changelog(1, t.currentId)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
        col("_change_type"))
      .orderBy(col("_change_type"), col("o_orderkey"), col("o_totalprice"))
  }

  val lakeChangelogSql =
    """WITH d AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 = 0),
      |u AS (SELECT o_orderkey, o_totalprice FROM orders
      |      WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0)
      |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
      |       'delete' AS _change_type FROM d
      |UNION ALL
      |SELECT o_orderkey, round(o_totalprice, 2), 'delete' FROM u
      |UNION ALL
      |SELECT o_orderkey, 0.0, 'insert' FROM u
      |ORDER BY _change_type, o_orderkey, o_totalprice""".stripMargin

  /** A90 `lake_changelog_dv`: the row-level changelog over DELETION-
    * VECTOR commits — the CDC window spans three stacked dv deletes
    * (the later ones MERGE earlier files' vectors, churning entry
    * paths), and the reconstructed victims must come out of the bitmap
    * DIFF exactly: every deleted pre-image once, nothing else.
    */
  def lakeChangelogDv(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "changelogdv"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    val from = t.currentId
    t.delete(col("o_orderkey") % 97 === 0)
    t.delete(col("o_orderkey") % 101 === 0)
    t.delete(col("o_orderkey") === 7L)
    require(t.current.deleteFiles.nonEmpty && t.current.deleteFiles.forall(_.dv),
      "changelog-dv fixture must run on deletion vectors")
    t.changelog(from, t.currentId)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
        col("_change_type"))
      .orderBy(col("_change_type"), col("o_orderkey"), col("o_totalprice"))
  }

  val lakeChangelogDvSql =
    """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
      |       'delete' AS _change_type
      |FROM orders
      |WHERE o_orderkey % 97 = 0 OR o_orderkey % 101 = 0 OR o_orderkey = 7
      |ORDER BY _change_type, o_orderkey, o_totalprice""".stripMargin

  // ---- CTAS with table management (SQL surface, 2-part name) --------

  def lakeCtas(s: SparkSession, d: String): DataFrame = {
    val root = work(d, "ctas")
    Tables.orders(s, d).createOrReplaceTempView("graft_ctas_src")
    s.sql(s"""CREATE TABLE graft.ctas_orders USING parquet
             |OPTIONS (addTableManagement 'true', path '$root')
             |PARTITIONED BY (o_orderstatus)
             |AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |   FROM graft_ctas_src WHERE o_totalprice > 150000""".stripMargin)
    s.sql("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
            |FROM graft.ctas_orders ORDER BY o_orderkey""".stripMargin)
  }

  val lakeCtasSql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders WHERE o_totalprice > 150000 ORDER BY o_orderkey""".stripMargin

  // ---- A74 REPLACE TABLE AS SELECT (atomic, history-preserving) -----

  /** A74 `lake_replace`: [CREATE OR] REPLACE TABLE … AS SELECT — the
    * recompute-a-rollup-in-place primitive. The replace swaps schema
    * AND contents in one snapshot (row-shape table → aggregated
    * shape); history stays intact, proven by reading snapshot 1 with
    * its ORIGINAL schema after the swap.
    */
  def lakeReplace(s: SparkSession, d: String): DataFrame = {
    val root = work(d, "replace")
    Tables.orders(s, d).createOrReplaceTempView("graft_rt_src")
    s.sql(s"""CREATE TABLE graft.rt_orders USING parquet
             |OPTIONS (addTableManagement 'true', path '$root')
             |AS SELECT o_orderkey, o_totalprice FROM graft_rt_src
             |   WHERE o_totalprice > 150000""".stripMargin)
    s.sql(s"""CREATE OR REPLACE TABLE graft.rt_orders USING parquet
             |OPTIONS (addTableManagement 'true', path '$root')
             |AS SELECT o_orderstatus, count(*) AS n_orders
             |   FROM graft_rt_src GROUP BY o_orderstatus""".stripMargin)
    val t = new GraftTable(root, s)
    val pre = t.readAsOfId(1)
    s.sql("SELECT o_orderstatus, n_orders FROM graft.rt_orders")
      .withColumn("pre_rows", lit(pre.count()))
      .withColumn("pre_cols", lit(pre.columns.mkString(",")))
      .withColumn("op", lit(t.current.operation))
      .orderBy(col("o_orderstatus"))
  }

  val lakeReplaceSql =
    """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
      |  (SELECT count(*) FROM orders WHERE o_totalprice > 150000)::BIGINT AS pre_rows,
      |  'o_orderkey,o_totalprice' AS pre_cols,
      |  'replace' AS op
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- A75 ADD COLUMN … DEFAULT (initial defaults) ------------------

  /** A75 `lake_default_column`: metadata-only column add with an
    * initial default — pre-add rows read 'unclassified' without any
    * rewrite; a post-add insert stores real values. The whole
    * lifecycle runs through the SQL surface (CTAS → ALTER ADD COLUMN
    * DEFAULT → INSERT → SELECT).
    */
  def lakeDefaultColumn(s: SparkSession, d: String): DataFrame = {
    val root = work(d, "defcol")
    Tables.orders(s, d).createOrReplaceTempView("graft_dc_src")
    s.sql(s"""CREATE TABLE graft.dc_orders USING parquet
             |OPTIONS (addTableManagement 'true', path '$root')
             |AS SELECT o_orderkey, o_totalprice FROM graft_dc_src
             |   WHERE o_totalprice > 150000""".stripMargin)
    s.sql("ALTER TABLE graft.dc_orders ADD COLUMN priority_class STRING DEFAULT 'unclassified'")
    s.sql("""INSERT INTO graft.dc_orders
            |SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft_dc_src
            |WHERE o_totalprice <= 150000 AND o_orderkey % 5 = 0""".stripMargin)
    s.sql("""SELECT o_orderkey, o_totalprice, priority_class
            |FROM graft.dc_orders ORDER BY o_orderkey""".stripMargin)
  }

  val lakeDefaultColumnSql =
    """SELECT o_orderkey, o_totalprice, 'unclassified' AS priority_class
      |FROM orders WHERE o_totalprice > 150000
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders WHERE o_totalprice <= 150000 AND o_orderkey % 5 = 0
      |ORDER BY o_orderkey""".stripMargin

  // ---- A77 incrementally-refreshed materialized view ----------------

  /** A77 `lake_matview`: CREATE MATERIALIZED VIEW … / REFRESH — the MV
    * folds the base's changelog (an append AND a copy-on-write delete
    * in one window) incrementally; the scenario *requires* the
    * incremental state to equal a full recompute bit-for-bit (exact
    * integer folds — prices pre-scaled to cents), then returns the
    * view. Money sums stay integral end-to-end, so the DuckDB oracle's
    * independent recompute must hash-match exactly.
    */
  def lakeMatview(s: SparkSession, d: String): DataFrame = {
    val src = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("o_cents"))
    src.filter(col("o_orderkey") % 3 === 0).createOrReplaceTempView("graft_mv_src0")
    src.filter(col("o_orderkey") % 3 === 1).createOrReplaceTempView("graft_mv_src1")
    // the whole lifecycle through SQL: CTAS base → CREATE MATERIALIZED
    // VIEW → DML on the base → REFRESH → SELECT from the view
    s.sql(s"""CREATE TABLE graft.mv_base USING parquet
             |OPTIONS (addTableManagement 'true', path '${work(d, "mvbase")}')
             |AS SELECT o_orderkey, o_orderstatus, o_cents FROM graft_mv_src0""".stripMargin)
    s.sql(s"""CREATE MATERIALIZED VIEW graft.mv_orders LOCATION '${work(d, "mvview")}'
             |AS SELECT o_orderstatus, count(*) AS n_orders, sum(o_cents) AS cents
             |FROM graft.mv_base GROUP BY o_orderstatus""".stripMargin)
    s.sql("INSERT INTO graft.mv_base SELECT o_orderkey, o_orderstatus, o_cents FROM graft_mv_src1")
    s.sql("DELETE FROM graft.mv_base WHERE o_orderkey % 30 = 0")
    s.sql("REFRESH MATERIALIZED VIEW graft.mv_orders")
    val mvRoot = work(d, "mvview")
    val mvFull = new GraftTable(mvRoot, s).read()
    val rec = MatView.recompute(s, mvRoot)
    // one-pass multiset check: the two-direction exceptAll form ran the
    // full recompute subtree (and the view read) twice (r13 optimization)
    require(graft.Checks.multisetDriftCount(mvFull, rec) == 0L,
      "incremental refresh diverged from the full recompute")
    s.sql("SELECT o_orderstatus, n_orders, cents FROM graft.mv_orders ORDER BY o_orderstatus")
  }

  val lakeMatviewSql =
    """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
      |FROM orders
      |WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 30 <> 0
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---- adopt pre-existing parquet (msck-repair equivalent) ----------

  def lakeAdopt(s: SparkSession, d: String): DataFrame = {
    val root = work(d, "adopt")
    // simulate data written by another engine: plain hive-layout parquet
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
      .repartition(col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(s"$root/data")
    val t = GraftTable.adopt(s, root)
    t.read().groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  val lakeAdoptSql =
    """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- pipeline ops over lake tables (composition) ------------------

  /** The two halves compose: documents managed as a graft table (with
    * snapshots, time travel, DML) feed the dedup pipeline directly —
    * `ngramJaccardOf(t.read())` runs over the manifest-planned scan.
    * Oracle is the same exact-Jaccard SQL as the raw-parquet op.
    */
  def lakePipelineCompose(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "pipedocs"), Tables.documents(s, d))
    graft.pipeline.Dedup.ngramJaccardOf(t.read())
  }

  val lakePipelineComposeSql: String = graft.pipeline.Dedup.ngramJaccardCappedSql

  // ---- export -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_create"              -> (lakeCreate _),
    "lake_append"              -> (lakeAppend _),
    "lake_overwrite"           -> (lakeOverwrite _),
    "lake_overwrite_partition" -> (lakeOverwritePartition _),
    "lake_overwrite_dynamic"   -> (lakeOverwriteDynamic _),
    "lake_asof_ts"             -> (lakeAsOfTs _),
    "lake_asof_id"             -> (lakeAsOfId _),
    "lake_snapshots_view"      -> (lakeSnapshotsView _),
    "lake_files_view"          -> (lakeFilesView _),
    "lake_entries_view"        -> (lakeEntriesView _),
    "lake_rollback"            -> (lakeRollback _),
    "lake_expire"              -> (lakeExpire _),
    "lake_dep_truncate"        -> (lakeDepTruncate _),
    "lake_dep_bucket"          -> (lakeDepBucket _),
    "lake_dep_date"            -> (lakeDepDate _),
    "lake_repartition"         -> (lakeRepartition _),
    "lake_changelog"           -> (lakeChangelog _),
    "lake_refs"                -> (lakeRefs _),
    "lake_properties"          -> (lakeProperties _),
    "lake_prune_partition"     -> (lakePrunePartition _),
    "lake_prune_files"         -> (lakePruneFiles _),
    "lake_null_scan"           -> (lakeNullScan _),
    "lake_add_column"          -> (lakeAddColumn _),
    "lake_branch"              -> (lakeBranch _),
    "lake_drop_column"         -> (lakeDropColumn _),
    "lake_rename_column"       -> (lakeRenameColumn _),
    "lake_sql_asof"            -> (lakeSqlAsOf _),
    "lake_zorder"              -> (lakeZOrder _),
    "lake_zorder_hilbert"      -> (lakeZOrderHilbert _),
    "lake_delete"              -> (lakeDelete _),
    "lake_delete_mor"          -> (lakeDeleteMor _),
    "lake_delete_dv"           -> (lakeDeleteDv _),
    "lake_changelog_dv"        -> (lakeChangelogDv _),
    "lake_update_mor"          -> (lakeUpdateMor _),
    "lake_merge"               -> (lakeMerge _),
    "lake_merge_mor"           -> (lakeMergeMor _),
    "lake_widen_column"        -> (lakeWidenColumn _),
    "lake_update"              -> (lakeUpdate _),
    "lake_ctas"                -> (lakeCtas _),
    "lake_replace"             -> (lakeReplace _),
    "lake_default_column"      -> (lakeDefaultColumn _),
    "lake_matview"             -> (lakeMatview _),
    "lake_adopt"               -> (lakeAdopt _),
    "lake_compact"             -> (lakeCompact _),
    "lake_incremental"         -> (lakeIncremental _),
    "lake_pipeline_compose"    -> (lakePipelineCompose _),
    "lake_sorted_write"        -> (lakeSortedWrite _),
    "lake_autondv_check"       -> (lakeAutoNdvCheck _),
    "lake_claimlock_check"     -> (lakeClaimLockCheck _),
    "lake_history_view"        -> (lakeHistoryView _),
    "lake_manifests_check"     -> (lakeManifestsCheck _),
    "lake_bucket_join"         -> (lakeBucketJoin _),
    "lake_clone"               -> (lakeClone _),
    "lake_clone_deep"          -> (lakeCloneDeep _))

  val oracles: Map[String, String] = Map(
    "lake_create"              -> lakeCreateSql,
    "lake_append"              -> lakeAppendSql,
    "lake_overwrite"           -> lakeOverwriteSql,
    "lake_overwrite_partition" -> lakeOverwritePartitionSql,
    "lake_overwrite_dynamic"   -> lakeOverwriteDynamicSql,
    "lake_asof_ts"             -> lakeAsOfSql,
    "lake_asof_id"             -> lakeAsOfSql,
    "lake_snapshots_view"      -> lakeSnapshotsViewSql,
    "lake_files_view"          -> lakeFilesViewSql,
    "lake_entries_view"        -> lakeEntriesViewSql,
    "lake_rollback"            -> lakeRollbackSql,
    "lake_expire"              -> lakeExpireSql,
    "lake_dep_truncate"        -> lakeDepTruncateSql,
    "lake_dep_bucket"          -> lakeDepBucketSql,
    "lake_dep_date"            -> lakeDepDateSql,
    "lake_repartition"         -> lakeRepartitionSql,
    "lake_changelog"           -> lakeChangelogSql,
    "lake_refs"                -> lakeRefsSql,
    "lake_properties"          -> lakePropertiesSql,
    "lake_prune_partition"     -> lakePrunePartitionSql,
    "lake_prune_files"         -> lakePruneFilesSql,
    "lake_null_scan"           -> lakeNullScanSql,
    "lake_add_column"          -> lakeAddColumnSql,
    "lake_branch"              -> lakeBranchSql,
    "lake_drop_column"         -> lakeDropColumnSql,
    "lake_rename_column"       -> lakeRenameColumnSql,
    "lake_sql_asof"            -> lakeSqlAsOfSql,
    "lake_zorder"              -> lakeZOrderSql,
    "lake_zorder_hilbert"      -> lakeZOrderHilbertSql,
    "lake_delete"              -> lakeDeleteSql,
    "lake_delete_mor"          -> lakeDeleteMorSql,
    "lake_delete_dv"           -> lakeDeleteDvSql,
    "lake_changelog_dv"        -> lakeChangelogDvSql,
    "lake_update_mor"          -> lakeUpdateMorSql,
    "lake_merge"               -> lakeMergeSql,
    "lake_merge_mor"           -> lakeMergeMorSql,
    "lake_widen_column"        -> lakeWidenColumnSql,
    "lake_update"              -> lakeUpdateSql,
    "lake_ctas"                -> lakeCtasSql,
    "lake_replace"             -> lakeReplaceSql,
    "lake_default_column"      -> lakeDefaultColumnSql,
    "lake_matview"             -> lakeMatviewSql,
    "lake_adopt"               -> lakeAdoptSql,
    "lake_compact"             -> lakeCompactSql,
    "lake_incremental"         -> lakeIncrementalSql,
    "lake_pipeline_compose"    -> lakePipelineComposeSql,
    "lake_sorted_write"        -> lakeSortedWriteSql,
    "lake_autondv_check"       -> lakeAutoNdvCheckSql,
    "lake_claimlock_check"     -> lakeClaimLockCheckSql,
    "lake_history_view"        -> lakeHistoryViewSql,
    "lake_manifests_check"     -> lakeManifestsCheckSql,
    "lake_bucket_join"         -> lakeBucketJoinSql,
    "lake_clone"               -> lakeCloneSql,
    "lake_clone_deep"          -> lakeCloneDeepSql)
}
