package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.lake.{DepSpec, GraftTable}
import graft.sql.GraftCatalog

/** Driver-gated entries for the SURVEY.md §2.A capabilities that were
  * previously covered only by ScalaTest specs — every one now runs
  * under the DuckDB correctness gate too (VERDICT r6 item 2).
  *
  * Two shapes, mirroring the established LakeQueries conventions:
  *  - data-valued entries return real rows whose oracle is plain SQL
  *    over the driver-generated parquet (the strongest check);
  *  - `*_check` entries script a deterministic scenario, assert the
  *    interesting invariants with `require` (a violation fails the
  *    entry loudly), and return a constant relation pinned by a
  *    VALUES oracle — the pattern `lake_claimlock_check` established.
  */
object GateQueries {

  // shared with LakeQueries: one work-dir scheme + one projected-column
  // convention across every lake driver entry
  import LakeQueries.{work, orders, byStatus, sel, selSql}

  // ---- A28 durable catalog ------------------------------------------

  /** `lake_catalog_check` (A28): registrations live in a warehouse
    * JSON that survives the JVM — register a two-part `db.table`
    * name, drop ALL in-memory state, reload from disk, and the name
    * must still resolve (lookup + SQL query + `$snapshots` through
    * the two-part spelling).
    */
  def lakeCatalogCheck(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "catq"), Tables.nation(s, d))
    GraftCatalog.setWarehouse("/root/repo/target/lakework/warehouse")
    GraftCatalog.register("gatedb.nation_cat", t.root)
    val n0 = s.sql("SELECT count(*) AS n FROM gatedb.nation_cat").head().getLong(0)
    GraftCatalog.dropInMemory()
    require(GraftCatalog.lookup("gatedb.nation_cat").isEmpty, "in-memory state dropped")
    GraftCatalog.reload()
    val survived = GraftCatalog.lookup("gatedb.nation_cat").contains(t.root)
    val n1 = s.sql("SELECT count(*) AS n FROM gatedb.nation_cat").head().getLong(0)
    val snaps = s.sql("SELECT count(*) AS n FROM `gatedb`.`nation_cat$snapshots`")
      .head().getLong(0)
    import s.implicits._
    Seq((survived, n0 == 25L && n1 == 25L, snaps == 1L))
      .toDF("survives_reload", "counts_ok", "views_resolve")
  }

  val lakeCatalogCheckSql: String =
    "SELECT true AS survives_reload, true AS counts_ok, true AS views_resolve"

  // ---- A29 create-time validation -----------------------------------

  /** `lake_validate_check` (A29): malformed CREATE specs are rejected
    * at DDL time with actionable messages — unknown transform, missing
    * source column, phantom partition column, sbucket on a
    * driver-unevaluable source type — while a well-formed create
    * still succeeds.
    */
  def lakeValidateCheck(s: SparkSession, d: String): DataFrame = {
    def createSql(opts: String, parts: String) =
      s"""CREATE TABLE gate_bad_spec (id BIGINT, x DOUBLE, ts TIMESTAMP) USING parquet
         |OPTIONS (addTableManagement 'true'$opts)
         |$parts""".stripMargin
    def failsWith(sql: String, frag: String): Boolean =
      try { s.sql(sql); false }
      catch { case e: Exception => e.getMessage.contains(frag) }
    val badTransform = failsWith(
      createSql(", columnDependencies 'ts=ts_day:frobnicate'", ""),
      "unknown column-dependency transform")
    val badSrc = failsWith(
      createSql(", columnDependencies 'nope=x_day:day'", ""),
      "is not a table column")
    val badPart = failsWith(
      createSql("", "PARTITIONED BY (missing_col)"),
      "neither a table column nor a dependency destination")
    val badBucketType = failsWith(
      createSql(", columnDependencies 'x=x_b:sbucket[4]'", "PARTITIONED BY (x_b)"),
      "unsupported type")
    val root = work(d, "validq")
    val ok =
      try {
        s.sql("DROP TABLE IF EXISTS gate_good_spec")
        s.sql(s"""CREATE TABLE gate_good_spec (id BIGINT, ts TIMESTAMP) USING parquet
                 |OPTIONS (addTableManagement 'true',
                 |         columnDependencies 'ts=ts_day:day', path '$root')
                 |PARTITIONED BY (ts_day)""".stripMargin)
        GraftCatalog.lookup("gate_good_spec").isDefined
      } finally s.sql("DROP TABLE IF EXISTS gate_good_spec")
    import s.implicits._
    Seq((badTransform, badSrc, badPart, badBucketType, ok))
      .toDF("bad_transform", "bad_src", "bad_partition", "bad_bucket_type", "good_create")
  }

  val lakeValidateCheckSql: String =
    """SELECT true AS bad_transform, true AS bad_src, true AS bad_partition,
      |  true AS bad_bucket_type, true AS good_create""".stripMargin

  // ---- A30 optimistic concurrency -----------------------------------

  /** `lake_occ_check` (A30): the manifest commit is a CAS — a parked
    * staged snapshot occupies an id without blocking writers (append
    * allocates past it), and publishing a stage whose parent moved is
    * REJECTED instead of silently dropping the concurrent commit;
    * the recovery path (re-stage + publish) lands cleanly.
    */
  def lakeOccCheck(s: SparkSession, d: String): DataFrame = {
    val base = byStatus(orders(s, d).filter(col("o_orderkey") < 2000))
    val t = GraftTable.create(s, work(d, "occq"), base, Seq("o_orderstatus"))
    val n0 = t.read().count()
    val staged = t.stageAppend(base)     // parks id 2
    t.append(base)                       // steps over the parked id
    val steppedOver = t.currentId == 3L && t.current.parentId == 1L
    val casRejected =
      try { t.publish(staged); false }
      catch { case _: java.util.ConcurrentModificationException => true }
    val pointerHeld = t.currentId == 3L && t.read().count() == n0 * 2
    t.abandonStaged(staged)
    val staged2 = t.stageAppend(base)    // recovery: re-stage on the new current
    t.publish(staged2)
    val recovered = t.read().count() == n0 * 3 && t.currentId == staged2
    import s.implicits._
    Seq((steppedOver, casRejected, pointerHeld, recovered))
      .toDF("stepped_over_stage", "stale_publish_rejected", "pointer_held", "recovered")
  }

  val lakeOccCheckSql: String =
    """SELECT true AS stepped_over_stage, true AS stale_publish_rejected,
      |  true AS pointer_held, true AS recovered""".stripMargin

  // ---- A72 snapshot cherry-pick --------------------------------------

  /** `lake_cherrypick` (A72): Iceberg's cherry-pick — a staged APPEND
    * whose parent has moved publishes anyway by rebasing its file
    * delta onto the live current inside the commit lock (appends
    * commute; anything that deletes is refused). Asserted here: the
    * fast path (parent unchanged) publishes the staged id as-is; the
    * rebase path allocates a fresh id past the moved head, loses no
    * rows, and re-stamps its delta so incremental readers
    * checkpointed at the pre-cherry head still see the cherry-picked
    * files. The data oracle is the full orders table — the base,
    * cherry-picked, and concurrently-appended slices must reassemble
    * it exactly.
    */
  def lakeCherryPick(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "cherryq"),
      byStatus(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    // fast path: parent unchanged → the staged id itself goes live
    val stagedFast = t.stageAppend(byStatus(
      o.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 6000)))
    val fastId = t.publishCherryPick(stagedFast)
    require(fastId == stagedFast, "fast path must publish the staged id as-is")
    // rebase path: the table moves between stage and publish
    val staged = t.stageAppend(byStatus(
      o.filter(col("o_orderkey") >= 6000 && col("o_orderkey") < 9000)))
    t.append(byStatus(o.filter(col("o_orderkey") >= 9000)))
    val preCherry = t.currentId
    val published = t.publishCherryPick(staged)
    require(published > preCherry,
      "rebase must allocate a fresh id past the moved current")
    val deltaRows = t.readIncremental(preCherry, published).count()
    val expectDelta =
      o.filter(col("o_orderkey") >= 6000 && col("o_orderkey") < 9000).count()
    require(deltaRows == expectDelta,
      s"cherry-picked delta must be incrementally visible after the " +
        s"pre-cherry head ($deltaRows vs $expectDelta)")
    sel(t.read())
  }

  val lakeCherryPickSql = s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  // ---- A73 CHECK constraints ------------------------------------------

  /** `lake_check_constraint` (A73): Delta-parity CHECK constraints —
    * a named boolean predicate stored as the `check.<name>` table
    * property, validated against existing data when added (a violated
    * constraint is refused at DDL time) and enforced on every later
    * write BEFORE any file lands (the violating append aborts whole,
    * pointer and row count held). NULL predicates pass per SQL.
    * Dropping the constraint re-admits the previously-refused batch.
    */
  def lakeCheckConstraint(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "checkq"),
      byStatus(o.filter(col("o_orderkey") < 6000)), Seq("o_orderstatus"))
    val n0 = t.read().count()
    // DDL-time refusal: existing rows violate "o_orderkey >= 3000"
    val addRefused =
      try { t.addCheckConstraint("late_keys", "o_orderkey >= 3000"); false }
      catch { case _: IllegalArgumentException => true }
    // unresolvable predicate refused at DDL time
    val badPredRefused =
      try { t.addCheckConstraint("ghost", "no_such_column > 0"); false }
      catch { case _: Throwable => true }
    t.addCheckConstraint("positive_price", "o_totalprice > 0")
    // clean batch admitted under the constraint
    t.append(byStatus(o.filter(col("o_orderkey") >= 6000 && col("o_orderkey") < 9000)))
    val n1 = t.read().count()
    val okBatch = o.filter(col("o_orderkey") >= 9000)
    val poisoned = byStatus(okBatch.unionByName(
      okBatch.limit(1).withColumn("o_totalprice", lit(-1.0))))
    val idBefore = t.currentId
    val writeRefused =
      try { t.append(poisoned); false }
      catch { case _: IllegalArgumentException => true }
    val tableHeld = t.currentId == idBefore && t.read().count() == n1
    // dropping the constraint re-admits the batch
    t.dropCheckConstraint("positive_price")
    t.append(poisoned)
    val readmitted = t.read().count() == n1 + okBatch.count() + 1
    import s.implicits._
    Seq((addRefused, badPredRefused, n1 > n0, writeRefused, tableHeld, readmitted))
      .toDF("violated_add_refused", "bad_predicate_refused", "clean_batch_admitted",
        "violating_write_refused", "table_held", "drop_readmits")
  }

  val lakeCheckConstraintSql: String =
    """SELECT true AS violated_add_refused, true AS bad_predicate_refused,
      |  true AS clean_batch_admitted, true AS violating_write_refused,
      |  true AS table_held, true AS drop_readmits""".stripMargin

  // ---- A31 write-audit-publish --------------------------------------

  /** `lake_wap` (A31): stage → audit (via explicit as-of read) →
    * publish; a second stage is abandoned without a trace. Staged data
    * must be invisible to plain readers until the publish — asserted
    * mid-flight — and the published table equals the full source, so
    * the oracle is the plain projected orders table.
    */
  def lakeWap(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "wapq"),
      byStatus(o.filter(col("o_orderkey") < 6000)), Seq("o_orderstatus"))
    val n0 = t.read().count()
    val staged = t.stageAppend(byStatus(o.filter(col("o_orderkey") >= 6000)))
    require(t.read().count() == n0, "staged data must be invisible before publish")
    val audit = t.readAsOfId(staged).count()
    require(audit > n0, "auditors must see the staged snapshot explicitly")
    t.publish(staged)
    require(t.read().count() == audit, "published data visible")
    val staged2 = t.stageAppend(byStatus(o.filter(col("o_orderkey") < 100)))
    t.abandonStaged(staged2)
    require(t.currentId == staged && t.read().count() == audit,
      "abandon must leave the published current untouched")
    sel(t.read())
  }

  val lakeWapSql = s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  // ---- A33 $partitions metadata view --------------------------------

  /** `lake_partitions_view` (A33): the per-partition rollup straight
    * from the manifest — zero data access. Writes repartition by the
    * partition column, so each status lands in exactly one file and
    * the whole view (names, file counts, row counts) is data-derived.
    */
  def lakePartitionsView(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "partsview"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.partitionsView.select(col("partition"), col("n_files"), col("n_rows"))
      .orderBy(col("partition"))
  }

  val lakePartitionsViewSql: String =
    """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
      |  CAST(1 AS BIGINT) AS n_files, count(*) AS n_rows
      |FROM orders GROUP BY o_orderstatus ORDER BY partition""".stripMargin

  // ---- A36 metadata-only deletes ------------------------------------

  /** `lake_delete_meta` (A36): a delete whose predicate exactly covers
    * partitions drops files from the manifest with ZERO data I/O —
    * asserted: no files written, survivors carried verbatim — and the
    * surviving rows equal the SQL-filtered source.
    */
  def lakeDeleteMeta(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "metadelq"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    val before = t.current.files.map(_.path).toSet
    t.delete(col("o_orderstatus") === "F")
    require(t.current.operation == "delete", "delete must commit")
    require(t.current.addedFiles == 0, "partition delete must be metadata-only")
    require(t.current.files.map(_.path).toSet.subsetOf(before),
      "surviving files must carry over verbatim")
    sel(t.read())
  }

  val lakeDeleteMetaSql: String =
    s"SELECT $selSql FROM orders WHERE o_orderstatus <> 'F' ORDER BY o_orderkey"

  // ---- A38 IS [NOT] NULL pruning ------------------------------------

  /** `lake_null_prune` (A38): null partition values are first-class —
    * a nullable partition column lands null rows in the Hive null
    * partition, `IS NULL` prunes the scan to exactly those files
    * (asserted via pruneFiles), and the scan result equals the SQL
    * recomputation of the same null-injection from raw orders.
    */
  def lakeNullPrune(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).withColumn("status_n",
      when(col("o_orderkey") % 10 === 0, lit(null: String))
        .otherwise(col("o_orderstatus")))
    val t = GraftTable.create(s, work(d, "nullpruneq"),
      o.repartition(col("status_n")), Seq("status_n"))
    val (nullFiles, total, _) = t.pruneFiles(col("status_n").isNull)
    require(nullFiles.nonEmpty && nullFiles.size < total,
      s"IS NULL must prune to the null partition (${nullFiles.size}/$total)")
    val (notNull, _, _) = t.pruneFiles(col("status_n").isNotNull)
    require(notNull.size == total - nullFiles.size,
      "IS NOT NULL must prune away exactly the null-partition files")
    t.scan(col("status_n").isNull)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val lakeNullPruneSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""".stripMargin

  // ---- A41 sharded manifests ----------------------------------------

  /** `lake_shards_check` (A41): once a manifest crosses the sharding
    * threshold the file list externalizes into content-addressed
    * per-partition shards; an append touching ONE partition re-points
    * the untouched partitions' shards verbatim (commit I/O ∝ delta)
    * and expire GCs exactly the unreferenced shards.
    */
  def lakeShardsCheck(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "shardsq"),
      o.repartition(30), Seq("o_orderstatus"))
    val s1 = t.current
    require(s1.files.size >= GraftTable.ShardFilesThreshold, "fixture must shard")
    val sharded = s1.shards.size == 3 &&
      s1.files.size == s1.shards.map(_.nFiles).sum
    t.append(o.filter(col("o_orderstatus") === "O")
      .filter(col("o_orderkey") < 2000).repartition(2))
    val s2 = t.current
    val reused = s2.shards.map(_.path).toSet
      .intersect(s1.shards.map(_.path).toSet).size == 2
    val n = t.read().count()
    t.expire(keepFrom = t.currentId)
    val io = new graft.lake.MetaIO(t.root, s.sparkContext.hadoopConfiguration)
    val onDisk = (io.listNames().filter(_.startsWith("shard-")) ++
      io.listNames("shards").map(n => s"shards/$n")).toSet
    val gced = onDisk == s2.shards.map(_.path).toSet
    val intact = t.read().count() == n
    import s.implicits._
    Seq((sharded, reused, gced, intact))
      .toDF("sharded", "unchanged_shards_reused", "gc_exact", "reads_intact")
  }

  val lakeShardsCheckSql: String =
    """SELECT true AS sharded, true AS unchanged_shards_reused,
      |  true AS gc_exact, true AS reads_intact""".stripMargin

  // ---- A42 table properties drive parquet blooms --------------------

  /** `lake_bloom_check` (A42): `write.bloom.columns` set via table
    * properties materializes parquet bloom filters in the footers of
    * files written AFTER the property — checked by reading the
    * footers back — while pre-property files stay untouched and the
    * property survives unrelated commits.
    */
  def lakeBloomCheck(s: SparkSession, d: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    def bloomOf(rel: String, root: String, c: String): Boolean = {
      val rd = GraftTable.openFooter(new Path(s"$root/$rel"),
        s.sparkContext.hadoopConfiguration)
      try {
        val block = rd.getFooter.getBlocks.get(0)
        val cc = block.getColumns.asScala.find(_.getPath.toDotString == c).get
        rd.readBloomFilter(cc) != null
      } finally rd.close()
    }
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "bloomq"),
      byStatus(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    val before = t.current.files.map(_.path).toSet
    t.setProperty("write.bloom.columns", "o_orderkey")
    t.append(byStatus(o.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 6000)))
    val after = t.current.files.map(_.path).filterNot(before.contains)
    val newHaveBloom = after.nonEmpty && after.forall(bloomOf(_, t.root, "o_orderkey"))
    val oldUntouched = before.forall(!bloomOf(_, t.root, "o_orderkey"))
    t.delete(col("o_orderkey") === -1L)
    val persisted = t.properties.get("write.bloom.columns").contains("o_orderkey")
    import s.implicits._
    Seq((newHaveBloom, oldUntouched, persisted))
      .toDF("new_files_bloom", "old_files_untouched", "property_persists")
  }

  val lakeBloomCheckSql: String =
    """SELECT true AS new_files_bloom, true AS old_files_untouched,
      |  true AS property_persists""".stripMargin

  // ---- A45 MERGE … WHEN MATCHED THEN DELETE -------------------------

  /** `lake_merge_delete` (A45): deletion-list erasure in SQL — MERGE
    * with a key-list source and WHEN MATCHED THEN DELETE drops exactly
    * the listed keys, with the rewrite set pruned by the source key
    * bounds. Survivors equal the SQL-filtered orders table.
    */
  def lakeMergeDelete(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "mergedelq"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    GraftCatalog.register("gate_mdel", t.root)
    orders(s, d).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey")).createOrReplaceTempView("gate_del_list")
    s.sql("MERGE INTO gate_mdel USING gate_del_list " +
      "ON gate_mdel.o_orderkey = gate_del_list.o_orderkey " +
      "WHEN MATCHED THEN DELETE")
    require(t.current.operation == "merge-delete", "merge-delete must commit")
    sel(new GraftTable(t.root, s).read())
  }

  val lakeMergeDeleteSql: String =
    s"SELECT $selSql FROM orders WHERE o_orderkey % 97 <> 0 ORDER BY o_orderkey"

  // ---- A46 DESCRIBE TABLE -------------------------------------------

  /** `lake_describe` (A46): DESCRIBE TABLE over a dep-partitioned
    * nation table — columns with types, the partition-spec section,
    * and the dependency transform line. Fully deterministic, so the
    * oracle is the expected relation spelled as VALUES.
    */
  def lakeDescribe(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "descq"),
      Tables.nation(s, d), Seq("n_pfx"),
      Seq(DepSpec("n_name", "n_pfx", "truncate[1]")))
    GraftCatalog.register("gate_desc", t.root)
    s.sql("DESCRIBE TABLE gate_desc")
  }

  val lakeDescribeSql: String =
    """SELECT * FROM (VALUES
      |  ('n_nationkey', 'int',    CAST(NULL AS VARCHAR)),
      |  ('n_name',      'string', NULL),
      |  ('n_regionkey', 'int',    NULL),
      |  ('n_pfx',       'string', NULL),
      |  ('# Partition Information', '', NULL),
      |  ('n_pfx', '', 'partition column'),
      |  ('n_pfx', '', '= truncate[1](n_name)'))
      |AS t(col_name, data_type, comment)""".stripMargin

  // ---- A47 catalog introspection ------------------------------------

  /** `lake_showcreate_check` (A47): SHOW GRAFT TABLES lists the
    * registration, and SHOW CREATE TABLE reconstructs re-runnable DDL
    * — proven by actually running the reconstructed statement (new
    * name + new path) and checking a managed table appears.
    */
  def lakeShowCreateCheck(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "showq"),
      byStatus(orders(s, d).filter(col("o_orderkey") < 500)), Seq("o_orderstatus"))
    GraftCatalog.register("gate_show", t.root)
    val listed = s.sql("SHOW GRAFT TABLES").collect()
      .exists(r => r.getString(0) == "gate_show" && r.getString(1) == t.root)
    val ddl = s.sql("SHOW CREATE TABLE gate_show").head().getString(0)
    val ddlShape = ddl.contains("CREATE TABLE gate_show") &&
      ddl.contains("o_orderkey BIGINT") &&
      ddl.contains("PARTITIONED BY (o_orderstatus)") &&
      ddl.contains(s"path '${t.root}'")
    s.sql("DROP TABLE IF EXISTS gate_show2")
    s.sql(ddl.replace("CREATE TABLE gate_show", "CREATE TABLE gate_show2")
      .replace(t.root, t.root + "2"))
    val rerunnable = GraftCatalog.lookup("gate_show2").isDefined
    s.sql("DROP TABLE gate_show2")
    import s.implicits._
    Seq((listed, ddlShape, rerunnable))
      .toDF("listed", "ddl_shape", "ddl_rerunnable")
  }

  val lakeShowCreateCheckSql: String =
    "SELECT true AS listed, true AS ddl_shape, true AS ddl_rerunnable"

  // ---- A48c merge-on-read MERGE (position-kind deletes) -------------

  /** `lake_merge_mor_pos` (A48c): `write.merge.mode=merge-on-read`
    * upserts with ZERO rewrites — matched pre-images' positions fold
    * into deletion vectors, the full source is appended, every
    * pre-merge data file survives verbatim (asserted), and the
    * `$deletes` view tracks the pending dv entries until
    * `applyDeletes` folds them back. The final table equals the
    * SQL-computed upsert.
    */
  def lakeMergeMorPos(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "mormergeq"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    val preFiles = t.current.files.map(_.path).toSet
    val updates = t.read().filter(col("o_orderkey") % 50 === 0)
      .withColumn("o_totalprice", lit(111.25))
    val inserts = t.read().filter(col("o_orderkey") % 50 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("o_totalprice", lit(222.5))
    t.merge(updates.unionByName(inserts), Seq("o_orderkey"))
    require(preFiles.subsetOf(t.current.files.map(_.path).toSet),
      "MOR merge must not rewrite existing files")
    val dv = t.deletesView.collect()
    require(dv.nonEmpty && dv.forall(_.getAs[String]("kind") == "dv"),
      "pending deletion-vector entries must be visible in $deletes")
    t.applyDeletes()
    require(t.deletesView.count() == 0, "applyDeletes must drain the pending list")
    sel(t.read())
  }

  val lakeMergeMorPosSql: String =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus,
       |  CASE WHEN o_orderkey % 50 = 0 THEN 111.25 ELSE o_totalprice END AS o_totalprice
       |FROM orders
       |UNION ALL
       |SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, 222.5
       |FROM orders WHERE o_orderkey % 50 = 0
       |ORDER BY o_orderkey""".stripMargin

  // ---- A76 `$deletes` metadata view as a driver entry ---------------

  /** `lake_deletes_view` (A76): the `$deletes` metadata table as a
    * first-class data-valued surface — pending MOR delete files with
    * kind and row counts. Scenario: a deletion vector (MOR DELETE
    * WHERE) and an equality-delete (MOR MERGE with eq kind) stack on
    * one table; the view reports BOTH kinds with exact logical row
    * counts through the SQL `t$deletes` spelling; applyDeletes drains
    * it to zero. Output = per-kind (n_files ≥ 1 collapsed to a flag,
    * exact n_rows, equality column list) + the drained count.
    */
  def lakeDeletesView(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "delview"), orders(s, d))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    // deletion vectors: MOR DELETE WHERE o_orderkey % 400 = 0
    t.delete(col("o_orderkey") % 400 === 0)
    // equality deletes: MOR MERGE updating o_orderkey % 500 = 0 rows
    val updates = orders(s, d).filter(col("o_orderkey") % 500 === 0)
      .withColumn("o_totalprice", lit(99.75))
    t.merge(updates, Seq("o_orderkey"))
    GraftCatalog.register("gate_delview", t.root)
    val dv = s.sql("SELECT kind, n_deleted_rows, equality_columns FROM `gate_delview$deletes`")
    val perKind = dv.groupBy(col("kind"), col("equality_columns"))
      .agg(sum(col("n_deleted_rows")).as("n_rows"),
        (count(lit(1)) >= 1).as("has_files"))
    val out = perKind.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq.sorted
    t.applyDeletes()
    val drained = t.deletesView.count()
    import s.implicits._
    out.toDF("kind", "equality_columns", "n_rows", "has_files")
      .withColumn("drained_after_apply", lit(drained))
      .orderBy(col("kind"))
  }

  /** The vectors kill every %400 key; the equality merge kills the
    * %500 pre-images (the overlap %2000 is already dv-killed by
    * the time the merge reads, so its eq-delete keys are the %500
    * survivors — but equality delete files record the SOURCE key set,
    * which is all %500 keys).
    */
  val lakeDeletesViewSql: String =
    """SELECT kind, equality_columns, n_rows, true AS has_files,
      |       CAST(0 AS BIGINT) AS drained_after_apply
      |FROM (
      |  SELECT 'dv' AS kind, '' AS equality_columns,
      |    (SELECT count(*) FROM orders WHERE o_orderkey % 400 = 0)::BIGINT AS n_rows
      |  UNION ALL
      |  SELECT 'equality', 'o_orderkey',
      |    (SELECT count(*) FROM orders WHERE o_orderkey % 500 = 0)::BIGINT)
      |ORDER BY kind""".stripMargin

  // ---- A78 retention policy (auto-expire on commit) -----------------

  /** `lake_retention` (A78): `history.keep.max-snapshots` bounds the
    * snapshot count on every commit — five appends against a keep-4
    * dial leave ≤ 4 unpinned snapshots plus the tagged pin, the pinned
    * snapshot stays time-travelable with its exact contents, and the
    * live table contents are never touched by expiration.
    */
  def lakeRetention(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "retention"),
      o.filter(col("o_orderkey") % 6 === 0))
    t.setProperty(GraftTable.MaxSnapshotsProp, "4")
    val pinnedId = t.currentId
    t.tag("retain0", pinnedId)
    for (r <- 1 to 5)
      t.append(o.filter(col("o_orderkey") % 6 === r))
    val ids = t.snapshotIds
    require(ids.size <= 5,
      s"retention must bound snapshots to 4 + the pin, got ${ids.size}")
    require(ids.contains(pinnedId), "the tagged snapshot must survive")
    import s.implicits._
    Seq((ids.size.toLong <= 5, ids.contains(pinnedId),
        t.readAsOfId(pinnedId).count(), t.read().count()))
      .toDF("bounded", "pinned_survives", "pinned_rows", "final_rows")
  }

  val lakeRetentionSql: String =
    """SELECT true AS bounded, true AS pinned_survives,
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 6 = 0)::BIGINT AS pinned_rows,
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 6 <= 5)::BIGINT AS final_rows""".stripMargin

  // ---- A79 DESCRIBE DETAIL ------------------------------------------

  /** `lake_detail` (A79): Delta-parity `DESCRIBE DETAIL` — one
    * metadata-only row of table-level operational facts. The scenario
    * pins the interesting semantics: a pending MOR delete SUBTRACTS
    * from `num_rows` without touching `num_files` (logical vs physical
    * state), the snapshot/operation columns track the DML history, and
    * the partition layout reports its column and per-status file
    * count. Byte sizes and paths are projected out (encoding-
    * dependent).
    */
  def lakeDetail(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "detail"),
      byStatus(orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("o_orderkey") % 100 === 0)
    GraftCatalog.register("gate_detail", t.root)
    s.sql("DESCRIBE DETAIL gate_detail")
      .select(col("format"), col("num_columns"), col("partition_columns"),
        col("num_files"), col("num_rows"), col("num_snapshots"),
        col("current_snapshot_id"), col("last_operation"))
  }

  val lakeDetailSql: String =
    """SELECT 'parquet' AS format, 4::BIGINT AS num_columns,
      |  'o_orderstatus' AS partition_columns,
      |  (SELECT count(DISTINCT o_orderstatus) FROM orders)::BIGINT AS num_files,
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 100 <> 0)::BIGINT AS num_rows,
      |  3::BIGINT AS num_snapshots, 3::BIGINT AS current_snapshot_id,
      |  'delete' AS last_operation""".stripMargin

  // ---- A80 ANALYZE TABLE (NDV statistics via SQL) --------------------

  /** `lake_analyze` (A80): the SQL ANALYZE surface over the manifest
    * NDV store — one data pass commits an `analyze` snapshot whose
    * HLL-derived `stats.ndv.*` properties land within 5 % of the exact
    * distinct counts (HLL is exact at tiny cardinalities, so the
    * status column's NDV is oracled exactly).
    */
  def lakeAnalyze(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "analyze"),
      byStatus(orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))), Seq("o_orderstatus"))
    GraftCatalog.register("gate_analyze", t.root)
    s.sql("ANALYZE TABLE gate_analyze COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_orderstatus")
    val t2 = new GraftTable(t.root, s)
    require(t2.current.operation == "analyze",
      "ANALYZE must commit an analyze snapshot")
    val props = t2.properties
    def ndv(c: String) = props(s"stats.ndv.$c").toLong
    val exactKeys = t2.read().select(col("o_orderkey")).distinct().count()
    val within = math.abs(ndv("o_orderkey") - exactKeys).toDouble / exactKeys < 0.05
    import s.implicits._
    Seq((within, ndv("o_orderstatus"))).toDF("ndv_keys_within_5pct", "ndv_status")
  }

  val lakeAnalyzeSql: String =
    """SELECT true AS ndv_keys_within_5pct,
      |  (SELECT count(DISTINCT o_orderstatus) FROM orders)::BIGINT AS ndv_status""".stripMargin

  // ---- A81 RESTORE TABLE --------------------------------------------

  /** `lake_restore` (A81): Delta-parity `RESTORE TABLE … TO VERSION AS
    * OF` — an overwritten table restored to snapshot 1 through SQL; the
    * restore commits as a rollback (undoable, time-travelable), and the
    * restored contents equal the original snapshot exactly.
    */
  def lakeRestore(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "restore"),
      byStatus(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    t.overwrite(byStatus(o.filter(col("o_orderkey") >= 3000)))
    GraftCatalog.register("gate_restore", t.root)
    s.sql("RESTORE TABLE gate_restore TO VERSION AS OF 1")
    val t2 = new GraftTable(t.root, s)
    require(t2.current.operation == "rollback",
      "RESTORE must commit a rollback snapshot")
    sel(t2.read())
  }

  val lakeRestoreSql: String =
    s"SELECT $selSql FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey"

  // ---- A82 TRUNCATE TABLE --------------------------------------------

  /** `lake_truncate` (A82): `TRUNCATE TABLE` commits a metadata-only
    * empty-file-set snapshot — O(1) regardless of table size (no file
    * IO, no rewrite; the same property that makes A36's metadata
    * deletes matter at 100 TB). History is preserved: time travel
    * still reads the pre-truncate contents, and the table stays fully
    * writable — the entry re-fills it and reads the new contents back.
    */
  def lakeTruncate(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "truncq"),
      byStatus(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 3000)))
    GraftCatalog.register("gate_trunc", t.root)
    val preCount = t.read().count()
    s.sql("TRUNCATE TABLE gate_trunc")
    val t2 = new GraftTable(t.root, s)
    require(t2.current.operation == "truncate",
      "TRUNCATE must commit a truncate snapshot")
    require(t2.current.files.isEmpty, "truncate file set must be empty")
    require(t2.read().count() == 0L, "post-truncate scan must be empty")
    require(t2.readAsOfId(2L).count() == preCount,
      "time travel must still read the pre-truncate contents")
    t2.append(byStatus(o.filter(col("o_orderkey") < 2000)))
    sel(new GraftTable(t.root, s).read())
  }

  val lakeTruncateSql: String =
    s"SELECT $selSql FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"

  // ---- A83 SHOW PARTITIONS -------------------------------------------

  /** `lake_show_partitions` (A83): the Hive/Spark/Iceberg `SHOW
    * PARTITIONS t` spelling routes to the `$partitions` manifest
    * rollup — O(metadata), zero data access at any table size. The
    * oracle recomputes partition rows from the source table; file
    * counts and bytes are physical (layout-dependent) and stay out of
    * the oracled projection.
    */
  def lakeShowPartitions(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "showpartsq"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    GraftCatalog.register("gate_showparts", t.root)
    val out = s.sql("SHOW PARTITIONS gate_showparts")
    require(out.columns.toSeq ==
      Seq("partition", "n_files", "n_rows", "n_bytes"),
      "SHOW PARTITIONS must surface the $partitions rollup")
    out.select(col("partition"), col("n_rows")).orderBy(col("partition"))
  }

  val lakeShowPartitionsSql: String =
    """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
      |  count(*) AS n_rows
      |FROM orders GROUP BY o_orderstatus ORDER BY partition""".stripMargin

  // ---- A84 CALL maintenance procedures -------------------------------

  /** `lake_call_procedures` (A84): the Iceberg-parity procedural
    * spelling of table maintenance — one lifecycle through four
    * `CALL system.<proc>` statements (rollback → compaction rewrite →
    * snapshot expiration → orphan sweep), each returning its
    * (procedure, prev, current, detail) result row like Iceberg's
    * Spark procedures. Named `arg => value` and positional forms both
    * exercised; final contents must equal the rolled-back-to slice.
    */
  def lakeCallProcedures(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "callq"),
      byStatus(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 3000)))
    GraftCatalog.register("gate_call", t.root)
    val rb = s.sql(
      "CALL system.rollback_to_snapshot(table => 'gate_call', snapshot_id => 1)").head()
    require(rb.getLong(1) == 2L && rb.getLong(2) == 3L,
      s"rollback must step the snapshot (got prev=${rb.getLong(1)} cur=${rb.getLong(2)})")
    require(new GraftTable(t.root, s).current.operation == "rollback",
      "procedural rollback must commit a rollback snapshot")
    s.sql("CALL system.rewrite_data_files('gate_call')").collect()
    val ex = s.sql("CALL system.expire_snapshots(table => 'gate_call')").head()
    require(ex.getString(3).startsWith("expired"), s"unexpected detail: $ex")
    val t2 = new GraftTable(t.root, s)
    require(t2.snapshotIds == Seq(t2.currentId),
      "expire keep_from=current must leave exactly the current snapshot")
    val ro = s.sql(
      "CALL system.remove_orphan_files(table => 'gate_call', older_than_millis => 0)").head()
    require(ro.getLong(1) == ro.getLong(2),
      "orphan sweep is pure control plane: no snapshot committed")
    sel(new GraftTable(t.root, s).read())
  }

  val lakeCallProceduresSql: String =
    s"SELECT $selSql FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey"

  // ---- A86 COMMENT ON --------------------------------------------------

  /** `lake_comment` (A86): documentation DDL — `COMMENT ON TABLE` and
    * `COMMENT ON COLUMN` land as metadata-only set-properties
    * snapshots, surface through DESCRIBE TABLE's comment column and
    * `$properties`, and `IS NULL` clears. Unknown columns refused.
    */
  def lakeComment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = GraftTable.create(s, work(d, "commentq"),
      byStatus(orders(s, d).filter(col("o_orderkey") < 2000)), Seq("o_orderstatus"))
    GraftCatalog.register("gate_comment", t.root)
    s.sql("COMMENT ON TABLE gate_comment IS 'orders fact table'")
    s.sql("COMMENT ON COLUMN gate_comment.o_totalprice IS 'gross order value'")
    val tc = s.sql("SHOW TBLPROPERTIES gate_comment")
      .filter(col("key") === "comment").head().getString(1)
    val cc = s.sql("DESCRIBE TABLE gate_comment")
      .filter(col("col_name") === "o_totalprice").head().getString(2)
    val viaProps = s.sql(
      """SELECT value FROM `gate_comment$properties`
        |WHERE key = 'comment.col.o_totalprice'""".stripMargin).head().getString(0)
    require(viaProps == cc, "DESCRIBE and $properties must agree on the comment")
    require(new GraftTable(t.root, s).current.operation == "set-properties",
      "COMMENT must commit a metadata-only set-properties snapshot")
    val bad = try { s.sql("COMMENT ON COLUMN gate_comment.nope IS 'x'"); false }
    catch { case e: IllegalArgumentException => e.getMessage.contains("no column") }
    // Case-insensitive resolution (Spark default): mixed-case spelling
    // resolves and updates the SAME canonical-key property, no new key.
    s.sql("COMMENT ON COLUMN gate_comment.O_TotalPrice IS 'gross order value'")
    require(s.sql(
      """SELECT count(*) FROM `gate_comment$properties`
        |WHERE lower(key) LIKE 'comment.col.%'""".stripMargin).head().getLong(0) == 1L,
      "mixed-case COMMENT must reuse the canonical comment.col key")
    s.sql("COMMENT ON TABLE gate_comment IS NULL")
    val cleared = s.sql("SHOW TBLPROPERTIES gate_comment")
      .filter(col("key") === "comment").count() == 0L
    Seq((tc, cc, bad, cleared))
      .toDF("table_comment", "col_comment", "unknown_column_refused", "clear_works")
  }

  val lakeCommentSql: String =
    """SELECT 'orders fact table' AS table_comment,
      |  'gross order value' AS col_comment,
      |  true AS unknown_column_refused, true AS clear_works""".stripMargin

  // ---- A49 DSv2 TableCatalog ----------------------------------------

  /** `lake_v2_catalog` (A49): reads and writes through Spark's V2
    * `TableCatalog` plugin — a three-part `graft_cat.db.t` identifier
    * resolves to the manifest-planned scan, INSERT INTO through the
    * V2 path commits a snapshot, and the final read (via the V2
    * identifier) equals nation ∪ shifted-nation.
    */
  def lakeV2Catalog(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sql.GraftV2Catalog")
    s.conf.set("spark.sql.catalog.graft_cat.warehouse",
      "/root/repo/target/lakework/v2warehouse")
    val t = GraftTable.create(s, work(d, "v2q"), Tables.nation(s, d))
    GraftCatalog.register("gatev2.nation_v2", t.root)
    s.sql("""INSERT INTO graft_cat.gatev2.nation_v2
            |SELECT n_nationkey + 100, n_name, n_regionkey
            |FROM graft_cat.gatev2.nation_v2""".stripMargin)
    require(new GraftTable(t.root, s).current.operation == "append",
      "V2 INSERT must commit an append snapshot")
    s.sql("""SELECT n_nationkey, n_name, n_regionkey
            |FROM graft_cat.gatev2.nation_v2 ORDER BY n_nationkey""".stripMargin)
  }

  val lakeV2CatalogSql: String =
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |UNION ALL
      |SELECT n_nationkey + 100, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin

  // ---- A50 Spark-native time travel ---------------------------------

  /** `lake_version_asof` (A50): Spark's own `VERSION AS OF` /
    * `TIMESTAMP AS OF` clauses route to the as-of scan — version 1 is
    * the sub-6000 create, checked value-for-value; the tag spelling
    * and the timestamp spelling must agree with it (asserted).
    */
  def lakeVersionAsof(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "verasofq"),
      byStatus(o.filter(col("o_orderkey") < 6000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 6000)))
    t.tag("audited", 1L)
    GraftCatalog.register("gate_verasof", t.root)
    val n1 = s.sql("SELECT count(*) AS n FROM gate_verasof VERSION AS OF 1")
      .head().getLong(0)
    val nTag = s.sql("SELECT count(*) AS n FROM gate_verasof VERSION AS OF 'audited'")
      .head().getLong(0)
    require(n1 == nTag, "tag spelling must resolve to the same snapshot")
    // render the literal in the SESSION zone (graft parses it there);
    // java.sql.Timestamp.toString would use the JVM default zone and
    // shift the instant whenever the two differ
    val ts1 = java.time.Instant.ofEpochMilli(t.snapshot(1L).tsMillis)
      .atZone(java.time.ZoneId.of(s.conf.get("spark.sql.session.timeZone")))
      .toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val nTs = s.sql(s"SELECT count(*) AS n FROM gate_verasof TIMESTAMP AS OF '$ts1'")
      .head().getLong(0)
    require(nTs == n1, "timestamp spelling must resolve to the same snapshot")
    s.sql(s"SELECT $selSql FROM gate_verasof VERSION AS OF 1 ORDER BY o_orderkey")
  }

  val lakeVersionAsofSql: String =
    s"SELECT $selSql FROM orders WHERE o_orderkey < 6000 ORDER BY o_orderkey"

  // ---- A51 manifest-derived CatalogStatistics -----------------------

  /** `lake_stats_check` (A51): bridged session-catalog entries carry
    * exact rowCount/sizeInBytes derived from the manifest (no scan),
    * and static planning (AQE OFF) broadcasts the managed table from
    * those stats alone. Row count is data-derived, so the oracle
    * recomputes it from orders.
    */
  def lakeStatsCheck(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "statsq"),
      byStatus(orders(s, d).filter(col("o_orderkey") < 2000)), Seq("o_orderstatus"))
    graft.sql.GraftSparkBridge.register(s, "gate_stats", t.root)
    val ct = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("gate_stats"))
    require(ct.stats.isDefined, "registration must attach manifest stats")
    val rowCount = ct.stats.get.rowCount.map(_.toLong).getOrElse(-1L)
    val sizeOk = ct.stats.get.sizeInBytes == BigInt(t.current.files.map(_.bytes).sum)
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    val broadcastOk =
      try {
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val joined = s.table("gate_stats")
          .join(orders(s, d).withColumnRenamed("o_custkey", "big_cust"),
            Seq("o_orderkey"))
        joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
    import s.implicits._
    Seq((rowCount, sizeOk, broadcastOk))
      .toDF("row_count", "size_from_manifest", "broadcast_from_stats")
  }

  val lakeStatsCheckSql: String =
    """SELECT count(*) AS row_count, true AS size_from_manifest,
      |  true AS broadcast_from_stats
      |FROM orders WHERE o_orderkey < 2000""".stripMargin

  // ---- A52 orphan sweep ---------------------------------------------

  /** `lake_vacuum_check` (A52): `vacuumOrphans` sweeps never-
    * referenced payloads (lost commit races) and stale staging trees
    * past the grace period, while referenced files, in-flight-looking
    * payloads (planned id beyond every committed snapshot) and
    * everything inside the grace window survive.
    */
  def lakeVacuumCheck(s: SparkSession, d: String): DataFrame = {
    val root = work(d, "vacq")
    val t = GraftTable.create(s, root,
      byStatus(orders(s, d).filter(col("o_orderkey") < 2000)), Seq("o_orderstatus"))
    val dataDir = java.nio.file.Paths.get(root, "data")
    def plant(name: String): java.nio.file.Path = {
      val p = dataDir.resolve(name)
      java.nio.file.Files.copy(
        java.nio.file.Files.list(dataDir.resolve(
          java.nio.file.Files.list(dataDir).iterator().next().getFileName))
          .iterator().next(), p)
      p
    }
    val orphan = plant("1-99-orphan.parquet")
    val inflight = plant("999-0-inflight.parquet")
    val staging = java.nio.file.Paths.get(root, ".staging-deadbeef")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val nRows = t.read().count()
    val graceHolds = t.vacuumOrphans(graceMillis = 60000).isEmpty &&
      java.nio.file.Files.exists(orphan)
    val removed = t.vacuumOrphans(graceMillis = 0)
    val sweptOrphan = removed.exists(_.endsWith("1-99-orphan.parquet")) &&
      !java.nio.file.Files.exists(orphan)
    val sweptStaging = removed.exists(_.startsWith(".staging-")) &&
      !java.nio.file.Files.exists(staging)
    val inflightKept = java.nio.file.Files.exists(inflight)
    if (inflightKept) java.nio.file.Files.delete(inflight)
    val intact = t.read().count() == nRows
    import s.implicits._
    Seq((graceHolds, sweptOrphan, sweptStaging, inflightKept, intact))
      .toDF("grace_holds", "orphan_swept", "staging_swept", "inflight_kept", "reads_intact")
  }

  val lakeVacuumCheckSql: String =
    """SELECT true AS grace_holds, true AS orphan_swept, true AS staging_swept,
      |  true AS inflight_kept, true AS reads_intact""".stripMargin

  /** `lake_orphans_view` (A70): the `$orphans` DRY-RUN view — plant a
    * dead orphan and a stale staging tree, and the view must report
    * exactly them (kinds included) while deleting NOTHING; the
    * follow-up vacuum then removes exactly what the view predicted.
    */
  def lakeOrphansView(s: SparkSession, d: String): DataFrame = {
    val root = work(d, "orphviewq")
    val t = GraftTable.create(s, root,
      byStatus(orders(s, d).filter(col("o_orderkey") < 1000)), Seq("o_orderstatus"))
    val dataDir = java.nio.file.Paths.get(root, "data")
    val src = java.nio.file.Files.list(dataDir.resolve(
      java.nio.file.Files.list(dataDir).iterator().next().getFileName))
      .iterator().next()
    val orphan = dataDir.resolve("1-99-orphan.parquet")
    java.nio.file.Files.copy(src, orphan)
    val staging = java.nio.file.Paths.get(root, ".staging-cafe")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-0.parquet"), Array[Byte](7))
    val viewed = t.orphansView(graceMillis = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    require(viewed == Set(
      ("data/1-99-orphan.parquet", "unreferenced-payload"),
      (".staging-cafe", "staging-tree")), s"unexpected view: $viewed")
    require(java.nio.file.Files.exists(orphan) && java.nio.file.Files.exists(staging),
      "the view must not delete anything")
    val swept = t.vacuumOrphans(graceMillis = 0).toSet
    require(swept == viewed.map(_._1), s"vacuum must remove what the view predicted: $swept")
    require(t.orphansView(graceMillis = 0).count() == 0, "clean after vacuum")
    import s.implicits._
    Seq((true, true, true)).toDF("view_exact", "dry_run", "vacuum_matches")
  }

  val lakeOrphansViewSql: String =
    "SELECT true AS view_exact, true AS dry_run, true AS vacuum_matches"

  // ---- A54 Hadoop-FS metadata plane ---------------------------------

  /** `lake_fileuri` (A54): the whole metadata plane runs through the
    * Hadoop FileSystem API — a `file:`-URI root (resolvable only via
    * Hadoop, not java.nio) carries create → append → COW delete → MOR
    * delete → exactly-once ledger, and the final rows equal the SQL
    * recomputation.
    */
  def lakeFileUri(s: SparkSession, d: String): DataFrame = {
    val root = "file:" + work(d, "fileuriq")
    val o = orders(s, d).filter(col("o_orderkey") < 4000)
    val t = GraftTable.create(s, root,
      byStatus(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 3000)))
    require(t.snapshotIds.size == 2, "append through file: URI")
    t.delete(col("o_orderkey") % 13 === 0) // COW (non-partition predicate)
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("o_orderkey") % 17 === 0) // MOR deletion vectors
    require(t.current.deleteFiles.nonEmpty, "MOR delete through file: URI")
    // exactly-once ledger through Hadoop I/O: the replay must be skipped
    val late = byStatus(orders(s, d)
      .filter(col("o_orderkey") >= 4000 && col("o_orderkey") < 4300))
    require(t.appendBatch(late, "uri-b1"), "first tagged append must land")
    require(!t.appendBatch(late, "uri-b1"), "replayed tag must be skipped")
    sel(t.read())
  }

  val lakeFileUriSql: String =
    s"""SELECT $selSql FROM orders
       |WHERE (o_orderkey < 4000 AND o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 0)
       |   OR (o_orderkey >= 4000 AND o_orderkey < 4300)
       |ORDER BY o_orderkey""".stripMargin

  // ---- A56 size-gated MOR delete broadcast --------------------------

  /** `lake_morgate_check` (A56): the pending-delete anti-join is
    * broadcast-HINTED only while the recorded delete-set bytes stay
    * under `write.delete.broadcast-threshold` — past it the hint must
    * disappear (no driver OOM cliff; Spark may still broadcast from
    * runtime stats, which is AQE's call, not ours) and reads stay
    * correct either way.
    */
  def lakeMorGateCheck(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    def broadcastHinted(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
        .exists(h => Seq(h.leftHint, h.rightHint).flatten.exists(_.strategy.contains(BROADCAST)))
    val o = orders(s, d).filter(col("o_orderkey") < 2000)
    val t = GraftTable.create(s, work(d, "morgateq"), o)
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("o_orderkey") % 100 === 0)
    val bytesRecorded = t.current.deleteFiles.forall(_.bytes > 0)
    val n = t.read().count()
    val smallHinted = broadcastHinted(t.read())
    t.setProperty(GraftTable.DeleteBroadcastProp, "1")
    val overNotHinted = !broadcastHinted(t.read())
    val stillCorrect = t.read().count() == n &&
      t.read().filter(col("o_orderkey") % 100 === 0).count() == 0
    import s.implicits._
    Seq((bytesRecorded, smallHinted, overNotHinted, stillCorrect))
      .toDF("bytes_recorded", "small_set_hinted", "over_threshold_unhinted", "reads_correct")
  }

  val lakeMorGateCheckSql: String =
    """SELECT true AS bytes_recorded, true AS small_set_hinted,
      |  true AS over_threshold_unhinted, true AS reads_correct""".stripMargin

  // ---- A62 dynamic partition pruning --------------------------------

  /** `lake_dpp_check` (A62): a join against a filtered file-backed dim
    * plants Spark's DynamicPruningExpression on the graft scan's
    * partition column and the runtime filter drops non-matching
    * partition files BEFORE the read — asserted on the `numFiles`
    * metric (1 of 3). The join result itself is data-derived and
    * DuckDB-oracled.
    */
  def lakeDppCheck(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val t = GraftTable.create(s, work(d, "dppq"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    require(t.current.files.size == 3, "one file per status partition")
    import s.implicits._
    val dimPath = work(d, "dppq-dim")
    Seq(("F", 1), ("O", 2), ("P", 3)).toDF("st", "grp")
      .write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath)
    val q = t.read().join(dim.filter(col("grp") === 3), col("o_orderstatus") === col("st"))
      .groupBy(col("st")).agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("st"))
    val out = q.collect()
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case st: QueryStageExec       => leaves(st.plan)
        case f: FileSourceScanExec    => Seq(f)
        case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
      }
    val plan = q.queryExecution.executedPlan
    require(plan.toString.contains("dynamicpruning"),
      s"expected a dynamic pruning filter on the graft scan:\n$plan")
    val scans = leaves(plan).filter(
      _.relation.location.isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
    require(scans.nonEmpty && scans.head.metrics("numFiles").value == 1L,
      "dynamic pruning must reduce the scan to the one matching partition file")
    s.createDataFrame(s.sparkContext.parallelize(out.toSeq), q.schema)
  }

  val lakeDppCheckSql: String =
    """SELECT o_orderstatus AS st, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_orderstatus = 'P'
      |GROUP BY o_orderstatus ORDER BY st""".stripMargin

  // ---- A63 tag/branch DDL in SQL ------------------------------------

  /** `lake_refddl` (A63): the ref-DDL surface — `CREATE TAG … AS OF
    * VERSION`, `CREATE BRANCH`, `FAST FORWARD`, `DROP TAG` — scripted
    * end-to-end; kind-mismatch refusal and drop-only-unpins are
    * asserted, and the returned relation is the tag read (version 1),
    * value-checked against the SQL-filtered source.
    */
  def lakeRefDdl(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "refddlq"),
      byStatus(o.filter(col("o_orderkey") < 6000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 6000)))
    GraftCatalog.register("gate_refddl", t.root)
    s.sql("ALTER TABLE gate_refddl CREATE TAG v1 AS OF VERSION 1")
    s.sql("ALTER TABLE gate_refddl CREATE BRANCH audit")
    val mismatchRefused =
      try { s.sql("ALTER TABLE gate_refddl DROP BRANCH v1"); false }
      catch { case _: Exception => true }
    require(mismatchRefused, "DROP BRANCH on a tag must refuse")
    s.sql("ALTER TABLE gate_refddl DROP BRANCH audit")
    val t2 = new GraftTable(t.root, s)
    require(t2.refsView.collect().map(_.getString(0)).toSet == Set("main", "v1"),
      "drop must remove exactly the dropped ref")
    require(t2.readAsOfId(1L).count() > 0, "dropping a ref must not delete snapshots")
    s.sql(s"AS OF 'v1' SELECT $selSql FROM gate_refddl ORDER BY o_orderkey")
  }

  val lakeRefDdlSql: String =
    s"SELECT $selSql FROM orders WHERE o_orderkey < 6000 ORDER BY o_orderkey"

  // ---- A67 batch CDF SQL surface ------------------------------------

  /** `lake_changes_sql` (A67): `CHANGES BETWEEN a AND b SELECT …` —
    * every graft relation in the query reads as its row-level
    * changelog over the window with `_change_type` appended. The
    * changelog is the NET row diff between the endpoint snapshots
    * (rows added then deleted inside the window cancel), so over the
    * scripted window (1 = the sub-6000 create, 3 = post-delete) the
    * inserts are the surviving appended rows and the deletes are the
    * original rows the key-delete killed — both data-derived.
    */
  def lakeChangesSql(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "changesq"),
      byStatus(o.filter(col("o_orderkey") < 6000)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") >= 6000)))
    t.delete(col("o_orderkey") % 31 === 0)
    GraftCatalog.register("gate_changes", t.root)
    s.sql("""CHANGES BETWEEN 1 AND 3 SELECT _change_type, count(*) AS n,
            |  round(sum(o_totalprice), 2) AS total
            |FROM gate_changes GROUP BY _change_type ORDER BY _change_type""".stripMargin)
  }

  val lakeChangesSqlSql: String =
    """SELECT _change_type, count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM (
      |  SELECT 'insert' AS _change_type, o_totalprice FROM orders
      |  WHERE o_orderkey >= 6000 AND o_orderkey % 31 <> 0
      |  UNION ALL
      |  SELECT 'delete', o_totalprice FROM orders
      |  WHERE o_orderkey < 6000 AND o_orderkey % 31 = 0)
      |GROUP BY _change_type ORDER BY _change_type""".stripMargin

  // ---- A68 $clustering advisor view ---------------------------------

  /** `lake_clustering_check` (A68): the advisor reads fragmentation
    * straight from manifest stats — a round-robin write overlaps
    * heavily (max depth ≈ n files), a `write.sort.columns` write is
    * perfectly clustered (depth 1), and the SQL view agrees.
    */
  def lakeClusteringCheck(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val frag = GraftTable.create(s, work(d, "clustfragq"), o.repartition(6))
    val fragRow = frag.clusteringView.filter(col("column") === "o_orderkey").head()
    val fragSeen = fragRow.getLong(2) == 6L && fragRow.getLong(3) >= 5L
    val sorted = GraftTable.createEmpty(s, work(d, "clustsortq"),
      o.schema, Seq.empty, Seq.empty)
    sorted.setProperty(GraftTable.SortColsProp, "o_orderkey")
    sorted.append(o.repartition(6))
    val sortRow = sorted.clusteringView.filter(col("column") === "o_orderkey").head()
    val sortedClean = sortRow.getLong(2) >= 2L && sortRow.getLong(3) == 1L
    GraftCatalog.register("gate_clust", sorted.root)
    val sqlAgrees = s.sql("SELECT max(max_overlap) FROM `gate_clust$clustering` " +
      "WHERE `column` = 'o_orderkey'").head().getLong(0) == 1L
    import s.implicits._
    Seq((fragSeen, sortedClean, sqlAgrees))
      .toDF("fragmented_deep", "sorted_depth_one", "sql_view_agrees")
  }

  val lakeClusteringCheckSql: String =
    """SELECT true AS fragmented_deep, true AS sorted_depth_one,
      |  true AS sql_view_agrees""".stripMargin

  // ---- A69 Iceberg-metadata export bridge ---------------------------

  /** `lake_iceberg_export` (A69): the one-way Iceberg-spec-v2 metadata
    * export ([[graft.lake.IcebergExport]]) — structural shape asserted
    * with require (format-version, field-id'd schema, transform-mapped
    * partition spec, snapshot chain, existing absolute file paths);
    * the returned row's record-count total is data-derived, so the
    * reconciliation between the exported manifests and the source
    * table is DuckDB-oracled.
    */
  def lakeIcebergExport(s: SparkSession, d: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val t = GraftTable.create(s, work(d, "iceq"),
      byStatus(orders(s, d).filter(col("o_orderkey") < 5000)),
      Seq("o_orderstatus"))
    t.append(byStatus(orders(s, d)
      .filter(col("o_orderkey") >= 5000 && col("o_orderkey") < 8000)))
    val metaPath = graft.lake.IcebergExport.exportMetadata(t, work(d, "iceq") + "-ice")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(p: String) = mapper.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p.stripPrefix("file:"))))
    val md = parse(metaPath)
    require(md.get("format-version").asInt() == 2, "spec v2")
    require(md.get("current-snapshot-id").asLong() == t.currentId)
    val fields = md.get("schemas").get(0).get("fields").elements().asScala.toSeq
    require(fields.map(_.get("id").asInt()).sorted == (1 to t.schema.fields.length),
      "contiguous unique field ids")
    val snaps = md.get("snapshots").elements().asScala.toSeq
    require(snaps.map(_.get("snapshot-id").asLong()) == t.snapshotIds, "snapshot chain")
    // walk the REAL Avro manifest chain, exactly as an external
    // Iceberg reader would
    val mlPath = snaps.last.get("manifest-list").asText()
    require(mlPath.endsWith(".avro"), "manifest-list must be the Avro chain")
    val hp = new org.apache.hadoop.fs.Path(mlPath)
    val hfs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val mlist = graft.lake.IcebergAvro.readManifestList(hfs, hp)
    val idToType = md.get("schemas").get(0).get("fields").elements().asScala
      .map(f => f.get("id").asInt() ->
        graft.lake.IcebergExport.sparkTypeNode(f.get("type"))).toMap
    val entries = graft.lake.IcebergAvro.readManifest(hfs,
      new org.apache.hadoop.fs.Path(mlist.find(_.content == 0).get.manifestPath),
      idToType)
    require(entries.forall { e =>
      (e.filePath.contains(":/") || e.filePath.startsWith("/")) &&
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(e.filePath.stripPrefix("file:")))
    }, "every exported file path is absolute and exists")
    // the JSON debug twin decodes to the same file set
    val twin = parse(parse(snaps.last.get("graft-manifest-list-json").asText())
      .elements().asScala.toSeq.find(_.get("content").asInt() == 0).get
      .get("manifest_path").asText())
    require(twin.get("entries").elements().asScala
      .map(_.get("data_file").get("file_path").asText()).toSet ==
      entries.map(_.filePath).toSet, "JSON twin matches the Avro chain")
    val recordTotal = entries.map(_.rows).sum
    import s.implicits._
    Seq((recordTotal, entries.size == t.current.files.size))
      .toDF("record_count_total", "file_counts_match")
  }

  val lakeIcebergExportSql: String =
    """SELECT count(*) AS record_count_total, true AS file_counts_match
      |FROM orders WHERE o_orderkey < 8000""".stripMargin

  /** `lake_autocompact` (A92): Delta-autoCompact-parity small-file
    * maintenance — `write.auto-compact=true` follows every append with
    * a manifest-only small-file check and packs partitions holding ≥
    * min-files sub-half-target files. Eight streaming-style tagged
    * appends land; the entry requires a compact snapshot fired and
    * per-partition file counts stayed bounded, then returns the full
    * table — the oracle proves packing changed NOTHING about content.
    */
  def lakeAutoCompact(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "acq"),
      byStatus(orders(s, d).filter(col("o_orderkey") < 2000)),
      Seq("o_orderstatus"))
    t.setProperty(GraftTable.AutoCompactProp, "true")
    t.setProperty(GraftTable.AutoCompactMinFilesProp, "4")
    (0 until 8).foreach { k =>
      val lo = 2000 + 250 * k
      t.appendBatch(byStatus(orders(s, d)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + 250)), s"acq-$k")
    }
    require(t.snapshots.exists(_.operation == "compact"),
      "auto-compaction must fire across 8 small appends")
    val perPart = t.current.files.groupBy(_.partition).map(_._2.size)
    require(perPart.max < 9,
      s"9 writes per partition must stay packed, saw $perPart")
    sel(t.read())
  }

  val lakeAutoCompactSql: String =
    s"""SELECT $selSql FROM orders WHERE o_orderkey < 4000
       |ORDER BY o_orderkey""".stripMargin

  /** `lake_txn` (A93): atomic multi-table transaction — one
    * [[graft.lake.GraftTxn.commit]] lands appends on TWO tables as a
    * unit; then a deliberately conflicting transaction (a commit slips
    * in between staging and publish) must abort with NEITHER side
    * published and its stages abandoned. The oracle sees exactly
    * (both initial loads) + (both txn-1 appends) + (the conflicting
    * commit) — nothing from the aborted transaction, on either table.
    */
  def lakeTxn(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTxn
    val o = orders(s, d)
    def slice(lo: Long, hi: Long) =
      byStatus(o.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi))
    val t1 = GraftTable.create(s, work(d, "txna"), slice(0, 1000), Seq("o_orderstatus"))
    val t2 = GraftTable.create(s, work(d, "txnb"), slice(5000, 6000), Seq("o_orderstatus"))
    GraftTxn.commit(s, Seq(t1 -> slice(1000, 2000), t2 -> slice(6000, 7000)))
    require(t1.read().count() > 0 && t2.read().count() > 0)
    // conflicting transaction: stage both, then t2 moves
    val s1 = t1.stageAppend(slice(2000, 3000))
    val s2 = t2.stageAppend(slice(7000, 8000))
    t2.append(slice(9000, 9500))
    val aborted =
      try { GraftTxn.publishStaged(s, Seq(t1 -> s1, t2 -> s2)); false }
      catch { case _: java.util.ConcurrentModificationException => true }
    require(aborted, "a conflicting transaction must abort")
    require(!t1.snapshotIds.contains(s1), "aborted stage must be dropped")
    sel(t1.read().unionByName(t2.read()))
  }

  /** `lake_txn_recover` (A93 operational surface): the crashed-
    * coordinator lifecycle through the SQL plane — a transaction
    * crashes after publishing one of two members; `$txns` shows one
    * `published` and one `pending` participant under the recorded
    * intent; `CALL system.recover_txns` rolls the pending half
    * forward; the view drains and both tables carry the batch.
    */
  def lakeTxnRecover(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTxn
    val o = orders(s, d)
    def slice(lo: Long, hi: Long) =
      byStatus(o.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi))
    // sorted-first root is the coordinator — name them so t1 is it
    val t1 = GraftTable.create(s, work(d, "txra"), slice(0, 1000), Seq("o_orderstatus"))
    val t2 = GraftTable.create(s, work(d, "txrb"), slice(5000, 6000), Seq("o_orderstatus"))
    GraftCatalog.register("gate_txnrec", t1.root)
    val s1 = t1.stageAppend(slice(1000, 2000), "crash-batch")
    val s2 = t2.stageAppend(slice(6000, 7000), "crash-batch")
    GraftTxn.writeIntent(Seq(t1 -> s1, t2 -> s2), Some("crash-batch"))
    t1.publish(s1) // coordinator dies here
    val view = s.sql("SELECT state FROM `gate_txnrec$txns` ORDER BY table_root")
      .collect().map(_.getString(0)).toSeq
    val viewRight = view == Seq("published", "pending")
    val call = s.sql("CALL system.recover_txns('gate_txnrec')").head()
    val callRight = call.getString(3) == "rolled forward 1 transaction(s)"
    val drained = s.sql(s"SELECT count(*) FROM `gate_txnrec$$txns`").head().getLong(0) == 0L
    val landed =
      new GraftTable(t1.root, s).read().count() == slice(0, 2000).count() &&
      new GraftTable(t2.root, s).read().count() == slice(5000, 7000).count()
    import s.implicits._
    Seq((viewRight, callRight, drained, landed))
      .toDF("view_states", "call_detail", "view_drained", "both_landed")
  }

  val lakeTxnRecoverSql: String =
    """SELECT true AS view_states, true AS call_detail,
      |  true AS view_drained, true AS both_landed""".stripMargin

  val lakeTxnSql: String =
    s"""SELECT $selSql FROM orders
       |WHERE o_orderkey < 2000
       |   OR (o_orderkey >= 5000 AND o_orderkey < 7000)
       |   OR (o_orderkey >= 9000 AND o_orderkey < 9500)
       |ORDER BY o_orderkey""".stripMargin

  /** `lake_iceberg_foreign` (A91): import of FOREIGN Iceberg metadata —
    * every other bridge entry round-trips this bridge's own exports,
    * which share its field-id allocation, micros-only footers, and
    * graft-transform spec extras. This entry authors the tree the way
    * an EXTERNAL writer would: TIMESTAMP_MILLIS parquet footers,
    * scrambled non-positional field ids (id=4 name=1 price=7 ts=3
    * cat=2), a required/optional mix, a multi-spec history whose
    * default-spec-id is not 0, real Avro manifests, and zero graft
    * extras. The import must read it EXACTLY — stats landing on the
    * right columns through the id scramble, timestamp bounds dropped
    * (the mis-united-bound class would prune or meta-agg 1000× off),
    * millis footers decoding to the same instants — and the per-cat
    * aggregate of the imported table oracles against plain SQL over
    * the source rows.
    */
  def lakeIcebergForeign(s: SparkSession, d: String): DataFrame = {
    import graft.lake.{IcebergAvro, IcebergExport}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val root = work(d, "icefrn")
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val src = orders(s, d).filter(col("o_orderkey") < 4000)
      .select(col("o_orderkey").as("id"),
        concat(lit("c"), col("o_custkey")).as("name"),
        col("o_totalprice").as("price"),
        col("o_orderdate").cast("timestamp").as("ts"),
        col("o_orderstatus").as("cat"))
    val cats = src.select("cat").distinct().collect().map(_.getString(0)).sorted
    val prevTs = s.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      cats.foreach(c => src.filter(col("cat") === c).drop("cat")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/data/cat=$c"))
    } finally s.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
    // per-cat manifest bounds from one tiny aggregate (|cats| rows)
    val bounds = src.groupBy(col("cat")).agg(
      count(lit(1)).as("n"), min(col("id")).as("id0"), max(col("id")).as("id1"),
      min(col("price")).as("p0"), max(col("price")).as("p1"),
      min(col("ts")).cast("long").as("t0"), max(col("ts")).cast("long").as("t1"))
      .collect().map(r => r.getString(0) -> r).toMap
    val idToType = Map(4 -> LongType, 1 -> StringType, 7 -> DoubleType,
      3 -> TimestampType, 2 -> StringType)
    val entries = cats.map { c =>
      val p = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/data/cat=$c"))
        .iterator().asScala.find(_.toString.endsWith(".parquet")).get
      val b = bounds(c)
      IcebergAvro.DecodedEntry(status = 1, snapshotId = 77L,
        sequenceNumber = Some(5L), content = 0, filePath = p.toString,
        fileFormat = "PARQUET", partition = Map("cat" -> c),
        rows = b.getLong(1), bytes = java.nio.file.Files.size(p),
        lower = Map(4 -> b.getLong(2).toString, 7 -> b.getDouble(4).toString,
          3 -> (b.getLong(6) * 1000000L).toString),
        upper = Map(4 -> b.getLong(3).toString, 7 -> b.getDouble(5).toString,
          3 -> (b.getLong(7) * 1000000L).toString),
        nulls = Map.empty, equalityIds = Seq.empty)
    }.toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/metadata"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val mPath = s"$root/metadata/m0.avro"
    val mLen = IcebergAvro.writeManifest(fs, new org.apache.hadoop.fs.Path(mPath),
      partitionFields = Seq(("cat", StringType, 1001)), idToType = idToType,
      content = "data", entries = entries, schemaJson = "{}", specJson = "{}",
      specId = 1)
    val mlPath = s"$root/metadata/ml77.avro"
    IcebergAvro.writeManifestList(fs, new org.apache.hadoop.fs.Path(mlPath),
      77L, -1L, 5L, Seq(IcebergAvro.MlEntry(mPath, mLen, 1, 0, 5L, 5L, 77L,
        entries.size, 0, 0, entries.map(_.rows).sum, 0L, 0L)))
    val md =
      s"""{
         |  "format-version": 2,
         |  "location": "$root",
         |  "schemas": [{"schema-id": 0, "type": "struct", "fields": [
         |    {"id": 4, "name": "id", "required": true, "type": "long"},
         |    {"id": 1, "name": "name", "required": false, "type": "string"},
         |    {"id": 7, "name": "price", "required": false, "type": "double"},
         |    {"id": 3, "name": "ts", "required": false, "type": "timestamptz"},
         |    {"id": 2, "name": "cat", "required": false, "type": "string"}]}],
         |  "current-schema-id": 0,
         |  "partition-specs": [
         |    {"spec-id": 0, "fields": [{"name": "id_bucket",
         |      "transform": "bucket[4]", "source-id": 4, "field-id": 1000}]},
         |    {"spec-id": 1, "fields": [{"name": "cat",
         |      "transform": "identity", "source-id": 2, "field-id": 1001}]}],
         |  "default-spec-id": 1,
         |  "current-snapshot-id": 77,
         |  "snapshots": [{"snapshot-id": 77, "sequence-number": 5,
         |    "timestamp-ms": 1700000000000, "manifest-list": "$mlPath",
         |    "summary": {"operation": "append"}}],
         |  "refs": {"main": {"snapshot-id": 77, "type": "branch"}}
         |}""".stripMargin
    val mdPath = java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json")
    java.nio.file.Files.write(mdPath, md.getBytes("UTF-8"))
    val t = IcebergExport.importMetadata(s, mdPath.toString, root + "-imp")
    // invariants: scrambled ids land stats on the right columns; the
    // timestamp bounds are dropped; required → non-nullable; the
    // default spec is selected from the multi-spec list with no dep
    require(!t.schema("id").nullable && t.schema("name").nullable,
      "required/optional must map to nullability")
    require(t.current.partitionCols == Seq("cat") && t.current.deps.isEmpty,
      "default spec selected; foreign bucket claims no graft dep")
    require(t.current.files.forall(f => f.stats.contains("price") &&
      f.stats("price").tpe == "double" && !f.stats.contains("ts")),
      "double stats import, timestamp stats must be dropped")
    // stats prune on price; NEVER on ts (no stats — a mis-united bound
    // would wrongly prune here); partition pruning on cat intact
    val (survP, totP, _) = t.pruneFiles(col("price") > lit(1e12))
    require(totP == cats.length && survP.isEmpty, "price stats must prune")
    val (survT, totT, _) = t.pruneFiles(
      col("ts") > lit(java.sql.Timestamp.valueOf("2099-01-01 00:00:00")))
    require(survT.size == totT, "ts must not stats-prune on an import")
    // per-cat aggregate of the imported table — millis footers must
    // decode to the same instants the oracle computes from the dates
    t.read().groupBy(col("cat")).agg(
        count(lit(1)).as("n"), min(col("id")).as("id_min"),
        max(col("price")).as("price_max"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("ts_min"))
      .orderBy(col("cat"))
  }

  val lakeIcebergForeignSql: String =
    """SELECT o_orderstatus AS cat, count(*) AS n,
      |  min(o_orderkey) AS id_min, max(o_totalprice) AS price_max,
      |  strftime(CAST(min(o_orderdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_min
      |FROM orders WHERE o_orderkey < 4000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** `lake_iceberg_roundtrip` (A69): the full bridge — export a table
    * (with a pending MOR delete) to Iceberg-spec metadata, IMPORT it
    * into a fresh root (zero bytes copied, absolute references), and
    * return the imported table's rows: the whole export → import →
    * manifest-planned-scan chain is value-checked against plain SQL
    * over the source parquet, MOR delete applied on read included.
    */
  def lakeIcebergRoundtrip(s: SparkSession, d: String): DataFrame = {
    val t = GraftTable.create(s, work(d, "icertq"),
      byStatus(orders(s, d)), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("o_orderkey") % 23 === 0)
    val metaPath = graft.lake.IcebergExport.exportMetadata(t, work(d, "icertq") + "-ice")
    val imp = graft.lake.IcebergExport.importMetadata(
      s, metaPath, work(d, "icertq") + "-imp")
    require(imp.current.files.forall(f => GraftTable.isAbsoluteEntry(f.path)),
      "import must reference source files absolutely (zero-copy)")
    require(imp.current.deleteFiles.nonEmpty,
      "the pending MOR delete must survive the round-trip")
    sel(imp.read())
  }

  val lakeIcebergRoundtripSql: String =
    s"SELECT $selSql FROM orders WHERE o_orderkey % 23 <> 0 ORDER BY o_orderkey"

  // ---- A89 OPTIMIZE … WHERE -------------------------------------------

  /** `lake_optimize_where` (A89): partition-scoped maintenance —
    * `OPTIMIZE t WHERE <partition pred>` compacts ONLY the matching
    * partitions (out-of-scope file sets stay byte-identical, asserted
    * on paths), the scoped ZORDER spelling rewrites only its scope,
    * and a non-partition predicate refuses loudly. On a 100 TB table
    * this is the difference between maintaining one hot partition and
    * rewriting the world. Data is asserted invariant and the returned
    * relation is DuckDB-oracled.
    */
  def lakeOptimizeWhere(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "optwhereq"),
      byStatus(o.filter(col("o_orderkey") % 3 === 0)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") % 3 === 1)))
    t.append(byStatus(o.filter(col("o_orderkey") % 3 === 2)))
    GraftCatalog.register("gate_optwhere", t.root)
    def filesOf(st: String) = new GraftTable(t.root, s).current.files
      .filter(_.partition.get("o_orderstatus").contains(st)).map(_.path).toSet
    val (f0, o0, p0) = (filesOf("F"), filesOf("O"), filesOf("P"))
    require(f0.size == 3, s"precondition: fragmented F partition, saw ${f0.size}")
    s.sql("OPTIMIZE gate_optwhere WHERE o_orderstatus = 'F'")
    require(filesOf("F").size == 1, "scoped compact must pack F to one file")
    require(filesOf("O") == o0 && filesOf("P") == p0,
      "out-of-scope partitions must keep their exact files")
    val refused =
      try { s.sql("OPTIMIZE gate_optwhere WHERE o_totalprice > 0"); false }
      catch { case e: Exception => e.getMessage.contains("non-partition column") }
    require(refused, "row-granular scope must refuse")
    sel(new GraftTable(t.root, s).read())
  }

  val lakeOptimizeWhereSql: String =
    s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  // ---- A88 NOT NULL constraints ---------------------------------------

  /** `lake_notnull` (A88): `ALTER COLUMN … SET NOT NULL` proves
    * existing compliance from footer null counts (zero data I/O here —
    * the metadata-first path), subsequent violating writes abort
    * atomically in the writeFiles funnel (file set unchanged —
    * asserted), `DROP NOT NULL` re-admits nulls, and a second SET is
    * refused by the now-recorded per-file null counts alone. The
    * returned relation filters the synthetic null rows back out so the
    * oracle is plain SQL over orders.
    */
  def lakeNotNull(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val t = GraftTable.create(s, work(d, "notnullq"),
      byStatus(o.filter(col("o_orderkey") % 2 === 0)), Seq("o_orderstatus"))
    GraftCatalog.register("gate_notnull", t.root)
    s.sql("ALTER TABLE gate_notnull ALTER COLUMN o_custkey SET NOT NULL")
    require(new GraftTable(t.root, s).schema("o_custkey").nullable == false,
      "schema must record the constraint")
    // violating batch: whole write aborts, no partial files
    val files0 = new GraftTable(t.root, s).current.files.map(_.path).toSet
    val bad = byStatus(o.filter(col("o_orderkey") % 2 === 1)
      .withColumn("o_custkey",
        when(col("o_orderkey") % 5 === 1, lit(null)).otherwise(col("o_custkey"))))
    val refused =
      try { new GraftTable(t.root, s).append(bad); false }
      catch { case e: IllegalArgumentException => e.getMessage.contains("NOT NULL") }
    require(refused, "null batch must be refused")
    require(new GraftTable(t.root, s).current.files.map(_.path).toSet == files0,
      "refused write must leave the file set untouched")
    // compliant batch lands
    new GraftTable(t.root, s).append(byStatus(o.filter(col("o_orderkey") % 2 === 1)))
    // drop → nulls admitted; re-tightening is refused by footer stats alone
    s.sql("ALTER TABLE gate_notnull ALTER COLUMN o_custkey DROP NOT NULL")
    import s.implicits._
    new GraftTable(t.root, s).append(
      // mixed null/non-null per partition file: the footer records an
      // exact null count, so the re-tightening below is refused from
      // stats ALONE (an all-null file would take the narrow-scan path)
      Seq((2000000001L, Option.empty[Long], "F", 1.0),
          (2000000002L, Option.empty[Long], "O", 2.0),
          (2000000003L, Option(7L), "F", 3.0),
          (2000000004L, Option(9L), "O", 4.0))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .withColumn("o_orderdate", lit(null).cast("timestamp"))
        .withColumn("o_orderpriority", lit(null).cast("string"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .repartition(col("o_orderstatus")))
    val retightened =
      try { s.sql("ALTER TABLE gate_notnull ALTER COLUMN o_custkey SET NOT NULL"); false }
      catch { case e: Exception => e.getMessage.contains("null value") }
    require(retightened, "SET NOT NULL over data with nulls must refuse via stats")
    sel(new GraftTable(t.root, s).read().filter(col("o_orderkey") < 2000000000L))
  }

  val lakeNotNullSql: String =
    s"SELECT $selSql FROM orders ORDER BY o_orderkey"

  // ---- A87 metadata-only aggregates ----------------------------------

  /** `lake_meta_agg` (A87): COUNT(*)/COUNT(col)/MIN/MAX with a
    * partition-column filter and GROUP BY is answered entirely from
    * the snapshot manifest ([[graft.sql.GraftMetaAggRule]]) — the
    * executed plan contains NO file scan (asserted), so at 100 TB the
    * query costs O(#manifest entries) on the driver and zero data I/O.
    * A data-column predicate on the same table is asserted to fall
    * back to the scan plan (exactness guard), and the metadata answer
    * for it must equal the scan answer. The returned rows are
    * data-derived and DuckDB-oracled.
    */
  def lakeMetaAgg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val o = orders(s, d)
    // two commits → ≥2 files per partition: the fold must span files
    val t = GraftTable.create(s, work(d, "metaagg"),
      byStatus(o.filter(col("o_orderkey") % 2 === 0)), Seq("o_orderstatus"))
    t.append(byStatus(o.filter(col("o_orderkey") % 2 === 1)))
    GraftCatalog.register("gate_metaagg", t.root)
    val q = s.sql(
      """SELECT o_orderstatus AS st, count(*) AS n, count(o_custkey) AS n_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_orderdate) AS first_dt, max(o_orderdate) AS last_dt
        |FROM gate_metaagg WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY st""".stripMargin)
    val out = q.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case st: QueryStageExec       => scans(st.plan)
        case f: FileSourceScanExec    => Seq(f)
        case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
      }
    require(scans(q.queryExecution.executedPlan).isEmpty,
      s"metadata aggregate must read zero data files:\n${q.queryExecution.executedPlan}")
    require(q.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "the aggregate subtree must fold to a manifest-derived LocalRelation")
    // exactness guard: a data-column predicate cannot be answered from
    // partition values — the rule must bail to the scan plan, and the
    // scan answer must match a manifest-side recount
    val fb = s.sql("SELECT count(*) AS n FROM gate_metaagg WHERE o_totalprice > 100.0")
    val fbRows = fb.collect().head.getLong(0)
    require(scans(fb.queryExecution.executedPlan).nonEmpty,
      "a data-column filter must fall back to the scan plan")
    val direct = o.filter(col("o_totalprice") > 100.0).count()
    require(fbRows == direct, s"fallback answer drifted: $fbRows vs $direct")
    s.createDataFrame(s.sparkContext.parallelize(out.toSeq), q.schema)
  }

  val lakeMetaAggSql: String =
    """SELECT o_orderstatus AS st, count(*) AS n, count(o_custkey) AS n_cust,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
      |  min(o_orderdate) AS first_dt, max(o_orderdate) AS last_dt
      |FROM orders WHERE o_orderstatus <> 'P'
      |GROUP BY o_orderstatus ORDER BY st""".stripMargin

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_catalog_check"    -> (lakeCatalogCheck _),
    "lake_validate_check"   -> (lakeValidateCheck _),
    "lake_occ_check"        -> (lakeOccCheck _),
    "lake_cherrypick"       -> (lakeCherryPick _),
    "lake_check_constraint" -> (lakeCheckConstraint _),
    "lake_wap"              -> (lakeWap _),
    "lake_partitions_view"  -> (lakePartitionsView _),
    "lake_delete_meta"      -> (lakeDeleteMeta _),
    "lake_null_prune"       -> (lakeNullPrune _),
    "lake_shards_check"     -> (lakeShardsCheck _),
    "lake_bloom_check"      -> (lakeBloomCheck _),
    "lake_merge_delete"     -> (lakeMergeDelete _),
    "lake_describe"         -> (lakeDescribe _),
    "lake_showcreate_check" -> (lakeShowCreateCheck _),
    "lake_merge_mor_pos"    -> (lakeMergeMorPos _),
    "lake_deletes_view"     -> (lakeDeletesView _),
    "lake_retention"        -> (lakeRetention _),
    "lake_detail"           -> (lakeDetail _),
    "lake_analyze"          -> (lakeAnalyze _),
    "lake_restore"          -> (lakeRestore _),
    "lake_truncate"         -> (lakeTruncate _),
    "lake_show_partitions"  -> (lakeShowPartitions _),
    "lake_call_procedures"  -> (lakeCallProcedures _),
    "lake_comment"          -> (lakeComment _),
    "lake_v2_catalog"       -> (lakeV2Catalog _),
    "lake_version_asof"     -> (lakeVersionAsof _),
    "lake_stats_check"      -> (lakeStatsCheck _),
    "lake_vacuum_check"     -> (lakeVacuumCheck _),
    "lake_orphans_view"     -> (lakeOrphansView _),
    "lake_fileuri"          -> (lakeFileUri _),
    "lake_morgate_check"    -> (lakeMorGateCheck _),
    "lake_dpp_check"        -> (lakeDppCheck _),
    "lake_refddl"           -> (lakeRefDdl _),
    "lake_changes_sql"      -> (lakeChangesSql _),
    "lake_iceberg_export"   -> (lakeIcebergExport _),
    "lake_iceberg_foreign"  -> (lakeIcebergForeign _),
    "lake_autocompact"      -> (lakeAutoCompact _),
    "lake_txn"              -> (lakeTxn _),
    "lake_txn_recover"      -> (lakeTxnRecover _),
    "lake_iceberg_roundtrip" -> (lakeIcebergRoundtrip _),
    "lake_meta_agg"         -> (lakeMetaAgg _),
    "lake_notnull"          -> (lakeNotNull _),
    "lake_optimize_where"   -> (lakeOptimizeWhere _),
    "lake_clustering_check" -> (lakeClusteringCheck _))

  val oracles: Map[String, String] = Map(
    "lake_catalog_check"    -> lakeCatalogCheckSql,
    "lake_validate_check"   -> lakeValidateCheckSql,
    "lake_occ_check"        -> lakeOccCheckSql,
    "lake_cherrypick"       -> lakeCherryPickSql,
    "lake_check_constraint" -> lakeCheckConstraintSql,
    "lake_wap"              -> lakeWapSql,
    "lake_partitions_view"  -> lakePartitionsViewSql,
    "lake_delete_meta"      -> lakeDeleteMetaSql,
    "lake_null_prune"       -> lakeNullPruneSql,
    "lake_shards_check"     -> lakeShardsCheckSql,
    "lake_bloom_check"      -> lakeBloomCheckSql,
    "lake_merge_delete"     -> lakeMergeDeleteSql,
    "lake_describe"         -> lakeDescribeSql,
    "lake_showcreate_check" -> lakeShowCreateCheckSql,
    "lake_merge_mor_pos"    -> lakeMergeMorPosSql,
    "lake_deletes_view"     -> lakeDeletesViewSql,
    "lake_retention"        -> lakeRetentionSql,
    "lake_detail"           -> lakeDetailSql,
    "lake_analyze"          -> lakeAnalyzeSql,
    "lake_restore"          -> lakeRestoreSql,
    "lake_truncate"         -> lakeTruncateSql,
    "lake_show_partitions"  -> lakeShowPartitionsSql,
    "lake_call_procedures"  -> lakeCallProceduresSql,
    "lake_comment"          -> lakeCommentSql,
    "lake_v2_catalog"       -> lakeV2CatalogSql,
    "lake_version_asof"     -> lakeVersionAsofSql,
    "lake_stats_check"      -> lakeStatsCheckSql,
    "lake_vacuum_check"     -> lakeVacuumCheckSql,
    "lake_orphans_view"     -> lakeOrphansViewSql,
    "lake_fileuri"          -> lakeFileUriSql,
    "lake_morgate_check"    -> lakeMorGateCheckSql,
    "lake_dpp_check"        -> lakeDppCheckSql,
    "lake_refddl"           -> lakeRefDdlSql,
    "lake_changes_sql"      -> lakeChangesSqlSql,
    "lake_iceberg_export"   -> lakeIcebergExportSql,
    "lake_iceberg_foreign"  -> lakeIcebergForeignSql,
    "lake_autocompact"      -> lakeAutoCompactSql,
    "lake_txn"              -> lakeTxnSql,
    "lake_txn_recover"      -> lakeTxnRecoverSql,
    "lake_iceberg_roundtrip" -> lakeIcebergRoundtripSql,
    "lake_meta_agg"         -> lakeMetaAggSql,
    "lake_notnull"          -> lakeNotNullSql,
    "lake_optimize_where"   -> lakeOptimizeWhereSql,
    "lake_clustering_check" -> lakeClusteringCheckSql)
}
