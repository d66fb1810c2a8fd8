package graft

import org.apache.spark.sql.functions._

import graft.lake.GraftTable
import graft.sql.GraftCatalog

class SqlSurfaceSpec extends SparkSpec {

  private def mkTable(name: String): GraftTable = {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, s"/root/repo/target/laketest/sql-$name",
      o.filter(col("o_orderkey") < 100).repartition(col("o_orderstatus")),
      Seq("o_orderstatus"))
    t.append(o.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 150)
      .repartition(col("o_orderstatus")))
    t
  }

  test("CTAS with addTableManagement creates a managed table") {
    val root = "/root/repo/target/laketest/sql-ctas"
    Tables.orders(spark, sfDir).createOrReplaceTempView("ctas_src_spec")
    spark.sql(s"""CREATE TABLE ctas_spec USING parquet
                 |OPTIONS (addTableManagement 'true', path '$root')
                 |PARTITIONED BY (o_orderstatus)
                 |AS SELECT o_orderkey, o_totalprice, o_orderstatus
                 |   FROM ctas_src_spec WHERE o_orderkey < 500""".stripMargin)
    val expected = Tables.orders(spark, sfDir).filter(col("o_orderkey") < 500).count()
    assert(spark.sql("SELECT count(*) AS n FROM ctas_spec").collect().head.getLong(0) === expected)
    // it is a real managed table: snapshot metadata + partitioned layout
    val t = new GraftTable(root, spark)
    assert(t.current.operation === "create")
    assert(t.current.partitionCols === Seq("o_orderstatus"))
    assert(t.current.files.forall(_.partition.contains("o_orderstatus")))
    // and snapshot-creating DML keeps working on it
    spark.sql("INSERT INTO ctas_spec SELECT o_orderkey + 1000000, o_totalprice, o_orderstatus FROM ctas_src_spec WHERE o_orderkey < 10")
    assert(t.currentId === 2L)
  }

  test("two-part names resolve and registrations survive a registry reload") {
    val t = mkTable("twopart")
    GraftCatalog.setWarehouse("/root/repo/target/laketest/warehouse")
    GraftCatalog.register("graft.orders2", t.root)
    assert(spark.sql("SELECT count(*) AS n FROM graft.orders2").collect().head.getLong(0)
      === t.current.totalRows)
    // simulate a fresh process: drop in-memory state, reload from disk
    GraftCatalog.dropInMemory()
    GraftCatalog.reload()
    assert(GraftCatalog.lookup("graft.orders2") === Some(t.root))
    assert(spark.sql("SELECT count(*) AS n FROM graft.orders2").collect().head.getLong(0)
      === t.current.totalRows)
    // metadata views resolve through the 2-part name too
    assert(spark.sql("SELECT count(*) AS n FROM `graft`.`orders2$snapshots`")
      .collect().head.getLong(0) === 2L)
  }

  test("HMS-shaped adapter mirrors registrations into the ExternalCatalog and reloads them") {
    val t = mkTable("hmsmirror")
    GraftCatalog.register("graft.hms_t", t.root)
    // the mirror landed: graft db, provider=graft EXTERNAL entry with
    // the root in location + properties, dotted name flattened
    val ext = spark.sharedState.externalCatalog
    assert(ext.databaseExists(graft.sql.GraftHmsAdapter.Db))
    val ct = ext.getTable(graft.sql.GraftHmsAdapter.Db, "graft__hms_t")
    assert(ct.provider === Some("graft"))
    assert(ct.properties(graft.sql.GraftHmsAdapter.RootProp) === t.root)
    assert(ct.properties(graft.sql.GraftHmsAdapter.NameProp) === "graft.hms_t")
    assert(ct.storage.locationUri.map(_.toString) === Some(t.root))
    assert(graft.sql.GraftHmsAdapter.mirroredEntries(spark)
      .contains(("graft.hms_t", t.root)))
    // cross-"JVM" reload through the catalog (what an HMS deployment
    // gets for free across processes; InMemoryCatalog scope is the
    // documented sandbox limit): drop graft memory, reload from the
    // ExternalCatalog, query again
    GraftCatalog.dropInMemory()
    assert(GraftCatalog.lookup("graft.hms_t").isEmpty)
    val adopted = graft.sql.GraftHmsAdapter.reloadInto(spark)
    assert(adopted >= 1)
    assert(GraftCatalog.lookup("graft.hms_t") === Some(t.root))
    assert(spark.sql("SELECT count(*) AS n FROM graft.hms_t").collect().head.getLong(0)
      === t.current.totalRows)
    // re-register re-stamps (alterTable path), unregister drops the mirror
    GraftCatalog.register("graft.hms_t", t.root)
    GraftCatalog.unregister("graft.hms_t")
    assert(!ext.tableExists(graft.sql.GraftHmsAdapter.Db, "graft__hms_t"))
    assert(!graft.sql.GraftHmsAdapter.mirroredEntries(spark)
      .exists(_._1 == "graft.hms_t"))
  }

  test("create-time validation rejects malformed specs with messages") {
    def createSql(opts: String, parts: String) =
      s"""CREATE TABLE bad_spec (id BIGINT, ts TIMESTAMP) USING parquet
         |OPTIONS (addTableManagement 'true'$opts)
         |$parts""".stripMargin
    val e1 = intercept[Exception] {
      spark.sql(createSql(", columnDependencies 'ts=ts_day:frobnicate'", "")) }
    assert(e1.getMessage.contains("unknown column-dependency transform"))
    val e2 = intercept[Exception] {
      spark.sql(createSql(", columnDependencies 'nope=x_day:day'", "")) }
    assert(e2.getMessage.contains("is not a table column"))
    val e3 = intercept[Exception] {
      spark.sql(createSql("", "PARTITIONED BY (missing_col)")) }
    assert(e3.getMessage.contains("neither a table column nor a dependency destination"))
  }

  test("empty tables survive the full DML/maintenance surface") {
    spark.sql(
      """CREATE TABLE empty_t (id BIGINT, k STRING) USING parquet
        |OPTIONS (addTableManagement 'true',
        |         path '/root/repo/target/laketest/sql-empty')
        |PARTITIONED BY (k)""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM empty_t").collect().head.getLong(0) === 0L)
    spark.sql("DELETE FROM empty_t WHERE k = 'x'") // metadata path, no files
    spark.sql("OPTIMIZE empty_t")                  // nothing fragmented: no-op
    spark.sql("VACUUM empty_t")
    assert(spark.sql("SELECT count(*) AS n FROM empty_t").collect().head.getLong(0) === 0L)
    spark.sql("INSERT INTO empty_t SELECT 1, 'a'")
    assert(spark.sql("SELECT count(*) AS n FROM empty_t").collect().head.getLong(0) === 1L)
    spark.sql("DROP TABLE empty_t")
  }

  test("TRUNCATE TABLE is metadata-only and time-travel keeps history") {
    val t = mkTable("trunc")
    GraftCatalog.register("t_trunc", t.root)
    val before = t.read().count()
    spark.sql("TRUNCATE TABLE t_trunc")
    assert(t.read().count() === 0)
    assert(t.current.operation === "truncate" && t.current.addedFiles === 0)
    assert(t.readAsOfId(t.current.parentId).count() === before, "history intact")
  }

  test("CALL procedures: cherrypick + fast_forward + arg forms + refusals") {
    val t = mkTable("callproc")
    GraftCatalog.register("t_callproc", t.root)
    // WAP: stage an append, publish it procedurally
    val staged = t.stageAppend(
      Tables.orders(spark, sfDir).filter(col("o_orderkey") >= 150 && col("o_orderkey") < 200)
        .repartition(col("o_orderstatus")))
    val before = t.read().count()
    val row = spark.sql(
      s"CALL system.cherrypick_snapshot('t_callproc', $staged)").collect().head
    assert(row.getString(0) === "cherrypick_snapshot")
    assert(row.getLong(2) === staged, "fast path publishes the staged id")
    assert(t.read().count() > before)
    // branch → procedural fast-forward (pure pointer move)
    t.branch("dev")
    t.appendToBranch("dev",
      Tables.orders(spark, sfDir).filter(col("o_orderkey") >= 200 && col("o_orderkey") < 220)
        .repartition(col("o_orderstatus")))
    val nDev = t.readRef("dev").count()
    val ff = spark.sql(
      "CALL system.fast_forward(table => 't_callproc', branch => 'dev')").collect().head
    assert(ff.getString(3).contains("dev") && t.read().count() === nDev)
    // refusals: unknown procedure, missing argument, unregistered table
    val e1 = intercept[IllegalArgumentException](
      spark.sql("CALL system.no_such_proc('t_callproc')").collect())
    assert(e1.getMessage.contains("unknown procedure"))
    val e2 = intercept[IllegalArgumentException](
      spark.sql("CALL system.rollback_to_snapshot('t_callproc')").collect())
    assert(e2.getMessage.contains("missing argument"))
    val e3 = intercept[IllegalArgumentException](
      spark.sql("CALL system.rewrite_data_files('nope_t')").collect())
    assert(e3.getMessage.contains("not registered"))
  }

  test("SHOW PARTITIONS equals the $partitions rollup, metadata-only") {
    val t = mkTable("showparts")
    GraftCatalog.register("t_showparts", t.root)
    val shown = spark.sql("SHOW PARTITIONS t_showparts").collect()
    val view = spark.sql("SELECT * FROM `t_showparts$partitions`").collect()
    assert(shown.map(_.toSeq).toSeq.sortBy(_.head.toString) ===
      view.map(_.toSeq).toSeq.sortBy(_.head.toString))
    assert(shown.nonEmpty && shown.forall(_.getAs[Long]("n_rows") > 0L))
  }

  test("ALTER TABLE REPARTITION BY evolves the partition spec from SQL") {
    val t = mkTable("respecsql")
    GraftCatalog.register("t_respec", t.root)
    val before = t.read().count()
    spark.sql("ALTER TABLE t_respec REPARTITION BY (o_orderpriority)")
    assert(t.current.operation === "repartition-spec")
    assert(t.current.partitionCols === Seq("o_orderpriority"))
    assert(spark.sql("SELECT count(*) AS n FROM t_respec").collect().head.getLong(0) === before)
    // dep-transform spelling shared with CREATE's columnDependencies
    spark.sql("ALTER TABLE t_respec REPARTITION BY (ok_b) DEPENDENCIES 'o_orderkey=ok_b:bucket[4]'")
    assert(t.current.partitionCols === Seq("ok_b"))
    assert(t.current.files.forall(_.partition.keySet === Set("ok_b")))
    assert(spark.sql("SELECT count(*) AS n FROM t_respec").collect().head.getLong(0) === before)
  }

  test("SHOW GRAFT TABLES and SHOW CREATE TABLE round-trip the registration") {
    val t = mkTable("showsql")
    GraftCatalog.register("t_show", t.root)
    val listed = spark.sql("SHOW GRAFT TABLES").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(listed.get("t_show").contains(t.root))
    val ddl = spark.sql("SHOW CREATE TABLE t_show").collect().head.getString(0)
    assert(ddl.contains("CREATE TABLE t_show"))
    assert(ddl.contains("o_orderkey BIGINT"))
    assert(ddl.contains(s"path '${t.root}'"))
    assert(ddl.contains("PARTITIONED BY (o_orderstatus)"))
    // the reconstructed DDL parses and re-creates a managed table
    val clone = ddl.replace("CREATE TABLE t_show", "CREATE TABLE t_show2")
      .replace(t.root, t.root + "2")
    spark.sql(clone)
    assert(GraftCatalog.lookup("t_show2").isDefined)
    spark.sql("DROP TABLE t_show2")
  }

  test("DESCRIBE TABLE lists columns, partition spec and dependency transforms") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, "/root/repo/target/laketest/sql-desc",
      o.limit(50).repartition(graft.lake.Deps.column("truncate[1]", col("o_orderpriority"))),
      Seq("prio_t"), Seq(graft.lake.DepSpec("o_orderpriority", "prio_t", "truncate[1]")))
    GraftCatalog.register("t_desc", t.root)
    val rows = spark.sql("DESCRIBE TABLE t_desc").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)).getOrElse("")))
    assert(rows.exists(r => r._1 == "o_orderkey" && r._2 == "bigint"))
    assert(rows.exists(_._1 == "# Partition Information"))
    assert(rows.exists(r => r._1 == "prio_t" && r._3 == "partition column"))
    assert(rows.exists(r => r._1 == "prio_t" && r._3.contains("truncate[1](o_orderpriority)")))
  }

  test("MERGE WHEN MATCHED THEN DELETE removes the deletion list, prunes untouched files") {
    val t = mkTable("mergedel")
    GraftCatalog.register("t_mdel", t.root)
    val before = t.read().count()
    val nFilesBefore = t.current.files.size
    // deletion list: a narrow key range so bounds-pruning keeps most files
    Tables.orders(spark, sfDir).filter(col("o_orderkey").isin(1L, 2L, 3L, 32L, 33L))
      .select(col("o_orderkey")).createOrReplaceTempView("graft_del_list")
    val toDelete = spark.table("graft_del_list").count()
    spark.sql("MERGE INTO t_mdel USING graft_del_list ON t_mdel.o_orderkey = graft_del_list.o_orderkey " +
      "WHEN MATCHED THEN DELETE")
    assert(t.current.operation === "merge-delete")
    assert(t.read().count() === before - toDelete)
    assert(t.read().filter(col("o_orderkey").isin(1L, 2L, 3L, 32L, 33L)).count() === 0)
    assert(nFilesBefore > 0 && t.current.deletedFiles <= nFilesBefore)
    // empty deletion list is a no-op commit-wise
    val cur = t.currentId
    Tables.orders(spark, sfDir).filter(col("o_orderkey") < 0)
      .select(col("o_orderkey")).createOrReplaceTempView("graft_del_none")
    spark.sql("MERGE INTO t_mdel USING graft_del_none ON t_mdel.o_orderkey = graft_del_none.o_orderkey " +
      "WHEN MATCHED THEN DELETE")
    assert(t.currentId === cur, "empty source must not commit")
  }

  test("write.sort.columns set via SQL governs SQL INSERT INTO writes") {
    val t = mkTable("sortsql")
    GraftCatalog.register("t_sortw", t.root)
    spark.sql("ALTER TABLE t_sortw SET TBLPROPERTIES('write.sort.columns'='o_orderkey')")
    Tables.orders(spark, sfDir).createOrReplaceTempView("sortw_src")
    val before = t.current.files.map(_.path).toSet
    spark.sql("INSERT INTO t_sortw SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "o_totalprice, o_orderdate, o_orderpriority " +
      "FROM sortw_src WHERE o_orderkey >= 150 AND o_orderkey < 1500")
    val added = t.current.files.filterNot(f => before.contains(f.path))
    assert(added.nonEmpty)
    // within each partition the new files' sort-column ranges are disjoint
    for ((_, fs) <- added.groupBy(_.partition) if fs.size >= 2) {
      val ranges = fs.flatMap(f =>
        f.stats.get("o_orderkey").map(st => (st.min.toLong, st.max.toLong)))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax <= bMin, s"SQL sorted insert left overlapping ranges: $ranges")
        case _ => ()
      }
    }
  }

  test("ALTER TABLE SET TBLPROPERTIES persists properties from SQL") {
    val t = mkTable("propsql")
    GraftCatalog.register("t_props", t.root)
    spark.sql("ALTER TABLE t_props SET TBLPROPERTIES(" +
      "'write.bloom.columns'='o_orderkey', 'write.target-file-size'='134217728')")
    assert(t.properties("write.bloom.columns") === "o_orderkey")
    assert(t.properties("write.target-file-size") === "134217728")
    assert(t.current.operation === "set-properties")
    // SHOW TBLPROPERTIES and the $properties view read them back
    val shown = spark.sql("SHOW TBLPROPERTIES t_props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown("write.bloom.columns") === "o_orderkey")
    assert(spark.sql("SHOW TBLPROPERTIES t_props ('owner')").count() === 0)
    val viewed = spark.sql("SELECT key, value FROM `t_props$properties`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viewed === shown)
    // the size property drives OPTIMIZE's bin-packing target
    spark.sql("OPTIMIZE t_props")
    assert(t.current.operation === "compact")
    assert(t.current.files.groupBy(_.partition).values.forall(_.size == 1),
      "134 MiB target packs each small partition to one file")
  }

  test("ALTER TABLE UNSET TBLPROPERTIES removes keys, IF EXISTS tolerated") {
    val t = mkTable("unsetsql")
    GraftCatalog.register("t_unset", t.root)
    spark.sql("ALTER TABLE t_unset SET TBLPROPERTIES('a'='1', 'b'='2')")
    spark.sql("ALTER TABLE t_unset UNSET TBLPROPERTIES ('a')")
    assert(!t.properties.contains("a") && t.properties("b") === "2")
    assert(t.current.operation === "unset-properties" ||
      t.current.operation === "set-properties") // commit op spelling
    // absent key without IF EXISTS refuses; with IF EXISTS is a no-op
    val e = intercept[IllegalArgumentException](
      spark.sql("ALTER TABLE t_unset UNSET TBLPROPERTIES ('nope')"))
    assert(e.getMessage.contains("no property"))
    spark.sql("ALTER TABLE t_unset UNSET TBLPROPERTIES IF EXISTS ('nope', 'b')")
    assert(!t.properties.contains("b"))
    assert(spark.sql("SHOW TBLPROPERTIES t_unset").collect()
      .forall(r => r.getString(0) != "a" && r.getString(0) != "b"))
    // DDL atomicity: a statement naming a present AND an absent key must
    // fail whole — the present key survives, no partial snapshot lands
    spark.sql("ALTER TABLE t_unset SET TBLPROPERTIES('c'='3', 'd'='4')")
    val snapBefore = t.currentId
    intercept[IllegalArgumentException](
      spark.sql("ALTER TABLE t_unset UNSET TBLPROPERTIES ('c', 'nope')"))
    assert(t.properties("c") === "3", "failed UNSET must not remove any key")
    assert(t.currentId === snapBefore, "failed UNSET must not commit")
    // multi-key unset is ONE snapshot, not one per key
    spark.sql("ALTER TABLE t_unset UNSET TBLPROPERTIES ('c', 'd')")
    assert(t.currentId === snapBefore + 1)
    assert(!t.properties.contains("c") && !t.properties.contains("d"))
  }

  test("OPTIMIZE and VACUUM statements from SQL") {
    val t = mkTable("optsql") // 2 snapshots → fragmented partitions
    GraftCatalog.register("t_opt", t.root)
    val rowsBefore = t.read().count()
    spark.sql("OPTIMIZE t_opt")
    assert(t.current.operation === "compact")
    assert(t.current.files.groupBy(_.partition).values.forall(_.size == 1))
    assert(t.read().count() === rowsBefore)
    spark.sql("OPTIMIZE t_opt ZORDER BY (o_orderkey, o_custkey)")
    assert(t.current.operation === "optimize")
    spark.sql("VACUUM t_opt")
    assert(t.snapshotIds === Seq(t.currentId), "only current snapshot retained")
    assert(t.read().count() === rowsBefore)
    // $orphans dry-run view resolves from SQL; a freshly-vacuumed
    // table has nothing to reclaim
    assert(spark.sql("SELECT * FROM `t_opt$orphans`").count() === 0)
  }

  test("tag/branch DDL from SQL: CREATE TAG AS OF, branch fast-forward, DROP, kind mismatch") {
    val t = mkTable("refddl") // snapshots 1 (create) + 2 (append)
    GraftCatalog.register("t_refddl", t.root)
    val rowsAt1 = t.readAsOfId(1L).count()
    val rowsAt2 = t.read().count()
    spark.sql("ALTER TABLE t_refddl CREATE TAG v1 AS OF VERSION 1")
    spark.sql("ALTER TABLE t_refddl CREATE TAG latest")
    assert(spark.sql("AS OF 'v1' SELECT * FROM t_refddl").count() === rowsAt1)
    assert(spark.sql("AS OF 'latest' SELECT * FROM t_refddl").count() === rowsAt2)
    // branch + work on it + fast-forward main
    spark.sql("ALTER TABLE t_refddl CREATE BRANCH audit")
    t.appendToBranch("audit", t.read().limit(3))
    assert(t.read().count() === rowsAt2, "main must not see branch work")
    spark.sql("ALTER TABLE t_refddl FAST FORWARD audit")
    assert(new GraftTable(t.root, spark).read().count() === rowsAt2 + 3)
    // kind mismatch is refused; drop works and only unpins
    intercept[Exception] { spark.sql("ALTER TABLE t_refddl DROP BRANCH v1") }
    spark.sql("ALTER TABLE t_refddl DROP TAG v1")
    spark.sql("ALTER TABLE t_refddl DROP BRANCH audit")
    val refs = new GraftTable(t.root, spark).refsView.collect().map(_.getString(0)).toSet
    assert(refs === Set("main", "latest"))
    assert(new GraftTable(t.root, spark).readAsOfId(1L).count() === rowsAt1,
      "dropping a tag must not delete snapshots")
    spark.sql("DROP TABLE t_refddl")
  }

  test("$history and $manifests views from SQL") {
    val t = mkTable("histviews")
    GraftCatalog.register("t_hist", t.root)
    // park a WAP stage so is_current_ancestor is non-trivial, then
    // land a real append on the live current
    t.stageAppend(t.read().limit(1))
    t.append(t.read().limit(2))
    val hist = spark.sql(
      "SELECT snapshot_id, is_current_ancestor FROM `t_hist$history` ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    // mkTable commits 1 (create) + 2 (append); 3 is the parked stage,
    // 4 the published append
    assert(hist.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(hist.toMap === Map(1L -> true, 2L -> true, 3L -> false, 4L -> true))
    val man = spark.sql("SELECT kind, path, n_files FROM `t_hist$manifests`").collect()
    assert(man.length === 1 && man.head.getString(0) === "inline")
    assert(man.head.getLong(2) === t.current.files.size.toLong)
    spark.sql("DROP TABLE t_hist")
  }

  test("$partitions view, ALTER TABLE ADD COLUMNS, DROP TABLE from SQL") {
    val t = mkTable("ddl")
    GraftCatalog.register("t_ddl", t.root)
    val parts = spark.sql("SELECT * FROM `t_ddl$partitions`").collect()
    assert(parts.nonEmpty)
    assert(parts.map(_.getLong(2)).sum === t.current.totalRows)
    spark.sql("ALTER TABLE t_ddl ADD COLUMNS (note STRING, score DOUBLE)")
    assert(new GraftTable(t.root, spark).schema.fieldNames.toSeq.takeRight(2)
      === Seq("note", "score"))
    assert(spark.sql("SELECT note FROM t_ddl").collect().forall(_.isNullAt(0)))
    spark.sql("DROP TABLE t_ddl")
    assert(GraftCatalog.lookup("t_ddl").isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t.root)))
  }

  test("ALTER TABLE DROP COLUMN and RENAME COLUMN from SQL, metadata-only") {
    val t = mkTable("evolveddl")
    GraftCatalog.register("t_evolve", t.root)
    val filesBefore = t.current.files.map(_.path).toSet
    spark.sql("ALTER TABLE t_evolve DROP COLUMN o_orderpriority")
    spark.sql("ALTER TABLE t_evolve RENAME COLUMN o_totalprice TO price")
    val t2 = new GraftTable(t.root, spark)
    assert(!t2.schema.fieldNames.contains("o_orderpriority"))
    assert(t2.schema.fieldNames.contains("price"))
    assert(t2.current.files.map(_.path).toSet === filesBefore, "no data rewritten")
    // renamed column is queryable and filterable through SQL
    val n = spark.sql("SELECT price FROM t_evolve WHERE price > 100000").collect().length
    assert(n === t2.read().filter(col("price") > 100000).count())
    spark.sql("DROP TABLE t_evolve")
  }

  test("ALTER TABLE ALTER COLUMN TYPE from SQL: metadata-only widening, narrowing refused") {
    import spark.implicits._
    val base = (1 to 100).map(i => (i, i.toFloat)).toDF("k", "x")
    val t = GraftTable.create(spark, "/root/repo/target/laketest/sql-widen", base)
    GraftCatalog.register("t_widen", t.root)
    val filesBefore = t.current.files.map(_.path).toSet
    spark.sql("ALTER TABLE t_widen ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE t_widen ALTER COLUMN x TYPE DOUBLE")
    val t2 = new GraftTable(t.root, spark)
    assert(t2.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(t2.schema("x").dataType === org.apache.spark.sql.types.DoubleType)
    assert(t2.current.files.map(_.path).toSet === filesBefore, "no data rewritten")
    assert(spark.sql("SELECT sum(k) FROM t_widen").head().getLong(0) === 5050L)
    val err = intercept[Exception](
      spark.sql("ALTER TABLE t_widen ALTER COLUMN k TYPE INT"))
    assert(err.getMessage.contains("widening"), s"got: ${err.getMessage}")
    spark.sql("DROP TABLE t_widen")
  }

  test("registered graft table is queryable from SQL (current snapshot)") {
    val t = mkTable("cur")
    GraftCatalog.register("t_cur", t.root)
    val n = spark.sql("SELECT count(*) AS n FROM t_cur").collect().head.getLong(0)
    assert(n === t.current.totalRows)
  }

  test("AS OF '<id>' prefix time-travels the relation") {
    val t = mkTable("asof")
    GraftCatalog.register("t_asof", t.root)
    val n1 = spark.sql("AS OF '1' SELECT count(*) AS n FROM t_asof").collect().head.getLong(0)
    assert(n1 === t.snapshot(1).totalRows)
    val n2 = spark.sql("SELECT count(*) AS n FROM t_asof").collect().head.getLong(0)
    assert(n2 === t.snapshot(2).totalRows)
    assert(n2 > n1)
  }

  test("AS OF epoch-millis timestamp resolves to the right snapshot") {
    val t = mkTable("asofts")
    GraftCatalog.register("t_asofts", t.root)
    val ts1 = t.snapshot(1).tsMillis
    val n = spark.sql(s"AS OF '$ts1' SELECT count(*) AS n FROM t_asofts")
      .collect().head.getLong(0)
    assert(n === t.snapshot(1).totalRows)
  }

  test("Spark-native VERSION AS OF / TIMESTAMP AS OF route to the asOf scan") {
    val t = mkTable("nativett")
    GraftCatalog.register("t_nativett", t.root)
    val n1 = t.snapshot(1).totalRows
    val n2 = t.snapshot(2).totalRows
    // VERSION AS OF <snapshot id>
    assert(spark.sql("SELECT count(*) AS n FROM t_nativett VERSION AS OF 1")
      .collect().head.getLong(0) === n1)
    // VERSION AS OF '<tag>'
    t.tag("audited", 1L)
    assert(spark.sql("SELECT count(*) AS n FROM t_nativett VERSION AS OF 'audited'")
      .collect().head.getLong(0) === n1)
    // TIMESTAMP AS OF string literal (exact commit time of snapshot 1)
    val ts1 = new java.sql.Timestamp(t.snapshot(1).tsMillis).toString.stripSuffix(".0")
    assert(spark.sql(s"SELECT count(*) AS n FROM t_nativett TIMESTAMP AS OF '$ts1'")
      .collect().head.getLong(0) === n1)
    // TIMESTAMP AS OF a timestamp-typed literal expression
    assert(spark.sql(
      s"SELECT count(*) AS n FROM t_nativett TIMESTAMP AS OF TIMESTAMP'$ts1'")
      .collect().head.getLong(0) === n1)
    // no clause = current
    assert(spark.sql("SELECT count(*) AS n FROM t_nativett")
      .collect().head.getLong(0) === n2)
    // aliased relation still travels; joins against current work
    val joined = spark.sql(
      """SELECT count(*) AS n FROM t_nativett VERSION AS OF 1 a
        |JOIN t_nativett b ON a.o_orderkey = b.o_orderkey""".stripMargin)
      .collect().head.getLong(0)
    assert(joined === n1)
    // unknown tag fails with a clear message
    val err = intercept[Exception](
      spark.sql("SELECT * FROM t_nativett VERSION AS OF 'nope'").collect())
    assert(err.getMessage.contains("no snapshot ref"))
  }

  test("bridged catalog entries carry exact manifest statistics; joins broadcast from stats with AQE off") {
    val t = mkTable("stats")
    graft.sql.GraftSparkBridge.register(spark, "t_stats", t.root)
    val ct = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("t_stats"))
    assert(ct.stats.isDefined, "registration must attach manifest stats")
    assert(ct.stats.get.rowCount.contains(BigInt(t.current.totalRows)))
    assert(ct.stats.get.sizeInBytes === BigInt(t.current.files.map(_.bytes).sum))
    // DML moves the manifest; the post-commit hook re-derives stats
    // without a scan — no explicit refreshSchema needed
    t.append(Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") >= 150 && col("o_orderkey") < 200)
      .repartition(col("o_orderstatus")))
    val ct2 = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("t_stats"))
    assert(ct2.stats.get.rowCount.contains(BigInt(t.current.totalRows)),
      "catalog stats must follow the commit (post-commit hook)")
    // static planning (AQE OFF) broadcasts the managed table from its
    // manifest-reported size alone — no runtime sampling involved
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val big = Tables.orders(spark, sfDir)
      val joined = spark.table("t_stats")
        .join(big.withColumnRenamed("o_custkey", "big_cust"), Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected stats-driven broadcast join, got:\n$plan")
      assert(joined.count() === t.current.totalRows)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("manifest column stats reach CBO: DESCRIBE shows them, a 3-way join reorders with AQE off") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val to = GraftTable.create(spark, "/root/repo/target/laketest/cbo-orders",
      Tables.orders(spark, sfDir))
    val tc = GraftTable.create(spark, "/root/repo/target/laketest/cbo-customer",
      Tables.customer(spark, sfDir))
    val tn = GraftTable.create(spark, "/root/repo/target/laketest/cbo-nation",
      Tables.nation(spark, sfDir))
    GraftCatalog.register("cbo_orders", to.root)
    GraftCatalog.register("cbo_customer", tc.root)
    GraftCatalog.register("cbo_nation", tn.root)
    graft.sql.GraftSparkBridge.register(spark, "cbo_nation", tn.root)
    // the NDV sweep through both surfaces: SQL ANALYZE and the API
    spark.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS FOR ALL COLUMNS")
    tc.analyzeNdv()
    val tn2 = new GraftTable(tn.root, spark)
    assert(tn2.properties.get("stats.ndv.n_name").exists(_.toLong >= 20L))
    // NOSCAN keeps its contract: metadata-only, no sweep commits
    val preId = new GraftTable(to.root, spark).currentId
    spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS NOSCAN")
    val toAfter = new GraftTable(to.root, spark)
    assert(toAfter.currentId === preId, "NOSCAN must not run the NDV sweep")
    assert(!toAfter.properties.keys.exists(_.startsWith("stats.ndv.")))
    // DESCRIBE EXTENDED <table> <col> surfaces the manifest column stats
    val desc = spark.sql("DESCRIBE EXTENDED cbo_nation n_nationkey").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("min").contains("0") && desc.get("max").contains("24"),
      s"manifest min/max missing from DESCRIBE: $desc")
    assert(desc.get("num_nulls").contains("0"))
    assert(desc.get("distinct_count").exists(_.toLong >= 20L), s"NDV missing: $desc")
    val priorCbo = spark.conf.get("spark.sql.cbo.enabled")
    val priorReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // written order joins the two big tables first; manifest stats
      // (rowCount + NDV + selective n_name filter) tell CBO to join
      // customer against the 1-row nation side before touching orders
      val q = spark.sql(
        """SELECT count(*) AS n FROM cbo_orders o
          |JOIN cbo_customer c ON o.o_custkey = c.c_custkey
          |JOIN cbo_nation n ON c.c_nationkey = n.n_nationkey
          |WHERE n.n_name = 'FRANCE'""".stripMargin)
      val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.size === 2)
      val innermostCond = joins.last.condition.map(_.toString).getOrElse("")
      assert(innermostCond.contains("n_nationkey"),
        s"CBO should join the selective nation dim first; innermost join was: $innermostCond")
      // and the reordered plan is still correct
      val expect = Tables.orders(spark, sfDir).join(
          Tables.customer(spark, sfDir),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(spark, sfDir).filter(col("n_name") === "FRANCE"),
          col("c_nationkey") === col("n_nationkey"))
        .count()
      assert(q.head().getLong(0) === expect)
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", priorCbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", priorReorder)
      spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
      graft.sql.GraftSparkBridge.unregister(spark, "cbo_nation")
      Seq("cbo_orders", "cbo_customer", "cbo_nation").foreach(GraftCatalog.unregister)
    }
  }

  test("DSv2 TableCatalog: multi-part identifiers read and write through the manifest path") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sql.GraftV2Catalog")
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse",
      "/root/repo/target/laketest/v2warehouse")
    val t = mkTable("v2cat")
    GraftCatalog.register("v2db.orders_v2", t.root)
    // read through the 3-part identifier
    assert(spark.sql("SELECT count(*) AS n FROM graft_cat.v2db.orders_v2")
      .collect().head.getLong(0) === t.current.totalRows)
    // SHOW TABLES through the catalog
    val listed = spark.sql("SHOW TABLES IN graft_cat.v2db").collect().map(_.getString(1))
    assert(listed.contains("orders_v2"))
    // write: INSERT INTO via the V2 identifier is a snapshot-creating append
    val before = t.currentId
    val expectInserted = t.read().filter(col("o_orderkey") < 120).count()
    spark.sql(
      """INSERT INTO graft_cat.v2db.orders_v2
        |SELECT o_orderkey + 9000000, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM graft_cat.v2db.orders_v2 WHERE o_orderkey < 120""".stripMargin)
    assert(t.currentId > before, "V2 INSERT must commit a snapshot")
    assert(t.current.operation === "append")
    assert(spark.sql("SELECT count(*) AS n FROM graft_cat.v2db.orders_v2 WHERE o_orderkey >= 9000000")
      .collect().head.getLong(0) === expectInserted)
    // CREATE TABLE via the V2 catalog (warehouse-derived location)
    spark.sql("DROP TABLE IF EXISTS graft_cat.v2db.fresh_v2")
    spark.sql(
      """CREATE TABLE graft_cat.v2db.fresh_v2 (id BIGINT, k STRING)
        |PARTITIONED BY (k)""".stripMargin)
    assert(GraftCatalog.lookup("v2db.fresh_v2").isDefined)
    spark.sql("INSERT INTO graft_cat.v2db.fresh_v2 SELECT 1L, 'a'")
    assert(spark.sql("SELECT * FROM graft_cat.v2db.fresh_v2").count() === 1L)
    val fresh = new GraftTable(GraftCatalog.lookup("v2db.fresh_v2").get, spark)
    assert(fresh.current.partitionCols === Seq("k"))
    // DROP through the catalog removes registration and data
    spark.sql("DROP TABLE graft_cat.v2db.fresh_v2")
    assert(GraftCatalog.lookup("v2db.fresh_v2").isEmpty)
  }

  test("V2 renameTable refuses an occupied target and moves the session-catalog mirror") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sql.GraftV2Catalog")
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse",
      "/root/repo/target/laketest/v2warehouse")
    val a = GraftTable.create(spark, "/root/repo/target/laketest/v2rn-a",
      Seq((1L, "a")).toDF("id", "k"))
    val b = GraftTable.create(spark, "/root/repo/target/laketest/v2rn-b",
      Seq((2L, "b")).toDF("id", "k"))
    GraftCatalog.register("v2db.rn_a", a.root)
    GraftCatalog.register("v2db.rn_b", b.root)
    // the old name was also mirrored into the session catalog
    graft.sql.GraftSparkBridge.register(spark, "v2db.rn_a", a.root)
    // renaming onto an occupied name must refuse, not shadow
    val err = intercept[Exception](
      spark.sql("ALTER TABLE graft_cat.v2db.rn_a RENAME TO v2db.rn_b"))
    assert(err.getMessage.toLowerCase.contains("already exists"), s"got ${err.getMessage}")
    // a clean rename moves registration AND the bridged mirror
    spark.sql("ALTER TABLE graft_cat.v2db.rn_a RENAME TO v2db.rn_c")
    assert(GraftCatalog.lookup("v2db.rn_a").isEmpty)
    assert(GraftCatalog.lookup("v2db.rn_c").contains(a.root))
    assert(spark.sql("SELECT count(*) FROM graft_cat.v2db.rn_c").head().getLong(0) === 1L)
    val sc = spark.sessionState.catalog
    assert(!sc.tableExists(org.apache.spark.sql.catalyst.TableIdentifier("rn_a", Some("v2db"))),
      "stale session-catalog mirror must not survive the rename")
    assert(sc.tableExists(org.apache.spark.sql.catalyst.TableIdentifier("rn_c", Some("v2db"))),
      "mirror must follow the rename")
    GraftCatalog.unregister("v2db.rn_b")
    GraftCatalog.unregister("v2db.rn_c")
    graft.sql.GraftSparkBridge.unregister(spark, "v2db.rn_c")
  }

  test("string TIMESTAMP AS OF parses in the session time zone, matching typed literals") {
    val t = mkTable("tztt")
    GraftCatalog.register("t_tztt", t.root)
    val prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      // a wall-clock string rendered in the SESSION zone: parsing it in
      // the JVM default zone (the old java.sql.Timestamp.valueOf path)
      // lands ~9 h early → "no snapshot at or before" — session-zone
      // parsing resolves the current snapshot
      val str = java.time.Instant.ofEpochMilli(t.current.tsMillis + 1000)
        .atZone(java.time.ZoneId.of("Asia/Tokyo"))
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      assert(spark.sql(s"SELECT count(*) AS n FROM t_tztt TIMESTAMP AS OF '$str'")
        .collect().head.getLong(0) === t.current.totalRows)
      // the graft `as of '<ts>'` prefix clause parses through the SAME
      // session-zone path — both spellings must resolve identically
      assert(spark.sql(s"AS OF '$str' SELECT count(*) AS n FROM t_tztt")
        .collect().head.getLong(0) === t.current.totalRows)
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("SQL DELETE routes merge-on-read via TBLPROPERTIES; OPTIMIZE folds the pending deletes") {
    val t = mkTable("optmor")
    GraftCatalog.register("t_optmor", t.root)
    spark.sql("ALTER TABLE t_optmor SET TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    val n0 = t.read().count()
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    val filesBefore = t.current.files.map(_.path).toSet
    spark.sql(s"DELETE FROM t_optmor WHERE o_orderkey = $victim")
    assert(t.current.files.map(_.path).toSet === filesBefore,
      "SQL DELETE under merge-on-read must not rewrite data files")
    assert(t.current.deleteFiles.nonEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM t_optmor").collect().head.getLong(0) === n0 - 1)
    spark.sql("OPTIMIZE t_optmor")
    assert(t.current.deleteFiles.isEmpty, "OPTIMIZE must fold pending deletes")
    assert(spark.sql("SELECT count(*) AS n FROM t_optmor").collect().head.getLong(0) === n0 - 1)
  }

  test("DSv2 writeTo: append/overwrite/overwritePartitions; conditional overwrite refused") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sql.GraftV2Catalog")
    val t = mkTable("v2write")
    GraftCatalog.register("v2db.wt", t.root)
    val n0 = t.read().count()
    val two = t.read().filter(col("o_orderkey") < 2)
      .withColumn("o_orderkey", col("o_orderkey") + 8800000L)
    // append via DataFrameWriterV2 → snapshot-creating append
    two.writeTo("graft_cat.v2db.wt").append()
    assert(t.read().count() === n0 + two.count())
    assert(t.current.operation === "append")
    // dynamic partition overwrite: replaces exactly the incoming partitions
    val pPart = t.read().filter(col("o_orderstatus") === "P").limit(5)
      .withColumn("o_totalprice", lit(1.25))
    pPart.writeTo("graft_cat.v2db.wt").overwritePartitions()
    assert(t.current.operation === "overwrite-dynamic")
    assert(t.read().filter(col("o_orderstatus") === "P").count() === 5)
    assert(t.read().filter(col("o_orderstatus") =!= "P").count() > 0,
      "other partitions survive a dynamic overwrite")
    // full overwrite via the trivial-true condition
    two.writeTo("graft_cat.v2db.wt").overwrite(lit(true))
    assert(t.read().count() === two.count())
    assert(t.current.operation === "overwrite")
    // a CONDITIONAL overwrite must be refused, not silently widened to
    // a full-table replace
    val err = intercept[Exception](
      two.writeTo("graft_cat.v2db.wt").overwrite(col("o_orderstatus") === "P"))
    assert(err.getMessage.contains("full-table form"), s"got: ${err.getMessage}")
  }

  test("graft functions are callable from SQL") {
    val h = spark.sql("SELECT graft_polyhash('abc') AS h").collect().head.getLong(0)
    assert(h === 96354L)
    val c = spark.sql(
      "SELECT graft_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val sh = spark.sql("SELECT graft_shingles('a b c d', 3) AS s")
      .collect().head.getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))
    // adc: codes [1,0], K=2 → lut[0*2+1] + lut[1*2+0] = 2.5 + 10.0
    val adc = spark.sql(
      "SELECT graft_adc_score(array(1, 0), array(1.5d, 2.5d, 10.0d, 20.0d), 2) AS s")
      .collect().head.getDouble(0)
    assert(math.abs(adc - 12.5) < 1e-12)
  }

  test("`t$snapshots` and `t$files` metadata views are SQL-queryable") {
    val t = mkTable("meta")
    GraftCatalog.register("t_meta", t.root)
    val snaps = spark.sql("SELECT snapshot_id, operation FROM `t_meta$snapshots` ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(snaps.toSeq === Seq((1L, "create"), (2L, "append")))
    val nFiles = spark.sql("SELECT count(*) AS n FROM `t_meta$files`").collect().head.getLong(0)
    assert(nFiles === t.current.files.size.toLong)
  }

  test("full reference DDL/DML flow in SQL: create, insert, overwrite partition, as of") {
    GraftCatalog.unregister("sales_out")
    // CREATE TABLE with management + a column dependency (truncate[1]
    // of the priority is the partition column)
    spark.sql(
      """CREATE TABLE sales_out (
        |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,
        |  o_orderpriority STRING)
        |USING parquet
        |OPTIONS (addTableManagement 'true',
        |         columnDependencies 'o_orderpriority=prio_t:truncate[1]')
        |PARTITIONED BY (prio_t)""".stripMargin)

    // INSERT INTO from a temp view (snapshot 2)
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
      .filter(col("o_orderkey") < 200).createOrReplaceTempView("src_orders")
    spark.sql("INSERT INTO sales_out SELECT * FROM src_orders")
    val n1 = spark.sql("SELECT count(*) AS n FROM sales_out").collect().head.getLong(0)
    assert(n1 === Tables.orders(spark, sfDir).filter(col("o_orderkey") < 200).count())

    // snapshot view via SQL after the insert
    val ops = spark.sql("SELECT operation FROM `sales_out$snapshots` ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq
    assert(ops === Seq("create", "append"))

    // INSERT OVERWRITE a single static partition: priorities '1-…' get
    // replaced with the subset having totalprice > 100000
    spark.sql(
      """INSERT OVERWRITE TABLE sales_out PARTITION (prio_t='1')
        |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM src_orders
        |WHERE o_orderpriority LIKE '1-%' AND o_totalprice > 100000""".stripMargin)
    val afterOvw = spark.sql(
      "SELECT count(*) AS n FROM sales_out WHERE o_orderpriority LIKE '1-%'")
      .collect().head.getLong(0)
    val expected = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 200 && col("o_orderpriority").startsWith("1-") &&
        col("o_totalprice") > 100000).count()
    assert(afterOvw === expected)
    // other partitions untouched
    val others = spark.sql(
      "SELECT count(*) AS n FROM sales_out WHERE NOT o_orderpriority LIKE '1-%'")
      .collect().head.getLong(0)
    assert(others === Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 200 && !col("o_orderpriority").startsWith("1-")).count())

    // time travel back to the pre-overwrite snapshot
    val nAsOf = spark.sql("AS OF '2' SELECT count(*) AS n FROM sales_out")
      .collect().head.getLong(0)
    assert(nAsOf === n1)

    // dependency pruning works through the SQL scan path too
    val t = new graft.lake.GraftTable(GraftCatalog.lookup("sales_out").get, spark)
    val (files, total, _) = t.pruneFiles(col("o_orderpriority") === "3-MEDIUM")
    assert(files.size < total)
    assert(files.forall(_.partition("prio_t") == "3"))
  }

  test("optimizer rule infers partition predicates from src-column filters in SQL") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val t = graft.lake.GraftTable.create(spark,
      "/root/repo/target/laketest/sql-deprule",
      o.repartition(col("o_orderpriority")),
      Seq("prio_t"), Seq(graft.lake.DepSpec("o_orderpriority", "prio_t", "truncate[1]")))
    GraftCatalog.register("dep_orders", t.root)
    val df = spark.sql(
      "SELECT count(*) AS n FROM dep_orders WHERE o_orderpriority = '1-URGENT'")
    val n = df.collect().head.getLong(0)
    assert(n === Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").count())
    // the optimized plan gained the inferred prio_t predicate…
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("prio_t"), s"no inferred predicate in:\n$opt")
    // …and the scan actually read only the matching partition's files
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val numFiles = scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value)
    assert(numFiles.nonEmpty && numFiles.forall(_ == 1L),
      s"expected 1 file scanned, got $numFiles of ${t.current.files.size}")
  }

  test("DELETE FROM in SQL creates a copy-on-write delete snapshot") {
    val t = mkTable("sqldel")
    GraftCatalog.register("t_sqldel", t.root)
    val before = t.read().count()
    val expGone = t.read().filter(col("o_orderstatus") === "O").count()
    spark.sql("DELETE FROM t_sqldel WHERE o_orderstatus = 'O'")
    assert(t.current.operation === "delete")
    assert(t.read().count() === before - expGone)
    assert(t.read().filter(col("o_orderstatus") === "O").count() === 0)
    // unconditional DELETE truncates
    spark.sql("DELETE FROM t_sqldel")
    assert(t.read().count() === 0)
  }

  test("UPDATE SET WHERE in SQL creates a copy-on-write update snapshot") {
    val t = mkTable("sqlupd")
    GraftCatalog.register("t_sqlupd", t.root)
    val expBumped = t.read().filter(col("o_orderkey") < 20).count()
    val sumBefore = t.read().agg(sum("o_totalprice")).head.getDouble(0)
    spark.sql("UPDATE t_sqlupd SET o_totalprice = o_totalprice + 1.0 WHERE o_orderkey < 20")
    assert(t.current.operation === "update")
    val sumAfter = t.read().agg(sum("o_totalprice")).head.getDouble(0)
    assert(math.abs(sumAfter - sumBefore - expBumped) < 1e-6)
  }

  test("MERGE INTO … UPDATE SET * / INSERT * upserts via SQL") {
    val t = mkTable("sqlmerge")
    GraftCatalog.register("t_sqlmerge", t.root)
    val before = t.read().count()
    val cols = t.schema.fieldNames.mkString(", ")
    // source: bump price on keys < 50, plus one brand-new key
    spark.sql(
      s"""MERGE INTO t_sqlmerge USING (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0 AS o_totalprice,
         |         o_orderdate, o_orderpriority
         |  FROM t_sqlmerge WHERE o_orderkey < 50
         |  UNION ALL
         |  SELECT -1L, 0L, 'N', 1.0, TIMESTAMP '2020-01-01', 'x'
         |) src ON t_sqlmerge.o_orderkey = src.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.current.operation === "merge")
    assert(t.read().count() === before + 1)
    assert(t.read().filter(col("o_orderkey") === -1L).count() === 1)
    // AS OF still sees the pre-merge snapshot
    val pre = spark.sql("AS OF '2' SELECT count(*) AS n FROM t_sqlmerge")
      .collect().head.getLong(0)
    assert(pre === before)
  }

  test("non-graft SQL parses through the delegate untouched") {
    assert(spark.sql("SELECT 1 + 1 AS x").collect().head.getInt(0) === 2)
  }

  test("session-catalog integration: spark.table / SHOW TABLES / insertInto see managed tables") {
    val root = "/root/repo/target/laketest/sql-bridge"
    spark.sql(s"""CREATE TABLE bridge_t (k BIGINT, status STRING, price DOUBLE)
                 |USING parquet
                 |OPTIONS (addTableManagement 'true', path '$root')
                 |PARTITIONED BY (status)""".stripMargin)
    spark.sql("INSERT INTO bridge_t VALUES (1, 'A', 10.0), (2, 'B', 20.0)")
    val t = new GraftTable(root, spark)
    // spark.table (NO graft API in sight) reads the current snapshot
    assert(spark.table("bridge_t").count() === 2)
    // Spark's own catalog lists it
    assert(spark.sql("SHOW TABLES").collect().map(_.getString(1)).contains("bridge_t"))
    // DataFrameWriter.insertInto → snapshot-creating append
    // (positional semantics, like Spark's own insertInto)
    import spark.implicits._
    Seq((3L, "A", 30.0)).toDF("k", "status", "price")
      .write.insertInto("bridge_t")
    assert(t.current.operation === "append")
    assert(spark.table("bridge_t").count() === 3)
    // the read is the MANIFEST plan, not the catalog's directory scan:
    // time travel state stays consistent
    assert(t.readAsOfId(2).count() === 2)
    // schema evolution re-mirrors into the session catalog entry
    spark.sql("ALTER TABLE bridge_t ADD COLUMNS (note STRING)")
    val ct = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("bridge_t"))
    assert(ct.schema.fieldNames.contains("note"), "catalog schema must refresh after ALTER")
    assert(spark.table("bridge_t").columns.contains("note"))
    // spark.table also resolves registry-only tables (no session entry)
    val t2 = mkTable("bridgereg")
    GraftCatalog.register("bridge_reg", t2.root)
    assert(spark.table("bridge_reg").count() === t2.current.totalRows)
    spark.sql("DROP TABLE bridge_t")
    assert(!spark.sql("SHOW TABLES").collect().map(_.getString(1)).contains("bridge_t"))
  }

  test("API saveAsTable with addTableManagement creates a managed table") {
    val root = "/root/repo/target/laketest/sql-saveas"
    import spark.implicits._
    Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "status", "price")
      .write
      .option("addTableManagement", "true").option("path", root)
      .partitionBy("status")
      .saveAsTable("saveas_t")
    val t = new GraftTable(root, spark)
    assert(t.current.operation === "create", "saveAsTable must go through management")
    assert(t.current.partitionCols === Seq("status"))
    assert(t.current.files.forall(_.partition.contains("status")))
    assert(spark.table("saveas_t").count() === 2)
    // Spark's CTAS normalization moves partition columns to the END of
    // the schema — positional INSERT follows that normalized order
    assert(t.schema.fieldNames.toSeq === Seq("k", "price", "status"))
    spark.sql("INSERT INTO saveas_t VALUES (3, 30.0, 'C')")
    assert(t.currentId === 2L)
    assert(spark.table("saveas_t").count() === 3)
    spark.sql("DROP TABLE saveas_t")
  }

  test("native path writes route through management or fail loudly") {
    val root = "/root/repo/target/laketest/sql-pathwrite"
    spark.sql(s"""CREATE TABLE pathwrite_t (k BIGINT, status STRING, price DOUBLE)
                 |USING parquet
                 |OPTIONS (addTableManagement 'true', path '$root')
                 |PARTITIONED BY (status)""".stripMargin)
    spark.sql("INSERT INTO pathwrite_t VALUES (1, 'A', 10.0), (2, 'B', 20.0)")
    val t = new GraftTable(root, spark)
    val id0 = t.currentId
    import spark.implicits._
    // a user writing parquet straight at the data dir: becomes a
    // snapshot-creating append, never a behind-the-manifest file drop
    Seq((3L, "A", 30.0), (4L, "C", 40.0)).toDF("k", "status", "price")
      .write.mode("append").parquet(s"$root/data")
    assert(t.currentId === id0 + 1, "path write must commit a snapshot")
    assert(t.current.operation === "append")
    assert(spark.table("pathwrite_t").count() === 4)
    assert(t.read().filter(col("status") === "C").count() === 1)
    // overwrite mode → overwrite snapshot (history preserved)
    Seq((9L, "Z", 90.0)).toDF("k", "status", "price")
      .write.mode("overwrite").parquet(s"$root/data")
    assert(t.current.operation === "overwrite")
    assert(t.read().count() === 1)
    assert(t.readAsOfId(id0 + 1).count() === 4, "pre-overwrite snapshot intact")
    // writes into the table root / meta dir are refused loudly
    val boom = intercept[Exception] {
      Seq((1L, "x")).toDF("a", "b").write.mode("append").parquet(s"$root/meta/evil")
    }
    assert(boom.getMessage.contains("graft-managed"),
      s"unexpected error: ${boom.getMessage}")
    spark.sql("DROP TABLE pathwrite_t")
  }

  test("A67 CHANGES BETWEEN prefix reads the batch change feed in SQL") {
    val t = mkTable("changesql") // snapshot 1 create, snapshot 2 append
    GraftCatalog.register("changes_t", t.root)
    t.delete(col("o_orderkey") < 10) // snapshot 3: in-window deletes
    val got = spark.sql(
      "CHANGES BETWEEN 1 AND 3 SELECT _change_type, count(*) AS n " +
        "FROM changes_t GROUP BY _change_type ORDER BY _change_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = t.changelog(1L, 3L)
      .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exp)
    assert(got.getOrElse("insert", 0L) > 0 && got.getOrElse("delete", 0L) > 0,
      s"expected both change kinds in the window: $got")
    // non-graft relations inside the query are untouched
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation_plain")
    assert(spark.sql(
      "CHANGES BETWEEN 1 AND 3 SELECT count(*) AS n FROM nation_plain")
      .head().getLong(0) === Tables.nation(spark, sfDir).count())
    // a window crossing schema evolution refuses loudly (row-level
    // cancellation across different schemas is undefined), instead of
    // returning a wrong feed
    t.addColumn("o_note", org.apache.spark.sql.types.StringType)
    val boom = intercept[Exception] {
      spark.sql("CHANGES BETWEEN 1 AND 4 SELECT count(*) AS n FROM changes_t")
        .collect()
    }
    assert(boom.getMessage.contains("schema evolution"),
      s"unexpected error: ${boom.getMessage}")
  }

  test("A73 constraint DDL: ADD CONSTRAINT enforces, DROP CONSTRAINT re-admits") {
    val t = mkTable("constraintddl")
    GraftCatalog.register("t_constraint", t.root)
    spark.sql("ALTER TABLE t_constraint ADD CONSTRAINT pos_price CHECK (o_totalprice > 0)")
    assert(t.properties(GraftTable.CheckPropPrefix + "pos_price")
      === "o_totalprice > 0")
    // a violated ADD is refused at DDL time with the existing data named
    val boom = intercept[IllegalArgumentException] {
      spark.sql("ALTER TABLE t_constraint ADD CONSTRAINT big_keys CHECK (o_orderkey >= 100)")
    }
    assert(boom.getMessage.contains("existing rows"))
    // writes through SQL are gated by the added constraint
    import spark.implicits._
    val n0 = spark.sql("SELECT count(*) FROM t_constraint").head().getLong(0)
    Tables.orders(spark, sfDir).filter(col("o_orderkey") >= 150 && col("o_orderkey") < 160)
      .withColumn("o_totalprice", lit(-5.0))
      .createOrReplaceTempView("bad_src_constraint")
    val rej = intercept[Exception] {
      spark.sql("INSERT INTO t_constraint SELECT * FROM bad_src_constraint")
    }
    assert(rej.getMessage.contains("pos_price"), s"got: ${rej.getMessage}")
    assert(spark.sql("SELECT count(*) FROM t_constraint").head().getLong(0) === n0)
    // DROP CONSTRAINT re-admits the same insert
    spark.sql("ALTER TABLE t_constraint DROP CONSTRAINT pos_price")
    spark.sql("INSERT INTO t_constraint SELECT * FROM bad_src_constraint")
    assert(spark.sql("SELECT count(*) FROM t_constraint").head().getLong(0) > n0)
  }

  test("A81 RESTORE TABLE: version and timestamp forms, restore is undoable") {
    val t = mkTable("restoreddl")
    GraftCatalog.register("t_restore", t.root)
    val n1 = t.readAsOfId(1).count()
    val nFull = t.read().count()
    assert(nFull > n1)
    spark.sql("RESTORE TABLE t_restore TO VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) FROM t_restore").head().getLong(0) === n1)
    // the restore is itself a commit: time travel still sees the full state,
    // and restoring "forward" by timestamp undoes it
    val t2 = new GraftTable(t.root, spark)
    assert(t2.current.operation === "rollback")
    assert(t2.readAsOfId(2).count() === nFull)
    val ts = new java.sql.Timestamp(t2.snapshot(2).tsMillis).toString
    spark.sql(s"RESTORE TABLE t_restore TO TIMESTAMP AS OF '$ts'")
    assert(spark.sql("SELECT count(*) FROM t_restore").head().getLong(0) === nFull)
    // a pre-table timestamp is refused loudly
    val err = intercept[Exception] {
      spark.sql("RESTORE TABLE t_restore TO TIMESTAMP AS OF '1999-01-01 00:00:00'")
    }
    assert(err.getMessage.contains("no snapshot"))
  }

  test("A77 materialized view DDL: create, query, refresh; non-foldable shapes refused") {
    val t = mkTable("mvddl")
    GraftCatalog.register("t_mvddl", t.root)
    spark.sql(s"""CREATE MATERIALIZED VIEW mv_ddl
                 |LOCATION '/root/repo/target/laketest/sql-mvddl-view'
                 |AS SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS key_sum
                 |FROM t_mvddl GROUP BY o_orderstatus""".stripMargin)
    // the MV is a regular graft relation: SELECT + metadata views work
    val before = spark.sql("SELECT o_orderstatus, n, key_sum FROM mv_ddl")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expect = t.read().groupBy(col("o_orderstatus"))
      .agg(count(lit(1)), sum(col("o_orderkey")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(before === expect)
    assert(spark.sql("SELECT count(*) FROM `mv_ddl$snapshots`").head().getLong(0) >= 1)
    // DML on the base + REFRESH folds the delta
    spark.sql("DELETE FROM t_mvddl WHERE o_orderkey % 2 = 0")
    spark.sql("REFRESH MATERIALIZED VIEW mv_ddl")
    val after = spark.sql("SELECT o_orderstatus, n, key_sum FROM mv_ddl")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expect2 = t.read().groupBy(col("o_orderstatus"))
      .agg(count(lit(1)), sum(col("o_orderkey")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(after === expect2)
    assert(after != before, "the delete must have changed the view")
    // non-foldable aggregate / non-aggregate query / float sum refused
    val e1 = intercept[Exception] {
      spark.sql("""CREATE MATERIALIZED VIEW mv_bad1 AS
                  |SELECT o_orderstatus, avg(o_orderkey) AS m
                  |FROM t_mvddl GROUP BY o_orderstatus""".stripMargin)
    }
    assert(e1.getMessage.contains("count/sum"))
    val e2 = intercept[Exception] {
      spark.sql("CREATE MATERIALIZED VIEW mv_bad2 AS SELECT o_orderkey FROM t_mvddl")
    }
    assert(e2.getMessage.contains("GROUP BY"))
    val e3 = intercept[Exception] {
      spark.sql("""CREATE MATERIALIZED VIEW mv_bad3 AS
                  |SELECT o_orderstatus, sum(o_totalprice) AS t
                  |FROM t_mvddl GROUP BY o_orderstatus""".stripMargin)
    }
    assert(e3.getMessage.contains("integral"))
    // REFRESH of a non-MV table refused
    val e4 = intercept[Exception] {
      spark.sql("REFRESH MATERIALIZED VIEW t_mvddl")
    }
    assert(e4.getMessage.contains("not a materialized view"))
  }
}
