package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.lake.{DepSpec, Deps, GraftTable, Pruning}

class LakeSpec extends SparkSpec {

  private def tmp(name: String) = s"/root/repo/target/laketest/$name"

  private def ordersTable(name: String, parts: Seq[String] = Seq("o_orderstatus"),
      deps: Seq[DepSpec] = Seq.empty): GraftTable = {
    val o = Tables.orders(spark, sfDir).repartition(col(parts.headOption.getOrElse("o_orderstatus")))
    GraftTable.create(spark, tmp(name), o, parts, deps)
  }

  test("replace table: atomic schema+content swap, history preserved, constraints cleared") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("replace"),
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "k", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    t.setProperty("owner", "pipeline")
    // swap to a completely different shape — would violate v_pos if the
    // old constraint leaked into the new write path (no v column at all)
    t.replaceAs(Seq(("a", 2L), ("b", 1L)).toDF("k", "n"))
    assert(t.current.operation === "replace")
    assert(t.read().columns.toSeq === Seq("k", "n"))
    assert(t.read().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("a" -> 2L, "b" -> 1L))
    // history: snapshot 1 reads with the ORIGINAL schema and data
    val pre = t.readAsOfId(1)
    assert(pre.columns.toSeq === Seq("id", "k", "v") && pre.count() === 3)
    // constraints died with the old schema; plain properties survive
    assert(!t.properties.keys.exists(_.startsWith(GraftTable.CheckPropPrefix)))
    assert(t.properties.get("owner").contains("pipeline"))
    // rollback undoes the replace entirely
    t.rollback(1)
    assert(t.read().columns.toSeq === Seq("id", "k", "v") && t.read().count() === 3)
  }

  test("materialized view: incremental refresh equals recompute, groups vanish, maintenance no-op") {
    import spark.implicits._
    import graft.lake.MatView
    import graft.lake.MatView.AggSpec
    val base = GraftTable.create(spark, tmp("mvbase"),
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)).toDF("id", "k", "v"))
    MatView.create(spark, tmp("mvview"), base, Seq("k"),
      Seq(AggSpec("n", "count", ""), AggSpec("total", "sum", "v")))
    def readMv = MatView.read(spark, tmp("mvview")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(readMv === Map("a" -> ((2L, 30L)), "b" -> ((1L, 5L))))
    // append + group-killing delete: ONE incremental refresh folds both
    base.append(Seq((4L, "c", 7L), (5L, "a", 1L)).toDF("id", "k", "v"))
    base.delete(col("k") === "b")
    MatView.refresh(spark, tmp("mvview"))
    assert(readMv === Map("a" -> ((3L, 31L)), "c" -> ((1L, 7L))),
      "b's last row died, so the b group must vanish")
    // incremental state (hidden count included) equals a full recompute
    val mvFull = new GraftTable(tmp("mvview"), spark).read()
    val rec = graft.lake.MatView.recompute(spark, tmp("mvview"))
    assert(mvFull.exceptAll(rec).isEmpty && rec.exceptAll(mvFull).isEmpty)
    // rewrite-only base maintenance yields an EMPTY changelog: refresh
    // leaves the view contents identical
    base.optimizeCompact(128L * 1024 * 1024)
    MatView.refresh(spark, tmp("mvview"))
    assert(readMv === Map("a" -> ((3L, 31L)), "c" -> ((1L, 7L))))
    // unmoved base → no-op (no new MV snapshot)
    val snaps = new GraftTable(tmp("mvview"), spark).snapshots.size
    MatView.refresh(spark, tmp("mvview"))
    assert(new GraftTable(tmp("mvview"), spark).snapshots.size === snaps)
    // non-foldable aggregates refused at create time
    intercept[Exception](MatView.create(spark, tmp("mvbad"), base, Seq("k"),
      Seq(AggSpec("m", "avg", "v"))))
  }

  test("add column with default: pre-add rows read it, post-add NULL stays NULL, omitted column filled") {
    import spark.implicits._
    import org.apache.spark.sql.types.DoubleType
    val t = GraftTable.create(spark, tmp("defcol"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    t.addColumnWithDefault("score", DoubleType, "1.5")
    // pre-add rows read the initial default (their files lack the column)
    assert(t.read().select("score").collect().map(_.getDouble(0)).toSeq === Seq(1.5, 1.5))
    // post-add write with explicit values INCLUDING a null — the null
    // must survive (this is what a whole-scan coalesce would corrupt)
    t.append(Seq((3L, "c", Option(9.0)), (4L, "d", Option.empty[Double]))
      .toDF("id", "k", "score"))
    val got = t.read().collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1L).contains(1.5) && got(2L).contains(1.5) && got(3L).contains(9.0))
    assert(got(4L).isEmpty, "explicit NULL written after the add must stay NULL")
    // post-add write OMITTING the column: write-default materializes it
    t.append(Seq((5L, "e")).toDF("id", "k"))
    assert(t.read().filter(col("id") === 5L).select("score")
      .collect().head.getDouble(0) === 1.5)
    // time travel to before the add shows no column at all
    assert(!t.readAsOfId(1).columns.contains("score"))
    // nondeterministic defaults are refused at DDL time
    intercept[Exception](t.addColumnWithDefault("r", DoubleType, "rand()"))
    intercept[Exception](t.addColumnWithDefault("x", DoubleType, "no_such_col + 1"))
  }

  test("replace table SQL: OR CREATE gates the missing-table path") {
    import spark.implicits._
    Seq((1L, 2L)).toDF("a", "b").createOrReplaceTempView("rt_missing_src")
    val err = intercept[Exception] {
      spark.sql(s"""REPLACE TABLE graft.rt_missing USING parquet
                   |OPTIONS (addTableManagement 'true', path '${tmp("rtmiss")}')
                   |AS SELECT a, b FROM rt_missing_src""".stripMargin)
    }
    assert(err.getMessage.contains("does not exist"))
    spark.sql(s"""CREATE OR REPLACE TABLE graft.rt_missing USING parquet
                 |OPTIONS (addTableManagement 'true', path '${tmp("rtmiss")}')
                 |AS SELECT a, b FROM rt_missing_src""".stripMargin)
    assert(spark.sql("SELECT * FROM graft.rt_missing").count() === 1)
  }

  test("IS NULL pruning: partitions, footer null counts, metadata delete") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(10L)), (2L, Option.empty[String], Option(20L)),
      (3L, Option("b"), Option.empty[Long]), (4L, Option.empty[String], Option(40L)),
      (5L, Option("a"), Option(50L))).toDF("id", "k", "v")
    val t = GraftTable.create(spark, tmp("nullprune"),
      df.repartition(col("k")), partitionCols = Seq("k"))
    // partition-level: IS NULL selects only the null-partition files
    val (nullFiles, total, _) = t.pruneFiles(col("k").isNull)
    assert(nullFiles.nonEmpty && nullFiles.size < total)
    assert(nullFiles.forall(_.partition("k") == Pruning.HiveNullPartition))
    // stats-level: files whose v column has no nulls are skipped
    val (vNull, _, _) = t.pruneFiles(col("v").isNull)
    assert(vNull.forall(_.stats.get("v").forall(_.nulls > 0)))
    assert(t.scan(col("v").isNull).count() === 1)
    // metadata-only delete of the null partition
    t.delete(col("k").isNull)
    assert(t.current.addedFiles === 0, "IS NULL partition delete is metadata-only")
    assert(t.read().count() === 3)
    assert(t.read().filter(col("k").isNull).count() === 0)
  }

  test("partition-predicate delete is metadata-only: no files written") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("metadel"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    val pathsBefore = t.current.files.map(_.path).toSet
    t.delete(col("o_orderstatus") === "F")
    val snap = t.current
    assert(snap.operation === "delete")
    assert(snap.addedFiles === 0, "metadata-only delete must not write files")
    assert(snap.files.map(_.path).toSet.subsetOf(pathsBefore), "surviving files carried verbatim")
    assert(t.read().filter(col("o_orderstatus") === "F").count() === 0)
    assert(t.read().count() === o.filter(col("o_orderstatus") =!= "F").count())
    // non-partition predicate still takes the COW rewrite path
    t.delete(col("o_totalprice") > 200000)
    assert(t.current.addedFiles > 0, "row-level delete rewrites candidates")
    assert(t.read().count() ===
      o.filter(col("o_orderstatus") =!= "F" && !(col("o_totalprice") > 200000)).count())
  }

  test("optimistic concurrency: writers step over a parked staged snapshot") {
    val o = Tables.orders(spark, sfDir).limit(100)
    val base = o.repartition(col("o_orderstatus"))
    val t = GraftTable.create(spark, tmp("occ"), base, Seq("o_orderstatus"))
    val n0 = t.read().count()
    // writer A parks a write-audit-publish snapshot on the next id;
    // writer B's append must neither clobber it, spin on it, nor fail —
    // id occupation is not a conflict, only pointer movement is
    val staged = t.stageAppend(base)
    assert(staged === 2L)
    t.append(base)
    assert(t.currentId === 3L, "append allocated past the parked id")
    assert(t.current.parentId === 1L)
    assert(t.read().count() === n0 * 2)
    assert(t.readAsOfId(staged).count() === n0 * 2, "parked snapshot intact")
    t.abandonStaged(staged)
    assert(t.currentId === 3L)
  }

  test("concurrent appends: every writer lands via rebase under the commit lock") {
    val o = Tables.orders(spark, sfDir).limit(200)
    val base = o.repartition(col("o_orderstatus"))
    val t = GraftTable.create(spark, tmp("ccappend"), base, Seq("o_orderstatus"))
    val n0 = t.read().count()
    val slices = (0 until 4).map(i =>
      o.filter(col("o_orderkey") % 4 === i).repartition(col("o_orderstatus")))
    val expected = slices.map(_.count()).sum
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = slices.map { s =>
      new Thread(() =>
        try new GraftTable(tmp("ccappend"), spark).append(s)
        catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent append failed: ${Option(errors.peek()).map(_.toString)}")
    assert(t.read().count() === n0 + expected, "no append lost, none doubled")
    assert(t.snapshots.count(_.operation == "append") === 4)
    // lineage is a chain: every append's parent is another committed snapshot
    val ids = t.snapshots.map(_.id).toSet
    assert(t.snapshots.filter(_.parentId >= 0).forall(s => ids.contains(s.parentId)))
  }

  test("schema evolution: drop and rename are metadata-only, pruning survives rename") {
    val o = Tables.orders(spark, sfDir).limit(1000)
    val t = GraftTable.create(spark, tmp("evolve"),
      o.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus")).repartition(col("o_orderstatus")),
      Seq("o_orderstatus"))
    val idBefore = t.currentId
    t.dropColumn("o_custkey")
    assert(t.current.addedFiles === 0, "drop is metadata-only")
    assert(!t.read().columns.contains("o_custkey"))
    assert(t.readAsOfId(idBefore).columns.contains("o_custkey"),
      "time travel sees the pre-drop schema")
    t.renameColumn("o_totalprice", "price")
    assert(t.current.addedFiles === 0, "rename is metadata-only")
    val expect = o.filter(col("o_totalprice") > 100000).count()
    assert(t.scan(col("price") > 100000).count() === expect)
    // footer-stats pruning translates the logical name to the frozen
    // physical name: an impossible range on `price` must prune via the
    // o_totalprice-keyed stats
    val (survivors, total, _) = t.pruneFiles(col("price") > 1e12)
    assert(total > 0 && survivors.isEmpty, "stats pruning works through rename")
    // appends after the rename write the physical name; one schema reads both
    val n0 = t.read().count()
    t.append(t.read().limit(10))
    assert(t.read().count() === n0 + 10)
    // copy-on-write DML through the renamed column
    t.delete(col("price") > 100000)
    assert(t.read().filter(col("price") > 100000).count() === 0)
    assert(t.read().count() > 0)
    // guards: partition/dep columns are not evolvable
    intercept[IllegalArgumentException](t.dropColumn("o_orderstatus"))
    intercept[IllegalArgumentException](t.renameColumn("o_orderstatus", "st"))
  }

  test("tagged appendBatch is idempotent under replay (exactly-once sink)") {
    val o = Tables.orders(spark, sfDir).limit(500)
    val t = GraftTable.create(spark, tmp("batchtag"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    val n0 = t.read().count()
    assert(t.appendBatch(o.repartition(col("o_orderstatus")), "stream-batch-7"))
    val n1 = t.read().count()
    assert(n1 === n0 * 2)
    // replay of the same batch id: recognized, skipped, no double-append
    assert(!t.appendBatch(o.repartition(col("o_orderstatus")), "stream-batch-7"))
    assert(t.read().count() === n1)
    assert(t.appendBatch(o.repartition(col("o_orderstatus")), "stream-batch-8"))
    assert(t.read().count() === n1 + n0)
  }

  test("write-audit-publish: staged snapshot is invisible until published") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("wap"),
      o.filter(col("o_orderkey") < 1000).repartition(col("o_orderstatus")),
      Seq("o_orderstatus"))
    val n0 = t.read().count()
    val staged = t.stageAppend(
      o.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
        .repartition(col("o_orderstatus")))
    assert(t.read().count() === n0, "readers must not see staged data")
    val audit = t.readAsOfId(staged).count()
    assert(audit > n0, "auditors read the staged snapshot explicitly")
    t.publish(staged)
    assert(t.read().count() === audit)
    // abandon path: stage again, drop it, files cleaned, current intact
    val staged2 = t.stageAppend(
      o.filter(col("o_orderkey") >= 2000 && col("o_orderkey") < 2100)
        .repartition(col("o_orderstatus")))
    t.abandonStaged(staged2)
    assert(t.currentId === staged)
    assert(t.read().count() === audit)
  }

  test("tags: named refs resolve in API and SQL") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("tags"),
      o.filter(col("o_orderkey") < 3000).repartition(col("o_orderstatus")),
      Seq("o_orderstatus"))
    t.append(o.filter(col("o_orderkey") >= 3000).repartition(col("o_orderstatus")))
    t.tag("v1", 1).tag("release-2024.1", 2)
    assert(t.readRef("v1").count() === t.readAsOfId(1).count())
    assert(t.refId("release-2024.1") === Some(2L))
    graft.sql.GraftCatalog.register("t_tagged", t.root)
    val n = spark.sql("AS OF 'v1' SELECT count(*) AS n FROM t_tagged")
      .collect().head.getLong(0)
    assert(n === t.snapshot(1).totalRows)
    // $refs metadata view: main + both tags, resolvable in SQL too
    val refs = spark.sql("SELECT ref_name, ref_type, snapshot_id FROM `t_tagged$refs`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refs === Set(("main", "BRANCH", 2L), ("v1", "TAG", 1L),
      ("release-2024.1", "TAG", 2L)))
  }

  test("branches: isolated lineage, fast-forward, divergence protection") {
    val o = Tables.orders(spark, sfDir).limit(600)
    val a = o.filter(col("o_orderkey") % 3 === 0).repartition(col("o_orderstatus"))
    val b = o.filter(col("o_orderkey") % 3 === 1).repartition(col("o_orderstatus"))
    val c = o.filter(col("o_orderkey") % 3 === 2).repartition(col("o_orderstatus"))
    val t = GraftTable.create(spark, tmp("branch"), a, Seq("o_orderstatus"))
    val na = t.read().count()
    t.branch("dev")
    t.appendToBranch("dev", b)
    // branch writes are invisible on main; branch readers opt in
    assert(t.currentId === 1L, "main pointer untouched by branch append")
    assert(t.read().count() === na)
    val nDev = t.readRef("dev").count()
    assert(nDev === na + b.count())
    // AS OF '<branch>' reads the branch head from SQL
    graft.sql.GraftCatalog.register("t_branched", t.root)
    assert(spark.sql("AS OF 'dev' SELECT count(*) AS n FROM t_branched")
      .collect().head.getLong(0) === nDev)
    // fast-forward: main adopts the branch lineage (pure pointer move)
    t.fastForward("dev")
    assert(t.read().count() === nDev)
    // divergence: main and branch both move on → fast-forward refuses
    t.append(c)
    t.appendToBranch("dev", c)
    intercept[IllegalArgumentException](t.fastForward("dev"))
    // tag/branch namespaces are mutually protected
    t.tag("v9", 1L)
    intercept[IllegalArgumentException](t.appendToBranch("v9", c))
    intercept[IllegalArgumentException](t.tag("dev", 1L))
    // ref'd snapshots are pinned through expiration
    t.expire(keepFrom = t.currentId)
    assert(t.readRef("dev").count() === nDev + c.count())
    assert(t.readRef("v9").count() === na)
  }

  test("manifest shards: content-addressed per partition, reused across snapshots, GC'd on expire") {
    import scala.jdk.CollectionConverters._
    val o = Tables.orders(spark, sfDir)
    // ~90 files across 3 status partitions — over ShardFilesThreshold
    val t = GraftTable.create(spark, tmp("shards"),
      o.repartition(30), Seq("o_orderstatus"))
    val n0 = t.read().count()
    val s1 = t.current
    assert(s1.files.size >= GraftTable.ShardFilesThreshold, "fixture must shard")
    assert(s1.shards.size === 3, "one shard per partition value")
    assert(s1.files.size === s1.shards.map(_.nFiles).sum)
    // on disk the manifest is pointer-sized: no inline file entries
    val rawJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t.root, "meta", "snapshot-1.json")))
    assert(!rawJson.contains("\"rows\""), "file entries must live in shards, not the manifest")
    // append touching ONE partition: the other partitions' shards are
    // re-pointed (same content hash), only the changed one is new
    t.append(o.filter(col("o_orderstatus") === "O").limit(500).repartition(2))
    val s2 = t.current
    assert(t.read().count() === n0 + 500)
    assert(s2.shards.map(_.path).toSet.intersect(s1.shards.map(_.path).toSet).size === 2,
      "unchanged partitions reuse their shard files verbatim")
    // expire: shards referenced only by the expired snapshot are GC'd
    t.expire(keepFrom = t.currentId)
    val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(t.root, "meta", "shards"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("shard-")).map(n => s"shards/$n").toSet
    assert(onDisk === s2.shards.map(_.path).toSet, "GC keeps exactly the live shards")
    assert(t.read().count() === n0 + 500, "reads intact after GC")
    // cold-cache reuse (the r10 fast path: unchanged partitions re-point
    // to the PARENT's shard ref without re-serializing): bust the
    // process-wide caches, append to one partition, and the other
    // partitions' shard files must still be reused verbatim
    GraftTable.invalidate(t.root)
    val t2 = new GraftTable(t.root, spark)
    t2.append(o.filter(col("o_orderstatus") === "O").limit(100).repartition(1))
    val s3 = t2.current
    assert(s3.shards.map(_.path).toSet.intersect(s2.shards.map(_.path).toSet).size === 2,
      "cold-cache append still reuses unchanged partitions' shards")
    assert(t2.read().count() === n0 + 600)
  }

  test("concurrent appends from racing threads all land exactly once (rebase under lock)") {
    val o = Tables.orders(spark, sfDir).limit(800).cache()
    val base = o.filter(col("o_orderkey") % 5 === 0)
    val t = GraftTable.create(spark, tmp("race"),
      base.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    val n0 = t.read().count()
    val slices = (1 to 4).map(i =>
      o.filter(col("o_orderkey") % 5 === i).repartition(col("o_orderstatus")))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = slices.map { df =>
      new Thread(() => try t.append(df) catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent appends must not fail: ${errs.peek()}")
    assert(t.read().count() === o.count(), "every thread's rows landed exactly once")
    // history is a linear chain: each snapshot's parent is its predecessor
    val chain = t.snapshots.sortBy(_.id)
    assert(chain.size === 5)
    chain.sliding(2).foreach { case Seq(a, b) => assert(b.parentId === a.id) }
    o.unpersist()
  }

  test("changelog: appends are pure inserts, COW rewrites cancel to exact row deltas") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("cdc"),
      o.filter(col("o_orderkey") < 1000).repartition(col("o_orderstatus")),
      Seq("o_orderstatus"))
    t.append(o.filter(col("o_orderkey") >= 1000).repartition(col("o_orderstatus")))
    val c12 = t.changelog(1, 2).groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c12 === Map("insert" -> o.filter(col("o_orderkey") >= 1000).count()))
    // COW delete rewrites whole files; only truly deleted rows surface
    t.delete(col("o_orderkey") < 100)
    val c23 = t.changelog(2, 3).groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c23 === Map("delete" -> 100L))
    // UPDATE = delete(old) + insert(new)
    t.update(col("o_orderkey") === 500L, Map("o_totalprice" -> lit(1.0)))
    val c34 = t.changelog(3, 4).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("o_orderkey"),
        r.getAs[Double]("o_totalprice")))
    assert(c34.length === 2)
    assert(c34.count(_._1 == "delete") === 1 && c34.count(_._1 == "insert") === 1)
    assert(c34.find(_._1 == "insert").get._3 === 1.0)
    assert(c34.forall(_._2 === 500L))
    // spans compose: 1 → current sees the whole net effect
    val c14 = t.changelog(1, 4).groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c14("delete") === 100L + 1L)
  }

  test("table properties: bloom filters appear in footers of files written after the property") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def bloomOf(rel: String, root: String, col: String): Boolean = {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(s"$root/$rel"), spark.sparkContext.hadoopConfiguration))
      try {
        val block = rd.getFooter.getBlocks.get(0)
        val cc = block.getColumns.asScala.find(_.getPath.toDotString == col).get
        rd.readBloomFilter(cc) != null
      } finally rd.close()
    }
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("props"),
      o.filter(col("o_orderkey") < 700).repartition(col("o_orderstatus")),
      Seq("o_orderstatus"))
    val before = t.current.files.map(_.path).toSet
    t.setProperty("write.bloom.columns", "o_orderkey")
    assert(t.properties("write.bloom.columns") === "o_orderkey")
    t.append(o.filter(col("o_orderkey") >= 700).repartition(col("o_orderstatus")))
    val after = t.current.files.map(_.path).filterNot(before.contains)
    assert(after.nonEmpty)
    assert(after.forall(bloomOf(_, t.root, "o_orderkey")), "new files carry the bloom")
    assert(before.forall(!bloomOf(_, t.root, "o_orderkey")), "old files untouched")
    // properties persist through unrelated commits
    t.delete(col("o_orderkey") === -1L)
    assert(t.properties("write.bloom.columns") === "o_orderkey")
  }

  test("partition-spec evolution: explicit rewrite, time travel plans each snapshot under its own spec") {
    val o = Tables.orders(spark, sfDir).limit(2000).cache()
    val t = GraftTable.create(spark, tmp("respec"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    val n = t.read().count()
    // switch to a plain-column spec: one rewrite snapshot
    t.repartitionSpec(Seq("o_orderpriority"))
    assert(t.read().count() === n)
    assert(t.current.partitionCols === Seq("o_orderpriority"))
    assert(t.current.files.forall(_.partition.keySet === Set("o_orderpriority")))
    // pruning runs against the NEW spec
    val (kept, total, _) = t.pruneFiles(col("o_orderpriority") === "1-URGENT")
    assert(kept.size < total, "new partition column prunes files")
    assert(t.read().filter(col("o_orderpriority") === "1-URGENT").count()
      === o.filter(col("o_orderpriority") === "1-URGENT").count())
    // time travel: the pre-change snapshot plans + prunes under the OLD spec
    assert(t.snapshot(1).partitionCols === Seq("o_orderstatus"))
    assert(t.readAsOfId(1).count() === n)
    assert(t.readAsOfId(1).filter(col("o_orderstatus") === "O").count()
      === o.filter(col("o_orderstatus") === "O").count())
    // a dep-transform spec works too, and appends follow the new layout
    t.repartitionSpec(Seq("od_month"),
      Seq(DepSpec("o_orderdate", "od_month", "month")))
    assert(t.read().count() === n)
    assert(t.current.files.forall(_.partition.keySet === Set("od_month")))
    // dep inference prunes on the source column through the new spec
    val (kept2, total2, _) = t.pruneFiles(col("o_orderdate") === java.sql.Date.valueOf("1995-06-15"))
    assert(kept2.size < total2, "dep inference prunes under the evolved spec")
    o.unpersist()
  }

  test("AS OF infers partition filters through the deps of the snapshot it scans") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    val t = GraftTable.create(spark, tmp("asof-deps"), o.repartition(col("o_orderpriority")),
      Seq("prio_t"), Seq(DepSpec("o_orderpriority", "prio_t", "truncate[1]")))
    val withDep = t.currentId
    // the new spec drops the dependency: the current snapshot has none
    t.repartitionSpec(Seq("o_orderstatus"))
    assert(t.current.deps.isEmpty)
    graft.sql.GraftCatalog.register("asof_deps", t.root)
    val df = spark.sql(s"AS OF '$withDep' SELECT o_orderkey FROM asof_deps " +
      "WHERE o_orderpriority = '1-URGENT'")
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "prio_t")),
      s"no inferred prio_t partition filter: ${scans.head.partitionFilters}")
    assert(df.count() === o.filter(col("o_orderpriority") === "1-URGENT").count())
  }

  test("compaction packs fragmented partitions and leaves compact ones alone") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("compact"),
      byKeyMod(o, 0), Seq("o_orderstatus"))
    for (r <- 1 to 3) t.append(byKeyMod(o, r))
    val beforeByPart = t.current.files.groupBy(_.partition)
    assert(beforeByPart.values.forall(_.size === 4))
    // mark one partition as already compact by excluding it via size:
    // compact everything (big threshold) and check per-partition packing
    t.optimizeCompact(targetBytes = 1L << 30)
    assert(t.current.operation === "compact")
    val afterByPart = t.current.files.groupBy(_.partition)
    assert(afterByPart.values.forall(_.size === 1), "one file per partition")
    assert(t.read().count() === o.count(), "no rows lost")
    // second run is a no-op: nothing fragmented remains
    val id = t.currentId
    t.optimizeCompact(targetBytes = 1L << 30)
    assert(t.currentId === id)
  }

  test("incremental read returns exactly the rows added between snapshots") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("increm"),
      byStatus2(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    t.append(byStatus2(o.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 6000)))
    t.append(byStatus2(o.filter(col("o_orderkey") >= 6000)))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(keys(t.readIncremental(1, 2)) ===
      keys(o.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 6000)))
    assert(keys(t.readIncremental(2, 3)) === keys(o.filter(col("o_orderkey") >= 6000)))
    assert(keys(t.readIncremental(1, 3)) === keys(o.filter(col("o_orderkey") >= 3000)))
    assert(t.readIncremental(3, 3).count() === 0)
  }

  test("incremental read skips content-invariant compaction commits") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("increm-compact"),
      byStatus2(o.filter(col("o_orderkey") < 3000)), Seq("o_orderstatus"))
    t.append(byStatus2(o.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 4000)))
    val consumedAt = t.currentId
    t.compactSmallFiles(targetBytes = 1L << 30, minFiles = 1)
    assert(t.current.operation === "compact")
    val compactAt = t.currentId
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey").collect().map(_.getLong(0)).toSet
    // the compact commit repacked only rows already visible at the
    // window start — an incremental consumer checkpointed there must
    // see NOTHING (pre-fix it re-emitted every packed row)
    assert(t.readIncremental(consumedAt, compactAt).count() === 0)
    // a window SPANNING the append and the compaction still emits the
    // packed files (their sources include unseen in-window rows — the
    // skip never loses data); in-window rows are all present
    assert(keys(o.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 4000))
      .subsetOf(keys(t.readIncremental(1, compactAt))))
    // post-compaction appends flow through; the compact files stay skipped
    t.append(byStatus2(o.filter(col("o_orderkey") >= 6000)))
    assert(keys(t.readIncremental(compactAt, t.currentId)) ===
      keys(o.filter(col("o_orderkey") >= 6000)))
    assert(keys(t.readIncremental(consumedAt, t.currentId)) ===
      keys(o.filter(col("o_orderkey") >= 6000)))
  }

  private def byKeyMod(o: org.apache.spark.sql.DataFrame, r: Int) =
    o.filter(col("o_orderkey") % 4 === r).repartition(col("o_orderstatus"))
  private def byStatus2(df: org.apache.spark.sql.DataFrame) =
    df.repartition(col("o_orderstatus"))

  test("adopt manages existing parquet in place: no rewrite, pruning works") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmp("adopt")
    val src = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    src.repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$root/data")
    def inventory = Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = inventory
    val t = GraftTable.adopt(spark, root)
    assert(t.current.operation === "adopt")
    assert(t.current.partitionCols === Seq("o_orderstatus"))
    assert(inventory === before, "adoption must not rewrite or move data files")
    assert(t.read().count() === src.count())
    // manifest-planned partition pruning over the adopted files
    val (survivors, total, _) = t.pruneFiles(col("o_orderstatus") === "F")
    assert(survivors.nonEmpty && survivors.size < total)
    assert(t.scan(col("o_orderstatus") === "F").count() ===
      src.filter(col("o_orderstatus") === "F").count())
    // footer stats were harvested for data-file skipping too
    assert(t.current.files.forall(_.stats.contains("o_orderkey")))
  }

  test("null partition values round-trip and filter correctly") {
    import spark.implicits._
    val df = Seq((1L, Option("a")), (2L, Option.empty[String]),
      (3L, Option("b")), (4L, Option.empty[String])).toDF("id", "k")
    val t = GraftTable.create(spark, tmp("nullpart"), df, partitionCols = Seq("k"))
    assert(t.read().count() === 4)
    assert(t.read().filter(col("k").isNull).select("id").collect()
      .map(_.getLong(0)).toSet === Set(2L, 4L))
    assert(t.read().filter(col("k") === "a").select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    assert(t.scan(col("k").isNotNull).count() === 2)
  }

  test("partition values with Hive-escaped characters round-trip exactly") {
    import spark.implicits._
    val weird = Seq("a:b", "p%q", "x y", "m\nn")
    val df = weird.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val t = GraftTable.create(spark, tmp("escpart"), df, partitionCols = Seq("k"))
    assert(t.read().select("k").collect().map(_.getString(0)).toSet === weird.toSet)
    weird.foreach { k =>
      assert(t.read().filter(col("k") === k).count() === 1, s"exact filter on '$k'")
    }
  }

  test("date dep transforms: write path equals driver inference in non-UTC sessions") {
    import spark.implicits._
    val oldTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      // boundary instants: epoch, ±1µs around a midnight, a leap day
      val micros = Seq(0L, 86399999999L, 86400000000L, -1L,
        1735689600000000L, 1709164800000000L + 3600000000L)
      val df = micros.toDF("us").select(col("us"), timestamp_micros(col("us")).as("ts"))
      for (tr <- Seq("year", "month", "day", "hour")) {
        df.select(col("us"), Deps.columnTyped(tr, col("ts"), isString = false).as("d"))
          .collect().foreach { r =>
            assert(r.getInt(1) === Deps.apply(tr, r.getLong(0)),
              s"$tr mismatch at ${r.getLong(0)}µs in non-UTC session")
          }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", oldTz)
  }

  test("create + read round-trips rows and schema") {
    val t = ordersTable("roundtrip")
    assert(t.read().count() === Tables.orders(spark, sfDir).count())
    assert(t.schema.fieldNames.contains("o_orderstatus"))
  }

  test("append creates a new snapshot; old snapshot still readable") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("appendiso"),
      o.filter(col("o_orderkey") < 100).repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    val n1 = t.read().count()
    t.append(o.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200)
      .repartition(col("o_orderstatus")))
    assert(t.currentId === 2)
    assert(t.readAsOfId(1).count() === n1) // snapshot isolation
    assert(t.read().count() > n1)
  }

  test("partition pruning skips non-matching files") {
    val t = ordersTable("prune1")
    val (files, total, _) = t.pruneFiles(col("o_orderstatus") === "F")
    assert(total === 3)
    assert(files.size === 1)
    assert(files.head.partition("o_orderstatus") === "F")
  }

  test("stats pruning: range files outside the predicate are skipped") {
    val t = GraftTable.create(spark, tmp("prunestats"),
      Tables.orders(spark, sfDir).repartitionByRange(8, col("o_orderkey")))
    val (files, total, _) = t.pruneFiles(
      col("o_orderkey") >= 100L && col("o_orderkey") <= 120L)
    assert(total === 8)
    assert(files.size <= 2, s"expected <=2 of 8 files, got ${files.size}")
    // correctness: the pruned scan still returns every matching row
    val n = t.scan(col("o_orderkey") >= 100L && col("o_orderkey") <= 120L).count()
    val exp = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey").between(100, 120)).count()
    assert(n === exp)
  }

  test("FileIndex prunes via pushed-down filters: stats skip visible in scan metrics") {
    val t = GraftTable.create(spark, tmp("fidx"),
      Tables.orders(spark, sfDir).repartitionByRange(8, col("o_orderkey")))
    val df = t.scan(col("o_orderkey") >= 100L && col("o_orderkey") <= 120L)
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val numFiles = scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value)
    assert(numFiles.nonEmpty && numFiles.forall(_ <= 2),
      s"stats pruning not applied through pushed filters: $numFiles of 8")
  }

  test("contradictory predicate plans a null scan (zero files)") {
    val t = ordersTable("nullscan")
    val (files, _, cs) = t.pruneFiles(col("o_orderkey") < 0L && col("o_orderkey") > 10L)
    assert(files.isEmpty)
    assert(cs("o_orderkey").impossible)
    assert(t.scan(col("o_orderkey") < 0L && col("o_orderkey") > 10L).count() === 0)
  }

  test("column dependency truncate[1] prunes partitions from a src predicate") {
    val t = GraftTable.create(spark, tmp("deptrunc"),
      Tables.orders(spark, sfDir).repartition(col("o_orderpriority")),
      Seq("prio_t"), Seq(DepSpec("o_orderpriority", "prio_t", "truncate[1]")))
    val (files, total, _) = t.pruneFiles(col("o_orderpriority") === "1-URGENT")
    assert(total === 5)
    assert(files.size === 1)
    assert(files.head.partition("prio_t") === "1")
  }

  test("column dependency month prunes via range predicates on the timestamp") {
    val t = GraftTable.create(spark, tmp("depmonth"),
      Tables.orders(spark, sfDir).repartition(4, col("o_orderdate")),
      Seq("od_month"), Seq(DepSpec("o_orderdate", "od_month", "month")))
    val pred = col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
      col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-03-01 00:00:00"))
    val (files, total, _) = t.pruneFiles(pred)
    assert(files.size < total)
    assert(files.forall { f =>
      val m = f.partition("od_month").toInt; m >= 199601 && m <= 199603 })
  }

  test("dep transforms agree between Spark column and driver evaluation") {
    import spark.implicits._
    for (tr <- Seq("truncate[4]", "bucket[8]")) {
      val vals = Seq("1-URGENT", "5-LOW", "abc")
      val sparkSide = vals.toDF("v")
        .select(Deps.columnTyped(tr, col("v"), isString = true)).collect()
        .map(r => r.get(0).toString)
      val driverSide = vals.map(v => Deps.apply(tr, v).toString)
      assert(sparkSide.toSeq === driverSide)
    }
    // month on a timestamp literal (epoch micros)
    val micros = java.sql.Timestamp.valueOf("1996-04-12 15:00:00").getTime * 1000L
    assert(Deps.apply("month", micros) === 199604)
    assert(Deps.apply("day", micros) === 19960412)
  }

  test("time travel by timestamp picks the latest snapshot <= ts") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("tt"),
      o.filter(col("o_orderkey") < 50).repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.append(o.filter(col("o_orderkey") >= 50 && col("o_orderkey") < 90)
      .repartition(col("o_orderstatus")))
    val s1 = t.snapshot(1); val s2 = t.snapshot(2)
    assert(s1.tsMillis < s2.tsMillis)
    assert(t.readAsOfTs(s1.tsMillis).count() === s1.totalRows)
    assert(t.readAsOfTs(s2.tsMillis).count() === s2.totalRows)
  }

  test("rollback restores files, expire drops orphans but keeps reads alive") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("rbexp"),
      o.filter(col("o_orderkey") < 50).repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    val n1 = t.read().count()
    t.overwrite(o.filter(col("o_orderkey") >= 50 && col("o_orderkey") < 80)
      .repartition(col("o_orderstatus")))
    t.rollback(1)
    assert(t.read().count() === n1)
    assert(t.current.operation === "rollback")
    // expire everything before the rollback snapshot: snapshot 2's
    // files are orphaned (rollback re-references snapshot 1's files)
    val orphans = t.expire(keepFrom = 3)
    assert(orphans.nonEmpty)
    assert(t.read().count() === n1) // current still fully readable
  }

  test("schema evolution: added column reads as null for old files") {
    val t = GraftTable.create(spark, tmp("addcol"),
      Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name")))
    t.addColumn("note", StringType)
    t.append(Tables.region(spark, sfDir).select(
      (col("r_regionkey") + 100).as("n_nationkey"),
      col("r_name").as("n_name"), lit("x").as("note")))
    val rows = t.read().collect()
    assert(rows.filter(_.getAs[Int]("n_nationkey") < 100).forall(_.getAs[String]("note") == null))
    assert(rows.filter(_.getAs[Int]("n_nationkey") >= 100).forall(_.getAs[String]("note") == "x"))
  }

  test("planning is metadata-only: a pruned file may not even exist on disk") {
    val t = GraftTable.create(spark, tmp("metaonly"),
      Tables.orders(spark, sfDir).repartitionByRange(8, col("o_orderkey")))
    // delete the file holding the highest key range from DISK (manifest untouched)
    val victim = t.current.files.maxBy(_.stats("o_orderkey").max.toLong)
    java.nio.file.Files.delete(java.nio.file.Paths.get(t.root, victim.path))
    // a scan that prunes the victim never notices — no listing, no stat
    val lowKeys = t.scan(col("o_orderkey") < 100L)
    assert(lowKeys.count() ===
      Tables.orders(spark, sfDir).filter(col("o_orderkey") < 100).count())
    // a scan that needs the victim fails only at execution time
    intercept[Exception] {
      t.scan(col("o_orderkey") >= victim.stats("o_orderkey").min.toLong).count()
    }
  }

  test("optimize zorder clusters files for multi-column skipping") {
    val t = GraftTable.create(spark, tmp("zorder"),
      Tables.orders(spark, sfDir).repartitionByRange(8, col("o_orderkey")))
    // before: layout is by o_orderkey → custkey predicates scan all files
    val (before, totalB, _) = t.pruneFiles(
      col("o_custkey") >= 100L && col("o_custkey") < 150L)
    t.optimizeZOrder(Seq("o_custkey", "o_orderkey"), nFiles = 8)
    assert(t.current.operation === "optimize")
    val (after, totalA, _) = t.pruneFiles(
      col("o_custkey") >= 100L && col("o_custkey") < 150L)
    assert(after.size < totalA, s"zorder did not improve skipping: ${after.size}/$totalA")
    assert(after.size <= before.size)
    // and predicates on the other zorder column still prune
    val (afterKey, _, _) = t.pruneFiles(
      col("o_orderkey") >= 100L && col("o_orderkey") < 200L)
    assert(afterKey.size < totalA)
    // correctness unchanged
    val n = t.scan(col("o_custkey") >= 100L && col("o_custkey") < 150L).count()
    assert(n === Tables.orders(spark, sfDir)
      .filter(col("o_custkey") >= 100 && col("o_custkey") < 150).count())
  }

  test("partition filters the extractor can't prune are still applied exactly") {
    // Catalyst drops row-level predicates on partition columns and
    // trusts the FileIndex — NOT/OR/!= shapes must filter correctly
    val t = ordersTable("exactpart")
    val all = t.read().count()
    val o = t.read().filter(col("o_orderstatus") === "O").count()
    assert(t.read().filter(col("o_orderstatus") =!= "O").count() === all - o)
    assert(t.read().filter(!(col("o_orderstatus") === "O")).count() === all - o)
    val f = t.read().filter(col("o_orderstatus") === "F").count()
    assert(t.read().filter(
      col("o_orderstatus") === "O" || col("o_orderstatus") === "F").count() === o + f)
  }

  test("delete is copy-on-write: non-candidate files survive verbatim") {
    val o = Tables.orders(spark, sfDir)
    val t = ordersTable("cowdelete")
    val before = t.current.files.map(_.path).toSet
    t.delete(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
    val after = t.current.files
    // 'F' and 'P' partitions cannot match → identical FileEntry paths
    val untouched = after.filter(f => f.partition("o_orderstatus") != "O").map(_.path).toSet
    assert(untouched.nonEmpty && untouched.subsetOf(before),
      "non-matching partitions must not be rewritten")
    // 'O' partition rewritten under the new snapshot id
    assert(after.filter(_.partition("o_orderstatus") == "O").forall(_.path
      .split("/").last.startsWith("2-")))
    val exp = o.filter(!(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)).count()
    assert(t.read().count() === exp)
    // deleting with a contradictory predicate rewrites nothing at all
    val files2 = t.current.files.map(_.path).toSet
    t.delete(col("o_orderkey") < 0L && col("o_orderkey") > 0L)
    assert(t.current.files.map(_.path).toSet === files2)
    assert(t.current.operation === "delete")
  }

  test("update is copy-on-write and recomputes derived dependency columns") {
    val t = GraftTable.create(spark, tmp("cowupdate"),
      Tables.orders(spark, sfDir).repartition(col("o_orderpriority")),
      Seq("prio_t"), Seq(graft.lake.DepSpec("o_orderpriority", "prio_t", "truncate[1]")))
    val before = t.current.files.map(_.path).toSet
    // updating the dep SOURCE column must migrate rows to the new
    // derived partition and keep pruning consistent
    t.update(col("o_orderpriority") === "1-URGENT",
      Map("o_orderpriority" -> lit("5-LOW")))
    assert(t.current.operation === "update")
    assert(t.read().filter(col("o_orderpriority") === "1-URGENT").count() === 0)
    // rows migrated into the prio_t=5 partition; pruning still works
    val (files, _, _) = t.pruneFiles(col("o_orderpriority") === "5-LOW")
    assert(files.forall(_.partition("prio_t") == "5"))
    // only the 1-URGENT partition was rewritten
    val untouched = t.current.files.map(_.path).toSet.intersect(before)
    assert(untouched.nonEmpty)
    assert(t.read().count() === Tables.orders(spark, sfDir).count())
  }

  test("update evaluates all SET expressions against the pre-update row") {
    // UPDATE SET status='done', marker=... WHERE status='pending' must
    // apply BOTH assignments to rows matching the ORIGINAL status: a
    // sequential rewrite that updates status first would make the
    // predicate miss when guarding the second assignment.
    val t = GraftTable.create(spark, tmp("cowupdmulti"),
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
    val pendCount = t.read().filter(col("o_orderstatus") === "O").count()
    assert(pendCount > 0)
    t.update(col("o_orderstatus") === "O",
      Map("o_orderstatus" -> lit("F"), "o_totalprice" -> lit(-1.0)))
    val marked = t.read().filter(col("o_totalprice") === -1.0)
    assert(marked.count() === pendCount,
      "second SET assignment must fire for every originally-matching row")
    assert(t.read().filter(col("o_orderstatus") === "O").count() === 0)
    // swap-style update: SET a=b, b=a must read the pre-update values
    val t2 = GraftTable.create(spark, tmp("cowupdswap"),
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") * 1000L).as("o_alt")))
    val beforeRows = t2.read().select(col("o_orderkey"), col("o_custkey"), col("o_alt"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    t2.update(lit(true), Map(
      "o_custkey" -> col("o_alt"), "o_alt" -> col("o_custkey")))
    t2.read().select(col("o_orderkey"), col("o_custkey"), col("o_alt"))
      .collect().foreach { r =>
        val (c0, s0) = beforeRows(r.getLong(0))
        assert(r.getLong(1) === s0 && r.getLong(2) === c0, "swap must use pre-update values")
      }
  }

  test("merge upserts: source key bounds prune the rewrite set") {
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val t = GraftTable.create(spark, tmp("cowmerge"),
      base.repartitionByRange(8, col("o_orderkey")))
    val before = t.current.files.map(_.path).toSet
    val source = base.filter(col("o_orderkey").between(1L, 500L))
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .unionByName(spark.range(1).select(
        lit(-7L).as("o_orderkey"), lit(0L).as("o_custkey"), lit(1.0).as("o_totalprice")))
    t.merge(source, Seq("o_orderkey"))
    val after = t.current.files
    // files whose key range lies outside [-7, 500] survive verbatim
    val survivors = after.map(_.path).toSet.intersect(before)
    assert(survivors.nonEmpty, "high-key files should be pruned from the rewrite")
    // updated rows carry the new price; inserted key present exactly once
    val updated = t.read().filter(col("o_orderkey").between(1L, 500L))
    val expUpdated = base.filter(col("o_orderkey").between(1L, 500L))
    assert(updated.count() === expUpdated.count())
    assert(updated.agg(sum(col("o_totalprice"))).head.getDouble(0) >
      expUpdated.agg(sum(col("o_totalprice"))).head.getDouble(0))
    assert(t.read().filter(col("o_orderkey") === -7L).count() === 1)
    assert(t.read().count() === base.count() + 1)
  }

  test("columnDependencies option string parses in the reference format") {
    // reference: OPTIONS(columnDependencies 'src=dest:transform,...')
    val deps = GraftTable.parseDeps(
      "ss_sold_date_sk=ss_sold_month:truncate[2], o_custkey=b:bucket[8],o_orderdate=m:month")
    assert(deps === Seq(
      DepSpec("ss_sold_date_sk", "ss_sold_month", "truncate[2]"),
      DepSpec("o_custkey", "b", "bucket[8]"),
      DepSpec("o_orderdate", "m", "month")))
  }

  test("pruning extraction is conservative on unsupported expressions") {
    val cs = Pruning.extract(col("a") === 1L || col("b") === 2L)
    assert(cs.isEmpty) // OR → no pruning, never wrong results
  }

  test("WAP publish CAS: a commit landing between stage and publish is rejected") {
    val o = Tables.orders(spark, sfDir).limit(300)
    val base = o.repartition(col("o_orderstatus"))
    val t = GraftTable.create(spark, tmp("wapcas"), base, Seq("o_orderstatus"))
    val n0 = t.read().count()
    val staged = t.stageAppend(base) // file list computed against snapshot 1
    // a concurrent append commits before the publish
    t.append(base)
    val nAfterAppend = t.read().count()
    // publishing the stale stage would silently drop the append's files
    intercept[java.util.ConcurrentModificationException](t.publish(staged))
    assert(t.read().count() === nAfterAppend, "stale publish must not move the pointer")
    t.abandonStaged(staged)
    // the recovery path: re-stage against the new current, then publish
    val staged2 = t.stageAppend(base)
    t.publish(staged2)
    assert(t.read().count() === n0 * 3)
    // idempotent re-publish of what is already current is a no-op
    t.publish(staged2)
    assert(t.currentId === staged2)
    // cherry-pick path: a stale APPEND stage rebases its file delta
    // onto the moved current instead of failing
    val staged3 = t.stageAppend(base) // parented at staged2
    t.append(base)                    // table moves again
    val n1 = t.read().count()
    val published = t.publishCherryPick(staged3)
    assert(published !== staged3, "rebase must allocate a fresh snapshot")
    assert(t.currentId === published)
    assert(t.read().count() === n1 + n0, "delta spliced, concurrent append kept")
  }

  test("delete fast path requires REAL partition columns, not dep dests") {
    // dep dest od_day is materialized in the data but NOT a partition
    // column: its per-file value is absent from f.partition, so a
    // metadata-only delete keyed on it would match zero files and
    // silently remove nothing — the predicate must take copy-on-write.
    val o = Tables.orders(spark, sfDir).limit(2000)
    val t = GraftTable.create(spark, tmp("fastgate"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"),
      deps = Seq(DepSpec("o_orderdate", "od_day", "day")))
    val day = t.read().select(col("od_day")).orderBy(col("od_day")).head().getInt(0)
    val expect = t.read().filter(col("od_day") =!= day).count()
    assert(t.read().count() > expect, "chosen day must match some rows")
    t.delete(col("od_day") === day)
    assert(t.current.addedFiles > 0, "non-partition dep dest => copy-on-write rewrite")
    assert(t.read().count() === expect, "matching rows actually deleted")
    // same predicate shape on the true partition column stays metadata-only
    t.delete(col("o_orderstatus") === "F")
    assert(t.current.addedFiles === 0)
    assert(t.read().filter(col("o_orderstatus") === "F").count() === 0)
  }

  test("DateType dep transforms: write path and inference agree in any session TZ") {
    import spark.implicits._
    val days = Seq("2024-01-01", "2024-01-02", "2024-06-30", "2024-07-01", "2024-12-31")
    val df = days.zipWithIndex
      .map { case (d, i) => (i.toLong, java.sql.Date.valueOf(d)) }.toDF("id", "d")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // east of UTC: a timestamp-cast of date midnight would fall in the
      // PREVIOUS UTC day and shift year/month/day transforms
      spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
      val t = GraftTable.create(spark, tmp("datedeps"), df,
        partitionCols = Seq("dd"), deps = Seq(DepSpec("d", "dd", "day")))
      // materialized partition value is the date's own calendar day
      assert(t.read().filter(col("id") === 0L).head().getAs[Int]("dd") === 20240101)
      // inference: a date predicate prunes to exactly the matching partition
      val (files, total, cs) = t.pruneFiles(col("d") === lit(java.sql.Date.valueOf("2024-07-01")))
      assert(cs.contains("dd"), s"no inferred constraint: $cs")
      assert(files.size < total && files.nonEmpty, s"pruned ${files.size}/$total")
      assert(t.scan(col("d") === lit(java.sql.Date.valueOf("2024-07-01"))).count() === 1)
      // range predicates infer through the monotone day transform
      assert(t.scan(col("d") >= lit(java.sql.Date.valueOf("2024-07-01"))).count() === 2)
      // bucket-on-date: driver hashes the same yyyy-MM-dd string the
      // write path casts to — equality predicates prune correctly
      val tb = GraftTable.create(spark, tmp("datebucket"), df,
        partitionCols = Seq("db"), deps = Seq(DepSpec("d", "db", "bucket[4]")))
      for (d <- days) {
        assert(tb.scan(col("d") === lit(java.sql.Date.valueOf(d))).count() === 1,
          s"bucket-on-date lost $d")
        val (fs, tot, _) = tb.pruneFiles(col("d") === lit(java.sql.Date.valueOf(d)))
        assert(fs.size < tot, s"no bucket pruning for $d")
      }
      // driver-side dual agrees with calendar arithmetic
      val epochDay = java.time.LocalDate.parse("2024-01-01").toEpochDay
      assert(Deps.applyTyped("day", epochDay, org.apache.spark.sql.types.DateType) === 20240101)
      assert(Deps.applyTyped("month", epochDay, org.apache.spark.sql.types.DateType) === 202401)
      assert(Deps.applyTyped("year", epochDay, org.apache.spark.sql.types.DateType) === 2024)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("appendBatch same-tag race: exactly one writer commits") {
    val o = Tables.orders(spark, sfDir).limit(100)
    val base = o.repartition(col("o_orderstatus"))
    val t = GraftTable.create(spark, tmp("tagrace"), base, Seq("o_orderstatus"))
    val n0 = t.read().count()
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { _ =>
      new Thread(() =>
        try {
          if (new GraftTable(tmp("tagrace"), spark).appendBatch(base, "replayed-batch"))
            wins.incrementAndGet()
        } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"racer failed: ${Option(errors.peek())}")
    assert(wins.get() === 1, "exactly one same-tag writer may commit")
    assert(t.read().count() === n0 * 2, "the batch landed exactly once")
    // losers cleaned up their orphaned staged files: every file on disk
    // under data/ is referenced by some snapshot
    val referenced = t.snapshots.flatMap(_.files.map(_.path)).toSet
    import scala.jdk.CollectionConverters._
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp("tagrace"), "data"))
      .iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Paths.get(tmp("tagrace")).relativize(p).toString).toSet
    assert(onDisk.subsetOf(referenced), s"orphans left: ${onDisk -- referenced}")
  }

  test("cherry-picked delta is re-stamped with the published id (incremental visibility)") {
    val o = Tables.orders(spark, sfDir).limit(100)
    val base = o.repartition(col("o_orderstatus"))
    val t = GraftTable.create(spark, tmp("cherrystamp"), base, Seq("o_orderstatus"))
    val staged = t.stageAppend(base)
    t.append(base) // table moves past the staged id → cherry-pick must rebase
    val preCherry = t.currentId
    val prePaths = t.current.files.map(_.path).toSet
    val published = t.publishCherryPick(staged)
    assert(published > preCherry, "rebase allocates a fresh id past current")
    val delta = t.snapshot(published).files.filterNot(f => prePaths.contains(f.path))
    assert(delta.nonEmpty)
    // the bug this pins: delta files carried the parked STAGED id (< preCherry),
    // so a caught-up incremental/streaming reader filtering addedBy > preCherry
    // silently never saw them
    assert(delta.forall(_.addedBy === published),
      s"stale addedBy stamps: ${delta.map(_.addedBy).distinct} (expected $published)")
    val visible = t.snapshot(published).files
      .filter(f => f.addedBy > preCherry && f.addedBy <= published)
    assert(visible.map(_.path).toSet === delta.map(_.path).toSet,
      "(start, end] delta plan must emit exactly the cherry-picked files")
  }

  test("pre-ledger replay: ledger is seeded from snapshot history on table open") {
    val o = Tables.orders(spark, sfDir).limit(100)
    val base = o.repartition(col("o_orderstatus"))
    val root = tmp("preledger")
    val t = GraftTable.create(spark, root, base, Seq("o_orderstatus"))
    assert(t.appendBatch(base, "batch-9"))
    t.append(base) // the tag is now neither in current.operation nor expiring
    val n = t.read().count()
    // simulate a table written before the ledger existed (or a
    // publish→recordTag crash) opened fresh by another process: copy to a
    // new root — new root = no in-JVM caches — and drop the ledger file
    val root2 = tmp("preledger-reopened")
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(root2)
    import scala.sys.process._
    if (java.nio.file.Files.exists(dst)) Seq("rm", "-rf", root2).!
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.toSeq.sortBy(_.toString).foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
    java.nio.file.Files.deleteIfExists(dst.resolve("meta/batch-tags.txt"))
    java.nio.file.Files.deleteIfExists(dst.resolve("meta/commit.lock"))
    val t2 = new GraftTable(root2, spark)
    assert(!t2.appendBatch(base, "batch-9"),
      "replayed tag must be recognized from snapshot-seeded ledger, not just current.operation")
    assert(t2.read().count() === n, "no double-append on the reopened table")
  }

  test("merge-on-read delete: 1-row delete rewrites zero data files; reads, time travel, changelog stay correct") {
    val o = Tables.orders(spark, sfDir).limit(2000)
    val t = GraftTable.create(spark, tmp("mor"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    val preId = t.currentId
    val preFiles = t.current.files.map(_.path).toSet
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    val n0 = t.read().count()
    t.delete(col("o_orderkey") === victim)
    // the MOR contract: data file list untouched, a deletion vector registered
    assert(t.current.files.map(_.path).toSet === preFiles, "MOR delete must not rewrite data files")
    assert(t.current.deleteFiles.nonEmpty && t.current.deletedRows === 1L)
    assert(t.read().count() === n0 - 1)
    assert(t.read().filter(col("o_orderkey") === victim).count() === 0)
    // time travel: the pre-delete snapshot still shows the row
    assert(t.readAsOfId(preId).filter(col("o_orderkey") === victim).count() === 1)
    // changelog: the file diff is empty, yet the deleted row must appear
    val cl = t.changelog(preId, t.currentId).collect()
    assert(cl.count(_.getAs[String]("_change_type") == "insert") === 0)
    val dels = cl.filter(_.getAs[String]("_change_type") == "delete")
    assert(dels.map(_.getAs[Long]("o_orderkey")).toSeq === Seq(victim))
    // stacking: a second MOR delete appends to the pending list
    val victim2 = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    t.delete(col("o_orderkey") === victim2)
    assert(t.current.deletedRows === 2L)
    assert(t.read().count() === n0 - 2)
    // a filtered scan pushes through the anti-join (results still right)
    assert(t.scan(col("o_orderkey") < victim2 + 10).count() ===
      o.filter(col("o_orderkey") < victim2 + 10).count() - 2)
  }

  test("merge-on-read apply: only files with deleted rows are rewritten; rollback restores the pending list") {
    val o = Tables.orders(spark, sfDir).limit(2000)
    val t = GraftTable.create(spark, tmp("morapply"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    // delete rows from exactly one partition's file via a stats conjunct
    val pred = col("o_orderstatus") === "F" && col("o_totalprice") > 200000
    val expect = t.read().filter(!(pred <=> lit(true))).count()
    t.delete(pred)
    val morId = t.currentId
    assert(t.current.deleteFiles.nonEmpty)
    val untouched = t.current.files.filterNot(_.partition.get("o_orderstatus").contains("F"))
      .map(_.path).toSet
    t.applyDeletes()
    assert(t.current.deleteFiles.isEmpty)
    assert(t.read().count() === expect)
    // files with no deleted rows survived verbatim
    assert(untouched.subsetOf(t.current.files.map(_.path).toSet),
      "applyDeletes must rewrite only affected files")
    assert(t.snapshot(t.currentId).operation === "apply-deletes")
    // changelog across [mor, applied] is empty: apply is physical, not logical
    assert(t.changelog(morId, t.currentId).count() === 0)
    // rollback to the MOR snapshot restores its pending delete list
    t.rollback(morId)
    assert(t.current.deleteFiles.nonEmpty && t.read().count() === expect)
    // expire everything before current: the applied snapshot's data is
    // still referenced; after rolling FORWARD again and expiring, the
    // orphaned delete files are GC'd from disk
    t.applyDeletes()
    t.expire(keepFrom = t.currentId)
    assert(t.current.deleteFiles.isEmpty)
    val delDir = java.nio.file.Paths.get(tmp("morapply"), "deletes")
    val leftover =
      if (!java.nio.file.Files.exists(delDir)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(delDir).iterator().asScala
          .filter(p => p.toString.endsWith(".parquet")).toSeq
      }
    assert(leftover.isEmpty, s"expired delete files leaked: $leftover")
  }

  test("merge-on-read update: pre-images hidden in place, post-images appended, partitions migrate") {
    val o = Tables.orders(spark, sfDir).limit(1000)
    val t = GraftTable.create(spark, tmp("morupd"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    val preId = t.currentId
    val preFiles = t.current.files.map(_.path).toSet
    val n0 = t.read().count()
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    val oldPrice = t.read().filter(col("o_orderkey") === victim)
      .head().getAs[Double]("o_totalprice")
    t.update(col("o_orderkey") === victim, Map("o_totalprice" -> lit(999.5)))
    // zero existing files rewritten; one deletion vector + one appended file
    assert(preFiles.subsetOf(t.current.files.map(_.path).toSet),
      "MOR update must not rewrite existing files")
    assert(t.current.deleteFiles.nonEmpty && t.current.deletedRows === 1L)
    assert(t.read().count() === n0)
    assert(t.read().filter(col("o_orderkey") === victim)
      .head().getAs[Double]("o_totalprice") === 999.5)
    // time travel shows the pre-image
    assert(t.readAsOfId(preId).filter(col("o_orderkey") === victim)
      .head().getAs[Double]("o_totalprice") === oldPrice)
    // changelog = delete(old) + insert(new)
    val cl = t.changelog(preId, t.currentId).collect()
    val byType = cl.groupBy(_.getAs[String]("_change_type"))
    assert(byType("delete").map(_.getAs[Double]("o_totalprice")).toSeq === Seq(oldPrice))
    assert(byType("insert").map(_.getAs[Double]("o_totalprice")).toSeq === Seq(999.5))
    // updating the PARTITION column migrates the row (write path
    // recomputes layout for the appended post-image)
    t.update(col("o_orderkey") === victim, Map("o_orderstatus" -> lit("Z")))
    assert(t.read().filter(col("o_orderkey") === victim)
      .head().getAs[String]("o_orderstatus") === "Z")
    assert(t.read().count() === n0)
    assert(t.current.files.exists(_.partition.get("o_orderstatus").contains("Z")))
    // fold back: applyDeletes clears the list, nothing changes logically
    val expect = t.read().collect().map(_.toString).sorted
    t.applyDeletes()
    assert(t.current.deleteFiles.isEmpty)
    assert(t.read().collect().map(_.toString).sorted === expect)
  }

  test("MOR delete-set broadcast is size-gated by write.delete.broadcast-threshold") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    def broadcastHinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
        .exists(h => Seq(h.leftHint, h.rightHint).flatten.exists(_.strategy.contains(BROADCAST)))
    val o = Tables.orders(spark, sfDir).limit(1000)
    val t = GraftTable.create(spark, tmp("morgate"), o)
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    t.delete(col("o_orderkey") === victim)
    assert(t.current.deleteFiles.forall(_.bytes > 0), "delete entries must record bytes")
    val n = t.read().count()
    // point-delete set under the default threshold: broadcast-hinted
    assert(broadcastHinted(t.read()), "small delete set should carry the broadcast hint")
    // force the set over threshold: the hint must disappear (at real
    // scale Spark then plans a shuffled anti-join; at test scale the
    // planner may still broadcast from size STATS, which is the correct
    // AQE-style behavior — the bug was the unconditional HINT)
    t.setProperty(GraftTable.DeleteBroadcastProp, "1")
    assert(!broadcastHinted(t.read()),
      "over-threshold delete set must not be broadcast-hinted")
    assert(t.read().count() === n, "gated plan stays correct")
    assert(t.read().filter(col("o_orderkey") === victim).count() === 0)
  }

  test("position-MOR source-key broadcast is size-gated by write.merge.source-broadcast-threshold") {
    // the gate is write.delete.broadcast-threshold, the one broadcast
    // knob of MOR helper frames; the title's source-key key folded into it
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    def broadcastHinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
        .exists(h => Seq(h.leftHint, h.rightHint).flatten.exists(_.strategy.contains(BROADCAST)))
    val o = Tables.orders(spark, sfDir).limit(1000)
    val t = GraftTable.create(spark, tmp("morsrcgate"), o)
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    // the hint decision itself: a materialized dimension-sized key frame
    // is hinted under the default threshold, never once over it
    val keys = o.limit(50).select(col("o_orderkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    keys.count()
    val probeUnder = t.read().join(
      t.sourceKeysHinted(t.current.properties, keys), Seq("o_orderkey"), "left_semi")
    assert(broadcastHinted(probeUnder), "small source-key frame should carry the hint")
    val probeOver = t.read().join(
      t.sourceKeysHinted(Map(GraftTable.DeleteBroadcastProp -> "1"), keys),
      Seq("o_orderkey"), "left_semi")
    assert(!broadcastHinted(probeOver),
      "over-threshold source-key frame must not be broadcast-hinted")
    keys.unpersist()
    // end-to-end: a position-MOR merge past the threshold stays correct
    // (at real scale Spark plans the semi-join shuffled; at test scale
    // AQE may still broadcast from runtime STATS, which is fine — the
    // bug was the unconditional HINT)
    t.setProperty(GraftTable.DeleteBroadcastProp, "1")
    val n0 = t.read().count()
    val victims = t.read().orderBy(col("o_orderkey")).limit(5)
      .withColumn("o_totalprice", lit(77.25))
    t.merge(victims, Seq("o_orderkey"))
    assert(t.read().count() === n0, "upsert of existing keys must not grow the table")
    assert(t.current.deleteFiles.nonEmpty && t.current.deleteFiles.forall(_.equalityCols.isEmpty),
      "gated merge still writes position-kind (vector) deletes")
    assert(t.read().orderBy(col("o_orderkey")).limit(5).collect()
      .forall(_.getAs[Double]("o_totalprice") === 77.25))
  }

  test("MOR delete-file addedBy survives an id rebase past a parked WAP snapshot") {
    val o = Tables.orders(spark, sfDir).limit(1000)
    val t = GraftTable.create(spark, tmp("morrebase"), o)
    t.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    // park a staged WAP snapshot at the next id, forcing the MOR
    // update's planned id (cur+1) to rebase inside commit()
    val stagedId = t.stageAppend(o.limit(1))
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    t.update(col("o_orderkey") === victim, Map("o_totalprice" -> lit(1.5)))
    assert(t.currentId > stagedId, "rebase must have stepped past the parked snapshot")
    assert(t.current.deleteFiles.nonEmpty)
    // CDC picks a window's deletes via deleteFiles.filter(_.addedBy == id):
    // a pre-rebase planned id here silently drops the delete half of the
    // update from the change feed (the row would duplicate downstream)
    assert(t.current.deleteFiles.forall(_.addedBy == t.currentId),
      s"delete entries must carry the FINAL snapshot id ${t.currentId}, " +
        s"got ${t.current.deleteFiles.map(_.addedBy)}")
  }

  test("merge-on-read MERGE: upsert with zero rewrites; $deletes view tracks the pending list") {
    val o = Tables.orders(spark, sfDir).limit(1000)
    val t = GraftTable.create(spark, tmp("mormerge"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    val n0 = t.read().count()
    val keys = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(2).collect().map(_.getLong(0))
    val preFiles = t.current.files.map(_.path).toSet
    // source: update the two existing keys, insert two new ones
    val src = t.read().filter(col("o_orderkey").isin(keys.toSeq: _*))
      .withColumn("o_totalprice", lit(111.25))
      .unionByName(t.read().limit(2)
        .withColumn("o_orderkey", col("o_orderkey") + 7700000L)
        .withColumn("o_totalprice", lit(222.5)))
    t.merge(src, Seq("o_orderkey"))
    assert(preFiles.subsetOf(t.current.files.map(_.path).toSet),
      "MOR merge must not rewrite existing files")
    assert(t.current.deletedRows === 2L, "matched pre-images position-deleted")
    assert(t.read().count() === n0 + 2)
    assert(t.read().filter(col("o_orderkey").isin(keys.toSeq: _*))
      .collect().forall(_.getAs[Double]("o_totalprice") === 111.25))
    assert(t.read().filter(col("o_orderkey") >= 7700000L).count() === 2)
    // $deletes view shows the pending entries, then drains on apply
    val dv = t.deletesView.collect()
    assert(dv.map(_.getAs[Long]("n_deleted_rows")).sum === 2L)
    assert(dv.forall(_.getAs[String]("file_path").startsWith("deletes/")))
    t.applyDeletes()
    assert(t.deletesView.count() === 0)
    assert(t.read().count() === n0 + 2)
  }

  test("vacuumOrphans sweeps never-referenced files and stale staging trees, honors the grace period") {
    val o = Tables.orders(spark, sfDir).limit(500)
    val root = tmp("vacorphan")
    val t = GraftTable.create(spark, root,
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    // plant: (a) a LOST-RACE orphan — its planned snapshot id (1) was
    // committed by someone else, so it is provably dead; (b) an
    // IN-FLIGHT-looking payload whose planned id is beyond every
    // committed snapshot — the structural guard must never sweep it;
    // (c) a stale staging tree
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
    // inside the grace period nothing is swept (could be in-flight)
    assert(t.vacuumOrphans(graceMillis = 60000).isEmpty)
    assert(java.nio.file.Files.exists(orphan))
    // past the grace period the dead orphan and staging tree go;
    // referenced files AND the future-id payload survive
    val removed = t.vacuumOrphans(graceMillis = 0)
    assert(removed.exists(_.endsWith("1-99-orphan.parquet")), s"swept: $removed")
    assert(removed.exists(_.startsWith(".staging-")), s"swept: $removed")
    assert(!java.nio.file.Files.exists(orphan))
    assert(!java.nio.file.Files.exists(staging))
    assert(java.nio.file.Files.exists(inflight),
      "a payload stamped beyond every committed snapshot is an in-flight write — never swept")
    java.nio.file.Files.delete(inflight) // clean up the plant
    assert(t.read().count() === nRows, "referenced data untouched")
    // MOR delete files are references too: not swept while pending
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    t.delete(col("o_orderkey") === victim)
    assert(t.vacuumOrphans(graceMillis = 0).isEmpty)
    assert(t.read().count() === nRows - 1)
  }

  test("orphan sweep distributes past the inline threshold with identical semantics") {
    val root = tmp("vacdist")
    val t = GraftTable.create(spark, root,
      spark.range(1).select(col("id").as("v"), lit("part0").as("p")), Seq("p"))
    val seed = t.current.files.head
    val rootPath = java.nio.file.Paths.get(root)
    val seedAbs = rootPath.resolve(seed.path)
    // hardlink past the inline cap so the sweep takes the DISTRIBUTED
    // branch (driver lists only top-level dirs; walks run as tasks)
    val n = GraftTable.VacuumDriverFiles + 80
    val bulkId = t.currentId + 1
    val entries = (0 until n).map { i =>
      val rel = s"data/p=part${i % 16}/vd_$i.parquet"
      val dst = rootPath.resolve(rel)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.createLink(dst, seedAbs)
      seed.copy(path = rel, partition = Map("p" -> s"part${i % 16}"), addedBy = bulkId)
    }
    t.commitAppend(entries, "append")
    // plants: a dead lost-race orphan inside a partition dir, one at
    // the TOP level of data/ (the inline-at-driver branch of the
    // distributed sweep), an in-flight payload the structural guard
    // must protect, and a stale staging tree
    def plant(rel: String): java.nio.file.Path = {
      val p = rootPath.resolve(rel)
      java.nio.file.Files.createLink(p, seedAbs)
      p
    }
    val orphanDir = plant("data/p=part3/1-9-orphan.parquet")
    val orphanTop = plant("data/1-8-toporphan.parquet")
    val inflight = plant("data/p=part5/999-0-inflight.parquet")
    val staging = java.nio.file.Paths.get(root, ".staging-cafe")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-0.parquet"), Array[Byte](1))
    // inside the grace period nothing is swept
    assert(t.vacuumOrphans(graceMillis = 60000).isEmpty)
    // dry-run view finds exactly the dead plants, distributed
    val viewed = t.orphansView(graceMillis = 0).collect().map(_.getString(0)).toSet
    assert(viewed === Set("data/p=part3/1-9-orphan.parquet",
      "data/1-8-toporphan.parquet", ".staging-cafe"), s"viewed: $viewed")
    val removed = t.vacuumOrphans(graceMillis = 0)
    assert(removed.toSet === viewed, "vacuum must sweep exactly the dry-run set")
    assert(!java.nio.file.Files.exists(orphanDir) &&
      !java.nio.file.Files.exists(orphanTop) && !java.nio.file.Files.exists(staging))
    assert(java.nio.file.Files.exists(inflight),
      "a payload stamped beyond every committed snapshot is in-flight — never swept")
    java.nio.file.Files.delete(inflight)
    assert(t.read().count() === n + 1, "referenced data untouched")
  }

  test("A92 auto-compaction: streaming-style appends keep file counts bounded, content exact") {
    import spark.implicits._
    def batch(k: Int) = (0 until 20)
      .map(i => (k * 100L + i, (i % 2).toString)).toDF("k", "g")
      .repartition(col("g"))
    val t = GraftTable.create(spark, tmp("autocompact"), batch(0), Seq("g"))
    t.setProperty(GraftTable.AutoCompactProp, "true")
    t.setProperty(GraftTable.AutoCompactMinFilesProp, "4")
    // below the threshold nothing compacts (no churn on every append)
    t.append(batch(1))
    assert(!t.snapshots.exists(_.operation == "compact"),
      "no compaction below min-files")
    // streaming-style small appends: file count must stay bounded by
    // the packing, not grow one-per-batch
    (2 until 10).foreach(k => assert(t.appendBatch(batch(k), s"ac-$k")))
    assert(t.snapshots.exists(_.operation == "compact"),
      "auto-compaction must have fired past min-files")
    val perPart = t.current.files.groupBy(_.partition).map(_._2.size)
    assert(perPart.max < 8,
      s"10 appends x 2 partitions must stay packed, saw per-partition counts $perPart")
    // content is exactly the union of the batches
    assert(t.read().count() === 200L)
    assert(t.read().agg(sum(col("k"))).head().getLong(0) ===
      (0 until 10).map(k => (0 until 20).map(i => k * 100L + i).sum).sum)
    // pending MOR deletes on packed files fold through the rewrite
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("k") % 100L < 5L)
    (10 until 14).foreach(k => assert(t.appendBatch(batch(k), s"ac-$k")))
    assert(t.read().count() === 200L - 50L + 80L)
    assert(t.read().filter(col("k") % 100L < 5L && col("k") < 1000L).count() === 0L,
      "folded deletes must not resurrect")
    // a replayed tag after compaction still skips (ledger untouched)
    assert(!t.appendBatch(batch(5), "ac-5"))
    // best-effort means BEST-EFFORT: a malformed numeric property must
    // not surface the already-committed append as a failure
    t.setProperty(GraftTable.AutoCompactMinFilesProp, "not-a-number")
    val before = t.read().count()
    t.append(batch(20))
    assert(t.read().count() === before + 20L)
  }

  test("bulk commit existence check distributes and still names the vanished payload") {
    val root = tmp("bulkverify")
    val t = GraftTable.create(spark, root,
      spark.range(1).select(col("id").as("v"), lit("p0").as("p")), Seq("p"))
    val seed = t.current.files.head
    val rootPath = java.nio.file.Paths.get(root)
    val seedAbs = rootPath.resolve(seed.path)
    val n = GraftTable.DriverPathOps + 60
    val bulkId = t.currentId + 1
    val entries = (0 until n).map { i =>
      val rel = s"data/p=p0/bv_$i.parquet"
      java.nio.file.Files.createLink(rootPath.resolve(rel), seedAbs)
      seed.copy(path = rel, partition = Map("p" -> "p0"), addedBy = bulkId)
    }
    // a vacuum-raced payload vanishes before the commit: the (cluster-
    // distributed past DriverPathOps) existence check must refuse and
    // name it, and nothing may land
    java.nio.file.Files.delete(rootPath.resolve(entries(7).path))
    val idBefore = t.currentId
    val ex = intercept[java.io.IOException] { t.commitAppend(entries, "append") }
    assert(ex.getMessage.contains("bv_7.parquet"))
    assert(new GraftTable(root, spark).currentId === idBefore, "failed commit lands nothing")
    // restore → the same bulk commit goes through
    java.nio.file.Files.createLink(rootPath.resolve(entries(7).path), seedAbs)
    t.commitAppend(entries, "append")
    assert(t.read().count() === n + 1L)
  }

  test("appendBatch replay is recognized after snapshot expiration") {
    val o = Tables.orders(spark, sfDir).limit(200)
    val base = o.repartition(col("o_orderstatus"))
    val t = GraftTable.create(spark, tmp("tagexpire"), base, Seq("o_orderstatus"))
    assert(t.appendBatch(base, "batch-42"))
    val n1 = t.read().count()
    t.append(base) // move history forward so the tagged snapshot can expire
    t.expire(keepFrom = t.currentId)
    assert(t.snapshots.size === 1, "history expired")
    // the durable tag ledger survives expiration: replay still skipped
    assert(!t.appendBatch(base, "batch-42"))
    assert(t.read().count() === n1 + base.count())
  }

  test("equality MOR MERGE: zero target scan on write, sequenced reads, changelog, fold-back") {
    import spark.implicits._
    val base = (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v")
    val t = GraftTable.create(spark, tmp("eqmerge"), base.repartition(4))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    val preId = t.currentId
    val preFiles = t.current.files.map(_.path).toSet
    // PROOF of zero target reads: physically remove a data file the
    // merge's keys land in — any write path that scanned the target
    // would fail on it (cf. the metadata-only planning test); the
    // equality write never opens it
    val victim = t.current.files.head
    val victimPath = java.nio.file.Paths.get(tmp("eqmerge"), victim.path)
    val victimBytes = java.nio.file.Files.readAllBytes(victimPath)
    java.nio.file.Files.delete(victimPath)
    val source = Seq((5L, "upd5"), (500L, "upd500"), (2000L, "new2000")).toDF("k", "v")
    t.merge(source, Seq("k"))
    java.nio.file.Files.write(victimPath, victimBytes) // restore for reads
    val mergeId = t.currentId
    assert(preFiles.subsetOf(t.current.files.map(_.path).toSet),
      "equality merge must not rewrite existing files")
    assert(t.current.deleteFiles.nonEmpty
      && t.current.deleteFiles.forall(_.equalityCols == Seq("k")))
    // upsert semantics through the sequenced read: pre-images hidden by
    // key, same-commit post-images visible
    assert(t.read().count() === 1001)
    assert(t.read().filter($"k".isin(5L, 500L, 2000L)).orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((5L, "upd5"), (500L, "upd500"), (2000L, "new2000")))
    // time travel: pre-merge snapshot unaffected
    assert(t.readAsOfId(preId).count() === 1000)
    assert(t.readAsOfId(preId).filter($"k" === 5L).head().getString(1) === "v5")
    // $deletes view reports the flavor
    val dv = t.deletesView.collect()
    assert(dv.forall(_.getAs[String]("kind") == "equality")
      && dv.forall(_.getAs[String]("equality_columns") == "k"))
    // changelog reconstructs equality victims: delete(old) + insert(new)
    val cl = t.changelog(preId, mergeId).collect()
    val byType = cl.groupBy(_.getAs[String]("_change_type"))
    assert(byType("insert").map(_.getAs[Long]("k")).sorted.toSeq === Seq(5L, 500L, 2000L))
    assert(byType("delete").map(_.getAs[Long]("k")).sorted.toSeq === Seq(5L, 500L))
    // stacking: a newer equality merge supersedes the older post-image
    t.merge(Seq((5L, "upd5b")).toDF("k", "v"), Seq("k"))
    assert(t.read().filter($"k" === 5L).collect().map(_.getString(1)).toSeq === Seq("upd5b"))
    assert(t.read().count() === 1001)
    // fold-back rewrites only key-bounds candidates and clears the list
    val expect = t.read().collect().map(_.toString).sorted
    t.applyDeletes()
    assert(t.current.deleteFiles.isEmpty)
    assert(t.read().collect().map(_.toString).sorted === expect)
  }

  test("equality deletes survive widening the key column (narrow delete keys vs wide data)") {
    import spark.implicits._
    val base = (1 to 500).map(i => (i, s"v$i")).toDF("k", "v") // int key
    val t = GraftTable.create(spark, tmp("eqwiden"), base.repartition(2))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    // equality delete parquet stores INT keys…
    t.merge(Seq((7, "upd7")).toDF("k", "v"), Seq("k"))
    // …then the key column widens to BIGINT: the anti-join casts the
    // narrow stored delete keys against the promoted scan column
    t.widenColumn("k", org.apache.spark.sql.types.LongType)
    assert(t.read().filter(col("k") === 7L).collect().map(_.getString(1)).toSeq === Seq("upd7"))
    assert(t.read().count() === 500)
    // candidates/fold-back still work over the widened schema
    t.applyDeletes()
    assert(t.current.deleteFiles.isEmpty)
    assert(t.read().filter(col("k") === 7L).head().getString(1) === "upd7")
  }

  test("equality entries prune once nothing predates them (no perpetual compaction loop)") {
    import spark.implicits._
    val df = (for (k <- Seq("a", "b", "c"); i <- 1 to 100) yield (k, i.toLong, s"$k$i"))
      .toDF("k", "id", "v")
    val t = GraftTable.create(spark, tmp("eqloop"), df.repartition(col("k")), Seq("k"))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    // 100 source keys (half matching, half inserts) — the entry's rows
    // count SOURCE KEYS, crossing the compaction ratio table-wide
    val src = (51 to 150).map(i => ("a", i.toLong, s"u$i")).toDF("k", "id", "v")
    t.merge(src, Seq("k", "id"))
    assert(t.current.deleteFiles.nonEmpty)
    val n = t.read().count()
    t.optimizeCompact(targetBytes = 1L << 30)
    // the full rewrite left no file predating the delete — entry pruned
    assert(t.current.deleteFiles.isEmpty,
      "equality entry with no remaining prey must prune at commit")
    assert(t.read().count() === n)
    // and therefore the NEXT compaction has nothing to do
    val idAfter = t.currentId
    t.optimizeCompact(targetBytes = 1L << 30)
    assert(t.currentId === idAfter,
      "a dead equality entry must not re-trigger delete-aware compaction forever")
  }

  test("rowCount statistics stay non-negative under a deletion list bigger than the table") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("eqstat"),
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    // a 1000-key GDPR-style deletion list against a 10-row table: the
    // entry's `rows` counts SOURCE KEYS, not matched rows — stats must
    // not subtract it into a negative rowCount
    t.mergeDelete((1L to 1000L).filter(_ % 2 == 0).map(Tuple1(_)).toDF("k"), Seq("k"))
    assert(t.read().count() === 5)
    val prior = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val rc = t.read().queryExecution.optimizedPlan.stats.rowCount
      assert(rc.forall(_ >= 0), s"negative rowCount statistic: $rc")
    } finally spark.conf.set("spark.sql.cbo.enabled", prior)
  }

  test("equality MOR merge-delete: keyed deletion list, zero rewrites, zero target I/O") {
    import spark.implicits._
    val base = (1L to 1000L).map(k => (k, k * 2.0)).toDF("k", "x")
    val t = GraftTable.create(spark, tmp("eqmergedel"), base.repartition(3))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    val preFiles = t.current.files.map(_.path).toSet
    t.mergeDelete(Seq(3L, 7L, 999L).toDF("k"), Seq("k"))
    assert(t.current.files.map(_.path).toSet === preFiles,
      "equality merge-delete must not touch data files")
    assert(t.snapshot(t.currentId).operation === "merge-delete")
    assert(t.read().count() === 997)
    assert(t.read().filter($"k".isin(3L, 7L, 999L)).count() === 0)
    t.applyDeletes()
    assert(t.current.deleteFiles.isEmpty && t.read().count() === 997)
  }

  test("CreateFileCommitLock (non-local FS impl): exclusion, stale-break, vanish-retry") {
    // file: roots select MkdirCommitLock, so the exclusive-create impl
    // for hdfs://-class filesystems never runs in the suite otherwise —
    // exercise it directly against a local MetaIO
    import graft.lake.{CreateFileCommitLock, MetaIO}
    val root = tmp("hlock")
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val io = new MetaIO(root, spark.sparkContext.hadoopConfiguration)
    io.mkdirs()
    val a = new CreateFileCommitLock(root, io)
    a.acquire()
    assert(io.exists("commit.lock"))
    // a held (fresh) lock blocks a second acquirer until release
    val b = new CreateFileCommitLock(root, io)
    val got = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thr = new Thread(() => { b.acquire(); got.set(true); b.release() })
    thr.start()
    Thread.sleep(300)
    assert(!got.get(), "waiter must not acquire while the lock is held")
    a.release()
    thr.join(5000)
    assert(got.get(), "waiter must acquire after release")
    assert(!io.exists("commit.lock"))
    // a stale artifact (aged past 5 min) is broken and acquired over
    io.writeNew("commit.lock", Array.emptyByteArray)
    io.fs.setTimes(io.path("commit.lock"),
      System.currentTimeMillis() - 6L * 60 * 1000, -1)
    a.acquire()
    a.release()
    assert(!io.exists("commit.lock"), "stale artifact must be claimed and removed")
  }

  test("write.stats.ndv=auto: NDV stays current across appends with no ANALYZE; overwrite resets") {
    import spark.implicits._
    val df1 = (1L to 100L).map(i => (i, s"u${i % 10}")).toDF("id", "grp")
    val t = GraftTable.create(spark, tmp("autondv"), df1)
    t.setProperty(GraftTable.NdvModeProp, "auto")
    // the enabling commit does not scan: no stats yet (ANALYZE or the
    // next append seeds them)
    t.append(df1) // same rows — NDV must NOT double
    val afterDup = t.current.properties
    assert(afterDup.contains("stats.ndv.id"), "append under auto must publish NDV")
    val est1 = afterDup("stats.ndv.id").toLong
    assert(est1 >= 95 && est1 <= 105, s"100 distinct ids, sketch said $est1")
    assert(afterDup("stats.ndv.grp").toLong === 10)
    // disjoint append MERGES: estimate tracks the union, not the delta
    t.append((101L to 300L).map(i => (i, s"u${i % 10}")).toDF("id", "grp"))
    val est2 = t.current.properties("stats.ndv.id").toLong
    assert(est2 >= 285 && est2 <= 315, s"300 distinct ids after merge, sketch said $est2")
    // the CBO bridge reads the same keys ANALYZE writes — distinctCount
    // flows without any explicit analyze call
    assert(t.current.properties.contains("stats.hll.id"), "sketch must persist for future merges")
    // overwrite REPLACES coverage: NDV drops back to the new data's
    t.overwrite((1L to 50L).map(i => (i, "x")).toDF("id", "grp"))
    val est3 = t.current.properties("stats.ndv.id").toLong
    assert(est3 >= 48 && est3 <= 52, s"overwrite must reset NDV to 50, got $est3")
    assert(t.current.properties("stats.ndv.grp").toLong === 1)
    // an empty overwrite must CLEAR the stats, not retain counts for
    // rows that no longer exist (later appends would merge into them)
    t.overwrite(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      t.read().schema))
    val afterEmpty = t.current.properties.filter(_._1.startsWith("stats.ndv."))
    assert(afterEmpty.values.forall(_.toLong === 0L),
      s"empty overwrite must zero NDV stats (keys absent or 0), got $afterEmpty")
    // ANALYZE seeds sketches for a table that enabled auto late: the
    // full pass replaces, and later deltas merge against full coverage
    val t2 = GraftTable.create(spark, tmp("autondv2"), df1)
    t2.setProperty(GraftTable.NdvModeProp, "auto")
    t2.analyzeNdv()
    assert(t2.current.properties("stats.ndv.id").toLong >= 95)
    t2.append((101L to 150L).map(i => (i, "y")).toDF("id", "grp"))
    val est4 = t2.current.properties("stats.ndv.id").toLong
    assert(est4 >= 140 && est4 <= 160, s"analyze-seeded merge must cover all 150, got $est4")
    // the exactly-once streaming sink path maintains stats too
    assert(t2.appendBatch((151L to 200L).map(i => (i, "z")).toDF("id", "grp"), "ndvb-1"))
    val est5 = t2.current.properties("stats.ndv.id").toLong
    assert(est5 >= 190 && est5 <= 210, s"appendBatch must merge NDV, got $est5")
    // a replayed tag commits nothing and must not move the stats
    assert(!t2.appendBatch((151L to 200L).map(i => (i, "z")).toDF("id", "grp"), "ndvb-1"))
    assert(t2.current.properties("stats.ndv.id").toLong === est5)
    // dynamic partition overwrite merges the incoming rows' sketch
    val pdf = Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L))
      .toDF("id", "k", "v")
    val tp = GraftTable.create(spark, tmp("autondv3"),
      pdf.repartition(col("k")), Seq("k"))
    tp.setProperty(GraftTable.NdvModeProp, "auto")
    tp.overwriteDynamic(Seq((4L, "a", 4L), (5L, "a", 5L)).toDF("id", "k", "v")
      .repartition(col("k")))
    val estP = tp.current.properties("stats.ndv.id").toLong
    assert(estP >= 2, s"dynamic overwrite must count incoming rows, got $estP")
  }

  test("write.target-file-size caps written files, not just OPTIMIZE output") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val t = GraftTable.create(spark, tmp("tfs"), o.limit(500).repartition(1))
    val baseline = t.current.files
    assert(baseline.size === 1)
    val bytesPerRow = baseline.head.bytes / baseline.head.rows
    // target ≈ 100 rows per file → a 1-partition 500-row append must split
    t.setProperty("write.target-file-size", (bytesPerRow * 100).toString)
    t.append(o.limit(500).repartition(1))
    val added = t.current.files.filterNot(f => baseline.exists(_.path == f.path))
    assert(added.size >= 3,
      s"500-row single-partition append under a 100-row target must split, got ${added.size} files")
    assert(added.forall(_.rows <= 150),
      s"every written file must respect the cap, got ${added.map(_.rows)}")
    assert(t.read().count() === 1000)
  }

  test("write.sort.columns: sorted append yields disjoint file ranges; point predicates prune to one file") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val t = GraftTable.createEmpty(spark, tmp("sortedw"), o.schema,
      Seq.empty, Seq.empty)
    t.setProperty(GraftTable.SortColsProp, "o_orderkey")
    t.append(o.repartition(4))
    val files = t.current.files
    assert(files.size >= 3, s"expected several range-split files, got ${files.size}")
    val ranges = files.flatMap(f =>
      f.stats.get("o_orderkey").map(st => (st.min.toLong, st.max.toLong)))
      .sortBy(_._1)
    assert(ranges.size === files.size, "every file must carry sort-column stats")
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"overlapping sorted-write ranges: $ranges")
      case _ => ()
    }
    // manifest stats prune a point predicate to exactly one file
    val probe = ranges.head._2 // an existing key inside the first range
    val (kept, total, _) = t.pruneFiles(col("o_orderkey") === probe)
    assert(total === files.size)
    assert(kept.size === 1,
      s"point predicate on the sort column must prune to 1 file, kept ${kept.size}")
    // values are untouched by the rewrite of the write path
    assert(t.read().count() === o.count())
  }

  test("write.sort.columns: a one-task append sorts in place — no exchange, the range path's rows and order") {
    import spark.implicits._
    // unique keys in a scrambled order, so "sorted" has one answer
    val input = (0 until 300).map(i => ((i * 7919L) % 300L, s"v$i")).toDF("k", "v")
    def sortedTable(name: String) = {
      val t = GraftTable.createEmpty(spark, tmp(name), input.schema, Seq.empty, Seq.empty)
      t.setProperty(GraftTable.SortColsProp, "k")
      t
    }
    /** Shuffle records written by the jobs `body` starts. */
    def shuffleRecords(body: => Unit): Long = {
      val recs = new java.util.concurrent.atomic.AtomicLong(0L)
      val drained = new java.util.concurrent.CountDownLatch(1)
      val sentinel = s"sorted-write-sentinel-${java.util.UUID.randomUUID()}"
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => recs.addAndGet(m.shuffleWriteMetrics.recordsWritten))
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull == sentinel)
            drained.countDown()
      }
      val sc = spark.sparkContext
      sc.addSparkListener(l)
      try {
        body
        sc.setJobGroup(sentinel, "drain")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
        recs.get()
      } finally sc.removeSparkListener(l)
    }
    def fileRows(t: GraftTable, f: graft.lake.FileEntry) =
      spark.read.parquet(s"${t.root}/${f.path}").collect().map(r => (r.getLong(0), r.getString(1)))
    val one = sortedTable("sortw-one")
    assert(shuffleRecords(one.append(input.coalesce(1))) === 0L,
      "a one-task sorted append must not shuffle")
    val ranged = sortedTable("sortw-range")
    assert(shuffleRecords(ranged.append(input.repartition(3))) > 0L,
      "precondition: a multi-task sorted append takes the range shuffle")
    assert(one.current.files.size === 1 && ranged.current.files.size > 1)
    // the range path's files, in key-range order, hold the rows in the
    // one-task file's order: the input sorted by key
    val rangedRows = ranged.current.files.sortBy(_.stats("k").min.toLong)
      .flatMap(fileRows(ranged, _))
    val oneRows = fileRows(one, one.current.files.head).toSeq
    assert(oneRows === rangedRows)
    assert(oneRows.map(_._1) === (0L until 300L))
  }

  test("ClaimCommitLock (object-store impl): exclusion, double-claim settle, stale-break, holder-only release") {
    // object-store schemes select the claim-and-verify lock; exercise
    // the protocol directly against a local MetaIO (same primitives)
    import graft.lake.{ClaimCommitLock, MetaIO}
    val root = tmp("clock")
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val io = new MetaIO(root, spark.sparkContext.hadoopConfiguration)
    io.mkdirs()
    val a = new ClaimCommitLock(root, io)
    a.acquire()
    assert(io.exists("commit.lock"))
    // a held (fresh) lock blocks a second acquirer until release
    val b = new ClaimCommitLock(root, io)
    val got = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thr = new Thread(() => { b.acquire(); got.set(true); b.release() })
    thr.start()
    Thread.sleep(300)
    assert(!got.get(), "waiter must not acquire while the lock is held")
    a.release()
    thr.join(5000)
    assert(got.get(), "waiter must acquire after release")
    assert(!io.exists("commit.lock"))
    // VERIFY phase settles a double-claim: if the lock object holds a
    // DIFFERENT token after our rename (a concurrent last-PUT-wins
    // overwrite), we must not believe we hold it. Simulate the
    // overwrite by planting a foreign token, then check release()
    // refuses to delete a lock we do not hold.
    a.acquire()
    io.writeAtomic("commit.lock", "foreign-token".getBytes("UTF-8"))
    a.release()
    assert(io.exists("commit.lock"),
      "release must not delete a lock whose token is not ours")
    assert(io.readString("commit.lock") === "foreign-token")
    // a stale artifact (aged past 5 min) is broken and acquired over
    io.fs.setTimes(io.path("commit.lock"),
      System.currentTimeMillis() - 6L * 60 * 1000, -1)
    a.acquire()
    a.release()
    assert(!io.exists("commit.lock"), "stale artifact must be claimed and removed")
  }

  test("claim lock forced via graft.commit.lock.impl: full lifecycle + racing writers clean") {
    // run a real table end-to-end with the object-store lock protocol
    // (forced onto a local root via the Hadoop conf override), then
    // race 4 writers × 3 appends — the claim protocol must serialize
    // every commit point: no lost updates, no lingering lock.
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set(graft.lake.CommitLock.ImplConfKey, "claim")
    try {
      val o = Tables.orders(spark, sfDir).limit(100)
      val t = GraftTable.create(spark, tmp("claimrace"), o)
      assert(t.read().count() === 100)
      t.append(o.limit(10))
      assert(t.read().count() === 110)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 4).map { i =>
        new Thread(() => {
          try {
            val w = new GraftTable(tmp("claimrace"), spark)
            for (_ <- 1 to 3) w.append(o.limit(5))
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"racing writers must all commit: ${errs.peek()}")
      assert(t.read().count() === 110 + 4 * 3 * 5)
      assert(t.snapshotIds.size === 2 + 12, "every append = exactly one snapshot")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
        tmp("claimrace"), "meta", "commit.lock")), "no lingering lock")
    } finally hconf.unset(graft.lake.CommitLock.ImplConfKey)
  }

  test("a stale (crashed-writer) commit lock is broken automatically; a fresh one blocks") {
    val o = Tables.orders(spark, sfDir).limit(200)
    val t = GraftTable.create(spark, tmp("stalelock"), o)
    // plant an orphaned lock aged past the 5-minute staleness bound
    val lockDir = java.nio.file.Paths.get(tmp("stalelock"), "meta", "commit.lock")
    java.nio.file.Files.createDirectory(lockDir)
    java.nio.file.Files.setLastModifiedTime(lockDir,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 6L * 60 * 1000))
    t.append(o.limit(10)) // must break the stale lock and commit
    assert(t.read().count() === 210)
    assert(!java.nio.file.Files.exists(lockDir), "broken lock must not linger")
    // a FRESH lock (live writer) is honored: acquisition times out
    java.nio.file.Files.createDirectory(lockDir)
    val err = intercept[java.util.ConcurrentModificationException](t.append(o.limit(1)))
    assert(err.getMessage.contains("live writer"))
    java.nio.file.Files.delete(lockDir)
  }

  test("delete-aware OPTIMIZE: a heavily-deleted partition compacts first, its entry drops") {
    import spark.implicits._
    val df = (for (k <- Seq("a", "b", "c"); i <- 1 to 100) yield (k, i.toLong))
      .toDF("k", "id")
    val t = GraftTable.create(spark, tmp("delcompact"), df.repartition(col("k")), Seq("k"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    assert(t.current.files.size === 3, "one file per partition (no fragmentation)")
    // 30 % of partition a deleted (dense), 1 % of partition b (sparse)
    t.delete(col("id") <= 30L && col("k") === "a")
    t.delete(col("id") === 1L && col("k") === "b")
    assert(t.current.deleteFiles.size === 2)
    val aFile = t.current.files.find(_.partition.get("k").contains("a")).get.path
    val bFile = t.current.files.find(_.partition.get("k").contains("b")).get.path
    val cFile = t.current.files.find(_.partition.get("k").contains("c")).get.path
    t.optimizeCompact(targetBytes = 1L << 30)
    val after = t.current.files.map(_.path).toSet
    // only the delete-dense partition was rewritten
    assert(!after.contains(aFile), "delete-dense partition must compact")
    assert(after.contains(bFile) && after.contains(cFile),
      "sparse/clean partitions must be left alone")
    // the dense partition's delete entry dropped with its targets; the
    // sparse one still pends (its target file survived untouched)
    assert(t.current.deleteFiles.size === 1)
    assert(t.current.deletedRows === 1L)
    assert(t.read().count() === 269)
    assert(t.read().filter(col("k") === "a").count() === 70)
    assert(t.read().filter(col("k") === "b" && col("id") === 1L).count() === 0)
  }

  test("COW rewrites prune stale position-delete entries; partial overlap survives") {
    val o = Tables.orders(spark, sfDir).limit(2000)
    val t = GraftTable.create(spark, tmp("morprune"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    // point-delete one row inside partition F → dv entry whose
    // recorded targets are F's file(s)
    val vF = t.read().filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    t.delete(col("o_orderkey") === vF)
    assert(t.current.deleteFiles.nonEmpty
      && t.current.deleteFiles.forall(_.targets.nonEmpty), "targets must be recorded")
    assert(t.current.deletedRows === 1L)
    // metadata-only partition delete drops every F file → the pending
    // entry lost all targets → pruned at commit, deletedRows exact again
    t.delete(col("o_orderstatus") === "F")
    assert(t.current.deleteFiles.isEmpty,
      "delete entry whose targets all left the snapshot must be pruned")
    assert(t.current.deletedRows === 0L)
    // partial overlap: one MOR delete touching TWO partitions survives
    // a rewrite of one of them (a live target remains)
    val vO = t.read().filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    val vP = t.read().filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    t.delete(col("o_orderkey").isin(vO, vP))
    assert(t.current.deleteFiles.nonEmpty)
    t.delete(col("o_orderstatus") === "O")
    assert(t.current.deleteFiles.nonEmpty,
      "an entry with a surviving target must not be pruned")
    assert(t.read().filter(col("o_orderkey") === vP).count() === 0)
  }

  test("type widening: metadata-only int->long / float->double, pruning across the boundary") {
    import spark.implicits._
    val narrow = (1 to 1000).map(i => (i, i.toFloat / 4f)).toDF("k", "x")
    val t = GraftTable.create(spark, tmp("widen"),
      narrow.repartitionByRange(4, col("k")))
    val preId = t.currentId
    val preFiles = t.current.files.map(_.path).toSet
    t.widenColumn("k", org.apache.spark.sql.types.LongType)
    t.widenColumn("x", org.apache.spark.sql.types.DoubleType)
    // metadata-only: zero files rewritten, schema re-typed
    assert(t.current.files.map(_.path).toSet === preFiles)
    assert(t.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(t.schema("x").dataType === org.apache.spark.sql.types.DoubleType)
    // narrow physical files read through the wide schema
    assert(t.read().schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(t.read().count() === 1000)
    assert(t.read().filter($"k" === 7L).head().getDouble(1) === (7f / 4f).toDouble)
    // values beyond int range land in post-widen appends; both
    // generations scan as one relation
    t.append(Seq((5_000_000_000L, 9.5d)).toDF("k", "x"))
    assert(t.read().count() === 1001)
    assert(t.read().filter($"k" > 4_000_000_000L).count() === 1)
    // stats pruning across the widened boundary: int-era footer stats
    // ("long" domain) still prune long predicates
    val (survivors, total, _) = t.pruneFiles(col("k") === 10L)
    assert(total === 5 && survivors.size === 1,
      s"expected 1 of 5 files to survive k=10, got ${survivors.size}")
    val (wideSurv, _, _) = t.pruneFiles(col("k") === 5_000_000_000L)
    assert(wideSurv.size === 1, "only the post-widen file can hold a long-range key")
    // time travel reads the pre-widen narrow schema
    assert(t.readAsOfId(preId).schema("k").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // narrowing and cross-domain changes are refused
    intercept[IllegalArgumentException](
      t.widenColumn("k", org.apache.spark.sql.types.IntegerType))
    intercept[IllegalArgumentException](
      t.widenColumn("x", org.apache.spark.sql.types.StringType))
  }

  test("metadata plane is Hadoop-FS: a file:-URI root runs the full table lifecycle") {
    // Pre-port, every metadata read went through java.nio Paths.get(root),
    // which treats "file:/…" as a relative path — the table could not even
    // be created. This drives create → append → time travel → refs → COW
    // and MOR DML → exactly-once ledger → expire entirely through a root
    // that only the Hadoop FileSystem API can resolve.
    val root = "file:/root/repo/target/laketest/hadooproot"
    val o = Tables.orders(spark, sfDir).limit(500)
    val t = GraftTable.create(spark, root,
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    assert(t.read().count() === 500)
    t.append(o.limit(10))
    assert(t.read().count() === 510)
    assert(t.snapshotIds.size === 2)
    assert(t.readAsOfId(t.snapshotIds.head).count() === 500)
    t.tag("v1", t.currentId)
    assert(t.refId("v1").contains(t.currentId))
    // COW delete with metadata pruning
    val victim = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    t.delete(col("o_orderkey") === victim)
    assert(t.read().filter(col("o_orderkey") === victim).count() === 0)
    // MOR delete: deletion vector registered + applied on read
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    val victim2 = t.read().select(col("o_orderkey")).orderBy(col("o_orderkey")).head().getLong(0)
    t.delete(col("o_orderkey") === victim2)
    assert(t.current.deleteFiles.nonEmpty)
    assert(t.read().filter(col("o_orderkey") === victim2).count() === 0)
    // exactly-once ledger through Hadoop I/O
    assert(t.appendBatch(o.limit(5), "hbatch-1"))
    assert(!t.appendBatch(o.limit(5), "hbatch-1"))
    val n = t.read().count()
    // expire drops old manifests through the same plane; reads survive
    t.expire(keepFrom = t.currentId)
    assert(t.read().count() === n)
    // the metadata really landed under the schemeless view of the same dir
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      "/root/repo/target/laketest/hadooproot/meta/version-hint.txt")))
  }

  test("dynamic partition pruning engages on a graft partitioned scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("dpp"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    assert(t.current.files.size === 3)
    // the filter side must be a FILE-backed relation: Spark's
    // PartitionPruning rule skips in-memory LocalRelations
    import spark.implicits._
    Seq(("F", 1), ("O", 2), ("P", 3)).toDF("st", "grp")
      .write.mode("overwrite").parquet(tmp("dpp-dim"))
    val dim = spark.read.parquet(tmp("dpp-dim"))
    val q = t.read().join(dim.filter(col("grp") === 3), col("o_orderstatus") === col("st"))
      .groupBy(col("st")).agg(count(lit(1)).as("n"))
    val rows = q.collect()
    assert(rows.length === 1 && rows.head.getString(0) === "P")
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("dynamicpruning"),
      s"expected a dynamic pruning filter on the graft scan, got:\n$plan")
    // the runtime filter must actually drop the two non-matching
    // partition files before the read: numFiles metric sees ONE file
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(s.plan)
        case f: FileSourceScanExec => Seq(f)
        case other =>
          other.children.flatMap(leaves) ++
            other.subqueries.flatMap(leaves)
      }
    val scans = leaves(plan).filter(
      _.relation.location.isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
    assert(scans.nonEmpty, s"no graft scan found in:\n$plan")
    assert(scans.head.metrics("numFiles").value === 1L,
      "dynamic pruning must reduce the scan to the single matching partition file")
  }

  test("$history keeps pinned pre-expiration ancestors true and skipped stages false") {
    import spark.implicits._
    val root = tmp("histexpire")
    locally { import scala.sys.process._; Seq("rm", "-rf", root).!; () }
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v")) // 1
    t.append(Seq((2L, "b")).toDF("id", "v"))                               // 2
    t.stageAppend(Seq((99L, "stage")).toDF("id", "v"))                     // 3 parked
    t.append(Seq((3L, "c")).toDF("id", "v"))                               // 4 (parent 2)
    t.append(Seq((4L, "d")).toDF("id", "v"))                               // 5
    t.tag("pin1", 1L)
    t.tag("pinStage", 3L)
    t.expire(5L) // cuts the chain: 2 expires, 1 + 3 survive via pins
    assert(t.snapshotIds === Seq(1L, 3L, 5L))
    val hist = t.historyView.collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // 1 is a true ancestor surviving below the expiration cut
    assert(hist(1L), "pinned pre-expiration ancestor must stay is_current_ancestor=true")
    assert(hist(5L))
    // 3 shared parent 2 with the published append 4; with 4 expired the
    // sibling evidence is gone — documented undecidable, reports true —
    // but BEFORE expiration it must report false (covered in
    // SqlSurfaceSpec); here just assert the view still returns all rows
    assert(hist.keySet === Set(1L, 3L, 5L))
  }

  test("A68 $clustering advisor: sorted writes read 1, fragmented reads n") {
    val o = Tables.orders(spark, sfDir).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // fragmented: 6 round-robin files → every file spans ~the full key
    // range → a point predicate on o_orderkey overlaps all of them
    val frag = GraftTable.create(spark, tmp("clust-frag"), o.repartition(6))
    val fragRow = frag.clusteringView
      .filter(col("column") === "o_orderkey").head()
    assert(fragRow.getLong(2) === 6L)
    assert(fragRow.getLong(3) >= 5L,
      s"round-robin files should overlap heavily: $fragRow")
    // sorted: write.sort.columns produces pairwise-disjoint ranges →
    // max_overlap 1 on the sort column (the advisor's 'clustered' reading)
    val sorted = GraftTable.createEmpty(spark, tmp("clust-sort"),
      o.schema, Seq.empty, Seq.empty)
    sorted.setProperty(GraftTable.SortColsProp, "o_orderkey")
    sorted.append(o.repartition(6))
    val sortRow = sorted.clusteringView
      .filter(col("column") === "o_orderkey").head()
    assert(sortRow.getLong(2) >= 2L, "need multiple files for the signal")
    assert(sortRow.getLong(3) === 1L,
      s"sorted write should be perfectly clustered: $sortRow")
    // SQL surface
    graft.sql.GraftCatalog.register("clust_t", sorted.root)
    assert(spark.sql("SELECT max(max_overlap) FROM `clust_t$clustering` " +
      "WHERE `column` = 'o_orderkey'").head().getLong(0) === 1L)
  }

  test("A65 shallow clone: zero-copy, independent divergence") {
    val src = ordersTable("clonesrc")
    val nSrc = src.read().count()
    val cl = src.cloneTo(tmp("clonedst"))
    // zero bytes copied: no data directory materialized under the clone
    assert(!new java.io.File(tmp("clonedst") + "/data").exists(),
      "shallow clone must not copy data files")
    assert(cl.current.files.forall(f => GraftTable.isAbsoluteEntry(f.path)))
    assert(cl.read().count() === nSrc)
    // divergence both ways
    import spark.implicits._
    val extraSchema = Tables.orders(spark, sfDir).limit(3)
    cl.append(extraSchema)
    src.delete(col("o_orderstatus") === "F")
    assert(cl.read().count() === nSrc + 3, "source delete leaked into the clone")
    assert(src.read().count() < nSrc, "clone append leaked into the source")
    // the clone's own expiration/vacuum never touch source bytes —
    // even once the inherited absolute entries become true ORPHANS
    // (overwrite drops them from the clone's current snapshot, then
    // everything below current expires)
    cl.overwrite(extraSchema)
    cl.expire(cl.currentId)
    cl.vacuumOrphans(graceMillis = 0L)
    assert(src.current.files.forall(f =>
      new java.io.File(s"${src.root}/${f.path}").exists()),
      "clone expiration deleted source bytes")
    assert(src.read().count() > 0)
  }

  test("A66 deep clone owns its bytes: survives total source deletion") {
    val src = GraftTable.create(spark, tmp("deepsrc"),
      Tables.orders(spark, sfDir).repartition(col("o_custkey")),
      Seq("o_b"), Seq(DepSpec("o_custkey", "o_b", "sbucket[4]")))
    src.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    src.delete(col("o_orderstatus") === "F") // pending MOR delete rides along
    val nLogical = src.read().count()
    val cl = src.cloneTo(tmp("deepdst"), deep = true)
    assert(cl.current.files.nonEmpty &&
      cl.current.files.forall(f => !GraftTable.isAbsoluteEntry(f.path)),
      "deep clone entries must be dest-relative (owned)")
    assert(cl.current.deleteFiles.forall(d => !GraftTable.isAbsoluteEntry(d.path)))
    // the bucket layout (and so the BucketSpec claim) survives the copy
    assert(cl.read().queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
        r: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        r.bucketSpec
    }.flatten.exists(_.numBuckets == 4))
    // obliterate the source — the deep clone must not notice
    import scala.sys.process._
    Seq("rm", "-rf", src.root).!
    assert(cl.read().count() === nLogical)
  }

  test("A65 clone preserves keyed-MOR ordering: inherited rows still deletable") {
    val src = ordersTable("clonemor")
    // advance the source a few snapshots so inherited addedBy > 1
    src.append(Tables.orders(spark, sfDir).limit(5))
    src.append(Tables.orders(spark, sfDir).limit(5))
    assert(src.currentId >= 3)
    val cl = src.cloneTo(tmp("clonemor-dst"))
    assert(cl.currentId === src.currentId,
      "clone must keep the source snapshot id so addedBy ordering survives")
    // keyed equality MERGE on the CLONE must kill inherited pre-images
    cl.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    cl.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    val hot = cl.read().select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(1).collect().head.getLong(0)
    val upd = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") === hot)
      .withColumn("o_totalprice", lit(0.0))
    val nBefore = cl.read().count()
    cl.merge(upd, Seq("o_orderkey"))
    val got = cl.read().filter(col("o_orderkey") === hot)
      .select(col("o_totalprice")).collect().map(_.getDouble(0))
    assert(got.forall(_ == 0.0),
      s"inherited pre-images survived the clone's keyed merge: ${got.toSeq}")
    // row count: pre-image copies collapsed to the single post-image
    assert(cl.read().filter(col("o_orderkey") === hot).count() === 1)
    assert(cl.read().count() <= nBefore)
  }
  test("$entries view: statuses track the full lifecycle incl. delete files (A71)") {
    val o = Tables.orders(spark, sfDir).limit(2000)
    val t = GraftTable.create(spark, tmp("entriesview"),
      o.repartition(col("o_orderstatus")), Seq("o_orderstatus"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("o_orderstatus") === "F" && col("o_totalprice") > 200000)
    val morId = t.currentId
    t.applyDeletes()
    val e = t.entriesView.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(5)))
    // create snapshot: every entry is an ADDED data file stamped addedBy=1
    val s1 = e.filter(_._1 == 1L)
    assert(s1.nonEmpty && s1.forall(x => x._2 == "data" && x._3 == "ADDED" && x._5 == 1L))
    // MOR snapshot: data files carried over EXISTING, the vector ADDED (a
    // position-delete in Iceberg's content terms)
    val sm = e.filter(_._1 == morId)
    assert(sm.filter(_._2 == "position-delete").map(_._3).toSeq === Seq("ADDED"))
    assert(sm.filter(_._2 == "data").nonEmpty &&
      sm.filter(_._2 == "data").forall(_._3 == "EXISTING"))
    // apply snapshot: the folded delete file reports DELETED, exactly one
    // data file rewritten (ADDED) and its pre-image DELETED
    val sa = e.filter(_._1 == t.currentId)
    assert(sa.filter(_._2 == "position-delete").map(_._3).toSeq === Seq("DELETED"))
    assert(sa.count(x => x._2 == "data" && x._3 == "ADDED") === 1)
    assert(sa.count(x => x._2 == "data" && x._3 == "DELETED") === 1)
    // cross-view consistency: per-snapshot ADDED/DELETED data entries
    // must equal $snapshots' n_added_files / n_deleted_files
    for (r <- t.snapshotsView.collect()) {
      val (id, na, nd) = (r.getLong(0), r.getLong(3), r.getLong(4))
      assert(e.count(x => x._1 == id && x._2 == "data" && x._3 == "ADDED").toLong === na)
      assert(e.count(x => x._1 == id && x._2 == "data" && x._3 == "DELETED").toLong === nd)
    }
  }

  test("A73 CHECK constraints: NULL passes, violation aborts atomically") {
    import spark.implicits._
    val df = Seq((1L, Some(10.0), "a"), (2L, None, "b"), (3L, Some(5.0), "a"))
      .toDF("k", "price", "g")
    val t = GraftTable.create(spark, tmp("checknull"), df.repartition(col("g")), Seq("g"))
    // SQL CHECK semantics: a NULL predicate is UNKNOWN and passes, so a
    // constraint over the nullable column accepts the existing data
    t.addCheckConstraint("pos_price", "price > 0")
    // a NULL-priced append passes too
    t.append(Seq((4L, Option.empty[Double], "b")).toDF("k", "price", "g")
      .repartition(col("g")))
    assert(t.read().count() === 4)
    // a strictly-false row aborts the WHOLE batch before any file lands
    val files0 = t.current.files.map(_.path).toSet
    val bad = Seq((5L, Some(1.0), "a"), (6L, Some(-2.0), "b"))
      .toDF("k", "price", "g").repartition(col("g"))
    val ex = intercept[IllegalArgumentException] { t.append(bad) }
    assert(ex.getMessage.contains("pos_price"))
    assert(t.read().count() === 4, "no partial rows")
    assert(t.current.files.map(_.path).toSet === files0, "no partial files")
    // constraint survives the snapshot chain: visible in $properties
    assert(t.properties(GraftTable.CheckPropPrefix + "pos_price") === "price > 0")
    // UPDATE paths are constrained too: rewriting a row into violation fails
    val ex2 = intercept[IllegalArgumentException] {
      t.update(col("k") === 1L, Map("price" -> lit(-9.0)))
    }
    assert(ex2.getMessage.contains("pos_price"))
    // after dropping, the same update lands
    t.dropCheckConstraint("pos_price")
    t.update(col("k") === 1L, Map("price" -> lit(-9.0)))
    assert(t.read().filter(col("price") < 0).count() === 1)
  }

  // ---- A87 metadata-only aggregates ----------------------------------

  private def fileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def go(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case st: QueryStageExec       => go(st.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other => other.children.flatMap(go) ++ other.subqueries.flatMap(go)
    }
    go(df.queryExecution.executedPlan)
  }

  /** Run `sql` with the metadata-aggregate rule on and off; assert the
    * expected plan shape (metadata answers read zero files, bails keep
    * the scan) and exact row equality between the two paths.
    */
  private def metaAggBoth(sql: String, expectMeta: Boolean): Unit = {
    val Key = "spark.graft.metaAgg.enabled"
    spark.conf.set(Key, "true")
    val on = spark.sql(sql)
    val onRows = on.collect()
    if (expectMeta)
      assert(fileScans(on).isEmpty, s"expected a metadata-only plan for: $sql\n${on.queryExecution.executedPlan}")
    else
      assert(fileScans(on).nonEmpty, s"expected a bail-to-scan plan for: $sql\n${on.queryExecution.executedPlan}")
    spark.conf.set(Key, "false")
    val offRows = try spark.sql(sql).collect() finally spark.conf.set(Key, "true")
    assert(onRows.map(_.toString).sorted.toSeq === offRows.map(_.toString).sorted.toSeq,
      s"metadata answer diverged from the scan for: $sql")
  }

  test("A87 metadata aggregates: randomized manifest answers == scan answers; exact bail rules") {
    import spark.implicits._
    val rnd = new scala.util.Random(87)
    def batch(n: Int, base: Int) = (1 to n).map { i =>
      val p: String = rnd.nextInt(5) match { case 0 => null; case k => s"p$k" }
      ((base + i).toLong,
        if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(100000).toLong - 50000),
        if (rnd.nextInt(7) == 0) null else java.lang.Double.valueOf(math.round(rnd.nextGaussian() * 1e6) / 1e3),
        if (rnd.nextInt(5) == 0) null else s"s${rnd.nextInt(1000)}",
        p,
        new java.sql.Timestamp(1600000000000L + rnd.nextInt(1000000000).toLong))
    }.toDF("id", "v", "x", "s", "p", "ts")
    val t = GraftTable.create(spark, tmp("metaagg-rand"),
      batch(700, 0).repartition(col("p")), Seq("p"))
    t.append(batch(500, 1000).repartition(col("p")))
    t.append(batch(300, 2000).repartition(2, col("p"))) // multiple files per partition
    graft.sql.GraftCatalog.register("metaagg_rand", t.root)

    val aggList = """count(*) AS n, count(v) AS nv, count(x) AS nx, count(s) AS ns,
      | count(p) AS np, min(id) AS i0, max(id) AS i1, min(v) AS v0, max(v) AS v1,
      | min(x) AS x0, max(x) AS x1, min(ts) AS t0, max(ts) AS t1""".stripMargin
    // scalar + grouped + partition-filtered shapes all answer from metadata
    metaAggBoth(s"SELECT $aggList FROM metaagg_rand", expectMeta = true)
    metaAggBoth(s"SELECT p, $aggList FROM metaagg_rand GROUP BY p", expectMeta = true)
    metaAggBoth(s"SELECT $aggList FROM metaagg_rand WHERE p = 'p2'", expectMeta = true)
    metaAggBoth(s"SELECT p, $aggList FROM metaagg_rand WHERE p > 'p1' GROUP BY p", expectMeta = true)
    metaAggBoth(s"SELECT $aggList FROM metaagg_rand WHERE p IS NULL", expectMeta = true)
    metaAggBoth(s"SELECT p, min(p) AS p0, max(p) AS p1, count(*) AS n FROM metaagg_rand " +
      "WHERE p IS NOT NULL GROUP BY p", expectMeta = true) // min/max ON a partition col: exact
    // empty survivor set: scalar answers (0, nulls); grouped answers no rows
    metaAggBoth(s"SELECT $aggList FROM metaagg_rand WHERE p = 'nope'", expectMeta = true)
    metaAggBoth(s"SELECT p, count(*) AS n FROM metaagg_rand WHERE p = 'nope' GROUP BY p",
      expectMeta = true)

    // exact bail rules — each keeps the scan plan and the right answer
    metaAggBoth("SELECT min(s) AS s0 FROM metaagg_rand", expectMeta = false) // string footer bounds are not exact
    metaAggBoth("SELECT count(*) AS n FROM metaagg_rand WHERE id > 1500", expectMeta = false) // data-column filter
    metaAggBoth("SELECT count(DISTINCT v) AS n FROM metaagg_rand", expectMeta = false)
    metaAggBoth("SELECT sum(v) AS sv FROM metaagg_rand", expectMeta = false) // not stat-expressible
    metaAggBoth("SELECT p, count(*) AS n FROM metaagg_rand GROUP BY p HAVING count(*) > 10",
      expectMeta = true) // HAVING filters ABOVE the folded aggregate — still metadata-only

    // DISTINCT over a partition column is the grouped fold with no agg
    // functions (Spark's OptimizeMetadataOnlyQuery shape, manifest-backed)
    metaAggBoth("SELECT DISTINCT p FROM metaagg_rand", expectMeta = true)

    // the DataFrame API folds through the same rule as SQL
    val dfApi = t.read().agg(count(lit(1)).as("n"), min(col("id")).as("i0"))
    val dfRow = dfApi.head()
    assert(fileScans(dfApi).isEmpty, "DF-API aggregate must fold to metadata too")
    assert(dfRow.getLong(0) == 1500L && dfRow.getLong(1) == 1L)

    // time travel: the rule folds from the AS-OF snapshot's manifest,
    // not the current one (count at snapshot 1 = the first batch alone)
    metaAggBoth("AS OF '1' SELECT count(*) AS n, min(id) AS i0, max(id) AS i1 FROM metaagg_rand",
      expectMeta = true)
    val asOf1 = spark.sql("AS OF '1' SELECT count(*) AS n FROM metaagg_rand").head().getLong(0)
    assert(asOf1 === 700L, s"AS OF 1 metadata count must see only the create batch, got $asOf1")

    // pending MOR deletes poison manifest counts → must bail, stay correct
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("id") % 17 === 0)
    assert(t.current.deleteFiles.nonEmpty, "precondition: pending MOR delete")
    metaAggBoth(s"SELECT $aggList FROM metaagg_rand", expectMeta = false)
    metaAggBoth("SELECT p, count(*) AS n FROM metaagg_rand GROUP BY p", expectMeta = false)
    // and the HISTORICAL snapshot (no deletes) still folds from metadata
    metaAggBoth("AS OF '1' SELECT count(*) AS n FROM metaagg_rand", expectMeta = true)
  }

  test("A89 OPTIMIZE WHERE: partition-scoped compaction/zorder leaves out-of-scope files verbatim") {
    import spark.implicits._
    def batch(tag: Int) = Seq(
      (tag * 10L + 1, tag * 1.0, "a"), (tag * 10L + 2, tag * 2.0, "b"),
      (tag * 10L + 3, tag * 3.0, "c")).toDF("k", "v", "g").repartition(col("g"))
    val t = GraftTable.create(spark, tmp("optwhere"), batch(1), Seq("g"))
    t.append(batch(2)); t.append(batch(3)) // 3 files per partition
    graft.sql.GraftCatalog.register("optwhere_t", t.root)
    val pre = t.read().collect().map(_.toString).sorted.toSeq
    def filesOf(part: String) = new GraftTable(t.root, spark).current.files
      .filter(_.partition.get("g").contains(part)).map(_.path).toSet
    val (b0, c0) = (filesOf("b"), filesOf("c"))
    assert(filesOf("a").size == 3)
    spark.sql("OPTIMIZE optwhere_t WHERE g = 'a'")
    assert(filesOf("a").size == 1, "scoped compact must pack the matching partition")
    assert(filesOf("b") == b0 && filesOf("c") == c0,
      "out-of-scope partitions must keep their exact files")
    // scoped ZORDER rewrites only the matching partition
    val a1 = filesOf("a")
    spark.sql("OPTIMIZE optwhere_t WHERE g = 'b' ZORDER BY (k)")
    assert(filesOf("a") == a1 && filesOf("c") == c0)
    assert(filesOf("b").size >= 1 && filesOf("b") != b0, "scope must rewrite b")
    assert(new GraftTable(t.root, spark).read().collect().map(_.toString).sorted.toSeq === pre,
      "maintenance must never change data")
    // non-partition scope refuses loudly (row-granular scope would be DML)
    val ex = intercept[Exception] { spark.sql("OPTIMIZE optwhere_t WHERE k > 5") }
    assert(ex.getMessage.contains("non-partition column"))
    // API parity
    new GraftTable(t.root, spark).optimizeCompact(512L << 20, Some(col("g") === "zzz"))
    assert(new GraftTable(t.root, spark).read().count() == 9)
  }

  test("A88 NOT NULL: stats-less files take the narrow scan; multi-column SET is atomic") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("notnull-scan"),
      Seq((1L, Some(10.0), "a"), (2L, Some(20.0), "b")).toDF("k", "v", "g")
        .repartition(col("g")), Seq("g"))
    // a column added AFTER the first files exist: those files carry no
    // stats for it and read as null → SET NOT NULL must detect the
    // nulls through the narrow scan over exactly those files
    t.addColumn("w", org.apache.spark.sql.types.LongType)
    val ex = intercept[IllegalArgumentException] { t.setColumnNullability("w", nullable = false) }
    assert(ex.getMessage.contains("existing rows contain nulls"))
    assert(t.schema("w").nullable, "failed SET must not flip the flag")
    // fill w everywhere (COW rewrite refreshes stats) → SET succeeds
    t.update(lit(true), Map("w" -> col("k") * 10L))
    t.setColumnNullability("w", nullable = false)
    assert(!t.schema("w").nullable)
    // enforcement: an UPDATE writing a null w aborts atomically
    val pre = t.read().collect().map(_.toString).sorted.toSeq
    val ex2 = intercept[IllegalArgumentException] {
      t.update(col("k") === 1L, Map("w" -> lit(null).cast("long")))
    }
    assert(ex2.getMessage.contains("NOT NULL"))
    assert(t.read().collect().map(_.toString).sorted.toSeq === pre)
    // time travel reads the pre-constraint schema with its own flag
    assert(new GraftTable(t.root, spark).snapshots.size >= 3)
    // multi-column statement: one compliant + one violating column →
    // NOTHING commits (k stays nullable=false-able, v untouched)
    graft.sql.GraftCatalog.register("notnull_scan_t", t.root)
    t.setColumnNullability("w", nullable = true) // re-open w
    t.append(Seq((3L, Option.empty[Double], 30L, "a")).toDF("k", "v", "w", "g")
      .repartition(col("g"))) // plant a null in v
    val idBefore = t.currentId
    val schemaBefore = new GraftTable(t.root, spark).schema
    val ex3 = intercept[Exception] {
      spark.sql("ALTER TABLE notnull_scan_t ALTER COLUMN w SET NOT NULL, v SET NOT NULL")
    }
    assert(ex3.getMessage.contains("refused"))
    val t2 = new GraftTable(t.root, spark)
    assert(t2.currentId == idBefore, "failed multi-column SET must commit nothing")
    assert(t2.schema === schemaBefore, "failed multi-column SET must not flip any flag")
    assert(t2.schema("w").nullable && t2.schema("v").nullable)
  }

  test("A87 metadata aggregates: widened column stays exact; fresh column without stats bails") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("metaagg-widen"),
      Seq((1, "a"), (7, "a"), (3, "b")).toDF("k", "g").repartition(col("g")), Seq("g"))
    t.widenColumn("k", org.apache.spark.sql.types.LongType)
    t.append(Seq((9000000000L, "a"), (-4L, "b")).toDF("k", "g").repartition(col("g")))
    graft.sql.GraftCatalog.register("metaagg_widen", t.root)
    // old int32 footer stats + new int64 stats fold into one exact long answer
    metaAggBoth("SELECT g, min(k) AS k0, max(k) AS k1, count(k) AS n FROM metaagg_widen GROUP BY g",
      expectMeta = true)
    // a column added AFTER the first files exist has no stats in them:
    // count/min/max on it must keep the scan and still be right
    t.addColumn("w", org.apache.spark.sql.types.LongType)
    t.append(Seq((5L, 42L, "a"), (6L, 17L, "b")).toDF("k", "w", "g").repartition(col("g")))
    metaAggBoth("SELECT count(w) AS nw, min(w) AS w0, max(w) AS w1 FROM metaagg_widen",
      expectMeta = false)
    // count(*) doesn't touch the fresh column — still metadata-only
    metaAggBoth("SELECT count(*) AS n FROM metaagg_widen", expectMeta = true)
  }

  test("A88 NOT NULL survives RENAME COLUMN and rejects column-omitting batches") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("notnull-rename"),
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "w", "g")
        .repartition(col("g")), Seq("g"))
    t.setColumnNullability("w", nullable = false)
    // a batch that OMITS the constrained column is a violation (the
    // file would read back all-null under a nullable=false schema)
    val exOmit = intercept[IllegalArgumentException] {
      t.append(Seq((3L, "a")).toDF("k", "g").repartition(col("g")))
    }
    assert(exOmit.getMessage.contains("omits the column"))
    assert(t.read().count() === 2, "aborted write must land nothing")
    // rename migrates the enforcement key: a null in the RENAMED column
    // still aborts, and the omission rule follows the new name too
    t.renameColumn("w", "weight")
    val exNull = intercept[IllegalArgumentException] {
      t.append(Seq((4L, Option.empty[Long], "b")).toDF("k", "weight", "g")
        .repartition(col("g")))
    }
    assert(exNull.getMessage.contains("NOT NULL constraint on weight"))
    val exOmit2 = intercept[IllegalArgumentException] {
      t.append(Seq((5L, "a")).toDF("k", "g").repartition(col("g")))
    }
    assert(exOmit2.getMessage.contains("weight"))
    // compliant batch under the new name lands; old-name files read fine
    t.append(Seq((6L, 60L, "b")).toDF("k", "weight", "g").repartition(col("g")))
    assert(t.read().filter(col("weight") === 60L).count() === 1)
    assert(t.read().filter(col("weight").isNull).count() === 0)
    // a column with an initial DEFAULT satisfies the constraint even
    // when the batch omits it (write-default materializes before check)
    t.addColumnWithDefault("src", StringType, "'web'")
    t.setColumnNullability("src", nullable = false)
    t.append(Seq((7L, 70L, "a")).toDF("k", "weight", "g").repartition(col("g")))
    assert(t.read().filter(col("src") === "web").count() === t.read().count())
    // renaming a column referenced by a CHECK predicate refuses loudly
    t.addCheckConstraint("w_pos", "weight > 0")
    val exChk = intercept[Exception] { t.renameColumn("weight", "wt") }
    assert(exChk.getMessage.contains("CHECK constraint"))
    assert(new GraftTable(t.root, spark).schema.fieldNames.contains("weight"))
  }

  test("column DDL migrates/removes per-column properties as one class (A34/A88)") {
    import spark.implicits._
    // --- DROP after SET NOT NULL: the table must stay writable ---
    val t = GraftTable.create(spark, tmp("colprops-drop"),
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "g")
        .repartition(col("g")), Seq("g"))
    t.setColumnNullability("v", nullable = false)
    assert(t.current.properties.contains("notnull.v"))
    t.dropColumn("v")
    val afterDrop = t.current.properties
    GraftTable.ColumnPropPrefixes.foreach { p =>
      assert(!afterDrop.contains(p + "v"), s"drop must remove ${p}v")
    }
    // the r11-reproduced brick: a stale notnull.v made every later
    // append throw "the incoming batch omits the column"
    t.append(Seq((3L, "a")).toDF("k", "g").repartition(col("g")))
    assert(t.read().count() === 3, "table stays writable after dropping a NOT NULL column")

    // --- DROP refused when a CHECK predicate references the column ---
    val tc = GraftTable.create(spark, tmp("colprops-check"),
      Seq((1L, 5L), (2L, 6L)).toDF("k", "v"))
    tc.addCheckConstraint("v_pos", "v > 0")
    val exChk = intercept[Exception] { tc.dropColumn("v") }
    assert(exChk.getMessage.contains("CHECK constraint"))
    assert(new GraftTable(tc.root, spark).schema.fieldNames.contains("v"),
      "refused drop must not commit")
    // reference detection is by parse, not substring: a column whose
    // name merely CONTAINS the predicate's column stays droppable
    tc.addColumn("v2", org.apache.spark.sql.types.LongType)
    tc.dropColumn("v2")
    // dropping the constraint re-opens the drop
    tc.dropCheckConstraint("v_pos")
    tc.dropColumn("v")
    assert(!new GraftTable(tc.root, spark).schema.fieldNames.contains("v"))

    // --- RENAME preserves auto-NDV continuity + the column comment ---
    val df = (1L to 200L).map(i => (i, s"u${i % 10}")).toDF("id", "grp")
    val tr = GraftTable.create(spark, tmp("colprops-rename"), df)
    tr.setProperty(GraftTable.NdvModeProp, "auto")
    tr.analyzeNdv() // seed full-coverage sketches
    tr.setProperty("comment.col.id", "primary key")
    val seeded = tr.current.properties("stats.ndv.id").toLong
    assert(seeded >= 190 && seeded <= 210, s"analyze must seed ~200, got $seeded")
    tr.renameColumn("id", "doc_id")
    val afterRename = tr.current.properties
    assert(!afterRename.contains("stats.hll.id") && afterRename.contains("stats.hll.doc_id"),
      "the HLL sketch must follow the rename — left behind, the next " +
        "append restarts a delta-only sketch and collapses the CBO's NDV")
    assert(afterRename.get("comment.col.doc_id").contains("primary key") &&
      !afterRename.contains("comment.col.id"), "column comment follows the rename")
    // the r11 wrong-stats surface: append a SMALL batch after the
    // rename; NDV must track the union (~210), not the 10-row delta
    tr.append((201L to 210L).map(i => (i, "z")).toDF("doc_id", "grp"))
    val estAfter = tr.current.properties("stats.ndv.doc_id").toLong
    assert(estAfter >= 200 && estAfter <= 220,
      s"auto-NDV after rename must stay table-level (~210), got $estAfter " +
        "(a delta-only value here means the sketch did not migrate)")

    // --- re-added same-name column must not merge into a dead sketch ---
    val td = GraftTable.create(spark, tmp("colprops-readd"), df)
    td.setProperty(GraftTable.NdvModeProp, "auto")
    td.analyzeNdv()
    assert(td.current.properties.contains("stats.hll.grp"))
    td.dropColumn("grp")
    assert(!td.current.properties.contains("stats.hll.grp"))
    td.addColumn("grp", StringType)
    td.append(Seq((1000L, "only")).toDF("id", "grp"))
    val readd = td.current.properties.get("stats.ndv.grp").map(_.toLong)
    assert(readd.forall(_ <= 2),
      s"re-added grp has 1 distinct value; merging the stale sketch would inflate it: $readd")
  }

  test("date-partitioned tables read, prune, and answer meta-aggregates exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-05")),
      (2L, java.sql.Date.valueOf("2024-03-09")),
      (3L, java.sql.Date.valueOf("2023-11-30"))).toDF("id", "d")
    val t = GraftTable.create(spark, tmp("metaagg-datepart"),
      df.repartition(col("d")), Seq("d"))
    graft.sql.GraftCatalog.register("metaagg_datepart", t.root)
    // the read path itself: partition values must parse to internal
    // days (a UTF8String fallback ClassCastExceptions every scan)
    assert(t.read().count() === 3)
    assert(t.read().filter(col("d") === java.sql.Date.valueOf("2024-03-09"))
      .select("id").head().getLong(0) === 2L)
    // partition pruning on the date column drops files exactly
    val (survivors, total, _) = t.pruneFiles(col("d") >= java.sql.Date.valueOf("2024-01-01"))
    assert(total === 3 && survivors.size === 2)
    // metadata-only aggregates fold date partition values exactly
    metaAggBoth("SELECT min(d) AS d0, max(d) AS d1, count(d) AS nd FROM metaagg_datepart",
      expectMeta = true)
    metaAggBoth("SELECT d, count(*) AS n FROM metaagg_datepart GROUP BY d",
      expectMeta = true)
    metaAggBoth("SELECT count(*) AS n FROM metaagg_datepart WHERE d > DATE'2024-01-01'",
      expectMeta = true)
  }

  test("A20b hilbert clustering: content identical, pruning works, locality beats morton") {
    import spark.implicits._
    // deterministic uniform 2D grid — the shape where curve locality
    // differences are crisp (and deterministic data + deterministic
    // range partitioning make the comparison reproducible)
    val grid = (for (x <- 0L until 96L; y <- 0L until 96L)
      yield (x * 96 + y, x, y)).toDF("id", "x", "y")
    def clusterCost(curve: String): (Double, Set[String]) = {
      val t = GraftTable.create(spark, tmp(s"hilbert-$curve"),
        grid.repartitionByRange(8, col("id")))
      t.setProperty(GraftTable.OptimizeCurveProp, curve)
      t.optimizeZOrder(Seq("x", "y"), nFiles = 16)
      // locality metric: Σ over files of the normalized (x-range +
      // y-range) each file's footer covers — smaller = tighter files =
      // more pruning for predicates on either column
      val cost = t.current.files.map { f =>
        val sx = f.stats("x"); val sy = f.stats("y")
        (sx.max.toLong - sx.min.toLong + sy.max.toLong - sy.min.toLong) / 95.0
      }.sum
      val content = t.read().collect().map(_.toString).toSet
      (cost, content)
    }
    val (mortonCost, mortonContent) = clusterCost("morton")
    val (hilbertCost, hilbertContent) = clusterCost("hilbert")
    assert(hilbertContent === mortonContent, "clustering must never change content")
    assert(hilbertContent.size === 96 * 96)
    info(f"locality cost: morton=$mortonCost%.2f hilbert=$hilbertCost%.2f")
    assert(hilbertCost <= mortonCost,
      s"hilbert locality ($hilbertCost) must not lose to morton ($mortonCost) on a uniform grid")
    // pruning on the non-layout column still fires under hilbert
    val t = new GraftTable(tmp("hilbert-hilbert"), spark)
    val (survivors, total, _) = t.pruneFiles(col("y") >= 10L && col("y") < 20L)
    assert(total === 16 && survivors.size < total,
      s"hilbert files must stats-prune on y (${survivors.size}/$total)")
    // unknown curve refuses loudly
    t.setProperty(GraftTable.OptimizeCurveProp, "peano")
    val ex = intercept[IllegalArgumentException] { t.optimizeZOrder(Seq("x"), 4) }
    assert(ex.getMessage.contains("write.optimize.curve"))
  }

  test("deletion vectors: N point deletes merge to one bitmap per file; lifecycle-aware") {
    import spark.implicits._
    def mk(name: String) = {
      val rows = (1L to 300L).map(k => (k, k % 3, k * 1.5))
      GraftTable.create(spark, tmp(name),
        rows.toDF("k", "g", "v").repartition(col("g")), Seq("g"))
    }
    val t = mk("dv-life")
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    val model = scala.collection.mutable.Map((1L to 300L).map(k => k -> (k % 3, k * 1.5)): _*)

    // N small deletes, several hitting the SAME files
    val n = 6
    val deletedSnapIds = scala.collection.mutable.ArrayBuffer[Long]()
    (0 until n).foreach { i =>
      val ks = Seq(10L + i, 100L + i, 200L + i)
      ks.foreach(model.remove)
      t.delete(col("k").isin(ks.map(Long.box): _*))
      deletedSnapIds += t.currentId
      val got = t.read().select("k").collect().map(_.getLong(0)).toSet
      assert(got === model.keySet.toSet, s"after dv delete $i")
    }
    val cur = t.current
    val dvEntries = cur.deleteFiles.filter(_.dv)
    assert(dvEntries.nonEmpty && cur.deleteFiles.forall(_.dv))
    // THE read-amplification invariant: every data file's live bitmap
    // is owned by exactly ONE dv entry — N delete commits never stack
    // N probe inputs per file (position-delete files would carry N
    // entries into every read's anti-join)
    val owners = dvEntries.flatMap(_.targets)
    assert(owners.distinct.size === owners.size,
      s"a data file's bitmap must live in exactly one dv entry: $owners")
    assert(cur.deletedRows === (3 * n).toLong, "merged cardinality bookkeeping must be exact")
    // the `merge-on-read` spelling writes the same merged vectors
    val tp = mk("dv-life-pos")
    tp.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    (0 until n).foreach(i => tp.delete(col("k").isin(Seq(10L + i, 100L + i, 200L + i).map(Long.box): _*)))
    val tpOwners = tp.current.deleteFiles.flatMap(_.targets)
    assert(tp.current.deleteFiles.forall(_.dv) && tpOwners.distinct.size === tpOwners.size,
      "merge-on-read must merge N commits into one bitmap per file, like dv")
    assert(tp.current.deletedRows === (3 * n).toLong)

    // time travel sees each intermediate vector state
    val mid = deletedSnapIds(2)
    assert(t.readAsOfId(mid).count() === 300L - 9L)
    // $deletes kind
    assert(t.deletesView.select("kind").collect().map(_.getString(0)).toSet === Set("dv"))

    // changelog across the last three deletes reports exactly those rows
    val cdcFrom = deletedSnapIds(2); val cdcTo = deletedSnapIds(5)
    val cdc = t.changelog(cdcFrom, cdcTo).collect()
    assert(cdc.forall(_.getAs[String]("_change_type") == "delete"))
    assert(cdc.map(_.getAs[Long]("k")).toSet ===
      (3 until 6).flatMap(i => Seq(10L + i, 100L + i, 200L + i)).toSet)

    // a MOR UPDATE's pre-image coordinates fold into the bitmaps (no
    // position entry appears), post-images append normally
    t.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    t.update(col("k") === 50L, Map("v" -> lit(-5.0)))
    model(50L) = (50L % 3, -5.0)
    assert(t.current.deleteFiles.forall(_.dv),
      s"dv-mode MOR update must not write position entries: ${t.current.deleteFiles}")
    assert(t.read().filter(col("k") === 50L).select("v").head().getDouble(0) === -5.0)
    assert(t.read().count() === model.size.toLong)
    // keyed MOR MERGE (position flavor) folds its pre-images the same way
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.merge(Seq((60L, 60L % 3, -6.0), (9001L, 9001L % 3, 1.0))
      .toDF("k", "g", "v").repartition(col("g")), Seq("k"))
    model(60L) = (60L % 3, -6.0); model(9001L) = (9001L % 3, 1.0)
    assert(t.current.deleteFiles.forall(_.dv),
      s"dv-mode MOR merge must not write position entries: ${t.current.deleteFiles}")
    val ownersAfter = t.current.deleteFiles.flatMap(_.targets)
    assert(ownersAfter.distinct.size === ownersAfter.size,
      "one-owner invariant must survive update/merge dv folds")
    assert(t.read().filter(col("k") === 60L).select("v").head().getDouble(0) === -6.0)
    assert(t.read().count() === model.size.toLong)
    // equality-flavor merges still write equality entries
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    t.merge(Seq((70L, 70L % 3, -7.0)).toDF("k", "g", "v").repartition(col("g")), Seq("k"))
    model(70L) = (70L % 3, -7.0)
    assert(t.current.deleteFiles.exists(_.equalityCols.nonEmpty))
    assert(t.read().filter(col("k") === 70L).select("v").head().getDouble(0) === -7.0)
    assert(t.read().count() === model.size.toLong)

    // OPTIMIZE/applyDeletes folds vectors into rewritten files
    t.applyDeletes()
    assert(t.current.deleteFiles.isEmpty)
    assert(t.read().select("k").collect().map(_.getLong(0)).toSet === model.keySet.toSet)

    // a COW rewrite that drops every target prunes the dv entry
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    t.delete(col("k") === 20L); model.remove(20L)
    assert(t.current.deleteFiles.exists(_.dv))
    t.setProperty(GraftTable.DeleteModeProp, "copy-on-write")
    t.delete(col("k") >= 0L || col("k").isNull) // full rewrite... matches all
    assert(t.current.deleteFiles.isEmpty, "stale dv entries must prune after a full rewrite")
    assert(t.read().count() === 0L)
  }

  test("position→dv conversion: one commit swaps representations, content and counts exact") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("convert-dv"),
      (1L to 200L).map(i => (i, i % 4, i * 1.0)).toDF("k", "g", "v")
        .repartition(col("g")), Seq("g"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    t.delete(col("k") % 13 === 0)
    t.delete(col("k") === 2L)
    t.update(col("k") === 3L, Map("v" -> lit(-3.0)))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    t.merge(Seq((5L, 5L % 4, -5.0)).toDF("k", "g", "v").repartition(col("g")), Seq("k"))
    // a table written before vectors existed: one more delete as a
    // position entry, beside the vectors and the equality entry
    val legacyPred = col("k") % 17 === 1 && col("k") % 13 =!= 0
    val before = t.read().filter(!legacyPred).collect().map(_.toString).sorted.toSeq
    LegacyTable.positionDelete(spark, t, legacyPred)
    val deletedBefore = t.current.deletedRows
    val posBefore = t.current.deleteFiles.count(d => d.equalityCols.isEmpty && !d.dv)
    assert(posBefore === 1 && t.current.deleteFiles.exists(_.equalityCols.nonEmpty))
    // the read path knows vectors and equality deletes only
    for (read <- Seq[() => Any](() => t.read(), () => t.applyDeletes(),
        () => t.changelog(t.currentId - 1, t.currentId))) {
      val e = intercept[UnsupportedOperationException](read())
      assert(e.getMessage.contains("rewrite_position_delete_files"), e.getMessage)
    }
    graft.sql.GraftCatalog.register("convert_dv_t", t.root)
    val res = spark.sql(
      "CALL system.rewrite_position_delete_files(table => 'convert_dv_t')").head()
    assert(res.getString(3).contains(s"converted $posBefore"))
    val t2 = new GraftTable(t.root, spark)
    assert(t2.current.operation === "convert-deletes")
    assert(!t2.current.deleteFiles.exists(d => d.equalityCols.isEmpty && !d.dv),
      "no position entries may survive the conversion")
    assert(t2.current.deleteFiles.exists(_.dv) &&
      t2.current.deleteFiles.exists(_.equalityCols.nonEmpty),
      "dv entries replace position ones; equality entries stay")
    assert(t2.read().collect().map(_.toString).sorted.toSeq === before,
      "conversion must never change logical content")
    assert(t2.current.deletedRows === deletedBefore,
      "deletedRows accounting must be exact across the swap")
    val owners = t2.current.deleteFiles.filter(_.dv).flatMap(_.targets)
    assert(owners.distinct.size === owners.size)
    // the batch changelog across the conversion is EMPTY (data-preserving)
    assert(t2.changelog(t2.currentId - 1, t2.currentId).isEmpty,
      "conversion is data-preserving: the change feed must stay silent")
    // idempotent: a second call is a no-op commit-free
    val id = t2.currentId
    t2.convertDeletesToDv()
    assert(t2.currentId === id)
  }

  test("merge-on-read DML writes only deletion vectors under both delete-mode spellings") {
    import spark.implicits._
    for (mode <- Seq("merge-on-read", "dv")) {
      val t = GraftTable.create(spark, tmp(s"mor-one-encoding-$mode"),
        (1L to 300L).map(k => (k, k % 3, k * 1.5)).toDF("k", "g", "v")
          .repartition(col("g")), Seq("g"))
      t.setProperties(Map(GraftTable.DeleteModeProp -> mode,
        GraftTable.UpdateModeProp -> "merge-on-read",
        GraftTable.MergeModeProp -> "merge-on-read"))
      val preFiles = t.current.files.map(_.path).toSet
      val model = scala.collection.mutable.Map((1L to 300L).map(k => k -> k * 1.5): _*)
      def check(step: String): Unit = {
        val coord = t.current.deleteFiles.filter(_.equalityCols.isEmpty)
        assert(coord.nonEmpty && coord.forall(_.dv),
          s"$mode $step must write deletion vectors: ${t.current.deleteFiles}")
        val owners = coord.flatMap(_.targets)
        assert(owners.distinct.size === owners.size, s"$mode $step: one owner per file")
        assert(preFiles.subsetOf(t.current.files.map(_.path).toSet),
          s"$mode $step must not rewrite data files")
        assert(t.read().select("k", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
          === model.toMap, s"$mode $step content")
      }
      t.delete(col("k") % 7 === 0)
      model.filterInPlace((k, _) => k % 7 != 0)
      check("DELETE")
      t.update(col("k") % 11 === 0, Map("v" -> lit(-1.0)))
      model.keys.toSeq.filter(_ % 11 == 0).foreach(model(_) = -1.0)
      check("UPDATE")
      t.merge(Seq((12L, 0L, -2.0), (9001L, 9001L % 3, 1.0)).toDF("k", "g", "v"), Seq("k"))
      model(12L) = -2.0; model(9001L) = 1.0
      check("MERGE")
      t.mergeDelete(Seq(13L, 9001L).toDF("k"), Seq("k"))
      model.remove(13L); model.remove(9001L)
      check("merge-delete")
      // no (file_name, row_index) position parquet was written anywhere
      // under the table root: every delete parquet is a bitmap file
      import scala.jdk.CollectionConverters._
      val delParquets = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "deletes"))
        .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
      assert(delParquets.nonEmpty)
      delParquets.foreach(p => assert(
        spark.read.parquet(p).columns.toSeq === Seq("file_name", "dv", "rows"), p))
    }
  }

  test("changelog keeps a user column named _change_type: the change kind gets a fresh name") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("changelog-collide"),
      (1L to 20L).map(k => (k, s"user$k")).toDF("k", "_change_type").coalesce(1))
    val from = t.currentId
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("k") === 3L) // merge-on-read: the deletion-vector branch
    val mid = t.currentId
    t.unsetProperty(GraftTable.DeleteModeProp)
    t.update(col("k") === 5L, Map("_change_type" -> lit("edited"))) // file-diff branch
    def rows(a: Long, b: Long) = {
      val cl = t.changelog(a, b)
      assert(cl.columns.toSeq === Seq("k", "_change_type", "_change_type1"))
      cl.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    }
    assert(rows(from, mid) === Set((3L, "user3", "delete")))
    assert(rows(mid, t.currentId) ===
      Set((5L, "user5", "delete"), (5L, "edited", "insert")))
  }

  private def changeRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted

  test("changelog over an append-only window: the added rows, same multiset as the row-level path") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("changelog-appendonly"),
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").repartition(2))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    t.delete(col("k") === 3L)                  // a deletion vector
    t.mergeDelete(Seq(7L).toDF("k"), Seq("k")) // an equality entry
    val from = t.currentId
    assert(t.current.deleteFiles.exists(_.dv) &&
      t.current.deleteFiles.exists(_.equalityCols.nonEmpty),
      "precondition: the window starts with a dv and an equality entry live")
    // a duplicate row (multiset, not set) and the two keys the live
    // entries name: new rows, which neither entry may hide
    t.append(Seq((41L, "v41"), (42L, "v42"), (41L, "v41")).toDF("k", "v"))
    t.append(Seq((3L, "v3"), (7L, "v7")).toDF("k", "v"))
    val to = t.currentId
    assert(t.appendOnlyAdds(from, to).isDefined, "the window only appended")
    val fast = changeRows(t.changelog(from, to))
    assert(fast === changeRows(t.rowLevelChangelog(t.snapshot(from), t.snapshot(to))))
    assert(fast === Seq((3L, "v3", "insert"), (7L, "v7", "insert"),
      (41L, "v41", "insert"), (41L, "v41", "insert"), (42L, "v42", "insert")))
    assert(t.changelog(from, to).columns.toSeq === Seq("k", "v", "_change_type"))
  }

  test("changelog: windows that add a copy-on-write rewrite, a dv or an equality delete take the row-level path") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("changelog-rowlevel"),
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").repartition(2))
    // each window appends one row, then deletes row `k` by `kind`
    def window(kind: String, k: Long)(change: => Unit): Unit = {
      val a = t.currentId
      t.append(Seq((100L + a, s"n$a")).toDF("k", "v"))
      change
      val b = t.currentId
      assert(t.appendOnlyAdds(a, b).isEmpty, s"$kind window must take the row-level path")
      assert(changeRows(t.changelog(a, b)) ===
        Seq((k, s"v$k", "delete"), (100L + a, s"n$a", "insert")), kind)
    }
    window("copy-on-write", 9L)(t.delete(col("k") === 9L))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    window("deletion-vector", 3L)(t.delete(col("k") === 3L))
    window("equality", 5L)(t.mergeDelete(Seq(5L).toDF("k"), Seq("k")))
  }

  test("adopted TIMESTAMP_MILLIS parquet records no long stats: pruning and meta-agg stay exact") {
    import spark.implicits._
    val root = tmp("adopt-millis")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-06-15 12:30:00")),
      (3L, java.sql.Timestamp.valueOf("2024-12-31 23:59:59"))).toDF("id", "ts")
    val TsTypeKey = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(TsTypeKey)
    spark.conf.set(TsTypeKey, "TIMESTAMP_MILLIS")
    try df.coalesce(1).write.mode("overwrite").parquet(s"$root/data")
    finally prev match {
      case Some(v) => spark.conf.set(TsTypeKey, v)
      case None    => spark.conf.unset(TsTypeKey)
    }
    val t = GraftTable.adopt(spark, root)
    // the millis-long stat domain is NOT Spark's epoch-micros: harvest
    // must record NO stat for ts (a "long" stat would mis-prune by 1000×)
    assert(t.current.files.forall(!_.stats.contains("ts")),
      "millis-annotated timestamp column must not carry a long footer stat")
    assert(t.current.files.forall(_.stats.contains("id")),
      "plain int64 columns still harvest stats")
    graft.sql.GraftCatalog.register("adopt_millis", t.root)
    // meta-agg on ts bails to the scan and answers exactly
    metaAggBoth("SELECT min(ts) AS t0, max(ts) AS t1 FROM adopt_millis", expectMeta = false)
    // stats pruning cannot drop the file for a predicate its (absent)
    // stats can't decide: a mid-2024 filter still reads the one file
    assert(t.scan(col("ts") >= java.sql.Timestamp.valueOf("2024-06-01 00:00:00")).count() === 2)
    // and graft's OWN micros writes keep harvesting ts stats as before
    val t2 = GraftTable.create(spark, tmp("micros-own"), df)
    assert(t2.current.files.forall(_.stats.contains("ts")))
  }

  test("rollback across a partition-spec change restores the target's spec and reads its rows") {
    import spark.implicits._
    val rows = (1L to 6L).map(k => (k, k % 2, k * 1.5))
    val t = GraftTable.create(spark, tmp("rollback-spec"),
      rows.toDF("k", "g", "v").repartition(col("g")), Seq("g"))
    t.repartitionSpec(Seq.empty)
    assert(t.current.partitionCols.isEmpty)
    t.rollback(1)
    assert(t.current.partitionCols === Seq("g"))
    assert(t.read().select("k", "g", "v").as[(Long, Long, Double)].collect().sorted.toSeq
      === rows)
  }

  test("publish and fastForward run the retention dial: a keep-2 table keeps 2 snapshots") {
    import spark.implicits._
    def rows(ks: Seq[Long]) = ks.map(k => (k, k * 1.5)).toDF("k", "v").coalesce(1)
    val wap = GraftTable.create(spark, tmp("keep2-publish"), rows(Seq(1L, 2L)))
    wap.setProperty(GraftTable.MaxSnapshotsProp, "2")
    (1 to 4).foreach(i => wap.publish(wap.stageAppend(rows(Seq(10L + i)))))
    assert(wap.snapshotIds.size <= 2, s"snapshots ${wap.snapshotIds}")
    assert(wap.read().count() === 6L)

    val br = GraftTable.create(spark, tmp("keep2-ff"), rows(Seq(1L, 2L)))
    br.setProperty(GraftTable.MaxSnapshotsProp, "2")
    br.branch("dev")
    (1 to 3).foreach(i => br.appendToBranch("dev", rows(Seq(10L + i))))
    br.fastForward("dev")
    // the branch head is the current snapshot: nothing else is pinned
    assert(br.snapshotIds.size <= 2, s"snapshots ${br.snapshotIds}")
    assert(br.read().count() === 5L)

    val txn = Seq("a", "b").map { n =>
      val t = GraftTable.create(spark, tmp(s"keep2-txn-$n"), rows(Seq(1L, 2L)))
      t.setProperty(GraftTable.MaxSnapshotsProp, "2")
    }
    (1 to 3).foreach(i => graft.lake.GraftTxn.publishStaged(spark,
      txn.map(t => t -> t.stageAppend(rows(Seq(10L + i))))))
    txn.foreach { t =>
      assert(t.snapshotIds.size <= 2, s"${t.root}: snapshots ${t.snapshotIds}")
      assert(t.read().count() === 5L)
    }
  }

  test("changelog: a vector and an equality delete of one key in one window is one delete") {
    import spark.implicits._
    import graft.lake.MatView
    import graft.lake.MatView.AggSpec
    val t = GraftTable.create(spark, tmp("changelog-dv-eq"),
      (1L to 8L).map(k => (k, k % 2, s"v$k")).toDF("k", "g", "v").coalesce(1))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    MatView.create(spark, tmp("changelog-dv-eq-mv"), t, Seq("g"), Seq(AggSpec("n", "count", "")))
    val from = t.currentId
    t.delete(col("k") === 5L)                      // a deletion vector
    t.mergeDelete(Seq(5L, 6L).toDF("k"), Seq("k")) // an equality entry naming k = 5 again
    val to = t.currentId
    assert(t.current.deleteFiles.exists(_.dv) &&
      t.current.deleteFiles.exists(_.equalityCols.nonEmpty),
      "precondition: the window adds a vector and an equality entry")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    val cl = rows(t.changelog(from, to))
    assert(cl === Seq((5L, "v5", "delete"), (6L, "v6", "delete")))
    graft.sql.GraftCatalog.register("changelog_dv_eq", t.root)
    assert(rows(spark.sql(
      s"CHANGES BETWEEN $from AND $to SELECT * FROM changelog_dv_eq")) === cl)
    MatView.refresh(spark, tmp("changelog-dv-eq-mv"))
    val mv = new GraftTable(tmp("changelog-dv-eq-mv"), spark).read()
    val rec = MatView.recompute(spark, tmp("changelog-dv-eq-mv"))
    assert(mv.exceptAll(rec).isEmpty && rec.exceptAll(mv).isEmpty,
      s"refresh ${mv.collect().toSeq} vs recompute ${rec.collect().toSeq}")
  }

  test("overlapping graft writes on one session restore the caller's parquet timestamp type") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 4).foreach { round =>
      val writes = (1 to 3).map(i => Future {
        GraftTable.create(spark, tmp(s"ts-type-overlap-$round-$i"),
          (1L to (20L * i)).map(k => (k, s"v$k")).toDF("k", "v").repartition(i))
      })
      Await.result(Future.sequence(writes), 5.minutes)
      assert(spark.conf.getOption(key) === before, s"round $round left $key changed")
    } finally pool.shutdown()
  }
}
