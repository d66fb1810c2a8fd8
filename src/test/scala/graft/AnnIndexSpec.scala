package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.lake.GraftTable
import graft.pipeline.{AnnIndex, VectorOps}

/** C76 persisted ANN index: the build/query lifecycle contract.
  * The load-bearing assertions, in order:
  *  1. query runs launch ZERO build/encode jobs (job-group marker);
  *  2. queries are pure reads — no index-table snapshot moves;
  *  3. the answer quality matches the in-call C42 contract
  *     (dominance + completeness + recall floor vs brute force);
  *  4. append is O(delta): frozen books, untouched existing files,
  *     exactly-delta new rows, and the delta is immediately findable.
  */
class AnnIndexSpec extends SparkSpec {

  private val root = "/root/repo/target/laketest/annindex-spec"

  private def corpus = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def queriesDf = corpus
    .filter(col("vec_id") < VectorOps.NQueries)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private def snapIds = (
    new GraftTable(s"$root/books", spark).currentId,
    new GraftTable(s"$root/codes", spark).currentId)

  test("build/query split: queries launch zero training or encode jobs and move no snapshot") {
    val buildJobs = new AtomicInteger(0)
    val queryPhaseBuildJobs = new AtomicInteger(0)
    val inQueryPhase = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == AnnIndex.BuildGroup) {
          buildJobs.incrementAndGet()
          if (inQueryPhase.get()) queryPhaseBuildJobs.incrementAndGet()
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      AnnIndex.build(spark, corpus, root)
      Thread.sleep(500)
      assert(buildJobs.get() > 0, "build must run training/encode jobs")
      val builtSnaps = snapIds

      inQueryPhase.set(true)
      val r1 = AnnIndex.query(spark, root, corpus, queriesDf,
        VectorOps.NQueries.toLong).collect()
      val r2 = AnnIndex.query(spark, root, corpus, queriesDf,
        VectorOps.NQueries.toLong).collect()
      Thread.sleep(500)
      assert(queryPhaseBuildJobs.get() === 0,
        "query runs must launch ZERO training/encode jobs")
      assert(snapIds === builtSnaps, "queries must not commit to the index tables")
      assert(r1.map(_.toString).toSeq === r2.map(_.toString).toSeq,
        "same index + same queries => identical answers")

      // quality: the C42 contract vs brute force on the same corpus
      val exact = VectorOps.annBruteforce(spark, sfDir).collect()
      val exactByQr = exact.map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Double]("cos_sim")).toMap
      assert(r1.length === VectorOps.NQueries * VectorOps.TopK, "completeness")
      r1.foreach { r =>
        val bf = exactByQr((r.getAs[Long]("query_id"), r.getAs[Long]("rank")))
        assert(r.getAs[Double]("cos_sim") <= bf + 1e-9,
          s"dominance: approx cos must never beat exact at the same rank ($r vs $bf)")
      }
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val recall = r1.map(key).toSet.intersect(exact.map(key).toSet).size.toDouble / exact.length
      assert(recall >= 0.5, s"persisted-index recall $recall below the C42 floor")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("append is O(delta): frozen books, existing files untouched, delta immediately findable") {
    AnnIndex.build(spark, corpus, root)
    val codesT = new GraftTable(s"$root/codes", spark)
    val booksId = new GraftTable(s"$root/books", spark).currentId
    val preFiles = codesT.current.files.map(f => f.path -> f.rows).toMap
    val preRows = codesT.current.files.map(_.rows).sum

    // delta: near-copies of two corpus vectors under fresh high ids
    // (the planted-corpus trick — last dims zeroed, cos ≈ 0.9+)
    val delta = plantedRows(500000000L, 2)
    val nDelta = delta.count()
    AnnIndex.append(spark, delta, root)

    val t2 = new GraftTable(s"$root/codes", spark)
    assert(new GraftTable(s"$root/books", spark).currentId === booksId,
      "append must never retrain: the books table is frozen")
    assert(t2.current.operation === "append")
    val postFiles = t2.current.files.map(f => f.path -> f.rows).toMap
    preFiles.foreach { case (p, n) =>
      assert(postFiles.get(p).contains(n), s"existing index file $p must be untouched") }
    assert(postFiles.values.sum === preRows + nDelta,
      "append must add exactly the delta's rows")

    // the appended vectors are immediately findable: querying each
    // planted copy must surface its original as a high-cos neighbor
    val extended = corpus.unionByName(delta)
    val got = AnnIndex.query(spark, root, extended,
      delta.select(col("vec_id").as("query_id"), col("embedding")), nDelta)
      .collect()
    (0 until 2).foreach { i =>
      val hits = got.filter(r => r.getAs[Long]("query_id") == 500000000L + i)
        .map(r => r.getAs[Long]("neighbor_id"))
      assert(hits.contains(i.toLong),
        s"planted near-copy of vec $i must retrieve its original, got ${hits.toSeq}")
    }
  }

  test("lake-maintained index: sync encodes only the A27 snapshot delta; rewrites refuse") {
    import org.apache.spark.sql.functions.{array, concat, lit, slice}
    val corpusRoot = "/root/repo/target/laketest/annindex-corpus"
    val t = GraftTable.create(spark, corpusRoot, corpus)
    AnnIndex.buildFromTable(spark, t, root)
    val codesT = new GraftTable(s"$root/codes", spark)
    assert(codesT.properties(AnnIndex.SyncedSnapshotProp).toLong === t.currentId)
    val preFiles = codesT.current.files.map(_.path).toSet
    val preRows = codesT.current.files.map(_.rows).sum

    // no-op sync: nothing new, zero encode, watermark unchanged
    assert(AnnIndex.sync(spark, t, root) === 0L)
    assert(new GraftTable(s"$root/codes", spark).current.files.map(_.path).toSet === preFiles)

    // two appends, one sync: exactly the delta encodes
    t.append(plantedRows(600000000L, 2))
    t.append(plantedRows(700000000L, 1))
    val n = AnnIndex.sync(spark, t, root)
    assert(n === 3L, s"sync must report the manifest delta, got $n")
    val t2 = new GraftTable(s"$root/codes", spark)
    assert(t2.properties(AnnIndex.SyncedSnapshotProp).toLong === t.currentId)
    preFiles.foreach(p => assert(t2.current.files.exists(_.path == p),
      s"sync must not touch existing index file $p"))
    assert(t2.current.files.map(_.rows).sum === preRows + 3L)
    // the synced rows are immediately findable through the index
    val got = AnnIndex.query(spark, root, t.read().select(col("vec_id"), col("embedding")),
      plantedRows(600000000L, 2).select(col("vec_id").as("query_id"), col("embedding")), 2L)
      .collect()
    (0 until 2).foreach { i =>
      assert(got.filter(_.getAs[Long]("query_id") == 600000000L + i)
        .map(_.getAs[Long]("neighbor_id")).contains(i.toLong))
    }

    // a PURE delete in the window FOLDS (the dedup shape: the corpus
    // consumer deletes rows): one keyed equality delete on the codes
    // table — zero retrain, zero rewrites of existing code files, and
    // the victim never comes back as a neighbor
    val booksIdPre = new GraftTable(s"$root/books", spark).currentId
    t.delete(col("vec_id") === 600000000L)
    assert(AnnIndex.sync(spark, t, root) === 1L)
    val t3 = new GraftTable(s"$root/codes", spark)
    assert(new GraftTable(s"$root/books", spark).currentId === booksIdPre,
      "delete-fold must never retrain")
    assert(t3.properties(AnnIndex.SyncedSnapshotProp).toLong === t.currentId)
    preFiles.foreach(p => assert(t3.current.files.exists(_.path == p),
      s"delete-fold must be zero-target-I/O, rewrote $p"))
    assert(t3.current.deleteFiles.exists(_.equalityCols == Seq("n_id")),
      "the fold must land as an equality delete (O(deletes) bytes)")
    // vec 600000000 was a planted near-copy of vec 0: querying vec 0
    // must no longer surface the deleted twin
    val ghosts = AnnIndex.query(spark, root,
        t.read().select(col("vec_id"), col("embedding")),
        corpus.filter(col("vec_id") === 0L)
          .select(col("vec_id").as("query_id"), col("embedding")), 1L)
      .collect().map(_.getAs[Long]("neighbor_id"))
    assert(!ghosts.contains(600000000L),
      s"ghost neighbor survived the delete-fold: ${ghosts.toSeq}")

    // a REWRITE (same vec_id, changed vector) still refuses: the
    // frozen-codebook index cannot re-encode in place
    t.update(col("vec_id") === 700000000L, Map("embedding" ->
      concat(slice(col("embedding"), 1, VectorOps.PlantKeepDims - 2),
        array(Seq.fill(VectorOps.EmbDim - VectorOps.PlantKeepDims + 2)(lit(0.5f)): _*))))
    val ex = intercept[IllegalArgumentException] { AnnIndex.sync(spark, t, root) }
    assert(ex.getMessage.contains("rebuild"))
  }

  private def plantedRows(offset: Long, take: Int) = corpus.filter(col("vec_id") < take)
    .select((col("vec_id") + offset).as("vec_id"),
      concat(slice(col("embedding"), 1, VectorOps.PlantKeepDims),
        array(Seq.fill(VectorOps.EmbDim - VectorOps.PlantKeepDims)(lit(0.0f)): _*))
        .as("embedding"))

  /** Runs `f`, counting the [[AnnIndex.BuildGroup]] jobs it launches. */
  private def buildJobsOf[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        if (Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull ==
            AnnIndex.BuildGroup) jobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      Thread.sleep(500) // job-start events reach listeners asynchronously
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("append-only sync: one job, the manifest row count, the same codes as the row-level path") {
    val corpusRoot = s"$root-appendonly-corpus"
    val t = GraftTable.create(spark, corpusRoot, corpus)
    AnnIndex.buildFromTable(spark, t, root)
    AnnIndex.load(spark, root) // the one codebook load: later syncs hit the cache
    val codesT = new GraftTable(s"$root/codes", spark)
    val (w0, codes0) = (t.currentId, codesT.currentId)
    // one micro-batch: one file, so the encoded delta is one task
    t.append(plantedRows(600000000L, 3).coalesce(1))
    assert(t.appendOnlyAdds(w0, t.currentId).map(_.map(_.rows)) === Some(Seq(3L)))
    val (n, jobs) = buildJobsOf(AnnIndex.sync(spark, t, root))
    assert(n === 3L, s"sync must report the manifest row count, got $n")
    assert(jobs === 1, s"an append-only sync is the codes write alone, ran $jobs jobs")
    assert(codesT.properties(AnnIndex.SyncedSnapshotProp).toLong === t.currentId)
    def codeRows = codesT.read().select("n_id", "cluster", "codes")
      .collect().map(_.toString).sorted.toSeq
    val fast = codeRows
    assert(fast.size === codesT.snapshot(codes0).files.map(_.rows).sum + 3L)

    // the same window through the row-level path: reset the index to
    // before the sync, then compact the corpus — a data-preserving
    // rewrite, so the window now removes files yet nets the same inserts
    codesT.rollback(codes0)
    codesT.setProperty(AnnIndex.SyncedSnapshotProp, w0.toString)
    t.optimizeCompact(1L << 30)
    assert(t.appendOnlyAdds(w0, t.currentId).isEmpty,
      "precondition: the compacted window takes the row-level path")
    assert(AnnIndex.sync(spark, t, root) === 3L)
    assert(codeRows === fast, "both paths must encode the same codes")
  }

  test("append + copy-on-write delete window: split sync runs 4 jobs and encodes what the row-level path does") {
    val t = GraftTable.create(spark, s"$root-split-corpus", corpus)
    AnnIndex.buildFromTable(spark, t, root)
    AnnIndex.load(spark, root) // the one codebook load: later syncs hit the cache
    val codesT = new GraftTable(s"$root/codes", spark)
    val (w0, codes0) = (t.currentId, codesT.currentId)
    val victim = 7L
    // the victim's own vector, asked under another id: while indexed,
    // the victim is its nearest neighbour
    val probe = corpus.filter(col("vec_id") === victim)
      .select(lit(900000000L).as("query_id"), col("embedding"))
    def neighbours = AnnIndex.query(spark, root, corpus, probe, 1L)
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(neighbours.contains(victim), "precondition: the indexed victim is found")
    // one micro-batch (one file) and a copy-on-write delete of an older row
    t.append(plantedRows(600000000L, 3).coalesce(1))
    t.delete(col("vec_id") === victim)
    assert(t.appendDeleteSplit(w0, t.currentId, "vec_id").isDefined,
      "precondition: the window splits into appends and deletes")
    val (n, jobs) = buildJobsOf(AnnIndex.sync(spark, t, root))
    assert(n === 4L, s"sync must report 3 inserts + 1 delete, got $n")
    assert(jobs === 4, s"a split sync is the delete-file write and the codes write, ran $jobs jobs")
    assert(codesT.properties(AnnIndex.SyncedSnapshotProp).toLong === t.currentId)
    assert(!neighbours.contains(victim), "the deleted victim came back as a neighbour")
    def codeRows = codesT.read().select("n_id", "cluster", "codes")
      .collect().map(_.toString).sorted.toSeq
    val split = codeRows
    assert(split.size === codesT.snapshot(codes0).files.map(_.rows).sum + 3L - 1L)

    // the same window through the row-level path (see the append-only test)
    codesT.rollback(codes0)
    codesT.setProperty(AnnIndex.SyncedSnapshotProp, w0.toString)
    t.optimizeCompact(1L << 30)
    assert(t.appendDeleteSplit(w0, t.currentId, "vec_id").isEmpty,
      "precondition: the compacted window takes the row-level path")
    assert(AnnIndex.sync(spark, t, root) === 4L)
    assert(codeRows === split, "both paths must leave the same live codes")
  }

  test("windows that do not split take the row-level path: overlapping keys refuse, merge-on-read deletes fold") {
    val t = GraftTable.create(spark, s"$root-nosplit-corpus", corpus)
    AnnIndex.buildFromTable(spark, t, root)
    val codesT = new GraftTable(s"$root/codes", spark)
    // delete row 0, then append a new row 0: the appended key range
    // overlaps the removed file's, and the window rewrites vector 0
    t.delete(col("vec_id") === 0L)
    t.append(plantedRows(0L, 1))
    val w = t.currentId
    assert(t.appendDeleteSplit(codesT.properties(AnnIndex.SyncedSnapshotProp).toLong, w,
      "vec_id").isEmpty, "precondition: overlapping key ranges do not split")
    val ex = intercept[IllegalArgumentException] { AnnIndex.sync(spark, t, root) }
    assert(ex.getMessage.contains("rebuild"))

    // a merge-on-read delete adds a delete entry: the row-level path
    // folds it with the window's append
    val u = GraftTable.create(spark, s"$root-mor-corpus", corpus)
    u.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    AnnIndex.buildFromTable(spark, u, root)
    val w0 = u.currentId
    u.append(plantedRows(600000000L, 2).coalesce(1))
    u.delete(col("vec_id") === 9L)
    assert(u.current.deleteFiles.nonEmpty && u.appendDeleteSplit(w0, u.currentId, "vec_id").isEmpty,
      "precondition: a merge-on-read delete does not split")
    assert(AnnIndex.sync(spark, u, root) === 3L)
    assert(codesT.properties(AnnIndex.SyncedSnapshotProp).toLong === u.currentId)
    assert(codesT.read().filter(col("n_id") === 9L).count() === 0L)
    assert(codesT.read().count() === u.read().count())
  }

  test("a rebuild at the same root replaces the cached quantizers") {
    def tableCents = new GraftTable(s"$root/books", spark).read()
      .filter(col("kind") === "centroid").orderBy(col("cluster"))
      .select(col("vec")).collect().map(_.getSeq[Double](0)).toSeq
    AnnIndex.build(spark, corpus, root)
    val booksId = new GraftTable(s"$root/books", spark).currentId
    val stale = AnnIndex.load(spark, root).cents.map(_.toSeq).toSeq
    assert(stale === tableCents)
    // a different training corpus trains different centroids
    AnnIndex.build(spark, corpus.filter(col("vec_id") % 2 === 0), root)
    assert(new GraftTable(s"$root/books", spark).currentId === booksId,
      "precondition: the rebuilt books table reuses the snapshot id")
    assert(tableCents !== stale, "precondition: the rebuild trained new centroids")
    // query loads its quantizers through load
    assert(AnnIndex.load(spark, root).cents.map(_.toSeq).toSeq === tableCents,
      "a rebuilt index must not serve the previous build's quantizers")
  }

  /** The IvfProbes lists one query probes — [[AnnIndex.query]]'s probe
    * step, re-derived from the loaded centroids.
    */
  private def probedLists(oneQuery: org.apache.spark.sql.DataFrame): Set[Int] = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val qz = AnnIndex.load(spark, root)
    val centsDf = qz.cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toSeq.toDF("cluster", "c_emb")
    val w = Window.partitionBy(col("query_id")).orderBy(col("c_dot").desc, col("cluster"))
    oneQuery.crossJoin(centsDf)
      .withColumn("c_dot", graft.functions.exprs.cosineSimFD(col("embedding"), col("c_emb")))
      .withColumn("prn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("prn") <= VectorOps.IvfProbes)
      .select("cluster").collect().map(_.getInt(0)).toSet
  }

  test("probing IS partition pruning: a single query's scan plans only its nprobe lists' files") {
    AnnIndex.build(spark, corpus, root)
    val codesT = new GraftTable(s"$root/codes", spark)
    val nFiles = codesT.current.files.size
    assert(nFiles > VectorOps.IvfProbes,
      s"precondition: more list files ($nFiles) than probes (${VectorOps.IvfProbes})")
    // one query probes IvfProbes of the nlist clusters — the codes
    // scan must plan at most that many files. The build writes each
    // file over a disjoint cluster range, so the manifest's cluster
    // min/max stats do the list selection (the A59 sort-order pruning;
    // the test's name keeps the earlier cluster-partitioned layout's)
    val oneQuery = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = AnnIndex.query(spark, root, corpus, oneQuery, 1L).collect()
    assert(got.length === VectorOps.TopK)
    // re-derive the probed set and check the pruned file plan directly
    val probed = probedLists(oneQuery)
    assert(probed.size === VectorOps.IvfProbes)
    val (survivors, total, _) = codesT.pruneFiles(
      col("cluster").isin(probed.toSeq.map(Int.box): _*))
    assert(total === nFiles && survivors.size <= VectorOps.IvfProbes,
      s"codes scan must prune to the probed lists: ${survivors.size}/$total")
  }

  test("cluster-sorted codes: an append-only sync adds one file; a query plans <= nprobe base files plus the sync files") {
    val t = GraftTable.create(spark, s"$root-sorted-corpus", corpus)
    AnnIndex.buildFromTable(spark, t, root)
    val codesT = new GraftTable(s"$root/codes", spark)
    assert(codesT.current.partitionCols.isEmpty &&
      codesT.properties.get(GraftTable.SortColsProp).contains("cluster"),
      "codes keeps its lists by sort order, not by partition directory")
    val base = codesT.current.files.map(_.path).toSet
    // two micro-batches, two syncs: each delta spans several lists,
    // yet adds one sorted file (the delta runs as one task)
    val synced = Seq(600000000L, 700000000L).map { off =>
      val pre = codesT.current.files.map(_.path).toSet
      t.append(plantedRows(off, 6).coalesce(1))
      assert(AnnIndex.sync(spark, t, root) === 6L)
      val lists = codesT.read().filter(col("n_id") >= off && col("n_id") < off + 6)
        .select("cluster").distinct().count()
      assert(lists > 1L, s"precondition: the delta spans several lists, got $lists")
      val added = codesT.current.files.filterNot(f => pre.contains(f.path))
      assert(added.size === 1, s"an append-only sync must add one codes file, added ${added.size}")
      assert(added.head.rows === 6L)
      added.head.path
    }
    val oneQuery = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val (survivors, total, _) = codesT.pruneFiles(
      col("cluster").isin(probedLists(oneQuery).toSeq.map(Int.box): _*))
    assert(total === base.size + synced.size)
    val baseSurvivors = survivors.count(f => base.contains(f.path))
    assert(baseSurvivors <= VectorOps.IvfProbes && survivors.size <= VectorOps.IvfProbes + synced.size,
      s"a query must plan <= ${VectorOps.IvfProbes} base files plus the sync files: " +
        s"$baseSurvivors base of ${survivors.size} planned")
  }

  test("an index written with the cluster-partitioned codes layout still syncs and answers") {
    val t = GraftTable.create(spark, s"$root-legacy-corpus", corpus)
    AnnIndex.buildFromTable(spark, t, root)
    // the same index in the earlier layout: identical books, the same
    // codes rows partitioned by cluster, the same properties
    val legacy = s"$root-legacy"
    val codesT = new GraftTable(s"$root/codes", spark)
    GraftTable.create(spark, s"$legacy/books", new GraftTable(s"$root/books", spark).read())
    val staged = GraftTable.create(spark, s"$legacy-stage", codesT.read())
    val legacyCodes = GraftTable.create(spark, s"$legacy/codes",
      staged.read().repartition(col("cluster")), Seq("cluster"))
    legacyCodes.setProperties(codesT.properties - GraftTable.SortColsProp)
    assert(legacyCodes.current.partitionCols === Seq("cluster"))
    // an insert window, then a delete window, synced into both
    def syncBoth(): Unit = Seq(root, legacy).foreach(r => AnnIndex.sync(spark, t, r))
    t.append(plantedRows(600000000L, 2))
    syncBoth()
    t.delete(col("vec_id") === 600000000L)
    syncBoth()
    def codeRows(r: String) = new GraftTable(s"$r/codes", spark).read()
      .select("n_id", "cluster", "codes").collect().map(_.toString).sorted.toSeq
    assert(codeRows(legacy) === codeRows(root), "both layouts must hold the same live codes")
    assert(new GraftTable(s"$legacy/codes", spark).current.files
      .forall(_.partition.contains("cluster")), "legacy syncs keep writing cluster partitions")
    // the same quantizers over the same codes answer identically, and
    // the surviving planted copy finds its original
    val live = t.read().select(col("vec_id"), col("embedding"))
    val qs = plantedRows(600000000L, 2).filter(col("vec_id") =!= 600000000L)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .unionByName(queriesDf.filter(col("query_id") < 3L))
    def answers(r: String) = AnnIndex.query(spark, r, live, qs, 4L)
      .collect().map(_.toString).toSeq
    val got = answers(legacy)
    assert(got === answers(root), "the partitioned layout must answer like the sorted one")
    assert(got.exists(_.startsWith("[600000001,1,")),
      s"the synced planted copy must retrieve its original: $got")
    assert(!got.exists(_.contains(",600000000,")), s"deleted vector surfaced: $got")
  }

  test("driver entries: persisted results well-formed; check twin green") {
    val df = AnnIndex.annIvfPqPersisted(spark, sfDir)
    assert(df.columns.toSeq === Seq("query_id", "neighbor_id", "cos_sim", "rank"))
    assert(df.count() === VectorOps.NQueries.toLong * VectorOps.TopK)
    val chk = AnnIndex.annIvfPqPersistedCheck(spark, sfDir).collect().head
    assert(chk.getLong(0) === 0L && chk.getLong(1) === 0L,
      s"check twin must be green, got $chk")
  }

  test("index-composed hard-negative mining: invariants hold and recall >= 0.9 vs the exact miner") {
    val idx = AnnIndex.mineHardNegativesIndexed(spark, sfDir).collect()
    val exact = VectorOps.mineHardNegatives(spark, sfDir).collect()
    // every returned negative sits strictly below the near-dup ceiling
    idx.foreach(r => assert(r.getAs[Double]("cos_sim") < VectorOps.HardNegCeil,
      s"negative at/above the ceiling: $r"))
    // rank-dominance: the exact miner picks from the FULL corpus, so
    // the indexed miner's cosine can never exceed it at the same rank
    val exactByAr = exact.map(r =>
      (r.getAs[Long]("anchor_id"), r.getAs[Long]("rank")) -> r.getAs[Double]("cos_sim")).toMap
    idx.foreach { r =>
      val x = exactByAr((r.getAs[Long]("anchor_id"), r.getAs[Long]("rank")))
      assert(r.getAs[Double]("cos_sim") <= x + 1e-9,
        s"dominance: indexed cos must never beat exact at the same rank ($r vs $x)")
    }
    assert(idx.length === exact.length, "completeness: full k per anchor")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("anchor_id"), r.getAs[Long]("negative_id"))
    val recall = idx.map(key).toSet.intersect(exact.map(key).toSet)
      .size.toDouble / exact.length
    assert(recall >= 0.9, s"indexed-miner recall $recall below 0.9 vs the exact miner")
    // the check twin reports the same invariants as driver-oracled zeros
    val chk = AnnIndex.mineHardNegativesIndexedCheck(spark, sfDir).collect().head
    assert((0 to 2).forall(chk.getLong(_) == 0L), s"check twin must be green, got $chk")
  }

  test("build: a failing codes write joins the books thread before it propagates") {
    val failRoot = s"$root-failcodes"
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[FailingCodesWriteFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val err =
      try intercept[java.io.IOException](AnnIndex.build(spark, corpus, failRoot))
      finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    assert(err.getMessage.contains(FailingCodesWriteFs.Marker))
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(th =>
        th.getName == "graft-ann-books-write" && th.isAlive),
      "the books writer must not outlive a failed build")
    assert(new GraftTable(s"$failRoot/books", spark).read().count() > 0,
      "the books commit the failed build waited for is complete")
  }
}

/** Local file system that refuses to create the codes table of an
  * index rooted at `…-failcodes`: a planted codes-write failure for
  * [[AnnIndex.build]], while every other path (the books table
  * included) behaves normally.
  */
class FailingCodesWriteFs extends org.apache.hadoop.fs.LocalFileSystem {
  private def check(f: org.apache.hadoop.fs.Path): Unit =
    if (f.toString.endsWith("-failcodes/codes"))
      throw new java.io.IOException(s"${FailingCodesWriteFs.Marker}: $f")
  override def mkdirs(f: org.apache.hadoop.fs.Path): Boolean = { check(f); super.mkdirs(f) }
  override def mkdirs(f: org.apache.hadoop.fs.Path,
      p: org.apache.hadoop.fs.permission.FsPermission): Boolean = { check(f); super.mkdirs(f, p) }
}

object FailingCodesWriteFs {
  val Marker = "planted codes-write failure"
}
