package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.exprs
import graft.lake.{GraftTable, Snapshot}

/** Persisted IVFPQ ANN index (SURVEY.md §2.C76) — the build/query
  * lifecycle split the in-call family (C13/C26/C42/C55) deliberately
  * lacks. The in-call variants re-train quantizers and re-encode the
  * corpus on every invocation; at 100 TB the encode pass is a batch
  * job to amortize, so here it becomes one:
  *
  *  - [[build]] trains the coarse quantizer + per-list residual PQ
  *    codebooks (the exact C42 training path, [[VectorOps.pqBooks]] /
  *    [[VectorOps.pqBooksPerList]]) and commits TWO graft lake tables
  *    under the index root: `books` (the nlist×(1+M·K) codebook rows,
  *    KBs at any corpus size) and `codes` (one row per corpus vector:
  *    cluster id + M nibble codes, SORTED BY cluster — the table's
  *    `write.sort.columns` — so every codes file covers a narrow
  *    cluster range and probing is manifest min/max pruning, the A59
  *    machinery, at one file per write task instead of one per list).
  *  - [[query]] answers a query batch from the persisted tables alone:
  *    one bounded codebook load (≤ nlist·(1+M·K) rows by construction,
  *    the adjudicated k×dim-collect class), probe → per-(query,list)
  *    ADC LUTs → codegen'd ADC scan over ONLY the files whose cluster
  *    range holds a probed list → exact top-50 rerank against the
  *    corpus. Zero training or encode jobs — the spec pins this via
  *    the [[BuildGroup]] job-group marker.
  *  - [[append]] extends the index for new corpus rows at O(delta):
  *    assign + encode the delta against the FROZEN codebooks (narrow
  *    maps over the delta only) and lake-append into `codes` — the A27
  *    incremental shape; existing files are untouched, and the delta
  *    adds one cluster-sorted file per write task.
  *
  * Indexes written with the earlier layout — `codes` PARTITIONED BY
  * cluster, one file per list per write — read and sync through the
  * same code: the probe filter prunes them by partition value.
  *
  * Trade recorded: appended vectors are quantized under codebooks
  * trained before they arrived (standard FAISS practice — recall on
  * the delta degrades only if its distribution drifts from the build
  * corpus; the C64 drift monitor is the detector, and a periodic
  * [[build]] is the re-train).
  *
  * Reference scope: the reference engine has no vector surface at all
  * (hbutani/icebergSQL manages tables); this is part of the mandated
  * LLM-pipeline layer, composed from the same lake control plane
  * (`GraftTable`) the A-block is built on.
  */
object AnnIndex {

  /** Job-group id set around every build/append job — the spec's
    * handle for asserting query runs launch ZERO training/encode work.
    */
  val BuildGroup = "graft-ann-index-build"
  val QueryGroup = "graft-ann-index-query"

  import VectorOps.{EmbDim, IvfLists, IvfProbes, NQueries, PqK, PqM, TopK}

  private def booksRoot(indexRoot: String) = s"$indexRoot/books"
  private def codesRoot(indexRoot: String) = s"$indexRoot/codes"

  /** The frozen quantizers, loaded from the `books` table. */
  final case class Quantizers(
      cents: Array[Array[Double]],
      books: Array[Array[Array[Array[Double]]]])

  private def inGroup[A](s: SparkSession, group: String, desc: String)(f: => A): A = {
    s.sparkContext.setJobGroup(group, desc, interruptOnCancel = false)
    try f finally s.sparkContext.clearJobGroup()
  }

  /** Train quantizers on `corpus` (vec_id, embedding) and commit the
    * index tables under `indexRoot`. The training path is C42's
    * verbatim: capped deterministic sample, coarse k-means, shared
    * residual PQ books, one per-list refinement pass. The corpus pays
    * exactly ONE full encode pass (cluster assignment + residual +
    * per-list codes, all codegen'd narrow maps) — the pass [[query]]
    * never repeats.
    */
  def build(s: SparkSession, corpus: DataFrame, indexRoot: String): Unit =
    build(s, corpus, indexRoot, Map.empty)

  /** [[build]] with `props` riding the codes table's property commit. */
  private def build(s: SparkSession, corpus: DataFrame, indexRoot: String,
      props: Map[String, String]): Unit =
    inGroup(s, BuildGroup, s"ANN index build -> $indexRoot") {
      val all = corpus.select(col("vec_id"), col("embedding"))
      val train = VectorOps.trainSample(all)
      val cents = VectorOps.ivfCentroids(all, train)
      def clustered(df: DataFrame): DataFrame =
        df.withColumn("cluster", exprs.nearestCentroid(col("embedding"), cents))
      def residualized(df: DataFrame): DataFrame =
        df.withColumn("embedding", exprs.centroidResidual(col("embedding"), cents))
      val pqAll = residualized(clustered(all))
      val pqTrain = residualized(clustered(train))
      val shared = VectorOps.pqBooks(pqAll, pqTrain)
      val books = VectorOps.pqBooksPerList(pqTrain, shared)

      // books table: centroid rows (m = code = -1) + per-list PQ rows —
      // nlist·(1 + M·K) rows total, constant in the corpus size
      import s.implicits._
      val rows =
        cents.indices.map(c => ("centroid", c, -1, -1, cents(c).toSeq)) ++
          books.indices.flatMap(c => (0 until PqM).flatMap(m => (0 until PqK).map(k =>
            ("pq", c, m, k, books(c)(m)(k).toSeq))))
      // the two index tables are independent once the codebooks are
      // trained — overlap the (driver-light) books write with the
      // corpus encode+write from a second thread, so the encode's task
      // tail back-fills while the books commit runs (guide §2.6).
      // Job-group/description are thread-local: re-tag inside the
      // thread so the BuildGroup marker the specs pin stays intact.
      val booksThread = new Thread(() => {
        s.sparkContext.setJobGroup(BuildGroup,
          s"ANN index build (books) -> $indexRoot", interruptOnCancel = false)
        GraftTable.create(s, booksRoot(indexRoot),
          rows.toDF("kind", "cluster", "m", "code", "vec").coalesce(1))
        ()
      }, "graft-ann-books-write")
      booksThread.setDaemon(true)
      val booksFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      booksThread.setUncaughtExceptionHandler((_, e) => booksFailure.set(e))
      booksThread.start()

      def rethrowBooksFailure(): Unit = Option(booksFailure.get()).foreach(e => throw e)

      // codes table: the compressed corpus, range-distributed on
      // cluster so each file holds a disjoint cluster range (about one
      // file per list) and later appends keep the order through
      // `write.sort.columns`. A failed codes write still waits for the
      // books thread, so no orphaned writer keeps committing after
      // build returns.
      val codes = encodeWith(pqAll, books)
      rethrowBooksFailure()
      try GraftTable.create(s, codesRoot(indexRoot), codes
          .repartitionByRange(cents.length, col("cluster"))
          .sortWithinPartitions(col("cluster")))
          .setProperties(Map(GraftTable.SortColsProp -> "cluster") ++ props)
      finally booksThread.join()
      rethrowBooksFailure()
    }

  /** Encode already-clustered residual rows against per-list books —
    * the one narrow map both [[build]] and [[append]] share.
    * Input: (vec_id, embedding = residual, cluster).
    */
  private def encodeWith(pqRows: DataFrame,
      books: Array[Array[Array[Array[Double]]]]): DataFrame = {
    def augFor(m: Int) = books.map(b => VectorOps.pqAugBook(b(m)))
    pqRows.select(col("vec_id").as("n_id"), col("cluster"),
      array((0 until PqM).map(m => exprs.nearestCentroidBy(
        VectorOps.pqAug(col("embedding"), m), col("cluster"), augFor(m))): _*).as("codes"))
  }

  /** Quantizers loaded per (books root, books snapshot id), each kept
    * with the manifest it was loaded from. A rebuild at the same root
    * restarts the snapshot ids, and its `GraftTable.create` drops the
    * old manifest from the snapshot cache — so an entry is used only
    * while its manifest is still the cached one.
    */
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), (Snapshot, Quantizers)]()

  /** Load the frozen quantizers — one bounded collect (the books table
    * has nlist·(1+M·K) rows by construction, independent of corpus
    * size), paid once per books snapshot in this JVM: every later
    * [[sync]], [[append]] and [[query]] reads the cache.
    */
  def load(s: SparkSession, indexRoot: String): Quantizers = {
    val booksT = new GraftTable(booksRoot(indexRoot), s)
    val snap = booksT.current
    val key = (booksT.root, snap.id)
    Option(quantizerCache.get(key)) match {
      case Some((cached, q)) if cached eq snap => q
      case _ =>
        val q = loadFrom(booksT.readAsOfId(snap.id))
        quantizerCache.put(key, (snap, q))
        q
    }
  }

  private def loadFrom(booksTable: DataFrame): Quantizers = {
    val rows = booksTable
      .select(col("kind"), col("cluster"), col("m"), col("code"), col("vec"))
      .collect()
    val cents = rows.filter(_.getString(0) == "centroid")
      .sortBy(_.getInt(1))
      .map(_.getSeq[Double](4).toArray)
    val pq = rows.filter(_.getString(0) == "pq")
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getSeq[Double](4).toArray)
      .toMap
    val books = Array.tabulate(cents.length)(c =>
      Array.tabulate(PqM)(m => Array.tabulate(PqK)(k => pq((c, m, k)))))
    Quantizers(cents, books)
  }

  /** Extend the index for `delta` (vec_id, embedding) rows: assign +
    * encode against the FROZEN codebooks (narrow maps over the delta
    * only — zero training jobs, zero existing-file rewrites) and
    * lake-append into `codes`, whose sort order makes the write one
    * cluster-sorted file per task of the delta — a one-task delta sorts
    * in place, with no shuffle. O(delta) at any index size.
    */
  def append(s: SparkSession, delta: DataFrame, indexRoot: String,
      extraProps: Map[String, String] = Map.empty): Unit =
    inGroup(s, BuildGroup, s"ANN index append -> $indexRoot") {
      val q = load(s, indexRoot)
      val pqRows = delta.select(col("vec_id"), col("embedding"))
        .withColumn("cluster", exprs.nearestCentroid(col("embedding"), q.cents))
        .withColumn("embedding", exprs.centroidResidual(col("embedding"), q.cents))
      new GraftTable(codesRoot(indexRoot), s).append(encodeWith(pqRows, q.books), extraProps)
    }

  private def probeLutBytes(nq: Long): Long =
    nq * IvfProbes * (PqM.toLong * PqK * 8 + 80)
  private def candBytes(nq: Long): Long = nq * 50L * 24
  private def qBytes(nq: Long): Long = nq * (EmbDim.toLong * 4 + 32)

  /** The ADC candidate pool behind [[query]] and
    * [[mineHardNegatives]]: probe nprobe lists per query, prune the
    * codes table to the files holding the probed lists (the
    * distinct-probed-cluster pull is ≤ nlist values — bounded by the
    * index geometry, not the query volume), ADC-scan only those
    * lists' codes, return the ADC top-50 (query_id, n_id) pairs. Cost is
    * O(queries × probed-lists), never queries × corpus — the shape
    * that survives a million-query batch over a 100 TB corpus.
    */
  private def adcCandidates(s: SparkSession, indexRoot: String,
      queries: DataFrame, batchHint: Long,
      nprobe: Int = IvfProbes, pool: Int = 50): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val qz = load(s, indexRoot)
      val K = PqK

      // probes: nprobe nearest centroids per query + the raw coarse
      // dot (the additive term of the residual-ADC score)
      val centsDf = broadcast(qz.cents.zipWithIndex
        .map { case (c, i) => (i, c) }.toSeq.toDF("cluster", "c_emb"))
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("c_dot").desc, col("cluster"))
      val q = queries.select(col("query_id"), col("embedding"))
      val probes = q.crossJoin(centsDf)
        .withColumn("c_dot", exprs.cosineSimFD(col("embedding"), col("c_emb")))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= nprobe)
        .select(col("query_id"), col("cluster"),
          exprs.dotFD(col("embedding"), col("c_emb")).as("qc_dot"))

      // list pruning: the probed-list set is ≤ nlist values no matter
      // how many queries probe — collect it and push an IN filter, so
      // the lake scan plans only the files whose manifest cluster
      // min/max range holds a probed list (partition values, on an
      // index written with the cluster-partitioned layout)
      val probedClusters = probes.select(col("cluster")).distinct()
        .collect().map(_.getInt(0)).sorted
      val codesT = new GraftTable(codesRoot(indexRoot), s)
      val codes =
        if (probedClusters.length == qz.cents.length) codesT.read()
        else codesT.scan(col("cluster").isin(probedClusters.map(Int.box): _*))

      // per-(query, probed-list) ADC LUTs against the broadcast books
      val booksDf = broadcast(qz.books.indices.flatMap(c =>
        (0 until PqM).flatMap(m => (0 until K).map(k =>
          (c, m, k, qz.books(c)(m)(k))))).toDF("cluster", "m", "code", "c_sub"))
      val qsubs = q.select(col("query_id"),
        explode(array((0 until PqM).map(m => struct(
          lit(m).as("m"),
          VectorOps.pqSubvec(col("embedding"), m).cast("array<double>").as("q_sub"))): _*)).as("qs"))
        .select(col("query_id"), col("qs.m").as("m"), col("qs.q_sub").as("q_sub"))
      val luts = probes.join(qsubs, "query_id")
        .join(booksDf, Seq("cluster", "m"))
        .withColumn("dot", aggregate(
          zip_with(col("q_sub"), col("c_sub"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
        .groupBy(col("query_id"), col("cluster"), col("qc_dot"))
        .agg(array_sort(collect_list(struct(
          (col("m") * K + col("code")).as("i"), col("dot").as("v")))).as("pairs"))
        .select(col("query_id"), col("cluster"), col("qc_dot"),
          transform(col("pairs"), p => p.getField("v")).as("lut"))

      val approx = codes
        .join(VectorOps.queryGated(luts, probeLutBytes(batchHint)), Seq("cluster"))
        .filter(col("query_id") =!= col("n_id"))
        .withColumn("a_score",
          exprs.adcScore(col("codes"), col("lut"), K) + col("qc_dot"))
      val wApprox = Window.partitionBy(col("query_id"))
        .orderBy(col("a_score").desc, col("n_id"))
      approx.withColumn("arank", row_number().over(wApprox))
        .filter(col("arank") <= pool)
        .select(col("query_id"), col("n_id"))
  }

  /** Exact-cosine rerank of an ADC candidate pool: join the ≤50
    * candidates per query back to their corpus vectors, score the true
    * cosine, apply `keep` BEFORE the rank window (so the window
    * shuffle carries only rows that can appear in the output), rank,
    * cut at `k`. Query-side constants ride [[VectorOps.queryGated]]:
    * small batches broadcast, unbounded batches shuffle on their keys.
    */
  private def rerank(cand: DataFrame, queries: DataFrame, corpus: DataFrame,
      batchHint: Long, keep: org.apache.spark.sql.Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qEmb = queries.select(col("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    VectorOps.queryGated(
        cand.join(VectorOps.queryGated(qEmb, qBytes(batchHint)), "query_id"),
        candBytes(batchHint) + qBytes(batchHint))
      .join(corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), "n_id")
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("n_emb")), 6))
      .filter(keep)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("n_id").as("neighbor_id"), col("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Answer `queries` (query_id, embedding) from the persisted index:
    * [[adcCandidates]] over only the probed lists' files, then exact
    * top-[[VectorOps.TopK]] rerank against `corpus` — the C42 scan
    * plan with the encode/training stages replaced by table reads.
    */
  def query(s: SparkSession, indexRoot: String, corpus: DataFrame,
      queries: DataFrame, batchHint: Long): DataFrame =
    inGroup(s, QueryGroup, s"ANN index query <- $indexRoot") {
      rerank(adcCandidates(s, indexRoot, queries, batchHint),
        queries, corpus, batchHint, lit(true), TopK)
    }

  /** C78 at scale: hard-negative mining composed onto the persisted
    * index. [[VectorOps.mineHardNegatives]] is the exact oracle —
    * `broadcast(anchors) × corpus` — which is the right plan for a
    * handful of anchors but a scale-killer for the operator's actual
    * use (contrastive training mines negatives for EVERY anchor:
    * millions of anchors × the full corpus). Here each anchor pays
    * only its probed inverted lists: [[adcCandidates]] prunes the
    * codes table to the probed lists' files and returns the ADC
    * top-50, and the cosine ceiling (`< ceil` — above it sit
    * positives/near-dups mislabeled as negatives) filters BEFORE the
    * rerank window, so the rank shuffle carries only rows that can be
    * emitted. Mining cost is O(anchors × probed-lists), never
    * anchors × corpus; probe depth and pool default to the
    * [[MineProbes]]/[[MinePool]] operating point.
    */
  /** Mining operating point, deeper than serving's
    * ([[VectorOps.IvfProbes]], 50): mining is an offline training-prep
    * batch where missed hard negatives cost model quality, while
    * serving trades recall for latency — FAISS users make the same
    * split (nprobe per workload, one index). Still a probed-list
    * scan with a constant per-anchor candidate pool: cost stays
    * O(anchors × probed-lists) + O(anchors × pool) rerank, and both
    * drop as real (clustered) embeddings concentrate neighbors in
    * fewer lists. The synthetic near-uniform test corpus is the worst
    * case; the measured sf0.01 sweep put (12, 400) at 0.95 recall vs
    * the exact miner ((6, 50) — the serving point — at 0.59: the
    * below-ceiling band's cosines sit close together, so PQ's ADC
    * ranking needs the deeper pool to keep the true top-k inside it).
    */
  val MineProbes = 12
  val MinePool = 400

  def mineHardNegatives(s: SparkSession, indexRoot: String, corpus: DataFrame,
      anchors: DataFrame, k: Int, ceil: Double, batchHint: Long,
      nprobe: Int = MineProbes, pool: Int = MinePool): DataFrame =
    inGroup(s, QueryGroup, s"ANN hard-negative mining <- $indexRoot") {
      val q = anchors.select(col("anchor_id").as("query_id"), col("embedding"))
      rerank(adcCandidates(s, indexRoot, q, batchHint, nprobe, pool),
          q, corpus, batchHint, col("cos_sim") < ceil, k)
        .select(col("query_id").as("anchor_id"),
          col("neighbor_id").as("negative_id"), col("cos_sim"), col("rank"))
    }

  /** Property on the `codes` table recording the corpus snapshot the
    * index is synced THROUGH — [[sync]]'s incremental watermark.
    */
  val SyncedSnapshotProp = "ann.synced.snapshot"

  /** Build the index from a graft lake corpus table and stamp the
    * sync watermark at its current snapshot — the entry point for
    * lake-maintained indexes. The codes table is put in equality
    * merge-on-read mode so [[sync]]'s delete-fold is O(deletes) with
    * zero target I/O (the key list itself is the delete file; the
    * query path applies it on read through the ordinary lake scan).
    * These properties ride the codes table's one property commit.
    */
  def buildFromTable(s: SparkSession, corpus: GraftTable, indexRoot: String): Unit = {
    val snapId = corpus.currentId
    build(s, corpus.read().select(col("vec_id"), col("embedding")), indexRoot, Map(
      GraftTable.MergeModeProp -> "merge-on-read",
      GraftTable.MergeDeleteKindProp -> "equality",
      SyncedSnapshotProp -> snapId.toString))
  }

  /** Maintain the index against its lake corpus table — one row-level
    * changelog over the watermark window (A43: cost scales with the
    * CHANGED files, the pre-sync corpus is never rescanned) classifies
    * the delta:
    *
    *  - INSERTED vectors are encoded under the FROZEN codebooks and
    *    lake-appended (narrow maps over the delta only);
    *  - DELETED vectors — the #1 real consumer is dedup, which DELETES
    *    from the corpus — fold as one keyed equality-delete on the
    *    codes table: O(deletes) bytes written, zero target I/O, and
    *    the query path hides them on read like any MOR delete;
    *  - a vec_id on BOTH sides of the changelog is a REWRITTEN vector,
    *    which the frozen-codebook index cannot re-express without a
    *    rewrite — sync refuses loudly and the remedy is
    *    [[buildFromTable]].
    *
    * A window of appends and `delete` commits whose appended vec_id
    * ranges are disjoint from the removed files'
    * ([[GraftTable.appendDeleteSplit]] — the streaming-ingest case)
    * cannot rewrite a vector, so it skips the persisted changelog and
    * the classify: the deletes fold (counted by an Observation on the
    * delete write), then the appended files encode straight from the
    * manifest — one job for an append-only one-file window.
    *
    * Returns the number of changed rows folded (inserts + deletes).
    */
  def sync(s: SparkSession, corpus: GraftTable, indexRoot: String): Long =
    inGroup(s, BuildGroup, s"ANN index sync -> $indexRoot") {
      val codesT = new GraftTable(codesRoot(indexRoot), s)
      val last = codesT.properties.getOrElse(SyncedSnapshotProp,
        throw new IllegalStateException(
          s"index at $indexRoot has no sync watermark — build it with " +
            "buildFromTable first")).toLong
      val cur = corpus.currentId
      if (cur == last) return 0L
      // the watermark property rides the LAST fold commit instead of
      // paying its own set-properties snapshot (r14, verdict item 9):
      // one commit per sync saved on every insert- or delete-only
      // window; the empty window keeps the explicit property commit
      val wm = Map(SyncedSnapshotProp -> cur.toString)
      def foldDelta(nIns: Long, inserts: DataFrame, deletes: Option[DataFrame]): Unit = {
        deletes.foreach(d => codesT.mergeDelete(d.select(col("vec_id").as("n_id")),
          Seq("n_id"), if (nIns > 0L) Map.empty[String, String] else wm))
        if (nIns > 0L) append(s, inserts.select(col("vec_id"), col("embedding")), indexRoot, wm)
        else if (deletes.isEmpty) codesT.setProperty(SyncedSnapshotProp, cur.toString)
      }
      corpus.appendDeleteSplit(last, cur, "vec_id") match {
        case Some((added, inserts, deletes)) =>
          val nIns = added.map(_.rows).sum
          // the delete count rides the delete-file write: no count job
          val obs = org.apache.spark.sql.Observation(s"ann-sync-${java.util.UUID.randomUUID()}")
          foldDelta(nIns, inserts, deletes.map(_.observe(obs, count(lit(1)).as("n"))))
          return nIns + deletes.fold(0L)(_ => obs.get("n").asInstanceOf[Long])
        case None =>
      }
      val cl = corpus.changelog(last, cur)
      val ch = cl.select(col(cl.columns.last).as("op"), col("vec_id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // ONE pass over the cached changelog classifies the window
        // (r13 optimization — was three jobs: rewritten-check, delete
        // count, insert count): per-vec_id op spread, folded to the
        // three counters. A rewritten vector shows up as
        // delete(old)+insert(new) under ONE vec_id — refuse before
        // touching the index. min/max of op, not countDistinct: a
        // distinct count plans an extra Expand stage.
        val stats = ch.groupBy(col("vec_id"))
          .agg(min(col("op")).as("op0"), max(col("op")).as("op1"),
            count(lit(1)).as("n"))
          .agg(
            coalesce(sum(when(col("op0") =!= col("op1"), 1L).otherwise(0L)), lit(0L))
              .as("rewritten"),
            coalesce(sum(when(col("op0") === col("op1") && col("op1") === "delete",
              col("n")).otherwise(0L)), lit(0L)).as("dels"),
            coalesce(sum(when(col("op0") === col("op1") && col("op1") === "insert",
              col("n")).otherwise(0L)), lit(0L)).as("inss"))
          .head()
        val rewritten = stats.getLong(0)
        require(rewritten == 0L,
          s"corpus window $last -> $cur rewrites vectors the index already " +
            "encoded — a frozen-codebook index cannot re-encode in place; " +
            "rebuild with buildFromTable")
        val nDel = stats.getLong(1)
        val nIns = stats.getLong(2)
        foldDelta(nIns, ch.filter(col("op") === "insert"),
          if (nDel > 0L) Some(ch.filter(col("op") === "delete")) else None)
        nIns + nDel
      } finally { ch.unpersist(); () }
    }

  /** D22 `stream_ann_sync`: streaming maintenance of the persisted
    * index — the serving loop every embedding-backed retrieval system
    * runs: a crawl stream lake-sinks into the corpus table
    * (exactly-once `appendBatch`) and each micro-batch is followed by
    * one [[sync]], so the index trails the corpus by at most a batch.
    * Mid-stream the corpus DELETES a vector (the dedup shape) and the
    * sync folds it as the keyed equality delete — hidden from every
    * subsequent read with zero target I/O, no retrain (books table
    * never moves past its build snapshot). Deterministic invariants →
    * constant relation pinned by a VALUES oracle (the `_check`
    * pattern; ANN recall itself stays with the C76 entries).
    */
  def streamAnnSync(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = s"/root/repo/target/lakework/annsync-${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
    val conf = s.sparkContext.hadoopConfiguration
    val baseP = new org.apache.hadoop.fs.Path(base)
    val hfs = baseP.getFileSystem(conf)
    if (hfs.exists(baseP)) hfs.delete(baseP, true)
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val existing = emb.filter(col("vec_id") % 2 === 0)
    val incoming = emb.filter(col("vec_id") % 2 =!= 0)
    val corpusT = GraftTable.create(s, s"$base/corpus", existing)
    buildFromTable(s, corpusT, s"$base/idx")
    val booksIdPre = new GraftTable(booksRoot(s"$base/idx"), s).currentId
    // victim arrives in batch 0, is deleted during batch 1's commit
    val victim = incoming.filter(pmod(col("vec_id"), lit(3L)) === 0L)
      .agg(min(col("vec_id"))).head().getLong(0)
    // three deterministic single-file batches, mod-times pin the order
    // (one partitioned write job for all three — r13 optimization)
    val stage = s"$base/stage"
    StageFiles.stage(s, incoming, pmod(col("vec_id"), lit(3L)), 3, stage)
    val q = s.readStream.schema(existing.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val corpus = new GraftTable(s"$base/corpus", s)
        corpus.appendBatch(batch, s"annsync-$id")
        if (id == 1L) corpus.delete(col("vec_id") === victim)
        sync(s, corpus, s"$base/idx")
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val corpus = new GraftTable(s"$base/corpus", s)
    val codesT = new GraftTable(codesRoot(s"$base/idx"), s)
    import s.implicits._
    Seq((
      // the index trails the corpus by zero batches after the stream
      codesT.properties(SyncedSnapshotProp).toLong == corpus.currentId,
      // every live corpus vector is encoded, none twice, victim hidden
      codesT.read().count() == corpus.read().count(),
      codesT.read().filter(col("n_id") === victim).count() == 0L,
      // the fold landed as an equality delete, not a rewrite
      codesT.current.deleteFiles.exists(_.equalityCols == Seq("n_id")),
      // zero retrain across the whole stream
      new GraftTable(booksRoot(s"$base/idx"), s).currentId == booksIdPre))
      .toDF("watermark_current", "rows_match", "victim_hidden",
        "fold_is_equality", "books_frozen")
  }

  val streamAnnSyncSql: String =
    """SELECT * FROM (VALUES (true, true, true, true, true))
      |AS t(watermark_current, rows_match, victim_hidden,
      |     fold_is_equality, books_frozen)""".stripMargin

  private def workRoot(d: String) =
    s"/root/repo/target/lakework/annindex-${d.replaceAll("[^0-9a-zA-Z.]", "_")}"

  /** `ann_ivfpq_persisted` driver entry: build the index tables once,
    * then answer the standard NQueries×TopK batch purely from them —
    * the same output contract as `ann_ivfpq` (probabilistic recall →
    * rows-only driver check; the `_check` twin oracles the
    * dominance/completeness invariants).
    */
  def annIvfPqPersisted(s: SparkSession, d: String): DataFrame = {
    val root = workRoot(d)
    val corpus = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    build(s, corpus, root)
    query(s, root, corpus,
      corpus.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      NQueries.toLong)
  }

  def annIvfPqPersistedCheck(s: SparkSession, d: String): DataFrame =
    VectorOps.annCheck(s, d, annIvfPqPersisted)

  /** `mine_hard_negatives_indexed` driver entry: the index-composed
    * miner over the standard anchor batch (same output contract as
    * the exact `mine_hard_negatives`; probabilistic recall → rows-only
    * driver check, the `_check` twin oracles the invariants).
    */
  def mineHardNegativesIndexed(s: SparkSession, d: String): DataFrame = {
    val root = s"/root/repo/target/lakework/annminer-${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
    val corpus = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    build(s, corpus, root)
    mineHardNegatives(s, root, corpus,
      corpus.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("anchor_id"), col("embedding")),
      VectorOps.HardNegK, VectorOps.HardNegCeil, NQueries.toLong)
  }

  /** `mine_hard_negatives_indexed_check`: deterministic invariants of
    * the indexed miner against the exact C78 oracle —
    *  - ceiling_violations: a returned negative at/above the near-dup
    *    ceiling would be a positive mislabeled as a negative; must be 0
    *    by construction (the filter sits before the rank window);
    *  - dominance_violations: the exact miner picks the best
    *    below-ceiling negatives from the FULL corpus, so at every
    *    (anchor, rank) the indexed miner's cosine can never exceed it;
    *  - missing_rows: the probed lists hold ≥k below-ceiling
    *    candidates per anchor at every tested SF, so the indexed miner
    *    returns exactly the exact miner's row count.
    */
  def mineHardNegativesIndexedCheck(s: SparkSession, d: String): DataFrame = {
    val exact = VectorOps.mineHardNegatives(s, d)
      .select(col("anchor_id"), col("rank"), col("cos_sim").as("x_cos"))
    val idx = mineHardNegativesIndexed(s, d)
      .select(col("anchor_id"), col("rank"), col("cos_sim").as("i_cos"))
      .persist()
    try {
      val ceilingViolations =
        idx.filter(col("i_cos") >= VectorOps.HardNegCeil).count()
      val dominanceViolations = exact.join(idx, Seq("anchor_id", "rank"))
        .filter(col("i_cos") > col("x_cos")).count()
      val missingRows = exact.count() - idx.count()
      import s.implicits._
      Seq((ceilingViolations, dominanceViolations, missingRows))
        .toDF("ceiling_violations", "dominance_violations", "missing_rows")
    } finally { idx.unpersist(); () }
  }

  val mineHardNegativesIndexedCheckSql: String =
    """SELECT CAST(0 AS BIGINT) AS ceiling_violations,
      |  CAST(0 AS BIGINT) AS dominance_violations,
      |  CAST(0 AS BIGINT) AS missing_rows""".stripMargin
}
