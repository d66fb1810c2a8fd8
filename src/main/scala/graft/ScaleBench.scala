package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-cliff probe: synthesize a 10× scale-up of an existing sfDir
  * (≈ sf1 from sf0.1) and time the scale-SENSITIVE operator subset on
  * it. The sf0.1 bench can hide candidate-volume knees in the sketch
  * ops (LSH bucket occupancy, posting-list fan-out, label-propagation
  * rounds grow non-linearly with corpus size); this surfaces them
  * without waiting for a cluster.
  *
  * Synthesis preserves each table's per-key structure while scaling
  * cardinality 10×:
  *  - TPC-H tables: 10 copies with disjoint key offsets — join
  *    selectivities and group cardinalities scale like real SF growth.
  *  - documents: every token of a copy is suffixed with the copy id,
  *    so intra-document shingle structure (and thus per-doc sketch
  *    behavior) is preserved while cross-copy overlap is zero; 2 % of
  *    documents keep their original text in every copy, seeding a
  *    realistic population of 10-clique duplicates for the dedup chain.
  *  - embeddings: copies get fresh hash-derived vectors (scaling a
  *    vector leaves cosine unchanged, which would fabricate a corpus of
  *    exact duplicates — fresh vectors keep ANN selectivity honest).
  *
  * Synthetic data is for TIMING only — correctness stays on the
  * driver-generated parquet + DuckDB oracles.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleBench"`
  * (optional SPARK_GRAFT_BASE_SF_DIR, default /root/testdata/sf0.1;
  * output under target/sf1, reused if already built).
  */
object ScaleBench {

  private val Copies = 10

  private val SynthTables = Seq("documents", "embeddings", "lineitem",
    "orders", "customer", "supplier", "events", "nation", "region")

  /** documents + embeddings synthesis at an arbitrary copy count —
    * shared by the 10× full synthesis and the 100× pipeline probe.
    * Copy-id offsets: doc_id steps 10⁷ (100 copies < 10⁹), vec_id
    * steps 10⁶ (100 copies stay below the 10⁸ PlantIdOffset the
    * planted-duplicate fixtures reserve).
    */
  private def synthesizePipelineTables(spark: SparkSession, base: String,
      out: String, nCopies: Int): Unit = {
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until nCopies).map(i => f(df, i)).reduce(_ unionByName _)

    copies(Tables.documents(spark, base)) { (d, i) =>
      if (i == 0) d
      else d
        .withColumn("text",
          when(col("doc_id") % 50 === 0, col("text")) // 2% stay duplicates
            .otherwise(array_join(
              transform(split(col("text"), " "), t => concat(t, lit(s"x$i"))), " ")))
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    copies(Tables.embeddings(spark, base)) { (e, i) =>
      if (i == 0) e
      else e
        .withColumn("embedding",
          transform(col("embedding"), (_, j) =>
            ((pmod(hash(col("vec_id"), j, lit(i)), lit(2001)) - 1000) / lit(1000.0))
              .cast("float")))
        .withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  private def synthesize(spark: SparkSession, base: String, out: String): Unit = {
    val done = java.nio.file.Paths.get(out, "_DONE")
    // the sentinel alone is not enough: an sf1 built by an older round
    // may predate a newly-synthesized table — verify every expected
    // output exists before trusting it
    if (java.nio.file.Files.exists(done) && SynthTables.forall(t =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(out, s"$t.parquet"))))
      return
    java.nio.file.Files.deleteIfExists(done)
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(i => f(df, i)).reduce(_ unionByName _)

    synthesizePipelineTables(spark, base, out, Copies)

    copies(Tables.lineitem(spark, base)) { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * 100000L))
    }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    copies(Tables.orders(spark, base)) { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")

    copies(Tables.customer(spark, base)) { (c, i) =>
      c.withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/customer.parquet")

    copies(Tables.supplier(spark, base)) { (s, i) =>
      s.withColumn("s_suppkey", col("s_suppkey") + lit(i * 100000L))
    }.write.mode("overwrite").parquet(s"$out/supplier.parquet")

    // events: same time range, 10× the events per window (how event
    // volume actually grows) — disjoint event/user id spaces per copy
    copies(Tables.load(spark, base, "events")) { (e, i) =>
      e.withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 10000000L))
    }.write.mode("overwrite").parquet(s"$out/events.parquet")

    for (fixed <- Seq("nation", "region")) // genuinely fixed-size dims
      Tables.load(spark, base, fixed)
        .write.mode("overwrite").parquet(s"$out/$fixed.parquet")

    java.nio.file.Files.createFile(done)
  }

  /** The scale-sensitive subset: sketch/dedup chains (candidate-volume
    * knees), ANN (bucket occupancy), joins/aggs (shuffle volume), and
    * the heaviest text ops. Lake DML is excluded — its cost is the
    * write path itself, already measured by the main bench.
    */
  private val ScaleQueries = Seq(
    "q1_agg", "q3_join", "q5_multijoin", "q6_filter_agg",
    "q_events_window", "q_asof_join", "q_skew_salted_agg", "q_range_join",
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_embedding", "dedup_clusters", "dedup_apply", "dedup_lines",
    "ann_bruteforce", "ann_lsh", "ann_ivf", "ann_pq", "ann_ivfpq",
    "text_tfidf", "text_dup_spans", "text_fingerprint", "text_contamination",
    "corpus_filter", "sample_mixture", "pipeline_corpus_e2e", "mm_decode",
    "q_unpivot", "dedup_semantic", "stream_stream_join",
    "q_recursive_cte", "dedup_incremental_bloom", "text_chunk", "q_variant",
    "text_vocab_coverage", "text_boilerplate", "corpus_threshold_sweep",
    "mm_video_frames", "sample_temperature", "sample_stratified",
    "text_entropy", "dedup_containment", "text_ppl_buckets", "ann_sq",
    "corpus_vocab_growth", "stream_topk",
    // wave-3 ops. search_hybrid_rrf is deliberately absent: its
    // candidate universe is documents∩embeddings ids, and the synthetic
    // copies offset doc_id by 10⁷ but vec_id by 10⁶ — the intersection
    // stays the copy-0 corpus, so a "10×" run would time the same
    // candidate set (its halves scale as text_bm25 + ann_bruteforce)
    "text_bm25", "corpus_zipf", "dedup_span_removal", "corpus_embedding_drift",
    // wave-4: the BPE loop runs on the vocabulary table (suffixed
    // copies grow it 10×), the codec/normalize passes are per-row maps,
    // the drift monitor streams 10× the vectors through bounded state
    "text_bpe_train", "text_bpe_encode", "text_compression",
    "text_normalize", "stream_drift_monitor",
    "corpus_source_overlap", "dedup_decontaminate",
    // r10 ops: the sketch dial is constant-per-source aggregation, the
    // epoch planner is scan+explode, the near-dup gate re-stages 10×
    // the docs through the same 4 batches (per-batch probe volume 10×)
    "corpus_source_overlap_sketch", "sample_epochs", "stream_neardup_gate",
    // length-banded candidates: pair volume tracks docs-per-length-cell
    "dedup_edit_distance")

  /** Lake DML + streaming-source scale probe: the same operation
    * sequence at 1× and 10× data, so commit latency, COW rewrite
    * amplification, MOR delete/apply, and getBatch planning each get a
    * measured scaling ratio (the main bench times them only at one
    * scale). The table is range-partitioned into 64 files per snapshot
    * so point predicates actually prune — the layout a real table has.
    */
  private def lakeBench(spark: SparkSession, dirs: Seq[(String, String)]): Map[String, Double] = {
    import graft.lake.GraftTable
    import org.apache.spark.sql.functions.col
    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
    }
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((label, dir) <- dirs) {
      val root = s"/root/repo/target/scalebench-lake-$label"
      val rm = new java.io.File(root)
      if (rm.exists()) graft.lake.MetaIO.deleteDir(root, spark.sparkContext.hadoopConfiguration)
      val o = Tables.orders(spark, dir)
        .repartitionByRange(64, col("o_orderkey")).cache()
      val n = o.count() // materialize once so timings are write-path only
      val (tCreate, t) = timed(GraftTable.create(spark, root, o))
      val (tAppend, _) = timed(t.append(o))
      val small = Tables.orders(spark, dir).limit(100).repartition(1).cache()
      small.count()
      val (tSmall, _) = timed(t.append(small))
      // point COW delete: stats-pruned to the files holding one key.
      // TPC-H orderkeys are sparse — pick keys that actually EXIST
      // (mid-range) or the delete is a no-op and times nothing.
      val keys = o.filter(col("o_orderkey") >= n / 2)
        .select(col("o_orderkey")).orderBy(col("o_orderkey"))
        .limit(2).collect().map(_.getLong(0))
      val (tCow, _) = timed(t.delete(col("o_orderkey") === keys(0)))
      // same shape merge-on-read: deletion vector, zero rewrite
      t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
      val (tMor, _) = timed(t.delete(col("o_orderkey") === keys(1)))
      require(t.current.deletedRows > 0, "MOR probe delete must match rows")
      val (tApply, _) = timed(t.applyDeletes())
      // keyed MOR MERGE, position vs equality flavor over the same 1k
      // source: position pays a key-bounds-pruned target scan that
      // grows with data volume; equality writes the key set with zero
      // target I/O and must stay FLAT across the 10× step — that
      // flatness is the entire point of the second delete flavor
      val src1k = o.filter(col("o_orderkey") >= n / 4).limit(1000)
        .repartition(1).cache()
      src1k.count()
      t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
      val (tPosMerge, _) = timed(t.merge(src1k, Seq("o_orderkey")))
      t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
      val (tEqMerge, _) = timed(t.merge(src1k, Seq("o_orderkey")))
      require(t.current.deleteFiles.exists(_.equalityCols.nonEmpty),
        "equality probe merge must register an equality delete")
      // getBatch planning for a 1-snapshot delta on the full table:
      // time to an ANALYZED plan (manifest filter + relation build),
      // which must track the DELTA, not the table's file count
      val src = new graft.streaming.GraftSource(spark, root)
      import org.apache.spark.sql.execution.streaming.runtime.LongOffset
      val startId = t.currentId
      t.append(small)
      val endId = t.currentId
      val (tPlan, _) = timed {
        src.getBatch(Some(LongOffset(startId)), LongOffset(endId))
          .queryExecution.analyzed
      }
      // write.stats.ndv=auto rides the write action as an Observation:
      // the same small append with sketch maintenance on must cost
      // ~what the plain small append cost (flat in table size AND in
      // delta size beyond the write itself)
      t.setProperty(GraftTable.NdvModeProp, "auto")
      val (tNdvAppend, _) = timed(t.append(small))
      require(t.current.properties.contains("stats.ndv.o_orderkey"),
        "auto-NDV append must publish stats")
      // write-time sort order: the FULL append again but range-
      // distributed + sorted on o_orderkey — its delta over `append`
      // is the documented range-shuffle price of write.sort.columns,
      // and must scale with the DELTA being written, not the table
      t.setProperty(GraftTable.NdvModeProp, "none")
      t.setProperty(GraftTable.SortColsProp, "o_orderkey")
      val (tSortedAppend, _) = timed(t.append(o))
      t.setProperty(GraftTable.SortColsProp, "")
      // the object-store claim lock (two-phase stage/claim/verify) is
      // pure control plane: the same append under the forced protocol
      // must not step with data volume. Auto-NDV was switched OFF above
      // so this isolates the lock cost (comparable to smallAppend, not
      // to ndvAppend)
      val hconf = spark.sparkContext.hadoopConfiguration
      hconf.set(graft.lake.CommitLock.ImplConfKey, "claim")
      val tClaimAppend =
        try timed(new GraftTable(root, spark).append(small))._1
        finally hconf.unset(graft.lake.CommitLock.ImplConfKey)
      // A64 storage-partitioned join probe: co-bucketed self-join of
      // orders on o_custkey. Build cost = one bucket-aligned shuffle
      // per side (16-way hash repartition IS the bucket assignment —
      // same murmur3); join cost must then scale with DATA only, no
      // exchange of either side — vs the same join paying two
      // shuffles. The SPJ gap vs shuf is the exchange cost removed at
      // every subsequent join of these tables.
      val bRoots = Seq(s"$root-b1", s"$root-b2")
      bRoots.foreach { r =>
        val f = new java.io.File(r)
        if (f.exists()) graft.lake.MetaIO.deleteDir(r, spark.sparkContext.hadoopConfiguration)
      }
      val bDeps = Seq(graft.lake.DepSpec("o_custkey", "o_b", "sbucket[16]"))
      // write-path auto-distribution supplies the one aligned shuffle
      val (tSpjBuild, bTabs) = timed(
        bRoots.map(r => GraftTable.create(spark, r, o, Seq("o_b"), bDeps)))
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevABc = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val (tSpjJoin, tShufJoin) =
        try {
          val a = bTabs(0).read().select(col("o_custkey"), col("o_totalprice"))
          val b = bTabs(1).read().select(col("o_custkey"))
          val jdf = a.join(b, "o_custkey")
          val (tJ, nJ) = timed(jdf.count())
          def joinShuffled(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
            case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              joinShuffled(ad.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              joinShuffled(q.plan)
            case sm: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
              sm.exists {
                case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
                case _ => false }
            case other => other.children.exists(joinShuffled)
          }
          require(!joinShuffled(jdf.queryExecution.executedPlan),
            "SPJ probe regressed to a shuffled join")
          val (tS, nS) = timed(
            o.select(col("o_custkey"), col("o_totalprice"))
              .join(o.select(col("o_custkey")), "o_custkey").count())
          require(nJ == nS, s"SPJ join result drifted: $nJ vs $nS")
          (tJ, tS)
        } finally {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
          prevABc match {
            case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
            case None    => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
          }
        }
      o.unpersist(); small.unpersist(); src1k.unpersist()
      println(f"[scalebench-lake] $label%-4s rows=$n%9d files=${t.current.files.size}%5d " +
        f"create=$tCreate%6.2f append=$tAppend%6.2f smallAppend=$tSmall%5.2f " +
        f"cowDelete=$tCow%6.2f morDelete=$tMor%6.2f morApply=$tApply%6.2f " +
        f"posMerge=$tPosMerge%6.2f eqMerge=$tEqMerge%6.2f getBatchPlan=$tPlan%6.3f " +
        f"ndvAppend=$tNdvAppend%5.2f sortedAppend=$tSortedAppend%5.2f " +
        f"claimAppend=$tClaimAppend%5.2f spjBuild=$tSpjBuild%5.2f " +
        f"spjJoin=$tSpjJoin%5.2f shufJoin=$tShufJoin%5.2f")
      for ((k, v) <- Seq("create" -> tCreate, "append" -> tAppend,
          "small_append" -> tSmall, "cow_delete" -> tCow, "mor_delete" -> tMor,
          "mor_apply" -> tApply, "pos_merge" -> tPosMerge, "eq_merge" -> tEqMerge,
          "getbatch_plan" -> tPlan, "ndv_append" -> tNdvAppend,
          "sorted_append" -> tSortedAppend, "claim_append" -> tClaimAppend,
          "spj_build" -> tSpjBuild, "spj_join" -> tSpjJoin,
          "shuf_join" -> tShufJoin))
        out(s"lake_${k}_$label") = v
    }
    out.toMap
  }

  /** The 1×/10×/100× pipeline-chain probe
    * (`SPARK_GRAFT_SCALEBENCH_PIPELINE100=1`): synthesizes a 100×
    * documents+embeddings corpus (~sf10-equivalent, pipeline tables
    * only — the TPC-H side's scaling is already pinned by the 10×
    * sweep) and times the dedup chain (minhash → clusters → apply) and
    * IVFPQ at every scale, so each stage gets a measured scaling
    * exponent α = log(t₁₀₀/t₁)/log 100. The LSH pair ops
    * (dedup_embedding and the t046 weak gear) are deliberately NOT in
    * this probe: sign-RP banding is Θ(n²·const) in candidates on a
    * random corpus at ANY radius — the 100 TB path for pair dedup is
    * the minhash chain; the radius CAP (embeddingPairsAtCapped) is the
    * dial for bounded weak-threshold runs and is measured at 10×.
    */
  private val PipelineQueries =
    Seq("dedup_minhash", "dedup_clusters", "dedup_apply", "ann_ivfpq",
      // the r9 hash-threshold prefilter claim: the per-stratum rank
      // windows sort ~overshoot×kept rows, so these must scale like a
      // scan (α ≪ 1), not like a corpus sort
      "sample_temperature", "sample_stratified",
      // wave-3/4 exponents: bm25 (tf groupBy + broadcast stats), span
      // removal (gram count + row-local rewrite), source overlap (the
      // inverted-index self-join — the one with quadratic RISK, so its
      // measured α is the load-bearing number)
      "text_bm25", "dedup_span_removal", "corpus_source_overlap",
      // r10 sketch dial: one MinHash signature per source — must stay
      // scan-shaped (no shared-shingle join term) at any overlap volume
      "corpus_source_overlap_sketch",
      // r10 driver-local BPE training: the corpus pass (word-frequency
      // groupBy) must dominate — the copy-suffixed 100× corpus grows the
      // vocab ~100×, so the k=256 merge loop genuinely runs its full
      // budget here while timing stays scan-shaped
      "text_bpe_train")

  private def runPipeline100(spark: SparkSession, base: String,
      sf1: String, sf10: String): Unit = {
    val done = java.nio.file.Paths.get(sf10, "_DONE")
    if (!(java.nio.file.Files.exists(done) &&
        Seq("documents", "embeddings").forall(t =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(sf10, s"$t.parquet"))))) {
      java.nio.file.Files.deleteIfExists(done)
      synthesizePipelineTables(spark, base, sf10, 100)
      java.nio.file.Files.createFile(done)
      ()
    }
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((label, dir) <- Seq(("1x", base), ("10x", sf1), ("100x", sf10));
         name <- PipelineQueries) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scalebench-100x] $label%-4s $name%-16s $secs%8.2f s  rows=$n")
      results(s"${name}_$label") = secs
    }
    for (name <- PipelineQueries) {
      val a = math.log(results(s"${name}_100x") / results(s"${name}_1x")) / math.log(100.0)
      println(f"[scalebench-100x] exponent $name%-16s alpha=$a%5.2f")
      results(s"${name}_alpha") = a
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"scale100_total","value":${results.values.sum},"unit":"sec","queries":$qs,"sf":"$sf10"}""")
  }

  /** Plan-latency probe at FILE-COUNT scale
    * (`SPARK_GRAFT_SCALEBENCH_PLAN=1`): every 100 TB claim rests on
    * O(metadata) planning, so this measures the metadata plane directly
    * at 1k/10k/100k/1M manifest entries — payloads are hardlinks of one
    * seed parquet (the probe times manifests, not parquet IO):
    *  - `commit_bulk`: one N-file append commit (payload existence
    *    checks + shard serialization + manifest write),
    *  - `commit_one`: steady-state 1-file append ON TOP of the N-file
    *    table (the A41 sharding claim: one changed shard + a small
    *    manifest, unchanged partitions re-pointed),
    *  - `open_cold`: fresh manifest + shard parse (caches invalidated),
    *  - `scan_pruned`: partition-filtered read (16 surviving files at
    *    every N — execution constant, so scaling here IS planning),
    *  - `incremental`: snapshot-diff plan of the 1-file commit.
    * Per-step exponents α = log(t₁₀₀ₖ/t₁ₖ)/log 100 print at the end;
    * anything super-linear (α > 1) is a scale bug to fix, not record.
    */
  private def planBench(spark: SparkSession): Unit = {
    import graft.lake.GraftTable
    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
    }
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // 1M is the last untested decade before real 100 TB table sizes
    // (100 TB / 128 MB target files ≈ 800k entries)
    val counts = Seq(1000, 10000, 100000, 1000000)
    for (n <- counts) {
      val root = s"/root/repo/target/lakework/planbench_$n"
      val seedDf = spark.range(1).select(col("id").as("v"), lit("0").as("p"))
      val t = GraftTable.create(spark, root, seedDf, Seq("p"))
      val seed = t.current.files.head
      val rootPath = java.nio.file.Paths.get(root)
      val seedAbs = rootPath.resolve(seed.path)
      // ext4 caps hard links at ~65k per inode — rotate physical seed
      // copies so any n stays under the per-inode limit
      val seedCopies = (0 to n / 50000).map { c =>
        val p = rootPath.resolve(s"data/seed_copy_$c.parquet")
        java.nio.file.Files.copy(seedAbs, p)
        p
      }
      val bulkId = t.currentId + 1
      val filesPerPart = 16
      val entries = (0 until n).map { i =>
        val part = s"part${i / filesPerPart}"
        val rel = s"data/p=$part/pb_$i.parquet"
        val dst = rootPath.resolve(rel)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.createLink(dst, seedCopies(i / 50000))
        seed.copy(path = rel, partition = Map("p" -> part), addedBy = bulkId)
      }
      val (tBulk, _) = timed { t.commitAppend(entries, "append") }
      val oneId = t.currentId + 1
      val one = {
        val rel = "data/p=part3/pb_extra.parquet"
        java.nio.file.Files.createLink(rootPath.resolve(rel), seedAbs)
        seed.copy(path = rel, partition = Map("p" -> "part3"), addedBy = oneId)
      }
      val (tOne, _) = timed { t.commitAppend(Seq(one), "append") }
      GraftTable.invalidate(root)
      val (tOpen, nf) = timed { new GraftTable(root, spark).current.files.size }
      require(nf == n + 2, s"planbench table must carry ${n + 2} files, saw $nf")
      val (tPrune, pruned) = timed {
        t.read().filter(col("p") === "part7").count()
      }
      require(pruned == filesPerPart, s"pruned scan must read $filesPerPart rows, saw $pruned")
      val (tIncr, inc) = timed {
        t.readIncremental(t.currentId - 1, t.currentId).count()
      }
      require(inc == 1, s"incremental diff of the 1-file commit must be 1 row, saw $inc")
      // A87 metadata aggregate: grouped count+min+max folded from the
      // manifest — the whole query IS planning, so its scaling with
      // file count is the claim's direct measurement (zero data reads,
      // asserted on the optimized plan)
      graft.sql.GraftCatalog.register(s"planbench_$n", t.root)
      val (tMeta, metaCnt) = timed {
        val df = spark.sql(s"SELECT p, count(*) AS c, min(v) AS v0, max(v) AS v1 " +
          s"FROM planbench_$n GROUP BY p")
        require(df.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
          "meta-agg probe must fold to a LocalRelation")
        df.collect().map(_.getLong(1)).sum
      }
      require(metaCnt == n + 2, s"meta-agg count must cover all ${n + 2} rows, saw $metaCnt")
      for ((k, v) <- Seq("commit_bulk" -> tBulk, "commit_one" -> tOne,
          "open_cold" -> tOpen, "scan_pruned" -> tPrune, "incremental" -> tIncr,
          "meta_agg" -> tMeta)) {
        println(f"[planbench] n=$n%-7d $k%-12s $v%8.3f s")
        results(s"${k}_$n") = v
      }
      // the 1M rung leaves ~1M dirents behind — sweep it once measured
      if (n >= 1000000) {
        import scala.sys.process._
        Seq("rm", "-rf", root).!
      }
    }
    for (k <- Seq("commit_bulk", "commit_one", "open_cold", "scan_pruned", "incremental",
        "meta_agg")) {
      val a = math.log(results(s"${k}_${counts.last}") / results(s"${k}_${counts.head}")) /
        math.log(counts.last.toDouble / counts.head)
      println(f"[planbench] exponent $k%-12s alpha=$a%5.2f")
      results(s"${k}_alpha") = a
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"planbench_total","value":${results.values.sum},"unit":"sec","queries":$qs,"sf":"files"}""")
  }

  /** Distributed orphan-sweep probe
    * (`SPARK_GRAFT_SCALEBENCH_VACUUM=1`): the r11 scale-killer was a
    * single-threaded driver-side recursive listFiles over the payload
    * tree. Past [[graft.lake.GraftTable.VacuumDriverFiles]] the driver
    * now lists only TOP-LEVEL partition dirs; each dir's recursive
    * walk runs as a cluster task and only CANDIDATE paths are
    * collected. This plants n referenced payloads (hard links of one
    * seed — the probe times listing, not parquet IO) across 64
    * partition dirs plus a FIXED 8 orphans, then times the dry-run
    * sweep and the real vacuum at n = 1k/10k/100k. Claims measured:
    * the candidate collect stays exactly 8 at every n (bounded by
    * #orphans, never #files) and the sweep exponent α =
    * log(t₁₀₀ₖ/t₁ₖ)/log 100 stays well under 1 (per-file work rides
    * executor tasks; the driver's share is O(#dirs + #orphans)).
    */
  private def vacuumBench(spark: SparkSession): Unit = {
    import graft.lake.GraftTable
    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
    }
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val counts = Seq(1000, 10000, 100000)
    for (n <- counts) {
      val root = s"/root/repo/target/lakework/vacbench_$n"
      val rm = new java.io.File(root)
      if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
      val seedDf = spark.range(1).select(col("id").as("v"), lit("part0").as("p"))
      val t = GraftTable.create(spark, root, seedDf, Seq("p"))
      val seed = t.current.files.head
      val rootPath = java.nio.file.Paths.get(root)
      val seedAbs = rootPath.resolve(seed.path)
      // seed copies live OUTSIDE data/ so they are never sweep
      // candidates; rotation keeps hard links under ext4's per-inode cap
      val seedCopies = (0 to n / 50000).map { c =>
        val p = rootPath.resolve(s"seed_copy_$c.parquet")
        java.nio.file.Files.copy(seedAbs, p)
        p
      }
      val bulkId = t.currentId + 1
      val nDirs = 64
      val entries = (0 until n).map { i =>
        val part = s"part${i % nDirs}"
        val rel = s"data/p=$part/vb_$i.parquet"
        val dst = rootPath.resolve(rel)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.createLink(dst, seedCopies(i / 50000))
        seed.copy(path = rel, partition = Map("p" -> part), addedBy = bulkId)
      }
      t.commitAppend(entries, "append")
      // fixed 8 lost-race orphans: planned id 1 was committed by someone
      // else, so the structural guard lets the age gate sweep them
      (0 until 8).foreach { i =>
        java.nio.file.Files.createLink(
          rootPath.resolve(s"data/p=part${i % nDirs}/1-$i-orphan.parquet"),
          seedCopies.head)
      }
      val (tDry, cands) = timed { t.orphansView(graceMillis = 0).collect() }
      require(cands.length == 8,
        s"dry-run must collect exactly the 8 planted orphans, saw ${cands.length}")
      val (tVac, removed) = timed { t.vacuumOrphans(graceMillis = 0).size }
      require(removed == 8, s"vacuum must sweep exactly 8, saw $removed")
      require(t.read().count() == n + 1, "referenced data untouched")
      for ((k, v) <- Seq("sweep_dry" -> tDry, "sweep_vac" -> tVac)) {
        println(f"[vacbench] n=$n%-7d $k%-10s $v%8.3f s  candidates=8")
        results(s"${k}_$n") = v
      }
    }
    for (k <- Seq("sweep_dry", "sweep_vac")) {
      val a = math.log(results(s"${k}_100000") / results(s"${k}_1000")) / math.log(100.0)
      println(f"[vacbench] exponent $k%-10s alpha=$a%5.2f")
      results(s"${k}_alpha") = a
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"vacbench_total","value":${results.values.sum},"unit":"sec","queries":$qs,"sf":"files"}""")
  }

  /** DV point-probe cost vs container count
    * (`SPARK_GRAFT_SCALEBENCH_DVPROBE=1`, pure JVM — no Spark): GDV1
    * recomputed each probe's payload offset by a linear directory walk,
    * so per-row cost grew with container count (~160 containers on a
    * 10M-row file with spread deletes). GDV2 carries the offset in the
    * directory entry. This builds vectors with FIXED cardinality spread
    * over 16 / 160 / 1600 containers and times 2M random `contains`
    * probes on both encodings: GDV2 must stay flat (α≈0) while GDV1
    * exhibits the walk.
    */
  private def dvProbeBench(): Unit = {
    import graft.lake.GraftDv
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val card = 32000
    val probesN = 2000000
    val rnd = new java.util.Random(7)
    for (nCont <- Seq(16, 160, 1600)) {
      val span = nCont.toLong << 16
      val positions = (0 until card).map(i => (i.toLong * span) / card).distinct
      val b = GraftDv.newBuilder(); positions.foreach(GraftDv.add(b, _))
      val v2 = GraftDv.serialize(b)
      val v1 = GraftDv.serializeLegacy(b)
      val probes = Array.fill(probesN)(math.abs(rnd.nextLong()) % span)
      def timeProbes(bytes: Array[Byte]): Double = {
        var sink = 0
        val t0 = System.nanoTime()
        var i = 0
        while (i < probesN) {
          if (GraftDv.contains(bytes, probes(i))) sink += 1
          i += 1
        }
        val dt = (System.nanoTime() - t0) / 1e9
        require(sink >= 0); dt
      }
      timeProbes(v2); timeProbes(v1) // warm up codegen/JIT
      val t2 = timeProbes(v2)
      val t1 = timeProbes(v1)
      println(f"[dvprobe] containers=$nCont%-5d gdv2=$t2%7.3f s  gdv1=$t1%7.3f s  (2M probes)")
      results(s"gdv2_$nCont") = t2
      results(s"gdv1_$nCont") = t1
    }
    for (k <- Seq("gdv2", "gdv1")) {
      val a = math.log(results(s"${k}_1600") / results(s"${k}_16")) / math.log(100.0)
      println(f"[dvprobe] exponent $k alpha=$a%5.2f")
      results(s"${k}_alpha") = a
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"dvprobe_total","value":${results.values.sum},"unit":"sec","queries":$qs,"sf":"containers"}""")
  }

  /** Streaming state-size probe
    * (`SPARK_GRAFT_SCALEBENCH_STREAMSTATE=1`): lake ops carry 10×
    * probes, streams were only wall-timed — this reads PEAK
    * `numRowsTotal` from every stateful operator's
    * StateOperatorProgress (via a StreamingQueryListener, zero
    * operator-code instrumentation) at 1× and 10× input volume with
    * IDENTICAL key/window cardinality (copies only mint new
    * event/vec ids; event_type, user_id, label, ts are reused):
    *  - keyed aggregations (D1 window agg, D18 top-k, D15
    *    transformWithState, D20 drift monitor) must hold state ∝
    *    keys×windows — the 10× ratio gate is 1.5;
    *  - the D14 stream-stream join legitimately buffers ROWS inside
    *    the watermark horizon, so its gate is eviction, not flatness:
    *    peak buffered rows must stay well under the total joined
    *    input (watermark eviction fired), and the 10× ratio ≤ 10×
    *    input growth.
    */
  private def streamStateBench(spark: SparkSession, base: String): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val root = "/root/repo/target/streamstate"
    for ((label, copies) <- Seq(("x1", 1), ("x10", 10))) {
      val dir = s"$root/$label"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_DONE"))) {
        val ev = spark.read.parquet(s"$base/events.parquet")
        (0 until copies).map(i =>
            ev.withColumn("event_id", col("event_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        val em = spark.read.parquet(s"$base/embeddings.parquet")
        (0 until copies).map(i =>
            em.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/_DONE"))
        ()
      }
    }
    val peak = scala.collection.concurrent.TrieMap[String, Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val name = e.progress.name
        if (name != null) {
          val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
          peak(name) = math.max(peak.getOrElse(name, 0L), rows)
        }
      }
    }
    spark.streams.addListener(listener)
    val ops = Seq("stream_window_agg", "stream_topk", "stream_tws",
      "stream_drift_monitor", "stream_stream_join")
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    try {
      for (op <- ops; label <- Seq("x1", "x10")) {
        val dir = s"$root/$label"
        val before = peak.keySet.toSet
        SparkEntry.queries(op)(spark, dir).count()
        var tries = 0
        def fresh = peak.keySet.diff(before)
        while (fresh.isEmpty && tries < 100) { Thread.sleep(100); tries += 1 }
        require(fresh.nonEmpty, s"no StateOperatorProgress observed for $op at $label")
        val rows = fresh.map(peak).max
        println(f"[streamstate] $op%-22s $label%-4s peak_state_rows=$rows")
        results(s"${op}_$label") = rows.toDouble
      }
    } finally spark.streams.removeListener(listener)
    val evRows = spark.read.parquet(s"$root/x10/events.parquet").count()
    for (op <- ops) {
      val r = results(s"${op}_x10") / math.max(results(s"${op}_x1"), 1.0)
      println(f"[streamstate] ratio $op%-22s ${r}%5.2f")
      results(s"${op}_ratio") = r
      if (op != "stream_stream_join")
        require(r <= 1.5,
          s"$op keyed state grew ${r}x at 10x volume — state is tracking rows, not keys")
      else {
        require(r <= 10.5, s"join state grew ${r}x — super-linear in input")
        require(results(s"${op}_x10") < evRows,
          s"join peak state ${results(s"${op}_x10")} did not evict below total input $evRows")
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"streamstate_total","value":${results.values.sum},"unit":"rows","queries":$qs,"sf":"$base"}""")
  }

  /** Production-k BPE trainer probe (C68): the driver-local merge loop
    * on a WIDENED synthetic vocabulary (2^16 random words, Zipf
    * counts — far past any real capped word table's pair diversity),
    * timed at k ∈ {1024, 4096, 32768}. The claim under test: with the
    * posting-index delta updates + lazy max-heap argmax, a 32k-merge
    * vocabulary costs ~the init scan, not O(k·|pairs|).
    */
  private def bpeProbe(): Unit = {
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val nWords = 65536
    val wf = (0 until nWords).map { i =>
      val len = 6 + rnd.nextInt(12)
      ((1 to len).map(_ => alpha(rnd.nextInt(26))).mkString,
        math.max(1L, (nWords.toDouble / (i + 1)).toLong))
    }.distinct.toArray
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (k <- Seq(1024, 4096, 32768)) {
      val t0 = System.nanoTime()
      val out = graft.pipeline.TextOps.bpeMergeLoop(wf, k)
      val dt = (System.nanoTime() - t0) / 1e9
      results(s"bpe_k$k") = dt
      println(f"[bpeprobe] k=$k%-6d merges=${out.size}%-6d time=$dt%8.2f s")
    }
    val a = math.log(results("bpe_k32768") / results("bpe_k1024")) / math.log(32.0)
    println(f"[bpeprobe] exponent alpha=$a%5.2f (flat ⇒ init-dominated)")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"bpeprobe_total","value":${results.values.sum},"unit":"sec","queries":$qs,"sf":"synthetic-65536"}""")
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_BASE_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus.toInt)
    if (sys.env.contains("SPARK_GRAFT_SCALEBENCH_PLAN")) {
      planBench(spark)
      spark.stop()
      return
    }
    if (sys.env.contains("SPARK_GRAFT_SCALEBENCH_VACUUM")) {
      vacuumBench(spark)
      spark.stop()
      return
    }
    if (sys.env.contains("SPARK_GRAFT_SCALEBENCH_DVPROBE")) {
      dvProbeBench()
      spark.stop()
      return
    }
    if (sys.env.contains("SPARK_GRAFT_SCALEBENCH_BPE")) {
      bpeProbe()
      spark.stop()
      return
    }
    if (sys.env.contains("SPARK_GRAFT_SCALEBENCH_STREAMSTATE")) {
      streamStateBench(spark, base)
      spark.stop()
      return
    }
    synthesize(spark, base, out)
    if (sys.env.contains("SPARK_GRAFT_SCALEBENCH_PIPELINE100")) {
      runPipeline100(spark, base, out,
        sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/root/repo/target/sf10"))
      spark.stop()
      return
    }
    try SparkEntry.queries("q1_agg")(spark, out).count() // warm JIT/codegen
    catch { case _: Throwable => () }
    // the weak-threshold gear of C5 (radius-2 probing) rides along so
    // the threshold↔cost trade stays measured: the shipped entry now
    // runs the production gate, and THIS is the documented-expensive one
    val extra: Map[String, (SparkSession, String) => DataFrame] = Map(
      "dedup_embedding_t046" ->
        ((s: SparkSession, dir: String) => graft.pipeline.VectorOps.embeddingPairsAt(
          s, dir, graft.pipeline.VectorOps.WeakCosThreshold)),
      // the same weak gear under the EXPLICIT radius-1 cap — the
      // candidate-volume dial for t046's documented outlier: bounded
      // cost, graceful recall trade (see embeddingPairsAtCapped)
      "dedup_embedding_t046_r1" ->
        ((s: SparkSession, dir: String) => graft.pipeline.VectorOps.embeddingPairsAtCapped(
          s, dir, graft.pipeline.VectorOps.WeakCosThreshold, 1)))
    // SPARK_GRAFT_SCALEBENCH_LAKE_ONLY=1 skips the (slow) query sweep —
    // for iterating on the lake/streaming probe alone
    val lakeOnly = sys.env.contains("SPARK_GRAFT_SCALEBENCH_LAKE_ONLY")
    // SPARK_GRAFT_SCALEBENCH_ONLY=a,b restricts the query sweep (and
    // skips the lake probe) — for iterating on individual queries
    val onlyQ: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALEBENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val sweep =
      if (lakeOnly) Seq.empty
      else (ScaleQueries ++ extra.keys).filter(n => onlyQ.forall(_.contains(n)))
    // a typo'd ONLY filter must fail loudly, not emit a zero-query
    // "result" that looks like a passing run
    onlyQ.foreach { names =>
      require(sweep.nonEmpty,
        s"SPARK_GRAFT_SCALEBENCH_ONLY matched no sweep queries: $names " +
          s"(valid: ${(ScaleQueries ++ extra.keys).mkString(", ")})")
    }
    val results = sweep.map { name =>
      val fn = SparkEntry.queries.getOrElse(name, extra(name))
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = try fn(spark, out).count() catch { case e: Throwable =>
          println(s"[scalebench] $name FAILED: $e"); -1L }
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[scalebench] $name%-22s ${times.map(_._1).min}%8.2f s  rows=${times.head._2}")
      name -> times.map(_._1).min
    }.toMap
    val lake =
      if (onlyQ.isDefined) Map.empty[String, Double]
      else lakeBench(spark, Seq(("1x", base), ("10x", out)))
    val all = results ++ lake
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_total","value":${results.values.sum},"unit":"sec","queries":$qs,"sf":"$out"}""")
    spark.stop()
  }
}
