package graft.tools

/** Physical-plan gate over the entries whose plan shape carries the
  * 100 TB claim. FAILS (exit 1) on any CartesianProduct, or on more
  * BroadcastNestedLoopJoins than the entry's documented allowance —
  * every allowance below is a bounded-side BNLJ by construction
  * (query-batch broadcasts gated by [[graft.pipeline.VectorOps
  * .queryGated]], sub-k-char PassJoin tiny-string blocks, plan-constant
  * threshold rows), not a data-sized nested loop. Run with `--plant`
  * to verify the gate itself trips: it audits a deliberate cartesian
  * and must exit 1.
  */
private[graft] object PlanAudit {
  def main(args: Array[String]): Unit = {
    val plant = args.contains("--plant")
    val spark = graft.LocalSession(8, logLevel = "ERROR", shufflePartitions = 32,
      extensions = false)
    val d = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.01")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    // Parquet-scan counter over the EXECUTED plan tree (r14, verdict
    // item 8): a duplicated-subtree regression — e.g. a dropped Mat
    // materialization re-inlining a token/shingle/fact chain per
    // consumer — re-inlines its scans, so pinning the expected count
    // fails the gate loudly. InMemoryTableScan / ReusedExchange /
    // LogicalRDD leaves deliberately count 0: their subtree executes
    // once elsewhere.
    def countNodes(p: org.apache.spark.sql.execution.SparkPlan)(
        pred: org.apache.spark.sql.execution.SparkPlan => Boolean): Int = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val self = if (pred(p)) 1 else 0
      val nested = p match {
        case a: AdaptiveSparkPlanExec => countNodes(a.executedPlan)(pred)
        case q: QueryStageExec => countNodes(q.plan)(pred)
        case _ => 0
      }
      self + nested + p.children.map(countNodes(_)(pred)).sum
    }
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Int =
      countNodes(p)(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    def scanGate(name: String, df: org.apache.spark.sql.DataFrame,
        maxScans: Int): Unit = {
      df.collect() // finalize AQE so reuse/caching decisions are real
      val n = scansOf(df.queryExecution.executedPlan)
      println(f"== scan-gate $name%-26s parquet-scans=$n%2d max=$maxScans%2d")
      if (n > maxScans)
        failures += s"$name: $n parquet scans in the executed plan (expected <= $maxScans)"
    }
    def shape(name: String, df: org.apache.spark.sql.DataFrame,
        allowBnlj: Int = 0): Unit = {
      val plan = df.queryExecution.executedPlan
      val p = plan.toString
      def count(s: String) = s.r.findAllIn(p).size
      // cartesian/BNLJ failures count TREE nodes, not string matches:
      // an InMemoryRelation prints its cached plan as inner children,
      // so a string count would re-count a cached subtree's (bounded,
      // already-audited) BNLJ once per cache reference (r14)
      val cartesian = countNodes(plan)(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
      val bnlj = countNodes(plan)(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
      println(f"== $name%-28s exchanges=${count("Exchange")}%2d reused=${count("ReusedExchange")}%2d bhj=${count("BroadcastHashJoin")}%2d smj=${count("SortMergeJoin")}%2d cartesian=$cartesian%2d bnlj=$bnlj%2d")
      if (cartesian > 0) failures += s"$name: $cartesian CartesianProduct"
      if (bnlj > allowBnlj)
        failures += s"$name: $bnlj BroadcastNestedLoop (allowed $allowBnlj)"
    }
    shape("dedup_semantic_kmeans", graft.pipeline.VectorOps.semanticDedupKmeans(spark, d))
    shape("text_vocab_coverage", graft.pipeline.TextOps.vocabCoverage(spark, d))
    shape("text_boilerplate", graft.pipeline.TextOps.boilerplate(spark, d))
    shape("corpus_threshold_sweep", graft.pipeline.TextOps.thresholdSweep(spark, d))
    shape("sample_temperature", graft.pipeline.TextOps.sampleTemperature(spark, d))
    shape("sample_stratified", graft.pipeline.TextOps.sampleStratified(spark, d))
    shape("mm_video_frames", graft.pipeline.Multimodal.mmVideoFrames(spark, d))
    // the vocab must reach the corpus join as a TakeOrdered + broadcast,
    // the threshold sweep must be ONE aggregate over the scan
    println("vocab TakeOrdered: " + graft.pipeline.TextOps.vocabCoverage(spark, d)
      .queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"))
    // round-9 late additions; the single ann/bm25/ppl BNLJ legs are the
    // queryGated query-batch broadcasts / plan-constant threshold rows
    shape("text_entropy", graft.pipeline.TextOps.charEntropy(spark, d))
    shape("text_ppl_buckets", graft.pipeline.TextOps.pplBuckets(spark, d), allowBnlj = 1)
    shape("corpus_vocab_growth", graft.pipeline.TextOps.vocabGrowth(spark, d))
    shape("dedup_containment", graft.pipeline.Dedup.containment(spark, d))
    shape("ann_sq", graft.pipeline.VectorOps.annSq(spark, d), allowBnlj = 1)
    shape("ann_sq bigbatch", graft.pipeline.VectorOps.annSqBatch(spark, d, 10000000L), allowBnlj = 1)
    shape("ann_ivfpq (residual)", graft.pipeline.VectorOps.annIvfPq(spark, d), allowBnlj = 1)
    shape("ann_ivfpq bigbatch", graft.pipeline.VectorOps.annIvfPqBatch(spark, d, 10000000L), allowBnlj = 1)
    shape("ann_pq bigbatch", graft.pipeline.VectorOps.annPqBatch(spark, d, 10000000L), allowBnlj = 1)
    shape("q18 (AQE)", graft.operators.CoreQueries.q18BigOrders(spark, d))
    // wave-3/4 additions
    shape("text_bm25", graft.pipeline.TextOps.bm25(spark, d), allowBnlj = 1)
    shape("corpus_zipf", graft.pipeline.TextOps.corpusZipf(spark, d))
    shape("dedup_span_removal", graft.pipeline.Dedup.spanRemoval(spark, d))
    shape("corpus_embedding_drift", graft.pipeline.VectorOps.embeddingDrift(spark, d))
    shape("search_hybrid_rrf", graft.pipeline.VectorOps.hybridRrf(spark, d), allowBnlj = 2)
    shape("text_bpe_encode", graft.pipeline.TextOps.bpeEncode(spark, d))
    // bm25's top-N must plan as TakeOrderedAndProject, never a global sort
    println("bm25 TakeOrdered: " + graft.pipeline.TextOps.bm25(spark, d)
      .queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"))
    // q18 at runtime: does AQE broadcast the tiny survivor set?
    val q18 = graft.operators.CoreQueries.q18BigOrders(spark, d)
    q18.collect()
    val after = q18.queryExecution.executedPlan.toString
    println("q18 post-AQE broadcast: " + after.contains("BroadcastHashJoin"))
    // r10 additions
    shape("sample_epochs", graft.pipeline.TextOps.sampleEpochs(spark, d))
    shape("corpus_source_overlap_sketch", graft.pipeline.Dedup.sourceOverlapSketch(spark, d))
    // the epoch planner's ONLY exchange is the |sources|-row aggregate;
    // the corpus side is scan + broadcast-join + explode
    val se = graft.pipeline.TextOps.sampleEpochs(spark, d)
    val sePlan = se.queryExecution.executedPlan.toString
    println("sample_epochs corpus shuffle-free: " +
      !sePlan.contains("SortMergeJoin") + " broadcast: " + sePlan.contains("BroadcastHashJoin"))
    // r11 additions
    shape("ann_ivfpq_persisted", graft.pipeline.AnnIndex.annIvfPqPersisted(spark, d), allowBnlj = 2)
    shape("text_unigram_encode", graft.pipeline.UnigramLm.unigramEncode(spark, d))
    shape("dedup_passjoin", graft.pipeline.Dedup.editDistancePairsPassJoin(spark, d), allowBnlj = 1)
    // dv-mode read: the delete side must be ONE broadcast bitmap join,
    // never a cartesian/nested-loop; build a small dv table inline
    locally {
      import org.apache.spark.sql.functions.col
      val root = "/root/repo/target/lakework/planaudit-dv"
      val t = graft.lake.GraftTable.create(spark, root,
        graft.Tables.orders(spark, d).repartition(col("o_orderstatus")),
        Seq("o_orderstatus"))
      t.setProperty(graft.lake.GraftTable.DeleteModeProp, "dv")
      t.delete(col("o_orderkey") % 97 === 0)
      t.delete(col("o_orderkey") % 101 === 0)
      val rd = t.read()
      shape("lake dv read", rd)
      println("dv read broadcast bitmap join: " +
        rd.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
    }
    // r12/r13 additions: both miners (the exact oracle's anchors×corpus
    // join is a deliberate broadcast non-equi demonstration plan — 1
    // bounded BNLJ; the indexed miner must share the persisted-query
    // shape), the foreign-Iceberg import's read, the auto-compacted
    // read, and the synced index's query path (equality-MOR codes)
    shape("mine_hard_negatives (exact)", graft.pipeline.VectorOps.mineHardNegatives(spark, d), allowBnlj = 1)
    shape("mine_hard_negatives_indexed", graft.pipeline.AnnIndex.mineHardNegativesIndexed(spark, d), allowBnlj = 2)
    shape("lake_iceberg_foreign read", graft.operators.GateQueries.lakeIcebergForeign(spark, d))
    shape("lake_autocompact read", graft.operators.GateQueries.lakeAutoCompact(spark, d))
    locally {
      import org.apache.spark.sql.functions.col
      val root = "/root/repo/target/lakework/planaudit-annsync"
      val corpusRoot = s"$root/corpus"
      val emb = graft.Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding"))
      val corpusT = graft.lake.GraftTable.create(spark, corpusRoot, emb)
      graft.pipeline.AnnIndex.buildFromTable(spark, corpusT, s"$root/idx")
      corpusT.delete(col("vec_id") % 37 === 1)
      graft.pipeline.AnnIndex.sync(spark, corpusT, s"$root/idx")
      val q = corpusT.read().filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      shape("synced index query (MOR codes)",
        graft.pipeline.AnnIndex.query(spark, s"$root/idx", corpusT.read(), q, 10L),
        allowBnlj = 2)
    }
    // r13 additions: the GD-trained classifier (token table must
    // checkpoint once, no weight broadcast), and the transactional
    // entries' read paths
    shape("text_lr_quality", graft.pipeline.TextOps.lrQuality(spark, d))
    shape("lake_txn read", graft.operators.GateQueries.lakeTxn(spark, d))
    // r14 scan gates: the single-pass shapes whose 100 TB claim is
    // "the fact/token/shingle chain executes ONCE" — every shared
    // subtree is a Mat/localCheckpoint leaf in the executed plan, so
    // the direct parquet-scan count pins the claim. Expected values:
    // (calibrated against the executed plans at sf0.01: cached legs
    // surface as InMemoryTableScan/LogicalRDD leaves that count 0 —
    // their single materialization happens inside the cache; entries
    // whose EVERY consumer reads a cache legitimately show 0)
    scanGate("q21_waiting", graft.operators.CoreQueries.q21Waiting(spark, d), 1)
    scanGate("q15_top_supplier", graft.operators.CoreQueries.q15TopSupplier(spark, d), 1)
    scanGate("dedup_ngram_jaccard", graft.pipeline.Dedup.ngramJaccard(spark, d), 1)
    scanGate("text_tfidf", graft.pipeline.TextOps.tfidf(spark, d), 1)
    scanGate("text_bm25", graft.pipeline.TextOps.bm25(spark, d), 2)
    scanGate("text_unigram_lp", graft.pipeline.TextOps.unigramLogprob(spark, d), 0)
    scanGate("corpus_divergence", graft.pipeline.TextOps.corpusDivergence(spark, d), 0)
    scanGate("text_dup_spans", graft.pipeline.TextOps.dupSpans(spark, d), 1)
    if (plant) {
      // gate self-test: a deliberate cartesian must fail the run
      // (broadcast disabled so the plan is CartesianProduct, not a
      // small-side BNLJ — both classes fail, this pins the former)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = graft.Tables.region(spark, d)
      shape("planted cartesian", a.crossJoin(a.select(org.apache.spark.sql.functions.col("r_regionkey").as("rk2"))))
      // scan-gate self-test: a re-planned subtree that exchange reuse
      // CANNOT collapse (distinct filters — the shape a dropped
      // materialization degenerates to) must trip the count
      locally {
        import org.apache.spark.sql.functions._
        val o = graft.Tables.orders(spark, d)
        val a = o.filter(col("o_orderkey") % 2 === 0)
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        val b = o.filter(col("o_orderkey") % 2 =!= 0)
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        scanGate("planted duplicated subtree",
          a.unionByName(b).groupBy(col("o_orderstatus"))
            .agg(sum(col("n")).as("n")), 1)
      }
    }
    spark.stop()
    if (failures.nonEmpty) {
      println("PLANAUDIT FAIL:")
      failures.foreach(f => println("  " + f))
      sys.exit(1)
    }
    println("PLANAUDIT OK")
  }
}
