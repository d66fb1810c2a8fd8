package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.exprs

/** Embedding similarity operators (SURVEY.md §2.C5–C7) over the
  * `embeddings` table (vec_id, embedding array<float>, label).
  *
  * Cosines are computed by the codegen'd
  * [[graft.functions.CosineSim]] expression — double accumulation in
  * index order, so the DuckDB oracle (`list_dot_product` on DOUBLE[])
  * lands on the same rounded value.
  *
  * Scale shape: the exact variants (C5 pair scan, C6 brute-force) are
  * the correctness baseline and stay O(n·q) / O(n²); the LSH variant
  * (C7) is the 100 TB path — signature is a narrow map, the join is
  * keyed on (band, bits), and only candidates pay the full cosine.
  */
object VectorOps {

  /** The production duplicate gate: real embedding dedup rejects at
    * high cosine (near-identical content), where the adaptive probe
    * radius is 0 and candidate volume is ~0.06 n² (see
    * [[embeddingPairsOf]]'s cost analysis). The driver entry runs HERE.
    */
  val ProdCosThreshold = 0.8

  /** The weak-threshold gear kept for completeness: at cos ≥ 0.46 the
    * probe radius must widen to 2 and candidates degenerate to ~2.3 n²
    * (measured 54 s at n = 20 k vs 2.0 s for the radius-0 gear —
    * intrinsically super-quadratic, since sign-RP bits carry too little
    * signal per projection at weak thresholds for ANY banding scheme to
    * be sub-quadratic). Reach it explicitly via [[embeddingPairsAt]];
    * it is deliberately NOT a driver entry.
    */
  val WeakCosThreshold = 0.46
  val TopK = 5
  val NQueries = 10
  val LshSeed = 77L

  /** Planted near-duplicates for the C5 oracle corpus: the synthetic
    * embeddings have no natural pairs above the production gate, so the
    * oracle would be vacuous. For each vec_id < [[PlantCount]] we append
    * a copy with the last 4 dims ZEROED under id + [[PlantIdOffset]] —
    * zeroing is exactly representable in BOTH engines (no float
    * arithmetic, so Spark and DuckDB build bit-identical corpora), and
    * cos(v, v′) = |v₁..₆₀|/|v| lands in 0.90–0.995 on the test corpora:
    * non-trivially above the 0.8 gate, different for every pair.
    */
  val PlantCount = 40
  // above every real and ScaleBench-synthetic vec_id (those use i·10⁶)
  val PlantIdOffset = 100000000L
  val PlantKeepDims = 60
  val EmbDim = 64

  private def embOf(corpus: DataFrame, prefix: String): DataFrame =
    corpus.select(
      col("vec_id").as(s"${prefix}_id"), col("embedding").as(s"${prefix}_emb"))

  private def emb(s: SparkSession, d: String, prefix: String): DataFrame =
    embOf(Tables.embeddings(s, d), prefix)

  /** The embeddings table plus [[PlantCount]] planted near-dups. */
  private[graft] def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < PlantCount)
      .select((col("vec_id") + PlantIdOffset).as("vec_id"),
        concat(slice(col("embedding"), 1, PlantKeepDims),
          array(Seq.fill(EmbDim - PlantKeepDims)(lit(0.0f)): _*)).as("embedding"))
    base.unionByName(planted)
  }

  /** C5 `dedup_embedding`: near-duplicate pairs at the PRODUCTION gate
    * (cos ≥ 0.8, radius-0 probing) over the planted corpus — LSH-banded
    * candidate generation + exact cosine verification, never an
    * all-pairs scan. The oracle recomputes the same planted corpus in
    * DuckDB and exact-scans it, so recall at the production gate is
    * oracle-checked, not just spec-measured.
    */
  def embeddingPairs(s: SparkSession, d: String): DataFrame =
    embeddingPairsOf(plantedCorpus(s, d), ProdCosThreshold)

  def embeddingPairsAt(s: SparkSession, d: String, threshold: Double): DataFrame =
    embeddingPairsOf(Tables.embeddings(s, d), threshold)

  /** The weak-threshold gear with an EXPLICIT probe-radius cap — the
    * candidate-volume dial for corpora where the adaptive radius's
    * full recall is not worth its cost (radius 2 at cos ≥ 0.46 is
    * ~2.3 n² candidates — measured, intrinsic to weak thresholds; see
    * [[embeddingPairsOf]]). Capping to radius r < adaptive keeps the
    * same verification exactness on a SUBSET of candidate pairs:
    * precision stays 1.0, recall degrades gracefully (each band still
    * matches within r bit flips), candidates drop to the radius-r
    * volume. The 100× ScaleBench runs the weak gear through this cap.
    */
  def embeddingPairsAtCapped(s: SparkSession, d: String, threshold: Double,
      radiusCap: Int): DataFrame =
    embeddingPairsOf(Tables.embeddings(s, d), threshold, Some(radiusCap))

  /** LSH-banded pair search over an arbitrary corpus.
    * Sign-random-projection signatures (4 × 32 bits) are cut into
    * 16 bands × 8 bits; the probe side explodes each band value plus
    * its ≤radius-bit flips, so a pair is a candidate iff some band
    * differs in at most `radius` of its 8 bits. Only id-pairs travel
    * through the candidate join (embeddings are joined back just for
    * the verify), so shuffle width stays O(ids).
    *
    * COST vs THRESHOLD (measured, ScaleBench 20 k vectors): the probe
    * radius is what candidate volume rides on. At the production gate
    * (cos ≥ 0.75, p_bit ≥ 0.77) radius 0 misses < 1e-3 per 16 bands
    * and candidates are ~0.06 n² — the 100 TB regime. At p_bit ≈ 0.65
    * (cos 0.46) a radius-2 probe admits ~37/256 of every band's
    * buckets ⇒ candidates ≈ 2.3 n² (57 s at n = 20 k): intrinsic to
    * weak thresholds, which is why the radius ADAPTS to the threshold
    * instead of being fixed.
    */
  def embeddingPairsOf(base: DataFrame, threshold: Double,
      radiusCap: Option[Int] = None): DataFrame = {
    // 16 band values (8 bits each) from 4 independent 32-bit signatures
    def bandCols(embc: Column): Seq[Column] =
      (0 until 4).flatMap { g =>
        val sig = exprs.lshSig(embc, LshSeed + g, 32)
        (0 until 4).map(b => shiftrightunsigned(sig, b * 8).bitwiseAND(lit(0xFFL)))
      }
    val idx = base.select(col("vec_id").as("b_id"),
      posexplode(array(bandCols(col("embedding")): _*)).as(Seq("band", "bits")))
    // Probe radius by threshold (see Scaladoc): p_bit = 1 - acos(t)/π;
    // per-band hit P = Σ_{k≤r} C(8,k)·p^(8-k)·(1-p)^k; radius chosen so
    // 16 bands keep the miss rate ≤ ~1e-3 at each gate. `radiusCap`
    // bounds it explicitly (see [[embeddingPairsAtCapped]]).
    val adaptive = if (threshold >= 0.75) 0 else if (threshold >= 0.6) 1 else 2
    val radius = radiusCap.fold(adaptive)(math.min(adaptive, _))
    val masks: Seq[Long] = Seq(0L) ++
      (if (radius >= 1) (0 until 8).map(i => 1L << i) else Seq.empty) ++
      (if (radius >= 2)
         for (i <- 0 until 8; j <- i + 1 until 8) yield (1L << i) | (1L << j)
       else Seq.empty)
    val probed = base.select(col("vec_id").as("a_id"),
        posexplode(array(bandCols(col("embedding")): _*)).as(Seq("band", "bits0")))
      .select(col("a_id"), col("band"),
        explode(array(masks.map(m => col("bits0").bitwiseXOR(lit(m))): _*)).as("bits"))
    // Candidates are NOT deduplicated before the verify: a pair
    // collides in ~2-3 bands on average, and re-verifying a duplicate
    // costs 64 codegen'd FLOPs — far cheaper than shuffling the full
    // candidate set through a distinct. Dedup happens after the
    // threshold filter, where survivors are a vanishing fraction.
    val cand = probed.join(idx, Seq("band", "bits"))
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
              greatest(col("a_id"), col("b_id")).as("b_id"))
    cand
      .join(embOf(base, "a"), "a_id")
      .join(embOf(base, "b"), "b_id")
      .withColumn("cos_raw", exprs.cosineSim(col("a_emb"), col("b_emb")))
      .filter(col("cos_raw") >= threshold)
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        round(col("cos_raw"), 6).as("cos_sim"))
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The exact all-pairs scan — O(n²), the correctness oracle for
    * [[embeddingPairsOf]]' recall. Spec-only: never shipped as the op.
    */
  private[graft] def embeddingPairsExactOf(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = embOf(corpus, "a")
    val b = embOf(corpus, "b")
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_raw", exprs.cosineSim(col("a_emb"), col("b_emb")))
      .filter(col("cos_raw") >= threshold)
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private[graft] def embeddingPairsExact(s: SparkSession, d: String): DataFrame =
    embeddingPairsExactOf(Tables.embeddings(s, d), WeakCosThreshold)

  /** Oracle for `dedup_embedding`: rebuild the planted corpus (the
    * UNION ALL mirrors [[plantedCorpus]] exactly — a slice plus literal
    * zeros, no float arithmetic, so both engines hash identical pair
    * sets) and exact-scan it at the production gate.
    */
  val embeddingPairsSql: String =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |e AS (
       |  SELECT vec_id, v FROM e0
       |  UNION ALL
       |  SELECT vec_id + $PlantIdOffset,
       |         v[1:$PlantKeepDims] || [0.0, 0.0, 0.0, 0.0]
       |  FROM e0 WHERE vec_id < $PlantCount)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(list_dot_product(a.v, b.v)
       |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v)
       |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $ProdCosThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** C6 `ann_bruteforce`: exact top-k neighbors for the query set
    * (vec_id < 10), ranked on the 6-dp-rounded cosine with vec_id
    * tie-break so rank order is engine-independent. The query side is
    * broadcast — the corpus is never shuffled, which is the right shape
    * when queries ≪ corpus.
    */
  def annBruteforce(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = emb(s, d, "n")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    broadcast(q).join(c, col("query_id") =!= col("n_id"))
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("n_id").as("neighbor_id"), col("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annBruteforceSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sims AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    round(list_dot_product(q.v, n.v)
       |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS cos_sim
       |  FROM e q JOIN e n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NQueries)
       |SELECT query_id, neighbor_id, cos_sim,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |FROM sims
       |QUALIFY rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** C78 `mine_hard_negatives`: hard-negative mining for
    * embedding-model training (the DPR/SimCSE/E5 recipe): for each
    * anchor, the [[HardNegK]] most-similar corpus vectors whose cosine
    * sits BELOW the near-dup ceiling — the closest NON-duplicates, the
    * negatives that actually move a contrastive loss (above the
    * ceiling they are positives/dups mislabeled as negatives; far
    * below it they are easy negatives the loss ignores). Exact band +
    * rank here so the full semantics oracle; the scale path is
    * [[AnnIndex.mineHardNegatives]] — the identical ceiling-filter +
    * rank composed onto the persisted index's probed-partition scan,
    * O(anchors × probed-lists) instead of this anchors × corpus
    * demonstration join — invariant-checked against this oracle by
    * `mine_hard_negatives_indexed_check`.
    */
  val HardNegK = 8
  val HardNegCeil = 0.95
  def mineHardNegatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("q_emb"))
    val c = emb(s, d, "n")
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    broadcast(q).join(c, col("anchor_id") =!= col("n_id"))
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("n_emb")), 6))
      .filter(col("cos_sim") < HardNegCeil)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= HardNegK)
      .select(col("anchor_id"), col("n_id").as("negative_id"),
        col("cos_sim"), col("rank"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  val mineHardNegativesSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sims AS (
       |  SELECT q.vec_id AS anchor_id, n.vec_id AS negative_id,
       |    round(list_dot_product(q.v, n.v)
       |          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS cos_sim
       |  FROM e q JOIN e n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NQueries)
       |SELECT anchor_id, negative_id, cos_sim,
       |  row_number() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, negative_id) AS rank
       |FROM sims
       |WHERE cos_sim < $HardNegCeil
       |QUALIFY rank <= $HardNegK
       |ORDER BY anchor_id, rank""".stripMargin

  /** C7 `ann_lsh`: sign-random-projection LSH — 32-bit signatures,
    * 8 bands × 4 bits (8 hash tables); a corpus vector is a candidate
    * iff it shares a band value with the query. Only candidates pay the exact cosine;
    * the per-band join is keyed (shuffle ∝ candidates, not corpus²).
    * Probabilistic recall → no SQL oracle (rows-only driver check);
    * the spec measures recall against C6.
    */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bandCols(embc: String) = {
      val sig = exprs.lshSig(col(embc), LshSeed, 32)
      (0 to 7).map(b => shiftrightunsigned(sig, b * 4).bitwiseAND(lit(0xFL)))
    }
    // corpus side: exact band values only (index stays linear in corpus)
    val c = {
      val df = emb(s, d, "n")
      df.select(col("n_id"), col("n_emb"),
        posexplode(array(bandCols("n_emb"): _*)).as(Seq("band", "bits")))
    }
    // query side: multiprobe — each band value plus its four 1-bit
    // flips, so a near-neighbor differing by one projection bit in
    // every band is still found; probing cost stays on the (small)
    // query side, never on the corpus.
    val q = {
      val df = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val probed = bandCols("q_emb").zipWithIndex.flatMap { case (bc, b) =>
        (Seq(bc) ++ (0 to 3).map(bit => bc.bitwiseXOR(lit(1L << bit))))
          .map(v => struct(lit(b).as("band"), v.as("bits")))
      }
      df.select(col("query_id"), col("q_emb"),
          explode(array(probed: _*)).as("p"))
        .select(col("query_id"), col("q_emb"), col("p.band").as("band"), col("p.bits").as("bits"))
    }
    val cand = broadcast(q).join(c, Seq("band", "bits"))
      .filter(col("query_id") =!= col("n_id"))
      .select(col("query_id"), col("q_emb"), col("n_id"), col("n_emb"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    cand
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("n_id").as("neighbor_id"), col("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** INVARIANT check for an approximate ANN variant, as a driver entry
    * (VALUES-style oracle, valid at every scale): the variant's top-k
    * is rank-dominated by the exact top-k — at every (query, rank) the
    * exact neighbor's cosine is ≥ the variant's (nothing a sketch
    * returns can beat the exact answer), scores come from the same
    * exact-cosine rerank, and the result is full (k rows per query).
    * Recall@k is measured by specs, not asserted: 32-bit signatures /
    * probed lists cannot analytically guarantee it at every scale, so
    * the exact-equality oracle belongs to [[annBruteforce]] alone.
    */
  private[pipeline] def annCheck(s: SparkSession, d: String,
      variant: (SparkSession, String) => DataFrame): DataFrame = {
    val bf = annBruteforce(s, d).select(
      col("query_id"), col("rank"), col("cos_sim").as("bf_cos"))
    val v = variant(s, d).select(
      col("query_id"), col("rank"), col("cos_sim").as("v_cos"))
    val dominanceViolations = bf.join(v, Seq("query_id", "rank"))
      .filter(col("v_cos") > col("bf_cos")).count()
    val missingRows = NQueries.toLong * TopK - v.count()
    import s.implicits._
    Seq((dominanceViolations, missingRows))
      .toDF("dominance_violations", "missing_rows")
  }

  def annLshCheck(s: SparkSession, d: String): DataFrame = annCheck(s, d, annLsh)
  def annIvfCheck(s: SparkSession, d: String): DataFrame = annCheck(s, d, annIvf)
  def annPqCheck(s: SparkSession, d: String): DataFrame = annCheck(s, d, annPq)

  val annCheckSql: String =
    "SELECT CAST(0 AS BIGINT) AS dominance_violations, CAST(0 AS BIGINT) AS missing_rows"

  val IvfLists = 16
  val IvfProbes = 6

  /** ANN query-side broadcast gate — the A56 recorded-size pattern
    * ([[graft.lake.GraftTable.minusDvDeletes]]) applied to the query
    * batch: per-query LUTs/probes/candidate sets broadcast only while
    * their estimated bytes fit under this threshold (32 MB, matching
    * the MOR delete-set gate's default). The benched 10-query batch is
    * KBs and broadcasts; a million-query batch is GBs and must NOT —
    * above the gate the join shuffles on its key instead (query_id /
    * cluster / n_id), which is the plan that survives unbounded query
    * volume. The estimate is arithmetic over the KNOWN batch size —
    * never a count() job.
    */
  val QueryBroadcastMaxBytes: Long = 32L << 20

  private[pipeline] def queryGated(df: DataFrame, estBytes: Long): DataFrame =
    if (estBytes <= QueryBroadcastMaxBytes) broadcast(df) else df

  /** Quantizer-training cap: Lloyd iterations run over a deterministic
    * `vec_id % mod == 0` sample of at most ~this many vectors (k-means
    * quality saturates long before the full corpus is consumed — at
    * 100 TB training on every vector would make indexing O(corpus ×
    * iterations) for no recall gain). `mod = ceil(n / cap)` keeps the
    * sample exact-reproducible with zero RNG state; below the cap the
    * sample IS the corpus, so small-SF behavior (and the recall specs)
    * are unchanged.
    */
  val QuantizerTrainCap = 4096L

  private[graft] def trainSample(all: DataFrame): DataFrame = {
    val n = all.count()
    val mod = (n + QuantizerTrainCap - 1) / QuantizerTrainCap
    if (mod <= 1L) all else all.filter(pmod(col("vec_id"), lit(mod)) === 0)
  }

  /** C13 `ann_ivf`: inverted-file ANN — a coarse quantizer (seeded
    * k-means, 2 Lloyd iterations run *in Spark*) partitions the corpus
    * into nlist inverted lists; a query probes its nprobe nearest
    * centroids and pays exact cosine only inside those lists. The
    * assignment is the codegen'd [[graft.functions.NearestCentroid]]
    * narrow map, so indexing is one pass + one small agg per
    * iteration; the quantizer trains on a deterministic capped sample
    * ([[QuantizerTrainCap]] — at 100 TB the Lloyd passes cost the
    * sample, not the corpus) and you keep the assignment column
    * materialized (it is exactly a graft-lake `bucket`-style partition
    * column — probing = partition pruning).
    * Probabilistic recall → rows-only driver check; spec measures
    * recall against C6.
    */
  /** Coarse-quantizer training shared by IVF and IVFPQ: deterministic
    * init (the [[IvfLists]] lowest non-query vec_ids), 2 Lloyd
    * iterations over the capped [[trainSample]]. Only the k×dim
    * centroid matrix ever reaches the driver.
    */
  private[pipeline] def ivfCentroids(all: DataFrame, train: DataFrame): Array[Array[Double]] =
    kmeansFit(all.filter(col("vec_id") >= 100), train, IvfLists)

  /** The shared coarse-quantizer fit (IVF, IVFPQ, and the k-means
    * SemDeDup seeds all train HERE): deterministic init (the k lowest
    * vec_ids of `init`), 2 Lloyd iterations over the capped
    * deterministic `train` sample, unit-normalized means (so argmax
    * dot ≡ argmax cosine downstream). Only the k×dim centroid matrix
    * ever reaches the driver; each iteration is one narrow-map
    * assignment + one small aggregation.
    */
  private[graft] def kmeansFit(init: DataFrame, train: DataFrame,
      k: Int): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    var cents: Array[Array[Double]] = init
      .orderBy(col("vec_id")).limit(k)
      .collect().map(r => normalize(r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    for (_ <- 1 to 2) {
      val assigned = train.select(
        exprs.nearestCentroid(col("embedding"), cents).as("cluster"),
        col("embedding"))
      val means = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim")).agg(avg(col("x")).as("m"))
        .collect().groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> normalize(rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray) }
      cents = cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** Per-query nprobe nearest centroids, computed as a DISTRIBUTED
    * broadcast-join over the query DataFrame — no query vector ever
    * reaches the driver, so a million-query batch plans the same way
    * a 10-query one does (centroids are unit-norm, so ranking by
    * cosine ≡ ranking by dot). Returns (query_id, cluster).
    */
  private def ivfProbes(s: SparkSession, all: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    // centroids stay array<double> — the trained precision — so probe
    // ranking agrees bit-for-bit with the corpus-side nearestCentroid
    // assignment (a float downcast can flip a near-tie probe choice
    // away from the list the true nearest assignment lives in)
    val centsDf = broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cluster", "c_emb"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("c_dot").desc, col("cluster"))
    all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .crossJoin(centsDf)
      .withColumn("c_dot", exprs.cosineSimFD(col("embedding"), col("c_emb")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= IvfProbes)
      // qc_dot = RAW dot(q, centroid): the additive coarse term of the
      // residual-ADC score (cosine won't do — it is scaled by 1/|q|,
      // while the ADC term is not)
      .select(col("query_id"), col("cluster"),
        exprs.dotFD(col("embedding"), col("c_emb")).as("qc_dot"))
  }

  def annIvf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Tables.embeddings(s, d)
    val cents = ivfCentroids(all, trainSample(all))

    val corpus = all.select(
      col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      exprs.nearestCentroid(col("embedding"), cents).as("cluster"))

    val probes = ivfProbes(s, all, cents)
    val qdf = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .join(broadcast(probes), "query_id")

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    broadcast(qdf).join(corpus, Seq("cluster"))
      .filter(col("query_id") =!= col("n_id"))
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("n_id").as("neighbor_id"), col("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C26 `ann_pq`: product-quantization ANN — the memory-compression
    * half of FAISS-style IVFPQ. The 64-dim corpus is split into M=8
    * subspaces; each subspace gets a K=16-code k-means codebook
    * (trained IN Spark: assignment is the codegen'd
    * [[graft.functions.NearestCentroid]] over L2-augmented codebooks —
    * argmin‖x−c‖² ≡ argmax(x·c − ‖c‖²/2), realized by appending a
    * constant-1 dimension to the subvector and −‖c‖²/2 to the code, so
    * the max-dot kernel does L2 without a new expression). A vector
    * compresses 64 floats → 8 nibble codes (64×→4 B); queries score
    * the whole corpus via an ADC lookup table (M×K dots, computed
    * distributed over the query DataFrame against the broadcast
    * codebook) and exact-rerank the top 50 by true cosine. At 100 TB the codes column is what you keep hot
    * (26 GB per 10⁹ vectors vs 256 GB raw) and you put the C13 coarse
    * quantizer in front — both building blocks are here. Probabilistic
    * recall → rows-only driver check; the spec bounds recall@5 vs C6.
    */
  private[pipeline] val PqM = 8; private[pipeline] val PqK = 16
  private[pipeline] val PqSub = EmbDim / PqM
  /** Lloyd iterations for the PQ codebooks — each costs one small agg
    * over the capped [[trainSample]], so the dial is cheap at any SF.
    */
  private val PqLloydIterations = 2

  private[pipeline] def pqSubvec(embc: Column, m: Int): Column = slice(embc, m * PqSub + 1, PqSub)
  // L2 augmentation: x' = [x, 1], c' = [c, -|c|^2/2] (see annPq scaladoc)
  private[pipeline] def pqAug(embc: Column, m: Int): Column =
    concat(pqSubvec(embc, m), array(lit(1.0f)))
  private[pipeline] def pqAugBook(book: Array[Array[Double]]): Array[Array[Double]] =
    book.map(c => c :+ (-c.map(x => x * x).sum / 2))

  /** PQ codebook training shared by PQ and IVFPQ: deterministic init
    * (subvectors of the K lowest non-query vec_ids), 2 Lloyd
    * iterations over the capped [[trainSample]], one shuffle each:
    * explode (m, code, dim) → mean.
    */
  private[pipeline] def pqBooks(all: DataFrame, train: DataFrame,
      iterations: Int = PqLloydIterations): Array[Array[Array[Double]]] = {
    val M = PqM; val K = PqK; val Sub = PqSub
    var books: Array[Array[Array[Double]]] = {
      val seed = all.filter(col("vec_id") >= NQueries)
        .orderBy(col("vec_id")).limit(K).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      Array.tabulate(M)(m => seed.map(_.slice(m * Sub, (m + 1) * Sub)))
    }
    for (_ <- 1 to iterations) {
      val assigned = train.select(
        explode(array((0 until M).map(m => struct(
          lit(m).as("m"),
          exprs.nearestCentroid(pqAug(col("embedding"), m), pqAugBook(books(m))).as("code"),
          pqSubvec(col("embedding"), m).as("sv"))): _*)).as("a"))
      val means = assigned
        .select(col("a.m"), col("a.code"), posexplode(col("a.sv")).as(Seq("dim", "x")))
        .groupBy(col("m"), col("code"), col("dim")).agg(avg(col("x")).as("mu"))
        .collect().groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rows) => k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray }
      books = Array.tabulate(M)(m => Array.tabulate(K)(k =>
        means.getOrElse((m, k), books(m)(k))))
    }
    books
  }

  /** Encode the corpus: M nibble codes per vector (the compressed
    * index). Returns (n_id, codes).
    */
  private def pqCodes(all: DataFrame, books: Array[Array[Array[Double]]]): DataFrame =
    all.select(col("vec_id").as("n_id"),
      array((0 until PqM).map(m =>
        exprs.nearestCentroid(pqAug(col("embedding"), m), pqAugBook(books(m)))): _*).as("codes"))

  /** Per-query ADC lookup tables, computed DISTRIBUTED over the query
    * DataFrame against the broadcast codebook (see annPq scaladoc).
    * Returns (query_id, lut).
    */
  private def pqLuts(s: SparkSession, all: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    val M = PqM; val K = PqK
    val booksDf = broadcast((0 until M).flatMap(m => (0 until K).map(k =>
      (m, k, books(m)(k)))).toDF("m", "code", "c_sub"))
    all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        explode(array((0 until M).map(m => struct(
          lit(m).as("m"),
          pqSubvec(col("embedding"), m).cast("array<double>").as("q_sub"))): _*)).as("qs"))
      .select(col("query_id"), col("qs.m").as("m"), col("qs.q_sub").as("q_sub"))
      .join(booksDf, "m")
      .withColumn("dot", aggregate(
        zip_with(col("q_sub"), col("c_sub"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(
        (col("m") * K + col("code")).as("i"), col("dot").as("v")))).as("pairs"))
      .select(col("query_id"),
        transform(col("pairs"), p => p.getField("v")).as("lut"))
  }

  /** Per-list PQ codebook refinement: start every inverted list from
    * the shared residual-trained books, then run [[PqLloydIterations]]
    * cluster-keyed Lloyd passes over the capped train sample — one
    * narrow-map assignment ([[graft.functions.NearestCentroidBy]],
    * books as a plan constant) + one small aggregation per pass.
    * A (cluster, m, code) cell with no training members keeps its
    * shared-book entry, so sparse or empty lists degrade to exactly
    * the shared-codebook behavior instead of collapsing. Only the
    * nlist×M×K×sub mean matrix (~16k doubles at the defaults) ever
    * reaches the driver.
    */
  private[pipeline] def pqBooksPerList(train: DataFrame,
      shared: Array[Array[Array[Double]]]): Array[Array[Array[Array[Double]]]] = {
    val M = PqM; val K = PqK
    var books: Array[Array[Array[Array[Double]]]] =
      Array.fill(IvfLists)(shared.map(_.map(_.clone())))
    // ONE refinement pass: the init is the already-converged shared
    // book, so a single cluster-keyed Lloyd step captures the per-list
    // adaptation; a second pass measurably changes nothing but costs a
    // full train-sample job
    for (_ <- 1 to 1) {
      def augFor(m: Int) = books.map(b => pqAugBook(b(m)))
      val assigned = train.select(col("cluster"),
        explode(array((0 until M).map(m => struct(
          lit(m).as("m"),
          exprs.nearestCentroidBy(pqAug(col("embedding"), m), col("cluster"),
            augFor(m)).as("code"),
          pqSubvec(col("embedding"), m).as("sv"))): _*)).as("a"))
      val means = assigned
        .select(col("cluster"), col("a.m"), col("a.code"),
          posexplode(col("a.sv")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("m"), col("code"), col("dim"))
        .agg(avg(col("x")).as("mu"))
        .collect().groupBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(3)).map(_.getDouble(4)).toArray }
      books = Array.tabulate(IvfLists)(c => Array.tabulate(M)(m =>
        Array.tabulate(K)(k => means.getOrElse((c, m, k), books(c)(m)(k)))))
    }
    books
  }

  /** Per-(query, probed-list) ADC lookup tables for per-list codebooks,
    * computed DISTRIBUTED over the probe pairs against the broadcast
    * (cluster, m, code) book table — nlist·M·K rows, constant at any
    * query volume. Carries qc_dot through so the ADC scan needs no
    * extra join back to the probes. Returns (query_id, cluster,
    * qc_dot, lut).
    */
  private def pqLutsPerList(s: SparkSession, all: DataFrame, probes: DataFrame,
      books: Array[Array[Array[Array[Double]]]]): DataFrame = {
    import s.implicits._
    val M = PqM; val K = PqK
    val booksDf = broadcast(books.indices.flatMap(c =>
      (0 until M).flatMap(m => (0 until K).map(k =>
        (c, m, k, books(c)(m)(k))))).toDF("cluster", "m", "code", "c_sub"))
    val qsubs = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        explode(array((0 until M).map(m => struct(
          lit(m).as("m"),
          pqSubvec(col("embedding"), m).cast("array<double>").as("q_sub"))): _*)).as("qs"))
      .select(col("query_id"), col("qs.m").as("m"), col("qs.q_sub").as("q_sub"))
    probes.join(qsubs, "query_id")
      .join(booksDf, Seq("cluster", "m"))
      .withColumn("dot", aggregate(
        zip_with(col("q_sub"), col("c_sub"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("query_id"), col("cluster"), col("qc_dot"))
      .agg(array_sort(collect_list(struct(
        (col("m") * K + col("code")).as("i"), col("dot").as("v")))).as("pairs"))
      .select(col("query_id"), col("cluster"), col("qc_dot"),
        transform(col("pairs"), p => p.getField("v")).as("lut"))
  }

  /** Estimated broadcast bytes for a batch of per-query ADC LUTs
    * (M·K doubles + row overhead), the probe pairs, a top-50 candidate
    * set, and the raw query vectors.
    */
  private def lutBytes(nq: Long): Long = nq * (PqM.toLong * PqK * 8 + 64)
  private def probeLutBytes(nq: Long): Long = nq * IvfProbes * (PqM.toLong * PqK * 8 + 80)
  private def candBytes(nq: Long): Long = nq * 50L * 24
  private def qBytes(nq: Long): Long = nq * (EmbDim.toLong * 4 + 32)

  def annPq(s: SparkSession, d: String): DataFrame = annPqBatch(s, d, NQueries.toLong)

  /** `batchHint` = the query-batch row count the caller KNOWS (here
    * the fixed NQueries prefix; in production the size of the query
    * table, known from its manifest) — it drives [[queryGated]], never
    * a count() job.
    */
  private[graft] def annPqBatch(s: SparkSession, d: String, batchHint: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Tables.embeddings(s, d)
    val K = PqK
    val books = pqBooks(all, trainSample(all))
    val codes = pqCodes(all, books)

    val luts = pqLuts(s, all, books)

    // approximate dot = M table lookups via the codegen'd
    // [[graft.functions.AdcScore]] kernel — the whole corpus scan stays
    // inside whole-stage codegen (an equivalent aggregate/zip_with
    // lambda chain evaluates interpreted). A PQ-only scan is corpus ×
    // queries by definition: small batches broadcast the LUTs; above
    // the gate the product partitions both sides instead
    val approx = codes.crossJoin(queryGated(luts, lutBytes(batchHint)))
      .filter(col("query_id") =!= col("n_id"))
      .withColumn("a_score", exprs.adcScore(col("codes"), col("lut"), K))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("a_score").desc, col("n_id"))
    val cand = approx.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= 50)
      .select(col("query_id"), col("n_id"))

    // exact rerank of the PQ top-50: a small candidate set broadcasts
    // so the corpus side is a narrow probe; above the gate the rerank
    // shuffle-joins on n_id (|queries|·50 rows vs the corpus — the
    // corpus side shuffles once, which is the scale-correct trade)
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = emb(s, d, "n")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    queryGated(cand.join(queryGated(q, qBytes(batchHint)), "query_id"),
        candBytes(batchHint) + qBytes(batchHint))
      .join(c, "n_id")
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("n_id").as("neighbor_id"), col("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C55 `ann_sq`: scalar-quantization ANN (FAISS SQ8) — the third
    * compression family next to PQ (C26) and IVF (C13): each dimension
    * quantizes independently to one byte via a per-dim affine map
    * trained on the capped deterministic [[trainSample]] (lo/hi per
    * dim), 4× compression over float32 with no codebook at all. The
    * scan is asymmetric: dot(q, x̂) = dot(q, lo) + Σ w[j]·code[j] with
    * w[j] = q[j]·span[j]/255 folded once per query, so the corpus-side
    * kernel ([[graft.functions.SqDot]], codegen'd) reads 1 B/dim and
    * does one fused multiply-add per dim — no lookup tables, which is
    * SQ's operational advantage over PQ (no training drift, exact
    * per-dim error bounds). Reconstructed norms are a stored column
    * ([[graft.functions.SqRecNorm]], computed once at index build), so
    * the approximate cosine is two stored-column reads + one kernel
    * call per candidate. Top-50 by approximate cosine, then the same
    * exact rerank as C26. Query-side constants ride [[queryGated]].
    * Probabilistic recall → rows-only driver check + `ann_sq_check`
    * dominance/completeness twin; the spec bounds recall@5 vs C6.
    */
  def annSq(s: SparkSession, d: String): DataFrame = annSqBatch(s, d, NQueries.toLong)

  private def sqQueryBytes(nq: Long): Long = nq * (EmbDim.toLong * 12 + 64)

  private[graft] def annSqBatch(s: SparkSession, d: String, batchHint: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Tables.embeddings(s, d)
    val stats = trainSample(all)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).cast("double").as("lo"), max(col("x")).cast("double").as("hi"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val lo = Array.tabulate(EmbDim)(j => stats(j)._1)
    val span = Array.tabulate(EmbDim)(j => math.max(stats(j)._2 - stats(j)._1, 1e-12))
    val invSpan = span.map(1.0 / _)
    val span255 = span.map(_ / 255.0)
    // compressed index: 1 B/dim codes + the reconstructed norm, both
    // narrow maps with the train stats as plan constants
    val codes = all.select(col("vec_id").as("n_id"),
        exprs.sqEncode(col("embedding"), lo, invSpan).as("codes"))
      .withColumn("rec_norm", exprs.sqRecNorm(col("codes"), lo, span255))
    val loArr = array(lo.map(lit): _*)
    val wArr = array(span255.map(lit): _*)
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("qd", col("q_emb").cast("array<double>"))
      .withColumn("w", zip_with(col("qd"), wArr, (a, b) => a * b))
      .withColumn("bias", aggregate(zip_with(col("qd"), loArr, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("q_norm", sqrt(aggregate(col("qd"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("query_id"), col("q_emb"), col("w"), col("bias"), col("q_norm"))
    val approx = codes.crossJoin(queryGated(q, sqQueryBytes(batchHint)))
      .filter(col("query_id") =!= col("n_id"))
      .withColumn("a_score",
        when(col("rec_norm") === 0.0 || col("q_norm") === 0.0, lit(-1.0))
          .otherwise((col("bias") + exprs.sqDot(col("codes"), col("w")))
            / (col("q_norm") * col("rec_norm"))))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("a_score").desc, col("n_id"))
    val cand = approx.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= 50)
      .select(col("query_id"), col("n_id"))
    // exact rerank of the SQ top-50 — identical shape to annPq's tail
    val c = emb(s, d, "n")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    queryGated(cand.join(
        queryGated(q.select(col("query_id"), col("q_emb")), qBytes(batchHint)), "query_id"),
        candBytes(batchHint) + qBytes(batchHint))
      .join(c, "n_id")
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("n_id").as("neighbor_id"), col("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annSqCheck(s: SparkSession, d: String): DataFrame = annCheck(s, d, annSq)

  /** C42 `ann_ivfpq`: the composed FAISS-style IVFPQ — the C13 coarse
    * quantizer in FRONT of the C26 compressed scan, which is the shape
    * a 100 TB vector corpus actually runs: the inverted lists bound
    * WHICH rows are scanned (probing = partition pruning when the
    * cluster id is the lake table's bucket column), the PQ codes bound
    * WHAT each scanned row costs (4 B of codes through the codegen'd
    * ADC kernel instead of 256 B of floats), and only the ADC top-50
    * pays an exact-cosine rerank. Per query the scan touches
    * nprobe/nlist of the corpus at 64× compression — both dials
    * (probe count, code width) are independent. Codes use classic
    * RESIDUAL encoding: the PQ codebook is trained on r = x − c(x)
    * (residual against the coarse centroid), whose spread is far
    * smaller than the raw vectors', so the same 4-bit code width
    * quantizes finer; the ADC score recomposes dot(q, x) ≈ dot(q, c)
    * + adc(q, codes), with dot(q, c) computed once per (query, probed
    * cluster) on the probe side. Codebooks are PER-LIST (FAISS's
    * local-codebook refinement): each inverted list refines the shared
    * residual-trained book with cluster-keyed Lloyd passes, so the 16
    * codes model ONE list's residual distribution instead of all of
    * them — finer quantization at the identical 4 B code width. The
    * encode stays a narrow map (the nlist×K×dim book array rides as a
    * plan constant through [[graft.functions.NearestCentroidBy]]);
    * the LUT cost becomes per (query, probed list), which is the
    * inherent per-list trade and still O(nprobe·M·K) per query. The
    * spec pins recall@k(per-list) ≥ recall@k(shared residual) ≥
    * recall@k(raw codes). Probabilistic recall → rows-only driver
    * check; `ann_ivfpq_check` oracles the rank-dominance/completeness
    * invariants and the spec bounds recall vs C6.
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame =
    annIvfPqBatch(s, d, NQueries.toLong)

  private[graft] def annIvfPqBatch(s: SparkSession, d: String, batchHint: Long,
      residual: Boolean = true, perList: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Tables.embeddings(s, d)
    // ONE sample (and one count job) feeds both quantizers
    val train = trainSample(all)
    val cents = ivfCentroids(all, train)
    val usePerList = residual && perList
    def clustered(df: DataFrame): DataFrame =
      df.withColumn("cluster", exprs.nearestCentroid(col("embedding"), cents))
    // residual path: PQ trains on and encodes r = x − c(x), a pure
    // narrow map (centroids are a plan constant) — the raw path is
    // kept for the spec's recall comparison. cluster is computed from
    // the ORIGINAL embedding before it is replaced by the residual.
    def residualized(df: DataFrame): DataFrame =
      df.withColumn("embedding", exprs.centroidResidual(col("embedding"), cents))
    val (pqAll, pqTrain) =
      if (residual) (residualized(clustered(all)), residualized(clustered(train)))
      else (clustered(all), clustered(train))
    val shared = pqBooks(pqAll, pqTrain)
    val probes = ivfProbes(s, all, cents)
    // ADC scan ONLY over the probed lists: the (query, cluster) probe
    // pairs join the corpus on cluster, so per query exactly the
    // nprobe lists' codes flow through the ADC kernel. Small batches
    // broadcast the probe×LUT pairs; above the gate the scan
    // shuffle-joins on cluster (AQE's skew split handles a hot list)
    val scan: DataFrame = if (usePerList) {
      val books = pqBooksPerList(pqTrain, shared)
      def augFor(m: Int) = books.map(b => pqAugBook(b(m)))
      // compressed index: cluster id (coarse) + per-list nibble codes
      val codes = pqAll.select(col("vec_id").as("n_id"), col("cluster"),
        array((0 until PqM).map(m => exprs.nearestCentroidBy(
          pqAug(col("embedding"), m), col("cluster"), augFor(m))): _*).as("codes"))
      val luts = pqLutsPerList(s, all, probes, books)
      codes.join(queryGated(luts, probeLutBytes(batchHint)), Seq("cluster"))
    } else {
      val codes = pqCodes(pqAll, shared)
        .join(pqAll.select(col("vec_id").as("n_id"), col("cluster")), "n_id")
      val luts = pqLuts(s, all, shared)
      codes.join(queryGated(
        probes.join(queryGated(luts, lutBytes(batchHint)), "query_id"),
        probeLutBytes(batchHint)), Seq("cluster"))
    }
    val approx = scan
      .filter(col("query_id") =!= col("n_id"))
      .withColumn("a_score",
        exprs.adcScore(col("codes"), col("lut"), PqK) +
          (if (residual) col("qc_dot") else lit(0.0)))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("a_score").desc, col("n_id"))
    val cand = approx.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= 50)
      .select(col("query_id"), col("n_id"))
    // exact rerank of the surviving candidates — a small candidate set
    // broadcasts so the corpus side stays a narrow probe; above the
    // gate it shuffle-joins on n_id
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    queryGated(cand.join(queryGated(q, qBytes(batchHint)), "query_id"),
        candBytes(batchHint) + qBytes(batchHint))
      .join(emb(s, d, "n"), "n_id")
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("n_id").as("neighbor_id"), col("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annIvfPqCheck(s: SparkSession, d: String): DataFrame = annCheck(s, d, annIvfPq)

  /** Minimum seed-centroid count for [[semanticDedup]]. The actual k
    * SCALES with the corpus — see [[semanticSeedStep]] — so per-cluster
    * pair-scan work stays flat as the corpus grows (the k ∝ n dial
    * SemDeDup needs at 100 TB; a fixed k would quietly degrade toward
    * the all-pairs scan at 100×).
    */
  val SemK = 16

  /** Target expected cluster population: k = max(SemK, n / this), so
    * the within-cluster pair scan is O(n · SemTargetCluster) at ANY
    * corpus size instead of O(n²/k) with fixed k.
    */
  val SemTargetCluster = 400L

  /** Seed-selection stride for a corpus of n vectors: seeds are the
    * vectors with `vec_id % step == 0` — deterministic, O(0) state,
    * and expressible verbatim in the DuckDB oracle (which recomputes
    * n and the stride from the same arithmetic). In production the
    * seeds come from a k-means fit over a sample; the dedup semantics
    * are identical, and n comes free from manifest row counts (A51)
    * instead of a scan.
    */
  private[graft] def semanticSeedStep(n: Long): Long = {
    val k = math.max(SemK.toLong, n / SemTargetCluster)
    math.max(1L, n / k)
  }

  /** C35 `dedup_semantic`: SemDeDup-style semantic deduplication
    * (Abbas et al. 2023) — cluster the corpus by nearest centroid,
    * then deduplicate WITHIN clusters only: a vector is dropped iff a
    * lower-id member of its own cluster is within the cosine gate
    * (≥ [[ProdCosThreshold]]); the lowest such id is kept as its
    * representative. Clustering turns the quadratic all-pairs scan
    * into per-cluster pair scans: with k ∝ n (fixed expected cluster
    * size), total work is O(n · avg_cluster), the shape that makes
    * semantic dedup feasible at corpus scale. Runs on the planted
    * corpus so the gate is non-vacuous.
    *
    * Plan shape: seeds are broadcast (k rows), assignment is a narrow
    * map (argmax cosine over k, tie→lower seed), the pair scan
    * shuffles once keyed on cluster. Nothing touches the driver.
    */
  /** Nearest-centroid assignment for [[semanticDedup]]: argmax_{seed}
    * cos(v, seed); 6-dp round + seed-id tie-break keeps the argmax
    * engine-independent. The argmax is a max(struct(cos, -seed_id))
    * AGGREGATE, not a window: partial aggregation collapses the k
    * candidate rows per vector on the map side, so the shuffle
    * carries one row per vector instead of k — the difference between
    * O(n) and O(n·k) shuffle at corpus scale.
    */
  private[graft] def semanticAssign(corpus: DataFrame, knownN: Option[Long] = None): DataFrame = {
    // k ∝ n: n is one cheap metadata-backed pass here; the lake path
    // ([[semanticAssignLake]]) supplies it from manifest row counts
    // (A51) so NO job runs at plan-construction time
    val step = semanticSeedStep(knownN.getOrElse(corpus.count()))
    // seed candidates come from the primary id space only (below
    // PlantIdOffset, the region fixtures reserve for planted
    // duplicates): a planted copy whose id happens to be ≡ 0 mod step
    // would otherwise seed its OWN singleton cluster (cos 1 to itself)
    // and silently escape dedup — in production the seeds are a
    // k-means fit, where member-id arithmetic never arises
    val seeds = corpus
      .filter(col("vec_id") % step === 0 && col("vec_id") < PlantIdOffset)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_emb"))
    corpus.join(broadcast(seeds), lit(true))
      .select(col("vec_id"), col("embedding"),
        struct(
          round(exprs.cosineSim(col("embedding"), col("seed_emb")), 6).as("cos"),
          (-col("seed_id")).as("neg_seed")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(max(col("sc")).as("w"), first(col("embedding")).as("embedding"))
      .select((-col("w.neg_seed")).as("cluster_id"), col("vec_id"), col("embedding"))
  }

  /** [[semanticAssign]] over a graft-lake corpus: the k ∝ n dial reads
    * n from the MANIFEST (total rows minus pending MOR-deleted rows —
    * the same numbers A51 publishes as CatalogStatistics) instead of
    * running a count() job. At 100 TB that job is a full metadata+scan
    * pass; the manifest lookup is free and exact, because every commit
    * records per-file row counts.
    */
  def semanticAssignLake(t: graft.lake.GraftTable): DataFrame =
    semanticAssign(t.read(), Some(t.current.totalRows - t.current.deletedRows))

  /** The within-cluster drop rule shared by both seed strategies:
    * a vector is dropped iff a lower-id member of its own cluster is
    * within the cosine gate; the lowest such id is its keeper. One
    * shuffle keyed on cluster_id.
    */
  private def semanticDropsOf(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = assigned.select(col("cluster_id"), col("vec_id").as("keep_id"),
      col("embedding").as("a_emb"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("drop_id"),
      col("embedding").as("b_emb"))
    // within-cluster pair scan; keeper = lowest qualifying lower id
    val wKeep = Window.partitionBy(col("drop_id")).orderBy(col("keep_id"))
    a.join(b, Seq("cluster_id"))
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("cos_raw", exprs.cosineSim(col("a_emb"), col("b_emb")))
      .filter(col("cos_raw") >= ProdCosThreshold)
      .withColumn("cos_sim", round(col("cos_raw"), 6))
      .withColumn("krn", row_number().over(wKeep))
      .filter(col("krn") === 1)
      .select(col("drop_id").as("vec_id"), col("cluster_id"),
        col("keep_id").as("keeper_id"), col("cos_sim"))
      .orderBy(col("vec_id"))
  }

  def semanticDedup(s: SparkSession, d: String): DataFrame =
    semanticDropsOf(semanticAssign(plantedCorpus(s, d)))

  /** C35 production gear: SemDeDup with K-MEANS-FIT seeds — the seeds
    * train on the shared quantizer machinery ([[kmeansFit]]: capped
    * deterministic [[trainSample]], lowest-id init, 2 Lloyd
    * iterations), k scales exactly like [[semanticSeedStep]]'s k ∝ n
    * dial, and assignment is the codegen'd narrow-map
    * [[graft.functions.NearestCentroid]] — NO assignment join at all,
    * which beats even the broadcast-seed join of [[semanticAssign]] at
    * scale. The drop rule is identical. A 2-iteration Lloyd fit is not
    * SQL-expressible, so the driver gate is the `_check` twin
    * ([[semanticDedupKmeansCheck]]) oracling the invariants; the
    * stride-seed [[semanticDedup]] keeps the exact row-level oracle.
    */
  def semanticDedupKmeans(s: SparkSession, d: String): DataFrame = {
    val corpus = plantedCorpus(s, d)
    val n = Tables.embeddings(s, d).count() + PlantCount
    val k = math.max(SemK.toLong, n / SemTargetCluster).toInt
    val cents = kmeansFit(
      corpus.filter(col("vec_id") < PlantIdOffset), trainSample(corpus), k)
    val assigned = corpus.select(
      exprs.nearestCentroid(col("embedding"), cents).cast("long").as("cluster_id"),
      col("vec_id"), col("embedding"))
    semanticDropsOf(assigned)
  }

  /** Driver gate for [[semanticDedupKmeans]] (VALUES oracle, valid at
    * every scale): zero keeper-id inversions, zero below-gate pairs,
    * zero double-drops (cross-cluster drops are impossible by
    * construction — the pair scan joins on cluster_id) — and the
    * planted corpus yields a non-empty drop set (each plant sits at
    * cos ≥ 0.9 of its original, far above the gate, so a clustering
    * that separated every such pair would be a real defect, not
    * noise).
    */
  def semanticDedupKmeansCheck(s: SparkSession, d: String): DataFrame = {
    val drops = semanticDedupKmeans(s, d).cache()
    val badKeeper = drops.filter(col("keeper_id") >= col("vec_id")).count()
    val belowGate = drops.filter(col("cos_sim") < ProdCosThreshold - 1e-6).count()
    val dupDrops = drops.count() - drops.select(col("vec_id")).distinct().count()
    val hasDrops = drops.limit(1).count()
    drops.unpersist()
    import s.implicits._
    Seq((badKeeper, belowGate, dupDrops, hasDrops))
      .toDF("keeper_inversions", "below_gate", "double_drops", "has_drops")
  }

  val semanticDedupKmeansCheckSql: String =
    """SELECT CAST(0 AS BIGINT) AS keeper_inversions,
      |  CAST(0 AS BIGINT) AS below_gate,
      |  CAST(0 AS BIGINT) AS double_drops,
      |  CAST(1 AS BIGINT) AS has_drops""".stripMargin

  /** Oracle: identical planted corpus, identical k ∝ n stride-seed
    * assignment (n and the stride recomputed from the same integer
    * arithmetic as [[semanticSeedStep]]), identical within-cluster
    * drop rule — all in SQL.
    */
  val semanticDedupSql: String =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |e AS (
       |  SELECT vec_id, v FROM e0
       |  UNION ALL
       |  SELECT vec_id + $PlantIdOffset,
       |         v[1:$PlantKeepDims] || [0.0, 0.0, 0.0, 0.0]
       |  FROM e0 WHERE vec_id < $PlantCount),
       |nn AS (SELECT count(*) AS n FROM e),
       |stp AS (SELECT greatest(1, n // greatest($SemK, n // $SemTargetCluster)) AS step FROM nn),
       |seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e
       |          WHERE vec_id % (SELECT step FROM stp) = 0
       |            AND vec_id < $PlantIdOffset),
       |assign AS (
       |  SELECT e.vec_id, e.v, s.seed_id AS cluster_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(list_dot_product(e.v, s.sv)
       |            / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.sv, s.sv))), 6) DESC,
       |      s.seed_id) AS arn
       |  FROM e CROSS JOIN seeds s
       |  QUALIFY arn = 1),
       |pairs AS (
       |  SELECT b.vec_id, b.cluster_id, a.vec_id AS keeper_id,
       |    round(list_dot_product(a.v, b.v)
       |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY b.vec_id ORDER BY a.vec_id) AS krn
       |  FROM assign a JOIN assign b
       |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.v, b.v)
       |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $ProdCosThreshold
       |  QUALIFY krn = 1)
       |SELECT vec_id, cluster_id, keeper_id, cos_sim
       |FROM pairs ORDER BY vec_id""".stripMargin

  /** C64 `corpus_embedding_drift`: per-slice embedding-distribution
    * drift — the cosine of each label's centroid against the corpus
    * centroid. The semantic-space health check next to C60's lexical
    * KL: a slice whose centroid swings away from the corpus (scraper
    * regression, adversarial injection, a new domain) shows up as a
    * falling cosine before any lexical signal moves. Determinism at
    * the strict hash gate: float components quantize to integer
    * millionths FIRST, so every sum is an exact integer sum (order-
    * independent — no float-accumulation divergence between engines or
    * between 32 and 1000 partitions); the scale factors n·10⁶ cancel
    * inside the cosine, so the whole similarity is integer arithmetic
    * until one final double division. Shape at 100 TB: ONE map-side-
    * combined (label, dim) aggregation over the exploded stream — the
    * centroid table is |labels|×dim rows; everything after is
    * broadcast-sized.
    */
  def embeddingDrift(s: SparkSession, d: String): DataFrame = {
    val comp = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .withColumn("q", round(col("v").cast("double") * lit(1000000.0), 0).cast("long"))
    val byL = comp.groupBy(col("label"), col("idx"))
      .agg(sum(col("q")).as("sl"), count(lit(1)).as("nl"))
    val glob = comp.groupBy(col("idx")).agg(sum(col("q")).as("sg"))
    // cos(centroid_l, centroid_g) = Σ sl·sg / (√Σsl² · √Σsg²): the
    // 1/(n·10⁶) centroid scales cancel. decimal(38,0) keeps the
    // products exact at any corpus size (long would overflow ~10¹⁸).
    val dec = (c: Column) => c.cast("decimal(38,0)")
    byL.join(glob, "idx")
      .groupBy(col("label"))
      .agg(first(col("nl")).as("n_vecs"),
        sum(dec(col("sl")) * dec(col("sg"))).as("dot_lg"),
        sum(dec(col("sl")) * dec(col("sl"))).as("dot_ll"),
        sum(dec(col("sg")) * dec(col("sg"))).as("dot_gg"))
      .select(col("label"), col("n_vecs"),
        round(col("dot_lg").cast("double") /
          (sqrt(col("dot_ll").cast("double")) * sqrt(col("dot_gg").cast("double"))), 6)
          .as("cos_to_global"))
      .orderBy(col("label"))
  }

  val embeddingDriftSql: String =
    """WITH comp AS (
      |  SELECT label, i AS idx,
      |    CAST(round(CAST(v AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS q
      |  FROM (SELECT label, unnest(embedding) AS v,
      |          unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
      |byl AS (SELECT label, idx, sum(q) AS sl, count(*) AS nl
      |        FROM comp GROUP BY label, idx),
      |gc AS (SELECT idx, sum(q) AS sg FROM comp GROUP BY idx)
      |SELECT label, any_value(nl) AS n_vecs,
      |  round(CAST(sum(sl * sg) AS DOUBLE) /
      |    (sqrt(CAST(sum(sl * sl) AS DOUBLE)) * sqrt(CAST(sum(sg * sg) AS DOUBLE))), 6)
      |    AS cos_to_global
      |FROM byl JOIN gc USING (idx)
      |GROUP BY label ORDER BY label""".stripMargin

  /** C65 `search_hybrid_rrf`: hybrid lexical+semantic retrieval with
    * reciprocal-rank fusion (the standard RRF k=60 of Cormack et al.)
    * — the retrieval shape modern RAG/data-curation stacks run: a BM25
    * ranking and an exact-cosine ranking over the same candidate
    * universe (ids present in BOTH documents and embeddings), fused as
    * Σ 1/(60+rank) over the top-[[RrfDepth]] of each modality, top-10
    * per query emitted. The query set is the C6 convention (id <
    * [[NQueries]]); a query's lexical form is its own distinct token
    * set (query-by-example). Shapes at 100 TB: the candidate universe
    * (docs⋈embs) is materialized ONCE (localCheckpoint — the standard
    * cache-before-multi-pass shape; on a real cluster a reliable
    * persist) and every pass reads it, instead of re-deriving the join
    * per leg; document frequency rides a count window OVER the tf
    * table, so the tokenized corpus is aggregated once, not twice (the
    * r12 audit's doubled-subtree finding); the query×term table is
    * tiny and broadcast into the tf join; each modality cuts to
    * RrfDepth BEFORE the fusion join, so the fused table is ≤
    * 2·depth·queries rows. Ranks compare 6-dp-snapped scores with id
    * tie-breaks, so both engines rank identically; absent-modality
    * ranks surface as -1 (never NULL — nullable BIGINT would
    * dtype-drift the gate).
    */
  val RrfK = 60
  val RrfDepth = 50
  val HybridTopK = 10

  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), graft.pipeline.TextOps.tokens(col("text")).as("toks"))
    val embs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // the shared corpus subtree: one join, one materialization, every
    // pass below reads the cached blocks. Fault-tolerant RDD-level
    // persist (r14, graft.Mat.factRows) — this is the corpus×embeddings
    // join, fact-sized AND array-heavy (toks + embedding), where the
    // SQL columnar cache would re-encode/decode per consumer.
    val cands = graft.Mat.factRows(docs.join(embs, docs("doc_id") === embs("vec_id"))
      .select(col("doc_id"), col("toks"), col("embedding")))
    // the query batch (tiny, bounded by NQueries) — shared by the
    // lexical and semantic legs; localCheckpoint is fine at this size
    val qset = cands.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("query_id"), col("toks"), col("embedding"))
      .localCheckpoint(true)
    val qterms = qset.select(col("query_id"),
      explode(array_distinct(col("toks"))).as("term"))
    // lexical half: BM25 (C61's constants) of each query's token set;
    // df is a count window over tf (tf is unique per (cand, term), so
    // the window count IS the containing-doc count) — one aggregation
    // pass over the tokenized corpus total
    val stats = cands.agg(
      count(lit(1)).as("n_docs"),
      (sum(size(col("toks")).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    // r14 de-skew (guide §2.5): tf is semi-pruned to the query-term
    // rows FIRST (df per term = its tf-row count, unchanged by keeping
    // only the terms the scoring reads), cached once, and df rolls up
    // from it with a map-side-combined groupBy joined back — the r13
    // count window over ALL terms put every row of a hot term into one
    // window task and computed df for terms the query never touches.
    val qtermSet = qterms.select(col("term")).distinct()
    val tf = graft.Mat.factRows(cands
      .select(col("doc_id").as("cand_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qtermSet), Seq("term"), "left_semi")
      .groupBy(col("cand_id"), col("term"))
      .agg(first(col("dl")).as("dl"), count(lit(1)).as("tf")))
    // dfT is bounded by the distinct query terms — the same bound that
    // already broadcasts qterms — so hint it and keep tf exchange-free
    val dfT = broadcast(tf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val wq = Window.partitionBy(col("query_id"))
    val bm = tf.join(dfT, "term").join(broadcast(qterms), "term")
      .filter(col("cand_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", round(log(lit(1.0) +
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))), 6))
      .withColumn("contrib", round(col("idf") *
        (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))),
        10))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(round(sum(col("contrib")), 6).as("bm_score"))
      .withColumn("r_bm25", row_number()
        .over(wq.orderBy(col("bm_score").desc, col("cand_id"))).cast("long"))
      .filter(col("r_bm25") <= RrfDepth)
      .select(col("query_id"), col("cand_id"), col("r_bm25"))
    // semantic half: exact cosine, C6's ranking convention
    val q = qset.select(col("query_id"), col("embedding").as("q_emb"))
    val cos = broadcast(q)
      .join(cands.select(col("doc_id").as("cand_id"), col("embedding").as("c_emb")),
        col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim", round(exprs.cosineSim(col("q_emb"), col("c_emb")), 6))
      .withColumn("r_cos", row_number()
        .over(wq.orderBy(col("cos_sim").desc, col("cand_id"))).cast("long"))
      .filter(col("r_cos") <= RrfDepth)
      .select(col("query_id"), col("cand_id"), col("r_cos"))
    // fusion as union + max-agg (ranks are ≥1, -1 the absent sentinel,
    // so max picks the present rank) — one keyed shuffle instead of a
    // two-sided sort-merge full-outer join
    val rrfOf = (r: Column) =>
      when(r > 0L, lit(1.0) / (lit(60.0) + r.cast("double"))).otherwise(lit(0.0))
    bm.withColumn("r_cos", lit(-1L))
      .unionByName(cos.withColumn("r_bm25", lit(-1L))
        .select(col("query_id"), col("cand_id"), col("r_bm25"), col("r_cos")))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(max(col("r_bm25")).as("r_bm25"), max(col("r_cos")).as("r_cos"))
      .withColumn("rrf", round(rrfOf(col("r_bm25")) + rrfOf(col("r_cos")), 6))
      .withColumn("rank", row_number()
        .over(wq.orderBy(col("rrf").desc, col("cand_id"))).cast("long"))
      .filter(col("rank") <= HybridTopK)
      .select(col("query_id"), col("cand_id"), col("r_bm25"), col("r_cos"),
        col("rrf"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hybridRrfSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, ${graft.pipeline.TextOps.tokensSql} AS toks FROM documents),
       |cands AS (
       |  SELECT doc_id, toks, embedding::DOUBLE[] AS emb
       |  FROM docs JOIN embeddings ON doc_id = vec_id),
       |stats AS (SELECT count(*) AS n_docs,
       |  CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM cands),
       |qterms AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
       |  FROM cands WHERE doc_id < $NQueries),
       |tf AS (
       |  SELECT cand_id, term, any_value(dl) AS dl, count(*) AS tf
       |  FROM (SELECT doc_id AS cand_id, CAST(len(toks) AS BIGINT) AS dl,
       |          unnest(toks) AS term FROM cands)
       |  GROUP BY cand_id, term),
       |idf AS (
       |  SELECT term, round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                 / (CAST(df AS DOUBLE) + 0.5)), 6) AS idf, avgdl
       |  FROM (SELECT term, count(DISTINCT cand_id) AS df FROM tf GROUP BY term), stats),
       |bm AS (
       |  SELECT query_id, cand_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY bm_score DESC, cand_id)
       |      AS r_bm25
       |  FROM (
       |    SELECT query_id, cand_id,
       |      round(sum(round(idf * (CAST(tf AS DOUBLE) * 2.2)
       |        / (CAST(tf AS DOUBLE)
       |           + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 10)), 6)
       |        AS bm_score
       |    FROM tf JOIN idf USING (term) JOIN qterms USING (term)
       |    WHERE cand_id <> query_id
       |    GROUP BY query_id, cand_id)
       |  QUALIFY r_bm25 <= $RrfDepth),
       |cos AS (
       |  SELECT query_id, cand_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id)
       |      AS r_cos
       |  FROM (
       |    SELECT q.doc_id AS query_id, n.doc_id AS cand_id,
       |      round(list_dot_product(q.emb, n.emb)
       |        / (sqrt(list_dot_product(q.emb, q.emb))
       |           * sqrt(list_dot_product(n.emb, n.emb))), 6) AS cos_sim
       |    FROM cands q JOIN cands n ON q.doc_id <> n.doc_id
       |    WHERE q.doc_id < $NQueries)
       |  QUALIFY r_cos <= $RrfDepth),
       |joined AS (
       |  -- rrf computed in its own CTE from the RAW join columns, so the
       |  -- -1 sentinel aliases in the final SELECT can never shadow the
       |  -- rank inputs regardless of the engine's alias-resolution order
       |  SELECT query_id, cand_id, r_bm25, r_cos,
       |    round(coalesce(1.0 / (60.0 + CAST(r_bm25 AS DOUBLE)), 0.0)
       |        + coalesce(1.0 / (60.0 + CAST(r_cos AS DOUBLE)), 0.0), 6) AS rrf
       |  FROM bm FULL OUTER JOIN cos USING (query_id, cand_id))
       |SELECT query_id, cand_id,
       |  coalesce(r_bm25, -1) AS r_bm25, coalesce(r_cos, -1) AS r_cos, rrf,
       |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id)
       |    AS rank
       |FROM joined
       |QUALIFY rank <= $HybridTopK
       |ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_embedding_drift" -> (embeddingDrift _),
    "search_hybrid_rrf" -> (hybridRrf _),
    "dedup_semantic"  -> (semanticDedup _),
    "dedup_semantic_kmeans" -> (semanticDedupKmeans _),
    "dedup_semantic_kmeans_check" -> (semanticDedupKmeansCheck _),
    "dedup_embedding" -> (embeddingPairs _),
    "ann_pq"          -> (annPq _),
    "ann_bruteforce"  -> (annBruteforce _),
    "mine_hard_negatives" -> (mineHardNegatives _),
    "ann_lsh"         -> (annLsh _),
    "ann_lsh_check"   -> (annLshCheck _),
    "ann_ivf_check"   -> (annIvfCheck _),
    "ann_pq_check"    -> (annPqCheck _),
    "ann_ivfpq"       -> (annIvfPq _),
    "ann_ivfpq_check" -> (annIvfPqCheck _),
    "ann_sq"          -> (annSq _),
    "ann_sq_check"    -> (annSqCheck _),
    "ann_ivfpq_persisted"       -> (AnnIndex.annIvfPqPersisted _),
    "ann_ivfpq_persisted_check" -> (AnnIndex.annIvfPqPersistedCheck _),
    "mine_hard_negatives_indexed"       -> (AnnIndex.mineHardNegativesIndexed _),
    "mine_hard_negatives_indexed_check" -> (AnnIndex.mineHardNegativesIndexedCheck _),
    "ann_ivf"         -> (annIvf _))

  val oracles: Map[String, String] = Map(
    "corpus_embedding_drift" -> embeddingDriftSql,
    "search_hybrid_rrf" -> hybridRrfSql,
    "dedup_semantic"  -> semanticDedupSql,
    "dedup_semantic_kmeans_check" -> semanticDedupKmeansCheckSql,
    "dedup_embedding" -> embeddingPairsSql,
    "ann_bruteforce"  -> annBruteforceSql,
    "mine_hard_negatives" -> mineHardNegativesSql,
    "ann_lsh_check"   -> annCheckSql,
    "ann_ivf_check"   -> annCheckSql,
    "ann_pq_check"    -> annCheckSql,
    "ann_sq_check"    -> annCheckSql,
    "ann_ivfpq_check" -> annCheckSql,
    "ann_ivfpq_persisted_check" -> annCheckSql,
    "mine_hard_negatives_indexed_check" -> AnnIndex.mineHardNegativesIndexedCheckSql)
}
