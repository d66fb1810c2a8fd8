package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.GraftTable
import graft.pipeline.{AnnIndex, Dedup, TextOps, VectorOps}

object CorpusBuild {
  val Stages: Seq[String] =
    Seq("ingest", "gate", "minhash", "clusters", "apply", "ann_build", "ann_query")
  val BaseDocs = 2000
  val Copies = 5
  val Vectors = 4000L
  val Queries = 10
}

/** `corpus_build`: the batch training-data chain, each stage landing as
  * a graft table: ingest, quality gate, MinHash pairs, clusters, dedup
  * apply (survivors), ANN index build and one seeded ANN query batch.
  * Gate, dedup and recall are checked against the synthesis plan and an
  * exact top-k, none of which runs graft code.
  */
final class CorpusBuild extends Workload {
  import CorpusBuild._
  val tailPct = 50.0
  private var dir: String = _
  private var corpus: Data.Corpus = _
  private var pass = 0
  private var docsInWindow = 0L

  private def docsSrc = s"$dir/src/documents.parquet"
  private def embSrc = s"$dir/src/embeddings.parquet"

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    val s = ctx.spark
    val (base, copies, vecs) = if (ctx.opts.smoke) (200, 2, 400L) else (BaseDocs, Copies, Vectors)
    corpus = Data.corpus(ctx.opts.seed, base, copies)
    Data.corpusFrame(s, corpus).write.mode("overwrite").parquet(docsSrc)
    Data.embeddings(s, Data.vectors(ctx.opts.seed, 0L, vecs, VectorOps.EmbDim))
      .write.mode("overwrite").parquet(embSrc)
    pass = 0
  }

  private def stage[T](ctx: Ctx, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = ctx.span(s"pipeline.$name")(f)
    ctx.sample(s"stage.$name", (System.nanoTime() - t0) / 1e6)
    r
  }

  /** One pass of the chain; returns (gate kept, pairs, survivors, recall). */
  private def chain(ctx: Ctx): (Long, Long, Long, Double) = {
    val s = ctx.spark
    val p = s"$dir/pass-$pass"
    pass += 1
    def land(name: String, df: DataFrame): GraftTable =
      ctx.span("lake.commit.create")(GraftTable.create(s, s"$p/$name", df))
    val docsT = stage(ctx, "ingest") {
      land("embeddings", s.read.parquet(embSrc))
      land("documents", s.read.parquet(docsSrc))
    }
    val gateT = stage(ctx, "gate")(land("gate", TextOps.corpusFilterCore(docsT.read())))
    val kept = docsT.read().join(gateT.read().filter(col("keep")).select("doc_id"), "doc_id")
    val pairsT = stage(ctx, "minhash")(land("pairs", Dedup.minhashOf(kept)))
    val clustersT = stage(ctx, "clusters")(land("clusters", Dedup.clustersOf(kept)))
    val survivorsT = stage(ctx, "apply")(land("survivors",
      kept.join(clustersT.read().filter(col("doc_id") === col("cluster_id")).select("doc_id"),
        "doc_id")))
    val embT = new GraftTable(s"$p/embeddings", s)
    stage(ctx, "ann_build")(AnnIndex.buildFromTable(s, embT, s"$p/index"))
    val vecs = Data.vectorsOf(s.read.parquet(embSrc).collect())
    val qr = new java.util.Random(ctx.opts.seed * 5L + pass)
    val queries = Seq.fill(Queries)(vecs(qr.nextInt(vecs.size))).distinctBy(_._1)
    import s.implicits._
    val got = stage(ctx, "ann_query") {
      AnnIndex.query(s, s"$p/index", embT.read().select("vec_id", "embedding"),
        queries.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "embedding"),
        queries.size.toLong).select("query_id", "neighbor_id").collect()
    }.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val exact = Data.exactTopK(vecs, queries, VectorOps.TopK)
    val recall = exact.map { case (q, ns) => ns.count(got.getOrElse(q, Set.empty[Long])) }
      .sum.toDouble / (exact.size * VectorOps.TopK)
    (gateT.read().filter(col("keep")).count(), pairsT.read().count(),
      survivorsT.read().count(), recall)
  }

  private var last: (Long, Long, Long, Double) = _

  private def checkPass(ctx: Ctx, r: (Long, Long, Long, Double)): Unit = {
    val c = corpus
    val total = c.docs.size.toLong
    val planted = c.plantedDupDocs.size.toLong / c.copies
    val expKept = total - c.rejected.size
    val expPairs = planted * c.copies * (c.copies - 1) / 2
    val expSurvivors = expKept - planted * (c.copies - 1)
    val kept = if (ctx.opts.plant) r._1 + 1 else r._1
    if (kept != expKept) ctx.wrong("gate kept", s"$kept, expected $expKept")
    if (r._2 != expPairs) ctx.wrong("dedup pairs", s"${r._2}, expected $expPairs")
    if (r._3 != expSurvivors) ctx.wrong("survivors", s"${r._3}, expected $expSurvivors")
    if (r._4 < StreamIngest.MinRecall) ctx.wrong("ann recall@k", s"${r._4}")
  }

  def warmup(ctx: Ctx): Unit = ()

  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    docsInWindow = 0L
    val maxPasses = if (ctx.opts.smoke) 1 else Int.MaxValue
    var n = 0
    while (System.nanoTime() < deadlineNs && n < maxPasses) {
      ctx.op("pass")(chain(ctx)).foreach { r =>
        checkPass(ctx, r); last = r
        docsInWindow += corpus.docs.size
      }
      n += 1
    }
  }

  def finish(ctx: Ctx): Unit = {
    val s = ctx.spark
    ctx.latency("pass", "chain pass", tailPct)
    val passS = ctx.samplesOf("pass").sum / 1000
    ctx.e2e("work_per_s", docsInWindow / passS, "1/s")
    ctx.figure(f"docs_per_s       ${docsInWindow / passS}%.1f docs/s (${corpus.docs.size} docs, " +
      s"${corpus.baseDocs} base x ${corpus.copies} copies, per pass)")
    Stages.foreach { st =>
      val xs = ctx.samplesOf(s"stage.$st")
      ctx.layer(s"pipeline.${st}_s", if (xs.isEmpty) 0.0 else Stats.median(xs) / 1000, "s")
    }
    if (last != null) {
      val removed = last._1 - last._3
      ctx.figure(f"gate_keep_ratio  ${last._1.toDouble / corpus.docs.size}%.4f, dedup pairs ${last._2}, " +
        s"duplicates removed $removed")
      ctx.figure(f"ann_recall_at_k  ${last._4}%.3f (k=${VectorOps.TopK})")
      ctx.layer("pipeline.gate_keep_ratio", last._1.toDouble / corpus.docs.size, "ratio")
      ctx.layer("pipeline.dedup_pairs", last._2.toDouble, "count")
      ctx.layer("pipeline.dup_docs_removed", removed.toDouble, "count")
      ctx.layer("pipeline.ann_recall_at_k", last._4, "ratio")
      val surv = s"$dir/pass-${pass - 1}/survivors"
      val amp = LakeFacts.dirBytes(s, surv).toDouble /
        LakeFacts.plainBytes(s, new GraftTable(surv, s).read(), s"${ctx.opts.work}/plain-survivors")
      ctx.layer("lake.storage_amp", amp, "ratio")
    }
  }
}
