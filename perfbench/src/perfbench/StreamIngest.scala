package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.GraftTable
import graft.pipeline.{AnnIndex, VectorOps}

object StreamIngest {
  val InitialVectors = 2000L
  val BatchRows = 100L
  /** Timed micro-batches per second of run length (about 1.3 s each). */
  val BatchesPerSecond = 0.75
  val WarmupBatches = 1
  /** Staged micro-batches: warm-up plus the timed run at up to 60 s. */
  val Batches = 48
  /** Batches whose id is a multiple of 3 also delete DeleteKeys seeded
    * live keys: 2 of the 6 timed batches at the benchmark's run length.
    */
  val DeleteEvery = 3
  val DeleteKeys = 5
  val Queries = 10
  val Dim: Int = VectorOps.EmbDim
  /** A working index lands well above this; a broken one near zero. */
  val MinRecall = 0.3
}

/** `stream_ingest`: Structured Streaming over seeded parquet files staged
  * in set-up (maxFilesPerTrigger=1, AvailableNow). Each micro-batch
  * lands through `GraftTable.appendBatch` (exactly-once), seeded batches
  * add a keyed delete, and `AnnIndex.sync` keeps the index current.
  */
final class StreamIngest extends Workload {
  import StreamIngest._
  val tailPct = 90.0
  private var dir: String = _
  private var staged: IndexedSeq[Path] = IndexedSeq.empty
  private var released = 0
  private var rnd: java.util.Random = _
  /** vec_ids ingested (initial + processed batches) and deleted. */
  private val ingested = mutable.Set[Long]()
  private val deleted = mutable.Set[Long]()
  private var rowsInWindow = 0L
  private var streamNs = 0L
  private var n0 = 0L
  /** Every generated vector (initial corpus and staged batches). */
  private var allVecs: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty

  private def corpusRoot = s"$dir/corpus"
  private def indexRoot = s"$dir/index"

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    val s = ctx.spark
    val seed = ctx.opts.seed
    val (initial, batches) = if (ctx.opts.smoke) (400L, 4) else (InitialVectors, Batches)
    n0 = initial
    allVecs = Data.vectors(seed, 0L, n0 + batches * BatchRows, Dim)
    val corpus = GraftTable.create(s, corpusRoot, Data.embeddings(s, allVecs.take(n0.toInt)))
    AnnIndex.buildFromTable(s, corpus, indexRoot)
    // stage every batch with one partitioned write, then give each file
    // its own increasing mtime so the file source takes them in order
    val tmp = s"$dir/stage-tmp"
    Data.embeddings(s, allVecs.drop(n0.toInt))
      .withColumn("_b", ((col("vec_id") - n0) / BatchRows).cast("int"))
      .repartition(col("_b")).write.partitionBy("_b").parquet(tmp)
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$dir/pending")); fs.mkdirs(new Path(s"$dir/src"))
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    staged = (0 until batches).map { b =>
      val part = fs.globStatus(new Path(s"$tmp/_b=$b/part-*.parquet")).head.getPath
      val dst = new Path(s"$dir/pending/batch-$b.parquet")
      fs.rename(part, dst)
      fs.setTimes(dst, t0 + b * 1000L, -1)
      dst
    }
    fs.delete(new Path(tmp), true)
    released = 0
    rnd = new java.util.Random(seed * 29L + 11L)
    ingested.clear(); deleted.clear()
    ingested ++= (0L until n0)
  }

  private def onBatch(ctx: Ctx, batch: DataFrame, id: Long): Unit = {
    val s = ctx.spark
    ctx.op("batch") {
      ctx.span("stream.batch") {
        val corpus = new GraftTable(corpusRoot, s)
        // batch `id` is staged file `id` (one file per trigger, in mtime order)
        val ids = (n0 + id * BatchRows) until (n0 + (id + 1) * BatchRows)
        val a0 = System.nanoTime()
        ctx.span("stream.append")(ctx.span("lake.commit.append")(
          corpus.appendBatch(batch, s"ingest-$id")))
        ctx.sample("append", (System.nanoTime() - a0) / 1e6)
        if (id > 0 && id % DeleteEvery == 0) {
          val live = (ingested -- deleted).toIndexedSeq.sorted
          val victims = Seq.fill(DeleteKeys)(live(rnd.nextInt(live.size))).distinct
          val d0 = System.nanoTime()
          ctx.span("stream.delete")(ctx.span("lake.commit.delete")(
            corpus.delete(col("vec_id").isin(victims: _*))))
          ctx.sample("delete", (System.nanoTime() - d0) / 1e6)
          deleted ++= victims
        }
        val s0 = System.nanoTime()
        ctx.span("pipeline.ann_sync")(AnnIndex.sync(s, corpus, indexRoot))
        ctx.sample("sync", (System.nanoTime() - s0) / 1e6)
        ingested ++= ids
        rowsInWindow += ids.length
      }
    }
    ()
  }

  /** Release the next files to the source directory and drain them with
    * one AvailableNow run; returns its wall time in ns.
    */
  private def drain(ctx: Ctx, files: Int): Long = {
    val s = ctx.spark
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val next = staged.slice(released, released + files)
    next.foreach(p => fs.rename(p, new Path(s"$dir/src/${p.getName}")))
    released += next.size
    val t0 = System.nanoTime()
    val q = s.readStream.schema(s.read.parquet(s"$dir/src").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/src")
      .writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch((b: DataFrame, id: Long) => onBatch(ctx, b, id))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    System.nanoTime() - t0
  }

  def warmup(ctx: Ctx): Unit = { drain(ctx, WarmupBatches); () }

  /** One AvailableNow run over a fixed number of batches sized to the run
    * length, so every run has the same mix of plain and delete batches.
    */
  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    rowsInWindow = 0L
    val n = if (ctx.opts.smoke) 2 else math.ceil(BatchesPerSecond * ctx.opts.seconds).toInt
    streamNs = drain(ctx, math.min(n, staged.size - released))
  }

  def finish(ctx: Ctx): Unit = {
    val s = ctx.spark
    ctx.latency("batch", "batch", tailPct)
    val rowsPerS = rowsInWindow / (streamNs / 1e9)
    ctx.e2e("work_per_s", rowsPerS, "1/s")
    ctx.figure(f"rows_per_s       $rowsPerS%.1f rows/s ($rowsInWindow rows in ${streamNs / 1e9}%.2f s of stream runs)")
    val corpus = new GraftTable(corpusRoot, s)
    val codes = new GraftTable(s"$indexRoot/codes", s)
    val live = (ingested -- deleted)
    val nCorpus = corpus.read().count() + (if (ctx.opts.plant) 1 else 0)
    ctx.check("corpus rows vs ingested minus deleted", nCorpus == live.size,
      s"corpus $nCorpus, expected ${live.size}")
    ctx.check("index watermark is the corpus snapshot",
      codes.properties.get(AnnIndex.SyncedSnapshotProp).contains(corpus.currentId.toString),
      s"watermark ${codes.properties.get(AnnIndex.SyncedSnapshotProp)}, corpus ${corpus.currentId}")
    ctx.note("stream counts checked")
    val codeIds = codes.read().select("n_id").collect().map(_.getLong(0))
    ctx.check("index holds every live vector exactly once",
      codeIds.length == live.size && codeIds.toSet == live,
      s"${codeIds.length} codes for ${live.size} live vectors")
    // recall of one seeded query batch against an exact top-k computed
    // on the driver from the generated vectors (no graft code)
    ctx.note("index contents checked")
    val liveVecs = allVecs.filter(v => live.contains(v._1))
    val qr = new java.util.Random(ctx.opts.seed * 3L + 1L)
    val qIds = Seq.fill(Queries)(liveVecs(qr.nextInt(liveVecs.size))._1).distinct
    val queries = liveVecs.filter(v => qIds.contains(v._1))
    val exact = Data.exactTopK(liveVecs, queries, VectorOps.TopK)
    import s.implicits._
    val qdf = queries.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "embedding")
    val got = AnnIndex.query(s, indexRoot, corpus.read().select("vec_id", "embedding"), qdf,
      queries.size.toLong).select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    ctx.note("ann query done")
    val hits = exact.map { case (q, ns) => ns.count(got.getOrElse(q, Set.empty[Long])) }.sum
    val recall = hits.toDouble / (exact.size * VectorOps.TopK)
    ctx.figure(f"ann_recall_at_k  $recall%.3f (k=${VectorOps.TopK}, ${exact.size} queries, exact top-k on the driver)")
    ctx.check("ann recall@k against the exact top-k", recall >= MinRecall, s"recall $recall")
    ctx.layer("pipeline.ann_recall_at_k", recall, "ratio")
    if (ctx.tracer != null) layerFigures(ctx)
  }

  /** Size and per-layer figures of a traced run. */
  private def layerFigures(ctx: Ctx): Unit = {
    val s = ctx.spark
    val corpus = new GraftTable(corpusRoot, s)
    val tableBytes = LakeFacts.dirBytes(s, corpusRoot).toDouble
    val amp = tableBytes / LakeFacts.plainBytes(s, corpus.read(), s"${ctx.opts.work}/plain-corpus")
    ctx.layer("lake.storage_amp", amp, "ratio")
    ctx.figure(f"storage_amp      $amp%.3f (corpus table bytes / live rows as plain parquet)")
    val ingestedBytes = LakeFacts.plainBytes(s, Data.embeddings(s,
      allVecs.slice((n0 + WarmupBatches * BatchRows).toInt, (n0 + released * BatchRows).toInt)),
      s"${ctx.opts.work}/plain-ingested")
    val writeAmp = ctx.windowFsBytes.toDouble / ingestedBytes
    ctx.layer("lake.write_amp", writeAmp, "ratio")
    ctx.figure(f"write_amp        $writeAmp%.3f (bytes written in the window / ingested rows as plain parquet)")
    def med(k: String) = { val xs = ctx.samplesOf(k); if (xs.isEmpty) 0.0 else Stats.median(xs) }
    ctx.layer("stream.append_ms", med("append"), "ms")
    ctx.layer("lake.commit.append_ms", med("append"), "ms")
    ctx.layer("stream.delete_ms", med("delete"), "ms")
    ctx.layer("lake.commit.delete_ms", med("delete"), "ms")
    ctx.layer("pipeline.ann_sync_ms", med("sync"), "ms")
    LakeFacts.tableShape(ctx, corpusRoot)
  }
}
