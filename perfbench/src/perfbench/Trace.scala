package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Metric names and units, in the order of BENCHMARK.json. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "work_per_s" -> "1/s", "heap_live_mb" -> "MB")

  val selfLayers: Seq[String] =
    Seq("lake", "lake.commit", "sql", "exec", "pipeline", "stream", "bench")

  /** Per-layer metrics of a traced run, as BENCHMARK.json lists them.
    * Every workload emits all of them (0 where a layer is not used);
    * workload-specific extras appear in the report only.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "lake.resolve_ms" -> "ms", "lake.list_ms" -> "ms", "lake.scan_files" -> "count",
    "lake.files_read_ratio" -> "ratio", "lake.manifest_files" -> "count",
    "lake.live_delete_files" -> "count", "lake.snapshots" -> "count",
    "lake.meta_bytes_written" -> "bytes", "lake.write_amp" -> "ratio",
    "lake.storage_amp" -> "ratio",
    "lake.commit.append_ms" -> "ms", "lake.commit.delete_ms" -> "ms",
    "lake.commit.jobs" -> "count", "lake.commit.driver_gap_ms" -> "ms",
    "lake.commit.conflicts" -> "count",
    "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms",
    "sql.graft_rules_ms" -> "ms", "sql.meta_agg_hit_ratio" -> "ratio",
    "sql.null_scan_hit_ratio" -> "ratio") ++
    LakeRead.Classes.map(c => s"read.${c}_p50_ms" -> "ms") ++ Seq(
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.driver_gap_s" -> "s", "exec.task_s" -> "s", "exec.busy_ratio" -> "ratio",
    "exec.input_bytes" -> "bytes", "exec.output_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.gc_s" -> "s",
    "mat.cached_mem_bytes" -> "bytes", "mat.cached_disk_bytes" -> "bytes",
    "mat.persisted_rdds" -> "count",
    "pipeline.ann_sync_ms" -> "ms", "pipeline.ann_recall_at_k" -> "ratio",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.jobs_per_batch" -> "count",
    "stream.append_ms" -> "ms", "stream.delete_ms" -> "ms") ++
    selfLayers.map(l => s"self.$l" -> "fraction")

  /** Layer of a span, from its name. */
  def layerOf(span: String): String =
    if (span.startsWith("lake.commit")) "lake.commit"
    else if (span.startsWith("lake.")) "lake"
    else if (span.startsWith("sql.")) "sql"
    else if (span.startsWith("exec.") || span.startsWith("job")) "exec"
    else if (span.startsWith("pipeline.")) "pipeline"
    else if (span.startsWith("stream.")) "stream"
    else "bench"
}

/** In-memory spans. Each op opens a root span; every span it opens
  * shares the root's id, and Spark jobs become child spans through the
  * benchmark-only local property [[Tracer.Key]] (job groups are left to
  * graft, which sets its own).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val cur = new ThreadLocal[Span]()
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def nowMs: Double = offsetMs + System.nanoTime() / 1e6

  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val parent = cur.get()
    val id = ids.incrementAndGet()
    val root = if (parent == null) id else parent.root
    val open = Span(id, if (parent == null) 0L else parent.id, root, name, nowMs, 0.0)
    val prevProp = sc.getLocalProperty(Key)
    cur.set(open)
    sc.setLocalProperty(Key, s"$id:$root")
    try f
    finally {
      spans.add(open.copy(endMs = nowMs))
      cur.set(parent)
      sc.setLocalProperty(Key, prevProp)
    }
  }

  def addJob(prop: String, startMs: Double, endMs: Double): Unit = {
    val Array(parent, root) = prop.split(':').map(_.toLong)
    spans.add(Span(ids.incrementAndGet(), parent, root, "job", startMs, endMs))
  }

  def clear(): Unit = spans.clear()

  /** Self time per layer: each span's duration minus the part of it
    * that its children cover.
    */
  def selfTimeByLayer(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val covered = Tracer.unionLength(kids.getOrElse(s.id, Seq.empty)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      self(Metrics.layerOf(s.name)) += math.max(0.0, s.endMs - s.startMs - covered)
    }
    self.toMap
  }
}

object Tracer {
  val Key = "perfbench.span"
  final case class Span(id: Long, parent: Long, root: Long, name: String,
      startMs: Double, endMs: Double)

  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}

/** Outside-in collectors of a traced run: a SparkListener (jobs, stages,
  * tasks, I/O, shuffle, spill, GC), a QueryExecutionListener (plan-phase
  * times of every SQL execution) and a StreamingQueryListener
  * (micro-batch progress), plus a poller of Spark's storage status for
  * the `graft.Mat` caches.
  */
final class Collectors(spark: SparkSession, tracer: Tracer) {
  private val sc = spark.sparkContext
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, (Double, String)]()
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
  val progress = mutable.ArrayBuffer[Map[String, Double]]()
  @volatile private var sentinelSeen = -1L
  private val sentinels = new AtomicLong(0L)

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  def get(k: String): Double = c.synchronized(c(k))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).map(_.getProperty(Tracer.Key)).orNull
      val sentinel = Option(e.properties).map(_.getProperty("perfbench.sentinel")).orNull
      if (sentinel == null) add("jobs", 1)
      c.synchronized(jobStart(e.jobId) = (e.time.toDouble, if (sentinel != null) "s:" + sentinel else prop))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = c.synchronized(jobStart.remove(e.jobId))
      st.foreach { case (t0, prop) =>
        if (prop != null && prop.startsWith("s:")) sentinelSeen = prop.drop(2).toLong
        else {
          c.synchronized(jobIntervals += ((t0, e.time.toDouble)))
          if (prop != null) tracer.addJob(prop, t0, e.time.toDouble)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime.toDouble)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("sql_actions", 1)
      qe.tracker.phases.foreach { case (phase, summary) =>
        add(s"phase.$phase", summary.durationMs.toDouble)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      c.synchronized(progress += (d + ("numInputRows" -> p.numInputRows.toDouble)))
    }
  }

  @volatile private var polling = true
  private val poller = new Thread(() => {
    while (polling) {
      try {
        val infos = sc.getRDDStorageInfo
        c.synchronized {
          c("mat_mem_peak") = math.max(c("mat_mem_peak"), infos.map(_.memSize).sum.toDouble)
          c("mat_disk_peak") = math.max(c("mat_disk_peak"), infos.map(_.diskSize).sum.toDouble)
          c("mat_rdds_peak") = math.max(c("mat_rdds_peak"), sc.getPersistentRDDs.size.toDouble)
        }
      } catch { case scala.util.control.NonFatal(_) => () }
      Thread.sleep(500) // a storage-status call walks every block: keep it rare
    }
  }, "perfbench-storage-poller")

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)
  poller.setDaemon(true)
  poller.start()

  def reset(): Unit = {
    drain()
    c.synchronized { c.clear(); jobIntervals.clear(); progress.clear() }
    tracer.clear()
    org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
  }

  /** Wait until the listener bus has delivered every event posted so
    * far: events of one queue arrive in order, so once a marker job's
    * end is seen, everything before it has been seen too.
    */
  def drain(): Unit = {
    val n = sentinels.incrementAndGet()
    sc.setLocalProperty("perfbench.sentinel", n.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.sentinel", null)
    val deadline = System.nanoTime() + 10000000000L
    while (sentinelSeen < n && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50) // the QueryExecutionListener and stream queues are separate
  }

  def close(): Unit = {
    polling = false
    poller.join(1000)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Graft rule time from Spark's RuleExecutor metering (rule classes
    * under `graft.`), in ms.
    */
  private def graftRulesMs(): Double = {
    val line = """^(\S+)\s+(\d+)\s*/\s*(\d+)\s.*""".r
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .split("\n").map(_.trim).collect {
        case line(rule, _, total) if rule.startsWith("graft.") => total.toDouble / 1e6
      }.sum
  }

  /** Layer metrics every workload shares: execution, cache, plan phases,
    * streaming progress and per-layer self-time shares.
    */
  def layerMetrics(ctx: Ctx): Unit = {
    val wall = ctx.windowS
    val ops = math.max(1L, ctx.attempted).toDouble
    val busy = Tracer.unionLength(jobIntervals.toSeq) / 1000.0
    ctx.layer("exec.jobs", get("jobs"), "count")
    ctx.layer("exec.stages", get("stages"), "count")
    ctx.layer("exec.tasks", get("tasks"), "count")
    ctx.layer("exec.driver_gap_s", math.max(0.0, wall - busy), "s")
    ctx.layer("exec.task_s", get("task_ms") / 1000.0, "s")
    ctx.layer("exec.busy_ratio", get("task_ms") / 1000.0 / (wall * ctx.cpus), "ratio")
    Seq("input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes").foreach(k => ctx.layer(s"exec.$k", get(k), "bytes"))
    ctx.layer("exec.gc_s", get("gc_ms") / 1000.0, "s")
    ctx.layer("mat.cached_mem_bytes", get("mat_mem_peak"), "bytes")
    ctx.layer("mat.cached_disk_bytes", get("mat_disk_peak"), "bytes")
    ctx.layer("mat.persisted_rdds", get("mat_rdds_peak"), "count")
    ctx.layer("sql.analysis_ms", get("phase.analysis") / ops, "ms")
    ctx.layer("sql.optimization_ms", get("phase.optimization") / ops, "ms")
    ctx.layer("sql.planning_ms", get("phase.planning") / ops, "ms")
    ctx.layer("sql.graft_rules_ms", graftRulesMs() / ops, "ms")
    ctx.layer("lake.meta_bytes_written",
      math.max(0.0, ctx.windowFsBytes - get("output_bytes")), "bytes")
    ctx.layer("lake.commit.conflicts", ctx.conflicts.toDouble, "count")
    val prog = c.synchronized(progress.toList).filter(_.getOrElse("numInputRows", 0.0) > 0)
    def progMed(k: String): Double = {
      val xs = prog.flatMap(_.get(k))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    ctx.layer("stream.trigger_ms", progMed("triggerExecution"), "ms")
    ctx.layer("stream.add_batch_ms", progMed("addBatch"), "ms")
    ctx.layer("stream.query_planning_ms", progMed("queryPlanning"), "ms")
    ctx.layer("stream.latest_offset_ms", progMed("latestOffset"), "ms")
    ctx.layer("stream.wal_commit_ms", progMed("walCommit"), "ms")

    val spans = tracer.spans.asScala.toSeq
    def jobsUnder(prefix: String): (Double, Int) = {
      val under = spans.filter(_.name.startsWith(prefix))
      val ids = under.map(_.id).toSet
      (spans.count(s => s.name == "job" && ids.contains(s.parent)).toDouble, under.size)
    }
    val (commitJobs, commits) = jobsUnder("lake.commit.")
    ctx.layer("lake.commit.jobs", if (commits == 0) 0.0 else commitJobs / commits, "count")
    val gaps = spans.filter(_.name.startsWith("lake.commit.")).map { s =>
      val jobs = spans.filter(j => j.name == "job" && j.parent == s.id)
        .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      s.endMs - s.startMs - Tracer.unionLength(jobs)
    }
    ctx.layer("lake.commit.driver_gap_ms", if (gaps.isEmpty) 0.0 else Stats.median(gaps), "ms")
    val (batchJobs, batches) = jobsUnder("stream.batch")
    // jobs of a batch sit under its child spans too: count the whole subtree
    val batchRoots = spans.filter(_.name == "stream.batch").map(_.root).toSet
    val subtreeJobs = spans.count(s => s.name == "job" && batchRoots.contains(s.root))
    ctx.layer("stream.jobs_per_batch",
      if (batches == 0) 0.0 else math.max(batchJobs, subtreeJobs.toDouble) / batches, "count")

    val self = tracer.selfTimeByLayer()
    val total = self.values.sum
    Metrics.selfLayers.foreach { l =>
      ctx.layer(s"self.$l", if (total <= 0) 0.0 else self.getOrElse(l, 0.0) / total, "fraction")
    }
    ctx.figure("self-time shares: " + Metrics.selfLayers.map(l =>
      f"$l ${if (total <= 0) 0.0 else self.getOrElse(l, 0.0) / total * 100}%.1f%%").mkString(", "))
  }
}
