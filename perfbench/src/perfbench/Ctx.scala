package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Per-run state: latency samples, correctness tallies, metrics, and —
  * in a traced run only — the tracer and the outside-in collectors.
  * An untraced run installs no listener at all.
  */
final class Ctx(val spark: SparkSession, val opts: Opts, val cpus: Int) {
  val tracer: Tracer = if (opts.trace) new Tracer(spark) else null
  val collectors: Collectors = if (opts.trace) new Collectors(spark, tracer) else null

  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val e2eMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val layerMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  /** The workload's user-facing figures, printed in the report. */
  private val figures = mutable.ArrayBuffer[String]()
  private val notes = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  var conflicts = 0L
  var windowStartNs = 0L
  var windowEndNs = 0L
  private val fsBytes0 = mutable.Map[String, Long]()

  def windowS: Double = (windowEndNs - windowStartNs) / 1e9
  private val bornNs = System.nanoTime()
  def note(s: String): Unit = synchronized {
    notes += s
    System.err.println(f"[perfbench ${(System.nanoTime() - bornNs) / 1e9}%7.2f s] $s")
  }

  def sample(key: String, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer[Double]()) += ms
  }
  def samplesOf(key: String): Seq[Double] =
    synchronized(samples.get(key).map(_.toSeq).getOrElse(Seq.empty))

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)
  def figure(s: String): Unit = figures += s

  /** Wrap a layer boundary in a span (a no-op when untraced). */
  def span[T](name: String)(f: => T): T = if (tracer == null) f else tracer.span(name)(f)

  /** One operation of the closed loop: timed end to end under a root
    * span; a thrown exception counts as a failed op and the loop goes on.
    */
  def op[T](kind: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = span(s"op.$kind")(f)
      sample(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (e.getClass.getName.contains("ConcurrentModification")) conflicts += 1
        note(s"FAILED op $kind: $e")
        None
    }
  }

  /** A wrong answer of an op already counted as attempted. */
  def wrong(what: String, detail: String): Unit = { failed += 1; note(s"WRONG $what: $detail") }

  /** A final-state check: one more attempted op, failed when false. */
  def check(what: String, ok: Boolean, detail: => String): Boolean = {
    attempted += 1
    if (!ok) wrong(what, detail)
    ok
  }

  /** Hadoop local-FS bytes written so far (every table write goes there). */
  def fsBytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  /** CPU time of every thread of this JVM: Spark's task threads, the
    * driver, GC and JIT.
    */
  private def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private var cpuNs0 = 0L

  def startWindow(): Unit = {
    if (collectors != null) collectors.reset()
    samples.clear()
    attempted = 0L; failed = 0L; conflicts = 0L
    fsBytes0("window") = fsBytesWritten
    cpuNs0 = processCpuNs
    windowStartNs = System.nanoTime()
  }

  def endWindow(): Unit = {
    windowEndNs = System.nanoTime()
    val cpuMs = (processCpuNs - cpuNs0) / 1e6
    figure(f"cpu_ms_per_op    ${cpuMs / math.max(1L, attempted)}%.1f ms of JVM CPU per op " +
      f"(${cpuMs / 1000 / windowS}%.2f cores busy on average, JIT and GC included)")
    fsBytes0("window-end") = fsBytesWritten
    if (collectors != null) collectors.drain()
  }

  def windowFsBytes: Long = fsBytes0("window-end") - fsBytes0("window")

  /** Median and fixed tail percentile of one latency series, recorded
    * as end-to-end metrics and as a report figure with its sample count.
    */
  def latency(series: String, label: String, tailPct: Double): Unit = {
    val xs = samplesOf(series)
    require(xs.nonEmpty, s"no $series samples in the timed window")
    val p50 = Stats.median(xs)
    val tail = Stats.quantile(xs, tailPct / 100)
    val beyond = xs.count(_ > tail)
    e2e("op_p50_ms", p50, "ms"); e2e("op_tail_ms", tail, "ms")
    figure(f"$label%-16s p50 $p50%.2f ms, p${tailPct}%.0f $tail%.2f ms " +
      f"(n=${xs.size}, $beyond beyond the tail)")
    if (xs.size <= 20) figure(s"$label samples   " + xs.map(x => f"$x%.0f").mkString(" "))
  }

  def close(): Unit = if (collectors != null) collectors.close()

  /** Print the report and the result line; the exit code is non-zero
    * when any op failed or any answer was wrong.
    */
  def emit(): Int = {
    if (tracer != null) collectors.layerMetrics(this)
    val out = System.out
    out.println(s"== perfbench ${opts.workload} seed=${opts.seed} " +
      s"seconds=${opts.seconds} trace=${if (opts.trace) 1 else 0} " +
      s"cpus=$cpus smoke=${opts.smoke} plant=${opts.plant}")
    figures.foreach(f => out.println(s"  $f"))
    out.println(f"  error_rate       ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f " +
      s"($failed failed or wrong of $attempted attempted)")
    val shown = if (opts.trace) Metrics.perLayer else Metrics.endToEnd
    val values = if (opts.trace) layerMetrics else e2eMetrics
    if (opts.trace) {
      out.println("  -- end-to-end metrics of this traced run (compare with --trace 0 for the overhead)")
      e2eMetrics.foreach { case (k, (v, u)) => out.println(f"  $k%-34s $v%14.4f $u") }
    }
    out.println(s"  -- ${if (opts.trace) "per-layer" else "end-to-end"} metrics")
    shown.foreach { case (k, u) =>
      out.println(f"  $k%-34s ${values.get(k).map(_._1).getOrElse(0.0)}%14.4f $u")
    }
    if (opts.trace) {
      val listed = shown.map(_._1).toSet
      val extra = layerMetrics.filterNot(m => listed(m._1))
      if (extra.nonEmpty) out.println("  -- workload-specific layer figures (not in BENCHMARK.json)")
      extra.foreach { case (k, (v, u)) => out.println(f"  $k%-34s $v%14.4f $u") }
    }
    notes.filter(n => n.startsWith("WRONG") || n.startsWith("FAILED"))
      .take(20).foreach(n => out.println(s"  ! $n"))
    val metricsJson = shown.map { case (k, u) =>
      val v = values.get(k).map(_._1).getOrElse(0.0)
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val correct = failed == 0L && attempted > 0L
    out.println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1L)}, """ +
      s""""failed": $failed, "metrics": $metricsJson}""")
    out.flush()
    if (correct) 0 else 1
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
