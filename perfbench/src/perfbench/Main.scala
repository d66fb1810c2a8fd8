package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, smoke: Boolean, plant: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map[String, String]()
    val flags = mutable.Set[String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (Set("--smoke", "--plant").contains(a)) { flags += a; i += 1 }
      else {
        require(a.startsWith("--") && i + 1 < args.length, s"bad argument $a")
        kv(a.drop(2)) = args(i + 1); i += 2
      }
    }
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"),
      flags("--smoke"), flags("--plant"))
  }
}

/** A workload: builds its inputs (untimed except as `setup_s`), drives
  * graft in a closed loop with one client for about the run length, then
  * checks the final state against references computed without graft.
  */
trait Workload {
  /** Fixed tail percentile, sized to the sample count at the benchmark's
    * run length (see perfbench/WORKLOADS.md).
    */
  def tailPct: Double
  /** Build every input under `dir`; called several times per run. */
  def setup(ctx: Ctx, dir: String): Unit
  /** Untimed warm-up on the last set-up, then the timed closed loop. */
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx, deadlineNs: Long): Unit
  /** Final-state checks and size-based metrics (after the timed window). */
  def finish(ctx: Ctx): Unit
}

object Main {
  /** Set-up repetitions per run; `setup_s` is their median. Two is what
    * a full benchmark pass affords (22 runs per workload in 3420 s): the
    * first set-up in a fresh JVM is the slowest (JIT), so the median is
    * the mean of a cold and a warm build.
    */
  val SetupReps = 2

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String): Workload = name match {
    case "lake_read"     => new LakeRead
    case "lake_mixed"    => new LakeMixed
    case "corpus_build"  => new CorpusBuild
    case "stream_ingest" => new StreamIngest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val w = workload(opts.workload)
    val spark = session(cpus, opts.work)
    val ctx = new Ctx(spark, opts, cpus)
    var code = 0
    try {
      val setupS = (0 until (if (opts.smoke) 1 else SetupReps)).map { r =>
        val dir = s"${opts.work}/setup-$r"
        val t0 = System.nanoTime()
        w.setup(ctx, dir)
        val s = (System.nanoTime() - t0) / 1e9
        ctx.note(f"setup $r: $s%.3f s")
        s
      }
      ctx.e2e("setup_s", Stats.median(setupS), "s")
      w.warmup(ctx)
      ctx.note("warm-up done")
      ctx.startWindow()
      val t0 = System.nanoTime()
      w.run(ctx, t0 + (opts.seconds * 1e9).toLong)
      ctx.endWindow()
      ctx.note("timed window done")
      ctx.e2e("heap_live_mb", Proc.liveHeapMb(), "MB")
      w.finish(ctx)
      ctx.note("checks done")
      ctx.figure(f"rss_peak_mb      ${Proc.vmHwmKb() / 1024.0}%.1f MB (JVM VmHWM, whole run)")
      code = ctx.emit()
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${opts.workload} aborted: $e")
        e.printStackTrace()
        code = 4
    } finally {
      ctx.close()
      spark.stop()
    }
    sys.exit(code)
  }
}

object Proc {
  /** Heap still in use after a full collection: what the engine retains
    * once the timed work is done (caches, registries, listeners).
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)
}
