package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.lake.{DepSpec, GraftTable}
import graft.sql.GraftCatalog

/** The managed `lineitem` table both lake workloads read: partitioned
  * through a `month` dependency on `l_shipdate`, sorted by `l_orderkey`,
  * grown by seeded appends so its manifest is sharded. `log` maps each
  * snapshot id to the number of source rows it holds (the append log).
  */
final class LakeTable(val root: String, val src: String, val n: Long,
    val log: mutable.LinkedHashMap[Long, Long])

object LakeTable {
  val MonthCol = "l_shipmonth"

  /** Build the table under `dir` from seeded source parquet. */
  def build(s: SparkSession, seed: Long, dir: String, n: Long, appends: Int): LakeTable = {
    val src = s"$dir/src/lineitem.parquet"
    Data.lineitem(s, seed, n, 0L, n).write.mode("overwrite").parquet(src)
    val rnd = new java.util.Random(seed * 131L + 7L)
    val w = Seq.fill(appends)(0.5 + rnd.nextDouble())
    val bounds = w.scanLeft(0.0)(_ + _).map(x => math.round(x / w.sum * n))
    val rows = s.read.parquet(src)
    def chunk(k: Int): DataFrame = rows
      .filter(col("_row") >= bounds(k) && col("_row") < bounds(k + 1))
      .select(Data.LineitemCols.map(col): _*)
    val root = s"$dir/lineitem"
    val log = mutable.LinkedHashMap[Long, Long]()
    val t = GraftTable.create(s, root, chunk(0).sortWithinPartitions("l_orderkey"),
      Seq(MonthCol), Seq(DepSpec("l_shipdate", MonthCol, "month")))
    log(t.currentId) = bounds(1)
    t.setProperty(GraftTable.SortColsProp, "l_orderkey")
    log(t.currentId) = bounds(1)
    (1 until appends).foreach { k =>
      t.append(chunk(k))
      log(t.currentId) = bounds(k + 1)
    }
    new LakeTable(root, src, n, log)
  }

  /** Plain-Spark view of the source rows with the derived month column. */
  def reference(s: SparkSession, lt: LakeTable): DataFrame =
    s.read.parquet(lt.src).withColumn(MonthCol,
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))

  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec        => scans(q.plan)
    case f: FileSourceScanExec    => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Order-independent equality of two answers; doubles may differ in
    * the last bits because sums run in a different order.
    */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.6e"
      case x => String.valueOf(x)
    }.mkString("|")
    def close(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p) + math.abs(q))
      case (p: Number, q: Number) => p.toString == q.toString
      case _ => x == y
    }
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (r1, r2) =>
      r1.size == r2.size && r1.toSeq.zip(r2.toSeq).forall { case (x, y) => close(x, y) }
    }
  }
}

/** One seeded read: the SQL graft runs and its expected answer. */
final case class ReadQuery(cls: String, sql: String, var expected: Seq[Row])

/** A source row as the driver-side reference evaluates it. */
final case class SrcRow(row: Long, key: Long, qty: Double, price: Double, disc: Double,
    tax: Double, flag: String, status: String, ship: java.sql.Timestamp, month: Int)

object LakeRead {
  val Rows = 60000L
  val Appends = 5
  val Classes: Seq[String] = Seq("part_prune", "stats_prune", "meta_agg", "null_scan",
    "asof", "snapshots_view", "full_scan")

  def ts(day: Long): String =
    java.time.LocalDate.ofEpochDay(day).toString + " 00:00:00"
  private def tsv(day: Long) = java.sql.Timestamp.valueOf(ts(day))

  /** The source rows on the driver: the reference answers below are
    * computed from them in plain Scala, without graft.
    */
  def sourceRows(s: SparkSession, lt: LakeTable): Seq[SrcRow] =
    LakeTable.reference(s, lt).select("_row", "l_orderkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate", LakeTable.MonthCol)
      .collect().toSeq.map(r => SrcRow(r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getString(6), r.getString(7),
        r.getTimestamp(8), r.getInt(9)))

  private def sumOrNull(xs: Seq[Double]): Any = if (xs.isEmpty) null else xs.sum

  /** `per` seeded instances of every class; with `src` given, each gets
    * its expected answer from the source rows and the append log.
    */
  def queries(lt: LakeTable, name: String, seed: Long, per: Int,
      src: Option[Seq[SrcRow]]): Seq[ReadQuery] = {
    val rnd = new java.util.Random(seed * 1009L + 3L)
    val maxKey = lt.n / 4
    val ids = lt.log.keys.toIndexedSeq
    def q(cls: String, sql: String)(answer: Seq[SrcRow] => Seq[Row]) =
      ReadQuery(cls, sql, src.map(answer).orNull)
    Classes.flatMap { cls =>
      (0 until per).map { _ =>
        cls match {
          case "part_prune" =>
            val d = Data.Day0 + rnd.nextInt((Data.ShipDays - 60).toInt)
            q(cls, s"SELECT count(*) AS n, sum(l_extendedprice) AS s FROM $name " +
              s"WHERE l_shipdate >= TIMESTAMP '${ts(d)}' AND l_shipdate < TIMESTAMP '${ts(d + 45)}'") { rs =>
              val m = rs.filter(r => !r.ship.before(tsv(d)) && r.ship.before(tsv(d + 45)))
              Seq(Row(m.size.toLong, sumOrNull(m.map(_.price))))
            }
          case "stats_prune" =>
            val k = 1L + rnd.nextInt(math.max(1, (maxKey - 2000).toInt))
            q(cls, s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $name " +
              s"WHERE l_orderkey BETWEEN $k AND ${k + 1500}") { rs =>
              val m = rs.filter(r => r.key >= k && r.key <= k + 1500)
              Seq(Row(m.size.toLong, sumOrNull(m.map(_.qty))))
            }
          case "meta_agg" =>
            val y = 1992 + rnd.nextInt((Data.ShipDays / 365).toInt)
            val (m0, m1) = (y * 100 + 1, y * 100 + 1 + rnd.nextInt(12))
            q(cls, s"SELECT count(*) AS n, min(l_orderkey) AS lo, max(l_orderkey) AS hi, " +
              s"min(l_shipdate) AS d0, max(l_shipdate) AS d1 FROM $name " +
              s"WHERE ${LakeTable.MonthCol} BETWEEN $m0 AND $m1") { rs =>
              val m = rs.filter(r => r.month >= m0 && r.month <= m1)
              if (m.isEmpty) Seq(Row(0L, null, null, null, null))
              else Seq(Row(m.size.toLong, m.map(_.key).min, m.map(_.key).max,
                m.map(_.ship).minBy(_.getTime), m.map(_.ship).maxBy(_.getTime)))
            }
          case "null_scan" =>
            val k = 1 + rnd.nextInt(maxKey.toInt)
            q(cls, s"SELECT count(*) AS n, sum(l_tax) AS t FROM $name " +
              s"WHERE l_orderkey < $k AND l_orderkey > ${k + 100}")(_ => Seq(Row(0L, null)))
          case "asof" =>
            val id = ids(rnd.nextInt(ids.size - 1))
            q(cls, s"AS OF '$id' SELECT count(*) AS n, sum(l_discount) AS d FROM $name") { rs =>
              val m = rs.filter(_.row < lt.log(id))
              Seq(Row(m.size.toLong, sumOrNull(m.map(_.disc))))
            }
          case "snapshots_view" =>
            val id = ids(1 + rnd.nextInt(ids.size - 1))
            q(cls, s"SELECT count(*) AS n, max(snapshot_id) AS mx FROM `$name$$snapshots` " +
              s"WHERE snapshot_id <= $id")(_ => Seq(Row(ids.count(_ <= id).toLong, id)))
          case "full_scan" =>
            val d = Data.Day0 + Data.ShipDays - 30 - rnd.nextInt(60)
            q(cls, "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q, " +
              "sum(l_extendedprice) AS p, sum(l_extendedprice * (1 - l_discount)) AS dp, " +
              s"avg(l_discount) AS ad, count(*) AS n FROM $name " +
              s"WHERE l_shipdate <= TIMESTAMP '${ts(d)}' GROUP BY l_returnflag, l_linestatus") { rs =>
              rs.filter(r => !r.ship.after(tsv(d))).groupBy(r => (r.flag, r.status)).toSeq.map {
                case ((f, st), g) => Row(f, st, g.map(_.qty).sum, g.map(_.price).sum,
                  g.map(r => r.price * (1 - r.disc)).sum, g.map(_.disc).sum / g.size, g.size.toLong)
              }
            }
        }
      }
    }
  }
}

/** Shared read-op driver of both lake workloads. */
final class Reader(ctx: Ctx, root: String) {
  /** Scan facts of traced reads: class -> (files read, manifest files, list ms). */
  val scanFacts = mutable.ArrayBuffer[(String, Long, Long, Double)]()

  /** One read: resolve the current snapshot, plan, run. */
  def read(q: ReadQuery): Option[Seq[Row]] = {
    val t0 = System.nanoTime()
    val out = ctx.op("read") {
      val r0 = System.nanoTime()
      val cur = ctx.span("lake.resolve")(new GraftTable(root, ctx.spark).current)
      ctx.sample("resolve", (System.nanoTime() - r0) / 1e6)
      val df = ctx.span("sql.plan") {
        val d = ctx.spark.sql(q.sql)
        d.queryExecution.executedPlan
        d
      }
      val rows = ctx.span("exec.run")(df.collect().toSeq)
      if (ctx.tracer != null) {
        val sc = LakeTable.scans(df.queryExecution.executedPlan)
        val files = sc.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        val listMs = sc.map(_.metrics.get("metadataTime").map(_.value).getOrElse(0L)).sum
        scanFacts.synchronized(scanFacts += ((q.cls, files, cur.files.size.toLong, listMs.toDouble)))
      }
      rows
    }
    out.foreach(_ => ctx.sample(s"read.${q.cls}", (System.nanoTime() - t0) / 1e6))
    out
  }

  /** Per-layer read metrics from the traced reads. */
  def layerMetrics(): Unit = {
    val rs = ctx.samplesOf("resolve")
    ctx.layer("lake.resolve_ms", if (rs.isEmpty) 0.0 else Stats.median(rs), "ms")
    val data = scanFacts.filter(_._1 != "snapshots_view")
    if (data.nonEmpty) {
      ctx.layer("lake.list_ms", Stats.median(data.map(_._4)), "ms")
      ctx.layer("lake.scan_files", data.map(_._2.toDouble).sum / data.size, "count")
      ctx.layer("lake.files_read_ratio",
        data.map(f => if (f._3 == 0) 0.0 else f._2.toDouble / f._3).sum / data.size, "ratio")
    }
    def hitRatio(cls: String): Double = {
      val xs = scanFacts.filter(_._1 == cls)
      if (xs.isEmpty) 0.0 else xs.count(_._2 == 0L).toDouble / xs.size
    }
    ctx.layer("sql.meta_agg_hit_ratio", hitRatio("meta_agg"), "ratio")
    ctx.layer("sql.null_scan_hit_ratio", hitRatio("null_scan"), "ratio")
    LakeRead.Classes.foreach { c =>
      val xs = ctx.samplesOf(s"read.$c")
      ctx.layer(s"read.${c}_p50_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
  }
}

object LakeFacts {
  def dirBytes(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Bytes of `df` written once as plain parquet (the amplification base). */
  def plainBytes(s: SparkSession, df: DataFrame, dir: String): Long = {
    df.write.mode("overwrite").parquet(dir)
    dirBytes(s, dir)
  }

  /** End-of-run table shape, as lake layer metrics. */
  def tableShape(ctx: Ctx, root: String): graft.lake.Snapshot = {
    val t = new GraftTable(root, ctx.spark)
    val cur = t.current
    ctx.layer("lake.manifest_files", cur.files.size.toDouble, "count")
    ctx.layer("lake.live_delete_files", cur.deleteFiles.size.toDouble, "count")
    ctx.layer("lake.snapshots", t.snapshotIds.size.toDouble, "count")
    cur
  }
}

/** `lake_read`: a seeded mix of SQL reads of a managed table, repeated
  * in a closed loop by one client; no commit runs.
  */
final class LakeRead extends Workload {
  val tailPct = 75.0
  private var lt: LakeTable = _
  private var qs: Seq[ReadQuery] = Seq.empty
  private val name = "lineitem"
  private var reader: Reader = _

  def setup(ctx: Ctx, dir: String): Unit = {
    val (n, appends) = if (ctx.opts.smoke) (6000L, 6) else (LakeRead.Rows, LakeRead.Appends)
    lt = LakeTable.build(ctx.spark, ctx.opts.seed, dir, n, appends)
    GraftCatalog.register(name, lt.root)
    qs = LakeRead.queries(lt, name, ctx.opts.seed, if (ctx.opts.smoke) 1 else 2,
      Some(LakeRead.sourceRows(ctx.spark, lt)))
    if (ctx.opts.plant) {
      // corrupt one expected answer: the run must then fail
      val q = qs.head
      q.expected = q.expected.map(r => Row.fromSeq(r.toSeq.updated(0, r.getLong(0) + 1)))
    }
  }

  /** Every query instance once, so the timed loop finds their generated
    * code compiled and cached.
    */
  def warmup(ctx: Ctx): Unit = qs.foreach(q => ctx.spark.sql(q.sql).collect())

  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    reader = new Reader(ctx, lt.root)
    val rnd = new java.util.Random(ctx.opts.seed)
    val byClass = qs.groupBy(_.cls)
    var cycle = 0
    val maxOps = if (ctx.opts.smoke) LakeRead.Classes.size else Int.MaxValue
    var ops = 0
    // whole cycles only, so every run has the same mix of classes
    while (System.nanoTime() < deadlineNs && ops < maxOps) {
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(LakeRead.Classes)
      order.foreach { c =>
        val inst = byClass(c)(cycle % byClass(c).size)
        reader.read(inst).foreach { rows =>
          if (!LakeTable.sameRows(rows, inst.expected))
            ctx.wrong(s"$c answer", s"${inst.sql}: got $rows, expected ${inst.expected}")
        }
        ops += 1
      }
      cycle += 1
    }
  }

  def finish(ctx: Ctx): Unit = {
    ctx.latency("read", "read", tailPct)
    ctx.e2e("work_per_s", ctx.attempted / ctx.windowS, "1/s")
    ctx.figure(f"ops_per_s        ${ctx.attempted / ctx.windowS}%.2f ops/s")
    val s = ctx.spark
    val cur = LakeFacts.tableShape(ctx, lt.root)
    ctx.figure(s"table            ${cur.totalRows} rows, ${cur.files.size} files, " +
      s"${lt.log.size} snapshots, ${cur.shards.size} manifest shards")
    if (ctx.tracer != null) {
      val live = s.read.parquet(lt.src).select(Data.LineitemCols.map(col): _*)
      val amp = LakeFacts.dirBytes(s, lt.root).toDouble /
        LakeFacts.plainBytes(s, live, s"${ctx.opts.work}/plain")
      ctx.layer("lake.storage_amp", amp, "ratio")
      ctx.figure(f"storage_amp      $amp%.3f (table bytes / plain parquet of ${cur.totalRows} rows)")
      reader.layerMetrics()
    }
  }
}
