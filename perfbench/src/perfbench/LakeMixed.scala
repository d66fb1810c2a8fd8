package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.lake.GraftTable
import graft.sql.GraftCatalog

/** One logged DML statement, replayed on plain Spark DataFrames at the end. */
sealed trait MixedOp
final case class Insert(lo: Long, hi: Long) extends MixedOp
final case class Delete(k0: Long, k1: Long) extends MixedOp
final case class Update(k0: Long, k1: Long) extends MixedOp
final case class Merge(k0: Long, k1: Long, lo: Long, hi: Long) extends MixedOp

object LakeMixed {
  val Rows = 60000L
  val Appends = 5
  val Kinds: Seq[String] = Seq("insert", "delete", "merge", "update")
  /** One cycle of the loop, shuffled per cycle. Inserts come twice: the
    * cycle has an odd length, so the round median sits inside one cost
    * class instead of between two.
    */
  val Cycle: Seq[String] = Seq("insert", "insert", "delete", "merge", "update")
  /** Rows per INSERT, orders per DELETE/UPDATE/MERGE range, new rows per MERGE. */
  val InsertRows = 1000L
  val RangeOrders = 50L
  val MergeNewRows = 50L
  val KeepSnapshots = 12
  val Props: Map[String, String] = Map(
    GraftTable.DeleteModeProp -> "dv",
    GraftTable.AutoCompactProp -> "true",
    GraftTable.AutoCompactMinFilesProp -> "4",
    GraftTable.MaxSnapshotsProp -> KeepSnapshots.toString)

  def hashOf(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(Data.LineitemCols.map(col): _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** `lake_mixed`: writes beside reads. One client alternates a SQL DML
  * statement (INSERT / DELETE / MERGE upsert / UPDATE, seeded order)
  * with one read of the `lake_read` classes, on a table with deletion
  * vectors, auto-compaction and snapshot retention, so maintenance runs
  * several times per run. The unit op ("round") is one DML plus the
  * read after it.
  */
final class LakeMixed extends Workload {
  import LakeMixed._
  val tailPct = 75.0
  private val name = "lineitem"
  private var lt: LakeTable = _
  private var reads: Seq[ReadQuery] = Seq.empty
  private var live: java.util.BitSet = _
  private var nextId = 0L
  private val log = mutable.ArrayBuffer[MixedOp]()
  private var windowOps = 0
  /** snapshot id -> live row count, recorded at commit time. */
  private val counts = mutable.LinkedHashMap[Long, Long]()
  private var rnd: java.util.Random = _
  private var reader: Reader = _
  /** Traced runs: snapshots seen, for the maintenance figures. */
  private val seenSnaps = mutable.LinkedHashMap[Long, (String, Long)]()
  private var maintBytes = 0L
  private var firstWindowSnap = 0L
  private var expiries = 0

  def setup(ctx: Ctx, dir: String): Unit = {
    val (n, appends) = if (ctx.opts.smoke) (6000L, 4) else (Rows, Appends)
    lt = LakeTable.build(ctx.spark, ctx.opts.seed, dir, n, appends)
    new GraftTable(lt.root, ctx.spark).setProperties(Props)
    GraftCatalog.register(name, lt.root)
    reads = LakeRead.queries(lt, name, ctx.opts.seed, 2, None)
    live = new java.util.BitSet()
    live.set(0, n.toInt)
    nextId = n
    log.clear(); counts.clear()
    record(ctx)
    rnd = new java.util.Random(ctx.opts.seed * 17L + 5L)
  }

  private def maxKey: Long = nextId / 4

  private def record(ctx: Ctx): Unit =
    counts(new GraftTable(lt.root, ctx.spark).currentId) = live.cardinality().toLong

  private def keyRange(): (Long, Long) = {
    val k0 = 1L + (rnd.nextDouble() * (maxKey - RangeOrders - 1)).toLong
    (k0, k0 + RangeOrders - 1)
  }
  private def rowsOf(k0: Long, k1: Long): (Int, Int) =
    (Data.rowId(k0, 1).toInt, Data.rowId(k1, 4).toInt + 1)

  private val cols = Data.LineitemCols.mkString(", ")

  /** Issue one DML statement and update the bit-set model of live rows. */
  private def dml(ctx: Ctx, kind: String): Unit = {
    val s = ctx.spark
    val seed = ctx.opts.seed
    val t0 = System.nanoTime()
    kind match {
      case "insert" =>
        val (lo, hi) = (nextId, nextId + InsertRows)
        Data.lineitem(s, seed, lt.n, lo, hi).createOrReplaceTempView("pb_ins")
        ctx.span("lake.commit.append")(s.sql(s"INSERT INTO $name SELECT $cols FROM pb_ins"))
        nextId = hi; live.set(lo.toInt, hi.toInt); log += Insert(lo, hi)
      case "delete" =>
        val (k0, k1) = keyRange()
        ctx.span("lake.commit.delete")(s.sql(s"DELETE FROM $name WHERE l_orderkey BETWEEN $k0 AND $k1"))
        val (a, b) = rowsOf(k0, k1); live.clear(a, b); log += Delete(k0, k1)
      case "update" =>
        val (k0, k1) = keyRange()
        ctx.span("lake.commit.update")(s.sql(
          s"UPDATE $name SET l_quantity = l_quantity + 1 WHERE l_orderkey BETWEEN $k0 AND $k1"))
        log += Update(k0, k1)
      case "merge" =>
        val (k0, k1) = keyRange()
        val (lo, hi) = (nextId, nextId + MergeNewRows)
        mergeSource(ctx, k0, k1, lo, hi).createOrReplaceTempView("pb_merge")
        ctx.span("lake.commit.merge")(s.sql(
          s"MERGE INTO $name USING pb_merge ON $name.l_orderkey = pb_merge.l_orderkey " +
            s"AND $name.l_linenumber = pb_merge.l_linenumber " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
        nextId = hi
        val (a, b) = rowsOf(k0, k1); live.set(a, b); live.set(lo.toInt, hi.toInt)
        log += Merge(k0, k1, lo, hi)
    }
    ctx.sample("commit", (System.nanoTime() - t0) / 1e6)
    ctx.sample(s"commit.$kind", (System.nanoTime() - t0) / 1e6)
  }

  private def mergeSource(ctx: Ctx, k0: Long, k1: Long, lo: Long, hi: Long): DataFrame = {
    val (a, b) = rowsOf(k0, k1)
    Data.lineitem(ctx.spark, ctx.opts.seed, lt.n, a, b)
      .withColumn("l_extendedprice", col("l_extendedprice") + 1.0)
      .unionByName(Data.lineitem(ctx.spark, ctx.opts.seed, lt.n, lo, hi))
      .select(Data.LineitemCols.map(col): _*)
  }

  /** One read; asof and null_scan answers are checked. */
  private def read(ctx: Ctx, cls: String, i: Int): Boolean = {
    val q = if (cls != "asof") reads.filter(_.cls == cls)(i % 2) else {
      val cur = counts.keys.max
      val ok = counts.keys.filter(_ >= cur - KeepSnapshots + 2).toIndexedSeq
      val id = ok(rnd.nextInt(ok.size))
      ReadQuery(cls, s"AS OF '$id' SELECT count(*) AS n FROM $name", Seq(Row(counts(id))))
    }
    val out = reader.read(q)
    out.foreach { rows =>
      val exp = if (cls == "null_scan") Seq(Row(0L, null)) else q.expected
      if (exp != null && !LakeTable.sameRows(rows, exp))
        ctx.wrong(s"$cls answer", s"${q.sql}: got $rows, expected $exp")
    }
    out.isDefined
  }

  /** Snapshot bookkeeping of traced runs: maintenance commits and expiry. */
  private def observeSnapshots(ctx: Ctx): Unit = if (ctx.tracer != null) {
    val t = new GraftTable(lt.root, ctx.spark)
    val ids = t.snapshotIds.sorted
    if (lastMinId != 0L && ids.head > lastMinId) expiries += 1
    lastMinId = ids.head
    ids.filterNot(seenSnaps.contains).foreach { id =>
      val sn = t.snapshot(id)
      seenSnaps(id) = (sn.operation, sn.tsMillis)
      if (sn.operation == "compact") t.snapshotIfExists(sn.parentId).foreach { p =>
        val kept = sn.files.map(_.path).toSet
        maintBytes += p.files.filterNot(f => kept(f.path)).map(_.bytes).sum
      }
    }
  }

  private var lastMinId = 0L

  private def round(ctx: Ctx, kind: String, cls: String, i: Int): Unit = {
    val t0 = System.nanoTime()
    val wrote = ctx.op(kind)(dml(ctx, kind)).isDefined
    record(ctx)
    if (read(ctx, cls, i) && wrote) ctx.sample("round", (System.nanoTime() - t0) / 1e6)
    observeSnapshots(ctx)
  }

  def warmup(ctx: Ctx): Unit = {
    reader = new Reader(ctx, lt.root)
    // the first write compacts the set-up's small files: keep it untimed
    Kinds.foreach(k => dml(ctx, k))
    record(ctx)
    LakeRead.Classes.foreach(c => read(ctx, c, 0))
    observeSnapshots(ctx)
    windowOps = log.size
  }

  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    reader = new Reader(ctx, lt.root)
    maintBytes = 0L; expiries = 0
    firstWindowSnap = if (seenSnaps.isEmpty) 0L else seenSnaps.keys.max + 1
    val shuffle = scala.util.Random.javaRandomToRandom(new java.util.Random(ctx.opts.seed))
    var i = 0
    val maxRounds = if (ctx.opts.smoke) Cycle.size else Int.MaxValue
    // whole cycles only, so every run has the same mix of statements
    while (System.nanoTime() < deadlineNs && i < maxRounds) {
      val classes = shuffle.shuffle(LakeRead.Classes)
      shuffle.shuffle(Cycle).foreach { k =>
        round(ctx, k, classes(i % classes.size), i)
        i += 1
      }
    }
  }

  /** Replay the op log on plain Spark DataFrames over the source rows. */
  private def replay(ctx: Ctx): DataFrame = {
    val s = ctx.spark
    val base = s.read.parquet(lt.src).select(Data.LineitemCols.map(col): _*)
    log.foldLeft(base) { (df, op) =>
      def inKeys(k0: Long, k1: Long) = col("l_orderkey").between(k0, k1)
      op match {
        case Insert(lo, hi) => df.unionByName(
          Data.lineitem(s, ctx.opts.seed, lt.n, lo, hi).select(Data.LineitemCols.map(col): _*))
        case Delete(k0, k1) => df.filter(!inKeys(k0, k1))
        case Update(k0, k1) => df.withColumn("l_quantity",
          when(inKeys(k0, k1), col("l_quantity") + 1).otherwise(col("l_quantity")))
        case Merge(k0, k1, lo, hi) =>
          val src = mergeSource(ctx, k0, k1, lo, hi)
          df.join(src.select("l_orderkey", "l_linenumber"), Seq("l_orderkey", "l_linenumber"),
            "left_anti").select(Data.LineitemCols.map(col): _*).unionByName(src)
      }
    }
  }

  def finish(ctx: Ctx): Unit = {
    val s = ctx.spark
    ctx.latency("round", "round", tailPct)
    ctx.e2e("work_per_s", ctx.samplesOf("round").size / ctx.windowS, "1/s")
    val rounds = ctx.samplesOf("round").size
    ctx.figure(f"ops_per_s        ${2 * rounds / ctx.windowS}%.2f ops/s ($rounds DML + $rounds reads)")
    Seq("read" -> "read", "commit" -> "commit").foreach { case (k, l) =>
      val xs = ctx.samplesOf(k)
      if (xs.nonEmpty) ctx.figure(f"${l}_p50_ms      ${Stats.median(xs)}%.2f ms, " +
        f"p$tailPct%.0f ${Stats.quantile(xs, tailPct / 100)}%.2f ms (n=${xs.size})")
    }
    val graftRows = s.sql(s"SELECT $cols FROM $name")
    val got = hashOf(graftRows)
    val want = {
      val h = hashOf(replay(ctx))
      if (ctx.opts.plant) h.copy(_1 = h._1 + 1) else h
    }
    ctx.check("final table vs replay (count, hash)", got == want, s"graft $got, replay $want")
    ctx.check("final table vs live-row model", got._1 == live.cardinality().toLong,
      s"graft ${got._1}, model ${live.cardinality()}")
    val cur = LakeFacts.tableShape(ctx, lt.root)
    val tableBytes = LakeFacts.dirBytes(s, lt.root).toDouble
    val amp = tableBytes / LakeFacts.plainBytes(s, graftRows, s"${ctx.opts.work}/plain-live")
    ctx.layer("lake.storage_amp", amp, "ratio")
    val ingested = log.drop(windowOps).collect {
      case Insert(lo, hi) => Data.lineitem(s, ctx.opts.seed, lt.n, lo, hi)
        .select(Data.LineitemCols.map(col): _*)
      case Merge(k0, k1, lo, hi) => mergeSource(ctx, k0, k1, lo, hi)
    }
    val writeAmp = if (ingested.isEmpty) 0.0 else ctx.windowFsBytes.toDouble /
      LakeFacts.plainBytes(s, ingested.reduce(_ unionByName _), s"${ctx.opts.work}/plain-ingested")
    ctx.figure(f"write_amp        $writeAmp%.3f (bytes written in the window / ingested rows as plain parquet)")
    ctx.figure(f"storage_amp      $amp%.3f (table bytes / live rows as plain parquet)")
    ctx.figure(s"table            ${got._1} live rows, ${cur.files.size} files, " +
      s"${cur.deleteFiles.size} delete files, ${new GraftTable(lt.root, s).snapshotIds.size} snapshots")
    ctx.layer("lake.write_amp", writeAmp, "ratio")
    if (ctx.tracer != null) {
      reader.layerMetrics()
      Kinds.foreach { k =>
        val xs = ctx.samplesOf(s"commit.$k")
        val metric = if (k == "insert") "append" else k
        ctx.layer(s"lake.commit.${metric}_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
      }
      val window = seenSnaps.filter(_._1 >= firstWindowSnap)
      val compacts = window.toSeq.sortBy(_._1).filter(_._2._1 == "compact")
      ctx.layer("lake.commit.maintenance_count", (compacts.size + expiries).toDouble, "count")
      ctx.layer("lake.commit.maintenance_ms", compacts.map { case (id, (_, ts)) =>
        seenSnaps.get(id - 1).map(p => (ts - p._2).toDouble).getOrElse(0.0) }.sum, "ms")
      ctx.layer("lake.commit.bytes_rewritten", maintBytes.toDouble, "bytes")
      ctx.figure(s"maintenance      ${compacts.size} auto-compactions, $expiries expiry cycles")
    }
  }
}
