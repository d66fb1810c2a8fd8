package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Incrementally-refreshed materialized aggregate views (the CREATE
  * MATERIALIZED VIEW … / REFRESH pattern): the MV is itself a graft
  * table — its own snapshots, time travel, and metadata views — holding
  * `GROUP BY groupCols` with count / integer-sum aggregates over a base
  * graft table. A count aggregate doubles as the group-liveness counter
  * (a group vanishes exactly when its last base row does); only a
  * count-free MV carries the hidden [[MatView.HiddenN]] bookkeeping
  * column.
  *
  * [[MatView.refresh]] reads ONLY the base's changelog between the
  * recorded and current base snapshots and folds it SIGNED into the
  * current MV state (insert +1/+x, delete −1/−x): cost is
  * O(changes) + O(|MV|), never a base rescan — which is the entire
  * point at 100 TB, where the MV is dashboard-sized and the delta is a
  * day's ingest. Rewrite-only commits (compaction, Z-order) produce an
  * empty changelog (`exceptAll` cancels rewritten-but-unchanged rows),
  * so maintenance never perturbs the view. Aggregates are restricted
  * to COUNT and sums over INTEGRAL columns: those fold associatively
  * and exactly, so the incremental result is bit-identical to a full
  * recompute — float sums would drift by accumulation order and break
  * that equivalence, the same reason the oracle convention quantizes
  * before summing.
  *
  * SQL surface (see GraftExtensions): `CREATE MATERIALIZED VIEW mv
  * [LOCATION '…'] AS SELECT g, count(*) AS n, sum(x) AS t FROM base
  * GROUP BY g` and `REFRESH MATERIALIZED VIEW mv`; the MV registers
  * like any graft table, so `SELECT … FROM mv` and its `$snapshots`/
  * `$files` views just work.
  */
object MatView {
  val BaseRootProp = "mv.base-root"
  val GroupColsProp = "mv.group-cols"
  val AggSpecProp = "mv.agg-spec" // name:fn:src per entry, comma-joined
  val BaseSnapProp = "mv.base-snapshot"
  val HiddenN = "__mv_n"

  /** One aggregate column: `fn` ∈ count | sum (src ignored for count). */
  final case class AggSpec(name: String, fn: String, src: String)

  private def parseAggs(s: String): Seq[AggSpec] =
    s.split(',').toSeq.filter(_.nonEmpty).map { e =>
      val Array(n, f, c) = e.split(':').padTo(3, "")
      AggSpec(n, f, c)
    }

  /** The group-liveness column: any count aggregate serves (it counts
    * rows per group); a count-free MV gets the hidden extra.
    */
  private def liveness(aggs: Seq[AggSpec]): String =
    aggs.find(_.fn == "count").map(_.name).getOrElse(HiddenN)

  private def validate(baseDf: DataFrame, groupCols: Seq[String],
      aggs: Seq[AggSpec]): Unit = {
    require(groupCols.nonEmpty && aggs.nonEmpty,
      "mat view needs at least one group column and one aggregate")
    groupCols.foreach(c => require(baseDf.columns.contains(c),
      s"mat view group column $c not in base schema"))
    aggs.foreach { a =>
      require(a.fn == "count" || a.fn == "sum",
        s"mat view aggregate ${a.name}: only count/sum fold incrementally, got ${a.fn}")
      require(!a.name.contains(":") && !a.name.contains(","),
        s"mat view aggregate name ${a.name} may not contain ':' or ','")
      if (a.fn == "sum") {
        val dt = baseDf.schema(a.src).dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
          s"mat view sum(${a.src}): only integral sums fold exactly " +
            s"(got $dt — pre-scale floats to integer units, e.g. cents)")
      }
    }
  }

  /** The full aggregation, shared by create and the spec's
    * recompute-equality check.
    */
  private def aggregate(baseDf: DataFrame, groupCols: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val cols = aggs.map {
      case AggSpec(n, "count", _) => count(lit(1)).as(n)
      case AggSpec(n, "sum", c)   => sum(col(c)).cast("long").as(n)
    } ++ (if (liveness(aggs) == HiddenN) Seq(count(lit(1)).as(HiddenN)) else Nil)
    baseDf.groupBy(groupCols.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  def create(spark: SparkSession, mvRoot: String, base: GraftTable,
      groupCols: Seq[String], aggs: Seq[AggSpec]): GraftTable = {
    validate(base.read(), groupCols, aggs)
    val baseId = base.currentId // pin BEFORE the aggregate job runs
    val t = GraftTable.create(spark, mvRoot,
      aggregate(base.read(), groupCols, aggs))
    t.setProperty(BaseRootProp, base.root)
    t.setProperty(GroupColsProp, groupCols.mkString(","))
    t.setProperty(AggSpecProp, aggs.map(a => s"${a.name}:${a.fn}:${a.src}").mkString(","))
    t.setProperty(BaseSnapProp, baseId.toString)
    t
  }

  /** The consumer-facing view contents (hidden bookkeeping, if any,
    * dropped).
    */
  def read(spark: SparkSession, mvRoot: String): DataFrame =
    new GraftTable(mvRoot, spark).read().drop(HiddenN)

  /** Fold the base changes since the last refresh into the MV. No-op
    * (no new snapshot) when the base hasn't moved.
    */
  def refresh(spark: SparkSession, mvRoot: String): GraftTable = {
    val mv = new GraftTable(mvRoot, spark)
    val props = mv.properties
    val base = new GraftTable(props(BaseRootProp), spark)
    val from = props(BaseSnapProp).toLong
    val to = base.currentId
    if (from == to) return mv
    val groupCols = props(GroupColsProp).split(',').toSeq.filter(_.nonEmpty)
    val aggs = parseAggs(props(AggSpecProp))
    val changes = base.changelog(from, to)
    // the change kind is the changelog's last column (`_change_type`,
    // or a fresh name when the base has a column of that name)
    val sign = when(col(changes.columns.last) === "insert", 1L).otherwise(-1L)
    val deltaCols = aggs.map {
      case AggSpec(n, "count", _) => sum(sign).as(n)
      case AggSpec(n, "sum", c)   => sum(sign * col(c)).cast("long").as(n)
    } ++ (if (liveness(aggs) == HiddenN) Seq(sum(sign).as(HiddenN)) else Nil)
    val delta = changes
      .groupBy(groupCols.map(col): _*)
      .agg(deltaCols.head, deltaCols.tail: _*)
    // fold: MV ∪ delta → one more group-by (both inputs are
    // aggregate-sized); groups whose liveness count hits zero disappear
    val valueCols = aggs.map(_.name) ++
      (if (liveness(aggs) == HiddenN) Seq(HiddenN) else Nil)
    val foldCols = valueCols.map(n => sum(col(n)).as(n))
    val merged = mv.read().unionByName(delta)
      .groupBy(groupCols.map(col): _*)
      .agg(foldCols.head, foldCols.tail: _*)
      .filter(col(liveness(aggs)) > 0)
    mv.overwrite(merged)
    mv.setProperty(BaseSnapProp, to.toString)
    mv
  }

  /** Test hook: the full recompute the incremental path must equal. */
  private[graft] def recompute(spark: SparkSession, mvRoot: String): DataFrame = {
    val mv = new GraftTable(mvRoot, spark)
    val base = new GraftTable(mv.properties(BaseRootProp), spark)
    aggregate(base.read(),
      mv.properties(GroupColsProp).split(',').toSeq.filter(_.nonEmpty),
      parseAggs(mv.properties(AggSpecProp)))
  }
}
