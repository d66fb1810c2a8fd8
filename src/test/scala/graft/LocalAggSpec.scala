package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftFileIndex, GraftLocalAggExec, GraftLocalAggStrategy}

import graft.lake.GraftTable
import graft.sql.GraftCatalog

/** Small global aggregates fold on the driver ([[GraftLocalAggStrategy]]):
  * zero jobs, the same answers as Spark's distributed aggregate over the
  * same files, and the normal plan wherever a bail rule applies.
  */
class LocalAggSpec extends SparkSpec {

  private val base = new java.io.File("target/laketest/localagg").getAbsolutePath

  /** 300 rows partitioned on `g` (three partitions, two files each);
    * `v` is null on every fifth row and a multiple of 0.5 elsewhere, so
    * every sum is exact in any order.
    */
  private lazy val table: GraftTable = {
    import spark.implicits._
    val rows = (1L to 300L).map(k =>
      (k, k % 3, if (k % 5 == 0) None else Some(k * 0.5), s"s${k % 7}"))
    val t = GraftTable.create(spark, s"$base/t",
      rows.toDF("k", "g", "v", "s").repartition(2), partitionCols = Seq("g"))
    GraftCatalog.register("localagg_t", t.root)
    // the same live files through a plain parquet relation: Spark's own
    // distributed aggregate is the reference
    spark.read.option("basePath", s"${t.root}/data")
      .parquet(t.current.files.map(f => GraftTable.resolveEntry(t.root, f.path)): _*)
      .createOrReplaceTempView("localagg_ref")
    t
  }

  private def nodes(p: SparkPlan): Seq[GraftLocalAggExec] =
    p.collect { case n: GraftLocalAggExec => n }

  private def folds(df: DataFrame): Boolean = nodes(df.queryExecution.executedPlan).nonEmpty

  /** (answer, jobs) of `sql` over the graft table. */
  private def run(sql: String): (Seq[Row], Int) = {
    table
    var rows = Seq.empty[Row]
    val jobs = SparkSpec.jobsOf(spark) { rows = spark.sql(sql).collect().toSeq }
    (rows, jobs)
  }

  test("contradiction, partition-pruned and metadata-view aggregates run zero jobs") {
    val cases = Seq(
      "SELECT count(*) AS n, sum(v) AS s FROM localagg_t WHERE k < 5 AND k > 100" ->
        Row(0L, null),
      "SELECT count(*), sum(k), avg(k), min(k), max(k) FROM localagg_t WHERE g = 1" ->
        Row(100L, 14950L, 149.5, 1L, 298L),
      "SELECT count(*), max(snapshot_id) FROM `localagg_t$snapshots`" ->
        Row(table.snapshotIds.size.toLong, table.currentId))
    for ((sql, want) <- cases) {
      val (got, jobs) = run(sql)
      assert(got === Seq(want), sql)
      assert(jobs === 0, s"$sql ran $jobs jobs")
      assert(folds(spark.sql(sql)), sql)
    }
  }

  test("answers equal Spark's aggregate over the same files, nulls and empty input included") {
    val sqls = Seq(
      "SELECT count(*), count(v), sum(v), avg(v), min(v), max(v) FROM T",
      "SELECT count(*), sum(v), min(s), max(s) FROM T WHERE g = 2 AND k % 7 = 3",
      "SELECT sum(v * 2) + count(*) AS x, avg(k) FROM T WHERE v IS NULL",
      "SELECT count(*), sum(v), avg(v), min(s) FROM T WHERE v > 1e9",
      "SELECT count(*), sum(v), max(k) FROM T WHERE g = 5",
      // beneath a union the node runs through doExecute, not executeCollect
      "SELECT count(*) FROM T WHERE g = 0 UNION ALL SELECT sum(k) FROM T WHERE g = 1")
    table
    for (q <- sqls) {
      val graft = spark.sql(q.replace("FROM T", "FROM localagg_t"))
      val ref = spark.sql(q.replace("FROM T", "FROM localagg_ref"))
      assert(folds(graft), q)
      assert(!folds(ref), s"a plain parquet relation keeps the normal plan: $q")
      assert(graft.collect().toSeq === ref.collect().toSeq, q)
    }
  }

  test("an ANSI sum overflow raises the same error class as the normal plan") {
    import spark.implicits._
    val t = GraftTable.create(spark, s"$base/overflow",
      Seq(Long.MaxValue - 1L, 2L, 3L).toDF("x").coalesce(1))
    val ref = spark.read.parquet(t.current.files.map(f => GraftTable.resolveEntry(t.root, f.path)): _*)
    def condition(df: DataFrame): String = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }.getOrElse(fail("no error class", e))
    }
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val graft = t.read().agg(sum(col("x")))
      assert(folds(graft))
      assert(condition(graft) === condition(ref.agg(sum(col("x")))))
      assert(condition(graft) === "ARITHMETIC_OVERFLOW")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("each bail rule keeps the normal plan") {
    table
    val bails = Seq(
      "GROUP BY" -> spark.sql("SELECT s, sum(v) FROM localagg_t GROUP BY s"),
      "DISTINCT" -> spark.sql("SELECT count(DISTINCT k) FROM localagg_t"),
      "FILTER" -> spark.sql("SELECT count(*) FILTER (WHERE k > 5) FROM localagg_t"),
      "nondeterministic" -> spark.sql("SELECT sum(v) FROM localagg_t WHERE rand() < 0.5"),
      "_metadata" -> GraftFileIndex.relation(spark, table.root, table.current,
        isStreaming = false, withRowPos = true).agg(count(lit(1)), max(col(GraftFileIndex.PosIdxCol))))
    for ((why, df) <- bails) {
      assert(!folds(df), s"$why must keep the normal plan:\n${df.queryExecution.executedPlan}")
      df.collect()
    }

    // pending merge-on-read deletes
    import spark.implicits._
    val mor = GraftTable.create(spark, s"$base/mor", (1L to 20L).toDF("k").coalesce(1))
    mor.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    mor.delete(col("k") <= 3L)
    assert(mor.current.deleteFiles.nonEmpty, "precondition: a pending vector")
    val morCount = mor.read().agg(count(lit(1)))
    assert(!folds(morCount), "pending deletes must keep the normal plan")
    assert(morCount.collect().head.getLong(0) === 17L)

    // a read over one split's budget
    val q = "SELECT count(*), sum(v) FROM localagg_t"
    assert(folds(spark.sql(q)))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val big = spark.sql(q)
      assert(!folds(big), "an over-budget read must keep the normal plan")
      assert(big.collect().head.getLong(0) === 300L)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    // a streaming relation (what a micro-batch splices in)
    val streaming = GraftFileIndex.relation(spark, table.root, table.current, isStreaming = true)
    val agg = Aggregate(Nil,
      Seq(Alias(Count(Seq(org.apache.spark.sql.catalyst.expressions.Literal(1)))
        .toAggregateExpression(), "n")()),
      streaming.queryExecution.analyzed)
    assert(agg.isStreaming)
    assert(GraftLocalAggStrategy(spark)(agg).isEmpty, "a streaming relation must not fold")
  }

  test("the folded aggregate's child scan reports its pruned files") {
    table
    val df = spark.sql("SELECT count(*), sum(v) FROM localagg_t WHERE g = 1")
    df.collect()
    val scans = nodes(df.queryExecution.executedPlan)
      .flatMap(_.collect { case s: FileSourceScanExec => s })
    assert(scans.size === 1)
    val want = table.current.files.count(_.partition.get("g").contains("1"))
    assert(want > 0)
    assert(scans.head.metrics("numFiles").value === want)
  }
}
