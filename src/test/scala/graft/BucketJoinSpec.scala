package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.lake.{DepSpec, GraftTable}

/** SURVEY.md §2.A64 — storage-partitioned (bucketed) joins. A table
  * partitioned on an `sbucket[n]` dependency dest claims a V1
  * BucketSpec on the SOURCE column: sbucket's hash is bit-for-bit
  * `HashPartitioning.partitionIdExpression` (Catalyst Murmur3 seed 42,
  * pmod n), and every committed file carries Spark's `_0000N` bucket
  * suffix, so `FileSourceScanExec` claims `HashPartitioning(src, n)`
  * truthfully and joins / aggregations on the source column run with
  * ZERO shuffle — the make-or-break fact-to-fact join property at
  * 100 TB (Iceberg SPJ parity over the V1 scan).
  */
class BucketJoinSpec extends SparkSpec {

  private def tmp(name: String) = s"/root/repo/target/lakework/spec-bucket-$name"

  private def shuffles(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec        => shuffles(q.plan)
    case s: ShuffleExchangeLike   => s +: s.children.flatMap(shuffles)
    case other                    => other.children.flatMap(shuffles)
  }

  private def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }

  private def bucketSpecOf(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.bucketSpec
    }.flatten

  private def noShuffle[T](f: => T): T = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try f finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
    }
  }

  private def ordersBucketed(name: String, n: Int): GraftTable =
    GraftTable.create(spark, tmp(name), Tables.orders(spark, sfDir),
      Seq("o_b"), Seq(DepSpec("o_custkey", "o_b", s"sbucket[$n]")))

  test("sbucket files carry Spark bucket ids matching their partition value") {
    val t = ordersBucketed("names", 4)
    val files = t.current.files
    assert(files.nonEmpty)
    files.foreach { f =>
      val dirB = f.partition("o_b").toInt
      val nameB = org.apache.spark.sql.graft.Shim.parseBucketId(
        new org.apache.hadoop.fs.Path(f.path).getName)
      assert(nameB === Some(dirB), s"${f.path}: name bucket $nameB != dir $dirB")
      assert(dirB >= 0 && dirB < 4)
    }
    assert(bucketSpecOf(t.read()).exists(s =>
      s.numBuckets == 4 && s.bucketColumnNames == Seq("o_custkey")))
  }

  test("sbucket dest matches HashPartitioning.partitionIdExpression exactly") {
    // the write-path dep column vs Spark's own pmod(hash, n) — any
    // mismatch would break the truthfulness of the BucketSpec claim
    val df = Tables.orders(spark, sfDir)
      .withColumn("dep", graft.lake.Deps.columnTyped(
        "sbucket[7]", col("o_custkey"), org.apache.spark.sql.types.LongType))
      .withColumn("spark_b", pmod(hash(col("o_custkey")), lit(7)))
    assert(df.filter(col("dep") =!= col("spark_b")).count() === 0)
    // string sources too
    val ds = Tables.orders(spark, sfDir)
      .withColumn("dep", graft.lake.Deps.columnTyped(
        "sbucket[5]", col("o_orderstatus"), org.apache.spark.sql.types.StringType))
      .withColumn("spark_b", pmod(hash(col("o_orderstatus")), lit(5)))
    assert(ds.filter(col("dep") =!= col("spark_b")).count() === 0)
    // and dates (Catalyst hashes the epoch-days int)
    val dd = Tables.orders(spark, sfDir)
      .withColumn("dep", graft.lake.Deps.columnTyped(
        "sbucket[6]", col("o_orderdate"), org.apache.spark.sql.types.DateType))
      .withColumn("spark_b", pmod(hash(col("o_orderdate")), lit(6)))
    assert(dd.filter(col("dep") =!= col("spark_b")).count() === 0)
    // driver-side dual agrees on the same dates (pruning inference path)
    val sample = Tables.orders(spark, sfDir)
      .select(col("o_orderdate").cast("date")).distinct().limit(20)
      .collect().map(_.getDate(0).toLocalDate.toEpochDay)
    sample.foreach { days =>
      val viaDriver = graft.lake.Deps.applyTyped(
        "sbucket[6]", days, org.apache.spark.sql.types.DateType)
      val viaSpark = spark.sql(
        s"SELECT pmod(hash(date_from_unix_date($days)), 6)").head().getInt(0)
      assert(viaDriver === viaSpark, s"date sbucket drift at epoch-day $days")
    }
  }

  test("co-bucketed join runs with ZERO shuffle exchanges") {
    val t1 = ordersBucketed("j1", 4)
    val t2 = GraftTable.create(spark, tmp("j2"),
      Tables.customer(spark, sfDir).repartition(col("c_custkey")),
      Seq("c_b"), Seq(DepSpec("c_custkey", "c_b", "sbucket[4]")))
    noShuffle {
      val j = t1.read().join(t2.read(), col("o_custkey") === col("c_custkey"))
      val nRows = j.collect().length.toLong
      assert(shuffles(j.queryExecution.executedPlan).isEmpty,
        "expected a storage-partitioned join with no exchange:\n" +
          j.queryExecution.executedPlan)
      // correctness against the plain (non-lake) join
      val agg = t1.read().join(t2.read(), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(sum(col("o_totalprice")).as("rev"))
        .collect().map(r => r.getString(0) -> math.round(r.getDouble(1))).toMap
      val exp = Tables.orders(spark, sfDir)
        .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(sum(col("o_totalprice")).as("rev"))
        .collect().map(r => r.getString(0) -> math.round(r.getDouble(1))).toMap
      assert(agg === exp)
      assert(nRows === Tables.orders(spark, sfDir)
        .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
        .count())
    }
  }

  test("aggregation on the bucket source column needs no exchange") {
    val t = ordersBucketed("agg", 4)
    noShuffle {
      val a = t.read().groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      val total = a.agg(sum(col("n"))).collect().head.getLong(0)
      assert(shuffles(a.queryExecution.executedPlan).isEmpty,
        "groupBy on bucket source should reuse storage partitioning:\n" +
          a.queryExecution.executedPlan)
      assert(total === Tables.orders(spark, sfDir).count())
    }
  }

  test("equality predicate on the source prunes to one bucket's files") {
    val t = ordersBucketed("prune", 4)
    val key = Tables.orders(spark, sfDir)
      .select(col("o_custkey")).head().getLong(0)
    val df = t.scan(col("o_custkey") === key)
    val got = df.collect().length
    val numFiles = scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value)
    assert(numFiles.nonEmpty && numFiles.forall(_ <= 1),
      s"sbucket equality inference should prune to 1 of 4 bucket files: $numFiles")
    val exp = Tables.orders(spark, sfDir).filter(col("o_custkey") === key).count()
    assert(got.toLong === exp)
  }

  test("null sources land in Spark's null bucket; IS NULL scans stay correct") {
    import spark.implicits._
    val base = Seq(
      (Some(1L), "a"), (Some(2L), "b"), (Some(3L), "c"),
      (None, "n1"), (None, "n2")).toDF("k", "v")
    val t = GraftTable.create(spark, tmp("nulls"), base.repartition(col("k")),
      Seq("k_b"), Seq(DepSpec("k", "k_b", "sbucket[4]")))
    // dest is never null: hash(null) = seed 42 → bucket 42 % 4 = 2
    val dests = t.read().select(col("k_b")).distinct().collect().map(_.getInt(0)).toSet
    assert(!t.read().filter(col("k_b").isNull).head(1).nonEmpty)
    assert(t.read().filter(col("k").isNull).select(col("k_b"))
      .distinct().collect().map(_.getInt(0)).toSet === Set(42 % 4))
    // IS NULL scan returns both null rows (inference maps to the null
    // bucket instead of carrying IS NULL to a never-null dest)
    assert(t.scan(col("k").isNull).select(col("v"))
      .collect().map(_.getString(0)).toSet === Set("n1", "n2"))
    assert(dests.subsetOf((0 until 4).toSet))
    // the claim survives nulls — every file still bucket-named
    assert(bucketSpecOf(t.read()).exists(_.numBuckets == 4))
  }

  test("claim survives the table lifecycle: append, compact, MOR delete") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("life"),
      o.filter(col("o_orderkey") < 800).repartition(col("o_custkey")),
      Seq("o_b"), Seq(DepSpec("o_custkey", "o_b", "sbucket[4]")))
    // second append: bucket dirs gain a second file, names still carry ids
    t.append(o.filter(col("o_orderkey") >= 800).repartition(col("o_custkey")))
    assert(bucketSpecOf(t.read()).exists(_.numBuckets == 4), "claim lost after append")
    // bin-packing compaction rewrites through writeFiles → names survive
    t.optimizeCompact(1L << 30)
    assert(bucketSpecOf(t.read()).exists(_.numBuckets == 4), "claim lost after OPTIMIZE")
    // a pending merge-on-read delete must not break the claim, and the
    // SPJ result must reflect the deletion
    t.setProperty("write.delete.mode", "merge-on-read")
    t.delete(col("o_orderstatus") === "F")
    assert(t.current.deleteFiles.nonEmpty, "expected a MOR deletion vector")
    val t2 = GraftTable.create(spark, tmp("life-c"),
      Tables.customer(spark, sfDir).repartition(col("c_custkey")),
      Seq("c_b"), Seq(DepSpec("c_custkey", "c_b", "sbucket[4]")))
    noShuffle {
      val j = t.read().join(t2.read(), col("o_custkey") === col("c_custkey"))
      val n = j.collect().length.toLong
      val joinShuffles = shuffles(j.queryExecution.executedPlan)
      assert(joinShuffles.isEmpty,
        s"MOR-read bucket join planned a shuffle:\n${j.queryExecution.executedPlan}")
      val exp = o.filter(col("o_orderstatus") =!= "F")
        .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
        .count()
      assert(n === exp)
    }
  }

  test("SQL-created sbucket table claims the BucketSpec too") {
    scala.util.Try(spark.sql("DROP TABLE bkt_sql"))
    val root = tmp("sql")
    val f = new java.io.File(root)
    if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    spark.sql(
      s"""CREATE TABLE bkt_sql (k BIGINT, v STRING) USING parquet
         |OPTIONS (addTableManagement 'true',
         |         columnDependencies 'k=k_b:sbucket[4]',
         |         path '$root')
         |PARTITIONED BY (k_b)""".stripMargin)
    import spark.implicits._
    (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("bkt_src")
    spark.sql("INSERT INTO bkt_sql SELECT k, v FROM bkt_src")
    val df = spark.sql("SELECT * FROM bkt_sql")
    assert(bucketSpecOf(df).exists(s =>
      s.numBuckets == 4 && s.bucketColumnNames == Seq("k")))
    assert(df.count() === 200)
  }

  test("mismatched bucket counts coalesce: 8-bucket joins 4-bucket, no shuffle") {
    val t8 = GraftTable.create(spark, tmp("co8"),
      Tables.orders(spark, sfDir).repartition(col("o_custkey")),
      Seq("o_b"), Seq(DepSpec("o_custkey", "o_b", "sbucket[8]")))
    val t4 = GraftTable.create(spark, tmp("co4"),
      Tables.customer(spark, sfDir).repartition(col("c_custkey")),
      Seq("c_b"), Seq(DepSpec("c_custkey", "c_b", "sbucket[4]")))
    val conf = spark.conf
    val prev = conf.get("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "false")
    conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
    try noShuffle {
      val j = t8.read().join(t4.read(), col("o_custkey") === col("c_custkey"))
      val n = j.collect().length.toLong
      assert(shuffles(j.queryExecution.executedPlan).isEmpty,
        "coalesced bucket join still planned an exchange:\n" +
          j.queryExecution.executedPlan)
      assert(n === Tables.orders(spark, sfDir)
        .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
        .count())
    } finally conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", prev)
  }

  test("writes auto-align to buckets: a 32-task append adds at most n files") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("dist"),
      o.filter(col("o_orderkey") < 800).repartition(32),
      Seq("o_b"), Seq(DepSpec("o_custkey", "o_b", "sbucket[4]")))
    assert(t.current.files.size <= 4,
      s"create fanned out: ${t.current.files.size} files for 4 buckets")
    t.append(o.filter(col("o_orderkey") >= 800).repartition(32))
    assert(t.current.addedFiles <= 4,
      s"append fanned out: ${t.current.addedFiles} files for 4 buckets")
    assert(bucketSpecOf(t.read()).exists(_.numBuckets == 4))
    // opt-out: write.distribution=none keeps the writer's partitioning
    t.setProperty("write.distribution", "none")
    t.append(o.filter(col("o_orderkey") < 200).repartition(32))
    assert(t.current.addedFiles > 4,
      "opt-out should have preserved the unaligned write fanout")
    // unaligned files still carry correct bucket names → claim survives
    assert(bucketSpecOf(t.read()).exists(_.numBuckets == 4))
  }

  test("concurrent rebased appends keep the bucket claim and the data") {
    val o = Tables.orders(spark, sfDir)
    val t = GraftTable.create(spark, tmp("race"),
      o.filter(col("o_orderkey") < 400),
      Seq("o_b"), Seq(DepSpec("o_custkey", "o_b", "sbucket[4]")))
    // two writers append disjoint slices concurrently — the append
    // rebase path splices both onto whatever is current; every file
    // either writer stages must still carry its bucket-id name
    val slices = Seq(
      o.filter(col("o_orderkey") >= 400 && col("o_orderkey") < 800),
      o.filter(col("o_orderkey") >= 800 && col("o_orderkey") < 1200))
    val threads = slices.map { df =>
      new Thread(() => { new GraftTable(t.root, spark).append(df); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val t2 = new GraftTable(t.root, spark)
    assert(t2.read().count() ===
      o.filter(col("o_orderkey") < 1200).count(),
      "a concurrent append was lost")
    assert(bucketSpecOf(t2.read()).exists(_.numBuckets == 4),
      "claim lost after racing appends")
    noShuffle {
      val a = t2.read().groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      a.collect()
      assert(shuffles(a.queryExecution.executedPlan).isEmpty)
    }
  }

  test("inconsistent files downgrade the claim instead of misreading") {
    // adopt-era/no-suffix files: simulate by creating with plain bucket
    // (polyHash) — no sbucket dep ⇒ no claim; and an sbucket table
    // whose manifest gains a foreign file drops the claim too
    val plain = GraftTable.create(spark, tmp("plainb"),
      Tables.orders(spark, sfDir).repartition(col("o_custkey")),
      Seq("o_b"), Seq(DepSpec("o_custkey", "o_b", "bucket[4]")))
    assert(bucketSpecOf(plain.read()).isEmpty)
  }
}
