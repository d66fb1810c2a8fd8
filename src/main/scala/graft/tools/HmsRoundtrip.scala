package graft.tools

import org.apache.spark.sql.functions._

import graft.lake.GraftTable
import graft.sql.{GraftCatalog, GraftHmsAdapter}

/** Cross-JVM proof of the HMS-backed catalog path (SURVEY.md §2.A28,
  * the reference's Hive-metastore registration story): run `write`
  * then — in a FRESH JVM — `read`, both against the same embedded
  * Derby metastore. The write phase registers graft tables through
  * [[GraftCatalog.register]], whose [[GraftHmsAdapter]] mirror lands
  * in a REAL `HiveExternalCatalog` (not the sandbox `InMemoryCatalog`);
  * the read phase starts with an empty in-memory catalog and must
  * recover every registration from the metastore alone
  * ([[GraftHmsAdapter.reloadInto]]) and read the tables through the
  * recovered roots. Each phase asserts the external catalog really is
  * Hive-backed, so the run cannot silently degrade to the in-memory
  * catalog and vacuously pass.
  *
  * Launched by HmsSpec as two separate processes; exits nonzero on any
  * violated invariant.
  */
private[graft] object HmsRoundtrip {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: HmsRoundtrip <write|read> <workDir> [sfDir]")
    val phase = args(0)
    val work = args(1)
    val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = graft.LocalSession(4, logLevel = "ERROR", shufflePartitions = 8, conf = Map(
      "spark.sql.catalogImplementation" -> "hive",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.hadoop.javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$work/metastore_db;create=true",
      "spark.hadoop.datanucleus.schema.autoCreateAll" -> "true",
      "spark.hadoop.hive.metastore.schema.verification" -> "false"))
    try {
      val ext = spark.sharedState.externalCatalog.unwrapped.getClass.getName
      require(ext.contains("HiveExternalCatalog"),
        s"external catalog must be Hive-backed, got $ext — the round-trip " +
          "would vacuously exercise the in-memory catalog")
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      val expect1 = orders.filter(col("o_orderkey") < 1000).count()
      val expect2 = orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000).count()
      phase match {
        case "write" =>
          GraftTable.create(spark, s"$work/tables/t1",
            orders.filter(col("o_orderkey") < 1000))
          GraftTable.create(spark, s"$work/tables/t2",
            orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000))
          GraftCatalog.register("hms_t1", s"$work/tables/t1")
          GraftCatalog.register("sales.orders_small", s"$work/tables/t2")
          // an unregistered table must leave no mirror behind
          GraftCatalog.register("hms_ghost", s"$work/tables/t1")
          GraftCatalog.unregister("hms_ghost")
          val m = GraftHmsAdapter.mirroredEntries(spark).toMap
          require(m.get("hms_t1").contains(s"$work/tables/t1"), s"t1 not mirrored: $m")
          require(m.get("sales.orders_small").contains(s"$work/tables/t2"),
            s"dotted name not mirrored: $m")
          require(!m.contains("hms_ghost"), s"unregistered mirror survived: $m")
          println(s"WRITE OK entries=${m.size} expect1=$expect1 expect2=$expect2")
        case "read" =>
          require(GraftCatalog.lookup("hms_t1").isEmpty,
            "fresh JVM must start with an empty graft catalog")
          val n = GraftHmsAdapter.reloadInto(spark)
          require(n == 2, s"metastore reload must adopt exactly 2 entries, got $n")
          val r1 = GraftCatalog.lookup("hms_t1")
            .getOrElse(sys.error("hms_t1 not recovered from the metastore"))
          val r2 = GraftCatalog.lookup("sales.orders_small")
            .getOrElse(sys.error("sales.orders_small not recovered"))
          require(GraftCatalog.lookup("hms_ghost").isEmpty, "ghost recovered")
          val c1 = new GraftTable(r1, spark).read().count()
          val c2 = new GraftTable(r2, spark).read().count()
          require(c1 == expect1, s"t1 rows $c1 != $expect1")
          require(c2 == expect2, s"t2 rows $c2 != $expect2")
          // and the SQL surface resolves the recovered registration
          val viaSql = spark.sql("SELECT count(*) AS c FROM hms_t1").head().getLong(0)
          require(viaSql == expect1, s"SQL over recovered table: $viaSql != $expect1")
          println(s"READ OK rows1=$c1 rows2=$c2")
        case other => sys.error(s"unknown phase $other")
      }
    } finally spark.stop()
  }
}
