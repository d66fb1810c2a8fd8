package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.GraftTable

/** Pins the Spark job count and the committed operations of every
  * row-level verb (DELETE, UPDATE, MERGE, mergeDelete) in each write
  * mode: copy-on-write, merge-on-read deletion vectors, and — for the
  * keyed verbs — merge-on-read equality deletes. All four verbs share
  * one kernel, so a routing or plan change in it shows up here as a
  * changed count before it shows up as a slower bench entry.
  */
class DmlJobsSpec extends SparkSpec {

  private val base = new java.io.File("target/laketest/dmljobs").getAbsolutePath

  private def rows(ks: Seq[Long], v: Double): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, k % 3, v)).toDF("k", "g", "v")
  }

  private val Cow = Map.empty[String, String]
  private val Vectors = Map(
    GraftTable.DeleteModeProp -> "merge-on-read",
    GraftTable.UpdateModeProp -> "merge-on-read",
    GraftTable.MergeModeProp -> "merge-on-read")
  private val Equality = Vectors + (GraftTable.MergeDeleteKindProp -> "equality")

  /** A fresh 60-row table partitioned on `g` (three partitions, two
    * files each) with `props` set; returns (jobs, operations the verb
    * committed).
    */
  private def run(name: String, props: Map[String, String])(
      verb: GraftTable => Unit): (Int, Seq[String]) = {
    val t = GraftTable.create(spark, s"$base/$name",
      rows(1L to 60L, 1.0).repartition(2), partitionCols = Seq("g"))
    if (props.nonEmpty) t.setProperties(props)
    val before = t.currentId
    val n = SparkSpec.jobsOf(spark)(verb(t))
    (n, t.snapshots.filter(_.id > before).map(_.operation))
  }

  private val upsert = () => rows((1L to 5L) ++ (61L to 63L), -1.0)
  private val doomed = () => rows(1L to 5L, 0.0)
  private val nothing = () => rows(Seq(1000L, 1001L), 0.0)

  private val delete = Seq("delete")
  private val update = Seq("update")
  private val merge = Seq("merge")
  private val mergeDelete = Seq("merge-delete")

  // (case, properties, verb, jobs, committed operations). No keyed row
  // persists its source keys (the key-bounds agg and the join each read
  // them once), so none pays the cache-materialization job AQE runs for
  // a cached input. These sources are local relations, so the key-bounds
  // agg folds on the driver with no job (GraftLocalAggStrategy), and the
  // no-match rows run none. A change here is a plan change: argue it, do
  // not just re-pin.
  private val cases: Seq[(String, Map[String, String], GraftTable => Unit, Int, Seq[String])] = Seq(
    ("delete-partition", Vectors, _.delete(col("g") === 1L), 0, delete),
    ("delete-cow", Cow, _.delete(col("k") <= 5L), 1, delete),
    ("delete-dv", Vectors, _.delete(col("k") <= 5L), 2, delete),
    ("delete-cow-nomatch", Cow, _.delete(col("k") > 1000L), 0, delete),
    ("delete-dv-nomatch", Vectors, _.delete(col("k") > 1000L), 0, delete),
    ("update-cow", Cow, _.update(col("k") <= 5L, Map("v" -> (col("v") + 1.0))), 1, update),
    ("update-dv", Vectors, _.update(col("k") <= 5L, Map("v" -> (col("v") + 1.0))), 4, update),
    ("update-cow-nomatch", Cow, _.update(col("k") > 1000L, Map("v" -> lit(0.0))), 0, update),
    ("update-dv-nomatch", Vectors, _.update(col("k") > 1000L, Map("v" -> lit(0.0))), 0, update),
    ("merge-cow", Cow, _.merge(upsert(), Seq("k")), 2, merge),
    ("merge-dv", Vectors, _.merge(upsert(), Seq("k")), 4, merge),
    ("merge-eq", Equality, _.merge(upsert(), Seq("k")), 3, merge),
    ("mergeDelete-cow", Cow, _.mergeDelete(doomed(), Seq("k")), 2, mergeDelete),
    ("mergeDelete-dv", Vectors, _.mergeDelete(doomed(), Seq("k")), 3, mergeDelete),
    ("mergeDelete-eq", Equality, _.mergeDelete(doomed(), Seq("k")), 2, mergeDelete),
    ("mergeDelete-cow-props", Cow, _.mergeDelete(doomed(), Seq("k"), Map("x" -> "1")), 2, mergeDelete),
    ("mergeDelete-dv-props", Vectors, _.mergeDelete(doomed(), Seq("k"), Map("x" -> "1")), 3, mergeDelete),
    ("mergeDelete-eq-props", Equality, _.mergeDelete(doomed(), Seq("k"), Map("x" -> "1")), 2, mergeDelete),
    ("mergeDelete-cow-nomatch", Cow, _.mergeDelete(nothing(), Seq("k")), 0, Seq.empty),
    ("mergeDelete-dv-nomatch", Vectors, _.mergeDelete(nothing(), Seq("k")), 0, Seq.empty),
    ("mergeDelete-dv-nomatch-props", Vectors,
      _.mergeDelete(nothing(), Seq("k"), Map("x" -> "1")), 0, Seq("set-properties")))

  test("row-level DML: job counts and committed operations per verb x write mode") {
    // one throwaway DML first, so no case pays first-use planning jobs
    run("warmup", Cow)(_.merge(upsert(), Seq("k")))
    val diff = cases.flatMap { case (name, props, verb, jobs, ops) =>
      val got = run(name, props)(verb)
      if (got == ((jobs, ops))) None else Some(s"$name: got $got, want ${(jobs, ops)}")
    }
    assert(diff.isEmpty, diff.mkString("\n", "\n", ""))
  }
}
