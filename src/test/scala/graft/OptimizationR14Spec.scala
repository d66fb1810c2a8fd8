package graft

import org.apache.spark.sql.functions._

/** Focused tests for the r14 optimization round's internal changes:
  * the fault-tolerant materialization helper ([[Mat]]), the de-skewed
  * df/multiplicity aggregations, the schema-checked multiset witness,
  * the staged-batch guard, the changelog's collision-checked internal
  * columns, and the property-riding DML commits.
  */
class OptimizationR14Spec extends SparkSpec {

  test("Mat.fact materializes once, keeps results identical, and recomputes per invocation") {
    import spark.implicits._
    def build() = (1 to 100).toDF("x").withColumn("y", col("x") * 2)
    val plain = build().collect().toSeq
    val m1 = Mat.fact(build())
    assert(m1.storageLevel.useMemory || m1.storageLevel.useDisk,
      "fact() must leave the frame persisted")
    assert(m1.collect().toSeq == plain)
    // a second invocation of the SAME plan must drop the stale entry
    // and persist anew (no cross-run cache reuse — bench legality)
    val m2 = Mat.fact(build())
    assert(m2.collect().toSeq == plain)
    m2.unpersist(blocking = true)
    val s1 = Mat.smallLazy(build())
    assert(s1.collect().toSeq == plain)
    s1.unpersist(blocking = true)
  }

  test("Mat.fact feeds multi-leg plans through InMemoryRelation (no re-executed subtree)") {
    import spark.implicits._
    val base = Mat.fact((1 to 50).toDF("k").withColumn("v", col("k") % 7))
    val agg = base.groupBy(col("v")).agg(count(lit(1)).as("n"))
    val joined = base.join(agg, "v")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"persisted intermediate must plan as InMemoryTableScan:\n$plan")
    assert(joined.count() == 50L)
    base.unpersist(blocking = true)
  }

  test("Mat.fact: evicting a re-persisted plan's stale release keeps the newer cache") {
    import spark.implicits._
    Mat.beginEntry()
    def build() = (1 to 30).toDF("k").withColumn("v", col("k") * 3)
    Mat.fact(build())
    val second = Mat.fact(build())
    // MaxLive - 1 more frames overflow the queue by exactly one release:
    // the first fact()'s, whose cache the second fact() already replaced
    (1 until Mat.MaxLive).foreach(i => Mat.fact(spark.range(i.toLong).toDF(s"x$i")))
    assert(second.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "a stale release must not unpersist the newer same-plan cache")
    assert(second.count() == 30L)
    Mat.beginEntry()
    assert(second.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "beginEntry still releases the newer cache")
  }

  test("multisetDriftCount rejects diverging schemas loudly") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "s")
    val b = Seq((1, "x", 2.0)).toDF("id", "s", "extra")
    val e = intercept[IllegalArgumentException] {
      Checks.multisetDriftCount(a, b)
    }
    assert(e.getMessage.contains("diverging schemas"))
    // equal multisets still pass; a genuine drift is still counted
    assert(Checks.multisetDriftCount(a, Seq((1, "x")).toDF("id", "s")) == 0L)
    assert(Checks.multisetDriftCount(a, Seq((2, "x")).toDF("id", "s")) >= 1L)
  }

  test("StageFiles.stage names the empty batch instead of crashing opaquely") {
    import spark.implicits._
    val dir = s"/root/repo/target/lakework/stagefiles-empty-${System.nanoTime()}"
    // key 1 of 0..2 has zero rows
    val df = Seq(0L, 0L, 2L).toDF("k2").withColumn("payload", col("k2") * 10)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.StageFiles.stage(spark, df, col("k2"), 3, dir)
    }
    assert(e.getMessage.contains("batch key 1"))
  }

  test("changelog survives user columns named _changelog_w / _rep") {
    import spark.implicits._
    val root = s"/root/repo/target/lakework/cl-collide-${System.nanoTime()}"
    val df = Seq((1L, 10L, 7L), (2L, 20L, 8L))
      .toDF("id", "_changelog_w", "_rep")
    val t = lake.GraftTable.create(spark, root, df)
    val v1 = t.currentId
    t.append(Seq((3L, 30L, 9L)).toDF("id", "_changelog_w", "_rep"))
    val ch = t.changelog(v1, t.currentId)
      .select(col("_change_type"), col("id"), col("_changelog_w"), col("_rep"))
      .collect()
    assert(ch.length == 1)
    assert(ch(0).getString(0) == "insert")
    assert(ch(0).getLong(1) == 3L && ch(0).getLong(2) == 30L && ch(0).getLong(3) == 9L)
  }

  test("append/mergeDelete ride extra properties on the SAME commit") {
    import spark.implicits._
    val root = s"/root/repo/target/lakework/props-ride-${System.nanoTime()}"
    val t = lake.GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    val id0 = t.currentId
    t.append(Seq((4L, "d")).toDF("id", "s"), Map("wm" -> "41"))
    assert(t.currentId == id0 + 1, "append + property must be ONE commit")
    assert(t.properties("wm") == "41")
    val id1 = t.currentId
    t.mergeDelete(Seq(Tuple1(2L)).toDF("id"), Seq("id"), Map("wm" -> "42"))
    assert(t.currentId == id1 + 1, "mergeDelete + property must be ONE commit")
    assert(t.properties("wm") == "42")
    assert(t.read().count() == 3L)
    // a delete matching nothing still lands the property (own commit)
    t.mergeDelete(Seq(Tuple1(99L)).toDF("id"), Seq("id"), Map("wm" -> "43"))
    assert(t.properties("wm") == "43")
  }

  test("de-skewed df cap: ngramJaccard/containment match the window-form semantics") {
    import spark.implicits._
    // synthetic corpus with one boilerplate shingle shared by all docs:
    // cap = 2 drops it from the index; a pair must still surface via
    // its sub-cap shingles when truly near-dup
    val docs = Seq(
      (1L, "alpha beta gamma delta common one two three"),
      (2L, "alpha beta gamma delta common one two four"),
      (3L, "zebra yak xylo wombat common nine eight seven"))
      .toDF("doc_id", "text")
    val pairs = pipeline.Dedup.ngramJaccardOf(docs, postingDfCap = 2).collect()
    // docs 1,2 share several sub-cap trigram shingles; doc 3 shares none
    assert(pairs.nonEmpty, "the cap must not drop the true near-dup pair")
    assert(pairs.forall(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    val cont = pipeline.Dedup.containmentOf(docs, postingDfCap = 2)
    assert(cont.columns.toSeq == Seq("doc_src", "doc_sup", "containment"))
    // Int.MaxValue path (uncapped verify) still works
    val uncapped = pipeline.Dedup.ngramJaccardOf(docs, postingDfCap = Int.MaxValue)
    assert(uncapped.count() >= pairs.length.toLong)
  }
}
