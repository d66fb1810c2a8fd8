package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.GraftTable

/** Randomized-but-deterministic DML soak: a seeded random sequence of
  * append / range-delete / predicate-update / keyed-merge /
  * keyed-delete (mergeDelete, with and without riding properties) / overwrite /
  * compact / applyDeletes / write-mode flips runs against a real table
  * AND an in-memory model map (plus snapshot expiration and a full
  * branch→append→fast-forward→drop lifecycle); the table's full
  * contents must equal the model at every checkpoint. Single-op specs prove each operator in
  * isolation — this catches their INTERACTIONS (e.g. a MOR delete
  * pending over a file that a compaction then rewrites, followed by a
  * keyed merge under equality deletes, on a sorted auto-NDV table),
  * which is where lakehouse bugs actually live.
  */
class DmlModelSpec extends SparkSpec {

  private type Row3 = (Long, Long, Double)

  private def df(s: org.apache.spark.sql.SparkSession,
      m: Map[Long, (Long, Double)]): DataFrame = {
    import s.implicits._
    m.toSeq.map { case (k, (g, v)) => (k, g, v) }.toDF("k", "g", "v")
  }

  // SPARK_GRAFT_SOAK_SEEDS=N deepens the hunt (default 3 keeps the
  // suite fast; CI-of-one bug hunts run 10+)
  private val soakSeeds = sys.env.get("SPARK_GRAFT_SOAK_SEEDS")
    .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(3)

  test(s"randomized DML sequences match the in-memory model ($soakSeeds seeds x 24 steps)") {
    for (seed <- 1 to soakSeeds) {
      val rnd = new scala.util.Random(seed)
      var model: Map[Long, (Long, Double)] =
        (1L to 50L).map(k => k -> (k % 7, k * 1.5)).toMap
      var nextKey = 51L
      val root = s"/root/repo/target/laketest/dmlmodel-$seed"
      val rm = new java.io.File(root)
      if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
      val t = GraftTable.create(spark, root, df(spark, model).repartition(2))
      // random table personality: storage/maintenance settings must be
      // invisible to query results
      if (rnd.nextBoolean()) t.setProperty(GraftTable.NdvModeProp, "auto")
      if (rnd.nextBoolean()) t.setProperty(GraftTable.SortColsProp, "k")
      if (rnd.nextBoolean())
        t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
      if (rnd.nextBoolean()) {
        // auto-compaction interleaves content-invariant compact commits
        // with every DML flavor — the packing must never change results
        t.setProperty(GraftTable.AutoCompactProp, "true")
        t.setProperty(GraftTable.AutoCompactMinFilesProp, "3")
      }

      // snapshot id → model state at that snapshot, for as-of checks
      var history: Map[Long, Map[Long, (Long, Double)]] =
        Map(t.currentId -> model)

      def toSet3(m: Map[Long, (Long, Double)]): Set[Row3] =
        m.map { case (k, (g, v)) => (k, g, v) }.toSet

      def check(step: Int): Unit = {
        val got: Set[Row3] = t.read().select(col("k"), col("g"), col("v"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val want = toSet3(model)
        assert(got == want,
          s"seed=$seed step=$step: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)} " +
            s"(sizes got=${got.size} want=${want.size})")
        // time travel: one random recorded snapshot must read as the
        // model state it was recorded with — across every MOR/COW/
        // compaction/sort personality the table has since been through
        val ids = history.keys.toSeq.sorted
        val id = ids(rnd.nextInt(ids.size))
        val gotAsOf: Set[Row3] = t.readAsOfId(id)
          .select(col("k"), col("g"), col("v"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(gotAsOf == toSet3(history(id)),
          s"seed=$seed step=$step: AS OF $id diverged from recorded model")
        // A87 metadata aggregates across every randomized table state:
        // whether the rule folds to the manifest or bails (pending MOR
        // deletes, stats gaps), the ANSWER must equal the model — a
        // stale-manifest or wrong-bail bug surfaces here immediately
        val aggRow = t.read().agg(
          count(lit(1)).as("n"), min(col("k")).as("k0"), max(col("k")).as("k1")).head()
        assert(aggRow.getLong(0) == model.size.toLong,
          s"seed=$seed step=$step: meta/scan count ${aggRow.getLong(0)} != model ${model.size}")
        if (model.nonEmpty) {
          assert(aggRow.getLong(1) == model.keys.min && aggRow.getLong(2) == model.keys.max,
            s"seed=$seed step=$step: min/max diverged from model")
        } else assert(aggRow.isNullAt(1) && aggRow.isNullAt(2))
      }

      for (step <- 1 to 24) {
        rnd.nextInt(18) match {
          case 0 | 1 => // append a block of fresh keys
            val ks = nextKey until (nextKey + 5 + rnd.nextInt(10))
            nextKey = ks.end
            val rows = ks.map(k => k -> (k % 7, k * 1.5)).toMap
            model ++= rows
            t.append(df(spark, rows).repartition(1 + rnd.nextInt(3)))
          case 2 => // range delete (sometimes matching nothing)
            val lo = 1L + rnd.nextInt(nextKey.toInt)
            val hi = lo + rnd.nextInt(15)
            model = model.filterNot { case (k, _) => k >= lo && k <= hi }
            t.delete(col("k") >= lo && col("k") <= hi)
          case 3 => // predicate update on a group
            val g = rnd.nextInt(7).toLong
            model = model.map { case (k, (gg, v)) =>
              if (gg == g) k -> (gg, v + 1.0) else k -> (gg, v) }
            t.update(col("g") === g, Map("v" -> (col("v") + 1.0)))
          case 4 => // keyed merge: upsert a mix of existing and new keys
            val existing = model.keys.take(5).map(k => k -> (k % 7, -1.0))
            val fresh = (nextKey until nextKey + 3).map(k => k -> (k % 7, k * 1.5))
            nextKey += 3
            val src = (existing ++ fresh).toMap
            model ++= src
            t.merge(df(spark, src).repartition(2), Seq("k"))
          case 5 => // maintenance: bin-pack compaction (content no-op)
            t.optimizeCompact(targetBytes = 1L << 20)
          case 6 => // maintenance: fold pending MOR deletes (content no-op)
            t.applyDeletes()
          case 7 => // flip DELETE between COW / MOR / deletion vectors,
            // UPDATE+MERGE between COW / MOR (both delete-mode
            // spellings) — mixed pending delete flavors (dv + equality)
            // are exactly the interaction surface this soak exists for
            val dm = rnd.nextInt(3) match {
              case 0 => "copy-on-write"
              case 1 => "merge-on-read"
              case _ => "dv"
            }
            val um = if (rnd.nextBoolean()) "merge-on-read" else "copy-on-write"
            t.setProperty(GraftTable.DeleteModeProp, dm)
            t.setProperty(GraftTable.UpdateModeProp, um)
            t.setProperty(GraftTable.MergeModeProp, um)
          case 8 => // overwrite with a filtered projection of the model
            val keep = rnd.nextInt(7).toLong
            model = model.filter { case (_, (g, _)) => g != keep }
            t.overwrite(df(spark, model).repartition(2))
          case 9 => // point delete of one known key
            model.keys.headOption.foreach { k =>
              model -= k
              t.delete(col("k") === k)
            }
          case 10 => // rollback to a random recorded snapshot
            val ids = history.keys.toSeq.sorted
            val target = ids(rnd.nextInt(ids.size))
            t.rollback(target)
            model = history(target)
          case 11 => // expire old snapshots; recorded as-of ids must prune
            val ids = t.snapshotIds
            if (ids.size > 3) {
              t.expire(keepFrom = ids(ids.size - 2))
              val live = t.snapshotIds.toSet
              history = history.filter { case (id, _) => live.contains(id) }
            }
          case 12 => // branch lifecycle: branch → branch-append → fast-forward → drop
            val b = s"soak-br-$step"
            t.branch(b)
            val ks = nextKey until (nextKey + 3)
            nextKey = ks.end
            val rows = ks.map(k => k -> (k % 7, k * 1.5)).toMap
            t.appendToBranch(b, df(spark, rows).repartition(1))
            // main must not see branch work until the fast-forward
            assert(t.read().count() === model.size.toLong,
              s"seed=$seed step=$step: branch append leaked onto main")
            t.fastForward(b)
            t.dropBranch(b)
            model ++= rows
          case 13 => // clone (shallow or deep) mid-history: the clone
            // must read exactly the model, and writes to it must never
            // leak back — whatever MOR/sort/NDV personality the source
            // is in when the clone happens
            val deep = rnd.nextBoolean()
            val cl = t.cloneTo(s"$root-clone", deep)
            val gotClone = cl.read().select(col("k"), col("g"), col("v"))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
            assert(gotClone == toSet3(model),
              s"seed=$seed step=$step: clone(deep=$deep) diverged from model")
            cl.append(df(spark, Map(999999L -> (0L, 0.0))).repartition(1))
            assert(t.read().filter(col("k") === 999999L).count() === 0L,
              s"seed=$seed step=$step: clone append leaked into the source")
          case 15 => // column-DDL-under-constraints personality (the
            // r11 class: per-column properties must migrate/remove as
            // one unit whatever MOR/sort/NDV state the table is in).
            // Full lifecycle in one step so no schema residue leaks
            // into the other ops: add w/ DEFAULT → SET NOT NULL →
            // COMMENT → CHECK → rename refused → drop refused → drop
            // constraint → rename → append (must stay writable) → drop
            // → append again (the r11 brick: stale notnull.<col>)
            val cn = s"x$step"
            t.addColumnWithDefault(cn, org.apache.spark.sql.types.LongType, "7")
            t.setColumnNullability(cn, nullable = false)
            t.setProperty(s"comment.col.$cn", "soak extra")
            t.addCheckConstraint(s"chk$step", s"$cn > 0")
            intercept[Exception](t.renameColumn(cn, s"${cn}_r"))
            intercept[Exception](t.dropColumn(cn))
            t.dropCheckConstraint(s"chk$step")
            t.renameColumn(cn, s"${cn}_r")
            val p = t.current.properties
            assert(p.contains(s"notnull.${cn}_r") && !p.contains(s"notnull.$cn") &&
              p.get(s"comment.col.${cn}_r").contains("soak extra") &&
              !p.contains(s"comment.col.$cn"),
              s"seed=$seed step=$step: per-column properties must follow the rename")
            // a 3-col append omitting the NOT NULL column: the DEFAULT
            // materializes, so this must land
            val ks1 = nextKey until (nextKey + 3); nextKey = ks1.end
            val rows1 = ks1.map(k => k -> (k % 7, k * 1.5)).toMap
            model ++= rows1
            t.append(df(spark, rows1).repartition(1))
            t.dropColumn(s"${cn}_r")
            assert(!t.current.properties.exists(_._1.endsWith(s".${cn}_r")),
              s"seed=$seed step=$step: drop must remove every per-column property")
            val ks2 = nextKey until (nextKey + 3); nextKey = ks2.end
            val rows2 = ks2.map(k => k -> (k % 7, k * 1.5)).toMap
            model ++= rows2
            t.append(df(spark, rows2).repartition(1))
          case op @ (16 | 17) => // keyed deletion list (mergeDelete): a
            // random subset of live keys plus one never written; the 17
            // flavor rides a property on the same commit
            import spark.implicits._
            val ks = rnd.shuffle(model.keys.toSeq.sorted).take(1 + rnd.nextInt(4)) :+ (nextKey + 1000L)
            model --= ks
            val src = ks.toDF("k").repartition(1 + rnd.nextInt(2))
            if (op == 16) t.mergeDelete(src, Seq("k"))
            else {
              t.mergeDelete(src, Seq("k"), Map("soak.merge-delete" -> step.toString))
              assert(t.properties.get("soak.merge-delete").contains(step.toString),
                s"seed=$seed step=$step: mergeDelete extraProps must land")
            }
          case 14 => // REPLACE TABLE with a transformed projection —
            // same schema, wholly new contents through the RTAS path
            // (fresh write funnel, constraint/rename reset), history
            // preserved for the as-of checks like any other commit
            model = model.map { case (k, (g, v)) => k -> (g, v + 0.5) }
            t.replaceAs(df(spark, model).repartition(1 + rnd.nextInt(3)))
        }
        // expire/compaction could in principle invalidate as-of ids;
        // only record ids that still resolve (they all should here)
        history += (t.currentId -> model)
        if (step % 6 == 0 || step == 24) check(step)
      }
      check(99)
    }
  }
}
