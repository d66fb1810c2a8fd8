package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

import graft.{LegacyTable, SparkSpec}

/** Pins the snapshot sequence a scripted mix of every commit verb
  * writes: id, parent, operation, added/deleted file counts, file and
  * delete-entry counts, schema and property keys of each snapshot.
  * Timestamps are only required to increase strictly along every
  * parent edge. The mix covers the compare-and-swap verbs (including
  * one stepping over a parked staged snapshot and one stepping over a
  * branch head), the append-shaped commits (append, tagged
  * appendBatch, a cherry-pick rebase), the staged ones (stageAppend,
  * appendToBranch) and the creating ones (create, createEmpty, adopt,
  * cloneTo, an Iceberg export → import). It sets no retention dial.
  */
class SnapshotSequenceSpec extends SparkSpec {

  private val base = new java.io.File("target/laketest/snapseq").getAbsolutePath

  private def rows(ks: Seq[Long], v: Double = 1.0): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, k % 2, v)).toDF("k", "g", "v").coalesce(1)
  }

  private def describe(s: Snapshot): String = {
    val sch = DataType.fromJson(s.schemaJson).asInstanceOf[StructType].fields
      .map(f => s"${f.name}:${f.dataType.simpleString}${if (f.nullable) "" else "!"}")
      .mkString(",")
    s"${s.id} <- ${s.parentId} ${s.operation} +${s.addedFiles} -${s.deletedFiles} " +
      s"files=${s.files.size} dels=${s.deleteFiles.size} [$sch] " +
      s"{${s.properties.keys.toSeq.sorted.mkString(",")}}"
  }

  /** Runs the mix once; table name → its snapshots in id order. */
  private lazy val mix: Seq[(String, Seq[Snapshot])] = {
    val a = GraftTable.create(spark, s"$base/a", rows(1L to 12L), Seq("g"))
    a.append(rows(13L to 16L))
    a.appendBatch(rows(17L to 18L), "batch-a")
    val parked = a.stageAppend(rows(19L to 20L))
    a.setProperties(Map("owner" -> "x")) // steps over the parked id
    a.publishCherryPick(parked) // the table moved: rebased
    a.unsetProperties(Seq("owner"))
    a.overwritePartition(rows(Seq(2L, 4L)), Map("g" -> "0"))
    a.overwriteDynamic(rows(Seq(1L, 3L, 5L)))
    a.append(rows(21L to 40L))
    a.delete(col("k") <= 3L)
    a.update(col("k") === 21L, Map("v" -> lit(9.0)))
    a.merge(rows(Seq(22L, 60L), 2.0), Seq("k"))
    a.mergeDelete(rows(Seq(23L)), Seq("k"), Map("wm" -> "1"))
    a.mergeDelete(rows(Seq(1000L)), Seq("k"), Map("wm" -> "2")) // no match: properties only
    a.delete(col("g") === 0L) // partition-exact: metadata only
    a.append(rows(Seq(40L, 42L, 44L)))
    a.setProperties(Map(GraftTable.DeleteModeProp -> "merge-on-read"))
    a.delete(col("k") === 25L) // a deletion vector
    val b = IcebergExport.importMetadata(spark,
      IcebergExport.exportMetadata(a, s"$base/a-ice"), s"$base/b")
    LegacyTable.positionDelete(spark, b, col("k") === 40L) // a pre-vector delete
    b.convertDeletesToDv()
    a.applyDeletes()
    val beforeCompact = a.currentId
    a.optimizeCompact(1L << 20)
    a.append(rows(61L to 64L))
    a.append(rows(65L to 68L))
    a.compactSmallFiles(1L << 20, 2)
    a.optimizeZOrder(Seq("k"), 2)
    a.rollback(beforeCompact)
    a.truncate()
    a.overwrite(rows(1L to 8L))
    a.branch("br")
    a.appendToBranch("br", rows(9L to 10L))
    a.repartitionSpec(Seq.empty) // steps over the branch head's id
    a.addColumn("c1", StringType)
    a.addColumnWithDefault("c2", IntegerType, "7")
    a.renameColumn("c1", "c1r")
    a.widenColumn("c2", LongType)
    a.setColumnNullability("c2", nullable = false)
    a.dropColumn("c1r")
    a.analyzeNdv(Seq("k"))
    val c = a.cloneTo(s"$base/c")
    a.replaceAs(rows(1L to 6L), Seq("g"))
    val d = GraftTable.createEmpty(spark, s"$base/d",
      rows(Seq(1L)).schema, Seq("g"), Seq.empty)
    d.append(rows(1L to 4L))
    rows(1L to 4L).write.mode("overwrite").partitionBy("g").parquet(s"$base/e/data")
    val e = GraftTable.adopt(spark, s"$base/e")
    Seq("a" -> a, "b" -> b, "c" -> c, "d" -> d, "e" -> e).map { case (n, t) => n -> t.snapshots }
  }

  private val pinned: Map[String, Seq[String]] = Map(
    "a" -> Seq(
      "1 <- -1 create +2 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "2 <- 1 append +2 -0 files=4 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "3 <- 2 batch-a +2 -0 files=6 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "4 <- 3 append +2 -0 files=8 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "5 <- 3 set-properties +0 -0 files=6 dels=0 [k:bigint!,g:bigint!,v:double!] {owner}",
      "6 <- 5 append +2 -0 files=8 dels=0 [k:bigint!,g:bigint!,v:double!] {owner}",
      "7 <- 6 set-properties +0 -0 files=8 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "8 <- 7 overwrite-partition +1 -4 files=5 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "9 <- 8 overwrite-dynamic +1 -4 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "10 <- 9 append +2 -0 files=4 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "11 <- 10 delete +2 -2 files=4 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "12 <- 11 update +1 -1 files=4 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "13 <- 12 merge +3 -2 files=5 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "14 <- 13 merge-delete +2 -2 files=5 dels=0 [k:bigint!,g:bigint!,v:double!] {wm}",
      "15 <- 14 set-properties +0 -0 files=5 dels=0 [k:bigint!,g:bigint!,v:double!] {wm}",
      "16 <- 15 delete +0 -3 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {wm}",
      "17 <- 16 append +1 -0 files=3 dels=0 [k:bigint!,g:bigint!,v:double!] {wm}",
      "18 <- 17 set-properties +0 -0 files=3 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "19 <- 18 delete +0 -0 files=3 dels=1 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "20 <- 19 apply-deletes +1 -1 files=3 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "21 <- 20 compact +1 -2 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "22 <- 21 append +2 -0 files=4 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "23 <- 22 append +2 -0 files=6 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "24 <- 23 compact +2 -6 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "25 <- 24 optimize +4 -2 files=4 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "26 <- 25 rollback +0 -0 files=3 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "27 <- 26 truncate +0 -3 files=0 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "28 <- 27 overwrite +2 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "29 <- 28 append +2 -0 files=4 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "30 <- 28 repartition-spec +2 -2 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {wm,write.delete.mode}",
      "31 <- 30 add-column +0 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!,c1:string] {wm,write.delete.mode}",
      "32 <- 31 add-column +0 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!,c1:string,c2:int] {wm,write.delete.mode}",
      "33 <- 32 rename-column +0 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!,c1r:string,c2:int] {wm,write.delete.mode}",
      "34 <- 33 widen-column +0 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!,c1r:string,c2:bigint] {wm,write.delete.mode}",
      "35 <- 34 set-nullability +0 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!,c1r:string,c2:bigint!] {notnull.c2,wm,write.delete.mode}",
      "36 <- 35 drop-column +0 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!,c2:bigint!] {notnull.c2,wm,write.delete.mode}",
      "37 <- 36 analyze +0 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!,c2:bigint!] {notnull.c2,stats.hll.k,stats.ndv.k,wm,write.delete.mode}",
      "38 <- 37 replace +2 -2 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {notnull.c2,stats.hll.k,stats.ndv.k,wm,write.delete.mode}"),
    "b" -> Seq(
      "19 <- -1 iceberg-import +0 -0 files=3 dels=1 [k:bigint!,g:bigint!,v:double!] {import.source,wm,write.delete.mode}",
      "20 <- 19 delete +0 -0 files=3 dels=2 [k:bigint!,g:bigint!,v:double!] {import.source,wm,write.delete.mode}",
      "21 <- 20 convert-deletes +0 -0 files=3 dels=2 [k:bigint!,g:bigint!,v:double!] {import.source,wm,write.delete.mode}"),
    "c" -> Seq(
      "37 <- -1 clone +0 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!,c2:bigint!] {clone.source,notnull.c2,stats.hll.k,stats.ndv.k,wm,write.delete.mode}"),
    "d" -> Seq(
      "1 <- -1 create +0 -0 files=0 dels=0 [k:bigint!,g:bigint!,v:double!] {}",
      "2 <- 1 append +2 -0 files=2 dels=0 [k:bigint!,g:bigint!,v:double!] {}"),
    "e" -> Seq(
      "1 <- -1 adopt +2 -0 files=2 dels=0 [k:bigint,v:double,g:int] {}"))

  test("a scripted verb mix writes the pinned snapshot sequence") {
    val got = mix.map { case (n, ss) => n -> ss.map(describe) }
    val diff = got.flatMap { case (n, lines) =>
      if (lines == pinned(n)) None
      else Some(s"$n:\n  got\n    ${lines.mkString("\n    ")}\n  want\n    ${pinned(n).mkString("\n    ")}")
    }
    assert(diff.isEmpty, diff.mkString("\n", "\n", ""))
    mix.foreach { case (n, ss) =>
      val byId = ss.map(s => s.id -> s).toMap
      ss.foreach { s =>
        byId.get(s.parentId).foreach { p =>
          assert(s.tsMillis > p.tsMillis, s"$n: snapshot ${s.id} not after its parent ${p.id}")
        }
      }
    }
  }

  test("every operation the engine writes is a standard one, not a batch tag") {
    val ops = mix.flatMap(_._2.map(_.operation)).toSet - "batch-a"
    assert(ops.filterNot(GraftTable.StandardOps.contains).isEmpty,
      s"operations missing from StandardOps: ${ops.filterNot(GraftTable.StandardOps.contains)}")
  }

  test("expiring a replace snapshot does not consume 'replace' as a batch tag") {
    val t = GraftTable.create(spark, s"$base/replace-tag", rows(1L to 4L), Seq("g"))
    t.replaceAs(rows(5L to 8L), Seq("g"))
    t.append(rows(9L to 10L))
    t.expire(keepFrom = t.currentId)
    assert(t.appendBatch(rows(11L to 12L), "replace"), "the tagged batch was dropped")
    assert(t.read().count() === 8L)
  }

  test("appendBatch runs the retention dial: five batches on a keep-3 table leave 3 snapshots") {
    val t = GraftTable.create(spark, s"$base/keep3", rows(1L to 4L), Seq("g"))
    t.setProperty(GraftTable.MaxSnapshotsProp, "3")
    (1 to 5).foreach(i => assert(t.appendBatch(rows(Seq(100L + i)), s"keep-$i")))
    assert(t.snapshotIds.size <= 3, s"snapshots ${t.snapshotIds}")
    assert(t.read().count() === 9L)
  }
}
