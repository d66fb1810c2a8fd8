package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

import graft.lake.{DeleteFileEntry, GraftTable, SnapshotCodec}

/** Tables as graft wrote them before deletion vectors existed: a
  * merge-on-read delete was a `(file_name, row_index)` parquet named by
  * a position entry. graft writes no such entry any more, so this
  * fixture commits one by hand through [[SnapshotCodec]].
  */
object LegacyTable {

  /** Commit, as the next snapshot of the local table `t`, a position
    * delete of the rows matching `pred` (matched without the pending
    * deletes, so keep it clear of rows already deleted); returns the
    * table re-opened at that snapshot.
    */
  def positionDelete(spark: SparkSession, t: GraftTable, pred: Column): GraftTable = {
    import org.apache.spark.sql.graft.GraftFileIndex.{relation, PosFileCol, PosIdxCol}
    val cur = t.current
    val id = cur.id + 1
    val rel = s"deletes/$id-legacy-position"
    val coords = relation(spark, t.root, cur, isStreaming = false, withRowPos = true)
      .filter(pred).select(col(PosFileCol).as("file_name"), col(PosIdxCol).as("row_index"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(coords.nonEmpty, s"no row of ${t.root} matches $pred")
    import spark.implicits._
    coords.toDF("file_name", "row_index").coalesce(1).write.parquet(s"${t.root}/$rel")
    val part = Files.list(Paths.get(t.root, rel)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val entry = DeleteFileEntry(s"$rel/${Paths.get(part).getFileName}", coords.size.toLong,
      addedBy = id, bytes = Files.size(Paths.get(part)),
      targets = coords.map(_._1).distinct.sorted)
    val next = cur.copy(id = id, parentId = cur.id, tsMillis = cur.tsMillis + 1,
      operation = "delete", shards = Seq.empty, addedFiles = 0, deletedFiles = 0,
      deleteFiles = cur.deleteFiles :+ entry)
    val meta = Paths.get(t.root, "meta")
    Files.write(meta.resolve(s"snapshot-$id.json"), SnapshotCodec.toJson(next).getBytes("UTF-8"))
    Files.write(meta.resolve("version-hint.txt"), id.toString.getBytes("UTF-8"))
    Files.deleteIfExists(meta.resolve(".version-hint.txt.crc")) // the pointer moved underneath
    GraftTable.invalidate(t.root)
    new GraftTable(t.root, spark)
  }
}
