package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over `src/main`; they need no Spark. */
class SourceGuardSpec extends AnyFunSuite {

  private val mainDir = Paths.get("src/main/scala")

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(mainDir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Argument lists of every `ParquetFileReader.open(` call in `src`:
    * the text between the call's balanced parentheses.
    */
  private def openCallArgs(src: String): Seq[String] = {
    val call = "ParquetFileReader.open("
    Iterator.iterate(src.indexOf(call))(i => src.indexOf(call, i + 1))
      .takeWhile(_ >= 0)
      .map { i =>
        val start = i + call.length
        var depth = 1
        var j = start
        while (depth > 0 && j < src.length) {
          src.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _   =>
          }
          j += 1
        }
        src.substring(start, j - 1)
      }.toSeq
  }

  /** (file, enclosing `def`) of every occurrence of `needle` in
    * `src/main` that is not itself a definition.
    */
  private def sitesOf(needle: String): Seq[(String, String)] = mainSources.flatMap { p =>
    val src = new String(Files.readAllBytes(p), "UTF-8")
    val defs = """def\s+(\w+)""".r.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    Iterator.iterate(src.indexOf(needle))(i => src.indexOf(needle, i + 1))
      .takeWhile(_ >= 0)
      .filterNot(i => src.startsWith("def ", i - 4))
      .map(i => p.getFileName.toString -> defs.takeWhile(_._1 < i).lastOption.fold("")(_._2))
      .toSeq
  }

  /** Commas outside any nested parentheses: arguments minus one. */
  private def topLevelCommas(args: String): Int =
    args.foldLeft((0, 0)) { case ((depth, n), c) =>
      c match {
        case '(' => (depth + 1, n)
        case ')' => (depth - 1, n)
        case ',' if depth == 0 => (depth, n + 1)
        case _ => (depth, n)
      }
    }._2

  test("no one-argument ParquetFileReader.open: it parses a fresh Hadoop Configuration per call") {
    val sources = mainSources
    assert(sources.nonEmpty, s"no main sources under $mainDir")
    val calls = sources.flatMap { p =>
      openCallArgs(new String(Files.readAllBytes(p), "UTF-8")).map(p -> _)
    }
    assert(calls.nonEmpty, "the guard must see the footer helper's own open call")
    val oneArg = calls.filter { case (_, args) => topLevelCommas(args) == 0 }
    assert(oneArg.isEmpty,
      "ParquetFileReader.open(InputFile) builds a new Configuration on every call; " +
        "open footers through GraftTable.openFooter instead: " +
        oneArg.map { case (p, args) => s"$p: open($args)" }.mkString("; "))
  }

  test("toRdd.getNumPartitions is asked in one place: the writer's one-task check") {
    val call = "toRdd.getNumPartitions"
    val hits = mainSources.flatMap { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      Iterator.iterate(src.indexOf(call))(i => src.indexOf(call, i + 1))
        .takeWhile(_ >= 0).map(_ => p.getFileName.toString).toSeq
    }
    assert(hits === Seq("GraftTable.scala"),
      s"$call builds the physical plan's RDD (and runs an adaptive plan's " +
        "shuffle stages) to count tasks; ask it once, in GraftTable.writeFiles, " +
        s"and let sorted writes decide there: found in ${hits.mkString(", ")}")
  }

  test("one successor path: only successor sets a parent, only commitCreate makes a first snapshot") {
    assert(sitesOf("nextTs(") === Seq("GraftTable.scala" -> "successor"),
      "commit timestamps are stamped by GraftTable.successor alone; build the next " +
        "snapshot with commitNext, appendOnto or stageOnto")
    assert(sitesOf("parentId = -1L") === Seq("GraftTable.scala" -> "commitCreate"),
      "a parentless snapshot is a table's first; commit it through GraftTable.commitCreate")
    assert(sitesOf("parentId = ") ===
      Seq("GraftTable.scala" -> "successor", "GraftTable.scala" -> "commitCreate"),
      "snapshot ids, parents and timestamps are set in GraftTable.successor and " +
        "GraftTable.commitCreate only: a hand-built successor drifts from the others")
  }

  test("one victim reconstruction: the streaming source calls none of its primitives") {
    val streaming = mainSources.filter(_.toString.contains("graft/streaming/"))
    assert(streaming.nonEmpty, s"no streaming sources under $mainDir")
    val primitives = Seq("dvDiffRows(", "eqDeleteSplit(", "eqDeleteCandidates(", "deleteRows(")
    val hits = for {
      p <- streaming
      src = new String(Files.readAllBytes(p), "UTF-8")
      call <- primitives if src.contains(call)
    } yield s"${p.getFileName}: $call"
    assert(hits.isEmpty,
      "the change feed rebuilds merge-on-read victims through GraftTable.windowVictims, " +
        "the path the batch changelog takes; a second reconstruction drifts from it: " +
        hits.mkString(", "))
  }

  test("one reader of position coordinates: only the position→vector converter calls deleteRows") {
    assert(sitesOf("deleteRows(") === Seq("GraftTable.scala" -> "positionsToDv"),
      "position deletes are read by GraftTable.positionsToDv alone (convertDeletesToDv and " +
        "the Iceberg import); every read path knows deletion vectors and equality deletes only")
  }
}
