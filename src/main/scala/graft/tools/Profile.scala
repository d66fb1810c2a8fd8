package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round measurement harness (guide §1): run named driver
  * entries exactly as Bench does (same session shape, same count()
  * action) while a listener tallies jobs / stages / tasks / shuffle
  * bytes / spill, so an entry's cost decomposes into "many small
  * lifecycle jobs" vs "few heavy stages" without a UI. Not part of the
  * library surface.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [entry ...]
  * (no entries = the 25 slowest from the r13 bench archives)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.LocalSession(cpus.toInt, logLevel = "ERROR")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    @volatile var spill = 0L
    @volatile var taskTimeMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          shufRead += m.shuffleReadMetrics.totalBytesRead
          shufWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.diskBytesSpilled + m.memoryBytesSpilled
          taskTimeMs += m.executorRunTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val entries =
      if (args.length > 1 && args(1) == "--all")
        graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(_.endsWith("_check"))
      else if (args.length > 1) args.drop(1).toSeq
      else Seq(
        "stream_ann_sync", "stream_cdc_apply", "stream_neardup_gate",
        "ann_ivfpq_persisted", "dedup_apply", "lake_autocompact",
        "dedup_edit_distance", "dedup_clusters", "mine_hard_negatives_indexed",
        "mm_phash_dedup", "stream_stream_outer", "dedup_threshold_sweep",
        "lake_pipeline_compose", "stream_changelog", "lake_changelog_dv",
        "dedup_containment", "dedup_ngram_jaccard", "ann_ivfpq",
        "stream_file_cap", "lake_matview", "text_lr_quality",
        "lake_deletes_view", "mm_audio_dedup", "lake_merge_mor_pos",
        "lake_compact")

    // warm like Bench so JIT/footer caching doesn't pollute entry 1
    for (w <- Seq("q1_agg", "lake_create", "mm_decode")) {
      try { graft.SparkEntry.queries(w)(spark, sfDir).count(); () }
      catch { case _: Throwable => () }
    }

    println(f"${"entry"}%-30s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"spill_MB"}%9s ${"taskSec"}%8s")
    for (name <- entries) {
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"$name: NOT FOUND")
        case Some(fn) =>
          // second run is the steady-state one (bench takes min of 2)
          val secs = (1 to 2).map { _ =>
            jobs = 0; stages = 0; tasks = 0; shufRead = 0L; shufWrite = 0L
            spill = 0L; taskTimeMs = 0L
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
            catch { case e: Throwable =>
              println(s"$name FAILED: ${e.getMessage}"); -1.0 }
          }
          Thread.sleep(300) // let the listener bus drain before reading tallies
          println(f"$name%-30s ${secs.min}%7.2f $jobs%5d $stages%6d $tasks%6d ${shufRead / 1e6}%9.1f ${shufWrite / 1e6}%9.1f ${spill / 1e6}%9.1f ${taskTimeMs / 1e3}%8.1f")
      }
    }
    spark.stop()
  }
}
