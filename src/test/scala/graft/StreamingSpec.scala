package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.lake.GraftTable
import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("D6: graft table as streaming source — checkpointed incremental consumption") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc"
    val ckpt = "/root/repo/target/laketest/streamsrc-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) {
        import scala.sys.process._
        Seq("rm", "-rf", p).!
      }
    }
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Set[Long])]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          seen += id -> batch.select("id").collect().map(_.getLong(0)).toSet; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce() // initial load: snapshot 1 in full
    assert(seen.map(_._2).reduce(_ ++ _) === Set(1L, 2L))
    val afterFirst = seen.size
    t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "k"))
    t.append(Seq((5L, "e")).toDF("id", "k"))
    drainOnce() // restart from checkpoint: ONLY the two appends arrive
    val incr = seen.drop(afterFirst).map(_._2).foldLeft(Set.empty[Long])(_ ++ _)
    assert(incr === Set(3L, 4L, 5L), s"expected only appended rows, got $incr")
    // nothing new: a third drain delivers no rows
    val afterSecond = seen.size
    drainOnce()
    assert(seen.drop(afterSecond).map(_._2).forall(_.isEmpty))
  }

  test("auto-compacting sink stays exactly-once for a graft-source consumer") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/autocompact-src"
    val ckpt = "/root/repo/target/laketest/autocompact-src-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "k"))
    t.setProperty(GraftTable.AutoCompactProp, "true")
    t.setProperty(GraftTable.AutoCompactMinFilesProp, "2")
    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("maxSnapshotsPerTrigger", "1").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          emitted ++= batch.select("id").collect().map(_.getLong(0)); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()
    // small appends below: the engine injects compact commits between
    // them (A92) — the scenario that pre-fix re-emitted packed rows
    (2 to 8).foreach(i => t.append(Seq((i.toLong, "x")).toDF("id", "k")))
    assert(t.snapshots.exists(_.operation == "compact"),
      "auto-compaction must have fired for this test to mean anything")
    // one snapshot per drain under the cap — drain until quiescent
    (1 to t.currentId.toInt + 1).foreach(_ => drainOnce())
    val dup = emitted.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dup.isEmpty, s"rows re-emitted by compaction commits: $dup")
    assert(emitted.toSet === (1L to 8L).toSet, s"rows lost: got ${emitted.sorted}")
  }

  test("composition soak: sink + auto-compact + retention + dv deletes + ANN sync hold their bounds TOGETHER over 50 micro-batches") {
    import spark.implicits._
    import graft.pipeline.AnnIndex
    val base = "/root/repo/target/laketest/compose-soak"
    for (p <- Seq(base)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def df(gs: Seq[(Long, Array[Float])]) = gs.toDF("vec_id", "embedding")
    // seed with the even half (quantizer training needs a real corpus);
    // the odd half arrives as 50 micro-batches
    val byGroup: Map[Int, Seq[(Long, Array[Float])]] =
      rows.filter(_._1 % 2 == 1).groupBy { case (id, _) => 1 + ((id / 2) % 50L).toInt }
        .map { case (k, v) => k -> v.toSeq }
    val t = GraftTable.create(spark, s"$base/corpus",
      df(rows.filter(_._1 % 2 == 0).toSeq))
    t.setProperty(GraftTable.AutoCompactProp, "true")
    t.setProperty(GraftTable.AutoCompactMinFilesProp, "4")
    t.setProperty(GraftTable.MaxSnapshotsProp, "12")
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    AnnIndex.buildFromTable(spark, t, s"$base/idx")
    val codesT = new GraftTable(s"$base/idx/codes", spark)
    // the index's codes table is itself a streaming-append target (one
    // file per sync) — same small-file problem, same remedy
    codesT.setProperty(GraftTable.AutoCompactProp, "true")
    codesT.setProperty(GraftTable.AutoCompactMinFilesProp, "4")
    val deleted = scala.collection.mutable.Set[Long]()
    val arrived = scala.collection.mutable.Set[Long](
      rows.filter(_._1 % 2 == 0).map(_._1).toSeq: _*)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Int]
    val q = mem.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Int], _: Long) =>
        batch.collect().toSeq.foreach { k =>
          val corpus = new GraftTable(s"$base/corpus", spark)
          corpus.appendBatch(df(byGroup(k).toSeq), s"soak-$k")
          arrived ++= byGroup(k).map(_._1)
          if (k % 7 == 0) {
            // cross-window dv delete: oldest still-live vector
            val victim = (arrived -- deleted).min
            corpus.delete(col("vec_id") === victim); deleted += victim
          }
          if (k % 11 == 0) {
            // same-window delete: a vector from the batch just appended
            val victim = byGroup(k).map(_._1).max
            corpus.delete(col("vec_id") === victim); deleted += victim
          }
          AnnIndex.sync(spark, corpus, s"$base/idx")
        }
        ()
      }
      .start()
    try (1 to 50).foreach { k => mem.addData(k); q.processAllAvailable() }
    finally q.stop()
    val corpus = new GraftTable(s"$base/corpus", spark)
    // BOUND 1 — files: auto-compaction held on BOTH tables under
    // interleaved appends, dv deletes, and index syncs
    assert(corpus.current.files.size <= 8,
      s"corpus files unbounded: ${corpus.current.files.size}")
    // codes keeps its lists in one cluster-sorted partition, so the
    // per-partition compaction bound is the table-wide one (min-files=4
    // steady state, plus the tail appended since the last pack); an
    // index in the earlier cluster-partitioned layout is bounded per list
    val codesPerPart = codesT.current.files.groupBy(_.partition).values.map(_.size)
    assert(codesPerPart.max <= 8,
      s"codes per-partition files unbounded: ${codesPerPart.toSeq.sorted.reverse.take(3)}")
    assert(codesT.snapshots.exists(_.operation == "compact"),
      "codes auto-compaction never fired — the bound above is vacuous")
    // BOUND 2 — snapshots: retention held while every commit flavor
    // (append, compact, delete, property) interleaved
    assert(corpus.snapshots.size <= 13,
      s"corpus snapshots unbounded: ${corpus.snapshots.size}")
    // BOUND 3 — index parity: codes row-for-row with the live corpus,
    // every deleted vector hidden, watermark current
    val live = corpus.read().select("vec_id").collect().map(_.getLong(0)).toSet
    assert(live === rows.map(_._1).toSet -- deleted, "corpus content drifted")
    val codeIds = codesT.read().select("n_id").collect().map(_.getLong(0)).toSet
    assert(codeIds === live, "index out of parity with corpus")
    assert(codesT.properties(AnnIndex.SyncedSnapshotProp).toLong === corpus.currentId,
      "sync watermark stale")
    // and the composed index still ANSWERS: no ghost neighbors
    val qdf = corpus.read().filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val nbrs = AnnIndex.query(spark, s"$base/idx", corpus.read(), qdf, 5L)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(nbrs.intersect(deleted.toSet).isEmpty,
      s"ghost neighbors from deleted vectors: ${nbrs.intersect(deleted.toSet)}")
  }

  test("D6b: maxSnapshotsPerTrigger bounds each micro-batch to one snapshot's files") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-cap"
    val ckpt = "/root/repo/target/laketest/streamsrc-cap-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "k"))
    t.append(Seq((2L, "b")).toDF("id", "k"))
    t.append(Seq((3L, "c")).toDF("id", "k"))
    // 3 snapshots of backlog, cap 1/trigger. AvailableNow pins its
    // target at the first getOffset, so each drain advances exactly
    // one capped batch — and the checkpoint restart must re-seed the
    // source's progress (recovery getBatch) or the cap would stall.
    val batches = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("maxSnapshotsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batches += batch.select("id").collect().map(_.getLong(0)).toSet; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce(); drainOnce(); drainOnce()
    val nonEmpty = batches.filter(_.nonEmpty)
    assert(nonEmpty.toSeq === Seq(Set(1L), Set(2L), Set(3L)),
      s"expected one snapshot per batch, got $batches")
  }

  test("D1: streaming windowed agg equals the batch aggregation") {
    val streamed = StreamOps.windowAgg(spark, sfDir).collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("hour"), col("event_type"))
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("D2: dropDuplicatesWithinWatermark drops late duplicate keys") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val deduped = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_stream").outputMode(OutputMode.Append).start()
    mem.addData((1L, ts("2026-01-01 10:00:00")), (1L, ts("2026-01-01 10:01:00")),
      (2L, ts("2026-01-01 10:00:30")))
    q.processAllAvailable()
    mem.addData((1L, ts("2026-01-01 10:02:00")), (3L, ts("2026-01-01 10:03:00")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L)) // each id exactly once within the watermark
  }

  test("D3: flatMapGroupsWithState sessionization matches session_window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Seq(
      (1L, ts("2026-01-01 10:00:00")), (1L, ts("2026-01-01 10:10:00")),
      (1L, ts("2026-01-01 11:00:00")), // > 30 min gap → new session
      (2L, ts("2026-01-01 10:05:00")))

    // explicit-state variant
    val mem = MemoryStream[(Long, Timestamp)]
    case class Sess(user: Long, start: Timestamp, n: Long)
    val sessions = mem.toDS().groupByKey(_._1)
      .flatMapGroupsWithState[List[(Timestamp, Long)], (Long, Timestamp, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[List[(Timestamp, Long)]]) =>
          // accumulate all rows (bounded replay), emit sessions at the end
          val all = (state.getOption.getOrElse(Nil) ++ rows.map(r => (r._2, 1L)))
            .sortBy(_._1.getTime)
          state.update(all)
          val gapMs = 30 * 60 * 1000L
          val out = scala.collection.mutable.ListBuffer[(Long, Timestamp, Long)]()
          var start: Timestamp = null; var last: Timestamp = null; var n = 0L
          for ((t, _) <- all) {
            if (start == null) { start = t; last = t; n = 1 }
            else if (t.getTime - last.getTime >= gapMs) {
              out += ((user, start, n)); start = t; last = t; n = 1
            } else { last = t; n += 1 }
          }
          if (start != null) out += ((user, start, n))
          out.iterator
      }
    val q = sessions.toDF("user_id", "session_start", "n_events")
      .writeStream.format("memory").queryName("fmgws_sessions")
      .outputMode(OutputMode.Append).start()
    mem.addData(events: _*)
    q.processAllAvailable(); q.stop()
    val explicit = spark.table("fmgws_sessions")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

    // native session_window over the same batch
    val native = events.toDF("user_id", "ts")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start"), col("n"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

    assert(explicit === native)
    assert(explicit.size === 3)
  }

  test("D14: watermarked stream-stream inner join matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicksData = Seq(
      (1L, ts("2026-01-01 10:00:00")),
      (1L, ts("2026-01-01 11:00:00")),
      (2L, ts("2026-01-01 10:05:00")))
    val buysData = Seq(
      (1L, ts("2026-01-01 10:10:00"), 5.0),  // within 30 min of click@10:00
      (1L, ts("2026-01-01 10:45:00"), 7.0),  // matches NO click (>30 min / before 11:00)
      (2L, ts("2026-01-01 10:35:00"), 9.0),  // exactly at the +30 min bound → match
      (3L, ts("2026-01-01 10:20:00"), 4.0))  // no click for user 3
    val cMem = MemoryStream[(Long, Timestamp)]
    val pMem = MemoryStream[(Long, Timestamp, Double)]
    val clicks = cMem.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    val buys = pMem.toDF().toDF("p_user", "p_ts", "p_value").withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(buys,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_spec")
      .outputMode(OutputMode.Append).start()
    cMem.addData(clicksData: _*); pMem.addData(buysData: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssjoin_spec")
      .select("c_user", "c_ts", "p_ts", "p_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3))).toSet
    val batch = clicksData.toDF("c_user", "c_ts")
      .join(buysData.toDF("p_user", "p_ts", "p_value"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .select("c_user", "c_ts", "p_ts", "p_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3))).toSet
    assert(streamed === batch)
    assert(streamed.size === 2) // (u1 10:00→10:10) and (u2 10:05→10:35 boundary)
  }

  test("D14c state budget: time-ordered admission keeps join state under the rate×horizon " +
    "budget at 10× rate; unthrottled single-batch buffers everything") {
    // THE RECIPE (the operator-level guard for D14's rate-proportional
    // state): a stream-stream join buffers every input row inside the
    // watermark horizon, so peak state ∝ ingest RATE × (horizon +
    // trigger span) — never total history — PROVIDED admission is
    // time-ordered and trigger-bounded (maxFilesPerTrigger over
    // ts-sorted files here; maxRowsPerTrigger/maxOffsetsPerTrigger are
    // the same dial on other sources). Without the bound, one
    // AvailableNow mega-batch buffers the full corpus: the watermark
    // only advances BETWEEN batches, so nothing evicts mid-batch.
    // This spec pins the budget formula at 1× and 10× the ingest rate.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val conf = spark.sparkContext.hadoopConfiguration
    val wmMin = 10; val joinMin = 5
    val ev0 = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))

    def stage(dir: String, df: org.apache.spark.sql.DataFrame, nFiles: Int): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val hfs = p.getFileSystem(conf)
      if (hfs.exists(p)) hfs.delete(p, true)
      hfs.mkdirs(p)
      val rows = df.orderBy(col("ts")).collect()
      val sch = df.schema
      val per = math.max(1, (rows.length + nFiles - 1) / nFiles)
      val t0 = System.currentTimeMillis() - 3600 * 1000L
      rows.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        val tmp = s"$dir-tmp-$i"
        spark.createDataFrame(java.util.Arrays.asList(chunk: _*), sch)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = hfs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
        val dst = new org.apache.hadoop.fs.Path(f"$dir/batch-$i%03d.parquet")
        org.apache.hadoop.fs.FileUtil.copy(hfs, part, hfs, dst, true, conf)
        hfs.setTimes(dst, t0 + i * 1000L, -1)
      }
    }

    val peak = scala.collection.concurrent.TrieMap[String, Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val n = e.progress.name
        if (n != null) {
          val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
          peak(n) = math.max(peak.getOrElse(n, 0L), rows)
        }
      }
    }

    def runJoin(dir: String, name: String, filesPerTrigger: Option[Int]): Set[String] = {
      val sch = ev0.schema
      def side = filesPerTrigger
        .foldLeft(spark.readStream.schema(sch))((r, n) => r.option("maxFilesPerTrigger", n))
        .parquet(dir)
      val clicks = side.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", s"$wmMin minutes")
      val buys = side.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
        .withWatermark("p_ts", s"$wmMin minutes")
      val q = clicks.join(buys,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr(s"INTERVAL $joinMin MINUTES"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).collect()
        .map(r => s"${r.getAs[Long]("c_user")}|${r.getAs[Timestamp]("c_ts")}|" +
          s"${r.getAs[Timestamp]("p_ts")}|${r.getAs[Double]("p_value")}").toSet
    }

    // rate-proportional budget from the DATA: the max click+purchase
    // row count in any sliding window of (horizon + 2 trigger spans) —
    // horizon = watermark + join window; the 2× covers watermark lag
    // (it advances between batches) plus the in-flight batch
    def budgetOf(df: org.apache.spark.sql.DataFrame, nFiles: Int): Long = {
      val tss = df.select(col("ts")).orderBy(col("ts")).collect().map(_.getTimestamp(0).getTime)
      val span = (tss.last - tss.head) / nFiles
      val win = (wmMin + joinMin) * 60000L + 2 * span
      var best = 0L; var lo = 0
      tss.indices.foreach { hi =>
        while (tss(hi) - tss(lo) > win) lo += 1
        best = math.max(best, (hi - lo + 1).toLong)
      }
      best
    }

    val batchExpected = {
      val c = ev0.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val p = ev0.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
      c.join(p, col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $joinMin MINUTES"))
        .collect().map(r => s"${r.getAs[Long]("c_user")}|${r.getAs[Timestamp]("c_ts")}|" +
          s"${r.getAs[Timestamp]("p_ts")}|${r.getAs[Double]("p_value")}").toSet
    }

    spark.streams.addListener(listener)
    try {
      for ((label, copies, nFiles) <- Seq(("x1", 1, 10), ("x10", 10, 40))) {
        val ev = (0 until copies).map(i =>
            ev0.withColumn("event_id", col("event_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
        val total = ev.count()
        val dir = s"/root/repo/target/laketest/ssbudget-$label"
        stage(dir, ev, nFiles)
        val gotThrottled = runJoin(dir, s"ssb_thr_$label", Some(1))
        val gotUnthrottled = runJoin(dir, s"ssb_unb_$label", None)
        // correctness is unchanged by the throttle (and ×N-copy inputs
        // produce the batch pair set ×N² per user pairing — just
        // compare the two streaming runs to each other and, at 1×, to
        // the batch join)
        assert(gotThrottled === gotUnthrottled, s"$label: throttle changed the answer")
        if (copies == 1) assert(gotThrottled === batchExpected)
        val thrPeak = peak(s"ssb_thr_$label")
        val unbPeak = peak(s"ssb_unb_$label")
        val budget = budgetOf(ev, nFiles)
        info(f"$label: throttled peak=$thrPeak budget=$budget unthrottled peak=$unbPeak total=$total")
        assert(thrPeak <= budget,
          s"$label: throttled peak state $thrPeak exceeds the rate×horizon budget $budget")
        // the unbounded run buffers the entire corpus in one batch —
        // the failure mode the recipe exists to prevent
        assert(unbPeak >= total,
          s"$label: expected the single-batch run to buffer everything ($unbPeak < $total)")
        assert(thrPeak.toDouble <= unbPeak.toDouble / 2,
          s"$label: the throttle must cut peak state materially ($thrPeak vs $unbPeak)")
      }
    } finally spark.streams.removeListener(listener)
  }

  test("D14b: stream-stream LEFT OUTER join emits null-padded unmatched rows after the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cMem = MemoryStream[(Long, Timestamp)]
    val pMem = MemoryStream[(Long, Timestamp, Double)]
    val clicks = cMem.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "5 minutes")
    val buys = pMem.toDF().toDF("p_user", "p_ts", "p_value").withWatermark("p_ts", "5 minutes")
    val joined = clicks.join(buys,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssjoin_outer_spec")
      .outputMode(OutputMode.Append).start()
    cMem.addData((1L, ts("2026-01-01 10:00:00")), (2L, ts("2026-01-01 10:00:00")))
    pMem.addData((1L, ts("2026-01-01 10:10:00"), 5.0))
    q.processAllAvailable()
    // advance both watermarks far past 10:30 so user 2's click is provably
    // unmatchable and must emit with a null purchase side
    cMem.addData((9L, ts("2026-01-01 12:00:00")))
    pMem.addData((9L, ts("2026-01-01 12:00:00"), 0.0))
    q.processAllAvailable()
    cMem.addData((9L, ts("2026-01-01 13:00:00")))
    pMem.addData((9L, ts("2026-01-01 13:00:00"), 0.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssjoin_outer_spec")
      .filter(col("c_user").isin(1L, 2L))
      .select("c_user", "p_value")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(rows.contains((1L, Some(5.0))))          // matched pair
    assert(rows.contains((2L, None)))               // unmatched → null-padded
  }

  test("D4: streaming sink into a graft lake table via foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = "/root/repo/target/laketest/streamsink"
    val t = GraftTable.create(spark, root,
      Seq((0L, "seed")).toDF("id", "payload"))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "payload").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        t.append(batch) // snapshot-per-microbatch append
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    mem.addData((1L, "a"), (2L, "b"))
    q.awaitTermination()
    assert(t.read().count() === 3)
    assert(t.currentId === 2) // seed snapshot + one micro-batch commit
  }

  test("D9b: rate cap survives NON-DENSE snapshot ids (parked WAP stages)") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-gaps"
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "k"))
    // park a staged snapshot → id 2 exists but is NOT on the main
    // lineage; the next appends land on 3 and 4 (non-dense published
    // history: 1, 3, 4)
    val parked = t.stageAppend(Seq((99L, "staged")).toDF("id", "k"))
    assert(parked === 2L)
    t.append(Seq((2L, "b")).toDF("id", "k"))
    t.append(Seq((3L, "c")).toDF("id", "k"))
    // lastEnd+n arithmetic would emit end offset 2 = the parked stage:
    // getBatch would deliver UNPUBLISHED data. The lineage-based cap
    // must deliver exactly the published rows, one snapshot per batch.
    val src = new graft.streaming.GraftSource(spark, root, maxSnapshotsPerTrigger = Some(1L))
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    // getBatch returns a streaming-flagged plan (inputFiles/collect on
    // it would trip the batch-support check) — read the exact files its
    // FileIndex planned
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val files = StreamingSpec.plannedFiles(df)
      if (files.isEmpty) Set.empty
      else spark.read.parquet(files.toIndexedSeq: _*)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    val o1 = src.getOffset.get
    assert(o1 === LongOffset(1L), s"first capped offset was $o1")
    assert(rowsOf(src.getBatch(None, o1)) === Set(1L))
    val o2 = src.getOffset.get
    assert(o2 === LongOffset(3L), s"cap must step over the parked id 2, got $o2")
    assert(rowsOf(src.getBatch(Some(o1), o2)) === Set(2L))
    val o3 = src.getOffset.get
    assert(o3 === LongOffset(4L))
    assert(rowsOf(src.getBatch(Some(o2), o3)) === Set(3L))
  }

  test("D9c: backlogged rate-capped stream survives mid-history expiration") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-expired"
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "k"))
    t.append(Seq((2L, "b")).toDF("id", "k"))
    t.append(Seq((3L, "c")).toDF("id", "k"))
    t.append(Seq((4L, "d")).toDF("id", "k"))
    // a backlogged stream (lastEnd = 0) returns after snapshots 1–2
    // expired: the lineage walk hits a missing manifest mid-history.
    // Clear the in-JVM snapshot cache so the walk really reads manifests.
    t.expire(keepFrom = 3L)
    graft.lake.GraftTable.snapshotCache.clear()
    graft.lake.GraftTable.shardCache.clear()
    val src = new graft.streaming.GraftSource(spark, root, maxSnapshotsPerTrigger = Some(1L))
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    // pre-fix this threw NoSuchFileException on snapshot-2.json; now the
    // walk stops at the oldest RETAINED id, whose manifest still carries
    // the expired snapshots' files (addedBy 1..3)
    val o1 = src.getOffset.get
    assert(o1 === LongOffset(3L), s"oldest retained id expected, got $o1")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val files = StreamingSpec.plannedFiles(df)
      if (files.isEmpty) Set.empty
      else spark.read.parquet(files.toIndexedSeq: _*)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(rowsOf(src.getBatch(None, o1)) === Set(1L, 2L, 3L),
      "batch ending at the oldest retained id carries the expired snapshots' files")
    val o2 = src.getOffset.get
    assert(o2 === LongOffset(4L))
    assert(rowsOf(src.getBatch(Some(o1), o2)) === Set(4L))
  }

  test("D6d: maxFilesPerTrigger splits one big snapshot across bounded micro-batches, exactly-once across restart") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-filecap"
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    // snapshot 1: one small seed; snapshot 2: a "backfill" of 8 files
    val t = GraftTable.create(spark, root,
      Seq((0L, "p0")).toDF("id", "k").repartition(col("k")), Seq("k"))
    t.append((1 until 33).map(i => (i.toLong, s"p${i % 8}")).toDF("id", "k")
      .repartition(col("k")))
    assert(t.current.files.count(_.addedBy == 2L) === 8)
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val files = StreamingSpec.plannedFiles(df)
      if (files.isEmpty) Set.empty
      else spark.read.parquet(files.toIndexedSeq: _*)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    val src = new graft.streaming.GraftSource(spark, root,
      maxFilesPerTrigger = Some(3L))
    val snap2Paths = t.current.files.filter(_.addedBy == 2L).map(_.path).sorted
    // batch 1: snapshot 1's file + 2 of snapshot 2's (3-file cap) —
    // the offset lands MID-snapshot, cut by PATH (stable under later
    // file removal, unlike a rank)
    val o1 = src.getOffset.get
    assert(o1 === graft.streaming.GraftFileOffset(2L, snap2Paths(1)), s"got $o1")
    val b1 = rowsOf(src.getBatch(None, o1))
    assert(StreamingSpec.plannedFiles(src.getBatch(None, o1)).size === 3)
    // batch 2: next 3 files of snapshot 2
    val o2 = src.getOffset.get
    assert(o2 === graft.streaming.GraftFileOffset(2L, snap2Paths(4)), s"got $o2")
    val b2 = rowsOf(src.getBatch(Some(o1), o2))
    assert(b1.intersect(b2).isEmpty, "no row delivered twice")
    // RESTART mid-snapshot: a fresh source sees the checkpointed
    // offsets only in SERIALIZED form, and (per the v1-Source recovery
    // contract) replays the last batch via getBatch BEFORE the first
    // getOffset — progress must resume without loss or duplication
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    val src2 = new graft.streaming.GraftSource(spark, root,
      maxFilesPerTrigger = Some(3L))
    val b2replay = rowsOf(src2.getBatch(
      Some(new SerializedOffset(o1.json)), new SerializedOffset(o2.json)))
    assert(b2replay === b2, "recovered-batch replay is byte-deterministic")
    val o3 = src2.getOffset.get
    assert(o3 === LongOffset(2L), s"final slice completes the snapshot, got $o3")
    val b3 = rowsOf(src2.getBatch(Some(new SerializedOffset(o2.json)), o3))
    assert(b1.union(b2).union(b3) === (0L until 33L).toSet, "all rows exactly once")
    assert(b2.intersect(b3).isEmpty && b1.intersect(b3).isEmpty)
    // caught up: offset stops moving
    assert(src2.getOffset.get === LongOffset(2L))
  }

  test("D6g: a batch spanning an append and a later MOR delete hides the deleted rows") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-mor"
    val ckpt = "/root/repo/target/laketest/streamsrc-mor-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.delete(col("id") === 2L)
    assert(t.current.deleteFiles.nonEmpty, "precondition: a pending MOR delete")
    // a FRESH stream's first batch covers both the create and the MOR
    // delete snapshot — row 2 was never logically visible at the end
    // offset and must not stream out
    val seen = scala.collection.mutable.Set[Long]()
    val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
      .option("path", root).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= batch.select("id").collect().map(_.getLong(0)); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(seen.toSet === Set(1L, 3L), s"MOR-deleted row leaked into the stream: $seen")
  }

  test("D6h: a batch spanning an append and a later EQUALITY merge hides superseded pre-images") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-eq"
    val ckpt = "/root/repo/target/laketest/streamsrc-eq-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k"))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    t.merge(Seq((2L, "b2"), (4L, "d")).toDF("id", "k"), Seq("id"))
    assert(t.current.deleteFiles.exists(_.equalityCols == Seq("id")),
      "precondition: a pending equality delete")
    // a FRESH stream's first batch covers create + merge: the old (2,b)
    // pre-image was superseded before the end offset — only the
    // post-image may stream out
    val seen = scala.collection.mutable.Set[(Long, String)]()
    val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
      .option("path", root).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= batch.select("id", "k").collect().map(r => (r.getLong(0), r.getString(1))); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(seen.toSet === Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")),
      s"equality-superseded pre-image leaked into the stream: $seen")
  }

  test("D12c: change feed reconstructs equality-delete victims as row-level deletes") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamcdf-eq"
    val ckpt = "/root/repo/target/laketest/streamcdf-eq-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k"))
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    val seen = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= batch.select("_change_type", "id", "k").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getString(2))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce() // initial load: three inserts
    assert(seen.sorted.toSeq === Seq(
      ("insert", 1L, "a"), ("insert", 2L, "b"), ("insert", 3L, "c")))
    seen.clear()
    t.merge(Seq((2L, "b2"), (4L, "d")).toDF("id", "k"), Seq("id"))
    drainOnce() // an equality upsert = delete(old image) + inserts
    assert(seen.sorted.toSeq === Seq(
      ("delete", 2L, "b"), ("insert", 2L, "b2"), ("insert", 4L, "d")),
      s"got $seen")
  }

  test("D13: deletesAsRetractions — incremental state equals the batch table under MOR DML") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamretract"
    val ckpt = "/root/repo/target/laketest/streamretract-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    t.append(Seq((4L, "d")).toDF("id", "k"))
    // incremental multiset maintained purely from the retraction feed
    val state = scala.collection.mutable.Map[(Long, String), Int]().withDefaultValue(0)
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("deletesAsRetractions", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("id", "k", "_graft_retract").collect().foreach { r =>
            val key = (r.getLong(0), r.getString(1))
            state(key) = state(key) + (if (r.getBoolean(2)) -1 else 1)
          }; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()
    assert(state.filter(_._2 > 0).keySet === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // MOR delete + MOR update land as retract(pre-image) / add(post-image)
    t.delete(col("id") === 2L)
    t.update(col("id") === 3L, Map("k" -> lit("c2")))
    drainOnce()
    val live = state.filter(_._2 > 0)
    assert(live.values.forall(_ == 1), s"multiset went off-by-one: $state")
    val batchState = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(live.keySet === batchState,
      s"retraction-fed state $live must equal the batch table $batchState")
    assert(batchState === Set((1L, "a"), (3L, "c2"), (4L, "d")))
  }

  test("D13b: in-window vector delete then equality delete of one key emits ONE retraction") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamretract2"
    val ckpt = "/root/repo/target/laketest/streamretract2-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    t.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    val state = scala.collection.mutable.Map[(Long, String), Int]().withDefaultValue(0)
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("deletesAsRetractions", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("id", "k", "_graft_retract").collect().foreach { r =>
            val key = (r.getLong(0), r.getString(1))
            state(key) = state(key) + (if (r.getBoolean(2)) -1 else 1)
          }; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()
    // ONE window containing BOTH a vector delete of row 2 and a later
    // equality upsert of the same key: the pre-image must retract once,
    // not once per delete flavor
    t.delete(col("id") === 2L)
    t.merge(Seq((2L, "b2")).toDF("id", "k"), Seq("id"))
    drainOnce()
    assert(state.values.forall(_ >= 0),
      s"a pre-image retracted twice (state went negative): $state")
    val live = state.filter(_._2 > 0)
    val batchState = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(live.keySet === batchState && live.values.forall(_ == 1), s"state $state vs $batchState")
  }

  test("D6f: path-cut offsets survive removal of consumed files mid-snapshot (no skipped files)") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-pathcut"
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val t = GraftTable.create(spark, root,
      (0 until 32).map(i => (i.toLong, s"p${i % 8}")).toDF("id", "k")
        .repartition(col("k")), Seq("k"))
    assert(t.current.files.size === 8)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val files = StreamingSpec.plannedFiles(df)
      if (files.isEmpty) Set.empty
      else spark.read.parquet(files.toIndexedSeq: _*)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    val src = new graft.streaming.GraftSource(spark, root,
      maxFilesPerTrigger = Some(2L))
    // consume the first 2 files (path order) of snapshot 1
    val o1 = src.getOffset.get
    val b1 = rowsOf(src.getBatch(None, o1))
    // a metadata-only partition delete now REMOVES one already-consumed
    // file from later manifests. A rank-based cut would renumber the
    // surviving files and silently skip the next unconsumed one.
    val consumedParts = t.current.files.map(_.path).sorted.take(2)
      .map(p => t.current.files.find(_.path == p).get.partition("k"))
    t.delete(col("k") === consumedParts.head)
    assert(t.current.files.size === 7)
    // drain the rest: every remaining file arrives exactly once
    var consumed = b1
    var prev: org.apache.spark.sql.execution.streaming.Offset = o1
    var done = false
    while (!done) {
      val o = src.getOffset.get
      if (o.json == prev.json) done = true
      else {
        val rows = rowsOf(src.getBatch(Some(prev), o))
        assert(consumed.intersect(rows).isEmpty, "no row delivered twice")
        consumed ++= rows
        prev = o
      }
    }
    assert(consumed === (0L until 32L).toSet,
      s"missing rows after mid-snapshot file removal: ${(0L until 32L).toSet -- consumed}")
  }

  test("D6e: maxBytesPerTrigger bounds batch bytes but always admits one file") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-bytecap"
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val t = GraftTable.create(spark, root,
      (0 until 40).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "k")
        .repartition(col("k")), Seq("k"))
    val minBytes = t.current.files.map(_.bytes).min
    // cap below any single file: every batch still admits exactly one
    val src = new graft.streaming.GraftSource(spark, root,
      maxBytesPerTrigger = Some(minBytes - 1))
    var consumed = Set.empty[Long]
    var prev: Option[org.apache.spark.sql.execution.streaming.Offset] = None
    var batches = 0
    var done = false
    while (!done) {
      val o = src.getOffset.get
      if (prev.exists(_.json == o.json)) done = true
      else {
        val df = src.getBatch(prev, o)
        assert(StreamingSpec.plannedFiles(df).size === 1, "starved cap admits exactly one file")
        val rows = spark.read.parquet(StreamingSpec.plannedFiles(df).toIndexedSeq: _*)
          .select("id").collect().map(_.getLong(0)).toSet
        assert(consumed.intersect(rows).isEmpty)
        consumed ++= rows
        prev = Some(o); batches += 1
      }
    }
    assert(batches === t.current.files.size, "one file per micro-batch")
    assert(consumed === (0L until 40L).toSet)
  }

  test("D6g: maxRowsPerTrigger bounds batch rows at file granularity, exactly-once drain") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-rowcap"
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val t = GraftTable.create(spark, root,
      (0 until 48).map(i => (i.toLong, s"p${i % 6}")).toDF("id", "k")
        .repartition(col("k")), Seq("k"))
    val rowsPerFile = t.current.files.map(_.rows)
    assert(rowsPerFile.forall(_ == 8L), s"fixture drifted: $rowsPerFile")
    // 20-row budget at 8 rows/file → whole files only: 2 files (16
    // rows) per batch, never a partial file, never 3 (24 > 20)
    val src = new graft.streaming.GraftSource(spark, root,
      maxRowsPerTrigger = Some(20L))
    var consumed = Set.empty[Long]
    var prev: Option[org.apache.spark.sql.execution.streaming.Offset] = None
    var batches = 0
    var done = false
    while (!done) {
      val o = src.getOffset.get
      if (prev.exists(_.json == o.json)) done = true
      else {
        val df = src.getBatch(prev, o)
        val files = StreamingSpec.plannedFiles(df)
        assert(files.size === 2, s"20-row budget at 8-row files admits 2, got ${files.size}")
        val rows = spark.read.parquet(files.toIndexedSeq: _*)
          .select("id").collect().map(_.getLong(0)).toSet
        assert(consumed.intersect(rows).isEmpty, "no row delivered twice")
        consumed ++= rows
        prev = Some(o); batches += 1
      }
    }
    assert(batches === 3 && consumed === (0L until 48L).toSet)
    // a budget below one file still admits exactly one (no stall)
    val starved = new graft.streaming.GraftSource(spark, root,
      maxRowsPerTrigger = Some(1L))
    val o1 = starved.getOffset.get
    assert(StreamingSpec.plannedFiles(starved.getBatch(None, o1)).size === 1)
  }

  test("D6c: getBatch plans O(delta) — only files stamped in (start, end]") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/streamsrc-delta"
    val rm = new java.io.File(root)
    if (rm.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    // a table with plenty of historical files: 3 snapshots × multiple
    // partitions each
    val t = GraftTable.create(spark, root,
      (0 until 40).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "k")
        .repartition(col("k")), partitionCols = Seq("k"))
    t.append((40 until 80).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "k")
      .repartition(col("k")))
    t.append((80 until 120).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "k")
      .repartition(col("k")))
    // every committed entry carries its adding snapshot id
    assert(t.current.files.forall(_.addedBy > 0L))
    assert(t.current.files.map(_.addedBy).distinct.sorted === Seq(1L, 2L, 3L))
    val src = new graft.streaming.GraftSource(spark, root)
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val batch = src.getBatch(Some(LongOffset(2L)), LongOffset(3L))
    // the batch's planned inputs are exactly snapshot 3's added files —
    // not a set-difference over the whole table's file list
    val planned = StreamingSpec.plannedFiles(batch)
    val expected = t.current.files.filter(_.addedBy == 3L).map(f => s"$root/${f.path}").toSet
    assert(planned === expected)
    assert(spark.read.parquet(planned.toIndexedSeq: _*)
      .select("id").collect().map(_.getLong(0)).toSet === (80 until 120).map(_.toLong).toSet)
  }

  test("D12: readChangeFeed streams inserts and MOR deletes/updates as row-level changes") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/cdcstream"
    val ckpt = "/root/repo/target/laketest/cdcstream-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "k"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    val changes = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          changes ++= batch.select("_change_type", "id", "k").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getString(2))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce() // initial load: everything as inserts
    assert(changes.toSet === Set(("insert", 1L, "a"), ("insert", 2L, "b"),
      ("insert", 3L, "c"), ("insert", 4L, "d")), s"initial load: $changes")
    changes.clear()
    // one window spanning: an append, a MOR point delete, a MOR update
    t.append(Seq((5L, "e"), (6L, "f")).toDF("id", "k"))
    t.delete(col("id") === 2L)
    t.update(col("id") === 3L, Map("k" -> lit("x")))
    drainOnce()
    assert(changes.toSet === Set(
      ("insert", 5L, "e"), ("insert", 6L, "f"),
      ("delete", 2L, "b"),                      // point delete: pre-image out
      ("delete", 3L, "c"), ("insert", 3L, "x")  // update: delete+insert pair
    ), s"incremental changes: $changes")
    changes.clear()
    // data-preserving maintenance moves bytes, not rows: feed stays silent
    t.applyDeletes()
    t.optimizeCompact(1L << 30)
    drainOnce()
    assert(changes.isEmpty, s"maintenance must not re-emit rows: $changes")
    // a row appended AND deleted inside one window cancels entirely
    t.append(Seq((7L, "g")).toDF("id", "k"))
    t.delete(col("id") === 7L)
    drainOnce()
    assert(changes.isEmpty, s"in-window add+delete must cancel: $changes")
  }

  test("D12d: a user column named _change_type survives the change feed and the retraction feed") {
    import spark.implicits._
    val root = new java.io.File("target/laketest/cdcstream-collide").getAbsolutePath
    val ckpts = Seq("readChangeFeed", "deletesAsRetractions")
      .map(o => o -> s"$root-ckpt-$o").toMap
    for (p <- root +: ckpts.values.toSeq) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "_change_type"))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    val shapes = scala.collection.mutable.Set[(String, Seq[String])]()
    val rows = scala.collection.mutable.ArrayBuffer[(String, Long, String, String)]()
    def drainOnce(option: String): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option(option, "true").load()
        .writeStream.option("checkpointLocation", ckpts(option))
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          shapes += option -> batch.columns.toSeq
          rows ++= batch.collect().map(r =>
            (option, r.getLong(0), r.getString(1), r.get(2).toString)); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    ckpts.keys.foreach(drainOnce)
    t.append(Seq((3L, "c")).toDF("id", "_change_type"))
    t.delete(col("id") === 1L)
    ckpts.keys.foreach(drainOnce)
    assert(shapes.toSet === Set(
      "readChangeFeed" -> Seq("id", "_change_type", "_change_type1"),
      "deletesAsRetractions" -> Seq("id", "_change_type", "_graft_retract")))
    assert(rows.toSet === Set(
      ("readChangeFeed", 1L, "a", "insert"), ("readChangeFeed", 2L, "b", "insert"),
      ("readChangeFeed", 3L, "c", "insert"), ("readChangeFeed", 1L, "a", "delete"),
      ("deletesAsRetractions", 1L, "a", "false"), ("deletesAsRetractions", 2L, "b", "false"),
      ("deletesAsRetractions", 3L, "c", "false"), ("deletesAsRetractions", 1L, "a", "true")))
    // the batch changelog names the change kind the same way
    assert(t.changelog(1L, t.currentId).columns.toSeq === Seq("id", "_change_type", "_change_type1"))
  }

  test("D12-dv: readChangeFeed over DELETION-VECTOR commits reconstructs victims from bitmap diffs") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/cdcstream-dv"
    val ckpt = "/root/repo/target/laketest/cdcstream-dv-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root,
      (1L to 12L).map(i => (i, s"k$i")).toDF("id", "k"))
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    val changes = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          changes ++= batch.select("_change_type", "id", "k").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getString(2))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // initial load with a PENDING vector: dv-dead rows must not load
    t.delete(col("id") === 1L)
    drainOnce()
    assert(changes.toSet === (2L to 12L).map(i => ("insert", i, s"k$i")).toSet,
      s"initial load must apply the pending vector: $changes")
    changes.clear()
    // one window spanning: an append, TWO stacked dv deletes (the
    // second MERGES the first file's vector — entry paths churn, the
    // bitmap diff must still name exactly the new victims), and an
    // in-window add+dv-delete pair that must cancel
    t.append(Seq((20L, "t"), (21L, "u")).toDF("id", "k"))
    t.delete(col("id") === 2L)
    t.delete(col("id").isin(3L, 21L)) // 21 was added in-window → cancels
    drainOnce()
    assert(changes.toSet === Set(
      ("insert", 20L, "t"),
      ("delete", 2L, "k2"), ("delete", 3L, "k3")
    ), s"dv window changes: $changes")
    changes.clear()
    // fold-back maintenance stays silent; the next dv delete still streams
    t.applyDeletes()
    drainOnce()
    assert(changes.isEmpty, s"applyDeletes must not re-emit: $changes")
    t.delete(col("id") === 4L)
    drainOnce()
    assert(changes.toSet === Set(("delete", 4L, "k4")), s"post-fold dv delete: $changes")
    // retractions shape over a fresh dv table: incremental state
    // converges to the batch table under dv deletes
    val root2 = s"$root-retr"; val ckpt2 = s"$ckpt-retr"
    val root3 = s"$root-retr-imp"; val ckpt3 = s"$ckpt-retr-imp"
    for (p <- Seq(root2, ckpt2, root3, ckpt3)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t2 = GraftTable.create(spark, root2,
      (1L to 8L).map(i => (i, i * 10L)).toDF("id", "v"))
    t2.setProperty(GraftTable.DeleteModeProp, "dv")
    val state = scala.collection.mutable.Map.empty[Long, Long]
    val retracted = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drainRetr(path: String, ckptDir: String): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", path).option("deletesAsRetractions", "true").load()
        .writeStream.option("checkpointLocation", ckptDir)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("_graft_retract", "id", "v").collect().foreach { r =>
            if (r.getBoolean(0)) { state.remove(r.getLong(1)); retracted += r.getLong(1) }
            else state(r.getLong(1)) = r.getLong(2)
          }; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainRetr(root2, ckpt2)
    t2.delete(col("id").isin(2L, 5L))
    t2.delete(col("id") === 7L)
    drainRetr(root2, ckpt2)
    val want = t2.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state.toMap === want, s"retraction state diverged: $state vs $want")
    // an in-window position→dv CONVERSION adds no retraction of its
    // own: a position delete committed by a pre-vector writer, its
    // conversion, and one real vector delete stream as exactly those
    // two deletes — the converted coordinates reappear as bitmap
    // growth, and the position entry itself is not read twice
    val t3 = GraftTable.create(spark, root3, (1L to 8L).map(i => (i, i * 10L)).toDF("id", "v"))
    t3.setProperty(GraftTable.DeleteModeProp, "dv")
    state.clear()
    drainRetr(root3, ckpt3)
    retracted.clear()
    LegacyTable.positionDelete(spark, t3, col("id") === 1L)
    t3.convertDeletesToDv()
    t3.delete(col("id") === 8L) // one real in-window dv delete alongside
    drainRetr(root3, ckpt3)
    val want2 = t3.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state.toMap === want2, s"post-conversion state diverged: $state vs $want2")
    assert(retracted.toSeq.sorted === Seq(1L, 8L),
      "each in-window delete retracts once across a conversion")
  }

  test("D12-dv-compact: a pre-window row an in-window compaction moved streams its vector delete") {
    import spark.implicits._
    val root = new java.io.File("target/laketest/cdcstream-dv-compact").getAbsolutePath
    val ckpt = s"$root-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "k").coalesce(1))
    t.append(Seq((2L, "b")).toDF("id", "k").coalesce(1))
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    val changes = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          changes ++= batch.select("_change_type", "id", "k").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getString(2))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()
    changes.clear()
    // one window: the two pre-window files pack into one, then a vector
    // delete kills a row of the packed file
    val start = t.currentId
    t.optimizeCompact(1L << 20)
    assert(t.current.files.size === 1, "precondition: the compaction packed both files")
    t.delete(col("id") === 2L)
    drainOnce()
    assert(changes.toSet === Set(("delete", 2L, "b")), s"moved row's vector delete: $changes")
    val batch = t.changelog(start, t.currentId).select("_change_type", "id", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(changes.toSet === batch, "the feed and the batch changelog agree")
    changes.clear()
    // a compaction that packs a window row with pre-window rows writes a
    // file whose vector cannot be split into pre-window victims: refused
    t.append(Seq((3L, "c")).toDF("id", "k").coalesce(1))
    t.optimizeCompact(1L << 20)
    t.delete(col("id") === 1L)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drainOnce())
    assert(err.getCause.getMessage.contains("skipChangeCommits"), s"wrong failure: ${err.getCause}")
  }

  test("D12-dv-expired: a vector window whose start snapshot expired is refused, not re-emitted") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val root = "/root/repo/target/laketest/cdcstream-dv-expired"
    val f = new java.io.File(root)
    if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", root).! }
    val t = GraftTable.create(spark, root,
      (1L to 4L).map(i => (i, s"k$i")).toDF("id", "k").coalesce(1))
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    t.setProperty(GraftTable.MaxSnapshotsProp, "2")
    t.delete(col("id") === 1L) // the file's first vector, before the window
    // a running stream that has consumed through `start`
    val src = new graft.streaming.GraftSource(spark, root, changeFeed = true)
    val start = t.currentId
    // in the window: a second delete in the same file merges its vector
    // (the new entry holds both rows' bitmap), then an append expires
    // the stream's start snapshot under keep-2
    t.delete(col("id") === 2L)
    t.append(Seq((5L, "k5")).toDF("id", "k"))
    graft.lake.GraftTable.snapshotCache.clear()
    graft.lake.GraftTable.shardCache.clear()
    assert(t.snapshotIfExists(start).isEmpty, "precondition: the start snapshot expired")
    assert(t.lineage(start, t.currentId).nonEmpty, "precondition: the window itself is retained")
    assert(t.current.deleteFiles.exists(d => d.dv && d.addedBy > start),
      "precondition: the window merged the file's vector")
    // the start bitmap is gone with the start snapshot: without it the
    // diff would name row 1 again, so the window is refused
    val e = intercept[IllegalStateException](
      src.getBatch(Some(LongOffset(start)), LongOffset(t.currentId)))
    assert(e.getMessage.contains("has been expired"), e.getMessage)
  }

  test("D12-dv-fold: a vector delete that applyDeletes folds in the same window still streams") {
    import spark.implicits._
    val root = new java.io.File("target/laketest/cdcstream-dv-fold").getAbsolutePath
    val ckpt = s"$root-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "k").coalesce(1))
    t.setProperty(GraftTable.DeleteModeProp, "dv")
    val changes = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          changes ++= batch.select("_change_type", "id", "k").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getString(2))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()
    changes.clear()
    // one window: a vector delete, then the fold that rewrites its file
    val start = t.currentId
    t.delete(col("id") === 2L)
    t.applyDeletes()
    assert(t.current.deleteFiles.isEmpty, "precondition: the fold dropped the vector")
    drainOnce()
    assert(changes.toSet === Set(("delete", 2L, "b")), s"folded vector delete: $changes")
    val batch = t.changelog(start, t.currentId).select("_change_type", "id", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(changes.toSet === batch, "the feed and the batch changelog agree")
    changes.clear()
    // a row appended, vector-deleted and folded in one window never was
    t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "k").coalesce(1))
    t.delete(col("id") === 3L)
    t.applyDeletes()
    drainOnce()
    assert(changes.toSet === Set(("insert", 4L, "d")), s"appended, deleted and folded: $changes")
  }

  test("D9d: a restart after retention expired the last committed snapshot names the expired history") {
    import spark.implicits._
    val root = new java.io.File("target/laketest/streamsrc-restart-expired").getAbsolutePath
    val ckpt = s"$root-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "k"))
    t.setProperty(GraftTable.MaxSnapshotsProp, "2")
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def drainOnce(): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= batch.select("id").collect().map(_.getLong(0)); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()
    assert(seen.toSet === Set(1L))
    val drained = t.currentId
    t.append(Seq((2L, "b")).toDF("id", "k"))
    t.append(Seq((3L, "c")).toDF("id", "k"))
    graft.lake.GraftTable.snapshotCache.clear()
    graft.lake.GraftTable.shardCache.clear()
    assert(t.snapshotIfExists(drained).isEmpty, "precondition: keep-2 expired the drained snapshot")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drainOnce())
    assert(err.getCause.isInstanceOf[IllegalStateException], s"raw failure: ${err.getCause}")
    assert(err.getCause.getMessage.contains("has been expired"), err.getCause.getMessage)
  }

  test("D12b: a copy-on-write rewrite stops the change feed unless skipChangeCommits") {
    import spark.implicits._
    val root = "/root/repo/target/laketest/cdccow"
    val ckpt = "/root/repo/target/laketest/cdccow-ckpt"
    for (p <- Seq(root, ckpt)) {
      val f = new java.io.File(p)
      if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", p).! }
    }
    val t = GraftTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    val got = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def drainOnce(skip: Boolean): Unit = {
      val q = spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("readChangeFeed", "true")
        .option("skipChangeCommits", skip.toString).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= batch.select("_change_type", "id").collect()
            .map(r => (r.getString(0), r.getLong(1))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce(skip = false)
    got.clear()
    t.delete(col("id") === 1L) // default COW: rewrites the file in place
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drainOnce(skip = false))
    assert(err.getCause.getMessage.contains("skipChangeCommits"),
      s"wrong failure: ${err.getCause}")
    // same checkpoint, opted in: the rewrite is passed over, later appends
    // flow. Two drains: the first re-runs (and now clears) the poisoned
    // batch — the v1 AvailableNow wrapper advances one batch per run
    t.append(Seq((9L, "z")).toDF("id", "k"))
    drainOnce(skip = true)
    drainOnce(skip = true)
    assert(got.toSet === Set(("insert", 9L)),
      s"skipChangeCommits should drop the rewrite and keep appends: $got")
    // file/byte admission cannot split change commits — refused up front
    val bad = intercept[Exception] {
      spark.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("readChangeFeed", "true")
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt + "-bad")
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(bad.getMessage.contains("maxFilesPerTrigger") ||
      Option(bad.getCause).exists(_.getMessage.contains("maxFilesPerTrigger")))
  }

  test("D16: CDC apply replicates row-for-row on the MOR-equality replica") {
    import org.apache.spark.sql.functions._
    // cdcApply REQUIREs zero multiset drift between source and replica
    // internally; here additionally pin the rollup against a direct
    // recomputation from the raw events (the driver's DuckDB oracle in
    // miniature) and confirm the replica really is applying via
    // equality MOR (zero-target-scan DML), not COW rewrites
    val got = graft.streaming.StreamOps.cdcApply(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") % 7 =!= 0)
    val exp = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === exp)
    val h = math.abs(sfDir.hashCode)
    val b = new graft.lake.GraftTable(
      s"/root/repo/target/lakework/cdcapply-dst-$h", spark)
    assert(b.snapshots.exists(_.deleteFiles.exists(_.equalityCols.nonEmpty)),
      "replica apply should have produced equality deletes (MOR), not COW rewrites")
  }

  test("D20: streaming drift monitor equals the batch C64 result bit-for-bit") {
    val streamed = graft.streaming.StreamOps
      .driftMonitorStream(spark, sfDir).collect().map(_.toSeq).toSeq
    val batch = graft.pipeline.VectorOps
      .embeddingDrift(spark, sfDir).collect().map(_.toSeq).toSeq
    // integer-quantized sums make the incremental streaming aggregation
    // EXACTLY the batch computation — no epsilon
    assert(streamed === batch)
  }

  test("D15: transformWithState (Spark 4 stateful API) running per-key aggregate matches batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues}
    // the new API requires the RocksDB state store provider
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Double)]
      val out = mem.toDS().groupByKey(_._1)
        .transformWithState(new StreamingSpec.RunningAgg, TimeMode.None(), OutputMode.Update())
      val q = out.toDF("user", "n", "total").writeStream.format("memory")
        .queryName("tws_agg").outputMode(OutputMode.Update).start()
      mem.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
      q.processAllAvailable()
      mem.addData((1L, 3.0), (3L, 7.0))
      q.processAllAvailable(); q.stop()
      // the LAST update per key is the running aggregate over everything
      val last = spark.table("tws_agg")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      assert(last === Map(1L -> ((3L, 6.0)), 2L -> ((1L, 5.0)), 3L -> ((1L, 7.0))))
    } finally {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
  }

  test("D21 stream_neardup_gate: planted corpus pins the growing-index semantics") {
    import spark.implicits._
    // hand-crafted Jaccard geometry (3-shingles on whitespace tokens):
    //   S  (seed, id 3)   : distinct text
    //   A  (batch0, id 4) : unique            -> ADMITTED
    //   F  (batch0, id 8) : J(F,A)=0.8 same batch -> ADMITTED (batch-start semantics)
    //   B  (batch1, id 13): J(B,A)=0.8, J(B,seeds)<0.5 -> REJECTED only
    //                       because batch0 ADMITTED A (the growth path)
    //   C  (batch1, id 5) : J(C,S)=0.8        -> REJECTED by the seed
    //   E  (batch2, id 10): J(E,B)=0.6 but B was rejected (its bands
    //                       never landed) and J(E,A)=0.4, J(E,F)=0.33
    //                       -> ADMITTED (rejects must NOT extend the index)
    //   D  (batch3, id 7) : unique            -> ADMITTED
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (3L, "one two three four five six seven eight nine ten"),
      (6L, "red orange yellow green blue indigo violet black white grey"),
      (4L, tA),
      (8L, tA + " nu xi"),
      (13L, tA + " lambda mu"),
      (5L, "one two three four five six seven eight nine ten eleven twelve"),
      (10L, "epsilon zeta eta theta iota kappa lambda mu"),
      (7L, "cat dog fish bird mouse horse sheep goat cow duck"))
      .map { case (id, tx) => (id, tx, "en", s"s$id", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "/root/repo/target/laketest/sngate-planted"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.delete(f); () })
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = graft.pipeline.Dedup.streamNearDupGate(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("s4" -> 1L, "s7" -> 1L, "s8" -> 1L, "s10" -> 1L),
      s"admission set diverged: $out")
  }
  test("D22 stream_ann_sync: per-batch index maintenance holds every invariant") {
    val row = graft.pipeline.AnnIndex.streamAnnSync(spark, sfDir).head()
    (0 until row.length).foreach(i =>
      assert(row.getBoolean(i), s"invariant ${row.schema.fieldNames(i)} violated"))
  }

  test("drainedThrough needs the last offsets batch to be committed") {
    import java.nio.file.{Files, Paths}
    val ckpt = new java.io.File("target/laketest/drained-through-ckpt").getAbsolutePath
    val f = new java.io.File(ckpt)
    if (f.exists()) { import scala.sys.process._; Seq("rm", "-rf", ckpt).! }
    Files.createDirectories(Paths.get(ckpt, "offsets"))
    Files.createDirectories(Paths.get(ckpt, "commits"))
    def write(rel: String, body: String): Unit = {
      Files.write(Paths.get(ckpt, rel), body.getBytes("UTF-8")); ()
    }
    write("offsets/0", "v1\n{}\n3")
    write("commits/0", "v1\n{}")
    assert(StreamOps.drainedThrough(spark, ckpt, 3L))
    assert(!StreamOps.drainedThrough(spark, ckpt, 4L))
    // batch 1 planned through snapshot 4 but died before committing
    write("offsets/1", "v1\n{}\n4")
    assert(!StreamOps.drainedThrough(spark, ckpt, 4L),
      "offsets/1 without commits/1 is an unfinished batch, not a drain")
    write("commits/1", "v1\n{}")
    assert(StreamOps.drainedThrough(spark, ckpt, 4L))
  }
}

object StreamingSpec {
  /** D15's processor: a running per-key (count, sum) in ValueState —
    * top-level so the closure serializes without the test suite.
    */
  class RunningAgg extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), (Long, Long, Double)] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      state = getHandle.getValueState[(Long, Double)](
        "agg", org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Double)] = {
      val (n0, s0) = if (state.exists()) state.get() else (0L, 0.0)
      var n: Long = n0; var s: Double = s0
      rows.foreach { r => n += 1; s += r._2 }
      state.update((n, s))
      Iterator((key, n, s))
    }
  }

  /** File list a (possibly streaming-flagged) relation planned, pulled
    * from the ANALYZED plan's FileIndex — optimizedPlan/inputFiles
    * would run the batch-support check and reject streaming relations.
    */
  def plannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSet
    }.head
}
