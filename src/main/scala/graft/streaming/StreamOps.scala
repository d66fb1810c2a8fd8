package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming operators (SURVEY.md §2.D). Each driver-facing
  * query actually *streams*: `readStream` over the events parquet →
  * stateful aggregation → memory sink, drained with
  * `Trigger.AvailableNow` — then the materialized sink table is
  * returned, so the DuckDB batch oracle checks the streaming result
  * end-to-end.
  *
  * Scale notes: both queries are keyed stateful aggs — state is
  * partitioned by (window/session, key) and scales with the number of
  * open windows, not the stream length. In production the same plans
  * run in append mode with the watermark bounding state (the specs
  * exercise watermark semantics on a MemoryStream); complete-mode
  * memory sink here is only the deterministic harness for a bounded
  * replay.
  */
object StreamOps {

  /** True when a single-source streaming checkpoint's LAST written
    * offset equals snapshot `id` AND that batch committed — i.e. the
    * source is already drained through the table head and another
    * AvailableNow start would run empty.
    * [[graft.streaming.GraftSource]] serializes a whole-snapshot
    * position as a bare LongOffset number on the offsets file's last
    * line; a mid-snapshot path-cut offset (GraftFileOffset json) never
    * matches, so the check errs toward draining again (r14
    * optimization: replaces unconditional protective re-drains, each a
    * full — empty — query start).
    */
  private[graft] def drainedThrough(s: SparkSession, ckpt: String, id: Long): Boolean = {
    try {
      val dir = new org.apache.hadoop.fs.Path(s"$ckpt/offsets")
      val hfs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!hfs.exists(dir)) return false
      val last = hfs.listStatus(dir).map(_.getPath)
        .filter(p => p.getName.nonEmpty && p.getName.forall(_.isDigit))
        .sortBy(_.getName.toLong).lastOption
        // offsets/N is written BEFORE batch N runs: a drain that died
        // mid-batch leaves no commits/N and must not read as drained
        .filter(p => hfs.exists(new org.apache.hadoop.fs.Path(s"$ckpt/commits/${p.getName}")))
      last.exists { p =>
        val in = hfs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.linesIterator.toSeq.lastOption.exists(_.trim == id.toString)
      }
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** events.parquet carries TIMESTAMP(NANOS) → normalize `ts` to a
    * microsecond TimestampType by branching on the type this Spark
    * actually loaded (epoch-nanos long under the legacy conf on older
    * builds; native TIMESTAMP_NTZ on current 4.1.2), exactly like
    * [[graft.Tables.events]] so oracles line up.
    */
  /** Stage a read-only parquet table for FileStreamSource consumption:
    * symlink the source into a work dir. A single-file table links
    * directly; a directory table (a Spark-written `*.parquet/part-*`
    * layout) links each data file FLAT into the work dir —
    * FileStreamSource does not recurse into non-partition
    * subdirectories, so a nested directory symlink would stream zero
    * rows.
    */
  private def stageStreamDir(src: String, tag: String): String = {
    val dir = java.nio.file.Paths.get(
      s"/root/repo/target/streamwork/$tag-${math.abs(src.hashCode)}")
    java.nio.file.Files.createDirectories(dir)
    val srcPath = java.nio.file.Paths.get(src)
    val targets =
      if (java.nio.file.Files.isDirectory(srcPath)) {
        val ls = java.nio.file.Files.list(srcPath)
        try ls.iterator().asScala.toSeq.filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p)
        } finally ls.close()
      } else Seq(srcPath)
    // drop stale links: directory symlinks staged by older builds were
    // invisible to the file stream and would shadow the flat links;
    // DANGLING links (the source table was rewritten with new part
    // file names) would make the source list files that no longer
    // exist and fail every batch
    val existing = java.nio.file.Files.list(dir)
    try existing.iterator().asScala.toSeq
      .filter(p => java.nio.file.Files.isSymbolicLink(p) &&
        (java.nio.file.Files.isDirectory(p) || !java.nio.file.Files.exists(p)))
      .foreach(java.nio.file.Files.delete)
    finally existing.close()
    targets.foreach { t =>
      val link = dir.resolve(t.getFileName.toString)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link, t)
    }
    dir.toString
  }

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = stageStreamDir(s"$d/events.parquet", "events")
    val schema = s.read.parquet(s"$d/events.parquet").schema
    s.readStream.schema(schema).parquet(dir)
      .withColumn("ts", graft.Tables.normalizeEventTs(schema("ts").dataType))
  }

  private def drain(df: DataFrame, s: SparkSession, name: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  /** D1 `stream_window_agg`: hourly tumbling-window aggregation with a
    * watermark (the batch twin of CoreQueries.qEventsWindow).
    */
  def windowAgg(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    drain(agg, s, s"graft_stream_window_${math.abs(d.hashCode)}")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  val windowAggSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
      |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** D18 `stream_topk`: windowed trending top-k — the live-dashboard
    * pattern. Ranking is not a streaming-supported operator (a rank
    * can flip retroactively while its window is open), so the
    * production shape is exactly this composition: STREAM the
    * watermarked windowed count (incremental keyed state, same scale
    * behavior as D1), then rank the materialized aggregate per window
    * in a batch step over the sink. The rank stage's input is
    * O(open windows × event types) — dashboard-sized at any stream
    * volume — never O(events).
    */
  def topkStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val mat = drain(agg, s, s"graft_stream_topk_${math.abs(d.hashCode)}")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"))
    val w = Window.partitionBy(col("hour")).orderBy(col("n").desc, col("event_type"))
    mat.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy(col("hour"), col("rank"))
  }

  val topkStreamSql: String =
    """WITH c AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
      |         event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT hour, event_type, n,
      |  row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rank
      |FROM c QUALIFY rank <= 3 ORDER BY hour, rank""".stripMargin

  /** D3 `stream_sessionize`: per-user sessions with a 30-minute
    * inactivity gap via the native `session_window` stateful operator
    * (merging session state, the scalable form of
    * flatMapGroupsWithState sessionization — see StreamingSpec for the
    * explicit-state variant).
    */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
    drain(agg, s, s"graft_stream_session_${math.abs(d.hashCode)}")
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Gaps-and-islands batch oracle. Spark's session_window starts a new
    * session when the gap is >= the 30-minute timeout (window end is
    * exclusive), hence `>=` in the break condition.
    */
  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** D4 `stream_lake_sink`: the streaming → lakehouse hand-off — each
    * micro-batch lands as one graft snapshot via foreachBatch (atomic
    * commit per batch = exactly-once for an idempotent replay), then
    * the *lake table* is read back and aggregated. Exercises
    * streaming, snapshot DML, and the manifest scan path in one query.
    */
  def lakeSink(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTable
    val root = s"/root/repo/target/lakework/streamsink-${math.abs(d.hashCode)}"
    val src = eventsStream(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val t = GraftTable.createEmpty(s, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))),
      Seq.empty, Seq.empty)
    val q = src.writeStream
      // tagged idempotent append: a batch replayed after a failure is
      // recognized by its tag and skipped — exactly-once into the lake
      .foreachBatch { (batch: DataFrame, id: Long) =>
        t.appendBatch(batch, s"stream-batch-$id"); () }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    t.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  val lakeSinkSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** D23 `stream_txn_sink`: each micro-batch lands on TWO tables as
    * one atomic, exactly-once unit — the ingest+audit shape (data plus
    * a per-batch accounting row that billing/monitoring reads) every
    * production sink grows eventually, and the first streaming
    * consumer of A93 ([[graft.lake.GraftTxn.commitTagged]]). The D4
    * tag contract lifts to the pair: after every commit the SAME tag
    * is deliberately replayed and must be skipped WHOLESALE — never a
    * partial re-append on one member. The entry's own audit
    * reconciliation (Σ audit.n_rows == data row count, one audit row
    * per batch) would catch a half-landed or double-landed batch on
    * either side; the oracle then aggregates the data table against
    * the events truth.
    */
  def txnSink(s: SparkSession, d: String): DataFrame = {
    import graft.lake.{GraftTable, GraftTxn}
    import org.apache.spark.sql.types._
    import s.implicits._
    val base = s"/root/repo/target/lakework/streamtxn-${math.abs(d.hashCode)}"
    val src = eventsStream(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val dataT = GraftTable.createEmpty(s, s"$base/data",
      StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))),
      Seq.empty, Seq.empty)
    val auditT = GraftTable.createEmpty(s, s"$base/audit",
      StructType(Seq(StructField("batch_tag", StringType),
        StructField("n_rows", LongType))),
      Seq.empty, Seq.empty)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val tag = s"txn-batch-$id"
        val audit = Seq((tag, batch.count())).toDF("batch_tag", "n_rows")
        val landed = GraftTxn.commitTagged(s, tag,
          Seq(dataT -> batch, auditT -> audit))
        val replayed = GraftTxn.commitTagged(s, tag,
          Seq(dataT -> batch, auditT -> audit))
        require(landed && !replayed,
          s"batch $id: first commit must land (got $landed), replay must " +
            s"be recognized and skipped (got $replayed)")
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // one pass over the audit ledger for all three counters (was three
    // jobs: sum, count, distinct-count — r13 optimization)
    val aStats = auditT.read().agg(sum(col("n_rows")),
      count(lit(1)), countDistinct(col("batch_tag"))).head()
    val audited = aStats.getLong(0)
    val rows = dataT.read().count()
    require(audited == rows,
      s"audit ledger says $audited rows, data table holds $rows — a batch " +
        "half-landed or double-landed")
    require(aStats.getLong(1) == aStats.getLong(2),
      "duplicate audit rows: a replayed batch re-appended")
    dataT.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  val txnSinkSql: String = lakeSinkSql

  /** D19 `stream_matview`: streaming materialized-view maintenance —
    * the full lakehouse serving loop in one query: micro-batches land
    * in the base table through the D4 exactly-once tagged sink, and
    * the same foreachBatch REFRESHES the A77 materialized view after
    * each landing, so the dashboard aggregate trails the stream by
    * exactly one incremental fold per batch — O(batch) + O(|MV|) per
    * trigger, never a base rescan, which is what makes a
    * continuously-updated serving view affordable against a 100 TB
    * base. Money folds as integer cents, so the incrementally-built
    * view must equal the DuckDB batch recompute bit-for-bit.
    */
  def matviewStream(s: SparkSession, d: String): DataFrame = {
    import graft.lake.{GraftTable, MatView}
    val root = s"/root/repo/target/lakework/streammv-${math.abs(d.hashCode)}"
    val src = eventsStream(s, d)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val t = GraftTable.createEmpty(s, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cents", org.apache.spark.sql.types.LongType))),
      Seq.empty, Seq.empty)
    val mvRoot = root + "-mv"
    MatView.create(s, mvRoot, t, Seq("event_type"),
      Seq(MatView.AggSpec("n", "count", ""), MatView.AggSpec("cents", "sum", "cents")))
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        t.appendBatch(batch, s"mv-stream-batch-$id")
        MatView.refresh(s, mvRoot); () }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    MatView.read(s, mvRoot).orderBy(col("event_type"))
  }

  val matviewStreamSql: String =
    """SELECT event_type, count(*)::BIGINT AS n,
      |  sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** D17 `stream_check_gate`: CHECK constraints guarding a streaming
    * sink — the A73 write-time predicates compose with the D4
    * exactly-once lake sink because every micro-batch funnels through
    * the same writeFiles validation. Each batch is first attempted
    * WITH an injected violating row (the poisoned append must be
    * refused atomically — zero rows of it land, the table pointer
    * holds), then landed clean under its idempotent tag. This is the
    * quarantine-at-ingestion shape of a continuously-fed training
    * corpus: bad batches bounce whole, good data flows, and the final
    * table equals the plain batch oracle exactly.
    */
  def checkGate(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTable
    val root = s"/root/repo/target/lakework/streamcheck-${math.abs(d.hashCode)}"
    val src = eventsStream(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val t = GraftTable.createEmpty(s, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))),
      Seq.empty, Seq.empty)
    t.addCheckConstraint("nonneg_id", "event_id >= 0")
    val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val poisoned = batch.unionByName(
          batch.limit(1).withColumn("event_id", lit(-1L)))
        val before = t.currentId
        try { t.appendBatch(poisoned, s"poison-$id"); () }
        catch { case _: IllegalArgumentException =>
          refusals.incrementAndGet()
          require(t.currentId == before, "refused batch must not move the table")
        }
        t.appendBatch(batch, s"clean-$id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    require(refusals.get() > 0, "at least one poisoned batch must be refused")
    t.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  // only the clean appends land, so the table equals plain events
  val checkGateSql: String = lakeSinkSql

  /** D2 `stream_dedup`: watermark-bounded streaming deduplication —
    * the same file is streamed TWICE (union of two sources), so every
    * event arrives duplicated; `dropDuplicatesWithinWatermark` on the
    * event id must collapse them back to exactly the source events
    * (the oracle is the plain batch aggregate — without the dedup the
    * counts would double, so the operator is what's being checked).
    * State is keyed by event_id and expired by the watermark — bounded
    * regardless of stream length.
    */
  def dedupStream(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("event_id", "event_type", "ts", "value").map(col)
    val doubled = eventsStream(s, d).select(cols: _*)
      .union(eventsStream(s, d).select(cols: _*))
    val dd = doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val name = s"graft_stream_dedup_${math.abs(d.hashCode)}"
    val q = dd.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  // after dedup, the doubled stream reduces back to the plain events
  val dedupStreamSql: String = lakeSinkSql

  /** D8 `stream_corpus_filter`: the C24 quality gate running INSIDE a
    * streaming query — documents arrive as files, every micro-batch is
    * scored and tagged stateless-ly (narrow maps only, so the stream
    * never shuffles and needs no watermark), and the drained output is
    * rolled up per drop-reason. This is the shape of a continuously-
    * ingesting training-data pipeline: the same `corpusFilterCore`
    * plan serves batch and stream.
    */
  def corpusFilterStream(s: SparkSession, d: String): DataFrame = {
    val dir = stageStreamDir(s"$d/documents.parquet", "docs")
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val docs = s.readStream.schema(schema).parquet(dir)
    val tagged = graft.pipeline.TextOps.corpusFilterCore(docs)
    val name = s"graft_stream_cfilter_${math.abs(d.hashCode)}"
    val q = tagged.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("reason"))
  }

  val corpusFilterStreamSql: String =
    s"""SELECT reason, count(*) AS n_docs
       |FROM (${graft.pipeline.TextOps.corpusFilterSql})
       |GROUP BY reason ORDER BY reason""".stripMargin

  /** D10 `stream_incremental_dedup`: the streaming ADMISSION GATE — the
    * continuous form of C30 (`dedup_incremental`). Incoming documents
    * arrive as a file stream; each micro-batch LEFT-ANTI joins the
    * static content-hash set of the already-ingested corpus, so known
    * content never enters the pipeline (at 100 TB the seen-set is a
    * compact hash table re-broadcast per batch, or a bloom filter in
    * front of a keyed join). The stream stays stateless — within-batch
    * duplicate collapse (first doc_id per hash) runs deterministically
    * on the drained output, where a batch `min(struct(doc_id, source))`
    * is exact. Output: per-source admitted counts, oracled against the
    * same split computed wholly in SQL.
    */
  def incrementalDedupStream(s: SparkSession, d: String): DataFrame = {
    val dir = stageStreamDir(s"$d/documents.parquet", "incdocs")
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val seen = graft.Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
      .select(md5(col("text").cast("binary")).as("content_hash")).distinct()
    val admitted = s.readStream.schema(schema).parquet(dir)
      .filter(col("doc_id") % 3 =!= 0) // the incoming crawl
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .join(seen, Seq("content_hash"), "left_anti")
      .select(col("content_hash"), col("doc_id"), col("source"))
    val name = s"graft_stream_incdedup_${math.abs(d.hashCode)}"
    val q = admitted.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
      .groupBy(col("content_hash"))
      .agg(min(struct(col("doc_id"), col("source"))).as("first"))
      .select(col("first.source").as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_admitted"))
      .orderBy(col("source"))
  }

  val incrementalDedupStreamSql: String =
    """WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0),
      |inc AS (SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
      |adm AS (SELECT h, min(doc_id) AS doc_id FROM inc
      |        WHERE h NOT IN (SELECT h FROM seen) GROUP BY h)
      |SELECT i.source, count(*) AS n_admitted
      |FROM adm a JOIN inc i ON i.doc_id = a.doc_id
      |GROUP BY i.source ORDER BY i.source""".stripMargin

  /** D5 `stream_static_join`: stream-static enrichment join — each
    * micro-batch joins against a (broadcast) dimension snapshot with no
    * streaming state at all, the canonical dimension-enrichment shape.
    * Spark re-plans the static side per batch; at scale the dim is
    * broadcast so the stream never shuffles.
    */
  def staticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"))
    val joined = eventsStream(s, d)
      .withColumn("nk", pmod(col("user_id"), lit(25L)).cast("int"))
      .join(broadcast(dim), col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    drain(joined, s, s"graft_stream_sjoin_${math.abs(d.hashCode)}")
      .orderBy(col("n_name"))
  }

  val staticJoinSql: String =
    """SELECT n_name, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events JOIN nation ON user_id % 25 = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** D6 `stream_lake_source`: a graft TABLE as the streaming source —
    * snapshot ids are the offsets, each batch reads exactly the files
    * added since the last consumed snapshot ([[GraftSource]]). Here a
    * two-snapshot table is drained through the source and aggregated;
    * the oracle is the plain batch aggregate over the same rows.
    */
  def lakeSource(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTable
    val root = s"/root/repo/target/lakework/streamsrc-${math.abs(d.hashCode)}"
    val ev = eventsBatch(s, d).select(col("event_id"), col("event_type"), col("value"))
    val t = GraftTable.create(s, root, ev.filter(col("event_id") % 2 === 0))
    t.append(ev.filter(col("event_id") % 2 =!= 0))
    val src = s.readStream.format("graft.streaming.GraftSourceProvider")
      .option("path", root).load()
    val agg = src.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    drain(agg, s, s"graft_stream_src_${math.abs(d.hashCode)}")
      .orderBy(col("event_type"))
  }

  /** Batch twin of [[eventsStream]] (same nanos handling). */
  private def eventsBatch(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)

  val lakeSourceSql: String = lakeSinkSql

  /** D7 `stream_lake_e2e`: the full incremental pipeline — table A
    * streams through [[GraftSource]] (snapshot-id offsets), each
    * micro-batch is transformed and landed in table B via the
    * idempotent tagged [[graft.lake.GraftTable.appendBatch]]. Source
    * offsets checkpoint per batch and the sink dedupes replayed batch
    * ids, so the chain is exactly-once END TO END: A's rows appear in
    * B exactly once regardless of restarts. The oracle aggregates B's
    * expected content straight from the raw events.
    */
  def lakeE2e(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTable
    val h = math.abs(d.hashCode)
    val srcRoot = s"/root/repo/target/lakework/e2esrc-$h"
    val dstRoot = s"/root/repo/target/lakework/e2edst-$h"
    val ev = eventsBatch(s, d).select(col("event_id"), col("event_type"), col("value"))
    val a = GraftTable.create(s, srcRoot, ev.filter(col("event_id") % 3 === 0))
    a.append(ev.filter(col("event_id") % 3 =!= 0))
    val b = GraftTable.createEmpty(s, dstRoot,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value2", org.apache.spark.sql.types.DoubleType))),
      Seq.empty, Seq.empty)
    val q = s.readStream.format("graft.streaming.GraftSourceProvider")
      .option("path", srcRoot).load()
      .select(col("event_type"), (col("value") * 2).as("value2"))
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        b.appendBatch(batch, s"e2e-batch-$id"); () }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    b.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value2")), 2).as("total_v2"))
      .orderBy(col("event_type"))
  }

  val lakeE2eSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value * 2), 2) AS total_v2
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** D11 `stream_changelog`: the table's change-data feed, streamed.
    * A merge-on-read table takes an append, a point DELETE and an
    * UPDATE; `readChangeFeed=true` streams every row-level change as
    * `insert`/`delete` rows (an update is its delete+insert pair), and
    * the accumulated feed is aggregated per (change type, event type).
    * The oracle reconstructs the exact same multiset of changes from
    * the raw events: every row is inserted once, `id%7=0` rows are
    * deleted, surviving `id%11=0` rows are updated (pre-image delete +
    * doubled post-image insert).
    */
  def changelogStream(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTable
    val h = math.abs(d.hashCode)
    val root = s"/root/repo/target/lakework/cdcfeed-$h"
    val ckpt = s"/root/repo/target/lakework/cdcfeed-ckpt-$h"
    val feed = s"/root/repo/target/lakework/cdcfeed-out-$h"
    for (p <- Seq(root, ckpt, feed))
      graft.lake.MetaIO.deleteDir(p, s.sparkContext.hadoopConfiguration)
    val ev = eventsBatch(s, d).select(col("event_id"), col("event_type"), col("value"))
    val t = GraftTable.create(s, root, ev.filter(col("event_id") % 2 === 0))
    t.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    t.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    val changeType = GraftTable.changeTypeCol(t.schema.fieldNames.toSeq)
    // each micro-batch lands as a distributed parquet append — the feed
    // never passes through the driver (at 100 TB the change feed is
    // itself big data; collect() here would be the scale bug)
    def drainOnce(): Unit = {
      val q = s.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select(col(changeType), col("event_type"), col("value"))
            .write.mode("append").parquet(feed); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()                                    // initial load: inserts
    t.append(ev.filter(col("event_id") % 2 =!= 0)) // the other half arrives
    drainOnce()
    t.delete(col("event_id") % 7 === 0)            // MOR point deletes
    t.update(col("event_id") % 11 === 0,           // MOR update (delete+insert)
      Map("value" -> (col("value") * 2)))
    // two commits pending: the v1 AvailableNow wrapper may batch-split,
    // so drain again ONLY if the checkpoint's last offset shows the
    // first drain stopped short — the unconditional second drain paid
    // a whole empty query start per run (r13 verdict item 9 / r14)
    drainOnce()
    if (!drainedThrough(s, ckpt, t.currentId)) drainOnce()
    s.read.parquet(feed)
      .withColumnRenamed(changeType, "change_type")
      .groupBy(col("change_type"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("change_type"), col("event_type"))
  }

  val changelogStreamSql: String =
    """WITH ev AS (SELECT event_id, event_type, value FROM events),
      |upd AS (SELECT * FROM ev WHERE event_id % 11 = 0 AND event_id % 7 <> 0),
      |changes AS (
      |  SELECT 'insert' AS change_type, event_type, value FROM ev
      |  UNION ALL
      |  SELECT 'delete', event_type, value FROM ev WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT 'delete', event_type, value FROM upd
      |  UNION ALL
      |  SELECT 'insert', event_type, value * 2 FROM upd)
      |SELECT change_type, event_type, count(*) AS n,
      |       round(sum(value), 2) AS total_value
      |FROM changes GROUP BY change_type, event_type
      |ORDER BY change_type, event_type""".stripMargin

  /** D14 `stream_stream_join`: watermarked STREAM-STREAM inner join —
    * click→purchase attribution. Two live streams over the same event
    * feed (clicks, purchases) join on user with the time-range
    * condition `purchase.ts ∈ [click.ts, click.ts + 30 min]`; both
    * sides carry a watermark, so buffered join state is evicted the
    * moment the range condition can no longer match (click state is
    * droppable once the watermark passes click.ts + 30 min) — state is
    * bounded by the attribution window, never the stream length.
    * Matched pairs emit eagerly in append mode; the drained pair
    * stream is then rolled up per purchase-hour. State partitions on
    * user_id, so the join scales horizontally with no skewed global
    * state.
    *
    * STATE BUDGET (rate-proportional, inherent to the operator): peak
    * buffered rows ≈ ingest rate × (watermark horizon + join window +
    * trigger span) — the watermark only advances BETWEEN micro-batches,
    * so unbounded admission (one AvailableNow mega-batch) buffers the
    * whole backlog before anything evicts. The guard is time-ordered,
    * trigger-bounded admission (`maxFilesPerTrigger` /
    * `maxRowsPerTrigger` / `maxOffsetsPerTrigger` on the source):
    * StreamingSpec D14c pins the budget formula at 1× and 10× rate
    * (throttled peak 49/168 rows vs 412/4120 buffer-everything).
    */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    // State-partition sizing (SCOPED set/restore — the conf is read at
    // query START, and the one streaming query this function starts
    // lives inside the try; the batch rollup after the finally reads
    // the drained sink and is partition-count-insensitive): a
    // stream-stream join keeps FOUR state stores per
    // partition (keyToNumValues + keyWithIndex per side), so per-batch
    // cost is dominated by store-commit overhead × partitions until the
    // per-partition state is large. Size partitions to the stream
    // volume — 8 for the bounded replay (measured 9.6 s → 3.9 s at
    // sf0.1); a production deployment raises it with volume, this is
    // the same shuffle-partition dial every keyed stateful op has.
    // The no-data eviction micro-batch is skipped: an INNER join emits
    // each pair in the batch where the match arrives, so the trailing
    // batch only evicts state and can't change the answer (an outer
    // join — D14b — must keep it: null-padding emits on eviction).
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    val name = s"graft_stream_ssjoin_${math.abs(d.hashCode)}"
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
        .withWatermark("p_ts", "1 hour")
      val pairs = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      val q = pairs.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    s.table(name)
      .groupBy(date_format(col("p_ts"), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("p_value")), 2).as("purchase_value"))
      .orderBy(col("hour"))
  }

  val streamStreamJoinSql: String =
    """SELECT strftime(date_trunc('hour', p.ts), '%Y-%m-%d %H') AS hour,
      |  count(*) AS n_pairs, round(sum(p.value), 2) AS purchase_value
      |FROM events c JOIN events p
      |  ON c.event_type = 'click' AND p.event_type = 'purchase'
      | AND c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |GROUP BY 1 ORDER BY hour""".stripMargin

  /** D16 `stream_cdc_apply`: CDC REPLICATION — table A's change feed
    * streamed and APPLIED into replica table B, the cross-table
    * replication shape (Delta CDF → MERGE, Iceberg CDC apply). Each
    * micro-batch splits into deletes and inserts; deletes drop the
    * keys from B, inserts upsert by key via keyed MERGE (so a replayed
    * batch converges instead of duplicating — the apply is
    * idempotent). After a create / append / MOR point-delete / MOR
    * update script on A, B must equal A row-for-row; the oracle
    * recomputes A's final state from the raw events. Everything is
    * keyed DML on B: cost per batch is O(changes), never O(|B|).
    */
  def cdcApply(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTable
    val h = math.abs(d.hashCode)
    val srcRoot = s"/root/repo/target/lakework/cdcapply-src-$h"
    val dstRoot = s"/root/repo/target/lakework/cdcapply-dst-$h"
    val ckpt = s"/root/repo/target/lakework/cdcapply-ckpt-$h"
    for (p <- Seq(srcRoot, dstRoot, ckpt))
      graft.lake.MetaIO.deleteDir(p, s.sparkContext.hadoopConfiguration)
    val ev = eventsBatch(s, d).select(col("event_id"), col("event_type"), col("value"))
    val a = GraftTable.create(s, srcRoot, ev.filter(col("event_id") % 2 === 0))
    a.setProperty(GraftTable.DeleteModeProp, "merge-on-read")
    a.setProperty(GraftTable.UpdateModeProp, "merge-on-read")
    val b = GraftTable.createEmpty(s, dstRoot, a.schema, Seq.empty, Seq.empty)
    // the replica applies changes as keyed EQUALITY MOR: each batch
    // writes the key set + post-images with ZERO target scan, so the
    // per-batch cost is truly O(changes) — a COW replica would rewrite
    // target files on every micro-batch (write amplification that
    // compounds forever on a 100 TB replica; compaction folds the
    // accumulated deletes back on the operator's schedule instead)
    b.setProperty(GraftTable.MergeModeProp, "merge-on-read")
    b.setProperty(GraftTable.MergeDeleteKindProp, "equality")
    val changeType = GraftTable.changeTypeCol(a.schema.fieldNames.toSeq)
    def applyOnce(): Unit = {
      val q = s.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", srcRoot).option("readChangeFeed", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val cached = batch.cache()
          try {
            // ONE pass classifies the batch (r13 optimization — was two
            // isEmpty probe jobs); deletes first (an in-batch update is
            // its delete+insert pair), both as KEYED distributed DML —
            // no change row ever passes through the driver, only the
            // two counters
            val kinds = cached.groupBy(col(changeType)).count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            if (kinds.getOrElse("delete", 0L) > 0L)
              b.mergeDelete(cached.filter(col(changeType) === "delete")
                .select(col("event_id")), Seq("event_id"))
            if (kinds.getOrElse("insert", 0L) > 0L)
              b.merge(cached.filter(col(changeType) === "insert")
                .drop(changeType), Seq("event_id"))
            ()
          } finally { cached.unpersist(); () }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    applyOnce()                                    // initial load replicates
    a.append(ev.filter(col("event_id") % 2 =!= 0)) // late half arrives
    a.delete(col("event_id") % 7 === 0)            // MOR point deletes
    a.update(col("event_id") % 11 === 0,           // MOR update
      Map("value" -> (col("value") * 2)))
    applyOnce() // AvailableNow drains every pending commit in one run
                // (multi-batch if admission splits); the drift check
                // below would catch an under-drain
    // fold the accumulated equality deletes back into data files —
    // the compaction step a replica runs on a schedule so reads stop
    // paying the per-delete-file sequencing join
    b.applyDeletes()
    // row-for-row replication check (stronger than the aggregate
    // oracle): the replica must equal the source as a multiset —
    // computed as ONE signed-multiplicity aggregation (±1 weights,
    // groupBy the full row, any nonzero sum = divergence) instead of
    // two exceptAll passes: half the shuffled bytes and one job
    // instead of two over what at 100 TB is the full replica
    // (r13 optimization). The replica side stays cached for the final
    // rollup.
    val bC = b.read().cache()
    try {
      require(graft.Checks.multisetDriftCount(a.read(), bC) == 0L,
        "replica diverged from source")
      bC.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
        .localCheckpoint(eager = true) // materialize before unpersist
    } finally { bC.unpersist(); () }
  }

  /** Oracle: A's final state from the raw events — `id%7=0` deleted,
    * surviving `id%11=0` doubled.
    */
  val cdcApplySql: String =
    """SELECT event_type, count(*) AS n,
      |  round(sum(CASE WHEN event_id % 11 = 0 THEN value * 2 ELSE value END), 2) AS total_value
      |FROM events WHERE event_id % 7 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** D9 `stream_snapshot_cap`: source ADMISSION CONTROL — a three-
    * snapshot backlog consumed under `maxSnapshotsPerTrigger=1` must
    * arrive as exactly one snapshot's rows per drain (AvailableNow
    * pins its target at the first getOffset, so each drain advances
    * one capped batch; the checkpoint carries progress across drains
    * like a restart would). The per-batch row counts are data-derived
    * from the id-thirds split, so the whole admission schedule is
    * DuckDB-oracled.
    */
  def snapshotCapStream(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTable
    val h = math.abs(d.hashCode)
    val root = s"/root/repo/target/lakework/snapcap-$h"
    val ckpt = s"/root/repo/target/lakework/snapcap-ckpt-$h"
    graft.lake.MetaIO.deleteDir(ckpt, s.sparkContext.hadoopConfiguration)
    val ev = eventsBatch(s, d).select(col("event_id"), col("event_type"), col("value"))
    val t = GraftTable.create(s, root, ev.filter(col("event_id") % 3 === 0))
    t.append(ev.filter(col("event_id") % 3 === 1))
    t.append(ev.filter(col("event_id") % 3 === 2))
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    def drainOnce(): Unit = {
      val q = s.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("maxSnapshotsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val n = b.count(); if (n > 0) counts += n; () }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce(); drainOnce(); drainOnce()
    require(counts.size == 3,
      s"3 capped drains must deliver exactly 3 snapshot batches, got $counts")
    import s.implicits._
    counts.toSeq.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("batch_no", "n_rows").orderBy(col("batch_no"))
  }

  val snapshotCapStreamSql: String =
    """SELECT 0 AS batch_no, count(*) AS n_rows FROM events WHERE event_id % 3 = 0
      |UNION ALL
      |SELECT 1, count(*) FROM events WHERE event_id % 3 = 1
      |UNION ALL
      |SELECT 2, count(*) FROM events WHERE event_id % 3 = 2
      |ORDER BY batch_no""".stripMargin

  /** D11 `stream_file_cap`: FILE-granular admission — one 6-file
    * backfill snapshot behind a 1-file seed, consumed under
    * `maxFilesPerTrigger=2`, must split into ceil(7/2) = 4 bounded
    * micro-batches (sub-snapshot path-cut offsets), with every row
    * delivered exactly once across the splits. Batch count and
    * exactly-once are asserted; the admitted total is data-derived.
    */
  def fileCapStream(s: SparkSession, d: String): DataFrame = {
    import graft.lake.GraftTable
    val h = math.abs(d.hashCode)
    val root = s"/root/repo/target/lakework/filecap-$h"
    val ckpt = s"/root/repo/target/lakework/filecap-ckpt-$h"
    val sink = s"/root/repo/target/lakework/filecap-out-$h"
    for (p <- Seq(ckpt, sink))
      graft.lake.MetaIO.deleteDir(p, s.sparkContext.hadoopConfiguration)
    val ev = eventsBatch(s, d).select(col("event_id"), col("event_type"), col("value"))
    val t = GraftTable.create(s, root, ev.filter(col("event_id") % 5 === 0).repartition(1))
    t.append(ev.filter(col("event_id") % 5 =!= 0).repartition(6))
    require(t.current.files.count(_.addedBy == 2L) == 6, "backfill must be 6 files")
    var batches = 0
    def drainOnce(): Long = {
      var admitted = 0L
      val q = s.readStream.format("graft.streaming.GraftSourceProvider")
        .option("path", root).option("maxFilesPerTrigger", "2").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val n = b.count()
          if (n > 0) { batches += 1; admitted = n
            b.write.mode("append").parquet(sink) }
          () }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); admitted
    }
    // drain until the checkpoint's offset catches the table head — the
    // r13 loop spun one extra EMPTY query start just to observe the 0
    // (r14: the drained-offset check replaces the terminating drain)
    var spins = 0
    while (!drainedThrough(s, ckpt, t.currentId) && spins < 10) {
      drainOnce(); spins += 1
    }
    require(batches == 4, s"7 files / cap 2 must split into 4 batches, got $batches")
    val out = s.read.parquet(sink)
    // one job for both counters (was two — r13 optimization)
    val oStats = out.agg(count(lit(1)), countDistinct(col("event_id"))).head()
    require(oStats.getLong(1) == oStats.getLong(0),
      "every row must be delivered exactly once across the splits")
    out.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  val fileCapStreamSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** D15 `stream_tws`: `transformWithState` (Spark 4's arbitrary-
    * stateful successor to flatMapGroupsWithState) running a per-user
    * (count, sum) aggregate in typed ValueState over the RocksDB
    * store, Update-mode emissions — the LAST update per key is the
    * running total over everything, which must equal the plain batch
    * aggregate (the DuckDB oracle).
    */
  def twsStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = s"graft_stream_tws_${math.abs(d.hashCode)}"
    try {
      import s.implicits._
      val src = eventsStream(s, d)
        .select(col("user_id").as("_1"), col("value").as("_2")).as[(Long, Double)]
      val out = src.groupByKey(_._1)
        .transformWithState(new StreamOps.RunningAgg, TimeMode.None(), OutputMode.Update())
      val q = out.toDF("user_id", "n", "total").writeStream.format("memory")
        .queryName(name).outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
    }
    s.table(name)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n"), col("total")), col("n")).as("last"))
      .select(col("user_id"), col("last.n").as("n"),
        round(col("last.total"), 2).as("total"))
      .orderBy(col("user_id"))
  }

  val twsStreamSql: String =
    """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** D14b `stream_stream_outer`: watermarked stream-stream LEFT OUTER
    * join — the inner attribution join of D14 plus null-padded rows
    * for clicks that provably can never match (emitted only once the
    * watermark passes the click's join-window upper bound, which is
    * why the no-data micro-batch stays ENABLED here — eviction is
    * what produces the outer rows). Clicks are pre-filtered to those
    * whose window closes safely below the final watermark, so the
    * drained result equals the batch LEFT JOIN under the same cutoff
    * — expressed identically in the DuckDB oracle.
    */
  def streamStreamOuter(s: SparkSession, d: String): DataFrame = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val name = s"graft_stream_ssouter_${math.abs(d.hashCode)}"
    // the provable-eviction cutoff: final watermark = min side max - 1h;
    // a click needs watermark > c_ts + 30min to null-pad, margin 5 min
    val ev = eventsBatch(s, d)
    val cutoff = ev.groupBy(col("event_type")).agg(max(col("ts")).as("mx"))
      .filter(col("event_type").isin("click", "purchase"))
      .agg(min(col("mx"))).head().getTimestamp(0).getTime -
      (60L + 35L) * 60L * 1000L
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      // the watermark must be assigned BEFORE the cutoff filter: it
      // advances from the max event time flowing through the watermark
      // node, and eviction (which emits the null-padded rows) needs the
      // full click stream's max — filtering first would freeze the
      // click watermark at cutoff - 1h and starve the outer emissions
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
        .filter(col("c_ts") <= timestamp_millis(lit(cutoff)))
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("value").as("p_value"))
        .withWatermark("p_ts", "1 hour")
      val pairs = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      val q = pairs.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
      .groupBy(date_format(col("c_ts"), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n_rows"), count(col("p_ts")).as("n_matched"),
        round(sum(coalesce(col("p_value"), lit(0.0))), 2).as("purchase_value"))
      .orderBy(col("hour"))
  }

  val streamStreamOuterSql: String =
    """WITH cut AS (
      |  SELECT min(mx) - INTERVAL 95 MINUTE AS cutoff FROM (
      |    SELECT event_type, max(ts) AS mx FROM events
      |    WHERE event_type IN ('click', 'purchase') GROUP BY event_type)),
      |c AS (SELECT user_id, ts AS c_ts FROM events
      |      WHERE event_type = 'click' AND ts <= (SELECT cutoff FROM cut)),
      |p AS (SELECT user_id, ts AS p_ts, value FROM events
      |      WHERE event_type = 'purchase')
      |SELECT strftime(date_trunc('hour', c.c_ts), '%Y-%m-%d %H') AS hour,
      |  count(*) AS n_rows, count(p.p_ts) AS n_matched,
      |  round(sum(coalesce(p.value, 0)), 2) AS purchase_value
      |FROM c LEFT JOIN p
      |  ON c.user_id = p.user_id
      | AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
      |GROUP BY 1 ORDER BY hour""".stripMargin

  /** D20 `stream_drift_monitor`: the C64 embedding-drift monitor as a
    * CONTINUOUS streaming aggregation — the ML-observability loop that
    * watches a feature/embedding stream for distribution shift while
    * it ingests. Vectors arrive as a file stream; the per-(label, dim)
    * integer-quantized component sums run as an incremental streaming
    * aggregation in complete mode (state = |labels|×dim rows — bounded
    * and tiny regardless of stream volume, exactly like D1's windowed
    * counts), and the per-label centroid-vs-global cosine is derived
    * from the drained state table. Integer sums make the monitor
    * batch-equivalent bit-for-bit (C64's argument), so the oracle IS
    * the batch op's oracle; the global centroid folds from the
    * per-label state (Σ_label sl = global sum — exact, no second pass
    * over the stream).
    */
  def driftMonitorStream(s: SparkSession, d: String): DataFrame = {
    val dir = stageStreamDir(s"$d/embeddings.parquet", "driftembs")
    val schema = s.read.parquet(s"$d/embeddings.parquet").schema
    val comp = s.readStream.schema(schema).parquet(dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .withColumn("q", round(col("v").cast("double") * lit(1000000.0), 0).cast("long"))
    val state = comp.groupBy(col("label"), col("idx"))
      .agg(sum(col("q")).as("sl"), count(lit(1)).as("nl"))
    val name = s"graft_stream_drift_${math.abs(d.hashCode)}"
    val q = state.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // global component sums fold from the state table itself via a
    // window (Σ_label sl per dim) — a self-join of the memory view
    // would conflict on attribute ids, and the state is |labels|×dim
    // rows so the window is trivially small
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("idx"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    s.table(name)
      .withColumn("sg", sum(col("sl")).over(w))
      .groupBy(col("label"))
      .agg(first(col("nl")).as("n_vecs"),
        sum(dec(col("sl")) * dec(col("sg"))).as("dot_lg"),
        sum(dec(col("sl")) * dec(col("sl"))).as("dot_ll"),
        sum(dec(col("sg")) * dec(col("sg"))).as("dot_gg"))
      .select(col("label"), col("n_vecs"),
        round(col("dot_lg").cast("double") /
          (sqrt(col("dot_ll").cast("double")) * sqrt(col("dot_gg").cast("double"))), 6)
          .as("cos_to_global"))
      .orderBy(col("label"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_drift_monitor" -> (driftMonitorStream _),
    "stream_snapshot_cap" -> (snapshotCapStream _),
    "stream_file_cap"     -> (fileCapStream _),
    "stream_tws"          -> (twsStream _),
    "stream_stream_outer" -> (streamStreamOuter _),
    "stream_cdc_apply"   -> (cdcApply _),
    "stream_stream_join" -> (streamStreamJoin _),
    "stream_window_agg"  -> (windowAgg _),
    "stream_topk"        -> (topkStream _),
    "stream_matview"     -> (matviewStream _),
    "stream_sessionize"  -> (sessionize _),
    "stream_lake_sink"   -> (lakeSink _),
    "stream_txn_sink"    -> (txnSink _),
    "stream_check_gate"  -> (checkGate _),
    "stream_dedup"       -> (dedupStream _),
    "stream_corpus_filter" -> (corpusFilterStream _),
    "stream_static_join" -> (staticJoin _),
    "stream_lake_source" -> (lakeSource _),
    "stream_lake_e2e"    -> (lakeE2e _),
    "stream_changelog"   -> (changelogStream _),
    "stream_incremental_dedup" -> (incrementalDedupStream _),
    "stream_neardup_gate" -> (graft.pipeline.Dedup.streamNearDupGate _),
    "stream_ann_sync"     -> (graft.pipeline.AnnIndex.streamAnnSync _))

  val oracles: Map[String, String] = Map(
    "stream_drift_monitor" -> graft.pipeline.VectorOps.embeddingDriftSql,
    "stream_snapshot_cap" -> snapshotCapStreamSql,
    "stream_file_cap"     -> fileCapStreamSql,
    "stream_tws"          -> twsStreamSql,
    "stream_stream_outer" -> streamStreamOuterSql,
    "stream_cdc_apply"   -> cdcApplySql,
    "stream_stream_join" -> streamStreamJoinSql,
    "stream_window_agg"  -> windowAggSql,
    "stream_topk"        -> topkStreamSql,
    "stream_matview"     -> matviewStreamSql,
    "stream_sessionize"  -> sessionizeSql,
    "stream_lake_sink"   -> lakeSinkSql,
    "stream_txn_sink"    -> txnSinkSql,
    "stream_check_gate"  -> checkGateSql,
    "stream_dedup"       -> dedupStreamSql,
    "stream_corpus_filter" -> corpusFilterStreamSql,
    "stream_static_join" -> staticJoinSql,
    "stream_lake_source" -> lakeSourceSql,
    "stream_lake_e2e"    -> lakeE2eSql,
    "stream_changelog"   -> changelogStreamSql,
    "stream_incremental_dedup" -> incrementalDedupStreamSql,
    "stream_neardup_gate" -> graft.pipeline.Dedup.streamNearDupGateSql,
    "stream_ann_sync"     -> graft.pipeline.AnnIndex.streamAnnSyncSql)

  /** D15's StatefulProcessor: a running per-key (count, sum) held in
    * typed ValueState — defined at member level so the task closure
    * serializes without dragging the enclosing scope along.
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
}
