package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Intra-query materialization helpers (r14 optimization round).
  *
  * r13 materialized multi-consumer intermediates with eager
  * `localCheckpoint(true)`. For FACT-SIZED intermediates (exploded
  * token/shingle streams, fact-join legs) that trades away fault
  * tolerance: localCheckpoint blocks live only on executors with
  * lineage TRUNCATED, so one lost executor (or dynamic-allocation
  * decommission) fails a multi-hour job instead of recomputing
  * (guide §5; r13 verdict item 3). `persist(MEMORY_AND_DISK)` gives
  * the same one-computation reuse while KEEPING lineage — a lost
  * block recomputes from the parquet inputs — and spills to disk
  * instead of evicting under pressure.
  *
  * LAZY by design: every converted call site's consumers run inside
  * one action (or populate on the first of two), so the first
  * consuming stage materializes the cache and later legs read it —
  * the eager materialization job localCheckpoint(true) paid per site
  * is gone. BlockManager block-level locking guarantees each cached
  * partition is computed exactly once even when two plan legs race.
  *
  * Lifecycle: cache entries are keyed on the logical plan, and a
  * previous invocation of the same builder produces a byte-identical
  * plan — its entry must never serve this invocation (every bench
  * iteration recomputes from the parquet inputs), so both helpers
  * DROP any same-plan entry before persisting anew — and its queued
  * release with it, since a release unpersists by plan equality and
  * would otherwise drop the newer cache when evicted. Additionally,
  * every frame is registered here and released by [[beginEntry]] when
  * the NEXT driver entry starts: finished entries' caches are dead
  * weight that grow storage without bound over a multi-hundred-entry
  * run, and every later query plan (including every streaming
  * micro-batch) pays CacheManager plan-matching against them —
  * measured this round as a bench-wide inflation growing through the
  * run (late untouched entries up to 5× slower before the release was
  * added).
  *
  * Dimension-sized intermediates inside iterative loops (unrolled GD
  * weights, label-propagation rounds) keep `localCheckpoint(true)`,
  * where plan-lineage TRUNCATION is itself the point and the lost
  * state is KBs rebuilt in one cheap job.
  */
object Mat {

  /** Upper bound on live Mat-persisted frames OUTSIDE the entry
    * lifecycle (specs calling operators directly): beyond it the
    * oldest frame is unpersisted. Entry runs never get near it — an
    * entry registers 1–3 frames and [[beginEntry]] clears them all
    * when the next entry starts.
    */
  val MaxLive = 8

  /** Queued releases, oldest first, each with the SQL-cached frame it
    * unpersists ([[factRows]] releases free an RDD and carry none).
    */
  private val live = new java.util.ArrayDeque[(Option[DataFrame], () => Unit)]()

  private def register(frame: Option[DataFrame], release: () => Unit): Unit = synchronized {
    live.addLast((frame, release))
    while (live.size > MaxLive) live.pollFirst()._2.apply()
  }

  /** Release every Mat-persisted frame of the PREVIOUS entry — called
    * by the [[SparkEntry.queries]] wrapper at entry start, inside the
    * entry's own timed invocation.
    */
  def beginEntry(): Unit = synchronized {
    while (!live.isEmpty) live.pollFirst()._2.apply()
  }

  /** Share a FACT-SIZED intermediate across plan legs: lazy
    * persist(MEMORY_AND_DISK) with same-plan-entry eviction and
    * lifecycle registration. The subtree executes once (first
    * consumer materializes), downstream legs read InMemoryRelation,
    * lineage survives for fault tolerance.
    */
  def fact(df: DataFrame): DataFrame = synchronized {
    df.unpersist(blocking = false)
    // Dataset.unpersist releases by plan equality: a queued release of
    // the entry just dropped would, once evicted, unpersist THIS cache
    live.removeIf(_._1.exists(_.sameSemantics(df)))
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    register(Some(p), () => { p.unpersist(blocking = false); () })
    p
  }

  /** Same mechanics for SMALL derived tables (over-cap key sets,
    * candidate pair sets) read by several legs of one action.
    */
  def smallLazy(df: DataFrame): DataFrame = fact(df)

  /** [[fact]] for ARRAY-heavy frames (token lists, embeddings): the
    * SQL columnar cache re-encodes/decodes complex columns on every
    * write/read — measured 4× the task time on the hybrid-RRF corpus
    * leg — so these persist at the RDD level (deserialized InternalRow
    * blocks, LINEAGE KEPT, spill-to-disk) and re-enter the plan as a
    * LogicalRDD that preserves the subtree's output partitioning, the
    * `localCheckpoint` read path without its lineage truncation (see
    * [[org.apache.spark.sql.graft.MatShim]]). Eager by construction
    * (building the view materializes the RDD's stage structure).
    */
  def factRows(df: DataFrame): DataFrame = {
    val (out, release) =
      org.apache.spark.sql.graft.MatShim.persistedView(
        df, StorageLevel.MEMORY_AND_DISK)
    register(None, release)
    out
  }
}
