package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, Expression, JoinedRow, MutableProjection, NamedExpression, Predicate, SpecificInternalRow, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.{PhysicalAggregation, PhysicalOperation}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileSourceStrategy, HadoopFsRelation, LogicalRelation}

/** Plans a small global aggregate as a [[GraftLocalAggExec]]: folded on
  * the driver, with zero Spark jobs. Every Spark job costs tens of
  * milliseconds of fixed scheduling whatever its size, so a `count(*)`
  * that pruning has cut to a handful of files, or an aggregate over a
  * six-row metadata view, is dominated by the job machinery, not by
  * the read.
  *
  * Fires on `Aggregate` with no GROUP BY whose aggregates are all
  * [[DeclarativeAggregate]]s without DISTINCT or FILTER, over
  * projections and filters of either
  *  - a graft file scan ([[GraftFileIndex]]) whose snapshot has no
  *    pending merge-on-read deletes, that reads no `_metadata` column,
  *    and whose surviving files cost at most one split in Spark's own
  *    model: Σ(bytes + `spark.sql.files.openCostInBytes`) ≤
  *    `spark.sql.files.maxPartitionBytes`; or
  *  - a `LocalRelation` (the `$snapshots`, `$files`, `$deletes` views).
  *
  * It bails (the normal plan stands) on a streaming relation, on any
  * nondeterministic or subquery expression, and when Spark is told to
  * skip corrupt or missing files (the driver read has no such skip). At
  * 100 TB the node therefore fires only on reads that pruning already
  * cut to one split's worth of work; larger reads and grouped
  * aggregates keep the distributed plan.
  */
case class GraftLocalAggStrategy(spark: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case agg @ PhysicalAggregation(Seq(), aggs, results, child)
        if !agg.isStreaming && aggs.forall(foldable) &&
          !agg.exists(_.expressions.exists(e => !e.deterministic || SubqueryExpression.hasSubquery(e))) =>
      child match {
        case PhysicalOperation(projects, filters, lr: LocalRelation) =>
          Seq(GraftLocalAggExec(aggs, results, projects, filters.reduceOption(And),
            planLater(lr)))
        case PhysicalOperation(_, _, lr: LogicalRelation) if foldableGraftScan(lr) =>
          FileSourceStrategy(child) match {
            case Seq(p) => peel(p).filter { case (_, _, scan) => fitsOneSplit(scan) }.map {
              case (projects, cond, scan) => GraftLocalAggExec(aggs, results, projects, cond, scan)
            }.toSeq
            case _ => Nil
          }
        case _ => Nil
      }
    case _ => Nil
  }

  private def foldable(ae: AggregateExpression): Boolean =
    ae.aggregateFunction.isInstanceOf[DeclarativeAggregate] && !ae.isDistinct && ae.filter.isEmpty

  private def foldableGraftScan(lr: LogicalRelation): Boolean = lr.relation match {
    case fs: HadoopFsRelation => fs.location match {
      case gfi: GraftFileIndex =>
        val conf = spark.sessionState.conf
        gfi.snapshot.deleteFiles.isEmpty &&
          !lr.output.exists(_.name == FileFormat.METADATA_NAME) &&
          !conf.ignoreCorruptFiles && !conf.ignoreMissingFiles
      case _ => false
    }
    case _ => false
  }

  /** `FileSourceStrategy`'s plan as (projections, filter, scan); None
    * for any other shape (e.g. the `_metadata` struct projection).
    */
  private def peel(p: SparkPlan): Option[(Seq[NamedExpression], Option[Expression], FileSourceScanExec)] =
    p match {
      case ProjectExec(list, FilterExec(cond, s: FileSourceScanExec)) => Some((list, Some(cond), s))
      case ProjectExec(list, s: FileSourceScanExec)                   => Some((list, None, s))
      case FilterExec(cond, s: FileSourceScanExec)                    => Some((s.output, Some(cond), s))
      case s: FileSourceScanExec                                      => Some((s.output, None, s))
      case _                                                          => None
    }

  /** The pruned listing (cached on the scan, so execution reuses it)
    * fits one split of Spark's own file-split model.
    */
  private def fitsOneSplit(scan: FileSourceScanExec): Boolean = {
    val conf = spark.sessionState.conf
    scan.selectedPartitions.toPartitionArray
      .map(_.length + conf.filesOpenCostInBytes).sum <= conf.filesMaxPartitionBytes
  }
}

/** A global aggregate folded on the driver (see [[GraftLocalAggStrategy]]).
  * The child is the `FileSourceScanExec` (or the local table scan), kept
  * so the plan still shows the scan and its `numFiles`/`metadataTime`
  * metrics; it is never executed. `executeCollect` reads the scan's
  * pruned listing through the same reader function the scan's tasks use,
  * then filters, projects and folds the aggregate row by row with
  * Spark's codegen-with-fallback factories: O(1) driver memory, zero
  * jobs. `doExecute` hands the folded row on as a one-partition RDD.
  */
case class GraftLocalAggExec(
    aggregateExpressions: Seq[AggregateExpression],
    resultExpressions: Seq[NamedExpression],
    projectList: Seq[NamedExpression],
    condition: Option[Expression],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)

  override def outputPartitioning: Partitioning = SinglePartition

  override def producedAttributes: AttributeSet =
    AttributeSet(projectList.map(_.toAttribute) ++ aggregateExpressions.map(_.resultAttribute))

  override def executeCollect(): Array[InternalRow] = Array(fold())

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(Seq(fold()), 1)

  override protected def withNewChildInternal(newChild: SparkPlan): GraftLocalAggExec =
    copy(child = newChild)

  private def fold(): InternalRow = {
    val scan = child.collectFirst { case s: FileSourceScanExec => s }
    val inAttrs = scan.map(_.output).getOrElse(child.output)
    val keep = condition.map { c =>
      val p = Predicate.create(c, inAttrs); p.initialize(0); p
    }
    val project = UnsafeProjection.create(projectList, inAttrs)
    val fns = aggregateExpressions.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val bufAttrs = fns.flatMap(_.aggBufferAttributes)
    val buf = new SpecificInternalRow(bufAttrs.map(_.dataType))
    MutableProjection.create(fns.flatMap(_.initialValues)).target(buf)(InternalRow.empty)
    val update = MutableProjection.create(fns.flatMap(_.updateExpressions),
      bufAttrs ++ projectList.map(_.toAttribute)).target(buf)
    val joined = new JoinedRow
    val step = (r: InternalRow) => { if (keep.forall(_.eval(r))) update(joined(buf, project(r))); () }
    scan match {
      case Some(s) => readEach(s)(step)
      case None    => child.executeCollect().foreach(step)
    }
    val evaluated = UnsafeProjection.create(fns.map(_.evaluateExpression), bufAttrs)(buf)
    UnsafeProjection.create(resultExpressions, aggregateExpressions.map(_.resultAttribute))(
      evaluated).copy()
  }

  /** Every row of the scan's pruned listing, read on the driver through
    * the reader function its tasks would use; each file's reader is
    * closed even when the fold throws (an ANSI overflow, say).
    */
  private def readEach(scan: FileSourceScanExec)(step: InternalRow => Unit): Unit = {
    val files = scan.selectedPartitions.toPartitionArray
    scanMember[Unit](scan, "sendDriverMetrics")
    val rel = scan.relation
    val read = rel.fileFormat.buildReaderWithPartitionValues(
      sparkSession = rel.sparkSession,
      dataSchema = rel.dataSchema,
      partitionSchema = rel.partitionSchema,
      requiredSchema = scan.requiredSchema,
      filters = scanMember[Seq[org.apache.spark.sql.sources.Filter]](scan, "pushedDownFilters"),
      options = rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = rel.sparkSession.sessionState.newHadoopConfWithOptions(rel.options))
    files.foreach { f =>
      val rows = read(f)
      try rows.foreach(step)
      finally rows match { case c: java.io.Closeable => c.close(); case _ => () }
    }
  }

  /** A `protected` member of the scan (its pushed filters, its driver
    * metric post), called as the scan itself calls it in `inputRDD`.
    */
  private def scanMember[T](scan: FileSourceScanExec, name: String): T =
    classOf[FileSourceScanExec].getMethod(name).invoke(scan).asInstanceOf[T]
}
