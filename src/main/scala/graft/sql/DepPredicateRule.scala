package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.GraftFileIndex
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.lake.Pruning

/** Optimizer rule: for filters over graft-table scans, *add* partition
  * predicates on dependency destination columns inferred from source
  * column predicates (reference:
  * utils/ColumnDependenciesExprVisitor.scala — `ss_sold_date_sk =
  * '0906245'` gains `ss_sold_month = '09'`). Spark's native
  * partition-aware file index then prunes directories, so the SQL scan
  * path gets the same file skipping as the programmatic
  * `GraftTable.scan`. The added conjunct is implied by the dependency,
  * never changes results, and the rule is idempotent (skips when the
  * conjunct is already present).
  */
object DepPredicateRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      graftDepsFor(child) match {
        case Some((deps, srcTypes)) if deps.nonEmpty =>
          val cs = Pruning.extract(cond)
          val inferred = Pruning.inferThroughDeps(cs, deps, srcTypes)
          val destOnly = inferred.view
            .filterKeys(k => deps.exists(_.dest == k) && !cs.contains(k)).toMap
          val conjuncts = destOnly.flatMap { case (colName, c) =>
            child.output.find(_.name == colName).toSeq.flatMap(a => toExprs(a, c))
          }.toSeq
          val existing = splitConjuncts(cond)
          val fresh = conjuncts.filterNot(c => existing.exists(_.semanticEquals(c)))
          if (fresh.isEmpty) f
          else Filter(fresh.foldLeft(cond)(And(_, _)), child)
        case _ => f
      }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** The deps (+ column types, for literal-encoding-aware inference) of
    * the graft snapshot this subtree scans, if any: read off the scan's
    * own [[GraftFileIndex]], so an `AS OF` read infers through the deps
    * of the snapshot it plans, and planning reads no table metadata.
    */
  private def graftDepsFor(plan: LogicalPlan)
      : Option[(Seq[graft.lake.DepSpec], Map[String, org.apache.spark.sql.types.DataType])] =
    plan.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.isInstanceOf[GraftFileIndex] =>
        fs.location.asInstanceOf[GraftFileIndex].snapshot.deps
    }.map(deps => (deps, plan.output.map(a => a.name -> a.dataType).toMap))

  private def toExprs(attr: Attribute, c: Pruning.Constraint): Seq[Expression] = {
    def lit(v: Any): Option[Literal] = (v, attr.dataType) match {
      case (l: Long, IntegerType)   => Some(Literal(l.toInt))
      case (l: Long, LongType)      => Some(Literal(l))
      case (i: Int, IntegerType)    => Some(Literal(i))
      case (i: Int, LongType)       => Some(Literal(i.toLong))
      case (s: String, StringType)  => Some(Literal(s))
      case _                        => None
    }
    val eqs = c.eqs.toSeq.flatMap { es =>
      val lits = es.toSeq.flatMap(lit(_))
      if (lits.size != es.size) Seq.empty
      else if (lits.size == 1) Seq(EqualTo(attr, lits.head))
      else Seq(In(attr, lits.sortBy(_.toString)))
    }
    val lo = c.lo.toSeq.flatMap { case (v, inc) =>
      lit(v).map(l => if (inc) GreaterThanOrEqual(attr, l) else GreaterThan(attr, l)) }
    val hi = c.hi.toSeq.flatMap { case (v, inc) =>
      lit(v).map(l => if (inc) LessThanOrEqual(attr, l) else LessThan(attr, l)) }
    eqs ++ lo ++ hi
  }
}
