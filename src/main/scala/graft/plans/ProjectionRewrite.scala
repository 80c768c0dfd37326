package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, Cast, Divide, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average,
  AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.types.DoubleType

import graft.sink.{MaterializedView, TxFileIndex}
import graft.sink.MaterializedView.{AvgState, CountState, MaxState,
  MinState, MvDef, SumState}

/** ClickHouse PROJECTION semantics on the tx table: a registered
  * materialized view is an alternate, pre-aggregated layout of its base
  * table, and queries written AGAINST THE BASE are routed to it
  * automatically when it can answer them — the user never rewrites a
  * dashboard (ClickHouse: `ALTER TABLE ... ADD PROJECTION` + implicit
  * selection at query time; Spark shape: an optimizer
  * `Rule[LogicalPlan]` swapping the scan, the same pattern Spark's own
  * V2 aggregate pushdown uses).
  *
  * A rewrite fires only when ALL of:
  *  - the plan is `Aggregate [→ Project(attrs) / Filter] → scan(base)`
  *    where the scan is a [[TxFileIndex]] relation of a registered base;
  *  - every grouping expression is a bare column contained in the MV's
  *    group keys (coarser groupings re-merge the partials — that is
  *    what mergeable states are for);
  *  - every filter predicate references group-key columns only (it then
  *    applies verbatim to the MV rows — filtering on a pre-aggregation
  *    column would change semantics);
  *  - every aggregate is `sum/min/max/avg/count(*)` over a column the
  *    MV carries the matching state for (no DISTINCT, no FILTER);
  *  - the MV is CURRENT: it covers every data-adding base commit
  *    ([[MaterializedView.isCurrent]]). A lagging MV silently degrades
  *    to the base scan — never to a stale answer. The check is two
  *    commit-log metadata reads at planning time.
  *
  * The rewritten aggregate re-merges partial states exactly as
  * [[MaterializedView.read]] would: sum→sum, count→sum of counts,
  * min/max→min/max, avg→Σsum/Σcnt — and keeps the ORIGINAL output
  * expr-ids, so parent operators (sort, limit, projections) are
  * untouched. At 100 TB the payoff is the ClickHouse one: dashboard
  * aggregates read O(|groups|) MV bytes instead of the fact table.
  *
  * The rewrite rule is installed by `graft.functions.GraftExtensions`
  * (every [[graft.Graft.session]] carries it).
  */
object Projections {
  final case class Reg(baseTable: String, mvTable: String, mv: MvDef)

  // canonical base-root URI -> registration
  private[plans] val regs = TrieMap.empty[String, Reg]

  private def canon(spark: SparkSession, table: String): String = {
    val p = new Path(table)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }

  /** Declare `mvTable` (maintained by [[MaterializedView.refresh]]) as
    * a projection of `baseTable`. Idempotent.
    */
  def register(spark: SparkSession, baseTable: String, mvTable: String,
      mv: MvDef): Unit =
    regs.put(canon(spark, baseTable), Reg(baseTable, mvTable, mv))

  def deregister(spark: SparkSession, baseTable: String): Unit =
    regs.remove(canon(spark, baseTable))

  def clear(): Unit = regs.clear()

  private[plans] def lookup(root: Path): Option[Reg] =
    regs.get(root.toString)
}

object ProjectionRewrite extends Rule[LogicalPlan] {
  import Projections.Reg

  /** Strip attribute-only Projects, collect Filters, land on a
    * TxFileIndex scan. Anything else → no rewrite.
    */
  private def unwrap(plan: LogicalPlan):
      Option[(Seq[Expression], TxFileIndex)] = plan match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(child)
    case Filter(cond, child) =>
      unwrap(child).map { case (fs, idx) => (cond +: fs, idx) }
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location match {
        // a time-travel scan is pinned to a historical version; the MV
        // only ever materializes the PRESENT — never rewrite it
        case idx: TxFileIndex if idx.asOfVersion.isEmpty =>
          Some((Seq.empty, idx))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** Remap `e`'s attribute references onto `out` by column name; None
    * if any referenced column is absent (or ambiguous shapes appear).
    */
  private def remap(e: Expression, out: Map[String, Attribute],
      allowed: String => Boolean): Option[Expression] = {
    var ok = true
    val r = e.transform {
      case a: AttributeReference =>
        out.get(a.name).filter(_ => allowed(a.name)) match {
          case Some(na) => na
          case None     => ok = false; a
        }
    }
    if (ok) Some(r) else None
  }

  /** The partial-state re-merge for one query aggregate, or None when
    * the MV has no matching state.
    */
  private def mergeExpr(fn: Expression, reg: Reg,
      out: Map[String, Attribute]): Option[Expression] = fn match {
    case Sum(a: AttributeReference, _) =>
      reg.mv.states.collectFirst {
        case SumState(src, name) if src == a.name =>
          Sum(out(name)).toAggregateExpression()
      }
    case Min(a: AttributeReference) =>
      reg.mv.states.collectFirst {
        case MinState(src, name) if src == a.name =>
          Min(out(name)).toAggregateExpression()
      }
    case Max(a: AttributeReference) =>
      reg.mv.states.collectFirst {
        case MaxState(src, name) if src == a.name =>
          Max(out(name)).toAggregateExpression()
      }
    case Count(Seq(Literal(1, _))) =>
      reg.mv.states.collectFirst {
        case CountState(name) =>
          Sum(out(name)).toAggregateExpression()
      }
    case Average(a: AttributeReference, _) =>
      reg.mv.states.collectFirst {
        case AvgState(src, name) if src == a.name =>
          // mirror AvgState.finish: Σsum / Σcnt, double division
          Divide(
            Cast(Sum(out(s"${name}_sum")).toAggregateExpression(),
              DoubleType),
            Cast(Sum(out(s"${name}_cnt")).toAggregateExpression(),
              DoubleType))
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(groupings, results, child, _) =>
      val rewritten = for {
        (filters, idx) <- unwrap(child)
        reg <- Projections.lookup(idx.tableRoot)
        // bare-column grouping, all inside the MV's keys
        groupNames <- Some(groupings).filter(_.forall {
          case a: AttributeReference => reg.mv.groupKeys.contains(a.name)
          case _ => false
        }).map(_.map(_.asInstanceOf[AttributeReference].name))
        spark = SparkSession.active
        // freshness LAST of the cheap checks, it reads the logs; a
        // retract-refreshed MV carrying tombstones (zero-count state
        // rows for fully-retracted groups) is also refused — a coarser
        // re-merge here could surface a phantom group the base no
        // longer has; MaterializedView.compact collapses tombstones
        // and re-enables the route
        mvPlan <-
          if (!MaterializedView.isCurrent(spark, reg.baseTable,
              reg.mvTable) ||
            graft.sink.TxTable.tableProperties(spark, reg.mvTable)
              .contains(MaterializedView.TombstoneProp))
            None
          else Some(TxFileIndex.readV2(spark, reg.mvTable)
            .queryExecution.analyzed)
        out = mvPlan.output.map(a => a.name -> a).toMap
        newFilters <- {
          val rs = filters.map(f =>
            remap(f, out, reg.mv.groupKeys.contains))
          if (rs.forall(_.isDefined)) Some(rs.map(_.get)) else None
        }
        newResults <- {
          val rs: Seq[Option[NamedExpression]] = results.map {
            case a: AttributeReference if out.contains(a.name) &&
                reg.mv.groupKeys.contains(a.name) =>
              Some(Alias(out(a.name), a.name)(exprId = a.exprId))
            case al @ Alias(
                AggregateExpression(fn, _, false, None, _), name) =>
              mergeExpr(fn, reg, out).map(e =>
                Alias(e, name)(exprId = al.exprId))
            case _ => None
          }
          if (rs.forall(_.isDefined)) Some(rs.map(_.get)) else None
        }
      } yield {
        val scan = newFilters.foldLeft(mvPlan)((p, f) => Filter(f, p))
        Aggregate(groupNames.map(out(_)), newResults, scan)
      }
      rewritten.getOrElse(agg)
  }
}
