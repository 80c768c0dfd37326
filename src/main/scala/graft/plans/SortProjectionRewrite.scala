package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias,
  AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

import graft.sink.{SortProjection, TxFileIndex}

/** Query-time selection for [[graft.sink.SortProjection]]s — the other
  * half of ClickHouse's sort-order projections: a filtered scan
  * written AGAINST THE BASE table is served from the projection copy
  * whenever the filter touches the projection's cluster keys, because
  * there the predicate prunes by tight per-file envelopes
  * ([[TxFileIndex.listFiles]]' log-stats skipping) instead of reading
  * the time-clustered base end to end.
  *
  * A rewrite fires only when ALL of:
  *  - the plan is `Filter → [attr-only Projects/Filters] → scan(base)`
  *    where the scan is a [[TxFileIndex]] relation of a registered
  *    base, NOT time-travelled (the projection only materializes the
  *    present);
  *  - some filter predicate references a projection cluster key — the
  *    selection heuristic: a filter on other columns prunes no better
  *    on the projection, so the base scan stands;
  *  - every base output column exists in the projection with the same
  *    type (always true for a [[SortProjection]]-maintained copy;
  *    checked anyway so a foreign table at the registered path can
  *    never be served);
  *  - the projection is CURRENT ([[SortProjection.isCurrent]] — two
  *    commit-log metadata reads at planning time). Staleness degrades
  *    to the base scan, never to a stale answer.
  *
  * The swapped-in scan is wrapped in an aliasing Project that
  * re-exposes the ORIGINAL base attribute ids, so every parent
  * operator — the filter itself, projections, aggregates, sorts —
  * binds unchanged. After the swap the relation under the filter is
  * the projection's (unregistered) root, so the rule cannot re-fire
  * on its own output.
  */
object SortProjections {
  final case class Reg(baseTable: String, projTable: String,
      keys: Seq[String])

  // canonical base-root URI -> registration
  private[plans] val regs = TrieMap.empty[String, Reg]

  private def canon(spark: SparkSession, table: String): String = {
    val p = new Path(table)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }

  /** Declare `projTable` (maintained by [[SortProjection.refresh]]) as
    * a sort-order projection of `baseTable` clustered on `keys`.
    * Idempotent; the rewrite rule comes from
    * `graft.functions.GraftExtensions`.
    */
  def register(spark: SparkSession, baseTable: String, projTable: String,
      keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "a sort projection needs at least one key")
    regs.put(canon(spark, baseTable), Reg(baseTable, projTable, keys))
  }

  def deregister(spark: SparkSession, baseTable: String): Unit =
    regs.remove(canon(spark, baseTable))

  def clear(): Unit = regs.clear()

  private[plans] def lookup(root: Path): Option[Reg] =
    regs.get(root.toString)
}

object SortProjectionRewrite extends Rule[LogicalPlan] {
  import SortProjections.Reg

  /** Walk attr-only Projects and further Filters down to a
    * present-version TxFileIndex relation; collect every filter
    * condition passed on the way (any of them touching a cluster key
    * justifies the route — they all push into the swapped scan's
    * listFiles the same way).
    */
  private def unwrap(plan: LogicalPlan)
      : Option[(Seq[Expression], LogicalRelation, TxFileIndex)] =
    plan match {
      case Project(pl, child)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child)
      case Filter(cond, child) =>
        unwrap(child).map { case (fs, rel, idx) => (cond +: fs, rel, idx) }
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case idx: TxFileIndex if idx.asOfVersion.isEmpty =>
            Some((Seq.empty, l, idx))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  private def swap(cond: Expression, child: LogicalPlan)
      : Option[LogicalPlan] = for {
    (innerFilters, rel, idx) <- unwrap(child)
    reg <- SortProjections.lookup(idx.tableRoot)
    refs = (cond +: innerFilters)
      .flatMap(_.references.map(_.name)).toSet
    _ <- Some(()).filter(_ => reg.keys.exists(refs.contains))
    spark = SparkSession.active
    _ <- Some(()).filter(_ =>
      SortProjection.isCurrent(spark, reg.baseTable, reg.projTable))
    projPlan = TxFileIndex.readV2(spark, reg.projTable)
      .queryExecution.analyzed
    out = projPlan.output.map(a => a.name -> a).toMap
    _ <- Some(()).filter(_ => rel.output.forall(a =>
      out.get(a.name).exists(_.dataType == a.dataType)))
  } yield child.transformUp {
    case l: LogicalRelation if l eq rel =>
      Project(rel.output.map(a =>
        Alias(out(a.name), a.name)(exprId = a.exprId)), projPlan)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, child) =>
      swap(cond, child).map(Filter(cond, _)).getOrElse(f)
  }
}
