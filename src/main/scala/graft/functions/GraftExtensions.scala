package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: rewrite the opaque [[IpIsPrivate]] expression
  * into plain range comparisons. The payoff is real, not cosmetic — the
  * rewritten form is made of predicates the parquet data source
  * understands, so a filter like `ip_is_private(ip_col)` pushes down to
  * the scan (row-group min/max skipping), and constant-folding/codegen
  * see ordinary arithmetic instead of a black box. The eval/codegen path
  * of IpIsPrivate remains for contexts the rule doesn't reach (e.g.
  * interpreted projections).
  */
object RewriteIpPredicates extends Rule[LogicalPlan] {
  private def range(c: Expression, lo: Long, hi: Long): Expression =
    And(GreaterThanOrEqual(c, Literal(lo)), LessThanOrEqual(c, Literal(hi)))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case IpIsPrivate(c) =>
        Seq(
          range(c, 167772160L, 184549375L),   // 10.0.0.0/8
          range(c, 2886729728L, 2887778303L), // 172.16.0.0/12
          range(c, 3232235520L, 3232301055L), // 192.168.0.0/16
          range(c, 2130706432L, 2147483647L), // 127.0.0.0/8
          range(c, 2851995648L, 2852061183L)  // 169.254.0.0/16
        ).reduceLeft(Or)
    }
}

/** SparkSessionExtensions entry point, and the one install path of the
  * engine's rules and SQL functions. [[graft.Graft.session]] applies
  * it; a session built elsewhere takes
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * It installs four optimizer rules, two resolution rules, one AQE
  * query-stage preparation rule ([[graft.plans.SingleSplitStages]]),
  * the session's ClickHouse table registry ([[graft.sql.Compat.ChTables]])
  * and the SQL functions: the engine's own ([[ipfns.sqlFunctions]]), the
  * ClickHouse pack ([[graft.sql.Compat.clickHouseFunctions]]) and the
  * dictionary lookups ([[graft.dims.Dictionaries.sqlFunctions]]).
  * Injected functions are part of the session state, so a
  * `newSession()` child has them as well, with no per-call registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteIpPredicates)
    // aggregate(zip_with(...)) integer vector folds → native codegen'd
    // dot/L2/self-norm expressions (see graft.functions.VectorMath)
    e.injectOptimizerRule(_ => RewriteVectorFolds)
    // ClickHouse-PROJECTION routing: aggregates over a registered tx
    // base table are served from its materialized view when covered
    // and current (see graft.plans.Projections)
    e.injectOptimizerRule(_ => graft.plans.ProjectionRewrite)
    // sort-order PROJECTION routing: filtered scans of a registered tx
    // base are served from its alternate-clustered copy when the
    // filter touches the copy's cluster keys and the copy is current
    // (see graft.plans.SortProjections)
    e.injectOptimizerRule(_ => graft.plans.SortProjectionRewrite)
    // SQL-catalog fast path: scans of GraftCatalog tables plan through
    // the native vectorized HadoopFsRelation instead of the V1Scan
    // row bridge (see graft.catalog.GraftCatalogRelations)
    e.injectResolutionRule(_ => graft.catalog.GraftCatalogRelations)
    // SQL UPDATE / upsert-MERGE on catalog tables → the tx-table
    // copy-on-write primitives (see graft.catalog.GraftDmlRewrite)
    e.injectResolutionRule(_ => graft.catalog.GraftDmlRewrite)
    // one-job queries: drop the exchanges a single-split tx scan does
    // not need, after AQE's EnsureRequirements on every (re-)plan
    e.injectQueryStagePrepRule(_ => graft.plans.SingleSplitStages)
    // the session's ClickHouse SAMPLE keys and FINAL views, one holder
    // per session state (see graft.sql.Compat.ChTables)
    e.injectCheckRule(_ => new graft.sql.Compat.ChTables)
    // in registration order: a later name replaces an earlier one
    (ipfns.sqlFunctions ++ graft.sql.Compat.clickHouseFunctions ++
      graft.dims.Dictionaries.sqlFunctions).foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), b))
    }
  }
}
