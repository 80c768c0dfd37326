package graft.catalog

import org.apache.spark.sql.{Column, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, AttributeSet, EqualTo, Expression, And => CAnd}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
  DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction,
  MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sink.TxTable

/** SQL `UPDATE` and `MERGE INTO` for catalog tables — the analyzer
  * rewrite Delta uses for the same problem: Spark's engine only plans
  * these nodes for `SupportsRowLevelOperations` tables, so this rule
  * (registered by [[graft.functions.GraftExtensions]]) rewrites them
  * into runnable commands over the tx-table primitives, which already
  * implement the atomic copy-on-write semantics:
  *
  *  - `UPDATE t SET c = expr WHERE p` → [[TxTable.update]] — ONE
  *    commit rewrites exactly the files containing matching rows
  *    (ClickHouse's `ALTER TABLE ... UPDATE` mutation, synchronous).
  *  - `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET
  *    ... WHEN NOT MATCHED THEN INSERT ...` — the UPSERT shape, with
  *    identical matched/not-matched column mappings and no action
  *    conditions — → [[TxTable.merge]] (the ReplacingMergeTree
  *    re-statement: matched target rows replaced, unmatched source
  *    rows inserted, only key-containing files rewritten).
  *
  * Shapes the primitives cannot honor (conditional actions, DELETE
  * actions, diverging matched/not-matched mappings, non-equi merge
  * conditions, assignments to the `date` partition column) are left
  * UNREWRITTEN — Spark then fails them with its standard unsupported
  * message instead of this rule guessing at semantics.
  */
object GraftDmlRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp(pf)

  private def graftTable(plan: LogicalPlan): Option[GraftCatalogTable] =
    plan.collectFirst {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftCatalogTable] =>
        r.table.asInstanceOf[GraftCatalogTable]
    }

  /** Rebind a resolved expression by NAME, wrapped as a Column, so it
    * re-resolves against the command's own fresh scan at run time.
    * Wrapping matters: a raw unresolved Expression stored on a command
    * node would fail checkAnalysis when the rewritten plan re-enters
    * the analyzer; a Column is opaque to it.
    */
  private def byName(e: Expression): Column =
    GraftSqlBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** Top-level column name of an assignment key; None for nested
    * fields (unsupported).
    */
  private def keyName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def pf: PartialFunction[LogicalPlan, LogicalPlan] = {
    // DELETE with ANY predicate — the DSv2 SupportsDelete path only
    // accepts conditions translatable to v1 Filters (`v < 10`); this
    // rewrite frees `DELETE FROM t WHERE v % 10 = 3` to run through
    // the same tx primitive, exactly Delta's DeleteFromTable posture.
    case d @ DeleteFromTable(rel, cond)
        if d.resolved && graftTable(rel).isDefined =>
      GraftDeleteCommand(graftTable(rel).get.path, byName(cond))

    case u @ UpdateTable(rel, assignments, cond)
        if u.resolved && graftTable(rel).isDefined &&
          assignments.forall(a => keyName(a.key).isDefined) &&
          !assignments.exists(a => keyName(a.key).contains("date")) =>
      GraftUpdateCommand(graftTable(rel).get.path,
        assignments.map(a => keyName(a.key).get -> byName(a.value)),
        cond.map(byName))

    case m @ MergeIntoTable(target, source, cond, matched, notMatched,
        notMatchedBySource, false)
        if m.resolved && graftTable(target).isDefined &&
          notMatchedBySource.isEmpty =>
      upsertShape(target, source, cond, matched, notMatched)
        .getOrElse(m)
  }

  /** Match the exact upsert shape [[TxTable.merge]] implements; None
    * leaves the node for Spark's standard error.
    */
  private def upsertShape(target: LogicalPlan, source: LogicalPlan,
      cond: Expression, matched: Seq[MergeAction],
      notMatched: Seq[MergeAction]): Option[LogicalPlan] = {
    val targetAttrs = AttributeSet(target.output)
    val sourceAttrs = AttributeSet(source.output)
    // ON clause: a conjunction of target-col = source-col equalities
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keyPairs = conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetAttrs.contains(a) && sourceAttrs.contains(b) =>
        Some(a.name -> b.name)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if targetAttrs.contains(a) && sourceAttrs.contains(b) =>
        Some(a.name -> b.name)
      case _ => None
    }
    if (keyPairs.exists(_.isEmpty) || keyPairs.isEmpty) return None
    val keys = keyPairs.flatten
    // exactly one unconditional UPDATE and one unconditional INSERT
    val (updAssigns, insAssigns) = (matched, notMatched) match {
      case (Seq(UpdateAction(None, ua, _)), Seq(InsertAction(None, ia))) =>
        (ua, ia)
      case _ => return None
    }
    def rendered(assigns: Seq[Assignment])
        : Option[Seq[(String, Expression)]] = {
      val rs = assigns.map(a => keyName(a.key).map(_ -> a.value))
      if (rs.exists(_.isEmpty)) None else Some(rs.flatten)
    }
    (rendered(updAssigns), rendered(insAssigns)) match {
      case (Some(u), Some(i)) =>
        // the upsert contract: matched rows REPLACED by the same
        // source projection that unmatched rows INSERT — mappings
        // must agree column-for-column, cover the whole target row,
        // and key columns must map straight from the key pair
        val sameMapping = u.size == i.size &&
          u.sortBy(_._1).zip(i.sortBy(_._1)).forall { case ((un, ue), (in, ie)) =>
            un == in && ue.canonicalized == ie.canonicalized }
        val coversAll = u.map(_._1).toSet == target.output.map(_.name).toSet
        if (!sameMapping || !coversAll) None
        else Some(GraftMergeCommand(
          graftTable(target).get.path,
          u.map { case (n, e) => n -> byName(e) },
          keys.map(_._1), source))
      case _ => None
    }
  }
}

/** `DELETE FROM` executed as one tx commit — copy-on-write
  * ([[TxTable.delete]]) or, when the table opts in via the
  * `graft.deletionVectors` property, merge-on-read
  * ([[TxTable.deleteMergeOnRead]]).
  */
case class GraftDeleteCommand(path: String, cond: Column)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (TxTable.tableProperties(spark, path)
        .get("graft.deletionVectors").contains("true"))
      TxTable.deleteMergeOnRead(spark, path, cond)
    else
      TxTable.delete(spark, path, cond)
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDeleteCommand $path"
}

/** `UPDATE` executed as [[TxTable.update]]'s single copy-on-write
  * commit. Assignments and condition were rebound by name, so they
  * re-resolve against the command's own fresh table scan.
  */
case class GraftUpdateCommand(path: String,
    sets: Seq[(String, Column)], cond: Option[Column])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val c = cond.getOrElse(org.apache.spark.sql.functions.lit(true))
    // `graft.deletionVectors` opts SQL UPDATE into merge-on-read
    // (vector the pre-images + append the post-images in one commit)
    if (TxTable.tableProperties(spark, path)
        .get("graft.deletionVectors").contains("true"))
      TxTable.updateMergeOnRead(spark, path, c, sets)
    else
      TxTable.update(spark, path, c, sets)
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftUpdateCommand $path"
}

/** Upsert `MERGE INTO` executed as [[TxTable.merge]]: the source plan
  * projects to the target's columns through the (verified-identical)
  * UPDATE/INSERT mapping, then matched rows are replaced and
  * unmatched rows inserted in one commit that rewrites only
  * key-containing files.
  */
case class GraftMergeCommand(path: String,
    mapping: Seq[(String, Column)], keys: Seq[String],
    source: LogicalPlan) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftSqlBridge.ofRows(spark, source)
      .select(mapping.map { case (name, c) => c.as(name) }: _*)
    TxTable.merge(spark, src, path, keys)
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftMergeCommand $path keys=${keys.mkString(",")}"
}
