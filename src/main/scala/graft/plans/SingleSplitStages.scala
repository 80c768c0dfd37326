package graft.plans

import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression,
  PlanExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarToRowExec, ExpandExec,
  FileSourceScanExec, FilterExec, PartitionedFileUtil, ProjectExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.sink.TxFileIndex

/** One-job queries over a single-split tx table scan. A dashboard
  * reads a compacted table, often one parquet file that the planner
  * reads as one split, yet `EnsureRequirements` still hash-shuffles
  * the partial aggregate to `spark.sql.shuffle.partitions` and
  * range-samples and range-shuffles for an `ORDER BY`: each exchange is
  * one more Spark job, with its scheduler, shuffle and AQE stage cost.
  * One partition already satisfies every clustered and ordered
  * distribution, so those exchanges move nothing.
  *
  * The rule removes a `ShuffleExchangeExec` that `EnsureRequirements`
  * inserted when its child provably yields exactly one partition: a
  * chain of single-child operators that keep their child's partition
  * count, ending at a [[TxFileIndex]] scan that is not bucketed, has no
  * bucket-pruning, subquery or dynamic-pruning filter, and plans one
  * split. The partial and final aggregates, the global sort and the
  * top-k then run in one task of one job. Exactly one split: an empty
  * scan has no partition, yet a global aggregate over it owes a row.
  *
  * What always stays: shuffles with another origin (`repartition`, the
  * writer's `repartitionByRange` in `TxTable.prep`), so file layouts do
  * not change; every exchange of a plan with a multi-child operator
  * (join, union), because co-partitioning is out of scope; and every
  * exchange over a multi-split, bucketed, bucket-pruned or non-tx scan.
  *
  * Installed by `graft.functions.GraftExtensions` as an AQE query-stage
  * preparation rule, so it runs after AQE's `EnsureRequirements` on the
  * initial plan and on every re-plan. The splits are the file index
  * listing (an in-memory prune of the snapshot) packed as the unbuilt
  * read RDD would pack it; the scan's own `selectedPartitions` would
  * set listing metrics that the action then resets to zero.
  */
object SingleSplitStages extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (plan.exists(_.children.size > 1)) plan
    else plan.transformUp {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == ENSURE_REQUIREMENTS && oneSplit(e.child) =>
        e.child
    }

  private def oneSplit(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      s.relation.location.isInstanceOf[TxFileIndex] && !s.bucketedScan &&
        s.optionalBucketSet.isEmpty &&
        !(s.partitionFilters ++ s.dataFilters).exists(_.exists {
          case _: PlanExpression[_] | _: DynamicPruningExpression => true
          case _ => false
        }) &&
        splits(s) == 1
    case _: ProjectExec | _: FilterExec | _: ColumnarToRowExec |
        _: HashAggregateExec | _: ObjectHashAggregateExec |
        _: SortAggregateExec | _: SortExec | _: ExpandExec | _: WindowExec =>
      oneSplit(p.children.head)
    case _ => false
  }

  private def splits(s: FileSourceScanExec): Int = {
    val spark = s.relation.sparkSession
    val dirs = s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val files = dirs.flatMap { dir =>
      dir.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
        s.relation.fileFormat.isSplitable(spark, s.relation.options,
          f.getPath), maxSplit, dir.values))
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, files, maxSplit).length
  }
}
