package netbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** SQL-metric probes for the traced run: shuffle bytes of the last
  * query run (from a `QueryExecutionListener`) and the files a collected
  * plan scanned. */
object Probes {
  private val lastShuffleBytes = new AtomicLong(0L)

  def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec        => q +: leaves(q.plan)
    case other                    => other +: other.children.flatMap(leaves)
  }

  def install(spark: SparkSession): Unit =
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val b = leaves(qe.executedPlan).collect { case s: ShuffleExchangeExec =>
          s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
        }.sum
        lastShuffleBytes.set(b)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

  /** Shuffle bytes written by the last query run on this thread: waits
    * until the listener bus has delivered its event. */
  def lastQueryShuffleBytes(spark: SparkSession): Double = {
    org.apache.spark.NetbenchBus.drain(spark.sparkContext)
    lastShuffleBytes.get().toDouble
  }

  /** Files a collected plan read after pruning. */
  def filesRead(p: SparkPlan): Long = leaves(p).collect {
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum
}
