package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.flow.{FlowPipeline, RawFlow}
import graft.sink.TxTable

/** A hand-sized flow corpus for the streaming flow-sink specs: one pod
  * on one node, two cloud prefixes, and RawFlow builders.
  */
object FlowSinkFixtures {
  val POD = 167772165L   // 10.0.0.5
  val PUB = 16777316L    // 1.0.0.100, in the region-1 prefix
  val PUB2 = 33554437L   // 2.0.0.5, in the region-2 prefix
  val NODE = 2886729729L // 172.16.0.1
  val T0 = 1700000000000L

  /** A TCP flow from the pod to `remote`, observed at `tsMs`. */
  def flow(id: Long, tsMs: Long = T0, remote: Long = PUB): RawFlow =
    RawFlow(id, new Timestamp(tsMs), "node-1", 6,
      POD, remote, 1, 2, remote, NODE, 10L, 11L, 12L, 13L)

  /** (pods, nodes, prefixes), the pod labeled `podApp`. */
  def dims(spark: SparkSession,
      podApp: String = "app-v1"): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    (Seq(("pod-a", "ns-a", POD, "node-1", podApp, "inst-0"))
      .toDF("pod_name", "pod_namespace", "pod_ip", "pod_node", "pod_app",
        "pod_instance"),
      Seq(("node-1", NODE, "az-1"))
        .toDF("node_id", "node_internal_ip", "node_zone"),
      Seq((16777216L, 16779263L, 21, "aws", "region-1", "svc-a"),
        (33554432L, 33619967L, 16, "aws", "region-2", "svc-b"))
        .toDF("p_start", "p_end", "p_len", "p_cloud", "p_region",
          "p_service"))
  }

  /** `df` in `like`'s column order, sorted on the dimension key. */
  def rows(df: DataFrame, like: DataFrame): Seq[Row] =
    df.select(like.columns.map(col): _*)
      .orderBy(FlowPipeline.dimensionKey.map(col): _*).collect().toSeq

  /** A flow table's partial sums merged, comparable by [[rows]] with a
    * `FlowPipeline.run` frame.
    */
  def summed(spark: SparkSession, table: String): DataFrame =
    TxTable.resum(TxTable.read(spark, table))

  /** Micro-batch `v`'s rows of a table committed to once per batch:
    * version `v` minus version `v - 1`.
    */
  def batchRows(spark: SparkSession, table: String, v: Long): DataFrame = {
    val upTo = TxTable.read(spark, table, asOfVersion = Some(v))
    if (v == 0) upTo
    else upTo.exceptAll(TxTable.read(spark, table, asOfVersion = Some(v - 1)))
  }
}
