package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.flow.{FlowConfig, FlowPipeline, LpmJoin, SyntheticFlows}
import graft.functions.ipfns._

/** One raw observation with every column the checks read nullable, and
  * the proto's v6 endpoint branch as `*_ip6` columns.
  */
case class LabelFlow(flow_id: Long, ts: Timestamp, node_name: String,
    proto: Option[Int],
    orig_src_ip: Option[Long], orig_dst_ip: Option[Long],
    orig_src_ip6: Option[Array[Byte]], orig_dst_ip6: Option[Array[Byte]],
    orig_src_port: Int, orig_dst_port: Int,
    reply_src_ip: Option[Long], reply_dst_ip: Option[Long],
    reply_src_ip6: Option[Array[Byte]], reply_dst_ip6: Option[Array[Byte]],
    reply_src_port: Int, reply_dst_port: Int,
    orig_pkts: Option[Long], orig_bytes: Option[Long],
    reply_pkts: Option[Long], reply_bytes: Option[Long])

/** One labeler, two projections: the summing table (`run`) and the
  * outcome taxonomy (`routeOutcomes`) are views of one labeling, and on
  * inputs without NULLs in a checked column both still give what the
  * two separate implementations before [[FlowPipeline.label]] gave
  * ([[ParentLabeler]], kept verbatim as the reference).
  */
object FlowLabelProperties extends Properties("graft") {
  import FlowLabelFixtures._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private val counters: Gen[Seq[Option[Long]]] = Gen.frequency(
    6 -> Gen.listOfN(4, Gen.chooseNum(0L, 500L).map(Option(_))),
    1 -> Gen.const(Seq.fill(4)(Some(0L))),
    1 -> Gen.listOfN(4, Gen.oneOf(None, Some(0L), Some(7L))))

  private def genFlow(id: Long): Gen[LabelFlow] = for {
    shape <- Gen.oneOf("from", "to", "dnat", "node_src", "localhost", "v6")
    local <- Gen.oneOf(POD_A, POD_B, POD_C, AMB, UNKNOWN)
    remote <- Gen.oneOf(PUB_R1, PUB_R2, PUB_GCP, PUB_NOREGION, PUB_NONE,
      UNKNOWN, POD_C, AMB, NODE2)
    observer <- Gen.oneOf("node-1", "node-2")
    proto <- Gen.frequency(8 -> Some(6), 3 -> Some(17), 1 -> Some(1), 1 -> None)
    cs <- counters
    lh <- Gen.choose(0, 3)
    minute <- Gen.choose(0L, 1L)
  } yield {
    val (os, od, rs, rd) = shape match {
      case "to" => (remote, local, local, remote)
      case "dnat" => (local, VIP, remote, local)
      case "node_src" => (NODE1, remote, remote, NODE1)
      case _ => (local, remote, remote, local)
    }
    val v4 = Seq(os, od, rs, rd).zipWithIndex.map { case (ip, i) =>
      if (shape == "v6") None
      else if (shape == "localhost" && i == lh) Some(SyntheticFlows.LOCALHOST)
      else Some(ip)
    }
    def v6(k: Int): Option[Array[Byte]] =
      if (shape == "v6") Some(Array.fill(16)((id * 4 + k).toByte)) else None
    LabelFlow(id, new Timestamp(T0 + minute * 60000L), observer, proto,
      v4(0), v4(1), v6(0), v6(1), 1024 + id.toInt, 443,
      v4(2), v4(3), v6(2), v6(3), if (shape == "dnat") 8080 else 443,
      1024 + id.toInt, cs(0), cs(1), cs(2), cs(3))
  }

  private val genCase: Gen[(Seq[LabelFlow], FlowConfig)] = for {
    n <- Gen.choose(1, 24)
    flows <- Gen.sequence[Seq[LabelFlow], LabelFlow]((1L to n).map(genFlow))
    ignoreUdp <- Gen.oneOf(true, false)
  } yield (flows, FlowConfig(ignoreUDP = ignoreUdp))

  private def outcomes(df: DataFrame): Map[Long, String] =
    df.select("flow_id", "outcome").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  property("run == the fan-out and sum of the rows routeOutcomes tags " +
    "labeled") = forAll(genCase) { case (fs, cfg) =>
    val spark = TestSpark.spark
    val (flows, p, n, px) = frames(spark, fs)
    val got = FlowPipeline.run(flows, p, n, px, cfg)
    val tagged = FlowPipeline.routeOutcomes(p, n, px, cfg)(flows)
    val want = FlowPipeline.annotateConstants(cfg)(FlowPipeline.summarize(
      FlowPipeline.fanOut(tagged.filter(col("outcome") === "labeled")
        .drop("outcome")
        .transform(FlowPipeline.resolveDirection(p, n))
        .transform(FlowPipeline.classify(px, cfg)))))
    val (g, w) = (FlowSinkFixtures.rows(got, want), FlowSinkFixtures.rows(want, want))
    (g == w) :| s"run:\n${g.mkString("\n")}\nlabeled:\n${w.mkString("\n")}"
  }

  property("without NULLs in a checked column, run and routeOutcomes " +
    "equal the separate implementations they replace") = forAll(genCase) {
    case (fs0, cfg) =>
      val fs = fs0.filter(f => f.proto.isDefined && Seq(f.orig_pkts,
        f.orig_bytes, f.reply_pkts, f.reply_bytes).forall(_.isDefined))
      val spark = TestSpark.spark
      val (flows, p, n, px) = frames(spark, fs)
      val got = FlowPipeline.run(flows, p, n, px, cfg)
      val want = ParentLabeler.run(flows, p, n, px, cfg)
      val (g, w) = (FlowSinkFixtures.rows(got, want), FlowSinkFixtures.rows(want, want))
      val og = outcomes(FlowPipeline.routeOutcomes(p, n, px, cfg)(flows))
      val ow = outcomes(ParentLabeler.routeOutcomes(p, n, px, cfg)(flows))
      Prop.all(
        (g == w) :| s"run:\n${g.mkString("\n")}\nparent:\n${w.mkString("\n")}",
        (og == ow) :| s"outcomes $og != parent $ow")
  }
}

/** A hand-sized cluster for the labeler properties: three pods, one IP
  * that two pods claim, two nodes, and cloud prefixes that include a
  * same-cloud prefix with no region.
  */
object FlowLabelFixtures {
  val POD_A = SyntheticFlows.B10 + 5L  // node-1
  val POD_B = SyntheticFlows.B10 + 6L  // node-1
  val POD_C = SyntheticFlows.B10 + 7L  // node-2
  val AMB = SyntheticFlows.B10 + 8L    // claimed by two pods
  val UNKNOWN = SyntheticFlows.PRIV + 9L
  val VIP = SyntheticFlows.SVC + 3L
  val NODE1 = SyntheticFlows.NB + 1L
  val NODE2 = SyntheticFlows.NB + 2L
  val PUB_R1 = 16777216L + 100L
  val PUB_R2 = 16777216L + 2048L + 100L
  val PUB_GCP = 16777216L + 4096L + 100L
  val PUB_NOREGION = 16777216L + 6144L + 5L
  val PUB_NONE = 16777216L + 999999L
  val T0 = 1700000000000L

  def frames(spark: SparkSession, fs: Seq[LabelFlow])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    (fs.toDF(),
      Seq(("pod-a", "ns-a", POD_A, "node-1", "appa", "inst-0"),
        ("pod-b", "ns-b", POD_B, "node-1", "appb", "inst-1"),
        ("pod-c", "ns-c", POD_C, "node-2", "appc", "inst-2"),
        ("pod-x", "ns-x", AMB, "node-1", "appx", "inst-3"),
        ("pod-y", "ns-y", AMB, "node-1", "appy", "inst-4"))
        .toDF("pod_name", "pod_namespace", "pod_ip", "pod_node", "pod_app",
          "pod_instance"),
      Seq(("node-1", NODE1, "az-1"), ("node-2", NODE2, "az-2"))
        .toDF("node_id", "node_internal_ip", "node_zone"),
      Seq((16777216L, 16777216L + 2047L, 21, "aws", "region-1", "svc-a"),
        (16777216L + 2048L, 16777216L + 4095L, 21, "aws", "region-2", "svc-b"),
        (16777216L + 4096L, 16777216L + 6143L, 21, "gcp", "region-1", "svc-c"),
        (16777216L + 6144L, 16777216L + 8191L, 21, "aws", "", "svc-d"),
        (16777216L, 16777216L + 8191L, 19, "aws", "region-9", "svc-coarse"))
        .toDF("p_start", "p_end", "p_len", "p_cloud", "p_region", "p_service"))
  }
}

/** The labeler as it was before [[FlowPipeline.label]]: the stage chain
  * behind `run` and the separate outcome plan behind `routeOutcomes`,
  * kept verbatim as the reference the properties compare against.
  */
object ParentLabeler {
  def filterJunk(flows: DataFrame): DataFrame =
    flows
      .filter(col("orig_bytes") > 0 || col("orig_pkts") > 0 ||
        col("reply_bytes") > 0 || col("reply_pkts") > 0)
      .filter(col("proto").isin(6, 17))
      .filter(!(col("orig_src_ip") <=> SyntheticFlows.LOCALHOST) &&
        !(col("orig_dst_ip") <=> SyntheticFlows.LOCALHOST) &&
        !(col("reply_src_ip") <=> SyntheticFlows.LOCALHOST) &&
        !(col("reply_dst_ip") <=> SyntheticFlows.LOCALHOST))

  def dropUdp(cfg: FlowConfig)(flows: DataFrame): DataFrame =
    if (cfg.ignoreUDP) flows.filter(col("proto") =!= 17) else flows

  private def isIpv6(flows: DataFrame): Option[Column] = {
    val v6cols = Seq("orig_src_ip6", "orig_dst_ip6",
      "reply_src_ip6", "reply_dst_ip6").filter(flows.columns.contains)
    val checks =
      v6cols.map(c => col(c).isNotNull) ++
        (if (flows.columns.contains("is_ipv6"))
          Seq(coalesce(col("is_ipv6"), lit(false))) else Nil)
    checks.reduceOption(_ || _)
  }

  def dropIpv6(flows: DataFrame): DataFrame =
    isIpv6(flows) match {
      case Some(pred) =>
        val dead = Seq("orig_src_ip6", "orig_dst_ip6",
          "reply_src_ip6", "reply_dst_ip6", "is_ipv6")
          .filter(flows.columns.contains)
        flows.filter(!pred).drop(dead: _*)
      case None => flows
    }

  def dropNodeFlows(nodes: DataFrame)(flows: DataFrame): DataFrame = {
    val ips = broadcast(nodes.select(col("node_internal_ip").as("nip")))
    flows
      .join(ips, col("orig_src_ip") === col("nip"), "left_anti")
      .join(ips, col("reply_src_ip") === col("nip"), "left_anti")
  }

  private def withFlowDefaults(flows: DataFrame): DataFrame = {
    var df = flows
    if (!df.columns.contains("reply_src_port"))
      df = df.withColumn("reply_src_port", col("orig_dst_port"))
    if (!df.columns.contains("reply_dst_port"))
      df = df.withColumn("reply_dst_port", col("orig_src_port"))
    if (!df.columns.contains("connection_flags"))
      df = df.withColumn("connection_flags", typedLit(Map.empty[String, Boolean]))
    df
  }

  private def directionPredicates(srcId: Column, srcNode: Column,
      dstId: Column, dstNode: Column): (Column, Column, Column, Column) = {
    val srcLocal = srcId.isNotNull && srcNode === col("node_name")
    val dstLocal = dstId.isNotNull && dstNode === col("node_name")
    val srcAssumed = srcId.isNull && dstId.isNotNull && dstNode =!= ""
    val dstAssumed = srcId.isNotNull && srcNode =!= "" && dstId.isNull
    (srcLocal, dstLocal, srcAssumed, dstAssumed)
  }

  def resolveDirection(pods: DataFrame, nodes: DataFrame)(flows0: DataFrame): DataFrame = {
    val flows = withFlowDefaults(flows0)
    val ambIps = broadcast(pods.groupBy(col("pod_ip"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select(col("pod_ip").as("amb_ip")))
    val src = pods.toDF(pods.columns.map("src_" + _): _*)
    val dst = pods.toDF(pods.columns.map("dst_" + _): _*)
    val withPods = flows
      .join(ambIps, col("orig_src_ip") === col("amb_ip"), "left_anti")
      .join(ambIps.toDF("amb_ip2"), col("reply_src_ip") === col("amb_ip2"), "left_anti")
      .join(broadcast(src), col("orig_src_ip") === col("src_pod_ip"), "left_outer")
      .join(broadcast(dst), col("reply_src_ip") === col("dst_pod_ip"), "left_outer")
    val (srcLocal, dstLocal, srcAssumed, dstAssumed) = directionPredicates(
      col("src_pod_name"), col("src_pod_node"),
      col("dst_pod_name"), col("dst_pod_node"))
    val typed = withPods.withColumn("flow_type",
      when(srcLocal, lit("fromPod"))
        .when(dstLocal, lit("toPod"))
        .when(srcAssumed, lit("fromPod"))
        .when(dstAssumed, lit("toPod"))
        .otherwise(lit(null).cast("string")))
    val isFrom = col("flow_type") === "fromPod"
    def localF(f: String) =
      coalesce(when(isFrom, col("src_" + f)).otherwise(col("dst_" + f)), lit(""))
    def remoteF(f: String) =
      coalesce(when(isFrom, col("dst_" + f)).otherwise(col("src_" + f)), lit(""))
    val resolved = typed.select(
      col("flow_id"), col("ts"), col("proto"), col("connection_flags"),
      col("flow_type"),
      localF("pod_node").as("node_name"),
      localF("pod_name").as("local_pod"),
      localF("pod_namespace").as("local_namespace"),
      localF("pod_app").as("local_app"),
      localF("pod_instance").as("local_instance"),
      when(isFrom, col("orig_src_ip")).otherwise(col("reply_src_ip")).as("local_ip"),
      when(isFrom, col("orig_src_port")).otherwise(col("reply_src_port")).as("local_port"),
      when(isFrom, col("reply_src_ip")).otherwise(col("orig_src_ip")).as("remote_ip"),
      when(isFrom, col("reply_src_port")).otherwise(col("orig_src_port")).as("remote_port"),
      when(isFrom, col("dst_pod_app")).otherwise(col("src_pod_app")).as("remote_app_raw"),
      remoteF("pod_name").as("remote_pod"),
      remoteF("pod_namespace").as("remote_namespace"),
      remoteF("pod_instance").as("remote_instance"),
      remoteF("pod_node").as("remote_node"),
      when(isFrom, col("orig_bytes")).otherwise(col("reply_bytes")).as("bytes_out"),
      when(isFrom, col("orig_pkts")).otherwise(col("reply_pkts")).as("pkts_out"),
      when(isFrom, col("reply_bytes")).otherwise(col("orig_bytes")).as("bytes_in"),
      when(isFrom, col("reply_pkts")).otherwise(col("orig_pkts")).as("pkts_in"))
    val zones = nodes.select(col("node_id"), col("node_zone"))
    resolved
      .join(broadcast(zones), col("node_name") === col("node_id"), "left_outer")
      .drop("node_id")
      .withColumn("local_zone", coalesce(col("node_zone"), lit("")))
      .drop("node_zone")
      .join(broadcast(zones.toDF("r_node_id", "r_node_zone")),
        col("remote_node") === col("r_node_id"), "left_outer")
      .drop("r_node_id")
      .withColumn("remote_zone", coalesce(col("r_node_zone"), lit("")))
      .drop("r_node_zone")
  }

  def dropUnlabeled(flows: DataFrame): DataFrame =
    flows.filter(col("flow_type").isNotNull)

  def classify(prefixes: DataFrame, cfg: FlowConfig)(flows: DataFrame): DataFrame = {
    val matched = LpmJoin.viaTrie(flows, prefixes, col("remote_ip"))
    matched.select(
      flows.columns.map(col) ++ Seq(
        when(ip_is_private(col("remote_ip")), lit("INTRA_VPC"))
          .when(col("p_cloud").isNull, lit("PUBLIC_INTERNET"))
          .when(col("p_cloud") === cfg.localCloud && col("p_region") === "",
            lit("ERROR_INTRA_CLOUD_EMPTY_REGION"))
          .when(col("p_cloud") === cfg.localCloud &&
            (col("p_region") === cfg.localRegion || col("p_region") === "global"),
            lit("INTRA_REGION"))
          .when(col("p_cloud") === cfg.localCloud, lit("INTER_REGION"))
          .otherwise(lit("PUBLIC_INTERNET")).as("connection_class"),
        when(ip_is_private(col("remote_ip")), lit(cfg.localCloud))
          .otherwise(coalesce(col("p_cloud"), lit(""))).as("remote_cloud"),
        when(ip_is_private(col("remote_ip")), lit(cfg.localRegion))
          .otherwise(coalesce(col("p_region"), lit(""))).as("remote_region"),
        when(ip_is_private(col("remote_ip")), lit(""))
          .otherwise(coalesce(col("p_service"), lit(""))).as("remote_service"),
        when(col("proto") === 6, "tcp").otherwise("udp").as("proto_name"),
        coalesce(col("remote_app_raw"), lit("")).as("remote_app"),
        col("p_len")): _*)
  }

  def dropClassifyErrors(flows: DataFrame): DataFrame =
    flows.filter(!col("connection_class").startsWith("ERROR_"))

  def run(flows: DataFrame, pods: DataFrame, nodes: DataFrame,
      prefixes: DataFrame, cfg: FlowConfig): DataFrame = {
    val labeled = flows
      .transform(filterJunk)
      .transform(dropUdp(cfg))
      .transform(dropIpv6)
      .transform(dropNodeFlows(nodes))
      .transform(resolveDirection(pods, nodes))
      .transform(dropUnlabeled)
      .transform(classify(prefixes, cfg))
      .transform(dropClassifyErrors)
    FlowPipeline.annotateConstants(cfg)(
      FlowPipeline.summarize(FlowPipeline.fanOut(labeled)))
  }

  def routeOutcomes(pods: DataFrame, nodes: DataFrame, prefixes: DataFrame,
      cfg: FlowConfig)(flows: DataFrame): DataFrame = {
    val nodeIps = broadcast(nodes.select(col("node_internal_ip")).distinct())
    val podsByIp = pods.groupBy(col("pod_ip"))
      .agg(count(lit(1)).as("pod_ip_n"), max(col("pod_node")).as("one_node"))
    val src = broadcast(podsByIp.select(col("pod_ip").as("src_pod_ip"),
      col("one_node").as("src_pod_node"), col("pod_ip_n").as("src_n")))
    val dst = broadcast(podsByIp.select(col("pod_ip").as("dst_pod_ip"),
      col("one_node").as("dst_pod_node"), col("pod_ip_n").as("dst_n")))
    val withDims = flows
      .join(nodeIps.toDF("n1"), col("orig_src_ip") === col("n1"), "left_outer")
      .join(nodeIps.toDF("n2"), col("reply_src_ip") === col("n2"), "left_outer")
      .join(src, col("orig_src_ip") === col("src_pod_ip"), "left_outer")
      .join(dst, col("reply_src_ip") === col("dst_pod_ip"), "left_outer")
    val localhost = lit(SyntheticFlows.LOCALHOST)
    val (srcLocal, dstLocal, srcAssumed, dstAssumed) = directionPredicates(
      col("src_pod_ip"), col("src_pod_node"),
      col("dst_pod_ip"), col("dst_pod_node"))
    val directed = srcLocal || dstLocal || srcAssumed || dstAssumed
    val isFrom = srcLocal || (!dstLocal && srcAssumed)
    val withRemote = withDims.withColumn("__remote_ip",
      when(isFrom, col("reply_src_ip")).otherwise(col("orig_src_ip")))
    val lpm = LpmJoin.viaTrie(withRemote, prefixes, col("__remote_ip"))
    lpm.withColumn("outcome",
      when(!(col("orig_bytes") > 0 || col("orig_pkts") > 0 ||
        col("reply_bytes") > 0 || col("reply_pkts") > 0), "ignored_zero")
        .when(!col("proto").isin(6, 17), "ignored_proto")
        .when(col("orig_src_ip") === localhost || col("orig_dst_ip") === localhost ||
          col("reply_src_ip") === localhost || col("reply_dst_ip") === localhost,
          "ignored_localhost")
        .when(lit(cfg.ignoreUDP) && col("proto") === 17, "ignored_udp")
        .when(isIpv6(flows).getOrElse(lit(false)), "ignored_ipv6")
        .when(col("n1").isNotNull || col("n2").isNotNull, "ignored_node_flow")
        .when(col("src_n") > 1 || col("dst_n") > 1, "error_ambiguous_pod_ip")
        .when(!directed, "unknown_direction")
        .when(!ip_is_private(col("__remote_ip")) &&
          col("p_cloud") === cfg.localCloud && col("p_region") === "",
          "error_intra_cloud_empty_region")
        .otherwise("labeled"))
      .select(flows.columns.map(col) :+ col("outcome"): _*)
  }
}
