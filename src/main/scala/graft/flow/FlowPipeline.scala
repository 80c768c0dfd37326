package graft.flow

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ipfns._

/** Deployment constants (ref pkg/inserter/inserter.go:20-25). */
case class FlowConfig(
    localCloud: String = "aws",
    localRegion: String = "region-1",
    localCluster: String = "cluster-a",
    environment: String = "production",
    ignoreUDP: Boolean = true)

/** The kubenetmon labeling + aggregation pipeline, re-expressed as
  * composable Catalyst-friendly `DataFrame => DataFrame` stages
  * (SURVEY.md §3.2: source → filters → broadcast joins → case/when
  * direction → LPM classify → explode fan-out → windowed summing agg).
  *
  * Scale design (100 TB / 1000 executors):
  *  - dimension joins (pods/nodes/prefixes) are explicit `broadcast()`
  *    joins — dims are informer-cache-sized (≤ millions of rows), facts
  *    are the 100 TB side; no fact shuffle before aggregation;
  *  - the only shuffle in the whole pipeline is the final groupBy over
  *    the dimension key, which Catalyst executes as partial (map-side)
  *    aggregation → exchange → final aggregation, so the exchange
  *    carries pre-summed (key × 2 longs) rows, not raw flows;
  *  - longest-prefix-match is a per-row probe of a broadcast binary
  *    trie (`LpmJoin.viaTrie`, O(32) per probe, no shuffle), so every
  *    observation keeps its own match — streams included;
  *  - every filter is a pushable Catalyst predicate; no UDFs in the
  *    filter path.
  */
object FlowPipeline {

  // ---- F1-F3: agent-side junk filters (collector.go:227-247) ----
  /** The localhost check is null-safe (`<=>`): pure-v6 flows carry NULL
    * v4 columns and must survive to [[dropIpv6]] — the stage that owns
    * their drop, like the reference's labeler — not be silently
    * null-eliminated here. EqualNullSafe remains a pushable predicate.
    */
  def filterJunk(flows: DataFrame): DataFrame =
    flows
      .filter(col("orig_bytes") > 0 || col("orig_pkts") > 0 ||
        col("reply_bytes") > 0 || col("reply_pkts") > 0)
      .filter(col("proto").isin(6, 17))
      .filter(!(col("orig_src_ip") <=> SyntheticFlows.LOCALHOST) &&
        !(col("orig_dst_ip") <=> SyntheticFlows.LOCALHOST) &&
        !(col("reply_src_ip") <=> SyntheticFlows.LOCALHOST) &&
        !(col("reply_dst_ip") <=> SyntheticFlows.LOCALHOST))

  // ---- F4: configurable UDP drop (labeler.go:183-188) ----
  def dropUdp(cfg: FlowConfig)(flows: DataFrame): DataFrame =
    if (cfg.ignoreUDP) flows.filter(col("proto") =!= 17) else flows

  // ---- F5: IPv6 drop (labeler.go:243-247,379-405) ----
  /** The proto carries each endpoint as a oneof `{u32 v4 | bytes v6}`
    * (flow_handler.proto:30-41); sources surface the v6 branch as
    * nullable BinaryType `*_ip6` columns. Any v6 endpoint drops the
    * flow, like the reference's ErrIPv6Flow. Returns the v6-detection
    * predicate over whatever v6 columns the schema carries; None for
    * pure-v4 schemas. A NULL `is_ipv6` flag means "not v6" (coalesced —
    * a bare `!flag` filter would null-eliminate valid v4 rows).
    */
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
        // every surviving row is pure-v4, so the v6 columns are all-NULL
        // dead weight from here on — drop them NOW so 4 BinaryType
        // columns (plus the flag) don't ride every downstream exchange
        val dead = Seq("orig_src_ip6", "orig_dst_ip6",
          "reply_src_ip6", "reply_dst_ip6", "is_ipv6")
          .filter(flows.columns.contains)
        flows.filter(!pred).drop(dead: _*)
      case None => flows
    }

  // ---- F6/J2: node-flow anti-join (labeler.go:407-427) ----
  def dropNodeFlows(nodes: DataFrame)(flows: DataFrame): DataFrame = {
    val ips = broadcast(nodes.select(col("node_internal_ip").as("nip")))
    flows
      .join(ips, col("orig_src_ip") === col("nip"), "left_anti")
      .join(ips, col("reply_src_ip") === col("nip"), "left_anti")
  }

  // ---- J1×2 + J3 + P4: pod enrichment and direction resolution ----
  /** NAT-aware endpoint derivation (labeler.go getEndpointsForFlow): the
    * src endpoint is the ORIGINAL tuple's source, the dst endpoint is the
    * REPLY tuple's source — under DNAT (k8s service VIPs) orig_dst holds
    * the pre-NAT VIP while reply_src is the real backend, so all dst
    * identity (pod lookup, remote IP for LPM, ports) flows from reply_src.
    *
    * Direction (getFlowType, labeler.go:475-499) with the assume-local
    * fallbacks: an unknown IP talking to a pod known to live on a node is
    * assumed to be the local side. Flows where either endpoint IP maps to
    * more than one pod are labeling ERRORS (getEndpointsForFlow) — they
    * are excluded here and surface as `error_ambiguous_pod_ip` outcome
    * rows in [[routeOutcomes]]. Remaining unattributable flows get
    * direction NULL and are dropped by F7.
    */
  /** Sources that don't carry reply-tuple ports or flags get the non-NAT
    * conntrack defaults (reply_src_port = orig_dst_port etc.). */
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

  /** The getFlowType truth table (labeler.go:475-499) as four predicates
    * over (src/dst pod identity, pod node, observing node) — ONE source
    * of truth shared by [[resolveDirection]] and [[routeOutcomes]], whose
    * pod-join shapes differ but whose direction semantics must not.
    * Returns (srcLocal, dstLocal, srcAssumedLocal, dstAssumedLocal);
    * precedence is the when-cascade order.
    */
  private def directionPredicates(srcId: Column, srcNode: Column,
      dstId: Column, dstNode: Column): (Column, Column, Column, Column) = {
    val srcLocal = srcId.isNotNull && srcNode === col("node_name")
    val dstLocal = dstId.isNotNull && dstNode === col("node_name")
    // assume-local fallbacks: unknown IP talking to a pod known to live
    // on a node -> the unknown side must be the local one
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
    // Go zero-value strings for missing pod identity, like the reference
    def localF(f: String) =
      coalesce(when(isFrom, col("src_" + f)).otherwise(col("dst_" + f)), lit(""))
    def remoteF(f: String) =
      coalesce(when(isFrom, col("dst_" + f)).otherwise(col("src_" + f)), lit(""))
    val resolved = typed.select(
      col("flow_id"), col("ts"), col("proto"), col("connection_flags"),
      col("flow_type"),
      // the inserted node is the LOCAL POD's node (FlowData.LocalNode,
      // labeler.go:337-345) — empty when the local side is an
      // assumed-local unknown IP, even though the observing node is known
      localF("pod_node").as("node_name"),
      localF("pod_name").as("local_pod"),
      localF("pod_namespace").as("local_namespace"),
      localF("pod_app").as("local_app"),
      localF("pod_instance").as("local_instance"),
      when(isFrom, col("orig_src_ip")).otherwise(col("reply_src_ip")).as("local_ip"),
      when(isFrom, col("orig_src_port")).otherwise(col("reply_src_port")).as("local_port"),
      when(isFrom, col("reply_src_ip")).otherwise(col("orig_src_ip")).as("remote_ip"),
      when(isFrom, col("reply_src_port")).otherwise(col("orig_src_port")).as("remote_port"),
      // remote pod enrichment (other endpoint may also be a known pod,
      // possibly on another node — labeler.go:352-373)
      when(isFrom, col("dst_pod_app")).otherwise(col("src_pod_app")).as("remote_app_raw"),
      remoteF("pod_name").as("remote_pod"),
      remoteF("pod_namespace").as("remote_namespace"),
      remoteF("pod_instance").as("remote_instance"),
      remoteF("pod_node").as("remote_node"),
      // counter swap: out = traffic leaving the local pod
      when(isFrom, col("orig_bytes")).otherwise(col("reply_bytes")).as("bytes_out"),
      when(isFrom, col("orig_pkts")).otherwise(col("reply_pkts")).as("pkts_out"),
      when(isFrom, col("reply_bytes")).otherwise(col("orig_bytes")).as("bytes_in"),
      when(isFrom, col("reply_pkts")).otherwise(col("orig_pkts")).as("pkts_in"))
    // J3: local + remote node zones (topology.kubernetes.io/zone), both
    // resolved via the POD's node (node_name is now the local pod's node)
    val zones = nodes.select(col("node_id"), col("node_zone"))
    resolved
      .join(broadcast(zones), col("node_name") === col("node_id"), "left_outer")
      .drop("node_id")
      // unknown node -> empty zone, like the reference's missing label
      .withColumn("local_zone", coalesce(col("node_zone"), lit("")))
      .drop("node_zone")
      .join(broadcast(zones.toDF("r_node_id", "r_node_zone")),
        col("remote_node") === col("r_node_id"), "left_outer")
      .drop("r_node_id")
      .withColumn("remote_zone", coalesce(col("r_node_zone"), lit("")))
      .drop("r_node_zone")
  }

  // ---- F7: drop unlabelable flows (labeler.go:319-331,493-498) ----
  def dropUnlabeled(flows: DataFrame): DataFrame =
    flows.filter(col("flow_type").isNotNull)

  // ---- J5: longest-prefix-match classification + P3 proto naming ----
  /** Longest matching prefix per observation ([[LpmJoin.viaTrie]]),
    * classified per the remote.go:131-175 / remote_test.go:76-220 truth
    * table.
    */
  def classify(prefixes: DataFrame, cfg: FlowConfig)(flows: DataFrame): DataFrame = {
    val matched = LpmJoin.viaTrie(flows, prefixes, col("remote_ip"))
    matched.select(
      flows.columns.map(col) ++ Seq(
        when(ip_is_private(col("remote_ip")), lit("INTRA_VPC"))
          .when(col("p_cloud").isNull, lit("PUBLIC_INTERNET"))
          // same-cloud match with an undetermined region is a labeling
          // ERROR, not INTER_REGION (remote.go:151-155); run() drops it
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

  // ---- O3: directional fan-out (worker.go:143-222) ----
  def fanOut(flows: DataFrame): DataFrame = {
    val keep = flows.columns
      .filterNot(Set("bytes_out", "pkts_out", "bytes_in", "pkts_in"))
      .map(col)
    flows.select(keep :+ explode(array(
      struct(lit("out").as("direction"), col("bytes_out").as("bytes"),
        col("pkts_out").as("packets")),
      struct(lit("in").as("direction"), col("bytes_in").as("bytes"),
        col("pkts_in").as("packets")))).as("dd"): _*)
      .select(keep ++ Seq(col("dd.direction").as("direction"),
        col("dd.bytes").as("bytes"), col("dd.packets").as("packets")): _*)
  }

  /** Dimension key of the summing table — the full ORDER BY tuple of the
    * reference DDL (test/network_flows_0.sql:42) incl. endpoint IPs and
    * ports; localCell/remoteCell are intentionally absent (never
    * populated by the reference either, SURVEY.md §1.3).
    */
  val dimensionKey: Seq[String] = Seq(
    "date", "interval_start", "interval_seconds", "direction", "proto_name",
    "connection_class", "node_name", "local_zone", "local_namespace",
    "local_pod", "local_app", "local_instance", "local_ip", "local_port",
    "remote_cloud", "remote_region", "remote_service", "remote_app",
    "remote_pod", "remote_namespace", "remote_instance", "remote_node",
    "remote_zone", "remote_ip", "remote_port", "connection_flags")

  // ---- P8 + W1 + A1: minute truncation + summing aggregation ----
  /** Also serializes P9's connection-flags map (labeler.go:69-77) to JSON
    * right before the groupBy — Spark cannot group by MapType, and the
    * reference's ClickHouse client serializes the map the same way.
    */
  def summarize(flows: DataFrame): DataFrame =
    flows
      .withColumn("date", to_date(col("ts")))
      .withColumn("interval_start", date_trunc("minute", col("ts")))
      .withColumn("interval_seconds", lit(60))
      .withColumn("connection_flags", to_json(col("connection_flags")))
      .groupBy(dimensionKey.map(col): _*)
      .agg(sum("bytes").as("bytes"), sum("packets").as("packets"),
        count(lit(1)).as("n_obs"))

  // ---- P7: per-deployment constant annotation (inserter.go:20-25,
  //      worker.go:147-158; remoteCluster always "UNKNOWN", cells "") ----
  def annotateConstants(cfg: FlowConfig)(summed: DataFrame): DataFrame =
    summed
      .withColumn("local_cloud", lit(cfg.localCloud))
      .withColumn("local_region", lit(cfg.localRegion))
      .withColumn("local_cluster", lit(cfg.localCluster))
      .withColumn("environment", lit(cfg.environment))
      .withColumn("remote_cluster", lit("UNKNOWN"))
      .withColumn("local_cell", lit(""))
      .withColumn("remote_cell", lit(""))

  /** Same-cloud LPM match with empty region is a labeling ERROR
    * (remote.go:151-155): the reference refuses to insert the flow and
    * bumps `intra_cloud_empty_region`; here the row is excluded from the
    * summing table and surfaces via [[routeOutcomes]].
    */
  def dropClassifyErrors(flows: DataFrame): DataFrame =
    flows.filter(!col("connection_class").startsWith("ERROR_"))

  /** Full batch pipeline: raw flow observations → summing table rows. */
  def run(flows: DataFrame, pods: DataFrame, nodes: DataFrame,
      prefixes: DataFrame, cfg: FlowConfig = FlowConfig()): DataFrame = {
    val labeled = flows
      .transform(filterJunk)
      .transform(dropUdp(cfg))
      .transform(dropIpv6)
      .transform(dropNodeFlows(nodes))
      .transform(resolveDirection(pods, nodes))
      .transform(dropUnlabeled)
      .transform(classify(prefixes, cfg))
      .transform(dropClassifyErrors)
    annotateConstants(cfg)(summarize(fanOut(labeled)))
  }

  // ---- F8: error routing — the good/bad outcome taxonomy as data
  //      (server.go:100-117, labeler.go:21-44), not exceptions ----
  /** Classifies EVERY raw observation into the reference's outcome
    * taxonomy instead of silently dropping, so operational metrics
    * (`count by outcome`) fall out of the same plan. Precedence follows
    * the reference's check order.
    */
  def routeOutcomes(pods: DataFrame, nodes: DataFrame, prefixes: DataFrame,
      cfg: FlowConfig)(flows: DataFrame): DataFrame = {
    // distinct: this is an existence check — duplicate node_internal_ip
    // rows (informer churn) must not fan flow rows out through the join
    val nodeIps = broadcast(nodes.select(col("node_internal_ip")).distinct())
    // >1 pod claiming one IP is a labeling ERROR ROW, not an exception
    // (labeler.go:449-469, server.go:100-117) — the stream must survive
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
      // dst endpoint = reply tuple's source (NAT-aware, like resolveDirection)
      .join(dst, col("reply_src_ip") === col("dst_pod_ip"), "left_outer")
    val localhost = lit(SyntheticFlows.LOCALHOST)
    val (srcLocal, dstLocal, srcAssumed, dstAssumed) = directionPredicates(
      col("src_pod_ip"), col("src_pod_node"),
      col("dst_pod_ip"), col("dst_pod_node"))
    val directed = srcLocal || dstLocal || srcAssumed || dstAssumed
    val isFrom = srcLocal || (!dstLocal && srcAssumed)
    // LPM over the resolved remote so the same-cloud-empty-region error
    // (remote.go:151-155) lands in the taxonomy, not in the summing table
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
        // ErrIPv6Flow (labeler.go:243-247) — run() drops these via
        // dropIpv6, so the taxonomy must account for them too
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

/** Longest-prefix-match join (SURVEY.md §2.4 J5). */
object LpmJoin {
  /** Collect the (small) prefix dim on the driver, build an
    * [[Ipv4Trie]], probe with the native codegen'd [[TrieLpm]]
    * expression (the trie ships as a plan reference object —
    * per-executor deserialization like a broadcast, zero UDF boxing), then
    * broadcast-hash-join the payload columns back on. O(32) per probe,
    * no shuffle, no window: each observation keeps its own match, which
    * also makes it usable under Structured Streaming. Null-extends when
    * no prefix matches (public-internet default, remote.go:177-186).
    * Mirrors the reference's in-memory patricia trie under RWMutex
    * (remote.go:22-26).
    */
  def viaTrie(flows: DataFrame, prefixes: DataFrame, ip: Column): DataFrame = {
    val spark = flows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val rows = prefixes
      .select(col("p_start"), col("p_len"), col("p_cloud"), col("p_region"),
        col("p_service"))
      .collect()
    val trie = Ipv4Trie.build(rows.zipWithIndex.map { case (r, i) =>
      (r.getLong(0), r.getInt(1), i)
    })
    val payload = rows.zipWithIndex.map { case (r, i) =>
      (i, r.getInt(1), r.getString(2), r.getString(3), r.getString(4))
    }.toSeq.toDF("__pidx", "p_len", "p_cloud", "p_region", "p_service")
    flows.withColumn("__p", column(TrieLpm(expression(ip), trie)))
      .join(broadcast(payload), col("__p") === col("__pidx"), "left_outer")
      .drop("__p", "__pidx")
  }
}
