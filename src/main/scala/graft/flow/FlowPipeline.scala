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

  // ---- F1-F5: the checks that read raw columns only ----
  /** A predicate a kept flow satisfies, named by the outcome of a flow
    * that fails it. NULL fails, as a filter drops it. */
  private type Check = (String, Column)

  /** F1-F3 (collector.go:227-247). The localhost check is null-safe:
    * pure-v6 flows (NULL v4 columns) must reach the IPv6 check. */
  private val junkChecks: Seq[Check] = Seq(
    "ignored_zero" -> (col("orig_bytes") > 0 || col("orig_pkts") > 0 ||
      col("reply_bytes") > 0 || col("reply_pkts") > 0),
    "ignored_proto" -> col("proto").isin(6, 17),
    "ignored_localhost" -> Seq("orig_src_ip", "orig_dst_ip", "reply_src_ip",
      "reply_dst_ip").map(c => !(col(c) <=> SyntheticFlows.LOCALHOST)).reduce(_ && _))

  /** F4, the configurable UDP drop (labeler.go:183-188). */
  private def udpChecks(cfg: FlowConfig): Seq[Check] =
    if (cfg.ignoreUDP) Seq("ignored_udp" -> (col("proto") =!= 17)) else Nil

  /** F5, the IPv6 drop (labeler.go:243-247,379-405): the proto's v6
    * endpoint branch (flow_handler.proto:30-41) surfaces as nullable
    * `*_ip6` columns or an `is_ipv6` flag (NULL = v4); any v6 endpoint
    * drops the flow (ErrIPv6Flow). No check for a pure-v4 schema. */
  private def ipv6Checks(flows: DataFrame): Seq[Check] = {
    val isV6 = v6Columns.filter(flows.columns.contains).map {
      case "is_ipv6" => coalesce(col("is_ipv6"), lit(false))
      case c => col(c).isNotNull
    }
    isV6.reduceOption(_ || _).map(v6 => "ignored_ipv6" -> !v6).toSeq
  }

  private val v6Columns = Seq("orig_src_ip6", "orig_dst_ip6", "reply_src_ip6",
    "reply_dst_ip6", "is_ipv6")

  private def keep(checks: Seq[Check])(flows: DataFrame): DataFrame =
    checks.foldLeft(flows) { case (df, (_, pass)) => df.filter(pass) }

  def filterJunk(flows: DataFrame): DataFrame = keep(junkChecks)(flows)

  def dropUdp(cfg: FlowConfig)(flows: DataFrame): DataFrame =
    keep(udpChecks(cfg))(flows)

  /** Also drops the v6 columns, all NULL on surviving rows, so they ride
    * no downstream exchange. */
  def dropIpv6(flows: DataFrame): DataFrame =
    keep(ipv6Checks(flows))(flows).drop(v6Columns: _*)

  // ---- F6/J2: node flows (labeler.go:407-427) ----
  /** Flags (`__node_flow`) a flow whose orig or reply source is a node
    * IP; distinct, so duplicate node rows fan no flow out. Dimension
    * aggregates run on one partition: broadcast whole anyway, unshuffled.
    */
  private def flagNodeFlows(nodes: DataFrame)(flows: DataFrame): DataFrame = {
    val ips = broadcast(nodes.select(col("node_internal_ip")).coalesce(1).distinct())
    flows
      .join(ips.toDF("__n1"), col("orig_src_ip") === col("__n1"), "left_outer")
      .join(ips.toDF("__n2"), col("reply_src_ip") === col("__n2"), "left_outer")
      .withColumn("__node_flow", col("__n1").isNotNull || col("__n2").isNotNull)
      .drop("__n1", "__n2")
  }

  def dropNodeFlows(nodes: DataFrame)(flows: DataFrame): DataFrame =
    flagNodeFlows(nodes)(flows).filter(!col("__node_flow")).drop("__node_flow")

  // ---- J1×2 + J3 + P4: pod enrichment and direction resolution ----
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

  /** Joins both endpoints to pods keyed by IP: `pod_n` counts the pods
    * claiming the IP, and the pod's node zone rides along (one per node
    * id). NAT-aware (getEndpointsForFlow): `src_*` is the ORIGINAL
    * tuple's source, `dst_*` the REPLY tuple's — under DNAT orig_dst is
    * the service VIP while reply_src is the real backend. */
  private def joinPods(pods: DataFrame, nodes: DataFrame)(flows: DataFrame): DataFrame = {
    val zones = nodes.coalesce(1).groupBy(col("node_id"))
      .agg(max(col("node_zone")).as("pod_zone"))
    val byIp = pods.coalesce(1).groupBy(col("pod_ip"))
      .agg(count(lit(1)).as("pod_n"), Seq("pod_name", "pod_namespace",
        "pod_node", "pod_app", "pod_instance").map(c => max(col(c)).as(c)): _*)
      .join(broadcast(zones), col("pod_node") === col("node_id"), "left_outer")
      .drop("node_id")
    def side(p: String) = broadcast(byIp.toDF(byIp.columns.map(p + _): _*))
    flows
      .join(side("src_"), col("orig_src_ip") === col("src_pod_ip"), "left_outer")
      .join(side("dst_"), col("reply_src_ip") === col("dst_pod_ip"), "left_outer")
  }

  /** Two pods claim an endpoint's IP: a labeling ERROR row, not an
    * exception (labeler.go:449-469, server.go:100-117). */
  private val ambiguousPodIp: Column =
    coalesce(col("src_pod_n"), lit(0L)) > 1 || coalesce(col("dst_pod_n"), lit(0L)) > 1

  /** getFlowType (labeler.go:475-499) with the assume-local fallbacks:
    * an unknown IP talking to a pod on a known node is the local side. */
  private val flowType: Column = {
    val src = col("src_pod_ip").isNotNull
    val dst = col("dst_pod_ip").isNotNull
    when(src && col("src_pod_node") === col("node_name"), lit("fromPod"))
      .when(dst && col("dst_pod_node") === col("node_name"), lit("toPod"))
      .when(!src && dst && col("dst_pod_node") =!= "", lit("fromPod"))
      .when(src && col("src_pod_node") =!= "" && !dst, lit("toPod"))
      .otherwise(lit(null).cast("string"))
  }

  /** [[resolveDirection]]'s columns after `flow_type`; the local pod's
    * node is `local_node`, so the observing `node_name` can stay. */
  private def directed: Seq[Column] = {
    val isFrom = col("flow_type") === "fromPod"
    def pick(from: String, to: String) = when(isFrom, col(from)).otherwise(col(to))
    // Go zero-value strings for missing pod identity, like the reference
    def localF(f: String) = coalesce(pick("src_" + f, "dst_" + f), lit(""))
    def remoteF(f: String) = coalesce(pick("dst_" + f, "src_" + f), lit(""))
    Seq(
      // the inserted node is the LOCAL POD's node (FlowData.LocalNode,
      // labeler.go:337-345) — empty when the local side is an
      // assumed-local unknown IP, even though the observing node is known
      localF("pod_node").as("local_node"),
      localF("pod_name").as("local_pod"),
      localF("pod_namespace").as("local_namespace"),
      localF("pod_app").as("local_app"),
      localF("pod_instance").as("local_instance"),
      pick("orig_src_ip", "reply_src_ip").as("local_ip"),
      pick("orig_src_port", "reply_src_port").as("local_port"),
      pick("reply_src_ip", "orig_src_ip").as("remote_ip"),
      pick("reply_src_port", "orig_src_port").as("remote_port"),
      // remote pod enrichment (other endpoint may also be a known pod,
      // possibly on another node — labeler.go:352-373)
      pick("dst_pod_app", "src_pod_app").as("remote_app_raw"),
      remoteF("pod_name").as("remote_pod"),
      remoteF("pod_namespace").as("remote_namespace"),
      remoteF("pod_instance").as("remote_instance"),
      remoteF("pod_node").as("remote_node"),
      // counter swap: out = traffic leaving the local pod
      pick("orig_bytes", "reply_bytes").as("bytes_out"),
      pick("orig_pkts", "reply_pkts").as("pkts_out"),
      pick("reply_bytes", "orig_bytes").as("bytes_in"),
      pick("reply_pkts", "orig_pkts").as("pkts_in"),
      // local + remote node zones, both via the POD's node
      localF("pod_zone").as("local_zone"),
      remoteF("pod_zone").as("remote_zone"))
  }

  /** The columns a flow keeps through [[resolveDirection]] unchanged. */
  private val carried = Seq("flow_id", "ts", "proto", "connection_flags")

  /** Pod enrichment and direction per flow. Flows where either endpoint
    * IP maps to more than one pod are excluded here (they are
    * `error_ambiguous_pod_ip` in [[label]]); the rest that cannot be
    * attributed get direction NULL and are dropped by F7.
    */
  def resolveDirection(pods: DataFrame, nodes: DataFrame)(flows: DataFrame): DataFrame =
    withFlowDefaults(flows)
      .transform(joinPods(pods, nodes))
      .filter(!ambiguousPodIp)
      .withColumn("flow_type", flowType)
      .select((carried :+ "flow_type").map(col) ++ directed: _*)
      .withColumnRenamed("local_node", "node_name")

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

  // ---- F8: the labeler — the good/bad outcome taxonomy as data
  //      (server.go:100-117, labeler.go:21-44), not exceptions ----
  /** Tags EVERY raw observation, like one labeler call per flow that
    * returns a labeled `FlowData` or why the flow was dropped: the
    * input's columns, `outcome`, and `flow`, the labeled record
    * ([[resolveDirection]]'s columns then [[classify]]'s). The outcome
    * is the first failing check in the reference's order — those of
    * [[filterJunk]], [[dropUdp]], [[dropIpv6]], then node flow,
    * ambiguous pod IP, direction and same-cloud empty region
    * (remote.go:151-155) — or `labeled`. One node-IP join, one pods join
    * per endpoint and one LPM probe serve every check. */
  def label(pods: DataFrame, nodes: DataFrame, prefixes: DataFrame,
      cfg: FlowConfig)(flows: DataFrame): DataFrame = {
    val (classified, checks) = checked(pods, nodes, prefixes, cfg)(flows)
    val failed = checks.map { case (o, pass) => (!coalesce(pass, lit(false)), lit(o)) }
    val outcome = failed.tail
      .foldLeft(when(failed.head._1, failed.head._2)) { case (w, (f, o)) => w.when(f, o) }
      .otherwise(lit("labeled"))
    classified.select(flows.columns.map(col) ++ Seq(outcome.as("outcome"),
      struct(record(classified): _*).as("flow")): _*)
  }

  /** [[label]] before the outcome folds its checks: the input's columns,
    * the node-flow and ambiguity flags, `flow_type`, the directed and
    * [[classify]]'s columns; and the checks in order. */
  private def checked(pods: DataFrame, nodes: DataFrame, prefixes: DataFrame,
      cfg: FlowConfig)(flows: DataFrame): (DataFrame, Seq[Check]) = {
    val raw = withFlowDefaults(flows)
    val classified = raw
      .transform(flagNodeFlows(nodes))
      .transform(joinPods(pods, nodes))
      .withColumn("flow_type", flowType)
      .select(raw.columns.map(col) ++ Seq(col("__node_flow"),
        ambiguousPodIp.as("__ambiguous"), col("flow_type")) ++ directed: _*)
      .transform(classify(prefixes, cfg))
    (classified, junkChecks ++ udpChecks(cfg) ++ ipv6Checks(flows) ++ Seq(
      "ignored_node_flow" -> !col("__node_flow"),
      "error_ambiguous_pod_ip" -> !col("__ambiguous"),
      "unknown_direction" -> col("flow_type").isNotNull,
      "error_intra_cloud_empty_region" -> !col("connection_class").startsWith("ERROR_")))
  }

  /** The labeled record: [[resolveDirection]]'s columns, then
    * [[classify]]'s. */
  private def record(classified: DataFrame): Seq[Column] =
    carried.map(col) ++ classified.columns.dropWhile(_ != "flow_type").map {
      case "local_node" => col("local_node").as("node_name")
      case c => col(c)
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

  /** The labeled records of a [[label]]ed frame. */
  def keepLabeled(labeled: DataFrame): DataFrame =
    labeled.filter(col("outcome") === "labeled").select(col("flow.*"))

  /** The flows [[run]] sums, as labeled records: the raw-column filters,
    * then [[label]] kept to `labeled`. The filters come first so that
    * junk never reaches a join or the trie; keeping a row by each check
    * rather than by the folded outcome lets every check drop its rows
    * right after the join it reads, as [[keepLabeled]] cannot.
    */
  def labeledFlows(pods: DataFrame, nodes: DataFrame, prefixes: DataFrame,
      cfg: FlowConfig)(flows: DataFrame): DataFrame = {
    val (classified, checks) = checked(pods, nodes, prefixes, cfg)(
      flows.transform(filterJunk).transform(dropUdp(cfg)).transform(dropIpv6))
    keep(checks)(classified).select(record(classified): _*)
  }

  /** Full batch pipeline: raw flow observations → summing table rows —
    * [[labeledFlows]], fanned out, summed per minute and annotated.
    */
  def run(flows: DataFrame, pods: DataFrame, nodes: DataFrame,
      prefixes: DataFrame, cfg: FlowConfig = FlowConfig()): DataFrame =
    annotateConstants(cfg)(summarize(fanOut(
      labeledFlows(pods, nodes, prefixes, cfg)(flows))))

  /** EVERY raw observation with its outcome: [[label]] projected to the
    * input's columns plus `outcome`, so operational metrics (`count by
    * outcome`) come from the plan the summing table does. The rows it
    * tags `labeled` are exactly the ones [[run]] sums.
    */
  def routeOutcomes(pods: DataFrame, nodes: DataFrame, prefixes: DataFrame,
      cfg: FlowConfig)(flows: DataFrame): DataFrame =
    label(pods, nodes, prefixes, cfg)(flows).drop("flow")
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
    val rows = graft.Graft.describing(spark, "LpmJoin prefix collect")(
      prefixes.select(col("p_start"), col("p_len"), col("p_cloud"),
        col("p_region"), col("p_service")).collect())
    val trie = Ipv4Trie.build(rows.zipWithIndex.map { case (r, i) =>
      (r.getLong(0), r.getInt(1), i)
    })
    val payload = rows.zipWithIndex.map { case (r, i) =>
      (i, r.getInt(1), r.getString(2), r.getString(3), r.getString(4))
    }.toSeq.toDF("__pidx", "p_len", "p_cloud", "p_region", "p_service")
    // the probe leads the projection, so a plan string shows it however
    // wide the frame (it truncates a long column list)
    flows.select(column(TrieLpm(expression(ip), trie)).as("__p") +:
        flows.columns.map(col): _*)
      .join(broadcast(payload), col("__p") === col("__pidx"), "left_outer")
      .drop("__p", "__pidx")
  }
}
