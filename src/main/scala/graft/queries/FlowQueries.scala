package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.flow.{FlowConfig, FlowPipeline, SyntheticFlows, FlowSql}
import graft.functions.ipfns._

/** The kubenetmon flow-pipeline operator surface (SURVEY.md §2), one
  * oracle-checked query per stage plus the full end-to-end summing table.
  * Inputs are derived deterministically from the testdata (SyntheticFlows)
  * so the DuckDB oracle (FlowSql) reproduces them bit-for-bit.
  */
object FlowQueries {
  private val cfg = FlowConfig()

  private def stages(s: SparkSession, d: String) = {
    val f = SyntheticFlows.flows(s, d)
    val p = SyntheticFlows.pods(s, d)
    val n = SyntheticFlows.nodes(s, d)
    val px = SyntheticFlows.prefixes(s, d)
    (f, p, n, px)
  }

  /** DuckDB dotted-quad + RFC1918/loopback/link-local mirrors. */
  private def sqlIpStr(c: String) =
    s"CAST($c // 16777216 AS VARCHAR) || '.' || CAST(($c // 65536) % 256 AS VARCHAR)" +
      s" || '.' || CAST(($c // 256) % 256 AS VARCHAR) || '.' || CAST($c % 256 AS VARCHAR)"
  private def sqlIsPrivate(c: String) =
    s"(($c >= 167772160 AND $c <= 184549375) OR ($c >= 2886729728 AND $c <= 2887778303)" +
      s" OR ($c >= 3232235520 AND $c <= 3232301055) OR ($c >= 2130706432 AND $c <= 2147483647)" +
      s" OR ($c >= 2851995648 AND $c <= 2852061183))"
  private def sqlReadable(c: String) =
    s"""CASE WHEN $c >= 1099511627776 THEN printf('%.2f TiB', $c/1099511627776.0)
       |  WHEN $c >= 1073741824 THEN printf('%.2f GiB', $c/1073741824.0)
       |  WHEN $c >= 1048576 THEN printf('%.2f MiB', $c/1048576.0)
       |  WHEN $c >= 1024 THEN printf('%.2f KiB', $c/1024.0)
       |  ELSE printf('%.2f B', CAST($c AS DOUBLE)) END""".stripMargin

  /** Per-flow outcome taxonomy CTE (`oc`), shared by the qf_outcomes
    * and qf_metric_families oracles — the SQL mirror of
    * `FlowPipeline.routeOutcomes`.
    */
  private lazy val outcomesCte: String =
    s"""${FlowSql.base}, ob AS (
       |  SELECT f.*,
       |    sp.pod_ip AS sp_ip, sp.pod_node AS sp_node, sp.pod_ip_n AS src_n,
       |    dp.pod_ip AS dp_ip, dp.pod_node AS dp_node, dp.pod_ip_n AS dst_n,
       |    EXISTS (SELECT 1 FROM nodes n WHERE f.orig_src_ip = n.node_internal_ip) AS nf1,
       |    EXISTS (SELECT 1 FROM nodes n WHERE f.reply_src_ip = n.node_internal_ip) AS nf2
       |  FROM flows f
       |  LEFT JOIN (SELECT pod_ip, COUNT(*) AS pod_ip_n, MAX(pod_node) AS pod_node
       |             FROM pods GROUP BY 1) sp ON f.orig_src_ip = sp.pod_ip
       |  LEFT JOIN (SELECT pod_ip, COUNT(*) AS pod_ip_n, MAX(pod_node) AS pod_node
       |             FROM pods GROUP BY 1) dp ON f.reply_src_ip = dp.pod_ip
       |), od AS (
       |  SELECT *,
       |    (sp_ip IS NOT NULL AND sp_node = node_name) AS src_local,
       |    (dp_ip IS NOT NULL AND dp_node = node_name) AS dst_local,
       |    (sp_ip IS NULL AND dp_ip IS NOT NULL AND dp_node <> '') AS src_asm,
       |    (sp_ip IS NOT NULL AND sp_node <> '' AND dp_ip IS NULL) AS dst_asm
       |  FROM ob
       |), orm AS (
       |  SELECT *, CASE WHEN src_local OR (NOT dst_local AND src_asm)
       |    THEN reply_src_ip ELSE orig_src_ip END AS remote_ip2
       |  FROM od
       |), olpm AS (
       |  SELECT o.*, p.p_cloud AS pc, p.p_region AS pr,
       |    ROW_NUMBER() OVER (PARTITION BY o.flow_id
       |      ORDER BY p.p_len DESC NULLS LAST) AS rn
       |  FROM orm o
       |  LEFT JOIN prefixes p ON o.remote_ip2 BETWEEN p.p_start AND p.p_end
       |), oc AS (
       |  SELECT orig_bytes, CASE
       |    WHEN NOT (orig_bytes > 0 OR orig_pkts > 0
       |      OR reply_bytes > 0 OR reply_pkts > 0) THEN 'ignored_zero'
       |    WHEN proto NOT IN (6, 17) THEN 'ignored_proto'
       |    WHEN orig_src_ip = 2130706433 OR orig_dst_ip = 2130706433
       |      OR reply_src_ip = 2130706433 OR reply_dst_ip = 2130706433
       |      THEN 'ignored_localhost'
       |    WHEN proto = 17 THEN 'ignored_udp'
       |    WHEN is6 THEN 'ignored_ipv6'
       |    WHEN nf1 OR nf2 THEN 'ignored_node_flow'
       |    WHEN src_n > 1 OR dst_n > 1 THEN 'error_ambiguous_pod_ip'
       |    WHEN NOT (src_local OR dst_local OR src_asm OR dst_asm)
       |      THEN 'unknown_direction'
       |    WHEN NOT ${sqlIsPrivate("remote_ip2")} AND pc = 'aws' AND pr = ''
       |      THEN 'error_intra_cloud_empty_region'
       |    ELSE 'labeled' END AS outcome
       |  FROM olpm WHERE rn = 1)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A5's data side as a DRIVER GATE: the per-outcome counts tagged
    // with the reference Prometheus counter family each outcome feeds
    // — what MetricsExporter.counters folds from the outcome commits
    // of StreamingFlows.start, computed over the whole corpus so the
    // oracle can replay it
    "qf_metric_families" -> ((s, d) => {
      val (f, p, n, px) = stages(s, d)
      FlowPipeline.routeOutcomes(p, n, px, cfg)(f)
        .groupBy("outcome").agg(count(lit(1)).as("n"))
        .withColumn("fam", graft.streaming.StreamingFlows.outcomeFamily)
        .select(col("fam.family").as("family"), col("fam.label").as("label"),
          col("outcome"), col("n"))
        .orderBy("family", "label", "outcome")
    }),
    // J6 multi-watcher priority chain as a DRIVER GATE (labeler.go:
    // 198-232, first non-nil match wins): three overlapping informer
    // snapshots of the pod dim — a partial high-priority watcher
    // (every 3rd pod), a wider mid-priority one (every 2nd), and the
    // full low-priority fallback — collapse through
    // Dims.firstMatchByPriority into ONE broadcastable dim; the suffix
    // on pod_app proves per key which watcher won.
    "qf_dim_chain" -> ((s, d) => {
      val pods = SyntheticFlows.pods(s, d)
      def snap(m: Int, tag: String) =
        pods.filter((col("pod_ip") % m) === 0)
          .withColumn("pod_app", concat(col("pod_app"), lit(tag)))
      val chain = Seq(snap(3, "-w0"), snap(2, "-w1"),
        pods.withColumn("pod_app", concat(col("pod_app"), lit("-w2"))))
      graft.dims.Dims.firstMatchByPriority(chain, "pod_ip")
        .select("pod_ip", "pod_name", "pod_app")
        .orderBy("pod_ip")
    }),

    // S3's engine-visible ingest contract as a DRIVER GATE: records
    // cross the network boundary one message at a time and are TYPED ON
    // ENTRY, with malformed messages dying in the null-safe filters —
    // never killing the long-running query (server.go:100-117 drops bad
    // observations, it does not crash). The gate serializes every flow
    // to the agent's CSV wire shape (null fields as empty — concat_ws
    // alone would silently SHIFT the framing), mangles every 37th
    // message, round-trips through parseFlowLines' PERMISSIVE from_csv
    // (the same decode the socket source uses), and aggregates
    // survivors + a malformed-count row. The oracle computes the
    // expected post-roundtrip state directly from the flow CTE, so any
    // framing drift, type coercion loss, or crash-on-garbage
    // hash-mismatches.
    "qf_wire_decode" -> ((s, d) => {
      val f = SyntheticFlows.flows(s, d)
      def fld(c: String) = coalesce(col(c).cast("string"), lit(""))
      val line = concat_ws(",",
        fld("flow_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
        fld("node_name"), fld("proto"),
        fld("orig_src_ip"), fld("orig_dst_ip"),
        fld("orig_src_port"), fld("orig_dst_port"),
        fld("reply_src_ip"), fld("reply_dst_ip"),
        fld("orig_pkts"), fld("orig_bytes"),
        fld("reply_pkts"), fld("reply_bytes"),
        fld("reply_src_port"), fld("reply_dst_port"))
      val wire = f.select(
        when(col("flow_id") % 37 === 0, lit("garbage,not-a-time,x"))
          .otherwise(line).as("value"))
      val parsed = graft.streaming.StreamingFlows.parseFlowLines(wire)
      val surv = FlowPipeline.filterJunk(parsed)
        .groupBy("proto")
        .agg(count(lit(1)).as("n"), sum("orig_bytes").as("orig_bytes_sum"))
      val bad = parsed.filter(col("flow_id").isNull)
        .agg(count(lit(1)).as("n"))
        .select(lit(-1).as("proto"), col("n"),
          lit(0L).as("orig_bytes_sum"))
      surv.unionByName(bad).orderBy("proto")
    }),

    // F1-F3: junk filters, surviving traffic by proto
    "qf_filters" -> ((s, d) => {
      val (f, _, _, _) = stages(s, d)
      FlowPipeline.filterJunk(f)
        .groupBy("proto")
        .agg(count(lit(1)).as("n"), sum("orig_bytes").as("orig_bytes_sum"))
        .orderBy("proto")
    }),

    // F4+F6: UDP drop + node-flow anti-join, per observing node
    "qf_node_anti" -> ((s, d) => {
      val (f, _, n, _) = stages(s, d)
      f.transform(FlowPipeline.filterJunk)
        .transform(FlowPipeline.dropUdp(cfg))
        .transform(FlowPipeline.dropIpv6)
        .transform(FlowPipeline.dropNodeFlows(n))
        .groupBy("node_name").agg(count(lit(1)).as("n"))
        .orderBy("node_name")
    }),

    // J1/J3/P4-P6: enrichment + direction resolution, per-flow record
    "qf_direction" -> ((s, d) => {
      val (f, p, n, _) = stages(s, d)
      f.transform(FlowPipeline.filterJunk)
        .transform(FlowPipeline.dropUdp(cfg))
        .transform(FlowPipeline.dropIpv6)
        .transform(FlowPipeline.dropNodeFlows(n))
        .transform(FlowPipeline.resolveDirection(p, n))
        .transform(FlowPipeline.dropUnlabeled)
        .select(col("flow_id"), col("flow_type"), col("local_pod"),
          col("local_namespace"), col("local_app"), col("local_zone"),
          col("local_port"), col("remote_port"),
          long_to_ip(col("remote_ip")).as("remote_ip_str"),
          col("bytes_out"), col("pkts_out"), col("bytes_in"), col("pkts_in"))
        .orderBy("flow_id")
    }),

    // J5: longest-prefix-match over public remotes
    "qf_lpm" -> ((s, d) => {
      val (f, p, n, px) = stages(s, d)
      f.transform(FlowPipeline.filterJunk)
        .transform(FlowPipeline.dropUdp(cfg))
        .transform(FlowPipeline.dropIpv6)
        .transform(FlowPipeline.dropNodeFlows(n))
        .transform(FlowPipeline.resolveDirection(p, n))
        .transform(FlowPipeline.dropUnlabeled)
        .transform(FlowPipeline.classify(px, cfg))
        .filter(!ip_is_private(col("remote_ip")))
        .select(col("flow_id"), col("remote_cloud"), col("remote_region"),
          col("remote_service"), coalesce(col("p_len"), lit(0)).as("prefix_len"))
        .orderBy("flow_id")
    }),

    // classification truth table rollup
    "qf_classify" -> ((s, d) => {
      val (f, p, n, px) = stages(s, d)
      f.transform(FlowPipeline.filterJunk)
        .transform(FlowPipeline.dropUdp(cfg))
        .transform(FlowPipeline.dropIpv6)
        .transform(FlowPipeline.dropNodeFlows(n))
        .transform(FlowPipeline.resolveDirection(p, n))
        .transform(FlowPipeline.dropUnlabeled)
        .transform(FlowPipeline.classify(px, cfg))
        .groupBy("connection_class")
        .agg(count(lit(1)).as("n"), sum("bytes_out").as("bytes_out_sum"))
        .orderBy("connection_class")
    }),

    // full pipeline: the minute-grain summing table (network_flows_0 analog)
    "qf_pipeline" -> ((s, d) => {
      val (f, p, n, px) = stages(s, d)
      FlowPipeline.run(f, p, n, px, cfg)
        .orderBy(FlowPipeline.dimensionKey.map(col): _*)
    }),

    // README.md:180-184 showcase: top talkers with formatReadableSize
    "qf_showcase" -> ((s, d) => {
      val (f, p, n, px) = stages(s, d)
      FlowPipeline.run(f, p, n, px, cfg)
        .filter(col("direction") === "out")
        .groupBy("local_pod", "connection_class")
        .agg(sum("bytes").as("total_bytes"))
        .withColumn("readable", format_readable_size(col("total_bytes")))
        .orderBy(desc("total_bytes"), asc("local_pod"), asc("connection_class"))
        .limit(20)
    }),

    // F8: good/bad outcome taxonomy as data (count by outcome)
    "qf_outcomes" -> ((s, d) => {
      val (f, p, n, px) = stages(s, d)
      FlowPipeline.routeOutcomes(p, n, px, cfg)(f)
        .groupBy("outcome")
        .agg(count(lit(1)).as("n"), sum("orig_bytes").as("orig_bytes_sum"))
        .orderBy("outcome")
    }),

    // A6: duplicate-prefix dedup by source priority
    "qa6_prefix_dedup" -> ((s, d) => {
      val feed = SyntheticFlows.prefixFeedWithDups(s, d)
      val w = Window.partitionBy("p_start", "p_end")
        .orderBy("p_priority", "p_service")
      feed.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("p_start", "p_end", "p_len", "p_cloud", "p_region", "p_service")
        .orderBy("p_start", "p_end")
    }),

    // ClickHouse-compat surface as a GATE: the reference README's
    // showcase SQL (camelCase columns, formatReadableSize) runs via
    // spark.sql over the compat view and must hash-match the oracle
    "q_compat_sql" -> ((s, d) => {
      val (f, p, n, px) = stages(s, d)
      val summed = FlowPipeline.run(f, p, n, px, cfg)
      graft.sql.Compat.registerClickHouseFunctions(s)
      graft.sql.Compat.compatView(summed)
        .createOrReplaceTempView("network_flows_compat")
      s.sql("""
        SELECT localPod, connectionClass,
          CAST(SUM(bytes) AS BIGINT) AS totalBytes,
          formatReadableSize(SUM(bytes)) AS readable
        FROM network_flows_compat
        WHERE direction = 'out'
        GROUP BY localPod, connectionClass
        ORDER BY totalBytes DESC, localPod, connectionClass
        LIMIT 20""")
    }),

    // the WIDER ClickHouse dialect a reference user's dashboards speak:
    // conditional aggregates (sumIf/countIf), exact cardinality
    // (uniqExact), time rounding (toStartOfHour/toDate), and the IPv4
    // codecs — all registered as native Catalyst expressions (no UDF
    // boxing; sumIf/countIf stay inside partial-aggregating codegen),
    // run via literal CH-style SQL over the compat view. argMax/argMin/
    // uniq/toStartOfMinute are registered too and spec-checked in
    // CompatSpec (uniq is approximate by CH contract, so it cannot sit
    // behind a hash-matching oracle).
    "q_compat_funcs" -> ((s, d) => {
      val (f, p, n, px) = stages(s, d)
      val summed = FlowPipeline.run(f, p, n, px, cfg)
      graft.sql.Compat.registerClickHouseFunctions(s)
      graft.sql.Compat.compatView(summed)
        .createOrReplaceTempView("network_flows_compat")
      s.sql("""
        SELECT toDate(intervalStartTime) AS d,
          toStartOfHour(intervalStartTime) AS h,
          countIf(direction = 'out') AS n_out,
          CAST(sumIf(bytes, direction = 'out') AS BIGINT) AS bytes_out,
          CAST(uniqExact(localPod) AS BIGINT) AS n_pods,
          IPv4NumToString(MIN(IPv4StringToNum(localIPv4))) AS min_ip
        FROM network_flows_compat
        GROUP BY toDate(intervalStartTime), toStartOfHour(intervalStartTime)
        ORDER BY h""")
    }),

    // round-6 dialect widening, oracled over `events`: the -If
    // combinator family, exact quantiles (median), dispersion
    // spellings, the calendar family (toYYYYMM / toStartOfMonth /
    // ISO toDayOfWeek / toUnixTimestamp), string position, intDiv,
    // array aggregation (groupUniqArray / has / arrayStringConcat) —
    // every one a native Catalyst expression under a CH spelling.
    // (quantile/quantiles = GK sketch, uniq/uniqCombined = HLL,
    // arrayJoin = explode, dateDiff: approximate or unit-semantics
    // functions stay spec-checked in CompatSpec, not hash-oracled.)
    "q_compat_funcs2" -> ((s, d) => {
      graft.sql.Compat.registerClickHouseFunctions(s)
      graft.Tables.events(s, d).createOrReplaceTempView("events_compat")
      s.sql("""
        SELECT event_type,
          toYYYYMM(MIN(ts)) AS first_yyyymm,
          toStartOfMonth(MIN(ts)) AS first_month,
          toDayOfWeek(MIN(ts)) AS first_dow,
          toHour(MIN(ts)) AS first_hour,
          toUnixTimestamp(MIN(ts)) AS first_unix,
          CAST(countIf(value > 0.5) AS BIGINT) AS n_hi,
          avgIf(value, value > 0.5) AS avg_hi,
          CAST(minIf(event_id, value > 0.5) AS BIGINT) AS min_hi_id,
          CAST(maxIf(event_id, value > 0.5) AS BIGINT) AS max_hi_id,
          CAST(median(toInt64(ROUND(value * 100, 0))) AS DOUBLE) AS med_cents,
          stddevPop(value) AS sd,
          position(event_type, 'i') AS pos_i,
          intDiv(SUM(toInt64(ROUND(value * 100, 0))), 7) AS cents_div7,
          arrayStringConcat(
            array_sort(groupUniqArray(toString(user_id % 10))), ',')
            AS dectets,
          has(groupUniqArray(toInt32(user_id % 10)), 3) AS has3
        FROM events_compat
        GROUP BY event_type ORDER BY event_type""")
    }),

    // EXTERNAL DICTIONARY as a gate: the pods informer snapshot
    // registered as a dictionary, then point-probed by dictGet for a
    // probe set where half the keys intentionally miss — hits must
    // return the pod attributes, misses NULL, exactly a LEFT JOIN's
    // answer (the oracle states it as one). The probe is an O(1)
    // codegen'd map lookup per row: no join, no shuffle, the
    // ClickHouse dictionary contract on the watcher cache.
    "qf_dictget" -> ((s, d) => {
      graft.dims.Dictionaries.register(s, "pods",
        SyntheticFlows.pods(s, d), "pod_ip")
      graft.dims.Dictionaries.registerSql(s)
      graft.Tables.customer(s, d)
        .select((lit(167772160L) + col("c_custkey") * 2).as("ip"))
        .createOrReplaceTempView("dict_probes")
      s.sql("""
        SELECT ip, dictGet('pods', 'pod_name', ip) AS pod_name,
          dictGet('pods', 'pod_app', ip) AS pod_app,
          dictGet('pods', 'pod_node', ip) AS pod_node
        FROM dict_probes ORDER BY ip""")
    }),

    // range_hashed DICTIONARY LAYOUT as a gate: a validity-window
    // price table keyed by sku with non-overlapping long ranges; the
    // codegen'd probe (HashMap.get + first-containing-range scan)
    // must agree with DuckDB's range LEFT JOIN, including every
    // outside-all-ranges probe coming back NULL (-1 after coalesce).
    "qf_dictget_range" -> ((s, d) => {
      graft.dims.Dictionaries.registerRangeHashed(s, "prices",
        graft.Tables.nation(s, d).selectExpr(
          "CAST(n_nationkey % 5 AS BIGINT) AS k",
          "CAST(n_nationkey * 10 AS BIGINT) AS s",
          "CAST(n_nationkey * 10 + 9 AS BIGINT) AS e",
          "CAST(n_nationkey * 100 AS BIGINT) AS price"),
        "k", "s", "e")
      graft.dims.Dictionaries.registerSql(s)
      graft.Tables.customer(s, d).selectExpr("c_custkey",
        "CAST(c_custkey % 5 AS BIGINT) AS k",
        "CAST(c_custkey % 260 AS BIGINT) AS x")
        .createOrReplaceTempView("range_probes")
      s.sql("""
        SELECT c_custkey,
          coalesce(CAST(dictGet('prices', 'price', k, x) AS BIGINT),
            -1) AS price
        FROM range_probes ORDER BY c_custkey""")
    }),

    // ip_trie DICTIONARY LAYOUT as a gate: the cloud-range table
    // registered as an ip_trie dictionary; dictGet on an ADDRESS
    // resolves longest-prefix-match + attribute fetch in one codegen'd
    // probe (TrieLpm index → map get). Every 5th probe is pushed far
    // outside the registered space and must come back NULL.
    "qf_dictget_trie" -> ((s, d) => {
      graft.dims.Dictionaries.registerIpTrie(s, "ranges",
        SyntheticFlows.prefixes(s, d)
          .select("p_start", "p_len", "p_cloud", "p_region", "p_service"))
      graft.dims.Dictionaries.registerSql(s)
      graft.Tables.customer(s, d)
        .select((lit(16777216L) + col("c_custkey") * 512 +
          when(col("c_custkey") % 5 === 0, 2000000000L).otherwise(0L))
          .as("ip"))
        .createOrReplaceTempView("trie_probes")
      s.sql("""
        SELECT ip, dictGet('ranges', 'p_cloud', ip) AS p_cloud,
          dictGet('ranges', 'p_region', ip) AS p_region,
          dictGet('ranges', 'p_service', ip) AS p_service
        FROM trie_probes ORDER BY ip""")
    }),

    // CH PARAMETRIC SYNTAX end-to-end: literal ClickHouse text —
    // quantileExact(p)(x) parametric calls, bare count(), a FORMAT
    // clause — through Compat.chSql's paren-aware shim into Spark's
    // parser, hash-matched against DuckDB's quantile_cont (Percentile
    // interpolates identically; proven in q_compat_funcs2's median)
    "q_compat_parametric" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("events_compat")
      graft.sql.Compat.chSql(s, """
        SELECT event_type,
          quantileExact(0.5)(toInt64(ROUND(value * 100, 0))) AS med_cents,
          quantileExact(0.9)(toInt64(ROUND(value * 100, 0))) AS p90_cents,
          count() AS n
        FROM events_compat
        GROUP BY event_type
        ORDER BY event_type
        FORMAT TabSeparated""")
    }),

    // CH WITH TOTALS through the shim: per-group rows plus the one
    // all-groups totals row (GROUPING SETS under the hood; the totals
    // row keys are NULL — ordered NULLS FIRST on both sides)
    "q_compat_totals" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("events_compat")
      graft.sql.Compat.chSql(s, """
        SELECT event_type, count() AS n,
          SUM(toInt64(ROUND(value * 100, 0))) AS cents
        FROM events_compat
        GROUP BY event_type WITH TOTALS
        ORDER BY event_type
        FORMAT TabSeparated""")
    }),

    // CH WITH ROLLUP through the shim (round 8): maps onto Spark's own
    // ROLLUP modifier — per-(type, bucket) rows, per-type subtotals,
    // and the grand total, subtotal keys NULL on both sides
    "q_compat_rollup" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("events_compat")
      graft.sql.Compat.chSql(s, """
        SELECT event_type, toInt64(user_id % 3) AS bucket, count() AS n,
          SUM(toInt64(ROUND(value * 100, 0))) AS cents
        FROM events_compat
        GROUP BY event_type, user_id % 3 WITH ROLLUP
        ORDER BY event_type, bucket
        FORMAT TabSeparated""")
    }),

    // CH ARRAY JOIN clause (round 11): the row-multiplying unnest in
    // its CLAUSE spelling (the function form arrayJoin() was already
    // registered) — literal CH text through the shim becomes a
    // LATERAL VIEW explode in the same clause position
    "q_compat_array_join" -> ((s, d) => {
      graft.Tables.documents(s, d).createOrReplaceTempView("ch_docs_aj")
      graft.sql.Compat.chSql(s, """
        SELECT doc_id, tok, count() AS n
        FROM ch_docs_aj ARRAY JOIN splitByChar(' ', text) AS tok
        WHERE lengthUTF8(tok) >= 8
        GROUP BY doc_id, tok
        ORDER BY doc_id, tok""")
    }),

    // CH LIMIT n BY cols (round 11): first-n-rows-per-group in the
    // query's own ORDER BY, rewritten to a hidden ROW_NUMBER window;
    // the trailing global LIMIT applies after, exactly CH's clause
    // order
    "q_compat_limit_by" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_lb")
      graft.sql.Compat.chSql(s, """
        SELECT user_id, event_id, event_type
        FROM ch_events_lb
        ORDER BY user_id, event_id LIMIT 3 BY user_id
        LIMIT 500""")
    }),

    // CH SAMPLE k (round 11): deterministic-in-the-key sampling — the
    // registered sampling key's md5 prefix decides membership, so the
    // SAME rows sample on every engine and run (CH's repeatable
    // sampling contract, which the oracle replays verbatim; a
    // TABLESAMPLE would be per-scan random and un-oracle-able)
    "q_compat_sample" -> ((s, d) => {
      graft.Tables.documents(s, d).createOrReplaceTempView("ch_docs_s")
      graft.sql.Compat.registerSamplingKey("ch_docs_s", "doc_id")
      graft.sql.Compat.chSql(s, """
        SELECT lang, count() AS n, min(doc_id) AS lo, max(doc_id) AS hi
        FROM ch_docs_s SAMPLE 0.25
        GROUP BY lang ORDER BY lang""")
    }),

    // CH SELECT ... FINAL (round 11): read-time Replacing collapse —
    // the registered (keys, version) view reads as its keep-latest
    // state through the SAME latestPerKey collapse the background
    // merge (compactReplacing) and TxTable.readFinal use, so FINAL
    // before a merge ≡ the same query after it
    "q_compat_final" -> ((s, d) => {
      val ev = graft.Tables.events(s, d).select(
        to_date(col("ts")).as("date"), col("user_id"),
        col("event_id").as("ver"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      ev.createOrReplaceTempView("ch_user_state")
      graft.sql.Compat.registerReplacing("ch_user_state",
        Seq("user_id"), "ver")
      graft.sql.Compat.chSql(s, """
        SELECT date, user_id, event_type, cents
        FROM ch_user_state FINAL
        ORDER BY date, user_id""")
    }),

    // CH merge() table function (round 11): three tx tables under one
    // dir (one with an extra column — additive harmonization reads it
    // as NULL elsewhere) queried as a single union with the `_table`
    // virtual column, through literal CH text
    "q_compat_merge_tables" -> ((s, d) => {
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_mergefn_${math.abs(d.hashCode)}")
      org.apache.commons.io.FileUtils.deleteDirectory(base)
      val ev = graft.Tables.events(s, d).select(
        to_date(col("ts")).as("date"), col("event_type"), col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      (0 until 3).foreach { i =>
        val slice = ev.filter(col("user_id") % 3 === i)
        graft.sink.TxTable.append(s,
          if (i == 2) slice.withColumn("extra", col("user_id") * 2)
          else slice, s"$base/events_$i")
      }
      graft.sink.TxTable.append(s, ev.limit(5), s"$base/other")
      graft.sql.Compat.chSql(s, s"""
        SELECT _table, event_type, count() AS n, sum(cents) AS cents,
          sum(ifNull(extra, 0)) AS extra_sum
        FROM merge('$base', '^events_')
        GROUP BY _table, event_type
        ORDER BY _table, event_type""")
    }),

    // CH ORDER BY ... WITH FILL (round 11): one user's sparse signup
    // days gap-filled over the corpus date span — missing days appear
    // with NULL counts (documented deviation: CH shows type defaults)
    "q_compat_withfill" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_wf")
      graft.sql.Compat.chSql(s, """
        SELECT toDate(ts) AS day, count() AS n
        FROM ch_events_wf
        WHERE event_type = 'signup'
          AND user_id = (SELECT min(user_id) FROM ch_events_wf)
        GROUP BY toDate(ts)
        ORDER BY day WITH FILL""")
    }),

    // CH topK (round 11): space-saving heavy hitters per cohort —
    // exact here (5 event types << buffer capacity), deterministic
    // tie order (count desc, value asc) so the oracle can replay it
    "q_compat_topk" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_tk")
      graft.sql.Compat.chSql(s, """
        SELECT toInt64(user_id % 10) AS cohort,
          arrayStringConcat(topK(2)(event_type), ',') AS top2
        FROM ch_events_tk GROUP BY user_id % 10 ORDER BY cohort""")
    }),

    // CH windowFunnel (round 11): deepest view->click->purchase level
    // per user within 1 day of the chain's FIRST step (the CH
    // chain-start window), then the level histogram. The oracle
    // replays the existential characterization, exact because the
    // corpus has unique per-user timestamps.
    "q_compat_funnel" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_fn")
      graft.sql.Compat.chSql(s, """
        SELECT lvl, count() AS n_users FROM (
          SELECT user_id, windowFunnel(86400)(ts,
            event_type = 'view', event_type = 'click',
            event_type = 'purchase') AS lvl
          FROM ch_events_fn GROUP BY user_id) t
        GROUP BY lvl ORDER BY lvl""")
    }),

    // CH retention (round 11): [signup, signup && click,
    // signup && purchase] per user, summed to cohort counts
    "q_compat_retention" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_rt")
      graft.sql.Compat.chSql(s, """
        SELECT sum(arrayElement(r, 1)) AS r_signup,
          sum(arrayElement(r, 2)) AS r_click,
          sum(arrayElement(r, 3)) AS r_purchase
        FROM (SELECT user_id, retention(event_type = 'signup',
            event_type = 'click', event_type = 'purchase') AS r
          FROM ch_events_rt GROUP BY user_id) t""")
    }),

    // CH sequenceMatch (round 11): ordered signup -> purchase
    // subsequence per user (the (?1).*(?2) chain form)
    "q_compat_seqmatch" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_sm")
      graft.sql.Compat.chSql(s, """
        SELECT count() AS matched FROM (
          SELECT user_id, sequenceMatch('(?1).*(?2)')(ts,
            event_type = 'signup', event_type = 'purchase') AS m
          FROM ch_events_sm GROUP BY user_id) t
        WHERE m""")
    }),

    // CH sequenceMatch pattern language (round 12): time-bound atoms
    // ((?t<=3600): purchase within an hour of signup, arbitrary events
    // between — the CH-documented contract) and bare adjacency
    // ((?1)(?2): purchase DIRECTLY after signup among described
    // events). The oracle replays both existentially.
    "q_compat_seqmatch_t" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_smt")
      graft.sql.Compat.chSql(s, """
        SELECT sum(toInt64(m1)) AS matched_1h,
          sum(toInt64(m2)) AS matched_adj FROM (
          SELECT user_id,
            sequenceMatch('(?1)(?t<=3600)(?2)')(ts,
              event_type = 'signup', event_type = 'purchase') AS m1,
            sequenceMatch('(?1)(?2)')(ts,
              event_type = 'signup', event_type = 'purchase') AS m2
          FROM ch_events_smt GROUP BY user_id) t""")
    }),

    // CH JSON-extraction spellings (round 12): a CH user's literal
    // JSONExtract*/JSONHas/visitParam* query text over the events
    // props JSON plus a per-row synthesized doc — strict typing
    // (missing key -> 0), raw-with-quotes, and the fast-path alias
    "q_compat_json" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_js")
      // extraction happens in the PER-ROW projection and the aggregate
      // sees plain columns: the VARIANT strict-typing trees are big
      // enough that putting all 11 inside one hashAgg overflows
      // janino's 64 KB method limit and drops the whole stage out of
      // codegen — projections split into per-expression methods, so
      // this shape keeps both stages compiled
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          sum(k_i) AS k_sum, max(k_f) AS k_maxf,
          sum(toInt64(h_k)) AS has_k, sum(toInt64(h_z)) AS has_zz,
          sum(z_i) AS zz_sum, max(pri_s) AS pri_max,
          max(pri_r) AS pri_raw, max(pri_v) AS pri_visit,
          sum(toInt64(op_b)) AS n_open, max(d_len) AS doc_len
        FROM (SELECT user_id,
            JSONExtractInt(props, 'k') AS k_i,
            JSONExtractFloat(props, 'k') AS k_f,
            JSONHas(props, 'k') AS h_k,
            JSONHas(props, 'zz') AS h_z,
            JSONExtractInt(props, 'zz') AS z_i,
            JSONExtractString(doc, 'pri') AS pri_s,
            JSONExtractRaw(doc, 'pri') AS pri_r,
            visitParamExtractString(doc, 'pri') AS pri_v,
            JSONExtractBool(doc, 'open') AS op_b,
            JSONLength(doc) AS d_len
          FROM (SELECT user_id, props,
              concat('{"pri":"', event_type, '","open":',
                CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END,
                '}') AS doc
            FROM ch_events_js) t0) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // round-12 dialect widening as a driver gate: lambda-first
    // higher-order array functions, regex/string spellings, bitwise
    // ops, and the quoted-unit dateDiff — all literal CH text through
    // chSql, replayed exactly by DuckDB's list/regex/bit operators
    "q_compat_hof" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_hof")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          sum(arrayCount(x -> x > 2,
            sequence(1, 1 + CAST(event_id % 5 AS INT)))) AS n_gt2,
          sum(arraySum(arrayMap(x -> x * x,
            sequence(1, 1 + CAST(event_id % 3 AS INT))))) AS s_sq,
          sum(toInt64(arrayExists(x -> x = 4,
            sequence(1, 1 + CAST(event_id % 5 AS INT))))) AS n_has4,
          sum(arrayUniq(arrayConcat(sequence(1, 3), sequence(2, 4)))) AS s_uniq,
          sum(bitAnd(event_id, 255)) AS s_band,
          sum(bitShiftLeft(event_id % 8, 2)) AS s_shift,
          sum(toInt64(match(event_type, '^p'))) AS n_match,
          max(replaceAll(event_type, 'a', '_')) AS r_all,
          max(extract(event_type, '[aeiou]+')) AS r_vowel,
          sum(dateDiff('minute', toStartOfHour(ts), ts)) AS s_dmin
        FROM ch_events_hof GROUP BY user_id ORDER BY user_id""")
    }),

    // URL function family over per-row synthesized URLs (documents
    // carries no real URLs) — the web-corpus columns a crawl pipeline
    // derives before domain caps / URL dedup; DuckDB replays with
    // plain regexp_extract
    "q_compat_url" -> ((s, d) => {
      graft.Tables.documents(s, d).createOrReplaceTempView("ch_docs_url")
      graft.sql.Compat.chSql(s, """
        SELECT dm AS domain, count() AS n,
          max(tld) AS tld, max(pa) AS max_path, max(lg) AS max_lang
        FROM (SELECT
            domain(u) AS dm, topLevelDomain(u) AS tld, path(u) AS pa,
            extractURLParameter(u, 'lang') AS lg
          FROM (SELECT concat('https://www.', source, '.example.',
              CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END,
              '/p/', CAST(doc_id AS STRING), '?lang=', lang) AS u
            FROM ch_docs_url) t0) t
        GROUP BY dm ORDER BY dm""")
    }),

    // sumMap/minMap/maxMap — CH's map-combining aggregates over the
    // (keys array, values array) spelling, O(distinct keys) state;
    // DuckDB replays via unnest + per-key group + ordered string agg.
    // The four ARRAY results are serialized as comma-joined strings
    // (the qp_invindex recipe) so the row stays hashable for the
    // comparison harness; MapCombineAgg emits keys pre-sorted, so the
    // stringify is order-stable against the oracle's ORDER BY k.
    "q_compat_summap" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_sm2")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          sumMap(ka, va).keys AS ks0,
          sumMap(ka, va).vals AS vs0,
          minMap(ka, va).vals AS mnv0,
          maxMap(ka, va).vals AS mxv0
        FROM (SELECT user_id,
            arrayConcat(array(event_id % 3), array(event_id % 5 + 10)) AS ka,
            arrayConcat(array(CAST(1 AS BIGINT)),
              array(event_id % 7)) AS va
          FROM ch_events_sm2) t
        GROUP BY user_id ORDER BY user_id""")
        .selectExpr(
          "user_id",
          "concat_ws(',', transform(ks0, x -> cast(x AS string))) AS ks",
          "concat_ws(',', transform(vs0, x -> cast(x AS string))) AS vs",
          "concat_ws(',', transform(mnv0, x -> cast(x AS string))) AS mnv",
          "concat_ws(',', transform(mxv0, x -> cast(x AS string))) AS mxv")
    }),

    // CH's window-adjacent "running" family (round 13):
    // runningDifference / neighbor in their window-extended spelling
    // (a distributed engine has no block order — the explicit OVER is
    // the deterministic reading, and CH itself deprecates the bare
    // forms), plus the lagInFrame/leadInFrame renames. One window per
    // user, ordered by the unique event_id; DuckDB replays with plain
    // lag/lead.
    "q_compat_running" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_run")
      graft.sql.Compat.chSql(s, """
        SELECT user_id, event_id,
          runningDifference(v) OVER
            (PARTITION BY user_id ORDER BY event_id) AS rd,
          neighbor(v, 1, CAST(-1 AS BIGINT)) OVER
            (PARTITION BY user_id ORDER BY event_id) AS nb,
          lagInFrame(v, 1, CAST(0 AS BIGINT)) OVER
            (PARTITION BY user_id ORDER BY event_id) AS lif,
          leadInFrame(v) OVER
            (PARTITION BY user_id ORDER BY event_id) AS ldf
        FROM (SELECT user_id, event_id,
            CAST(event_id % 97 AS BIGINT) AS v FROM ch_events_run) t
        ORDER BY user_id, event_id""")
    }),

    // groupArrayMovingSum/Avg (round 13): CH's per-group running
    // sum/avg arrays, windowed via the parametric form. These carry
    // groupArray's arrival-order contract (non-deterministic across
    // threads — CH and Spark alike; measured here: even a local sort
    // feeding the aggregate is reordered under AQE coalescing), so
    // the GATE pins the order-free part of the contract — window
    // ramp-up least(i, W), cumulative growth, array length — by
    // making v constant per group; exact ordered goldens live in
    // CompatSpec where partitioning is controlled. Arrays stringify
    // with the qp_invindex recipe for harness hashability.
    "q_compat_movingsum" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_mvs")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          groupArrayMovingSum(v) AS cum0,
          groupArrayMovingSum(3)(v) AS ms0,
          groupArrayMovingAvg(2)(v) AS ma0
        FROM (SELECT user_id, CAST(user_id % 7 AS DOUBLE) AS v
          FROM ch_events_mvs) t
        GROUP BY user_id ORDER BY user_id""")
        .selectExpr("user_id",
          "concat_ws(',', transform(cum0," +
            " x -> cast(cast(x AS bigint) AS string))) AS cum",
          "concat_ws(',', transform(ms0," +
            " x -> cast(cast(x AS bigint) AS string))) AS ms",
          "concat_ws(',', transform(ma0, x -> cast(x AS string))) AS ma")
    }),

    // maxIntersections/maxIntersectionsPosition (peak concurrent
    // intervals via the mergeable boundary-delta sweep; half-open
    // contract), intervalLengthSum (union length, same sweep state),
    // boundingRatio (slope across the x range), anyHeavy (exact mode
    // with deterministic ties) — round 13. DuckDB replays the sweep
    // with unnest + a running window sum (+LEAD gaps for the union
    // length), the slope with arg_max/arg_min, the mode with a
    // count-ranked row_number.
    "q_compat_intervals" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_iv")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          maxIntersections(st, en) AS mi,
          maxIntersectionsPosition(st, en) AS mip,
          intervalLengthSum(st, en) AS il,
          boundingRatio(event_id, v) AS br,
          anyHeavy(hv) AS ah
        FROM (SELECT user_id, event_id,
            event_id % 50 AS st,
            event_id % 50 + 1 + event_id % 7 AS en,
            CAST(event_id % 97 AS BIGINT) AS v,
            CASE WHEN event_id % 2 = 0 THEN 'even'
                 ELSE concat('odd', event_id % 3) END AS hv
          FROM ch_events_iv) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // deltaSumTimestamp — the counter-delta sum (positive ts-ordered
    // differences only; resets contribute 0), rewritten by Compat to
    // the exact lag-window formulation. v replays a wrapping counter
    // (mostly +1 steps with a reset every 1000); the unique event_id
    // is the ordering axis so both engines see one deterministic
    // sequence. DuckDB replays the window formulation directly.
    "q_compat_deltasum" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_ds")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          CAST(deltaSumTimestamp(v, event_id) AS BIGINT) AS ds,
          CAST(deltaSumTimestamp(v % 10, event_id) AS BIGINT) AS ds10,
          count() AS n
        FROM (SELECT user_id, event_id,
            CAST(event_id % 1000 AS BIGINT) AS v FROM ch_events_ds) t
        WHERE event_id % 11 != 0
        GROUP BY user_id ORDER BY user_id""")
    }),

    // statistics tier (round 13): skew/kurt (pop+samp, the CH 1/n
    // central-moment definitions), covariance/correlation,
    // simpleLinearRegression k/b via tupleElement, exact Shannon
    // entropy. v is near-uniform so the moments exercise the
    // cancellation-sensitive range; w = 3v + noise keeps corr high but
    // not 1. DuckDB replays the moments from raw power sums (central
    // m3/m4 by expansion), regression/corr/entropy with its natives
    // (DuckDB entropy is log2-based like CH). Both sides round to 4dp
    // so two correct-but-differently-associated float paths can't
    // straddle the harness's 6dp compare.
    "q_compat_stats" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_st")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(skewPop(v), 4) AS sp, round(skewSamp(v), 4) AS ss,
          round(kurtPop(v), 4) AS kp, round(kurtSamp(v), 4) AS ks,
          round(covarPop(v, w), 4) AS cvp,
          round(covarSamp(v, w), 4) AS cvs,
          round(corr(v, w), 4) AS cr,
          round(tupleElement(simpleLinearRegression(v, w), 1), 4) AS slr_k,
          round(tupleElement(simpleLinearRegression(v, w), 2), 4) AS slr_b,
          round(entropy(c), 4) AS ent
        FROM (SELECT user_id,
            CAST(event_id % 97 AS DOUBLE) AS v,
            CAST((event_id % 97) * 3 + event_id % 11 AS DOUBLE) AS w,
            event_id % 7 AS c
          FROM ch_events_st) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // studentTTest/welchTTest t-statistics, hash-checked against
    // DuckDB's conditional-aggregate replay (i=1 rows get a +3.5
    // shift so t is comfortably non-zero). The p-value halves of the
    // tuples rest on the incomplete-beta expression, pinned to
    // closed-form anchors in CompatSpec — DuckDB has no Student CDF
    // to replay them against.
    "q_compat_ttest" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_tt")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(tupleElement(studentTTest(v, i), 1), 4) AS ts,
          round(tupleElement(welchTTest(v, i), 1), 4) AS tw,
          count() AS n
        FROM (SELECT user_id,
            CAST(event_id % 97 AS DOUBLE)
              + CAST(event_id % 2 AS DOUBLE) * 3.5 AS v,
            event_id % 2 AS i
          FROM ch_events_tt) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // rankCorr — Spearman with AVERAGE ranks for ties, rewritten to
    // corr over window ranks (one shuffle on user_id serves both
    // windows and the aggregate). w is a monotone transform of v plus
    // a small residue, so rho is high but not 1 and every tie-rank
    // convention slip moves it. DuckDB replays the identical
    // average-rank formulation.
    "q_compat_rankcorr" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_rc")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(rankCorr(v, w), 4) AS rc,
          count() AS n
        FROM (SELECT user_id,
            event_id % 97 AS v,
            (event_id % 97) * 3 + event_id % 11 AS w
          FROM ch_events_rc) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // categorical association (cramersV family) over the cross-tab
    // map state; chi² is the FULL textbook statistic (unobserved
    // cells folded in analytically via Σo²/e − n). DuckDB replays the
    // same closed form from contingency counts. b is partially
    // dependent on a (shared event_id residues), so V sits strictly
    // between 0 and 1 and any marginal/cell slip moves it.
    "q_compat_contingency" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_ct")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(cramersV(a, b), 4) AS cv,
          round(cramersVBiasCorrected(a, b), 4) AS cvb,
          round(contingency(a, b), 4) AS cg,
          count() AS n
        FROM (SELECT user_id, event_id % 5 AS a,
            (event_id % 4 + event_id % 3) % 4 AS b
          FROM ch_events_ct) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // nonparametric tests: mannWhitneyUTest U (average ranks, scipy's
    // U₁ convention for the index-0 sample) and kolmogorovSmirnovTest
    // D (RANGE-frame ECDFs), both rewritten to one-shuffle window
    // formulations. DuckDB replays the identical rank / cumulative-
    // count math; the p-value halves rest on the erfc / Kolmogorov
    // tails, pinned to stdlib-math anchors in CompatSpec (DuckDB has
    // neither function to replay against). The +3.5 shift on i=1 rows
    // keeps both statistics comfortably off their null centers.
    "q_compat_nptest" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_np")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(tupleElement(mannWhitneyUTest(v, i), 1), 4) AS u,
          round(tupleElement(kolmogorovSmirnovTest(v, i), 1), 4) AS ks_d,
          count() AS n
        FROM (SELECT user_id,
            CAST(event_id % 97 AS DOUBLE)
              + CAST(event_id % 2 AS DOUBLE) * 3.5 AS v,
            event_id % 2 AS i
          FROM ch_events_np) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // meanZTest — the known-variance z-test; z and BOTH confidence
    // bounds replay in DuckDB (the 97.5% normal quantile is a shared
    // constant), p pinned in CompatSpec like the other test tails.
    "q_compat_meanz" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_mz")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(tupleElement(meanZTest(800.0, 800.0, 0.95)(v, i), 1), 4)
            AS z,
          round(tupleElement(meanZTest(800.0, 800.0, 0.95)(v, i), 3), 4)
            AS ci_lo,
          round(tupleElement(meanZTest(800.0, 800.0, 0.95)(v, i), 4), 4)
            AS ci_hi,
          count() AS n
        FROM (SELECT user_id,
            CAST(event_id % 97 AS DOUBLE)
              + CAST(event_id % 2 AS DOUBLE) * 3.5 AS v,
            event_id % 2 AS i
          FROM ch_events_mz) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // exponentialMovingAverage(half_life)(value, time) — the
    // 2^(−Δt/hl)-weighted mean anchored at the group's max time;
    // DuckDB replays the identical closed form, so the whole result
    // (not just a statistic) is hash-checked.
    "q_compat_ema" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_em")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(exponentialMovingAverage(60)(v, t), 4) AS ema,
          count() AS n
        FROM (SELECT user_id,
            CAST(event_id % 97 AS DOUBLE) AS v,
            CAST(event_id % 600 AS DOUBLE) AS t
          FROM ch_events_em) tt
        GROUP BY user_id ORDER BY user_id""")
    }),

    // theilsU — entropy-based asymmetric association on the shared
    // cross-tab state; BOTH directions gated so the asymmetry itself
    // is hash-checked (b is partially dependent on a, so U(a|b) and
    // U(b|a) differ). DuckDB replays the marginal/conditional-entropy
    // sums from contingency counts.
    "q_compat_theilsu" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_tu")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(theilsU(a, b), 4) AS tu_ab,
          round(theilsU(b, a), 4) AS tu_ba,
          count() AS n
        FROM (SELECT user_id, event_id % 5 AS a,
            (event_id % 4 + event_id % 3) % 4 AS b
          FROM ch_events_tu) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // remaining cardinality/precision spellings: groupBitmap (bitmap
    // CARDINALITY = exact distinct count), sumKahan (documented
    // IEEE-sum mapping), quantileDeterministic (exact percentile; the
    // determinator only steers CH's sampling). All three replay
    // exactly in DuckDB; the uniqHLL12/uniqCombined64 sketches are
    // approximate by contract and covered by spec bounds instead.
    "q_compat_card" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_cd")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          CAST(groupBitmap(event_id % 37) AS BIGINT) AS gb,
          round(sumKahan(CAST(event_id % 97 AS DOUBLE) / 7.0), 4) AS sk,
          round(quantileDeterministic(0.25)(event_id % 97, event_id), 4)
            AS qd,
          round(quantileExactInclusive(0.75)(event_id % 97), 4) AS qei,
          count() AS n
        FROM ch_events_cd
        GROUP BY user_id ORDER BY user_id""")
    }),

    // A/B sizing scalars over per-user aggregates: the normal
    // quantiles for literal power/alpha are CONSTANTS, so DuckDB
    // replays the whole closed form with the z-sum hard-coded —
    // the same constant the Scala side derives through invNormCdf.
    "q_compat_sizing" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_sz")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(tupleElement(
            minSampleSizeContinous(b, sg, 0.05, 0.8, 0.05), 1), 4)
            AS mss,
          round(tupleElement(
            minSampleSizeContinous(b, sg, 0.05, 0.8, 0.05), 2), 4)
            AS lo,
          round(tupleElement(
            minSampleSizeConversion(0.02, 0.005, 0.8, 0.05), 1), 4)
            AS mcv,
          n
        FROM (SELECT user_id, avg(v) AS b, stddevSamp(v) AS sg,
            count() AS n
          FROM (SELECT user_id,
              CAST(50 + event_id % 97 AS DOUBLE) AS v
            FROM ch_events_sz) t
          GROUP BY user_id) g
        ORDER BY user_id""")
    }),

    // largestTriangleThreeBuckets — Steinarsson's downsampler per
    // user series, stringified for the harness. The selection is
    // sequential (each bucket's pick depends on the previous pick),
    // so the DuckDB oracle replays it with a recursive CTE carrying
    // the previous pick and a correlated LATERAL argmax per bucket;
    // the algorithm is additionally pinned to hand-computed goldens
    // in CompatSpec.
    "q_compat_lttb" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_lt")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          concat_ws(',', transform(
            largestTriangleThreeBuckets(8)(t, v),
            p -> concat(CAST(CAST(p.x AS BIGINT) AS STRING), ':',
                        CAST(CAST(p.y AS BIGINT) AS STRING)))) AS pts,
          count() AS n
        FROM (SELECT user_id,
            CAST(event_id % 601 AS DOUBLE) AS t,
            CAST(event_id % 89 AS DOUBLE) AS v
          FROM ch_events_lt) tt
        GROUP BY user_id ORDER BY user_id""")
    }),

    // exponentialTimeDecayed{Sum,Count,Max,Avg} in their windowed
    // spelling, applied the house way: decay the per-(user, t) rollup
    // series, not raw rows (pre-aggregation is the 100 TB shape — the
    // window frame is bounded by distinct timestamps, not row count).
    // RANGE frame so timestamp ties share a frame deterministically.
    "q_compat_decayed" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_dk")
      graft.sql.Compat.chSql(s, """
        WITH srs AS (
          SELECT user_id, CAST(event_id % 601 AS DOUBLE) AS t,
            SUM(CAST(event_id % 89 AS DOUBLE)) AS sv,
            MAX(CAST(event_id % 89 AS DOUBLE)) AS mv
          FROM ch_events_dk GROUP BY user_id, event_id % 601)
        SELECT user_id, t,
          round(exponentialTimeDecayedSum(60.0)(sv, t) OVER w, 6)
            AS dsum,
          round(exponentialTimeDecayedCount(60.0)(t) OVER w, 6)
            AS dcnt,
          round(exponentialTimeDecayedMax(60.0)(mv, t) OVER w, 6)
            AS dmax,
          round(exponentialTimeDecayedAvg(60.0)(sv, t) OVER w, 6)
            AS davg
        FROM srs
        WINDOW w AS (PARTITION BY user_id ORDER BY t
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY user_id, t""")
    }),

    // round-14 map HOF tier — the CH lambda-first map vocabulary over
    // per-user scalar-built maps; output stringified through SORTED
    // entries (Spark MapType iteration order is engine-internal, the
    // sorted projection is the deterministic reading)
    "q_compat_maps" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_mp")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_mp)
        SELECT user_id,
          concat_ws(',', transform(array_sort(map_entries(
            mapFilter((k, v) -> v % 2 = 0,
              map('a', user_id % 5, 'b', user_id % 3,
                  'c', user_id % 7)))),
            e -> concat(e.key, ':', CAST(e.value AS STRING)))) AS mf,
          mapExists((k, v) -> v = 2,
            map('a', user_id % 5, 'b', user_id % 3)) AS me,
          mapAll((k, v) -> v < 3,
            map('a', user_id % 5, 'b', user_id % 3)) AS ma,
          concat_ws(',', transform(array_sort(map_entries(
            mapApply((k, v) -> (k, v * 10 + 1),
              map('a', user_id % 5, 'b', user_id % 3)))),
            e -> concat(e.key, ':', CAST(e.value AS STRING)))) AS ap,
          concat_ws(',', transform(array_sort(map_entries(
            mapConcat(map('a', user_id % 5, 'b', user_id % 3),
              map('b', 99, 'c', user_id % 7)))),
            e -> concat(e.key, ':', CAST(e.value AS STRING)))) AS mc,
          concat_ws(',', transform(array_sort(map_entries(
            mapUpdate(map('a', user_id % 5, 'b', user_id % 3),
              map('b', 99, 'c', user_id % 7)))),
            e -> concat(e.key, ':', CAST(e.value AS STRING)))) AS mu
        FROM u ORDER BY user_id""")
    }),

    // round-14 misc tier — date utilities, multiSearch, Lp norms,
    // array enumerators, all on user_id-derived scalars so DuckDB
    // replays every value in closed form
    "q_compat_r14misc" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r14")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r14),
        b AS (SELECT user_id,
            concat('ev_', CAST(user_id % 7 AS STRING), '_tail') AS s,
            array('_', CAST(user_id % 3 AS STRING), 'tail', 'zz')
              AS needles,
            CAST(timestamp_seconds(1709251200 + user_id * 37)
              AS TIMESTAMP) AS ts,
            array(CAST(user_id % 5 + 1 AS DOUBLE),
              CAST(user_id % 7 + 1 AS DOUBLE),
              -CAST(user_id % 3 + 1 AS DOUBLE)) AS v,
            array(user_id % 3, user_id % 5, user_id % 3,
              user_id % 7, user_id % 5) AS a
          FROM u)
        SELECT user_id,
          concat_ws(',', multiSearchAllPositions(s, needles)) AS msa,
          multiSearchFirstPosition(s, needles) AS msp,
          multiSearchFirstIndex(s, needles) AS msi,
          CAST(dateTrunc('month', ts) AS STRING) AS dtm,
          CAST(dateTrunc('hour', ts) AS BIGINT) AS dth,
          CAST(timeSlot(ts) AS BIGINT) AS slot,
          concat_ws(',', transform(timeSlots(ts, 3700, 1800),
            x -> CAST(CAST(x AS BIGINT) AS STRING))) AS slots,
          CAST(toRelativeDayNum(ts) AS INT) AS rd,
          toRelativeHourNum(ts) AS rh,
          round(LpNorm(v, 3), 6) AS n3,
          round(LpDistance(v, array(CAST(1.0 AS DOUBLE),
            CAST(2.0 AS DOUBLE), CAST(3.0 AS DOUBLE)), 2), 6) AS d2,
          round(LinfNorm(v), 6) AS ninf,
          round(normalizeL1(v)[0], 6) AS nl11,
          round(normalizeL1(v)[1], 6) AS nl12,
          round(normalizeL1(v)[2], 6) AS nl13,
          concat_ws(',', arrayEnumerateDense(a)) AS ed,
          concat_ws(',', arrayEnumerateUniq(a)) AS eu
        FROM b ORDER BY user_id""")
    }),

    // round-15 splitter/bucket tier: splitByNonAlpha, the CH
    // max_substrings truncation on every splitBy* spelling (default
    // setting: remainder DISCARDED, not folded into the last element),
    // origin-anchored toStartOfInterval, and the pre-1970 floor of the
    // fixed-width toStartOf* buckets (pmod floor, not trunc-toward-0)
    "q_compat_r15split" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r15")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r15),
        b AS (SELECT user_id,
            concat('w', CAST(user_id % 5 AS STRING), ' x-',
              CAST(user_id % 3 AS STRING), '_y!z-',
              CAST(user_id % 7 AS STRING)) AS s,
            CAST(timestamp_seconds(1709251200 + user_id * 37)
              AS TIMESTAMP) AS ts,
            CAST(timestamp_seconds(user_id * 37 - 172800)
              AS TIMESTAMP) AS tsneg
          FROM u)
        SELECT user_id,
          concat_ws('|', splitByNonAlpha(s)) AS sna,
          concat_ws('|', splitByNonAlpha(s, 2)) AS sna2,
          concat_ws('|', splitByChar('-', s, 2)) AS sbc2,
          concat_ws('|', splitByString('_', s, 1)) AS sbs1,
          concat_ws('|', splitByWhitespace(s, 1)) AS sbw1,
          concat_ws('|', splitByRegexp('[!x]', s, 3)) AS sbr3,
          concat_ws('|', alphaTokens(s, 2)) AS at2,
          CAST(toStartOfInterval(ts, INTERVAL 90 SECOND) AS BIGINT)
            AS tsi,
          CAST(toStartOfInterval(ts, INTERVAL 90 SECOND,
            TIMESTAMP'2024-03-01 00:00:17') AS BIGINT) AS tsio,
          CAST(toStartOfFifteenMinutes(tsneg) AS BIGINT) AS t15n
        FROM b ORDER BY user_id""")
    }),

    // round-15 fill/segment tier: the predicate-driven arrayFill /
    // arrayReverseFill forward/backward fills and the arraySplit /
    // arrayReverseSplit run segmentation, replayed index-for-index in
    // DuckDB from the same closed forms
    "q_compat_r15arr" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r15a")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r15a),
        b AS (SELECT user_id,
            array(CAST(user_id % 3 + 1 AS INT),
              CAST(-(user_id % 5) - 1 AS INT),
              CAST(user_id % 7 + 1 AS INT),
              CAST(-(user_id % 3) - 1 AS INT),
              CAST(user_id % 5 + 1 AS INT)) AS a
          FROM u)
        SELECT user_id,
          concat_ws(',', transform(arrayFill(x -> x > 0, a),
            v -> CAST(v AS STRING))) AS ff,
          concat_ws(',', transform(arrayReverseFill(x -> x > 0, a),
            v -> CAST(v AS STRING))) AS rf,
          concat_ws('|', transform(arraySplit(x -> x < 0, a),
            g -> concat_ws(',', transform(g,
              v -> CAST(v AS STRING))))) AS sp,
          concat_ws('|', transform(arrayReverseSplit(x -> x < 0, a),
            g -> concat_ws(',', transform(g,
              v -> CAST(v AS STRING))))) AS rsp
        FROM b ORDER BY user_id""")
    }),

    // round-15 time/misc tier: per-unit date arithmetic, complete-unit
    // age, numeric datetime codecs, Snowflake-ID codecs (public
    // Twitter epoch), camel-cased string utilities, fmt-style format —
    // every column DuckDB-closed
    "q_compat_r15time" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r15t")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r15t),
        b AS (SELECT user_id,
            CAST(user_id % 5 + 1 AS INT) AS n,
            1709251200 + user_id * 37 AS t,
            CAST(timestamp_seconds(1709251200 + user_id * 37)
              AS TIMESTAMP) AS ts,
            concat('ev_', CAST(user_id % 7 AS STRING), '_tail') AS s
          FROM u)
        SELECT user_id,
          CAST(addDays(DATE'2024-01-31', n) AS STRING) AS ad,
          CAST(addHours(ts, n) AS STRING) AS ah,
          CAST(subtractDays(ts, n) AS STRING) AS sd,
          age('day', TIMESTAMP'2024-01-01 00:00:00', ts) AS aged,
          age('hour', TIMESTAMP'2024-02-29 23:30:30', ts) AS ageh,
          toYYYYMMDDhhmmss(ts) AS ynum,
          toISOYear(CAST(ts AS DATE)) AS iy,
          CAST(fromUnixTimestamp(t) AS STRING) AS fu,
          fromUnixTimestamp(t, '%Y-%m-%d %H:%i:%S') AS fuf,
          CAST(snowflakeToDateTime(t * 4194304) AS STRING) AS sfs,
          dateTimeToSnowflake(ts) AS snow,
          substringIndex(s, '_', 2) AS si,
          countSubstringsCaseInsensitive(upper(s), 'ta') AS ce,
          hasSubsequence(s, 'val') AS hs1,
          hasSubsequence(s, 'zz') AS hs0,
          format('{}-{}', user_id % 3, s) AS fmt
        FROM b ORDER BY user_id""")
    }),

    // round-16 misc tier: 1000-based readable sizes, sub-second
    // toStartOf* buckets, ISO-year start, the edit-distance family
    // (Levenshtein aliases + unrestricted Damerau-Levenshtein),
    // byte hamming with the unequal-length contract, integer/float
    // power helpers and bitCount — every column DuckDB-closed
    "q_compat_r16misc" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r16m")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r16m),
        b AS (SELECT user_id,
            CAST(user_id % 987 + 13 AS DOUBLE) *
              power(1000.0D, CAST(user_id % 6 AS DOUBLE)) AS bytes,
            timestamp_micros(1709251200000000 + user_id * 1234567)
              AS ts,
            CAST(date_add(DATE'2020-12-28', CAST(user_id % 740 AS INT))
              AS DATE) AS dd,
            concat('grafter_', CAST(user_id % 9 AS STRING)) AS sa,
            concat('graphite_', CAST(user_id % 7 AS STRING)) AS sb,
            CAST(user_id % 11 AS INT) AS n
          FROM u)
        SELECT user_id,
          formatReadableDecimalSize(bytes) AS frd,
          CAST(toStartOfSecond(ts) AS BIGINT) AS tss,
          unix_micros(toStartOfMillisecond(ts)) AS tsm,
          unix_micros(toStartOfMicrosecond(ts)) AS tsu,
          CAST(toStartOfISOYear(dd) AS STRING) AS isoy,
          levenshteinDistance(sa, sb) AS lev,
          editDistance(sa, sb) AS ed,
          damerauLevenshteinDistance(concat(sa, 'CA'),
            concat(sb, 'ABC')) AS dl,
          byteHammingDistance(sa, sb) AS bh,
          round(exp2(CAST(n AS DOUBLE) / 2), 6) AS e2,
          round(exp10(CAST(n AS DOUBLE) / 4), 6) AS e10,
          intExp2(n) AS ie2,
          intExp10(n % 10) AS ie10,
          bitCount(user_id * 2654435761) AS bc
        FROM b ORDER BY user_id""")
    }),

    // round-16 hash/array tier: binary digests composed through the
    // dialect's uppercasing hex (MD5/SHA256 DuckDB-closed; SHA1/224/
    // 512 + CRC32 pinned in CompatSpec against published vectors),
    // the Java/Hive polynomial hashes replayed as the same BIGINT
    // mod-2^32 fold, dot product, and the Lindley-form clamped
    // cumulative sum
    "q_compat_r16hash" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r16h")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r16h),
        b AS (SELECT user_id,
            concat('doc_', CAST(user_id % 23 AS STRING), '/seg-',
              CAST(user_id % 7 AS STRING)) AS s,
            array(CAST(user_id % 5 + 1 AS BIGINT),
              CAST(-(user_id % 7) - 1 AS BIGINT),
              CAST(user_id % 3 + 2 AS BIGINT),
              CAST(-(user_id % 4) - 2 AS BIGINT),
              CAST(user_id % 6 AS BIGINT)) AS a,
            array(CAST(user_id % 4 AS BIGINT),
              CAST(user_id % 9 - 4 AS BIGINT),
              CAST(user_id % 2 + 1 AS BIGINT),
              CAST(user_id % 5 - 2 AS BIGINT),
              CAST(user_id % 8 AS BIGINT)) AS a2
          FROM u)
        SELECT user_id,
          hex(MD5(s)) AS h_md5,
          hex(SHA256(s)) AS h_sha256,
          javaHash(s) AS jh,
          hiveHash(s) AS hh,
          round(arrayDotProduct(a, a2), 6) AS adp,
          concat_ws(',', arrayCumSumNonNegative(a)) AS acsn
        FROM b ORDER BY user_id""")
    }),

    // round-16 math tier: gamma/error specials (house Lanczos /
    // incomplete-gamma numerics vs DuckDB's libm under the 6dp
    // compare), sigmoid, factorial pass-through, 64-bit byteSwap,
    // string reverse, and the sorted symmetric difference
    "q_compat_r16math" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r16x")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r16x),
        b AS (SELECT user_id,
            CAST(user_id % 40 AS DOUBLE) / 4 + 0.25 AS x,
            CAST(user_id % 13 AS INT) AS n,
            user_id * 2654435761 + 11 AS big,
            concat('rev_', CAST(user_id % 17 AS STRING)) AS s,
            array(CAST(user_id % 5 AS INT), CAST(user_id % 7 AS INT),
              CAST(user_id % 3 AS INT)) AS a,
            array(CAST(user_id % 7 AS INT), CAST(user_id % 4 AS INT),
              CAST(user_id % 6 AS INT)) AS a2
          FROM u)
        SELECT user_id,
          round(lgamma(x), 6) AS lg,
          round(tgamma(x), 6) AS tg,
          round(sigmoid(x - 5), 6) AS sg,
          factorial(n) AS fact,
          byteSwap(big) AS bs,
          reverseUTF8(s) AS rev,
          concat_ws(',', arraySymmetricDifference(a, a2)) AS asd,
          pointInPolygon(
            CAST(user_id % 10 AS DOUBLE) - 0.5,
            CAST(user_id % 9 AS DOUBLE) - 0.5,
            array(0.0D, 8.7D, 8.7D, 0.0D),
            array(0.0D, 0.0D, 6.5D, 6.5D)) AS pip,
          pointInPolygon(
            CAST(user_id % 10 AS DOUBLE) - 0.5,
            CAST(user_id % 9 AS DOUBLE) - 0.5,
            array(6.0D, 8.0D, 5.0D, 0.0D),
            array(0.0D, 4.0D, 8.0D, 2.0D)) AS pip2
        FROM b ORDER BY user_id""")
    }),

    // round-16 window/regex/uuid tier: frame-offset spellings,
    // case-insensitive match counting, MySQL-style regexpExtract +
    // extractGroups, UUID <-> 16-byte codecs (variant-1 big-endian;
    // variant 2 refused), null-padded zip, assume-sorted indexOf
    "q_compat_r16win" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r16w")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r16w),
        b AS (SELECT user_id,
            CAST(user_id % 37 AS BIGINT) AS v,
            concat('id-', CAST(user_id % 97 AS STRING), '-v',
              CAST(user_id % 13 AS STRING), ' AbbA ab') AS s,
            concat(substring(md5(CAST(user_id AS STRING)), 1, 8), '-',
              substring(md5(CAST(user_id AS STRING)), 9, 4), '-',
              substring(md5(CAST(user_id AS STRING)), 13, 4), '-',
              substring(md5(CAST(user_id AS STRING)), 17, 4), '-',
              substring(md5(CAST(user_id AS STRING)), 21, 12)) AS uu,
            array(CAST(user_id % 5 AS INT),
              CAST(user_id % 5 + 3 AS INT),
              CAST(user_id % 5 + 7 AS INT)) AS sorted_a
          FROM u)
        SELECT user_id,
          lagInFrame(v, 2, CAST(-1 AS BIGINT)) OVER (
            PARTITION BY user_id % 5 ORDER BY user_id) AS lg,
          leadInFrame(v) OVER (
            PARTITION BY user_id % 5 ORDER BY user_id) AS ld,
          countMatchesCaseInsensitive(s, 'ab') AS cmi,
          regexpExtract(s, 'id-([0-9]+)') AS rx1,
          regexpExtract(s, 'id-([0-9]+)-v([0-9]+)', 2) AS rx2,
          concat_ws('|', extractGroups(s,
            'id-([0-9]+)-v([0-9]+)')) AS eg,
          UUIDNumToString(UUIDStringToNum(uu)) AS uurt,
          hex(UUIDStringToNum(uu)) AS uhex,
          concat_ws(',', transform(
            arrayZipUnaligned(sorted_a, array(CAST(user_id % 3 AS INT))),
            p -> concat(coalesce(CAST(p.zx AS STRING), 'n'), ':',
              coalesce(CAST(p.zy AS STRING), 'n')))) AS zu,
          indexOfAssumeSorted(sorted_a,
            CAST(user_id % 5 + 3 AS INT)) AS ias,
          round(nonNegativeDerivative(v,
            timestamp_seconds(user_id * 7)) OVER (
            PARTITION BY user_id % 5 ORDER BY user_id), 6) AS nnd,
          round(nonNegativeDerivative(v,
            timestamp_seconds(user_id * 7), INTERVAL 1 MINUTE) OVER (
            PARTITION BY user_id % 5 ORDER BY user_id), 6) AS nndm
        FROM b ORDER BY user_id""")
    }),

    // round-14 stats/strings tier: one-way ANOVA F per user (p-value
    // is incomplete-beta territory — pinned in CompatSpec, not
    // replayable in SQL), WoE information value, 4-gram similarity,
    // splitters, and ROC AUC, every gated column in DuckDB-closed form
    "q_compat_r14stats" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r14s")
      graft.sql.Compat.chSql(s, """
        WITH agg AS (
          SELECT user_id,
            analysisOfVariance(CAST(event_id % 89 AS DOUBLE),
              event_type) AS an,
            categoricalInformationValue(event_type,
              CAST(event_id % 2 AS INT)) AS iv
          FROM ch_events_r14s GROUP BY user_id),
        scal AS (
          SELECT user_id,
            concat('event_', CAST(user_id % 7 AS STRING), '_str')
              AS s1,
            concat('event_', CAST(user_id % 5 AS STRING), '_txt')
              AS s2,
            array(CAST(user_id % 10 AS DOUBLE),
              CAST(user_id % 6 AS DOUBLE),
              CAST(user_id % 4 + 2 AS DOUBLE),
              CAST(user_id % 8 AS DOUBLE)) AS sc,
            array(0, 1, 0, 1) AS lb
          FROM (SELECT DISTINCT user_id FROM ch_events_r14s))
        SELECT a.user_id,
          round(a.an.f_statistic, 6) AS f_stat,
          round(a.iv[0], 6) AS iv,
          round(ngramDistance(c.s1, c.s2), 6) AS nd,
          round(ngramSearch(c.s1, c.s2), 6) AS ns,
          concat_ws('|', splitByWhitespace(
            concat('w', CAST(a.user_id % 3 AS STRING), '  x  y')))
            AS sw,
          concat_ws('|', alphaTokens(c.s1)) AS at,
          round(arrayAUC(c.sc, c.lb), 6) AS auc
        FROM agg a JOIN scal c ON a.user_id = c.user_id
        ORDER BY a.user_id""")
    }),

    // round-14 array/bitmap tier: regex group extraction, ranged
    // array reduce, and the groupBitmap set folds per user over every
    // event row (And = in every row-set, Or = distinct, Xor = odd
    // row-presence — all replayed from unnested counts in DuckDB)
    "q_compat_r14arr" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r14a")
      graft.sql.Compat.chSql(s, """
        WITH e AS (SELECT user_id,
            array(CAST(event_id % 7 AS BIGINT),
              CAST(event_id % 11 AS BIGINT),
              CAST(user_id % 5 AS BIGINT)) AS b
          FROM ch_events_r14a),
        agg AS (SELECT user_id,
            groupBitmapAnd(b) AS band,
            groupBitmapOr(b) AS bor,
            groupBitmapXor(b) AS bxor
          FROM e GROUP BY user_id),
        sc AS (SELECT user_id,
            concat('a=', CAST(user_id % 5 AS STRING), ';b=',
              CAST(user_id % 7 AS STRING), ';c=',
              CAST(user_id % 3 AS STRING)) AS s,
            array(CAST(user_id % 5 AS BIGINT),
              CAST(user_id % 7 AS BIGINT),
              CAST(user_id % 3 AS BIGINT),
              CAST(user_id % 11 AS BIGINT),
              CAST(user_id % 13 AS BIGINT)) AS arr
          FROM (SELECT DISTINCT user_id FROM ch_events_r14a))
        SELECT a.user_id, a.band, a.bor, a.bxor,
          concat_ws('|', transform(
            extractAllGroupsHorizontal(c.s, '(\\w)=(\\d)'),
            g -> concat_ws(',', g))) AS egh,
          concat_ws('|', transform(
            extractAllGroupsVertical(c.s, '(\\w)=(\\d)'),
            g -> concat_ws(':', g))) AS egv,
          concat_ws(',', arrayReduceInRanges('sum',
            array((1, 2), (2, 3)), c.arr)) AS rr,
          concat_ws(',', arrayReduceInRanges('max',
            array((1, 5)), c.arr)) AS rm,
          concat_ws('|', transform(arrayShingles(c.arr, 3),
            w -> concat_ws(',', w))) AS sh
        FROM agg a JOIN sc c ON a.user_id = c.user_id
        ORDER BY a.user_id""")
    }),

    // round-14 time/codec tier: 64-bit epoch codecs (round-trips
    // hashed as integers), year-zero day arithmetic, regex-valued
    // multiMatch, tuple hamming, UTF8 position aliases
    "q_compat_r14time" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r14t")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r14t),
        b AS (SELECT user_id,
            timestamp_seconds(1700000000 + user_id * 13) AS ts,
            concat('ev_', CAST(user_id % 7 AS STRING)) AS s,
            738000 + CAST(user_id % 1000 AS INT) AS nd
          FROM u)
        SELECT user_id,
          toUnixTimestamp64Milli(ts) AS ms,
          toUnixTimestamp64Micro(ts) AS us,
          toUnixTimestamp64Nano(ts) AS ns,
          toUnixTimestamp64Micro(
            fromUnixTimestamp64Milli(1700000000123 + user_id)) AS rt,
          CAST(fromDaysSinceYearZero(nd) AS STRING) AS fdz,
          toDaysSinceYearZero(fromDaysSinceYearZero(nd)) AS tdz,
          multiMatchAny(s, array(
            concat('^ev_', CAST(user_id % 2 AS STRING)), '_9$')) AS mm,
          multiMatchAnyIndex(s, array(
            concat('^ev_', CAST(user_id % 2 AS STRING)), '_9$')) AS mi,
          CAST(tupleHammingDistance(
            (user_id % 3, user_id % 5, 1),
            (user_id % 3, user_id % 7, 2)) AS INT) AS thd,
          CAST(positionUTF8(s, CAST(user_id % 3 AS STRING)) AS BIGINT)
            AS pu
        FROM b ORDER BY user_id""")
    }),

    // round-14 URL/IP tier over synthetic per-user URLs — every
    // column replays in DuckDB either in closed form (the fixture is
    // constructed from user_id mods on both sides) or via the same
    // generic cut-position list computation
    "q_compat_r14url" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r14u")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r14u),
        b AS (SELECT user_id,
            concat('https://www.ex', CAST(user_id % 5 AS STRING),
              '.com:', CAST(8000 + user_id % 7 AS STRING),
              '/a', CAST(user_id % 3 AS STRING),
              '/b?q=', CAST(user_id % 11 AS STRING),
              '#s', CAST(user_id % 2 AS STRING)) AS url,
            concat(CAST(user_id % 256 AS STRING), '.',
              CAST(user_id * 3 % 256 AS STRING), '.',
              CAST(user_id * 7 % 256 AS STRING), '.',
              CAST(user_id * 11 % 256 AS STRING)) AS ip,
            concat(CAST(user_id % 300 AS STRING), '.0.0.1') AS ipq
          FROM u)
        SELECT user_id,
          pathFull(url) AS pf,
          queryStringAndFragment(url) AS qf,
          cutQueryString(url) AS cq,
          cutWWW(url) AS cw,
          netloc(url) AS nl,
          port(url) AS po,
          firstSignificantSubdomain(url) AS fs,
          concat_ws('|', URLHierarchy(url)) AS uh,
          concat_ws('|', URLPathHierarchy(url)) AS uph,
          encodeURLComponent(concat('q ',
            CAST(user_id % 10 AS STRING), '+v')) AS enc,
          decodeURLComponent(concat('a%20',
            CAST(user_id % 10 AS STRING), '+c')) AS dec,
          tryBase64Decode(base64Encode(concat('u',
            CAST(user_id AS STRING)))) AS b64,
          bin(user_id % 300) AS bn,
          isIPv4String(ip) AS v4,
          isIPv4String(ipq) AS v4q,
          IPv4CIDRToRange(ip, 16).lo AS clo,
          IPv4CIDRToRange(ip, 16).hi AS chi,
          isIPAddressInRange(ip, '10.32.0.0/11') AS inr
        FROM b ORDER BY user_id""")
    }),

    // formatDateTime / parseDateTime round-trips vs DuckDB's NATIVE
    // strftime — independent %-code implementations of the same
    // MySQL-style table
    "q_compat_r14fmt" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_r14f")
      graft.sql.Compat.chSql(s, """
        WITH u AS (SELECT DISTINCT user_id FROM ch_events_r14f),
        b AS (SELECT user_id,
            timestamp_seconds(1709251200 + user_id * 9973) AS ts,
            1709251200 + user_id * 9973 AS t
          FROM u)
        SELECT user_id,
          formatDateTime(ts, '%Y-%m-%d %H:%i:%S') AS f1,
          formatDateTime(ts, '%F') AS f2,
          formatDateTime(ts, '%M') AS f3,
          formatDateTime(ts, '%j|%Q|%p') AS f4,
          CAST(parseDateTime(formatDateTime(ts,
            '%Y-%m-%d %H:%i:%S'), '%Y-%m-%d %H:%i:%S') AS BIGINT)
            AS rt,
          CAST(parseDateTimeBestEffort(formatDateTime(ts, '%F'))
            AS BIGINT) AS be
        FROM b ORDER BY user_id""")
    }),

    // jaro / jaro-winkler vs DuckDB's NATIVE implementations — the
    // strongest oracle shape available (independent codebases, same
    // textbook algorithm) over real event_type pairs plus shifted
    // variants
    "q_compat_jaro" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_jr")
      graft.sql.Compat.chSql(s, """
        WITH p AS (SELECT DISTINCT user_id,
            concat('user_', CAST(user_id % 97 AS STRING), '_session')
              AS s1,
            concat('user_', CAST(user_id % 89 AS STRING), '_sesion')
              AS s2
          FROM ch_events_jr)
        SELECT user_id,
          round(jaroSimilarity(s1, s2), 6) AS j,
          round(jaroWinklerSimilarity(s1, s2), 6) AS jw
        FROM p ORDER BY user_id""")
    }),

    // sequenceNextNode — the what-came-next clickstream aggregate in
    // three of its four (direction, base) modes; DuckDB replays with
    // list indexing over the identically tie-broken (ts, event_type)
    // order. NULL results (chain off the end / anchor missing)
    // coalesce to '' on both sides so every row stays hashable.
    "q_compat_nextnode" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_nn")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          coalesce(sequenceNextNode('forward', 'first_match')(
            ts, event_type, true, event_type = 'signup'), '')
            AS after_signup,
          coalesce(sequenceNextNode('backward', 'last_match')(
            ts, event_type, true, event_type = 'error'), '')
            AS before_last_error,
          coalesce(sequenceNextNode('forward', 'head')(
            ts, event_type, true, event_type = 'view',
            event_type = 'click'), '') AS vc_next,
          count() AS n
        FROM ch_events_nn
        GROUP BY user_id ORDER BY user_id""")
    }),

    // array-aggregate batch: groupArraySorted (bounded bottom-N),
    // groupArrayIntersect (prefix sequences, so the oracle is the
    // range of the min), singleValueOrNull, corrMatrix (flattened
    // row-major, rounded). All four replay exactly in DuckDB.
    "q_compat_arrays2" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_a2")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          concat_ws(',', groupArraySorted(5)(event_id % 37)) AS bot5,
          concat_ws(',', groupArrayIntersect(
            sequence(1, CAST(1 + event_id % 5 AS INT)))) AS inter,
          coalesce(CAST(singleValueOrNull(
            CASE WHEN user_id % 2 = 0 THEN 7 ELSE event_id % 2 END)
            AS STRING), '') AS sv,
          concat_ws(',', transform(flatten(corrMatrix(
            event_id % 97, (event_id % 97) * 3 + event_id % 11)),
            c -> CAST(round(c, 4) AS STRING))) AS cm,
          count() AS n
        FROM ch_events_a2
        GROUP BY user_id ORDER BY user_id""")
    }),

    // stochasticLinearRegression answered with the EXACT ridge/OLS
    // solution — per-user 2-feature fits (y deliberately NOT exactly
    // linear so the weights are true least-squares answers) plus an
    // evalMLMethod prediction. DuckDB replays the full 3x3 normal
    // equations via Cramer's rule.
    "q_compat_mlreg" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_ml")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          round(element_at(w, 1), 4) AS w1,
          round(element_at(w, 2), 4) AS w2,
          round(element_at(w, 3), 4) AS w0,
          round(evalMLMethod(w, 10, 20), 4) AS pred,
          n
        FROM (SELECT user_id,
            stochasticLinearRegression(0.1, 0.0, 32, 'SGD')(y, a, b)
              AS w,
            count() AS n
          FROM (SELECT user_id,
              CAST(event_id % 97 AS DOUBLE) AS a,
              CAST(event_id % 11 AS DOUBLE) AS b,
              CAST(3 * (event_id % 97) + 2 * (event_id % 11)
                + event_id % 7 AS DOUBLE) AS y
            FROM ch_events_ml) t
          GROUP BY user_id) g
        ORDER BY user_id""")
    }),

    // seriesOutliersDetectTukey — Tukey-fence anomaly scores over a
    // deterministic per-user series (a repeating 0..6 ramp with one
    // user-dependent spike at position 13); DuckDB replays quantiles
    // and fences exactly (both sides linear-interpolate, the
    // quantile_cont convention).
    "q_compat_series" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_so")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          concat_ws(',', transform(
            seriesOutliersDetectTukey(transform(sequence(1, 20),
              i -> CAST(CASE WHEN i = 13 THEN 40 + user_id % 90
                ELSE i % 7 END AS DOUBLE))),
            x -> CAST(round(x, 4) AS STRING))) AS scores,
          n
        FROM (SELECT user_id, count() AS n FROM ch_events_so
          GROUP BY user_id) g
        ORDER BY user_id""")
    }),

    // sparkbar — the inline unicode bar chart; the rendering contract
    // is precisely documented (bin = floor(x·B/range) clamped, level
    // = clamp(ceil(sum·8/max), 1, 8), non-positive bins are spaces),
    // so DuckDB reproduces the exact string from the same arithmetic.
    "q_compat_sparkbar" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_sb")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          sparkbar(10, 0, 600)(CAST(event_id % 601 AS DOUBLE),
            CAST(event_id % 89 AS DOUBLE)) AS bar,
          count() AS n
        FROM ch_events_sb
        GROUP BY user_id ORDER BY user_id""")
    }),

    // scalar round-out gate: bar (eighth-block render with the
    // documented rounding), gcd/lcm, haversine distance, and the
    // case-insensitive locate — every formula replayed arithmetic-
    // for-arithmetic in DuckDB. roundBankers/geohash are spec-pinned
    // (DuckDB rounds half-away and has no geohash).
    "q_compat_scalar2" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_sc")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          bar(av, 0, 96, 10) AS b,
          CAST(gcd(user_id + 6, 21) AS BIGINT) AS g,
          CAST(lcm(user_id % 7 + 1, 6) AS BIGINT) AS l,
          round(greatCircleDistance(
            CAST(user_id % 60 AS DOUBLE) - 30.0, 40.0,
            2.35, 48.85), 2) AS dist,
          su, n
        FROM (SELECT user_id,
            avg(CAST(event_id % 97 AS DOUBLE)) AS av,
            CAST(sum(positionCaseInsensitive(event_type, 'U'))
              AS BIGINT) AS su,
            count() AS n
          FROM ch_events_sc GROUP BY user_id) g
        ORDER BY user_id""")
    }),

    // arrayFold/Rotate/Compact/Jaccard over prefix sequences — the
    // inputs are arithmetic prefixes, so every reduction has a CLOSED
    // FORM the oracle replays without list lambdas: Σx² = k(k+1)(2k+1)/6,
    // rotate-head = 2 unless k = 1, compact size = ⌊k/2⌋+1,
    // Jaccard(1..k, 2..6) = (k−1)/6.
    "q_compat_arrays3" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_a3")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          CAST(sum(arrayFold((acc, x) -> acc + x * x, arr, 0))
            AS BIGINT) AS ssq,
          CAST(sum(element_at(arrayRotateLeft(arr, 1), 1)) AS BIGINT)
            AS rot1,
          CAST(sum(size(arrayCompact(
            transform(arr, x -> CAST(x / 2 AS INT))))) AS BIGINT)
            AS cpt,
          round(sum(arrayJaccardIndex(arr, sequence(2, 6))), 4) AS jac,
          count() AS n
        FROM (SELECT user_id,
            sequence(1, CAST(1 + event_id % 5 AS INT)) AS arr
          FROM ch_events_a3) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // CH vector-distance spellings over the REAL embeddings corpus —
    // each row's vector against the vec_id=0 anchor; DuckDB replays
    // with its native list_dot_product / list_distance /
    // list_cosine_similarity plus elementary folds for L1/Linf.
    // Float32 embeddings are cast to double on BOTH sides before any
    // arithmetic so the engines accumulate identically.
    "q_compat_vecdist" -> ((s, d) => {
      graft.Tables.embeddings(s, d)
        .createOrReplaceTempView("ch_emb_vd")
      graft.sql.Compat.chSql(s, """
        SELECT e.vec_id,
          round(dotProduct(e.embedding, a.embedding), 4) AS dp,
          round(L2Distance(e.embedding, a.embedding), 4) AS l2,
          round(L1Distance(e.embedding, a.embedding), 4) AS l1,
          round(LinfDistance(e.embedding, a.embedding), 4) AS linf,
          round(cosineDistance(e.embedding, a.embedding), 4) AS cd,
          round(L2Norm(e.embedding), 4) AS nrm
        FROM ch_emb_vd e
        CROSS JOIN (SELECT embedding FROM ch_emb_vd WHERE vec_id = 0) a
        ORDER BY e.vec_id""")
    }),

    // -ForEach combinators over the real embedding corpus: per-label
    // element-wise sums and means across all 64 dimensions, the
    // vector-accumulation workload. DuckDB replays through
    // unnest + generate_subscripts; both sides aggregate doubles and
    // round to 3dp, well above float-order noise.
    "q_compat_foreach" -> ((s, d) => {
      graft.Tables.embeddings(s, d)
        .createOrReplaceTempView("ch_emb_fe")
      graft.sql.Compat.chSql(s, """
        SELECT label,
          concat_ws(',', transform(sumForEach(embedding),
            v -> CAST(round(v, 3) + 0.0 AS STRING))) AS sfe,
          concat_ws(',', transform(avgForEach(embedding),
            v -> CAST(round(v, 3) + 0.0 AS STRING))) AS afe,
          count() AS n
        FROM ch_emb_fe
        GROUP BY label ORDER BY label""")
    }),

    // arrayReduce('agg', arr) — the CH apply-aggregate-to-array
    // spelling, dispatched to the gated array builders; per-row
    // reduces summed per user so every element flows into the hash.
    // DuckDB replays with its own list aggregates (range(a,b) is
    // exclusive-stop, Spark's sequence inclusive — hence the +1).
    "q_compat_arrayreduce" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_ar")
      graft.sql.Compat.chSql(s, """
        SELECT user_id,
          CAST(sum(arrayReduce('sum', arr)) AS BIGINT) AS s,
          CAST(sum(arrayReduce('count', arr)) AS BIGINT) AS c,
          CAST(sum(arrayReduce('uniqExact', arr)) AS BIGINT) AS u,
          CAST(sum(arrayReduce('max', arr)) AS BIGINT) AS mx,
          round(sum(arrayReduce('avg', arr)), 4) AS av,
          CAST(sum(arrayReduce('any', arr)) AS BIGINT) AS a1,
          CAST(sum(arrayReduce('anyLast', arr)) AS BIGINT) AS a2
        FROM (SELECT user_id,
            sequence(1, CAST(1 + event_id % 7 AS INT)) AS arr
          FROM ch_events_ar) t
        GROUP BY user_id ORDER BY user_id""")
    }),

    // numbers() row generator + fixed-width time buckets, as literal CH
    // text; DuckDB replays the 15-minute bucket via time_bucket (same
    // epoch anchor: 2000-01-01 is a whole multiple of 900 s)
    "q_compat_numbers" -> ((s, d) => {
      graft.Tables.events(s, d).createOrReplaceTempView("ch_events_num")
      graft.sql.Compat.chSql(s, """
        SELECT toStartOfFifteenMinutes(ts) AS q15, count() AS n,
          sum(event_id % 100) AS s_mod,
          (SELECT sum(number) FROM numbers(100)) AS s_num
        FROM ch_events_num GROUP BY q15 ORDER BY q15""")
    }),

    // CH ASOF JOIN spelling (round 12): literal `ASOF JOIN` query text
    // routed through Compat.rewriteAsof to the single-shuffle
    // union-window plan (the q20_asof formulation — one exchange on
    // user_id, NO join operator; PlanAuditSpec asserts the shape).
    // Inner ASOF semantics: purchases with no at-or-before view drop.
    "q_compat_asof" -> ((s, d) => {
      val e = graft.Tables.events(s, d)
      e.filter(col("event_type") === "view")
        .createOrReplaceTempView("ch_asof_view")
      e.filter(col("event_type") === "purchase")
        .createOrReplaceTempView("ch_asof_purch")
      graft.sql.Compat.chSql(s, """
        SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
          v.ts AS asof_view_ts, v.event_id AS asof_view_id
        FROM ch_asof_purch AS p ASOF JOIN ch_asof_view AS v
          ON p.user_id = v.user_id AND p.ts >= v.ts
        ORDER BY event_id""")
    }),

    // the LEFT arm of the ASOF spelling: unmatched purchases survive
    // with NULL view columns (documented deviation: NULL, not CH's
    // type defaults) — plus the -If combinators and sumCount
    "q_compat_asof_left" -> ((s, d) => {
      val e = graft.Tables.events(s, d)
      e.filter(col("event_type") === "view")
        .createOrReplaceTempView("ch_asofl_view")
      e.filter(col("event_type") === "purchase")
        .createOrReplaceTempView("ch_asofl_purch")
      graft.sql.Compat.chSql(s, """
        SELECT p.user_id AS user_id,
          count() AS n_purch,
          sum(toInt64(v.event_id IS NULL)) AS n_unmatched,
          argMaxIf(v.event_id, p.ts, v.event_id IS NOT NULL) AS last_view,
          sumCount(p.event_id).count AS n_cnt
        FROM ch_asofl_purch AS p ASOF LEFT JOIN ch_asofl_view AS v
          ON p.user_id = v.user_id AND p.ts >= v.ts
        GROUP BY user_id ORDER BY user_id""")
    }),

    // S7: 4-feed cloud-range merge with reference precedence
    // (public_ranges.go:159-311): aws internal service dedup, then
    // azurestorage > google > gcp > aws > azure-other per exact prefix
    "q_cloudranges_merge" -> ((s, d) => {
      val (aws, gcp, google, azure) = SyntheticFlows.cloudFeeds(s, d)
      graft.dims.CloudRanges.mergeFeeds(
        graft.dims.CloudRanges.dedupAws(aws), gcp, google, azure)
        .orderBy("p_start", "p_end")
    }),

    // P1/P2/P12: IP + formatting scalar expressions over raw flows
    "qip_funcs" -> ((s, d) => {
      val (f, _, _, _) = stages(s, d)
      f.select(col("flow_id"),
          long_to_ip(col("orig_src_ip")).as("src_ip"),
          long_to_ip(col("orig_dst_ip")).as("dst_ip"),
          ip_is_private(col("orig_dst_ip")).as("dst_private"),
          format_readable_size(col("orig_bytes")).as("size_str"))
        .orderBy("flow_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // first-match-wins over the three overlapping snapshots, expressed
    // as the equivalent priority CASE per key
    "qf_dim_chain" ->
      """WITH p AS (
        |  SELECT 167772160 + c_custkey AS pod_ip,
        |    'pod-' || CAST(c_custkey AS VARCHAR) AS pod_name,
        |    LOWER(c_mktsegment) AS app
        |  FROM customer)
        |SELECT pod_ip, pod_name,
        |  CASE WHEN pod_ip % 3 = 0 THEN app || '-w0'
        |       WHEN pod_ip % 2 = 0 THEN app || '-w1'
        |       ELSE app || '-w2' END AS pod_app
        |FROM p ORDER BY pod_ip""".stripMargin,

    // the expected post-roundtrip state, straight from the flow CTE:
    // mod-37 messages are malformed (typed as all-null, counted in the
    // proto = -1 row), the rest survive the junk filter or not exactly
    // as the un-serialized flows do
    "qf_wire_decode" ->
      s"""${FlowSql.base}
         |SELECT * FROM (
         |  SELECT proto, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(orig_bytes) AS BIGINT) AS orig_bytes_sum
         |  FROM flows WHERE flow_id % 37 <> 0 AND ${FlowSql.junkFilter}
         |  GROUP BY proto
         |  UNION ALL
         |  SELECT CAST(-1 AS INTEGER) AS proto, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(0 AS BIGINT) AS orig_bytes_sum
         |  FROM flows WHERE flow_id % 37 = 0
         |) ORDER BY proto""".stripMargin,

    "qf_filters" ->
      s"""${FlowSql.base}
         |SELECT proto, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(orig_bytes) AS BIGINT) AS orig_bytes_sum
         |FROM flows WHERE ${FlowSql.junkFilter}
         |GROUP BY proto ORDER BY proto""".stripMargin,
    "qf_node_anti" ->
      s"""${FlowSql.labeledCte}
         |SELECT node_name, CAST(COUNT(*) AS BIGINT) AS n
         |FROM nofnode GROUP BY node_name ORDER BY node_name""".stripMargin,
    "qf_direction" ->
      s"""${FlowSql.labeledCte}
         |SELECT flow_id, flow_type, local_pod, local_namespace, local_app,
         |  local_zone, local_port, remote_port,
         |  ${sqlIpStr("remote_ip")} AS remote_ip_str,
         |  bytes_out, pkts_out, bytes_in, pkts_in
         |FROM labeled ORDER BY flow_id""".stripMargin,
    "qf_lpm" ->
      s"""${FlowSql.classifiedCte}
         |SELECT flow_id, remote_cloud, remote_region, remote_service,
         |  COALESCE(p_len, 0) AS prefix_len
         |FROM classified WHERE NOT ${sqlIsPrivate("remote_ip")}
         |ORDER BY flow_id""".stripMargin,
    "qf_classify" ->
      s"""${FlowSql.classifiedCte}
         |SELECT connection_class, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(bytes_out) AS BIGINT) AS bytes_out_sum
         |FROM classified GROUP BY connection_class
         |ORDER BY connection_class""".stripMargin,
    "qf_pipeline" ->
      s"""${FlowSql.summedCte}
         |SELECT * FROM summed
         |ORDER BY date, interval_start, interval_seconds, direction,
         |  proto_name, connection_class, node_name, local_zone,
         |  local_namespace, local_pod, local_app, local_instance,
         |  local_ip, local_port, remote_cloud, remote_region,
         |  remote_service, remote_app, remote_pod, remote_namespace,
         |  remote_instance, remote_node, remote_zone,
         |  remote_ip, remote_port, connection_flags""".stripMargin,
    "qf_showcase" ->
      s"""${FlowSql.summedCte}
         |SELECT local_pod, connection_class, total_bytes,
         |  ${sqlReadable("total_bytes")} AS readable
         |FROM (
         |  SELECT local_pod, connection_class,
         |    CAST(SUM(bytes) AS BIGINT) AS total_bytes
         |  FROM summed WHERE direction = 'out'
         |  GROUP BY local_pod, connection_class) t
         |ORDER BY total_bytes DESC, local_pod, connection_class
         |LIMIT 20""".stripMargin,
    "qf_outcomes" ->
      s"""$outcomesCte
         |SELECT outcome, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(orig_bytes) AS BIGINT) AS orig_bytes_sum
         |FROM oc
         |GROUP BY outcome ORDER BY outcome""".stripMargin,

    // the per-outcome → Prometheus counter-family mapping, mirrored
    // from StreamingFlows.outcomeFamily (server.go:100-117 counter
    // arms, collector.go:227-247 agent-side filters)
    "qf_metric_families" ->
      s"""$outcomesCte, oa AS (
         |  SELECT outcome, COUNT(*) AS n FROM oc GROUP BY outcome)
         |SELECT
         |  CASE WHEN outcome = 'labeled' THEN 'processed_flows'
         |    WHEN outcome IN ('ignored_udp','ignored_ipv6','ignored_node_flow')
         |      THEN 'processed_flows'
         |    WHEN outcome IN ('unknown_direction','error_ambiguous_pod_ip')
         |      THEN 'errors'
         |    WHEN outcome = 'error_intra_cloud_empty_region' THEN 'errors'
         |    ELSE 'collector_filtered' END AS family,
         |  CASE WHEN outcome = 'labeled' THEN 'enqueued'
         |    WHEN outcome IN ('ignored_udp','ignored_ipv6','ignored_node_flow')
         |      THEN 'ignored'
         |    WHEN outcome IN ('unknown_direction','error_ambiguous_pod_ip')
         |      THEN 'labeling_failed'
         |    WHEN outcome = 'error_intra_cloud_empty_region'
         |      THEN 'intra_cloud_empty_region'
         |    ELSE outcome END AS label,
         |  outcome, CAST(n AS BIGINT) AS n
         |FROM oa ORDER BY family, label, outcome""".stripMargin,
    "qa6_prefix_dedup" ->
      s"""${FlowSql.base}, feed AS (
         |  SELECT *, 1 AS p_priority FROM prefixes
         |  UNION ALL
         |  SELECT p_start, p_end, p_len, p_cloud, p_region, 'svc-dup', 2
         |  FROM prefixes WHERE p_len = 21 AND (p_start - 16777216) % 26624 = 0
         |), ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_start, p_end
         |    ORDER BY p_priority, p_service) AS rn
         |  FROM feed)
         |SELECT p_start, p_end, p_len, p_cloud, p_region, p_service
         |FROM ranked WHERE rn = 1 ORDER BY p_start, p_end""".stripMargin,
    "q_compat_sql" ->
      s"""${FlowSql.summedCte}
         |SELECT local_pod AS "localPod", connection_class AS "connectionClass",
         |  total_bytes AS "totalBytes", readable
         |FROM (
         |  SELECT local_pod, connection_class,
         |    CAST(SUM(bytes) AS BIGINT) AS total_bytes,
         |    ${sqlReadable("CAST(SUM(bytes) AS BIGINT)")} AS readable
         |  FROM summed WHERE direction = 'out'
         |  GROUP BY local_pod, connection_class) t
         |ORDER BY total_bytes DESC, local_pod, connection_class
         |LIMIT 20""".stripMargin,
    "q_compat_funcs" ->
      s"""${FlowSql.summedCte}, c AS (
         |  SELECT CAST(interval_start AS DATE) AS d,
         |    date_trunc('hour', interval_start) AS h,
         |    direction, bytes, local_pod, local_ip
         |  FROM summed)
         |SELECT d, h,
         |  CAST(COUNT(*) FILTER (WHERE direction = 'out') AS BIGINT) AS n_out,
         |  CAST(SUM(bytes) FILTER (WHERE direction = 'out') AS BIGINT)
         |    AS bytes_out,
         |  CAST(COUNT(DISTINCT local_pod) AS BIGINT) AS n_pods,
         |  ${sqlIpStr("MIN(local_ip)")} AS min_ip
         |FROM c GROUP BY d, h ORDER BY h""".stripMargin,

    // LPM stated as the range join + longest-prefix window it is
    "qf_dictget_trie" ->
      """WITH prefixes AS (
        |  SELECT 16777216 + p_partkey * 2048 AS p_start,
        |    16777216 + p_partkey * 2048 + 2047 AS p_end, 21 AS p_len,
        |    CASE p_partkey % 3 WHEN 0 THEN 'aws' WHEN 1 THEN 'gcp'
        |      ELSE 'azure' END AS p_cloud,
        |    CASE WHEN p_partkey % 53 = 0 THEN ''
        |         WHEN p_partkey % 7 = 0 THEN 'global'
        |         ELSE 'region-' || CAST(p_partkey % 7 AS VARCHAR)
        |    END AS p_region,
        |    'svc-' || CAST(p_partkey % 11 AS VARCHAR) AS p_service
        |  FROM part
        |  UNION ALL
        |  SELECT 16777216 + (p_partkey - (p_partkey % 4)) * 2048,
        |    16777216 + (p_partkey - (p_partkey % 4)) * 2048 + 8191, 19,
        |    CASE p_partkey % 3 WHEN 0 THEN 'aws' WHEN 1 THEN 'gcp'
        |      ELSE 'azure' END,
        |    'region-9', 'svc-coarse'
        |  FROM part WHERE p_partkey % 40 = 0),
        |pr AS (SELECT 16777216 + c_custkey * 512 +
        |    CASE WHEN c_custkey % 5 = 0 THEN 2000000000 ELSE 0 END AS ip
        |  FROM customer),
        |m AS (
        |  SELECT pr.ip, p.p_cloud, p.p_region, p.p_service,
        |    ROW_NUMBER() OVER (PARTITION BY pr.ip
        |      ORDER BY p.p_len DESC NULLS LAST) AS rn
        |  FROM pr LEFT JOIN prefixes p
        |    ON pr.ip BETWEEN p.p_start AND p.p_end)
        |SELECT ip, p_cloud, p_region, p_service
        |FROM m WHERE rn = 1 ORDER BY ip""".stripMargin,
    // the dictionary IS a left join, stated as one
    "qf_dictget" ->
      """WITH p AS (
        |  SELECT 167772160 + c_custkey AS pod_ip,
        |    'pod-' || CAST(c_custkey AS VARCHAR) AS pod_name,
        |    LOWER(c_mktsegment) AS pod_app,
        |    'node-' || CAST(c_custkey % 20 AS VARCHAR) AS pod_node
        |  FROM customer),
        |pr AS (SELECT 167772160 + c_custkey * 2 AS ip FROM customer)
        |SELECT ip, p.pod_name, p.pod_app, p.pod_node
        |FROM pr LEFT JOIN p ON pr.ip = p.pod_ip
        |ORDER BY ip""".stripMargin,
    "q_compat_parametric" ->
      """SELECT event_type,
        |  CAST(quantile_cont(CAST(ROUND(value * 100, 0) AS BIGINT), 0.5)
        |    AS DOUBLE) AS med_cents,
        |  CAST(quantile_cont(CAST(ROUND(value * 100, 0) AS BIGINT), 0.9)
        |    AS DOUBLE) AS p90_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // per-type rows + the grouping-sets grand total (NULL key, ordered
    // NULLS FIRST to match Spark's ascending default)
    "q_compat_totals" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events GROUP BY GROUPING SETS ((event_type), ())
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    // per-(type,bucket) + per-type subtotals + grand total, NULL
    // subtotal keys ordered first on both sides
    "q_compat_rollup" ->
      """SELECT event_type, CAST(user_id % 3 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events GROUP BY ROLLUP (event_type, user_id % 3)
        |ORDER BY event_type NULLS FIRST, bucket NULLS FIRST""".stripMargin,

    // the ARRAY JOIN clause = UNNEST of the same split; empty tokens
    // fall to the length filter on both sides
    "q_compat_array_join" ->
      """SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        |      FROM documents)
        |WHERE LENGTH(tok) >= 8
        |GROUP BY doc_id, tok
        |ORDER BY doc_id, tok""".stripMargin,
    // LIMIT BY = first-n-per-group in the query's own total order,
    // then the trailing global LIMIT
    "q_compat_limit_by" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY user_id, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, event_id LIMIT 500""".stripMargin,
    // SAMPLE 0.25 = the md5-prefix membership predicate, replayed
    // verbatim (floor(0.25 * 65536) = 0x4000)
    "q_compat_sample" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(doc_id) AS lo, MAX(doc_id) AS hi
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the union of the three slices, keyed by the synthetic _table
    // name; the extra column exists only in slice 2 (NULL -> 0
    // elsewhere); the unmatched 'other' table must NOT contribute
    "q_compat_merge_tables" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS date, event_type, user_id,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT CONCAT('events_', CAST(user_id % 3 AS VARCHAR)) AS _table,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents,
        |  CAST(SUM(CASE WHEN user_id % 3 = 2 THEN user_id * 2 ELSE 0 END)
        |    AS BIGINT) AS extra_sum
        |FROM e GROUP BY 1, 2 ORDER BY _table, event_type""".stripMargin,
    // every day between the user's first and last signup appears;
    // the gap days carry NULL
    "q_compat_withfill" ->
      """WITH s AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM events
        |  WHERE event_type = 'signup'
        |    AND user_id = (SELECT MIN(user_id) FROM events)
        |  GROUP BY 1),
        |axis AS (SELECT UNNEST(generate_series(
        |    (SELECT MIN(day) FROM s), (SELECT MAX(day) FROM s),
        |    INTERVAL 1 DAY))::DATE AS day)
        |SELECT axis.day AS day, s.n AS n FROM axis
        |LEFT JOIN s ON s.day = axis.day ORDER BY day""".stripMargin,
    // top-2 event types per cohort, count desc then type asc
    "q_compat_topk" ->
      """WITH c AS (SELECT user_id % 10 AS cohort, event_type,
        |    COUNT(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT cohort, event_type, ROW_NUMBER() OVER (
        |    PARTITION BY cohort ORDER BY n DESC, event_type) AS rk
        |  FROM c)
        |SELECT CAST(cohort AS BIGINT) AS cohort,
        |  STRING_AGG(event_type, ',' ORDER BY rk) AS top2
        |FROM r WHERE rk <= 2 GROUP BY cohort ORDER BY cohort""".stripMargin,
    // funnel levels via the existential characterization of CH's
    // chain algorithm (valid under unique per-user timestamps): level
    // >= k iff an ordered chain exists with every step within the
    // window of the FIRST step
    "q_compat_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type
        |    FROM events),
        |v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
        |u AS (SELECT DISTINCT user_id FROM e),
        |l1 AS (SELECT DISTINCT user_id FROM v),
        |l2 AS (SELECT DISTINCT v.user_id FROM v JOIN c
        |  ON c.user_id = v.user_id AND c.t > v.t
        |  AND c.t <= v.t + 86400000000),
        |l3 AS (SELECT DISTINCT v.user_id FROM v
        |  JOIN c ON c.user_id = v.user_id AND c.t > v.t
        |    AND c.t <= v.t + 86400000000
        |  JOIN p ON p.user_id = v.user_id AND p.t > c.t
        |    AND p.t <= v.t + 86400000000),
        |lv AS (SELECT u.user_id,
        |  CASE WHEN l3.user_id IS NOT NULL THEN 3
        |       WHEN l2.user_id IS NOT NULL THEN 2
        |       WHEN l1.user_id IS NOT NULL THEN 1 ELSE 0 END AS lvl
        |  FROM u LEFT JOIN l1 ON u.user_id = l1.user_id
        |  LEFT JOIN l2 ON u.user_id = l2.user_id
        |  LEFT JOIN l3 ON u.user_id = l3.user_id)
        |SELECT CAST(lvl AS INTEGER) AS lvl,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM lv GROUP BY lvl ORDER BY lvl""".stripMargin,
    "q_compat_retention" ->
      """WITH per AS (SELECT user_id,
        |  MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
        |  MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events GROUP BY user_id)
        |SELECT CAST(SUM(s) AS BIGINT) AS r_signup,
        |  CAST(SUM(s * c) AS BIGINT) AS r_click,
        |  CAST(SUM(s * p) AS BIGINT) AS r_purchase FROM per""".stripMargin,
    "q_compat_seqmatch" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS matched FROM (
        |  SELECT DISTINCT a.user_id FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'signup'
        |    AND b.event_type = 'purchase' AND b.ts > a.ts) t""".stripMargin,
    "q_compat_url" ->
      """WITH t AS (
        |  SELECT 'https://www.' || source || '.example.' ||
        |      CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END ||
        |      '/p/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS u
        |  FROM documents
        |), p AS (
        |  SELECT regexp_extract(u, '^[a-z]+://([^/?#]+)', 1) AS dm,
        |    regexp_extract(u, '\.([a-z]+)(?:/|$)', 1) AS tld,
        |    regexp_extract(u, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS pa,
        |    regexp_extract(u, '[?&]lang=([^&#]*)', 1) AS lg
        |  FROM t)
        |SELECT dm AS domain, CAST(COUNT(*) AS BIGINT) AS n,
        |  MAX(tld) AS tld, MAX(pa) AS max_path, MAX(lg) AS max_lang
        |FROM p GROUP BY dm ORDER BY dm""".stripMargin,
    "q_compat_summap" ->
      """WITH pairs AS (
        |  SELECT user_id, k, SUM(v) AS s, MIN(v) AS mn, MAX(v) AS mx
        |  FROM (
        |    SELECT user_id, event_id % 3 AS k, CAST(1 AS BIGINT) AS v
        |    FROM events
        |    UNION ALL
        |    SELECT user_id, event_id % 5 + 10, event_id % 7 FROM events) t
        |  GROUP BY 1, 2)
        |SELECT user_id,
        |  string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS ks,
        |  string_agg(CAST(CAST(s AS BIGINT) AS VARCHAR), ','
        |    ORDER BY k) AS vs,
        |  string_agg(CAST(CAST(mn AS BIGINT) AS VARCHAR), ','
        |    ORDER BY k) AS mnv,
        |  string_agg(CAST(CAST(mx AS BIGINT) AS VARCHAR), ','
        |    ORDER BY k) AS mxv
        |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_running" ->
      """WITH t AS (SELECT user_id, event_id,
        |    CAST(event_id % 97 AS BIGINT) AS v FROM events)
        |SELECT user_id, event_id,
        |  CAST(v - COALESCE(lag(v) OVER win, v) AS BIGINT) AS rd,
        |  CAST(lead(v, 1, -1) OVER win AS BIGINT) AS nb,
        |  CAST(lag(v, 1, 0) OVER win AS BIGINT) AS lif,
        |  CAST(lead(v) OVER win AS BIGINT) AS ldf
        |FROM t WINDOW win AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_compat_movingsum" ->
      """WITH g AS (SELECT user_id, CAST(user_id % 7 AS DOUBLE) AS v,
        |    COUNT(*) AS n FROM events GROUP BY user_id)
        |SELECT user_id,
        |  string_agg(CAST(CAST(v * i AS BIGINT) AS VARCHAR), ','
        |    ORDER BY i) AS cum,
        |  string_agg(CAST(CAST(v * LEAST(i, 3) AS BIGINT) AS VARCHAR),
        |    ',' ORDER BY i) AS ms,
        |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS ma
        |FROM (SELECT user_id, v,
        |    unnest(generate_series(1, CAST(n AS BIGINT))) AS i FROM g) u
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_intervals" ->
      """WITH t AS (SELECT user_id, event_id,
        |    event_id % 50 AS st,
        |    event_id % 50 + 1 + event_id % 7 AS en,
        |    CAST(event_id % 97 AS BIGINT) AS v,
        |    CASE WHEN event_id % 2 = 0 THEN 'even'
        |         ELSE concat('odd', event_id % 3) END AS hv
        |  FROM events),
        |pts AS (
        |  SELECT user_id, st AS p, 1 AS dd FROM t
        |  UNION ALL SELECT user_id, en, -1 FROM t),
        |net AS (SELECT user_id, p, SUM(dd) AS nd FROM pts GROUP BY 1, 2),
        |run AS (SELECT user_id, p,
        |    SUM(nd) OVER (PARTITION BY user_id ORDER BY p) AS r,
        |    LEAD(p) OVER (PARTITION BY user_id ORDER BY p) AS np
        |  FROM net),
        |sweep AS (SELECT user_id, CAST(MAX(r) AS BIGINT) AS mi,
        |    CAST(MIN(CASE WHEN r = mx THEN p END) AS BIGINT) AS mip,
        |    CAST(COALESCE(SUM(CASE WHEN r > 0 THEN np - p END), 0)
        |      AS BIGINT) AS il
        |  FROM (SELECT user_id, p, r, np,
        |      MAX(r) OVER (PARTITION BY user_id) AS mx FROM run) rr
        |  GROUP BY user_id),
        |slope AS (SELECT user_id,
        |    (arg_max(v, event_id) - arg_min(v, event_id))
        |      / CAST(MAX(event_id) - MIN(event_id) AS DOUBLE) AS br
        |  FROM t GROUP BY user_id),
        |heavy AS (SELECT user_id, hv AS ah FROM (
        |    SELECT user_id, hv, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY COUNT(*) DESC, hv ASC) AS rn
        |    FROM t GROUP BY user_id, hv) h WHERE rn = 1)
        |SELECT s.user_id AS user_id, s.mi AS mi, s.mip AS mip,
        |  s.il AS il, sl.br AS br, hy.ah AS ah
        |FROM sweep s JOIN slope sl USING (user_id)
        |  JOIN heavy hy USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q_compat_deltasum" ->
      """WITH t AS (SELECT user_id, event_id,
        |    CAST(event_id % 1000 AS BIGINT) AS v FROM events
        |  WHERE event_id % 11 != 0),
        |d AS (SELECT user_id,
        |    v - lag(v) OVER w AS dv,
        |    (v % 10) - lag(v % 10) OVER w AS dv10
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |SELECT user_id,
        |  CAST(COALESCE(SUM(CASE WHEN dv > 0 THEN dv END), 0)
        |    AS BIGINT) AS ds,
        |  CAST(COALESCE(SUM(CASE WHEN dv10 > 0 THEN dv10 END), 0)
        |    AS BIGINT) AS ds10,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_stats" ->
      """WITH t AS (SELECT user_id,
        |    CAST(event_id % 97 AS DOUBLE) AS v,
        |    CAST((event_id % 97) * 3 + event_id % 11 AS DOUBLE) AS w,
        |    event_id % 7 AS c
        |  FROM events),
        |m AS (SELECT user_id,
        |    avg(v) AS mu, var_pop(v) AS vp, var_samp(v) AS vs,
        |    avg(v*v) AS p2, avg(v*v*v) AS p3, avg(v*v*v*v) AS p4,
        |    covar_pop(v, w) AS cvp, covar_samp(v, w) AS cvs,
        |    corr(v, w) AS cr,
        |    regr_slope(w, v) AS slr_k, regr_intercept(w, v) AS slr_b,
        |    entropy(c) AS ent
        |  FROM t GROUP BY user_id),
        |cm AS (SELECT user_id, vp, vs, cvp, cvs, cr, slr_k, slr_b, ent,
        |    p3 - 3*mu*p2 + 2*mu*mu*mu AS m3,
        |    p4 - 4*mu*p3 + 6*mu*mu*p2 - 3*mu*mu*mu*mu AS m4
        |  FROM m)
        |SELECT user_id,
        |  round(m3 / power(vp, 1.5), 4) AS sp,
        |  round(m3 / power(vs, 1.5), 4) AS ss,
        |  round(m4 / power(vp, 2), 4) AS kp,
        |  round(m4 / power(vs, 2), 4) AS ks,
        |  round(cvp, 4) AS cvp, round(cvs, 4) AS cvs,
        |  round(cr, 4) AS cr,
        |  round(slr_k, 4) AS slr_k, round(slr_b, 4) AS slr_b,
        |  round(ent, 4) AS ent
        |FROM cm ORDER BY user_id""".stripMargin,
    "q_compat_ttest" ->
      """WITH t AS (SELECT user_id,
        |    CAST(event_id % 97 AS DOUBLE)
        |      + (event_id % 2) * 3.5 AS v,
        |    event_id % 2 AS i FROM events),
        |m AS (SELECT user_id,
        |    avg(CASE WHEN i = 0 THEN v END) AS m0,
        |    avg(CASE WHEN i = 1 THEN v END) AS m1,
        |    var_samp(CASE WHEN i = 0 THEN v END) AS s0,
        |    var_samp(CASE WHEN i = 1 THEN v END) AS s1,
        |    CAST(count(CASE WHEN i = 0 THEN v END) AS DOUBLE) AS n0,
        |    CAST(count(CASE WHEN i = 1 THEN v END) AS DOUBLE) AS n1,
        |    count(*) AS n
        |  FROM t GROUP BY user_id)
        |SELECT user_id,
        |  round((m0 - m1) / sqrt(((n0-1)*s0 + (n1-1)*s1)/(n0+n1-2)
        |    * (1/n0 + 1/n1)), 4) AS ts,
        |  round((m0 - m1) / sqrt(s0/n0 + s1/n1), 4) AS tw,
        |  CAST(n AS BIGINT) AS n
        |FROM m ORDER BY user_id""".stripMargin,
    "q_compat_rankcorr" ->
      """WITH t AS (SELECT user_id,
        |    event_id % 97 AS v,
        |    (event_id % 97) * 3 + event_id % 11 AS w FROM events),
        |r AS (SELECT user_id,
        |    rank() OVER (PARTITION BY user_id ORDER BY v)
        |      + (COUNT(*) OVER (PARTITION BY user_id, v) - 1) / 2.0
        |      AS rx,
        |    rank() OVER (PARTITION BY user_id ORDER BY w)
        |      + (COUNT(*) OVER (PARTITION BY user_id, w) - 1) / 2.0
        |      AS ry
        |  FROM t)
        |SELECT user_id, round(corr(rx, ry), 4) AS rc,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_contingency" ->
      """WITH t AS (SELECT user_id, event_id % 5 AS a,
        |    (event_id % 4 + event_id % 3) % 4 AS b FROM events),
        |o AS (SELECT user_id, a, b, CAST(COUNT(*) AS DOUBLE) AS o
        |  FROM t GROUP BY 1, 2, 3),
        |rm AS (SELECT user_id, a, SUM(o) AS rs FROM o GROUP BY 1, 2),
        |cm AS (SELECT user_id, b, SUM(o) AS cs FROM o GROUP BY 1, 2),
        |nn AS (SELECT user_id, SUM(o) AS n,
        |    CAST(COUNT(DISTINCT a) AS DOUBLE) AS rr,
        |    CAST(COUNT(DISTINCT b) AS DOUBLE) AS cc
        |  FROM o GROUP BY 1),
        |g AS (SELECT o.user_id,
        |    GREATEST(SUM(o.o * o.o / (rm.rs * cm.cs / nn.n))
        |      - MAX(nn.n), 0) AS chi2,
        |    MAX(nn.n) AS n, MAX(nn.rr) AS rr, MAX(nn.cc) AS cc
        |  FROM o
        |  JOIN rm ON o.user_id = rm.user_id AND o.a = rm.a
        |  JOIN cm ON o.user_id = cm.user_id AND o.b = cm.b
        |  JOIN nn ON o.user_id = nn.user_id
        |  GROUP BY 1)
        |SELECT user_id,
        |  round(sqrt(chi2 / (n * LEAST(rr - 1, cc - 1))), 4) AS cv,
        |  round(sqrt(GREATEST(chi2 / n - (rr-1)*(cc-1)/(n-1), 0)
        |    / (LEAST(rr - (rr-1)*(rr-1)/(n-1),
        |             cc - (cc-1)*(cc-1)/(n-1)) - 1)), 4) AS cvb,
        |  round(sqrt(chi2 / (chi2 + n)), 4) AS cg,
        |  CAST(n AS BIGINT) AS n
        |FROM g ORDER BY user_id""".stripMargin,
    "q_compat_nptest" ->
      """WITH t AS (SELECT user_id,
        |    CAST(event_id % 97 AS DOUBLE)
        |      + CAST(event_id % 2 AS DOUBLE) * 3.5 AS v,
        |    event_id % 2 AS i FROM events),
        |r AS (SELECT user_id, i, v,
        |    rank() OVER (PARTITION BY user_id ORDER BY v)
        |      + (COUNT(*) OVER (PARTITION BY user_id, v) - 1) / 2.0
        |      AS rk,
        |    CAST(COUNT(CASE WHEN i = 0 THEN 1 END) OVER
        |      (PARTITION BY user_id ORDER BY v
        |       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) AS c0,
        |    CAST(COUNT(CASE WHEN i <> 0 THEN 1 END) OVER
        |      (PARTITION BY user_id ORDER BY v
        |       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) AS c1,
        |    CAST(COUNT(CASE WHEN i = 0 THEN 1 END) OVER
        |      (PARTITION BY user_id) AS DOUBLE) AS n0,
        |    CAST(COUNT(CASE WHEN i <> 0 THEN 1 END) OVER
        |      (PARTITION BY user_id) AS DOUBLE) AS n1
        |  FROM t)
        |SELECT user_id,
        |  round(SUM(CASE WHEN i = 0 THEN rk ELSE 0 END)
        |    - MAX(n0) * (MAX(n0) + 1) / 2.0, 4) AS u,
        |  round(MAX(abs(c0 / n0 - c1 / n1)), 4) AS ks_d,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_meanz" ->
      """WITH t AS (SELECT user_id,
        |    CAST(event_id % 97 AS DOUBLE)
        |      + CAST(event_id % 2 AS DOUBLE) * 3.5 AS v,
        |    event_id % 2 AS i FROM events),
        |g AS (SELECT user_id,
        |    AVG(CASE WHEN i = 0 THEN v END)
        |      - AVG(CASE WHEN i <> 0 THEN v END) AS df,
        |    sqrt(800.0 / COUNT(CASE WHEN i = 0 THEN 1 END)
        |      + 800.0 / COUNT(CASE WHEN i <> 0 THEN 1 END)) AS se,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t GROUP BY user_id)
        |SELECT user_id, round(df / se, 4) AS z,
        |  round(df - 1.959963984540054 * se, 4) AS ci_lo,
        |  round(df + 1.959963984540054 * se, 4) AS ci_hi, n
        |FROM g ORDER BY user_id""".stripMargin,
    "q_compat_ema" ->
      """WITH t AS (SELECT user_id,
        |    CAST(event_id % 97 AS DOUBLE) AS v,
        |    CAST(event_id % 600 AS DOUBLE) AS t FROM events),
        |w AS (SELECT user_id, v,
        |    pow(2.0, (t - MAX(t) OVER (PARTITION BY user_id)) / 60.0)
        |      AS wt
        |  FROM t)
        |SELECT user_id, round(SUM(v * wt) / SUM(wt), 4) AS ema,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_theilsu" ->
      """WITH t AS (SELECT user_id, event_id % 5 AS a,
        |    (event_id % 4 + event_id % 3) % 4 AS b FROM events),
        |o AS (SELECT user_id, a, b, CAST(COUNT(*) AS DOUBLE) AS o
        |  FROM t GROUP BY 1, 2, 3),
        |am AS (SELECT user_id, a, SUM(o) AS ca FROM o GROUP BY 1, 2),
        |bm AS (SELECT user_id, b, SUM(o) AS cb FROM o GROUP BY 1, 2),
        |nn AS (SELECT user_id, SUM(o) AS n FROM o GROUP BY 1),
        |hx AS (SELECT am.user_id, -SUM((ca / n) * ln(ca / n)) AS h
        |  FROM am JOIN nn ON am.user_id = nn.user_id GROUP BY 1),
        |hy AS (SELECT bm.user_id, -SUM((cb / n) * ln(cb / n)) AS h
        |  FROM bm JOIN nn ON bm.user_id = nn.user_id GROUP BY 1),
        |hxgy AS (SELECT o.user_id,
        |    -SUM((o / n) * ln((o / n) / (cb / n))) AS h
        |  FROM o
        |  JOIN bm ON o.user_id = bm.user_id AND o.b = bm.b
        |  JOIN nn ON o.user_id = nn.user_id GROUP BY 1),
        |hygx AS (SELECT o.user_id,
        |    -SUM((o / n) * ln((o / n) / (ca / n))) AS h
        |  FROM o
        |  JOIN am ON o.user_id = am.user_id AND o.a = am.a
        |  JOIN nn ON o.user_id = nn.user_id GROUP BY 1)
        |SELECT hx.user_id,
        |  round((hx.h - hxgy.h) / hx.h, 4) AS tu_ab,
        |  round((hy.h - hygx.h) / hy.h, 4) AS tu_ba,
        |  CAST((SELECT MAX(n) FROM nn n2
        |    WHERE n2.user_id = hx.user_id) AS BIGINT) AS n
        |FROM hx
        |JOIN hy ON hx.user_id = hy.user_id
        |JOIN hxgy ON hx.user_id = hxgy.user_id
        |JOIN hygx ON hx.user_id = hygx.user_id
        |ORDER BY hx.user_id""".stripMargin,
    "q_compat_card" ->
      """SELECT user_id,
        |  CAST(COUNT(DISTINCT event_id % 37) AS BIGINT) AS gb,
        |  round(SUM((event_id % 97) / 7.0), 4) AS sk,
        |  round(quantile_cont(event_id % 97, 0.25), 4) AS qd,
        |  round(quantile_cont(event_id % 97, 0.75), 4) AS qei,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "qf_dictget_range" ->
      """WITH dict AS (SELECT n_nationkey % 5 AS k,
        |    n_nationkey * 10 AS s, n_nationkey * 10 + 9 AS e,
        |    n_nationkey * 100 AS price FROM nation),
        |p AS (SELECT c_custkey, c_custkey % 5 AS k,
        |    c_custkey % 260 AS x FROM customer)
        |SELECT c_custkey,
        |  coalesce(CAST(d.price AS BIGINT), -1) AS price
        |FROM p LEFT JOIN dict d
        |  ON p.k = d.k AND p.x BETWEEN d.s AND d.e
        |ORDER BY c_custkey""".stripMargin,
    "q_compat_foreach" ->
      """WITH e AS (SELECT label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT label, UNNEST(v) AS x,
        |    generate_subscripts(v, 1) AS idx FROM e),
        |g AS (SELECT label, idx, SUM(x) AS s, AVG(x) AS a,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM u GROUP BY 1, 2)
        |SELECT label,
        |  string_agg(CAST(round(s, 3) + 0.0 AS VARCHAR), ','
        |    ORDER BY idx) AS sfe,
        |  string_agg(CAST(round(a, 3) + 0.0 AS VARCHAR), ','
        |    ORDER BY idx) AS afe,
        |  MAX(cnt) AS n
        |FROM g GROUP BY label ORDER BY label""".stripMargin,
    "q_compat_vecdist" ->
      """WITH b AS (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (SELECT v AS av FROM b WHERE vec_id = 0)
        |SELECT b.vec_id,
        |  round(list_dot_product(v, av), 4) AS dp,
        |  round(list_distance(v, av), 4) AS l2,
        |  round(list_sum(list_transform(list_zip(v, av),
        |    p -> abs(p[1] - p[2]))), 4) AS l1,
        |  round(list_max(list_transform(list_zip(v, av),
        |    p -> abs(p[1] - p[2]))), 4) AS linf,
        |  round(1.0 - list_cosine_similarity(v, av), 4) AS cd,
        |  round(sqrt(list_dot_product(v, v)), 4) AS nrm
        |FROM b CROSS JOIN a ORDER BY b.vec_id""".stripMargin,
    "q_compat_arrays3" ->
      """WITH t AS (SELECT user_id, 1 + event_id % 5 AS k FROM events)
        |SELECT user_id,
        |  CAST(SUM((k * (k + 1) * (2 * k + 1)) // 6) AS BIGINT) AS ssq,
        |  CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 2 END) AS BIGINT)
        |    AS rot1,
        |  CAST(SUM(k // 2 + 1) AS BIGINT) AS cpt,
        |  round(SUM(GREATEST(k - 1, 0) / 6.0), 4) AS jac,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_scalar2" ->
      """WITH g AS (SELECT user_id,
        |    AVG(CAST(event_id % 97 AS DOUBLE)) AS av,
        |    CAST(SUM(strpos(lower(event_type), 'u')) AS BIGINT) AS su,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id),
        |u AS (SELECT *, CAST(floor(LEAST(1.0, GREATEST(0.0,
        |    av / 96.0)) * 80 + 0.5) AS BIGINT) AS units FROM g)
        |SELECT user_id,
        |  repeat('█', CAST(units // 8 AS INT)) ||
        |    CASE WHEN units % 8 > 0
        |      THEN chr(CAST(9616 - units % 8 AS INT)) ELSE '' END AS b,
        |  CAST(gcd(user_id + 6, 21) AS BIGINT) AS g,
        |  CAST(lcm(user_id % 7 + 1, 6) AS BIGINT) AS l,
        |  round(2 * 6371000.0 * asin(sqrt(
        |    pow(sin((48.85 - 40.0) * pi() / 360.0), 2)
        |    + cos(40.0 * pi() / 180.0) * cos(48.85 * pi() / 180.0)
        |      * pow(sin((2.35 - (CAST(user_id % 60 AS DOUBLE) - 30.0))
        |        * pi() / 360.0), 2))), 2) AS dist,
        |  su, n
        |FROM u ORDER BY user_id""".stripMargin,
    // map-tier replay: the per-key closed forms in sorted key order
    // (concat_ws skips the NULL CASE arms, matching the filtered map)
    "q_compat_maps" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events)
        |SELECT user_id,
        |  concat_ws(',',
        |    CASE WHEN (user_id % 5) % 2 = 0
        |      THEN 'a:' || CAST(user_id % 5 AS VARCHAR) END,
        |    CASE WHEN (user_id % 3) % 2 = 0
        |      THEN 'b:' || CAST(user_id % 3 AS VARCHAR) END,
        |    CASE WHEN (user_id % 7) % 2 = 0
        |      THEN 'c:' || CAST(user_id % 7 AS VARCHAR) END) AS mf,
        |  (user_id % 5 = 2 OR user_id % 3 = 2) AS me,
        |  (user_id % 5 < 3 AND user_id % 3 < 3) AS ma,
        |  'a:' || CAST(user_id % 5 * 10 + 1 AS VARCHAR) ||
        |    ',b:' || CAST(user_id % 3 * 10 + 1 AS VARCHAR) AS ap,
        |  'a:' || CAST(user_id % 5 AS VARCHAR) ||
        |    ',b:' || CAST(user_id % 3 AS VARCHAR) ||
        |    ',c:' || CAST(user_id % 7 AS VARCHAR) AS mc,
        |  'a:' || CAST(user_id % 5 AS VARCHAR) || ',b:99,c:' ||
        |    CAST(user_id % 7 AS VARCHAR) AS mu
        |FROM u ORDER BY user_id""".stripMargin,
    // r14 misc replay: strpos gives the multiSearch positions, epoch
    // arithmetic the date utilities, closed-form algebra the Lp and
    // enumerator columns (a = [x,y,x,z,y] with x=u%3, y=u%5, z=u%7)
    "q_compat_r14misc" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    'ev_' || CAST(user_id % 7 AS VARCHAR) || '_tail' AS s,
        |    1709251200 + user_id * 37 AS t,
        |    CAST(user_id % 5 + 1 AS DOUBLE) AS v1,
        |    CAST(user_id % 7 + 1 AS DOUBLE) AS v2,
        |    CAST(user_id % 3 + 1 AS DOUBLE) AS v3m,
        |    user_id % 3 AS x, user_id % 5 AS y, user_id % 7 AS z
        |  FROM u),
        |p AS (SELECT *,
        |    strpos(s, '_') AS p1,
        |    strpos(s, CAST(user_id % 3 AS VARCHAR)) AS p2,
        |    strpos(s, 'tail') AS p3,
        |    strpos(s, 'zz') AS p4,
        |    v1 + v2 + v3m AS l1
        |  FROM b),
        |q AS (SELECT *,
        |    coalesce(least(nullif(p1, 0), nullif(p2, 0),
        |      nullif(p3, 0), nullif(p4, 0)), 0) AS m
        |  FROM p)
        |SELECT user_id,
        |  CAST(p1 AS VARCHAR) || ',' || CAST(p2 AS VARCHAR) || ',' ||
        |    CAST(p3 AS VARCHAR) || ',' || CAST(p4 AS VARCHAR) AS msa,
        |  CAST(m AS BIGINT) AS msp,
        |  CAST(CASE WHEN m = 0 THEN 0 WHEN p1 = m THEN 1
        |    WHEN p2 = m THEN 2 WHEN p3 = m THEN 3 ELSE 4 END
        |    AS BIGINT) AS msi,
        |  CAST(CAST(date_trunc('month', epoch_ms(t * 1000)) AS DATE)
        |    AS VARCHAR) AS dtm,
        |  CAST(epoch(date_trunc('hour', epoch_ms(t * 1000))) AS BIGINT) AS dth,
        |  (t // 1800) * 1800 AS slot,
        |  array_to_string(list_transform(
        |    generate_series(t // 1800, (t + 3700) // 1800),
        |    s2 -> CAST(s2 * 1800 AS VARCHAR)), ',') AS slots,
        |  CAST(t // 86400 AS INT) AS rd,
        |  t // 3600 AS rh,
        |  round(pow(pow(v1, 3) + pow(v2, 3) + pow(v3m, 3),
        |    1.0 / 3), 6) AS n3,
        |  round(sqrt(pow(v1 - 1, 2) + pow(v2 - 2, 2)
        |    + pow(-v3m - 3, 2)), 6) AS d2,
        |  round(greatest(v1, v2, v3m), 6) AS ninf,
        |  round(v1 / l1, 6) AS nl11,
        |  round(v2 / l1, 6) AS nl12,
        |  round(-v3m / l1, 6) AS nl13,
        |  '1,' ||
        |    CAST(CASE WHEN y = x THEN 1 ELSE 2 END AS VARCHAR) ||
        |    ',1,' ||
        |    CAST(CASE WHEN z = x THEN 1 WHEN z = y THEN 2
        |      WHEN y = x THEN 2 ELSE 3 END AS VARCHAR) || ',' ||
        |    CAST(CASE WHEN y = x THEN 1 ELSE 2 END AS VARCHAR) AS ed,
        |  '1,' ||
        |    CAST(CASE WHEN y = x THEN 2 ELSE 1 END AS VARCHAR) ||
        |    ',' ||
        |    CAST(CASE WHEN y = x THEN 3 ELSE 2 END AS VARCHAR) ||
        |    ',' ||
        |    CAST(1 + 2 * CASE WHEN x = z THEN 1 ELSE 0 END
        |      + CASE WHEN y = z THEN 1 ELSE 0 END AS VARCHAR) ||
        |    ',' ||
        |    CAST(2 + 2 * CASE WHEN x = y THEN 1 ELSE 0 END
        |      + CASE WHEN z = y THEN 1 ELSE 0 END AS VARCHAR) AS eu
        |FROM q ORDER BY user_id""".stripMargin,
    // r15 splitter/bucket replay: DuckDB regexp_split + list slicing
    // mirrors the CH max_substrings TRUNCATION (remainder discarded);
    // the bucket columns replay the pmod floor arithmetic explicitly —
    // ((t % sz) + sz) % sz, NOT `//`, which truncates toward zero in
    // DuckDB and would disagree on the pre-1970 rows
    "q_compat_r15split" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    'w' || CAST(user_id % 5 AS VARCHAR) || ' x-' ||
        |      CAST(user_id % 3 AS VARCHAR) || '_y!z-' ||
        |      CAST(user_id % 7 AS VARCHAR) AS s,
        |    1709251200 + user_id * 37 AS t,
        |    user_id * 37 - 172800 AS tn
        |  FROM u)
        |SELECT user_id,
        |  array_to_string(list_filter(
        |    regexp_split_to_array(s, '[^A-Za-z0-9]+'),
        |    x -> x <> ''), '|') AS sna,
        |  array_to_string(list_filter(
        |    regexp_split_to_array(s, '[^A-Za-z0-9]+'),
        |    x -> x <> '')[1:2], '|') AS sna2,
        |  array_to_string(regexp_split_to_array(s, '-')[1:2], '|')
        |    AS sbc2,
        |  array_to_string(regexp_split_to_array(s, '_')[1:1], '|')
        |    AS sbs1,
        |  array_to_string(list_filter(regexp_split_to_array(s, '\s+'),
        |    x -> x <> '')[1:1], '|') AS sbw1,
        |  array_to_string(regexp_split_to_array(s, '[!x]')[1:3], '|')
        |    AS sbr3,
        |  array_to_string(regexp_extract_all(s, '[A-Za-z]+')[1:2], '|')
        |    AS at2,
        |  CAST(t - ((t % 90) + 90) % 90 AS BIGINT) AS tsi,
        |  CAST(1709251217 + ((t - 1709251217)
        |    - (((t - 1709251217) % 90) + 90) % 90) AS BIGINT) AS tsio,
        |  CAST(tn - ((tn % 900) + 900) % 900 AS BIGINT) AS t15n
        |FROM b ORDER BY user_id""".stripMargin,
    // r15 fill/segment replay: identical closed forms over DuckDB
    // lists — nearest-qualifying-index fills (max ≤ i / min ≥ i with
    // the boundary fallback) and cut-index slicing; out-of-range
    // cuts[k+1] is NULL in DuckDB, coalesced to n+1
    "q_compat_r15arr" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id, [
        |    CAST(user_id % 3 + 1 AS INT),
        |    CAST(-(user_id % 5) - 1 AS INT),
        |    CAST(user_id % 7 + 1 AS INT),
        |    CAST(-(user_id % 3) - 1 AS INT),
        |    CAST(user_id % 5 + 1 AS INT)] AS a
        |  FROM u),
        |c AS (SELECT user_id, a,
        |    list_concat([1], list_filter(generate_series(2, 5),
        |      i -> a[i] < 0)) AS cuts,
        |    list_concat([1], list_transform(
        |      list_filter(generate_series(1, 4), j -> a[j] < 0),
        |      j -> j + 1)) AS rcuts
        |  FROM b)
        |SELECT user_id,
        |  array_to_string(list_transform(generate_series(1, 5),
        |    i -> a[coalesce(list_max(list_filter(
        |      generate_series(1, i), j -> a[j] > 0)), 1)]), ',') AS ff,
        |  array_to_string(list_transform(generate_series(1, 5),
        |    i -> a[coalesce(list_min(list_filter(
        |      generate_series(i, 5), j -> a[j] > 0)), 5)]), ',') AS rf,
        |  array_to_string(list_transform(generate_series(1, len(cuts)),
        |    k -> array_to_string(
        |      a[cuts[k]:coalesce(cuts[k+1], 6) - 1], ',')), '|') AS sp,
        |  array_to_string(list_transform(generate_series(1, len(rcuts)),
        |    k -> array_to_string(
        |      a[rcuts[k]:coalesce(rcuts[k+1], 6) - 1], ',')), '|') AS rsp
        |FROM c ORDER BY user_id""".stripMargin,
    // r15 time/misc replay: interval arithmetic, datesub (DuckDB's
    // complete-units diff = CH age), strftime codecs, Snowflake epoch
    // math (1288834974657 ms, id >> 22), list-fold subsequence scan
    "q_compat_r15time" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    CAST(user_id % 5 + 1 AS INT) AS n,
        |    1709251200 + user_id * 37 AS t,
        |    epoch_ms((1709251200 + user_id * 37) * 1000) AS ts,
        |    'ev_' || CAST(user_id % 7 AS VARCHAR) || '_tail' AS s
        |  FROM u)
        |SELECT user_id,
        |  CAST(DATE'2024-01-31' + INTERVAL (n) DAY AS VARCHAR) AS ad,
        |  CAST(ts + INTERVAL (n) HOUR AS VARCHAR) AS ah,
        |  CAST(ts - INTERVAL (n) DAY AS VARCHAR) AS sd,
        |  datesub('day', TIMESTAMP'2024-01-01 00:00:00', ts) AS aged,
        |  datesub('hour', TIMESTAMP'2024-02-29 23:30:30', ts) AS ageh,
        |  CAST(strftime(ts, '%Y%m%d%H%M%S') AS BIGINT) AS ynum,
        |  CAST(isoyear(CAST(ts AS DATE)) AS INT) AS iy,
        |  CAST(ts AS VARCHAR) AS fu,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS fuf,
        |  CAST(epoch_ms(((t + 1288834974657) // 1000) * 1000)
        |    AS VARCHAR) AS sfs,
        |  (t * 1000 - 1288834974657) * 4194304 AS snow,
        |  array_to_string(regexp_split_to_array(s, '_')[1:2], '_')
        |    AS si,
        |  CAST((length(lower(s)) - length(replace(lower(s), 'ta', '')))
        |    // 2 AS BIGINT) AS ce,
        |  list_reduce(list_concat([0], generate_series(1, length(s))),
        |    (acc, i) -> CASE WHEN acc < length('val')
        |      AND s[i:i] = 'val'[acc+1:acc+1]
        |      THEN acc + 1 ELSE acc END) = length('val') AS hs1,
        |  list_reduce(list_concat([0], generate_series(1, length(s))),
        |    (acc, i) -> CASE WHEN acc < length('zz')
        |      AND s[i:i] = 'zz'[acc+1:acc+1]
        |      THEN acc + 1 ELSE acc END) = length('zz') AS hs0,
        |  CAST(user_id % 3 AS VARCHAR) || '-' || s AS fmt
        |FROM b ORDER BY user_id""".stripMargin,
    // r16 misc replay: the decimal-size ladder is replayed with the
    // SAME stepwise /1000 divisions (CASE on the original integer
    // magnitude) so the IEEE arithmetic matches digit-for-digit
    // before printf('%.2f'); edit distances are DuckDB natives;
    // byteHamming is the positional-mismatch closed form
    "q_compat_r16misc" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    CAST(user_id % 987 + 13 AS DOUBLE) *
        |      power(1000, CAST(user_id % 6 AS DOUBLE)) AS bytes,
        |    make_timestamp(1709251200000000 + user_id * 1234567)
        |      AS ts,
        |    DATE'2020-12-28' + CAST(user_id % 740 AS INT) AS dd,
        |    'grafter_' || CAST(user_id % 9 AS VARCHAR) AS sa,
        |    'graphite_' || CAST(user_id % 7 AS VARCHAR) AS sb,
        |    CAST(user_id % 11 AS INT) AS n
        |  FROM u)
        |SELECT user_id,
        |  printf('%.2f', CASE (user_id % 6)
        |      WHEN 0 THEN bytes
        |      WHEN 1 THEN bytes / 1000
        |      WHEN 2 THEN bytes / 1000 / 1000
        |      WHEN 3 THEN bytes / 1000 / 1000 / 1000
        |      WHEN 4 THEN bytes / 1000 / 1000 / 1000 / 1000
        |      ELSE bytes / 1000 / 1000 / 1000 / 1000 / 1000 END)
        |    || CASE (user_id % 6)
        |      WHEN 0 THEN ' B' WHEN 1 THEN ' KB' WHEN 2 THEN ' MB'
        |      WHEN 3 THEN ' GB' WHEN 4 THEN ' TB'
        |      ELSE ' PB' END AS frd,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tss,
        |  epoch_us(date_trunc('milliseconds', ts)) AS tsm,
        |  epoch_us(ts) AS tsu,
        |  CAST(date_trunc('week', make_date(
        |    CAST(isoyear(dd) AS INT), 1, 4)) AS VARCHAR) AS isoy,
        |  CAST(levenshtein(sa, sb) AS INTEGER) AS lev,
        |  CAST(levenshtein(sa, sb) AS INTEGER) AS ed,
        |  CAST(damerau_levenshtein(sa || 'CA', sb || 'ABC')
        |    AS BIGINT) AS dl,
        |  CAST(coalesce(list_sum(list_transform(
        |    generate_series(1, greatest(length(sa), length(sb))),
        |    i -> CASE WHEN sa[i:i] IS DISTINCT FROM sb[i:i]
        |      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS bh,
        |  round(power(2, CAST(n AS DOUBLE) / 2), 6) AS e2,
        |  round(power(10, CAST(n AS DOUBLE) / 4), 6) AS e10,
        |  (CAST(1 AS BIGINT) << n) AS ie2,
        |  CAST(round(power(10, n % 10)) AS BIGINT) AS ie10,
        |  CAST(bit_count(CAST(user_id * 2654435761 AS BIGINT))
        |    AS INT) AS bc
        |FROM b ORDER BY user_id""".stripMargin,
    // r16 hash replay: digests via DuckDB's md5/sha256 uppercased;
    // java/hive hashes as the identical 31-polynomial list_reduce in
    // BIGINT mod 2^32; dot product and Lindley clamped cumsum in
    // closed list form
    "q_compat_r16hash" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    'doc_' || CAST(user_id % 23 AS VARCHAR) || '/seg-' ||
        |      CAST(user_id % 7 AS VARCHAR) AS s,
        |    [CAST(user_id % 5 + 1 AS BIGINT),
        |     CAST(-(user_id % 7) - 1 AS BIGINT),
        |     CAST(user_id % 3 + 2 AS BIGINT),
        |     CAST(-(user_id % 4) - 2 AS BIGINT),
        |     CAST(user_id % 6 AS BIGINT)] AS a,
        |    [CAST(user_id % 4 AS BIGINT),
        |     CAST(user_id % 9 - 4 AS BIGINT),
        |     CAST(user_id % 2 + 1 AS BIGINT),
        |     CAST(user_id % 5 - 2 AS BIGINT),
        |     CAST(user_id % 8 AS BIGINT)] AS a2
        |  FROM u),
        |jf AS (SELECT user_id, s, a, a2,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(s)),
        |        i -> CAST(ascii(s[i:i]) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 4294967296) AS h
        |  FROM b)
        |SELECT user_id,
        |  upper(md5(s)) AS h_md5,
        |  upper(sha256(s)) AS h_sha256,
        |  CAST((h + 2147483648) % 4294967296 - 2147483648 AS INT)
        |    AS jh,
        |  CAST(h % 2147483648 AS INT) AS hh,
        |  round(CAST(list_sum(list_transform(
        |    generate_series(1, len(a)),
        |    i -> CAST(a[i] AS DOUBLE) * CAST(a2[i] AS DOUBLE)))
        |    AS DOUBLE), 6) AS adp,
        |  array_to_string(list_transform(generate_series(1, len(a)),
        |    i -> CAST(CAST(list_sum(a[1:i]) AS BIGINT) -
        |      least(CAST(0 AS BIGINT), CAST(list_min(list_transform(
        |        generate_series(1, i),
        |        j -> list_sum(a[1:j]))) AS BIGINT)) AS BIGINT)), ',')
        |    AS acsn
        |FROM jf ORDER BY user_id""".stripMargin,
    // r16 math replay: DuckDB's libm lgamma/gamma/factorial; sigmoid
    // by its elementary closed form; byteSwap as the HUGEINT
    // byte-shuffle wrapped back to signed. erf/erfc have NO DuckDB
    // spelling — they are pinned in CompatSpec against published
    // table values instead of riding this gate
    "q_compat_r16math" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    CAST(user_id % 40 AS DOUBLE) / 4 + 0.25 AS x,
        |    CAST(user_id % 13 AS INT) AS n,
        |    user_id * 2654435761 + 11 AS big,
        |    'rev_' || CAST(user_id % 17 AS VARCHAR) AS s,
        |    [CAST(user_id % 5 AS INT), CAST(user_id % 7 AS INT),
        |     CAST(user_id % 3 AS INT)] AS a,
        |    [CAST(user_id % 7 AS INT), CAST(user_id % 4 AS INT),
        |     CAST(user_id % 6 AS INT)] AS a2
        |  FROM u)
        |SELECT user_id,
        |  round(lgamma(x), 6) AS lg,
        |  round(gamma(x), 6) AS tg,
        |  round(1 / (1 + exp(-(x - 5))), 6) AS sg,
        |  CAST(factorial(n) AS BIGINT) AS fact,
        |  CAST((list_sum(list_transform(generate_series(0, 7),
        |    i -> ((CAST(big AS HUGEINT) >> (8 * i)) & 255)
        |      << (8 * (7 - i)))) + 9223372036854775808)
        |    % 18446744073709551616 - 9223372036854775808 AS BIGINT)
        |    AS bs,
        |  reverse(s) AS rev,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_concat(
        |      list_filter(a, v -> NOT list_contains(a2, v)),
        |      list_filter(a2, v -> NOT list_contains(a, v))))), ','),
        |    '') AS asd,
        |  CAST(len(list_filter(generate_series(1, 4), i ->
        |    ((([0.0,0.0,6.5,6.5])[i] > CAST(user_id % 9 AS DOUBLE) - 0.5)
        |      != (([0.0,0.0,6.5,6.5])[i % 4 + 1]
        |        > CAST(user_id % 9 AS DOUBLE) - 0.5)) AND
        |    CAST(user_id % 10 AS DOUBLE) - 0.5 <
        |      (([0.0,8.7,8.7,0.0])[i % 4 + 1] - ([0.0,8.7,8.7,0.0])[i])
        |      * (CAST(user_id % 9 AS DOUBLE) - 0.5
        |        - ([0.0,0.0,6.5,6.5])[i])
        |      / (([0.0,0.0,6.5,6.5])[i % 4 + 1]
        |        - ([0.0,0.0,6.5,6.5])[i])
        |      + ([0.0,8.7,8.7,0.0])[i])) % 2 AS INT) AS pip,
        |  CAST(len(list_filter(generate_series(1, 4), i ->
        |    ((([0.0,4.0,8.0,2.0])[i] > CAST(user_id % 9 AS DOUBLE) - 0.5)
        |      != (([0.0,4.0,8.0,2.0])[i % 4 + 1]
        |        > CAST(user_id % 9 AS DOUBLE) - 0.5)) AND
        |    CAST(user_id % 10 AS DOUBLE) - 0.5 <
        |      (([6.0,8.0,5.0,0.0])[i % 4 + 1] - ([6.0,8.0,5.0,0.0])[i])
        |      * (CAST(user_id % 9 AS DOUBLE) - 0.5
        |        - ([0.0,4.0,8.0,2.0])[i])
        |      / (([0.0,4.0,8.0,2.0])[i % 4 + 1]
        |        - ([0.0,4.0,8.0,2.0])[i])
        |      + ([6.0,8.0,5.0,0.0])[i])) % 2 AS INT) AS pip2
        |FROM b ORDER BY user_id""".stripMargin,
    // r16 window/regex/uuid replay: DuckDB lag/lead (plain-partition
    // reading, same as the engine's documented frame simplification),
    // (?i) regex counting, regexp_extract groups, the identical
    // dash-strip/reinsert UUID codec, null-padded manual zip
    "q_compat_r16win" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    CAST(user_id % 37 AS BIGINT) AS v,
        |    'id-' || CAST(user_id % 97 AS VARCHAR) || '-v' ||
        |      CAST(user_id % 13 AS VARCHAR) || ' AbbA ab' AS s,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 8) || '-' ||
        |      substring(md5(CAST(user_id AS VARCHAR)), 9, 4) || '-' ||
        |      substring(md5(CAST(user_id AS VARCHAR)), 13, 4) || '-' ||
        |      substring(md5(CAST(user_id AS VARCHAR)), 17, 4) || '-' ||
        |      substring(md5(CAST(user_id AS VARCHAR)), 21, 12) AS uu,
        |    [CAST(user_id % 5 AS INT), CAST(user_id % 5 + 3 AS INT),
        |     CAST(user_id % 5 + 7 AS INT)] AS sorted_a
        |  FROM u)
        |SELECT user_id,
        |  lag(v, 2, CAST(-1 AS BIGINT)) OVER (
        |    PARTITION BY user_id % 5 ORDER BY user_id) AS lg,
        |  lead(v) OVER (
        |    PARTITION BY user_id % 5 ORDER BY user_id) AS ld,
        |  CAST(len(regexp_extract_all(s, '(?i)ab')) AS BIGINT) AS cmi,
        |  regexp_extract(s, 'id-([0-9]+)', 1) AS rx1,
        |  regexp_extract(s, 'id-([0-9]+)-v([0-9]+)', 2) AS rx2,
        |  regexp_extract(s, 'id-([0-9]+)-v([0-9]+)', 1) || '|' ||
        |    regexp_extract(s, 'id-([0-9]+)-v([0-9]+)', 2) AS eg,
        |  uu AS uurt,
        |  upper(replace(uu, '-', '')) AS uhex,
        |  array_to_string(list_transform(generate_series(1, 3), i ->
        |    CAST(sorted_a[i] AS VARCHAR) || ':' ||
        |    CASE WHEN i = 1 THEN CAST(user_id % 3 AS VARCHAR)
        |      ELSE 'n' END), ',') AS zu,
        |  CAST(list_position(sorted_a,
        |    CAST(user_id % 5 + 3 AS INT)) AS BIGINT) AS ias,
        |  round(greatest(0.0, coalesce(
        |    (CAST(v AS DOUBLE) - lag(CAST(v AS DOUBLE), 1) OVER (
        |      PARTITION BY user_id % 5 ORDER BY user_id))
        |    / nullif(CAST(user_id * 7 AS DOUBLE) -
        |      lag(CAST(user_id * 7 AS DOUBLE), 1) OVER (
        |      PARTITION BY user_id % 5 ORDER BY user_id), 0.0),
        |    0.0)), 6) AS nnd,
        |  round(greatest(0.0, coalesce(
        |    (CAST(v AS DOUBLE) - lag(CAST(v AS DOUBLE), 1) OVER (
        |      PARTITION BY user_id % 5 ORDER BY user_id))
        |    / nullif(CAST(user_id * 7 AS DOUBLE) -
        |      lag(CAST(user_id * 7 AS DOUBLE), 1) OVER (
        |      PARTITION BY user_id % 5 ORDER BY user_id), 0.0)
        |    * 60, 0.0)), 6) AS nndm
        |FROM b ORDER BY user_id""".stripMargin,
    // r14 fmt replay: DuckDB's native strftime (its %M is minute and
    // %B the month name — the translation differences ARE the test),
    // round-trips as epoch arithmetic
    "q_compat_r14fmt" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    epoch_ms((1709251200 + user_id * 9973) * 1000) AS ts,
        |    1709251200 + user_id * 9973 AS t
        |  FROM u)
        |SELECT user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS f1,
        |  strftime(ts, '%Y-%m-%d') AS f2,
        |  strftime(ts, '%B') AS f3,
        |  strftime(ts, '%j') || '|' ||
        |    CAST(quarter(ts) AS VARCHAR) || '|' ||
        |    strftime(ts, '%p') AS f4,
        |  t AS rt,
        |  (t // 86400) * 86400 AS be
        |FROM b ORDER BY user_id""".stripMargin,
    // r14 URL/IP replay: the synthetic URL decomposes in closed form
    // from the same user_id mods; the hierarchies replay the generic
    // cut-position computation (after each '/', before '?', full) on
    // the same rest string; CIDR math from the dotted-quad integer
    "q_compat_r14url" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    CAST(user_id % 5 AS VARCHAR) AS x5,
        |    CAST(8000 + user_id % 7 AS VARCHAR) AS prt,
        |    CAST(user_id % 3 AS VARCHAR) AS x3,
        |    CAST(user_id % 11 AS VARCHAR) AS x11,
        |    CAST(user_id % 2 AS VARCHAR) AS x2,
        |    CAST(user_id % 10 AS VARCHAR) AS x10,
        |    user_id % 256 AS o1, user_id * 3 % 256 AS o2,
        |    user_id * 7 % 256 AS o3, user_id * 11 % 256 AS o4,
        |    user_id % 300 AS q1
        |  FROM u),
        |c AS (SELECT *,
        |    '/a' || x3 || '/b?q=' || x11 || '#s' || x2 AS rest,
        |    'https://www.ex' || x5 || '.com:' || prt AS base,
        |    o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ipn,
        |    o1 || '.' || o2 || '.' || o3 || '.' || o4 AS ip
        |  FROM b),
        |h AS (SELECT *,
        |    list_sort(list_distinct(
        |      list_concat(list_concat(
        |        list_filter(generate_series(1, length(rest)),
        |          i -> substr(rest, i, 1) = '/'),
        |        list_transform(list_filter(
        |          generate_series(1, length(rest)),
        |          i -> substr(rest, i, 1) = '?'), p -> p - 1)),
        |        [length(rest)]))) AS cuts
        |  FROM c)
        |SELECT user_id,
        |  rest AS pf,
        |  'q=' || x11 || '#s' || x2 AS qf,
        |  'https://www.ex' || x5 || '.com:' || prt || '/a' || x3 ||
        |    '/b#s' || x2 AS cq,
        |  'https://ex' || x5 || '.com:' || prt || '/a' || x3 ||
        |    '/b?q=' || x11 || '#s' || x2 AS cw,
        |  'www.ex' || x5 || '.com:' || prt AS nl,
        |  CAST(8000 + user_id % 7 AS INT) AS po,
        |  'ex' || x5 AS fs,
        |  array_to_string(list_transform(cuts,
        |    p -> base || substr(rest, 1, p)), '|') AS uh,
        |  array_to_string(list_filter(list_transform(cuts,
        |    p -> substr(rest, 1, p)), s2 -> s2 != '/'), '|') AS uph,
        |  'q%20' || x10 || '%2Bv' AS enc,
        |  'a ' || x10 || '+c' AS dec,
        |  'u' || CAST(user_id AS VARCHAR) AS b64,
        |  lpad(bin(user_id % 300),
        |    CAST(ceil(length(bin(user_id % 300)) / 8.0) * 8 AS INT),
        |    '0') AS bn,
        |  TRUE AS v4,
        |  (q1 <= 255) AS v4q,
        |  CAST(ipn // 65536 // 256 AS VARCHAR) || '.' ||
        |    CAST(ipn // 65536 % 256 AS VARCHAR) || '.0.0' AS clo,
        |  CAST(ipn // 65536 // 256 AS VARCHAR) || '.' ||
        |    CAST(ipn // 65536 % 256 AS VARCHAR) || '.255.255' AS chi,
        |  (ipn // 2097152 = (10 * 16777216 + 32 * 65536) // 2097152)
        |    AS inr
        |FROM h ORDER BY user_id""".stripMargin,
    // jaro replay: DuckDB's native jaro_similarity /
    // jaro_winkler_similarity (independent implementation of the same
    // textbook algorithm)
    "q_compat_jaro" ->
      """WITH p AS (SELECT DISTINCT user_id,
        |    'user_' || CAST(user_id % 97 AS VARCHAR) || '_session'
        |      AS s1,
        |    'user_' || CAST(user_id % 89 AS VARCHAR) || '_sesion'
        |      AS s2
        |  FROM events)
        |SELECT user_id,
        |  round(jaro_similarity(s1, s2), 6) AS j,
        |  round(jaro_winkler_similarity(s1, s2), 6) AS jw
        |FROM p ORDER BY user_id""".stripMargin,
    // r14 time/codec replay: pure epoch arithmetic, date addition
    // anchored at 0001-01-01 (both engines proleptic Gregorian), and
    // the closed-form match/hamming cases
    "q_compat_r14time" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (SELECT user_id,
        |    1700000000 + user_id * 13 AS t,
        |    'ev_' || CAST(user_id % 7 AS VARCHAR) AS s,
        |    738000 + user_id % 1000 AS nd
        |  FROM u)
        |SELECT user_id,
        |  t * 1000 AS ms,
        |  t * 1000000 AS us,
        |  t * 1000000000 AS ns,
        |  (1700000000123 + user_id) * 1000 AS rt,
        |  CAST(DATE '0001-01-01' + CAST(nd - 366 AS INTEGER)
        |    AS VARCHAR) AS fdz,
        |  CAST(nd AS INT) AS tdz,
        |  (user_id % 7 = user_id % 2) AS mm,
        |  CAST(CASE WHEN user_id % 7 = user_id % 2 THEN 1 ELSE 0 END
        |    AS BIGINT) AS mi,
        |  CAST(CASE WHEN user_id % 5 = user_id % 7 THEN 1 ELSE 2 END
        |    AS INT) AS thd,
        |  CAST(strpos(s, CAST(user_id % 3 AS VARCHAR)) AS BIGINT)
        |    AS pu
        |FROM b ORDER BY user_id""".stripMargin,
    // r14 array/bitmap replay: bitmap folds from unnested per-row
    // distinct counts (And = present in every row, Xor = odd
    // row-presence), regex groups via regexp_extract_all(re, g),
    // ranged reduces in closed form from the u-mod components
    "q_compat_r14arr" ->
      """WITH e AS (SELECT user_id, event_id,
        |    [event_id % 7, event_id % 11, user_id % 5] AS b
        |  FROM events),
        |x AS (SELECT user_id, event_id,
        |    unnest(list_distinct(b)) AS v FROM e),
        |c AS (SELECT user_id, v, count(*) AS rw
        |  FROM x GROUP BY 1, 2),
        |n AS (SELECT user_id, count(*) AS nr FROM e GROUP BY 1),
        |agg AS (SELECT c.user_id,
        |    CAST(sum(CASE WHEN c.rw = n.nr THEN 1 ELSE 0 END)
        |      AS BIGINT) AS band,
        |    CAST(count(*) AS BIGINT) AS bor,
        |    CAST(sum(CASE WHEN c.rw % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bxor
        |  FROM c JOIN n ON c.user_id = n.user_id
        |  GROUP BY c.user_id),
        |sc AS (SELECT user_id,
        |    'a=' || CAST(user_id % 5 AS VARCHAR) || ';b=' ||
        |      CAST(user_id % 7 AS VARCHAR) || ';c=' ||
        |      CAST(user_id % 3 AS VARCHAR) AS s,
        |    user_id % 5 AS a1, user_id % 7 AS a2, user_id % 3 AS a3,
        |    user_id % 11 AS a4, user_id % 13 AS a5
        |  FROM (SELECT DISTINCT user_id FROM events))
        |SELECT a.user_id, a.band, a.bor, a.bxor,
        |  array_to_string(regexp_extract_all(c.s, '(\w)=(\d)', 1), ',')
        |    || '|' ||
        |    array_to_string(regexp_extract_all(c.s, '(\w)=(\d)', 2),
        |      ',') AS egh,
        |  array_to_string(list_transform(
        |    generate_series(1, len(regexp_extract_all(c.s,
        |      '(\w)=(\d)', 1))),
        |    i -> regexp_extract_all(c.s, '(\w)=(\d)', 1)[i] || ':' ||
        |      regexp_extract_all(c.s, '(\w)=(\d)', 2)[i]), '|') AS egv,
        |  CAST(c.a1 + c.a2 AS VARCHAR) || ',' ||
        |    CAST(c.a2 + c.a3 + c.a4 AS VARCHAR) AS rr,
        |  CAST(greatest(c.a1, c.a2, c.a3, c.a4, c.a5) AS VARCHAR)
        |    AS rm,
        |  array_to_string(list_transform(generate_series(1, 3),
        |    i -> array_to_string(
        |      [c.a1, c.a2, c.a3, c.a4, c.a5][i:i+2], ',')), '|') AS sh
        |FROM agg a JOIN sc c ON a.user_id = c.user_id
        |ORDER BY a.user_id""".stripMargin,
    // r14 stats replay: ANOVA F from group moments (SSB = Σs²/n −
    // (Σs)²/N, SSW = Σs2 − Σs²/n), IV from per-category tag counts,
    // 4-gram multisets via substr lists, AUC via the mid-rank fold
    "q_compat_r14stats" ->
      """WITH v AS (SELECT user_id, event_type,
        |    CAST(event_id % 89 AS DOUBLE) AS x,
        |    CAST(event_id % 2 AS INT) AS t
        |  FROM events),
        |g AS (SELECT user_id, event_type, count(*) AS n,
        |    sum(x) AS s, sum(x * x) AS s2,
        |    sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS bb,
        |    sum(CASE WHEN t <> 0 THEN 1 ELSE 0 END) AS gg
        |  FROM v GROUP BY 1, 2),
        |ua AS (SELECT user_id, count(*) AS k, sum(n) AS nt,
        |    sum(s) AS st,
        |    sum(s * s / n) - sum(s) * sum(s) / sum(n) AS ssb,
        |    sum(s2) - sum(s * s / n) AS ssw,
        |    sum(bb) AS btot, sum(gg) AS gtot
        |  FROM g GROUP BY 1),
        |iv AS (SELECT g.user_id,
        |    sum(CASE WHEN g.gg > 0 AND g.bb > 0 THEN
        |      (g.gg * 1.0 / u.gtot - g.bb * 1.0 / u.btot) *
        |      ln((g.gg * 1.0 / u.gtot) / (g.bb * 1.0 / u.btot))
        |      ELSE 0 END) AS iv
        |  FROM g JOIN ua u ON g.user_id = u.user_id
        |  GROUP BY g.user_id),
        |sc AS (SELECT user_id,
        |    'event_' || CAST(user_id % 7 AS VARCHAR) || '_str' AS s1,
        |    'event_' || CAST(user_id % 5 AS VARCHAR) || '_txt' AS s2,
        |    [CAST(user_id % 10 AS DOUBLE), CAST(user_id % 6 AS DOUBLE),
        |     CAST(user_id % 4 + 2 AS DOUBLE),
        |     CAST(user_id % 8 AS DOUBLE)] AS scr
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |ng AS (SELECT user_id, scr,
        |    list_transform(generate_series(1,
        |      greatest(length(s1) - 3, 0)), i -> substr(s1, i, 4)) AS g1,
        |    list_transform(generate_series(1,
        |      greatest(length(s2) - 3, 0)), i -> substr(s2, i, 4)) AS g2
        |  FROM sc),
        |nc AS (SELECT user_id, scr, g1, g2,
        |    coalesce(list_sum(list_transform(list_distinct(g1),
        |      gg -> least(len(list_filter(g1, x -> x = gg)),
        |        len(list_filter(g2, x -> x = gg))))), 0) AS com
        |  FROM ng)
        |SELECT u.user_id,
        |  round((u.ssb / (u.k - 1)) / (u.ssw / (u.nt - u.k)), 6)
        |    AS f_stat,
        |  round(i.iv, 6) AS iv,
        |  round(1.0 - 2.0 * n.com / (len(n.g1) + len(n.g2)), 6) AS nd,
        |  round(coalesce(list_sum(list_transform(list_distinct(n.g2),
        |    gg -> least(len(list_filter(n.g2, x -> x = gg)),
        |      len(list_filter(n.g1, x -> x = gg))))), 0) * 1.0
        |    / len(n.g2), 6) AS ns,
        |  'w' || CAST(u.user_id % 3 AS VARCHAR) || '|x|y' AS sw,
        |  'event|str' AS at,
        |  round((list_sum(list_transform(
        |    [n.scr[2], n.scr[4]],
        |    p -> len(list_filter(n.scr, t2 -> t2 < p)) +
        |      (len(list_filter(n.scr, t3 -> t3 = p)) + 1) / 2.0))
        |    - 3.0) / 4.0, 6) AS auc
        |FROM ua u
        |JOIN iv i ON u.user_id = i.user_id
        |JOIN nc n ON u.user_id = n.user_id
        |ORDER BY u.user_id""".stripMargin,
    // decayed-window replay: DuckDB can't reference the current row
    // inside a window aggregate, so the frame fold replays as a
    // self-join on the rollup series (i.t <= r.t = the RANGE frame)
    "q_compat_decayed" ->
      """WITH srs AS (
        |  SELECT user_id, CAST(event_id % 601 AS DOUBLE) AS t,
        |    SUM(CAST(event_id % 89 AS DOUBLE)) AS sv,
        |    MAX(CAST(event_id % 89 AS DOUBLE)) AS mv
        |  FROM events GROUP BY user_id, event_id % 601)
        |SELECT r.user_id, r.t,
        |  round(sum(i.sv * exp((i.t - r.t) / 60.0)), 6) AS dsum,
        |  round(sum(exp((i.t - r.t) / 60.0)), 6) AS dcnt,
        |  round(max(i.mv * exp((i.t - r.t) / 60.0)), 6) AS dmax,
        |  round(sum(i.sv * exp((i.t - r.t) / 60.0))
        |    / sum(exp((i.t - r.t) / 60.0)), 6) AS davg
        |FROM srs r JOIN srs i
        |  ON i.user_id = r.user_id AND i.t <= r.t
        |GROUP BY r.user_id, r.t
        |ORDER BY r.user_id, r.t""".stripMargin,
    // LTTB replay: sort each user's series by (t, v), keep the first
    // and last points, split the middle into 6 fractional buckets
    // (every = (n-2)/6), then walk the buckets with a recursive CTE —
    // each step picks the in-bucket point maximizing the triangle area
    // with the PREVIOUS pick and the NEXT bucket's centroid, ties to
    // the lowest index (area DESC, idx0 ASC), exactly mirroring the
    // Scala eval loop in functions/LttbAgg.scala.
    "q_compat_lttb" ->
      """WITH RECURSIVE pts AS (
        |  SELECT user_id,
        |    CAST(event_id % 601 AS DOUBLE) AS t,
        |    CAST(event_id % 89 AS DOUBLE) AS v
        |  FROM events),
        |ord AS (
        |  SELECT user_id, t, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t, v) - 1
        |      AS idx0,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM pts),
        |big AS (SELECT * FROM ord WHERE n > 8),
        |bkt AS (
        |  SELECT g.user_id, g.n, r.i,
        |    CAST(FLOOR(r.i * ((g.n - 2) / 6.0)) AS BIGINT) + 1 AS bs,
        |    LEAST(CAST(FLOOR((r.i + 1) * ((g.n - 2) / 6.0)) AS BIGINT)
        |      + 1, g.n - 1) AS be,
        |    LEAST(CAST(FLOOR((r.i + 2) * ((g.n - 2) / 6.0)) AS BIGINT)
        |      + 1, g.n) AS ne
        |  FROM (SELECT DISTINCT user_id, n FROM big) g, range(0, 6) r(i)),
        |cent AS (
        |  SELECT b.user_id, b.i, b.bs, b.be,
        |    sum(o.t) / GREATEST(b.ne - b.be, 1) AS cx,
        |    sum(o.v) / GREATEST(b.ne - b.be, 1) AS cy
        |  FROM bkt b JOIN big o
        |    ON o.user_id = b.user_id AND o.idx0 >= b.be AND o.idx0 < b.ne
        |  GROUP BY b.user_id, b.i, b.bs, b.be, b.ne),
        |sel AS (
        |  SELECT user_id, 0 AS step, idx0, t AS ax, v AS ay
        |  FROM big WHERE idx0 = 0
        |  UNION ALL
        |  SELECT s.user_id, s.step + 1, c.pick_idx, c.px, c.py
        |  FROM sel s, LATERAL (
        |    SELECT o.idx0 AS pick_idx, o.t AS px, o.v AS py
        |    FROM cent b JOIN big o
        |      ON o.user_id = b.user_id
        |      AND o.idx0 >= b.bs AND o.idx0 < b.be
        |    WHERE b.user_id = s.user_id AND b.i = s.step
        |    ORDER BY abs((s.ax - b.cx) * (o.v - s.ay)
        |      - (s.ax - o.t) * (b.cy - s.ay)) DESC, o.idx0 ASC
        |    LIMIT 1) c
        |  WHERE s.step < 6),
        |picked AS (
        |  SELECT user_id, idx0, ax AS t, ay AS v FROM sel
        |  UNION ALL
        |  SELECT user_id, idx0, t, v FROM big WHERE idx0 = n - 1
        |  UNION ALL
        |  SELECT user_id, idx0, t, v FROM ord WHERE n <= 8)
        |SELECT p.user_id,
        |  string_agg(CAST(CAST(p.t AS BIGINT) AS VARCHAR) || ':' ||
        |    CAST(CAST(p.v AS BIGINT) AS VARCHAR), ','
        |    ORDER BY p.idx0) AS pts,
        |  any_value(o.n) AS n
        |FROM picked p
        |JOIN (SELECT DISTINCT user_id, n FROM ord) o USING (user_id)
        |GROUP BY p.user_id
        |ORDER BY p.user_id""".stripMargin,
    "q_compat_sparkbar" ->
      """WITH t AS (SELECT user_id,
        |    CAST(event_id % 601 AS DOUBLE) AS x,
        |    CAST(event_id % 89 AS DOUBLE) AS y FROM events),
        |b AS (SELECT user_id,
        |    LEAST(9, CAST(floor(x * 10 / 600.0) AS INT)) AS bin,
        |    SUM(y) AS s
        |  FROM t GROUP BY 1, 2),
        |m AS (SELECT user_id, MAX(s) AS ms FROM b GROUP BY 1),
        |c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t GROUP BY 1),
        |g AS (SELECT m.user_id, r.range AS bin,
        |    COALESCE(b.s, 0) AS s, m.ms
        |  FROM m CROSS JOIN range(10) r
        |  LEFT JOIN b ON b.user_id = m.user_id AND b.bin = r.range)
        |SELECT g.user_id,
        |  string_agg(CASE WHEN s <= 0 OR ms <= 0 THEN ' '
        |    ELSE chr(CAST(9600 + GREATEST(1, LEAST(8,
        |      CAST(ceil(s * 8 / ms) AS INT))) AS INT)) END,
        |    '' ORDER BY bin) AS bar,
        |  MAX(c.n) AS n
        |FROM g JOIN c ON g.user_id = c.user_id
        |GROUP BY g.user_id ORDER BY g.user_id""".stripMargin,
    "q_compat_series" ->
      """WITH g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id),
        |s AS (SELECT user_id, n, list_transform(range(1, 21),
        |    i -> CAST(CASE WHEN i = 13 THEN 40 + user_id % 90
        |      ELSE i % 7 END AS DOUBLE)) AS ser FROM g),
        |q AS (SELECT *,
        |    list_aggregate(ser, 'quantile_cont', 0.25) AS q1,
        |    list_aggregate(ser, 'quantile_cont', 0.75) AS q3
        |  FROM s)
        |SELECT user_id,
        |  array_to_string(list_transform(ser, x -> CAST(round(
        |    CASE WHEN x < q1 - 1.5 * (q3 - q1)
        |        THEN x - (q1 - 1.5 * (q3 - q1))
        |      WHEN x > q3 + 1.5 * (q3 - q1)
        |        THEN x - (q3 + 1.5 * (q3 - q1))
        |      ELSE 0.0 END, 4) AS VARCHAR)), ',') AS scores,
        |  n
        |FROM q ORDER BY user_id""".stripMargin,
    "q_compat_mlreg" ->
      """WITH t AS (SELECT user_id,
        |    CAST(event_id % 97 AS DOUBLE) AS a,
        |    CAST(event_id % 11 AS DOUBLE) AS b,
        |    CAST(3 * (event_id % 97) + 2 * (event_id % 11)
        |      + event_id % 7 AS DOUBLE) AS y FROM events),
        |s AS (SELECT user_id, SUM(a*a) AS saa, SUM(a*b) AS sab,
        |    SUM(a) AS sa, SUM(b*b) AS sbb, SUM(b) AS sb,
        |    CAST(COUNT(*) AS DOUBLE) AS n, SUM(a*y) AS say,
        |    SUM(b*y) AS sby, SUM(y) AS sy,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY user_id),
        |d AS (SELECT *,
        |    saa*(sbb*n - sb*sb) - sab*(sab*n - sb*sa)
        |      + sa*(sab*sb - sbb*sa) AS det,
        |    say*(sbb*n - sb*sb) - sab*(sby*n - sb*sy)
        |      + sa*(sby*sb - sbb*sy) AS det1,
        |    saa*(sby*n - sb*sy) - say*(sab*n - sb*sa)
        |      + sa*(sab*sy - sby*sa) AS det2,
        |    saa*(sbb*sy - sby*sb) - sab*(sab*sy - sby*sa)
        |      + say*(sab*sb - sbb*sa) AS det3
        |  FROM s)
        |SELECT user_id,
        |  round(det1/det, 4) AS w1, round(det2/det, 4) AS w2,
        |  round(det3/det, 4) AS w0,
        |  round(det1/det*10 + det2/det*20 + det3/det, 4) AS pred,
        |  cnt AS n
        |FROM d ORDER BY user_id""".stripMargin,
    "q_compat_arrays2" ->
      """WITH g AS (SELECT user_id,
        |    array_to_string(list_sort(list(event_id % 37))[1:5], ',')
        |      AS bot5,
        |    array_to_string(range(1, 2 + MIN(event_id % 5)), ',')
        |      AS inter,
        |    CASE WHEN COUNT(DISTINCT CASE WHEN user_id % 2 = 0 THEN 7
        |        ELSE event_id % 2 END) = 1
        |      THEN CAST(MIN(CASE WHEN user_id % 2 = 0 THEN 7
        |        ELSE event_id % 2 END) AS VARCHAR) ELSE '' END AS sv,
        |    CAST(round(corr(event_id % 97,
        |      (event_id % 97) * 3 + event_id % 11), 4) AS VARCHAR)
        |      AS r,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id)
        |SELECT user_id, bot5, inter, sv,
        |  concat('1.0', ',', r, ',', r, ',', '1.0') AS cm, n
        |FROM g ORDER BY user_id""".stripMargin,
    "q_compat_nextnode" ->
      """WITH l AS (SELECT user_id,
        |    list(event_type ORDER BY ts, event_type) AS es
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  coalesce(es[list_position(es, 'signup') + 1], '')
        |    AS after_signup,
        |  coalesce(es[len(es) - list_position(list_reverse(es), 'error')],
        |    '') AS before_last_error,
        |  coalesce(CASE WHEN es[1] = 'view' AND es[2] = 'click'
        |    THEN es[3] END, '') AS vc_next,
        |  CAST(len(es) AS BIGINT) AS n
        |FROM l ORDER BY user_id""".stripMargin,
    // z-quantile constants for (power 0.8, alpha 0.05): z_{0.975} =
    // 1.9599639845400536, z_{0.8} = 0.8416212335729143 (python
    // statistics.NormalDist, the same anchors CompatSpec pins)
    "q_compat_sizing" ->
      """WITH g AS (SELECT user_id,
        |    AVG(CAST(50 + event_id % 97 AS DOUBLE)) AS b,
        |    STDDEV_SAMP(CAST(50 + event_id % 97 AS DOUBLE)) AS sg,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  round(2 * pow(1.9599639845400536 + 0.8416212335729143, 2)
        |    * sg * sg / pow(0.05 * b, 2), 4) AS mss,
        |  round(b * 0.95, 4) AS lo,
        |  round(pow(1.9599639845400536 * sqrt(2 * 0.0225 * 0.9775)
        |      + 0.8416212335729143 * sqrt(0.02 * 0.98 + 0.025 * 0.975),
        |      2) / 0.000025, 4) AS mcv,
        |  n
        |FROM g ORDER BY user_id""".stripMargin,
    "q_compat_arrayreduce" ->
      """WITH t AS (SELECT user_id,
        |    range(1, CAST(2 + event_id % 7 AS BIGINT)) AS arr
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(list_sum(arr)) AS BIGINT) AS s,
        |  CAST(SUM(len(arr)) AS BIGINT) AS c,
        |  CAST(SUM(len(list_distinct(arr))) AS BIGINT) AS u,
        |  CAST(SUM(list_max(arr)) AS BIGINT) AS mx,
        |  round(SUM(list_avg(arr)), 4) AS av,
        |  CAST(SUM(arr[1]) AS BIGINT) AS a1,
        |  CAST(SUM(arr[-1]) AS BIGINT) AS a2
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_numbers" ->
      """SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |    AS q15,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(event_id % 100) AS BIGINT) AS s_mod,
        |  CAST((SELECT SUM(range) FROM range(100)) AS BIGINT) AS s_num
        |FROM events GROUP BY q15 ORDER BY q15""".stripMargin,
    // DuckDB range(a, b) is end-EXCLUSIVE: range(1, 2+k) == CH/Spark
    // sequence(1, 1+k)
    "q_compat_hof" ->
      """SELECT user_id,
        |  CAST(SUM(len(list_filter(range(1, 2 + event_id % 5),
        |    x -> x > 2))) AS BIGINT) AS n_gt2,
        |  CAST(SUM(list_sum(list_transform(range(1, 2 + event_id % 3),
        |    x -> x * x))) AS BIGINT) AS s_sq,
        |  CAST(SUM(CASE WHEN list_contains(range(1, 2 + event_id % 5), 4)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_has4,
        |  CAST(SUM(4) AS BIGINT) AS s_uniq,
        |  CAST(SUM(event_id & 255) AS BIGINT) AS s_band,
        |  CAST(SUM((event_id % 8) << 2) AS BIGINT) AS s_shift,
        |  CAST(SUM(CASE WHEN regexp_matches(event_type, '^p')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |  MAX(replace(event_type, 'a', '_')) AS r_all,
        |  MAX(regexp_extract(event_type, '[aeiou]+')) AS r_vowel,
        |  CAST(SUM(date_diff('minute',
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |    CAST(ts AS TIMESTAMP))) AS BIGINT) AS s_dmin
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_compat_asof_left" ->
      """WITH t AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS mts,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |), w AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY mts, kind, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av_id
        |  FROM t)
        |SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_purch,
        |  CAST(SUM(CASE WHEN av_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched,
        |  CAST(arg_max(av_id, mts) FILTER (WHERE av_id IS NOT NULL)
        |    AS BIGINT) AS last_view,
        |  CAST(COUNT(*) AS BIGINT) AS n_cnt
        |FROM w WHERE kind = 1 GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same deterministic ordering as q20_asof's oracle ((ts, kind,
    // event_id), views-before-purchases at equal ts → inclusive >=),
    // inner form: unmatched purchases drop instead of sentineling
    "q_compat_asof" ->
      """WITH t AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS mts,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |), w AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN kind = 0 THEN mts END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY mts, kind, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av_ts,
        |    LAST_VALUE(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY mts, kind, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av_id
        |  FROM t)
        |SELECT event_id, user_id, mts AS ts, av_ts AS asof_view_ts,
        |  CAST(av_id AS BIGINT) AS asof_view_id
        |FROM w WHERE kind = 1 AND av_id IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "q_compat_json" ->
      """WITH t AS (SELECT user_id, event_id, props,
        |    '{"pri":"' || event_type || '","open":' ||
        |      CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END
        |      || '}' AS doc
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS k_sum,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS DOUBLE))
        |    AS DOUBLE) AS k_maxf,
        |  CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS has_k,
        |  CAST(0 AS BIGINT) AS has_zz,
        |  CAST(0 AS BIGINT) AS zz_sum,
        |  MAX(json_extract_string(doc, '$.pri')) AS pri_max,
        |  MAX(CAST(json_extract(doc, '$.pri') AS VARCHAR)) AS pri_raw,
        |  MAX(json_extract_string(doc, '$.pri')) AS pri_visit,
        |  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_open,
        |  CAST(2 AS BIGINT) AS doc_len
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    // time bound = pair within 3600s; adjacency = LEAD over the
    // described-events-only sequence (undescribed events invisible,
    // exactly the CH contract); per-user timestamps are unique so
    // both orderings are total
    "q_compat_seqmatch_t" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type
        |    FROM events WHERE event_type IN ('signup', 'purchase')),
        |m1 AS (SELECT DISTINCT a.user_id FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_type = 'signup'
        |    AND b.event_type = 'purchase' AND b.t > a.t
        |    AND b.t <= a.t + 3600000000),
        |sq AS (SELECT user_id, event_type, LEAD(event_type) OVER (
        |    PARTITION BY user_id ORDER BY t) AS nxt FROM e),
        |m2 AS (SELECT DISTINCT user_id FROM sq
        |  WHERE event_type = 'signup' AND nxt = 'purchase')
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m1) AS matched_1h,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM m2) AS matched_adj"""
        .stripMargin,
    // FINAL = keep-highest-version per (date, key); event_id is unique
    // so the version order is total
    "q_compat_final" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS date, user_id,
        |    event_id AS ver, event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY date, user_id
        |    ORDER BY ver DESC) AS rn FROM e)
        |SELECT date, user_id, event_type, cents FROM r
        |WHERE rn = 1 ORDER BY date, user_id""".stripMargin,

    // ANSI equivalents for every oracled CH spelling; isodow matches
    // the Monday=1 contract, floor(epoch()) matches the long cast,
    // median = quantile_cont(0.5) matches Percentile's interpolation
    "q_compat_funcs2" ->
      """SELECT event_type,
        |  CAST(strftime(MIN(ts), '%Y%m') AS INTEGER) AS first_yyyymm,
        |  CAST(date_trunc('month', MIN(ts)) AS DATE) AS first_month,
        |  CAST(isodow(MIN(ts)) AS INTEGER) AS first_dow,
        |  CAST(hour(MIN(ts)) AS INTEGER) AS first_hour,
        |  CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_unix,
        |  CAST(COUNT(*) FILTER (WHERE value > 0.5) AS BIGINT) AS n_hi,
        |  AVG(value) FILTER (WHERE value > 0.5) AS avg_hi,
        |  CAST(MIN(event_id) FILTER (WHERE value > 0.5) AS BIGINT)
        |    AS min_hi_id,
        |  CAST(MAX(event_id) FILTER (WHERE value > 0.5) AS BIGINT)
        |    AS max_hi_id,
        |  CAST(median(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    AS med_cents,
        |  stddev_pop(value) AS sd,
        |  CAST(strpos(event_type, 'i') AS INTEGER) AS pos_i,
        |  (CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) // 7)
        |    AS cents_div7,
        |  array_to_string(
        |    list_sort(list(DISTINCT CAST(user_id % 10 AS VARCHAR))), ',')
        |    AS dectets,
        |  list_contains(list(DISTINCT CAST(user_id % 10 AS INTEGER)), 3)
        |    AS has3
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_cloudranges_merge" ->
      s"""WITH awsfeed AS (
         |  SELECT 16777216 + p_partkey * 2048 AS p_start,
         |    16777216 + p_partkey * 2048 + 2047 AS p_end, 21 AS p_len,
         |    'aws' AS p_cloud,
         |    'region-' || CAST(p_partkey % 7 AS VARCHAR) AS p_region,
         |    CASE p_partkey % 5 WHEN 0 THEN 's3' WHEN 1 THEN 'amazon'
         |      WHEN 2 THEN 'ec2' WHEN 3 THEN 'cloudfront'
         |      ELSE 'route53' END AS p_service
         |  FROM part
         |  UNION ALL
         |  SELECT 16777216 + p_partkey * 2048,
         |    16777216 + p_partkey * 2048 + 2047, 21, 'aws',
         |    'region-' || CAST(p_partkey % 7 AS VARCHAR),
         |    CASE (p_partkey + 1) % 5 WHEN 0 THEN 's3' WHEN 1 THEN 'amazon'
         |      WHEN 2 THEN 'ec2' WHEN 3 THEN 'cloudfront' ELSE 'route53' END
         |  FROM part WHERE p_partkey % 9 = 0
         |), aws_d AS (
         |  SELECT p_start, p_end, p_len, p_cloud, p_region, p_service FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY p_start, p_end
         |      ORDER BY CASE p_service WHEN 's3' THEN -1 WHEN 'amazon' THEN 1
         |        WHEN 'ec2' THEN 2 ELSE 0 END, p_service) AS rn
         |    FROM awsfeed) t WHERE rn = 1
         |), gcpfeed AS (
         |  SELECT 16777216 + p_partkey * 2048 AS p_start,
         |    16777216 + p_partkey * 2048 + 2047 AS p_end, 21 AS p_len,
         |    'gcp' AS p_cloud,
         |    'region-' || CAST(p_partkey % 5 AS VARCHAR) AS p_region,
         |    CASE WHEN p_partkey % 12 = 0 THEN ''
         |      ELSE 'googlecloud' END AS p_service
         |  FROM part WHERE p_partkey % 3 = 0
         |), googlefeed AS (
         |  SELECT 16777216 + p_partkey * 2048 AS p_start,
         |    16777216 + p_partkey * 2048 + 2047 AS p_end, 21 AS p_len,
         |    'gcp' AS p_cloud, 'global' AS p_region,
         |    'googleservice' AS p_service
         |  FROM part WHERE p_partkey % 6 = 0 AND p_partkey % 12 <> 0
         |), azurefeed AS (
         |  SELECT 16777216 + p_partkey * 2048 AS p_start,
         |    16777216 + p_partkey * 2048 + 2047 AS p_end, 21 AS p_len,
         |    'azure' AS p_cloud,
         |    CASE WHEN p_partkey % 8 = 0 THEN 'global'
         |      ELSE 'region-' || CAST(p_partkey % 3 AS VARCHAR) END AS p_region,
         |    CASE WHEN p_partkey % 8 = 0 THEN 'azurestorage'
         |      WHEN p_partkey % 20 = 0 THEN '' ELSE 'azurecloud' END AS p_service
         |  FROM part WHERE p_partkey % 4 = 0
         |), standing0 AS (
         |  SELECT *, 1 AS prio FROM googlefeed
         |  UNION ALL SELECT *, 2 FROM gcpfeed
         |  UNION ALL SELECT *, 3 FROM aws_d
         |), standing AS (
         |  SELECT p_start, p_end, p_len, p_cloud, p_region, p_service FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY p_start, p_end
         |      ORDER BY prio, p_service) AS rn FROM standing0) t WHERE rn = 1
         |), combined AS (
         |  SELECT *, CASE WHEN p_service = '' THEN 2.0 ELSE 1.0 END AS prio
         |  FROM standing
         |  UNION ALL
         |  SELECT *, CASE WHEN p_service = 'azurestorage' THEN 0.0
         |    WHEN p_service <> '' THEN 1.5 ELSE 3.0 END FROM azurefeed
         |), rankedm AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_start, p_end
         |    ORDER BY prio, p_service) AS rn
         |  FROM combined)
         |SELECT p_start, p_end, p_len, p_cloud, p_region, p_service
         |FROM rankedm WHERE rn = 1 ORDER BY p_start, p_end""".stripMargin,

    "qip_funcs" ->
      s"""${FlowSql.base}
         |SELECT flow_id,
         |  ${sqlIpStr("orig_src_ip")} AS src_ip,
         |  ${sqlIpStr("orig_dst_ip")} AS dst_ip,
         |  ${sqlIsPrivate("orig_dst_ip")} AS dst_private,
         |  ${sqlReadable("orig_bytes")} AS size_str
         |FROM flows ORDER BY flow_id""".stripMargin
  )
}
