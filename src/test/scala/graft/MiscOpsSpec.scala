package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.flow.{FlowPipeline, Ipv4Trie, SyntheticFlows}
import graft.functions.TopKTalkers
import graft.multimodal.MediaOps
import graft.sink.TxTable

class MiscOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("Ipv4Trie: longest-prefix-match semantics") {
    // 1.0.0.0/8 -> 0, 1.2.0.0/16 -> 1, 1.2.3.0/24 -> 2
    val trie = Ipv4Trie.build(Seq(
      (16777216L, 8, 0), (16908288L, 16, 1), (16909056L, 24, 2)))
    assert(trie.lookup(16909060L) == 2)   // 1.2.3.4 -> /24
    assert(trie.lookup(16908289L) == 1)   // 1.2.0.1 -> /16
    assert(trie.lookup(16777217L) == 0)   // 1.0.0.1 -> /8
    assert(trie.lookup(33554432L) == -1)  // 2.0.0.0 -> miss
  }

  test("LPM keeps every observation of a recurring flow_id, each with " +
    "its own prefix") {
    import spark.implicits._
    // one connection id seen in two dumps, its reply source moved from
    // a region-1 prefix to a region-2 one: a per-flow_id top-1 would
    // keep only one of the two observations
    val (pod, node) = (167772165L, 2886729729L)
    val (pubA, pubB) = (16777316L, 33554437L) // 1.0.0.100, 2.0.0.5
    val pods = Seq(("pod-a", "ns-a", pod, "node-1", "app", "inst-0"))
      .toDF("pod_name", "pod_namespace", "pod_ip", "pod_node", "pod_app",
        "pod_instance")
    val nodes = Seq(("node-1", node, "az-1"))
      .toDF("node_id", "node_internal_ip", "node_zone")
    val prefixes = Seq(
      (16777216L, 16779263L, 21, "aws", "region-1", "svc-a"),
      (33554432L, 33619967L, 16, "aws", "region-2", "svc-b"))
      .toDF("p_start", "p_end", "p_len", "p_cloud", "p_region", "p_service")
    def obs(tsMs: Long, remote: Long) = graft.flow.RawFlow(7L,
      new java.sql.Timestamp(tsMs), "node-1", 6, pod, remote, 1, 2,
      remote, node, 10L, 11L, 12L, 13L)
    val flows = Seq(obs(1700000000000L, pubA), obs(1700000120000L, pubB)).toDF()
    val got = FlowPipeline.run(flows, pods, nodes, prefixes)
      .filter(col("direction") === "out")
      .select("remote_ip", "remote_region", "remote_service",
        "connection_class", "n_obs")
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(got == Set(
      (pubA, "region-1", "svc-a", "INTRA_REGION", 1L),
      (pubB, "region-2", "svc-b", "INTER_REGION", 1L)))
  }

  test("sink: partitioned write, sorted clustering, TTL partition drop") {
    val summed = FlowPipeline.run(
      SyntheticFlows.flows(spark, sf), SyntheticFlows.pods(spark, sf),
      SyntheticFlows.nodes(spark, sf), SyntheticFlows.prefixes(spark, sf))
    val path = java.nio.file.Files
      .createTempDirectory("graft_sink_spec").toString + "/t"
    TxTable.append(spark, summed, path)
    val dates = TxTable.liveFiles(spark, path).values.map(_._1)
      .toSeq.distinct.sorted
    assert(dates.length > 1, "partitioned by date")
    val back = TxTable.read(spark, path)
    assert(back.count() == summed.count())
    // clustered: no file spans two dates
    val perFile = back.withColumn("f", input_file_name())
      .groupBy("f").agg(countDistinct("date").as("nd"))
    assert(perFile.filter(col("nd") > 1).isEmpty, "one date per file")
    // TTL: drop everything before the last date, metadata-only
    val dropped = TxTable.retention(spark, path,
      java.time.LocalDate.parse(dates.last))
    assert(dropped == dates.init)
    assert(TxTable.read(spark, path).select("date").distinct().count() == 1)
  }

  test("typed surface: summing table rows bind to Dataset[NetworkFlowRow]") {
    import spark.implicits._
    val summed = FlowPipeline.run(
      SyntheticFlows.flows(spark, sf), SyntheticFlows.pods(spark, sf),
      SyntheticFlows.nodes(spark, sf), SyntheticFlows.prefixes(spark, sf))
    val ds = summed.as[graft.flow.NetworkFlowRow]
    val r = ds.head()
    assert(r.interval_seconds == 60 && r.remote_cluster == "UNKNOWN" &&
      (r.connection_flags == "{}" ||
        r.connection_flags == """{"TEST_FLAG":true}""") &&
      (r.direction == "out" || r.direction == "in"))
    assert(ds.filter(_.bytes < 0).isEmpty)
  }

  test("compaction re-sums appended rows sharing the dimension key") {
    val summed = FlowPipeline.run(
      SyntheticFlows.flows(spark, sf), SyntheticFlows.pods(spark, sf),
      SyntheticFlows.nodes(spark, sf), SyntheticFlows.prefixes(spark, sf))
    val path = java.nio.file.Files
      .createTempDirectory("graft_compact_spec").toString + "/t"
    TxTable.append(spark, summed, path)
    TxTable.append(spark, summed, path)
    val n = summed.count()
    val bytes = summed.agg(sum("bytes")).collect().head.getLong(0)
    assert(TxTable.read(spark, path).count() == 2 * n)
    TxTable.compact(spark, path)
    val after = TxTable.read(spark, path)
    assert(after.count() == n, "duplicate keys collapsed")
    assert(after.agg(sum("bytes")).collect().head.getLong(0) == 2 * bytes,
      "sums preserved (doubled input)")
    // per-partition merges: append again, compact ONLY the first date —
    // other partitions keep their duplicates (they were not rewritten)
    val perDate = after.groupBy("date").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    TxTable.append(spark, summed, path)
    val dates = perDate.keys.toSeq.sorted
    assert(dates.length > 1, "test needs multiple date partitions")
    TxTable.compact(spark, path, Some(Seq(dates.head)))
    val byDate = TxTable.read(spark, path).groupBy("date").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(byDate(dates.head) == perDate(dates.head), "scoped date collapsed")
    assert(dates.tail.forall(d => byDate(d) == 2 * perDate(d)),
      "unscoped dates left untouched")
  }

  test("F8 ambiguity: >1 pod per IP becomes an error outcome row") {
    import spark.implicits._
    val dupPods = Seq(
      ("pod-a", "ns", 167772165L, "node-1", "app", "i0"),
      ("pod-a2", "ns", 167772165L, "node-1", "app", "i1"), // same IP!
      ("pod-b", "ns", 167772166L, "node-1", "app", "i2"))
      .toDF("pod_name", "pod_namespace", "pod_ip", "pod_node", "pod_app",
        "pod_instance")
    val nodes = Seq(("node-1", 2886729729L, "az-1"))
      .toDF("node_id", "node_internal_ip", "node_zone")
    val flows = Seq(
      (1L, new java.sql.Timestamp(0L), "node-1", 6, 167772165L, 16777316L,
        1, 2, 16777316L, 2886729729L, 10L, 11L, 12L, 13L),
      (2L, new java.sql.Timestamp(0L), "node-1", 6, 167772166L, 16777316L,
        1, 2, 16777316L, 2886729729L, 10L, 11L, 12L, 13L))
      .toDF("flow_id", "ts", "node_name", "proto", "orig_src_ip",
        "orig_dst_ip", "orig_src_port", "orig_dst_port", "reply_src_ip",
        "reply_dst_ip", "orig_pkts", "orig_bytes", "reply_pkts", "reply_bytes")
    val prefixes = Seq((16777216L, 16779263L, 21, "aws", "region-1", "svc-a"))
      .toDF("p_start", "p_end", "p_len", "p_cloud", "p_region", "p_service")
    val out = FlowPipeline.routeOutcomes(dupPods, nodes, prefixes,
      graft.flow.FlowConfig())(flows)
      .select("flow_id", "outcome").as[(Long, String)].collect().toMap
    assert(out(1L) == "error_ambiguous_pod_ip")
    assert(out(2L) == "labeled")
    // v6 flows get their own ignored outcome (ErrIPv6Flow), mirroring
    // what dropIpv6 excludes from the summing table; duplicate node-IP
    // dim rows must not fan outcome rows out
    val dupNodes = nodes.unionByName(nodes)
    val v6flows = flows.withColumn("is_ipv6", col("flow_id") === 2L)
    val out2 = FlowPipeline.routeOutcomes(dupPods, dupNodes, prefixes,
      graft.flow.FlowConfig())(v6flows)
      .select("flow_id", "outcome").as[(Long, String)].collect()
    assert(out2.length == 2, "no row fan-out from duplicate node IPs")
    assert(out2.toMap.apply(2L) == "ignored_ipv6")
  }

  test("typed Aggregator: bounded top-k talkers sketch is exact under cap") {
    import spark.implicits._
    val talkers = (1L to 300L).flatMap { i =>
      Seq.fill((i % 7 + 1).toInt)((s"pod-${i % 20}", i))
    }.toDS()
    val agg = new TopKTalkers(3).toColumn
    // ExpressionEncoder buffer: a real map struct the planner can see,
    // not a kryo binary blob
    assert(new TopKTalkers(3).bufferEncoder.schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.MapType])
    val got = talkers.select(agg).collect().head
    val expected = talkers.collect().groupBy(_._1)
      .map { case (key, vs) => key -> vs.map(_._2).sum }
      .toSeq.sortBy { case (key, v) => (-v, key) }.take(3)
    assert(got == expected)
    // over cap: space-saving eviction inherits the evicted minimum, so
    // a true heavy hitter arriving late cannot be silently zeroed
    val sk = new TopKTalkers(1, cap = 2)
    var buf = sk.zero
    Seq(("a", 1L), ("b", 1L), ("hot", 100L), ("hot", 100L))
      .foreach(in => buf = sk.reduce(buf, in))
    assert(sk.finish(buf).head._1 == "hot")
    assert(sk.finish(buf).head._2 >= 200L, "count never undercuts true sum")
    // over cap at MERGE time: the largest dropped count folds into the
    // kept minimum, so the space-saving overestimate bound survives
    // partial-buffer merges too (not just within-buffer reduces)
    val m = sk.merge(Map("h" -> 100L, "x" -> 3L), Map("y" -> 2L, "z" -> 1L))
    assert(m.size == 2 && m("h") == 100L)
    assert(m.values.min >= 2L,
      "dropped keys' true counts stay bounded by the kept minimum")
  }

  test("media decode: binary payload -> typed metadata, deterministic") {
    val decoded = MediaOps.decodeMeta(MediaOps.mediaCorpus(spark, sf))
    val rows = decoded.collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    assert(rows.forall(r => r.width >= 16 && r.width <= 16 + 255 * 4))
    assert(rows.forall(r => r.kind != "video" || r.n_frames >= 1))
    // decoding twice yields identical results (pure function of payload)
    val again = MediaOps.decodeMeta(MediaOps.mediaCorpus(spark, sf)).collect()
    assert(rows.sortBy(_.media_id).sameElements(again.sortBy(_.media_id)))
  }

  test("frame sampling fans out n_frames rows per video") {
    val decoded = MediaOps.decodeMeta(MediaOps.mediaCorpus(spark, sf)).toDF()
    val frames = MediaOps.sampleFrames(decoded)
    val expected = decoded.filter(col("kind") === "video")
      .agg(sum("n_frames")).collect().head.getLong(0)
    assert(frames.count() == expected)
  }
}
