package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dims.CloudRanges
import graft.flow.{FlowConfig, FlowPipeline, RawFlow, SyntheticFlows}
import graft.sink.{GraftStreamSink, TxTable}
import graft.streaming.StreamingFlows

class DimsAndSinkSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def res(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  test("S7/A6: AWS range feed parse, normalize, priority dedup") {
    val df = CloudRanges.fromAwsJson(spark, res("aws_ip_ranges.json"))
    val rows = df.collect()
    // 6 distinct prefixes from 10 feed entries
    assert(rows.length == 6)
    val byCidr = rows.map(r => r.getAs[Long]("p_start") -> r).toMap
    // 3.5.140.0/22 listed as AMAZON+S3+EC2 -> s3 wins
    val s3 = byCidr(SyntheticFlowsSpecHelpers.ipToLong("3.5.140.0"))
    assert(s3.getAs[String]("p_service") == "s3")
    // 13.34.37.64/27 AMAZON+EC2 -> amazon (1) beats ec2 (2)
    val amz = byCidr(SyntheticFlowsSpecHelpers.ipToLong("13.34.37.64"))
    assert(amz.getAs[String]("p_service") == "amazon")
    // 52.94.76.0/22 AMAZON+DYNAMODB -> dynamodb (0) beats amazon (1)
    val ddb = byCidr(SyntheticFlowsSpecHelpers.ipToLong("52.94.76.0"))
    assert(ddb.getAs[String]("p_service") == "dynamodb")
    // P10: GLOBAL -> global (lowercased)
    assert(rows.exists(_.getAs[String]("p_region") == "global"))
    // A7 sanity
    CloudRanges.assertRegionPresent(df, "us-east-1")
    intercept[IllegalArgumentException] {
      CloudRanges.assertRegionPresent(df, "mars-central-1")
    }
  }

  test("S7: Azure service tags parse — storage beats bare cloud, v6 dropped") {
    val df = CloudRanges.fromAzureJson(spark, res("azure_service_tags.json"))
    val rows = df.collect()
    assert(rows.length == 3) // 4 v4 prefixes, one dup resolved; v6 dropped
    val storage = rows.find(_.getAs[Long]("p_start") ==
      SyntheticFlowsSpecHelpers.ipToLong("20.33.0.0")).get
    assert(storage.getAs[String]("p_service") == "azurestorage")
    assert(storage.getAs[String]("p_region") == "eastus")
  }

  test("S7: GCP + Google feeds parse; merge precedence across all four") {
    import SyntheticFlowsSpecHelpers.ipToLong
    val gcp = CloudRanges.fromGcpJson(spark, res("gcp_cloud_ranges.json"))
    assert(gcp.count() == 3, "v6-only entries dropped")
    val gr = gcp.collect().map(r =>
      r.getAs[Long]("p_start") -> r).toMap
    assert(gr.values.forall(_.getAs[String]("p_cloud") == "gcp"))
    assert(gr(ipToLong("34.80.0.0")).getAs[String]("p_region") == "asia-east1")
    // P10 normalization on scope: "Asia East1" -> "asiaeast1"
    assert(gr(ipToLong("35.185.128.0")).getAs[String]("p_region") == "asiaeast1")
    assert(gr(ipToLong("34.80.0.0")).getAs[String]("p_service") == "googlecloud")
    val goog = CloudRanges.fromGoogleJson(spark, res("google_ranges.json"))
    assert(goog.count() == 3)
    assert(goog.collect().forall(r =>
      r.getAs[String]("p_service") == "googleservice" &&
        r.getAs[String]("p_region") == "global" &&
        r.getAs[String]("p_cloud") == "gcp"))
    // 4-feed merge: 34.96.0.0/20 appears in cloud.json AND goog.json —
    // the google loop runs last and overwrites (public_ranges.go:234-254)
    val aws = CloudRanges.fromAwsJson(spark, res("aws_ip_ranges.json"))
    val azure = CloudRanges.fromAzureJson(spark, res("azure_service_tags.json"))
    val merged = CloudRanges.mergeFeeds(aws, gcp, goog, azure)
    assert(merged.count() ==
      aws.count() + gcp.count() + goog.count() + azure.count() - 1,
      "exactly the one cross-feed duplicate prefix collapses")
    val overlap = merged.filter(col("p_start") === ipToLong("34.96.0.0"))
      .collect().head
    assert(overlap.getAs[String]("p_service") == "googleservice" &&
      overlap.getAs[String]("p_region") == "global")
  }

  test("S7 merge: non-storage Azure displaces only standing entries " +
    "with an EMPTY service (public_ranges.go:283 cross-feed arm)") {
    def feedOf(rows: (Long, String, String)*) = rows.toSeq
      .toDF("p_start", "p_region", "p_service")
      .withColumn("p_end", col("p_start") + 255)
      .withColumn("p_len", lit(24))
      .withColumn("p_cloud", lit("x"))
      .select("p_start", "p_end", "p_len", "p_cloud", "p_region", "p_service")
    val empty = feedOf().limit(0)
    // prefix A: gcp publishes service '' -> azurecloud displaces it
    // prefix B: gcp publishes a service  -> gcp stands
    val gcp = feedOf((1000L, "r1", ""), (2000L, "r1", "gcpsvc"))
    val azure = feedOf((1000L, "az1", "azurecloud"), (2000L, "az1", "azurecloud"))
    val merged = CloudRanges.mergeFeeds(empty, gcp, empty, azure)
      .collect().map(r => r.getAs[Long]("p_start") ->
        r.getAs[String]("p_service")).toMap
    assert(merged(1000L) == "azurecloud", "empty-service entry displaced")
    assert(merged(2000L) == "gcpsvc", "non-empty entry stands")
  }

  test("S7 refresh job: fetch->parse->validate->swap; a bad feed or a " +
    "missing local region leaves the OLD table live") {
    import graft.dims.RangeRefresh
    def stream(name: String) = new java.io.FileInputStream(res(name))
    var azureProbes = 0
    // Azure URL date-probing: today and yesterday 404, two days ago hits
    val probeDate = java.time.LocalDate.of(2026, 8, 12)
    def transport(good: Boolean): String => java.io.InputStream = {
      case RangeRefresh.AwsUrl => stream("aws_ip_ranges.json")
      case RangeRefresh.GcpUrl =>
        if (good) stream("gcp_cloud_ranges.json")
        else new java.io.ByteArrayInputStream("{not json".getBytes)
      case RangeRefresh.GoogleUrl => stream("google_ranges.json")
      case u if u.startsWith("https://download.microsoft.com/") =>
        azureProbes += 1
        if (u == RangeRefresh.azureUrl(probeDate.minusDays(2)))
          stream("azure_service_tags.json")
        else throw new java.io.IOException(s"404: $u")
      case u => throw new java.io.IOException(s"unexpected url $u")
    }
    val r = new RangeRefresh(spark, transport(good = true),
      localRegion = "asia-east1", today = () => probeDate)
    intercept[IllegalStateException](r.table) // never loaded -> no serving
    assert(r.refresh(), "fixture-backed refresh must succeed")
    assert(azureProbes == 3, "probed today, -1d, then hit -2d")
    val live = r.table.collect().toSet
    assert(live.nonEmpty)
    // drive ONE holder through a good cycle then a corrupt-feed cycle:
    // the old table survives the failed refresh (remote.go:104-115)
    var good = true
    val holder = new RangeRefresh(spark,
      u => transport(good)(u), "asia-east1", () => probeDate)
    assert(holder.refresh())
    val before = holder.table.collect().toSet
    good = false
    assert(!holder.refresh(), "corrupt feed cycle reports failure")
    assert(holder.refreshCounts == (1L, 1L))
    assert(holder.table.collect().toSet == before, "old table still live")
    // a feed set lacking the configured region also refuses the swap
    good = true
    val wrongRegion = new RangeRefresh(spark,
      u => transport(good)(u), "region-that-does-not-exist", () => probeDate)
    assert(!wrongRegion.refresh())
    intercept[IllegalStateException](wrongRegion.table)
  }

  test("J4: service-by-clusterIP lookup (dead API surface, kept queryable)") {
    val services = SyntheticFlows.services(spark, sf)
    val probe = Seq(174063616L, 174063617L, 999L).toDF("ip")
    val got = SyntheticFlows.serviceByClusterIp(services, probe)
      .orderBy("ip").collect()
    assert(got.length == 3)
    assert(got(1).getAs[String]("service_name") == "svc-0")
    assert(got(2).getAs[String]("service_name") == "svc-1")
    assert(got(0).isNullAt(got(0).fieldIndex("service_name")))
  }

  /** A raw-flow file source over `in`, one file per micro-batch. */
  private def flowFiles(in: String) =
    spark.readStream.schema(Encoders.product[RawFlow].schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")

  private def addFlows(in: String, name: String, rows: Seq[RawFlow]): Unit =
    rows.toDF().coalesce(1).write.parquet(s"$in/$name")

  /** Flows counted by each of the first `versions` outcome commits. */
  private def batchTotals(outcomes: String, versions: Int): Seq[Long] =
    (0 until versions).map(v => FlowSinkFixtures.batchRows(spark, outcomes, v)
      .agg(sum("n")).collect().head.getLong(0))

  test("W8: idempotent foreachBatch sink commits once per micro-batch; " +
    "A5 counts") {
    val listener = new StreamingFlows.RecordCountListener
    spark.streams.addListener(listener)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_w8").toString
      val (out, ckpt) = (s"$tmp/out", s"$tmp/ckpt")
      val dims = (SyntheticFlows.pods(spark, sf), SyntheticFlows.nodes(spark, sf),
        SyntheticFlows.prefixes(spark, sf))
      val flows = SyntheticFlows.flowsFromEvents(StreamingFlows
        .eventsStream(spark, sf).select(col("event_id"), col("user_id"), col("ts")))
      val q = StreamingFlows.start(flows, _ => dims, FlowConfig(), out,
        s"$tmp/outcomes", ckpt)
      try q.processAllAvailable() finally q.stop()
      // the landing dir arrives as one snapshot file per micro-batch,
      // and each batch is one marked append of its partial sums
      assert(TxTable.history(spark, out)
        .filter(col("operation") === "append").count() ==
        StreamingFlows.LandingFiles)
      // additive deltas: re-summed, the commits equal the batch pipeline
      val (p, n, px) = dims
      val batch = FlowPipeline.run(SyntheticFlows.flows(spark, sf), p, n, px)
      assert(FlowSinkFixtures.rows(FlowSinkFixtures.summed(spark, out), batch) ==
        FlowSinkFixtures.rows(batch, batch))
      // a replayed batch is swallowed by the writer's mark
      val wid = GraftStreamSink.writerIdFor(Map("checkpointLocation" -> ckpt))
      assert(TxTable.appendTxn(spark, batch, out, wid, 0L) == -1L)
      // A5: every input record accounted for
      assert(listener.rows.get() == Tables.events(spark, sf).count())
    } finally spark.streams.removeListener(listener)
  }

  test("W8: checkpoint recovery — restarted query resumes, no reprocessing") {
    import FlowSinkFixtures.flow
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (in, out, outcomes) = (s"$tmp/in", s"$tmp/out", s"$tmp/outcomes")
    def run() = StreamingFlows.start(flowFiles(in),
      _ => FlowSinkFixtures.dims(spark), FlowConfig(), out, outcomes,
      s"$tmp/ck")
    addFlows(in, "f1", Seq(flow(1), flow(2)))
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    addFlows(in, "f2", Seq(flow(3)))
    // a NEW query over the same checkpoint picks up where the first left off
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(TxTable.currentVersion(spark, out) == 1L, "one commit per batch")
    assert(batchTotals(outcomes, 2) == Seq(2L, 1L),
      "batch 1 saw only f2: f1 was not reprocessed")
    // the three flows share one key per direction: n_obs sums across
    // the two commits
    assert(FlowSinkFixtures.summed(spark, out).select("n_obs").as[Long]
      .collect().toSeq == Seq(3L, 3L))
  }

  test("W2: multi-file arrival — each drop becomes its own micro-batch") {
    import FlowSinkFixtures.flow
    val tmp = java.nio.file.Files.createTempDirectory("graft_arrival").toString
    val (in, out, outcomes) = (s"$tmp/in", s"$tmp/out", s"$tmp/outcomes")
    val drops = Seq(Seq(flow(1), flow(2)), Seq(flow(3).copy(proto = 17)),
      Seq(flow(4, remote = FlowSinkFixtures.PUB2)))
    // 5s-dump cadence analog: one conntrack snapshot file per trigger
    val q = StreamingFlows.start(flowFiles(in),
      _ => FlowSinkFixtures.dims(spark), FlowConfig(), out, outcomes,
      s"$tmp/ck")
    try drops.zipWithIndex.foreach { case (d, i) =>
      addFlows(in, s"f$i", d)
      q.processAllAvailable()
    } finally q.stop()
    assert(TxTable.currentVersion(spark, outcomes) == 2L,
      "3 files -> 3 micro-batches")
    assert(batchTotals(outcomes, 3) == Seq(2L, 1L, 1L),
      "each batch counted exactly its own file")
    val (p, n, px) = FlowSinkFixtures.dims(spark)
    val want = FlowPipeline.run(drops.flatten.toDF(), p, n, px)
    assert(FlowSinkFixtures.rows(FlowSinkFixtures.summed(spark, out), want) ==
      FlowSinkFixtures.rows(want, want),
      "incremental processing accumulates across arrivals")
  }

  test("J6: multi-watcher chain — first snapshot in priority order wins") {
    val w1 = Seq((1L, "pod-a-w1"), (2L, "pod-b-w1")).toDF("pod_ip", "pod_name")
    val w2 = Seq((2L, "pod-b-w2"), (3L, "pod-c-w2")).toDF("pod_ip", "pod_name")
    val merged = graft.dims.Dims.firstMatchByPriority(Seq(w1, w2), "pod_ip")
      .orderBy("pod_ip").collect()
    assert(merged.map(_.getString(1)).toSeq ==
      Seq("pod-a-w1", "pod-b-w1", "pod-c-w2"))
  }

  test("F5: rows flagged ipv6 are dropped when the column is present") {
    // NULL flag = "not v6": must be kept, not null-eliminated
    val flows = Seq((1L, Some(false)), (2L, Some(true)), (3L, None))
      .toDF("flow_id", "is_ipv6")
    val kept = graft.flow.FlowPipeline.dropIpv6(flows)
      .select("flow_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("registerAll exposes a usable events view (nanos ts converted)") {
    Tables.registerAll(spark, sf)
    val r = spark.sql(
      "SELECT date_trunc('minute', ts) AS m, COUNT(*) AS n FROM events GROUP BY 1")
    assert(r.schema("m").dataType.typeName == "timestamp")
    assert(r.count() > 0)
  }

  test("unaligned CIDR start is masked to the prefix boundary") {
    val tmp = java.nio.file.Files.createTempFile("graft_cidr", ".json")
    java.nio.file.Files.writeString(tmp,
      """{"prefixes":[{"ip_prefix":"1.2.3.5/24","region":"R1","service":"S"}]}""")
    val df = CloudRanges.fromAwsJson(spark, tmp.toString).collect()
    assert(df.length == 1)
    // 1.2.3.5/24 means the 1.2.3.0/24 block (netip masked semantics),
    // so trie and range-join agree
    assert(df.head.getAs[Long]("p_start") ==
      SyntheticFlowsSpecHelpers.ipToLong("1.2.3.0"))
    assert(df.head.getAs[Long]("p_end") ==
      SyntheticFlowsSpecHelpers.ipToLong("1.2.3.255"))
  }

  test("F5: structural v6 — a bytes endpoint (proto oneof) drops the flow") {
    val v6 = Array[Byte](0x20, 0x01, 0x0d, 0xb8.toByte) ++ Array.fill[Byte](12)(0)
    val flows = Seq(
      (1L, null.asInstanceOf[Array[Byte]], null.asInstanceOf[Array[Byte]]),
      (2L, v6, null.asInstanceOf[Array[Byte]]),
      (3L, null.asInstanceOf[Array[Byte]], v6))
      .toDF("flow_id", "orig_src_ip6", "reply_src_ip6")
    val kept = graft.flow.FlowPipeline.dropIpv6(flows)
      .select("flow_id").as[Long].collect().toSet
    assert(kept == Set(1L), "any v6 endpoint -> ErrIPv6Flow semantics")
  }

  test("S3: flows crossing a real TCP socket boundary parse into typed " +
    "rows and run the pipeline filters") {
    val POD = 167772165L; val PUB = 16777316L; val NODE = 2886729729L
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    val lines = Seq(
      // labelable TCP flow, a UDP flow, and line noise
      s"1,2023-11-14 22:13:20,node-1,6,$POD,$PUB,1,2,$PUB,$NODE,10,11,12,13,2,1",
      s"2,2023-11-14 22:13:21,node-1,17,$POD,$PUB,1,2,$PUB,$NODE,10,11,12,13,2,1",
      "this is not a flow record")
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        lines.foreach(out.println)
        out.flush()
        // hold the connection open until the test is done reading
        try Thread.sleep(60000)
        catch { case _: InterruptedException => () }
        sock.close()
      } catch { case _: java.io.IOException => () }
    })
    writer.setDaemon(true)
    writer.start()
    val q = StreamingFlows.socketFlowStream(spark,
        "localhost", server.getLocalPort)
      .writeStream.outputMode("append")
      .format("memory").queryName("socket_flows").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("socket_flows").count() < lines.length &&
          System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val batch = spark.table("socket_flows")
      assert(batch.count() == lines.length)
      // typed at the edge: the wire schema binds every RawFlow column
      assert(graft.streaming.StreamingFlows.flowWireSchema.fieldNames
        .forall(batch.columns.contains))
      assert(batch.filter(col("flow_id") === 1L)
        .select("orig_src_ip").as[Long].head() == POD)
      // the malformed line became a NULL-field row and dies in
      // filterJunk instead of killing the ingest query
      val kept = graft.flow.FlowPipeline.filterJunk(batch)
      assert(kept.count() == 2)
      val tcpOnly = graft.flow.FlowPipeline
        .dropUdp(graft.flow.FlowConfig())(kept)
      assert(tcpOnly.select("flow_id").as[Long].collect().toSet == Set(1L))
    } finally {
      q.stop()
      writer.interrupt()
      server.close()
    }
  }

  test("W10: uptime-gated readiness probe waits for rows, then fails fast") {
    @volatile var rows = Seq.empty[Long]
    val t = new Thread(() => { Thread.sleep(300); rows = Seq(1L) })
    t.start()
    StreamingFlows.awaitSourceReady(() => rows.toDF("v"), timeoutMs = 5000)
    t.join()
    intercept[IllegalArgumentException] {
      StreamingFlows.awaitSourceReady(
        () => Seq.empty[Long].toDF("v"), timeoutMs = 300, pollMs = 50)
    }
  }
}

object SyntheticFlowsSpecHelpers {
  def ipToLong(ip: String): Long =
    ip.split('.').foldLeft(0L)((acc, p) => (acc << 8) | p.toLong)
}
