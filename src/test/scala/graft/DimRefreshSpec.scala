package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.flow.{FlowConfig, RawFlow}
import graft.sink.{GraftStreamSink, TxTable}
import graft.streaming.StreamingFlows

/** W5/W6: a rolled dimension snapshot must be picked up by the next
  * micro-batch without restarting the streaming query.
  */
class DimRefreshSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  import FlowSinkFixtures.{NODE, flow}

  @volatile private var podApp = "app-v1"
  private def dims() = FlowSinkFixtures.dims(spark, podApp)
  private def batchRows(table: String, v: Long) =
    FlowSinkFixtures.batchRows(spark, table, v)

  test("foreachBatch re-resolves dims: batch 2 sees the rolled snapshot") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[RawFlow]
    val tmp = java.nio.file.Files.createTempDirectory("graft_dimref").toString
    val q = StreamingFlows.start(ms.toDF(), _ => dims(), FlowConfig(),
      s"$tmp/out", s"$tmp/outcomes", s"$tmp/ckpt")
    try {
      ms.addData(flow(1))
      q.processAllAvailable()
      podApp = "app-v2" // the informer cache rolls
      ms.addData(flow(2))
      q.processAllAvailable()
      val b0 = batchRows(s"$tmp/out", 0)
        .select("local_app").distinct().as[String].collect().toSet
      val b1 = batchRows(s"$tmp/out", 1)
        .select("local_app").distinct().as[String].collect().toSet
      assert(b0 == Set("app-v1"))
      assert(b1 == Set("app-v2"), "second batch must see the new snapshot")
    } finally q.stop()
  }

  test("qs_dim_refresh gate: batch 0 labels v1, batch 1 labels v2, and " +
      "the cut is the only thing separating them") {
    import org.apache.spark.sql.functions._
    val b = Tables.events(spark, sf).agg(
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).collect().head
    val cut = (b.getLong(0) + b.getLong(1) + 1L) / 2L
    val rows = SparkEntry.queries("qs_dim_refresh")(spark, sf).collect()
    val v2 = rows.count(_.getAs[String]("local_app").endsWith("-v2"))
    val v1 = rows.count { r =>
      val a = r.getAs[String]("local_app"); a.nonEmpty && !a.endsWith("-v2")
    }
    assert(v1 > 0 && v2 > 0, s"both snapshots must label rows ($v1/$v2)")
    // a minute window that CLOSED before the cut can only hold batch-0
    // flows → never suffixed; one that STARTS at/after the cut holds
    // only batch-1 flows → every non-empty app label is suffixed
    rows.foreach { r =>
      val winStartUs = r.getAs[Timestamp]("interval_start").getTime * 1000L
      val app = r.getAs[String]("local_app")
      if (winStartUs + 60L * 1000000L <= cut)
        assert(!app.endsWith("-v2"), s"pre-cut window labeled v2: $r")
      else if (winStartUs >= cut && app.nonEmpty)
        assert(app.endsWith("-v2"), s"post-cut window labeled v1: $r")
    }
  }

  test("metrics sink: per-micro-batch outcome counters surface as data") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[RawFlow]
    val tmp = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    val metrics = s"$tmp/metrics"
    val q = StreamingFlows.start(ms.toDF(), _ => dims(), FlowConfig(),
      s"$tmp/out", metrics, s"$tmp/ckpt")
    try {
      // batch 0: one labelable flow + one UDP flow
      ms.addData(flow(1), flow(2).copy(proto = 17))
      q.processAllAvailable()
      // batch 1: a node flow (orig src = node internal IP)
      ms.addData(flow(3).copy(orig_src_ip = NODE))
      q.processAllAvailable()
      val m0 = batchRows(metrics, 0)
        .withColumn("fam", StreamingFlows.outcomeFamily)
        .collect().map(r => r.getAs[String]("outcome") ->
          (r.getAs[Long]("n"), r.getAs[Row]("fam").getString(0),
            r.getAs[Row]("fam").getString(1))).toMap
      assert(m0("labeled") == ((1L, "processed_flows", "enqueued")))
      assert(m0("ignored_udp") == ((1L, "processed_flows", "ignored")))
      val m1 = batchRows(metrics, 1)
        .collect().map(r => r.getAs[String]("outcome") ->
          r.getAs[Long]("n")).toMap
      assert(m1 == Map("ignored_node_flow" -> 1L),
        "each batch reports exactly its own outcomes")
      // counters and data sink derive from one taxonomy: labeled rows
      // in metrics == fan-out-source rows in the summing table
      val sunk = batchRows(s"$tmp/out", 0)
        .agg(org.apache.spark.sql.functions.sum("n_obs")).collect().head.getLong(0)
      assert(sunk == 2 * m0("labeled")._1, "out+in fan-out of each labeled flow")
      // the exporter folds per-batch deltas into cumulative Prometheus
      // counters (server.go:100-117 counter families)
      val cum = graft.streaming.MetricsExporter.counters(spark, metrics)
        .collect().map(r => (r.getAs[String]("family"),
          r.getAs[String]("label")) -> r.getAs[Long]("value")).toMap
      assert(cum == Map(
        ("processed_flows", "enqueued") -> 1L,
        ("processed_flows", "ignored") -> 2L))
      val text = graft.streaming.MetricsExporter.render(
        graft.streaming.MetricsExporter.counters(spark, metrics))
      assert(text.split("\n").toSeq == Seq(
        """graft_processed_flows_total{label="enqueued"} 1""",
        """graft_processed_flows_total{label="ignored"} 2"""))
      // ...and the same payload over a REAL HTTP scrape (server.go's
      // /metrics surface): fresh counters per request, text format
      val srv = graft.streaming.MetricsExporter.serve(
        () => graft.streaming.MetricsExporter.counters(spark, metrics))
      try {
        val port = srv.getAddress.getPort
        val conn = new java.net.URL(s"http://127.0.0.1:$port/metrics")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(conn.getResponseCode == 200)
        assert(conn.getContentType.startsWith("text/plain"))
        val body = new String(conn.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(body == text + "\n", "the scrape serves exactly render()")
        // a second scrape after one more batch reflects the new state
        ms.addData(flow(4))
        q.processAllAvailable()
        val conn2 = new java.net.URL(s"http://127.0.0.1:$port/metrics")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val body2 = new String(conn2.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(body2.contains(
          """graft_processed_flows_total{label="enqueued"} 2"""),
          s"live scrape must fold the new batch in:\n$body2")
      } finally srv.stop(0)
    } finally q.stop()
  }

  test("metrics exporter: streamed cumulative counters reconcile exactly " +
    "with the batch outcome taxonomy (qf_outcomes parity)") {
    import org.apache.spark.sql.functions.col
    import graft.flow.{FlowPipeline, SyntheticFlows}
    val tmp = java.nio.file.Files.createTempDirectory("graft_mexp").toString
    val dir = sf
    val cfg = FlowConfig()
    val stream = SyntheticFlows.flowsFromEvents(
      StreamingFlows.eventsStream(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts")))
    def loadDims() = (SyntheticFlows.pods(spark, dir),
      SyntheticFlows.nodes(spark, dir), SyntheticFlows.prefixes(spark, dir))
    val q = StreamingFlows.start(stream, _ => loadDims(), cfg,
      s"$tmp/out", s"$tmp/metrics", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    val got = graft.streaming.MetricsExporter
      .countersByOutcome(spark, s"$tmp/metrics")
      .collect().map(r => r.getAs[String]("outcome") ->
        r.getAs[Long]("value")).toMap
    val (p, n, px) = loadDims()
    val want = FlowPipeline.routeOutcomes(p, n, px, cfg)(
      SyntheticFlows.flows(spark, dir))
      .groupBy("outcome").count()
      .collect().map(r => r.getAs[String]("outcome") ->
        r.getAs[Long]("count")).toMap
    assert(got == want,
      "cumulative streamed counters must equal the batch taxonomy")
  }

  test("a job that dies between the flow and the outcome commit replays " +
    "the batch: its flows land once and the counters stay exact") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.Encoders
    import graft.flow.FlowPipeline
    val tmp = Files.createTempDirectory("graft_crash2").toString
    val (in, flows, outcomes, ckpt) =
      (s"$tmp/in", s"$tmp/flows", s"$tmp/outcomes", s"$tmp/ckpt")
    def addFile(name: String, rs: Seq[RawFlow]): Unit =
      rs.toDF().coalesce(1).write.parquet(s"$in/$name")
    def run() = StreamingFlows.start(
      spark.readStream.schema(Encoders.product[RawFlow].schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*"),
      _ => dims(), FlowConfig(), flows, outcomes, ckpt)
    val f0 = Seq(flow(1), flow(2).copy(proto = 17))
    val f1 = Seq(flow(3), flow(4).copy(orig_src_ip = NODE))
    addFile("f0", f0)
    val q1 = run()
    try {
      q1.processAllAvailable()
      // batch 1's outcome commit cannot land: a plain file squats on the
      // outcome table's path, so the job dies right after the flow commit
      Files.move(Paths.get(outcomes), Paths.get(s"$tmp/aside"))
      Files.createFile(Paths.get(outcomes))
      addFile("f1", f1)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q1.processAllAvailable())
    } finally q1.stop()
    assert(TxTable.currentVersion(spark, flows) == 1L,
      "batch 1's flow commit landed before the crash")
    assert(TxTable.currentVersion(spark, s"$tmp/aside") == 0L)
    Files.delete(Paths.get(outcomes))
    Files.move(Paths.get(s"$tmp/aside"), Paths.get(outcomes))
    // restart over the same checkpoint: batch 1 replays
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(TxTable.currentVersion(spark, flows) == 1L,
      "the replayed flow commit must not land again")
    assert(TxTable.currentVersion(spark, outcomes) == 1L,
      "the replayed outcome commit lands")
    val wid = GraftStreamSink.writerIdFor(Map("checkpointLocation" -> ckpt))
    assert(TxTable.appendTxn(spark, TxTable.read(spark, flows), flows,
      wid, 1L) == -1L, "batch 1 is under the writer's mark")
    val all = (f0 ++ f1).toDF()
    val (p, n, px) = dims()
    val want = FlowPipeline.run(all, p, n, px)
    assert(FlowSinkFixtures.rows(FlowSinkFixtures.summed(spark, flows), want) ==
      FlowSinkFixtures.rows(want, want), "batch 1's flows counted once")
    val got = graft.streaming.MetricsExporter.countersByOutcome(spark, outcomes)
      .collect().map(r => r.getAs[String]("outcome") -> r.getAs[Long]("value"))
      .toMap
    val expected = FlowPipeline.routeOutcomes(p, n, px, FlowConfig())(all)
      .groupBy("outcome").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }
}
