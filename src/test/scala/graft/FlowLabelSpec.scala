package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.flow.{FlowConfig, FlowPipeline, RawFlow, SyntheticFlows}
import graft.streaming.{MetricsExporter, StreamingFlows}

/** [[FlowPipeline.label]] as the one labeler: where its checks sit in
  * `run`'s plan, what a micro-batch of [[StreamingFlows.start]] pays for
  * it, and the counters it feeds.
  */
class FlowLabelSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import FlowSinkFixtures.{NODE, POD, PUB, T0, flow}

  /** Wire lines, as `parseFlowLines` decodes them, of a TCP flow from
    * the fixture pod to PUB: `counters` and `proto` are the raw fields.
    */
  private def wire(id: Long, proto: String = "6",
      counters: String = "10,11,12,13"): String =
    s"$id,2023-11-14 22:13:20,node-1,$proto,$POD,$PUB,1,2,$PUB,$NODE,$counters,2,1"

  test("a wire line with empty counter or proto fields is ignored_zero or " +
      "ignored_proto, and the enqueued counter equals the flows summed") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_wire_label").toString
    val ms = MemoryStream[String]
    val q = StreamingFlows.start(StreamingFlows.parseFlowLines(ms.toDF()),
      _ => FlowSinkFixtures.dims(spark), FlowConfig(),
      s"$tmp/flows", s"$tmp/outcomes", s"$tmp/ckpt")
    try {
      ms.addData(wire(1), wire(2, counters = ",,,"), wire(3, proto = ""))
      q.processAllAvailable()
    } finally q.stop()
    val byOutcome = MetricsExporter.countersByOutcome(spark, s"$tmp/outcomes")
      .collect().map(r => r.getAs[String]("outcome") -> r.getAs[Long]("value"))
      .toMap
    assert(byOutcome == Map("labeled" -> 1L, "ignored_zero" -> 1L,
      "ignored_proto" -> 1L))
    val enqueued = MetricsExporter.counters(spark, s"$tmp/outcomes")
      .filter(col("family") === "processed_flows" && col("label") === "enqueued")
      .select("value").as[Long].collect().sum
    // each summed observation has one "out" row
    val summed = FlowSinkFixtures.summed(spark, s"$tmp/flows")
      .filter(col("direction") === "out").agg(sum("n_obs")).as[Long].head()
    assert(enqueued == summed)
  }

  test("run applies the zero, proto, localhost, UDP and IPv6 checks below " +
      "its first join") {
    val dir = Files.createTempDirectory("graft_label_plan").toString + "/flows"
    SyntheticFlows.flows(spark, sf).limit(200).write.parquet(dir)
    val (p, n, px) = FlowSinkFixtures.dims(spark)
    val plan = FlowPipeline.run(spark.read.parquet(dir), p, n, px)
      .queryExecution.optimizedPlan
    def readsFlows(l: LogicalPlan) = l.output.exists(_.name == "orig_bytes")
    // the lowest join over the flows: none of its inputs joins them yet
    val first = plan.collect {
      case j: Join if j.children.exists(readsFlows) &&
          !j.children.exists(_.exists(c => c.isInstanceOf[Join] &&
            c.children.exists(readsFlows))) => j
    }
    assert(first.size == 1, plan.treeString)
    val below = first.head.children.filter(readsFlows).flatMap(_.collect {
      case f: Filter => f.condition.sql
    }).mkString(" AND ")
    Seq("(orig_bytes > 0L)", "(proto IN (6, 17))", "2130706433L",
      "(NOT (proto = 17))", "(orig_src_ip6 IS NULL)", "(reply_dst_ip6 IS NULL)")
      .foreach(c => assert(below.contains(c), s"$c not below the join: $below"))
  }

  test("run drops node, ambiguous and undirected flows before the trie") {
    val (p, n, px) = FlowSinkFixtures.dims(spark)
    val plan = FlowPipeline.run(Seq(flow(1)).toDF(), p, n, px)
      .queryExecution.optimizedPlan
    val probed = plan.collect {
      case j: Join if j.right.output.exists(_.name == "__pidx") => j.left
    }
    assert(probed.size == 1, plan.treeString)
    val checked = probed.head.collect {
      case f: Filter => f.condition.references.map(_.name)
    }.flatten.toSet
    Seq("__n1", "__n2", "src_pod_n", "dst_pod_n", "src_pod_ip", "dst_pod_ip")
      .foreach(c => assert(checked(c), s"no check on $c below the trie: $plan"))
  }

  test("each micro-batch of start collects the prefix table once") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft_label_once").toString
    val (p, n, px0) = FlowSinkFixtures.dims(spark)
    // a parquet prefix table, so that collecting it is a Spark job
    px0.write.parquet(s"$tmp/prefixes")
    val px = spark.read.parquet(s"$tmp/prefixes")
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(pr =>
          Option(pr.getProperty("spark.job.description"))).foreach(descs.add)
    }
    val ms = MemoryStream[RawFlow]
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = StreamingFlows.start(ms.toDF(), _ => (p, n, px), FlowConfig(),
        s"$tmp/flows", s"$tmp/outcomes", s"$tmp/ckpt")
      try {
        ms.addData(flow(1), flow(2).copy(proto = 17))
        q.processAllAvailable()
        ms.addData(flow(3, T0 + 60000L))
        q.processAllAvailable()
      } finally q.stop()
      // a marker job, seen last on the listener bus, means every job
      // of the stream has been seen
      Graft.describing(spark, "flow-label-marker")(
        spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!descs.contains("flow-label-marker") && System.nanoTime() < deadline)
        Thread.sleep(5)
    } finally spark.sparkContext.removeSparkListener(listener)
    val batch = "batch = (\\d+)".r
    import scala.jdk.CollectionConverters._
    val collects = descs.asScala.toSeq.filter(_.endsWith("> LpmJoin prefix collect"))
      .map(d => batch.findFirstMatchIn(d).map(_.group(1).toInt))
    assert(collects.sorted == Seq(Some(0), Some(1)), descs.asScala.mkString("\n"))
  }

  test("a duplicated node row fans no flow out of run") {
    val (p, n, px) = FlowSinkFixtures.dims(spark)
    val flows = Seq(flow(1), flow(2, T0 + 60000L)).toDF()
    val once = FlowSinkFixtures.rows(FlowPipeline.run(flows, p, n, px),
      FlowPipeline.run(flows, p, n, px))
    val dup = FlowPipeline.run(flows, p, n.unionByName(n), px)
    assert(FlowSinkFixtures.rows(dup, dup) == once)
  }
}
