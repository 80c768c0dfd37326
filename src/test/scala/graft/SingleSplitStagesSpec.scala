package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  Exchange, REPARTITION_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.flow.FlowPipeline
import graft.sink.{TxFileIndex, TxTable}
import graft.sql.Compat

/** Plan inspection and job counting shared by [[SingleSplitStagesSpec]]
  * and [[SingleSplitProperties]].
  */
object SingleSplitPlans extends AdaptiveSparkPlanHelper {
  /** Every exchange in `df`'s physical plan, looking inside AQE: the
    * plan after the query-stage preparation rules if `df` has not run,
    * the final plan if it has.
    */
  def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  /** Spark jobs started by `body` on this thread. Jobs carry the thread's
    * job group, so suites running at the same time are not counted; a
    * marker job in a second group, seen last on the listener bus, means
    * every job of the first group has been seen.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"single-split-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(g =>
          started.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(run: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try run finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!started.containsKey(marker) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(started.containsKey(marker), "listener bus never delivered the marker")
      Option(started.get(group)).fold(0)(_.intValue)
    } finally sc.removeSparkListener(listener)
  }

  /** `rows` written once as a tx table and once as plain parquet (where
    * the rule does not apply): (tx table path, plain parquet path).
    */
  def twoArms(spark: SparkSession, rows: DataFrame, tag: String): (String, String) = {
    val dir = Files.createTempDirectory(s"graft_single_split_$tag").toString
    TxTable.append(spark, rows, s"$dir/tx")
    TxTable.read(spark, s"$dir/tx").write.parquet(s"$dir/plain")
    (s"$dir/tx", s"$dir/plain")
  }
}

/** [[graft.plans.SingleSplitStages]]: a query over a tx table scan that
  * plans one split runs as one job with no exchange, and answers as the
  * same SQL over the same rows read as plain parquet, where the rule
  * does not apply; every other shape keeps its exchanges.
  */
class SingleSplitStagesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._
  import SingleSplitPlans._
  import FlowSinkFixtures._

  private val day = "2023-11-14"

  /** A one-file flow table: 24 flows over six minutes of one day, four
    * remotes, both directions.
    */
  private lazy val flowArms: (String, String) = {
    import spark.implicits._
    val flows = (0 until 24).map { i =>
      val remote = Seq(PUB, PUB2, 167772166L, 134744072L)(i % 4)
      val f = flow(i % 6, T0 + (i % 6) * 60000L, remote)
        .copy(orig_bytes = 100L + i)
      if (i % 3 == 0) f.copy(orig_src_ip = remote, orig_dst_ip = POD,
        reply_src_ip = POD, reply_dst_ip = remote)
      else f
    }
    val (p, n, px) = dims(spark)
    twoArms(spark, FlowPipeline.run(flows.toDF(), p, n, px), "flows")
  }

  /** The four dashboard shapes of the benchmark's client, in the
    * ClickHouse dialect over the reference's column names.
    */
  private val shapes: Seq[(String, String)] = Seq(
    "top_pods" ->
      """SELECT localPod, connectionClass, sum(bytes) AS totalBytes,
        |  formatReadableSize(sum(bytes)) AS readable
        |FROM network_flows_0 WHERE direction = 'out'
        |GROUP BY localPod, connectionClass
        |ORDER BY totalBytes DESC, localPod, connectionClass LIMIT 20""".stripMargin,
    "last_10m" ->
      """SELECT connectionClass, direction, count() AS n, sum(bytes) AS b,
        |  sum(packets) AS p
        |FROM network_flows_0
        |WHERE intervalStartTime >= toDateTime('2023-11-14 22:10:00')
        |  AND intervalStartTime < toDateTime('2023-11-14 22:20:00')
        |GROUP BY connectionClass, direction
        |ORDER BY connectionClass, direction""".stripMargin,
    "pod_flows" ->
      """SELECT remotePod, remoteIPv4, sum(bytes) AS b, sum(packets) AS p
        |FROM network_flows_0 WHERE localPod = 'pod-a'
        |GROUP BY remotePod, remoteIPv4
        |ORDER BY b DESC, remotePod, remoteIPv4 LIMIT 50""".stripMargin,
    "class_daily" ->
      s"""SELECT connectionClass, direction,
        |  toUnixTimestamp(toStartOfHour(intervalStartTime)) AS hour,
        |  sum(bytes) AS b, sum(packets) AS p
        |FROM network_flows_0 WHERE date = '$day'
        |GROUP BY connectionClass, direction, hour
        |ORDER BY connectionClass, direction, hour""".stripMargin)

  /** `sql` in `session` over `summed` as `network_flows_0`. */
  private def dashboard(session: SparkSession, summed: DataFrame,
      sql: String): DataFrame = {
    Compat.compatView(summed).createOrReplaceTempView("network_flows_0")
    Compat.chSql(session, sql)
  }

  test("the four dashboard shapes over a one-split tx table plan no " +
      "exchange, run as one job each and answer as plain parquet does") {
    val (tx, plain) = flowArms
    // a private session: the temp view name is per session
    val s = spark.newSession()
    assert(TxTable.liveFiles(s, tx).size == 1)
    shapes.foreach { case (name, sql) =>
      val want = dashboard(s, s.read.parquet(plain), sql)
      val wantRows = want.collect().toSeq
      assert(exchanges(want).nonEmpty, s"$name: the plain arm must shuffle")
      val got = dashboard(s, TxTable.read(s, tx), sql)
      assert(exchanges(got).isEmpty, s"$name:\n${got.queryExecution.executedPlan}")
      var gotRows = Seq.empty[Row]
      assert(jobsOf(s) { gotRows = got.collect().toSeq } == 1, name)
      assert(wantRows.nonEmpty, name)
      assert(gotRows == wantRows, name)
      // the scan's listing metrics survive the action's metric reset
      assert(scans(got).map(_.metrics("numFiles").value) == Seq(1L), name)
    }
  }

  test("a tx table read as two or more splits keeps its exchanges") {
    val (tx, plain) = flowArms
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    val (name, sql) = shapes.head
    val got = dashboard(s, TxTable.read(s, tx), sql)
    val splits = scans(got).map(_.inputRDD.partitions.length)
    assert(splits.nonEmpty && splits.forall(_ >= 2), splits)
    assert(exchanges(got).exists(e => e.isInstanceOf[ShuffleExchangeExec] &&
      e.asInstanceOf[ShuffleExchangeExec].shuffleOrigin == ENSURE_REQUIREMENTS),
      name)
    val gotRows = got.collect().toSeq
    assert(gotRows == dashboard(s, s.read.parquet(plain), sql).collect().toSeq)
  }

  test("a bucketed tx table grouped on a non-bucket key keeps its exchange") {
    import org.apache.spark.sql.types.{DateType, LongType, StringType,
      StructField, StructType}
    import spark.implicits._
    val t = Files.createTempDirectory("graft_single_split_bkt").toString + "/t"
    TxTable.createTable(spark, t, StructType(Seq(StructField("date", DateType),
      StructField("k", LongType), StructField("v", StringType))),
      Seq("graft.bucketBy" -> "k", "graft.buckets" -> "4"))
    TxTable.append(spark, (0 until 40).map(i =>
      (java.sql.Date.valueOf(day), i.toLong, s"v${i % 3}")).toDF("date", "k", "v"), t)
    val byV = TxFileIndex.readV2(spark, t).groupBy("v").count().orderBy("v")
    assert(exchanges(byV).nonEmpty, byV.queryExecution.executedPlan)
    assert(byV.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("v0", 14L), ("v1", 13L), ("v2", 13L)))
  }

  test("a one-file bucketed tx table filtered to a key of another bucket " +
      "keeps its exchange and counts 0") {
    import org.apache.spark.sql.types.{DateType, LongType, StructField,
      StructType}
    import spark.implicits._
    val t = Files.createTempDirectory("graft_single_split_prune").toString + "/t"
    TxTable.createTable(spark, t, StructType(Seq(StructField("date", DateType),
      StructField("k", LongType))),
      Seq("graft.bucketBy" -> "k", "graft.buckets" -> "4"))
    // the writer's bucket id: pmod(hash(k), buckets)
    val bucket = (0L until 40L).toDF("k").select($"k",
      expr("pmod(hash(k), 4)")).as[(Long, Int)].collect().toMap
    val kept = bucket.keys.filter(bucket(_) == bucket(0L)).toSeq.sorted
    val other = (kept.head to kept.last).find(bucket(_) != bucket(0L)).get
    TxTable.append(spark, kept.map(k => (java.sql.Date.valueOf(day), k))
      .toDF("date", "k"), t)
    assert(TxTable.liveFiles(spark, t).size == 1)
    val n = TxFileIndex.readV2(spark, t).where(col("k") === other)
      .agg(count(lit(1)))
    assert(scans(n).exists(_.optionalBucketSet.isDefined),
      n.queryExecution.executedPlan)
    assert(exchanges(n).nonEmpty, n.queryExecution.executedPlan)
    assert(n.collect().toSeq == Seq(Row(0L)))
  }

  test("a join of two one-file tx tables keeps its exchanges") {
    val (tx, plain) = flowArms
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def joined(l: DataFrame, r: DataFrame): DataFrame =
      l.select("local_pod", "remote_ip", "bytes").join(
        r.select(col("remote_ip"), col("packets")), "remote_ip")
        .groupBy("local_pod").agg(sum("bytes").as("b"), sum("packets").as("p"))
        .orderBy("local_pod")
    val got = joined(TxTable.read(s, tx), TxTable.read(s, tx))
    val splits = scans(got).map(_.inputRDD.partitions.length)
    assert(splits == Seq(1, 1), splits)
    val smj = collect(got.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j }
    assert(smj.size == 1 && smj.head.children.forall(
      _.exists(_.isInstanceOf[ShuffleExchangeExec])),
      got.queryExecution.executedPlan)
    val p = s.read.parquet(plain)
    assert(got.collect().toSeq == joined(p, p).collect().toSeq)
  }

  test("a partition filter with a subquery keeps the exchanges") {
    val (tx, plain) = flowArms
    val s = spark.newSession()
    s.read.parquet(plain).createOrReplaceTempView("plain_days")
    def latestDay(summed: DataFrame): DataFrame = {
      summed.createOrReplaceTempView("days_t")
      s.sql("""SELECT direction, sum(bytes) AS b FROM days_t
              |WHERE date = (SELECT max(date) FROM plain_days)
              |GROUP BY direction ORDER BY direction""".stripMargin)
    }
    val got = latestDay(TxTable.read(s, tx))
    assert(scans(got).exists(_.partitionFilters.exists(_.exists(
      _.isInstanceOf[PlanExpression[_]]))), got.queryExecution.executedPlan)
    assert(exchanges(got).nonEmpty, got.queryExecution.executedPlan)
    val gotRows = got.collect().toSeq
    assert(gotRows.nonEmpty &&
      gotRows == latestDay(s.read.parquet(plain)).collect().toSeq)
  }

  test("repartition(n) and TxTable.prep over a one-file read keep their " +
      "shuffles and write as many files as over plain parquet") {
    val (tx, plain) = flowArms
    val out = Files.createTempDirectory("graft_single_split_out").toString
    def files(dir: String): Int =
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir),
        Array("parquet"), true).size
    val byNum = TxTable.read(spark, tx).repartition(3)
    assert(exchanges(byNum).collect { case e: ShuffleExchangeExec =>
      e.shuffleOrigin } == Seq(REPARTITION_BY_NUM))
    byNum.write.parquet(s"$out/num")
    assert(files(s"$out/num") == 3)
    val prepped = TxTable.prep(TxTable.read(spark, tx))
    assert(exchanges(prepped).collect { case e: ShuffleExchangeExec =>
      e.shuffleOrigin } == Seq(REPARTITION_BY_COL))
    prepped.write.partitionBy("date").parquet(s"$out/tx")
    TxTable.prep(spark.read.parquet(plain)).write.partitionBy("date")
      .parquet(s"$out/plain")
    assert(files(s"$out/tx") == files(s"$out/plain"))
  }
}
