package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.flow.FlowPipeline
import graft.sink.TxTable

/** The Spark jobs of the kubenetmon commit path: a `FlowPipeline.run`
  * frame appended to a plain (non-bucketed, no token or ngram column)
  * tx table, then compacted. The write tasks fold each file's stats and
  * filters, so no job reads the staged files back; a date that holds
  * one summed commit is already merged, so compact runs nothing there.
  */
class CommitPathSpec extends AnyFunSuite {
  import TestSpark._
  import FlowSinkFixtures._
  import spark.implicits._

  /** Each Spark job `body` starts on this thread, named by its result
    * stage (the call site, which for an adaptive query stage is Spark's
    * own thread) and the RDDs that stage runs. Jobs carry the thread's
    * job group, so suites running at the same time are not counted; a
    * marker job in a second group, seen last on the listener bus, means
    * every job of the first group has been seen.
    */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"commit-path-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          val last = e.stageInfos.maxBy(_.stageId)
          started.add((g, s"${last.name} [" +
            last.rddInfos.sortBy(_.id).map(_.name).distinct.mkString(" ") + "]"))
        }
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[B](g: String)(run: => B): B = {
        sc.setJobGroup(g, g)
        try run finally sc.clearJobGroup()
      }
      val out = inGroup(group)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      def seen = started.toArray.toSeq.map(_.asInstanceOf[(String, String)])
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(seen.exists(_._1 == marker), "listener bus never delivered the marker")
      (out, seen.collect { case (g, name) if g == group => name })
    } finally sc.removeSparkListener(listener)
  }

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"graft_commit_$tag").toString + "/flows"

  /** Summed flows over two minutes of one date. */
  private def summedFlows(shift: Long = 0L): DataFrame = {
    val (pods, nodes, prefixes) = dims(spark)
    val raw = Seq(flow(1, T0 + shift), flow(2, T0 + shift, PUB2),
      flow(3, T0 + 60000L + shift), flow(1, T0 + 60000L + shift)).toDF()
    FlowPipeline.run(raw, pods, nodes, prefixes)
  }

  private def stagedDirsByDate(table: String): Map[String, Set[String]] =
    TxTable.liveStats(spark, table).toSeq
      .groupBy(_._2.date)
      .map { case (d, fs) => d -> fs.map(_._1.takeWhile(_ != '/')).toSet }

  test("a FlowPipeline.run append runs no job that reads its files back") {
    val table = tmpTable("append")
    // a first append plans the table; the one measured is the steady state
    TxTable.append(spark, summedFlows(), table)
    val (v, jobs) = jobsOf(spark)(TxTable.append(spark, summedFlows(), table))
    assert(v == 1L)
    // the read-back took three jobs here: a schema read of one staged
    // file and the two-job Bloom aggregate over every staged file (13
    // jobs in all, where this fold-on-write commit runs 10)
    assert(jobs.size <= 10, jobs.mkString("\n"))
    assert(jobs.count(_.contains("TxTable")) == 1, jobs.mkString("\n"))
    val metas = TxTable.liveStatsResolved(spark, table)
    assert(metas.values.forall(m => Seq(TxTable.RowsKey, "interval_start",
      "local_pod", "remote_ip", TxTable.SummedKey).forall(m.stats.contains)))
  }

  test("compact runs no job and adds no version on a date fed by one " +
      "summed commit") {
    val table = tmpTable("one")
    TxTable.append(spark, summedFlows(), table)
    val before = TxTable.read(spark, table).collect().toSet
    val (v, jobs) = jobsOf(spark)(TxTable.compact(spark, table))
    assert(v == -1L)
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(TxTable.currentVersion(spark, table) == 0L)
    assert(TxTable.read(spark, table).collect().toSet == before)
  }

  test("compact still re-sums a date fed by two commits, in one commit") {
    val table = tmpTable("two")
    TxTable.append(spark, summedFlows(), table)
    TxTable.append(spark, summedFlows(), table)
    val expected = rows(TxTable.resum(TxTable.read(spark, table)), summedFlows())
    assert(stagedDirsByDate(table).values.forall(_.size == 2))
    val v = TxTable.compact(spark, table)
    assert(v == 2L)
    assert(TxTable.currentVersion(spark, table) == 2L)
    assert(rows(TxTable.read(spark, table), summedFlows()) == expected)
    // the merge is itself one summed commit: a second compact skips it
    assert(stagedDirsByDate(table).values.forall(_.size == 1))
    assert(TxTable.compact(spark, table) == -1L)
  }
}
