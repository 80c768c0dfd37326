package netbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.flow.{FlowPipeline, SyntheticFlows}
import graft.sink.TxTable

/** Live ingest: one generator thread publishes every agent's dump file on
  * a fixed open-loop schedule (one tick = one dump from each agent), by
  * moving a directory of files written during set-up into the landing
  * directory. The job reads them with Spark's file stream source (default
  * trigger) and composes each micro-batch from `FlowPipeline.run` and
  * `FlowPipeline.routeOutcomes`, committed with `TxTable.appendTxn` to
  * the flow table and a sibling outcome-counter table.
  *
  * Ticks `0 until warmTicks` are published during set-up, one at a time,
  * each waiting for its micro-batch, so the timed ticks do not pay the
  * job's first, cold micro-batch; their flows go to a warm-up table until
  * [[commitTo]] names the live table. Freshness of a timed dump runs from
  * its scheduled publish instant to the return of the flow-table commit
  * whose batch read its file.
  *
  * @param ticks     timed ticks, published after the warm-up ticks
  * @param tickMs    wall milliseconds between timed ticks
  */
final class Stream(r: Run, warmTicks: Int, ticks: Int, tickMs: Int) {
  import r.{spark, trace}
  private val dir = s"${r.work}/stream"
  private val staging = s"$dir/staging"
  private val landing = s"$dir/landing"
  private val checkpoint = s"$dir/checkpoint"
  private val outcomes = s"$dir/outcomes"
  private val appId = "netbench-stream"
  val warmTable = s"$dir/warm_table"
  @volatile private var table = warmTable

  /** Commit the flows of later micro-batches to `live`. */
  def commitTo(live: String): Unit = table = live

  /** wall ns each batch's flow commit returned, and its table version */
  private val committedAt = new ConcurrentHashMap[Long, java.lang.Long]()
  private val versions = new ConcurrentHashMap[Long, java.lang.Long]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private var scheduledNs: Array[Long] = _
  private var publishedNs: Array[Long] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  private def fileName(tick: Int, agent: Int) = f"dump-$tick%05d-$agent%02d.parquet"
  private def tickDir(tick: Int) = f"tick-$tick%05d"

  /** Start the streaming job on the empty landing directory. */
  def start(): Unit = {
    r.mkdirs(landing)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val flows = SyntheticFlows.flowsFromEvents(
      spark.readStream.schema(Traffic.eventSchema).parquet(s"$landing/*"))
    query = flows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, id: Long) => microBatch(batch, id))
      .start()
  }

  private def microBatch(batch: DataFrame, id: Long): Unit = trace("stream.batch", id) {
    val (pods, nodes, prefixes) = r.loadDims()
    batch.persist()
    try {
      val v = trace("sink.append_txn") {
        TxTable.appendTxn(spark,
          FlowPipeline.run(batch, pods, nodes, prefixes, r.cfg), table, appId, id)
      }
      committedAt.put(id, System.nanoTime())
      versions.put(id, v)
      trace("flow.outcomes") {
        TxTable.appendTxn(spark,
          FlowPipeline.routeOutcomes(pods, nodes, prefixes, r.cfg)(batch)
            .groupBy(to_date(col("ts")).as("date"), col("outcome"))
            .agg(count(lit(1)).as("n")),
          outcomes, appId, id)
      }
    } finally batch.unpersist()
  }

  private def publish(tick: Int): Unit = {
    // one rename per tick, so a listing sees all of its dumps or none
    Files.move(Paths.get(s"$staging/${tickDir(tick)}"),
      Paths.get(s"$landing/${tickDir(tick)}"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Wait until the first `published` ticks are committed. */
  private def awaitCommitted(published: Int, timeoutNs: Long): Boolean = {
    val until = System.nanoTime() + timeoutNs
    def done = batchOfFile().size >= published * Traffic.Agents &&
      batchOfFile().values.forall(b => committedAt.containsKey(b))
    while (!done && System.nanoTime() < until) {
      if (query.exception.isDefined) throw query.exception.get
      Thread.sleep(20)
    }
    done
  }

  /** Untimed: publish the warm-up ticks one at a time, each after the
    * previous one's micro-batch ended. */
  def warmUp(): Unit = (0 until warmTicks).foreach { t =>
    publish(t)
    query.processAllAvailable() // the whole batch, outcome commit included
  }

  /** Publish the timed ticks on schedule from `t0`, then wait for the
    * backlog to drain. */
  def run(t0: Long): Unit = {
    scheduledNs = new Array[Long](ticks)
    publishedNs = new Array[Long](ticks)
    (0 until ticks).foreach { i =>
      scheduledNs(i) = t0 + i.toLong * tickMs * 1000000L
      val wait = scheduledNs(i) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      publish(warmTicks + i)
      publishedNs(i) = System.nanoTime()
    }
    val drained = awaitCommitted(warmTicks + ticks, 60000000000L)
    stop()
    if (!drained) throw new IllegalStateException("published dumps not committed in time")
  }

  /** Stop the job without publishing the timed ticks. */
  def stop(): Unit = {
    query.stop()
    query.awaitTermination()
  }

  /** landing file name -> micro-batch id, from the file source's log. */
  private def batchOfFile(): Map[String, Long] = {
    val logDir = new File(s"$checkpoint/sources/0")
    val entries = Option(logDir.listFiles()).toSeq.flatten
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .flatMap(f => scala.util.Using.resource(scala.io.Source.fromFile(f))(
        _.getLines().drop(1).toList))
    val Path = """"path":"[^"]*/(dump-[0-9]+-[0-9]+\.parquet)"""".r.unanchored
    val Batch = """"batchId":([0-9]+)""".r.unanchored
    val pairs = entries.flatMap { l =>
      for (Path(p) <- Some(l); Batch(b) <- Some(l)) yield p -> b.toLong
    }.distinct
    val twice = pairs.groupBy(_._1).collect { case (p, bs) if bs.size > 1 => p }
    if (twice.nonEmpty) throw new IllegalStateException(
      s"dumps read by two micro-batches: ${twice.take(3).mkString(",")}")
    pairs.toMap
  }

  /** Per-dump freshness, exactly-once accounting and stream layer numbers. */
  def finish(): Unit = {
    org.apache.spark.NetbenchBus.drain(spark.sparkContext) // progress events
    val byFile = batchOfFile()
    val published = (0 until warmTicks + ticks).flatMap(t =>
      (1 to Traffic.Agents).map(a => fileName(t, a)))
    val missing = published.filterNot(byFile.contains)
    val skipped = versions.asScala.collect { case (b, v) if v < 0 => b }
    r.count(published.size, missing.size + skipped.size,
      s"stream: ${missing.size} dumps never committed, " +
        s"${skipped.size} batches skipped as duplicates")
    // each freshness sample with the batch that committed it, so the
    // percentile guard can count distinct commits as well as dumps
    for (i <- 0 until ticks; a <- 1 to Traffic.Agents) {
      byFile.get(fileName(warmTicks + i, a)).foreach { b =>
        Option(committedAt.get(b)).foreach { c =>
          r.sample("freshness_s", (c.longValue - scheduledNs(i)) / 1e9)
          r.sample("freshness_batch", b.toDouble)
        }
      }
    }
    r.sample("stream.generator_lag_s",
      (0 until ticks).map(i => (publishedNs(i) - scheduledNs(i)) / 1e9).max)
    val timedBatches = byFile.collect {
      case (f, b) if f >= fileName(warmTicks, 1) => b }.toSet
    timedBatches.toSeq.sorted.foreach { b =>
      r.sample("stream.dumps_per_batch", byFile.count(_._2 == b).toDouble)
    }
    progress.asScala.filter(p => timedBatches.contains(p.batchId)).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1000.0 }
      r.sample("streaming.trigger_s", d.getOrElse("triggerExecution", 0.0))
      r.sample("streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
      r.sample("streaming.planning_s", d.getOrElse("queryPlanning", 0.0))
      r.sample("streaming.offsets_s", d.getOrElse("latestOffset", 0.0) +
        d.getOrElse("getBatch", 0.0))
      r.sample("streaming.wal_s", d.getOrElse("walCommit", 0.0) +
        d.getOrElse("commitOffsets", 0.0))
    }
    // busy share of the timed window, and the largest number of
    // published but uncommitted dumps at any instant
    val windowS = (committedAt.asScala.filter(kv => timedBatches(kv._1)).values
      .map(_.longValue).max - scheduledNs(0)) / 1e9
    r.sample("stream.busy_ratio", r.samplesOf("streaming.trigger_s").sum / windowS)
    val events = (0 until ticks).flatMap { i =>
      (1 to Traffic.Agents).flatMap { a =>
        byFile.get(fileName(warmTicks + i, a)).map(b =>
          Seq((publishedNs(i), 1), (committedAt.get(b).longValue, -1))).getOrElse(Nil)
      }
    }.sortBy(e => (e._1, e._2))
    r.sample("stream.backlog_max", events.scanLeft(0)(_ + _._2).max.toDouble)
    val versionsLog = TxTable.currentVersion(spark, table)
    r.sample("sink.log_versions", versionsLog + 1.0)
    r.scalars("stream.dumps") = (ticks * Traffic.Agents).toDouble
    r.scalars("stream.batches") = timedBatches.size.toDouble
  }

  /** The timed dumps' files: what the live table holds besides the corpus. */
  def timedFiles: Seq[String] = for (t <- warmTicks until warmTicks + ticks;
    a <- 1 to Traffic.Agents) yield s"$landing/${tickDir(t)}/${fileName(t, a)}"
}
