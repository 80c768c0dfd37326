package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.flow.{FlowConfig, FlowPipeline, SyntheticFlows}
import graft.sink.{GraftStreamSink, TxTable}

/** Structured Streaming surface (SURVEY.md §2.1 S1-S3, §2.6 W1-W4):
  * the reference's 5s-conntrack-dump → gRPC stream → batch-insert chain
  * becomes one streaming DataFrame plan: file/rate source → the exact
  * same filter/join/classify/fan-out transformations (they are plain
  * Catalyst projections, shared verbatim with the batch path) → windowed
  * summing aggregation → sink.
  *
  * Production shape: [[start]] — `readStream` into a `foreachBatch`
  * that commits each micro-batch's partial sums and outcome counts to
  * two TxTables, keyed by the batch id (checkpoint + batchId = the
  * reference's insert_deduplication_token, worker.go:248). The
  * watermarked and minute-grain gates run their plans synchronously
  * into a memory sink so results are byte-comparable with the batch
  * oracle.
  */
object StreamingFlows {
  private val nameCounter = new AtomicInteger(0)

  /** Snapshot files per staged landing directory (the agents' 5s
    * conntrack dumps arriving as separate files). Two is the smallest
    * count that makes the gated queries genuinely multi-batch (per-batch
    * dim re-broadcast, watermark advancement between batches,
    * incremental append emission) — each extra batch re-pays the
    * stateful-streaming fixed cost, which the bench counts but a
    * long-running production stream amortizes. */
  val LandingFiles = 2

  /** Stage a REAL landing directory: the events are split into
    * [[LandingFiles]] time-range snapshot files with STRICTLY INCREASING
    * mtimes in ts-range order, so with `maxFilesPerTrigger(1)` each
    * snapshot is its own micro-batch, processed oldest-first — like the
    * per-dump gRPC batches the reference ingests. (The file source
    * orders candidates by modification time; equal mtimes tie-break by
    * listing order, which is NOT name order — WatermarkSpec's 4-file
    * run caught snapshots arriving out of order and early data being
    * late-dropped. Spaced mtimes make arrival order structural.)
    * Time-ranged splitting mirrors reality (a dump only contains newer
    * deltas than the previous one) and is what makes the watermarked
    * APPEND queries batch-count-invariant: every batch's rows are newer
    * than the prior batch's watermark, so nothing is late-dropped and
    * the final closed-window set equals the oracle's.
    */
  private def eventsDir(spark: SparkSession, dir: String,
      files: Int): String =
    synchronized {
      val src = java.nio.file.Paths.get(dir, "events.parquet")
      // cache key includes the source's (size, mtime) fingerprint:
      // regenerated testdata gets a fresh landing dir instead of stale
      // snapshots, and the fingerprinted name makes the final rename
      // below an idempotent publish
      val fp = s"${java.nio.file.Files.size(src)}_" +
        s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}"
      val prefix = s"graft_landing2_${math.abs(dir.hashCode)}_$files"
      val d = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"${prefix}_$fp")
      if (java.nio.file.Files.exists(d.resolve("_READY"))) return d.toString
      // regenerated testdata changed the fingerprint: sweep this source's
      // previous generations so /tmp holds at most one landing dir per
      // (dir, LandingFiles)
      val tmpRoot = d.getParent.toFile
      Option(tmpRoot.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(prefix + "_") && f.getName != d.getFileName.toString)
        .foreach(f => try org.apache.commons.io.FileUtils.deleteDirectory(f)
          catch { case _: java.io.IOException => () })
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // build in a JVM-unique staging dir, publish via atomic rename:
      // concurrent builders (e.g. driver + test JVM) each stage
      // privately and the loser of the rename just discards its copy
      val staging = java.nio.file.Files.createTempDirectory(
        d.getParent, d.getFileName.toString + "_staging_")
      try {
        val stagingOut = staging.resolve("out")
        // normalize ts to the canonical micro-precision TimestampType ONCE,
        // at staging time — the physical type of the driver's events.ts has
        // changed between rounds (nanos-long → micros-ntz) and the landing
        // dir is where that variability is absorbed, not per query
        graft.Tables.normalizeEventTs(spark.read.parquet(src.toString))
          .repartitionByRange(files, col("ts"))
          .write.mode("overwrite").parquet(stagingOut.toString)
        val parts = java.nio.file.Files.list(stagingOut).iterator()
        val sorted = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        while (parts.hasNext) {
          val p = parts.next()
          if (p.getFileName.toString.startsWith("part-")) sorted += p
        }
        val pub = staging.resolve("pub")
        java.nio.file.Files.createDirectories(pub)
        // part-0000N name order == ts range order for repartitionByRange;
        // spaced mtimes (not names) define the source's processing order
        sorted.sortBy(_.getFileName.toString).zipWithIndex.foreach {
          case (p, i) =>
            val dst = pub.resolve(f"snapshot_$i%03d.parquet")
            java.nio.file.Files.move(p, dst)
            dst.toFile.setLastModified(1700000000000L + i * 60000L)
        }
        java.nio.file.Files.createFile(pub.resolve("_READY"))
        try java.nio.file.Files.move(pub, d,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // rename onto an existing non-empty dir surfaces differently
          // per platform (ENOTEMPTY -> DirectoryNotEmptyException or a
          // bare FileSystemException, EEXIST -> FileAlreadyExists...):
          // treat ANY move failure as "another JVM won" iff the winner's
          // _READY proves it, otherwise propagate
          case e: java.io.IOException =>
            if (!java.nio.file.Files.exists(d.resolve("_READY"))) throw e
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      d.toString
    }

  /** The canonical landing-file schema (post-normalization: micros
    * TimestampType whatever the corpus encoding was).
    */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** events landing dir as a streaming source; one snapshot file per
    * micro-batch. The landing dir is staged with `ts` already normalized
    * to the canonical micro-precision TimestampType (see [[eventsDir]] /
    * `Tables.normalizeEventTs`), so the stream schema is fixed here no
    * matter which physical type the driver's corpus used. `files`
    * controls how many snapshot dumps the landing dir is split into
    * (= micro-batch count); WatermarkSpec proves the gated append
    * queries are invariant to it.
    */
  def eventsStream(spark: SparkSession, dir: String,
      files: Int = LandingFiles): DataFrame = {
    val path = eventsDir(spark, dir, files)
    spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(path)
  }

  /** W10 STARTUP PROBE as a gate runner (ref collector.go:185-223: a
    * freshly-booted conntrack serves zero counters for a while, and the
    * collector refuses to stream until the source proves itself). The
    * landing dir starts EMPTY: the probe must fail fast on timeout (not
    * hang, not pass); a background "agent" then delivers the first
    * snapshot mid-poll and the probe unblocks; only then does the
    * streaming query start — over the full corpus, so the result equals
    * the batch minute-agg oracle. Both probe arms (timeout and
    * eventual-ready) are exercised on every run.
    */
  def sourceProbeRun(spark: SparkSession, dir: String): DataFrame = {
    val readyDir = eventsDir(spark, dir, files = 1) // full corpus, 1 file
    // each run its own landing dir; the memory sink holds the result,
    // so the dir goes before returning
    val run = java.nio.file.Files.createTempDirectory("graft_probe_").toFile
    try {
      val landing = new java.io.File(run, "landing")
      require(landing.mkdirs(), s"cannot stage $landing")
      def probe() = spark.read.schema(eventsSchema)
        .parquet(landing.toString)
      // arm 1: an empty source must TIME OUT, loudly and promptly
      val timedOut =
        try { awaitSourceReady(probe, timeoutMs = 400, pollMs = 50); false }
        catch { case _: IllegalArgumentException => true }
      require(timedOut, "probe over an empty landing dir must time out")
      // arm 2: the agent boots and the first snapshot lands mid-poll
      val src = new java.io.File(readyDir, "snapshot_000.parquet")
      require(src.isFile, s"missing staged snapshot $src")
      val agent = new Thread(() => {
        Thread.sleep(250)
        java.nio.file.Files.copy(src.toPath,
          new java.io.File(landing, src.getName).toPath)
        ()
      })
      agent.setDaemon(true)
      agent.start()
      awaitSourceReady(probe, timeoutMs = 30000, pollMs = 50)
      agent.join()
      // only a ready source starts the stream
      val st = spark.readStream.schema(eventsSchema)
        .option("maxFilesPerTrigger", "1").parquet(landing.toString)
      val agg = st
        .groupBy(date_trunc("minute", col("ts")).as("minute_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      runToMemory(spark, agg)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(run)
  }

  /** A landing dir split at an EXPLICIT event-time cut (unlike
    * [[eventsDir]]'s sampled range split): snapshot 0 = ts < cutUs,
    * snapshot 1 = ts >= cutUs, spaced mtimes. The explicit boundary is
    * what lets the qs_dim_refresh ORACLE know which dim snapshot each
    * flow saw — a sampled boundary is reproducible in Spark but not
    * expressible in SQL. Same fingerprint-cache + atomic-publish
    * contract as [[eventsDir]].
    */
  private def eventsDirSplitAt(spark: SparkSession, dir: String,
      cutUs: Long): String = synchronized {
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    val fp = s"${java.nio.file.Files.size(src)}_" +
      s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}_$cutUs"
    val prefix = s"graft_landingcut_${math.abs(dir.hashCode)}"
    val d = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"${prefix}_$fp")
    if (java.nio.file.Files.exists(d.resolve("_READY"))) return d.toString
    Option(d.getParent.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix + "_") &&
        f.getName != d.getFileName.toString)
      .foreach(f => try org.apache.commons.io.FileUtils.deleteDirectory(f)
        catch { case _: java.io.IOException => () })
    val staging = java.nio.file.Files.createTempDirectory(
      d.getParent, d.getFileName.toString + "_staging_")
    try {
      val pub = staging.resolve("pub")
      java.nio.file.Files.createDirectories(pub)
      val ev = graft.Tables.events(spark, dir) // canonical micros ts
      Seq(col("ts") < timestamp_micros(lit(cutUs)),
        col("ts") >= timestamp_micros(lit(cutUs))).zipWithIndex
        .foreach { case (pred, i) =>
          val part = staging.resolve(s"f$i")
          ev.filter(pred).coalesce(1)
            .write.mode("overwrite").parquet(part.toString)
          val file = Option(part.toFile.listFiles()).getOrElse(Array.empty)
            .find(_.getName.startsWith("part-"))
            .getOrElse(sys.error(s"no part file under $part"))
          val dst = pub.resolve(f"snapshot_$i%03d.parquet")
          java.nio.file.Files.move(file.toPath, dst)
          dst.toFile.setLastModified(1700000000000L + i * 60000L)
        }
      java.nio.file.Files.createFile(pub.resolve("_READY"))
      try java.nio.file.Files.move(pub, d,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.io.IOException =>
          if (!java.nio.file.Files.exists(d.resolve("_READY"))) throw e
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
    d.toString
  }

  /** W5/W6 as a DRIVER GATE runner: the flow pipeline streamed over a
    * 2-snapshot landing dir cut at `cutUs`, with the pods dim
    * RE-RESOLVED per micro-batch (the reference's 24h range refresh /
    * 10-min informer resync, remote.go:98-126 + watcher.go:55) — batch
    * 0 labels against the v1 snapshot, every later batch against the
    * rolled snapshot (`pod_app` suffixed "-v2"). Versioning is keyed on
    * batchId, not a call counter, so batch RETRIES re-resolve the same
    * snapshot (deterministic under recovery). The flow table holds one
    * partial-sum commit per batch, re-summed on read so a minute window
    * spanning the cut merges exactly like the oracle's GROUP BY.
    */
  def dimRefreshRun(spark: SparkSession, dir: String,
      cutUs: Long): DataFrame = {
    val src = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(eventsDirSplitAt(spark, dir, cutUs))
    val podsV1 = SyntheticFlows.pods(spark, dir)
    val nodes = SyntheticFlows.nodes(spark, dir)
    val prefixes = SyntheticFlows.prefixes(spark, dir)
    runToTable(spark, "graft_dimrefresh_", src,
      batchId => (
        if (batchId == 0) podsV1
        else podsV1.withColumn("pod_app", concat(col("pod_app"), lit("-v2"))),
        nodes, prefixes))
  }

  /** [[start]] run to completion over an events stream; returns the
    * flow table re-summed. Each run gets its own scratch dir (two runs
    * of one gate may overlap), and the result is materialized so the
    * dir can go before returning: repeated bench/verify runs leave no
    * tables or checkpoints behind.
    */
  private def runToTable(spark: SparkSession, name: String,
      events: DataFrame,
      loadDims: Long => (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val run = java.nio.file.Files.createTempDirectory(name).toFile
    try {
      val flows = SyntheticFlows.flowsFromEvents(
        events.select(col("event_id"), col("user_id"), col("ts")))
      val q = start(flows, loadDims, FlowConfig(), s"$run/flows",
        s"$run/outcomes", s"$run/ckpt")
      try q.processAllAvailable() finally q.stop()
      val summed = TxTable.resum(TxTable.read(spark, s"$run/flows"))
        .localCheckpoint()
      graft.ops.CacheRegistry.checkpointRdd(summed)
        .foreach(graft.ops.CacheRegistry.trackRdd)
      summed
    } finally org.apache.commons.io.FileUtils.deleteDirectory(run)
  }

  /** The CSV shape of one flow record on the wire for
    * [[socketFlowStream]]: the scalar RawFlow fields in declaration
    * order (flow_handler.proto:24-68 flattened, like the parquet
    * corpus; connection_flags ride separately in production transport
    * and default empty here).
    */
  val flowWireSchema: StructType = StructType(Seq(
    StructField("flow_id", LongType), StructField("ts", TimestampType),
    StructField("node_name", StringType), StructField("proto", IntegerType),
    StructField("orig_src_ip", LongType), StructField("orig_dst_ip", LongType),
    StructField("orig_src_port", IntegerType),
    StructField("orig_dst_port", IntegerType),
    StructField("reply_src_ip", LongType), StructField("reply_dst_ip", LongType),
    StructField("orig_pkts", LongType), StructField("orig_bytes", LongType),
    StructField("reply_pkts", LongType), StructField("reply_bytes", LongType),
    StructField("reply_src_port", IntegerType),
    StructField("reply_dst_port", IntegerType)))

  /** S1/S3 fidelity: the reference's agent→server NETWORK hop
    * (client-streaming gRPC, flow_handler.proto:8-13,
    * cmd/server/server.go:61-119) as a Spark ingest boundary —
    * newline-delimited flow records over TCP, parsed and validated at
    * the edge. The gRPC framing is a transport detail; the
    * engine-visible contract this preserves is: records arrive over a
    * socket one message at a time, are typed on entry, and flow into
    * the same pipeline plan as every other source. (The socket source
    * is not replayable, so a production deployment fronts it with a
    * durable log — file landing dir or Kafka — exactly like the
    * reference's inserter buffers before ClickHouse; the pipeline plan
    * is identical either way.)
    */
  def socketFlowStream(spark: SparkSession, host: String,
      port: Int): DataFrame =
    parseFlowLines(spark.readStream.format("socket")
      .option("host", host).option("port", port).load())

  /** Wire decode for [[socketFlowStream]], exposed for tests: CSV line →
    * typed RawFlow columns. PERMISSIVE parsing: a malformed line yields
    * NULL fields and dies in filterJunk's null-safe predicates instead
    * of killing the long-running ingest query (the reference likewise
    * drops bad observations, it does not crash the server).
    */
  def parseFlowLines(lines: DataFrame): DataFrame =
    lines.select(from_csv(col("value"), flowWireSchema,
        Map("timestampFormat" -> "yyyy-MM-dd HH:mm:ss")).as("r"))
      .select(col("r.*"))
      .withColumn("connection_flags",
        typedLit(Map.empty[String, Boolean]))

  /** State-store partition count for the synchronous harness runs. The
    * suite's stateful queries hold thousands of keys, not millions; at
    * 32 shuffle partitions every micro-batch pays 32 state-store
    * snapshot/commit round-trips for ~100 keys each — pure fixed cost.
    * 8 keeps the commit fan-out proportional to the actual state size
    * while still exercising multi-partition state. Production sizing
    * (100 TB, millions of keys) would keep the session default instead.
    */
  private val HarnessStateParts = "8"

  /** Runs a streaming plan to completion on available input with
    * harness-appropriate state sizing: shuffle/state partitions dialed
    * to [[HarnessStateParts]] for the lifetime of the query (the count
    * is pinned into the query's offset metadata at first batch, so
    * restoring the session conf afterwards cannot affect it).
    */
  private def runStream(spark: SparkSession, agg: DataFrame,
      mode: String): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partsKey)
    spark.conf.set(partsKey, HarnessStateParts)
    try {
      val q = agg.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set(partsKey, prevParts)
    spark.table(name)
  }

  /** Run a streaming aggregation to completion on the currently available
    * input and return the materialized result (memory sink, complete
    * mode — the synchronous harness shape; production uses foreachBatch).
    */
  def runToMemory(spark: SparkSession, agg: DataFrame): DataFrame =
    runStream(spark, agg, "complete")

  /** Append-mode twin of [[runToMemory]] for watermarked aggregations:
    * only windows the final watermark has closed are emitted (the
    * trailing no-data micro-batch advances the watermark to
    * max-event-time − lateness and flushes them).
    */
  def runToMemoryAppend(spark: SparkSession, agg: DataFrame): DataFrame =
    runStream(spark, agg, "append")

  /** Streaming minute-grain event aggregation (W1/A2 over the raw
    * events stream) — semantically identical to the batch q5_minute_agg.
    */
  def minuteAgg(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(date_trunc("minute", col("ts")).as("minute_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
    runToMemory(spark, agg)
  }

  /** W3: the production aggregation shape — watermarked tumbling window
    * in append mode. The reference accepts arbitrarily-late rows into the
    * right partition (ClickHouse, lateness bound = 90-day TTL); a
    * streaming engine must bound state, so rows later than `lateness`
    * are dropped here and belong to the batch backfill path instead
    * (`TxTable.append` + `compact`).
    */
  def watermarkedMinuteAgg(events: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "60 seconds").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** W10: uptime-gated source readiness (collector.go:185-223): a
    * freshly-booted conntrack reports zero counters for a while, and
    * serving from it would emit garbage deltas — poll until the probe
    * yields a row, fail fast after `timeoutMs` rather than mid-stream.
    */
  def awaitSourceReady(probe: () => DataFrame, timeoutMs: Long = 30000,
      pollMs: Long = 100): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ready = !probe().isEmpty
    while (!ready && System.currentTimeMillis() < deadline) {
      Thread.sleep(pollMs)
      ready = !probe().isEmpty
    }
    require(ready, s"source not ready after ${timeoutMs}ms (still empty)")
  }

  /** A5: accepted-record accounting, the ObservationSummary analog
    * (server.go:62-76) — numInputRows per progress event.
    */
  final class RecordCountListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
      rows.addAndGet(e.progress.numInputRows)
    override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Which reference Prometheus counter each outcome feeds
    * (server.go:100-117 processedFlowsCounter/errorCounter arms;
    * remote.go:151-155 intra_cloud_empty_region; the zero/proto/
    * localhost rows never reach the server — they are the agent's own
    * filters, collector.go:227-247 — so they get a collector family).
    */
  val outcomeFamily: org.apache.spark.sql.Column = {
    val o = col("outcome")
    when(o === "labeled", struct(lit("processed_flows").as("family"),
      lit("enqueued").as("label")))
      .when(o.isin("ignored_udp", "ignored_ipv6", "ignored_node_flow"),
        struct(lit("processed_flows").as("family"), lit("ignored").as("label")))
      .when(o.isin("unknown_direction", "error_ambiguous_pod_ip"),
        struct(lit("errors").as("family"), lit("labeling_failed").as("label")))
      .when(o === "error_intra_cloud_empty_region",
        struct(lit("errors").as("family"),
          lit("intra_cloud_empty_region").as("label")))
      .otherwise(struct(lit("collector_filtered").as("family"), o.as("label")))
  }

  /** The streaming flow job (W8, W5/W6, A5). Each micro-batch of raw
    * flows is labeled ONCE by [[FlowPipeline.label]] (one dims join, one
    * trie), persisted, and both commits derive from that frame, keyed by
    * the batch id:
    *  - `appendTxn` of the partial sums of its `labeled` rows to `table`
    *    (what [[FlowPipeline.run]] gives for the batch);
    *  - `appendTxn` of per-(date, outcome) counts to `outcomesTable`
    *    (what [[FlowPipeline.routeOutcomes]] gives), so metrics and data
    *    cannot disagree ([[MetricsExporter]] folds them into Prometheus
    *    counters).
    *
    * The dims are re-resolved per micro-batch by `loadDims(batchId)` —
    * broadcast is per-plan, so each batch builds and broadcasts the
    * current snapshot, the reference's informer resync / range refresh
    * (watcher.go:55, remote.go:98-126) without a restart. Keying on the
    * batch id keeps a retried batch on the snapshot it first saw.
    *
    * Exactly-once: the writer id derives from the checkpoint, and each
    * table's (writer, batch id) high-water mark turns a replayed commit
    * into a no-op. A job that dies between the two commits replays the
    * batch on restart; the flow commit is skipped, the outcome commit
    * lands. Both tables hold additive deltas: read them re-summed
    * ([[TxTable.resum]]) or after `TxTable.compact`.
    */
  def start(
      rawFlows: DataFrame,
      loadDims: Long => (DataFrame, DataFrame, DataFrame),
      cfg: FlowConfig,
      table: String,
      outcomesTable: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val writerId = GraftStreamSink.writerIdFor(
      Map("checkpointLocation" -> checkpoint))
    rawFlows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val (pods, nodes, prefixes) = loadDims(batchId)
        // two commits read the labeled batch: persist so the second is
        // a cache scan, not a second source read and label pass
        val labeled = FlowPipeline.label(pods, nodes, prefixes, cfg)(batch).persist()
        try {
          TxTable.appendTxn(spark,
            FlowPipeline.annotateConstants(cfg)(FlowPipeline.summarize(
              FlowPipeline.fanOut(FlowPipeline.keepLabeled(labeled)))),
            table, writerId, batchId)
          TxTable.appendTxn(spark,
            labeled.groupBy(to_date(col("ts")).as("date"), col("outcome"))
              .agg(count(lit(1)).as("n")),
            outcomesTable, writerId, batchId)
          ()
        } finally labeled.unpersist()
      }
      .start()
  }

  /** The full kubenetmon pipeline as a streaming job ([[start]] over
    * the landing dir): stream-static broadcast joins against the dim
    * snapshots, trie-based LPM, explode fan-out, per-batch summing
    * aggregation committed to the flow table, read back re-summed.
    */
  def flowPipeline(spark: SparkSession, dir: String): DataFrame = {
    // dim snapshots are re-resolved per micro-batch AND per bench
    // sample; cache them for the family's lifetime (CacheManager
    // dedups by canonicalized plan, released at the family boundary)
    val pods = graft.ops.CacheRegistry.track(SyntheticFlows.pods(spark, dir))
    val nodes = graft.ops.CacheRegistry.track(SyntheticFlows.nodes(spark, dir))
    val prefixes = graft.ops.CacheRegistry.track(
      SyntheticFlows.prefixes(spark, dir))
    runToTable(spark, "graft_flowpipe_", eventsStream(spark, dir),
      _ => (pods, nodes, prefixes))
  }

  /** The PRODUCTION streaming shape of the pipeline: the flows
    * [[FlowPipeline.run]] sums ([[FlowPipeline.labeledFlows]], one
    * [[FlowPipeline.label]] pass), but the summing aggregation is a
    * watermarked 60s window in APPEND mode — state is bounded by the
    * lateness horizon and each summing row is emitted exactly once,
    * when its window closes. Rows
    * later than `lateness` belong to the batch backfill path
    * (`TxTable.append` + `compact`). Returns the un-started
    * aggregation; run with [[runToMemoryAppend]].
    */
  def watermarkedFlowPipeline(spark: SparkSession, dir: String,
      lateness: String = "10 minutes",
      files: Int = LandingFiles): DataFrame = {
    val flows = SyntheticFlows.flowsFromEvents(
      eventsStream(spark, dir, files).select(
        col("event_id"), col("user_id"), col("ts")))
    val pods = graft.ops.CacheRegistry.track(SyntheticFlows.pods(spark, dir))
    val nodes = graft.ops.CacheRegistry.track(SyntheticFlows.nodes(spark, dir))
    val prefixes = graft.ops.CacheRegistry.track(
      SyntheticFlows.prefixes(spark, dir))
    val cfg = FlowConfig()
    val labeled = FlowPipeline.labeledFlows(pods, nodes, prefixes, cfg)(flows)
    val keyNoTime = FlowPipeline.dimensionKey
      .filterNot(Set("date", "interval_start", "interval_seconds"))
    // the watermark is declared HERE, after the label/filter stages, so
    // its semantics are explicit and plan-independent: event time
    // advances with the max ts among LABELED flows. (Declaring it at
    // the source would not widen it: Catalyst deliberately pushes
    // deterministic filters below EventTimeWatermark, so the stats are
    // post-filter either way — this way the oracle can mirror the
    // cutoff exactly.)
    val summed = FlowPipeline.fanOut(labeled)
      .withColumn("connection_flags", to_json(col("connection_flags")))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "60 seconds").as("w") +:
        keyNoTime.map(col): _*)
      .agg(sum("bytes").as("bytes"), sum("packets").as("packets"),
        count(lit(1)).as("n_obs"))
      .select(Seq(to_date(col("w.start")).as("date"),
        col("w.start").as("interval_start"),
        lit(60).as("interval_seconds")) ++
        keyNoTime.map(col) ++
        Seq(col("bytes"), col("packets"), col("n_obs")): _*)
    FlowPipeline.annotateConstants(cfg)(summed)
  }
}
