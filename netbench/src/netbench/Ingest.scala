package netbench

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.flow.{FlowPipeline, LpmJoin, SyntheticFlows}
import graft.sink.TxTable

/** Backfill ingest: a pass replays recorded dumps (one parquet directory
  * per append) as `FlowPipeline.run` → `TxTable.append` calls into a
  * fresh table, then merges it with one `TxTable.compact`.
  *
  * After an untimed warm-up pass, `passes` timed passes each ingest the
  * corpus into a fresh table, the earlier one deleted first. The
  * dashboard reads each pass's table; the last one becomes the live
  * table the stream appends to.
  */
final class Ingest(r: Run, appends: Int, passes: Int, rawRows: Long) {
  import r.{spark, trace}
  val corpus = s"${r.work}/ingest/corpus"
  /** the first dumps of the corpus only: the cheaper, cold warm-up pass */
  private val warmCorpus = s"${r.work}/ingest/warm_corpus"
  val table = s"${r.work}/ingest/table"
  val warmTable = s"${r.work}/ingest/warm_table"

  private def slice(i: Int, from: String = corpus): DataFrame =
    SyntheticFlows.flowsFromEvents(spark.read.parquet(s"$from/slice=$i"))

  private def drop(path: String): Unit = FileUtils.deleteDirectory(new java.io.File(path))

  /** One pass into the fresh table `out`; returns wall seconds. */
  private def pass(n: Int, out: String, from: String = corpus): Double = {
    drop(out)
    val t0 = System.nanoTime()
    trace("ingest.pass", n) {
      (0 until appends).foreach { i =>
        val (pods, nodes, prefixes) = r.loadDims()
        trace("sink.append") {
          TxTable.append(spark,
            FlowPipeline.run(slice(i, from), pods, nodes, prefixes, r.cfg), out)
        }
      }
      trace("sink.compact") { TxTable.compact(spark, out) }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed, in set-up: one pass (op 0) over the warm-up corpus into
    * the warm-up table. */
  def warmUp(): Unit = r.operation("backfill warm-up pass")(
    pass(0, warmTable, warmCorpus))

  /** Timed pass `n` into the fresh live table. */
  def timedPass(n: Int): Unit = r.operation(s"backfill pass $n") {
    val c0 = r.cpuNs()
    val wall = pass(n, table)
    r.sample("ingest_flows_per_cpu_s", rawRows / ((r.cpuNs() - c0) / 1e9))
    r.sample("ingest_flows_per_s", rawRows / wall)
  }

  /** Traced runs only, after the timed passes and outside their time:
    * the layer split of the last pass. Each cumulative prefix of the
    * pipeline runs to the `noop` sink, so a stage's time is the
    * difference of consecutive prefixes. Then the pipeline's output is
    * materialized and its `TxTable.append` alone is timed, as an
    * independent measure of the write. */
  def traceLayers(): Unit = {
    val scratch = s"${r.work}/ingest/layer_table"
    (0 until appends).foreach { i =>
      val (pods, nodes, prefixes) = r.loadDims()
      val flows = slice(i)
      trace("flow.stages", passes)(stagePrefixes(flows, pods, nodes, prefixes))
      val summed = FlowPipeline.run(flows, pods, nodes, prefixes, r.cfg).persist()
      try {
        summed.count()
        trace("sink.write_materialized", passes)(TxTable.append(spark, summed, scratch))
      } finally summed.unpersist(blocking = true)
    }
    drop(scratch)
  }

  private def stagePrefixes(flows: DataFrame, pods: DataFrame,
      nodes: DataFrame, prefixes: DataFrame): Unit = {
    val cfg = r.cfg
    val filtered = flows
      .transform(FlowPipeline.filterJunk)
      .transform(FlowPipeline.dropUdp(cfg))
      .transform(FlowPipeline.dropIpv6)
      .transform(FlowPipeline.dropNodeFlows(nodes))
    val enriched = filtered
      .transform(FlowPipeline.resolveDirection(pods, nodes))
      .transform(FlowPipeline.dropUnlabeled)
    val classified = enriched
      .transform(FlowPipeline.classify(prefixes, cfg))
      .transform(FlowPipeline.dropClassifyErrors)
    val summed = FlowPipeline.run(flows, pods, nodes, prefixes, cfg)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    trace("flow.prefix_filter")(noop(filtered))
    trace("flow.prefix_enrich")(noop(enriched))
    trace("flow.prefix_classify")(noop(classified))
    trace("flow.prefix_full")(noop(summed))
    r.sample("flow.shuffle_bytes", Probes.lastQueryShuffleBytes(spark))
    trace("flow.trie_build") {
      LpmJoin.viaTrie(flows.limit(0), prefixes, col("orig_src_ip"))
    }
  }

  /** After the passes, before the stream appends to the live table: the
    * table's shape, and the traced run's layer ratios. */
  def finish(): Unit = {
    val summedRows = TxTable.read(spark, table).count()
    val (bytes, _) = r.liveBytesAndFiles(table)
    r.sample("table_bytes_per_row", bytes.toDouble / summedRows)
    if (trace.enabled) {
      traceLayers()
      val (pods, nodes, prefixes) = r.loadDims()
      val labeled = FlowPipeline.routeOutcomes(pods, nodes, prefixes, r.cfg)(
        SyntheticFlows.flowsFromEvents(spark.read.parquet(corpus)))
        .filter(col("outcome") === "labeled").count()
      r.scalars("flow.labeled_ratio") = labeled.toDouble / rawRows
      r.scalars("flow.collapse_ratio") = 2.0 * labeled / summedRows
    }
  }
}
