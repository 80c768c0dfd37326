package netbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{avg, col}
import graft.sink.TxTable

/** One run, sized by the workload (`run.py` holds the table of
  * workloads):
  *  - set-up (untimed, ends `setup_s`): the session, the inputs, one
  *    backfill pass over the warm-up corpus into a warm-up table, and the
  *    dashboard client's warm-up queries on it (in traced runs also the
  *    streaming job's start and warm-up ticks). This runs the flow
  *    stages, the table's append, compact and read paths and the SQL shim
  *    once, so the timed phases do not pay code generation and most JIT
  *    compilation;
  *  - `passes` timed rounds, each a backfill pass over the corpus into a
  *    fresh table, then the dashboard client on that table; the last
  *    round's table is the live table;
  *  - stream (traced runs only): the generator publishes the timed dumps
  *    on schedule and the streaming job commits them to the live table.
  * Every phase runs in every workload, so every run reports every
  * end-to-end metric; the workload decides which phase carries the most
  * work.
  */
final class Mix(conf: Map[String, String]) {
  private def int(k: String) = conf(k).toInt

  def run(r: Run, launchMs: Long): Unit = {
    val rawRows = new String(Files.readAllBytes(Paths.get(s"${r.work}/raw_rows")))
      .trim.toLong
    r.scalars("ingest.raw_rows") = rawRows.toDouble
    def phase(name: String)(body: => Unit): Unit = {
      val s = System.nanoTime()
      body
      r.scalars(s"phase.${name}_s") = (System.nanoTime() - s) / 1e9
      System.err.println(f"netbench: $name phase ${(System.nanoTime() - s) / 1e9}%.1f s")
    }
    val ingest = new Ingest(r, int("appends"), int("passes"), rawRows)
    val stream = new Stream(r, int("warm_ticks"), int("ticks"), int("tick_ms"))
    // end of the newest minute in the live table: the corpus's last dump
    val head = Traffic.EpochSeconds + int("corpus_dumps").toLong * Traffic.DumpSeconds
    val queries = new Queries(r, head)
    phase("set-up warm-up") {
      if (r.trace.enabled) r.operation("stream warm-up") {
        stream.start()
        stream.warmUp()
      }
      ingest.warmUp()
      queries.warmUp(ingest.warmTable)
    }
    r.sample("setup_s", (System.currentTimeMillis() - launchMs) / 1000.0)

    // The timed phases: `passes` rounds, each a backfill pass and then
    // the dashboard client until the round's share of `seconds` is over
    // and it ran its share of `queries`. Interleaving spreads both
    // metrics' samples over the whole window, so a slow spell of the
    // shared host lands on a few samples of each, not on all of one.
    val t0 = System.nanoTime()
    val passes = int("passes")
    val perRound = (int("queries") + passes - 1) / passes
    (1 to passes).foreach { n =>
      phase(s"backfill pass $n")(ingest.timedPass(n))
      val roundEnd = t0 + r.seconds * 1000000000L * n / passes
      phase(s"dashboard $n")(queries.run(ingest.table,
        () => System.nanoTime() >= roundEnd, perRound))
    }
    queries.finish()
    ingest.finish()
    val live = ingest.table
    // The dashboard and the stream each run alone, so neither metric
    // carries the other's load. The timed stream runs in traced runs
    // only: no end-to-end metric comes from it (see README.md), and
    // untraced runs must fit the run budget.
    if (r.trace.enabled) {
      stream.commitTo(live)
      phase("stream")(r.operation("stream")(stream.run(System.nanoTime())))
      stream.finish()
    }

    r.scalars("sink.files_added_per_commit") = TxTable.history(r.spark, live)
      .filter(col("operation") === "append").agg(avg("n_added"))
      .collect().head.getDouble(0)
    r.check(Map("kind" -> "sums", "table" -> "live",
      "events" -> (s"${ingest.corpus}/*/*.parquet" +:
        (if (r.trace.enabled) stream.timedFiles else Nil)),
      "sums" -> r.tableSums(live)))
  }
}
