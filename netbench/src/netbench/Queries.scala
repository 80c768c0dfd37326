package netbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import graft.sql.Compat
import graft.sink.TxTable

/** One dashboard query shape, in the ClickHouse dialect over the
  * reference's `network_flows_0` column names. */
final case class Shape(name: String, sql: Map[String, String] => String)

object Shape {
  val all: Seq[Shape] = Seq(
    // the reference README's showcase: top talkers, human-readable sizes
    Shape("top_pods", p =>
      s"""SELECT localPod, connectionClass, sum(bytes) AS totalBytes,
         |  formatReadableSize(sum(bytes)) AS readable
         |FROM network_flows_0 WHERE direction = '${p("direction")}'
         |GROUP BY localPod, connectionClass
         |ORDER BY totalBytes DESC, localPod, connectionClass LIMIT 20""".stripMargin),
    // pruned by the per-file interval_start stats
    Shape("last_10m", p =>
      s"""SELECT connectionClass, direction, count() AS n, sum(bytes) AS b,
         |  sum(packets) AS p
         |FROM network_flows_0
         |WHERE intervalStartTime >= toDateTime('${p("from")}')
         |  AND intervalStartTime < toDateTime('${p("to")}')
         |GROUP BY connectionClass, direction
         |ORDER BY connectionClass, direction""".stripMargin),
    // pruned by the per-file local_pod bloom filter
    Shape("pod_flows", p =>
      s"""SELECT remotePod, remoteIPv4, sum(bytes) AS b, sum(packets) AS p
         |FROM network_flows_0 WHERE localPod = '${p("pod")}'
         |GROUP BY remotePod, remoteIPv4
         |ORDER BY b DESC, remotePod, remoteIPv4 LIMIT 50""".stripMargin),
    // full scan of the day
    Shape("class_daily", p =>
      s"""SELECT connectionClass, direction,
         |  toUnixTimestamp(toStartOfHour(intervalStartTime)) AS hour,
         |  sum(bytes) AS b, sum(packets) AS p
         |FROM network_flows_0 WHERE date = '${p("date")}'
         |GROUP BY connectionClass, direction, hour
         |ORDER BY connectionClass, direction, hour""".stripMargin))
}

/** Dashboard: one closed-loop client runs the four shapes round-robin
  * through `Compat.chSql` over `Compat.compatView(TxTable.read(...))`,
  * in its own session, with parameters drawn from the seed.
  *
  * @param head end (epoch s) of the newest minute in the table
  */
final class Queries(r: Run, head: Long) {
  import r.trace
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  private val checks = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private val session = r.spark.newSession()
  private val rng = new scala.util.Random(r.seed * 31)
  private var issued = 0L

  private def params(shape: String): Map[String, String] = {
    shape match {
      case "top_pods" => Map("direction" -> (if (rng.nextBoolean()) "out" else "in"))
      case "last_10m" => Map("from" -> fmt.format(Instant.ofEpochSecond(head - 600)),
        "to" -> fmt.format(Instant.ofEpochSecond(head)))
      // pods that live on the observing nodes (pod-20..pod-1999, see
      // SyntheticFlows.flowsFromEvents)
      case "pod_flows" => Map("pod" -> s"pod-${20 + rng.nextInt(1980)}")
      case "class_daily" => Map("date" -> fmt.format(Instant.ofEpochSecond(head - 1)).take(10))
    }
  }

  private def query(table: String, shape: Shape, n: Long, timed: Boolean): Unit =
      trace(if (timed) "sql.query" else "sql.warm_query", n) {
    val p = params(shape.name)
    val sqlText = shape.sql(p)
    val c0 = r.cpuNs()
    val t0 = System.nanoTime()
    val snapshot = trace("sink.read_plan")(TxTable.read(session, table))
    Compat.compatView(snapshot).createOrReplaceTempView("network_flows_0")
    if (trace.enabled) trace("sql.translate")(Compat.translateCh(sqlText))
    val df = trace("sql.plan") {
      val d = Compat.chSql(session, sqlText)
      d.queryExecution.executedPlan
      d
    }
    val rows = trace("sql.exec")(df.collect())
    val s = (System.nanoTime() - t0) / 1e9
    val cpu = (r.cpuNs() - c0) / 1e9
    if (timed) {
      r.sample("query_s", s)
      r.sample("query_cpu_s", cpu)
      r.sample(s"sql.${shape.name}_s", s)
      if (trace.enabled) {
        val live = snapshot.inputFiles.length
        val read = Probes.filesRead(df.queryExecution.executedPlan)
        r.sample("sink.files_read", read.toDouble)
        r.sample("sink.live_files", live.toDouble)
        r.sample("sink.files_pruned", 1.0 - read.toDouble / math.max(live, 1))
      }
      // each shape's latest result: its table is the one still on disk
      checks(shape.name) = Map("kind" -> "query",
        "shape" -> shape.name, "params" -> p,
        "files" -> snapshot.inputFiles.toSeq,
        "rows" -> rows.toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString)))
    }
  }

  /** Hand each shape's latest result to the DuckDB check. */
  def finish(): Unit = checks.values.foreach(r.check)

  /** Untimed: every shape once, so the timed queries do not pay code
    * generation and JIT compilation. */
  def warmUp(table: String): Unit = Shape.all.zipWithIndex.foreach { case (shape, i) =>
    r.operation(s"warm-up query ${shape.name}")(
      query(table, shape, 900000L + i, timed = false))
  }

  /** Closed loop, the shapes round-robin (continuing from the previous
    * call), until `done` holds (checked between queries), at least
    * `minQueries` queries ran and the last round of the four shapes is
    * complete, so every shape has the same number of samples. */
  def run(table: String, done: () => Boolean, minQueries: Int): Unit = {
    var k = 0
    while (k < minQueries || !done() || issued % Shape.all.size != 0) {
      val shape = Shape.all((issued % Shape.all.size).toInt)
      issued += 1
      k += 1
      r.operation(s"query ${shape.name}")(query(table, shape, issued, timed = true))
    }
  }
}
