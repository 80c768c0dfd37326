package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sink.TxTable

/** The Prometheus-exporter analog over the outcomes TxTable that
  * [[StreamingFlows.start]] commits to. The reference exports cumulative
  * counters scraped over HTTP (/root/reference/cmd/server/server.go:100-117
  * processedFlowsCounter/errorCounter; pkg/inserter/worker.go:51-66);
  * here each micro-batch commits its per-(date, outcome) counts once,
  * keyed by its batch id, and a Prometheus counter is by definition the
  * cumulative sum of those deltas — so "scraping" is one aggregation
  * over the table, tagged with the reference counter family each
  * outcome feeds ([[StreamingFlows.outcomeFamily]]). Re-running
  * [[counters]] on a cadence IS the tail job: a replayed batch's commit
  * is a no-op, so the scrape is monotone and never double-counts.
  */
object MetricsExporter {

  /** Cumulative per-(family,label) counter values across all batches —
    * the exact counter families the reference exposes.
    */
  def counters(spark: SparkSession, outcomesTable: String): DataFrame =
    countersByOutcome(spark, outcomesTable)
      .groupBy("family", "label")
      .agg(sum("value").as("value"))

  /** Finer grain for reconciliation against the outcome taxonomy
    * (qf_outcomes): cumulative count per raw outcome.
    */
  def countersByOutcome(spark: SparkSession, outcomesTable: String): DataFrame =
    TxTable.read(spark, outcomesTable)
      .groupBy("outcome").agg(sum("n").as("value"))
      .withColumn("fam", StreamingFlows.outcomeFamily)
      .select(col("outcome"), col("fam.family").as("family"),
        col("fam.label").as("label"), col("value"))

  /** Prometheus text exposition format for a [[counters]] frame:
    * `graft_<family>_total{label="<label>"} <value>` — the scrape
    * payload a /metrics endpoint would serve.
    */
  def render(counters: DataFrame): String =
    counters.orderBy("family", "label").collect().map { r =>
      val fam = r.getAs[String]("family")
      val lab = r.getAs[String]("label")
      s"""graft_${fam}_total{label="$lab"} ${r.getAs[Long]("value")}"""
    }.mkString("\n")

  /** Serve [[render]] over HTTP — the operational surface the reference
    * exposes for Prometheus (cmd/server/server.go:100-117 registers its
    * counters on an HTTP mux; promhttp serves /metrics). JDK built-in
    * HttpServer, zero dependencies; `counters` re-resolves per scrape so
    * the endpoint always reflects the batches written so far (the scrape
    * IS one aggregation over the outcomes table — see the object doc).
    * `port` 0 binds an ephemeral port; read it back from the returned
    * server's address. Caller owns the lifecycle (`stop(0)`).
    */
  def serve(counters: () => DataFrame,
      port: Int = 0): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/metrics",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val (status, body) =
          try (200, (render(counters()) + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          catch { case scala.util.control.NonFatal(e) =>
            (500, s"scrape failed: ${e.getMessage}\n"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        ex.getResponseHeaders.set("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(status, body.length)
        try ex.getResponseBody.write(body) finally ex.close()
      })
    server.start()
    server
  }
}
