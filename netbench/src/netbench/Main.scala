package netbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run in one JVM: `netbench.Main key=value ...` (see
  * `run.py`, which writes the inputs and passes the workload's sizes).
  * Writes raw measurements to `out`; `run.py` turns them into the
  * reported metrics and checks them against DuckDB.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    def int(k: String) = conf(k).toInt
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val cores = math.min(int("cores"), Runtime.getRuntime.availableProcessors())
    val master = s"local[$cores]"
    val launchMs = conf("launch_ms").toLong

    val spark = graft.Graft.session(master = master, appName = "netbench")
    spark.sparkContext.setLogLevel("ERROR")
    Probes.install(spark)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val work = conf("work")
    val r = new Run(spark, conf("seed").toLong, int("seconds"),
      new Trace(conf("trace") == "1"), work)
    r.scalars("setup.session_s") = sessionS
    try {
      // inputs.py writes the inputs while this JVM starts
      val ready = Paths.get(s"$work/inputs.ready")
      while (!Files.exists(ready)) Thread.sleep(10)
      new Mix(conf).run(r, launchMs)
      val doc = Map(
        "meta" -> Map(
          "spark_version" -> spark.version, "master" -> master,
          "xmx_bytes" -> Runtime.getRuntime.maxMemory(),
          "jvm_load_start" -> loadStart,
          "jvm_load_end" -> os.getSystemLoadAverage),
        "attempted" -> r.attempted, "failed" -> r.failed,
        "errors" -> r.errors,
        "samples" -> r.samples, "scalars" -> r.scalars,
        "checks" -> r.checks,
        "flow_sql" -> graft.flow.FlowSql.summedCte,
        "spans" -> r.trace.toJson)
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new File(conf("out")), doc)
    } finally spark.stop()
  }
}
