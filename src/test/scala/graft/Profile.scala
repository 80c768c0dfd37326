package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.flow._

/** Ad-hoc stage profiler (not part of the driver contract). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.hadoop.fs.file.impl",
        "graft.ops.FastLocalFileSystem") // no per-file chmod fork
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.ops.FastLocalFs") // FileContext twin (checkpoints/WAL)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = FlowConfig()
    val f = SyntheticFlows.flows(spark, sfDir)
    val p = SyntheticFlows.pods(spark, sfDir)
    val n = SyntheticFlows.nodes(spark, sfDir)
    val px = SyntheticFlows.prefixes(spark, sfDir)

    def t(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$r")
    }

    f.count() // warmup

    val labeled = f.transform(FlowPipeline.filterJunk)
      .transform(FlowPipeline.dropUdp(cfg))
      .transform(FlowPipeline.dropNodeFlows(n))
      .transform(FlowPipeline.resolveDirection(p, n))
      .transform(FlowPipeline.dropUnlabeled)
    t("labeled")(labeled.count())
    val classified = labeled.transform(FlowPipeline.classify(px, cfg))
    t("classified")(classified.count())
    t("fanned")(FlowPipeline.fanOut(classified).count())
    val summed = FlowPipeline.summarize(FlowPipeline.fanOut(classified))
    t("summed")(summed.count())
    if (args.contains("--explain")) {
      println(summed.queryExecution.executedPlan.toString.take(8000))
    }
    spark.stop()
  }
}
