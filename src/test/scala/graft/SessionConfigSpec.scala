package graft

import java.net.URI

import org.apache.hadoop.fs.{AbstractFileSystem, Path}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.plans.{Projections, SortProjections}
import graft.sink.MaterializedView.MvDef

/** The shared test session is a [[Graft.session]]: the configuration
  * the benchmarks time, with every rule installed once, by the
  * extensions.
  */
class SessionConfigSpec extends AnyFunSuite {
  import TestSpark._

  /** Names of the rules GraftExtensions injects through `build` (a
    * `SparkSessionExtensions.build*Rules` method, package-private to
    * Spark, hence the reflective call).
    */
  private def injected(build: String): Seq[String] = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    ext.getClass.getMethod(build, classOf[SparkSession]).invoke(ext, spark)
      .asInstanceOf[Seq[Rule[LogicalPlan]]].map(_.ruleName)
  }

  test("every GraftExtensions rule is in the session's optimizer and " +
      "analyzer") {
    val optimizer = injected("buildOptimizerRules")
    val resolution = injected("buildResolutionRules")
    assert(optimizer.size == 4 && resolution.size == 2)
    val inOptimizer = spark.sessionState.optimizer
      .extendedOperatorOptimizationRules.map(_.ruleName)
    val inAnalyzer = spark.sessionState.analyzer
      .extendedResolutionRules.map(_.ruleName)
    optimizer.foreach(r => assert(inOptimizer.contains(r), inOptimizer))
    resolution.foreach(r => assert(inAnalyzer.contains(r), inAnalyzer))
  }

  test("the local filesystem on both Hadoop APIs is the in-process one") {
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path("file:///tmp").getFileSystem(conf).getClass.getName ==
      "graft.ops.FastLocalFileSystem")
    assert(AbstractFileSystem.get(new URI("file:///"), conf).getClass.getName
      == "graft.ops.FastLocalFs")
  }

  test("UTC session time zone and size-adaptive AQE coalescing") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
  }

  test("registering projections and loading embeddings installs no " +
      "per-session optimizer rule") {
    val base = sys.props("java.io.tmpdir") + "/graft_sessioncfg_base"
    Projections.register(spark, base, base + "_mv", MvDef(Seq("date"), Nil))
    SortProjections.register(spark, base, base + "_sorted", Seq("k"))
    try {
      Tables.embeddings(spark, sf)
      assert(spark.experimental.extraOptimizations.isEmpty,
        spark.experimental.extraOptimizations)
    } finally {
      Projections.deregister(spark, base)
      SortProjections.deregister(spark, base)
    }
  }
}
