package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  /** The session every suite shares: the library's own
    * [[Graft.session]], so the tests run the configuration the
    * benchmarks time (SessionConfigSpec pins it).
    */
  lazy val spark: SparkSession = Graft.session("local[4]", "graft-test", 4,
    Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with extension-injected optimizer rules disarmed
    * through `spark.sql.optimizer.excludedRules` (restored after) — the
    * "without the rule" arm of a with/without comparison.
    */
  def withoutRules[A](rules: org.apache.spark.sql.catalyst.rules.Rule[_]*)(
      body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (prev.toSeq ++ rules.map(_.ruleName)).mkString(","))
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

class SparkEntrySpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has an oracle or is rows-only, and runs") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(s"query $name:") { assert(n >= 0) }
    }
  }

  test("q1_agg groups to the 6 returnflag/linestatus combos") {
    val rows = SparkEntry.queries("q1_agg")(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 9)
    val qty = rows.map(_.getAs[Long]("sum_qty")).sum
    assert(qty > 0)
  }

  test("q9_fanout doubles the row count (direction fan-out invariant)") {
    val li = Tables.lineitem(spark, sf).count()
    val fanned = SparkEntry.queries("q9_fanout")(spark, sf).count()
    assert(fanned == 2 * li)
  }

  test("F5 end-to-end: the derived corpus carries pure-v6 flows that " +
    "survive the junk filters and die exactly at dropIpv6") {
    import org.apache.spark.sql.functions._
    val flows = graft.flow.SyntheticFlows.flows(spark, sf)
    // proto oneof shape: v4 and v6 branches are mutually exclusive
    Seq("orig_src", "orig_dst", "reply_src", "reply_dst").foreach { p =>
      assert(flows.schema(s"${p}_ip6").dataType.typeName == "binary")
      assert(flows.filter(col(s"${p}_ip6").isNotNull &&
        col(s"${p}_ip").isNotNull).isEmpty, s"$p: oneof violated")
    }
    val v6 = flows.filter(col("orig_src_ip6").isNotNull)
    assert(v6.count() > 0, "the v6 slice must be non-empty")
    // null-safe localhost filter lets v6 flows through to dropIpv6
    val junked = graft.flow.FlowPipeline.filterJunk(flows)
    assert(junked.filter(col("orig_src_ip6").isNotNull).count() > 0)
    // dropIpv6 both filters the v6 rows AND prunes the now-all-NULL v6
    // columns so they stop riding downstream exchanges
    val dropped = graft.flow.FlowPipeline.dropIpv6(junked)
    assert(!dropped.columns.exists(_.endsWith("_ip6")),
      "v6 columns must be pruned after the filter")
    assert(dropped.count() < junked.count(), "v6 rows must be gone")
  }
}
