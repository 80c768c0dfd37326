package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.RewriteIpPredicates
import graft.functions.ipfns._

/** The RewriteIpPredicates optimizer rule must (a) preserve semantics
  * and (b) turn `ip_is_private(col)` filters into range predicates the
  * parquet source can push down.
  */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("rule rewrites ip_is_private into pushable range predicates") {
    val li = Tables.lineitem(spark, sf)
    def plan() = {
      val df = li.filter(ip_is_private(col("l_orderkey"))).select("l_orderkey")
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // the session's extensions install the rule: black box gone,
    // ranges pushed into the scan
    val rewritten = plan()
    assert(!rewritten.contains("ip_is_private"), rewritten.take(1500))
    assert(rewritten.contains("PushedFilters: [") &&
      rewritten.contains("GreaterThanOrEqual(l_orderkey"), rewritten.take(1500))
    // disarmed, the opaque expression stays in the plan
    val opaque = withoutRules(RewriteIpPredicates)(plan())
    assert(opaque.contains("ip_is_private"), opaque.take(1500))
  }

  test("rewrite preserves semantics against the unrewritten expression") {
    val ips = Seq(167772160L, 184549375L, 184549376L, 2886729727L,
      2886729728L, 2887778304L, 3232235520L, 2130706433L, 2851995648L,
      16777216L, 0L, 4294967295L)
    import spark.implicits._
    val df = ips.toDF("ip")
    def eval() = df.select(col("ip"), ip_is_private(col("ip")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val plain = withoutRules(RewriteIpPredicates)(eval())
    assert(eval() == plain)
  }
}
