package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ipfns._

class FunctionsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("long_to_ip / ip_to_long round-trip and edge cases") {
    val df = Seq(0L, 1L, 167772161L, 2130706433L, 4294967295L).toDF("v")
    val rows = df.select(col("v"), long_to_ip(col("v")).as("ip"))
      .withColumn("back", ip_to_long(col("ip")))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("back") == r.getAs[Long]("v"))
    }
    val ips = rows.map(_.getAs[String]("ip"))
    assert(ips.contains("0.0.0.0") && ips.contains("127.0.0.1") &&
      ips.contains("10.0.0.1") && ips.contains("255.255.255.255"))
  }

  test("ip_to_long rejects invalid addresses as NULL (F8 routing)") {
    val bad = Seq("256.1.1.1", "1.2.3", "a.b.c.d", "", "1.2.3.4.5",
      // Go netip strictness (remote.go parser semantics): trailing dot
      // and leading-zero octets are invalid, not silently accepted
      "1.2.3.4.", ".1.2.3.4", "010.1.1.1", "1.2.3.04", "1..2.3", "1.2.3.4x")
      .toDF("ip").select(ip_to_long(col("ip")).as("v")).collect()
    assert(bad.forall(_.isNullAt(0)))
    val good = Seq("0.0.0.0", "10.0.0.1", "255.255.255.255")
      .toDF("ip").select(ip_to_long(col("ip")).as("v")).collect()
    assert(good.forall(!_.isNullAt(0)))
  }

  test("ip_is_private matches RFC1918 + loopback + link-local") {
    val cases = Seq(
      ("10.0.0.1", true), ("172.16.0.1", true), ("172.31.255.255", true),
      ("172.32.0.1", false), ("192.168.5.5", true), ("192.169.0.1", false),
      ("127.0.0.1", true), ("169.254.1.1", true), ("8.8.8.8", false),
      ("1.1.1.1", false))
    val got = cases.map(_._1).toDF("ip")
      .select(col("ip"), ip_is_private(ip_to_long(col("ip"))).as("p"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (ip, want) => assert(got(ip) == want, ip) }
  }

  test("format_readable_size uses ClickHouse-style binary units") {
    val got = Seq(0L, 1023L, 1024L, 1536L, 1048576L, 5368709120L)
      .toDF("b").select(format_readable_size(col("b")).as("s"))
      .collect().map(_.getString(0))
    assert(got.sameElements(Array(
      "0.00 B", "1023.00 B", "1.00 KiB", "1.50 KiB", "1.00 MiB", "5.00 GiB")))
  }

  test("has_token: exact whitespace-token membership (boundaries, " +
      "multi-space, UTF-8, never substring)") {
    val df = Seq(
      ("a bb ccc", "bb", true),    // middle token
      ("a bb ccc", "a", true),     // first
      ("a bb ccc", "ccc", true),   // last
      ("abb ccc", "bb", false),    // substring, not a token
      ("a bbc", "bb", false),      // prefix of a token
      ("a  bb", "bb", true),       // multi-space runs
      ("héllo wörld", "wörld", true), // multi-byte UTF-8
      ("héllo wörld", "örld", false),
      ("single", "single", true),
      ("", "x", false)
    ).toDF("s", "t", "want")
    val bad = df.filter(has_token(col("s"), col("t")) =!= col("want"))
      .collect()
    assert(bad.isEmpty, bad.mkString(";"))
    // SQL registration + null propagation
    val r = spark.sql(
      "SELECT has_token('a b', 'b') AS y, has_token('a b', '') AS e, " +
        "has_token(CAST(NULL AS STRING), 'b') AS nl").collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.isNullAt(2))
  }

  test("expressions are codegen'd (no fallback) and SQL-registered") {
    // constant-foldable: the optimizer must be able to eval these eagerly
    val folded = spark.sql(
      "SELECT format_readable_size(1536.0) AS s, long_to_ip(16909060) AS ip")
      .collect().head
    assert(folded.getString(0) == "1.50 KiB" && folded.getString(1) == "1.2.3.4")
    // non-literal input: projection must stay inside a codegen stage
    // (executedPlan renders codegen'd operators with a "*(stageId)" star)
    spark.range(5).createOrReplaceTempView("r5")
    val df = spark.sql(
      "SELECT long_to_ip(id) AS ip, format_readable_size(id * 1024) AS s FROM r5")
    assert(df.collect().length == 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }
}
