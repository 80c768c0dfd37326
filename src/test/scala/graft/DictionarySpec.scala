package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dims.Dictionaries

/** ClickHouse external-dictionary semantics: point lookups without a
  * join, NULL on miss, last-registration-wins refresh.
  */
class DictionarySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("dictGet: hits fetch attributes, misses are NULL, re-register " +
      "refreshes, bad names fail loudly, codegen carries the probe") {
    val dim = Seq((10L, "a", 1), (20L, "b", 2), (30L, null, 3))
      .toDF("k", "name", "rank")
    Dictionaries.register(spark, "spec_dim", dim, "k")
    val probes = Seq(10L, 20L, 30L, 99L).toDF("k")
    // Column API
    val got = probes.select(col("k"),
        Dictionaries.dict_get("spec_dim", "name", col("k")).as("n"),
        Dictionaries.dict_get("spec_dim", "rank", col("k")).as("r"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2)))
    assert(got.toSeq == Seq((10L, "a", 1), (20L, "b", 2),
      (30L, null, 3), (99L, null, -1)),
      "hit attributes, NULL-valued attribute, and full miss")
    // SQL spelling
    probes.createOrReplaceTempView("dict_spec_probes")
    val viaSql = spark.sql(
      """SELECT k, dictGet('spec_dim', 'name', k) AS n
        |FROM dict_spec_probes ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(viaSql.toSeq == Seq((10L, "a"), (20L, "b"), (30L, null),
      (99L, null)))
    // the probe participates in whole-stage codegen (no UDF fallback) —
    // proven over a real file scan (a local Seq constant-folds away)
    val plan = Tables.customer(spark, sf)
      .select(Dictionaries.dict_get("spec_dim", "rank",
        col("c_custkey")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.contains("dictGet"), plan)
    // refresh: a re-registered snapshot serves new plans
    Dictionaries.register(spark, "spec_dim",
      Seq((10L, "A2", 9)).toDF("k", "name", "rank"), "k")
    val refreshed = Seq(10L, 20L).toDF("k").select(
      Dictionaries.dict_get("spec_dim", "name", col("k")))
      .collect().map(r => r.getString(0))
    assert(refreshed.toSeq == Seq("A2", null),
      "last registration wins; dropped keys now miss")
    // dictGetOrDefault / dictHas SQL spellings
    Dictionaries.register(spark, "spec_dim", dim, "k")
    val dh = spark.sql(
      """SELECT k, dictGetOrDefault('spec_dim', 'name', k, 'dflt') AS n,
        |  dictHas('spec_dim', k) AS h
        |FROM dict_spec_probes ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(dh.toSeq == Seq((10L, "a", true), (20L, "b", true),
      (30L, "dflt", true), (99L, "dflt", false)),
      "default fills NULL-valued and missing; has is exact key presence")
    // misuse fails at plan time with a clear message
    intercept[IllegalArgumentException] {
      Dictionaries.dict_get("no_such_dict", "x", col("k"))
    }
    intercept[IllegalArgumentException] {
      Dictionaries.dict_get("spec_dim", "no_such_attr", col("k"))
    }
    Dictionaries.deregister("spec_dim")
  }

  test("ip_trie layout: dictGet on an address resolves longest-prefix " +
      "attributes; uncovered addresses miss") {
    // 10.0.0.0/8 coarse under 10.1.0.0/16 fine — LPM must pick fine
    val ranges = Seq(
      (167772160L, 8, "coarse"),  // 10.0.0.0/8
      (167837696L, 16, "fine")    // 10.1.0.0/16
    ).toDF("p_start", "p_len", "owner")
    Dictionaries.registerIpTrie(spark, "spec_trie", ranges)
    val got = Seq(
      167772161L, // 10.0.0.1  -> coarse
      167837697L, // 10.1.0.1  -> fine (longest)
      3232235521L // 192.168.0.1 -> miss
    ).toDF("ip").select(
      Dictionaries.dict_get("spec_trie", "owner", col("ip")))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("coarse", "fine", null))
    Dictionaries.deregister("spec_trie")
  }

  test("size guard: an over-budget dictionary is refused loudly (with " +
      "the broadcast-join pointer) and never registered; the explicit " +
      "budget override still works") {
    val big = spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    val e = intercept[IllegalArgumentException] {
      Dictionaries.register(spark, "spec_big", big, "k", maxRows = 50)
    }
    assert(e.getMessage.contains("broadcast"),
      "refusal must point at the broadcast-join alternative")
    intercept[IllegalArgumentException] {
      Dictionaries.dict_get("spec_big", "v", col("k"))
    } // nothing half-registered
    intercept[IllegalArgumentException] {
      Dictionaries.registerIpTrie(spark, "spec_big_trie",
        Seq((167772160L, 8, "x")).toDF("p_start", "p_len", "o"),
        maxRows = 0)
    }
    // raising the budget explicitly admits the same input
    Dictionaries.register(spark, "spec_big", big, "k", maxRows = 100)
    val got = Seq(3L).toDF("k")
      .select(Dictionaries.dict_get("spec_big", "v", col("k")))
      .collect().head.getLong(0)
    assert(got == 6L)
    Dictionaries.deregister("spec_big")
  }

  test("range_hashed layout: closed bounds, min-start overlap " +
      "strategy, outside-all-ranges NULL, date ranges, SQL spellings") {
    import spark.implicits._
    // sku 1: [0,9]->100, [10,19]->200, overlapping [5,12]->999
    // (min-start wins: inside [5,9] the 0-start range, inside
    // [10,12] the 5-start one)
    val prices = Seq(
      (1L, 0L, 9L, 100L), (1L, 10L, 19L, 200L), (1L, 5L, 12L, 999L),
      (2L, 100L, 199L, 700L))
      .toDF("k", "s", "e", "price")
    Dictionaries.registerRangeHashed(spark, "spec_prices", prices,
      "k", "s", "e")
    def price(k: Long, x: Long): Option[Long] = {
      val r = spark.sql(
        s"SELECT dictGet('spec_prices', 'price', ${k}L, ${x}L) AS p")
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    assert(price(1L, 0L).contains(100L))   // closed lower bound
    assert(price(1L, 9L).contains(100L))   // closed upper bound
    assert(price(1L, 7L).contains(100L))   // overlap: 0-start wins
    assert(price(1L, 11L).contains(999L))  // overlap: 5-start wins
    assert(price(1L, 15L).contains(200L))  // only [10,19] contains 15
    assert(price(1L, 31L).isEmpty)         // outside all ranges
    assert(price(3L, 0L).isEmpty)          // unknown key
    assert(price(2L, 150L).contains(700L))
    // dictGetOrDefault coalesces the miss; dictHas probes the key set
    val d = spark.sql(
      "SELECT dictGetOrDefault('spec_prices', 'price', 9L, 0L, -1L) " +
        "AS p, dictHas('spec_prices', 1L) AS h1, " +
        "dictHas('spec_prices', 9L) AS h9").collect().head
    assert(d.getLong(0) == -1L && d.getBoolean(1) && !d.getBoolean(2))
    // date-typed ranges: probe with a date inside the window
    val windows = Seq(
      (7L, java.sql.Date.valueOf("2024-01-01"),
        java.sql.Date.valueOf("2024-06-30"), 11L),
      (7L, java.sql.Date.valueOf("2024-07-01"),
        java.sql.Date.valueOf("2024-12-31"), 22L))
      .toDF("k", "s", "e", "v")
    Dictionaries.registerRangeHashed(spark, "spec_windows", windows,
      "k", "s", "e")
    val w = spark.sql("""
      SELECT dictGet('spec_windows', 'v', 7L, DATE'2024-08-15') AS v,
        dictGet('spec_windows', 'v', 7L, DATE'2025-01-01') AS miss""")
      .collect().head
    assert(w.getLong(0) == 22L && w.isNullAt(1))
    Dictionaries.deregister("spec_prices")
    Dictionaries.deregister("spec_windows")
  }
}
