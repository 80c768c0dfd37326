package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.TxTable
import graft.sql.Compat

/** AggregatingMergeTree analog: `-State` aggregates produce mergeable
  * partial states a tx table stores; `TxTable.compactAggregating`
  * re-merges equal-key rows; `-Merge` reads recover the exact
  * aggregate at any coarser grouping — across inserts, merges, and
  * groupings. Sketch states (uniqState = DataSketches HLL) merge by
  * union and are bound-checked here (they cannot hash-match an
  * oracle).
  */
class AggregatingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_aggspec_$tag").toString

  test("state merge invariant: inserts x background merge x coarser " +
      "grouping all recover the exact aggregate; unknown kinds and " +
      "undeclared columns refuse") {
    val rows = for {
      day <- 1 to 3; u <- 1 to 20
    } yield (java.sql.Date.valueOf(f"2024-06-0$day"),
      if (u % 2 == 0) "a" else "b", u.toLong, (day * 100 + u).toLong)
    rows.toDF("date", "g", "uid", "v").createOrReplaceTempView("agg_src")

    val table = s"${tmp("inv")}/t"
    def batch(p: String) = Compat.chSql(spark, s"""
      SELECT date, g, sumState(v) AS v_s, countState() AS n_s,
        avgState(v) AS avg_s, maxState(v) AS hi_s,
        uniqExactState(uid) AS u_s
      FROM agg_src WHERE $p GROUP BY date, g""")
    TxTable.append(spark, batch("uid <= 7"), table)
    TxTable.append(spark, batch("uid > 7"), table)

    def mergeRead() = {
      graft.sink.TxFileIndex.readV2(spark, table)
        .createOrReplaceTempView("agg_tb")
      Compat.chSql(spark, """
        SELECT g, sumMerge(v_s) AS v, countMerge(n_s) AS n,
          avgMerge(avg_s) AS avg_v, maxMerge(hi_s) AS hi,
          uniqExactMerge(u_s) AS u
        FROM agg_tb GROUP BY g ORDER BY g""").collect().toSeq
    }
    val expected = spark.sql("""
      SELECT g, SUM(v) AS v, COUNT(*) AS n,
        CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_v,
        MAX(v) AS hi, COUNT(DISTINCT uid) AS u
      FROM agg_src GROUP BY g ORDER BY g""").collect().toSeq
    assert(mergeRead() == expected, "pre-merge -Merge read is exact")

    assert(TxTable.compactAggregating(spark, table, Seq("g"),
      Map("v_s" -> "sum", "n_s" -> "count", "avg_s" -> "avg",
        "hi_s" -> "max", "u_s" -> "uniqExact")) >= 0)
    assert(TxTable.read(spark, table).count() == 6,
      "3 dates x 2 groups = one state row per key after the merge")
    assert(mergeRead() == expected, "post-merge -Merge read is exact")

    // a second merge is a content no-op (idempotent background work)
    TxTable.compactAggregating(spark, table, Seq("g"),
      Map("v_s" -> "sum", "n_s" -> "count", "avg_s" -> "avg",
        "hi_s" -> "max", "u_s" -> "uniqExact"))
    assert(mergeRead() == expected)

    // refusals: unknown kind, undeclared column, state used as key
    intercept[IllegalArgumentException] {
      TxTable.compactAggregating(spark, table, Seq("g"),
        Map("v_s" -> "median", "n_s" -> "count", "avg_s" -> "avg",
          "hi_s" -> "max", "u_s" -> "uniqExact"))
    }
    intercept[IllegalArgumentException] {
      TxTable.compactAggregating(spark, table, Seq("g"),
        Map("v_s" -> "sum"))
    }
  }

  test("SQL surface: -State INSERTs into a catalog table, CALL " +
      "gcat.sys.compact_aggregating, -Merge SELECT — all through SQL") {
    spark.conf.set("spark.sql.catalog.gcat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse",
      sys.props("java.io.tmpdir") + "/graft_gcat_warehouse")
    spark.sql("DROP NAMESPACE IF EXISTS gcat.aggmt CASCADE")
    spark.sql("CREATE NAMESPACE gcat.aggmt")
    (for { day <- 1 to 2; u <- 1 to 16 } yield
      (java.sql.Date.valueOf(f"2024-06-0$day"),
        if (u % 2 == 0) "x" else "y", u.toLong, (day * 10 + u).toLong))
      .toDF("date", "g", "uid", "v").createOrReplaceTempView("agg_sql_src")
    spark.sql("CREATE TABLE gcat.aggmt.t " +
      "(date DATE, g STRING, v_s BIGINT, u_s ARRAY<BIGINT>)")
    // the catalog presents `date` LAST (partition column after the
    // data columns) — positional INSERT order follows
    Seq("uid <= 8", "uid > 8").foreach { p =>
      spark.sql(s"""INSERT INTO gcat.aggmt.t
        SELECT g, sumState(v), uniqExactState(uid), date
        FROM agg_sql_src WHERE $p GROUP BY date, g""")
    }
    assert(spark.sql("SELECT count(*) FROM gcat.aggmt.t")
      .head.getLong(0) == 8, "2 inserts x 2 dates x 2 groups")
    val v = spark.sql("CALL gcat.sys.compact_aggregating(" +
      "table => 'aggmt.t', keys => 'g', " +
      "states => 'v_s:sum,u_s:uniqExact')").head.getLong(0)
    assert(v > 0)
    assert(spark.sql("SELECT count(*) FROM gcat.aggmt.t")
      .head.getLong(0) == 4, "one state row per (date, g) after CALL")
    val merged = spark.sql("""
      SELECT g, sumMerge(v_s) AS v, uniqExactMerge(u_s) AS u
      FROM gcat.aggmt.t GROUP BY g ORDER BY g""").collect().toSeq
    val direct = spark.sql("""
      SELECT g, SUM(v) AS v, COUNT(DISTINCT uid) AS u
      FROM agg_sql_src GROUP BY g ORDER BY g""").collect().toSeq
    assert(merged == direct)
    // malformed states spec fails actionably
    val e = intercept[Exception] {
      spark.sql("CALL gcat.sys.compact_aggregating(table => 'aggmt.t'," +
        " keys => 'g', states => 'v_s=sum')").collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("col:kind"))))
  }

  test("sketch states: uniqState HLL binaries union across inserts and " +
      "merges; the estimate lands within the 5-sigma bound") {
    (1L to 5000L).map(i => (java.sql.Date.valueOf("2024-06-01"),
      s"g${i % 2}", i)).toDF("date", "g", "uid")
      .createOrReplaceTempView("hll_src")
    val table = s"${tmp("hll")}/t"
    def batch(p: String) = Compat.chSql(spark, s"""
      SELECT date, g, uniqState(uid) AS u_s
      FROM hll_src WHERE $p GROUP BY date, g""")
    TxTable.append(spark, batch("uid % 3 = 0"), table)
    TxTable.append(spark, batch("uid % 3 != 0"), table)
    TxTable.compactAggregating(spark, table, Seq("g"),
      Map("u_s" -> "hll"))
    assert(TxTable.read(spark, table).count() == 2)
    graft.sink.TxFileIndex.readV2(spark, table)
      .createOrReplaceTempView("hll_tb")
    val est = Compat.chSql(spark, """
      SELECT g, uniqMerge(u_s) AS u FROM hll_tb
      GROUP BY g ORDER BY g""").collect().map(_.getLong(1))
    // 2500 distinct per group; HLL lgK=12 rsd ~1.6% -> 5 sigma = 8%
    est.foreach(e => assert(math.abs(e - 2500L) <= 200,
      s"HLL estimate $e too far from 2500"))
  }
}
