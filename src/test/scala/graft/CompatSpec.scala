package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.flow.{FlowConfig, FlowPipeline}
import graft.sql.Compat

/** A reference user's literal showcase query (README.md:180-184) must run
  * unchanged against the published compat table — same column names,
  * same functions (`formatReadableSize`, `today()`), same db-qualified
  * table name.
  */
class CompatSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("verbatim ClickHouse showcase query runs and returns live traffic") {
    // fixture traffic stamped 'now' so the query's today()/10-minute
    // window actually selects it
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val flows = Seq(
      (1L, now, "node-1", 6, 167772165L, 16777316L, 1, 2, 16777316L,
        2886729729L, 10L, 11L, 12L, 13L),
      (2L, now, "node-1", 6, 167772165L, 167772166L, 3, 4, 167772166L,
        167772165L, 20L, 2100L, 22L, 2300L))
      .toDF("flow_id", "ts", "node_name", "proto", "orig_src_ip",
        "orig_dst_ip", "orig_src_port", "orig_dst_port", "reply_src_ip",
        "reply_dst_ip", "orig_pkts", "orig_bytes", "reply_pkts", "reply_bytes")
    val pods = Seq(
      ("pod-a", "ns-a", 167772165L, "node-1", "appa", "inst-0"),
      ("pod-b", "ns-b", 167772166L, "node-1", "appb", "inst-1"))
      .toDF("pod_name", "pod_namespace", "pod_ip", "pod_node", "pod_app",
        "pod_instance")
    val nodes = Seq(("node-1", 2886729729L, "az-1"))
      .toDF("node_id", "node_internal_ip", "node_zone")
    val prefixes = Seq((16777216L, 16779263L, 21, "aws", "region-2", "svc-a"))
      .toDF("p_start", "p_end", "p_len", "p_cloud", "p_region", "p_service")

    val summed = FlowPipeline.run(flows, pods, nodes, prefixes, FlowConfig())
    Compat.publish(spark, summed)

    val result = spark.sql(
      """SELECT localPod, remotePod, connectionClass, formatReadableSize(sum(bytes))
        |FROM default.network_flows_0
        |WHERE date = today() AND intervalStartTime > NOW() - INTERVAL 10 MINUTES AND direction = 'out'
        |GROUP BY localPod, remotePod, connectionClass
        |ORDER BY sum(bytes) DESC""".stripMargin)
    val rows = result.collect()
    assert(result.columns.toSeq == Seq("localPod", "remotePod",
      "connectionClass", "formatReadableSize(sum(bytes))"))
    assert(rows.length == 2)
    // pod-a -> pod-b intra-vpc is the top out-talker (2100 B)
    assert(rows.head.getString(0) == "pod-a")
    assert(rows.head.getString(1) == "pod-b")
    assert(rows.head.getString(2) == "INTRA_VPC")
    assert(rows.head.getString(3) == "2.05 KiB")
    // the INTER_REGION classified flow is present too
    assert(rows.exists(_.getString(2) == "INTER_REGION"))
    // full 35-column DDL shape
    assert(spark.table("default.network_flows_0").columns.length == 35)
  }

  test("dialect pack: argMax/argMin/uniq/toStartOfMinute behave like " +
      "their ClickHouse counterparts") {
    Seq((1L, "a", 10L, "2024-03-01 10:02:31"),
      (2L, "b", 30L, "2024-03-01 10:02:59"),
      (3L, "c", 20L, "2024-03-01 10:03:01"))
      .toDF("id", "k", "v", "tss")
      .withColumn("ts", to_timestamp(col("tss")))
      .createOrReplaceTempView("compat_fn_spec")
    val r = spark.sql("""
      SELECT argMax(k, v) AS am, argMin(k, v) AS an,
        uniq(k) AS u, uniqExact(k) AS ue,
        MIN(toStartOfMinute(ts)) AS m0,
        sumIf(v, k = 'a') AS sa,
        countIf(v > 15) AS c15,
        MAX(if(v > 15, 'big', 'small')) AS mx,
        MAX(multiIf(v > 25, 'hi', v > 15, 'mid', 'lo')) AS mi,
        countIf(notEmpty(k)) AS ne,
        any(k) AS a1, anyLast(k) AS a2
      FROM compat_fn_spec""").collect().head
    assert(r.getAs[String]("am") == "b")
    assert(r.getAs[String]("an") == "a")
    assert(r.getAs[Long]("ue") == 3L)
    // uniq is the HLL sketch — approximate by ClickHouse contract, but
    // at 3 distinct values it must be exact
    assert(r.getAs[Long]("u") == 3L)
    assert(r.getAs[java.sql.Timestamp]("m0").toString
      == "2024-03-01 10:02:00.0")
    assert(r.getAs[Long]("sa") == 10L)
    assert(r.getAs[Long]("c15") == 2L)
    assert(r.getAs[String]("mx") == "small") // max('big','small') lexicographic
    assert(r.getAs[String]("mi") == "mid")   // {lo, hi, mid} → max = mid
    assert(r.getAs[Long]("ne") == 3L)
    // any/anyLast: CH contract is "some value" — assert membership only
    assert(Set("a", "b", "c")(r.getAs[String]("a1")))
    assert(Set("a", "b", "c")(r.getAs[String]("a2")))
    // sketch accuracy on real cardinalities: within 5% of exact over
    // the corpus's user_id set
    val e = spark.sql(
      s"""SELECT uniq(user_id) AS u, uniqExact(user_id) AS ue FROM
         |parquet.`$sf/events.parquet`""".stripMargin).collect().head
    val (u, ue) = (e.getAs[Long]("u"), e.getAs[Long]("ue"))
    assert(math.abs(u - ue) <= math.max(1L, ue / 20),
      s"uniq=$u vs exact=$ue drifts >5%")
  }

  test("round-6 dialect widening: quantile family, arrayJoin, dateDiff, " +
      "string/array/cast spellings behave like ClickHouse") {
    Seq((1L, "alpha", 10.0, "2024-03-01 10:00:00"),
      (2L, "beta", 20.0, "2024-03-02 11:30:00"),
      (3L, "gamma", 30.0, "2024-03-04 10:00:01"),
      (4L, "alpha", 40.0, "2024-03-05 23:59:59"))
      .toDF("id", "k", "v", "tss")
      .withColumn("ts", to_timestamp(col("tss")))
      .createOrReplaceTempView("compat_fn6")
    val r = spark.sql("""
      SELECT quantileExact(0.5, v) AS qe,
        median(v) AS md,
        quantile(0.5, v) AS qa,
        quantiles(0.25, 0.75, v) AS qs,
        stddevSamp(v) AS ss, varPop(v) AS vp,
        avgIf(v, k = 'alpha') AS av,
        minIf(v, k <> 'alpha') AS mn, maxIf(v, k <> 'alpha') AS mx,
        groupUniqArray(k) AS gu,
        arrayStringConcat(array_sort(groupArray(k)), '|') AS asc1,
        has(groupUniqArray(k), 'beta') AS hb,
        dateDiff(DAY, MIN(ts), MAX(ts)) AS dd,
        dateDiff(HOUR, MIN(ts), MAX(ts)) AS dh,
        MIN(toStartOfWeek(ts)) AS wk,
        MIN(toYYYYMM(ts)) AS ym,
        MIN(position(k, 'a')) AS pa,
        countIf(startsWith(k, 'al')) AS sw,
        countIf(endsWith(k, 'ta')) AS ew,
        intDiv(CAST(SUM(v) AS BIGINT), 3) AS idv,
        toString(MAX(id)) AS ts1, toInt32(MAX(v)) AS i32,
        toFloat64(MAX(id)) AS f64,
        ifNull(MAX(CAST(NULL AS STRING)), 'dflt') AS ifn,
        MAX(nullIf(k, 'gamma')) AS nif
      FROM compat_fn6""").collect().head
    assert(r.getAs[Double]("qe") == 25.0) // interpolated exact median
    assert(r.getAs[Double]("md") == 25.0)
    // the GK sketch at 4 values must land on an actual value near p50
    assert(Set(20.0, 30.0)(r.getAs[Double]("qa")))
    assert(r.getAs[scala.collection.Seq[Double]]("qs").size == 2)
    assert(math.abs(r.getAs[Double]("ss") - 12.909944487358056) < 1e-9)
    assert(r.getAs[Double]("vp") == 125.0)
    assert(r.getAs[Double]("av") == 25.0)
    assert(r.getAs[Double]("mn") == 20.0 && r.getAs[Double]("mx") == 30.0)
    assert(r.getAs[scala.collection.Seq[String]]("gu").toSet ==
      Set("alpha", "beta", "gamma"))
    assert(r.getAs[String]("asc1") == "alpha|alpha|beta|gamma")
    assert(r.getAs[Boolean]("hb"))
    // dateDiff is Spark's parser-owned builtin (unquoted unit — the CH
    // quoted spelling can't be intercepted by the registry, see the
    // Compat note): complete units between the endpoints —
    // 4d13h59m59s apart → 4 full days, 109 full hours
    assert(r.getAs[Long]("dd") == 4L)
    assert(r.getAs[Long]("dh") == 109L)
    assert(r.getAs[java.sql.Date]("wk").toString == "2024-02-26") // Monday
    assert(r.getAs[Int]("ym") == 202403)
    assert(r.getAs[Int]("pa") == 1) // 'a' in alpha at 1; min over keys
    assert(r.getAs[Long]("sw") == 2L && r.getAs[Long]("ew") == 1L)
    assert(r.getAs[Long]("idv") == 33L) // 100 div 3
    assert(r.getAs[String]("ts1") == "4")
    assert(r.getAs[Int]("i32") == 40)
    assert(r.getAs[Double]("f64") == 4.0)
    assert(r.getAs[String]("ifn") == "dflt")
    assert(r.getAs[String]("nif") == "beta") // gamma nulled away
    // array/string utility spellings
    val r2 = spark.sql("""
      SELECT arrayElement(array(10, 20, 30), 2) AS el,
        indexOf(array('a', 'b', 'c'), 'b') AS ix,
        arraySlice(array(1, 2, 3, 4), 2, 2) AS sl,
        arrayConcat(array(1), array(2, 3)) AS ac,
        arrayPushBack(array(1, 2), 9) AS pb,
        lengthUTF8('héllo') AS lu,
        substringUTF8('héllo', 2, 3) AS su,
        lowerUTF8('ÄB') AS lo, upperUTF8('äb') AS up,
        trimBoth('  x  ') AS tb, trimLeft('  x') AS tl,
        trimRight('x  ') AS tr2,
        splitByChar('.', 'a.b.c') AS sp,
        uniqExactIf(v, v > 1) AS ue
      FROM (SELECT explode(array(1, 2, 2, 3)) AS v)""").collect().head
    assert(r2.getAs[Int]("el") == 20 && r2.getAs[Long]("ix") == 2L)
    assert(r2.getAs[scala.collection.Seq[Int]]("sl") == Seq(2, 3))
    assert(r2.getAs[scala.collection.Seq[Int]]("ac") == Seq(1, 2, 3))
    assert(r2.getAs[scala.collection.Seq[Int]]("pb") == Seq(1, 2, 9))
    assert(r2.getAs[Int]("lu") == 5)
    assert(r2.getAs[String]("su") == "éll")
    assert(r2.getAs[String]("lo") == "äb" && r2.getAs[String]("up") == "ÄB")
    assert(r2.getAs[String]("tb") == "x" && r2.getAs[String]("tl") == "x"
      && r2.getAs[String]("tr2") == "x")
    assert(r2.getAs[scala.collection.Seq[String]]("sp") == Seq("a", "b", "c"))
    assert(r2.getAs[Long]("ue") == 2L) // distinct of {2,2,3}
    // toUInt32 wraps mod 2^32, CH unsigned semantics (negatives
    // reinterpret; >32-bit inputs truncate); toUInt64 keeps the signed
    // value in [0, 2^63) and deviates (documented) on negatives
    val r2b = spark.sql("""
      SELECT toUInt32(-1) AS u32n, toUInt32(4294967296 + 7) AS u32w,
        toUInt32(42) AS u32, toUInt64(42) AS u64
      FROM (SELECT 1)""").collect().head
    assert(r2b.getAs[Long]("u32n") == 4294967295L)
    assert(r2b.getAs[Long]("u32w") == 7L)
    assert(r2b.getAs[Long]("u32") == 42L && r2b.getAs[Long]("u64") == 42L)
    // WITH TOTALS: per-group rows + ONE all-groups totals row (NULL
    // keys — documented deviation from CH's type-default keys)
    Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v")
      .createOrReplaceTempView("compat_tot")
    val tot = graft.sql.Compat.chSql(spark,
      "SELECT k, count() AS n, SUM(v) AS s FROM compat_tot " +
        "GROUP BY k WITH TOTALS ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(tot.toSeq == Seq((null, 3L, 13L), ("a", 2L, 3L), ("b", 1L, 10L)))
    // the TOTALS rewrite must anchor on the OUTER group by: an inner
    // GROUP BY in a subquery before it used to be captured across the
    // subquery boundary, emitting invalid SQL (round-7 advice)
    val tot2 = graft.sql.Compat.chSql(spark,
      "SELECT x, count() AS n FROM (SELECT k AS x, SUM(v) AS sv " +
        "FROM compat_tot GROUP BY k) sub " +
        "GROUP BY x WITH TOTALS ORDER BY x")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(tot2.toSeq == Seq((null, 2L), ("a", 1L), ("b", 1L)),
      s"inner GROUP BY before outer WITH TOTALS must rewrite correctly: " +
        tot2.mkString(","))
    // WITH ROLLUP / WITH CUBE map onto Spark's own modifiers
    assert(Compat.translateCh(
      "SELECT k, count() FROM t GROUP BY k, j WITH ROLLUP")
      == "SELECT k, count(*) FROM t GROUP BY ROLLUP (k, j)")
    assert(Compat.translateCh(
      "SELECT k, count() FROM t GROUP BY k, j WITH CUBE")
      == "SELECT k, count(*) FROM t GROUP BY CUBE (k, j)")
    val rup = graft.sql.Compat.chSql(spark,
      "SELECT k, SUM(v) AS s FROM compat_tot GROUP BY k WITH ROLLUP " +
        "ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rup.toSeq == Seq((null, 13L), ("a", 3L), ("b", 10L)))
    // arrayJoin is the row-multiplying unnest (CH semantics)
    val n = spark.sql(
      "SELECT arrayJoin(array(1, 2, 3)) AS x FROM (SELECT 1)").count()
    assert(n == 3L)
    // now() resolves (value asserted only to be recent-ish)
    val t = spark.sql("SELECT now() AS t").collect().head
      .getAs[java.sql.Timestamp]("t")
    assert(math.abs(t.getTime - System.currentTimeMillis()) < 60000L)
  }

  test("CH syntax shim: parametric calls flatten, count() and FORMAT " +
      "normalize, strings and non-parametric groups survive verbatim") {
    import Compat.translateCh
    assert(translateCh("SELECT quantile(0.5)(v) FROM t")
      == "SELECT quantile(0.5, v) FROM t")
    assert(translateCh("SELECT quantiles(0.25, 0.75)(v + f(x)) FROM t")
      == "SELECT quantiles(0.25, 0.75, v + f(x)) FROM t")
    // nested parens inside the parameter group
    assert(translateCh("SELECT quantileExact(least(0.5, p))(v) FROM t")
      == "SELECT quantileExact(least(0.5, p), v) FROM t")
    // parens inside a string parameter stay inert
    assert(translateCh("SELECT sequenceMatch('(?1)(?2)')(ts, a, b) FROM t")
      == "SELECT sequenceMatch('(?1)(?2)', ts, a, b) FROM t")
    assert(translateCh("SELECT count() FROM t") == "SELECT count(*) FROM t")
    assert(translateCh("SELECT count(DISTINCT x) FROM t")
      == "SELECT count(DISTINCT x) FROM t")
    assert(translateCh("SELECT x FROM t FORMAT JSONEachRow")
      == "SELECT x FROM t")
    assert(translateCh("SELECT x FROM t FORMAT TabSeparated;")
      == "SELECT x FROM t")
    // a string mentioning FORMAT mid-query is not a clause
    assert(translateCh("SELECT 'FORMAT JSON' AS s FROM t")
      == "SELECT 'FORMAT JSON' AS s FROM t")
    // PREWHERE folds into WHERE (alone, merged, nested-passthrough)
    assert(translateCh("SELECT x FROM t PREWHERE a > 1 GROUP BY x")
      == "SELECT x FROM t WHERE a > 1 GROUP BY x")
    assert(translateCh("SELECT x FROM t PREWHERE a = 1 WHERE b < 2 ORDER BY x")
      == "SELECT x FROM t WHERE (a = 1) AND (b < 2) ORDER BY x")
    assert(translateCh("SELECT x FROM t PREWHERE a")
      == "SELECT x FROM t WHERE a ")
    // nested PREWHERE (inside parens) is not rewritten — it reaches
    // Spark's parser and fails loudly instead of being mangled
    assert(translateCh("SELECT x FROM (SELECT y FROM t PREWHERE a) s")
      == "SELECT x FROM (SELECT y FROM t PREWHERE a) s")
    assert(translateCh("SELECT 'PREWHERE x' AS s FROM t")
      == "SELECT 'PREWHERE x' AS s FROM t")
    // GLOBAL distribution modifiers drop; a `global` column survives
    assert(translateCh("SELECT x FROM t WHERE y GLOBAL IN (SELECT z FROM u)")
      == "SELECT x FROM t WHERE y IN (SELECT z FROM u)")
    assert(translateCh("SELECT x FROM t GLOBAL LEFT JOIN u ON t.a = u.a")
      == "SELECT x FROM t LEFT JOIN u ON t.a = u.a")
    assert(translateCh("SELECT global FROM t WHERE global > 1")
      == "SELECT global FROM t WHERE global > 1")
    // non-parametric adjacency untouched (a lambda call, a cast chain)
    assert(translateCh("SELECT (a)(b) FROM t") == "SELECT (a)(b) FROM t")
    assert(translateCh("SELECT quantile(0.5) FROM t")
      == "SELECT quantile(0.5) FROM t") // no second group → plain call
    // end-to-end: literal CH text through chSql
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
      .createOrReplaceTempView("compat_param")
    val r = Compat.chSql(spark, """
      SELECT quantileExact(0.5)(v) AS med, count() AS n
      FROM compat_param FORMAT Pretty""").collect().head
    assert(r.getDouble(0) == 20.0 && r.getLong(1) == 3L)
  }

  test("hostile input: literals, quoted names and comments reach Spark " +
      "unchanged, and a comment hides no clause") {
    def probe(lit: String, from: String = "") =
      Compat.chSql(spark, s"SELECT $lit AS s$from").collect().head.get(0)
    // clause shapes inside a string literal are data, not clauses
    Seq("x GROUP BY a WITH TOTALS", "t ARRAY JOIN arr AS e", "numbers(3)",
      "ORDER BY a LIMIT 1 BY b").foreach { v =>
      assert(probe(s"'$v'") == v)
    }
    // the apostrophe in a line comment opens no string: the count()
    // and the WITH TOTALS on the next line still rewrite
    Seq("a", "b").toDF("k").createOrReplaceTempView("hostile_t")
    val tot = Compat.chSql(spark, "SELECT 'x' AS s -- it's a comment\n" +
      "  , k, count() AS n FROM hostile_t GROUP BY k WITH TOTALS ORDER BY k")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(tot.toSeq == Seq(("x", null, 2L), ("x", "a", 1L), ("x", "b", 1L)))
    // a hint stays a hint
    val hinted = Compat.chSql(spark,
      "SELECT /*+ BROADCAST(t) */ 'v' AS s FROM (SELECT 1 AS a) t")
    assert(hinted.queryExecution.logical.exists {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint =>
        h.name.equalsIgnoreCase("BROADCAST")
      case _ => false
    }, hinted.queryExecution.logical)
    assert(hinted.collect().head.getString(0) == "v")
    // a backticked column named like a table function is a name
    assert(probe("`numbers(3)`", " FROM (SELECT 'v' AS `numbers(3)`)") == "v")
    assert(Compat.translateCh("SELECT `numbers(3)` FROM t")
      == "SELECT `numbers(3)` FROM t")
  }

  test("SAMPLE keys and FINAL views belong to the registering session") {
    val child = spark.newSession()
    Seq(spark, child).foreach { s =>
      s.range(1, 401).toDF("id").createOrReplaceTempView("scope_docs")
      s.createDataFrame(Seq((java.sql.Date.valueOf("2024-06-01"), "k1", 1L),
        (java.sql.Date.valueOf("2024-06-01"), "k1", 2L)))
        .toDF("date", "k", "ver").createOrReplaceTempView("scope_repl")
    }
    Compat.registerSamplingKey(spark, "scope_docs", "id")
    Compat.registerReplacing(spark, "scope_repl", Seq("k"), "ver")
    def sampled(s: org.apache.spark.sql.SparkSession) = Compat.chSql(s,
      "SELECT count() FROM scope_docs SAMPLE 0.25").collect().head.getLong(0)
    def finalRows(s: org.apache.spark.sql.SparkSession) =
      Compat.chSql(s, "SELECT ver FROM scope_repl FINAL").count()
    val (n, f) = (sampled(spark), finalRows(spark))
    assert(n > 50 && n < 150 && f == 1L, (n, f))
    // the child never saw the registrations: SAMPLE stays CH syntax
    // and fails in the parser, and FINAL is refused, not read as a
    // table alias over both versions
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      sampled(child))
    val e = intercept[IllegalArgumentException](finalRows(child))
    assert(e.getMessage.contains("scope_repl FINAL"), e.getMessage)
    // the clauses inside literals are neither rewritten nor refused
    assert(Compat.chSql(child, "SELECT 'FROM x FINAL' AS f, " +
      "'t SAMPLE 0.5' AS s FROM scope_docs LIMIT 1").collect().head
      .toSeq == Seq("FROM x FINAL", "t SAMPLE 0.5"))
    assert(sampled(spark) == n && finalRows(spark) == f)
  }

  test("round-11 clause shims: ARRAY JOIN, LIMIT BY, SAMPLE, FINAL") {
    import Compat.translateCh

    // ARRAY JOIN clause → LATERAL VIEW explode (LEFT → OUTER)
    assert(translateCh(
      "SELECT id, t FROM docs ARRAY JOIN splitByChar(' ', text) AS t WHERE t != ''")
      == "SELECT id, t FROM docs LATERAL VIEW explode(splitByChar(' ', text))" +
        " __aj AS t WHERE t != ''")
    assert(translateCh("SELECT id, x FROM t LEFT ARRAY JOIN arr AS x")
      == "SELECT id, x FROM t LATERAL VIEW OUTER explode(arr) __aj AS x")

    // LIMIT BY → hidden ROW_NUMBER window over the query's own ORDER BY
    val lb = translateCh(
      "SELECT a, b FROM t ORDER BY a, b DESC LIMIT 2 BY a LIMIT 10")
    assert(lb == "SELECT * EXCEPT(__lb) FROM (SELECT *, ROW_NUMBER() OVER " +
      "(PARTITION BY a ORDER BY a, b DESC) AS __lb FROM (SELECT a, b FROM t)" +
      " __lbq) WHERE __lb <= 2 ORDER BY a, b DESC LIMIT 10")
    // no ORDER BY → untouched (fails loudly downstream, never mangled);
    // a subquery's ORDER BY is not a valid anchor either
    assert(translateCh("SELECT a FROM t LIMIT 2 BY a")
      == "SELECT a FROM t LIMIT 2 BY a")

    // SAMPLE: only tables with a key registered in the session rewrite
    Compat.registerSamplingKey(spark, "sample_docs", "id")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      Compat.chSql(spark, "SELECT count() FROM unregistered SAMPLE 0.5"))

    // end-to-end over real frames
    Seq((1L, "alpha beta"), (2L, "gamma")).toDF("id", "text")
      .createOrReplaceTempView("aj_docs")
    val toks = Compat.chSql(spark,
      "SELECT id, t FROM aj_docs ARRAY JOIN splitByChar(' ', text) AS t " +
        "ORDER BY id, t").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(toks.toSeq == Seq((1L, "alpha"), (1L, "beta"), (2L, "gamma")))

    Seq((1, "a", 10), (1, "b", 20), (1, "c", 30), (2, "d", 5))
      .toDF("g", "k", "v").createOrReplaceTempView("lb_t")
    val top2 = Compat.chSql(spark,
      "SELECT g, k, v FROM lb_t ORDER BY g, v DESC LIMIT 2 BY g")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(top2.toSeq == Seq((1, "c"), (1, "b"), (2, "d")),
      "first-2-per-group in the query's own order")

    (1L to 400L).toDF("id").createOrReplaceTempView("sample_docs")
    val n1 = Compat.chSql(spark,
      "SELECT count() AS n FROM sample_docs SAMPLE 0.25")
      .collect().head.getLong(0)
    val n2 = Compat.chSql(spark,
      "SELECT count() AS n FROM sample_docs SAMPLE 0.25")
      .collect().head.getLong(0)
    assert(n1 == n2, "sampling must be deterministic across runs")
    assert(n1 > 50 && n1 < 150, s"~25% of 400 expected, got $n1")
    assert(n1 == spark.sql("SELECT count(*) FROM sample_docs " +
      "WHERE substring(md5(cast(id AS STRING)), 1, 4) < '4000'")
      .collect().head.getLong(0))

    // FINAL: keep-latest == the engine's own readFinal collapse
    val dts = java.sql.Date.valueOf("2024-06-01")
    Seq((dts, "k1", 1L, "old"), (dts, "k1", 2L, "new"),
      (dts, "k2", 5L, "only"))
      .toDF("date", "k", "ver", "payload")
      .createOrReplaceTempView("repl_t")
    Compat.registerReplacing(spark, "repl_t", Seq("k"), "ver")
    val fin = Compat.chSql(spark,
      "SELECT k, payload FROM repl_t FINAL ORDER BY k")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(fin.toSeq == Seq(("k1", "new"), ("k2", "only")))
    // and without FINAL the duplicates are still visible
    assert(Compat.chSql(spark, "SELECT count() AS n FROM repl_t")
      .collect().head.getLong(0) == 3L)
  }

  test("WITH FILL: gap rows appear over integral and date axes, " +
      "literal FROM/TO/STEP bounds honored, unsupported shapes pass " +
      "through to the parser") {
    Seq((1L, 10L), (4L, 40L), (7L, 70L)).toDF("x", "v")
      .createOrReplaceTempView("wf_t")
    val filled = Compat.chSql(spark,
      "SELECT x, sum(v) AS v FROM wf_t GROUP BY x ORDER BY x WITH FILL")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getLong(1)))
    assert(filled.toSeq == Seq((1L, 10L), (2L, -1L), (3L, -1L),
      (4L, 40L), (5L, -1L), (6L, -1L), (7L, 70L)))
    val bounded = Compat.chSql(spark,
      "SELECT x, sum(v) AS v FROM wf_t GROUP BY x " +
        "ORDER BY x WITH FILL FROM 0 TO 9 STEP 3")
      .collect().map(_.getLong(0))
    assert(bounded.toSeq == Seq(0L, 3L, 6L, 9L))
    val dts = Seq(("2024-06-01", 1L), ("2024-06-04", 2L))
      .map { case (dd, v) => (java.sql.Date.valueOf(dd), v) }
      .toDF("day", "v")
    dts.createOrReplaceTempView("wf_d")
    val days = Compat.chSql(spark,
      "SELECT day, sum(v) AS v FROM wf_d GROUP BY day " +
        "ORDER BY day WITH FILL").collect()
    assert(days.length == 4 && days(1).isNullAt(1) && days(2).isNullAt(1))
    // multi-column ORDER BY before WITH FILL: conservative passthrough
    intercept[Exception] {
      Compat.chSql(spark,
        "SELECT x, v FROM wf_t ORDER BY v, x WITH FILL").collect()
    }
  }

  test("round-11 small exact spellings: avgWeighted, array folds, " +
      "countEqual, groupBit*") {
    Seq((10.0, 1.0, Seq(1L, 2L, 2L, 5L), 6L),
      (20.0, 3.0, Seq(4L, 2L), 3L))
      .toDF("v", "w", "arr", "b").createOrReplaceTempView("cx_t")
    val agg = Compat.chSql(spark, """
      SELECT avgWeighted(v, w) AS aw, groupBitAnd(b) AS ba,
        groupBitOr(b) AS bo, groupBitXor(b) AS bx
      FROM cx_t""").collect().head
    assert(agg.getDouble(0) == (10.0 + 60.0) / 4.0)
    assert(agg.getLong(1) == 2L && agg.getLong(2) == 7L &&
      agg.getLong(3) == 5L)
    val rows = Compat.chSql(spark, """
      SELECT arraySum(arr) AS s, arrayMin(arr) AS lo,
        arrayMax(arr) AS hi, countEqual(arr, 2) AS c2
      FROM cx_t ORDER BY s""").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq == Seq((6L, 2L, 4L, 1L), (10L, 1L, 5L, 2L)))
  }

  test("round-12 spellings: lambda-first array functions, regex/string, " +
      "date arithmetic, bitwise, base64") {
    Seq((Seq(1L, 2L, 3L, 4L), "banana", 12L,
        java.sql.Timestamp.valueOf("2024-03-05 10:17:30")),
      (Seq(5L, 5L, 6L), "apple", 200L,
        java.sql.Timestamp.valueOf("2024-03-05 23:59:59")))
      .toDF("arr", "s", "b", "ts").createOrReplaceTempView("cx_hof")
    val r = Compat.chSql(spark, """
      SELECT arrayMap(x -> x * 10, arr) AS m,
        arrayFilter(x -> x % 2 = 0, arr) AS fl,
        arrayCount(x -> x > 2, arr) AS c,
        arrayExists(x -> x = 6, arr) AS ex,
        arrayAll(x -> x < 10, arr) AS al,
        arrayElement(arrayFilter(x -> x > 3, arr), 1) AS fi,
        arrayUniq(arr) AS u,
        arrayReverse(arr) AS rv,
        hasAny(arr, arrayConcat(arr, arr)) AS ha,
        hasAll(arr, arrayDistinct(arr)) AS hl,
        arrayEnumerate(arr) AS en
      FROM cx_hof ORDER BY b""").collect()
    assert(r(0).getSeq[Long](0) == Seq(10L, 20L, 30L, 40L))
    assert(r(0).getSeq[Long](1) == Seq(2L, 4L))
    assert(r(0).getLong(2) == 2L && r(1).getLong(2) == 3L)
    assert(!r(0).getBoolean(3) && r(1).getBoolean(3))
    assert(r(0).getBoolean(4))
    assert(r(0).getLong(5) == 4L)
    assert(r(0).getLong(6) == 4L && r(1).getLong(6) == 2L)
    assert(r(0).getSeq[Long](7) == Seq(4L, 3L, 2L, 1L))
    assert(r(0).getBoolean(8) && r(0).getBoolean(9))
    assert(r(1).getSeq[Int](10) == Seq(1, 2, 3))
    val r2 = Compat.chSql(spark, """
      SELECT replaceAll(s, 'a', '_') AS ra,
        replaceRegexpAll(s, '[aeiou]', '.') AS rr,
        match(s, '^ban') AS mt,
        extract(s, 'an(a?)n') AS exg,
        extract(s, '[b-p]+') AS exw,
        bitAnd(b, 10) AS ba, bitOr(b, 1) AS bo, bitXor(b, 6) AS bx,
        bitNot(b) AS bn, bitShiftLeft(b, 2) AS bsl,
        bitShiftRight(b, 1) AS bsr, modulo(b, 7) AS md,
        base64Decode(base64Encode(s)) AS b64,
        dateDiff('minute', toStartOfHour(ts), ts) AS dm,
        toUnixTimestamp(addDays(ts, 2)) - toUnixTimestamp(ts) AS ad,
        toUnixTimestamp(subtractHours(ts, 3)) - toUnixTimestamp(ts) AS sh
      FROM cx_hof ORDER BY b""").collect()
    val x = r2(0)
    assert(x.getString(0) == "b_n_n_" && x.getString(1) == "b.n.n.")
    assert(x.getBoolean(2))
    assert(x.getString(3) == "a", "first subpattern when a group exists")
    assert(x.getString(4) == "b", "whole match when no group")
    assert(x.getLong(5) == 8L && x.getLong(6) == 13L && x.getLong(7) == 10L)
    assert(x.getLong(8) == ~12L && x.getLong(9) == 48L && x.getLong(10) == 6L)
    assert(x.getLong(11) == 5L)
    assert(x.getString(12) == "banana")
    assert(x.getLong(13) == 17L)
    assert(x.getLong(14) == 2L * 86400L && x.getLong(15) == -3L * 3600L)
  }

  test("round-12: numbers() table function and fixed-width time buckets") {
    val n = Compat.chSql(spark,
      "SELECT sum(number) AS s, count() AS c FROM numbers(10)")
      .collect().head
    assert(n.getLong(0) == 45L && n.getLong(1) == 10L)
    val n2 = Compat.chSql(spark,
      "SELECT min(number) AS lo, max(number) AS hi FROM numbers(5, 3)")
      .collect().head
    assert(n2.getLong(0) == 5L && n2.getLong(1) == 7L)
    Seq(java.sql.Timestamp.valueOf("2024-03-05 10:47:31"))
      .toDF("ts").createOrReplaceTempView("cx_buckets")
    val b = Compat.chSql(spark, """
      SELECT toStartOfFifteenMinutes(ts) AS q15,
        toStartOfInterval(ts, INTERVAL 5 MINUTE) AS i5,
        toStartOfInterval(ts, INTERVAL 2 HOUR) AS i2h,
        toStartOfInterval(ts, INTERVAL 1 MONTH) AS im
      FROM cx_buckets""").collect().head
    assert(b.getTimestamp(0).toString == "2024-03-05 10:45:00.0")
    assert(b.getTimestamp(1).toString == "2024-03-05 10:45:00.0")
    assert(b.getTimestamp(2).toString == "2024-03-05 10:00:00.0")
    assert(b.getTimestamp(3).toString == "2024-03-01 00:00:00.0")
    val bad = intercept[Exception](Compat.chSql(spark,
      "SELECT toStartOfInterval(ts, INTERVAL 2 MONTH) FROM cx_buckets")
      .collect())
    assert(bad.getMessage.contains("2-month"))
  }

  test("round-12: sumMap/minMap/maxMap combine values per key") {
    Seq((Seq(1L, 2L), Seq(10L, 20L)),
      (Seq(2L, 3L), Seq(5L, 7L)),
      (Seq(1L), Seq(100L)))
      .toDF("ks", "vs").createOrReplaceTempView("cx_map")
    val r = Compat.chSql(spark, """
      SELECT sumMap(ks, vs).keys AS k,
        sumMap(ks, vs).vals AS s,
        minMap(ks, vs).vals AS mn,
        maxMap(ks, vs).vals AS mx
      FROM cx_map""").collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(r.getSeq[Long](1) == Seq(110L, 25L, 7L))
    assert(r.getSeq[Long](2) == Seq(10L, 5L, 7L),
      "minMap must never see a phantom 0 for an absent key")
    assert(r.getSeq[Long](3) == Seq(100L, 20L, 7L))
    // string keys sort ascending, double values sum
    Seq((Seq("b", "a"), Seq(1.5, 2.5)), (Seq("a"), Seq(1.0)))
      .toDF("ks", "vs").createOrReplaceTempView("cx_map2")
    val r2 = Compat.chSql(spark,
      "SELECT sumMap(ks, vs).keys AS k, sumMap(ks, vs).vals AS s" +
        " FROM cx_map2").collect().head
    assert(r2.getSeq[String](0) == Seq("a", "b"))
    assert(r2.getSeq[Double](1) == Seq(3.5, 1.5))
  }

  test("round-12: array math, CH transform value-mapping, topKWeighted") {
    Seq((Seq(1L, 4L, 9L), 6L, 3L), (Seq(2L, 2L), 6L, 1L),
      (Seq(10L), 8L, 5L))
      .toDF("arr", "x", "w").createOrReplaceTempView("cx_am")
    val r = Compat.chSql(spark, """
      SELECT arrayAvg(arr) AS av, arrayProduct(arr) AS pr,
        arrayDifference(arr) AS df,
        arrayZip(arr, arrayReverse(arr)) AS zp,
        transform(x, array(6, 7), array(60, 70), -1) AS tr4,
        transform(x, array(7), array(70)) AS tr3,
        transform(arr, e -> e + 1) AS hof
      FROM cx_am ORDER BY x, av""").collect()
    assert(r(0).getDouble(0) == 2.0 && r(1).getDouble(0) == (14.0 / 3))
    assert(r(1).getDouble(1) == 36.0)
    assert(r(1).getSeq[Long](2) == Seq(0L, 3L, 5L))
    assert(r(1).getSeq[org.apache.spark.sql.Row](3)
      .map(t => (t.getLong(0), t.getLong(1))) == Seq((1L, 9L), (4L, 4L), (9L, 1L)))
    assert(r(0).getInt(4) == 60 && r(1).getInt(4) == 60 &&
      r(2).getInt(4) == -1, "4-arg transform maps with default")
    assert(r(0).getLong(5) == 6L && r(2).getLong(5) == 8L,
      "3-arg transform defaults to x itself")
    assert(r(1).getSeq[Long](6) == Seq(2L, 5L, 10L),
      "2-arg transform stays Spark's higher-order map")
    // topKWeighted: weights dominate raw row counts
    Seq(("a", 1L), ("b", 10L), ("a", 1L), ("c", 3L))
      .toDF("k", "w").createOrReplaceTempView("cx_tkw")
    val tw = Compat.chSql(spark,
      "SELECT topKWeighted(2)(k, w) AS t FROM cx_tkw").collect().head
    assert(tw.getSeq[String](0) == Seq("b", "c"))
  }

  test("round-12: URL functions and remaining string/regex spellings") {
    Seq("https://www.news.example.co/a/b.html?q=spark&lang=en#frag",
      "http://cdn.example.com/img.png", "not a url")
      .toDF("u").createOrReplaceTempView("cx_url")
    val r = Compat.chSql(spark, """
      SELECT protocol(u) AS pr, domain(u) AS dm,
        domainWithoutWWW(u) AS dw, topLevelDomain(u) AS tld,
        path(u) AS pa, queryString(u) AS qs, fragment(u) AS fr,
        extractURLParameter(u, 'lang') AS lg,
        cutFragment(u) AS cf, cutQueryStringAndFragment(u) AS cq
      FROM cx_url ORDER BY u DESC""").collect()
    val a = r(1) // the https url ('not a url' sorts first DESC)
    assert(a.getString(0) == "https" && a.getString(1) == "www.news.example.co")
    assert(a.getString(2) == "news.example.co" && a.getString(3) == "co")
    assert(a.getString(4) == "/a/b.html")
    assert(a.getString(5) == "q=spark&lang=en" && a.getString(6) == "frag")
    assert(a.getString(7) == "en")
    assert(a.getString(8) ==
      "https://www.news.example.co/a/b.html?q=spark&lang=en")
    assert(a.getString(9) == "https://www.news.example.co/a/b.html")
    assert(r(0).getString(1) == "", "a non-URL reads as empty, not null")
    val s = Compat.chSql(spark, """
      SELECT splitByString('][', 'a][bb][c') AS sp,
        extractAll('a1b22c333', '[0-9]+') AS ea,
        extractAll('k=1;k=22', 'k=([0-9]+)') AS eg,
        countMatches('a1b22c333', '[0-9]+') AS cm,
        multiSearchAny('the quick fox', array('cat', 'qui')) AS ms,
        multiSearchAny('the quick fox', array('cat', 'dog')) AS ms2
      FROM numbers(1)""").collect().head
    assert(s.getSeq[String](0) == Seq("a", "bb", "c"))
    assert(s.getSeq[String](1) == Seq("1", "22", "333"))
    assert(s.getSeq[String](2) == Seq("1", "22"))
    assert(s.getInt(3) == 3)
    assert(s.getBoolean(4) && !s.getBoolean(5))
  }

  test("round-12: quantileExactWeighted, groupArrayIf, uniqIf") {
    Seq((10.0, 1L, "a"), (20.0, 3L, "b"), (30.0, 1L, "a"))
      .toDF("v", "w", "k").createOrReplaceTempView("cx_qw")
    val r = Compat.chSql(spark, """
      SELECT quantileExactWeighted(0.5)(v, w) AS qw,
        array_sort(groupArrayIf(v, k = 'a')) AS ga,
        uniqIf(k, v > 15) AS u
      FROM cx_qw""").collect().head
    // weighted population (10, 20, 20, 20, 30): median = 20 exactly
    assert(r.getDouble(0) == 20.0)
    assert(r.getSeq[Double](1) == Seq(10.0, 30.0))
    assert(r.getLong(2) == 2L)
  }

  test("round-13: arrayFirst/arrayLast/arrayFirstIndex, empty " +
      "arrayDifference, non-capturing-group extract") {
    val r = Compat.chSql(spark, """
      SELECT arrayFirst(x -> x > 2, array(1,2,3,4)) AS f,
        arrayLast(x -> x > 2, array(1,2,3,4)) AS l,
        arrayFirstIndex(x -> x > 2, array(1,2,3,4)) AS i,
        arrayFirst(x -> x > 9, array(1,2,3)) AS none_f,
        arrayFirstIndex(x -> x > 9, array(1,2,3)) AS none_i,
        arrayFirst(x -> x like 'b%', array('ap','ban','be')) AS sf,
        arrayDifference(array(1,3,6)) AS ad,
        arrayDifference(slice(array(1),1,0)) AS ade,
        extract('hello123world', '(?:[a-z]+)(\\d+)') AS g1,
        extract('abc', '(?:abc)') AS g0""").collect().head
    assert(r.getInt(0) == 3 && r.getInt(1) == 4 && r.getLong(2) == 3L)
    // documented NULL-fill deviation: no match -> NULL element, 0 index
    assert(r.isNullAt(3) && r.getLong(4) == 0L)
    assert(r.getString(5) == "ban")
    assert(r.getSeq[Int](6) == Seq(0, 2, 3))
    assert(r.getSeq[Int](7) == Seq.empty)
    // Pattern.groupCount decides group 1 vs whole-match, so (?:...)
    // is NOT miscounted as a capture group
    assert(r.getString(8) == "123" && r.getString(9) == "abc")
  }

  test("round-13: dateDiff counts unit-boundary crossings (CH/DuckDB " +
      "contract), including NON-boundary starts") {
    val r = Compat.chSql(spark, """
      SELECT
        dateDiff('day',  toDateTime('2024-01-01 23:00:00'),
                         toDateTime('2024-01-02 01:00:00')) AS d1,
        dateDiff('hour', toDateTime('2024-01-01 10:59:00'),
                         toDateTime('2024-01-01 11:01:00')) AS h1,
        dateDiff('month', toDateTime('2024-01-31 00:00:00'),
                          toDateTime('2024-02-01 00:00:00')) AS m1,
        dateDiff('day',  toDateTime('2024-01-02 01:00:00'),
                         toDateTime('2024-01-01 23:00:00')) AS dneg,
        dateDiff('day',  toDateTime('2024-01-01 01:00:00'),
                         toDateTime('2024-01-01 23:59:59')) AS dzero
      """).collect().head
    // complete-elapsed-units semantics would give 0, 0, 0 for the
    // first three — boundary-crossing gives 1, 1, 1 (and stays
    // antisymmetric / zero within one unit)
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(r.getLong(3) == -1L && r.getLong(4) == 0L)
  }

  test("round-13: running family (runningDifference, neighbor, " +
      "lagInFrame/leadInFrame) and groupArrayMovingSum/Avg") {
    spark.range(10)
      .selectExpr("id % 2 AS g", "id AS t", "cast(id*id as long) AS v")
      .createOrReplaceTempView("cx_rr")
    val rows = Compat.chSql(spark, """
      SELECT g, t,
        runningDifference(v) OVER (PARTITION BY g ORDER BY t) AS rd,
        neighbor(v, 1, -1) OVER (PARTITION BY g ORDER BY t) AS nb,
        neighbor(v, -2) OVER (PARTITION BY g ORDER BY t) AS nb2,
        lagInFrame(v, 1, 0) OVER (PARTITION BY g ORDER BY t) AS lif,
        leadInFrame(v) OVER (PARTITION BY g ORDER BY t) AS ldf
      FROM cx_rr WHERE g = 0 ORDER BY t""").collect()
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 4L, 12L, 20L, 28L))
    assert(rows.map(_.getLong(3)).toSeq == Seq(4L, 16L, 36L, 64L, -1L))
    assert(rows.take(2).forall(_.isNullAt(4)) && rows(2).getLong(4) == 0L)
    assert(rows.map(_.getLong(5)).toSeq == Seq(0L, 0L, 4L, 16L, 36L))
    assert(rows.last.isNullAt(6) && rows.head.getLong(6) == 4L)
    // ordered golden: arrival order is only a contract the caller can
    // pin (CH and groupArray alike), so feed ONE pre-sorted partition
    spark.table("cx_rr").filter("g = 0").coalesce(1)
      .sortWithinPartitions("t").createOrReplaceTempView("cx_rr1")
    val ms = Compat.chSql(spark, """
      SELECT g, groupArrayMovingSum(v2) AS ms,
        groupArrayMovingSum(2)(v2) AS ms2,
        groupArrayMovingAvg(2)(v2) AS ma2
      FROM (SELECT g, v AS v2 FROM cx_rr1)
      GROUP BY g""").collect().head
    assert(ms.getSeq[Double](1) == Seq(0.0, 4.0, 20.0, 56.0, 120.0))
    assert(ms.getSeq[Double](2) == Seq(0.0, 4.0, 20.0, 52.0, 100.0))
    assert(ms.getSeq[Double](3) == Seq(0.0, 2.0, 10.0, 26.0, 50.0))
    val cs = Compat.chSql(spark,
      "SELECT arrayCumSum(array(1, 2, 3)) AS c1," +
        " arrayCumSum(slice(array(1), 1, 0)) AS c0").collect().head
    assert(cs.getSeq[Double](0) == Seq(1.0, 3.0, 6.0))
    assert(cs.getSeq[Double](1) == Seq.empty)
  }

  test("round-13: calendar/array/map/string round-out — toMonday, " +
      "toLastDayOfMonth, age(), push/pop, mapKeys/Values, " +
      "countSubstrings") {
    val r = Compat.chSql(spark, """
      SELECT
        toMonday(toDateTime('2024-03-07 15:00:00')) AS mon,
        toLastDayOfMonth(toDateTime('2024-02-10 00:00:00')) AS eom,
        age('day',  toDateTime('2024-01-01 23:00:00'),
                    toDateTime('2024-01-02 01:00:00')) AS age_d,
        age('hour', toDateTime('2024-01-01 10:00:00'),
                    toDateTime('2024-01-01 13:30:00')) AS age_h,
        arrayPushFront(array(2, 3), 1) AS pf,
        arrayPopBack(array(1, 2, 3)) AS pb,
        arrayPopFront(array(1, 2, 3)) AS pfr,
        arrayPopBack(slice(array(1), 1, 0)) AS pbe,
        mapKeys(map('a', 1, 'b', 2)) AS mk,
        mapValues(map('a', 1, 'b', 2)) AS mv,
        countSubstrings('abcabcab', 'ab') AS cs,
        countSubstrings('aaa', 'z') AS cs0
      """).collect().head
    assert(r.getDate(0).toString == "2024-03-04")   // Thursday -> Monday
    assert(r.getDate(1).toString == "2024-02-29")   // leap February
    // CH age counts COMPLETE elapsed units (contrast dateDiff's
    // boundary crossings: dateDiff('day', ...) on the same pair = 1)
    assert(r.getLong(2) == 0L && r.getLong(3) == 3L)
    assert(r.getSeq[Int](4) == Seq(1, 2, 3))
    assert(r.getSeq[Int](5) == Seq(1, 2))
    assert(r.getSeq[Int](6) == Seq(2, 3))
    assert(r.getSeq[Int](7) == Seq.empty)
    assert(r.getSeq[String](8).sorted == Seq("a", "b"))
    assert(r.getSeq[Int](9).sorted == Seq(1, 2))
    assert(r.getLong(10) == 3L && r.getLong(11) == 0L)
  }

  test("round-13: ASOF alias rewrite is literal-safe and view names " +
      "are invocation-unique") {
    Seq((1L, 10L), (1L, 20L)).toDF("k", "t")
      .createOrReplaceTempView("cx_asof_l")
    Seq((1L, 5L, "v.1"), (1L, 15L, "v.2")).toDF("k", "t", "tag")
      .createOrReplaceTempView("cx_asof_r")
    // alias `v` appears inside the string literal 'v.1' — a global
    // regex rewrite would corrupt it into __r_1
    val got = Compat.chSql(spark, """
      SELECT u.t AS ut, v.t AS vt, v.tag AS tag,
        concat(v.tag, '-v.1') AS lit
      FROM cx_asof_l u ASOF JOIN cx_asof_r v
      ON u.k = v.k AND u.t >= v.t ORDER BY u.t""").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((10L, 5L, "v.1"), (20L, 15L, "v.2")))
    assert(got.head.getString(3) == "v.1-v.1")
  }

  test("merge() table function: regex-matched tx tables union with " +
      "_table and additive NULLs; no match refuses actionably") {
    import graft.sink.TxTable
    val base = java.nio.file.Files.createTempDirectory("graft_mrg").toString
    val d = java.sql.Date.valueOf("2024-06-01")
    TxTable.append(spark, Seq((d, 1L)).toDF("date", "v"), s"$base/t_a")
    TxTable.append(spark,
      Seq((d, 2L, "x")).toDF("date", "v", "tag"), s"$base/t_b")
    TxTable.append(spark, Seq((d, 9L)).toDF("date", "v"), s"$base/skip")
    val got = Compat.chSql(spark,
      s"SELECT _table, v, tag FROM merge('$base', '^t_') ORDER BY v")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2))))
    assert(got.toSeq == Seq(("t_a", 1L, None), ("t_b", 2L, Some("x"))))
    val e = intercept[Exception] {
      Compat.chSql(spark, s"SELECT * FROM merge('$base', '^nope')")
    }
    assert(e.getMessage.contains("matches no tx table"))
  }

  test("round-13: maxIntersections sweep (half-open), boundingRatio, " +
      "anyHeavy, deltaSumTimestamp window rewrite") {
    // intervals [1,3) [2,5) [4,6) [6,7): peak 2, first attained at 2;
    // the touching pair [4,6)+[6,7) does NOT intersect (half-open)
    Seq((1L, 3L), (2L, 5L), (4L, 6L), (6L, 7L))
      .toDF("st", "en").createOrReplaceTempView("cx_iv")
    val iv = Compat.chSql(spark, """
      SELECT maxIntersections(st, en) AS mi,
        maxIntersectionsPosition(st, en) AS mip
      FROM cx_iv""").collect().head
    assert(iv.getLong(0) == 2L && iv.getLong(1) == 2L)
    val touch = Compat.chSql(spark,
      "SELECT maxIntersections(st, en) AS mi FROM " +
        "(SELECT * FROM cx_iv WHERE st >= 4)").collect().head
    assert(touch.getLong(0) == 1L)
    // boundingRatio: slope between (x=1,y=10) and (x=4,y=4) = -2;
    // anyHeavy: 7 is the exact mode
    Seq((1L, 10L, 7L), (2L, 14L, 7L), (4L, 4L, 9L))
      .toDF("x", "y", "h").createOrReplaceTempView("cx_br")
    val br = Compat.chSql(spark,
      "SELECT boundingRatio(x, y) AS br, anyHeavy(h) AS ah FROM cx_br")
      .collect().head
    assert(br.getDouble(0) == -2.0 && br.getLong(1) == 7L)
    // deltaSumTimestamp: values 10,13,12,15 in ts order -> +3,+3 = 6;
    // the single-row group reads 0; bare deltaSum refuses
    Seq((1L, 1L, 10L), (1L, 2L, 13L), (1L, 3L, 12L), (1L, 4L, 15L),
      (2L, 1L, 42L))
      .toDF("g", "t", "v").createOrReplaceTempView("cx_ds")
    val ds = Compat.chSql(spark, """
      SELECT g, deltaSumTimestamp(v, t) AS ds FROM cx_ds
      GROUP BY g ORDER BY g""").collect()
    assert(ds.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 6L), (2L, 0L)))
    val err = intercept[Exception] {
      Compat.chSql(spark, "SELECT deltaSum(v) FROM cx_ds").collect()
    }
    assert(err.getMessage.contains("deltaSumTimestamp"))
  }

  test("round-13: statistics tier — skew/kurt pop+samp (CH 1/n central " +
      "moments), covar/corr, simpleLinearRegression + tupleElement, " +
      "exact entropy, intervalLengthSum union length") {
    // (1,1,4): mean 2, m2 = 2, m3 = 2 → skewPop = 2/2^1.5 = 1/√2;
    // varSamp = 3 → skewSamp = 2/3^1.5
    Seq(1L, 1L, 4L).toDF("x").createOrReplaceTempView("cx_sk")
    val sk = Compat.chSql(spark,
      "SELECT skewPop(x) AS sp, skewSamp(x) AS ss FROM cx_sk")
      .collect().head
    assert(math.abs(sk.getDouble(0) - 1.0 / math.sqrt(2.0)) < 1e-9)
    assert(math.abs(sk.getDouble(1) - 2.0 / math.pow(3.0, 1.5)) < 1e-9)
    // (1,2,3): m2 = 2/3, m4 = 2/3 → kurtPop = 1.5 (NOT excess);
    // varSamp = 1 → kurtSamp = m4 = 2/3
    Seq(1L, 2L, 3L).toDF("x").createOrReplaceTempView("cx_kt")
    val kt = Compat.chSql(spark,
      "SELECT kurtPop(x) AS kp, kurtSamp(x) AS ks FROM cx_kt")
      .collect().head
    assert(math.abs(kt.getDouble(0) - 1.5) < 1e-9)
    assert(math.abs(kt.getDouble(1) - 2.0 / 3.0) < 1e-9)
    // y = 2x exactly: covarPop 4/3, covarSamp 2, corr 1, k=2 b=1 on
    // the shifted line
    Seq((1L, 2L, 3L), (2L, 4L, 5L), (3L, 6L, 7L))
      .toDF("x", "y", "z").createOrReplaceTempView("cx_cv")
    val cv = Compat.chSql(spark, """
      SELECT covarPop(x, y) AS cvp, covarSamp(x, y) AS cvs,
        corr(x, y) AS cr,
        tupleElement(simpleLinearRegression(x, z), 1) AS k,
        tupleElement(simpleLinearRegression(x, z), 2) AS b
      FROM cx_cv""").collect().head
    assert(math.abs(cv.getDouble(0) - 4.0 / 3.0) < 1e-9)
    assert(math.abs(cv.getDouble(1) - 2.0) < 1e-9)
    assert(math.abs(cv.getDouble(2) - 1.0) < 1e-9)
    assert(math.abs(cv.getDouble(3) - 2.0) < 1e-9 &&
      math.abs(cv.getDouble(4) - 1.0) < 1e-9)
    // entropy: two 50/50 values = 1 bit; four uniform = 2 bits;
    // constant column = 0; strings key exactly
    Seq("a", "a", "b", "b").toDF("s").createOrReplaceTempView("cx_en")
    val en = Compat.chSql(spark,
      "SELECT entropy(s) AS e2 FROM cx_en").collect().head
    assert(math.abs(en.getDouble(0) - 1.0) < 1e-12)
    Seq(1L, 2L, 3L, 4L).toDF("x").createOrReplaceTempView("cx_en4")
    val en4 = Compat.chSql(spark,
      "SELECT entropy(x) AS e, entropy(x % 1) AS e0 FROM cx_en4")
      .collect().head
    assert(math.abs(en4.getDouble(0) - 2.0) < 1e-12 &&
      en4.getDouble(1) == 0.0)
    // intervalLengthSum: [1,3]∪[2,5]∪[7,8] = 5; touching [1,2],[2,3]
    // coalesce to 2
    Seq((1L, 3L), (2L, 5L), (7L, 8L)).toDF("st", "en")
      .createOrReplaceTempView("cx_il")
    assert(Compat.chSql(spark,
      "SELECT intervalLengthSum(st, en) AS il FROM cx_il")
      .collect().head.getLong(0) == 5L)
    assert(Compat.chSql(spark,
      "SELECT intervalLengthSum(st, en) AS il FROM " +
        "(SELECT 1 AS st, 2 AS en UNION ALL SELECT 2, 3)")
      .collect().head.getLong(0) == 2L)
  }

  test("round-13: arrayReduce dispatch and the block-order refusals") {
    val r = Compat.chSql(spark, """
      SELECT arrayReduce('sum', array(1, 2, 3)) AS s,
        arrayReduce('count', array(1, 1, 2)) AS c,
        arrayReduce('uniqExact', array(1, 1, 2)) AS u,
        arrayReduce('min', array(3, 1, 2)) AS mn,
        arrayReduce('avg', array(1, 2, 3)) AS av,
        arrayReduce('any', array(7, 8)) AS a1,
        arrayReduce('anyLast', array(7, 8)) AS a2""").collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getInt(3) == 1 && r.getDouble(4) == 2.0)
    assert(r.getInt(5) == 7 && r.getInt(6) == 8)
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT arrayReduce('median', array(1)) AS x").collect()
    }
    assert(bad.getMessage.contains("not supported"))
    val ra = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT runningAccumulate(x) FROM (SELECT 1 AS x)").collect()
    }
    assert(ra.getMessage.contains("OVER"))
  }

  test("round-13: cramersV / cramersVBiasCorrected / contingency " +
      "cross-tab goldens") {
    // perfect association: V = 1, contingency = sqrt(chi2/(chi2+n))
    Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L))
      .toDF("x", "y").createOrReplaceTempView("cx_ct1")
    val p = Compat.chSql(spark, """
      SELECT cramersV(x, y) AS v, contingency(x, y) AS c
      FROM cx_ct1""").collect().head
    assert(math.abs(p.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(p.getDouble(1) - math.sqrt(0.5)) < 1e-12)
    // independence: everything 0
    Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L))
      .toDF("x", "y").createOrReplaceTempView("cx_ct2")
    val i = Compat.chSql(spark, """
      SELECT cramersV(x, y) AS v, cramersVBiasCorrected(x, y) AS vb,
        contingency(x, y) AS c FROM cx_ct2""").collect().head
    assert(i.getDouble(0) == 0.0 && i.getDouble(1) == 0.0 &&
      i.getDouble(2) == 0.0)
    // 2x2 counts [[2,1],[1,2]]: chi2 = 2/3 -> V = 1/3,
    // contingency = sqrt((2/3)/(2/3+6)) = 0.31623, bias-corrected
    // clamps to 0 (phi2 = 1/9 < (r-1)(c-1)/(n-1) = 1/5)
    Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L),
      ("b", 2L)).toDF("x", "y").createOrReplaceTempView("cx_ct3")
    val m = Compat.chSql(spark, """
      SELECT cramersV(x, y) AS v, cramersVBiasCorrected(x, y) AS vb,
        contingency(x, y) AS c FROM cx_ct3""").collect().head
    assert(math.abs(m.getDouble(0) - 1.0 / 3.0) < 1e-12)
    assert(m.getDouble(1) == 0.0)
    assert(math.abs(m.getDouble(2) -
      math.sqrt((2.0 / 3.0) / (2.0 / 3.0 + 6.0))) < 1e-12)
    // constant column: no variation, no association
    Seq(("a", 1L), ("a", 2L)).toDF("x", "y")
      .createOrReplaceTempView("cx_ct4")
    assert(Compat.chSql(spark,
      "SELECT cramersV(x, y) AS v FROM cx_ct4")
      .collect().head.getDouble(0) == 0.0)
  }

  test("round-13: rankCorr — Spearman with average ranks via the " +
      "window rewrite; unsupported shapes refuse with the contract") {
    // g1 monotone (rho 1; negated rho -1); g2 has a tie in x:
    // avg ranks (1, 2.5, 2.5, 4) vs (1,2,3,4) -> 4.5/sqrt(22.5)
    Seq((1L, 1L, 1L), (1L, 2L, 4L), (1L, 3L, 9L), (1L, 4L, 16L),
      (2L, 1L, 10L), (2L, 2L, 20L), (2L, 2L, 30L), (2L, 3L, 40L))
      .toDF("g", "x", "y").createOrReplaceTempView("cx_rc")
    val rc = Compat.chSql(spark, """
      SELECT g, rankCorr(x, y) AS r, rankCorr(x, 0 - y) AS rn
      FROM cx_rc GROUP BY g ORDER BY g""").collect()
    assert(math.abs(rc(0).getDouble(1) - 1.0) < 1e-12 &&
      math.abs(rc(0).getDouble(2) + 1.0) < 1e-12)
    assert(math.abs(rc(1).getDouble(1) - 4.5 / math.sqrt(22.5)) < 1e-12)
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT rankCorr(x, y) AS r FROM cx_rc").collect()
    }
    assert(bad.getMessage.contains("window formulation"))
  }

  test("round-13: studentTTest/welchTTest — composed statistics and " +
      "the incomplete-beta p-value") {
    // closed-form p-value anchors: df=1 (Cauchy) at t=1 -> 0.5;
    // df=2 has p = 1 - t/(sqrt(2)*sqrt(1+t^2/2)) -> at t=sqrt(2): 1-1/sqrt(2)
    assert(math.abs(graft.functions.StudentTPValue.twoSided(1.0, 1.0)
      - 0.5) < 1e-12)
    assert(math.abs(graft.functions.StudentTPValue.twoSided(
      math.sqrt(2.0), 2.0) - (1.0 - 1.0 / math.sqrt(2.0))) < 1e-12)
    // samples: x0 = (1..5) m=3 s2=2.5 n=5; x1 = (2,4,6) m=4 s2=4 n=3
    // student: df=6, sp2=3, t = -1/sqrt(3*(1/5+1/3)) = -1/sqrt(1.6)
    // welch:   se2 = 0.5 + 4/3, t = -1/sqrt(11/6)
    Seq((1.0, 0L), (2.0, 0L), (3.0, 0L), (4.0, 0L), (5.0, 0L),
      (2.0, 1L), (4.0, 1L), (6.0, 1L))
      .toDF("v", "i").createOrReplaceTempView("cx_tt")
    val r = Compat.chSql(spark, """
      SELECT tupleElement(studentTTest(v, i), 1) AS ts,
        tupleElement(studentTTest(v, i), 2) AS ps,
        tupleElement(welchTTest(v, i), 1) AS tw,
        tupleElement(welchTTest(v, i), 2) AS pw
      FROM cx_tt""").collect().head
    assert(math.abs(r.getDouble(0) + 1.0 / math.sqrt(1.6)) < 1e-12)
    assert(math.abs(r.getDouble(1) - graft.functions.StudentTPValue
      .twoSided(1.0 / math.sqrt(1.6), 6.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) + 1.0 / math.sqrt(11.0 / 6.0)) < 1e-12)
    // Welch–Satterthwaite df for these samples:
    // (11/6)^2 / (0.25/4 + (16/9)/2) = 3.5433...
    val dfW = math.pow(11.0 / 6.0, 2) /
      (math.pow(0.5, 2) / 4.0 + math.pow(4.0 / 3.0, 2) / 2.0)
    assert(math.abs(r.getDouble(3) - graft.functions.StudentTPValue
      .twoSided(1.0 / math.sqrt(11.0 / 6.0), dfW)) < 1e-12)
    // p-values land in (0, 1) and the identical-samples case reads 1
    assert(r.getDouble(1) > 0 && r.getDouble(1) < 1)
    Seq((1.0, 0L), (2.0, 0L), (1.0, 1L), (2.0, 1L))
      .toDF("v", "i").createOrReplaceTempView("cx_tt2")
    val same = Compat.chSql(spark,
      "SELECT tupleElement(studentTTest(v, i), 2) AS p FROM cx_tt2")
      .collect().head
    assert(math.abs(same.getDouble(0) - 1.0) < 1e-12)
  }

  test("round-13: StatDist tails — erfc/normal/Kolmogorov/inverse " +
      "anchors against stdlib-independent constants") {
    import graft.functions.StatDist
    // python: 0.5*math.erfc(z/sqrt(2)) and statistics.NormalDist
    assert(math.abs(StatDist.normUpper(1.96) - 0.024997895148220435)
      < 1e-12)
    assert(math.abs(StatDist.normUpper(0.5) - 0.3085375387259869)
      < 1e-12)
    assert(math.abs(StatDist.normUpper(0.0) - 0.5) < 1e-15)
    assert(math.abs(StatDist.normUpper(-1.96) -
      (1.0 - 0.024997895148220435)) < 1e-12)
    assert(math.abs(StatDist.invNormCdf(0.975) - 1.9599639845400536)
      < 1e-9)
    assert(math.abs(StatDist.invNormCdf(0.5)) < 1e-9)
    assert(math.abs(StatDist.invNormCdf(0.01) + StatDist.invNormCdf(0.99))
      < 1e-9)
    // Kolmogorov survival: both branches (the 1.18 split) against the
    // long alternating series evaluated in python
    assert(math.abs(StatDist.ksQ(0.5) - 0.9639452436648751) < 1e-9)
    assert(math.abs(StatDist.ksQ(1.0) - 0.26999967167735456) < 1e-9)
    assert(math.abs(StatDist.ksQ(2.0) - 0.0006709252557796953) < 1e-12)
    assert(StatDist.ksQ(0.0) == 1.0 && StatDist.ksQ(-1.0) == 1.0)
  }

  test("round-13: mannWhitneyUTest — average-rank U with tie " +
      "correction; alternatives; refusal outside the rewrite shape") {
    // x0 = (1..6), x1 = (2,4,4,7,9): ranks computed by hand, U1 = 9.5;
    // p anchors from python's math.erfc replay of the same formula
    Seq((1L, 1.0, 0L), (1L, 2.0, 0L), (1L, 3.0, 0L), (1L, 4.0, 0L),
      (1L, 5.0, 0L), (1L, 6.0, 0L), (1L, 2.0, 1L), (1L, 4.0, 1L),
      (1L, 4.0, 1L), (1L, 7.0, 1L), (1L, 9.0, 1L))
      .toDF("g", "v", "i").createOrReplaceTempView("cx_mwu")
    val r = Compat.chSql(spark, """
      SELECT g, tupleElement(mannWhitneyUTest(v, i), 1) AS u,
        tupleElement(mannWhitneyUTest(v, i), 2) AS p,
        tupleElement(mannWhitneyUTest('greater')(v, i), 2) AS pg,
        tupleElement(mannWhitneyUTest('less')(v, i), 2) AS pl
      FROM cx_mwu GROUP BY g ORDER BY g""").collect().head
    assert(math.abs(r.getDouble(1) - 9.5) < 1e-12)
    assert(math.abs(r.getDouble(2) - 0.3557859242354904) < 1e-9)
    assert(math.abs(r.getDouble(3) - 0.8660927661405339) < 1e-9)
    assert(math.abs(r.getDouble(4) - 0.1778929621177452) < 1e-9)
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT mannWhitneyUTest(v, i) AS u FROM cx_mwu").collect()
    }
    assert(bad.getMessage.contains("window formulation"))
  }

  test("round-13: kolmogorovSmirnovTest — RANGE-frame ECDF D and the " +
      "asymptotic tail; exact method refuses loudly") {
    // same samples: D = 0.4, lambda = sqrt(30/11)*0.4, p = 0.77545...
    val r = Compat.chSql(spark, """
      SELECT g, tupleElement(kolmogorovSmirnovTest(v, i), 1) AS d,
        tupleElement(kolmogorovSmirnovTest(v, i), 2) AS p
      FROM cx_mwu GROUP BY g ORDER BY g""").collect().head
    assert(math.abs(r.getDouble(1) - 0.4) < 1e-12)
    assert(math.abs(r.getDouble(2) - 0.7754489529545198) < 1e-9)
    val bad = intercept[Exception] {
      Compat.chSql(spark, """
        SELECT g, kolmogorovSmirnovTest('two-sided', 'exact')(v, i) AS t
        FROM cx_mwu GROUP BY g""").collect()
    }
    assert(bad.getMessage.contains("exact"))
  }

  test("round-13: meanZTest — known-variance z, p, and confidence " +
      "bounds; literal-parameter contract") {
    // x0 = (10,12,14,16) m=13; x1 = (11,13,15,17,19) m=15; vx=vy=4:
    // z = -2/sqrt(1.8), p and CI from python erfc/NormalDist
    Seq((10.0, 0L), (12.0, 0L), (14.0, 0L), (16.0, 0L),
      (11.0, 1L), (13.0, 1L), (15.0, 1L), (17.0, 1L), (19.0, 1L))
      .toDF("v", "i").createOrReplaceTempView("cx_mz")
    val r = Compat.chSql(spark, """
      SELECT tupleElement(meanZTest(4.0, 4.0, 0.95)(v, i), 1) AS z,
        tupleElement(meanZTest(4.0, 4.0, 0.95)(v, i), 2) AS p,
        tupleElement(meanZTest(4.0, 4.0, 0.95)(v, i), 3) AS lo,
        tupleElement(meanZTest(4.0, 4.0, 0.95)(v, i), 4) AS hi
      FROM cx_mz""").collect().head
    assert(math.abs(r.getDouble(0) + 1.4907119849998598) < 1e-12)
    assert(math.abs(r.getDouble(1) - 0.13603712811414367) < 1e-9)
    assert(math.abs(r.getDouble(2) + 4.629567621729744) < 1e-9)
    assert(math.abs(r.getDouble(3) - 0.6295676217297439) < 1e-9)
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT meanZTest(4.0, 4.0, v, v, i) AS z FROM cx_mz").collect()
    }
    assert(bad.getMessage.contains("literal"))
  }

  test("round-13: theilsU — asymmetric uncertainty coefficient on the " +
      "cross-tab state; perfect and zero dependence anchors") {
    // hand-built 10-pair table; U(a|b)/U(b|a) replayed in python
    Seq((0L, 0L), (0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L),
      (1L, 1L), (2L, 1L), (2L, 1L), (2L, 0L), (0L, 0L))
      .toDF("a", "b").createOrReplaceTempView("cx_tu")
    val r = Compat.chSql(spark, """
      SELECT theilsU(a, b) AS ab, theilsU(b, a) AS ba FROM cx_tu""")
      .collect().head
    assert(math.abs(r.getDouble(0) - 0.0792585395257929) < 1e-12)
    assert(math.abs(r.getDouble(1) - 0.12451124978365322) < 1e-12)
    // y = f(x) exactly: knowing x removes all uncertainty about y
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (1L, 10L))
      .toDF("x", "y").createOrReplaceTempView("cx_tu2")
    assert(Compat.chSql(spark,
      "SELECT theilsU(y, x) AS u FROM cx_tu2")
      .collect().head.getDouble(0) == 1.0)
    // independence (balanced product design): U = 0
    Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L))
      .toDF("x", "y").createOrReplaceTempView("cx_tu3")
    assert(math.abs(Compat.chSql(spark,
      "SELECT theilsU(x, y) AS u FROM cx_tu3")
      .collect().head.getDouble(0)) < 1e-12)
  }

  test("round-13: groupBitmap/sumKahan/quantileDeterministic/uniqHLL12 " +
      "— cardinality and precision spellings") {
    (1L to 500L).map(i => (i % 7, i % 37, i)).toDF("g", "x", "id")
      .createOrReplaceTempView("cx_card")
    val r = Compat.chSql(spark, """
      SELECT CAST(groupBitmap(x) AS BIGINT) AS gb,
        sumKahan(CAST(x AS DOUBLE) / 7.0) AS sk,
        quantileDeterministic(0.5)(x, id) AS qd,
        CAST(uniqHLL12(x) AS BIGINT) AS hll,
        CAST(uniqCombined64(x) AS BIGINT) AS hll64
      FROM cx_card""").collect().head
    assert(r.getLong(0) == 37L)
    assert(math.abs(r.getDouble(1) -
      (1L to 500L).map(i => (i % 37) / 7.0).sum) < 1e-9)
    // exact median of the residues: 500 = 13·37 + 19, so residues
    // 1..19 occur 14×, the rest 13×; sorted indices 249/250 both
    // land on 17
    assert(math.abs(r.getDouble(2) - 17.0) < 1e-12)
    // HLL sketches: approximate by contract, within 5% at 37 distinct
    assert(math.abs(r.getLong(3) - 37L) <= 2)
    assert(math.abs(r.getLong(4) - 37L) <= 2)
  }

  test("round-13: largestTriangleThreeBuckets — LTTB goldens, " +
      "pass-through, and the literal-n contract") {
    // n=3 hand case: middle bucket (1,10),(2,0),(3,5) vs a=(0,0),
    // c=(4,0): area = 2|by| -> picks (1,10)
    Seq((0.0, 0.0), (1.0, 10.0), (2.0, 0.0), (3.0, 5.0), (4.0, 0.0))
      .toDF("x", "y").createOrReplaceTempView("cx_lttb")
    def pts(df: org.apache.spark.sql.DataFrame): Seq[(Double, Double)] =
      df.collect().head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getDouble(0), r.getDouble(1)))
    val r3 = pts(Compat.chSql(spark,
      "SELECT largestTriangleThreeBuckets(3)(x, y) AS p FROM cx_lttb"))
    assert(r3 == Seq((0.0, 0.0), (1.0, 10.0), (4.0, 0.0)))
    // n >= points: pass through, x-sorted; lttb alias works
    val rAll = pts(Compat.chSql(spark,
      "SELECT lttb(9)(x, y) AS p FROM cx_lttb"))
    assert(rAll.size == 5 && rAll == rAll.sortBy(_._1))
    // 12-point series, n=5: python replay of Steinarsson's reference
    // bucketing
    Seq((0, 3), (1, 7), (2, 2), (3, 9), (4, 1), (5, 6), (6, 0), (7, 8),
      (8, 4), (9, 10), (10, 2), (11, 5))
      .map { case (a, b) => (a.toDouble, b.toDouble) }
      .toDF("x", "y").createOrReplaceTempView("cx_lttb2")
    val r5 = pts(Compat.chSql(spark,
      "SELECT largestTriangleThreeBuckets(5)(x, y) AS p FROM cx_lttb2"))
    assert(r5 == Seq((0.0, 3.0), (3.0, 9.0), (4.0, 1.0), (9.0, 10.0),
      (11.0, 5.0)))
    // n = 2 keeps the endpoints; n must be a literal
    assert(pts(Compat.chSql(spark,
      "SELECT lttb(2)(x, y) AS p FROM cx_lttb2")) ==
      Seq((0.0, 3.0), (11.0, 5.0)))
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT largestTriangleThreeBuckets(x)(x, y) AS p FROM cx_lttb")
        .collect()
    }
    assert(bad.getMessage.contains("literal"))
  }

  test("round-13: minSampleSizeContinous/Conversion — textbook power " +
      "closed forms against NormalDist-replayed anchors") {
    val r = Compat.chSql(spark, """
      SELECT minSampleSizeContinous(112.25, 21.1, 0.03, 0.80, 0.05)
          AS c,
        minSampleSizeConversion(0.025, 0.017, 0.80, 0.05) AS v
      FROM (SELECT 1 AS one)""").collect().head
    val c = r.getStruct(0)
    assert(math.abs(c.getDouble(0) - 616.2931945826207) < 1e-6)
    assert(math.abs(c.getDouble(1) - 108.8825) < 1e-12)
    assert(math.abs(c.getDouble(2) - 115.6175) < 1e-12)
    val v = r.getStruct(1)
    assert(math.abs(v.getDouble(0) - 1757.4992587533586) < 1e-6)
    assert(math.abs(v.getDouble(1) - 0.008) < 1e-12)
    assert(math.abs(v.getDouble(2) - 0.042) < 1e-12)
  }

  test("round-13: sequenceNextNode — four anchor modes, chain-off-end " +
      "NULLs, base-condition gating, combo refusal") {
    // one session: A(1) B(2) C(3) D(4) E(5), ts as epoch-micros longs
    Seq((1L, "A"), (2L, "B"), (3L, "C"), (4L, "D"), (5L, "E"))
      .toDF("t", "page").createOrReplaceTempView("cx_nn")
    def one(sql: String): String = {
      val r = Compat.chSql(spark, sql).collect().head
      if (r.isNullAt(0)) null else r.getString(0)
    }
    assert(one("SELECT sequenceNextNode('forward', 'head')(t, page, " +
      "true, page = 'A', page = 'B') AS v FROM cx_nn") == "C")
    assert(one("SELECT sequenceNextNode('forward', 'head')(t, page, " +
      "true, page = 'B') AS v FROM cx_nn") == null)
    assert(one("SELECT sequenceNextNode('backward', 'tail')(t, page, " +
      "true, page = 'E') AS v FROM cx_nn") == "D")
    assert(one("SELECT sequenceNextNode('forward', 'first_match')(t, " +
      "page, true, page = 'C') AS v FROM cx_nn") == "D")
    assert(one("SELECT sequenceNextNode('backward', 'last_match')(t, " +
      "page, true, page = 'C') AS v FROM cx_nn") == "B")
    // chain runs off the group end / anchor fails the base condition
    assert(one("SELECT sequenceNextNode('forward', 'first_match')(t, " +
      "page, true, page = 'E') AS v FROM cx_nn") == null)
    assert(one("SELECT sequenceNextNode('forward', 'head')(t, page, " +
      "page = 'X', page = 'A') AS v FROM cx_nn") == null)
    // multi-step chain from last_match scanning backward:
    // D at 4, C at 3 -> returns B
    assert(one("SELECT sequenceNextNode('backward', 'last_match')(t, " +
      "page, true, page = 'D', page = 'C') AS v FROM cx_nn") == "B")
    val bad = intercept[Exception] {
      Compat.chSql(spark, "SELECT sequenceNextNode('forward', 'tail')" +
        "(t, page, true, page = 'A') AS v FROM cx_nn").collect()
    }
    assert(bad.getMessage.contains("forward,head"))
  }

  test("round-13: groupArraySorted/Intersect, groupConcat, " +
      "singleValueOrNull, corrMatrix, and the order-dependent refusals") {
    Seq(5L, 1L, 4L, 1L, 3L, 2L).toDF("x")
      .createOrReplaceTempView("cx_gas")
    assert(Compat.chSql(spark,
      "SELECT groupArraySorted(3)(x) AS a FROM cx_gas")
      .collect().head.getSeq[Long](0) == Seq(1L, 1L, 2L))
    // intersection of [1..4], [2..4], [3..5] -> [3, 4] sorted
    Seq(Seq(1L, 2L, 3L, 4L), Seq(2L, 3L, 4L), Seq(3L, 4L, 5L))
      .toDF("arr").createOrReplaceTempView("cx_gai")
    assert(Compat.chSql(spark,
      "SELECT groupArrayIntersect(arr) AS a FROM cx_gai")
      .collect().head.getSeq[Long](0) == Seq(3L, 4L))
    // groupConcat: arrival-order contract — assert content, not order
    val gc = Compat.chSql(spark,
      "SELECT groupConcat('-')(x) AS s FROM cx_gas")
      .collect().head.getString(0)
    assert(gc.split("-").map(_.toLong).sorted.toSeq ==
      Seq(1L, 1L, 2L, 3L, 4L, 5L))
    val gcLim = Compat.chSql(spark,
      "SELECT groupConcat(',', 2)(x) AS s FROM cx_gas")
      .collect().head.getString(0)
    assert(gcLim.split(",").length == 2)
    // singleValueOrNull: one distinct -> the value; two -> NULL
    Seq((1L, 7L), (1L, 7L), (2L, 1L), (2L, 2L)).toDF("g", "v")
      .createOrReplaceTempView("cx_svn")
    val svn = Compat.chSql(spark, """
      SELECT g, singleValueOrNull(v) AS s FROM cx_svn
      GROUP BY g ORDER BY g""").collect()
    assert(svn(0).getLong(1) == 7L && svn(1).isNullAt(1))
    // corrMatrix of (x, 2x): every cell 1.0
    val cm = Compat.chSql(spark,
      "SELECT corrMatrix(x, 2 * x) AS m FROM cx_gas")
      .collect().head.getSeq[scala.collection.Seq[Double]](0)
    assert(cm.flatten.forall(c => math.abs(c - 1.0) < 1e-12))
    // block-order / randomness refusals
    Seq("groupArrayLast(2)(x)", "groupArraySample(2)(x)").foreach { c =>
      val bad = intercept[Exception] {
        Compat.chSql(spark, s"SELECT $c AS a FROM cx_gas").collect()
      }
      assert(bad.getMessage.contains("deterministic"))
    }
    // the decayed-window family refuses with the EMA pointer
    val badDecay = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT exponentialTimeDecayedSum(10)(x, x) AS a FROM cx_gas")
        .collect()
    }
    assert(badDecay.getMessage.contains("exponentialMovingAverage"))
  }

  test("round-13: stochasticLinearRegression — exact least squares / " +
      "ridge, evalMLMethod, singular NULL, logistic refusal") {
    // noise-free plane y = 2a + 3b + 5: the exact fit recovers it
    val rows = for (a <- 0 to 4; b <- 0 to 3)
      yield (a.toDouble, b.toDouble, 2.0 * a + 3.0 * b + 5.0)
    rows.toDF("a", "b", "y").createOrReplaceTempView("cx_lr")
    val w = Compat.chSql(spark, """
      SELECT stochasticLinearRegression(0.1, 0.0, 16, 'SGD')(y, a, b)
        AS w FROM cx_lr""").collect().head.getSeq[Double](0)
    assert(w.size == 3)
    assert(math.abs(w(0) - 2.0) < 1e-9 && math.abs(w(1) - 3.0) < 1e-9 &&
      math.abs(w(2) - 5.0) < 1e-9)
    // evalMLMethod applies weights + intercept
    val pred = Compat.chSql(spark, """
      SELECT evalMLMethod(
        stochasticLinearRegressionState(0.1, 0.0, 16, 'SGD')(y, a, b),
        10, 100) AS p FROM cx_lr""").collect().head.getDouble(0)
    assert(math.abs(pred - (2.0 * 10 + 3.0 * 100 + 5.0)) < 1e-9)
    // ridge shrinkage on one centered feature: w = Sxy / (Sxx + λ);
    // x in {-1, 1}, y = x -> Sxx = 4, Sxy = 4, λ = 4 -> w = 0.5
    Seq((-1.0, -1.0), (1.0, 1.0), (-1.0, -1.0), (1.0, 1.0))
      .toDF("x", "y").createOrReplaceTempView("cx_lr2")
    val wr = Compat.chSql(spark, """
      SELECT stochasticLinearRegression(0.1, 4.0, 16, 'SGD')(y, x)
        AS w FROM cx_lr2""").collect().head.getSeq[Double](0)
    assert(math.abs(wr(0) - 0.5) < 1e-9 && math.abs(wr(1)) < 1e-9)
    // bare (unparametrized) spelling = λ 0
    val wb = Compat.chSql(spark,
      "SELECT stochasticLinearRegression(y, a, b) AS w FROM cx_lr")
      .collect().head.getSeq[Double](0)
    assert(math.abs(wb(0) - 2.0) < 1e-9)
    // constant feature -> singular -> NULL, never a garbage fit
    Seq((1.0, 1.0), (1.0, 2.0)).toDF("x", "y")
      .createOrReplaceTempView("cx_lr3")
    assert(Compat.chSql(spark,
      "SELECT stochasticLinearRegression(y, x) AS w FROM cx_lr3")
      .collect().head.isNullAt(0))
    val bad = intercept[Exception] {
      Compat.chSql(spark, """
        SELECT stochasticLogisticRegression(0.1, 0.0, 16, 'SGD')(y, a)
          AS w FROM cx_lr""").collect()
    }
    assert(bad.getMessage.contains("closed form"))
  }

  test("round-13: seriesOutliersDetectTukey — fences, directions, " +
      "degenerate IQR, short-series NULL") {
    def scores(arr: String): Seq[Double] =
      Compat.chSql(spark,
        s"SELECT seriesOutliersDetectTukey($arr) AS s")
        .collect().head.getSeq[Double](0)
    // [1..8, 50]: q1=3, q3=7, fences [-3, 13] -> only 50 flags (+37)
    assert(scores("array(1D,2D,3D,4D,5D,6D,7D,8D,50D)") ==
      Seq(0, 0, 0, 0, 0, 0, 0, 0, 37.0))
    // low outlier carries a NEGATIVE score: [-20,1..8] fences [-4,12]
    assert(scores("array(-20D,1D,2D,3D,4D,5D,6D,7D,8D)").head == -16.0)
    // degenerate IQR 0: every off-median value flags by its distance
    assert(scores("array(10D,10D,10D,10D,100D)") ==
      Seq(0, 0, 0, 0, 90.0))
    // custom percentiles/k pass through; CH's 0-100 percentile scale
    // k=20 pushes the upper fence to 7 + 80 = 87, swallowing the 50
    assert(scores("array(1D,2D,3D,4D,5D,6D,7D,8D,50D), 25, 75, 20.0")
      .forall(_ == 0.0))
    // fewer than 4 samples: no quartiles, NULL
    assert(Compat.chSql(spark,
      "SELECT seriesOutliersDetectTukey(array(1D,2D,3D)) AS s")
      .collect().head.isNullAt(0))
  }

  test("round-13: sparkbar — bin/level arithmetic, empty-bin spaces, " +
      "data-derived bounds, out-of-range drop") {
    // B=5 over [0,9]: bins pair x's; sums (2, 8, 16, 4, 0) ->
    // levels ceil(s*8/16) = (1, 4, 8, 2, space)
    Seq((0, 1), (1, 1), (2, 4), (3, 4), (4, 8), (5, 8), (6, 2),
      (7, 2), (8, 0), (9, 0))
      .map { case (a, b) => (a.toDouble, b.toDouble) }
      .toDF("x", "y").createOrReplaceTempView("cx_sb")
    val bar = Compat.chSql(spark,
      "SELECT sparkbar(5, 0, 9)(x, y) AS b FROM cx_sb")
      .collect().head.getString(0)
    assert(bar == "▁▄█▂ ")
    // bounds derived from the data give the same axis here
    assert(Compat.chSql(spark,
      "SELECT sparkbar(5)(x, y) AS b FROM cx_sb")
      .collect().head.getString(0) == bar)
    // explicit bounds DROP out-of-range x: clamping [0,4] keeps only
    // the first two bins' rows
    val nar = Compat.chSql(spark,
      "SELECT sparkbar(2, 0, 4)(x, y) AS b FROM cx_sb")
      .collect().head.getString(0)
    // x 0,1 -> bin0 sum 2; x 2,3 -> bin0? floor(2*2/4)=1 -> bin1...
    // bins: x<2 -> 0 (sum 2), x in [2,4] -> 1 (sum 16) -> levels 1, 8
    assert(nar == "▁█")
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT sparkbar(x)(x, y) AS b FROM cx_sb").collect()
    }
    assert(bad.getMessage.contains("literal"))
  }

  test("round-13: quantileGK/ExactInclusive, parametric uniqCombined, " +
      "Exclusive refusal") {
    (1L to 100L).map(i => Tuple1(i)).toDF("x")
      .createOrReplaceTempView("cx_qk")
    val r = Compat.chSql(spark, """
      SELECT quantileExactInclusive(0.25)(x) AS qi,
        quantilesExactInclusive(0.25, 0.75)(x) AS qs,
        quantileGK(100, 0.5)(x) AS gk,
        CAST(uniqCombined(14)(x) AS BIGINT) AS uc
      FROM cx_qk""").collect().head
    // R-7 over 1..100: p25 at pos 0.25*99 = 24.75 -> 25.75
    assert(math.abs(r.getDouble(0) - 25.75) < 1e-12)
    assert(r.getSeq[Double](1).map(v => math.floor(v * 100) / 100) ==
      Seq(25.75, 75.25))
    // GK at accuracy 100 over 100 distinct values: within 2 of 50
    assert(math.abs(r.getLong(2) - 50L) <= 2)
    assert(math.abs(r.getLong(3) - 100L) <= 5)
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT quantileExactExclusive(0.25)(x) AS q FROM cx_qk")
        .collect()
    }
    assert(bad.getMessage.contains("R-6"))
  }

  test("round-13: scalar round-out — bar, gcd/lcm, roundBankers, " +
      "ifNotFinite, pads, haversine, geohash, formatReadable siblings") {
    val r = Compat.chSql(spark, """
      SELECT bar(5, 0, 10, 4) AS b1, bar(3, 0, 10, 4) AS b2,
        bar(10, 0, 10, 4) AS b3, bar(-1, 0, 10, 4) AS b4,
        gcd(12, 18) AS g1, lcm(4, 6) AS l1, gcd(0, 5) AS g2,
        CAST(roundBankers(2.5) AS DOUBLE) AS rb1,
        CAST(roundBankers(3.5) AS DOUBLE) AS rb2,
        ifNotFinite(CAST('NaN' AS DOUBLE), 7.0) AS inf1,
        ifNotFinite(CAST('Infinity' AS DOUBLE), 7.0) AS inf2,
        ifNotFinite(3.0, 7.0) AS inf3,
        positionCaseInsensitive('Hello', 'LL') AS pci,
        leftPad('abc', 5) AS lp, rightPad('abc', 5, '*') AS rp,
        round(greatCircleDistance(-0.1278, 51.5074, 2.3522, 48.8566), 1)
          AS dist,
        geohashEncode(-5.6030, 42.6050, 5) AS gh,
        round(tupleElement(geohashDecode('ezs42'), 1), 8) AS glon,
        round(tupleElement(geohashDecode('ezs42'), 2), 8) AS glat,
        formatReadableQuantity(1234567.0) AS q1,
        formatReadableQuantity(999.0) AS q2,
        formatReadableTimeDelta(90061.0) AS t1,
        formatReadableTimeDelta(0.0) AS t2
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getString(0) == "██" && r.getString(1) == "█▎" &&
      r.getString(2) == "████" && r.getString(3) == "")
    assert(r.getLong(4) == 6L && r.getLong(5) == 12L && r.getLong(6) == 5L)
    assert(r.getDouble(7) == 2.0 && r.getDouble(8) == 4.0)
    assert(r.getDouble(9) == 7.0 && r.getDouble(10) == 7.0 &&
      r.getDouble(11) == 3.0)
    assert(r.getInt(12) == 3)
    assert(r.getString(13) == "  abc" && r.getString(14) == "abc**")
    // python replay of the same haversine: 343556.06034104154
    assert(math.abs(r.getDouble(15) - 343556.1) < 0.11)
    // the classic geohash test vector
    assert(r.getString(16) == "ezs42")
    assert(math.abs(r.getDouble(17) + 5.60302734375) < 1e-8)
    assert(math.abs(r.getDouble(18) - 42.60498046875) < 1e-8)
    assert(r.getString(19) == "1.23 million" &&
      r.getString(20) == "999.00")
    assert(r.getString(21) == "1 day, 1 hour, 1 minute, 1 second" &&
      r.getString(22) == "0 seconds")
  }

  test("round-13: windowFunnel modes — strict_order, strict_dedup, " +
      "strict_increase; bad mode refuses") {
    def funnel(rows: Seq[(Long, String)], modes: String): Int = {
      rows.toDF("t", "e").createOrReplaceTempView("cx_wf")
      Compat.chSql(spark, s"""
        SELECT windowFunnel(100$modes)(t, e = 'A', e = 'B', e = 'C')
          AS f FROM cx_wf""").collect().head.getInt(0)
    }
    // interleaving C between A and B: default chains A->B anyway;
    // strict_order kills the chain at the interloper
    val inter = Seq((1L, "A"), (2L, "C"), (3L, "B"))
    assert(funnel(inter, "") == 2)
    assert(funnel(inter, ", 'strict_order'") == 1)
    // repeated middle step: default reaches C; strict_dedup closes
    // the chain at the duplicate B
    val dup = Seq((1L, "A"), (2L, "B"), (3L, "B"), (4L, "C"))
    assert(funnel(dup, "") == 3)
    assert(funnel(dup, ", 'strict_dedup'") == 2)
    // same-timestamp steps: default chains; strict_increase demands
    // strictly later timestamps
    val same = Seq((1L, "A"), (1L, "B"), (2L, "C"))
    assert(funnel(same, "") == 3)
    assert(funnel(same, ", 'strict_increase'") == 1)
    // the full in-window chain is unaffected by any mode
    val ok = Seq((1L, "A"), (2L, "B"), (3L, "C"))
    Seq("", ", 'strict_order'", ", 'strict_dedup'",
      ", 'strict_increase'", ", 'strict_order', 'strict_increase'")
      .foreach(m => assert(funnel(ok, m) == 3, m))
    val bad = intercept[Exception] {
      funnel(ok, ", 'strict_nonsense'")
    }
    assert(bad.getMessage.contains("modes must be among"))
  }

  test("round-13: WITH FILL INTERPOLATE — carry-forward through " +
      "synthesized rows; non-identity expression refuses") {
    Seq((1L, 10L, "a"), (4L, 40L, "d"), (6L, 60L, "f"))
      .toDF("k", "v", "s").createOrReplaceTempView("cx_fill")
    val r = Compat.chSql(spark, """
      SELECT k, v, s FROM cx_fill
      ORDER BY k WITH FILL INTERPOLATE (v, s AS s)""").collect()
    assert(r.length == 6)
    // synthesized k=2,3 carry v=10/s=a; k=5 carries v=40/s=d
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
      .toSeq == Seq((1L, 10L, "a"), (2L, 10L, "a"), (3L, 10L, "a"),
      (4L, 40L, "d"), (5L, 40L, "d"), (6L, 60L, "f")))
    val bad = intercept[Exception] {
      Compat.chSql(spark, """
        SELECT k, v FROM cx_fill
        ORDER BY k WITH FILL INTERPOLATE (v AS v + 1)""").collect()
    }
    assert(bad.getMessage.contains("carry-forward"))
  }

  test("round-13: arrayFold/Sort/Rotate/Compact/Jaccard, mapAdd/" +
      "Subtract/Contains — composition batch with refusal contracts") {
    val r = Compat.chSql(spark, """
      SELECT arrayFold((acc, x) -> acc * 10 + x, array(1, 2, 3), 0)
          AS fold,
        arraySort(array(3, 1, 2)) AS srt,
        arrayReverseSort(array(3, 1, 2)) AS rsrt,
        arrayPartialSort(2, array(5, 1, 4, 2)) AS psrt,
        arrayRotateLeft(array(1, 2, 3, 4, 5), 2) AS rotl,
        arrayRotateRight(array(1, 2, 3, 4, 5), 1) AS rotr,
        arrayRotateLeft(array(1, 2, 3), 7) AS rotw,
        arrayCompact(array(1, 1, 2, 2, 2, 1, 3)) AS cpt,
        round(arrayJaccardIndex(array(1, 2, 3), array(2, 3, 4)), 4)
          AS jac,
        mapAdd(map('a', 1, 'b', 2), map('b', 10, 'c', 3)) AS madd,
        mapSubtract(map('a', 5), map('a', 2, 'z', 7)) AS msub,
        mapContains(map('a', 1), 'a') AS mc1,
        mapContains(map('a', 1), 'q') AS mc2
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getInt(0) == 123)
    assert(r.getSeq[Int](1) == Seq(1, 2, 3))
    assert(r.getSeq[Int](2) == Seq(3, 2, 1))
    assert(r.getSeq[Int](3) == Seq(1, 2, 4, 5))
    assert(r.getSeq[Int](4) == Seq(3, 4, 5, 1, 2))
    assert(r.getSeq[Int](5) == Seq(5, 1, 2, 3, 4))
    assert(r.getSeq[Int](6) == Seq(2, 3, 1)) // 7 mod 3 = 1
    assert(r.getSeq[Int](7) == Seq(1, 2, 1, 3))
    assert(math.abs(r.getDouble(8) - 0.5) < 1e-12)
    assert(r.getMap[String, Int](9).toMap ==
      Map("a" -> 1, "b" -> 12, "c" -> 3))
    assert(r.getMap[String, Int](10).toMap ==
      Map("a" -> 3, "z" -> -7))
    assert(r.getBoolean(11) && !r.getBoolean(12))
    // refusals carry their recipes
    val s1 = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT arraySort(x -> -x, array(1, 2)) AS a FROM (SELECT 1)")
        .collect()
    }
    assert(s1.getMessage.contains("struct"))
    val s2 = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT arrayShuffle(array(1, 2)) AS a FROM (SELECT 1)")
        .collect()
    }
    assert(s2.getMessage.contains("deterministic"))
  }

  test("round-13: vector-distance spellings — 3-4-5 goldens and the " +
      "normalized-vector identity") {
    val r = Compat.chSql(spark, """
      SELECT dotProduct(array(1, 2, 3), array(4, 5, 6)) AS dp,
        L2Distance(array(0, 0), array(3, 4)) AS l2,
        L2SquaredDistance(array(0, 0), array(3, 4)) AS l2s,
        L1Distance(array(1, 1), array(4, 5)) AS l1,
        LinfDistance(array(1, 1), array(4, 5)) AS linf,
        L2Norm(array(3, 4)) AS nrm,
        L2SquaredNorm(array(3, 4)) AS nrms,
        L1Norm(array(-3, 4)) AS n1,
        cosineDistance(array(1, 0), array(0, 1)) AS cd90,
        cosineDistance(array(2, 0), array(5, 0)) AS cd0,
        normalizeL2(array(3, 4)) AS unit
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getDouble(0) == 32.0 && r.getDouble(1) == 5.0 &&
      r.getDouble(2) == 25.0)
    assert(r.getDouble(3) == 7.0 && r.getDouble(4) == 4.0)
    assert(r.getDouble(5) == 5.0 && r.getDouble(6) == 25.0 &&
      r.getDouble(7) == 7.0)
    assert(math.abs(r.getDouble(8) - 1.0) < 1e-12 &&
      math.abs(r.getDouble(9)) < 1e-12)
    assert(r.getSeq[Double](10) == Seq(0.6, 0.8))
  }

  test("round-13: date-name batch — toISOWeek/toWeek(3), toYYYYMMDD, " +
      "toDayOfYear, toQuarter, monthName, dateName, arrayResize") {
    val r = Compat.chSql(spark, """
      SELECT toISOWeek(DATE'2024-01-04') AS iw,
        toWeek(DATE'2024-01-04', 3) AS tw3,
        toYYYYMMDD(DATE'2024-03-05') AS ymd,
        toDayOfYear(DATE'2024-02-01') AS doy,
        toQuarter(DATE'2024-08-15') AS q,
        monthName(DATE'2024-03-05') AS mn,
        dateName('weekday', DATE'2024-01-04') AS wd,
        dateName('month', DATE'2024-03-05') AS dm,
        dateName('year', DATE'2024-03-05') AS dy,
        arrayResize(array(1, 2, 3), 2) AS sh,
        arrayResize(array(1, 2), 4, 0) AS pad
      FROM (SELECT 1 AS one)""").collect().head
    // 2024-01-04 is a Thursday in ISO week 1
    assert(r.getInt(0) == 1 && r.getInt(1) == 1)
    assert(r.getInt(2) == 20240305)
    assert(r.getInt(3) == 32 && r.getInt(4) == 3)
    assert(r.getString(5) == "March" && r.getString(6) == "Thursday")
    assert(r.getString(7) == "March" && r.getString(8) == "2024")
    assert(r.getSeq[Int](9) == Seq(1, 2))
    assert(r.getSeq[Int](10) == Seq(1, 2, 0, 0))
    // non-ISO toWeek modes refuse by name
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT toWeek(DATE'2024-01-04') AS w FROM (SELECT 1)")
        .collect()
    }
    assert(bad.getMessage.contains("mode 3"))
  }

  test("round-13: -ForEach and -Array combinators — element-wise and " +
      "flattened aggregation, ragged arrays, avg weighting") {
    Seq((1L, Seq(1.0, 10.0, 100.0)), (1L, Seq(2.0, 20.0)),
      (1L, Seq(3.0, 30.0, 300.0, 3000.0)))
      .toDF("g", "arr").createOrReplaceTempView("cx_fe")
    val r = Compat.chSql(spark, """
      SELECT sumForEach(arr) AS s, minForEach(arr) AS mn,
        maxForEach(arr) AS mx, avgForEach(arr) AS av,
        sumArray(arr) AS sa, minArray(arr) AS mna,
        maxArray(arr) AS mxa, round(avgArray(arr), 4) AS ava
      FROM cx_fe""").collect().head
    assert(r.getSeq[Double](0) == Seq(6.0, 60.0, 400.0, 3000.0))
    assert(r.getSeq[Double](1) == Seq(1.0, 10.0, 100.0, 3000.0))
    assert(r.getSeq[Double](2) == Seq(3.0, 30.0, 300.0, 3000.0))
    // ragged avg: position 3 has ONE contributor, position 1 three
    assert(r.getSeq[Double](3) == Seq(2.0, 20.0, 200.0, 3000.0))
    assert(r.getDouble(4) == 3466.0)
    assert(r.getDouble(5) == 1.0 && r.getDouble(6) == 3000.0)
    // element-count-weighted mean: 3466 / 9 = 385.1111 at 4dp
    assert(r.getDouble(7) == 385.1111)
  }

  test("round-13: string round-out — editDistance, ngrams, tokens, " +
      "stringJaccardIndex, concatWithSeparator, toFixedString") {
    val r = Compat.chSql(spark, """
      SELECT editDistance('kitten', 'sitting') AS ed,
        levenshteinDistance('abc', 'abc') AS ed0,
        ngrams('abcd', 2) AS ng,
        tokens('Hello, wor4ld! 42') AS tk,
        round(stringJaccardIndex('abc', 'bcd'), 4) AS ji,
        concatWithSeparator('-', 'a', 'b', 'c') AS cws,
        toFixedString('ab', 4) AS fx,
        length(generateUUIDv4()) AS ul
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getInt(0) == 3 && r.getInt(1) == 0)
    assert(r.getSeq[String](2) == Seq("ab", "bc", "cd"))
    assert(r.getSeq[String](3) == Seq("Hello", "wor4ld", "42"))
    // chars {a,b,c} vs {b,c,d}: 2/4
    assert(math.abs(r.getDouble(4) - 0.5) < 1e-12)
    assert(r.getString(5) == "a-b-c")
    // NUL-padded to exactly n — the CH FixedString contract
    assert(r.getString(6) == "ab\u0000\u0000" &&
      r.getString(6).length == 4)
    assert(r.getInt(7) == 36)
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT toFixedString('abcdef', 3) AS f FROM (SELECT 1)")
        .collect()
    }
    assert(bad.getMessage.contains("longer"))
  }

  test("round-13: Stable aliases, quantileInterpolatedWeighted, " +
      "sumMapFiltered") {
    Seq((1.0, 2.0, 10L), (2.0, 4.0, 1L), (3.0, 6.0, 1L))
      .toDF("x", "y", "w").createOrReplaceTempView("cx_st")
    val r = Compat.chSql(spark, """
      SELECT round(corrStable(x, y), 6) AS c,
        round(covarPopStable(x, y), 6) AS cp,
        round(covarSampStable(x, y), 6) AS cs,
        quantileInterpolatedWeighted(0.5)(x, w) AS qw
      FROM cx_st""").collect().head
    assert(r.getDouble(0) == 1.0)
    assert(math.abs(r.getDouble(1) - 2.0 * r.getDouble(1) / 2.0) < 1e-9)
    // weighted median: weights (10,1,1) -> the mass sits at x = 1
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    // sumMapFiltered keeps only the whitelisted keys
    Seq((Seq(1L, 2L, 3L), Seq(10L, 20L, 30L)),
      (Seq(2L, 4L), Seq(200L, 400L)))
      .toDF("k", "v").createOrReplaceTempView("cx_smf")
    val m = Compat.chSql(spark, """
      SELECT sumMapFiltered(array(2L, 3L))(k, v) AS m FROM cx_smf""")
      .collect().head.getStruct(0)
    assert(m.getSeq[Long](0) == Seq(2L, 3L))
    assert(m.getSeq[Long](1) == Seq(220L, 30L))
  }

  test("round-13: hasSubstr, keyed arrayMin/Max, range (end-exclusive)" +
      ", arrayWithConstant, emptyArray constructors") {
    val r = Compat.chSql(spark, """
      SELECT hasSubstr(array(1, 2, 3, 4), array(2, 3)) AS h1,
        hasSubstr(array(1, 2, 3, 4), array(2, 4)) AS h2,
        hasSubstr(array(1, 2), array(1, 2, 3)) AS h3,
        arrayMin(x -> -x, array(1, 5, 3)) AS km,
        arrayMax(x -> x % 3, array(4, 5, 6)) AS kx,
        range(4) AS r1, range(2, 5) AS r2, range(0, 10, 3) AS r3,
        arrayWithConstant(3, 'ab') AS awc,
        size(emptyArrayInt64()) AS ez,
        emptyArrayString() AS es
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1) && !r.getBoolean(2))
    assert(r.getInt(3) == -5) // min of negated values
    assert(r.getInt(4) == 2)  // max of mod-3 residues
    assert(r.getSeq[Long](5) == Seq(0L, 1L, 2L, 3L))
    assert(r.getSeq[Long](6) == Seq(2L, 3L, 4L))
    assert(r.getSeq[Long](7) == Seq(0L, 3L, 6L, 9L))
    assert(r.getSeq[String](8) == Seq("ab", "ab", "ab"))
    assert(r.getInt(9) == 0 && r.getSeq[String](10).isEmpty)
  }

  test("round-13: exponentialMovingAverage — 2^(-dt/hl)-weighted mean " +
      "anchored at the latest time") {
    // values (10,20,30) at t (0,60,120), hl=60: weights (1/4,1/2,1)
    // -> (2.5+10+30)/1.75 = 170/7
    Seq((1L, 10.0, 0.0), (1L, 20.0, 60.0), (1L, 30.0, 120.0),
      (2L, 5.0, 0.0))
      .toDF("g", "v", "t").createOrReplaceTempView("cx_ema")
    val r = Compat.chSql(spark, """
      SELECT g, exponentialMovingAverage(60)(v, t) AS e
      FROM cx_ema GROUP BY g ORDER BY g""").collect()
    assert(math.abs(r(0).getDouble(1) - 170.0 / 7.0) < 1e-12)
    // single observation: the EMA is the value itself
    assert(math.abs(r(1).getDouble(1) - 5.0) < 1e-12)
  }

  test("round-14: exponentialTimeDecayed{Sum,Count,Max,Avg} OVER — " +
      "hand-computed series, half-life identity, epoch stability, " +
      "named windows, bare-spelling refusal") {
    // τ=2, one series: (t,v) = (0,4),(1,2),(3,6); frame = RANGE
    // UNBOUNDED PRECEDING..CURRENT ROW so row r sees all t_i <= t_r
    // with weight e^((t_i-t_r)/2)
    Seq((1L, 0.0, 4.0), (1L, 1.0, 2.0), (1L, 3.0, 6.0))
      .toDF("g", "t", "v").createOrReplaceTempView("cx_dk")
    val rows = Compat.chSql(spark, """
      SELECT t,
        exponentialTimeDecayedSum(2.0)(v, t) OVER w AS dsum,
        exponentialTimeDecayedCount(2.0)(t) OVER w AS dcnt,
        exponentialTimeDecayedMax(2.0)(v, t) OVER w AS dmax,
        exponentialTimeDecayedAvg(2.0)(v, t) OVER w AS davg
      FROM cx_dk
      WINDOW w AS (PARTITION BY g ORDER BY t
        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY t""").collect()
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-12
    // first row: frame = itself
    assert(near(rows(0).getDouble(1), 4.0))
    assert(near(rows(0).getDouble(2), 1.0))
    assert(near(rows(0).getDouble(3), 4.0))
    assert(near(rows(0).getDouble(4), 4.0))
    // t=1: weights (e^-1/2, 1)
    val w0 = math.exp(-0.5)
    assert(near(rows(1).getDouble(1), 4 * w0 + 2))
    assert(near(rows(1).getDouble(2), w0 + 1))
    assert(near(rows(1).getDouble(3), 4 * w0)) // 4·e^-.5 ≈ 2.43 > 2
    assert(near(rows(1).getDouble(4), (4 * w0 + 2) / (w0 + 1)))
    // t=3: weights (e^-3/2, e^-1, 1)
    val (wa, wb) = (math.exp(-1.5), math.exp(-1.0))
    assert(near(rows(2).getDouble(1), 4 * wa + 2 * wb + 6))
    assert(near(rows(2).getDouble(2), wa + wb + 1))
    assert(near(rows(2).getDouble(3), 6.0))
    assert(near(rows(2).getDouble(4),
      (4 * wa + 2 * wb + 6) / (wa + wb + 1)))
    // half-life identity: a point aged exactly τ·ln2 weighs 1/2
    Seq((0.0, 1.0), (math.log(2.0), 0.0))
      .toDF("t", "v").createOrReplaceTempView("cx_dk_hl")
    val hl = Compat.chSql(spark, """
      SELECT exponentialTimeDecayedSum(1.0)(v, t)
        OVER (ORDER BY t) AS s
      FROM cx_dk_hl ORDER BY t""").collect()
    assert(near(hl(1).getDouble(0), 0.5))
    // EPOCH STABILITY — the reason the two-factor rewrite was
    // refused: e^(t/τ) at epoch seconds overflows double; the frame
    // fold keeps the anchor inside the exponent so this is finite
    Seq((1.7e9, 5.0), (1.7e9 + 60.0, 7.0))
      .toDF("t", "v").createOrReplaceTempView("cx_dk_ep")
    val ep = Compat.chSql(spark, """
      SELECT exponentialTimeDecayedSum(60.0)(v, t)
        OVER (ORDER BY t) AS s
      FROM cx_dk_ep ORDER BY t""").collect()
    assert(!ep(1).getDouble(0).isNaN && !ep(1).getDouble(0).isInfinite)
    assert(near(ep(1).getDouble(0), 5 * math.exp(-1.0) + 7))
    // timestamp ties share a RANGE frame: both t=0 rows see both
    Seq((0.0, 1.0), (0.0, 2.0), (1.0, 3.0))
      .toDF("t", "v").createOrReplaceTempView("cx_dk_tie")
    val tie = Compat.chSql(spark, """
      SELECT exponentialTimeDecayedSum(1.0)(v, t)
        OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING AND
          CURRENT ROW) AS s
      FROM cx_dk_tie ORDER BY t, v""").collect()
    assert(near(tie(0).getDouble(0), 3.0))
    assert(near(tie(1).getDouble(0), 3.0))
    assert(near(tie(2).getDouble(0), 3 * math.exp(-1.0) + 3))
    // bare spelling (no OVER): block-order refusal stands
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT exponentialTimeDecayedSum(2.0)(v, t) FROM cx_dk")
        .collect()
    }
    assert(bad.getMessage.contains("OVER"))
  }

  test("round-17: decayed frame gate — `AND n PRECEDING` keeps the " +
      "fold (current-row anchor), `AND CURRENT ROW` and shorthand " +
      "take the running form, internal names refused") {
    // τ=2, (t,v) = (0,4),(1,2),(3,6) — same series as the round-14
    // golden. Frame ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING
    // does NOT end at the current row: the decay anchor must stay the
    // CURRENT row's t (the fold), not the last frame row's t (the
    // running form) — they differ by e^((t_end−t_cur)/τ).
    Seq((1L, 0.0, 4.0), (1L, 1.0, 2.0), (1L, 3.0, 6.0))
      .toDF("g", "t", "v").createOrReplaceTempView("cx_dk17")
    val q = """
      SELECT t,
        exponentialTimeDecayedSum(2.0)(v, t) OVER
          (PARTITION BY g ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS s
      FROM cx_dk17 ORDER BY t"""
    assert(!Compat.translateCh(q).contains("__graft_decayed"),
      "a frame not ending at CURRENT ROW must keep the fold")
    val rows = Compat.chSql(spark, q).collect()
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-12
    // rows 0 and 1: empty frame -> NULL (parity with the running
    // form's empty state, and with SQL window aggregates)
    assert(rows(0).isNullAt(1) && rows(1).isNullAt(1))
    // row t=3 sees only (t=0, v=4), anchored at the CURRENT t=3:
    // 4·e^((0−3)/2) — the running form would wrongly read 4·e^0 = 4
    assert(near(rows(2).getDouble(1), 4.0 * math.exp(-1.5)))
    // explicit `AND CURRENT ROW` and the `<x> PRECEDING` shorthand
    // stay admitted (running form)...
    val okBetween = """
      SELECT exponentialTimeDecayedSum(2.0)(v, t) OVER
        (ORDER BY t ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
      FROM cx_dk17 ORDER BY t"""
    assert(Compat.translateCh(okBetween).contains("__graft_decayed_sum"))
    val slid = Compat.chSql(spark, okBetween).collect()
    assert(near(slid(0).getDouble(0), 4.0))
    assert(near(slid(1).getDouble(0), 4.0 * math.exp(-0.5) + 2.0))
    assert(near(slid(2).getDouble(0), 2.0 * math.exp(-1.0) + 6.0))
    val okShort = """
      SELECT exponentialTimeDecayedSum(2.0)(v, t) OVER
        (ORDER BY t ROWS 1 PRECEDING) AS s
      FROM cx_dk17 ORDER BY t"""
    assert(Compat.translateCh(okShort).contains("__graft_decayed_sum"))
    // ...and an ORDER BY key that ends in ')' survives the textual
    // match (round-16 stripSuffix defeated it -> silent fold)
    val okParen = """
      SELECT exponentialTimeDecayedSum(2.0)(v, abs(t)) OVER
        (ORDER BY abs(t)) AS s
      FROM cx_dk17 ORDER BY t"""
    assert(Compat.translateCh(okParen).contains("__graft_decayed_sum"))
    // internal names are not a user surface
    val internal = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT __graft_decayed_sum(v, t, 2.0) FROM cx_dk17").collect()
    }
    assert(internal.getMessage.contains("internal"))
  }

  test("round-17: decayed NULL parity — rows with NULL v contribute " +
      "nothing on both the running and the fold paths") {
    // one NULL v mid-series; distinct t so `ORDER BY t` (running) and
    // `ORDER BY t, g` (fold: two keys fail the order proof) build the
    // exact same frames
    Seq((1L, 0.0, Some(4.0)), (1L, 1.0, None), (1L, 3.0, Some(6.0)))
      .toDF("g", "t", "v").createOrReplaceTempView("cx_dknull")
    def q(order: String) = s"""
      SELECT t,
        exponentialTimeDecayedSum(2.0)(v, t) OVER
          (PARTITION BY g ORDER BY $order
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        exponentialTimeDecayedAvg(2.0)(v, t) OVER
          (PARTITION BY g ORDER BY $order
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
      FROM cx_dknull ORDER BY t"""
    assert(Compat.translateCh(q("t")).contains("__graft_decayed"))
    assert(!Compat.translateCh(q("t, g")).contains("__graft_decayed"))
    val run = Compat.chSql(spark, q("t")).collect()
    val fold = Compat.chSql(spark, q("t, g")).collect()
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-12
    (0 until 3).foreach { i =>
      assert(near(run(i).getDouble(1), fold(i).getDouble(1)),
        s"sum row $i: running ${run(i)} vs fold ${fold(i)}")
      assert(near(run(i).getDouble(2), fold(i).getDouble(2)),
        s"avg row $i")
    }
    // hand-check: the NULL-v row contributes nothing but the decay
    // anchor still moves to its (valid) t
    assert(near(run(1).getDouble(1), 4.0 * math.exp(-0.5)))
    assert(near(run(2).getDouble(1), 4.0 * math.exp(-1.5) + 6.0))
  }

  test("round-14: date utility batch — dateTrunc, timeSlot(s), " +
      "toRelative*Num") {
    val r = Compat.chSql(spark, """
      SELECT
        dateTrunc('month', TIMESTAMP'2024-03-17 10:17:42') AS dm,
        dateTrunc('hour', TIMESTAMP'2024-03-17 10:17:42') AS dh,
        timeSlot(TIMESTAMP'2024-03-17 10:17:42') AS slot,
        timeSlots(TIMESTAMP'2024-03-17 10:17:00', 1200) AS slots,
        timeSlots(TIMESTAMP'2024-03-17 10:17:00', 600, 600) AS slots6,
        toRelativeDayNum(DATE'1970-01-02') AS rd,
        toRelativeHourNum(TIMESTAMP'1970-01-01 02:30:00') AS rh,
        toRelativeMinuteNum(TIMESTAMP'1970-01-01 00:02:30') AS rm,
        toRelativeSecondNum(TIMESTAMP'1970-01-01 00:00:42') AS rs,
        timeSlot(TIMESTAMP'1969-12-31 23:59:00') AS slotneg,
        timeSlots(TIMESTAMP'1969-12-31 23:59:00', 120, 60) AS slotsneg,
        toRelativeHourNum(TIMESTAMP'1969-12-31 23:59:59') AS rhneg,
        toRelativeMinuteNum(TIMESTAMP'1969-12-31 23:59:59') AS rmneg
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getDate(0).toString == "2024-03-01")
    assert(r.getTimestamp(1).toString == "2024-03-17 10:00:00.0")
    assert(r.getTimestamp(2).toString == "2024-03-17 10:00:00.0")
    assert(r.getSeq[java.sql.Timestamp](3).map(_.toString) ==
      Seq("2024-03-17 10:00:00.0", "2024-03-17 10:30:00.0"))
    assert(r.getSeq[java.sql.Timestamp](4).map(_.toString) ==
      Seq("2024-03-17 10:10:00.0", "2024-03-17 10:20:00.0"))
    assert(r.getInt(5) == 1)
    assert(r.getLong(6) == 2L)
    assert(r.getLong(7) == 2L)
    assert(r.getLong(8) == 42L)
    // pre-1970: epoch -60 floors DOWN to -1800 (23:30), not up to 0 —
    // IntegralDivide would truncate toward zero and bucket these wrong
    assert(r.getTimestamp(9).toString == "1969-12-31 23:30:00.0")
    assert(r.getSeq[java.sql.Timestamp](10).map(_.toString) ==
      Seq("1969-12-31 23:59:00.0", "1970-01-01 00:00:00.0",
        "1970-01-01 00:01:00.0"))
    assert(r.getLong(11) == -1L)
    assert(r.getLong(12) == -1L)
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT dateTrunc('fortnight', now()) AS x").collect()
    }
    assert(bad.getMessage.contains("unsupported unit"))
  }

  test("round-14: map HOF batch — filter/exists/all/apply/concat/" +
      "update + the unordered-map sort refusal") {
    val r = Compat.chSql(spark, """
      SELECT
        mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2, 'c', 3)) AS mf,
        mapExists((k, v) -> v = 3, map('a', 1, 'c', 3)) AS me,
        mapExists((k, v) -> v = 9, map('a', 1, 'c', 3)) AS me0,
        mapAll((k, v) -> v > 0, map('a', 1, 'c', 3)) AS ma,
        mapAll((k, v) -> v > 1, map('a', 1, 'c', 3)) AS ma0,
        mapApply((k, v) -> (k, v * 2), map('a', 1, 'b', 2)) AS map2,
        mapConcat(map('a', 1, 'b', 2), map('b', 9, 'c', 3)) AS mc,
        mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3)) AS mu
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getMap[String, Int](0).toMap == Map("b" -> 2, "c" -> 3))
    assert(r.getBoolean(1) && !r.getBoolean(2))
    assert(r.getBoolean(3) && !r.getBoolean(4))
    assert(r.getMap[String, Int](5).toMap == Map("a" -> 2, "b" -> 4))
    // mapConcat: FIRST occurrence of 'b' wins (CH contract)
    assert(r.getMap[String, Int](6).toMap ==
      Map("a" -> 1, "b" -> 2, "c" -> 3))
    // mapUpdate: the SECOND map overrides
    assert(r.getMap[String, Int](7).toMap ==
      Map("a" -> 1, "b" -> 9, "c" -> 3))
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT mapSort(map('a', 1)) AS x").collect()
    }
    assert(bad.getMessage.contains("unordered"))
  }

  test("round-14: multiSearch family — leftmost position, needle " +
      "index ties, absent-needle zeros") {
    val r = Compat.chSql(spark, """
      SELECT
        multiSearchAllPositions('hello world', array('lo', 'xx', 'wor'))
          AS ap,
        multiSearchFirstPosition('hello world', array('lo', 'wor')) AS fp,
        multiSearchFirstPosition('hello', array('xx', 'yy')) AS fp0,
        multiSearchFirstIndex('hello world', array('lo', 'wor')) AS fi,
        multiSearchFirstIndex('hello', array('l', 'he')) AS fitie,
        multiSearchFirstIndex('hello', array('xx')) AS fi0
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getSeq[Long](0) == Seq(4L, 0L, 7L))
    assert(r.getLong(1) == 4L)
    assert(r.getLong(2) == 0L)
    assert(r.getLong(3) == 1L)
    // 'he' matches at position 1, 'l' at 3 -> the LEFTMOST match wins
    // even though 'l' comes first in the needle list
    assert(r.getLong(4) == 2L)
    assert(r.getLong(5) == 0L)
  }

  test("round-14: Lp norm/distance + normalize family — textbook " +
      "3-4-5 anchors") {
    val r = Compat.chSql(spark, """
      SELECT
        LpNorm(array(3.0, 4.0), 2) AS n2,
        LpNorm(array(1.0, -1.0, 1.0), 1) AS n1,
        LpDistance(array(0.0, 0.0), array(3.0, 4.0), 2) AS d2,
        LinfNorm(array(-7.0, 5.0)) AS ninf,
        LinfDistance(array(1.0, 2.0), array(4.0, -2.0)) AS dinf,
        normalizeL1(array(2.0, -2.0)) AS nl1,
        normalizeLinf(array(2.0, -4.0)) AS nli,
        normalizeLp(array(3.0, 4.0), 2) AS nlp
      FROM (SELECT 1 AS one)""").collect().head
    assert(math.abs(r.getDouble(0) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 3.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - 7.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 4.0) < 1e-12)
    assert(r.getSeq[Double](5) == Seq(0.5, -0.5))
    assert(r.getSeq[Double](6) == Seq(0.5, -1.0))
    assert(r.getSeq[Double](7).zip(Seq(0.6, 0.8))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("round-14: arrayEnumerateDense/Uniq — first-appearance ids " +
      "and running occurrence counters") {
    val r = Compat.chSql(spark, """
      SELECT
        arrayEnumerateDense(array(10, 20, 10, 30)) AS d,
        arrayEnumerateUniq(array(10, 20, 10, 10)) AS u,
        arrayEnumerateDense(array_repeat(1, 0)) AS de,
        arrayEnumerateUniq(array_repeat(1, 0)) AS ue,
        arrayEnumerateDense(array(10, NULL, 10, NULL, 20)) AS dn,
        arrayEnumerateUniq(array(10, NULL, 10, NULL, 20)) AS un
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getSeq[Int](0) == Seq(1, 2, 1, 3))
    assert(r.getSeq[Int](1) == Seq(1, 1, 2, 3))
    assert(r.getSeq[Int](2).isEmpty && r.getSeq[Int](3).isEmpty)
    // NULL is enumerated as a value (CH semantics), consistently in
    // both variants — the old array_position scan left NULL ids NULL
    assert(r.getSeq[Int](4) == Seq(1, 2, 1, 2, 3))
    assert(r.getSeq[Int](5) == Seq(1, 1, 2, 2, 1))
  }

  test("round-14: analysisOfVariance / categoricalInformationValue — " +
      "hand-computed F, incomplete-beta p, WoE information value") {
    // groups (1,2,3) (2,4,6) (5,5,8): SSB/2 = 9, SSW/6 = 2 -> F = 4.5
    // exactly; p = I_{6/(6+2·4.5)}(3, 1) = (2/5)^3 = 0.064 exactly
    Seq((1.0, "a"), (2.0, "a"), (3.0, "a"), (2.0, "b"), (4.0, "b"),
      (6.0, "b"), (5.0, "c"), (5.0, "c"), (8.0, "c"))
      .toDF("v", "g").createOrReplaceTempView("cx_anova")
    val r = Compat.chSql(spark, """
      SELECT analysisOfVariance(v, g) AS a, anova(v, g) AS a2
      FROM cx_anova""").collect().head
    val a = r.getStruct(0)
    assert(math.abs(a.getDouble(0) - 4.5) < 1e-12)
    assert(math.abs(a.getDouble(1) - 0.064) < 1e-10)
    assert(r.getStruct(1).getDouble(0) == a.getDouble(0))
    // degenerate: one group -> (NaN, NaN)
    val d = Compat.chSql(spark,
      "SELECT analysisOfVariance(v, 'x') AS a FROM cx_anova")
      .collect().head.getStruct(0)
    assert(d.getDouble(0).isNaN && d.getDouble(1).isNaN)
    // IV: category a -> (2 good, 1 bad), b -> (1 good, 2 bad),
    // G = B = 3: IV = (2/3)·ln 2 = 0.46209812037329684
    Seq(("a", 1), ("a", 1), ("a", 0), ("b", 1), ("b", 0), ("b", 0))
      .toDF("c", "t").createOrReplaceTempView("cx_iv")
    val iv = Compat.chSql(spark,
      "SELECT categoricalInformationValue(c, t) AS iv FROM cx_iv")
      .collect().head.getSeq[Double](0)
    assert(iv.size == 1 &&
      math.abs(iv.head - 0.46209812037329684) < 1e-12)
  }

  test("round-14: splitters, ngram similarity, arrayAUC — goldens") {
    val r = Compat.chSql(spark, """
      SELECT
        splitByRegexp('\\d+', 'a1b22c') AS sr,
        splitByRegexp('', 'abc') AS sc,
        splitByWhitespace('  one  two ') AS sw,
        alphaTokens('ab12cd,ef') AS at,
        ngramDistance('abcde', 'abcdf') AS nd,
        ngramDistance('abcde', 'abcde') AS nd0,
        ngramDistance('abc', 'xyz1234') AS nd1,
        ngramDistance('ab', 'cd') AS ndshort,
        ngramDistance('', '') AS ndempty,
        ngramSearch('abcdef', 'bcde') AS ns,
        ngramSearch('abcdef', 'wxyz') AS ns0,
        arrayAUC(array(0.1, 0.4, 0.35, 0.8),
          array(0, 0, 1, 1)) AS auc,
        arrayAUC(array(1.0, 1.0), array(0, 1)) AS auctie,
        arrayAUC(array(1.0, 2.0), array(1, 1)) AS aucdeg
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    assert(r.getSeq[String](1) == Seq("a", "b", "c"))
    assert(r.getSeq[String](2) == Seq("one", "two"))
    assert(r.getSeq[String](3) == Seq("ab", "cd", "ef"))
    assert(math.abs(r.getDouble(4) - 0.5) < 1e-12)
    assert(r.getDouble(5) == 0.0)
    assert(r.getDouble(6) == 1.0)
    assert(r.getDouble(7) == 1.0)
    assert(r.getDouble(8) == 0.0)
    assert(r.getDouble(9) == 1.0)
    assert(r.getDouble(10) == 0.0)
    assert(math.abs(r.getDouble(11) - 0.75) < 1e-12)
    assert(math.abs(r.getDouble(12) - 0.5) < 1e-12)
    assert(r.getDouble(13).isNaN)
  }

  test("round-14: regex groups, ranged reduce, bitmap folds — " +
      "goldens + refusals") {
    val r = Compat.chSql(spark, """
      SELECT
        extractAllGroupsHorizontal('k=1, m=2', '(\\w)=(\\d)') AS h,
        extractAllGroupsVertical('k=1, m=2', '(\\w)=(\\d)') AS v,
        extractAllGroupsVertical('nope', '(\\w)=(\\d)') AS v0,
        arrayReduceInRanges('sum', array((1, 3), (2, 2)),
          array(10, 20, 30, 40)) AS rr,
        arrayReduceInRanges('count', array((1, 2)),
          array(10, 20, 30)) AS rc
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getSeq[Seq[String]](0) == Seq(Seq("k", "m"), Seq("1", "2")))
    assert(r.getSeq[Seq[String]](1) == Seq(Seq("k", "1"), Seq("m", "2")))
    assert(r.getSeq[Seq[String]](2).isEmpty)
    assert(r.getSeq[Long](3) == Seq(60L, 50L))
    assert(r.getSeq[Long](4) == Seq(2L))
    // bitmap folds over per-row element sets
    Seq(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L), Seq(3L, 4L, 5L))
      .toDF("b").createOrReplaceTempView("cx_bm")
    val b = Compat.chSql(spark, """
      SELECT groupBitmapAnd(b) AS a, groupBitmapOr(b) AS o,
        groupBitmapXor(b) AS x FROM cx_bm""").collect().head
    assert(b.getLong(0) == 1L) // {3}
    assert(b.getLong(1) == 5L) // {1..5}
    assert(b.getLong(2) == 3L) // {1,3,5}
    val bad = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT sumWithOverflow(b[0]) AS s FROM cx_bm").collect()
    }
    assert(bad.getMessage.contains("overflow"))
  }

  test("round-14: epoch codecs, year-zero days, multiMatch, tuple " +
      "hamming, positionUTF8 — goldens") {
    val r = Compat.chSql(spark, """
      SELECT
        toUnixTimestamp64Milli(TIMESTAMP'1970-01-01 00:00:01.5') AS ms,
        toUnixTimestamp64Micro(TIMESTAMP'1970-01-01 00:00:01.5') AS us,
        toUnixTimestamp64Nano(TIMESTAMP'1970-01-01 00:00:01.5') AS ns,
        CAST(fromUnixTimestamp64Milli(1500) AS STRING) AS fms,
        CAST(fromUnixTimestamp64Nano(1500000000) AS STRING) AS fns,
        CAST(fromDaysSinceYearZero(739136) AS STRING) AS fdz,
        toDaysSinceYearZero(DATE'2023-09-08') AS tdz,
        multiMatchAny('hello', array('^x', 'l+o$')) AS mm,
        multiMatchAny('hello', array('^x', 'zz')) AS mm0,
        multiMatchAnyIndex('hello', array('^x', 'l+o$', 'h')) AS mi,
        tupleHammingDistance((1, 2, 3), (1, 9, 3)) AS thd,
        positionUTF8('héllo', 'llo') AS pu,
        positionCaseInsensitiveUTF8('HÉLLO', 'llo') AS pci
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getLong(0) == 1500L)
    assert(r.getLong(1) == 1500000L)
    assert(r.getLong(2) == 1500000000L)
    assert(r.getString(3) == "1970-01-01 00:00:01.5")
    assert(r.getString(4) == "1970-01-01 00:00:01.5")
    // CH docs anchor: fromDaysSinceYearZero(739136) = 2023-09-08
    assert(r.getString(5) == "2023-09-08")
    assert(r.getInt(6) == 739136)
    assert(r.getBoolean(7) && !r.getBoolean(8))
    assert(r.getLong(9) == 2L)
    assert(r.getInt(10) == 1)
    assert(r.getInt(11) == 3)
    assert(r.getInt(12) == 3)
  }

  test("round-14: jaroSimilarity / jaroWinklerSimilarity — classic " +
      "anchors and empties") {
    val r = Compat.chSql(spark, """
      SELECT
        jaroSimilarity('MARTHA', 'MARHTA') AS j1,
        jaroWinklerSimilarity('MARTHA', 'MARHTA') AS jw1,
        jaroSimilarity('DWAYNE', 'DUANE') AS j2,
        jaroSimilarity('CRATE', 'TRACE') AS j3,
        jaroSimilarity('abc', 'abc') AS jid,
        jaroSimilarity('', '') AS jee,
        jaroSimilarity('a', '') AS je1,
        jaroSimilarity('abc', 'xyz') AS j0,
        jaroSimilarity('abcdxxxx', 'abcyyyyzzzz') AS jlo,
        jaroWinklerSimilarity('abcdxxxx', 'abcyyyyzzzz') AS jwlo,
        jaroWinklerSimilarity('ab', 'abcdefghij') AS jwmid
      FROM (SELECT 1 AS one)""").collect().head
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(near(r.getDouble(0), 17.0 / 18.0))          // 0.944444…
    assert(near(r.getDouble(1), 17.0 / 18.0 +
      3 * 0.1 * (1.0 - 17.0 / 18.0)))                  // 0.961111…
    assert(near(r.getDouble(2), 0.8222222222222223))
    assert(near(r.getDouble(3), 0.7333333333333334))
    assert(r.getDouble(4) == 1.0)
    assert(r.getDouble(5) == 1.0)
    assert(r.getDouble(6) == 0.0)
    assert(r.getDouble(7) == 0.0)
    // below the 0.7 boost threshold the 3-char common prefix must NOT
    // add the Winkler bonus (DuckDB golden: both 0.5492424242424242)
    assert(near(r.getDouble(8), 0.5492424242424242))
    assert(near(r.getDouble(9), 0.5492424242424242))
    // just above the threshold the bonus applies (DuckDB golden)
    assert(near(r.getDouble(10), 0.7866666666666667))
  }

  test("round-14: URL family round-out — pathFull/netloc/port/" +
      "hierarchies/subdomain/encode + IP validation/CIDR") {
    val r = Compat.chSql(spark, """
      SELECT
        pathFull('http://x.com/a/b?c=1#f') AS pf,
        queryStringAndFragment('http://x.com/a/b?c=1#f') AS qf,
        cutQueryString('http://x.com/a?b=1#f') AS cq,
        cutWWW('https://www.x.com/a') AS cw,
        netloc('http://u:p@x.com:8080/a') AS nl,
        port('http://x.com:8080/a') AS po,
        port('http://x.com/a') AS po0,
        port('http://x.com/a', 443) AS pod,
        firstSignificantSubdomain('http://news.clickhouse.com.tr/')
          AS fs1,
        firstSignificantSubdomain('http://www.example.com/') AS fs2,
        URLHierarchy('https://example.com/browse/CONV-6788?view=1')
          AS uh,
        URLPathHierarchy('https://example.com/browse/CONV-6788') AS uph,
        encodeURLComponent('a b+c') AS enc,
        decodeURLComponent('a%20b+c') AS dec,
        tryBase64Decode('aGk=') AS b64,
        tryBase64Decode('!!!') AS b640,

        unhex('4142') AS uhx,
        bin(5) AS b5,
        bin(300) AS b300,
        isIPv4String('1.2.3.4') AS v4,
        isIPv4String('256.1.1.1') AS v4bad,
        isIPv6String('fe80::1') AS v6,
        isIPv6String('1.2.3.4') AS v6bad,
        IPv4CIDRToRange('192.168.5.2', 16) AS cidr,
        isIPAddressInRange('192.168.1.5', '192.168.0.0/16') AS inr,
        isIPAddressInRange('10.0.0.1', '192.168.0.0/16') AS inr0
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getString(0) == "/a/b?c=1#f")
    assert(r.getString(1) == "c=1#f")
    assert(r.getString(2) == "http://x.com/a#f")
    assert(r.getString(3) == "https://x.com/a")
    assert(r.getString(4) == "u:p@x.com:8080")
    assert(r.getInt(5) == 8080 && r.getInt(6) == 0 && r.getInt(7) == 443)
    assert(r.getString(8) == "clickhouse")
    assert(r.getString(9) == "example")
    assert(r.getSeq[String](10) == Seq(
      "https://example.com/",
      "https://example.com/browse/",
      "https://example.com/browse/CONV-6788",
      "https://example.com/browse/CONV-6788?view=1"))
    assert(r.getSeq[String](11) == Seq("/browse/", "/browse/CONV-6788"))
    assert(r.getString(12) == "a%20b%2Bc")
    assert(r.getString(13) == "a b+c")
    assert(r.getString(14) == "hi" && r.getString(15) == "")
    assert(r.getString(16) == "AB")
    assert(r.getString(17) == "00000101")
    assert(r.getString(18) == "0000000100101100")
    assert(r.getBoolean(19) && !r.getBoolean(20))
    assert(r.getBoolean(21) && !r.getBoolean(22))
    val cidr = r.getStruct(23)
    assert(cidr.getString(0) == "192.168.0.0" &&
      cidr.getString(1) == "192.168.255.255")
    assert(r.getBoolean(24) && !r.getBoolean(25))
    // hex is Spark-native and untouched: uppercase like CH
    assert(Compat.chSql(spark,
      "SELECT hex('AB') AS h FROM (SELECT 1 AS one)")
      .collect().head.getString(0) == "4142")
  }

  test("round-15: splitByNonAlpha / max_substrings truncation / " +
      "toStartOfInterval origin") {
    val r = Compat.chSql(spark, """
      SELECT
        splitByNonAlpha('ab1!-cd 2x') AS sna,
        splitByNonAlpha('!ab!') AS snae,
        splitByNonAlpha('a.b,c d', 2) AS sna2,
        splitByChar(',', 'a,b,c', 2) AS sbc2,
        splitByChar(',', 'a,b,c', 0) AS sbc0,
        splitByString('__', 'x__y__z', 1) AS sbs1,
        splitByRegexp('[,;]', 'a,b;c,d', 3) AS sbr3,
        splitByWhitespace('  a  b  c ', 2) AS sbw2,
        alphaTokens('ab12cd34ef', 2) AS at2,
        CAST(toStartOfInterval(TIMESTAMP'2024-03-01 00:02:59',
          INTERVAL 90 SECOND) AS BIGINT) AS tsi,
        CAST(toStartOfInterval(TIMESTAMP'2024-03-01 00:02:59',
          INTERVAL 90 SECOND, TIMESTAMP'2024-03-01 00:00:17')
          AS BIGINT) AS tsio,
        CAST(toStartOfFifteenMinutes(TIMESTAMP'1969-12-31 23:59:00')
          AS BIGINT) AS t15n
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getSeq[String](0) == Seq("ab1", "cd", "2x"))
    assert(r.getSeq[String](1) == Seq("ab"))
    assert(r.getSeq[String](2) == Seq("a", "b"))
    // max_substrings TRUNCATES (CH default setting) — the remainder is
    // dropped, never folded into the last element
    assert(r.getSeq[String](3) == Seq("a", "b"))
    assert(r.getSeq[String](4) == Seq("a", "b", "c"))
    assert(r.getSeq[String](5) == Seq("x"))
    assert(r.getSeq[String](6) == Seq("a", "b", "c"))
    assert(r.getSeq[String](7) == Seq("a", "b"))
    assert(r.getSeq[String](8) == Seq("ab", "cd"))
    // 2024-03-01 00:02:59 = epoch 1709251379; floor to 90 s → 1709251290
    assert(r.getLong(9) == 1709251290L)
    // origin 1709251217: diff 162 → floor 90 → origin + 90 = 1709251307
    assert(r.getLong(10) == 1709251307L)
    // pre-1970 15-min bucket floors DOWN to 23:45 (epoch -900)
    assert(r.getLong(11) == -900L)
    // origin-anchored MONTH buckets refuse (engine-specific rounding)
    val bad = intercept[Exception] {
      Compat.chSql(spark, "SELECT toStartOfInterval(now(), " +
        "INTERVAL 1 MONTH, now()) AS x").collect()
    }
    assert(bad.getMessage.contains("origin-anchored MONTH"))
  }

  test("round-15: add*/subtract*/age/fromUnixTimestamp/snowflake " +
      "codecs/substringIndex/hasSubsequence/format") {
    val r = Compat.chSql(spark, """
      SELECT
        CAST(addDays(DATE'2024-01-31', 1) AS STRING) AS ad,
        CAST(addMonths(TIMESTAMP'2024-01-31 10:00:00', 1) AS STRING)
          AS am,
        CAST(subtractHours(TIMESTAMP'2024-03-01 01:30:00', 3)
          AS STRING) AS sh,
        age('hour', TIMESTAMP'2018-01-01 22:30:00',
          TIMESTAMP'2018-01-02 23:00:00') AS ageh,
        age('day', TIMESTAMP'2018-01-01 22:30:00',
          TIMESTAMP'2018-01-02 23:00:00') AS aged,
        age('month', TIMESTAMP'2021-01-15 00:00:00',
          TIMESTAMP'2021-03-20 00:00:00') AS agem,
        toYYYYMMDDhhmmss(TIMESTAMP'2024-03-07 09:05:06') AS ynum,
        toISOYear(DATE'2021-01-01') AS iy1,
        toISOYear(DATE'2021-01-04') AS iy2,
        CAST(fromUnixTimestamp(1709251200) AS STRING) AS fu,
        fromUnixTimestamp(1709251200, '%Y-%m-%d') AS fuf,
        CAST(snowflakeToDateTime(1426860702823350272) AS STRING)
          AS sfs,
        CAST(snowflakeToDateTime64(1426860702823350272) AS STRING)
          AS sfm,
        dateTimeToSnowflake(snowflakeToDateTime64(1426860702823350272))
          AS sfr,
        substringIndex('www.spark.apache.org', '.', 2) AS si,
        countSubstringsCaseInsensitive('AbcABC', 'abc') AS csi,
        hasSubsequence('garbage', 'arg') AS hs1,
        hasSubsequence('abc', 'acb') AS hs0,
        hasSubsequenceCaseInsensitive('GARBAGE', 'arg') AS hsi,
        format('{} {}', 'Hello', 'World') AS f1,
        format('{1} {0}', 'a', 'b') AS f2,
        format('{{}} {}', 5) AS f3
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getString(0) == "2024-02-01 00:00:00")
    assert(r.getString(1) == "2024-02-29 10:00:00") // month-end clamp
    assert(r.getString(2) == "2024-02-29 22:30:00")
    // age = COMPLETE elapsed units (24.5h -> 24; 1 full day; two
    // whole months Jan-15 -> Mar-20; month-end-clamp edges are
    // engine-fluid and documented, not pinned)
    assert(r.getLong(3) == 24L)
    assert(r.getLong(4) == 1L)
    assert(r.getLong(5) == 2L)
    assert(r.getLong(6) == 20240307090506L)
    assert(r.getInt(7) == 2020 && r.getInt(8) == 2021)
    assert(r.getString(9) == "2024-03-01 00:00:00")
    assert(r.getString(10) == "2024-03-01")
    // CH docs example: 1426860702823350272 -> 2021-08-15 10:57:56
    assert(r.getString(11) == "2021-08-15 10:57:56")
    assert(r.getString(12) == "2021-08-15 10:57:56") // ms happen = 0
    // codec round trip recovers the id's timestamp bits exactly
    assert(r.getLong(13) == (1426860702823350272L >> 22) << 22)
    assert(r.getString(14) == "www.spark")
    assert(r.getLong(15) == 2L)
    assert(r.getBoolean(16) && !r.getBoolean(17) && r.getBoolean(18))
    assert(r.getString(19) == "Hello World")
    assert(r.getString(20) == "b a")
    assert(r.getString(21) == "{} 5")
    // randomness spellings refuse with the native pointer
    val bad = intercept[Exception] {
      Compat.chSql(spark, "SELECT rand() AS x").collect()
    }
    assert(bad.getMessage.contains("engine-internal randomness"))
  }

  test("round-15: arrayFill / arrayReverseFill / arraySplit / " +
      "arrayReverseSplit — predicate fill and run segmentation") {
    val r = Compat.chSql(spark, """
      SELECT
        arrayFill(x -> NOT isNull(x),
          array(1, NULL, 3, 11, 12, NULL, NULL, 5, 6, 14, NULL, NULL))
          AS ff,
        arrayReverseFill(x -> NOT isNull(x),
          array(1, NULL, 3, 11, 12, NULL, NULL, 5, 6, 14, NULL, NULL))
          AS rf,
        arrayFill(x -> x > 0, array(-1, -2, 3, -4)) AS ff2,
        arraySplit(x -> x = 1,
          array(10, 20, 30, 1, 40, 1, 50)) AS sp,
        arrayReverseSplit(x -> x = 1,
          array(10, 1, 20, 30, 1, 40)) AS rsp,
        arraySplit(x -> x > 0, array(5)) AS sp1,
        arraySplit(x -> x > 0, array_repeat(1, 0)) AS spe,
        arrayFill(x -> x > 0, array_repeat(1, 0)) AS ffe
      FROM (SELECT 1 AS one)""").collect().head
    // CH docs example: forward fill carries the last non-null LEFT
    // value; the leading element is never replaced
    assert(r.getSeq[Integer](0) == Seq[Integer](1, 1, 3, 11, 12, 12,
      12, 5, 6, 14, 14, 14))
    assert(r.getSeq[Integer](1) == Seq[Integer](1, 3, 3, 11, 12, 5, 5,
      5, 6, 14, null, null))
    assert(r.getSeq[Int](2) == Seq(-1, -1, 3, 3))
    // split BEFORE matching elements; first group starts at 1
    assert(r.getSeq[Seq[Int]](3) ==
      Seq(Seq(10, 20, 30), Seq(1, 40), Seq(1, 50)))
    // reverse variant splits AFTER matching elements
    assert(r.getSeq[Seq[Int]](4) ==
      Seq(Seq(10, 1), Seq(20, 30, 1), Seq(40)))
    assert(r.getSeq[Seq[Int]](5) == Seq(Seq(5)))
    assert(r.getSeq[Seq[Int]](6).isEmpty)
    assert(r.getSeq[Int](7).isEmpty)
  }

  test("round-15: isIPv6String — grammar walk: compression, " +
      "IPv4-mapped tails, malformed rejections") {
    import graft.functions.IsIpv6String.valid
    // accepts
    assert(valid("fe80::1"))
    assert(valid("::"))
    assert(valid("::1"))
    assert(valid("1::"))
    assert(valid("::ffff:1.2.3.4"))          // IPv4-mapped
    assert(valid("::ffff:255.255.255.255"))
    assert(valid("2001:db8:85a3:0:0:8a2e:370:7334")) // full 8 groups
    assert(valid("2001:db8:85a3::8a2e:370:7334"))
    assert(valid("0:0:0:0:0:0:13.1.68.3"))   // 6 groups + v4 tail
    // rejects
    assert(!valid("fe80:::1"))               // triple colon
    assert(!valid("1200::AB00:1234::2552:7777:1313")) // two '::'
    assert(!valid("1.2.3.4"))                // bare v4
    assert(!valid("2001:db8:85a3:0:0:8a2e:370:7334:aaaa")) // 9 groups
    assert(!valid("2001:db8:85a3:0:0:8a2e:370"))           // 7 groups
    assert(!valid("::ffff:1.2.3.256"))       // octet > 255
    assert(!valid("::ffff:1.2.3"))           // 3-octet tail
    assert(!valid("::ffff:01.2.3.4"))        // leading-zero octet
    assert(!valid("fe80::1%eth0"))           // zone index
    assert(!valid("12345::1"))               // 5-digit group
    assert(!valid(":"))
    assert(!valid(""))
    assert(!valid("fe80::1:"))               // trailing single ':'
    assert(!valid(":fe80::1"))               // leading single ':'
    assert(!valid("g::1"))                   // non-hex
    assert(!valid("1:2:3:4:5:6:7:1.2.3.4"))  // tail after 7 groups = 9
    // and through the SQL surface
    val r = Compat.chSql(spark, """
      SELECT isIPv6String('::ffff:1.2.3.4') AS a,
             isIPv6String('fe80:::1') AS b
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("round-14: formatDateTime / parseDateTime / BestEffort — " +
      "modern %-code table, literal quoting, refusals") {
    val r = Compat.chSql(spark, """
      SELECT
        formatDateTime(TIMESTAMP'2024-03-07 09:05:06', '%Y-%m-%d') AS a,
        formatDateTime(TIMESTAMP'2024-03-07 09:05:06',
          '%F %H:%i:%S') AS b,
        formatDateTime(TIMESTAMP'2024-03-07 09:05:06',
          'at %H o''clock') AS c,
        formatDateTime(TIMESTAMP'2024-03-07 09:05:06', '%M %e, %Y')
          AS d,
        formatDateTime(TIMESTAMP'2024-03-07 09:05:06', '100%%') AS e,
        CAST(parseDateTime('2024-03-07 09:05:06',
          '%Y-%m-%d %H:%i:%S') AS STRING) AS p1,
        parseDateTimeOrNull('nope', '%Y-%m-%d') AS p2,
        CAST(parseDateTimeBestEffort('2024-03-07T09:05:06') AS STRING)
          AS p3,
        CAST(parseDateTimeBestEffort('2024/03/07') AS STRING) AS p4,
        CAST(parseDateTimeBestEffort('1700000000') AS STRING) AS p5,
        parseDateTimeBestEffortOrNull('garbage') AS p6
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getString(0) == "2024-03-07")
    assert(r.getString(1) == "2024-03-07 09:05:06")
    assert(r.getString(2) == "at 09 o'clock")
    assert(r.getString(3) == "March 7, 2024")
    assert(r.getString(4) == "100%")
    assert(r.getString(5) == "2024-03-07 09:05:06")
    assert(r.isNullAt(6))
    assert(r.getString(7) == "2024-03-07 09:05:06")
    assert(r.getString(8) == "2024-03-07 00:00:00")
    assert(r.getString(9) == "2023-11-14 22:13:20")
    assert(r.isNullAt(10))
    val bad = intercept[Exception] {
      Compat.chSql(spark, "SELECT formatDateTime(now(), '%V') AS x")
        .collect()
    }
    assert(bad.getMessage.contains("no deterministic"))
    val bad2 = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT parseDateTimeBestEffort('zzz') AS x " +
          "FROM (SELECT 1 AS one)").collect()
    }
    assert(bad2.getMessage.contains("cannot parse"))
  }

  test("round-14: arrayShingles — consecutive windows, short-array " +
      "empty, bad length") {
    val r = Compat.chSql(spark, """
      SELECT
        arrayShingles(array(1, 2, 3, 4), 3) AS a,
        arrayShingles(array(1, 2), 3) AS b,
        arrayShingles(array(1, 2), 0) AS c
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getSeq[Seq[Int]](0) == Seq(Seq(1, 2, 3), Seq(2, 3, 4)))
    assert(r.getSeq[Seq[Int]](1).isEmpty)
    assert(r.getSeq[Seq[Int]](2).isEmpty)
  }

  test("round-14: fingerprint spellings refuse with the pointer to " +
      "the engine's own simhash/minhash operators") {
    Seq("ngramSimHash('x')", "wordShingleSimHash('x')",
      "ngramMinHash('x')", "arrayRandomSample(array(1), 1)")
      .foreach { call =>
        val bad = intercept[Exception] {
          Compat.chSql(spark, s"SELECT $call AS v").collect()
        }
        assert(bad.getMessage.contains("private") ||
          bad.getMessage.contains("randomness"), call)
      }
  }

  test("round-14: coalescing gates are not vacuously green — " +
      "q_compat_nextnode / q_compat_arrays2 produce non-empty values") {
    // both gates coalesce NULL results to '' so every row stays
    // hashable in the driver compare; if the interesting output were
    // ever ALL empty the hash would still match a broken oracle, so
    // pin that real data exercises the non-empty paths. sf0.01 — the
    // driver's gate scale — because the strict view→click head match
    // (vc_next) legitimately never fires in the sf0.001 series.
    val sf = "/root/testdata/sf0.01"
    val nn = graft.queries.FlowQueries.queries("q_compat_nextnode")(
      spark, sf).cache()
    try {
      Seq("after_signup", "before_last_error", "vc_next").foreach { c =>
        assert(nn.filter(col(c) =!= "").count() > 0,
          s"q_compat_nextnode.$c is vacuously empty")
      }
    } finally nn.unpersist()
    val a2 = graft.queries.FlowQueries.queries("q_compat_arrays2")(
      spark, sf)
    assert(a2.filter(col("sv") =!= "").count() > 0,
      "q_compat_arrays2.sv is vacuously empty")
  }

  test("round-16 advice fixes: splitByNonAlpha keeps non-ASCII " +
      "inside tokens; format rejects mixed/bad placeholders; " +
      "add*/subtract* refuse Int32 overflow") {
    val r = Compat.chSql(spark, """
      SELECT
        splitByNonAlpha('héllo wörld') AS sna,
        splitByNonAlpha('a\tb!c') AS snat,
        countSubstringsCaseInsensitive('AbcABCab', 'aB') AS csi,
        CAST(addSeconds(TIMESTAMP'2024-01-31 00:00:00', 2147483647L)
          AS STRING) AS edge
      FROM (SELECT 1 AS one)""").collect().head
    // CH separates on ASCII whitespace+punctuation ONLY — the é and ö
    // bytes stay inside their tokens (the pre-fix [^A-Za-z0-9]+ class
    // split them out)
    assert(r.getSeq[String](0) == Seq("héllo", "wörld"))
    assert(r.getSeq[String](1) == Seq("a", "b", "c"))
    assert(r.getLong(2) == 3L)
    // Int32 max as a BIGINT delta still works (2^31-1 s ≈ 68 years)
    assert(r.getString(3) == "2092-02-18 03:14:07")
    // a delta OUTSIDE Int32 fails loudly instead of wrapping — and
    // subtract negates in the BIGINT domain, so subtract of Int32 MIN
    // (whose negation overflows Int32) is refused, not self-negated
    val over = intercept[Exception] {
      Compat.chSql(spark, "SELECT addDays(DATE'2024-01-31', " +
        "2147483648L) AS x").collect()
    }
    assert(over.getMessage.contains("outside Int32 range"))
    val negEdge = intercept[Exception] {
      Compat.chSql(spark, "SELECT subtractDays(DATE'2024-01-31', " +
        "-2147483648L) AS x").collect()
    }
    assert(negEdge.getMessage.contains("outside Int32 range"))
    val mixed = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT format('{} {0}', 'a', 'b') AS x").collect()
    }
    assert(mixed.getMessage.contains("cannot mix"))
    val named = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT format('{x}', 'a') AS x").collect()
    }
    assert(named.getMessage.contains("bad placeholder"))
  }

  test("round-16 misc tier: decimal sizes, sub-second starts, ISO " +
      "year, edit distances, byte hamming, power/bit helpers") {
    val r = Compat.chSql(spark, """
      SELECT
        formatReadableDecimalSize(CAST(1023 AS DOUBLE)) AS d1,
        formatReadableDecimalSize(CAST(1048576 AS DOUBLE)) AS d2,
        formatReadableDecimalSize(CAST(192851925 AS DOUBLE)) AS d3,
        CAST(toStartOfSecond(
          timestamp_micros(1709251323456789)) AS BIGINT) AS tss,
        unix_micros(toStartOfMillisecond(
          timestamp_micros(1709251323456789))) AS tsm,
        CAST(toStartOfISOYear(DATE'2021-01-01') AS STRING) AS iso1,
        CAST(toStartOfISOYear(DATE'2021-01-04') AS STRING) AS iso2,
        levenshteinDistance('clickhouse', 'mouse') AS lev,
        editDistance('clickhouse', 'mouse') AS ed,
        damerauLevenshteinDistance('clickhouse', 'mouse') AS dl1,
        damerauLevenshteinDistance('CA', 'ABC') AS dl2,
        byteHammingDistance('abc', 'ab') AS bh1,
        byteHammingDistance('karolin', 'kathrin') AS bh2,
        exp2(CAST(3 AS DOUBLE)) AS e2,
        exp10(CAST(2 AS DOUBLE)) AS e10,
        intExp2(10) AS ie2,
        intExp10(15) AS ie10,
        bitCount(255) AS bc1,
        bitCount(-1) AS bc2
      FROM (SELECT 1 AS one)""").collect().head
    // CH docs examples: 1023 B -> 1.02 KB, 1 MiB -> 1.05 MB
    assert(r.getString(0) == "1.02 KB")
    assert(r.getString(1) == "1.05 MB")
    assert(r.getString(2) == "192.85 MB")
    assert(r.getLong(3) == 1709251323L)
    assert(r.getLong(4) == 1709251323456000L)
    // ISO year of 2021-01-01 is 2020, which began Mon 2019-12-30;
    // 2021-01-04 is in ISO 2021, which began Mon 2021-01-04 itself
    assert(r.getString(5) == "2019-12-30")
    assert(r.getString(6) == "2021-01-04")
    assert(r.getInt(7) == 6 && r.getInt(8) == 6)
    assert(r.getLong(9) == 6L)
    // UNRESTRICTED Damerau-Levenshtein: CA -> ABC is 2 (OSA says 3)
    assert(r.getLong(10) == 2L)
    // unequal lengths: shared-prefix mismatches + length difference
    assert(r.getLong(11) == 1L)
    assert(r.getLong(12) == 3L)
    assert(r.getDouble(13) == 8.0 && r.getDouble(14) == 100.0)
    assert(r.getLong(15) == 1024L)
    assert(r.getLong(16) == 1000000000000000L)
    assert(r.getInt(17) == 8 && r.getInt(18) == 64)
  }

  test("round-16 hash tier: digests against published vectors, " +
      "java/hive hashes, dot product, clamped cumsum") {
    val r = Compat.chSql(spark, """
      SELECT
        hex(MD5('abc')) AS md5v,
        hex(SHA1('abc')) AS sha1v,
        hex(SHA224('abc')) AS sha224v,
        hex(SHA256('abc')) AS sha256v,
        hex(SHA512('abc')) AS sha512v,
        CRC32('123456789') AS crc,
        javaHash('Hello') AS jh,
        javaHash('') AS jhe,
        hiveHash('Hello') AS hh,
        arrayDotProduct(array(1L, 2L), array(3L, 4L)) AS adp,
        concat_ws(',', arrayCumSumNonNegative(
          array(1L, 1L, -4L, 1L))) AS acsn,
        concat_ws(',', arrayCumSumNonNegative(
          CAST(array() AS ARRAY<BIGINT>))) AS acsne
      FROM (SELECT 1 AS one)""").collect().head
    // RFC 1321 / FIPS 180 test vectors for "abc"
    assert(r.getString(0) == "900150983CD24FB0D6963F7D28E17F72")
    assert(r.getString(1) == "A9993E364706816ABA3E25717850C26C9CD0D89D")
    assert(r.getString(2) ==
      "23097D223405D8228642A477BDA255B32AADBCE4BDA0B3F7E36C9DA7")
    assert(r.getString(3) ==
      "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD")
    assert(r.getString(4) ==
      "DDAF35A193617ABACC417349AE20413112E6FA4E89A97EA20A9EEEE64B55D39A" +
        "2192992A274FC1A836BA3C23A3FEEBBD454D4423643CE80E2A9AC94FA54CA49F")
    // the canonical CRC-32 check value 0xCBF43926
    assert(r.getLong(5) == 3421780262L)
    // Java's own "Hello".hashCode(), and "" -> 0
    assert(r.getInt(6) == 69609650 && r.getInt(7) == 0)
    assert(r.getInt(8) == (69609650 & 0x7FFFFFFF))
    assert(r.getDouble(9) == 11.0)
    // CH docs example: [1,1,-4,1] -> [1,2,0,1]; empty stays empty
    assert(r.getString(10) == "1,2,0,1")
    assert(r.getString(11) == "")
  }

  test("round-16 math tier: gamma/error specials, sigmoid, byteSwap, " +
      "symmetric difference") {
    val r = Compat.chSql(spark, """
      SELECT
        round(lgamma(CAST(4.5 AS DOUBLE)), 6) AS lg,
        round(tgamma(CAST(4.5 AS DOUBLE)), 6) AS tg,
        round(tgamma(CAST(-0.5 AS DOUBLE)), 6) AS tgn,
        tgamma(CAST(-2 AS DOUBLE)) AS tgpole,
        round(erf(CAST(1 AS DOUBLE)), 6) AS e1,
        round(erf(CAST(0.5 AS DOUBLE)), 6) AS e05,
        round(erfc(CAST(1 AS DOUBLE)), 6) AS ec1,
        round(sigmoid(CAST(0 AS DOUBLE)), 6) AS sg0,
        byteSwap(CAST(1 AS BIGINT)) AS bs1,
        byteSwap(CAST(3351772109 AS BIGINT)) AS bs2,
        reverseUTF8('spark') AS rev,
        concat_ws(',', arraySymmetricDifference(
          array(1, 2, 3), array(2, 3, 4))) AS asd,
        concat_ws(',', arraySymmetricDifference(
          array(1, 2), array(2, 1))) AS asde
      FROM (SELECT 1 AS one)""").collect().head
    // libm reference values (DuckDB's lgamma(4.5)/gamma(4.5))
    assert(math.abs(r.getDouble(0) - 2.453737) < 1e-6)
    assert(math.abs(r.getDouble(1) - 11.631728) < 1e-6)
    // Euler reflection: Γ(-1/2) = -2√π; poles are NULL
    assert(math.abs(r.getDouble(2) - (-3.544908)) < 1e-6)
    assert(r.isNullAt(3))
    // published erf table values: erf(1)=0.8427008, erf(0.5)=0.5204999
    assert(math.abs(r.getDouble(4) - 0.842701) < 1e-6)
    assert(math.abs(r.getDouble(5) - 0.520500) < 1e-6)
    assert(math.abs(r.getDouble(6) - 0.157299) < 1e-6)
    assert(r.getDouble(7) == 0.5)
    // 64-bit byte reversal; CH's UInt32 doc example reads at Int64
    // width here (documented): 3351772109 = 0x00000000C7C62B8D
    assert(r.getLong(8) == 72057594037927936L) // 1 -> 2^56
    assert(r.getLong(9) == java.lang.Long.reverseBytes(3351772109L))
    assert(r.getString(10) == "kraps")
    assert(r.getString(11) == "1,4")
    assert(r.getString(12) == "")
    // CH docs polygon (6,0),(8,4),(5,8),(0,2): (3,3) inside -> 1;
    // (10,3) outside -> 0 (4-arg coordinate-array adaptation)
    val p = Compat.chSql(spark, """
      SELECT
        pointInPolygon(3.0D, 3.0D, array(6.0D, 8.0D, 5.0D, 0.0D),
          array(0.0D, 4.0D, 8.0D, 2.0D)) AS inside,
        pointInPolygon(10.0D, 3.0D, array(6.0D, 8.0D, 5.0D, 0.0D),
          array(0.0D, 4.0D, 8.0D, 2.0D)) AS outside
      FROM (SELECT 1 AS one)""").collect().head
    assert(p.getInt(0) == 1 && p.getInt(1) == 0)
    // median* family = quantile* at 0.5 (alias contract; the
    // quantileExact machinery itself is hash-gated elsewhere)
    val m = Compat.chSql(spark, """
      SELECT medianExact(v) AS me, medianTDigest(v) AS mt,
        medianExactWeighted(v, w) AS mw
      FROM (SELECT CAST(v0 AS DOUBLE) AS v, w FROM VALUES
        (1.0, 1), (3.0, 1), (5.0, 3) AS t(v0, w))""").collect().head
    assert(m.getDouble(0) == 3.0)
    assert(m.getDouble(1) == 3.0)
    assert(m.getDouble(2) == 5.0)
  }

  test("round-16 window/regex/uuid tier: codecs, zip padding, " +
      "refusals") {
    val r = Compat.chSql(spark, """
      SELECT
        hex(UUIDStringToNum('612f3c40-5d3b-217e-707b-6a546a3d7b29'))
          AS uh,
        UUIDNumToString(UUIDStringToNum(
          '612f3c40-5d3b-217e-707b-6a546a3d7b29')) AS rt,
        concat_ws(',', transform(
          arrayZipUnaligned(array(1, 2, 3), array(9)),
          p -> concat(coalesce(CAST(p.zx AS STRING), 'n'), ':',
            coalesce(CAST(p.zy AS STRING), 'n')))) AS zu,
        regexpExtract('abc=123', '([a-z]+)=([0-9]+)') AS rx,
        concat_ws('|', extractGroups('abc=123',
          '([a-z]+)=([0-9]+)')) AS eg
      FROM (SELECT 1 AS one)""").collect().head
    assert(r.getString(0) == "612F3C405D3B217E707B6A546A3D7B29")
    assert(r.getString(1) == "612f3c40-5d3b-217e-707b-6a546a3d7b29")
    assert(r.getString(2) == "1:9,2:n,3:n")
    assert(r.getString(3) == "abc")
    assert(r.getString(4) == "abc|123")
    // variant 2's halfword shuffle is CH-internal: refused, not faked
    val v2 = intercept[Exception] {
      Compat.chSql(spark,
        "SELECT UUIDStringToNum('612f3c40-5d3b-217e-707b-6a546a3d7b29'," +
          " 2) AS x").collect()
    }
    assert(v2.getMessage.contains("variant"))
  }
}
