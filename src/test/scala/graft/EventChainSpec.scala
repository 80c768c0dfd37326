package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.Compat

/** windowFunnel / sequenceMatch / retention goldens — hand-computed
  * chains pinning the ClickHouse default-mode semantics: the window is
  * measured from the chain's FIRST step, a later level-1 event
  * re-opens the chain, and one event may satisfy several steps.
  */
class EventChainSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  private def funnel(rows: Seq[(Long, String)], window: Long): Int = {
    rows.map { case (t, e) => (ts(t), e) }.toDF("t", "e")
      .createOrReplaceTempView("ec_src")
    Compat.chSql(spark, s"""
      SELECT windowFunnel($window)(t, e = 'a', e = 'b', e = 'c') AS lvl
      FROM ec_src""").collect().head.getInt(0)
  }

  test("windowFunnel: chain-start window, re-opened chains, gaps") {
    // plain a -> b -> c inside the window
    assert(funnel(Seq((10L, "a"), (20L, "b"), (30L, "c")), 100) == 3)
    // c lands outside window measured from the chain START (t=10),
    // even though it is within 100s of b
    assert(funnel(Seq((10L, "a"), (100L, "b"), (150L, "c")), 100) == 2)
    // ... but a LATER a re-opens the chain and c completes from it
    assert(funnel(Seq((10L, "a"), (95L, "b"), (98L, "a"), (120L, "b"),
      (190L, "c")), 100) == 3)
    // no level-1 event: level 0
    assert(funnel(Seq((10L, "b"), (20L, "c")), 100) == 0)
    // out-of-order steps do not chain (b before a)
    assert(funnel(Seq((10L, "b"), (20L, "a")), 100) == 1)
    // exact boundary: t_k == t_1 + window still matches (CH <=)
    assert(funnel(Seq((10L, "a"), (110L, "b")), 100) == 2)
    assert(funnel(Seq((10L, "a"), (111L, "b")), 100) == 1)
  }

  test("windowFunnel: one event satisfying several steps advances the " +
      "chain through them (CH iterates every matched level per event)") {
    Seq((ts(10L), "a", true, true, false), (ts(20L), "x", false, false, true))
      .toDF("t", "e", "c1", "c2", "c3").createOrReplaceTempView("ec_multi")
    val lvl = Compat.chSql(spark,
      "SELECT windowFunnel(100)(t, c1, c2, c3) AS l FROM ec_multi")
      .collect().head.getInt(0)
    assert(lvl == 3)
  }

  test("sequenceMatch: gaps, adjacency, time bounds, refusals") {
    // x matches no condition -> ignored (CH: undescribed events are
    // invisible), so a and b ARE adjacent among described events
    Seq((ts(10L), "a"), (ts(20L), "x"), (ts(30L), "b"))
      .toDF("t", "e").createOrReplaceTempView("sm_src")
    def m(view: String, p: String, conds: String =
        "e = 'a', e = 'b'"): Boolean = Compat.chSql(spark,
      s"SELECT sequenceMatch('$p')(t, $conds) AS m FROM $view")
      .collect().head.getBoolean(0)
    assert(m("sm_src", "(?1)(?2)"))
    assert(m("sm_src", "(?1).*(?2)"))
    assert(!m("sm_src", "(?2)(?1)"), "b never precedes a")
    // describing x as condition 3 makes it block bare adjacency
    // (the CH docs' own worked example) while .* still matches
    assert(!m("sm_src", "(?1)(?2)", "e = 'a', e = 'b', e = 'x'"))
    assert(m("sm_src", "(?1).*(?2)", "e = 'a', e = 'b', e = 'x'"))
    // time bounds vs the PREVIOUS matched atom, in seconds; the bound
    // itself allows arbitrary described events between (CH docs:
    // (?1)(?t>1800)(?2))
    assert(m("sm_src", "(?1)(?t<=20)(?2)"), "dt=20 <= 20")
    assert(!m("sm_src", "(?1)(?t<10)(?2)"), "dt=20, bound 10")
    assert(m("sm_src", "(?1)(?t>10)(?2)"))
    assert(m("sm_src", "(?1)(?t==20)(?2)"))
    assert(!m("sm_src", "(?1)(?t>=21)(?2)"))
    // backtracking: the FIRST a (t=10) fails (?t<=5) to b, but a
    // later a (t=28) satisfies it
    Seq((ts(10L), "a"), (ts(28L), "a"), (ts(30L), "b"))
      .toDF("t", "e").createOrReplaceTempView("sm_bt")
    assert(m("sm_bt", "(?1)(?t<=5)(?2)"))
    assert(!m("sm_bt", "(?1)(?t>25)(?2)"), "only dt=20 and dt=2 exist")
    // refusals stay refusals: unknown syntax, dangling time bound
    for (bad <- Seq("(?1)x(?2)", "(?1)(?t<=5)", "(?t<=5)(?1)")) {
      val e = intercept[Exception] {
        Compat.chSql(spark, s"SELECT sequenceMatch('$bad')" +
          "(t, e = 'a', e = 'b') FROM sm_src").collect()
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(msg =>
          msg.contains("unsupported") || msg.contains("time bound"))))
    }
  }

  test("sequenceCount (greedy non-overlapping) and uniqUpTo") {
    // a b a b a  -> two complete (a then b) chains, trailing a unused
    Seq((10L, "a"), (20L, "b"), (30L, "a"), (40L, "b"), (50L, "a"))
      .map { case (t, e) => (ts(t), e) }.toDF("t", "e")
      .createOrReplaceTempView("sc_src")
    assert(Compat.chSql(spark,
      "SELECT sequenceCount('(?1)(?2)')(t, e = 'a', e = 'b') AS n" +
        " FROM sc_src").collect().head.getLong(0) == 2L)
    // overlap must not double count: a a b = ONE chain
    Seq((1L, "a"), (2L, "a"), (3L, "b"))
      .map { case (t, e) => (ts(t), e) }.toDF("t", "e")
      .createOrReplaceTempView("sc_ov")
    assert(Compat.chSql(spark,
      "SELECT sequenceCount('(?1)(?2)')(t, e = 'a', e = 'b') AS n" +
        " FROM sc_ov").collect().head.getLong(0) == 1L)

    (1L to 10L).map(i => i % 7).map(Tuple1(_)).toDF("v")
      .createOrReplaceTempView("uu_t")
    val r = Compat.chSql(spark,
      "SELECT uniqUpTo(3)(v) AS capped, uniqUpTo(10)(v) AS exact" +
        " FROM uu_t").collect().head
    assert(r.getLong(0) == 4L, "7 distinct capped at 3 -> 3+1")
    assert(r.getLong(1) == 7L, "under the cap: exact")
  }

  test("retention: [c1, c1&&c2, c1&&c3] per group") {
    Seq(("u1", "signup"), ("u1", "click"), ("u2", "click"), ("u3", "signup"))
      .toDF("u", "e").createOrReplaceTempView("rt_src")
    val got = Compat.chSql(spark, """
      SELECT u, retention(e = 'signup', e = 'click', e = 'purchase') AS r
      FROM rt_src GROUP BY u ORDER BY u""").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1)))
    assert(got.toSeq == Seq(("u1", Seq(1, 1, 0)), ("u2", Seq(0, 0, 0)),
      ("u3", Seq(1, 0, 0))))
  }

  test("topK: exact under the cap with deterministic tie order; a " +
      "heavy hitter survives cap-exceeding cardinality; long output " +
      "type round-trips") {
    Seq("a", "a", "a", "b", "b", "c").map(Tuple1(_)).toDF("e")
      .createOrReplaceTempView("tk_small")
    val top = Compat.chSql(spark,
      "SELECT topK(2)(e) AS t FROM tk_small").collect()
      .head.getSeq[String](0)
    assert(top == Seq("a", "b"))
    // ties break value-ascending
    Seq("z", "y").map(Tuple1(_)).toDF("e")
      .createOrReplaceTempView("tk_tie")
    assert(Compat.chSql(spark, "SELECT topK(2)(e) AS t FROM tk_tie")
      .collect().head.getSeq[String](0) == Seq("y", "z"))
    // heavy hitter among > cap distinct values still surfaces
    val wide = (1 to 5000).map(i => s"rare_$i") ++ Seq.fill(2000)("hot")
    wide.map(Tuple1(_)).toDF("e").createOrReplaceTempView("tk_wide")
    val hot = Compat.chSql(spark,
      "SELECT topK(1)(e) AS t FROM tk_wide").collect()
      .head.getSeq[String](0)
    assert(hot == Seq("hot"), s"space-saving must keep the heavy hitter: $hot")
    // long argument: output element type follows the argument
    (1L to 10L).map(i => i % 3).map(Tuple1(_)).toDF("v")
      .createOrReplaceTempView("tk_long")
    assert(Compat.chSql(spark, "SELECT topK(1)(v) AS t FROM tk_long")
      .collect().head.getSeq[Long](0) == Seq(1L))
  }

  test("the aggregate is partial-aggregation shaped (no collect-all " +
      "plan node; ObjectHashAggregate carries the buffer)") {
    (1 to 100).map(i => (ts(i.toLong), s"u${i % 5}",
      if (i % 3 == 0) "a" else "b")).toDF("t", "u", "e")
      .createOrReplaceTempView("ec_plan")
    val df = Compat.chSql(spark, """
      SELECT u, windowFunnel(100)(t, e = 'a', e = 'b') AS l
      FROM ec_plan GROUP BY u""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") ||
      plan.contains("SortAggregate"), plan.take(600))
    assert(df.count() == 5)
  }
}
