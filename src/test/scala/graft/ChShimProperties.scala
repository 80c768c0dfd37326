package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.sql.Compat.translateCh

/** The ClickHouse shim ([[graft.sql.Compat.translateCh]]) never rewrites
  * inside a string literal, a quoted name or a comment; it leaves plain
  * Spark SQL alone; and translating twice is translating once, except
  * for a running decayed window (`OVER (ORDER BY t)`), whose output
  * calls the internal `__graft_decayed_*` that a second pass refuses.
  * The literal and comment contents are built from the shim's own
  * keywords, quotes and parens, so every pass gets a chance to misfire.
  */
object ChShimProperties extends Properties("graft") {
  private val pieces = Seq("GROUP BY a WITH TOTALS", " WITH ROLLUP",
    "ARRAY JOIN arr AS e", "numbers(3)", "numbers(1, 2)",
    "ORDER BY a LIMIT 1 BY b", "t SAMPLE 0.5", "t FINAL", "PREWHERE x",
    "GLOBAL IN", "count()", "quantile(0.5)(x)", " FORMAT JSON",
    "dateDiff('day', a, b)", "age('hour', a, b)", "MD5(s)",
    "lagInFrame(x)", "runningDifference(x) OVER (ORDER BY t)",
    "exponentialTimeDecayedSum(1)(v, t) OVER (ORDER BY t)",
    "deltaSumTimestamp(v, t)", "__graft_decayed_sum(v, t, 1)",
    "'", "''", "\"", "`", "(", ")", ",", "--", "/*", "*/", "/*+", "\\",
    "\n", " ", ";")
  private val content =
    Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf(pieces)))
      .map(_.mkString)

  // a name holding the shim's internal prefix is refused by design
  private def name(c: String) = c.replace("__graft_decayed_", "")
  private def noNesting(c: String): String = {
    val d = c.replace("*/", "* /").replace("/*", "/ *")
    if (d == c) c else noNesting(d)
  }
  private val literal: Gen[String] = Gen.oneOf(
    content.map(c => "'" + c.replace("\\", "\\\\").replace("'", "''") + "'"),
    content.map(c => "`" + name(c).replace("`", "``") + "`"),
    content.map(c => "\"" + name(c).replace("\\", "\\\\")
      .replace("\"", "\"\"") + "\""))
  private val comment: Gen[String] = Gen.oneOf(
    content.map(c => "--" + c.replace("\n", " ") + "\n"),
    content.map(c => "/* " + noNesting(c) + " */"),
    content.map(c => "/*+ " + noNesting(c) + " */"))
  private val items = Gen.listOfN(2, literal)
  private def select(ls: Seq[String]) =
    ls.zipWithIndex.map { case (l, i) => s"$l AS s$i" }.mkString(", ")

  /** ClickHouse shapes, one or more per pass: (comment after SELECT,
    * select items) => query. */
  private val chShapes: Seq[(String, String) => String] = Seq(
    (c, s) => s"SELECT $c k, count() AS n, $s FROM t GROUP BY k WITH TOTALS",
    (c, s) => s"SELECT $c k, MD5(s) AS h, $s FROM t GROUP BY k WITH ROLLUP",
    (c, s) => s"SELECT $c id, e, $s FROM t LEFT ARRAY JOIN arr AS e",
    (c, s) => s"SELECT $c number, $s FROM numbers(3)",
    (c, s) => s"SELECT $c a, b, $s FROM t ORDER BY a LIMIT 1 BY b LIMIT 5",
    (c, s) => s"SELECT $c quantile(0.5)(v) AS q, $s FROM t " +
      "PREWHERE v > 1 WHERE k = 2 FORMAT JSON",
    (c, s) => s"SELECT $c dateDiff('day', a, b) AS d, " +
      s"age('hour', a, b) AS g, $s FROM t GLOBAL LEFT JOIN u ON t.k = u.k",
    (c, s) => s"SELECT $c runningDifference(x) OVER (ORDER BY t) AS r, " +
      s"lagInFrame(x) OVER (ORDER BY t) AS l, $s FROM t",
    (c, s) => s"SELECT $c k, deltaSumTimestamp(v, ts) AS d, $s FROM t " +
      "GROUP BY k",
    (c, s) => s"SELECT $c exponentialTimeDecayedSum(10)(v, t) OVER " +
      "(ORDER BY t ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS e, " +
      s"$s FROM t")
  /** The running form of a decayed window: rewritten to an internal
    * name, so not idempotent. */
  private val runningDecayed: (String, String) => String = (c, s) =>
    s"SELECT $c exponentialTimeDecayedSum(10)(v, t) OVER (ORDER BY t) " +
      s"AS e, $s FROM t"

  /** Spark SQL that no pass applies to, as fragments a generated gap
    * (a space or a comment) joins; "@" marks the select items. */
  private val sparkShapes: Seq[Seq[String]] = Seq(
    Seq("SELECT", "k, count(*) AS n,", "@", "FROM t", "WHERE v > 1",
      "GROUP BY k", "HAVING count(*) > 1", "ORDER BY k", "LIMIT 10"),
    Seq("SELECT", "e,", "@", "FROM t", "LATERAL VIEW explode(arr) x AS e"),
    Seq("SELECT", "id,", "@", "FROM range(3)"),
    Seq("SELECT", "k, sum(v) AS s,", "@", "FROM t",
      "GROUP BY GROUPING SETS ((k), ())"),
    Seq("SELECT", "timestampdiff(DAY, a, b) AS d, md5(s) AS h,", "@",
      "FROM t", "LEFT JOIN u ON t.k = u.k"),
    Seq("SELECT", "lag(x, 1) OVER w AS p,", "@", "FROM t",
      "WINDOW w AS (PARTITION BY k ORDER BY t)"),
    Seq("SELECT", "/*+ BROADCAST(u) */", "a,", "@", "FROM t",
      "WHERE k IN (SELECT k FROM u)"))
  private val gap = Gen.oneOf(Gen.const(" "), comment.map(c => s" $c "))

  property("shim keeps literal, quoted-name and comment text") =
    forAllNoShrink(Gen.oneOf(chShapes :+ runningDecayed), items, comment) {
      (shape, ls, c) =>
        val out = translateCh(shape(c, select(ls)))
        (ls :+ c).forall(out.contains) :| out
    }

  property("shim is the identity on Spark SQL") =
    forAllNoShrink(Gen.oneOf(sparkShapes), items, Gen.listOfN(10, gap)) {
      (frags, ls, gaps) =>
        val q = frags.map(f => if (f == "@") select(ls) else f)
          .zip(gaps).map { case (f, g) => f + g }.mkString
        (translateCh(q) == q) :| q
    }

  property("shim is idempotent") =
    forAllNoShrink(Gen.oneOf(chShapes), items, comment) { (shape, ls, c) =>
      val once = translateCh(shape(c, select(ls)))
      (translateCh(once) == once) :| once
    }

  property("a second pass refuses a running decayed window's output") =
    forAllNoShrink(items, comment) { (ls, c) =>
      val once = translateCh(runningDecayed(c, select(ls)))
      scala.util.Try(translateCh(once)).failed.toOption.exists {
        case e: IllegalArgumentException =>
          e.getMessage.contains("__graft_decayed_")
        case _ => false
      } :| once
    }
}
