package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.sink.TxTable

/** Whatever the rows (NULL keys and values, duplicate keys, several
  * dates), a query over one date of a tx table, which reads that date's
  * one file as one split and so plans no exchange, answers as the same
  * SQL over the same rows read as plain parquet.
  */
object SingleSplitProperties extends Properties("graft") {
  import SingleSplitPlans._

  // each case writes two tables and runs ten queries
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private val dates = Seq("2024-06-01", "2024-06-02", "2024-06-03")

  private val genRow = for {
    d <- Gen.oneOf(dates)
    k <- Gen.option(Gen.chooseNum(0, 3)) // few keys: duplicates, NULLs
    s <- Gen.option(Gen.oneOf("a", "b", ""))
    v <- Gen.option(Gen.chooseNum(-5L, 5L))
  } yield (java.sql.Date.valueOf(d), k, s, v)

  private def queries(d: String): Seq[String] = Seq(
    s"""SELECT k, count(*) AS n, sum(v) AS sv, count(s) AS ns FROM t
       |WHERE date = DATE'$d' GROUP BY k ORDER BY k""".stripMargin,
    s"""SELECT count(*) AS n, sum(v) AS sv, min(s) AS lo FROM t
       |WHERE date = DATE'$d'""".stripMargin,
    s"""SELECT DISTINCT s, k FROM t WHERE date = DATE'$d'
       |ORDER BY s, k""".stripMargin,
    s"""SELECT k, s, v, rank() OVER (PARTITION BY k ORDER BY v) AS r,
       |  sum(v) OVER (PARTITION BY k) AS total
       |FROM t WHERE date = DATE'$d' ORDER BY k, s, v, r, total""".stripMargin,
    s"""SELECT k, sum(v) AS sv FROM t WHERE date = DATE'$d'
       |GROUP BY k ORDER BY sv DESC NULLS LAST, k LIMIT 2""".stripMargin)

  property("one-split tx queries == plain parquet") =
    forAll(Gen.choose(1, 30).flatMap(Gen.listOfN(_, genRow))) { rows =>
      val spark = TestSpark.spark.newSession()
      import spark.implicits._
      val (tx, plain) = twoArms(spark, rows.toDF("date", "k", "s", "v"),
        "prop")
      val d = rows.head._1.toString
      Prop.all(queries(d).map { q =>
        TxTable.read(spark, tx).createOrReplaceTempView("t")
        val got = spark.sql(q)
        val shuffles = exchanges(got)
        val gotRows = got.collect().toSeq
        spark.read.parquet(plain).createOrReplaceTempView("t")
        val want = spark.sql(q).collect().toSeq
        (shuffles.isEmpty :| s"exchanges left in $q: $shuffles") &&
          ((gotRows == want) :| s"$q: $gotRows != $want")
      }: _*)
    }
}
