package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RewriteVectorFolds

/** The round-17 native vector folds (graft.functions.VectorMath):
  * RewriteVectorFolds must turn the aggregate(zip_with(...)) HOF
  * spellings into the codegen'd expressions WITHOUT changing a single
  * value — including the HOF null/length edge cases the rewrite
  * replicates.
  */
class VectorMathSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val dot =
    "aggregate(zip_with(a, b, (x, y) -> x * y), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
  private val l2 =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
  private val self =
    "aggregate(a, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"

  private def df = Seq(
    (1L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 5L, 6L)),
    (2L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](4L, 5L, 6L)),
    (3L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](4L, 5L, 6L)),
    (4L, Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
    (5L, null.asInstanceOf[Seq[java.lang.Long]],
      Seq[java.lang.Long](4L, 5L, 6L)))
    .toDF("id", "a", "b")

  test("rewrite fires and the plan carries the native expressions") {
    // non-literal source: a literal frame constant-folds to a
    // LocalRelation before any optimizer rule can be observed
    val d = spark.range(3).select(col("id"),
      array(col("id"), col("id") + 1).as("a"),
      array(col("id") * 2, col("id")).as("b"))
    val plan = d.select(expr(dot).as("d"), expr(l2).as("l"),
      expr(self).as("s")).queryExecution.optimizedPlan.toString
    assert(plan.contains("array_dot_long"), plan)
    assert(plan.contains("array_l2sq_long"), plan)
    assert(plan.contains("array_self_dot_long"), plan)
    assert(!plan.contains("aggregate("), plan)
    assert(!plan.contains("zip_with"), plan)
  }

  test("values and null semantics equal the HOF fold, row for row") {
    // HOF reference values, computed with the rewrite disarmed
    val want = withoutRules(RewriteVectorFolds) {
      df.select(col("id"), expr(dot), expr(l2), expr(self))
        .orderBy("id").collect()
    }
    val got = df.select(col("id"), expr(dot), expr(l2), expr(self))
      .orderBy("id").collect()
    assert(want.map(_.toString).toSeq == got.map(_.toString).toSeq)
    // and the reference values themselves are what the contract says
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) == 4 + 10 + 18)         // dot
    assert(byId(1L).getLong(2) == 9 + 9 + 9)           // l2sq
    assert(byId(1L).getLong(3) == 1 + 4 + 9)           // self
    assert(byId(2L).isNullAt(1) && byId(2L).isNullAt(2) &&
      byId(2L).isNullAt(3))                            // null element
    assert(byId(3L).isNullAt(1) && byId(3L).isNullAt(2)) // len mismatch
    assert(byId(3L).getLong(3) == 1 + 4)               // self unaffected
    assert(byId(4L).getLong(1) == 0L)                  // empty -> seed
    assert(byId(5L).isNullAt(1) && byId(5L).isNullAt(3)) // null array
  }

  test("mixed int/long arrays (sequence weights) rewrite and agree") {
    val d = spark.range(1).select(
      array(col("id") + 7, col("id") + 8, col("id") + 9).as("a"),
      expr("sequence(1, 3)").as("w"))
    val q = "aggregate(zip_with(a, w, (x, c) -> x * c), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    val plan = d.select(expr(q)).queryExecution.optimizedPlan.toString
    assert(plan.contains("array_dot_long"), plan)
    assert(d.select(expr(q)).head.getLong(0) == 7 + 16 + 27)
  }

  test("interpreted eval path (no codegen) matches too") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types._
    val at = ArrayType(LongType)
    def arr(xs: Any*): ArrayData =
      ArrayData.toArrayData(Array[Any](xs: _*))
    val e = graft.functions.ArrayDotLong(
      BoundReference(0, at, nullable = true),
      BoundReference(1, at, nullable = true))
    assert(e.eval(InternalRow(arr(1L, 2L), arr(3L, 4L))) == 11L)
    assert(e.eval(InternalRow(arr(1L, null), arr(3L, 4L))) == null)
    assert(e.eval(InternalRow(arr(1L), arr(3L, 4L))) == null)
    assert(e.eval(InternalRow(null, arr(3L, 4L))) == null)
    val s = graft.functions.ArraySelfDotLong(
      BoundReference(0, at, nullable = true))
    assert(s.eval(InternalRow(arr(2L, 3L), null)) == 13L)
    assert(Literal(1L).dataType == LongType) // keep imports exercised
  }
}
