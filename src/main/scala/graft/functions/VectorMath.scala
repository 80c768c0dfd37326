package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native, whole-stage-codegen'd forms of the integer vector folds the
  * similarity-search surface spells as higher-order functions —
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc+v)`
  * (dot product), the `(x-y)*(x-y)` variant (squared L2) and the
  * single-array `acc + v * v` self-norm. Spark's HOFs are
  * CodegenFallback: every row pays an interpreted lambda per element
  * PLUS a materialized intermediate array for `zip_with` — at corpus
  * scale the per-row vector math is the hot loop of every ANN probe
  * (guide §4: replace interpreted expressions in the hot path; same
  * playbook as TxTable's bucketRank CASE tree in round 16).
  *
  * [[RewriteVectorFolds]] rewrites the HOF shapes to these expressions
  * in the optimizer, so every query keeps its declared spelling and
  * gains the native loop. Semantics are replicated exactly:
  *  - either array NULL → NULL (HOF null propagation);
  *  - length mismatch → NULL (`zip_with` pads the shorter side with
  *    NULLs, which poison the fold);
  *  - any NULL element → NULL (NULL term poisons the running sum);
  *  - empty arrays → 0 (the fold's zero seed);
  *  - arithmetic is wrapping 64-bit (the quantized inputs are bounded
  *    at |x| ≤ 10^4 over ≤ 64 dims — Σx² ≤ 6.4e9 — so overflow is
  *    unreachable and wrap-vs-ANSI is unobservable on any input the
  *    engine constructs).
  */
abstract class LongArrayFold2 extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  /** one fold term from a pair of elements */
  protected def term(x: Long, y: Long): Long
  /** java source for one fold term; `x`/`y` are long locals */
  protected def termCode(x: String, y: String): String

  @transient protected lazy val lElem: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType
  @transient protected lazy val rElem: DataType =
    right.dataType.asInstanceOf[ArrayType].elementType

  private def integralArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
      true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (integralArray(left.dataType) && integralArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes two integral arrays")

  private def get(a: ArrayData, i: Int, dt: DataType): Long = dt match {
    case LongType    => a.getLong(i)
    case IntegerType => a.getInt(i).toLong
    case ShortType   => a.getShort(i).toLong
    case _           => a.getByte(i).toLong
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += term(get(a, i, lElem), get(b, i, rElem))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    long $xv = (long) ${CodeGenerator.getValue(a, lElem, i)};
         |    long $yv = (long) ${CodeGenerator.getValue(b, rElem, i)};
         |    $acc += ${termCode(xv, yv)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ over two integral arrays — wide-row dot product. */
case class ArrayDotLong(left: Expression, right: Expression)
    extends LongArrayFold2 {
  override def prettyName: String = "array_dot_long"
  override protected def term(x: Long, y: Long): Long = x * y
  override protected def termCode(x: String, y: String): String =
    s"$x * $y"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Σ (aᵢ−bᵢ)² over two integral arrays — squared L2 distance. */
case class ArrayL2SqLong(left: Expression, right: Expression)
    extends LongArrayFold2 {
  override def prettyName: String = "array_l2sq_long"
  override protected def term(x: Long, y: Long): Long = {
    val d = x - y; d * d
  }
  override protected def termCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Σ vᵢ² over one integral array — self dot (squared norm). */
case class ArraySelfDotLong(child: Expression) extends UnaryExpression {
  override def prettyName: String = "array_self_dot_long"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  @transient private lazy val elem: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes an integral array")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = elem match {
        case LongType    => a.getLong(i)
        case IntegerType => a.getInt(i).toLong
        case ShortType   => a.getShort(i).toLong
        case _           => a.getByte(i).toLong
      }
      acc += v * v
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  long $v = (long) ${CodeGenerator.getValue(a, elem, i)};
         |  $acc += $v * $v;
         |}
         |if (!${ev.isNull}) ${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

/** Optimizer rule: `aggregate(zip_with(a, b, λ), 0L, (acc,v) -> acc+v)`
  * with λ = multiply / squared-difference of the lambda variables →
  * [[ArrayDotLong]] / [[ArrayL2SqLong]]; `aggregate(q, 0L,
  * (acc, v) -> acc + v*v)` → [[ArraySelfDotLong]]. Runs in the
  * user-provided batch (post constant-folding, so the `CAST(0 AS
  * BIGINT)` seed is already `Literal(0L)`); only fires when the
  * arrays are integral and the finish lambda is the identity, and
  * replaces nothing otherwise. Installed by [[GraftExtensions]].
  */
object RewriteVectorFolds extends Rule[LogicalPlan] {

  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean =
    e match {
      case nv: NamedLambdaVariable => nv.exprId == v.exprId
      case c: Cast if c.dataType == LongType => isVar(c.child, v)
      case _ => false
    }

  private def isZeroLong(e: Expression): Boolean =
    e.dataType == LongType && e.foldable && {
      val v = e.eval(null)
      v != null && v.asInstanceOf[Long] == 0L
    }

  private def isIdentityFinish(f: Expression): Boolean = f match {
    case LambdaFunction(b: NamedLambdaVariable,
        Seq(a: NamedLambdaVariable), _) => b.exprId == a.exprId
    case _ => false
  }

  /** `(acc, v) -> acc + v` (either operand order). */
  private def isAccPlusV(body: Expression, acc: NamedLambdaVariable,
      v: NamedLambdaVariable): Boolean = body match {
    case a: Add =>
      (isVar(a.left, acc) && isVar(a.right, v)) ||
        (isVar(a.left, v) && isVar(a.right, acc))
    case _ => false
  }

  private def integralArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
      true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // dot / squared-L2 over zip_with
      case agg @ ArrayAggregate(
          zw @ ZipWith(a, b,
            LambdaFunction(zbody, Seq(x: NamedLambdaVariable,
              y: NamedLambdaVariable), _)),
          zero,
          LambdaFunction(mbody, Seq(acc: NamedLambdaVariable,
            mv: NamedLambdaVariable), _),
          finish)
          if isZeroLong(zero) && isIdentityFinish(finish) &&
            isAccPlusV(mbody, acc, mv) &&
            integralArray(a.dataType) && integralArray(b.dataType) =>
        zbody match {
          case m: Multiply
              if (isVar(m.left, x) && isVar(m.right, y)) ||
                (isVar(m.left, y) && isVar(m.right, x)) =>
            ArrayDotLong(a, b)
          case m: Multiply => (m.left, m.right) match {
            case (s1: Subtract, s2: Subtract)
                if s1.left.semanticEquals(s2.left) &&
                  s1.right.semanticEquals(s2.right) &&
                  ((isVar(s1.left, x) && isVar(s1.right, y)) ||
                    (isVar(s1.left, y) && isVar(s1.right, x))) =>
              ArrayL2SqLong(a, b)
            case _ => agg
          }
          case _ => agg
        }
      // self dot: aggregate(q, 0L, (acc, v) -> acc + v*v)
      case agg @ ArrayAggregate(arr, zero,
          LambdaFunction(a: Add, Seq(acc: NamedLambdaVariable,
            v: NamedLambdaVariable), _),
          finish)
          if isZeroLong(zero) && isIdentityFinish(finish) &&
            integralArray(arr.dataType) =>
        val (l, r) = (a.left, a.right)
        def vSquared(e: Expression): Boolean = e match {
          case m: Multiply => isVar(m.left, v) && isVar(m.right, v)
          case _ => false
        }
        if ((isVar(l, acc) && vSquared(r)) ||
            (isVar(r, acc) && vSquared(l)))
          ArraySelfDotLong(arr)
        else agg
    }
}
