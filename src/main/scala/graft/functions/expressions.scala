package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the scalar surface the reference needs
  * beyond Spark built-ins (SURVEY.md §2.9): IP packing/classification and
  * ClickHouse's formatReadableSize. All generate inline Java calls into
  * [[IpOps]] so they participate in whole-stage codegen (no UDF
  * serialization, no interpreted fallback in the hot path).
  */
case class LongToIp(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    IpOps.longToIp(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IpOps.longToIp($c)")
  override protected def withNewChildInternal(c: Expression): LongToIp = copy(c)
  override def prettyName: String = "long_to_ip"
}

/** Invalid addresses yield NULL (routed to the error stream by F8, not
  * thrown — ref pkg/labeler/labeler.go:501-521 ErrInvalidIP). */
case class IpToLong(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val r = IpOps.ipToLong(v.asInstanceOf[UTF8String])
    if (r < 0) null else java.lang.Long.valueOf(r)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |long r = graft.functions.IpOps.ipToLong($c);
         |if (r < 0) { ${ev.isNull} = true; } else { ${ev.value} = r; }
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): IpToLong = copy(c)
  override def prettyName: String = "ip_to_long"
}

case class IpIsPrivate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(v: Any): Any =
    IpOps.ipIsPrivate(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IpOps.ipIsPrivate($c)")
  override protected def withNewChildInternal(c: Expression): IpIsPrivate = copy(c)
  override def prettyName: String = "ip_is_private"
}

/** `name` controls the rendered function name so the ClickHouse-compat
  * surface can expose the identical `formatReadableSize(...)` output
  * column names the reference's queries produce.
  */
case class FormatReadableSize(child: Expression,
    name: String = "format_readable_size") extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    IpOps.formatReadableSize(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IpOps.formatReadableSize($c)")
  override protected def withNewChildInternal(c: Expression): FormatReadableSize =
    copy(child = c)
  override def prettyName: String = name
}

/** Shared tokenization for [[HasToken]] and the tx table's token Bloom
  * index — both sides MUST agree on what a token is (maximal run
  * between single spaces, empties ignored) or the index could skip a
  * file that matches. Zero-allocation byte scan over the UTF8String.
  */
object TokenOps {
  // byte scan is UTF-8-safe: 0x20 never occurs inside a multi-byte
  // sequence, so space boundaries and token bytes compare exactly
  def hasToken(s: UTF8String, tok: UTF8String): Boolean = {
    val tn = tok.numBytes
    if (tn == 0) return false
    val n = s.numBytes
    var start = 0 // start of the current token
    var i = 0
    while (i <= n) {
      val atSpace = i == n || s.getByte(i) == ' '.toByte
      if (atSpace) {
        if (i - start == tn && regionMatches(s, start, tok, tn)) return true
        start = i + 1
      }
      i += 1
    }
    false
  }

  private def regionMatches(s: UTF8String, off: Int, tok: UTF8String,
      tn: Int): Boolean = {
    var j = 0
    while (j < tn) {
      if (s.getByte(off + j) != tok.getByte(j)) return false
      j += 1
    }
    true
  }
}

/** ClickHouse `hasToken()` — exact whitespace-token membership, the
  * query-side half of the tokenbf_v1 skip index: [[graft.sink.TxFileIndex]]
  * recognizes this expression in a scan's data filters and probes the
  * commit log's per-file TOKEN Bloom filter, skipping files that
  * provably hold no row with the token. (A plain `contains`/LIKE can
  * never use a token filter — substring matches cross token
  * boundaries — which is exactly ClickHouse's rule too.)
  */
case class HasToken(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(s: Any, t: Any): Any =
    TokenOps.hasToken(s.asInstanceOf[UTF8String], t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TokenOps.hasToken($a, $b)")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): HasToken = copy(l, r)
  override def prettyName: String = "has_token"
}

/** Column-API entry points (`import graft.functions.ipfns._`). */
object ipfns {
  def long_to_ip(c: Column): Column = column(LongToIp(expression(c)))
  def ip_to_long(c: Column): Column = column(IpToLong(expression(c)))
  def ip_is_private(c: Column): Column = column(IpIsPrivate(expression(c)))
  // unconditional Cast: the child may still be unresolved here (no
  // dataType yet); Catalyst elides the cast when it's already double.
  def format_readable_size(c: Column): Column =
    column(FormatReadableSize(
      org.apache.spark.sql.catalyst.expressions.Cast(expression(c), DoubleType)))
  def has_token(c: Column, tok: Column): Column =
    column(HasToken(expression(c), expression(tok)))

  /** All as SQL functions, (name, builder) pairs injected into every
    * session by [[GraftExtensions]]. Inputs are cast explicitly
    * (private[sql] AbstractDataType blocks ExpectsInputTypes from
    * outside Spark, so SQL literals like `1536.0` would otherwise
    * arrive as Decimal).
    */
  val sqlFunctions: Seq[(String, FunctionBuilder)] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    def f(name: String)(b: FunctionBuilder) = name -> b
    Seq(
      f("long_to_ip")(e => LongToIp(Cast(e.head, LongType))),
      f("ip_to_long")(e => IpToLong(Cast(e.head, StringType))),
      f("ip_is_private")(e => IpIsPrivate(Cast(e.head, LongType))),
      f("format_readable_size")(e =>
        FormatReadableSize(Cast(e.head, DoubleType))),
      f("has_token")(e =>
        HasToken(Cast(e.head, StringType), Cast(e(1), StringType))))
  }
}
