package graft.dims

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse EXTERNAL DICTIONARIES (`dictGet('dict', 'attr', key)`):
  * a registered dimension snapshot becomes an O(1) in-expression
  * lookup instead of a join — exactly how the reference treats its
  * informer caches (pkg/watcher holds pod/node maps in memory and the
  * labeler does point lookups, watcher.go:52-120), and how ClickHouse
  * users encode dimension access in SELECT lists where a join would be
  * unwritable.
  *
  * The dictionary is collected ONCE at registration (dimensions are
  * informer-cache-sized by definition — the same budget every
  * broadcast dim join in this repo already assumes) into per-attribute
  * hash maps of CATALYST-internal values, and [[DictGet]] ships the
  * map into whole-stage codegen as a reference object — the TrieLpm
  * pattern — so probes are a generated HashMap.get per row, no UDF
  * boxing, no join, no shuffle. Missing keys yield NULL (ClickHouse's
  * dictGetOrNull contract; its dictGet-with-default is `ifNull` away).
  *
  * Freshness follows the dim-refresh model (W5/W6): re-register on the
  * refresh tick; queries planned after see the new snapshot.
  */
object Dictionaries {
  private final case class Dict(attrs: Map[String,
      (java.util.HashMap[Any, Any], DataType)],
      hasMap: java.util.HashMap[Any, Any],
      trie: Option[graft.flow.Ipv4Trie] = None,
      ranged: Boolean = false)

  private val regs = TrieMap.empty[String, Dict]

  /** Row ceiling for a registered dictionary. Dictionaries are the
    * informer-cache tier — pods, nodes, CIDR ranges, proto tables —
    * and live whole on the driver plus inside every task's codegen
    * references; a fact-sized "dimension" here is a driver OOM waiting
    * to happen. The guard collects AT MOST maxRows+1 rows (the limit
    * rides the plan, so an oversized input never even transfers) and
    * refuses loudly, pointing at the broadcast-join alternative that
    * handles arbitrarily large dims.
    */
  val DefaultMaxRows: Int = 1 << 20

  private def bounded(df: DataFrame, name: String, maxRows: Int):
      Array[org.apache.spark.sql.Row] = {
    require(maxRows > 0, s"maxRows must be positive, got $maxRows")
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"dictionary '$name' exceeds $maxRows rows: dictionaries are " +
        "informer-cache-sized point-lookup tables held on the driver " +
        "and in every task. For a dimension this large, use a " +
        "broadcast equi-join (df.join(broadcast(dim), ...)) — or " +
        "raise maxRows explicitly if the budget is intentional")
    rows
  }

  /** Snapshot `df` as dictionary `name` keyed by `keyCol`; every other
    * column becomes a fetchable attribute. Last registration wins (the
    * refresh path). Duplicate keys keep the last row seen —
    * deterministic input is the caller's contract, as with any dim.
    */
  def register(spark: SparkSession, name: String, df: DataFrame,
      keyCol: String, maxRows: Int = DefaultMaxRows): Unit = {
    val schema = df.schema
    require(schema.fieldNames.contains(keyCol), s"no key column $keyCol")
    val keyIdx = schema.fieldIndex(keyCol)
    val keyConv = CatalystTypeConverters
      .createToCatalystConverter(schema(keyIdx).dataType)
    val attrs = schema.fields.zipWithIndex
      .filter(_._1.name != keyCol)
      .map { case (f, i) =>
        val conv = CatalystTypeConverters.createToCatalystConverter(f.dataType)
        val m = new java.util.HashMap[Any, Any]()
        (f.name, i, conv, m)
      }
    val hasMap = new java.util.HashMap[Any, Any]()
    bounded(df, name, maxRows).foreach { row =>
      val k = keyConv(row.get(keyIdx))
      if (k != null) {
        hasMap.put(k, java.lang.Boolean.TRUE)
        attrs.foreach { case (_, i, conv, m) =>
          val v = if (row.isNullAt(i)) null else conv(row.get(i))
          if (v != null) m.put(k, v) else m.remove(k)
        }
      }
    }
    regs.put(name, Dict(attrs.map { case (n, i, _, m) =>
      n -> (m, schema.fields(i).dataType)
    }.toMap, hasMap))
  }

  /** ClickHouse's `ip_trie` dictionary LAYOUT: the key is an IPv4
    * ADDRESS and the lookup is longest-prefix-match over registered
    * CIDR ranges — `dictGet('ranges', 'cloud', ip)` answers "which
    * provider owns this address" without a range join. Composed from
    * the machinery already proven in the LPM pipeline: the codegen'd
    * [[graft.flow.TrieLpm]] probe resolves the O(32) prefix index,
    * and [[DictGet]]'s map fetch resolves the attribute — both inside
    * whole-stage codegen.
    */
  def registerIpTrie(spark: SparkSession, name: String, df: DataFrame,
      startCol: String = "p_start", lenCol: String = "p_len",
      maxRows: Int = DefaultMaxRows): Unit = {
    val schema = df.schema
    val si = schema.fieldIndex(startCol)
    val li = schema.fieldIndex(lenCol)
    val rows = bounded(df, name, maxRows)
    val trie = graft.flow.Ipv4Trie.build(
      rows.zipWithIndex.map { case (r, i) => (r.getLong(si), r.getInt(li), i) })
    val attrs = schema.fields.zipWithIndex
      .filter { case (f, _) => f.name != startCol && f.name != lenCol }
      .map { case (f, i) =>
        val conv = CatalystTypeConverters.createToCatalystConverter(f.dataType)
        val m = new java.util.HashMap[Any, Any]()
        rows.zipWithIndex.foreach { case (r, idx) =>
          if (!r.isNullAt(i)) m.put(Int.box(idx), conv(r.get(i)))
        }
        f.name -> (m, f.dataType)
      }.toMap
    val hasMap = new java.util.HashMap[Any, Any]()
    rows.indices.foreach(i => hasMap.put(Int.box(i), java.lang.Boolean.TRUE))
    regs.put(name, Dict(attrs, hasMap, Some(trie)))
  }

  /** ClickHouse's `range_hashed` dictionary LAYOUT: attributes carry a
    * VALIDITY RANGE per key — pricing windows, assignment periods —
    * and the lookup takes the point to locate:
    * `dictGet('prices', 'price', sku, order_date)`. Per key the
    * ranges are held start-ascending; a probe answers the FIRST
    * containing range (CH's default 'min' overlap strategy), bounds
    * INCLUSIVE on both ends (CH's closed-interval default). Range
    * bound and probe types must agree (integral, date, or timestamp —
    * normalized internally to epoch days / micros / the long itself);
    * a probe outside every range is NULL, the dictGetOrNull contract.
    */
  def registerRangeHashed(spark: SparkSession, name: String,
      df: DataFrame, keyCol: String, startCol: String, endCol: String,
      maxRows: Int = DefaultMaxRows): Unit = {
    val schema = df.schema
    Seq(keyCol, startCol, endCol).foreach(c => require(
      schema.fieldNames.contains(c), s"no column $c"))
    val ki = schema.fieldIndex(keyCol)
    val si = schema.fieldIndex(startCol)
    val ei = schema.fieldIndex(endCol)
    val keyConv = CatalystTypeConverters
      .createToCatalystConverter(schema(ki).dataType)
    def toL(v: Any): Long = v match {
      case d: java.sql.Date      => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case t: java.sql.Timestamp => t.getTime * 1000L
      case t: java.time.Instant  =>
        t.getEpochSecond * 1000000L + t.getNano / 1000L
      case l: Long               => l
      case i: Int                => i.toLong
      case s: Short              => s.toLong
      case b: Byte               => b.toLong
      case other => throw new IllegalArgumentException(
        s"range bound must be integral/date/timestamp, got $other")
    }
    val rows = bounded(df, name, maxRows)
      .filter(r => !r.isNullAt(ki) && !r.isNullAt(si) && !r.isNullAt(ei))
    val byKey = rows.groupBy(r => keyConv(r.get(ki)))
      .map { case (k, rs) =>
        k -> rs.sortBy(r => toL(r.get(si)))
      }
    val attrCols = schema.fields.zipWithIndex.filter { case (f, _) =>
      f.name != keyCol && f.name != startCol && f.name != endCol
    }
    val attrs = attrCols.map { case (f, i) =>
      val conv = CatalystTypeConverters.createToCatalystConverter(f.dataType)
      val m = new java.util.HashMap[Any, Any]()
      byKey.foreach { case (k, rs) =>
        m.put(k, new RangeEntries(
          rs.map(r => toL(r.get(si))),
          rs.map(r => toL(r.get(ei))),
          rs.map(r => if (r.isNullAt(i)) null
            else conv(r.get(i)).asInstanceOf[AnyRef])))
      }
      f.name -> (m, f.dataType)
    }.toMap
    val hasMap = new java.util.HashMap[Any, Any]()
    byKey.keys.foreach(k => hasMap.put(k, java.lang.Boolean.TRUE))
    regs.put(name, Dict(attrs, hasMap, ranged = true))
  }

  def deregister(name: String): Unit = regs.remove(name)

  private def resolve(dict: String, attr: String):
      (java.util.HashMap[Any, Any], DataType) =
    regs.getOrElse(dict, throw new IllegalArgumentException(
      s"no dictionary '$dict' registered")).attrs.getOrElse(attr,
      throw new IllegalArgumentException(
        s"dictionary '$dict' has no attribute '$attr'"))

  /** The probe for a dict: hash dicts probe the key itself; ip_trie
    * dicts resolve the key ADDRESS to its longest-prefix index first.
    */
  private def probe(dict: String, key: Expression): Expression =
    regs.get(dict).flatMap(_.trie) match {
      case Some(t) => graft.flow.TrieLpm(
        org.apache.spark.sql.catalyst.expressions.Cast(key,
          org.apache.spark.sql.types.LongType), t)
      case None => key
    }

  /** Column-API lookup. */
  def dict_get(dict: String, attr: String, key: Column): Column = {
    val (m, dt) = resolve(dict, attr)
    column(DictGet(dict, attr, probe(dict, expression(key)), m, dt))
  }

  /** Column-API range lookup (range_hashed layout). */
  def dict_get(dict: String, attr: String, key: Column,
      at: Column): Column = {
    val (m, dt) = resolve(dict, attr)
    column(DictGetRange(dict, attr, expression(key), expression(at),
      m, dt))
  }

  /** SQL spelling: `dictGet('dict', 'attr', key)` — dict and attr must
    * be string literals (they select the map at PLAN time, which is
    * the whole point). `dictGet`, `dictGetOrDefault` and `dictHas` as
    * (name, builder) pairs, injected into every session by
    * `graft.functions.GraftExtensions`; the builders resolve the
    * dictionary when a query is analyzed, so a dictionary registered
    * later is visible to every session.
    */
  val sqlFunctions: Seq[(String, FunctionBuilder)] = {
    def lit(e: Expression, what: String): String = e match {
      case Literal(u: UTF8String, StringType) => u.toString
      case other => throw new IllegalArgumentException(
        s"dictGet $what must be a string literal, got $other")
    }
    def get(e: Seq[Expression]): Expression = {
      val d = lit(e(0), "dictionary name")
      val a = lit(e(1), "attribute name")
      val (m, dt) = resolve(d, a)
      val ranged = regs.get(d).exists(_.ranged)
      if (ranged) {
        require(e.size >= 4, s"dictionary '$d' is range_hashed: " +
          "dictGet needs (dict, attr, key, point)")
        DictGetRange(d, a, e(2), e(3), m, dt)
      } else DictGet(d, a, probe(d, e(2)), m, dt)
    }
    def f(name: String)(b: FunctionBuilder) = name -> b
    Seq(
      f("dictGet")(get),
      // dictGetOrDefault = the NULL-on-miss lookup coalesced with the
      // caller's default; dictHas probes ANY attribute map's key set
      f("dictGetOrDefault") { e =>
        org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
          get(e.dropRight(1)), e.last))
      },
      f("dictHas") { e =>
        val d = lit(e(0), "dictionary name")
        val dict = regs.getOrElse(d, throw new IllegalArgumentException(
          s"no dictionary '$d' registered"))
        org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
          DictGet(d, "__has", probe(d, e(1)), dict.hasMap,
            org.apache.spark.sql.types.BooleanType),
          Literal(false)))
      })
  }
}

/** The generated probe: one HashMap.get against the registered
  * dictionary per row, inside whole-stage codegen. `dict`/`attr` ride
  * along only for plan rendering; the map reference IS the semantics.
  */
case class DictGet(dict: String, attr: String, child: Expression,
    lookup: java.util.HashMap[Any, Any], resultType: DataType)
    extends UnaryExpression {
  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override protected def nullSafeEval(k: Any): Any = lookup.get(k)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.addReferenceObj("graftDict", lookup, "java.util.HashMap")
      s"""
         |Object r = $m.get($c);
         |if (r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) r; }
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): DictGet =
    copy(child = c)
  override def prettyName: String = s"dictGet"
  override def toString: String = s"dictGet($dict, $attr, $child)"
}

/** One key's validity ranges, start-ascending. Public and final so the
  * whole-stage-generated probe can call [[find]] directly — the same
  * reference-object pattern as the trie and the hash maps. */
final class RangeEntries(val starts: Array[Long], val ends: Array[Long],
    val vals: Array[AnyRef]) extends Serializable {
  /** Index of the FIRST range containing x (closed bounds, CH's 'min'
    * overlap strategy), -1 when none does. Ranges per key are
    * validity-window-few, so the scan is a handful of compares. */
  def find(x: Long): Int = {
    var i = 0
    while (i < starts.length) {
      if (starts(i) <= x && x <= ends(i)) return i
      i += 1
    }
    -1
  }
}

/** The generated range probe: HashMap.get for the key, then the
  * first-containing-range scan, inside whole-stage codegen. */
case class DictGetRange(dict: String, attr: String, key: Expression,
    at: Expression, lookup: java.util.HashMap[Any, Any],
    resultType: DataType)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = key
  override def right: Expression = at
  override def dataType: DataType = resultType
  override def nullable: Boolean = true

  private def toL(x: Any): Long = x match {
    case l: Long  => l
    case i: Int   => i.toLong
    case s: Short => s.toLong
    case b: Byte  => b.toLong
    case other => throw new IllegalArgumentException(
      s"dictGet range point must be integral/date/timestamp, got $other")
  }

  override protected def nullSafeEval(k: Any, x: Any): Any = {
    val re = lookup.get(k)
    if (re == null) null
    else {
      val r = re.asInstanceOf[RangeEntries]
      val i = r.find(toL(x))
      if (i < 0) null else r.vals(i)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, x) => {
      val m = ctx.addReferenceObj("graftRangeDict", lookup,
        "java.util.HashMap")
      s"""
         |Object re0 = $m.get($k);
         |${ev.isNull} = true;
         |if (re0 != null) {
         |  graft.dims.RangeEntries re = (graft.dims.RangeEntries) re0;
         |  int ri = re.find((long) $x);
         |  if (ri >= 0 && re.vals()[ri] != null) {
         |    ${ev.isNull} = false;
         |    ${ev.value} = (${CodeGenerator.boxedType(dataType)})
         |      re.vals()[ri];
         |  }
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(key = newLeft, at = newRight)
  override def prettyName: String = "dictGet"
  override def toString: String = s"dictGetRange($dict, $attr, $key, $at)"
}
