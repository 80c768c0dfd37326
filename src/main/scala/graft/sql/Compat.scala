package graft.sql

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Cast, CurrentDate, If,
  Literal, TruncTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, CountIf,
  HyperLogLogPlusPlus, MaxBy, MinBy, Sum}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, NullType,
  TimestampType}
import graft.functions.{FormatReadableSize, IpToLong, LongToIp}
import graft.functions.ipfns.long_to_ip

/** ClickHouse-compatibility SQL surface: a reference user's literal
  * queries against `network_flows_0` (README.md:180-184) run unchanged.
  *
  *  - [[compatView]] projects the summing table into the exact 35-column
  *    camelCase shape of the reference DDL (test/network_flows_0.sql:1-44),
  *    IPv4 columns rendered dotted-quad. The one divergence:
  *    `connectionFlags` is the JSON-serialized map (Spark cannot group
  *    by MapType), noted here rather than hidden.
  *  - [[clickHouseFunctions]] is the pack of ClickHouse builtins those
  *    queries use (`formatReadableSize`, `today()`, `sumIf`, the
  *    `toStartOf*` family and several hundred more), injected into every
  *    session by `graft.functions.GraftExtensions`.
  *  - [[chSql]] runs literal ClickHouse-dialect SQL: [[translateCh]]'s
  *    syntax shim, then Spark's parser.
  */
object Compat {

  /** The ClickHouse function pack as (name, builder) pairs, in
    * registration order: a later entry replaces an earlier one of the
    * same (case-insensitive) name. `GraftExtensions` injects the pack
    * into every session, so `newSession()` children carry it too.
    */
  lazy val clickHouseFunctions: Seq[(String, FunctionBuilder)] = {
    val pack = Seq.newBuilder[(String, FunctionBuilder)]
    def f(name: String)(b: FunctionBuilder): Unit = pack += name -> b
    f("formatReadableSize")(e => FormatReadableSize(Cast(e.head, DoubleType),
      name = "formatReadableSize"))
    f("today")(_ => CurrentDate())
    // conditional aggregates (the dashboard staples): sumIf/countIf —
    // CH's combinator syntax flattened to 2-arg functions; both stay
    // inside Spark's native partial-aggregating codegen'd paths
    f("sumIf")(e => Sum(If(e(1), e(0), Literal(null, NullType))))
    f("countIf")(e => CountIf(e.head))
    // cardinality: uniqExact = exact distinct; uniq = the HLL sketch
    // (CH's uniq is approximate by contract, so is this one)
    f("uniqExact")(e => Count(e).toAggregateExpression(isDistinct = true))
    f("uniq")(e => HyperLogLogPlusPlus(e.head))
    f("argMax")(e => MaxBy(e(0), e(1)))
    f("argMin")(e => MinBy(e(0), e(1)))
    // time rounding: CH's toStartOf* family = date_trunc with the unit
    // baked into the name; toDate = the date cast
    f("toStartOfMinute")(e =>
      TruncTimestamp(Literal("minute"), Cast(e.head, TimestampType)))
    f("toStartOfHour")(e =>
      TruncTimestamp(Literal("hour"), Cast(e.head, TimestampType)))
    f("toStartOfDay")(e =>
      TruncTimestamp(Literal("day"), Cast(e.head, TimestampType)))
    f("toDate")(e => Cast(e.head, DateType))
    // fixed-width time buckets: epoch-second floor arithmetic (exactly
    // CH's contract for second-granularity intervals; month/quarter/
    // year intervals map to date_trunc when the count is 1, otherwise
    // refused — calendar multi-month buckets have no anchor CH and
    // Spark agree on)
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Expression,
        Pmod, Subtract}
      import org.apache.spark.sql.types.{DayTimeIntervalType, LongType,
        YearMonthIntervalType}
      // pmod-based floor (not IntegralDivide, which truncates toward
      // zero and would round pre-1970 epochs UP a bucket)
      def floorTo(ts: Expression, seconds: Long): Expression = {
        val t = Cast(Cast(ts, TimestampType), LongType)
        Cast(Subtract(t, Pmod(t, Literal(seconds))), TimestampType)
      }
      // origin-anchored variant: o + floor((t − o)/sz)·sz — CH's
      // 3-arg toStartOfInterval for second-granularity intervals
      def floorToFrom(ts: Expression, seconds: Long,
          origin: Expression): Expression = {
        val t = Cast(Cast(ts, TimestampType), LongType)
        val o = Cast(Cast(origin, TimestampType), LongType)
        val d = Subtract(t, o)
        Cast(org.apache.spark.sql.catalyst.expressions.Add(o,
          Subtract(d, Pmod(d, Literal(seconds)))), TimestampType)
      }
      f("toStartOfFifteenMinutes")(e => floorTo(e.head, 900L))
      f("toStartOfFiveMinutes")(e => floorTo(e.head, 300L))
      f("toStartOfTenMinutes")(e => floorTo(e.head, 600L))
      f("toStartOfInterval") { e =>
        e(1) match {
          case Literal(micros: Long, _: DayTimeIntervalType) =>
            require(micros > 0 && micros % 1000000L == 0,
              "toStartOfInterval needs a positive whole-second interval")
            if (e.length >= 3)
              floorToFrom(e.head, micros / 1000000L, e(2))
            else floorTo(e.head, micros / 1000000L)
          case Literal(months: Int, _: YearMonthIntervalType) =>
            if (e.length >= 3) throw new IllegalArgumentException(
              "toStartOfInterval: origin-anchored MONTH buckets are " +
                "not supported — CH counts whole calendar months from " +
                "the origin with engine-specific partial-month " +
                "rounding; anchor at a calendar boundary (1/3/12 " +
                "months, 2-arg form) or use a second-granularity " +
                "interval with origin")
            val unit = months match {
              case 1  => "month"
              case 3  => "quarter"
              case 12 => "year"
              case n => throw new IllegalArgumentException(
                s"toStartOfInterval: unsupported $n-month bucket — only " +
                  "1 (month), 3 (quarter), 12 (year) have an anchored " +
                  "meaning shared by both engines")
            }
            TruncTimestamp(Literal(unit), Cast(e.head, TimestampType))
          case other => throw new IllegalArgumentException(
            s"toStartOfInterval needs a literal INTERVAL, got $other")
        }
      }
    }
    // IPv4 dotted-quad codecs over the compat view's string IPs
    f("IPv4NumToString")(e => LongToIp(e.head))
    f("IPv4StringToNum")(e => IpToLong(e.head))
    // control flow + misc scalars the CH dialect spells differently:
    // if(c,a,b) / multiIf(c1,v1,c2,v2,...,else), empty/notEmpty on
    // strings, any/anyLast (first/last non-deterministic pick — same
    // contract as ClickHouse's)
    f("if")(e => If(e(0), e(1), e(2)))
    f("multiIf") { e =>
      val (pairs, els) = (e.dropRight(1).grouped(2).toSeq, e.last)
      pairs.foldRight(els) { case (Seq(c, v), acc) => If(c, v, acc) }
    }
    f("empty")(e =>
      org.apache.spark.sql.catalyst.expressions.EqualTo(
        org.apache.spark.sql.catalyst.expressions.Length(
          Cast(e.head, org.apache.spark.sql.types.StringType)),
        Literal(0)))
    f("notEmpty")(e =>
      org.apache.spark.sql.catalyst.expressions.GreaterThan(
        org.apache.spark.sql.catalyst.expressions.Length(
          Cast(e.head, org.apache.spark.sql.types.StringType)),
        Literal(0)))
    f("any")(e =>
      org.apache.spark.sql.catalyst.expressions.aggregate.First(
        e.head, ignoreNulls = true))
    f("anyLast")(e =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Last(
        e.head, ignoreNulls = true))

    // ---- round 6 widening: the rest of the everyday CH vocabulary ----
    import org.apache.spark.sql.catalyst.expressions.{ArrayContains,
      ArrayJoin, BitwiseAnd, CreateArray, DateFormatClass, EqualTo,
      Explode, IntegralDivide, Slice, StringLocate, TimestampDiff,
      TruncDate, WeekDay}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      ApproximatePercentile, Average, CollectList, CollectSet, Max, Min,
      Percentile, StddevPop, StddevSamp, VariancePop, VarianceSamp}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String

    // aggregate combinators: the -If family over the remaining staples
    // (same null-absorbing rewrite as sumIf — stays codegen'd)
    f("avgIf")(e => Average(If(e(1), e(0), Literal(null, NullType))))
    f("minIf")(e => Min(If(e(1), e(0), Literal(null, NullType))))
    f("maxIf")(e => Max(If(e(1), e(0), Literal(null, NullType))))
    // array aggregation: groupArray collects in arrival order (same
    // non-deterministic-order contract as ClickHouse across threads —
    // wrap in array_sort for stable results), groupUniqArray dedups
    f("groupArray")(e => CollectList(e.head))
    f("groupUniqArray")(e => CollectSet(e.head))
    // groupArraySorted(N)(x): the N smallest ascending — bounded
    // max-heap state, O(N) per partition however large the group
    f("groupArraySorted") { e =>
      val n = e.head match {
        case Literal(v, _) if v != null => v.toString.toDouble.toInt
        case other => throw new IllegalArgumentException(
          s"groupArraySorted N must be an integer literal, got $other")
      }
      graft.functions.GroupArraySorted(n, e(1)).toAggregateExpression()
    }
    // groupArrayIntersect(arr): elements present in EVERY row's array;
    // result sorted ascending (deterministic where CH leaves the
    // order unspecified)
    f("groupArrayIntersect")(e =>
      graft.functions.GroupArrayIntersect(e.head).toAggregateExpression())
    // groupConcat[(sep[, limit])](x): string concatenation in arrival
    // order — the groupArray contract (CH's own order is unspecified
    // across threads; sort upstream for stable results). limit keeps
    // the first `limit` collected values.
    f("groupConcat") { e =>
      def litOf(x: org.apache.spark.sql.catalyst.expressions.Expression)
          : Option[Any] = x match {
        case Literal(v, _) => Some(v)
        case _             => None
      }
      val (sep, limit, x) = e.size match {
        case 1 => ("", Int.MaxValue, e(0))
        case 2 => (litOf(e(0)).map(_.toString).getOrElse(
          throw new IllegalArgumentException(
            "groupConcat separator must be a string literal")),
          Int.MaxValue, e(1))
        case _ => (litOf(e(0)).map(_.toString).getOrElse(
          throw new IllegalArgumentException(
            "groupConcat separator must be a string literal")),
          litOf(e(1)).map(_.toString.toDouble.toInt).getOrElse(
            throw new IllegalArgumentException(
              "groupConcat limit must be an integer literal")), e(2))
      }
      val collected = CollectList(Cast(x, StringType))
        .toAggregateExpression()
      val limited = if (limit == Int.MaxValue) collected
        else Slice(collected, Literal(1), Literal(limit))
      ArrayJoin(limited, Literal(sep), None)
    }
    // singleValueOrNull(x): the value when the group has exactly ONE
    // distinct non-null value, else NULL (CH's any-or-ambiguous probe)
    f("singleValueOrNull") { e =>
      If(EqualTo(Count(e).toAggregateExpression(isDistinct = true),
        Literal(1L)),
        Min(e.head).toAggregateExpression(), Literal(null, NullType))
    }
    // corrMatrix / covarSampMatrix / covarPopMatrix(x1..xn): the full
    // symmetric n x n matrix as array-of-arrays — n^2 plain Spark
    // aggregates (dashboard-sized n; each cell partial-aggregates
    // map-side like any corr)
    f("corrMatrix")(e => CreateArray(e.map(a => CreateArray(e.map(b =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Corr(
        Cast(a, DoubleType), Cast(b, DoubleType))
        .toAggregateExpression())))))
    f("covarSampMatrix")(e => CreateArray(e.map(a => CreateArray(e.map(
      b => org.apache.spark.sql.catalyst.expressions.aggregate
        .CovSample(Cast(a, DoubleType), Cast(b, DoubleType))
        .toAggregateExpression())))))
    f("covarPopMatrix")(e => CreateArray(e.map(a => CreateArray(e.map(
      b => org.apache.spark.sql.catalyst.expressions.aggregate
        .CovPopulation(Cast(a, DoubleType), Cast(b, DoubleType))
        .toAggregateExpression())))))
    // stochasticLinearRegression[State](lr, l2, batch, 'method')
    // (y, x1..xn) — answered with the EXACT least-squares / ridge
    // solution (documented deviation: CH's merge-averaged SGD is row-
    // and merge-order dependent; the exact answer is O(d^2) state and
    // strictly deterministic, so the SGD knobs are accepted and
    // ignored while l2 becomes the ridge lambda). Returns
    // [w1..wn, intercept]; evalMLMethod applies it.
    locally {
      def build(e: Seq[org.apache.spark.sql.catalyst.expressions
          .Expression]): org.apache.spark.sql.catalyst.expressions
          .Expression = {
        val parametrized = e.size >= 6 && (e(3) match {
          case Literal(_: UTF8String, StringType) => true
          case _                                  => false
        })
        val (lambda, y, xs) =
          if (parametrized) {
            val l2 = e(1) match {
              case Literal(v, _) if v != null => v.toString.toDouble
              case other => throw new IllegalArgumentException(
                "stochasticLinearRegression l2 coefficient must be a " +
                  s"numeric literal, got $other")
            }
            (l2, e(4), e.drop(5))
          } else (0.0, e.head, e.tail)
        graft.functions.LinearFitAgg(lambda, y, xs)
          .toAggregateExpression()
      }
      f("stochasticLinearRegression")(build)
      f("stochasticLinearRegressionState")(build)
      f("evalMLMethod")(e => graft.functions.EvalMLMethod(e))
      f("stochasticLogisticRegression")(_ =>
        throw new IllegalArgumentException(
          "stochasticLogisticRegression has no exact closed form and " +
            "CH's SGD answer is merge-order dependent; fit logistic " +
            "models outside the engine, or use " +
            "stochasticLinearRegression (exact least squares) where a " +
            "linear fit suffices"))
    }
    // string round-out (round 13): similarity, tokenization, aliases
    locally {
      import org.apache.spark.sql.catalyst.expressions.{ArrayExcept,
        ArrayIntersect, ArrayUnion, ArrayFilter, ArrayTransform, Concat,
        ConcatWs, Divide, GreaterThan, LambdaFunction, Length,
        Levenshtein, Literal => SLit, Sequence, Size, StringRPad,
        StringSplit, Substring, UnresolvedNamedLambdaVariable, Uuid}
      import org.apache.spark.sql.types.IntegerType
      def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      Seq("editDistance", "levenshteinDistance").foreach(n =>
        f(n)(e => Levenshtein(e(0), e(1))))
      // character n-grams (the similarity primitive):
      // substrings at every start position
      f("ngrams") { e =>
        val n = Cast(e(1), IntegerType)
        ArrayTransform(
          Sequence(SLit(1),
            org.apache.spark.sql.catalyst.expressions.Add(
              org.apache.spark.sql.catalyst.expressions.Subtract(
                Length(e(0)), n), SLit(1)), None),
          LambdaFunction(Substring(e(0), lv("ni"), n), Seq(lv("ni"))))
      }
      // tokens(s): maximal alphanumeric runs, empties dropped
      f("tokens")(e => ArrayFilter(
        StringSplit(e(0), SLit("[^\\p{L}\\p{N}]+"), SLit(-1)),
        LambdaFunction(GreaterThan(Length(lv("tk")), SLit(0)),
          Seq(lv("tk")))))
      // stringJaccardIndex: Jaccard over the CHARACTER sets (CH
      // computes over byte sets; identical for ASCII, documented for
      // multi-byte)
      f("stringJaccardIndex") { e =>
        def chars(x: org.apache.spark.sql.catalyst.expressions
            .Expression) = ArrayFilter(
          StringSplit(x, SLit(""), SLit(-1)),
          LambdaFunction(GreaterThan(Length(lv("jc")), SLit(0)),
            Seq(lv("jc"))))
        Divide(
          Cast(Size(ArrayIntersect(chars(e(0)), chars(e(1)))),
            DoubleType),
          Cast(Size(ArrayUnion(chars(e(0)), chars(e(1)))), DoubleType))
      }
      f("concatWithSeparator")(e => ConcatWs(e))
      f("generateUUIDv4")(_ => Uuid())
      // toFixedString(s, n): exactly n bytes, NUL-padded; longer
      // input fails loudly (CH throws too)
      f("toFixedString") { e =>
        val n = Cast(e(1), IntegerType)
        If(GreaterThan(Length(e(0)), n),
          org.apache.spark.sql.catalyst.expressions.RaiseError(
            SLit("USER_RAISED_EXCEPTION"),
            org.apache.spark.sql.catalyst.expressions
              .CreateMap(Seq(SLit("errorMessage"), Concat(Seq(
                SLit("toFixedString: value longer than "),
                Cast(n, StringType))))),
            org.apache.spark.sql.types.NullType),
          StringRPad(e(0), n, SLit("\u0000")))
      }
    }
    // scalar round-out (round 13): display, math, geo
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Asin, Atan2,
        BRound, Coalesce, Cos, IsNaN, Multiply => SMul, Pow, Sin, Sqrt,
        StringLPad, StringRPad, StringLocate, Subtract => SSub,
        Add => SAdd, Divide => SDiv, Lower, Abs}
      f("roundBankers")(e =>
        if (e.size >= 2) BRound(e(0), e(1))
        else BRound(e(0), Literal(0)))
      f("gcd")(e => graft.functions.GcdLcm(Cast(e(0), LongType),
        Cast(e(1), LongType), isGcd = true))
      f("lcm")(e => graft.functions.GcdLcm(Cast(e(0), LongType),
        Cast(e(1), LongType), isGcd = false))
      f("isNaN")(e => IsNaN(Cast(e.head, DoubleType)))
      // ifNotFinite(x, y): y when x is NaN or ±Inf, else x
      f("ifNotFinite") { e =>
        val x = Cast(e(0), DoubleType)
        If(org.apache.spark.sql.catalyst.expressions.Or(IsNaN(x),
          EqualTo(Abs(x), Literal(Double.PositiveInfinity))),
          Cast(e(1), DoubleType), x)
      }
      // Nullable-shims: Spark types carry nullability structurally
      f("assumeNotNull")(e => e.head)
      f("toNullable")(e => e.head)
      f("positionCaseInsensitive")(e =>
        StringLocate(Lower(e(1)), Lower(e(0)), Literal(1)))
      f("leftPad")(e => StringLPad(e(0), e(1),
        if (e.size >= 3) e(2) else Literal(" ")))
      f("rightPad")(e => StringRPad(e(0), e(1),
        if (e.size >= 3) e(2) else Literal(" ")))
      f("bar")(e => graft.functions.BarDraw(Seq(
        Cast(e(0), DoubleType), Cast(e(1), DoubleType),
        Cast(e(2), DoubleType), Cast(e(3), LongType))))
      f("formatReadableQuantity")(e => graft.functions
        .FormatReadableMisc(Cast(e.head, DoubleType), quantity = true))
      f("formatReadableTimeDelta")(e => graft.functions
        .FormatReadableMisc(Cast(e.head, DoubleType), quantity = false))
      // greatCircleDistance(lon1, lat1, lon2, lat2) — CH's argument
      // order (LONGITUDE first); haversine on the mean sphere
      // R = 6371000 m. Documented deviation: CH's geoDistance applies
      // an ellipsoid correction and its greatCircleDistance uses a
      // slightly different radius constant — this is the textbook
      // sphere, stated, not hidden; both spellings map to it.
      def haversine(e: Seq[org.apache.spark.sql.catalyst.expressions
          .Expression]): org.apache.spark.sql.catalyst.expressions
          .Expression = {
        val rad = Literal(math.Pi / 180.0)
        def d(x: org.apache.spark.sql.catalyst.expressions.Expression) =
          SMul(Cast(x, DoubleType), rad)
        val (lon1, lat1, lon2, lat2) = (d(e(0)), d(e(1)), d(e(2)), d(e(3)))
        val half = Literal(0.5)
        val sdlat = Sin(SMul(SSub(lat2, lat1), half))
        val sdlon = Sin(SMul(SSub(lon2, lon1), half))
        val a = SAdd(SMul(sdlat, sdlat),
          SMul(SMul(Cos(lat1), Cos(lat2)), SMul(sdlon, sdlon)))
        SMul(Literal(2.0 * 6371000.0), Asin(Sqrt(a)))
      }
      f("greatCircleDistance")(haversine)
      f("geoDistance")(haversine)
      f("geohashEncode")(e => graft.functions.GeohashEncode(Seq(
        Cast(e(0), DoubleType), Cast(e(1), DoubleType),
        if (e.size >= 3) Cast(e(2), LongType) else Literal(12L))))
      f("geohashDecode")(e =>
        org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(Seq(
          Literal("longitude"),
          graft.functions.GeohashDecodeCoord(e.head, 0),
          Literal("latitude"),
          graft.functions.GeohashDecodeCoord(e.head, 1))))
    }
    // sparkbar(buckets[, min_x, max_x])(x, y) — the inline unicode
    // bar chart; bucket count and bounds must be literals
    f("sparkbar") { e =>
      def litD(x: org.apache.spark.sql.catalyst.expressions.Expression)
          : Double = x match {
        case Literal(v, _) if v != null => v.toString.toDouble
        case other => throw new IllegalArgumentException(
          s"sparkbar parameters must be numeric literals, got $other")
      }
      e.size match {
        case 3 => graft.functions.SparkbarAgg(litD(e(0)).toInt, None,
          e(1), e(2)).toAggregateExpression()
        case 5 => graft.functions.SparkbarAgg(litD(e(0)).toInt,
          Some((litD(e(1)), litD(e(2)))), e(3), e(4))
          .toAggregateExpression()
        case n => throw new IllegalArgumentException(
          s"sparkbar takes (buckets)(x, y) or " +
            s"(buckets, min_x, max_x)(x, y), got $n arguments")
      }
    }
    // seriesOutliersDetectTukey(arr[, min_pct, max_pct, k]) — Tukey
    // fences over a series array; optional bounds/k must be literals
    f("seriesOutliersDetectTukey") { e =>
      def litD(x: org.apache.spark.sql.catalyst.expressions.Expression,
          dflt: Double): Double = x match {
        case Literal(v, _) if v != null => v.toString.toDouble
        case other => throw new IllegalArgumentException(
          "seriesOutliersDetectTukey bounds must be numeric literals, " +
            s"got $other")
      }
      if (e.size == 1)
        graft.functions.SeriesOutliersTukey(e.head, 0.25, 0.75, 1.5)
      else if (e.size == 4)
        graft.functions.SeriesOutliersTukey(e.head,
          litD(e(1), 0.25) / (if (litD(e(1), 0) > 1) 100.0 else 1.0),
          litD(e(2), 0.75) / (if (litD(e(2), 0) > 1) 100.0 else 1.0),
          litD(e(3), 1.5))
      else throw new IllegalArgumentException(
        "seriesOutliersDetectTukey takes (series) or " +
          "(series, min_percentile, max_percentile, k)")
    }
    // order/randomness-dependent spellings with no deterministic
    // distributed reading — refuse with the contract, never a
    // silently different answer
    f("groupArrayLast")(_ => throw new IllegalArgumentException(
      "groupArrayLast keeps the LAST values in block order, which a " +
        "distributed engine cannot reproduce deterministically; use " +
        "groupArraySorted, or max_by over an explicit order column"))
    f("groupArraySample")(_ => throw new IllegalArgumentException(
      "groupArraySample draws a reservoir sample with engine-internal " +
        "randomness; sample deterministically upstream (e.g. " +
        "ORDER BY hash(x) LIMIT n) instead"))
    // the exponentialTimeDecayed family: the WINDOWED spelling
    // `fn(τ)(v, t) OVER (w)` — the form CH dashboards actually use —
    // is rewritten upstream (rewriteDecayed) to a per-row frame fold
    // whose decay anchor stays inside the exponent, so it never
    // reaches this registry. The BARE aggregate spelling depends on a
    // block-order anchor a distributed engine cannot reproduce —
    // refuse with the pointer instead of shipping a NaN factory.
    Seq("exponentialTimeDecayedSum", "exponentialTimeDecayedMax",
      "exponentialTimeDecayedCount", "exponentialTimeDecayedAvg")
      .foreach(n => f(n)(_ => throw new IllegalArgumentException(
        s"$n without OVER anchors the decay to block order, which a " +
          "distributed engine cannot reproduce deterministically; " +
          s"use the windowed spelling $n(tau)(...) OVER (PARTITION " +
          "BY ... ORDER BY t), or exponentialMovingAverage" +
          "(half_life)(v, t) for the group-level decayed mean")))
    // the O(1)-state running form rewriteDecayed emits when the frame
    // provably ends at the current row (see DecayedWindowAgg) —
    // internal names, reached only through the rewriter's output
    Seq("sum", "count", "max", "avg").foreach { k =>
      f(s"__graft_decayed_$k")(e =>
        graft.functions.DecayedWindowAgg(k, e(0), e(1), e(2)))
    }
    // groupArrayMovingSum/Avg: CH's per-group running-sum/avg arrays,
    // optionally windowed via the parametric form name(W)(x) (the
    // parametric pass flattens to name(W, x)). Arrival order follows
    // the groupArray contract — sort upstream for stable results.
    // Values are summed as Float64 (CH keeps integer widths —
    // documented narrowing, same family as arrayAvg). The running
    // sum is a transform over ONE collected array; the heavy lifting
    // (the collect) is the same map-side-combined aggregate as
    // groupArray, so the shuffle profile is identical.
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Add => MAdd,
        ArrayAggregate => MAgg, ArrayTransform => MTrans, Divide => MDiv,
        Greatest => MGreatest, LambdaFunction => MLF, Least => MLeast,
        Slice => MSlice, Subtract => MSub,
        UnresolvedNamedLambdaVariable => MVar}
      import org.apache.spark.sql.types.{DoubleType, IntegerType}
      def moving(name: String, avg: Boolean): Unit = f(name) { e =>
        val (w, x) =
          if (e.length == 2) (Some(e(0)), e(1)) else (None, e.head)
        val lst = CollectList(Cast(x, DoubleType)).toAggregateExpression()
        val v = MVar(Seq("__mv")); val ix = MVar(Seq("__mi"))
        val pos1 = MAdd(Cast(ix, IntegerType), Literal(1)) // 1-based idx
        val start = w match {
          case Some(ww) => MGreatest(Seq(Literal(1),
            MSub(MAdd(pos1, Literal(1)), Cast(ww, IntegerType))))
          case None => Literal(1)
        }
        val len = w match {
          case Some(ww) => MLeast(Seq(pos1, Cast(ww, IntegerType)))
          case None => pos1
        }
        val a = MVar(Seq("__ma")); val b = MVar(Seq("__mb"))
        val s = MAgg(MSlice(lst, start, len), Literal(0.0),
          MLF(MAdd(a, b), Seq(a, b)), MLF.identity)
        val body = if (avg) MDiv(s, Cast(len, DoubleType)) else s
        MTrans(lst, MLF(body, Seq(v, ix)))
      }
      moving("groupArrayMovingSum", avg = false)
      moving("groupArrayMovingAvg", avg = true)
      // arrayCumSum: running sum over an ARRAY argument (the scalar
      // sibling of groupArrayMovingSum) — same Float64 narrowing
      f("arrayCumSum") { e =>
        val arr = e.head
        val v = MVar(Seq("__cv")); val ix = MVar(Seq("__ci"))
        val a = MVar(Seq("__ca")); val b = MVar(Seq("__cb"))
        val s = MAgg(
          MSlice(arr, Literal(1), MAdd(Cast(ix, IntegerType), Literal(1))),
          Literal(0.0),
          MLF(MAdd(a, Cast(b, DoubleType)), Seq(a, b)), MLF.identity)
        MTrans(arr, MLF(s, Seq(v, ix)))
      }
    }
    // quantiles: quantile/quantiles are approximate BY CONTRACT in CH
    // (reservoir there, GK sketch here); quantileExact/median are exact
    f("quantile")(e => new ApproximatePercentile(e(1), e(0)))
    f("quantiles")(e =>
      new ApproximatePercentile(e.last,
        org.apache.spark.sql.catalyst.expressions.CreateArray(
          e.dropRight(1))))
    f("quantileExact")(e => new Percentile(e(1), e(0)))
    // weighted exact quantile: Spark's Percentile takes the weight as
    // its frequency child natively. Documented deviation (same family
    // as WITH TOTALS / NULL-fill): when the weighted rank lands
    // BETWEEN two input values, Percentile linearly interpolates where
    // ClickHouse's quantileExactWeighted returns an element of the
    // input set (the lower neighbor); at exact-element ranks — every
    // golden here — the two agree.
    f("quantileExactWeighted")(e => new Percentile(e(1), e(0), e(2)))
    // quantileInterpolatedWeighted: the weighted INTERPOLATING
    // variant — exactly Percentile's frequency-weighted linear
    // interpolation (parity, where quantileExactWeighted above
    // documents the interpolation deviation)
    f("quantileInterpolatedWeighted")(e =>
      new Percentile(e(1), e(0), e(2)))
    // sumMapFiltered(keep_keys)(keys, vals): sumMap over the key
    // whitelist — the arrays filter in lockstep through a zip-filter
    // before the same map-combining aggregate
    f("sumMapFiltered") { e =>
      import org.apache.spark.sql.catalyst.expressions.{ArrayContains,
        ArrayFilter, ArrayTransform, GetStructField, LambdaFunction,
        UnresolvedNamedLambdaVariable, ZipWith}
      def zlv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      val zipped = ZipWith(e(1), e(2), LambdaFunction(
        org.apache.spark.sql.catalyst.expressions.CreateStruct(Seq(
          zlv("smk"), zlv("smv"))), Seq(zlv("smk"), zlv("smv"))))
      val kept = ArrayFilter(zipped, LambdaFunction(
        ArrayContains(e(0), GetStructField(zlv("smp"), 0)),
        Seq(zlv("smp"))))
      def part(i: Int) = ArrayTransform(kept, LambdaFunction(
        GetStructField(zlv("smq"), i), Seq(zlv("smq"))))
      graft.functions.MapCombineAgg("sum", part(0), part(1))
        .toAggregateExpression()
    }
    f("median")(e => new Percentile(e.head, Literal(0.5)))
    // remaining cardinality/quantile spellings, mapped with the same
    // documented contracts as their siblings: uniqHLL12/uniqCombined64
    // are approximate BY CONTRACT in CH too (different sketch, same
    // promise); groupBitmap's result is the bitmap's CARDINALITY
    // (CH returns UInt64), which is exactly count-distinct — Spark's
    // exact distinct-count stands in for the roaring bitmap;
    // quantileDeterministic's determinator only steers CH's reservoir
    // sampling, so the EXACT percentile is a strict accuracy upgrade
    // at the same spelling (deviation: exact vs sampled, documented).
    f("uniqHLL12")(e => HyperLogLogPlusPlus(e.head))
    f("uniqCombined64")(e => HyperLogLogPlusPlus(e.head))
    // parametric uniqCombined(HLL_precision)(x): precision p drives
    // rsd = 1.04/sqrt(2^p), the HLL error law
    f("uniqCombined")(e =>
      if (e.size == 1) HyperLogLogPlusPlus(e.head)
      else {
        val p = e.head match {
          case Literal(v, _) if v != null => v.toString.toDouble.toInt
          case other => throw new IllegalArgumentException(
            s"uniqCombined precision must be an integer literal, " +
              s"got $other")
        }
        require(p >= 4 && p <= 20,
          s"uniqCombined precision must be in [4, 20], got $p")
        HyperLogLogPlusPlus(e(1), 1.04 / math.sqrt(math.pow(2.0, p)))
      })
    f("groupBitmap")(e =>
      Count(e).toAggregateExpression(isDistinct = true))
    f("quantileDeterministic")(e =>
      if (e.size >= 3) new Percentile(e(1), e(0))
      else new Percentile(e(0), Literal(0.5)))
    // quantileGK(accuracy, level)(x): the Greenwald–Khanna sketch —
    // Spark's ApproximatePercentile IS GK, accuracy maps directly
    f("quantileGK")(e =>
      if (e.size >= 3) new ApproximatePercentile(e(2), e(1), e(0))
      else new ApproximatePercentile(e(1), Literal(0.5), e(0)))
    // quantileExactInclusive = the R-7 linear interpolation over the
    // sorted set — EXACTLY Spark's Percentile contract (parity, not a
    // documented deviation); the Exclusive (R-6) variant has no Spark
    // native and refuses rather than shipping R-7 under an R-6 name
    f("quantileExactInclusive")(e => new Percentile(e(1), e(0)))
    f("quantilesExactInclusive")(e =>
      new Percentile(e.last,
        org.apache.spark.sql.catalyst.expressions.CreateArray(
          e.dropRight(1))))
    Seq("quantileExactExclusive", "quantilesExactExclusive").foreach(n =>
      f(n)(_ => throw new IllegalArgumentException(
        s"$n uses the R-6 exclusive convention, which Spark's exact " +
          "percentile does not implement; use quantileExactInclusive " +
          "(R-7) — shipping R-7 under an R-6 name would be a silently " +
          "different answer")))
    // sumKahan: compensated summation — Spark's double sum is plain
    // IEEE accumulation; the spelling maps to it with the precision
    // deviation documented rather than refused (CH's own result is
    // itself order-dependent at the merge boundaries)
    f("sumKahan")(e => Sum(Cast(e.head, DoubleType))
      .toAggregateExpression())
    // largestTriangleThreeBuckets(n)(x, y) / lttb — Steinarsson's
    // shape-preserving downsampler; n must be a literal (it sizes the
    // result, CH's contract too)
    Seq("largestTriangleThreeBuckets", "lttb").foreach(name =>
      f(name) { e =>
        val n = e.head match {
          case Literal(v, _) if v != null => v.toString.toDouble.toInt
          case other => throw new IllegalArgumentException(
            s"$name bucket count must be an integer literal, got $other")
        }
        graft.functions.LttbAgg(n, e(1), e(2)).toAggregateExpression()
      })
    // minSampleSizeContinous/Continuous(baseline, sigma, mde, power,
    // alpha) and minSampleSizeConversion(p1, mde, power, alpha) —
    // the standard two-sample power-analysis closed forms (documented
    // on the expression); CH spells the first without the second 'u'
    // and aliases both
    Seq("minSampleSizeContinous", "minSampleSizeContinuous").foreach(
      name => f(name)(e => graft.functions.MinSampleSize(
        continuous = true, e.map(Cast(_, DoubleType)))))
    f("minSampleSizeConversion")(e => graft.functions.MinSampleSize(
      continuous = false, e.map(Cast(_, DoubleType))))
    // dispersion spellings
    f("stddevPop")(e => StddevPop(e.head))
    f("stddevSamp")(e => StddevSamp(e.head))
    f("varPop")(e => VariancePop(e.head))
    f("varSamp")(e => VarianceSamp(e.head))
    // calendar: the toStartOf* date family (returns Date, like CH),
    // numeric date parts (toDayOfWeek is ISO — Monday=1), toYYYYMM,
    // epoch seconds
    f("toStartOfMonth")(e =>
      TruncDate(Cast(e.head, DateType), Literal("month")))
    f("toStartOfWeek")(e =>
      TruncDate(Cast(e.head, DateType), Literal("week")))
    f("toStartOfQuarter")(e =>
      TruncDate(Cast(e.head, DateType), Literal("quarter")))
    f("toStartOfYear")(e =>
      TruncDate(Cast(e.head, DateType), Literal("year")))
    // toMonday = toStartOfWeek with CH's Monday anchor spelled out
    // (Spark's trunc 'week' IS Monday); toLastDayOfMonth is native
    f("toMonday")(e =>
      TruncDate(Cast(e.head, DateType), Literal("week")))
    f("toLastDayOfMonth")(e =>
      org.apache.spark.sql.catalyst.expressions.LastDay(
        Cast(e.head, DateType)))
    f("toHour")(e => org.apache.spark.sql.catalyst.expressions.Hour(
      Cast(e.head, TimestampType)))
    f("toMinute")(e => org.apache.spark.sql.catalyst.expressions.Minute(
      Cast(e.head, TimestampType)))
    f("toSecond")(e => org.apache.spark.sql.catalyst.expressions.Second(
      Cast(e.head, TimestampType)))
    f("toDayOfMonth")(e =>
      org.apache.spark.sql.catalyst.expressions.DayOfMonth(
        Cast(e.head, DateType)))
    f("toDayOfWeek")(e =>
      org.apache.spark.sql.catalyst.expressions.Add(
        WeekDay(Cast(e.head, DateType)), Literal(1)))
    f("toMonth")(e => org.apache.spark.sql.catalyst.expressions.Month(
      Cast(e.head, DateType)))
    f("toYear")(e => org.apache.spark.sql.catalyst.expressions.Year(
      Cast(e.head, DateType)))
    f("toYYYYMM")(e => Cast(
      DateFormatClass(Cast(e.head, TimestampType), Literal("yyyyMM")),
      IntegerType))
    f("toYYYYMMDD")(e => Cast(
      DateFormatClass(Cast(e.head, TimestampType), Literal("yyyyMMdd")),
      IntegerType))
    // toISOWeek IS Spark's weekofyear (both ISO-8601); toWeek's other
    // nine CH modes have no Spark native and refuse by name
    f("toISOWeek")(e =>
      org.apache.spark.sql.catalyst.expressions.WeekOfYear(
        Cast(e.head, DateType)))
    f("toWeek") { e =>
      val mode = if (e.size >= 2) e(1) match {
        case Literal(v, _) if v != null => v.toString.toDouble.toInt
        case other => throw new IllegalArgumentException(
          s"toWeek mode must be an integer literal, got $other")
      } else 0
      if (mode == 3)
        org.apache.spark.sql.catalyst.expressions.WeekOfYear(
          Cast(e.head, DateType))
      else throw new IllegalArgumentException(
        s"toWeek mode $mode has no Spark-native week numbering; mode 3 " +
          "(ISO-8601, = toISOWeek) is the supported one")
    }
    f("toDayOfYear")(e =>
      org.apache.spark.sql.catalyst.expressions.DayOfYear(
        Cast(e.head, DateType)))
    f("toQuarter")(e =>
      org.apache.spark.sql.catalyst.expressions.Quarter(
        Cast(e.head, DateType)))
    f("monthName")(e =>
      DateFormatClass(Cast(e.head, TimestampType), Literal("MMMM")))
    // dateName('unit', d): the unit literal dispatches to the exact
    // date_format pattern / extractor
    f("dateName") { e =>
      val unit = e.head match {
        case Literal(u: org.apache.spark.unsafe.types.UTF8String, _) =>
          u.toString.toLowerCase(java.util.Locale.ROOT)
        case other => throw new IllegalArgumentException(
          s"dateName unit must be a string literal, got $other")
      }
      val ts = Cast(e(1), TimestampType)
      def fmt(p: String) = DateFormatClass(ts, Literal(p))
      unit match {
        case "year"      => fmt("yyyy")
        case "quarter"   => Cast(org.apache.spark.sql.catalyst
          .expressions.Quarter(Cast(e(1), DateType)),
          org.apache.spark.sql.types.StringType)
        case "month"     => fmt("MMMM")
        case "week"      => Cast(org.apache.spark.sql.catalyst
          .expressions.WeekOfYear(Cast(e(1), DateType)),
          org.apache.spark.sql.types.StringType)
        case "dayofyear" => fmt("D")
        case "day"       => fmt("d")
        case "weekday"   => fmt("EEEE")
        case "hour"      => fmt("H")
        case "minute"    => fmt("m")
        case "second"    => fmt("s")
        case other => throw new IllegalArgumentException(
          s"dateName: unsupported unit '$other'")
      }
    }
    // arrayResize(arr, n): truncate or NULL-pad to length n (the
    // documented NULL-fill family — CH pads with the type default; a
    // third explicit-default argument pads with it instead)
    f("arrayResize") { e =>
      import org.apache.spark.sql.catalyst.expressions.{Concat,
        GreaterThanOrEqual, Size, Slice, Subtract => RSub}
      val (arr, n) = (e(0), Cast(e(1), IntegerType))
      val pad = if (e.size >= 3) e(2) else Literal(null, NullType)
      If(GreaterThanOrEqual(Size(arr), n),
        Slice(arr, Literal(1), n),
        Concat(Seq(arr, org.apache.spark.sql.catalyst.expressions
          .ArrayRepeat(pad, RSub(n, Size(arr))))))
    }
    f("toUnixTimestamp")(e => Cast(Cast(e.head, TimestampType), LongType))
    // NOT registered: dateDiff — Spark's parser special-cases the name
    // before the function registry is consulted (3-arg calls parse as
    // the builtin timestampdiff with an UNQUOTED unit), so the CH
    // quoted-unit spelling cannot be intercepted here. Spark-native
    // `dateDiff(DAY, a, b)` / `timestampdiff` covers the semantics.
    // strings: CH position(haystack, needle) is 1-based, 0 when absent
    // — exactly locate's contract with flipped args
    f("position")(e => new StringLocate(e(1), e(0)))
    f("startsWith")(e =>
      org.apache.spark.sql.catalyst.expressions.StartsWith(e(0), e(1)))
    f("endsWith")(e =>
      org.apache.spark.sql.catalyst.expressions.EndsWith(e(0), e(1)))
    // arrays: has = membership, arrayStringConcat(arr[, sep]),
    // arrayJoin = CH's row-multiplying unnest (a generator in Spark)
    f("has")(e => ArrayContains(e(0), e(1)))
    f("arrayStringConcat")(e =>
      ArrayJoin(e(0), if (e.size > 1) e(1) else Literal(""), None))
    f("arrayJoin")(e => Explode(e.head))
    // numerics + casts (CH typed-cast spellings)
    f("intDiv")(e => IntegralDivide(e(0), e(1),
      org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))
    f("toString")(e => Cast(e.head, StringType))
    f("toInt32")(e => Cast(e.head, IntegerType))
    f("toInt64")(e => Cast(e.head, LongType))
    // CH toUInt32 wraps mod 2^32 (negatives and >32-bit inputs
    // reinterpret) — mask the signed long to match. toUInt64 CANNOT be
    // faithful on a signed-only engine: CH reinterprets negatives as
    // huge unsigned values that exceed Long.MaxValue, so this mapping
    // keeps the signed value for negatives (documented deviation; CH
    // inputs in range [0, 2^63) agree exactly).
    f("toUInt32")(e => BitwiseAnd(Cast(e.head, LongType),
      Literal(0xFFFFFFFFL)))
    f("toUInt64")(e => Cast(e.head, LongType))
    f("toFloat64")(e => Cast(e.head, DoubleType))
    f("ifNull")(e => org.apache.spark.sql.catalyst.expressions.Coalesce(e))
    f("nullIf")(e =>
      new org.apache.spark.sql.catalyst.expressions.NullIf(e(0), e(1)))
    f("now")(_ =>
      org.apache.spark.sql.catalyst.expressions.CurrentTimestamp())
    // array/string utility spellings (CH name → the Spark expression
    // with identical semantics; 1-based array indexing on both sides)
    import org.apache.spark.sql.catalyst.expressions.{ArrayPosition,
      Concat, ElementAt, Length, Slice, StringSplit, StringTrim,
      StringTrimLeft, StringTrimRight, Substring}
    f("uniqExactIf")(e =>
      Count(Seq(If(e(1), e(0), Literal(null, NullType))))
        .toAggregateExpression(isDistinct = true))
    f("arrayElement")(e => ElementAt(e(0), e(1)))
    f("indexOf")(e => ArrayPosition(e(0), e(1)))
    f("arraySlice")(e =>
      if (e.size > 2) Slice(e(0), e(1), e(2))
      else Slice(e(0), e(1), Literal(Int.MaxValue)))
    f("arrayConcat")(e => Concat(e))
    f("arrayPushBack")(e => Concat(Seq(e(0),
      org.apache.spark.sql.catalyst.expressions.CreateArray(Seq(e(1))))))
    f("arrayPushFront")(e => Concat(Seq(
      org.apache.spark.sql.catalyst.expressions.CreateArray(Seq(e(1))),
      e(0))))
    // pop*: empty input yields empty (the Greatest clamp — Slice
    // throws on a negative length)
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Greatest => PGr,
        Size => PSize, Subtract => PSub}
      f("arrayPopBack")(e => Slice(e.head, Literal(1),
        PGr(Seq(PSub(PSize(e.head), Literal(1)), Literal(0)))))
      f("arrayPopFront")(e => Slice(e.head, Literal(2),
        PGr(Seq(PSub(PSize(e.head), Literal(1)), Literal(0)))))
    }
    // mapKeys/mapValues over Spark MAP values
    f("mapKeys")(e =>
      org.apache.spark.sql.catalyst.expressions.MapKeys(e.head))
    f("mapValues")(e =>
      org.apache.spark.sql.catalyst.expressions.MapValues(e.head))
    // countSubstrings: non-overlapping literal occurrences —
    // (len(h) - len(replace(h, n, ''))) / len(n), exact and codegen'd
    f("countSubstrings") { e =>
      import org.apache.spark.sql.catalyst.expressions.{Divide => CDiv,
        StringReplace, Subtract => CSub}
      import org.apache.spark.sql.types.{DoubleType => CDouble,
        LongType => CLong}
      Cast(CDiv(
        Cast(CSub(Length(e(0)),
          Length(StringReplace(e(0), e(1), Literal("")))), CDouble),
        Cast(Length(e(1)), CDouble)), CLong)
    }
    f("lengthUTF8")(e => Length(Cast(e.head, StringType)))
    f("substringUTF8")(e => Substring(e(0), e(1), e(2)))
    f("lowerUTF8")(e =>
      org.apache.spark.sql.catalyst.expressions.Lower(e.head))
    f("upperUTF8")(e =>
      org.apache.spark.sql.catalyst.expressions.Upper(e.head))
    f("trimBoth")(e => StringTrim(e.head))
    f("trimLeft")(e => StringTrimLeft(e.head))
    f("trimRight")(e => StringTrimRight(e.head))
    // optional CH max_substrings (trailing arg on every splitBy*):
    // the engine-default splitby_max_substrings_includes_remaining_
    // string=0 semantics — TRUNCATE the array to n entries, the
    // remainder is DISCARDED (Spark's split(s, re, limit) folds the
    // remainder into the last element instead, which is CH's
    // non-default setting=1 reading). 0 or absent = unlimited.
    def capSubstrings(arr: org.apache.spark.sql.catalyst.expressions
        .Expression, e: Seq[org.apache.spark.sql.catalyst.expressions
        .Expression], idx: Int)
        : org.apache.spark.sql.catalyst.expressions.Expression =
      if (e.length <= idx) arr
      else e(idx) match {
        case Literal(n: Int, _) =>
          if (n <= 0) arr else Slice(arr, Literal(1), Literal(n))
        case other => throw new IllegalArgumentException(
          s"max_substrings must be an integer literal, got $other")
      }
    f("splitByChar") { e =>
      val sep = e.head match {
        case Literal(u: UTF8String, StringType) => u.toString
        case other => throw new IllegalArgumentException(
          s"splitByChar separator must be a string literal, got $other")
      }
      capSubstrings(
        StringSplit(e(1), Literal(java.util.regex.Pattern.quote(sep)),
          Literal(-1)), e, 2)
    }
    // -State / -Merge combinators (the AggregatingMergeTree surface):
    // a -State aggregate produces a MERGEABLE partial state a table can
    // STORE; re-aggregating states with the matching -Merge yields
    // exactly the aggregate over the original rows — across inserts,
    // background merges ([[graft.sink.TxTable.compactAggregating]]),
    // and query-time grouping at any coarser key. States here are plain
    // Spark SQL values (long / struct / sorted array / sketch binary),
    // not an opaque CH AggregateFunction blob — parquet-storable,
    // cross-engine readable, and the exact ones oracle-checkable.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct,
      CreateNamedStruct, Divide, Flatten, Size, SortArray}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList,
      CollectSet, HllSketchAgg, HllUnionAgg, Max, Min}
    import org.apache.spark.sql.catalyst.expressions.HllSketchEstimate
    import org.apache.spark.sql.types.LongType
    // exact states: sum/count/min/max states ARE the partial value;
    // avg carries (sum, cnt); uniqExact carries the sorted distinct set
    f("sumState")(e => Sum(e.head))
    f("countState")(e =>
      if (e.isEmpty) Count(Seq(Literal(1))) else Count(e))
    f("minState")(e => Min(e.head))
    f("maxState")(e => Max(e.head))
    f("avgState")(e => CreateNamedStruct(Seq(
      Literal("sum"), Sum(e.head).toAggregateExpression(),
      Literal("cnt"), Count(e).toAggregateExpression())))
    f("uniqExactState")(e => SortArray(
      CollectSet(e.head).toAggregateExpression(), Literal(true)))
    f("sumMerge")(e => Sum(e.head))
    f("countMerge")(e => Sum(e.head))
    f("minMerge")(e => Min(e.head))
    f("maxMerge")(e => Max(e.head))
    f("avgMerge")(e => Divide(
      Cast(Sum(UnresolvedExtractValue(e.head, Literal("sum")))
        .toAggregateExpression(), DoubleType),
      Cast(Sum(UnresolvedExtractValue(e.head, Literal("cnt")))
        .toAggregateExpression(), DoubleType)))
    f("uniqExactMerge")(e => Cast(Size(ArrayDistinct(Flatten(
      CollectList(e.head).toAggregateExpression()))), LongType))
    // sketch states (approximate by CH contract, like uniq itself):
    // uniqState = an Apache DataSketches HLL binary, uniqMerge = union
    // + estimate. Validated by error bound in the spec, not by hash.
    f("uniqState")(e => new HllSketchAgg(e.head))
    f("uniqMerge")(e => HllSketchEstimate(
      new HllUnionAgg(e.head).toAggregateExpression()))
    // event-chain analytics (the CH dashboard trio over event tables):
    // windowFunnel(window_s)(ts, c1, c2, ...) — deepest funnel level
    // reached within `window` SECONDS of the chain's first step;
    // sequenceMatch('pattern')(ts, c1, ...) — CH's pattern language
    // ((?N) adjacency, .* gaps, (?t<=n) time bounds) via a
    // backtracking matcher; retention(c1, ..., cn) —
    // [c1 seen, c1 && c2 seen, ...] as 0/1 ints.
    f("windowFunnel") { e =>
      val window = e.head match {
        case Literal(v: Long, _)    => v
        case Literal(v: Int, _)     => v.toLong
        case other => throw new IllegalArgumentException(
          s"windowFunnel window must be an integer literal of seconds, " +
            s"got $other")
      }
      // optional mode strings follow the window:
      // windowFunnel(w, 'strict_order', ...)(ts, c1, ...)
      val modes = e.drop(1).iterator.takeWhile {
        case Literal(_: UTF8String, StringType) => true
        case _                                  => false
      }.map { case Literal(u: UTF8String, _) => u.toString }.toSet
      if (!modes.subsetOf(graft.functions.WindowFunnel.Modes))
        throw new IllegalArgumentException(
          "windowFunnel modes must be among " +
            s"${graft.functions.WindowFunnel.Modes}, got $modes")
      val rest = e.drop(1 + modes.size)
      graft.functions.WindowFunnel(window, rest.head, rest.tail, modes)
        .toAggregateExpression()
    }
    f("sequenceMatch") { e =>
      val pattern = e.head match {
        case Literal(u: UTF8String, StringType) => u.toString
        case other => throw new IllegalArgumentException(
          s"sequenceMatch pattern must be a string literal, got $other")
      }
      val atoms = graft.functions.EventChainPattern.parse(
        pattern, e.length - 2, "sequenceMatch")
      graft.functions.SequenceMatchChain(atoms, e(1), e.drop(2))
        .toAggregateExpression()
    }
    // sequenceNextNode(direction, base)(ts, event_col, base_cond,
    // event1, ...) — the what-came-next clickstream aggregate; only
    // the four canonical (direction, base) pairs exist (CH's doc
    // combos), anything else refuses here
    f("sequenceNextNode") { e =>
      def litStr(x: org.apache.spark.sql.catalyst.expressions.Expression,
          what: String): String = x match {
        case Literal(u: UTF8String, StringType) => u.toString
        case other => throw new IllegalArgumentException(
          s"sequenceNextNode $what must be a string literal, got $other")
      }
      val dir = litStr(e(0), "direction")
      val base = litStr(e(1), "base")
      val ok = Set(("forward", "head"), ("backward", "tail"),
        ("forward", "first_match"), ("backward", "last_match"))
      if (!ok((dir, base))) throw new IllegalArgumentException(
        s"sequenceNextNode supports (forward,head), (backward,tail), " +
          s"(forward,first_match), (backward,last_match); " +
          s"got ($dir, $base)")
      if (e.size < 6) throw new IllegalArgumentException(
        "sequenceNextNode needs (ts, event_column, base_condition, " +
          "event1, ...)")
      graft.functions.SequenceNextNode(dir == "forward", base,
        e(2), e(3), e(4), e.drop(5)).toAggregateExpression()
    }
    // topK(k)(x): space-saving heavy hitters — exact below the buffer
    // capacity, deterministic (count desc, value asc) tie order
    f("topK") { e =>
      val k = e.head match {
        case Literal(v: Int, _)  => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"topK k must be an integer literal, got $other")
      }
      require(k > 0, s"topK k must be positive, got $k")
      graft.functions.TopKAgg(k, e(1)).toAggregateExpression()
    }
    // topKWeighted(k)(x, w): same sketch, each row counts w instead
    // of 1 (CH's spelling for pre-aggregated frequencies)
    f("topKWeighted") { e =>
      val k = e.head match {
        case Literal(v: Int, _)  => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"topKWeighted k must be an integer literal, got $other")
      }
      require(k > 0, s"topKWeighted k must be positive, got $k")
      graft.functions.TopKAgg(k, e(1), Some(e(2))).toAggregateExpression()
    }
    f("retention") { e =>
      import org.apache.spark.sql.catalyst.expressions.{CreateArray, Multiply}
      val m = e.map(c => Cast(
        Max(Cast(c, IntegerType)).toAggregateExpression(), IntegerType))
      CreateArray(m.head +: m.tail.map(mi => Multiply(m.head, mi)))
    }
    // small exact CH spellings, composed from built-in pieces:
    // avgWeighted, the arraySum/Min/Max/Avg folds, countEqual, and the
    // groupBit* aggregate bit ops (Spark's bit_and/or/xor aggregates
    // under CH names)
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
        ArrayFilter, ArrayMax, ArrayMin, Divide, EqualNullSafe,
        LambdaFunction, Multiply, Size, UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{BitAndAgg,
        BitOrAgg, BitXorAgg}
      import org.apache.spark.sql.types.LongType
      def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      f("avgWeighted")(e => Divide(
        Cast(Sum(Multiply(Cast(e(0), DoubleType), Cast(e(1), DoubleType)))
          .toAggregateExpression(), DoubleType),
        Cast(Sum(Cast(e(1), DoubleType)).toAggregateExpression(),
          DoubleType)))
      f("arraySum")(e => ArrayAggregate(e.head, Literal(0L),
        LambdaFunction(Add(lv("acc"), lv("x")), Seq(lv("acc"), lv("x"))),
        LambdaFunction(lv("acc"), Seq(lv("acc")))))
      // CH vector-distance family — the exact zip_with/aggregate
      // codegen composition the ANN queries run on internally
      // (VectorQueries.scala), exposed under the CH spellings; all
      // math in double
      locally {
        import org.apache.spark.sql.catalyst.expressions.{Abs,
          ArrayTransform, Sqrt, Subtract => VSub, ZipWith}
        def dbl(x: org.apache.spark.sql.catalyst.expressions.Expression) =
          ArrayTransform(x, LambdaFunction(
            Cast(lv("vc"), DoubleType), Seq(lv("vc"))))
        def fold(arr: org.apache.spark.sql.catalyst.expressions
            .Expression) = ArrayAggregate(arr, Literal(0.0),
          LambdaFunction(Add(lv("vacc"), lv("vx")),
            Seq(lv("vacc"), lv("vx"))),
          LambdaFunction(lv("vacc"), Seq(lv("vacc"))))
        def zip(a: org.apache.spark.sql.catalyst.expressions.Expression,
            b: org.apache.spark.sql.catalyst.expressions.Expression,
            body: (org.apache.spark.sql.catalyst.expressions.Expression,
              org.apache.spark.sql.catalyst.expressions.Expression) =>
              org.apache.spark.sql.catalyst.expressions.Expression) =
          ZipWith(dbl(a), dbl(b), LambdaFunction(
            body(lv("vza"), lv("vzb")), Seq(lv("vza"), lv("vzb"))))
        def dot(a: org.apache.spark.sql.catalyst.expressions.Expression,
            b: org.apache.spark.sql.catalyst.expressions.Expression) =
          fold(zip(a, b, (x, y) => Multiply(x, y)))
        def l2sq(a: org.apache.spark.sql.catalyst.expressions
            .Expression) = fold(ArrayTransform(dbl(a), LambdaFunction(
          Multiply(lv("vq"), lv("vq")), Seq(lv("vq")))))
        f("dotProduct")(e => dot(e(0), e(1)))
        f("L2Norm")(e => Sqrt(l2sq(e.head)))
        f("L2SquaredNorm")(e => l2sq(e.head))
        f("L1Norm")(e => fold(ArrayTransform(dbl(e.head),
          LambdaFunction(Abs(lv("vq")), Seq(lv("vq"))))))
        f("L2SquaredDistance")(e =>
          fold(zip(e(0), e(1), (x, y) =>
            Multiply(VSub(x, y), VSub(x, y)))))
        f("L2Distance")(e => Sqrt(
          fold(zip(e(0), e(1), (x, y) =>
            Multiply(VSub(x, y), VSub(x, y))))))
        f("L1Distance")(e =>
          fold(zip(e(0), e(1), (x, y) => Abs(VSub(x, y)))))
        f("cosineDistance")(e => VSub(Literal(1.0),
          Divide(dot(e(0), e(1)),
            Multiply(Sqrt(l2sq(e(0))), Sqrt(l2sq(e(1)))))))
        f("normalizeL2")(e => ArrayTransform(dbl(e.head),
          LambdaFunction(Divide(lv("vn"), Sqrt(l2sq(e.head))),
            Seq(lv("vn")))))
      }
      // keyed 2-arg forms (CH's arrayMin(λ, arr)): the analyzer
      // requires a lambda call's ROOT to be a HigherOrderFunction, so
      // the reduction is an ArrayAggregate fold over the transformed
      // array with a slice(t,1,0) element-typed empty accumulator —
      // the arrayFirst pattern
      def keyedReduce(lf: LambdaFunction,
          arr: org.apache.spark.sql.catalyst.expressions.Expression,
          takeLess: Boolean): org.apache.spark.sql.catalyst
          .expressions.Expression = {
        import org.apache.spark.sql.catalyst.expressions.{CreateArray,
          ElementAt, GreaterThan, LessThan, Or, Slice}
        val t = org.apache.spark.sql.catalyst.expressions
          .ArrayTransform(arr, lf)
        val acc = lv("kracc")
        val x = lv("krx")
        val better =
          if (takeLess) LessThan(x, ElementAt(acc, Literal(1)))
          else GreaterThan(x, ElementAt(acc, Literal(1)))
        ArrayAggregate(t, Slice(t, Literal(1), Literal(0)),
          LambdaFunction(If(Or(EqualNullSafe(Size(acc), Literal(0)),
            better), CreateArray(Seq(x)), acc), Seq(acc, x)),
          LambdaFunction(ElementAt(acc, Literal(1)), Seq(acc)))
      }
      def maybeKeyed(e: Seq[org.apache.spark.sql.catalyst.expressions
          .Expression], takeLess: Boolean): org.apache.spark.sql
          .catalyst.expressions.Expression = e match {
        case Seq(arr) => if (takeLess) ArrayMin(arr) else ArrayMax(arr)
        case Seq(lf: LambdaFunction, arr) =>
          keyedReduce(lf, arr, takeLess)
        case other => throw new IllegalArgumentException(
          s"expected (array) or (lambda, array), got $other")
      }
      f("arrayMin")(maybeKeyed(_, takeLess = true))
      f("arrayMax")(maybeKeyed(_, takeLess = false))
      // hasSubstr(a, b): b appears as a CONTIGUOUS run inside a —
      // exists over every start offset, window compared null-safely
      f("hasSubstr") { e =>
        val i = lv("hsi")
        // a needle longer than the haystack can never match — and the
        // guard also keeps Sequence from descending through start 0
        If(org.apache.spark.sql.catalyst.expressions.GreaterThan(
          Size(e(1)), Size(e(0))), Literal(false),
          org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
            org.apache.spark.sql.catalyst.expressions.ArrayExists(
              org.apache.spark.sql.catalyst.expressions.Sequence(
                Literal(1),
                Add(org.apache.spark.sql.catalyst.expressions.Subtract(
                  Size(e(0)), Size(e(1))), Literal(1)), None),
              LambdaFunction(EqualNullSafe(
                org.apache.spark.sql.catalyst.expressions.Slice(
                  e(0), i, Size(e(1))), e(1)), Seq(i))),
            Literal(false))))
      }
      f("arrayWithConstant")(e =>
        org.apache.spark.sql.catalyst.expressions.ArrayRepeat(
          e(1), Cast(e(0), org.apache.spark.sql.types.IntegerType)))
      // CH range(): END-EXCLUSIVE (Spark's sequence is inclusive);
      // positive literal steps only — the unambiguous core
      f("range") { e =>
        def stepOf: Long = e(2) match {
          case Literal(v, _) if v != null =>
            val s = v.toString.toDouble.toLong
            require(s > 0, s"range step must be positive, got $s")
            s
          case other => throw new IllegalArgumentException(
            s"range step must be a positive integer literal, got $other")
        }
        e.size match {
          case 1 => org.apache.spark.sql.catalyst.expressions.Sequence(
            Literal(0L), org.apache.spark.sql.catalyst.expressions
              .Subtract(Cast(e(0), LongType), Literal(1L)),
            None)
          case 2 => org.apache.spark.sql.catalyst.expressions.Sequence(
            Cast(e(0), LongType),
            org.apache.spark.sql.catalyst.expressions.Subtract(
              Cast(e(1), LongType), Literal(1L)), None)
          case _ =>
            val st = stepOf
            org.apache.spark.sql.catalyst.expressions.Sequence(
              Cast(e(0), LongType),
              org.apache.spark.sql.catalyst.expressions.Subtract(
                Cast(e(1), LongType), Literal(1L)),
              Some(Literal(st)))
        }
      }
      // typed empty-array constructors
      Seq("emptyArrayInt64" -> LongType.asInstanceOf[org.apache.spark
          .sql.types.DataType],
        "emptyArrayInt32" -> org.apache.spark.sql.types.IntegerType,
        "emptyArrayFloat64" -> DoubleType,
        "emptyArrayString" -> StringType,
        "emptyArrayDate" -> DateType).foreach { case (n, dt) =>
        f(n)(_ => Literal.create(Seq.empty[Any],
          org.apache.spark.sql.types.ArrayType(dt)))
      }
      f("countEqual")(e => Cast(Size(ArrayFilter(e(0),
        LambdaFunction(EqualNullSafe(lv("v"), e(1)), Seq(lv("v"))))),
        LongType))
      // -ForEach combinator (element-wise vector aggregation) and
      // -Array combinator (aggregate over the flattened elements)
      graft.functions.ForEachAgg.Kinds.foreach(k =>
        f(s"${k}ForEach")(e =>
          graft.functions.ForEachAgg(k, e.head).toAggregateExpression()))
      f("sumArray")(e => Sum(Cast(ArrayAggregate(e.head, Literal(0.0),
        LambdaFunction(Add(lv("saa"), Cast(lv("sax"), DoubleType)),
          Seq(lv("saa"), lv("sax"))),
        LambdaFunction(lv("saa"), Seq(lv("saa")))), DoubleType))
        .toAggregateExpression())
      f("minArray")(e => org.apache.spark.sql.catalyst.expressions
        .aggregate.Min(ArrayMin(e.head)).toAggregateExpression())
      f("maxArray")(e => org.apache.spark.sql.catalyst.expressions
        .aggregate.Max(ArrayMax(e.head)).toAggregateExpression())
      // avgArray: mean over ALL elements (element-count weighted, the
      // CH contract) — Σ per-row sums / Σ per-row lengths
      f("avgArray")(e => Divide(
        Cast(Sum(ArrayAggregate(e.head, Literal(0.0),
          LambdaFunction(Add(lv("ava"), Cast(lv("avx"), DoubleType)),
            Seq(lv("ava"), lv("avx"))),
          LambdaFunction(lv("ava"), Seq(lv("ava")))))
          .toAggregateExpression(), DoubleType),
        Cast(Sum(Cast(Size(e.head), LongType)).toAggregateExpression(),
          DoubleType)))
      f("groupBitAnd")(e => BitAndAgg(e.head))
      f("groupBitOr")(e => BitOrAgg(e.head))
      f("groupBitXor")(e => BitXorAgg(e.head))
    }
    // interval sweep + slope + heavy-hitter (round 13):
    // maxIntersections / maxIntersectionsPosition — peak concurrent
    // intervals via the mergeable boundary-delta sweep (half-open
    // contract documented on the aggregate); boundingRatio — the
    // (y at max x − y at min x) / (max x − min x) slope, composed
    // from native min/max/min_by/max_by; anyHeavy — CH only promises
    // "a frequently occurring value", this one returns the EXACT mode
    // (count desc, value asc tie order) via the topK(1) space-saving
    // sketch, which satisfies CH's majority guarantee determinstically
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Divide, ElementAt,
        Subtract}
      f("maxIntersections")(e => graft.functions.MaxIntersectionsAgg(
        Cast(e(0), LongType), Cast(e(1), LongType), position = false)
        .toAggregateExpression())
      f("maxIntersectionsPosition")(e =>
        graft.functions.MaxIntersectionsAgg(
          Cast(e(0), LongType), Cast(e(1), LongType), position = true)
          .toAggregateExpression())
      f("boundingRatio")(e => Divide(
        Subtract(
          Cast(MaxBy(e(1), e(0)).toAggregateExpression(), DoubleType),
          Cast(MinBy(e(1), e(0)).toAggregateExpression(), DoubleType)),
        Subtract(Cast(Max(e(0)).toAggregateExpression(), DoubleType),
          Cast(Min(e(0)).toAggregateExpression(), DoubleType))))
      f("anyHeavy")(e => ElementAt(
        graft.functions.TopKAgg(1, e.head).toAggregateExpression(),
        Literal(1)))
      // bare deltaSum depends on block order, which a distributed
      // engine does not have (same refusal as bare runningDifference);
      // deltaSumTimestamp(v, ts) is the deterministic spelling and
      // rewrites to the exact window formulation in rewriteDeltaSum
      f("deltaSum")(_ => throw new IllegalArgumentException(
        "deltaSum is block-order-dependent and has no deterministic " +
          "distributed reading; use deltaSumTimestamp(value, ts)"))
      // supported shapes are rewritten away BEFORE analysis
      // (rewriteDeltaSum / rewriteRankCorr); reaching these builders
      // means the query shape wasn't rewritable — refuse with the
      // contract instead of an opaque unresolved-function error
      Seq("deltaSumTimestamp", "rankCorr", "mannWhitneyUTest",
        "kolmogorovSmirnovTest", "exponentialMovingAverage").foreach(n =>
        f(n)(_ => throw new IllegalArgumentException(
          s"$n is supported in the select list of a single-level " +
            "SELECT ... GROUP BY with named (non-ordinal) keys; this " +
            "query shape is not rewritable to its window formulation")))
      f("intervalLengthSum")(e => graft.functions.IntervalLengthSumAgg(
        Cast(e(0), LongType), Cast(e(1), LongType))
        .toAggregateExpression())
    }
    // statistics tier (round 13): CH's moment/correlation/regression
    // spellings over Spark's single-pass central-moment natives.
    // Definitions (CH source, AggregateFunctionStatisticsSimple):
    //   skewPop  = m3 / m2^1.5          (all central moments 1/n)
    //   skewSamp = m3 / s^3  = skewPop · (varPop/varSamp)^1.5
    //   kurtPop  = m4 / m2^2            (NOT excess kurtosis)
    //   kurtSamp = m4 / s^4  = kurtPop · (varPop/varSamp)^2
    // Spark's skewness IS m3/m2^1.5 and its kurtosis is m4/m2²−3, so
    // the compositions below are algebraic identities, not
    // approximations. entropy is the EXACT Shannon entropy in bits
    // (map-state aggregate, O(distinct values)); uniqTheta and the
    // quantileTiming/TDigest/BFloat16 family are approximate BY
    // CONTRACT in CH and map to Spark's HLL++/GK sketches like uniq
    // and quantile do.
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Add, CreateNamedStruct,
        Divide, Expression, GetStructField, Multiply, Pow}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Corr,
        CovPopulation, CovSample, Kurtosis, RegrIntercept, RegrSlope,
        Skewness, VariancePop, VarianceSamp}
      def dbl(e: Expression) = Cast(e, DoubleType)
      def popOverSamp(x: Expression) = Divide(
        VariancePop(dbl(x)).toAggregateExpression(),
        VarianceSamp(dbl(x)).toAggregateExpression())
      def kurtPop(x: Expression) = Add(
        Kurtosis(dbl(x)).toAggregateExpression(), Literal(3.0))
      f("skewPop")(e => Skewness(dbl(e.head)).toAggregateExpression())
      f("skewSamp")(e => Multiply(
        Skewness(dbl(e.head)).toAggregateExpression(),
        Pow(popOverSamp(e.head), Literal(1.5))))
      f("kurtPop")(e => kurtPop(e.head))
      f("kurtSamp")(e => Multiply(kurtPop(e.head),
        Pow(popOverSamp(e.head), Literal(2.0))))
      f("covarPop")(e =>
        CovPopulation(dbl(e(0)), dbl(e(1))).toAggregateExpression())
      f("covarSamp")(e =>
        CovSample(dbl(e(0)), dbl(e(1))).toAggregateExpression())
      f("corr")(e => Corr(dbl(e(0)), dbl(e(1))).toAggregateExpression())
      // the -Stable variants name CH's numerically-stable algorithm;
      // Spark's natives ARE the stable single-pass central-moment
      // updates, so the aliases are exact
      f("corrStable")(e =>
        Corr(dbl(e(0)), dbl(e(1))).toAggregateExpression())
      f("covarPopStable")(e =>
        CovPopulation(dbl(e(0)), dbl(e(1))).toAggregateExpression())
      f("covarSampStable")(e =>
        CovSample(dbl(e(0)), dbl(e(1))).toAggregateExpression())
      // simpleLinearRegression(x, y) -> (k, b) for y = k·x + b; Spark's
      // regr_slope/regr_intercept take (y, x) — note the swap
      f("simpleLinearRegression")(e => CreateNamedStruct(Seq(
        Literal("k"),
        RegrSlope(dbl(e(1)), dbl(e(0))).toAggregateExpression(),
        Literal("b"),
        RegrIntercept(dbl(e(1)), dbl(e(0))).toAggregateExpression())))
      // CH tuple access for the struct results: tupleElement(t, N),
      // 1-based literal index (the `.1` spelling is not SQL)
      f("tupleElement")(e => e(1) match {
        case Literal(i: Int, _)  => GetStructField(e(0), i - 1)
        case Literal(l: Long, _) => GetStructField(e(0), l.toInt - 1)
        case other => throw new IllegalArgumentException(
          s"tupleElement needs a literal 1-based index, got $other")
      })
      f("entropy")(e =>
        graft.functions.EntropyAgg(e.head).toAggregateExpression())
      f("uniqTheta")(e => HyperLogLogPlusPlus(e.head))
      // categorical association over a shared cross-tab map state;
      // chi² is the FULL textbook statistic (unobserved cells folded
      // in via Σo²/e − n), documented on the aggregate
      graft.functions.CrossTabAgg.Kinds.filterNot(_ == "infoValue")
        .foreach(k =>
          f(k)(e => graft.functions.CrossTabAgg(e(0), e(1), k)
            .toAggregateExpression()))
      // categoricalInformationValue(cat1, ..., catN, tag) → array of
      // one weight-of-evidence IV per category column, each an
      // independent cross-tab aggregate against the binary tag
      f("categoricalInformationValue") { e =>
        require(e.length >= 2, "categoricalInformationValue takes " +
          "(category1, ..., tag)")
        org.apache.spark.sql.catalyst.expressions.CreateArray(
          e.init.map(c => graft.functions
            .CrossTabAgg(c, e.last, "infoValue").toAggregateExpression()))
      }
      // analysisOfVariance(value, group) / anova → one-way ANOVA
      // (f_statistic, p_value); O(groups) moment state, F-tail via
      // the regularized incomplete beta
      Seq("analysisOfVariance", "anova").foreach(n =>
        f(n)(e => graft.functions.AnovaAgg(e(0), e(1))
          .toAggregateExpression()))
      // A/B-test aggregates: studentTTest/welchTTest(data, index) →
      // (t_statistic, p_value). The statistics compose from
      // conditional aggregates (one pass, map-side partials — Spark
      // dedups the repeated aggregate functions at planning); the
      // two-sided p comes from the regularized-incomplete-beta
      // expression, evaluated once per group post-aggregation.
      // Index contract: 0 = first sample, 1 = second (CH's).
      locally {
        import org.apache.spark.sql.catalyst.expressions.{Add => TAdd,
          EqualTo, Sqrt, Subtract => TSub, Multiply => TMul,
          Divide => TDiv, CreateNamedStruct}
        import org.apache.spark.sql.catalyst.expressions.aggregate.{
          Average, VarianceSamp}
        import org.apache.spark.sql.catalyst.expressions.Expression
        import org.apache.spark.sql.types.LongType
        def sampleOf(data: Expression, idx: Expression, v: Long) =
          If(EqualTo(Cast(idx, LongType), Literal(v)),
            Cast(data, DoubleType), Literal(null, DoubleType))
        def mean(d: Expression) = Average(d).toAggregateExpression()
        def vsamp(d: Expression) = VarianceSamp(d).toAggregateExpression()
        def cnt(d: Expression) =
          Cast(Count(Seq(d)).toAggregateExpression(), DoubleType)
        def one = Literal(1.0)
        f("studentTTest") { e =>
          val x0 = sampleOf(e(0), e(1), 0L)
          val x1 = sampleOf(e(0), e(1), 1L)
          val (n0, n1) = (cnt(x0), cnt(x1))
          val df = TSub(TAdd(n0, n1), Literal(2.0))
          val sp2 = TDiv(TAdd(
            TMul(TSub(n0, one), vsamp(x0)),
            TMul(TSub(n1, one), vsamp(x1))), df)
          val t = TDiv(TSub(mean(x0), mean(x1)),
            Sqrt(TMul(sp2, TAdd(TDiv(one, n0), TDiv(one, n1)))))
          CreateNamedStruct(Seq(Literal("t_statistic"), t,
            Literal("p_value"), graft.functions.StudentTPValue(t, df)))
        }
        f("welchTTest") { e =>
          val x0 = sampleOf(e(0), e(1), 0L)
          val x1 = sampleOf(e(0), e(1), 1L)
          val (n0, n1) = (cnt(x0), cnt(x1))
          val (v0n, v1n) = (TDiv(vsamp(x0), n0), TDiv(vsamp(x1), n1))
          val se2 = TAdd(v0n, v1n)
          val t = TDiv(TSub(mean(x0), mean(x1)), Sqrt(se2))
          // Welch–Satterthwaite degrees of freedom
          val df = TDiv(TMul(se2, se2), TAdd(
            TDiv(TMul(v0n, v0n), TSub(n0, one)),
            TDiv(TMul(v1n, v1n), TSub(n1, one))))
          CreateNamedStruct(Seq(Literal("t_statistic"), t,
            Literal("p_value"), graft.functions.StudentTPValue(t, df)))
        }
        // meanZTest(pop_var_x, pop_var_y, conf)(data, index) →
        // (z_statistic, p_value, confidence_interval_low/high): the
        // known-variance z-test. Population variances and the
        // confidence level are REQUIRED literals (CH's contract too —
        // they are aggregate parameters), so the normal quantile for
        // the CI is computed once at translation time, never per row.
        f("meanZTest") { e =>
          def litD(x: Expression, what: String): Double = x match {
            case Literal(v, _) if v != null => v.toString.toDouble
            case other => throw new IllegalArgumentException(
              s"meanZTest $what must be a numeric literal, got $other")
          }
          val vx = litD(e(0), "population_variance_x")
          val vy = litD(e(1), "population_variance_y")
          val conf = litD(e(2), "confidence_level")
          require(conf > 0.0 && conf < 1.0,
            s"meanZTest confidence_level must be in (0,1), got $conf")
          val x0 = sampleOf(e(3), e(4), 0L)
          val x1 = sampleOf(e(3), e(4), 1L)
          val (n0, n1) = (cnt(x0), cnt(x1))
          val se = Sqrt(TAdd(TDiv(Literal(vx), n0), TDiv(Literal(vy), n1)))
          val diff = TSub(mean(x0), mean(x1))
          val z = TDiv(diff, se)
          val p = TMul(Literal(2.0), graft.functions.NormUpperTail(
            org.apache.spark.sql.catalyst.expressions.Abs(z)))
          val zc = Literal(graft.functions.StatDist
            .invNormCdf(1.0 - (1.0 - conf) / 2.0))
          CreateNamedStruct(Seq(
            Literal("z_statistic"), z,
            Literal("p_value"), p,
            Literal("confidence_interval_low"), TSub(diff, TMul(zc, se)),
            Literal("confidence_interval_high"), TAdd(diff, TMul(zc, se))))
        }
        // internal scalar tails emitted by the nonparametric-test
        // rewriters (rewriteMannWhitney/rewriteKolmogorov); the graft_
        // prefix keeps them out of the CH-spelling namespace
        f("graft_norm_upper")(e => graft.functions.NormUpperTail(
          Cast(e.head, DoubleType)))
        f("graft_ks_q")(e => graft.functions.KolmogorovQ(
          Cast(e.head, DoubleType)))
      }
    }
    locally {
      import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
      Seq("quantileTiming", "quantileTDigest", "quantileBFloat16")
        .foreach(n =>
          f(n)(e => new ApproximatePercentile(e(1), e(0))))
      // median<Suffix> = quantile<Suffix> at level 0.5 (CH defines
      // the whole median* family as exactly this alias)
      f("medianExact")(e => new Percentile(e.head, Literal(0.5)))
      f("medianExactWeighted")(e =>
        new Percentile(e.head, Literal(0.5), e(1)))
      Seq("medianTiming", "medianTDigest", "medianBFloat16").foreach(n =>
        f(n)(e => new ApproximatePercentile(e.head, Literal(0.5))))
    }
    // arrayReduce('agg', arr): CH's apply-an-aggregate-to-an-array
    // spelling, dispatched at ANALYSIS time to the already-registered
    // array builders (same expressions, same contracts — arraySum's
    // long fold, arrayAvg's Float64, arrayUniq's exact distinct; CH's
    // uniq is approximate by contract, so serving it exactly is
    // within contract). Unsupported aggregate names refuse loudly.
    locally {
      import org.apache.spark.sql.catalyst.expressions.{ElementAt, Size}
      import org.apache.spark.sql.types.{LongType, StringType}
      val delegated = Map("sum" -> "arraySum", "min" -> "arrayMin",
        "max" -> "arrayMax", "avg" -> "arrayAvg",
        "product" -> "arrayProduct", "uniq" -> "arrayUniq",
        "uniqExact" -> "arrayUniq")
      f("arrayReduce") { e =>
        val fname = e.head match {
          case Literal(s, StringType) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"arrayReduce needs a literal aggregate name, got $other")
        }
        val arr = e(1)
        fname match {
          case "count"   => Cast(Size(arr), LongType)
          case "any"     => ElementAt(arr, Literal(1))
          case "anyLast" => ElementAt(arr, Literal(-1))
          case n if delegated.contains(n) =>
            clickHouseFunctions.findLast(_._1.equalsIgnoreCase(delegated(n)))
              .getOrElse(throw new IllegalStateException(
                s"delegate ${delegated(n)} not in the pack"))._2(Seq(arr))
          case other => throw new IllegalArgumentException(
            s"arrayReduce('$other') is not supported; supported: " +
              (delegated.keys.toSeq ++ Seq("count", "any", "anyLast"))
                .sorted.mkString(", "))
        }
      }
      // block-order-dependent running accumulator: same refusal family
      // as bare deltaSum/runningDifference — the deterministic
      // distributed spelling is an explicit window frame
      f("runningAccumulate")(_ => throw new IllegalArgumentException(
        "runningAccumulate is block-order-dependent and has no " +
          "deterministic distributed reading; use sum(x) OVER " +
          "(ORDER BY ...) with an explicit order"))
    }
    // sequenceCount('(?1)(?2)')(ts, c1, ...): greedy NON-OVERLAPPING
    // chain count (CH's contract) — same buffer/evaluator family as
    // sequenceMatch
    f("sequenceCount") { e =>
      val pattern = e.head match {
        case Literal(u: UTF8String, StringType) => u.toString
        case other => throw new IllegalArgumentException(
          s"sequenceCount pattern must be a string literal, got $other")
      }
      val atoms = graft.functions.EventChainPattern.parse(
        pattern, e.length - 2, "sequenceCount")
      graft.functions.SequenceCountChain(atoms, e(1), e.drop(2))
        .toAggregateExpression()
    }
    // -If combinators for the pick-by aggregates, and sumCount's
    // (sum, count) pair — each composed from native aggregates (the
    // condition maps the non-matching rows to NULL, which every
    // underlying aggregate already skips)
    locally {
      import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
      import org.apache.spark.sql.catalyst.expressions.aggregate.First
      def ifNull(v: org.apache.spark.sql.catalyst.expressions.Expression,
          c: org.apache.spark.sql.catalyst.expressions.Expression) =
        If(c, v, Literal(null, NullType))
      f("anyIf")(e =>
        First(ifNull(e(0), e(1)), ignoreNulls = true)
          .toAggregateExpression())
      // collect_list / HLL both skip NULLs, so the -If forms compose
      f("groupArrayIf")(e =>
        org.apache.spark.sql.catalyst.expressions.aggregate
          .CollectList(ifNull(e(0), e(1))).toAggregateExpression())
      f("uniqIf")(e => HyperLogLogPlusPlus(ifNull(e(0), e(1)))
        .toAggregateExpression())
      f("argMaxIf")(e => MaxBy(ifNull(e(0), e(2)), ifNull(e(1), e(2))))
      f("argMinIf")(e => MinBy(ifNull(e(0), e(2)), ifNull(e(1), e(2))))
      f("sumCount")(e => CreateNamedStruct(Seq(
        Literal("sum"), Sum(e.head).toAggregateExpression(),
        Literal("count"), Count(Seq(e.head)).toAggregateExpression())))
    }
    // map-combining aggregates over the (keys array, values array)
    // spelling — O(distinct keys) partial-aggregating state, see
    // [[graft.functions.MapCombineAgg]]
    for (mop <- Seq("sum", "min", "max"))
      f(s"${mop}Map")(e =>
        graft.functions.MapCombineAgg(mop, e(0), e(1))
          .toAggregateExpression())
    // uniqUpTo(N)(x): EXACT distinct count while <= N, else N+1 — the
    // CH small-cardinality guard, composed from exact pieces
    f("uniqUpTo") { e =>
      val n = e.head match {
        case Literal(v: Int, _)  => v.toLong
        case Literal(v: Long, _) => v
        case other => throw new IllegalArgumentException(
          s"uniqUpTo N must be an integer literal, got $other")
      }
      org.apache.spark.sql.catalyst.expressions.Least(Seq(
        Count(Seq(e(1))).toAggregateExpression(isDistinct = true),
        Literal(n + 1)))
    }
    // Higher-order array functions — CH's LAMBDA-FIRST spelling
    // (arrayMap(x -> ..., arr)) mapped onto Spark's codegen'd
    // higher-order expressions (argument order swapped; Spark's parser
    // already produces the LambdaFunction node for `x -> expr`).
    // Multi-array forms (arrayMap over 2+ arrays = zip semantics) are
    // refused rather than approximated.
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
        ArrayDistinct, ArrayExcept, ArrayExists, ArrayFilter, ArrayForAll,
        ArrayIntersect, ArraysOverlap, ArrayTransform, EqualTo, Expression,
        Flatten, IsNotNull, LambdaFunction, Reverse, Sequence, Size,
        UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.types.LongType
      def lam(e: Expression, fname: String): LambdaFunction = e match {
        case lf: LambdaFunction => lf
        case other => throw new IllegalArgumentException(
          s"$fname takes a lambda (x -> ...) as its FIRST argument " +
            s"(the ClickHouse order), got $other")
      }
      def one(e: Seq[Expression], fname: String): Expression = {
        require(e.length == 2, s"$fname(lambda, array): multi-array " +
          "forms are not supported")
        e(1)
      }
      f("arrayMap")(e =>
        ArrayTransform(one(e, "arrayMap"), lam(e.head, "arrayMap")))
      f("arrayFilter")(e =>
        ArrayFilter(one(e, "arrayFilter"), lam(e.head, "arrayFilter")))
      f("arrayExists")(e =>
        ArrayExists(one(e, "arrayExists"), lam(e.head, "arrayExists")))
      f("arrayAll")(e =>
        ArrayForAll(one(e, "arrayAll"), lam(e.head, "arrayAll")))
      // arrayFold(λ(acc, x), arr, init) — CH's typed fold maps onto
      // ArrayAggregate directly (the init literal types the
      // accumulator, dissolving the untyped-zero refusal that scoped
      // arraySum/arrayFirst)
      f("arrayFold") { e =>
        require(e.length == 3,
          "arrayFold(lambda, array, init): multi-array forms are not " +
            "supported")
        ArrayAggregate(e(1), e(2), lam(e.head, "arrayFold"),
          LambdaFunction(UnresolvedNamedLambdaVariable(Seq("facc")),
            Seq(UnresolvedNamedLambdaVariable(Seq("facc")))))
      }
      // plain sorts; the keyed λ-form refuses with the struct recipe
      // (sort_array on array<struct> orders by fields) rather than
      // silently sorting by value
      f("arraySort")(e =>
        if (e.length == 1)
          org.apache.spark.sql.catalyst.expressions.SortArray(e.head,
            Literal(true))
        else throw new IllegalArgumentException(
          "arraySort(lambda, arr) sorts by a KEY function; express it " +
            "as arrayMap(s -> s.x, sort_array(arrayMap(x -> " +
            "struct(key(x) AS k, x AS x), arr))) — the plain " +
            "arraySort(arr) form is supported directly"))
      f("arrayReverseSort")(e =>
        if (e.length == 1)
          org.apache.spark.sql.catalyst.expressions.SortArray(e.head,
            Literal(false))
        else throw new IllegalArgumentException(
          "arrayReverseSort(lambda, arr): see arraySort — use the " +
            "struct-sort recipe for keyed sorts"))
      // arrayPartialSort(n, arr): CH's contract is 'first n sorted,
      // rest unspecified' — a FULL sort is a legal refinement of
      // unspecified, and deterministic where CH is not
      f("arrayPartialSort")(e =>
        org.apache.spark.sql.catalyst.expressions.SortArray(e(1),
          Literal(true)))
      f("arrayPartialReverseSort")(e =>
        org.apache.spark.sql.catalyst.expressions.SortArray(e(1),
          Literal(false)))
      f("arrayShuffle")(_ => throw new IllegalArgumentException(
        "arrayShuffle draws engine-internal randomness with no " +
          "deterministic distributed reading — and arrayShuffle(arr, " +
          "seed) is no better: the seeded permutation is CH's private " +
          "PRNG sequence, so a same-name different-permutation " +
          "implementation would be a silent fake; shuffle with an " +
          "explicit key instead (sort_array over (hash(x), x) structs)"))
      // arrayRotateLeft/Right(arr, n): slice-and-concat with n
      // normalized into [0, size); empty arrays pass through (the
      // pmod-by-zero branch never evaluates under If)
      def rotate(arr: Expression, n: Expression): Expression = {
        val size = Size(arr)
        val nn = org.apache.spark.sql.catalyst.expressions.Pmod(
          Cast(n, LongType), Cast(size, LongType))
        If(EqualTo(size, Literal(0)), arr,
          org.apache.spark.sql.catalyst.expressions.Concat(Seq(
            org.apache.spark.sql.catalyst.expressions.Slice(arr,
              Cast(Add(nn, Literal(1L)), org.apache.spark.sql.types
                .IntegerType),
              Cast(org.apache.spark.sql.catalyst.expressions
                .Subtract(Cast(size, LongType), nn),
                org.apache.spark.sql.types.IntegerType)),
            org.apache.spark.sql.catalyst.expressions.Slice(arr,
              Literal(1), Cast(nn,
                org.apache.spark.sql.types.IntegerType)))))
      }
      f("arrayRotateLeft")(e => rotate(e(0), e(1)))
      f("arrayRotateRight")(e => rotate(e(0),
        org.apache.spark.sql.catalyst.expressions.UnaryMinus(
          Cast(e(1), LongType))))
      // arrayCompact: drop CONSECUTIVE duplicates (null-safe compare)
      f("arrayCompact") { e =>
        val arr = e.head
        val x = UnresolvedNamedLambdaVariable(Seq("cx"))
        val i = UnresolvedNamedLambdaVariable(Seq("ci"))
        ArrayFilter(arr, LambdaFunction(
          org.apache.spark.sql.catalyst.expressions.Or(
            EqualTo(i, Literal(0)),
            org.apache.spark.sql.catalyst.expressions.Not(
              org.apache.spark.sql.catalyst.expressions.EqualNullSafe(
                org.apache.spark.sql.catalyst.expressions.ElementAt(
                  arr, Add(i, Literal(1))),
                org.apache.spark.sql.catalyst.expressions.ElementAt(
                  arr, i)))),
          Seq(x, i)))
      }
      // arrayJaccardIndex: set semantics (CH's), |∩| / |∪| as double
      f("arrayJaccardIndex")(e => org.apache.spark.sql.catalyst
        .expressions.Divide(
          Cast(Size(ArrayIntersect(e(0), e(1))), DoubleType),
          Cast(Size(org.apache.spark.sql.catalyst.expressions
            .ArrayUnion(e(0), e(1))), DoubleType)))
      f("mapContains")(e => org.apache.spark.sql.catalyst.expressions
        .ArrayContains(org.apache.spark.sql.catalyst.expressions
          .MapKeys(e(0)), e(1)))
      // mapAdd/mapSubtract over MAP arguments — null-armed CASE so no
      // typed zero is ever needed; the tuple-of-arrays CH form refuses
      // with the map() pointer
      def mapCombine(a: Expression, b: Expression,
          sub: Boolean): Expression = {
        (a.dataType, b.dataType) match {
          case (_: org.apache.spark.sql.types.MapType,
            _: org.apache.spark.sql.types.MapType) =>
          case _ => throw new IllegalArgumentException(
            (if (sub) "mapSubtract" else "mapAdd") + " here takes MAP " +
              "arguments (the CH tuple-of-arrays form predates the Map " +
              "type; build maps with map_from_arrays first)")
        }
        val k = UnresolvedNamedLambdaVariable(Seq("mk"))
        val v1 = UnresolvedNamedLambdaVariable(Seq("mv1"))
        val v2 = UnresolvedNamedLambdaVariable(Seq("mv2"))
        val rhs = if (sub)
          org.apache.spark.sql.catalyst.expressions.UnaryMinus(v2)
          else v2
        val merged = org.apache.spark.sql.catalyst.expressions
          .CaseWhen(Seq(
            (org.apache.spark.sql.catalyst.expressions.IsNull(v1), rhs),
            (org.apache.spark.sql.catalyst.expressions.IsNull(v2), v1)),
            Some(if (sub)
              org.apache.spark.sql.catalyst.expressions.Subtract(v1, v2)
            else Add(v1, v2)))
        org.apache.spark.sql.catalyst.expressions.MapZipWith(a, b,
          LambdaFunction(merged, Seq(k, v1, v2)))
      }
      f("mapAdd")(e => e.reduce((a, b) => mapCombine(a, b, sub = false)))
      f("mapSubtract") { e =>
        require(e.length == 2, "mapSubtract takes two maps")
        mapCombine(e(0), e(1), sub = true)
      }
      // the analyzer requires a registry-built expression with lambda
      // arguments to BE a HigherOrderFunction at its root — so count
      // and first are folds, not Size/element_at compositions
      f("arrayCount") { e =>
        val p = lam(e.head, "arrayCount")
        val acc = UnresolvedNamedLambdaVariable(Seq("__cnt"))
        ArrayAggregate(one(e, "arrayCount"), Literal(0L),
          LambdaFunction(Add(acc, If(p.function, Literal(1L), Literal(0L))),
            Seq(acc, p.arguments.head)),
          LambdaFunction.identity)
      }
      // arrayFirst/arrayLast/arrayFirstIndex: the HOF-at-root rule
      // forbids element_at(filter(...), 1) compositions, and an
      // ArrayAggregate fold cannot use an untyped NULL zero — but
      // `slice(arr, 1, 0)` IS an element-typed empty-array zero, so
      // the fold carries a 0/1-element array and finishes with a
      // non-throwing element_at. Documented deviation (NULL-fill
      // family): no match yields NULL, not CH's type default (0, '').
      locally {
        import org.apache.spark.sql.catalyst.expressions.{CreateArray,
          ElementAt, Slice}
        def firstLast(name: String, keepFirst: Boolean) =
          f(name) { e =>
            val p = lam(e.head, name)
            val arr = one(e, name)
            val acc = UnresolvedNamedLambdaVariable(Seq("__fl"))
            val hit = CreateArray(Seq(p.arguments.head))
            val step =
              if (keepFirst)
                If(org.apache.spark.sql.catalyst.expressions.And(
                  EqualTo(Size(acc), Literal(0)), p.function), hit, acc)
              else If(p.function, hit, acc)
            val res = UnresolvedNamedLambdaVariable(Seq("__flr"))
            ArrayAggregate(arr,
              Slice(arr, Literal(1), Literal(0)),
              LambdaFunction(step, Seq(acc, p.arguments.head)),
              LambdaFunction(
                ElementAt(res, Literal(1), None, failOnError = false),
                Seq(res)))
          }
        firstLast("arrayFirst", keepFirst = true)
        firstLast("arrayLast", keepFirst = false)
        // 1-based index of the first match, 0 when none (the exact CH
        // contract — an index, unlike the element, HAS a total default)
        f("arrayFirstIndex") { e =>
          val p = lam(e.head, "arrayFirstIndex")
          val arr = one(e, "arrayFirstIndex")
          val acc = UnresolvedNamedLambdaVariable(Seq("__fi"))
          def fld(s: String) = org.apache.spark.sql.catalyst.analysis
            .UnresolvedExtractValue(acc, Literal(s))
          val ns = org.apache.spark.sql.catalyst.expressions
            .CreateNamedStruct(Seq(
              Literal("i"), Add(fld("i"), Literal(1L)),
              Literal("r"), If(
                org.apache.spark.sql.catalyst.expressions.GreaterThan(
                  fld("r"), Literal(0L)), fld("r"),
                If(p.function, Add(fld("i"), Literal(1L)), Literal(0L)))))
          val res = UnresolvedNamedLambdaVariable(Seq("__fir"))
          ArrayAggregate(arr,
            org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
              Seq(Literal("i"), Literal(0L), Literal("r"), Literal(0L))),
            LambdaFunction(ns, Seq(acc, p.arguments.head)),
            LambdaFunction(org.apache.spark.sql.catalyst.analysis
              .UnresolvedExtractValue(res, Literal("r")), Seq(res)))
        }
      }
      // lambda-less array utilities
      f("arrayDistinct")(e => ArrayDistinct(e.head))
      f("arrayUniq")(e => Cast(Size(ArrayDistinct(e.head)), LongType))
      f("arrayReverse")(e => Reverse(e.head))
      f("arrayFlatten")(e => Flatten(e.head))
      f("arrayIntersect")(e => ArrayIntersect(e(0), e(1)))
      f("arrayEnumerate")(e =>
        Sequence(Literal(1), Size(e.head), None, None))
      f("hasAny")(e => ArraysOverlap(e(0), e(1)))
      f("hasAll")(e =>
        EqualTo(Size(ArrayExcept(e(1), e(0))), Literal(0)))
      // array arithmetic (CH returns Float64 for avg/product; the
      // difference array pairs each element with its predecessor, head
      // paired with itself -> leading 0, exactly CH's contract)
      import org.apache.spark.sql.catalyst.expressions.{Add => CAdd,
        ArrayAggregate => AAgg, Concat, Divide, LambdaFunction => LF,
        Multiply, Slice, Subtract, ZipWith}
      import org.apache.spark.sql.types.DoubleType
      def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      f("arrayAvg") { e =>
        val s = AAgg(e.head, Literal(0.0),
          LF(CAdd(lv("aa"), Cast(lv("ax"), DoubleType)),
            Seq(lv("aa"), lv("ax"))),
          LambdaFunction.identity)
        Divide(s, Cast(Size(e.head), DoubleType))
      }
      f("arrayProduct")(e => AAgg(e.head, Literal(1.0),
        LF(Multiply(lv("pa"), Cast(lv("px"), DoubleType)),
          Seq(lv("pa"), lv("px"))),
        LambdaFunction.identity))
      f("arrayDifference") { e =>
        // slice length clamps at 0 so an EMPTY input yields an empty
        // result (CH's contract) instead of Slice's negative-length
        // runtime error
        val shifted = Concat(Seq(Slice(e.head, Literal(1), Literal(1)),
          Slice(e.head, Literal(1),
            org.apache.spark.sql.catalyst.expressions.Greatest(Seq(
              Subtract(Size(e.head), Literal(1)), Literal(0))))))
        ZipWith(e.head, shifted,
          LF(Subtract(lv("dx"), lv("dy")), Seq(lv("dx"), lv("dy"))))
      }
      f("arrayZip")(e => ZipWith(e(0), e(1),
        LF(org.apache.spark.sql.catalyst.expressions.CreateStruct(
          Seq(lv("zx"), lv("zy"))), Seq(lv("zx"), lv("zy")))))
      // CH `transform`: 2-arg = Spark's own higher-order map (pass
      // through, so existing `transform(arr, x -> ...)` text keeps
      // working); 3/4-arg = CH's VALUE-MAPPING transform(x, from, to
      // [, default]) over literal arrays -> a CASE chain (3-arg
      // default: x itself, the CH contract)
      f("transform") { e =>
        def elems(x: Expression, which: String): Seq[Expression] =
          x match {
            case org.apache.spark.sql.catalyst.expressions
              .CreateArray(es, _) => es
            case other => throw new IllegalArgumentException(
              s"transform $which must be an array(...) literal, " +
                s"got $other")
          }
        e match {
          case Seq(arr, lf: LambdaFunction) => ArrayTransform(arr, lf)
          case Seq(x, from, to) =>
            val (fs, ts) = (elems(from, "from"), elems(to, "to"))
            require(fs.size == ts.size,
              "transform: from/to arrays must have equal length")
            org.apache.spark.sql.catalyst.expressions.CaseWhen(
              fs.zip(ts).map { case (fe, te) => (EqualTo(x, fe), te) },
              Some(x))
          case Seq(x, from, to, dflt) =>
            val (fs, ts) = (elems(from, "from"), elems(to, "to"))
            require(fs.size == ts.size,
              "transform: from/to arrays must have equal length")
            org.apache.spark.sql.catalyst.expressions.CaseWhen(
              fs.zip(ts).map { case (fe, te) => (EqualTo(x, fe), te) },
              Some(dflt))
          case _ => throw new IllegalArgumentException(
            "transform takes (arr, lambda) or (x, from, to[, default])")
        }
      }
    }
    // string / regex / date-arithmetic / bitwise spellings, each a
    // 1:1 native expression (no UDFs); semantically inexact CH
    // functions (formatDateTime's version-dependent %M, cityHash64's
    // CH-private algorithm, replaceOne's first-only contract) are
    // deliberately NOT registered — a loud unknown-function beats a
    // silently different answer.
    locally {
      import org.apache.spark.sql.catalyst.expressions.{Base64, BitwiseAnd,
        BitwiseNot, BitwiseOr, BitwiseXor, DateAdd, Expression, RLike,
        RegExpExtract, ShiftLeft, ShiftRight, StringReplace, TimestampDiff,
        UnBase64}
      import org.apache.spark.sql.types.{BinaryType, StringType}
      import org.apache.spark.unsafe.types.UTF8String
      f("replaceAll")(e => StringReplace(e(0), e(1), e(2)))
      f("replaceRegexpAll")(e =>
        org.apache.spark.sql.catalyst.expressions.RegExpReplace(
          e(0), e(1), e(2)))
      f("match")(e => RLike(e(0), e(1)))
      // CH extract: first subpattern when the regex has one, else the
      // whole match — decidable only for a literal pattern; the
      // compiled Pattern's groupCount is authoritative (a textual '('
      // scan miscounts (?:...) groups and [(] classes)
      f("extract") { e =>
        val grp = e(1) match {
          case Literal(u: UTF8String, StringType) =>
            if (java.util.regex.Pattern.compile(u.toString)
              .matcher("").groupCount() > 0) 1 else 0
          case other => throw new IllegalArgumentException(
            s"extract needs a literal pattern, got $other")
        }
        RegExpExtract(e(0), e(1), Literal(grp))
      }
      // dateDiff with CH's QUOTED unit ('day') is rewritten by
      // rewriteDateDiff — Spark's parser owns dateDiff and demands an
      // unquoted unit keyword, so the registry never sees it
      f("toDateTime")(e => Cast(e.head, TimestampType))
      f("yesterday")(_ => DateAdd(CurrentDate(), Literal(-1)))
      f("bitAnd")(e => BitwiseAnd(e(0), e(1)))
      f("bitOr")(e => BitwiseOr(e(0), e(1)))
      f("bitXor")(e => BitwiseXor(e(0), e(1)))
      f("bitNot")(e => BitwiseNot(e.head))
      f("bitShiftLeft")(e => ShiftLeft(e(0), e(1)))
      f("bitShiftRight")(e => ShiftRight(e(0), e(1)))
      f("base64Encode")(e => Base64(Cast(e.head, BinaryType)))
      f("base64Decode")(e => Cast(UnBase64(e.head), StringType))
      f("modulo")(e =>
        org.apache.spark.sql.catalyst.expressions.Remainder(e(0), e(1)))
      // URL functions — the web-corpus staples, all on Spark's native
      // ParseUrl (java.net.URI semantics) + string expressions. CH's
      // empty-string-on-miss contract is kept via coalesce.
      import org.apache.spark.sql.catalyst.expressions.{Coalesce, Contains,
        ElementAt, ParseUrl, RegExpCount, RegExpExtractAll, RegExpReplace,
        StringSplit}
      def urlPart(u: Expression, part: String): Expression =
        Coalesce(Seq(ParseUrl(Seq(u,
          Literal(UTF8String.fromString(part), StringType)),
          failOnError = false), Literal("")))
      f("protocol")(e => urlPart(e.head, "PROTOCOL"))
      f("domain")(e => urlPart(e.head, "HOST"))
      f("path")(e => urlPart(e.head, "PATH"))
      f("queryString")(e => urlPart(e.head, "QUERY"))
      f("fragment")(e => urlPart(e.head, "REF"))
      f("domainWithoutWWW")(e =>
        RegExpReplace(urlPart(e.head, "HOST"), Literal("^www\\."),
          Literal("")))
      f("topLevelDomain") { e =>
        val h = urlPart(e.head, "HOST")
        If(Contains(h, Literal(".")),
          ElementAt(StringSplit(h, Literal("\\."), Literal(-1)),
            Literal(-1)),
          Literal(""))
      }
      f("extractURLParameter")(e => Coalesce(Seq(
        ParseUrl(Seq(e(0),
          Literal(UTF8String.fromString("QUERY"), StringType), e(1)),
          failOnError = false), Literal(""))))
      f("cutFragment")(e =>
        ElementAt(StringSplit(e.head, Literal("#"), Literal(2)),
          Literal(1)))
      f("cutQueryStringAndFragment")(e =>
        ElementAt(StringSplit(e.head, Literal("[?#]"), Literal(2)),
          Literal(1)))
      // remaining string/regex spellings
      f("splitByString") { e =>
        val sep = e.head match {
          case Literal(u: UTF8String, StringType) =>
            java.util.regex.Pattern.quote(u.toString)
          case other => throw new IllegalArgumentException(
            s"splitByString needs a literal separator, got $other")
        }
        capSubstrings(StringSplit(e(1), Literal(sep), Literal(-1)),
          e, 2)
      }
      f("extractAll") { e =>
        val grp = e(1) match {
          case Literal(u: UTF8String, StringType) =>
            if (java.util.regex.Pattern.compile(u.toString)
              .matcher("").groupCount() > 0) 1 else 0
          case other => throw new IllegalArgumentException(
            s"extractAll needs a literal pattern, got $other")
        }
        RegExpExtractAll(e(0), e(1), Literal(grp))
      }
      f("countMatches")(e => RegExpCount(e(0), e(1)))
      f("multiSearchAny") { e =>
        import org.apache.spark.sql.catalyst.expressions.{ArrayExists,
          LambdaFunction, UnresolvedNamedLambdaVariable}
        val v = UnresolvedNamedLambdaVariable(Seq("__ms"))
        ArrayExists(e(1), LambdaFunction(Contains(e.head, v), Seq(v)))
      }
    }
    // CH JSON-extraction family (JSONExtract*/JSONHas/JSONLength plus
    // the visitParam*/simpleJSON* fast-path spellings), built on
    // Spark's VARIANT engine: parse once with try semantics (invalid
    // JSON reads as "missing", like CH), take the RAW JSON text of the
    // addressed value, then apply CH's strict typing contract — wrong
    // type yields the type's default ('', 0, 0.0, false) — which the
    // raw text discriminates exactly (a JSON string always starts with
    // '"', a number with a digit or '-'). Path arguments follow CH's
    // indices_or_keys: literal string keys and positive 1-based array
    // indices. One documented narrowing: visitParam*/simpleJSON*
    // address a TOP-LEVEL field by name (CH's fast path scans for the
    // field at any depth — depth-blind matching is a footgun, not a
    // feature worth replicating).
    locally {
      import org.apache.spark.sql.catalyst.expressions.{ArrayTransform,
        Coalesce, EqualTo, EvalMode, Expression, GetJsonObject, IsNotNull,
        JsonObjectKeys, LambdaFunction, LengthOfJsonArray, RLike, Size,
        StartsWith, StructsToJson, UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.catalyst.expressions.variant.{ParseJson,
        VariantGet}
      import org.apache.spark.sql.types.{ArrayType, BooleanType,
        IntegerType, LongType, StringType, VariantType}
      import org.apache.spark.unsafe.types.UTF8String

      def pathOf(args: Seq[Expression], fname: String): Literal = {
        val p = "$" + args.map {
          case Literal(u: UTF8String, StringType) => "." + u.toString
          case Literal(i: Int, IntegerType) if i >= 1 => s"[${i - 1}]"
          case other => throw new IllegalArgumentException(
            s"$fname path arguments must be literal string keys or " +
              s"positive 1-based integer indices, got $other")
        }.mkString
        Literal(UTF8String.fromString(p), StringType)
      }
      def rawOf(e: Seq[Expression], fname: String): Expression =
        StructsToJson(Map.empty[String, String],
          VariantGet(ParseJson(e.head, failOnError = false),
            pathOf(e.tail, fname), VariantType, failOnError = false, None))
      def strE(e: Seq[Expression], fname: String): Expression =
        If(StartsWith(rawOf(e, fname), Literal("\"")),
          Coalesce(Seq(GetJsonObject(e.head, pathOf(e.tail, fname)),
            Literal(""))),
          Literal(""))
      def numGuard(e: Seq[Expression], fname: String,
          value: Expression => Expression, dflt: Literal): Expression = {
        val r = rawOf(e, fname)
        If(RLike(r, Literal("^-?[0-9]")),
          Coalesce(Seq(value(r), dflt)), dflt)
      }
      def intE(e: Seq[Expression], fname: String): Expression =
        numGuard(e, fname, r => Coalesce(Seq(
          Cast(r, LongType, None, EvalMode.TRY),
          Cast(Cast(r, DoubleType, None, EvalMode.TRY), LongType, None,
            EvalMode.TRY))), Literal(0L))
      def floatE(e: Seq[Expression], fname: String): Expression =
        numGuard(e, fname, r => Cast(r, DoubleType, None, EvalMode.TRY),
          Literal(0.0))
      def boolE(e: Seq[Expression], fname: String): Expression =
        Coalesce(Seq(EqualTo(rawOf(e, fname), Literal("true")),
          Literal(false)))
      def rawE(e: Seq[Expression], fname: String): Expression =
        Coalesce(Seq(rawOf(e, fname), Literal("")))
      def hasE(e: Seq[Expression], fname: String): Expression =
        IsNotNull(rawOf(e, fname))
      def lenE(e: Seq[Expression], fname: String): Expression = {
        val r = rawOf(e, fname)
        If(StartsWith(r, Literal("[")),
          Cast(LengthOfJsonArray(r), LongType),
          If(StartsWith(r, Literal("{")),
            Cast(Size(JsonObjectKeys(r)), LongType), Literal(0L)))
      }
      f("JSONHas")(hasE(_, "JSONHas"))
      f("JSONLength")(lenE(_, "JSONLength"))
      f("JSONExtractString")(strE(_, "JSONExtractString"))
      f("JSONExtractInt")(intE(_, "JSONExtractInt"))
      f("JSONExtractUInt")(intE(_, "JSONExtractUInt"))
      f("JSONExtractFloat")(floatE(_, "JSONExtractFloat"))
      f("JSONExtractBool")(boolE(_, "JSONExtractBool"))
      f("JSONExtractRaw")(rawE(_, "JSONExtractRaw"))
      // raw JSON text of each element of the addressed array; wrong
      // type -> empty array (the CH contract)
      f("JSONExtractArrayRaw") { e =>
        val v = UnresolvedNamedLambdaVariable(Seq("jx"))
        Coalesce(Seq(
          ArrayTransform(
            VariantGet(ParseJson(e.head, failOnError = false),
              pathOf(e.tail, "JSONExtractArrayRaw"),
              ArrayType(VariantType), failOnError = false, None),
            LambdaFunction(StructsToJson(Map.empty[String, String], v),
              Seq(v))),
          Literal.create(Seq.empty[String], ArrayType(StringType))))
      }
      // keys of the addressed object; wrong type -> empty array.
      // Documented deviation: keys arrive in VARIANT-normalized
      // (sorted) order, not CH's source order — the raw text is a
      // parse-and-reserialize through the VARIANT engine
      f("JSONExtractKeys")(e => Coalesce(Seq(
        JsonObjectKeys(rawOf(e, "JSONExtractKeys")),
        Literal.create(Seq.empty[String], ArrayType(StringType)))))
      // JSONExtractKeysAndValues(json, path..., 'String') — array of
      // (key, value) string tuples. Only the String value type is
      // supported (it is the one CH dashboards use; other types
      // refuse). Keys are addressed back through a $['key'] path, so
      // keys containing quotes/brackets are out of contract
      // (documented; label-map payloads keep identifier-like keys).
      f("JSONExtractKeysAndValues") { e =>
        e.last match {
          case Literal(u: UTF8String, StringType)
            if u.toString == "String" =>
          case other => throw new IllegalArgumentException(
            "JSONExtractKeysAndValues: only the 'String' value type " +
              s"is supported, got $other")
        }
        val base = e.dropRight(1)
        val parentRaw = rawOf(base, "JSONExtractKeysAndValues")
        val k = UnresolvedNamedLambdaVariable(Seq("jk"))
        val path = org.apache.spark.sql.catalyst.expressions.Concat(Seq(
          Literal("$['"), k, Literal("']")))
        // transform over a null-coalesced key array: wrong type or
        // missing object -> empty keys -> empty tuple array
        ArrayTransform(
          Coalesce(Seq(JsonObjectKeys(parentRaw),
            Literal.create(Seq.empty[String], ArrayType(StringType)))),
          LambdaFunction(
            org.apache.spark.sql.catalyst.expressions.CreateStruct(Seq(
              k, Coalesce(Seq(GetJsonObject(parentRaw, path),
                Literal(""))))),
            Seq(k)))
      }
      for (fast <- Seq("visitParam", "simpleJSON")) {
        f(s"${fast}Has")(hasE(_, s"${fast}Has"))
        f(s"${fast}ExtractString")(strE(_, s"${fast}ExtractString"))
        f(s"${fast}ExtractInt")(intE(_, s"${fast}ExtractInt"))
        f(s"${fast}ExtractUInt")(intE(_, s"${fast}ExtractUInt"))
        f(s"${fast}ExtractFloat")(floatE(_, s"${fast}ExtractFloat"))
        f(s"${fast}ExtractBool")(boolE(_, s"${fast}ExtractBool"))
        f(s"${fast}ExtractRaw")(rawE(_, s"${fast}ExtractRaw"))
      }
    }

    // ---- round 14 widening: dates, maps, multiSearch, Lp, enumerate ----
    locally {
      import org.apache.spark.sql.catalyst.expressions.{
        Expression, IntegralDivide, LambdaFunction, MapFilter,
        MapFromEntries, MapKeys, MapValues, Multiply, Size, ZipWith}
      // parse-and-substitute: compositions too verbose to build by
      // hand are written as Spark SQL text with __-prefixed
      // placeholders replaced by the caller's parsed argument trees.
      // Lambda variables inside the text bind during analysis, so
      // they can never collide with the placeholders.
      def fromSql(text: String, subs: (String, Expression)*): Expression = {
        val m = subs.toMap
        // the parser rewrites every identifier INSIDE a lambda body to
        // UnresolvedNamedLambdaVariable — placeholders there need the
        // second case (real lambda variables never carry the __ prefix
        // with a substitution entry, so they pass through untouched)
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(text).transformUp {
            case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute if a.nameParts.size == 1 &&
                m.contains(a.nameParts.head) => m(a.nameParts.head)
            case v: org.apache.spark.sql.catalyst.expressions
              .UnresolvedNamedLambdaVariable if v.nameParts.size == 1 &&
                m.contains(v.nameParts.head) => m(v.nameParts.head)
          }
      }

      // dateTrunc — literal unit; CH returns Date for day-or-coarser
      // units and DateTime below that
      f("dateTrunc") { e =>
        val unit = e.head match {
          case Literal(u: UTF8String, StringType) =>
            u.toString.toLowerCase(java.util.Locale.ROOT)
          case other => throw new IllegalArgumentException(
            s"dateTrunc unit must be a literal string, got $other")
        }
        val coarse = Seq("year", "quarter", "month", "week", "day")
        val fine = Seq("hour", "minute", "second")
        require(coarse.contains(unit) || fine.contains(unit),
          s"dateTrunc: unsupported unit '$unit'")
        val tr = TruncTimestamp(Literal(unit), Cast(e(1), TimestampType))
        if (coarse.contains(unit)) Cast(tr, DateType) else tr
      }
      // timeSlot / timeSlots — CH's 1800 s rounding and the covering
      // slot array [floor(t/sz)·sz .. floor((t+dur)/sz)·sz].
      // IntegralDivide truncates toward zero, which would round
      // pre-1970 epochs UP; pmod-based floor division matches CH for
      // negative epochs too (pmod is non-negative for a positive
      // divisor, so ts - pmod(ts, sz) is the floored multiple)
      import org.apache.spark.sql.catalyst.expressions.{
        Pmod => FPmod, Subtract => FSub}
      def floorDiv(a: Expression, b: Expression): Expression =
        IntegralDivide(FSub(a, FPmod(a, b)), b)
      def epochFloor(ts: Expression, seconds: Expression): Expression = {
        val t = Cast(Cast(ts, TimestampType), LongType)
        Cast(FSub(t, FPmod(t, seconds)), TimestampType)
      }
      f("timeSlot")(e => epochFloor(e.head, Literal(1800L)))
      f("timeSlots") { e =>
        val size = if (e.length >= 3) Cast(e(2), LongType)
          else Literal(1800L)
        fromSql(
          // floor division via pmod so pre-1970 slots round down
          "transform(sequence(" +
            "(CAST(__ts AS BIGINT) - pmod(CAST(__ts AS BIGINT), __sz)) " +
            "div __sz, " +
            "(CAST(__ts AS BIGINT) + CAST(__dur AS BIGINT) - " +
            "pmod(CAST(__ts AS BIGINT) + CAST(__dur AS BIGINT), __sz)) " +
            "div __sz), " +
            "__slot -> CAST(__slot * __sz AS TIMESTAMP))",
          "__ts" -> Cast(e.head, TimestampType),
          "__dur" -> e(1), "__sz" -> size)
      }
      // toRelative*Num — whole units since the 1970 epoch
      f("toRelativeDayNum")(e =>
        fromSql("datediff(__d, DATE'1970-01-01')",
          "__d" -> Cast(e.head, DateType)))
      f("toRelativeHourNum")(e => floorDiv(
        Cast(Cast(e.head, TimestampType), LongType), Literal(3600L)))
      f("toRelativeMinuteNum")(e => floorDiv(
        Cast(Cast(e.head, TimestampType), LongType), Literal(60L)))
      f("toRelativeSecondNum")(e =>
        Cast(Cast(e.head, TimestampType), LongType))

      // map HOFs — CH spells the lambda FIRST; Spark maps are
      // unordered so the sort spellings refuse instead of shipping an
      // order nothing downstream can observe
      def lambdaFirst(name: String, e: Seq[Expression])
          : (LambdaFunction, Expression) = e match {
        case Seq(lf: LambdaFunction, m) => (lf, m)
        case _ => throw new IllegalArgumentException(
          s"$name takes ((k, v) -> ..., map)")
      }
      // the analyzer demands a HigherOrderFunction at the ROOT of any
      // registry function that received a lambda argument — non-HOF
      // compositions ride inside a passthrough aggregate over an
      // empty array (zero = the whole expression, merge never runs)
      def hofRoot(x: Expression): Expression = {
        import org.apache.spark.sql.catalyst.expressions.{
          ArrayAggregate, UnresolvedNamedLambdaVariable}
        val acc = UnresolvedNamedLambdaVariable(Seq("__hr_acc"))
        val it = UnresolvedNamedLambdaVariable(Seq("__hr_it"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__hr_fin"))
        ArrayAggregate(
          Literal.create(Array.empty[Int],
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType)),
          x, LambdaFunction(acc, Seq(acc, it)),
          LambdaFunction(fin, Seq(fin)))
      }
      f("mapFilter") { e =>
        val (lf, m) = lambdaFirst("mapFilter", e)
        MapFilter(m, lf)
      }
      f("mapExists") { e =>
        val (lf, m) = lambdaFirst("mapExists", e)
        hofRoot(org.apache.spark.sql.catalyst.expressions.GreaterThan(
          Size(MapFilter(m, lf)), Literal(0)))
      }
      f("mapAll") { e =>
        val (lf, m) = lambdaFirst("mapAll", e)
        hofRoot(EqualTo(Size(MapFilter(m,
          LambdaFunction(org.apache.spark.sql.catalyst.expressions
            .Not(lf.function), lf.arguments))), Literal(0)))
      }
      // mapApply((k, v) -> (k2, v2), m): the tuple body becomes the
      // (key, value) struct of a zip_with over keys/values — the
      // user's own lambda variables bind unchanged
      f("mapApply") { e =>
        val (lf, m) = lambdaFirst("mapApply", e)
        val body = lf.function match {
          case ns: org.apache.spark.sql.catalyst.expressions
            .CreateNamedStruct if ns.valExprs.size == 2 => ns.valExprs
          case other => throw new IllegalArgumentException(
            "mapApply lambda must return a (key, value) tuple, got " +
              other.getClass.getSimpleName)
        }
        hofRoot(MapFromEntries(ZipWith(MapKeys(m), MapValues(m),
          LambdaFunction(org.apache.spark.sql.catalyst.expressions
            .CreateStruct(body), lf.arguments))))
      }
      // mapConcat: FIRST key wins (CH's contract); mapUpdate: the
      // SECOND map's entries override the first's
      def mapPairFirstWins(a: Expression, b: Expression): Expression =
        fromSql(
          "map_from_entries(concat(map_entries(__a), " +
            "filter(map_entries(__b), " +
            "__e -> NOT array_contains(map_keys(__a), __e.key))))",
          "__a" -> a, "__b" -> b)
      f("mapConcat")(e => e.reduceLeft(mapPairFirstWins))
      f("mapUpdate") { e =>
        require(e.length == 2, "mapUpdate takes (map, map)")
        mapPairFirstWins(e(1), e(0))
      }
      Seq("mapSort", "mapPartialSort").foreach(n =>
        f(n)(_ => throw new IllegalArgumentException(
          s"$n orders a map's entries, but Spark's MapType is " +
            "unordered — no downstream operator could observe the " +
            "order; sort map_entries(m) as an array instead")))

      // arrayFill / arrayReverseFill / arraySplit / arrayReverseSplit —
      // CH's predicate-driven fill and run-segmentation primitives.
      // All four are closed-form INDEX compositions (O(n²) per array,
      // same class as the enumerators): the user lambda is APPLIED by
      // substituting its variable with the probed element, and the
      // result binds inside the index lambdas by name at analysis.
      // Roots are CASE (the empty-array guard also dodges Spark's
      // descending-sequence trap for sequence(1,0)/sequence(2,1)), so
      // each rides in hofRoot like the map predicates above.
      def applyLam1(lf0: Expression, fname: String,
          arg: Expression): Expression = {
        import org.apache.spark.sql.catalyst.expressions
          .UnresolvedNamedLambdaVariable
        val lf = lf0 match {
          case l: LambdaFunction => l
          case other => throw new IllegalArgumentException(
            s"$fname takes a lambda (x -> ...) as its FIRST argument " +
              s"(the ClickHouse order), got $other")
        }
        require(lf.arguments.length == 1,
          s"$fname: multi-array forms are not supported")
        val argName = lf.arguments.head match {
          case v: UnresolvedNamedLambdaVariable => v.nameParts
          case v => Seq(v.name)
        }
        lf.function.transformUp {
          case v: UnresolvedNamedLambdaVariable
            if v.nameParts == argName => arg
        }
      }
      def probedCond(lf: Expression, fname: String, a: Expression,
          idxVar: String): Expression =
        Cast(applyLam1(lf, fname,
          org.apache.spark.sql.catalyst.expressions.ElementAt(a,
            org.apache.spark.sql.catalyst.expressions
              .UnresolvedNamedLambdaVariable(Seq(idxVar)))),
          org.apache.spark.sql.types.BooleanType)
      def fillExpr(e: Seq[Expression], reverse: Boolean,
          fname: String): Expression = {
        require(e.length == 2,
          s"$fname(lambda, array): multi-array forms are not supported")
        val a = e(1)
        val cnd = probedCond(e.head, fname, a, "__fj")
        // fill value = the element at the NEAREST index (≤ i forward,
        // ≥ i backward) where the predicate holds; no such index →
        // the boundary element, which is never replaced (CH contract)
        val pick =
          if (!reverse)
            "CAST(coalesce(array_max(filter(sequence(1, __fi), " +
              "__fj -> __cnd)), 1) AS INT)"
          else
            "CAST(coalesce(array_min(filter(sequence(__fi, " +
              "size(__a)), __fj -> __cnd)), size(__a)) AS INT)"
        hofRoot(fromSql(
          "CASE WHEN size(__a) = 0 THEN __a ELSE " +
            s"transform(sequence(1, size(__a)), __fi -> " +
            s"element_at(__a, $pick)) END",
          "__a" -> a, "__cnd" -> cnd))
      }
      f("arrayFill")(e => fillExpr(e, reverse = false, "arrayFill"))
      f("arrayReverseFill")(e =>
        fillExpr(e, reverse = true, "arrayReverseFill"))
      def splitExpr(e: Seq[Expression], after: Boolean,
          fname: String): Expression = {
        require(e.length == 2,
          s"$fname(lambda, array): multi-array forms are not supported")
        val a = e(1)
        val cnd = probedCond(e.head, fname, a, "__sj")
        // group-start indices: 1 plus (split-BEFORE) every i ≥ 2 with
        // cond(a[i]), or (split-AFTER) every j+1 for j ≤ n−1 with
        // cond(a[j]); groups are the slices between consecutive starts
        val rest =
          if (!after)
            "filter(sequence(2, size(__a)), __sj -> __cnd)"
          else
            "transform(filter(sequence(1, size(__a) - 1), " +
              "__sj -> __cnd), __sk -> __sk + 1)"
        val cuts = fromSql(
          "concat(array(1), CASE WHEN size(__a) < 2 THEN " +
            s"slice(array(1), 1, 0) ELSE $rest END)",
          "__a" -> a, "__cnd" -> cnd)
        hofRoot(fromSql(
          "CASE WHEN size(__a) = 0 THEN slice(array(__a), 1, 0) ELSE " +
            "transform(sequence(1, size(__cuts)), __k -> " +
            "slice(__a, element_at(__cuts, __k), " +
            "(CASE WHEN __k = size(__cuts) THEN size(__a) + 1 " +
            "ELSE element_at(__cuts, __k + 1) END) " +
            "- element_at(__cuts, __k))) END",
          "__a" -> a, "__cuts" -> cuts))
      }
      f("arraySplit")(e => splitExpr(e, after = false, "arraySplit"))
      f("arrayReverseSplit")(e =>
        splitExpr(e, after = true, "arrayReverseSplit"))

      // multiSearch family — leftmost match position across needles;
      // FirstIndex ties (equal position) break to the lowest needle
      // index via the struct min
      f("multiSearchAllPositions")(e => fromSql(
        "transform(__n, __x -> CAST(locate(__x, __h) AS BIGINT))",
        "__h" -> e.head, "__n" -> e(1)))
      f("multiSearchFirstPosition")(e => fromSql(
        "CAST(coalesce(array_min(filter(transform(__n, " +
          "__x -> locate(__x, __h)), __p -> __p > 0)), 0) AS BIGINT)",
        "__h" -> e.head, "__n" -> e(1)))
      f("multiSearchFirstIndex")(e => fromSql(
        "CAST(coalesce(array_min(filter(zip_with(transform(__n, " +
          "__x -> locate(__x, __h)), sequence(1, size(__n)), " +
          "(__p, __i) -> named_struct('p', __p, 'i', __i)), " +
          "__s -> __s.p > 0)).i, 0) AS BIGINT)",
        "__h" -> e.head, "__n" -> e(1)))

      // Lp norm/distance family (p a literal >= 1) + the normalize-by
      // spellings, composed exactly like the L1/L2 natives
      def litP(x: Expression): Double = x match {
        case Literal(d: Double, DoubleType) => d
        case Literal(i: Int, IntegerType) => i.toDouble
        case Literal(l: Long, LongType) => l.toDouble
        case other => throw new IllegalArgumentException(
          s"p must be a literal number, got $other")
      }
      def lpNorm(v: Expression, p: Double): Expression = {
        require(p >= 1, "LpNorm requires p >= 1")
        fromSql(
          s"pow(aggregate(__v, CAST(0.0 AS DOUBLE), (__acc, __x) -> " +
            s"__acc + pow(abs(CAST(__x AS DOUBLE)), $p)), ${1.0 / p})",
          "__v" -> v)
      }
      f("LpNorm")(e => lpNorm(e.head, litP(e(1))))
      f("LpDistance")(e => lpNorm(fromSql(
        "zip_with(__a, __b, (__x, __y) -> CAST(__x AS DOUBLE) - " +
          "CAST(__y AS DOUBLE))", "__a" -> e.head, "__b" -> e(1)),
        litP(e(2))))
      f("LinfNorm")(e => fromSql(
        "array_max(transform(__v, __x -> abs(CAST(__x AS DOUBLE))))",
        "__v" -> e.head))
      f("LinfDistance")(e => fromSql(
        "array_max(transform(zip_with(__a, __b, (__x, __y) -> " +
          "abs(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))), __d -> __d))",
        "__a" -> e.head, "__b" -> e(1)))
      def normalizeBy(v: Expression, norm: Expression): Expression =
        fromSql("transform(__v, __x -> CAST(__x AS DOUBLE) / __nm)",
          "__v" -> v, "__nm" -> norm)
      f("normalizeL1")(e => normalizeBy(e.head, fromSql(
        "aggregate(__v, CAST(0.0 AS DOUBLE), (__acc, __x) -> " +
          "__acc + abs(CAST(__x AS DOUBLE)))", "__v" -> e.head)))
      f("normalizeLinf")(e => normalizeBy(e.head, fromSql(
        "array_max(transform(__v, __x -> abs(CAST(__x AS DOUBLE))))",
        "__v" -> e.head)))
      f("normalizeLp") { e =>
        normalizeBy(e.head, lpNorm(e.head, litP(e(1))))
      }

      // array enumerators — dense = 1-based id by first appearance
      // (array_distinct preserves first-occurrence order), uniq = the
      // running per-value occurrence counter
      // dense id = #distinct values in the prefix ending at v's FIRST
      // occurrence; first occurrence located with a null-safe <=> scan
      // (array_position cannot match NULL — CH enumerates NULL as a
      // value, and so does this, consistently with the Uniq variant)
      f("arrayEnumerateDense")(e => fromSql(
        "transform(__a, __v -> CAST(size(array_distinct(slice(__a, 1, " +
          "filter(sequence(1, size(__a)), " +
          "__i -> element_at(__a, __i) <=> __v)[0]))) AS INT))",
        "__a" -> e.head))
      f("arrayEnumerateUniq")(e => fromSql(
        "CASE WHEN size(__a) = 0 THEN array_repeat(CAST(0 AS INT), 0) " +
          "ELSE zip_with(__a, sequence(1, size(__a)), (__v, __i) -> " +
          "CAST(size(filter(slice(__a, 1, __i), __u -> __u <=> __v)) " +
          "AS INT)) END", "__a" -> e.head))

      // formatDateTime / parseDateTime — the MySQL-style %-code table
      // of MODERN ClickHouse (≥ 23: %M is the month NAME, %i the
      // minute; the pre-23 %M-as-minute reading is the documented
      // deviation — use %i). Literal runs are single-quoted for
      // Spark's DateTimeFormatter; unmappable codes refuse loudly.
      // (Supersedes the round-6 blanket non-registration: the
      // ambiguity is now pinned to the modern default instead of
      // refusing the whole staple.)
      val chFmt: Map[Char, String] = Map(
        'a' -> "EEE", 'b' -> "MMM", 'c' -> "MM", 'd' -> "dd",
        'D' -> "MM/dd/yy", 'f' -> "SSSSSS", 'F' -> "yyyy-MM-dd",
        'h' -> "hh", 'H' -> "HH", 'i' -> "mm", 'I' -> "hh",
        'j' -> "DDD", 'k' -> "H", 'l' -> "h", 'm' -> "MM",
        'M' -> "MMMM", 'p' -> "a", 'Q' -> "Q", 'r' -> "hh:mm:ss a",
        'R' -> "HH:mm", 's' -> "ss", 'S' -> "ss", 'T' -> "HH:mm:ss",
        'y' -> "yy", 'Y' -> "yyyy", 'e' -> "d")
      def translateFmt(fname: String, fmt: String): String = {
        val out = new StringBuilder
        val lit = new StringBuilder
        def flushLit(): Unit = if (lit.nonEmpty) {
          out.append("'").append(lit.toString.replace("'", "''"))
            .append("'")
          lit.clear()
        }
        var i = 0
        while (i < fmt.length) {
          val ch = fmt.charAt(i)
          if (ch == '%' && i + 1 < fmt.length) {
            val c = fmt.charAt(i + 1)
            c match {
              case '%' => lit.append('%')
              case 'n' => lit.append('\n')
              case 't' => lit.append('\t')
              case k if chFmt.contains(k) =>
                flushLit(); out.append(chFmt(k))
              case other => throw new IllegalArgumentException(
                s"$fname: %$other has no deterministic Spark " +
                  "DateTimeFormatter mapping; supported codes: %" +
                  chFmt.keys.toSeq.sorted.mkString(" %") +
                  " %n %t %%")
            }
            i += 2
          } else { lit.append(ch); i += 1 }
        }
        flushLit()
        out.toString
      }
      def litFmt(fname: String, x: Expression): String = x match {
        case Literal(u: UTF8String, StringType) => u.toString
        case other => throw new IllegalArgumentException(
          s"$fname needs a literal format string, got $other")
      }
      f("formatDateTime")(e =>
        org.apache.spark.sql.catalyst.expressions.DateFormatClass(
          Cast(e.head, TimestampType),
          Literal(translateFmt("formatDateTime", litFmt(
            "formatDateTime", e(1))))))
      Seq("parseDateTime", "parseDateTimeOrNull").foreach { n =>
        f(n) { e =>
          val fmt = translateFmt(n, litFmt(n, e(1)))
            .replace("'", "''")
          val parsed = fromSql(s"try_to_timestamp(__s, '$fmt')",
            "__s" -> e.head)
          if (n.endsWith("OrNull")) parsed
          else fromSql(
            "CASE WHEN __p IS NULL AND __s IS NOT NULL THEN " +
              "raise_error(concat('parseDateTime: cannot parse ', " +
              "__s)) ELSE __p END",
            "__p" -> parsed, "__s" -> e.head)
        }
      }
      // best-effort parsing against the pinned shape list (the
      // documented contract; CH's own best-effort is version-fluid):
      // ISO with space or T separator, with/without fractional
      // seconds, date-only, slash dates, and bare unix seconds
      Seq("parseDateTimeBestEffort", "parseDateTimeBestEffortOrNull")
        .foreach { n =>
          f(n) { e =>
            val parsed = fromSql(
              "coalesce(" +
                "try_to_timestamp(__s, 'yyyy-MM-dd HH:mm:ss')," +
                "try_to_timestamp(__s, \"yyyy-MM-dd'T'HH:mm:ss\")," +
                "try_to_timestamp(__s, 'yyyy-MM-dd HH:mm:ss.SSS')," +
                "try_to_timestamp(__s, " +
                "\"yyyy-MM-dd'T'HH:mm:ss.SSS\")," +
                "try_to_timestamp(__s, 'yyyy-MM-dd')," +
                "try_to_timestamp(__s, 'yyyy/MM/dd HH:mm:ss')," +
                "try_to_timestamp(__s, 'yyyy/MM/dd')," +
                "try_to_timestamp(__s, 'dd/MM/yyyy HH:mm:ss')," +
                "CASE WHEN __s rlike '^[0-9]{9,10}$' THEN " +
                "timestamp_seconds(CAST(__s AS BIGINT)) END)",
              "__s" -> e.head)
            if (n.endsWith("OrNull")) parsed
            else fromSql(
              "CASE WHEN __p IS NULL AND __s IS NOT NULL THEN " +
                "raise_error(concat('parseDateTimeBestEffort: " +
                "cannot parse ', __s)) ELSE __p END",
              "__p" -> parsed, "__s" -> e.head)
          }
        }

      // add*/subtract* — CH's per-unit date arithmetic, mapped to
      // Spark's timestampadd (java.time calendar semantics on both
      // sides: month-end clamping matches). Result is TIMESTAMP even
      // for Date inputs (CH keeps Date for day-or-coarser units —
      // wrap in toDate where the narrower type matters; documented).
      // Deltas outside Int32 fail loudly (a bare Cast would wrap
      // silently under non-ANSI semantics), and subtract negates in
      // the BIGINT domain so -Int.MinValue can't self-negate.
      def int32Delta(fname: String, d: Expression): Expression =
        fromSql(
          "CASE WHEN __d IS NULL THEN CAST(NULL AS INT) " +
            "WHEN __d BETWEEN -2147483648L AND 2147483647L " +
            "THEN CAST(__d AS INT) ELSE CAST(raise_error(concat('" +
            fname + ": delta ', CAST(__d AS STRING), " +
            "' outside Int32 range')) AS INT) END",
          "__d" -> d)
      Seq("Years" -> "YEAR", "Quarters" -> "QUARTER",
        "Months" -> "MONTH", "Weeks" -> "WEEK", "Days" -> "DAY",
        "Hours" -> "HOUR", "Minutes" -> "MINUTE",
        "Seconds" -> "SECOND").foreach { case (suf, unit) =>
        f(s"add$suf")(e => fromSql(
          s"timestampadd($unit, __n, __t)",
          "__t" -> Cast(e.head, TimestampType),
          "__n" -> int32Delta(s"add$suf",
            fromSql("CAST(__x AS BIGINT)", "__x" -> e(1)))))
        f(s"subtract$suf")(e => fromSql(
          s"timestampadd($unit, __n, __t)",
          "__t" -> Cast(e.head, TimestampType),
          "__n" -> int32Delta(s"subtract$suf",
            fromSql("-CAST(__x AS BIGINT)", "__x" -> e(1)))))
      }
      // age(unit, start, end) — COMPLETE elapsed units (CH contract;
      // distinct from dateDiff, which counts boundary crossings).
      // Spark's timestampdiff is the same complete-units reading.
      // Documented edge: engines disagree on whether a month-end
      // CLAMP counts as a complete month (Jan-31 → Feb-28: Spark 0,
      // DuckDB 1) — avoid month ages anchored on the 29th-31st when
      // cross-engine parity matters
      f("age") { e =>
        val unit = e.head match {
          case Literal(u: UTF8String, StringType) =>
            u.toString.toLowerCase(java.util.Locale.ROOT) match {
              case "second" => "SECOND"
              case "minute" => "MINUTE"
              case "hour"   => "HOUR"
              case "day"    => "DAY"
              case "week"   => "WEEK"
              case "month"  => "MONTH"
              case "quarter" => "QUARTER"
              case "year"   => "YEAR"
              case o => throw new IllegalArgumentException(
                s"age: unsupported unit '$o'")
            }
          case other => throw new IllegalArgumentException(
            s"age needs a literal unit string, got $other")
        }
        fromSql(s"timestampdiff($unit, __a, __b)",
          "__a" -> Cast(e(1), TimestampType),
          "__b" -> Cast(e(2), TimestampType))
      }
      f("toYYYYMMDDhhmmss")(e => fromSql(
        "CAST(date_format(__t, 'yyyyMMddHHmmss') AS BIGINT)",
        "__t" -> Cast(e.head, TimestampType)))
      // date_part, not extract(... FROM ...): the dialect's own
      // extract (CH's regex extractor) shadows Spark's spelling
      f("toISOYear")(e => fromSql(
        "CAST(date_part('YEAROFWEEK', __t) AS INT)",
        "__t" -> Cast(e.head, DateType)))
      // fromUnixTimestamp(sec[, fmt]) — 1-arg = the timestamp; 2-arg
      // formats through the same modern %-code table
      f("fromUnixTimestamp") { e =>
        val ts = fromSql("timestamp_seconds(CAST(__s AS BIGINT))",
          "__s" -> e.head)
        if (e.length == 1) ts
        else org.apache.spark.sql.catalyst.expressions.DateFormatClass(
          ts, Literal(translateFmt("fromUnixTimestamp",
            litFmt("fromUnixTimestamp", e(1)))))
      }
      // Snowflake-ID time codecs — the PUBLIC Twitter epoch
      // 1288834974657 ms and the id >> 22 layout (documented wire
      // format, deterministic both ways). snowflakeToDateTime is
      // second-precision like CH; the 64 variant keeps millis
      // note the parens: '+' binds TIGHTER than '>>' in Spark SQL
      f("snowflakeToDateTime")(e => fromSql(
        "CAST(timestamp_seconds(((CAST(__i AS BIGINT) >> 22) " +
          "+ 1288834974657) div 1000) AS TIMESTAMP)", "__i" -> e.head))
      f("snowflakeToDateTime64")(e => fromSql(
        "timestamp_millis((CAST(__i AS BIGINT) >> 22) + 1288834974657)",
        "__i" -> e.head))
      f("dateTimeToSnowflake")(e => fromSql(
        "(unix_millis(CAST(__t AS TIMESTAMP)) - 1288834974657) << 22",
        "__t" -> e.head))
      f("dateTime64ToSnowflake")(e => fromSql(
        "(unix_millis(CAST(__t AS TIMESTAMP)) - 1288834974657) << 22",
        "__t" -> e.head))
      // substringIndex — CH spells MySQL's camel-cased; Spark has the
      // underscored native
      f("substringIndex")(e =>
        org.apache.spark.sql.catalyst.expressions.SubstringIndex(
          e(0), e(1), e(2)))
      // both sides lowered ONCE and all lengths taken in the lowered
      // domain — lowercasing can change length ('İ' → "i̇"), so
      // dividing a lowered-haystack delta by the original needle's
      // length would miscount
      f("countSubstringsCaseInsensitive")(e => fromSql(
        "CAST(CASE WHEN length(__n) = 0 THEN 0 ELSE " +
          "(length(__h) - length(replace(__h, __n, ''))) " +
          "div length(__n) END AS BIGINT)",
        "__h" -> org.apache.spark.sql.catalyst.expressions.Lower(
          e.head),
        "__n" -> org.apache.spark.sql.catalyst.expressions.Lower(
          e(1))))
      // hasSubsequence — needle chars appear in order (not
      // necessarily contiguous): a single left fold over the haystack
      // advancing a matched-prefix counter
      def subseq(h: Expression, n: Expression): Expression = fromSql(
        "aggregate(split(__h, ''), 0, (__acc, __c) -> " +
          "CASE WHEN __acc < length(__n) AND __c = " +
          "substring(__n, __acc + 1, 1) THEN __acc + 1 " +
          "ELSE __acc END) = length(__n)",
        "__h" -> h, "__n" -> n)
      f("hasSubsequence")(e => subseq(e(0), e(1)))
      f("hasSubsequenceCaseInsensitive")(e => subseq(
        org.apache.spark.sql.catalyst.expressions.Lower(e(0)),
        org.apache.spark.sql.catalyst.expressions.Lower(e(1))))
      // randomness spellings refuse like arrayShuffle: CH's rand()
      // is a uniform UInt32 from engine-internal state — mapping it
      // to Spark's rand() (a [0,1) double) would silently change both
      // type and distribution; none is oracle-checkable.
      // generateUUIDv4 stays MAPPED (round 13, Compat.scala:314):
      // Spark's Uuid() draws the same RFC-4122 v4 format, so name,
      // type, and distribution all agree — only the bits differ,
      // which is the point of a UUID
      Seq("rand", "rand32", "rand64", "randCanonical", "randomString",
        "randomPrintableASCII").foreach(n =>
        f(n)(_ => throw new IllegalArgumentException(
          s"$n draws engine-internal randomness (CH returns " +
            "engine-typed uniform values) with no deterministic " +
            "distributed reading; use Spark's native random()/uuid() " +
            "EXPLICITLY where nondeterminism is acceptable (random " +
            "stays resolvable — only the CH spelling is shadowed), " +
            "or a keyed hash (xxhash64) where it is not")))
      f("byteSize")(_ => throw new IllegalArgumentException(
        "byteSize reports CH's internal storage representation size " +
          "— no Spark value has that representation; use " +
          "octet_length for string byte lengths"))
      // format('{} {}', a, b) — CH's fmt-style assembly: auto-indexed
      // {} and positional {n} placeholders, {{ }} brace escapes; the
      // literal pattern compiles to a flat Concat at registration
      f("format") { e =>
        val pat = e.head match {
          case Literal(u: UTF8String, StringType) => u.toString
          case other => throw new IllegalArgumentException(
            s"format needs a literal pattern, got $other")
        }
        val args = e.tail
        val parts =
          scala.collection.mutable.ArrayBuffer.empty[Expression]
        val lit = new StringBuilder
        var i = 0
        var next = 0
        // CH rejects mixing automatic '{}' with positional '{n}'
        // indexing in one pattern — track which mode the pattern
        // committed to and refuse the other
        var autoMode: Option[Boolean] = None
        def flush(): Unit = if (lit.nonEmpty) {
          parts += Literal(lit.toString)
          lit.clear()
        }
        while (i < pat.length) {
          val c = pat.charAt(i)
          if (c == '{' && i + 1 < pat.length &&
              pat.charAt(i + 1) == '{') { lit += '{'; i += 2 }
          else if (c == '}' && i + 1 < pat.length &&
              pat.charAt(i + 1) == '}') { lit += '}'; i += 2 }
          else if (c == '{') {
            val end = pat.indexOf('}', i)
            require(end >= 0, "format: unbalanced '{' in pattern")
            val body = pat.substring(i + 1, end)
            val auto = body.isEmpty
            require(autoMode.forall(_ == auto),
              "format: cannot mix automatic '{}' and positional " +
                "'{n}' placeholders in one pattern")
            autoMode = Some(auto)
            val idx = if (auto) { val k = next; next += 1; k }
              else try body.toInt catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"format: bad placeholder '{$body}' — only '{}' " +
                      "or a nonnegative integer index is supported")
              }
            require(idx >= 0 && idx < args.length,
              s"format: argument index $idx out of range for " +
                s"${args.length} arguments")
            flush()
            parts += Cast(args(idx), StringType)
            i = end + 1
          } else { lit += c; i += 1 }
        }
        flush()
        org.apache.spark.sql.catalyst.expressions.Concat(parts.toSeq)
      }

      // ---- round-16 misc tier: readable decimal sizes, sub-second
      // toStartOf*, ISO-year start, edit distances, byte hamming,
      // power/bit helpers — each DuckDB-closed ----
      f("formatReadableDecimalSize")(e => graft.functions
        .FormatReadableDecimalSize(Cast(e.head, DoubleType)))
      f("toStartOfSecond")(e => fromSql(
        "date_trunc('SECOND', __t)",
        "__t" -> Cast(e.head, TimestampType)))
      // floor (pmod), not truncate-toward-zero: pre-1970 sub-ms
      // values round DOWN like DuckDB's date_trunc('milliseconds')
      f("toStartOfMillisecond")(e => fromSql(
        "timestamp_micros(unix_micros(CAST(__t AS TIMESTAMP)) - " +
          "pmod(unix_micros(CAST(__t AS TIMESTAMP)), 1000))",
        "__t" -> e.head))
      // Spark timestamps are micro-precision, so micro/nano starts
      // are the identity at this engine's resolution (documented —
      // CH DateTime64(9) carries nanos this engine never stores)
      f("toStartOfMicrosecond")(e => Cast(e.head, TimestampType))
      f("toStartOfNanosecond")(e => Cast(e.head, TimestampType))
      // first day of the ISO-8601 year: the Monday of the week
      // containing Jan 4 of the ISO year (the textbook closed form)
      f("toStartOfISOYear")(e => fromSql(
        "CAST(date_trunc('WEEK', make_date(" +
          "CAST(date_part('YEAROFWEEK', __d) AS INT), 1, 4)) AS DATE)",
        "__d" -> Cast(e.head, DateType)))
      // editDistance/levenshteinDistance registered since round 13
      // (INT-typed, Compat.scala:281) — only the UTF8-suffixed alias
      // is new; re-registering the base names here with a different
      // type broke the round-13 golden (found by the suite)
      f("editDistanceUTF8")(e =>
        new org.apache.spark.sql.catalyst.expressions.Levenshtein(
          e(0), e(1)))
      f("damerauLevenshteinDistance")(e =>
        graft.functions.DamerauLevenshtein(e(0), e(1)))
      // byteHammingDistance: mismatches over the shared prefix plus
      // the length difference (CH's unequal-length contract); split
      // on '' is per-character — identical to per-byte for the ASCII
      // scope the gates hash (documented)
      f("byteHammingDistance")(e => fromSql(
        "CAST(size(filter(zip_with(split(__a, ''), split(__b, ''), " +
          "(x, y) -> NOT (x <=> y)), v -> v)) AS BIGINT)",
        "__a" -> e.head, "__b" -> e(1)))
      f("exp2")(e => fromSql("power(2.0D, CAST(__x AS DOUBLE))",
        "__x" -> e.head))
      f("exp10")(e => fromSql("power(10.0D, CAST(__x AS DOUBLE))",
        "__x" -> e.head))
      // integer powers: shift for 2^n (exact to 2^62), round(pow)
      // for 10^n (doubles represent 10^k exactly for k <= 22, and
      // Long caps at 9.2e18 anyway)
      // shiftleft masks its count mod 64 (intExp2(64) would silently
      // read 1, intExp2(63) negative) — out-of-range exponents
      // refuse loudly like the add*/subtract* overflow guard
      f("intExp2")(e => fromSql(
        "CASE WHEN __n IS NULL THEN CAST(NULL AS BIGINT) " +
          "WHEN CAST(__n AS BIGINT) BETWEEN 0 AND 62 THEN " +
          "shiftleft(CAST(1 AS BIGINT), CAST(__n AS INT)) " +
          "ELSE CAST(raise_error(concat('intExp2: exponent ', " +
          "CAST(__n AS STRING), ' outside the signed-Int64 range " +
          "0..62')) AS BIGINT) END",
        "__n" -> e.head))
      f("intExp10")(e => fromSql(
        "CAST(round(power(10.0D, CAST(__n AS INT))) AS BIGINT)",
        "__n" -> e.head))
      f("bitCount")(e => fromSql(
        "CAST(bit_count(CAST(__x AS BIGINT)) AS INT)",
        "__x" -> e.head))
      // cryptographic digests: CH returns the BINARY digest
      // (FixedString) and users wrap in hex() for display — mapping
      // to unhex(<spark hex digest>) keeps that composition exact
      // (hex() then uppercases, matching CH). Registered under ch*
      // INTERNAL names that translateCh0 renames the case-sensitive
      // CH spellings to: the session registry is case-INsensitive,
      // so registering "MD5" directly would shadow Spark's native
      // md5()/sha1()/crc32() for every plain-session query (the
      // sampling rewrite and the qm_ gates use them), and a fromSql
      // body calling md5() would even recurse into itself (analyzer
      // max-iterations loop — found the hard way)
      def unhexOf(x: Expression): Expression =
        org.apache.spark.sql.catalyst.expressions.Unhex(x)
      def binOf(x: Expression): Expression =
        Cast(x, org.apache.spark.sql.types.BinaryType)
      f("chMD5")(e => unhexOf(
        org.apache.spark.sql.catalyst.expressions.Md5(binOf(e.head))))
      f("chSHA1")(e => unhexOf(
        org.apache.spark.sql.catalyst.expressions.Sha1(binOf(e.head))))
      Seq(224, 256, 512).foreach(bits =>
        f(s"chSHA$bits")(e => unhexOf(
          org.apache.spark.sql.catalyst.expressions.Sha2(binOf(e.head),
            Literal(bits)))))
      // CRC32: the standard zlib polynomial on both sides
      f("chCRC32")(e =>
        org.apache.spark.sql.catalyst.expressions.Crc32(binOf(e.head)))
      // special functions: house numerics (Lanczos lnGamma,
      // incomplete-gamma erfc) — ~1e-14, far inside the 6dp oracle
      // compare against DuckDB's libm
      Seq("lgamma", "tgamma", "erf", "erfc").foreach(n =>
        f(n)(e => graft.functions.MathSpecial(
          Cast(e.head, DoubleType), n)))
      f("sigmoid")(e => fromSql(
        "1.0D / (1.0D + exp(-CAST(__x AS DOUBLE)))", "__x" -> e.head))
      f("byteSwap")(e => graft.functions.ByteSwap64(
        Cast(e.head, LongType)))
      f("reverseUTF8")(e =>
        org.apache.spark.sql.catalyst.expressions.Reverse(e.head))
      // arraySymmetricDifference: distinct elements NOT present in
      // every source array; CH leaves the order unspecified, this
      // engine pins ascending sort (a legal refinement, deterministic)
      f("arraySymmetricDifference")(e => fromSql(
        "sort_array(array_distinct(concat(" +
          "array_except(__a, __b), array_except(__b, __a))))",
        "__a" -> e.head, "__b" -> e(1)))
      // lagInFrame/leadInFrame need NO registry entry: the
      // rewriteRunning pre-pass renames them to lag/lead textually
      // (they never reach this registry) — the q_compat_r16win gate
      // exercises that path
      f("countMatchesCaseInsensitive")(e =>
        org.apache.spark.sql.catalyst.expressions.RegExpCount(e.head,
          org.apache.spark.sql.catalyst.expressions.Concat(Seq(
            Literal("(?i)"), e(1)))))
      // assume-sorted is an execution HINT in CH; same contract
      f("indexOfAssumeSorted")(e => ArrayPosition(e(0), e(1)))
      // regexpExtract(h, re[, idx]) — CH's MySQL-compatible spelling;
      // index defaults to 1 (first group) like CH's REGEXP_EXTRACT
      f("regexpExtract")(e =>
        org.apache.spark.sql.catalyst.expressions.RegExpExtract(
          e.head, e(1), if (e.length >= 3) e(2) else Literal(1)))
      // extractGroups(h, 're'): one array of the FIRST match's
      // capture groups — the group count comes from compiling the
      // literal pattern at registration
      f("extractGroups") { e =>
        val pat = e(1) match {
          case Literal(u: UTF8String, StringType) => u.toString
          case other => throw new IllegalArgumentException(
            s"extractGroups needs a literal pattern, got $other")
        }
        val n = java.util.regex.Pattern.compile(pat)
          .matcher("").groupCount()
        require(n >= 1, "extractGroups needs at least one group")
        org.apache.spark.sql.catalyst.expressions.CreateArray(
          (1 to n).map(i =>
            org.apache.spark.sql.catalyst.expressions.RegExpExtract(
              e.head, e(1), Literal(i))))
      }
      // UUID <-> 16-byte binary codecs (the straight big-endian
      // layout; CH's variant=2 byte-shuffle is refused, not faked)
      f("UUIDStringToNum") { e =>
        require(e.length == 1 || (e(1) match {
          case Literal(1, _) => true
          case _ => false
        }), "UUIDStringToNum: only variant 1 (big-endian) is " +
          "supported; variant 2's halfword shuffle is CH-internal")
        // malformed input errors LOUDLY like CH, never a silent NULL
        // (unhex under non-ANSI would swallow bad hex)
        fromSql(
          "CASE WHEN __s IS NULL THEN CAST(NULL AS BINARY) " +
            "WHEN __s rlike '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-" +
            "[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$' " +
            "THEN unhex(replace(__s, '-', '')) " +
            "ELSE CAST(raise_error(concat('UUIDStringToNum: not a " +
            "UUID: ', __s)) AS BINARY) END", "__s" -> e.head)
      }
      f("UUIDNumToString") { e =>
        require(e.length == 1 || (e(1) match {
          case Literal(1, _) => true
          case _ => false
        }), "UUIDNumToString: only variant 1 (big-endian) is " +
          "supported; variant 2's halfword shuffle is CH-internal")
        // a non-16-byte input would silently produce a malformed
        // UUID from the fixed-position substrings — refuse instead
        fromSql(
          "CASE WHEN __b IS NULL THEN CAST(NULL AS STRING) " +
            "WHEN length(__b) = 16 THEN " +
            "lower(concat(substring(hex(__b), 1, 8), '-', " +
            "substring(hex(__b), 9, 4), '-', " +
            "substring(hex(__b), 13, 4), '-', " +
            "substring(hex(__b), 17, 4), '-', " +
            "substring(hex(__b), 21, 12))) " +
            "ELSE raise_error(concat('UUIDNumToString: need 16 " +
            "bytes, got ', CAST(length(__b) AS STRING))) END",
          "__b" -> e.head)
      }
      // same zx/zy field names as arrayZip, but ZipWith's null
      // padding to the LONGER length (CH's arrayZip errors on
      // unequal; Unaligned pads — ZipWith natively does the latter)
      f("arrayZipUnaligned") { e =>
        def zv(n: String) = org.apache.spark.sql.catalyst.expressions
          .UnresolvedNamedLambdaVariable(Seq(n))
        org.apache.spark.sql.catalyst.expressions.ZipWith(e(0), e(1),
          org.apache.spark.sql.catalyst.expressions.LambdaFunction(
            org.apache.spark.sql.catalyst.expressions.CreateStruct(
              Seq(zv("zx"), zv("zy"))), Seq(zv("zx"), zv("zy"))))
      }
      // pointInPolygon — textbook even-odd ray casting, taken in the
      // 4-arg coordinate-array spelling (px, py, xs, ys): CH's
      // tuple-literal signature has no Spark-SQL parse, so the
      // decomposed form is this engine's documented adaptation.
      // Boundary points are UNPINNED (even-odd, like CH's default
      // non-strict mode, decides them by crossing parity — keep test
      // points off edges). The divide-by-zero branch for horizontal
      // edges is masked by the crossing precondition on BOTH engines
      // (false AND x = false whatever x/0 yields), so Spark's and
      // DuckDB's differing div0 conventions never surface.
      f("pointInPolygon")(e => fromSql(
        "CAST(CASE WHEN pmod(size(filter(" +
          "sequence(1, size(__xs)), i -> " +
          "((element_at(__ys, i) > __py) != " +
          "(element_at(__ys, i % size(__xs) + 1) > __py)) AND " +
          "__px < (element_at(__xs, i % size(__xs) + 1) - " +
          "element_at(__xs, i)) * (__py - element_at(__ys, i)) / " +
          "(element_at(__ys, i % size(__xs) + 1) - " +
          "element_at(__ys, i)) + element_at(__xs, i))), 2) = 1 " +
          "THEN 1 ELSE 0 END AS INT)",
        "__px" -> Cast(e.head, DoubleType),
        "__py" -> Cast(e(1), DoubleType),
        "__xs" -> e(2), "__ys" -> e(3)))
      // javaHash: Java String.hashCode — the 31-polynomial fold with
      // Int32 wraparound, done in BIGINT mod 2^32 then sign-mapped
      // (ANSI-safe: no 32-bit overflow ever evaluated). Character
      // codes via ascii(): exact for the ASCII/BMP scope the gates
      // hash. hiveHash is the same fold with the sign bit zeroed
      // (CH's documented definition).
      def javaFold(s: Expression): Expression = fromSql(
        "aggregate(split(__s, ''), CAST(0 AS BIGINT), " +
          "(acc, c) -> pmod(acc * 31 + ascii(c), 4294967296L))",
        "__s" -> s)
      f("javaHash")(e => fromSql(
        "CAST(pmod(__h + 2147483648L, 4294967296L) - 2147483648L " +
          "AS INT)", "__h" -> javaFold(e.head)))
      f("hiveHash")(e => fromSql(
        "CAST(pmod(__h, 2147483648L) AS INT)",
        "__h" -> javaFold(e.head)))
      // arrayDotProduct in DOUBLE (CH type-promotes per input; the
      // double reading is this engine's documented contract)
      f("arrayDotProduct")(e => fromSql(
        "aggregate(zip_with(__a, __b, (x, y) -> " +
          "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)",
        "__a" -> e.head, "__b" -> e(1)))
      // arrayCumSumNonNegative: out[i] = max(0, out[i-1] + a[i]) —
      // the Lindley recursion, emitted in its CLOSED form
      // out[i] = S_i - min(0, min_{j<=i} S_j) over prefix sums S
      // (the queueing-theory identity; a struct-accumulator fold
      // would be O(n) but churns the analyzer's nullability casts).
      // The prefix-sum ARRAY is materialized once (__ps below) and
      // indexed from both sites — O(n²) total, not the O(n³) a
      // per-i recomputation of every S_j would cost. BIGINT domain;
      // empty arrays guard the descending-sequence trap (Spark's
      // sequence(1, 0) = [1, 0], not [])
      f("arrayCumSumNonNegative") { e =>
        val prefix = fromSql(
          "transform(sequence(1, size(__a)), k -> " +
            "aggregate(slice(__a, 1, k), CAST(0 AS BIGINT), " +
            "(acc, v) -> acc + v))", "__a" -> e.head)
        fromSql(
          "CASE WHEN size(__a) = 0 " +
            "THEN CAST(array() AS ARRAY<BIGINT>) " +
            "ELSE transform(sequence(1, size(__a)), i -> " +
            "element_at(__ps, i) - least(CAST(0 AS BIGINT), " +
            "array_min(slice(__ps, 1, i)))) END",
          "__a" -> e.head, "__ps" -> prefix)
      }

      // UTF8-suffixed position spellings: Spark strings are already
      // character-addressed, so these are exact aliases
      f("positionUTF8")(e => new StringLocate(e(1), e(0)))
      f("positionCaseInsensitiveUTF8")(e => new StringLocate(
        org.apache.spark.sql.catalyst.expressions.Lower(e(1)),
        org.apache.spark.sql.catalyst.expressions.Lower(e(0))))

      // 64-bit epoch codecs (DateTime64 interop): to/from milli,
      // micro, nano — nano carries micro precision (Spark timestamps
      // are micros; the *1000 scaling keeps the CH wire contract)
      f("toUnixTimestamp64Milli")(e => fromSql(
        "unix_millis(CAST(__t AS TIMESTAMP))", "__t" -> e.head))
      f("toUnixTimestamp64Micro")(e => fromSql(
        "unix_micros(CAST(__t AS TIMESTAMP))", "__t" -> e.head))
      f("toUnixTimestamp64Nano")(e => fromSql(
        "unix_micros(CAST(__t AS TIMESTAMP)) * CAST(1000 AS BIGINT)",
        "__t" -> e.head))
      f("fromUnixTimestamp64Milli")(e => fromSql(
        "timestamp_millis(CAST(__v AS BIGINT))", "__v" -> e.head))
      f("fromUnixTimestamp64Micro")(e => fromSql(
        "timestamp_micros(CAST(__v AS BIGINT))", "__v" -> e.head))
      f("fromUnixTimestamp64Nano")(e => fromSql(
        "timestamp_micros(CAST(__v AS BIGINT) div 1000)",
        "__v" -> e.head))
      // days since 0000-01-01 (proleptic Gregorian; year 0 is a leap
      // year, 366 days, so day N = 0001-01-01 + (N - 366))
      f("fromDaysSinceYearZero")(e => fromSql(
        "date_add(DATE'0001-01-01', CAST(__n AS INT) - 366)",
        "__n" -> e.head))
      f("toDaysSinceYearZero")(e => fromSql(
        "datediff(CAST(__d AS DATE), DATE'0001-01-01') + 366",
        "__d" -> e.head))

      // multiMatchAny / multiMatchAnyIndex — regex-valued multiSearch
      // (CH returns an unspecified matching index; the LOWEST index
      // is this engine's deterministic reading)
      f("multiMatchAny")(e => fromSql(
        "exists(__p, __re -> __h rlike __re)",
        "__h" -> e.head, "__p" -> e(1)))
      f("multiMatchAnyIndex")(e => fromSql(
        "CAST(coalesce(array_min(filter(zip_with(__p, " +
          "sequence(1, size(__p)), (__re, __i) -> " +
          "CASE WHEN __h rlike __re THEN __i ELSE NULL END), " +
          "__x -> __x IS NOT NULL)), 0) AS BIGINT)",
        "__h" -> e.head, "__p" -> e(1)))

      // tupleHammingDistance — positionwise inequality count; needs
      // the field lists, so the supported spelling is two tuple
      // literals (the ngramSimHash comparison idiom CH documents)
      f("tupleHammingDistance") { e =>
        import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
        (e(0), e(1)) match {
          case (a: CreateNamedStruct, b: CreateNamedStruct)
              if a.valExprs.size == b.valExprs.size =>
            a.valExprs.zip(b.valExprs).map { case (x, y) =>
              If(EqualTo(x, y), Literal(0), Literal(1))
                : Expression
            }.reduce((x, y) => org.apache.spark.sql.catalyst
              .expressions.Add(x, y))
          case _ => throw new IllegalArgumentException(
            "tupleHammingDistance takes two tuple literals of equal " +
              "arity, e.g. tupleHammingDistance((a, b), (c, d))")
        }
      }

      // URL family round-out — all on the native-ParseUrl + string
      // composition the round-6 family established (empty on miss)
      def urlP(u: Expression, part: String): Expression =
        org.apache.spark.sql.catalyst.expressions.Coalesce(
          Seq(org.apache.spark.sql.catalyst.expressions.ParseUrl(
          Seq(u, Literal(UTF8String.fromString(part), StringType)),
          failOnError = false), Literal("")))
      f("pathFull")(e => fromSql(
        "concat(__f, CASE WHEN __r != '' THEN concat('#', __r) " +
          "ELSE '' END)",
        "__f" -> urlP(e.head, "FILE"), "__r" -> urlP(e.head, "REF")))
      f("queryStringAndFragment")(e => fromSql(
        "concat(__q, CASE WHEN __r != '' THEN concat('#', __r) " +
          "ELSE '' END)",
        "__q" -> urlP(e.head, "QUERY"), "__r" -> urlP(e.head, "REF")))
      f("cutQueryString")(e => fromSql(
        "regexp_replace(__u, '\\\\?[^#]*', '')", "__u" -> e.head))
      f("cutWWW")(e => fromSql(
        "regexp_replace(__u, '^((?:[A-Za-z]+://)?)(www\\\\.)', '$1')",
        "__u" -> e.head))
      f("netloc")(e => urlP(e.head, "AUTHORITY"))
      f("port") { e =>
        val dflt: Expression =
          if (e.length >= 2) Cast(e(1), IntegerType) else Literal(0)
        fromSql(
          "CAST(coalesce(nullif(regexp_extract(__a, ':(\\\\d+)$', 1)," +
            " ''), CAST(__d AS STRING)) AS INT)",
          "__a" -> urlP(e.head, "AUTHORITY"), "__d" -> dflt)
      }
      // firstSignificantSubdomain — the label left of the effective
      // TLD; effective TLD = the last label, or the last TWO when the
      // second-to-last is a common registry label (CH consults the
      // public-suffix list; this is the documented small-list
      // approximation covering the overwhelmingly common cases)
      f("firstSignificantSubdomain")(e => fromSql(
        "CASE WHEN size(__p) < 2 THEN '' " +
          "WHEN size(__p) >= 3 AND __p[size(__p) - 2] IN ('com', " +
          "'net', 'org', 'co', 'biz', 'gov', 'edu', 'mil', 'info', " +
          "'ac') THEN __p[size(__p) - 3] " +
          "ELSE __p[size(__p) - 2] END",
        "__p" -> fromSql("split(__h, '\\\\.')",
          "__h" -> urlP(e.head, "HOST"))))
      // URL/path hierarchies — the funnel-path staples: increasing
      // prefixes cut after each '/' (inclusive), before '?', plus the
      // full URL when it does not end at a cut
      f("URLHierarchy")(e => fromSql(
        "CASE WHEN __rest = '' THEN array_repeat('', 0) ELSE " +
          "transform(array_sort(array_distinct(concat(" +
          "transform(filter(sequence(1, length(__rest)), " +
          "__i -> substring(__rest, __i, 1) = '/'), __p2 -> __p2), " +
          "transform(filter(sequence(1, length(__rest)), " +
          "__i2 -> substring(__rest, __i2, 1) = '?'), " +
          "__p3 -> __p3 - 1), array(length(__rest))))), " +
          "__c -> concat(__base, substring(__rest, 1, __c))) END",
        "__base" -> fromSql(
          "concat(__pr, CASE WHEN __pr != '' THEN '://' ELSE '' END," +
            " __au)",
          "__pr" -> urlP(e.head, "PROTOCOL"),
          "__au" -> urlP(e.head, "AUTHORITY")),
        "__rest" -> fromSql(
          "concat(__f, CASE WHEN __r != '' THEN concat('#', __r) " +
            "ELSE '' END)",
          "__f" -> urlP(e.head, "FILE"),
          "__r" -> urlP(e.head, "REF"))))
      // CH's path variant EXCLUDES the bare root '/'
      f("URLPathHierarchy")(e => fromSql(
        "CASE WHEN __rest = '' THEN array_repeat('', 0) ELSE " +
          "filter(transform(array_sort(array_distinct(concat(" +
          "transform(filter(sequence(1, length(__rest)), " +
          "__i -> substring(__rest, __i, 1) = '/'), __p2 -> __p2), " +
          "transform(filter(sequence(1, length(__rest)), " +
          "__i2 -> substring(__rest, __i2, 1) = '?'), " +
          "__p3 -> __p3 - 1), array(length(__rest))))), " +
          "__c -> substring(__rest, 1, __c)), __h2 -> __h2 != '/') END",
        "__rest" -> fromSql(
          "concat(__f, CASE WHEN __r != '' THEN concat('#', __r) " +
            "ELSE '' END)",
          "__f" -> urlP(e.head, "FILE"),
          "__r" -> urlP(e.head, "REF"))))
      // percent-encoding (RFC-3986, CH's contract): url_encode is
      // form-encoding, so '+' round-trips through the explicit %
      // spellings; decode leaves literal '+' alone like CH
      f("encodeURLComponent")(e => fromSql(
        "replace(url_encode(__s), '+', '%20')", "__s" -> e.head))
      f("decodeURLComponent")(e => fromSql(
        "url_decode(replace(__s, '+', '%2B'))", "__s" -> e.head))
      f("tryBase64Decode")(e => fromSql(
        "CASE WHEN __s rlike '^[A-Za-z0-9+/\\\\r\\\\n]*={0,2}$' " +
          "AND length(replace(replace(__s, chr(13), ''), chr(10), " +
          "'')) % 4 = 0 THEN CAST(unbase64(__s) AS STRING) " +
          "ELSE '' END", "__s" -> e.head))
      // hex/unhex/bin — CH's byte-padded spellings: hex is uppercase
      // in both engines (hex itself is Spark-native and needs no
      // override); unhex returns the BYTES as a string per CH; bin
      // pads to the minimal byte width. The inner expressions are
      // built as Catalyst classes, NOT parsed text — a registered
      // name inside its own fromSql body resolves back to this
      // builder and loops the analyzer forever (found the hard way).
      f("unhex")(e => Cast(
        org.apache.spark.sql.catalyst.expressions.Unhex(e.head),
        StringType))
      f("bin")(e => fromSql(
        "lpad(__b, CAST(ceil(length(__b) / 8.0) * 8 AS INT), '0')",
        "__b" -> org.apache.spark.sql.catalyst.expressions.Bin(e.head)))
      // IPv4 validation / CIDR arithmetic on the existing
      // LongToIp/IpToLong codecs; IPv6 range math refuses honestly
      f("isIPv4String")(e => fromSql(
        "__s rlike '^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])" +
          "\\\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$'",
        "__s" -> e.head))
      // real grammar walk (RFC 4291) — the old regex accepted
      // 'fe80:::1' and rejected '::ffff:1.2.3.4'
      f("isIPv6String")(e =>
        graft.functions.IsIpv6String(Cast(e.head, StringType)))
      f("IPv4CIDRToRange") { e =>
        val n = IpToLong(e.head)
        fromSql(
          "named_struct('lo', __lo, 'hi', __hi)",
          "__lo" -> LongToIp(fromSql(
            "CAST(__n div CAST(pow(2, 32 - __b) AS BIGINT) * " +
              "CAST(pow(2, 32 - __b) AS BIGINT) AS BIGINT)",
            "__n" -> n, "__b" -> Cast(e(1), IntegerType))),
          "__hi" -> LongToIp(fromSql(
            "CAST(__n div CAST(pow(2, 32 - __b) AS BIGINT) * " +
              "CAST(pow(2, 32 - __b) AS BIGINT) + " +
              "CAST(pow(2, 32 - __b) AS BIGINT) - 1 AS BIGINT)",
            "__n" -> n, "__b" -> Cast(e(1), IntegerType))))
      }
      f("isIPAddressInRange") { e =>
        e(1) match {
          case Literal(u: UTF8String, StringType)
              if !u.toString.contains(":") =>
            val Array(base, bits) = u.toString.split("/")
            val width = 32 - bits.toInt
            fromSql(
              s"__a div CAST(pow(2, $width) AS BIGINT) = " +
                s"__b div CAST(pow(2, $width) AS BIGINT)",
              "__a" -> IpToLong(e.head),
              "__b" -> IpToLong(Literal(base)))
          case Literal(_, StringType) =>
            throw new IllegalArgumentException(
              "isIPAddressInRange: IPv6 CIDRs are not supported — " +
                "use the IPv6 prefix trie (qf_lpm machinery) for v6 " +
                "classification")
          case other => throw new IllegalArgumentException(
            s"isIPAddressInRange needs a literal CIDR, got $other")
        }
      }

      // CH's fingerprint spellings hash with CH-PRIVATE bit recipes
      // (cityhash-seeded shingle mixing) — a same-name different-bits
      // implementation would silently break any cross-system
      // comparison, so they refuse with the pointer to this engine's
      // own fingerprint operators (the cityHash64 precedent)
      Seq("ngramSimHash", "ngramSimHashCaseInsensitive",
        "wordShingleSimHash", "ngramMinHash", "wordShingleMinHash")
        .foreach(n => f(n)(_ => throw new IllegalArgumentException(
          s"$n produces ClickHouse-private fingerprint bits that no " +
            "other engine can reproduce; use this engine's simhash/" +
            "minhash document operators (qt_simhash / qt_minhash_lsh " +
            "machinery) whose recipes are documented and stable")))
      f("arrayRandomSample")(_ => throw new IllegalArgumentException(
        "arrayRandomSample draws with engine-internal randomness; " +
          "sample deterministically (e.g. filter on xxhash64(x) % k) " +
          "instead"))

      // fuzzy-match similarity pair (entity-dedup staples); textbook
      // Jaro / Jaro-Winkler, see functions/JaroSimilarity.scala
      f("jaroSimilarity")(e =>
        graft.functions.JaroSimilarity(e(0), e(1), winkler = false))
      f("jaroWinklerSimilarity")(e =>
        graft.functions.JaroSimilarity(e(0), e(1), winkler = true))

      // arrayShingles(arr, l) — consecutive windows of length l (the
      // array-side n-gram primitive); shorter arrays → empty
      f("arrayShingles")(e => fromSql(
        "CASE WHEN size(__a) < __l OR __l < 1 " +
          "THEN slice(array(slice(__a, 1, 0)), 1, 0) " +
          "ELSE transform(sequence(1, size(__a) - __l + 1), " +
          "__i -> slice(__a, __i, __l)) END",
        "__a" -> e.head, "__l" -> Cast(e(1), IntegerType)))

      // splitter round-out: regexp split (literal pattern, CH's
      // empty-pattern = per-character contract matches Spark's),
      // whitespace tokens, alphabetic runs
      f("splitByRegexp") { e =>
        val re = e.head match {
          case Literal(u: UTF8String, StringType) => u.toString
          case other => throw new IllegalArgumentException(
            s"splitByRegexp needs a literal pattern, got $other")
        }
        capSubstrings(StringSplit(e(1), Literal(re), Literal(-1)),
          e, 2)
      }
      f("splitByWhitespace")(e => capSubstrings(fromSql(
        "filter(split(__s, '\\\\s+'), __t -> __t != '')",
        "__s" -> e.head), e, 1))
      // splitByNonAlpha: CH separates on runs of ASCII whitespace and
      // ASCII punctuation ONLY (byte-wise isWhitespace/isPunctuation)
      // — non-ASCII bytes and ASCII control characters stay INSIDE
      // tokens ('héllo' is one token, not two). The class below is
      // exactly \s plus the four printable-punctuation ranges
      // 0x21-2F, 0x3A-40, 0x5B-60, 0x7B-7E
      f("splitByNonAlpha")(e => capSubstrings(fromSql(
        "filter(split(__s, '[\\\\s!-/:-@\\\\[-`{-~]+'), " +
          "__t -> __t != '')",
        "__s" -> e.head), e, 1))
      f("alphaTokens")(e => capSubstrings(fromSql(
        "regexp_extract_all(__s, '[A-Za-z]+', 0)", "__s" -> e.head),
        e, 1))

      // ngramDistance / ngramSearch — the textbook 4-gram MULTISET
      // forms (documented contract; CH's implementation hashes grams
      // but computes the same symmetric-difference ratio):
      //   distance(a, b) = 1 − 2·|A ∩ B| / (|A| + |B|)
      //   search(h, n)   = |N ∩ H| / |N|   (asymmetric, 1 = contained)
      // with ∩ the multiset min. Empty gram sets: distance 0 when
      // both empty / 1 when one is; search 0 on an empty needle.
      def grams(s: String) =
        s"transform(sequence(1, greatest(length($s) - 3, 0)), " +
          s"__gi -> substring($s, __gi, 4))"
      def common(a: String, b: String) =
        s"aggregate(array_distinct($a), CAST(0 AS BIGINT), " +
          s"(__cacc, __g) -> __cacc + least(" +
          s"size(filter($a, __t1 -> __t1 = __g)), " +
          s"size(filter($b, __t2 -> __t2 = __g))))"
      f("ngramDistance")(e => fromSql(
        s"CASE WHEN length(__a) < 4 AND length(__b) < 4 THEN " +
          s"CASE WHEN length(__a) = length(__b) AND __a = __b " +
          s"THEN CAST(0.0 AS DOUBLE) WHEN length(__a) < 4 AND " +
          s"length(__b) < 4 AND length(__a) + length(__b) > 0 " +
          s"THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END " +
          s"ELSE 1.0 - 2.0 * ${common(grams("__a"), grams("__b"))} / " +
          s"(size(${grams("__a")}) + size(${grams("__b")})) END",
        "__a" -> e.head, "__b" -> e(1)))
      f("ngramSearch")(e => fromSql(
        s"CASE WHEN length(__n) < 4 THEN CAST(0.0 AS DOUBLE) ELSE " +
          s"CAST(${common(grams("__n"), grams("__h"))} AS DOUBLE) / " +
          s"size(${grams("__n")}) END",
        "__h" -> e.head, "__n" -> e(1)))

      // extractAllGroups{Horizontal,Vertical} — literal pattern (the
      // group count comes from Pattern.groupCount); Horizontal = one
      // array per GROUP across matches, Vertical = one array per
      // MATCH across groups
      def groupArrays(s: Expression, reLit: Expression)
          : (Int, Seq[Expression]) = {
        val re = reLit match {
          case Literal(u: UTF8String, StringType) => u.toString
          case other => throw new IllegalArgumentException(
            "extractAllGroups* needs a literal pattern, got " + other)
        }
        val n = java.util.regex.Pattern.compile(re).matcher("").groupCount()
        require(n >= 1, "extractAllGroups*: the pattern has no groups")
        (n, (1 to n).map(g =>
          org.apache.spark.sql.catalyst.expressions
            .RegExpExtractAll(s, Literal(re), Literal(g))))
      }
      f("extractAllGroupsHorizontal") { e =>
        val (_, arrays) = groupArrays(e.head, e(1))
        org.apache.spark.sql.catalyst.expressions.CreateArray(arrays)
      }
      f("extractAllGroupsVertical") { e =>
        val (_, arrays) = groupArrays(e.head, e(1))
        fromSql(
          "CASE WHEN size(__g1) = 0 " +
            "THEN array_repeat(array_repeat('', 0), 0) " +
            "ELSE transform(sequence(1, size(__g1)), " +
            "__i -> transform(__all, __ga -> __ga[__i - 1])) END",
          "__g1" -> arrays.head,
          "__all" -> org.apache.spark.sql.catalyst.expressions
            .CreateArray(arrays))
      }

      // arrayReduceInRanges('agg', ranges, arr) — the per-(index, len)
      // tuple windowed variant of arrayReduce, delegated to the same
      // registered array builders by NAME inside the transform lambda
      f("arrayReduceInRanges") { e =>
        val fname = e.head match {
          case Literal(u: UTF8String, StringType) => u.toString
          case other => throw new IllegalArgumentException(
            s"arrayReduceInRanges needs a literal aggregate name, " +
              s"got $other")
        }
        val inner = fname match {
          case "sum"     => "arraySum(__sl)"
          case "min"     => "arrayMin(__sl)"
          case "max"     => "arrayMax(__sl)"
          case "avg"     => "arrayAvg(__sl)"
          case "product" => "arrayProduct(__sl)"
          case "uniq" | "uniqExact" => "arrayUniq(__sl)"
          case "count"   => "CAST(size(__sl) AS BIGINT)"
          case "any"     => "element_at(__sl, 1)"
          case "anyLast" => "element_at(__sl, -1)"
          case other => throw new IllegalArgumentException(
            s"arrayReduceInRanges('$other') is not supported; " +
              "supported: any, anyLast, avg, count, max, min, " +
              "product, sum, uniq, uniqExact")
        }
        fromSql(
          ("transform(__r, __rr -> " + inner + ")")
            .replace("__sl", "slice(__arr, __rr.col1, __rr.col2)"),
          "__r" -> e(1), "__arr" -> e(2))
      }

      // groupBitmapAnd/Or/Xor — set folds over per-row integral
      // arrays (the portable analog of CH's bitmap-state columns),
      // result = fold cardinality; see BitmapFoldAgg
      graft.functions.BitmapFoldAgg.Kinds.foreach(k =>
        f(s"groupBitmap$k")(e => graft.functions.BitmapFoldAgg(
          e.head, k).toAggregateExpression()))

      // sumWithOverflow asks for MODULAR wraparound on overflow — a
      // silently different answer from sum's widened/checked result;
      // refuse with the pointer instead of shipping either surprise
      f("sumWithOverflow")(_ => throw new IllegalArgumentException(
        "sumWithOverflow wraps modulo the input width on overflow; " +
          "use sum (widened, exact) or sum(CAST(x AS BIGINT)) and " +
          "handle overflow policy explicitly"))

      // arrayAUC(scores, labels) — ROC AUC via the average-rank
      // closed form (ties share the mid-rank, labels > 0 positive;
      // degenerate single-class arrays → NaN, CH's reading)
      f("arrayAUC")(e => fromSql(
        "CASE WHEN size(filter(__l, __x -> __x > 0)) = 0 OR " +
          "size(filter(__l, __x2 -> NOT (__x2 > 0))) = 0 " +
          "THEN CAST('NaN' AS DOUBLE) ELSE " +
          "(aggregate(zip_with(__s, __l, (__sc, __lb) -> " +
          "named_struct('sc', CAST(__sc AS DOUBLE), 'lb', __lb)), " +
          "CAST(0.0 AS DOUBLE), (__acc, __p) -> __acc + " +
          "CASE WHEN __p.lb > 0 THEN " +
          "size(filter(__s, __t -> CAST(__t AS DOUBLE) < __p.sc)) + " +
          "(size(filter(__s, __t2 -> CAST(__t2 AS DOUBLE) = __p.sc))" +
          " + 1) / 2.0 ELSE 0.0 END) - " +
          "size(filter(__l, __x3 -> __x3 > 0)) * " +
          "(size(filter(__l, __x4 -> __x4 > 0)) + 1) / 2.0) / " +
          "(size(filter(__l, __x5 -> __x5 > 0)) * " +
          "size(filter(__l, __x6 -> NOT (__x6 > 0)))) END",
        "__s" -> e.head, "__l" -> e(1)))
    }
    pack.result()
  }

  /** ClickHouse SYNTAX shim: the dialect differences that are not a
    * function registration but a parse-level spelling. A CH user's
    * literal query text runs via [[chSql]] unchanged:
    *
    *  - parametric aggregate calls `name(params)(args)` flatten to the
    *    registered `name(params, args)` form (`quantile(0.5)(x)` →
    *    `quantile(0.5, x)`), over [[ChLexer]]'s code tokens — a
    *    regex would mangle nested calls and quoted parens;
    *  - bare `count()` becomes `count(*)`;
    *  - a trailing `FORMAT <name>` clause (output formatting — the
    *    attached client's job in Spark) is stripped.
    *
    * Deliberately NOT a SQL parser: everything else in the CH dialect
    * either already parses (Spark accepts the shared SQL core) or is a
    * registered function. Unknown parametric names pass through
    * untouched and fail analysis with a clear message. Every pass reads
    * the query through [[ChLexer]], so none rewrites inside a string
    * literal, a quoted name or a comment.
    */
  private val parametricNames = Set("quantile", "quantiles",
    "quantileexact", "quantileexactweighted", "quantiletiming",
    "quantileinterpolatedweighted", "summapfiltered",
    "topk", "topkweighted", "histogram", "uniqupto",
    "windowfunnel", "sequencematch", "sequencecount", "retention",
    "sequencenextnode",
    "grouparraymovingsum", "grouparraymovingavg",
    "mannwhitneyutest", "kolmogorovsmirnovtest", "meanztest",
    "exponentialmovingaverage", "quantiledeterministic",
    "largesttrianglethreebuckets", "lttb", "grouparraysorted",
    "groupconcat", "grouparraylast", "grouparraysample",
    "stochasticlinearregression", "stochasticlinearregressionstate",
    "stochasticlogisticregression", "sparkbar",
    "exponentialtimedecayedsum", "exponentialtimedecayedmax",
    "exponentialtimedecayedcount", "exponentialtimedecayedavg",
    "quantilegk", "quantileexactinclusive", "quantilesexactinclusive",
    "quantileexactexclusive", "quantilesexactexclusive", "uniqcombined")

  /** Fold a single depth-0 `PREWHERE` clause into `WHERE` — in
    * ClickHouse PREWHERE is the same predicate with an execution hint
    * (evaluate before reading the remaining columns), which is
    * precisely what Spark's own filter pushdown does to a WHERE, so
    * the semantics-preserving translation is a merge. Conservative by
    * construction: multiple or nested PREWHEREs pass through untouched
    * and fail in Spark's parser loudly rather than being rewritten
    * wrongly.
    */
  private def mergePrewhere(lx: ChLexer.Lexed): String = {
    val sql = lx.sql
    val words = lx.code.filter(t => t.kind == ChLexer.Word && t.depth == 0)
    def kw(t: ChLexer.Token) = lx.text(t).toUpperCase(java.util.Locale.ROOT)
    val clauseKw = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
      "UNION", "SETTINGS", "WINDOW", "QUALIFY")
    def clauseAfter(t: ChLexer.Token) =
      words.find(w => w.start > t.start && clauseKw(kw(w)))
    words.filter(kw(_) == "PREWHERE") match {
      case Seq(p) =>
        val next = clauseAfter(p)
        val clauseEnd = next.fold(sql.length)(_.start)
        val pClause = lx.slice(p.end, clauseEnd)
        next match {
          case Some(w) if kw(w) == "WHERE" =>
            val wEnd = clauseAfter(w).fold(sql.length)(_.start)
            sql.substring(0, p.start) +
              s"WHERE ($pClause) AND (${lx.slice(w.end, wEnd)}) " +
              sql.substring(wEnd)
          case _ =>
            sql.substring(0, p.start) + s"WHERE $pClause " +
              sql.substring(clauseEnd)
        }
      case _ => sql
    }
  }

  /** Drop ClickHouse's `GLOBAL` distribution modifier (`GLOBAL IN`,
    * `GLOBAL LEFT JOIN`, ...) — it instructs CH to broadcast the right
    * side to every shard, which is a planner decision Spark makes
    * itself (AQE/broadcast thresholds). Only stripped when followed by
    * a join/membership keyword, so a column actually named `global`
    * survives.
    */
  private def stripGlobal(lx: ChLexer.Lexed): ChLexer.Lexed =
    ChLexer.replaceAll(lx, "(?i)\\bGLOBAL\\s+(?=(?:IN|NOT|JOIN|ANY|ALL|" +
      "LEFT|RIGHT|INNER|FULL|CROSS|SEMI|ANTI)\\b)", "")

  /** `GROUP BY ... WITH TOTALS` → `GROUP BY GROUPING SETS ((...), ())`:
    * the per-group rows plus ONE all-groups totals row, ClickHouse's
    * WITH TOTALS. Documented deviation: the totals row carries NULL in
    * the key columns (Spark's grouping-sets convention) where CH shows
    * type defaults (0 / '').
    */
  private def rewriteTotals(lx: ChLexer.Lexed): ChLexer.Lexed = {
    // the captured key list must not span ANOTHER `GROUP BY` — a lazy
    // `(.+?)` would anchor on the FIRST GROUP BY in the statement and
    // swallow a subquery/CTE boundary when the WITH TOTALS belongs to an
    // outer (later) GROUP BY, emitting invalid SQL. ClickHouse's other
    // grouping modifiers map onto Spark's own ROLLUP/CUBE (same subtotal
    // semantics; NULL keys on subtotal rows — the same documented
    // deviation as TOTALS)
    val keys = "((?:(?!\\bGROUP\\s+BY\\b).)+?)"
    Seq("TOTALS" -> "GROUPING SETS (($1), ())", "ROLLUP" -> "ROLLUP ($1)",
      "CUBE" -> "CUBE ($1)").foldLeft(lx) { case (acc, (mod, to)) =>
      ChLexer.replaceAll(acc,
        s"(?is)GROUP\\s+BY\\s+$keys\\s+WITH\\s+$mod", s"GROUP BY $to")
    }
  }

  /** CH `[LEFT] ARRAY JOIN <expr> AS <alias>` (the row-multiplying
    * clause form; the function form `arrayJoin(...)` is registered
    * separately) → Spark's `LATERAL VIEW [OUTER] explode(...)`, which
    * occupies the same position between FROM and WHERE. Conservative:
    * the expression is captured up to the first ` AS `, so an `AS`
    * inside the array expression (e.g. a CAST) passes through
    * untouched and fails loudly in the parser rather than being
    * rewritten wrongly.
    */
  private def rewriteArrayJoin(lx: ChLexer.Lexed): ChLexer.Lexed = {
    val expr = "((?:(?!\\bAS\\b).)+?)"
    Seq("\\bLEFT\\s+" -> "OUTER ", "\\b" -> "").foldLeft(lx) {
      case (acc, (left, outer)) => ChLexer.replaceAll(acc,
        s"(?is)${left}ARRAY\\s+JOIN\\s+$expr\\s+AS\\s+(\\w+)",
        s"LATERAL VIEW ${outer}explode($$1) __aj AS $$2")
    }
  }

  /** CH `ORDER BY <ord> LIMIT <n> BY <cols> [LIMIT <m>]` — the
    * first-n-rows-per-group clause — → a ROW_NUMBER window over the
    * query's own ORDER BY, partitioned by the BY columns, with the
    * group-local rank filtered and hidden (`SELECT * EXCEPT(__lb)`).
    * The whole pre-ORDER-BY query becomes the window's input subquery,
    * so select-list aliases stay referencable from both the window
    * ORDER BY and the outer one — exactly CH's scoping. Conservative:
    * only the depth-0 `ORDER BY ... LIMIT n BY ...` shape rewrites;
    * anything else (no ORDER BY, nested LIMIT BY) passes through and
    * fails loudly in Spark's parser.
    */
  private def rewriteLimitBy(lx: ChLexer.Lexed): String = {
    val sql = lx.sql
    val m = limitBy.matcher(lx.mask)
    // the ORDER BY we anchored on must not live inside a subquery
    if (!m.matches() ||
        !lx.code.exists(t => t.start == m.end(1) && t.depth == 0)) return sql
    val Seq(head, ord, n, cols) = (1 to 4).map(lx.group(m, _))
    val tailLimit = Option(lx.group(m, 5)).map(" " + _).getOrElse("")
    s"SELECT * EXCEPT(__lb) FROM (SELECT *, ROW_NUMBER() OVER " +
      s"(PARTITION BY $cols ORDER BY $ord) AS __lb FROM ($head) __lbq) " +
      s"WHERE __lb <= $n ORDER BY $ord$tailLimit"
  }
  private val limitBy = Pattern.compile(
    "(?is)^(.*?)\\bORDER\\s+BY\\s+(.+?)\\s+LIMIT\\s+(\\d+)\\s+BY\\s+" +
      "(.+?)\\s*(LIMIT\\s+\\d+\\s*)?;?\\s*$")

  /** A session's ClickHouse table metadata that query text cannot
    * carry, by lowercased table/view name: the `SAMPLE` key whose md5
    * prefix decides membership (CH reads it from the DDL's `SAMPLE BY`;
    * the predicate is DETERMINISTIC in the key, CH's repeatable-sampling
    * contract, unlike `TABLESAMPLE`), and the (keys, version column) of
    * a view that `FROM <t> FINAL` reads as a ReplacingMergeTree. The
    * session owns it: `GraftExtensions` injects one per session state as
    * a check rule that checks nothing, so a `newSession()` child or a
    * clone (a streaming `foreachBatch`'s session) starts empty.
    */
  final class ChTables extends (LogicalPlan => Unit) {
    val samplingKeys = new scala.collection.concurrent.TrieMap[String, String]
    val replacing =
      new scala.collection.concurrent.TrieMap[String, (Seq[String], String)]
    def apply(plan: LogicalPlan): Unit = ()
  }

  private def chTables(spark: SparkSession): ChTables =
    spark.sessionState.analyzer.extendedCheckRules
      .collectFirst { case t: ChTables => t }
      .getOrElse(throw new IllegalStateException("the session was built " +
        "without graft.functions.GraftExtensions (use graft.Graft.session)"))

  def registerSamplingKey(spark: SparkSession, table: String,
      keyExpr: String): Unit =
    chTables(spark).samplingKeys.put(table.toLowerCase, keyExpr)

  /** Register `view` for CH `FROM <view> FINAL`: [[chSql]] materializes
    * `<view>__final` as a temp view through the SAME collapse as the
    * engine's background merge ([[graft.sink.TxTable.latestPerKey]] —
    * version-led struct MAX per (date, keys), deterministic payload
    * tie-break), so `SELECT ... FINAL` before a merge ≡ the same SELECT
    * after it.
    */
  def registerReplacing(spark: SparkSession, view: String, keys: Seq[String],
      versionCol: String): Unit =
    chTables(spark).replacing.put(view.toLowerCase, (keys, versionCol))

  /** CH `FROM <t> SAMPLE <k>` (0 < k < 1) → a deterministic md5-prefix
    * range predicate on the registered sampling key: the first 4 hex
    * chars of `md5(cast(key as string))` land uniformly in
    * ['0000','ffff'], so `< toHex4(k * 65536)` keeps a k-fraction.
    * Lowercase-hex string comparison is engine-portable (the DuckDB
    * oracle replays it verbatim). Tables with no registered key pass
    * through and fail loudly in the parser.
    */
  private def rewriteSample(spark: SparkSession, sql: String): String = {
    val lx = ChLexer(sql)
    lx.replaceAll(samplePattern) { m =>
      val (kw, table) = (lx.group(m, 1), lx.group(m, 2))
      val frac = lx.group(m, 3).toDouble
      chTables(spark).samplingKeys.get(table.toLowerCase) match {
        case Some(key) if frac > 0 && frac < 1 =>
          val thr = f"${math.round(frac * 65536).toInt}%04x"
          s"$kw (SELECT * FROM $table WHERE " +
            s"substring(md5(cast($key AS STRING)), 1, 4) < '$thr') $table"
        case _ => sql.substring(m.start, m.end)
      }
    }
  }
  private val samplePattern = Pattern.compile(
    "(?is)\\b(FROM|,)\\s+([A-Za-z_][\\w.]*)\\s+SAMPLE\\s+(0?\\.\\d+)")

  /** CH `FROM merge('<dir>', '<name regex>')` — the multi-table union
    * read. Each occurrence materializes a temp view through
    * [[graft.sink.TxTable.readMerge]] (per-table planner relations,
    * additive schema harmonization, `_table` virtual column) and the
    * call text is replaced by the view name.
    */
  private def rewriteMergeFn(spark: SparkSession, sql: String): String = {
    val lx = ChLexer(sql)
    var n = 0
    lx.replaceAll(Pattern.compile(
        "(?is)\\bmerge\\s*\\(\\s*'([^']+)'\\s*,\\s*'([^']+)'\\s*\\)")) { m =>
      val (dir, re) = (lx.group(m, 1), lx.group(m, 2))
      val view = s"__merge_${math.abs((dir + re).hashCode)}_$n"
      n += 1
      graft.sink.TxTable.readMerge(spark, dir, re).createOrReplaceTempView(view)
      view
    }
  }

  /** CH `ASOF [LEFT] JOIN` → the engine's single-shuffle union-window
    * plan (the q20_asof formulation — see queries/CoreQueries.scala):
    * both sides union into one frame keyed by the equality columns,
    * ONE exchange + sort per (keys, time), and `last(..., ignoreNulls)`
    * over the preceding frame carries the nearest right-side row to
    * every left row. No join operator exists in the plan, so a hot key
    * with V views and P purchases costs V+P rows, not V×P — the shape
    * a range-join formulation degrades to at 100 TB.
    *
    * Supported shape (anything else passes through and fails loudly in
    * Spark's parser — the house honest-refusal contract):
    * `FROM <tbl> [AS] a ASOF [INNER|LEFT] JOIN <tbl> [AS] b ON
    *  <AND-separated alias-qualified equalities> AND a.t >= b.t`
    * with the one inequality in {>=, >, <=, <} written on either side.
    * Column references elsewhere in the query must be alias-qualified
    * (they rewrite to the union frame's `__l_`/`__r_` names); CH
    * itself requires qualification wherever the sides share names.
    * Deviation (same family as WITH TOTALS): ASOF LEFT JOIN fills
    * unmatched right columns with NULL, not CH's type defaults.
    */
  private def rewriteAsof(spark: SparkSession, sql: String): String = {
    val p = Pattern.compile(
      "(?is)\\bFROM\\s+([A-Za-z_][\\w.]*)\\s+(?:AS\\s+)?([A-Za-z_]\\w*)\\s+" +
        "ASOF\\s+(LEFT\\s+|INNER\\s+)?JOIN\\s+" +
        "([A-Za-z_][\\w.]*)\\s+(?:AS\\s+)?([A-Za-z_]\\w*)\\s+ON\\s+(.+?)" +
        "(\\bWHERE\\b|\\bGROUP\\b|\\bHAVING\\b|\\bORDER\\b|\\bLIMIT\\b|$)")
    val lx = ChLexer(sql)
    val m = p.matcher(lx.mask)
    if (!m.find()) return sql
    val Seq(aTbl, aAl, leftKw, bTbl, bAl, on) = (1 to 6).map(lx.group(m, _))
    val left = Option(leftKw).exists(_.equalsIgnoreCase("LEFT"))
    val conds = on.split("(?i)\\bAND\\b").map(_.trim)
    val cond = Pattern.compile(
      s"(?i)^([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)\\s*(>=|<=|=|>|<)\\s*" +
        s"([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)$$")
    // classify: equality keys as (aCol, bCol); ONE inequality,
    // normalized so the left table's column is on the left
    var eqs = Vector.empty[(String, String)]
    var ineq: Option[(String, String, String)] = None
    conds.foreach { c0 =>
      val cm = cond.matcher(c0)
      if (!cm.matches()) return sql
      val (x, xc, op, y, yc) =
        (cm.group(1), cm.group(2), cm.group(3), cm.group(4), cm.group(5))
      val (ac, bc, nop) =
        if (x.equalsIgnoreCase(aAl) && y.equalsIgnoreCase(bAl))
          (xc, yc, op)
        else if (x.equalsIgnoreCase(bAl) && y.equalsIgnoreCase(aAl))
          (yc, xc, op match {
            case ">=" => "<="; case "<=" => ">="
            case ">" => "<"; case "<" => ">"; case o => o })
        else return sql
      if (nop == "=") eqs :+= ((ac, bc))
      else if (ineq.isDefined) return sql
      else ineq = Some((ac, nop, bc))
    }
    val (aT, op, bT) = ineq.getOrElse(return sql)
    if (eqs.isEmpty) return sql
    val desc = op == "<=" || op == "<"       // forward as-of: next match
    val strict = op == ">" || op == "<"      // equal timestamps excluded
    val (aKind, bKind) = if (strict) (0, 1) else (1, 0)

    import org.apache.spark.sql.expressions.Window
    val (fa, fb) = (spark.table(aTbl), spark.table(bTbl))
    val keyN = eqs.indices.map(i => s"__k$i")
    def side(df: DataFrame, keys: Seq[String], t: String, kind: Int,
        pre: String, otherPre: String, other: DataFrame): DataFrame =
      df.select(
        keys.zip(keyN).map { case (c, k) => col(c).as(k) } ++
          Seq(col(t).as("__t"), lit(kind).as("__kind")) ++
          df.columns.map(c => col(c).as(s"$pre$c")) ++
          other.columns.map(c =>
            lit(null).cast(other.schema(c).dataType).as(s"$otherPre$c")): _*)
    val u = side(fa, eqs.map(_._1), aT, aKind, "__l_", "__r_", fb)
      .unionByName(side(fb, eqs.map(_._2), bT, bKind, "__r_", "__l_", fa))
    val w = Window.partitionBy(keyN.map(col): _*)
      .orderBy((if (desc) col("__t").desc else col("__t").asc) +:
        Seq(col("__kind").asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rCols = fb.columns.map(c => s"__r_$c")
    val carried = u.withColumn("__m",
        last(when(col("__kind") === bKind,
          struct(rCols.map(col): _*)), ignoreNulls = true).over(w))
      .filter(col("__kind") === aKind)
    val joined0 = if (left) carried else carried.filter(col("__m").isNotNull)
    val out = joined0.select(
      fa.columns.map(c => col(s"__l_$c")) ++
        rCols.map(c => col(s"__m.$c").as(c)): _*)
    // view name is unique per invocation (a sql.length-derived hash
    // collides across concurrent translations of different queries
    // over the same tables)
    val view = s"__asof_${asofSeq.incrementAndGet()}"
    out.createOrReplaceTempView(view)
    val spliced = sql.substring(0, m.start) + s" FROM $view " +
      sql.substring(m.start(7))
    // alias-qualified references elsewhere in the query → the union
    // frame's column names (both sides rewrite, so an unqualified
    // right-side reference fails loudly instead of silently resolving);
    // string literals and longer identifiers that merely START with
    // the alias are left intact
    Seq(aAl -> "__l_", bAl -> "__r_").foldLeft(ChLexer(spliced)) {
      case (acc, (alias, repl)) => ChLexer.replaceAll(acc,
        s"(?i)\\b${Pattern.quote(alias)}\\.", repl)
    }.sql
  }

  private val asofSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `FROM <view> FINAL` → the registered view's keep-latest collapse;
    * an unregistered view is refused, not read as the alias `FINAL`. */
  private def rewriteFinal(spark: SparkSession, sql: String): String = {
    val lx = ChLexer(sql)
    lx.replaceAll(finalPattern) { m =>
      val (kw, view) = (lx.group(m, 1), lx.group(m, 2))
      val (keys, ver) = chTables(spark).replacing.getOrElse(view.toLowerCase,
        throw new IllegalArgumentException(s"$view FINAL: not registered " +
          "in this session (Compat.registerReplacing)"))
      val fv = s"${view.replace('.', '_')}__final"
      graft.sink.TxTable.latestPerKey(spark.table(view), keys, ver)
        .createOrReplaceTempView(fv)
      s"$kw $fv"
    }
  }
  private val finalPattern = Pattern.compile(
    "(?is)(\\bFROM|\\bJOIN|,)\\s+([A-Za-z_][\\w.]*)\\s+FINAL\\b")

  def translateCh(sql: String): String = {
    // __graft_decayed_* are rewriter-internal (emitted by
    // rewriteDecayed for provably time-ordered windows); a bare
    // GROUP BY use would hit DecayedWindowAgg's time-ordered merge
    // with engine-internal block order — refuse like the public
    // spelling instead of shipping a silently wrong answer. Only names
    // count: a literal or a comment may mention it.
    val lx = ChLexer(sql)
    if (lx.code.exists(t => t.kind != ChLexer.Str && lx.text(t)
        .toLowerCase(java.util.Locale.ROOT).contains("__graft_decayed_")))
      throw new IllegalArgumentException(
        "__graft_decayed_* are internal; use exponentialTimeDecayed" +
          "{Sum,Count,Max,Avg}(tau)(...) OVER (... ORDER BY t)")
    // one lexing per text: a pass that changes nothing hands its
    // lexing on to the next
    def text(pass: ChLexer.Lexed => String)(in: ChLexer.Lexed) =
      ChLexer.relex(in, pass(in))
    Seq[ChLexer.Lexed => ChLexer.Lexed](text(rewriteDecayed),
      text(translateCh0), text(rewriteEma), text(rewriteKolmogorov),
      text(rewriteMannWhitney), text(rewriteDeltaSum),
      text(rewriteRankCorr), text(rewriteRunning), text(rewriteDateDiff),
      text(rewriteAge), rewriteNumbers, rewriteArrayJoin,
      text(rewriteLimitBy), rewriteTotals, stripGlobal, text(mergePrewhere))
      .foldLeft(lx)((in, pass) => pass(in)).sql
  }

  /** CH `deltaSumTimestamp(value, ts)` — the counter-delta sum: the
    * sum of positive differences between ts-consecutive values
    * (negative differences — counter resets — contribute nothing).
    * CH's aggregate carries an O(1) state that is only exact when
    * parts arrive ts-ordered (its docs scope it to ordered
    * materialized views); a distributed engine makes the ordering
    * explicit instead: the call rewrites to the EXACT window
    * formulation — `value - lag(value) OVER (PARTITION BY the GROUP
    * BY keys ORDER BY ts)` in a subquery, `sum(greatest(delta, 0))`
    * outside (Spark's greatest skips the first row's NULL, so a
    * single-row group reads 0, CH's answer). One shuffle on the group
    * keys serves both the window and the aggregate.
    *
    * Supported shape: ONE top-level `SELECT ... FROM ... GROUP BY`
    * with named (non-ordinal) keys and every call sitting in the
    * select list. Anything else passes through unrewritten and fails
    * loudly in the analyzer — never a silently different answer.
    */
  private def rewriteDeltaSum(lx: ChLexer.Lexed): String =
    rewriteGroupWindow(lx, "deltasumtimestamp",
      call = (i, _) => s"sum(greatest(__dst$i, 0))",
      defs = (i, a, keys) => s"((${a(0)}) - lag(${a(0)}) OVER " +
        s"(PARTITION BY $keys ORDER BY ${a(1)})) AS __dst$i")

  /** CH `rankCorr(x, y)` — Spearman's rank correlation with AVERAGE
    * ranks for ties (the statistics-textbook and CH convention):
    * rewrites to `corr` over per-group average ranks — `rank() OVER
    * (PARTITION BY keys ORDER BY v) + (count(*) OVER (PARTITION BY
    * keys, v) − 1)/2` — in a subquery. CH buffers every (x, y) pair
    * per group to rank at finalization; the window formulation keeps
    * the ranking distributed: one shuffle on the group keys serves
    * both windows and the aggregate. Same supported shape as
    * [[rewriteDeltaSum]]; unsupported shapes refuse loudly via the
    * registered fallback.
    */
  private def rewriteRankCorr(lx: ChLexer.Lexed): String =
    rewriteGroupWindow(lx, "rankcorr",
      call = (i, _) => s"corr(__rcx$i, __rcy$i)",
      defs = (i, a, keys) => Seq(a(0) -> "x", a(1) -> "y").map {
        case (v, t) =>
          s"(rank() OVER (PARTITION BY $keys ORDER BY $v) + " +
            s"(count(*) OVER (PARTITION BY $keys, $v) - 1) / 2.0) " +
            s"AS __rc$t$i"
      }.mkString(", "))

  /** CH `mannWhitneyUTest([alternative[, continuity_correction]])
    * (sample_data, sample_index)` → `(u_statistic, p_value)`:
    * rows with index 0 form the first sample, anything else the
    * second (CH's contract). Rewrites to average ranks over the
    * combined sample — the [[rewriteRankCorr]] window formulation, so
    * ranking stays distributed (one shuffle on the GROUP BY keys
    * serves the windows and the aggregate) instead of CH's
    * buffer-every-pair-per-group state.
    *
    *   u  = R₀ − n₀(n₀+1)/2   (rank-sum convention for the FIRST
    *                           sample, the scipy/textbook U₁),
    *   p  = normal approximation with the tie correction
    *        σ = √(n₀n₁/12 · ((n+1) − Σ(t³−t)/(n(n−1))))
    *        and a 0.5 continuity correction (on by default, CH's
    *        default too); alternative ∈ two-sided | greater | less.
    *
    * Deviations, documented not hidden: the p-value is always the
    * normal approximation (CH switches to an exact permutation count
    * for tiny samples); rows with a NULL sample value rank per
    * Spark's null ordering rather than being skipped — filter NULLs
    * first. Same supported query shape as [[rewriteDeltaSum]];
    * unsupported shapes pass through and fail loudly at analysis.
    */
  private def rewriteMannWhitney(lx: ChLexer.Lexed): String =
    rewriteGroupWindow(lx, "mannwhitneyutest",
      call = (i, a) => {
        val alt = if (a.size >= 3) ChLexer.stringValue(a(0)).getOrElse(
          throw new IllegalArgumentException(
            "mannWhitneyUTest alternative must be a string literal, " +
              s"got ${a(0)}")) else "two-sided"
        val cc = if (a.size == 4) a(1).trim != "0" else true
        val n0 = s"CAST(count_if((__mwi$i) = 0) AS DOUBLE)"
        val n1 = s"CAST(count_if((__mwi$i) <> 0) AS DOUBLE)"
        val r0 = s"sum(CASE WHEN (__mwi$i) = 0 THEN __mwr$i ELSE 0.0 END)"
        val ties = s"sum(__mwt$i * __mwt$i - 1.0)"
        val u = s"($r0 - $n0 * ($n0 + 1.0) / 2.0)"
        val mu = s"($n0 * $n1 / 2.0)"
        val nn = s"($n0 + $n1)"
        val sg = s"sqrt($n0 * $n1 / 12.0 * " +
          s"(($nn + 1.0) - $ties / ($nn * ($nn - 1.0))))"
        val ccv = if (cc) "0.5" else "0.0"
        val p = alt match {
          case "two-sided" =>
            s"least(1.0, 2.0 * graft_norm_upper((abs($u - $mu) - $ccv) / $sg))"
          case "greater" =>
            s"graft_norm_upper(($u - $mu - $ccv) / $sg)"
          case "less" =>
            s"(1.0 - graft_norm_upper(($u - $mu + $ccv) / $sg))"
          case other => throw new IllegalArgumentException(
            s"mannWhitneyUTest alternative must be two-sided, greater " +
              s"or less, got '$other'")
        }
        s"named_struct('u_statistic', $u, 'p_value', $p)"
      },
      defs = (i, a, keys) => {
        val d = a(a.size - 2)
        val idx = a.last
        s"(rank() OVER (PARTITION BY $keys ORDER BY ($d)) + " +
          s"(count(*) OVER (PARTITION BY $keys, ($d)) - 1) / 2.0) " +
          s"AS __mwr$i, " +
          s"CAST(count(*) OVER (PARTITION BY $keys, ($d)) AS DOUBLE) " +
          s"AS __mwt$i, " +
          s"CAST(($idx) AS BIGINT) AS __mwi$i"
      },
      argsOk = a => a.size >= 2 && a.size <= 4)

  /** CH `kolmogorovSmirnovTest([alternative[, computation_method]])
    * (sample_data, sample_index)` → `(d_statistic, p_value)`:
    * two-sample KS. The ECDFs come from cumulative counts over the
    * default RANGE window frame (ties included on both engines), so
    * D = max|F₀ − F₁| is one window pass plus a plain max — never a
    * per-group sort-and-buffer. p is the asymptotic Kolmogorov
    * survival Q(√(n₀n₁/(n₀+n₁)) · D) (scipy's 'asymp'); the 'exact'
    * method and one-sided alternatives are REFUSED loudly — an exact
    * two-sample count is a different algorithm, and a silently
    * asymptotic answer under an 'exact' label violates the refusal
    * policy. NULL sample values: filter first, as with
    * [[rewriteMannWhitney]]. */
  private def rewriteKolmogorov(lx: ChLexer.Lexed): String =
    rewriteGroupWindow(lx, "kolmogorovsmirnovtest",
      call = (i, a) => {
        val alt = if (a.size >= 3) ChLexer.stringValue(a(0)).getOrElse(
          throw new IllegalArgumentException(
            "kolmogorovSmirnovTest alternative must be a string " +
              s"literal, got ${a(0)}")) else "two-sided"
        if (alt != "two-sided") throw new IllegalArgumentException(
          "kolmogorovSmirnovTest: only the two-sided alternative is " +
            s"supported (got '$alt') — one-sided D+/D- is a different " +
            "statistic this rewrite does not compute")
        val method = Option(a).filter(_.size == 4)
          .flatMap(a => ChLexer.stringValue(a(1))).getOrElse("auto")
        if (method == "exact") throw new IllegalArgumentException(
          "kolmogorovSmirnovTest: computation_method 'exact' is not " +
            "supported — the p-value here is always the asymptotic " +
            "Kolmogorov tail; pass 'asymp' (or 'auto') to accept it")
        val n0 = s"max(__ksn0$i)"
        val n1 = s"max(__ksn1$i)"
        val d = s"max(abs(__ksc0$i / __ksn0$i - __ksc1$i / __ksn1$i))"
        s"named_struct('d_statistic', $d, 'p_value', " +
          s"graft_ks_q(sqrt($n0 * $n1 / ($n0 + $n1)) * $d))"
      },
      defs = (i, a, keys) => {
        val d = a(a.size - 2)
        val idx = a.last
        // default frame with ORDER BY = RANGE UNBOUNDED..CURRENT:
        // ties land together, so the running count IS n·F(x)
        s"CAST(count(CASE WHEN ($idx) = 0 THEN 1 END) OVER " +
          s"(PARTITION BY $keys ORDER BY ($d)) AS DOUBLE) AS __ksc0$i, " +
          s"CAST(count(CASE WHEN ($idx) <> 0 THEN 1 END) OVER " +
          s"(PARTITION BY $keys ORDER BY ($d)) AS DOUBLE) AS __ksc1$i, " +
          s"CAST(count(CASE WHEN ($idx) = 0 THEN 1 END) OVER " +
          s"(PARTITION BY $keys) AS DOUBLE) AS __ksn0$i, " +
          s"CAST(count(CASE WHEN ($idx) <> 0 THEN 1 END) OVER " +
          s"(PARTITION BY $keys) AS DOUBLE) AS __ksn1$i"
      },
      argsOk = a => a.size >= 2 && a.size <= 4)

  /** CH `exponentialMovingAverage(half_life)(value, time)` — the
    * 2^(−Δt/half_life)-weighted mean anchored at the group's latest
    * time (CH keeps numerator/denominator exponentially-smoothed
    * sums; the shared anchor cancels in the ratio, so the closed form
    * is Σv·w / Σw with w = 2^((t − max t)/half_life)). The max-t
    * anchor comes from an unordered window over the GROUP BY keys —
    * same one-shuffle shape as the other group-window rewrites, and
    * anchoring at the max keeps every weight ≤ 1 (no overflow at any
    * epoch scale). */
  private def rewriteEma(lx: ChLexer.Lexed): String =
    rewriteGroupWindow(lx, "exponentialmovingaverage",
      call = (i, _) => s"(sum(__emv$i * __emw$i) / sum(__emw$i))",
      defs = (i, a, keys) =>
        s"CAST((${a(1)}) AS DOUBLE) AS __emv$i, " +
          s"pow(2.0, (CAST((${a(2)}) AS DOUBLE) - " +
          s"max(CAST((${a(2)}) AS DOUBLE)) OVER (PARTITION BY $keys)) " +
          s"/ (${a(0)})) AS __emw$i",
      argsOk = _.size == 3)

  /** Shared aggregate→window rewriter: replace every `fn(a, b)` in the
    * select list of ONE top-level `SELECT ... FROM ... GROUP BY` with
    * `call(i, args)` over window columns `defs(i, args, keys)`
    * computed in an injected subquery partitioned by the GROUP BY
    * keys. Anything outside the supported shape (no GROUP BY, ordinal
    * keys, calls outside the select list) passes through unrewritten
    * and fails loudly at analysis — never a silently different answer.
    */
  private def rewriteGroupWindow(lx: ChLexer.Lexed, fn: String,
      call: (Int, Seq[String]) => String,
      defs: (Int, Seq[String], String) => String,
      argsOk: Seq[String] => Boolean = _.size == 2): String = {
    val sql = lx.sql
    val lower = lx.mask.toLowerCase(java.util.Locale.ROOT)
    if (!lower.contains(fn + "(") || !lower.trim.startsWith("select"))
      return sql
    val selStart = lower.indexOf("select") + "select".length
    val fromAt = lx.topLevel("from", selStart)
    if (fromAt < 0) return sql
    val groupAt = lx.topLevel("group", fromAt)
    if (groupAt < 0) return sql
    val byM =
      Pattern.compile("^group\\s+by\\s").matcher(lower.substring(groupAt))
    if (!byM.find()) return sql
    val keysStart = groupAt + byM.end()
    val tailAt = Seq("having", "order", "limit")
      .map(lx.topLevel(_, keysStart)).filter(_ >= 0)
      .sorted.headOption.getOrElse(sql.length)
    val keys = lx.slice(keysStart, tailAt)
    if (keys.isEmpty ||
      keys.split(",").exists(_.trim.matches("\\d+"))) return sql
    // every call must live in the select list
    if (lx.topLevel(fn, fromAt) >= 0) return sql
    // collect (start, argsEnd, args) per call in the select list,
    // then splice right-to-left
    val calls = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Seq[String])]
    var at = lower.indexOf(fn + "(", selStart)
    while (at >= 0 && at < fromAt) {
      if (at > 0 && (lower.charAt(at - 1).isLetterOrDigit ||
          lower.charAt(at - 1) == '_')) return sql
      lx.args(at + fn.length + 1) match {
        case Some((args, close)) if argsOk(args) =>
          calls += ((at, close, args))
        case _ => return sql
      }
      at = lower.indexOf(fn + "(", at + 1)
    }
    if (calls.isEmpty) return sql
    var selectList = sql.substring(selStart, fromAt)
    calls.zipWithIndex.reverse.foreach { case ((s, e, args), i) =>
      selectList = selectList.substring(0, s - selStart) +
        call(i, args) + selectList.substring(e + 1 - selStart)
    }
    val defText = calls.zipWithIndex
      .map { case ((_, _, args), i) => defs(i, args, keys) }
      .mkString(", ")
    val fromPart = lx.slice(fromAt + 4, groupAt)
    s"SELECT $selectList FROM (SELECT *, $defText FROM $fromPart) " +
      s"__${fn}q GROUP BY $keys ${sql.substring(tailAt)}"
  }

  /** CH's exponentialTimeDecayed window family in its windowed
    * spelling `fn(τ)(args) OVER (w)` — Sum/Count/Max/Avg of
    * e^(−(t_r−t_i)/τ)-weighted values over an explicit window, t_r
    * the CURRENT row's time. The classic two-factor window rewrite
    * (sum(v·e^(t/τ))·e^(−t_r/τ)) overflows double at epoch scale, so
    * the translation collects the frame's (v, t) pairs per row
    * (`collect_list(...) OVER w`) and folds them with the anchor kept
    * INSIDE the exponent: every past-row term is e^((t_i−t_r)/τ) ≤ 1 —
    * stable at any epoch, underflow (not overflow) in the far tail,
    * which is the correct limit. Cost is O(frame) state per row, the
    * same contract as CH's own windowed implementation; scope it to
    * series-shaped partitions (the LTTB posture: decay the 60 s-grain
    * rollup, never raw rows). The bare aggregate spelling without
    * OVER keeps the honest block-order refusal in the registry.
    * Ref: reference has no equivalent; CH docs
    * exponentialTimeDecayedSum/Count/Max/Avg.
    */
  private def rewriteDecayed(lx: ChLexer.Lexed): String = {
    val sql = lx.sql
    lx.rewriteEach(decayedHead) { m =>
      def keep(end: Int) = (sql.substring(m.start, end), end)
      lx.args(m.end) match {
        case None => keep(sql.length)
        case Some((params, pClose)) =>
          lx.at(openParen, pClose + 1).filter(_ => params.length == 1) match {
            case None => keep(pClose + 1)
            case Some(a) => lx.args(a.end) match {
              case None => keep(sql.length)
              case Some((args, aClose)) =>
                // OVER (...) inline spec, or OVER w naming a WINDOW-clause
                // definition — both Spark spellings survive the rewrite
                val win: Option[(String, Int)] =
                  lx.at(overParen, aClose + 1) match {
                    case Some(o) => lx.args(o.end).map {
                      case (parts, wc) => (s"(${parts.mkString(", ")})", wc)
                    }
                    case None => lx.at(overName, aClose + 1)
                      .map(o => (lx.group(o, 1), o.end - 1))
                  }
                win match {
                  case None => keep(aClose + 1)
                  case Some((w, wClose)) =>
                    decayedWindow(lx, m.group(1).toLowerCase(
                      java.util.Locale.ROOT), params.head, args, w)
                      .fold(keep(wClose + 1))(r => (r, wClose + 1))
                }
            }
          }
      }
    }
  }
  private val decayedHead = Pattern.compile(
    "(?i)\\bexponentialTimeDecayed(Sum|Count|Max|Avg)\\s*\\(")
  private val openParen = Pattern.compile("\\s*\\(")
  private val overParen =
    Pattern.compile("(?is)\\s*OVER\\s*\\(")
  private val overName = Pattern
    .compile("(?is)\\s*OVER\\s+([A-Za-z_][A-Za-z0-9_]*)")

  /** The translation of `fn(param)(args) OVER win` for decay `kind`, or
    * None for an argument list the family does not take. */
  private def decayedWindow(lx: ChLexer.Lexed, kind: String, param: String,
      args: Seq[String], win: String): Option[String] = {
    val tau = s"CAST(($param) AS DOUBLE)"
    def d(e: String) = s"CAST(($e) AS DOUBLE)"
    // O(1)-state running form (DecayedWindowAgg) whenever the frame PROVABLY
    // ends at the current row and is ordered by the decay-time argument —
    // then the running re-anchored state evaluated at the frame end equals
    // the fold's per-row anchor exactly (same math, one rescale per row
    // instead of an O(frame) collect+fold per row). Any other / unprovable
    // spelling keeps the fold below.
    val specText =
      if (win.startsWith("(")) Some(win.substring(1, win.length - 1))
      else namedWindowSpec(lx, win)
    val tArg = args.last
    if (specText.exists(sp => frameEndsAtCurrentRow(sp) &&
        windowOrderedBy(sp, tArg)) &&
        args.length == (if (kind == "count") 1 else 2)) {
      val vArg = kind match {
        case "count" => "CAST(1.0 AS DOUBLE)"
        case _       => d(args.head)
      }
      return Some(s"__graft_decayed_$kind($vArg, ${d(tArg)}, " +
        s"$tau) OVER $win")
    }
    // NULL parity with the running form (DecayedWindowAgg): rows with a NULL
    // value or time contribute nothing — the list is filtered before folding,
    // and an all-invalid frame yields NULL (NULL-seeded accumulator), not
    // 0/NaN. One documented residual divergence: a CURRENT row whose own t is
    // NULL anchors the fold at NULL (result NULL) while the running form
    // reports the state at the last valid row; no declared gate carries NULL
    // decay times.
    (kind, args) match {
      case ("count", Seq(t)) =>
        val anchor = d(t)
        // collect_list(t) already skips NULL t entries
        Some(s"aggregate(collect_list(${d(t)}) OVER $win" +
          s", CAST(NULL AS DOUBLE), (__dacc, __dt) -> " +
          s"coalesce(__dacc, CAST(0.0 AS DOUBLE)) + " +
          s"exp((__dt - $anchor) / $tau))")
      case (_, Seq(v, t)) =>
        val anchor = d(t)
        val lst = s"filter(collect_list(named_struct(" +
          s"'v', ${d(v)}, 't', ${d(t)})) OVER $win, " +
          s"__dp -> __dp.v IS NOT NULL AND " +
          s"__dp.t IS NOT NULL)"
        val w = s"exp((__dp.t - $anchor) / $tau)"
        kind match {
          case "sum" => Some(s"aggregate($lst, " +
            s"CAST(NULL AS DOUBLE), (__dacc, __dp) -> " +
            s"coalesce(__dacc, CAST(0.0 AS DOUBLE)) + " +
            s"__dp.v * $w)")
          case "max" => Some(s"array_max(transform(" +
            s"$lst, __dp -> __dp.v * $w))")
          case "avg" => Some(s"aggregate($lst, " +
            s"named_struct('s', CAST(NULL AS DOUBLE), " +
            s"'c', CAST(0.0 AS DOUBLE)), " +
            s"(__dacc, __dp) -> named_struct(" +
            s"'s', coalesce(__dacc.s, CAST(0.0 AS DOUBLE))" +
            s" + __dp.v * $w, " +
            s"'c', __dacc.c + $w), " +
            s"__dacc -> __dacc.s / __dacc.c)")
          case _ => None
        }
      case _ => None
    }
  }

  /** The definition text of `WINDOW <name> AS (...)` in `sql`, if
    * present — lets [[rewriteDecayed]] prove frame properties of a
    * named window before choosing the running form.
    */
  private def namedWindowSpec(lx: ChLexer.Lexed,
      name: String): Option[String] = {
    val m = Pattern.compile(
      "(?is)\\bWINDOW\\s+" + Pattern.quote(name) +
        "\\s+AS\\s*\\(").matcher(lx.mask)
    if (!m.find()) None else lx.args(m.end).map(_._1.mkString(", "))
  }

  /** Whether a window spec's frame ends at the CURRENT ROW — true for
    * an explicit `BETWEEN ... AND CURRENT ROW` frame, the shorthand
    * `RANGE|ROWS <x> PRECEDING` (which implies `AND CURRENT ROW`),
    * and the no-frame default WITH an ORDER BY (= RANGE UNBOUNDED
    * PRECEDING AND CURRENT ROW). A `BETWEEN` whose end bound is
    * anything else (`AND n PRECEDING`, any `FOLLOWING`), or a
    * frameless+orderless spec (= whole partition), fails the proof
    * and keeps the fold — for `AND n PRECEDING` the running form's
    * last-frame-row anchor and the fold's current-row anchor differ
    * by e^((t_end−t_cur)/τ), so admitting it would be wrong.
    */
  private def frameEndsAtCurrentRow(specText: String): Boolean = {
    val spec = ChLexer(specText).mask
    def has(re: String, in: String) = Pattern.compile(re).matcher(in).find()
    val frameM = Pattern.compile("(?i)\\b(ROWS|RANGE)\\b").matcher(spec)
    if (!frameM.find()) return has("(?i)\\bORDER\\s+BY\\b", spec)
    val frame = spec.substring(frameM.start).trim
    // no BETWEEN: the `<x> PRECEDING` shorthand
    !has("(?i)\\bFOLLOWING\\b", frame) && (!has("(?i)\\bBETWEEN\\b", frame) ||
      has("(?is)\\bAND\\s+CURRENT\\s+ROW\\s*$", frame))
  }

  /** Whether the spec's ORDER BY is exactly the decay-time expression
    * (single key, ascending) — the precondition for the running form's
    * last-row anchor to equal the fold's current-row anchor.
    */
  private def windowOrderedBy(spec: String, tExpr: String): Boolean = {
    val lx = ChLexer(spec)
    val m = Pattern.compile(
      "(?is)\\bORDER\\s+BY\\s+(.*?)(\\bROWS\\b|\\bRANGE\\b|$)")
      .matcher(lx.mask)
    if (!m.find()) return false
    // strip only UNBALANCED trailing parens (a stray close from an
    // enclosing context); an order key that legitimately ends in ')'
    // — e.g. `ORDER BY unix_timestamp(ts)` — must survive intact
    var key = lx.group(m, 1)
    while (key.endsWith(")") &&
        key.count(_ == ')') > key.count(_ == '(')) {
      key = key.dropRight(1).trim
    }
    val norm = key.replaceAll("(?i)\\s+ASC$", "").replaceAll("\\s+", " ")
      .toLowerCase(java.util.Locale.ROOT)
    val want = tExpr.trim.replaceAll("\\s+", " ")
      .toLowerCase(java.util.Locale.ROOT)
    norm == want && !norm.contains(",")
  }

  /** CH's block-scoped "running" family. A distributed engine has no
    * block order, so these translate only in their window-extended
    * spelling `fn(args) OVER (...)` — CH itself deprecates the bare
    * forms in favor of window functions, and an explicit window is
    * the only deterministic reading at scale. Supported:
    *  - runningDifference(x) OVER w -> x minus the previous x in w,
    *    0 on the first row (CH's first-row contract);
    *  - neighbor(x, k[, d]) OVER w  -> lead (k>=0) / lag (k<0) by a
    *    LITERAL offset k (CH requires a constant too); without d the
    *    out-of-frame fill is NULL, not CH's type default (documented
    *    NULL-fill deviation);
    *  - lagInFrame/leadInFrame      -> lag/lead (rename; both respect
    *    the usual PARTITION BY/ORDER BY window).
    * Bare spellings without OVER pass through and fail loudly in
    * Spark's parser (the house honest-refusal contract).
    */
  private def rewriteRunning(lx0: ChLexer.Lexed): String = {
    val lx =
      ChLexer.replaceAll(lx0, "(?i)\\b(lag|lead)InFrame\\s*\\(", "$1(")
    val sql = lx.sql
    lx.rewriteEach(runningHead) { m =>
      def keep(end: Int) = (sql.substring(m.start, end), end)
      lx.args(m.end) match {
        case None => keep(sql.length)
        case Some((args, close)) => lx.at(overParen, close + 1) match {
          case None => keep(close + 1)
          case Some(o) => lx.args(o.end) match {
            case None => keep(sql.length)
            case Some((winParts, winClose)) =>
              runningWindow(m.group(1).toLowerCase(java.util.Locale.ROOT),
                args, winParts.mkString(", "))
                .fold(keep(winClose + 1))(r => (r, winClose + 1))
          }
        }
      }
    }
  }
  private val runningHead = Pattern.compile(
    "(?i)\\b(runningDifference|neighbor|nonNegativeDerivative)\\s*\\(")

  private def runningWindow(fn: String, args: Seq[String],
      win: String): Option[String] = fn match {
    case "runningdifference" if args.length == 1 =>
      val x = args.head
      Some(s"($x - coalesce(lag($x, 1) OVER ($win), $x))")
    case "neighbor"
        if (args.length == 2 || args.length == 3) &&
          args(1).matches("-?\\d+") =>
      val k = args(1).toLong
      val d = if (args.length == 3) s", ${args(2)}" else ""
      val (dir, off) = if (k >= 0) ("lead", k) else ("lag", -k)
      Some(s"${dir}(${args.head}, $off$d) OVER ($win)")
    // nonNegativeDerivative(m, t[, INTERVAL n unit]) OVER w -> max(0,
    // Δm/Δt·scale), 0 on the first row (the runningDifference first-row
    // contract) and 0 on a zero Δt (CH's inf reading has no SQL home). t
    // casts to DOUBLE = epoch seconds; scale = the interval in seconds
    // (default 1 s), literal second-convertible units only — calendar units
    // refuse by non-match
    case "nonnegativederivative"
        if args.length == 2 || args.length == 3 =>
      val scaleSec: Option[Long] =
        if (args.length == 2) Some(1L)
        else {
          val im = Pattern.compile(
            "(?i)^\\s*INTERVAL\\s+(\\d+)\\s+" +
              "(SECOND|MINUTE|HOUR|DAY)S?\\s*$")
            .matcher(args(2))
          if (!im.matches()) None
          else Some(im.group(1).toLong * (im.group(2)
            .toUpperCase(java.util.Locale.ROOT) match {
              case "SECOND" => 1L
              case "MINUTE" => 60L
              case "HOUR" => 3600L
              case _ => 86400L
            }))
        }
      scaleSec.map { sc =>
        val mm = s"CAST((${args.head}) AS DOUBLE)"
        val tt = s"CAST((${args(1)}) AS DOUBLE)"
        s"greatest(CAST(0.0 AS DOUBLE), coalesce(" +
          s"($mm - lag($mm, 1) OVER ($win)) / " +
          s"nullif($tt - lag($tt, 1) OVER ($win), 0.0D) " +
          s"* $sc, CAST(0.0 AS DOUBLE)))"
      }
    case _ => None
  }

  /** CH `FROM numbers(N)` / `numbers(M, N)` — the row-generator table
    * function — → Spark's `range`, with CH's column name (`number`).
    * Literal arguments only (CH's own contract for the table form).
    */
  private def rewriteNumbers(lx: ChLexer.Lexed): ChLexer.Lexed =
    ChLexer.replaceAll(ChLexer.replaceAll(lx,
      "(?i)\\bnumbers\\s*\\(\\s*(\\d+)\\s*\\)",
      "(SELECT id AS number FROM range($1))"),
      "(?i)\\bnumbers\\s*\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)",
      "(SELECT id AS number FROM range($1, $1 + $2))")

  /** CH `dateDiff('unit', a, b)` counts UNIT-BOUNDARY CROSSINGS, not
    * complete elapsed units: dateDiff('day','2024-01-01 23:00',
    * '2024-01-02 01:00') = 1 in CH (and DuckDB) where Spark's
    * timestampdiff = 0. The quoted-unit spelling is rewritten at the
    * syntax level (Spark's parser owns dateDiff and demands an
    * unquoted unit keyword) to a boundary-crossing formulation:
    * `timestampdiff(unit, date_trunc('unit', a), date_trunc('unit',
    * b))` — after truncation every elapsed unit IS a boundary
    * crossing, so the contracts coincide for all inputs. Arguments
    * are split at top-level commas by [[ChLexer]];
    * an unrecognized unit passes through and fails loudly in Spark's
    * parser (the house honest-refusal contract). Week boundaries are
    * Mondays (Spark and DuckDB date_trunc agree; CH's mode-0 weeks
    * start Sunday — documented deviation).
    */
  private val dateDiffUnits = Set("second", "minute", "hour", "day",
    "week", "month", "quarter", "year", "millisecond", "microsecond")

  /** CH `age('unit', a, b)` counts COMPLETE elapsed units — exactly
    * Spark's native timestampdiff contract, so only the quoted unit
    * needs unquoting (the complement of [[rewriteDateDiff]]'s
    * boundary-crossing translation; the two CH functions differ and
    * so do the two rewrites).
    */
  private def rewriteAge(lx: ChLexer.Lexed): String =
    rewriteUnitCall(lx, "age", (u, a, b) => s"timestampdiff($u, " +
      s"CAST($a AS TIMESTAMP), CAST($b AS TIMESTAMP))")

  private def rewriteDateDiff(lx: ChLexer.Lexed): String =
    rewriteUnitCall(lx, "dateDiff|date_diff|timestampDiff", (u, a, b) =>
      s"timestampdiff($u, date_trunc('$u', CAST($a AS TIMESTAMP)), " +
        s"date_trunc('$u', CAST($b AS TIMESTAMP)))")

  /** Each call `fn('unit', a, b)` of one of the `fns` with a known
    * unit, replaced by `repl(unit, a, b)`. */
  private def rewriteUnitCall(lx: ChLexer.Lexed, fns: String,
      repl: (String, String, String) => String): String = {
    lx.rewriteEach(Pattern.compile(
        s"(?i)\\b(?:$fns)\\s*\\(\\s*'([^']*)'\\s*,")) { m =>
      val unit = lx.group(m, 1).toLowerCase(java.util.Locale.ROOT)
      lx.args(m.end) match {
        case Some((Seq(a, b), close)) if dateDiffUnits(unit) =>
          (repl(unit, a, b), close + 1)
        case _ => (lx.sql.substring(m.start, m.end), m.end)
      }
    }
  }

  private val digestRenames: Map[String, String] = Map(
    "MD5" -> "chMD5", "SHA1" -> "chSHA1", "SHA224" -> "chSHA224",
    "SHA256" -> "chSHA256", "SHA512" -> "chSHA512",
    "CRC32" -> "chCRC32")

  private def translateCh0(lx0: ChLexer.Lexed): String = {
    val format = formatClause.matcher(lx0.mask)
    val lx =
      if (format.find()) ChLexer(lx0.sql.substring(0, format.start)) else lx0
    val sql = lx.sql
    val toks = lx.code
    def opens(i: Int) = i < toks.length && lx.is(toks(i), '(')
    val sb = new java.lang.StringBuilder(sql.length)
    var last = 0
    def splice(from: Int, to: Int, text: String): Unit = {
      sb.append(sql, last, from).append(text)
      last = to
    }
    var i = 0
    while (i < toks.length) {
      val w = lx.text(toks(i))
      if (toks(i).kind == ChLexer.Word && opens(i + 1)) {
        if (digestRenames.contains(w)) {
          // CASE-SENSITIVE CH digest spellings → internal ch* names
          // (the case-insensitive registry must not shadow Spark's
          // own md5/sha1/crc32; see the registration comment)
          splice(toks(i).start, toks(i).end, digestRenames(w))
        } else if (w.equalsIgnoreCase("count") && i + 2 < toks.length &&
            lx.is(toks(i + 2), ')')) {
          splice(toks(i).end, toks(i + 2).end, "(*)")
          i += 2
        } else if (parametricNames(w.toLowerCase)) {
          // name(params)(args) → name(params, args)
          val close = toks.indexWhere(
            t => lx.is(t, ')') && t.depth == toks(i + 1).depth, i + 2)
          if (close > 0 && opens(close + 1)) {
            splice(toks(close).start, toks(close + 1).end, ", ")
            i = close + 1
          }
        }
      }
      i += 1
    }
    sb.append(sql, last, sql.length).toString
  }
  private val formatClause = Pattern.compile(
    "(?is)\\s+FORMAT\\s+[A-Za-z]\\w*\\s*;?\\s*$")

  /** CH `ORDER BY <col> WITH FILL [FROM a] [TO b] [STEP s]` — gap
    * filling over an integral or date axis. The fill axis is
    * synthesized as a `sequence(...)` and LEFT-joined to the query,
    * so missing axis points appear as rows. Documented deviation
    * (same family as WITH TOTALS): synthesized rows carry NULL in the
    * other columns where CH shows type defaults. Supported shape: one
    * ascending fill column, literal bounds/step (defaults: the
    * result's min/max, step 1); anything else passes through and
    * fails loudly in Spark's parser.
    */
  private def applyWithFill(spark: SparkSession, sql: String): DataFrame = {
    val lx = ChLexer(sql)
    val m = Pattern.compile(
      "(?is)^(.*)\\bORDER\\s+BY\\s+([A-Za-z_]\\w*)\\s+WITH\\s+FILL" +
        "(?:\\s+FROM\\s+(\\S+))?(?:\\s+TO\\s+(\\S+))?" +
        "(?:\\s+STEP\\s+(\\d+))?" +
        "(?:\\s+INTERPOLATE\\s*\\(([^)]*)\\))?\\s*;?\\s*$").matcher(lx.mask)
    if (!m.matches()) return spark.sql(sql)
    val Seq(head, c) = Seq(1, 2).map(lx.group(m, _))
    val Seq(from, to, stepText, interpolate) =
      (3 to 6).map(g => Option(lx.group(m, g)))
    val step = stepText.map(_.toLong).getOrElse(1L)
    // INTERPOLATE (col [AS col], ...): carry the previous row's value
    // through synthesized rows. Only the identity form is supported —
    // CH applies `AS expr` REPEATEDLY over consecutive gaps, which no
    // window formulation expresses; a non-identity expression refuses
    // loudly rather than filling wrongly.
    val interp: Seq[String] = interpolate.toSeq.flatMap(
      _.split(",").map(_.trim).filter(_.nonEmpty).map { item =>
        val parts = item.split("(?i)\\s+AS\\s+").map(_.trim)
        if (parts.length == 1) parts(0)
        else if (parts.length == 2 && parts(0) == parts(1)) parts(0)
        else throw new IllegalArgumentException(
          s"INTERPOLATE '$item': only the carry-forward identity form " +
            "(col, or col AS col) is supported — ClickHouse applies " +
            "an AS-expression repeatedly across consecutive gap rows, " +
            "which has no deterministic window formulation here")
      })
    val inner = spark.sql(head)
    import org.apache.spark.sql.functions._
    val dt = inner.schema(c).dataType
    val isDate = dt == org.apache.spark.sql.types.DateType
    def bound(lit0: Option[String],
        agg: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (lit0 match {
      case Some(v) if isDate => to_date(expr(v))
      case Some(v)           => expr(v)
      case None              => agg
    }).cast(if (isDate) dt else org.apache.spark.sql.types.LongType)
    val b = inner.agg(bound(from, min(col(c))).as("lo"),
      bound(to, max(col(c))).as("hi")).collect().head
    require(!b.isNullAt(0) && !b.isNullAt(1),
      s"WITH FILL on an empty result needs explicit FROM/TO bounds")
    val axis =
      if (isDate) spark.range(1).select(explode(sequence(
        lit(b.getDate(0)), lit(b.getDate(1)),
        expr(s"INTERVAL $step DAYS"))).as(c))
      else spark.range(1).select(explode(sequence(
        lit(b.getLong(0)), lit(b.getLong(1)), lit(step))).as(c))
        .select(col(c).cast(dt).as(c))
    val joined = axis.join(inner, Seq(c), "left")
    val filled =
      if (interp.isEmpty) joined
      else {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col(c))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        interp.foldLeft(joined) { (df, ic) =>
          require(df.columns.contains(ic),
            s"INTERPOLATE column $ic is not in the result")
          df.withColumn(ic, last(col(ic), ignoreNulls = true).over(w))
        }
      }
    filled.orderBy(col(c))
  }

  /** Run literal ClickHouse-dialect SQL: apply the syntax shim and hand
    * the result to Spark's parser. The function pack comes with the
    * session ([[clickHouseFunctions]]). */
  def chSql(spark: SparkSession, sql: String): DataFrame =
    applyWithFill(spark, rewriteFinal(spark, rewriteSample(spark,
      rewriteMergeFn(spark, rewriteAsof(spark, translateCh(sql))))))

  /** summing-table rows -> the reference's column names and shapes. */
  def compatView(summed: DataFrame): DataFrame =
    summed.select(
      col("date"),
      col("interval_start").as("intervalStartTime"),
      col("interval_seconds").as("intervalSeconds"),
      col("environment"),
      col("proto_name").as("proto"),
      col("connection_class").as("connectionClass"),
      col("connection_flags").as("connectionFlags"),
      col("direction"),
      col("local_cloud").as("localCloud"),
      col("local_region").as("localRegion"),
      col("local_cluster").as("localCluster"),
      col("local_cell").as("localCell"),
      col("local_zone").as("localAvailabilityZone"),
      col("node_name").as("localNode"),
      col("local_instance").as("localInstanceID"),
      col("local_namespace").as("localNamespace"),
      col("local_pod").as("localPod"),
      long_to_ip(col("local_ip")).as("localIPv4"),
      col("local_port").as("localPort"),
      col("local_app").as("localApp"),
      col("remote_cloud").as("remoteCloud"),
      col("remote_region").as("remoteRegion"),
      col("remote_cluster").as("remoteCluster"),
      col("remote_cell").as("remoteCell"),
      col("remote_zone").as("remoteAvailabilityZone"),
      col("remote_node").as("remoteNode"),
      col("remote_instance").as("remoteInstanceID"),
      col("remote_namespace").as("remoteNamespace"),
      col("remote_pod").as("remotePod"),
      long_to_ip(col("remote_ip")).as("remoteIPv4"),
      col("remote_port").as("remotePort"),
      col("remote_app").as("remoteApp"),
      col("remote_service").as("remoteCloudService"),
      col("bytes"),
      col("packets"))

  /** Register the compat view as `default.network_flows_0` (a real
    * catalog table so the db-qualified name in the reference's queries
    * resolves). Returns the table name.
    */
  def publish(spark: SparkSession, summed: DataFrame,
      table: String = "default.network_flows_0"): String = {
    compatView(summed).write.mode("overwrite").saveAsTable(table)
    table
  }
}
