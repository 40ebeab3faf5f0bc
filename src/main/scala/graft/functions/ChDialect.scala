package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types._

/** ClickHouse SQL dialect aliases (SURVEY §2.2 UDF surface; reference
  * users ship CH SQL text, `src/client.rs:643` query_raw): CH function
  * spellings resolve from `spark.sql` text onto the BUILT-IN Catalyst
  * expressions — zero new runtime code, pure name mapping, everything
  * stays inside whole-stage codegen. A reference user's
  * `SELECT countIf(x > 0), uniqExact(id), arrayJoin(tags) ...` runs
  * unmodified.
  *
  * Deliberately NOT aliased: names Spark already owns (`length`,
  * `concat`, `position`, `coalesce`, `if`, `greatest` …) — shadowing a
  * builtin would silently change existing queries' semantics (enforced
  * programmatically in ChDialectSpec against `FunctionRegistry.builtin`).
  * CH's parameterized-aggregate syntax (`quantile(0.9)(x)`) is handled
  * one layer up by [[ChSqlParser]], which rewrites it onto the two-arg
  * spellings registered here.
  */
object ChDialect {

  private def info(name: String) =
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(getClass.getName, name)

  private def fn(name: String, arity: Int)(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, FunctionBuilder) =
    (new FunctionIdentifier(name), info(name), (args: Seq[Expression]) => {
      require(args.length == arity, s"$name expects $arity argument(s), got ${args.length}")
      build(args)
    })

  private def fnVar(name: String, minArity: Int)(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, FunctionBuilder) =
    (new FunctionIdentifier(name), info(name), (args: Seq[Expression]) => {
      require(args.length >= minArity, s"$name expects >=$minArity argument(s), got ${args.length}")
      build(args)
    })

  // make_interval zero fields (int positions + the decimal seconds slot,
  // whose VALUE must carry scale 6 — IntervalUtils asserts it)
  private val z = Literal(0)
  private val zd = Literal.create(
    org.apache.spark.sql.types.Decimal(java.math.BigDecimal.ZERO.setScale(6)),
    DecimalType(18, 6))

  private def litString(e: Expression, fname: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fname expects a string literal, got $other")
  }

  private def litLong(e: Expression, fname: String): Long = e match {
    case Literal(v: Byte, _) => v.toLong
    case Literal(v: Short, _) => v.toLong
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fname expects an integer literal, got $other")
  }

  private def userLambda(e: Expression, fname: String): (Expression, Seq[NamedExpression]) = e match {
    case LambdaFunction(body, args, _) => (body, args)
    case other => throw new IllegalArgumentException(
      s"$fname expects a lambda as its first argument, got $other")
  }

  /** A CH/MySQL `%`-format split into parts: `Right(javaPattern)` for a
    * specifier, `Left(rawText)` for literal text. Unknown specifiers
    * throw — better than silently formatting wrong. */
  private def chFormatParts(fmt: String): Seq[scala.util.Either[String, String]] = {
    val parts = Seq.newBuilder[scala.util.Either[String, String]]
    val lit = new StringBuilder
    def flush(): Unit =
      if (lit.nonEmpty) { parts += scala.util.Left(lit.toString); lit.clear() }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val spec = fmt.charAt(i + 1) match {
          case 'Y' => "yyyy";     case 'y' => "yy"
          case 'm' => "MM";       case 'd' => "dd"
          case 'H' => "HH";       case 'i' => "mm"
          case 'S' => "ss";       case 's' => "ss"
          case 'F' => "yyyy-MM-dd"
          case 'T' => "HH:mm:ss"
          case 'p' => "a";        case 'j' => "DDD"
          case 'Q' => "QQ";       case '%' => ""
          case u => throw new IllegalArgumentException(
            s"formatDateTime: unsupported specifier %$u")
        }
        if (spec.isEmpty) lit += '%' // '%%' is a literal percent
        else { flush(); parts += scala.util.Right(spec) }
        i += 2
      } else { lit += c; i += 1 }
    }
    flush()
    parts.result()
  }

  /** One merged java.time pattern from [[chFormatParts]] — the PARSE
    * side form (parsing needs a single pattern). Adjacent specifiers
    * whose pattern letters touch with the SAME letter would silently
    * merge into one longer field ('%y%Y' → "yyyyyy", a 6-digit year) —
    * no java.time pattern can express that boundary, so it throws. The
    * FORMAT side never hits this: it renders per-segment (see the
    * formatDateTime builder). */
  private def chFormatToJava(fmt: String): String = {
    val out = new StringBuilder
    var prevSpecLast: Char = 0
    chFormatParts(fmt).foreach {
      case scala.util.Right(spec) =>
        require(prevSpecLast != spec.charAt(0),
          s"formatDateTime/parseDateTime: adjacent specifiers merge ambiguously in '$fmt'")
        out ++= spec
        prevSpecLast = spec.last
      case scala.util.Left(text) =>
        // quote letters so java.time doesn't read them as pattern fields
        text.foreach { c =>
          if (c.isLetter) { out += '\''; out += c; out += '\'' } else out += c
        }
        prevSpecLast = 0
    }
    out.toString
  }

  private def tryCast(e: Expression, t: DataType): Expression =
    Cast(e, t, None, EvalMode.TRY)

  /** JVM hostname, resolved once; env fallback so an unresolvable
    * hostname (common in containers) never fails query planning. */
  private lazy val cachedHostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch {
      case _: java.net.UnknownHostException =>
        sys.env.getOrElse("HOSTNAME", "localhost")
    }

  /** §1.2 UInt64 widening: a raw signed-64 hash reinterpreted as the
    * unsigned value on Decimal(20,0) — x < 0 ? x + 2⁶⁴ : x. */
  private def uint64(e: Expression): Expression = {
    val wide = DecimalType(21, 0)
    val two64 = Literal.create(
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal("18446744073709551616")), wide)
    val zero = Literal.create(org.apache.spark.sql.types.Decimal(0L), wide)
    Cast(Add(Cast(e, wide), If(LessThan(e, Literal(0L)), two64, zero)),
      DecimalType(20, 0))
  }

  private def litInt(e: Expression, fname: String): Int = e match {
    case Literal(n: Byte, ByteType) => n.toInt
    case Literal(n: Short, ShortType) => n.toInt
    case Literal(n: Int, IntegerType) => n
    case Literal(n: Long, LongType) => n.toInt
    case other => throw new IllegalArgumentException(
      s"$fname expects an integer literal, got $other")
  }

  /** Floor a timestamp to a whole number of seconds since epoch. */
  private def floorToSeconds(ts: Expression, sec: Long): Expression = {
    val epoch = Cast(Cast(ts, TimestampType), LongType)
    Cast(Multiply(IntegralDivide(epoch, Literal(sec)), Literal(sec)), TimestampType)
  }

  /** CH `toStartOfInterval(ts, INTERVAL n unit)`: Spark parses the
    * interval literal as an ANSI day-time (micros) or year-month (months)
    * literal — align on the matching boundary. */
  private def toStartOfInterval(ts: Expression, interval: Expression): Expression =
    interval match {
      case Literal(micros: Long, _: DayTimeIntervalType) =>
        require(micros > 0 && micros % 1000000L == 0,
          "toStartOfInterval supports whole-second day-time intervals")
        floorToSeconds(ts, micros / 1000000L)
      case Literal(months: Int, _: YearMonthIntervalType) => months match {
        case 1 => TruncDate(Cast(ts, DateType), Literal("month"))
        case 3 => TruncDate(Cast(ts, DateType), Literal("quarter"))
        case 12 => TruncDate(Cast(ts, DateType), Literal("year"))
        case m => throw new IllegalArgumentException(
          s"toStartOfInterval: unsupported month interval $m (use 1, 3 or 12)")
      }
      case other => throw new IllegalArgumentException(
        s"toStartOfInterval expects an INTERVAL literal, got $other")
    }

  private def emptyIfNull(e: Expression): Expression = Coalesce(Seq(e, Literal("")))

  /** Haversine distance in meters for (lon1, lat1, lon2, lat2) degrees. */
  private def haversineMeters(a: Seq[Expression], radius: Double): Expression = {
    def rad(e: Expression) = Multiply(Cast(e, DoubleType), Literal(math.Pi / 180.0))
    val (lon1, lat1, lon2, lat2) = (rad(a(0)), rad(a(1)), rad(a(2)), rad(a(3)))
    def half(e: Expression) = Divide(e, Literal(2.0))
    def sq(e: Expression) = Multiply(e, e)
    val h = Add(
      sq(Sin(half(Subtract(lat2, lat1)))),
      Multiply(Multiply(Cos(lat1), Cos(lat2)), sq(Sin(half(Subtract(lon2, lon1))))))
    Multiply(Literal(2.0 * radius), Asin(Sqrt(h)))
  }

  val all: Seq[(FunctionIdentifier, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, FunctionBuilder)] = Seq(
    // ---- conditional aggregates (CH `-If` combinators) ----
    fn("countIf", 1) { a => Count(Seq(If(a.head, Literal(1), Literal(null, IntegerType)))) },
    fn("sumIf", 2) { a => Sum(If(a(1), a.head, Literal(null, NullType))) },
    fn("avgIf", 2) { a => Average(If(a(1), a.head, Literal(null, NullType))) },
    fn("minIf", 2) { a => Min(If(a(1), a.head, Literal(null, NullType))) },
    fn("maxIf", 2) { a => Max(If(a(1), a.head, Literal(null, NullType))) },

    // ---- distinct / sketch aggregates ----
    fn("uniq", 1) { a => new HyperLogLogPlusPlus(a.head) },
    fn("uniqExact", 1) { a => Size(CollectSet(a.head).toAggregateExpression()) },
    fn("groupArray", 1) { a => CollectList(a.head) },
    fn("groupUniqArray", 1) { a => CollectSet(a.head) },
    // (`median` is NOT aliased — Spark 4 owns it as a builtin already)
    // CH quantileExact is NEAREST-RANK: an actual element of the set,
    // never interpolated — Spark's Percentile would interpolate (0.5 of
    // 1..10 -> 5.5; nearest-rank says 5). Classic definition: 1-based
    // rank ceil(p*n), clamped for p=0 (= DuckDB quantile_disc, the
    // oracle's spelling). Like CH, exact quantiles materialize the
    // group in memory.
    fn("quantileExact", 2) { a =>
      val sorted = new SortArray(
        CollectList(a.head).toAggregateExpression(), Literal(true))
      val rank = Cast(Ceil(Multiply(Cast(a(1), DoubleType),
        Cast(Size(sorted), DoubleType))), IntegerType)
      val idx0 = Greatest(Seq(Literal(0), Subtract(rank, Literal(1))))
      GetArrayItem(sorted, idx0, failOnError = false)
    },
    fn("stddevPop", 1) { a => StddevPop(a.head) },
    fn("varPop", 1) { a => VariancePop(a.head) },

    // ---- type conversions (CH to* family → Cast) ----
    fn("toInt8", 1) { a => Cast(a.head, ByteType) },
    fn("toInt16", 1) { a => Cast(a.head, ShortType) },
    fn("toInt32", 1) { a => Cast(a.head, IntegerType) },
    fn("toInt64", 1) { a => Cast(a.head, LongType) },
    // unsigned widths ride the §1.2 widening rules (UInt32→Int64,
    // UInt64→Decimal(20,0)) so values near the top bit stay exact
    fn("toUInt8", 1) { a => Cast(a.head, ShortType) },
    fn("toUInt16", 1) { a => Cast(a.head, IntegerType) },
    fn("toUInt32", 1) { a => Cast(a.head, LongType) },
    fn("toUInt64", 1) { a => Cast(a.head, DecimalType(20, 0)) },
    fn("toFloat32", 1) { a => Cast(a.head, FloatType) },
    fn("toFloat64", 1) { a => Cast(a.head, DoubleType) },
    fn("toString", 1) { a => Cast(a.head, StringType) },
    fn("toDate", 1) { a => Cast(a.head, DateType) },
    fn("toDateTime", 1) { a => Cast(a.head, TimestampType) },

    // ---- date/time helpers ----
    fn("toStartOfMonth", 1) { a => TruncDate(a.head, Literal("month")) },
    // CH toStartOfWeek DEFAULT (mode 0) starts weeks on SUNDAY — the
    // most recent Sunday at-or-before d; mode 1 is the Monday form
    // (= toMonday / trunc-week). Other CH modes stay loud. The old
    // Monday-only mapping silently shifted six days of every week.
    fnVar("toStartOfWeek", 1) { a =>
      // CH also accepts a third timezone argument — unsupported here;
      // silently ignoring it would return session-timezone results, so
      // fail loudly per the repo policy
      require(a.length <= 2,
        s"toStartOfWeek supports (date[, mode]) — the timezone argument is not supported (got ${a.length} args)")
      val d = Cast(a.head, DateType)
      val mode = a.lift(1).map(litLong(_, "toStartOfWeek")).getOrElse(0L)
      mode match {
        case 0L => DateSub(d, Subtract(DayOfWeek(d), Literal(1)))
        case 1L | 3L => TruncDate(d, Literal("week"))
        case m => throw new IllegalArgumentException(
          s"toStartOfWeek: unsupported mode $m (0 = Sunday, 1/3 = Monday)")
      } },
    fn("toStartOfDay", 1) { a =>
      TruncTimestamp(Literal("day"), Cast(a.head, TimestampType)) },
    fn("toYYYYMM", 1) { a =>
      Cast(DateFormatClass(Cast(a.head, TimestampType), Literal("yyyyMM")), IntegerType) },
    fn("toYYYYMMDD", 1) { a =>
      Cast(DateFormatClass(Cast(a.head, TimestampType), Literal("yyyyMMdd")), IntegerType) },

    // ---- arithmetic spellings ----
    fn("intDiv", 2) { a => IntegralDivide(a.head, a(1)) },
    fn("modulo", 2) { a => Remainder(a.head, a(1)) },
    fn("plus", 2) { a => Add(a.head, a(1)) },
    fn("minus", 2) { a => Subtract(a.head, a(1)) },
    fn("multiply", 2) { a => Multiply(a.head, a(1)) },
    fn("divide", 2) { a => Divide(Cast(a.head, DoubleType), Cast(a(1), DoubleType)) },
    fn("bitAnd", 2) { a => BitwiseAnd(a.head, a(1)) },
    fn("bitOr", 2) { a => BitwiseOr(a.head, a(1)) },
    fn("bitXor", 2) { a => BitwiseXor(a.head, a(1)) },
    fn("bitShiftLeft", 2) { a => ShiftLeft(a.head, a(1)) },
    fn("bitShiftRight", 2) { a => ShiftRight(a.head, a(1)) },

    // ---- arrays ----
    fn("arrayJoin", 1) { a => Explode(a.head) },
    fn("has", 2) { a => ArrayContains(a.head, a(1)) },
    fn("indexOf", 2) { a => ArrayPosition(a.head, a(1)) },
    fn("arrayDistinct", 1) { a => ArrayDistinct(a.head) },
    // CH arraySort([f,] arr): the optional key lambda comes FIRST. The
    // keyed form sorts by struct(key, element) — CH's sort is stable,
    // this one breaks key ties by element value instead (deterministic,
    // documented deviation).
    fnVar("arraySort", 1) { a =>
      if (a.length == 1) new SortArray(a.head) else arraySortBy(a, asc = true) },
    fn("arrayReverse", 1) { a => Reverse(a.head) },
    fn("arrayConcat", 2) { a => Concat(a) },
    fn("arrayStringConcat", 2) { a => ArrayJoin(a.head, a(1), None) },
    fn("arraySum", 1) { a =>
      // aggregate(arr, 0D, (acc, x) -> acc + double(x)) — the builtin
      // higher-order fold with analyzer-resolved lambda variables
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      val out = UnresolvedNamedLambdaVariable(Seq("out"))
      ArrayAggregate(a.head, Literal(0.0),
        LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)),
        LambdaFunction(out, Seq(out))) },

    // ---- strings ----
    fn("lowerUTF8", 1) { a => Lower(a.head) },
    fn("upperUTF8", 1) { a => Upper(a.head) },
    fn("lengthUTF8", 1) { a => Length(a.head) },
    // CH-exact word boundaries: ANY non-alphanumeric starts a new word
    // ('1-urgent' → '1-Urgent'); Spark's InitCap splits on spaces only
    fn("initcapUTF8", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, StringType, "chInitcap",
        Seq(Cast(a.head, StringType)), Seq(StringType)) },
    // CH format('{} and {n}', args...): positional fmt-style braces →
    // format_string's printf form. Literal formats only; any brace
    // content beyond '' or digits (fmt specs like {:.2f}, which CH
    // itself rejects) fails loudly at translation.
    fnVar("format", 2) { a =>
      val fmt = litString(a.head, "format")
      val out = new StringBuilder
      var i = 0
      var auto = 0
      var manual = false
      while (i < fmt.length) {
        val c = fmt.charAt(i)
        if (c == '{' && i + 1 < fmt.length && fmt.charAt(i + 1) == '{') {
          out += '{'; i += 2 // '{{' is a literal '{' (fmt rules, like CH)
        } else if (c == '{') {
          val close = fmt.indexOf('}', i)
          require(close >= 0, s"format: unbalanced brace in '$fmt'")
          val inner = fmt.substring(i + 1, close)
          val idx =
            if (inner.isEmpty) { auto += 1; auto }
            else {
              require(inner.forall(ch => ch >= '0' && ch <= '9'),
                s"format: unsupported brace content '{$inner}' (only {} and {n})")
              manual = true
              inner.toInt + 1
            }
          out ++= s"%$idx$$s"
          i = close + 1
        } else if (c == '}') {
          // CH: '}}' is a literal '}'
          require(i + 1 < fmt.length && fmt.charAt(i + 1) == '}',
            s"format: stray '}' in '$fmt'")
          out += '}'
          i += 2
        } else if (c == '%') { out ++= "%%"; i += 1 }
        else { out += c; i += 1 }
      }
      // fmt (and therefore CH) forbids mixing automatic {} with manual
      // {n} indexing in one format string — stay loud, not looser
      require(!(manual && auto > 0),
        s"format: cannot mix automatic {} and manual {n} indexing in '$fmt'")
      FormatString((Literal(out.toString) +: a.tail): _*) },
    fn("match", 2) { a => RLike(a.head, a(1)) },
    fn("replaceAll", 3) { a => StringReplace(a.head, a(1), a(2)) },
    fn("replaceRegexpAll", 3) { a => RegExpReplace(a.head, a(1), a(2)) },
    fn("splitByChar", 2) { a =>
      val sep = litString(a.head, "splitByChar")
      StringSplit(a(1), Literal(java.util.regex.Pattern.quote(sep)), Literal(-1)) },
    fn("positionUTF8", 2) { a => new StringLocate(a(1), a.head) },
    fn("leftPad", 3) { a => new StringLPad(a.head, a(1), a(2)) },
    fn("rightPad", 3) { a => new StringRPad(a.head, a(1), a(2)) },
    fn("toFixedString", 2) { a => new StringRPad(a.head, a(1), Literal("\u0000")) },

    // ---- higher-order array functions: CH takes the LAMBDA FIRST
    // (`arrayMap(x -> x + 1, arr)`); Spark's builtins take it last.
    // Reorder onto the builtin HigherOrderFunction — the analyzer's
    // ResolveLambdaVariables binds the variables, codegen unchanged. ----
    fn("arrayMap", 2) { a => ArrayTransform(a(1), a.head) },
    fn("arrayFilter", 2) { a => ArrayFilter(a(1), a.head) },
    fn("arrayExists", 2) { a => ArrayExists(a(1), a.head) },
    fn("arrayAll", 2) { a => ArrayForAll(a(1), a.head) },
    // arrayCount/arrayFirst: the analyzer requires the RESOLVED function
    // to itself be a HigherOrderFunction when an argument is a lambda, so
    // these inline the user's lambda body into an aggregate() fold rather
    // than wrapping Size/ElementAt around filter()
    fn("arrayCount", 2) { a =>
      val (body, vars) = userLambda(a.head, "arrayCount")
      val acc = UnresolvedNamedLambdaVariable(Seq("ch_acc_"))
      val out = UnresolvedNamedLambdaVariable(Seq("ch_out_"))
      ArrayAggregate(a(1), Literal(0),
        LambdaFunction(Add(acc, If(body, Literal(1), Literal(0))), acc +: vars),
        LambdaFunction(out, Seq(out))) },
    fn("arrayFirst", 2) { a =>
      // CH returns the type default when nothing matches; nearest Spark
      // semantic is NULL (element_at past the end, non-ANSI form)
      val (body, vars) = userLambda(a.head, "arrayFirst")
      val acc = UnresolvedNamedLambdaVariable(Seq("ch_acc_"))
      val out = UnresolvedNamedLambdaVariable(Seq("ch_out_"))
      ArrayAggregate(a(1), Slice(a(1), Literal(1), Literal(0)),
        LambdaFunction(
          If(And(EqualTo(Size(acc), Literal(0)), body),
            CreateArray(Seq(vars.head)), acc),
          acc +: vars),
        LambdaFunction(ElementAt(out, Literal(1), None, failOnError = false), Seq(out))) },

    // ---- array utilities ----
    fnVar("arraySlice", 2) { a =>
      // 2-arg form slices to the end; Size(arr) as the length (a huge
      // int literal would overflow Slice's index arithmetic)
      if (a.length >= 3) Slice(a.head, a(1), a(2))
      else Slice(a.head, a(1), Size(a.head)) },
    fn("arrayFlatten", 1) { a => Flatten(a.head) },
    fnVar("arrayZip", 2) { a => ArraysZip(a) },
    fn("arrayUniq", 1) { a => Size(ArrayDistinct(a.head)) },
    fn("arrayPushBack", 2) { a => Concat(Seq(a.head, CreateArray(Seq(a(1))))) },
    fn("arrayPushFront", 2) { a => Concat(Seq(CreateArray(Seq(a(1))), a.head)) },
    fn("arrayPopBack", 1) { a =>
      Slice(a.head, Literal(1), Greatest(Seq(Subtract(Size(a.head), Literal(1)), Literal(0)))) },
    fn("arrayPopFront", 1) { a => Slice(a.head, Literal(2), Size(a.head)) },
    fn("arrayIntersect", 2) { a => ArrayIntersect(a.head, a(1)) },
    fn("hasAny", 2) { a => ArraysOverlap(a.head, a(1)) },
    fn("hasAll", 2) { a =>
      // every element of b appears in a: forall(b, x -> array_contains(a, x))
      val x = UnresolvedNamedLambdaVariable(Seq("ch_x_"))
      ArrayForAll(a(1), LambdaFunction(ArrayContains(a.head, x), Seq(x))) },
    // CH range(n) = [0, n); Sequence(0, n-1) would run DESCENDING for
    // n = 0, so guard with an empty slice
    fn("range", 1) { a =>
      val n = Cast(a.head, LongType)
      If(LessThanOrEqual(n, Literal(0L)),
        Slice(new Sequence(Literal(0L), Literal(0L)), Literal(1), Literal(0)),
        new Sequence(Literal(0L), Subtract(n, Literal(1L)))) },
    fnVar("arrayReverseSort", 1) { a =>
      if (a.length == 1) new SortArray(a.head, Literal(false))
      else arraySortBy(a, asc = false) },
    fn("arrayWithConstant", 2) { a => ArrayRepeat(a(1), a.head) },
    fnVar("arrayResize", 2) { a =>
      // grow pads with the fill value (third arg; NULL default), shrink
      // truncates — composition of slice + repeat
      val fill = if (a.length >= 3) a(2) else Literal(null, NullType)
      val want = Cast(a(1), IntegerType)
      Concat(Seq(
        Slice(a.head, Literal(1), want),
        ArrayRepeat(fill, Greatest(Seq(Subtract(want, Size(a.head)), Literal(0)))))) },
    fn("arrayMin", 1) { a => ArrayMin(a.head) },
    fn("arrayMax", 1) { a => ArrayMax(a.head) },
    fn("arrayAvg", 1) { a =>
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      val out = UnresolvedNamedLambdaVariable(Seq("out"))
      Divide(
        ArrayAggregate(a.head, Literal(0.0),
          LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)),
          LambdaFunction(out, Seq(out))),
        Cast(Size(a.head), DoubleType)) },
    fn("arrayEnumerate", 1) { a => new Sequence(Literal(1), Size(a.head)) },
    // consecutive-duplicate collapse: keep slot i (0-based lambda index)
    // iff i == 0 or the element differs from its predecessor (1-based
    // element_at(i) IS the predecessor); If keeps the element_at branch
    // unevaluated at i=0, where ANSI element_at(0) would throw
    fn("arrayCompact", 1) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("ac_x"))
      val i = UnresolvedNamedLambdaVariable(Seq("ac_i"))
      ArrayFilter(a.head, LambdaFunction(
        If(EqualTo(i, Literal(0)), Literal(true),
          Not(EqualNullSafe(x, ElementAt(a.head, i)))), Seq(x, i))) },

    // ---- round-7 coverage-audit tail (common CH spellings) ----
    fn("timezone", 0) { _ => CurrentTimeZone() },
    fn("currentDatabase", 0) { _ => CurrentDatabase() },
    fn("isFinite", 1) { a =>
      val d = Cast(a.head, DoubleType)
      And(Not(IsNaN(d)),
        Not(EqualTo(Abs(d), Literal(Double.PositiveInfinity)))) },
    fn("isInfinite", 1) { a =>
      EqualTo(Abs(Cast(a.head, DoubleType)), Literal(Double.PositiveInfinity)) },
    fn("toISOWeek", 1) { a => WeekOfYear(Cast(a.head, DateType)) },
    fn("toISOYear", 1) { a => YearOfWeek(Cast(a.head, DateType)) },
    fn("multiSearchAny", 2) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("ms_n"))
      ArrayExists(a(1), LambdaFunction(Contains(a.head, x), Seq(x))) },
    fn("multiMatchAny", 2) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("mm_p"))
      ArrayExists(a(1), LambdaFunction(RLike(a.head, x), Seq(x))) },
    // first 8 md5 bytes as a UInt64 (big-endian), per CH halfMD5; UInt64
    // rides the §1.2 widening rule onto Decimal(20,0)
    fn("halfMD5", 1) { a =>
      Cast(Conv(Substring(Md5(Cast(a.head, BinaryType)), Literal(1), Literal(16)),
        Literal(16), Literal(10)), DecimalType(20, 0)) },
    fn("hiveHash", 1) { a => HiveHash(Seq(a.head)) },
    // CH sipHash64: zero-key SipHash-2-4 over the value's bytes (core
    // paper-vector-verified; ClickHouse hash-functions reference). The
    // string→binary cast is the byte extraction; a numeric argument
    // fails analysis loudly instead of hashing a Spark-specific layout.
    fn("sipHash64", 1) { a =>
      uint64(ValueExpressions.SipHash64Raw(Cast(a.head, BinaryType))) },
    // CH cityHash64: CityHash64 v1.0.2 (CH's default sharding/sampling
    // hash; CH pins the PRE-1.0.3 semantics — kernel transcribed from
    // the published city.cc 1.0.2, branch-boundary pins + golden oracle
    // in b_fnh4). Same byte-extraction contract as sipHash64.
    fn("cityHash64", 1) { a =>
      uint64(ValueExpressions.CityHash64Raw(Cast(a.head, BinaryType))) },
    // CH farmFingerprint64: FarmHash Fingerprint64 — the STABLE FarmHash
    // (CH documents it as the portable choice). Kernel cross-validated
    // against Guava's independent implementation (CHTypeSpec).
    // farmHash64 itself stays deliberately unmapped-loud: CH binds it to
    // farmhashxo::Hash64, for which no independent implementation exists
    // in this sandbox to certify bit-exactness.
    fn("farmFingerprint64", 1) { a =>
      uint64(ValueExpressions.FarmFingerprint64Raw(Cast(a.head, BinaryType))) },
    // CH murmurHash2_64: MurmurHash64A seed 0 (Appleby's reference tail/
    // finalization; branch pins in ChDialectSpec).
    fn("murmurHash2_64", 1) { a =>
      uint64(ValueExpressions.MurmurHash2_64Raw(Cast(a.head, BinaryType))) },
    // CH murmurHash3_64 / murmurHash3_128: MurmurHash3_x64_128 seed 0 —
    // the 64-bit spelling XORs the digest halves (CH MurmurHash3Impl64),
    // the 128-bit spelling returns the 16 raw bytes (FixedString(16) in
    // CH, binary here). Core cross-validated against Guava Murmur3_128.
    fn("murmurHash3_64", 1) { a =>
      uint64(ValueExpressions.MurmurHash3_64Raw(Cast(a.head, BinaryType))) },
    fn("murmurHash3_128", 1) { a =>
      ValueExpressions.MurmurHash3_128Raw(Cast(a.head, BinaryType)) },
    // CH murmurHash3_32: MurmurHash3_x86_32 seed 0 → UInt32 (fits a
    // BIGINT zero-extended; Guava-cross-validated like the 128 core)
    fn("murmurHash3_32", 1) { a =>
      ValueExpressions.MurmurHash3_32Raw(Cast(a.head, BinaryType)) },
    // (CH `xxHash64` is NOT aliased — Spark owns `xxhash64`
    // case-insensitively, with seed 42 and a typed hash protocol;
    // shadowing it would silently change existing Spark queries.
    // Spark's kernel is spec-XXH64 for byte inputs — ChDialectSpec pins
    // the published vectors at seed 0 — but the spelling collision
    // makes a faithful CH alias impossible, so sipHash64 is the
    // CH-exact hash this dialect offers.)
    // CH toTime: same time-of-day moved to the epoch-adjacent reference
    // day 1970-01-02
    fn("toTime", 1) { a =>
      Cast(Concat(Seq(Literal("1970-01-02 "),
        DateFormatClass(Cast(a.head, TimestampType), Literal("HH:mm:ss")))),
        TimestampType) },
    // CH age('unit', t1, t2): COMPLETE units between the instants
    // (dateDiff counts unit-boundary crossings instead)
    fn("age", 3) { a =>
      val t1 = Cast(a(1), TimestampType)
      val t2 = Cast(a(2), TimestampType)
      // CH age truncates the whole-unit count TOWARD ZERO, making it
      // symmetric: age(s,e) = -age(e,s) (a -1.5-day span is -1, not the
      // floored -2). IntegralDivide is Java `/` (truncation), so no pmod
      // adjustment — and the all-LONG route still avoids double
      // precision loss above 2^53 µs (the AsOfJoin.bucketOf bug class).
      def whole(divMicros: Long): Expression = {
        val diff = Subtract(UnixMicros(t2), UnixMicros(t1))
        IntegralDivide(diff, Literal(divMicros))
      }
      // Cast(double → long) also truncates toward zero, per SQL cast
      val months = Cast(MonthsBetween(t2, t1, Literal(false)), LongType)
      litString(a.head, "age").toLowerCase(java.util.Locale.ROOT) match {
        case "second" => whole(1000000L)
        case "minute" => whole(60L * 1000000L)
        case "hour" => whole(3600L * 1000000L)
        case "day" => whole(86400L * 1000000L)
        case "week" => whole(7L * 86400L * 1000000L)
        case "month" => months
        case "quarter" => IntegralDivide(months, Literal(3L))
        case "year" => IntegralDivide(months, Literal(12L))
        case u => throw new IllegalArgumentException(s"age: unsupported unit '$u'")
      } },
    // CH caseWithExpression(x, k1, v1, k2, v2, …[, default])
    fnVar("caseWithExpression", 3) { a => CaseKeyWhen(a.head, a.tail) },
    // Variant/Dynamic introspection (the reference test corpus queries
    // `dynamicType(d)` / `variantType(v)`, tests/new_types.rs:242-296):
    // §1.2 maps both wire unions onto tagged structs, so the spellings
    // project the tag field — NULL dynamics carry a NULL tag, like CH
    fn("dynamicType", 1) { a => UnresolvedExtractValue(a.head, Literal("dynamic_type")) },
    fn("variantType", 1) { a => UnresolvedExtractValue(a.head, Literal("variant_type")) },

    // ---- more aggregates ----
    fn("argMin", 2) { a => MinBy(a.head, a(1)) },
    fn("argMax", 2) { a => MaxBy(a.head, a(1)) },
    // (CH `any` is NOT aliased — Spark owns `any` as the boolean-OR
    // aggregate; use anyValue/anyLast)
    fn("anyValue", 1) { a => First(a.head, ignoreNulls = true) },
    fn("anyLast", 1) { a => Last(a.head, ignoreNulls = true) },
    fnVar("quantile", 1) { a =>
      new ApproximatePercentile(a.head, if (a.length >= 2) a(1) else Literal(0.5)) },
    fnVar("quantileTDigest", 1) { a =>
      new ApproximatePercentile(a.head, if (a.length >= 2) a(1) else Literal(0.5)) },
    fn("uniqCombined", 1) { a => new HyperLogLogPlusPlus(a.head) },
    // CH uniqUpTo(N)(x): exact count while <= N, else N+1 — the cheap
    // "are there more than N distinct?" probe. ChSqlParser rewrites the
    // parameterized form onto this two-arg spelling.
    fn("uniqUpTo", 2) { a =>
      Least(Seq(
        Size(CollectSet(a.head).toAggregateExpression()),
        Add(Cast(a(1), IntegerType), Literal(1)))) },
    fn("uniqHLL12", 1) { a => new HyperLogLogPlusPlus(a.head) },
    fn("groupBitAnd", 1) { a => BitAndAgg(a.head) },
    fn("groupBitOr", 1) { a => BitOrAgg(a.head) },
    fn("groupBitXor", 1) { a => BitXorAgg(a.head) },
    fn("covarPop", 2) { a => CovPopulation(a.head, a(1)) },
    fn("covarSamp", 2) { a => CovSample(a.head, a(1)) },
    fn("stddevSamp", 1) { a => StddevSamp(a.head) },
    fn("varSamp", 1) { a => VarianceSamp(a.head) },
    fn("skewPop", 1) { a => Skewness(a.head) },
    fn("kurtPop", 1) { a => Kurtosis(a.head) },

    // ---- date/time component extraction ----
    fn("toYear", 1) { a => Year(a.head) },
    fn("toQuarter", 1) { a => Quarter(a.head) },
    fn("toMonth", 1) { a => Month(a.head) },
    fn("toDayOfMonth", 1) { a => DayOfMonth(a.head) },
    fn("toDayOfYear", 1) { a => DayOfYear(a.head) },
    // CH weekday is Monday=1..Sunday=7; Spark WeekDay is Monday=0
    fn("toDayOfWeek", 1) { a => Add(WeekDay(a.head), Literal(1)) },
    fn("toHour", 1) { a => Hour(a.head) },
    fn("toMinute", 1) { a => Minute(a.head) },
    fn("toSecond", 1) { a => Second(a.head) },
    fn("toStartOfYear", 1) { a => TruncDate(a.head, Literal("year")) },
    fn("toStartOfQuarter", 1) { a => TruncDate(a.head, Literal("quarter")) },
    fn("toMonday", 1) { a => TruncDate(a.head, Literal("week")) },
    fn("toStartOfHour", 1) { a =>
      TruncTimestamp(Literal("hour"), Cast(a.head, TimestampType)) },
    fn("toStartOfMinute", 1) { a =>
      TruncTimestamp(Literal("minute"), Cast(a.head, TimestampType)) },

    // ---- date arithmetic (date-typed semantics, like CH Date columns) ----
    fn("addDays", 2) { a => DateAdd(a.head, a(1)) },
    fn("subtractDays", 2) { a => DateSub(a.head, a(1)) },
    fn("addWeeks", 2) { a => DateAdd(a.head, Multiply(a(1), Literal(7))) },
    fn("addMonths", 2) { a => AddMonths(a.head, a(1)) },
    fn("subtractMonths", 2) { a => AddMonths(a.head, UnaryMinus(a(1))) },
    fn("addYears", 2) { a => AddMonths(a.head, Multiply(a(1), Literal(12))) },
    fn("subtractYears", 2) { a => AddMonths(a.head, Multiply(a(1), Literal(-12))) },
    // `dateDiff` is NOT aliased: Spark's PARSER owns that name (the
    // timestampdiff form with an unquoted unit), so a registry entry is
    // unreachable. CH's calendar-BOUNDARY counting (dateDiff('month',
    // '2024-01-31','2024-02-01') = 1, unlike elapsed-period
    // timestampdiff) ships as CH's own toRelative*Num primitives below:
    // CH defines dateDiff(unit, s, e) = toRelative<Unit>Num(e) -
    // toRelative<Unit>Num(s). Epoch offsets may differ from CH by a
    // constant; differences — the use — match exactly.
    fn("toRelativeYearNum", 1) { a => Year(Cast(a.head, DateType)) },
    fn("toRelativeQuarterNum", 1) { a =>
      val d = Cast(a.head, DateType)
      Add(Multiply(Year(d), Literal(4)), Quarter(d)) },
    fn("toRelativeMonthNum", 1) { a =>
      val d = Cast(a.head, DateType)
      Add(Multiply(Year(d), Literal(12)), Month(d)) },
    fn("toRelativeWeekNum", 1) { a =>
      // weeks since the first Monday of 1970 (1970-01-05, epoch day 4)
      IntegralDivide(
        DateDiff(TruncDate(Cast(a.head, DateType), Literal("week")), Literal(4, DateType)),
        Literal(7)) },
    fn("toRelativeDayNum", 1) { a =>
      DateDiff(Cast(a.head, DateType), Literal(0, DateType)) },
    fn("toRelativeHourNum", 1) { a =>
      IntegralDivide(Cast(Cast(a.head, TimestampType), LongType), Literal(3600L)) },
    fn("toRelativeMinuteNum", 1) { a =>
      IntegralDivide(Cast(Cast(a.head, TimestampType), LongType), Literal(60L)) },
    fn("today", 0) { _ => CurrentDate() },
    fn("yesterday", 0) { _ => DateSub(CurrentDate(), Literal(1)) },
    fn("toUnixTimestamp", 1) { a => Cast(Cast(a.head, TimestampType), LongType) },
    fn("fromUnixTimestamp", 1) { a => Cast(a.head, TimestampType) },
    // formatDateTime renders SEGMENT-WISE (one date_format per
    // specifier, literals as plain strings, concatenated): a single
    // merged pattern would fuse adjacent same-letter specifiers into
    // one long field ('%y%F' → "yyyyyy-MM-dd" = a 6-digit year —
    // caught by the randomized strftime golden corpus)
    fn("formatDateTime", 2) { a =>
      val ts = Cast(a.head, TimestampType)
      val parts = chFormatParts(litString(a(1), "formatDateTime"))
      val segs = parts.map {
        case scala.util.Right(spec) => DateFormatClass(ts, Literal(spec)): Expression
        case scala.util.Left(text) => Literal(text): Expression
      }
      val rendered =
        if (segs.isEmpty) Literal("")
        else if (segs.size == 1) segs.head
        else Concat(segs)
      // a specifier-free format is all Literals, which would lose NULL
      // propagation (formatDateTime(NULL, 'abc') must be NULL, not
      // 'abc') — anchor on the input when no DateFormatClass segment
      // carries it
      if (parts.exists(_.isRight)) rendered
      else If(IsNull(ts), Literal(null, StringType), rendered) },

    // ---- conditionals / null handling ----
    fnVar("multiIf", 3) { a =>
      require(a.length % 2 == 1, s"multiIf expects cond,val pairs plus an else, got ${a.length} args")
      val branches = a.dropRight(1).grouped(2).map { p => (p.head, p(1)) }.toSeq
      CaseWhen(branches, Some(a.last)) },
    fn("assumeNotNull", 1) { a => KnownNotNull(a.head) },
    fn("toNullable", 1) { a => a.head },
    fn("intDivOrZero", 2) { a =>
      If(EqualTo(a(1), Literal(0)), Literal(0), IntegralDivide(a.head, a(1))) },
    fn("moduloOrZero", 2) { a =>
      If(EqualTo(a(1), Literal(0)), Literal(0), Remainder(a.head, a(1))) },

    // ---- more strings ----
    fn("substringUTF8", 3) { a => Substring(a.head, a(1), a(2)) },
    fn("trimBoth", 1) { a => StringTrim(a.head) },
    fn("trimLeft", 1) { a => StringTrimLeft(a.head) },
    fn("trimRight", 1) { a => StringTrimRight(a.head) },
    fn("reverseUTF8", 1) { a => Reverse(a.head) },
    fn("leftUTF8", 2) { a => Left(a.head, a(1)) },
    fn("rightUTF8", 2) { a => Right(a.head, a(1)) },
    fn("base64Encode", 1) { a => Base64(Cast(a.head, BinaryType)) },
    fn("base64Decode", 1) { a => Cast(UnBase64(a.head), StringType) },
    // CH encodeURLComponent keeps the RFC-3986 unreserved set
    // (A-Za-z0-9 - _ . ~) and percent-encodes everything else, space as
    // %20. Java/Spark's UrlEncode is the FORM flavor: space → '+',
    // '~' → %7E, '*' kept raw. All three deltas post-correct
    // unambiguously: an output '+' can only come from an input space
    // (input '+' encodes to %2B), output '%7E' only from input '~'
    // (input "%7E" text encodes to %257E), and output '*' only from
    // input '*'. Symmetrically, CH decodeURLComponent leaves '+' alone
    // while UrlDecode would turn it into a space — pre-escaping '+' →
    // %2B preserves it. The Form-variant spellings keep Java's form
    // semantics for space/plus but get the same ~/* unreserved-set fix.
    fn("encodeURLComponent", 1) { a =>
      StringReplace(StringReplace(StringReplace(
        new UrlEncode(a.head),
        Literal("+"), Literal("%20")),
        Literal("%7E"), Literal("~")),
        Literal("*"), Literal("%2A")) },
    fn("decodeURLComponent", 1) { a =>
      new UrlDecode(StringReplace(a.head, Literal("+"), Literal("%2B"))) },
    fn("encodeURLFormComponent", 1) { a =>
      StringReplace(StringReplace(
        new UrlEncode(a.head),
        Literal("%7E"), Literal("~")),
        Literal("*"), Literal("%2A")) },
    fn("decodeURLFormComponent", 1) { a => new UrlDecode(a.head) },
    fn("levenshteinDistance", 2) { a => Levenshtein(a.head, a(1)) },
    fn("editDistance", 2) { a => Levenshtein(a.head, a(1)) },
    // jaro family: CHValues kernels, DuckDB-oracled (b_sql58); CH docs
    // say "byte strings" — these compare chars, ASCII-identical
    fn("jaroSimilarity", 2) { a => ValueExpressions.JaroSim(a.head, a(1)) },
    fn("jaroWinklerSimilarity", 2) { a => ValueExpressions.JaroWinklerSim(a.head, a(1)) },
    // CH encodeXMLComponent: the five predefined XML entities ('&'
    // FIRST, or the replacement chain double-escapes)
    fn("encodeXMLComponent", 1) { a =>
      Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;",
        "\"" -> "&quot;", "'" -> "&apos;")
        .foldLeft(Cast(a.head, StringType): Expression) { case (e, (from, to)) =>
          StringReplace(e, Literal(from), Literal(to)) } },
    // decode: named + numeric character references, lenient passthrough
    fn("decodeXMLComponent", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, StringType, "decodeXmlComponent",
        Seq(Cast(a.head, StringType)), Seq(StringType)) },
    // CH hostName() reports the SERVER host — constant per query, so a
    // plan-time literal of the JVM's hostname is the faithful analog
    // (resolved ONCE via the cached lazy below: a per-translation
    // InetAddress lookup would hit the resolver on every query and
    // fail planning entirely on hosts whose name doesn't resolve)
    fn("hostName", 0) { _ => Literal(cachedHostName) },
    // mapPopulateSeries(m): integer-keyed map gap-fill — keys become the
    // dense range [min(keys) .. max(keys)], missing values 0 (CH's
    // default-value fill); the optional max bound extends the range
    fnVar("mapPopulateSeries", 1) { a =>
      require(a.length <= 2,
        s"mapPopulateSeries supports (map[, max]) — got ${a.length} args")
      // normalize keys to LONG first so the dense range's lookups and
      // the map's keys share one type regardless of the input width
      val mk = UnresolvedNamedLambdaVariable(Seq("mps_mk"))
      val mv = UnresolvedNamedLambdaVariable(Seq("mps_mv"))
      val m = TransformKeys(a.head, LambdaFunction(Cast(mk, LongType), Seq(mk, mv)))
      val keys = MapKeys(m)
      val mn = Cast(ArrayMin(keys), LongType)
      val mx = a.lift(1).map(e => Cast(e, LongType))
        .getOrElse(Cast(ArrayMax(keys), LongType))
      val k = UnresolvedNamedLambdaVariable(Seq("mps_k"))
      // guards: an empty input map (ArrayMin → NULL) and an explicit
      // max below min(keys) both yield the EMPTY map, never NULL and
      // never Sequence's implicit step -1 walking DOWNWARD; step is
      // pinned to +1
      val emptyLongs = Slice(new Sequence(Literal(0L), Literal(0L)),
        Literal(1), Literal(0))
      val dense = If(
        Or(EqualTo(Size(keys), Literal(0)), LessThan(mx, mn)),
        emptyLongs,
        new Sequence(mn, mx, Some(Literal(1L))))
      MapFromArrays(dense,
        ArrayTransform(dense,
          LambdaFunction(Coalesce(Seq(
            ElementAt(m, k, None, failOnError = false),
            Literal(0))), Seq(k)))) },
    fn("regexpQuoteMeta", 1) { a =>
      RegExpReplace(a.head, Literal("([.^$*+?()\\[\\]{}|\\\\])"), Literal("\\\\$1")) },
    fn("mapFromArrays", 2) { a => MapFromArrays(a.head, a(1)) },
    fn("toLastDayOfMonth", 1) { a => LastDay(a.head) },
    // toInterval* constructors -> make_interval fields (CH returns an
    // interval usable in date arithmetic; same here)
    fn("toIntervalYear", 1) { a => MakeInterval(a.head, z, z, z, z, z, zd) },
    fn("toIntervalMonth", 1) { a => MakeInterval(z, a.head, z, z, z, z, zd) },
    fn("toIntervalWeek", 1) { a => MakeInterval(z, z, a.head, z, z, z, zd) },
    fn("toIntervalDay", 1) { a => MakeInterval(z, z, z, a.head, z, z, zd) },
    fn("toIntervalHour", 1) { a => MakeInterval(z, z, z, z, a.head, z, zd) },
    fn("toIntervalMinute", 1) { a => MakeInterval(z, z, z, z, z, a.head, zd) },
    fn("toIntervalSecond", 1) { a =>
      MakeInterval(z, z, z, z, z, z, Cast(a.head, DecimalType(18, 6))) },
    // first-match replace (Spark builtins replace ALL): codegen'd kernels
    fn("replaceOne", 3) { a => ValueExpressions.ReplaceOne(a.head, a(1), a(2)) },
    fn("replaceRegexpOne", 3) { a => ValueExpressions.ReplaceRegexpOne(a.head, a(1), a(2)) },
    // polymorphic emptiness probe (string/binary/array/map)
    fn("empty", 1) { a => ValueExpressions.ChEmpty(a.head) },
    fn("notEmpty", 1) { a => Not(ValueExpressions.ChEmpty(a.head)) },
    fn("bitCount", 1) { a => BitwiseCount(a.head) },

    // ---- JSON extraction (CH key args → $.path) ----
    fn("JSONExtractString", 2) { a =>
      GetJsonObject(a.head, Literal("$." + litString(a(1), "JSONExtractString"))) },
    fn("JSONExtractInt", 2) { a =>
      Cast(GetJsonObject(a.head, Literal("$." + litString(a(1), "JSONExtractInt"))), LongType) },
    fn("JSONExtractFloat", 2) { a =>
      Cast(GetJsonObject(a.head, Literal("$." + litString(a(1), "JSONExtractFloat"))), DoubleType) },
    fn("JSONExtractBool", 2) { a =>
      Cast(GetJsonObject(a.head, Literal("$." + litString(a(1), "JSONExtractBool"))), BooleanType) },
    fn("JSONExtractRaw", 2) { a =>
      GetJsonObject(a.head, Literal("$." + litString(a(1), "JSONExtractRaw"))) },
    fn("JSONHas", 2) { a =>
      IsNotNull(GetJsonObject(a.head, Literal("$." + litString(a(1), "JSONHas")))) },
    fn("JSONLength", 1) { a => LengthOfJsonArray(a.head) },
    // SQL-standard JSON spellings CH also accepts: the PATH argument is
    // already JSONPath ('$.a[0]'), passed through verbatim, evaluated by
    // GetJsonObject. DOCUMENTED DEVIATIONS from CH's exact output shape:
    // CH JSON_QUERY wraps matches in a JSON array ('["world"]') and both
    // CH spellings return '' (empty string) on a miss where these return
    // NULL; and JSON_EXISTS cannot distinguish a key holding JSON null
    // from an absent key (GetJsonObject returns NULL for both — CH
    // returns 1 for the former; same limitation as the JSONHas mapping).
    // The extraction semantics (which value a path selects) match.
    fn("JSON_VALUE", 2) { a =>
      GetJsonObject(a.head, Cast(a(1), StringType)) },
    fn("JSON_QUERY", 2) { a =>
      GetJsonObject(a.head, Cast(a(1), StringType)) },
    fn("JSON_EXISTS", 2) { a =>
      IsNotNull(GetJsonObject(a.head, Cast(a(1), StringType))) },
    fn("JSONArrayLength", 1) { a => LengthOfJsonArray(a.head) },
    // strict RFC-8259 whole-document validation (CHValues kernel;
    // DuckDB json_valid is the independent oracle)
    fn("isValidJSON", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, BooleanType, "isValidJson",
        Seq(Cast(a.head, StringType)), Seq(StringType)) },

    // ---- math spellings ----
    fn("exp2", 1) { a => Pow(Literal(2.0), Cast(a.head, DoubleType)) },
    fn("exp10", 1) { a => Pow(Literal(10.0), Cast(a.head, DoubleType)) },
    fnVar("roundBankers", 1) { a => BRound(a.head, a.lift(1).getOrElse(Literal(0))) },
    fn("negate", 1) { a => UnaryMinus(a.head) },
    // BFloat16 rides the wire as UInt16 raw bits (reference
    // arrow/types.rs:527-529: "Arrow doesn't have BFloat16 natively");
    // these convert bits <-> Float32. StaticInvoke is codegen'd.
    fn("toBFloat16", 1) { a =>
      // truncating round (drop the low 16 mantissa bits), like the cast
      // the reference documents for the raw-bits representation
      Cast(BitwiseAnd(
        ShiftRight(
          org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
            classOf[java.lang.Float], IntegerType, "floatToRawIntBits",
            Seq(Cast(a.head, FloatType)), Seq(FloatType)),
          Literal(16)),
        Literal(0xFFFF)), IntegerType) },
    fn("bfloat16ToFloat32", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[java.lang.Float], FloatType, "intBitsToFloat",
        Seq(ShiftLeft(Cast(a.head, IntegerType), Literal(16))), Seq(IntegerType)) },

    // ---- tuples and maps ----
    fnVar("tuple", 1) { a => CreateStruct(a) },
    fn("tupleElement", 2) { a =>
      a(1) match {
        case Literal(n, ByteType | ShortType | IntegerType | LongType) =>
          // CH 1-based ordinal → CreateStruct's auto names col1..colN
          UnresolvedExtractValue(a.head, Literal("col" + n.toString))
        case other => UnresolvedExtractValue(a.head, other)
      } },
    fn("mapKeys", 1) { a => MapKeys(a.head) },
    fn("mapValues", 1) { a => MapValues(a.head) },
    fn("mapContains", 2) { a => ArrayContains(MapKeys(a.head), a(1)) },

    // ---- UUID / IP transport spellings → the graft native expressions
    // (same binary layout the connector's FixedSizeBinary transport uses) ----
    fn("UUIDStringToNum", 1) { a => ValueExpressions.UuidBinary(a.head) },
    fn("UUIDNumToString", 1) { a => ValueExpressions.UuidString(a.head) },
    fn("IPv6StringToNum", 1) { a => ValueExpressions.Ipv6Binary(a.head) },
    fn("IPv6NumToString", 1) { a => ValueExpressions.Ipv6String(a.head) },
    fn("IPv4StringToNum", 1) { a =>
      Cast(Conv(Hex(ValueExpressions.Ipv4Binary(a.head)), Literal(16), Literal(10)), LongType) },
    fn("IPv4NumToString", 1) { a =>
      ValueExpressions.Ipv4String(Unhex(new StringLPad(Hex(a.head), Literal(8), Literal("0")))) },
    fn("generateUUIDv4", 0) { _ => new Uuid() },

    // ---- weighted average + more -If combinators ----
    fn("avgWeighted", 2) { a =>
      Divide(
        Sum(Multiply(Cast(a.head, DoubleType), Cast(a(1), DoubleType))).toAggregateExpression(),
        Sum(Cast(a(1), DoubleType)).toAggregateExpression()) },
    fn("uniqIf", 2) { a =>
      new HyperLogLogPlusPlus(If(a(1), a.head, Literal(null, NullType))) },
    fn("uniqExactIf", 2) { a =>
      Size(CollectSet(If(a(1), a.head, Literal(null, NullType))).toAggregateExpression()) },
    fn("sumIfOrNull", 2) { a => Sum(If(a(1), a.head, Literal(null, NullType))) },

    // ---- window-function spellings (attach OVER (...) as usual) ----
    fnVar("lagInFrame", 1) { a =>
      if (a.length >= 3) Lag(a.head, a(1), a(2), ignoreNulls = false)
      else if (a.length == 2) Lag(a.head, a(1), Literal(null), ignoreNulls = false)
      else Lag(a.head, Literal(1), Literal(null), ignoreNulls = false) },
    fnVar("leadInFrame", 1) { a =>
      if (a.length >= 3) Lead(a.head, a(1), a(2), ignoreNulls = false)
      else if (a.length == 2) Lead(a.head, a(1), Literal(null), ignoreNulls = false)
      else Lead(a.head, Literal(1), Literal(null), ignoreNulls = false) },

    // ---- interval-aligned truncation ----
    fn("toStartOfFiveMinutes", 1) { a => floorToSeconds(a.head, 300L) },
    fn("toStartOfTenMinutes", 1) { a => floorToSeconds(a.head, 600L) },
    fn("toStartOfFifteenMinutes", 1) { a => floorToSeconds(a.head, 900L) },
    fn("toStartOfInterval", 2) { a => toStartOfInterval(a.head, a(1)) },

    // ---- safe-cast families (CH *OrNull / *OrZero) ----
    fn("toInt8OrNull", 1) { a => tryCast(a.head, ByteType) },
    fn("toInt16OrNull", 1) { a => tryCast(a.head, ShortType) },
    fn("toInt32OrNull", 1) { a => tryCast(a.head, IntegerType) },
    fn("toInt64OrNull", 1) { a => tryCast(a.head, LongType) },
    fn("toFloat32OrNull", 1) { a => tryCast(a.head, FloatType) },
    fn("toFloat64OrNull", 1) { a => tryCast(a.head, DoubleType) },
    fn("toDateOrNull", 1) { a => tryCast(a.head, DateType) },
    fn("toDateTimeOrNull", 1) { a => tryCast(a.head, TimestampType) },
    fn("toInt8OrZero", 1) { a => Coalesce(Seq(tryCast(a.head, ByteType), Literal(0.toByte))) },
    fn("toInt16OrZero", 1) { a => Coalesce(Seq(tryCast(a.head, ShortType), Literal(0.toShort))) },
    fn("toInt32OrZero", 1) { a => Coalesce(Seq(tryCast(a.head, IntegerType), Literal(0))) },
    fn("toInt64OrZero", 1) { a => Coalesce(Seq(tryCast(a.head, LongType), Literal(0L))) },
    fn("toFloat32OrZero", 1) { a => Coalesce(Seq(tryCast(a.head, FloatType), Literal(0.0f))) },
    fn("toFloat64OrZero", 1) { a => Coalesce(Seq(tryCast(a.head, DoubleType), Literal(0.0))) },

    // ---- decimal conversions (CH toDecimalN(x, scale)) ----
    fn("toDecimal32", 2) { a =>
      Cast(a.head, DecimalType(9, litInt(a(1), "toDecimal32"))) },
    fn("toDecimal64", 2) { a =>
      Cast(a.head, DecimalType(18, litInt(a(1), "toDecimal64"))) },
    fn("toDecimal128", 2) { a =>
      Cast(a.head, DecimalType(38, litInt(a(1), "toDecimal128"))) },

    // ---- URL functions (CH URL family → parse_url; CH returns '' for
    // absent parts, parse_url returns NULL — coalesce to match) ----
    fn("protocol", 1) { a => emptyIfNull(ParseUrl(Seq(a.head, Literal("PROTOCOL")), false)) },
    fn("domain", 1) { a => emptyIfNull(ParseUrl(Seq(a.head, Literal("HOST")), false)) },
    fn("domainWithoutWWW", 1) { a =>
      emptyIfNull(RegExpReplace(
        ParseUrl(Seq(a.head, Literal("HOST")), false), Literal("^www\\."), Literal(""))) },
    fn("topLevelDomain", 1) { a =>
      emptyIfNull(RegExpExtract(
        ParseUrl(Seq(a.head, Literal("HOST")), false), Literal("\\.([^.]+)$"), Literal(1))) },
    fn("path", 1) { a => emptyIfNull(ParseUrl(Seq(a.head, Literal("PATH")), false)) },
    fn("pathFull", 1) { a =>
      Concat(Seq(
        emptyIfNull(ParseUrl(Seq(a.head, Literal("PATH")), false)),
        If(IsNull(ParseUrl(Seq(a.head, Literal("QUERY")), false)), Literal(""),
          Concat(Seq(Literal("?"), ParseUrl(Seq(a.head, Literal("QUERY")), false)))))) },
    fn("queryString", 1) { a => emptyIfNull(ParseUrl(Seq(a.head, Literal("QUERY")), false)) },
    fn("fragment", 1) { a => emptyIfNull(ParseUrl(Seq(a.head, Literal("REF")), false)) },
    fn("extractURLParameter", 2) { a =>
      emptyIfNull(ParseUrl(Seq(a.head, Literal("QUERY"), a(1)), false)) },
    fn("cutQueryString", 1) { a =>
      RegExpReplace(a.head, Literal("\\?[^#]*"), Literal("")) },
    fn("cutFragment", 1) { a =>
      RegExpReplace(a.head, Literal("#.*$"), Literal("")) },

    // ---- geo distance (CH greatCircleDistance/geoDistance: meters
    // between (lon1,lat1),(lon2,lat2); haversine on the builtin trig
    // expressions — stays inside whole-stage codegen) ----
    fn("greatCircleDistance", 4) { a => haversineMeters(a, 6371000.0) },
    fn("geoDistance", 4) { a => haversineMeters(a, 6372797.560856) },

    // ---- array math (CH neighbors/prefix-sum shapes, O(n)) ----
    fn("arrayDifference", 1) { a =>
      // [0, a1-a0, a2-a1, ...]: zip the array against itself shifted one
      // right (first element pairs with itself → leading 0)
      val x = UnresolvedNamedLambdaVariable(Seq("ch_x_"))
      val y = UnresolvedNamedLambdaVariable(Seq("ch_y_"))
      val shifted = Concat(Seq(
        CreateArray(Seq(ElementAt(a.head, Literal(1), None, failOnError = false))),
        Slice(a.head, Literal(1), Subtract(Size(a.head), Literal(1)))))
      If(EqualTo(Size(a.head), Literal(0)), a.head,
        ZipWith(a.head, shifted, LambdaFunction(Subtract(x, y), Seq(x, y)))) },
    fn("arrayCumSum", 1) { a =>
      // running prefix sums via aggregate(): acc carries the sums so far,
      // each step appends last+x (bounded-array assumption, like CH)
      val acc = UnresolvedNamedLambdaVariable(Seq("ch_acc_"))
      val x = UnresolvedNamedLambdaVariable(Seq("ch_x_"))
      val out = UnresolvedNamedLambdaVariable(Seq("ch_out_"))
      ArrayAggregate(a.head, Slice(a.head, Literal(1), Literal(0)),
        LambdaFunction(
          Concat(Seq(acc, CreateArray(Seq(Add(
            Coalesce(Seq(ElementAt(acc, Literal(-1), None, failOnError = false), Literal(0))),
            x))))),
          Seq(acc, x)),
        LambdaFunction(out, Seq(out))) },
    fn("bitTest", 2) { a =>
      Cast(BitwiseAnd(ShiftRight(a.head, Cast(a(1), IntegerType)), Literal(1)), ByteType) },
    fn("intExp2", 1) { a => ShiftLeft(Literal(1L), Cast(a.head, IntegerType)) },
    fn("intExp10", 1) { a =>
      Cast(Pow(Literal(10.0), Cast(a.head, DoubleType)), LongType) },
    fn("ifNotFinite", 2) { a =>
      val d = Cast(a.head, DoubleType)
      If(Or(IsNaN(d), Or(EqualTo(d, Literal(Double.PositiveInfinity)),
        EqualTo(d, Literal(Double.NegativeInfinity)))), a(1), a.head) },

    // ---- string tokenizers / search ----
    fn("splitByString", 2) { a =>
      StringSplit(a(1), Literal(java.util.regex.Pattern.quote(litString(a.head, "splitByString"))),
        Literal(-1)) },
    fn("splitByRegexp", 2) { a => StringSplit(a(1), a.head, Literal(-1)) },
    fn("alphaTokens", 1) { a =>
      RegExpExtractAll(a.head, Literal("[A-Za-z]+"), Literal(0)) },
    fn("tokens", 1) { a =>
      RegExpExtractAll(a.head, Literal("[\\p{L}\\p{N}_]+"), Literal(0)) },
    // hasToken(h, 'tok'): whole-token containment under the SAME
    // tokenizer as `tokens` above — [\p{L}\p{N}_]+, i.e. Unicode
    // letters/digits plus underscore. DOCUMENTED DEVIATION: CH's token
    // alphabet is ASCII-alphanumeric only (underscore and non-ASCII
    // letters are separators there; CH would even reject a needle
    // containing '_'); this library keeps ONE tokenizer across
    // tokens()/hasToken rather than two subtly different ones. The
    // constant-needle / no-separator-chars rule is enforced loudly
    // against OUR alphabet.
    fn("hasToken", 2) { a =>
      val tok = litString(a(1), "hasToken")
      require(tok.nonEmpty && tok.forall(c =>
        Character.isLetterOrDigit(c) || c == '_'),
        s"hasToken: token '$tok' must be non-empty with no separator characters")
      ArrayContains(
        RegExpExtractAll(a.head, Literal("[\\p{L}\\p{N}_]+"), Literal(0)),
        a(1)) },
    // ngrams(s, n): character n-grams, 1-based sliding window; shorter-
    // than-n input yields an empty array (the Slice-empty range() trick)
    fn("ngrams", 2) { a =>
      val i = UnresolvedNamedLambdaVariable(Seq("ng_i"))
      val last = Subtract(Add(Length(a.head), Literal(1)), Cast(a(1), IntegerType))
      ArrayTransform(
        If(LessThan(last, Literal(1)),
          Slice(new Sequence(Literal(1), Literal(1)), Literal(1), Literal(0)),
          new Sequence(Literal(1), last)),
        LambdaFunction(Substring(a.head, i, Cast(a(1), IntegerType)), Seq(i))) },
    // CH extractAll uses capture group 1 when the pattern has one; this
    // alias extracts the WHOLE match — spell the group explicitly if needed
    fn("extractAll", 2) { a => RegExpExtractAll(a.head, a(1), Literal(0)) },
    fn("countSubstrings", 2) { a =>
      If(EqualTo(Length(a(1)), Literal(0)), Literal(0L),
        IntegralDivide(
          Subtract(Length(a.head), Length(StringReplace(a.head, a(1), Literal("")))),
          Length(a(1)))) },
    fn("concatWithSeparator", 3) { a => ConcatWs(Seq(a.head, a(1), a(2))) },
    fn("positionCaseInsensitive", 2) { a =>
      new StringLocate(Lower(a(1)), Lower(a.head)) },
    fn("appendTrailingCharIfAbsent", 2) { a =>
      If(EndsWith(a.head, a(1)), a.head, Concat(Seq(a.head, a(1)))) },

    // ---- more date conversions ----
    fn("timeSlot", 1) { a => floorToSeconds(a.head, 1800L) },
    fn("YYYYMMDDToDate", 1) { a =>
      tryCast(new ParseToDate(Cast(a.head, StringType), Literal("yyyyMMdd")), DateType) },
    fn("YYYYMMDDhhmmssToDateTime", 1) { a =>
      tryCast(new ParseToTimestamp(Cast(a.head, StringType), Literal("yyyyMMddHHmmss")),
        TimestampType) },

    // ---- round-8 tail: common CH spellings still unmapped after the
    // corpus harvest (sub-day add/subtract arithmetic, number theory,
    // bit tests/rotates, array folds, readable formatters, URL domain
    // heuristics, type introspection). All composites over builtin
    // codegen'd expressions except gcd/lcm (StaticInvoke kernels) and
    // toTypeName (foldable constant). `transform` and `monthname` are
    // NOT aliased — Spark owns those names. ----
    fn("addHours", 2) { a =>
      TimestampAdd("HOUR", a(1), Cast(a.head, TimestampType)) },
    fn("subtractHours", 2) { a =>
      TimestampAdd("HOUR", UnaryMinus(a(1)), Cast(a.head, TimestampType)) },
    fn("addMinutes", 2) { a =>
      TimestampAdd("MINUTE", a(1), Cast(a.head, TimestampType)) },
    fn("subtractMinutes", 2) { a =>
      TimestampAdd("MINUTE", UnaryMinus(a(1)), Cast(a.head, TimestampType)) },
    fn("addSeconds", 2) { a =>
      TimestampAdd("SECOND", a(1), Cast(a.head, TimestampType)) },
    fn("subtractSeconds", 2) { a =>
      TimestampAdd("SECOND", UnaryMinus(a(1)), Cast(a.head, TimestampType)) },
    fn("addQuarters", 2) { a => AddMonths(a.head, Multiply(a(1), Literal(3))) },
    fn("subtractQuarters", 2) { a => AddMonths(a.head, Multiply(a(1), Literal(-3))) },
    fn("subtractWeeks", 2) { a => DateAdd(a.head, Multiply(a(1), Literal(-7))) },
    fn("toYYYYMMDDhhmmss", 1) { a =>
      Cast(DateFormatClass(Cast(a.head, TimestampType), Literal("yyyyMMddHHmmss")),
        LongType) },
    // CH dateName('unit', d): the unit's calendar NAME (month/weekday)
    // or its number rendered as a string (everything else)
    fn("dateName", 2) { a =>
      val t = Cast(a(1), TimestampType)
      def fmt(p: String) = DateFormatClass(t, Literal(p))
      litString(a.head, "dateName").toLowerCase(java.util.Locale.ROOT) match {
        case "year" => fmt("yyyy")
        case "quarter" => Cast(Quarter(t), StringType)
        case "month" => fmt("MMMM")
        case "week" => Cast(WeekOfYear(Cast(t, DateType)), StringType)
        case "dayofyear" => fmt("D")
        case "day" => fmt("d")
        case "weekday" => fmt("EEEE")
        case "hour" => fmt("H")
        case "minute" => fmt("m")
        case "second" => fmt("s")
        case u => throw new IllegalArgumentException(s"dateName: unsupported unit '$u'")
      } },
    // arrayProduct returns Float64, like CH
    fn("arrayProduct", 1) { a =>
      val acc = UnresolvedNamedLambdaVariable(Seq("ch_acc_"))
      val x = UnresolvedNamedLambdaVariable(Seq("ch_x_"))
      val out = UnresolvedNamedLambdaVariable(Seq("ch_out_"))
      ArrayAggregate(a.head, Literal(1.0d),
        LambdaFunction(Multiply(acc, Cast(x, DoubleType)), Seq(acc, x)),
        LambdaFunction(out, Seq(out))) },
    // running sum clamped at zero (CH: negative partial sums reset to 0)
    fn("arrayCumSumNonNegative", 1) { a =>
      val acc = UnresolvedNamedLambdaVariable(Seq("ch_acc_"))
      val x = UnresolvedNamedLambdaVariable(Seq("ch_x_"))
      val out = UnresolvedNamedLambdaVariable(Seq("ch_out_"))
      ArrayAggregate(a.head, Slice(a.head, Literal(1), Literal(0)),
        LambdaFunction(
          Concat(Seq(acc, CreateArray(Seq(Greatest(Seq(Literal(0), Add(
            Coalesce(Seq(ElementAt(acc, Literal(-1), None, failOnError = false), Literal(0))),
            x))))))),
          Seq(acc, x)),
        LambdaFunction(out, Seq(out))) },
    fn("countEqual", 2) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("ch_x_"))
      Cast(Size(ArrayFilter(a.head,
        LambdaFunction(EqualNullSafe(x, a(1)), Seq(x)))), LongType) },
    fnVar("bitTestAll", 2) { a =>
      a.tail.map(p => EqualTo(BitwiseAnd(ShiftRight(a.head, Cast(p, IntegerType)),
        Literal(1L)), Literal(1L))).reduce(And.apply) },
    fnVar("bitTestAny", 2) { a =>
      a.tail.map(p => EqualTo(BitwiseAnd(ShiftRight(a.head, Cast(p, IntegerType)),
        Literal(1L)), Literal(1L))).reduce(Or.apply) },
    // 64-bit rotates (Java shift semantics mask the count mod 64, the
    // same wraparound CH's UInt64 rotate has)
    fn("bitRotateLeft", 2) { a =>
      val x = Cast(a.head, LongType)
      val n = Cast(a(1), IntegerType)
      BitwiseOr(ShiftLeft(x, n), ShiftRightUnsigned(x, Subtract(Literal(64), n))) },
    fn("bitRotateRight", 2) { a =>
      val x = Cast(a.head, LongType)
      val n = Cast(a(1), IntegerType)
      BitwiseOr(ShiftRightUnsigned(x, n), ShiftLeft(x, Subtract(Literal(64), n))) },
    // largest power of two <= x (0 below 1), exact in integer space
    fn("roundToExp2", 1) { a =>
      val d = Cast(a.head, DoubleType)
      If(LessThan(d, Literal(1.0)), Literal(0L),
        ShiftLeft(Literal(1L), Cast(Floor(Log2(d)), IntegerType))) },
    fn("gcd", 2) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        MathKernels.getClass, LongType, "gcd",
        Seq(Cast(a.head, LongType), Cast(a(1), LongType)), Seq(LongType, LongType)) },
    fn("lcm", 2) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        MathKernels.getClass, LongType, "lcm",
        Seq(Cast(a.head, LongType), Cast(a(1), LongType)), Seq(LongType, LongType)) },
    // CH display formatters: IEC byte ladder / SI quantity ladder, two
    // decimals, matching formatReadableSize/Quantity's rendering
    fn("formatReadableSize", 1) { a =>
      val d = Cast(a.head, DoubleType)
      def r(div: Double, unit: String) =
        Concat(Seq(FormatString(Literal("%.2f") +: Seq(Divide(d, Literal(div))): _*),
          Literal(unit)))
      CaseWhen(Seq(
        (LessThan(d, Literal(1024.0)), r(1, " B")),
        (LessThan(d, Literal(1048576.0)), r(1024.0, " KiB")),
        (LessThan(d, Literal(1073741824.0)), r(1048576.0, " MiB")),
        (LessThan(d, Literal(1099511627776.0)), r(1073741824.0, " GiB"))),
        r(1099511627776.0, " TiB")) },
    fn("formatReadableQuantity", 1) { a =>
      val d = Cast(a.head, DoubleType)
      def r(div: Double, unit: String) =
        Concat(Seq(FormatString(Literal("%.2f") +: Seq(Divide(d, Literal(div))): _*),
          Literal(unit)))
      CaseWhen(Seq(
        (LessThan(d, Literal(1000.0)), r(1, "")),
        (LessThan(d, Literal(1000000.0)), r(1000.0, " thousand")),
        (LessThan(d, Literal(1000000000.0)), r(1000000.0, " million")),
        (LessThan(d, Literal(1000000000000.0)), r(1000000000.0, " billion"))),
        r(1000000000000.0, " trillion")) },
    // netloc: the authority part (everything between the scheme and the
    // first /?#), scheme optional — reference users feed both forms
    fn("netloc", 1) { a =>
      RegExpExtract(a.head,
        Literal("^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*).*"), Literal(1)) },
    // firstSignificantSubdomain: the label left of the public suffix,
    // with CH's own short-suffix heuristic (com/net/org/co/edu/gov
    // before a 2-letter cctld count as part of the suffix). NAIVE vs a
    // full public-suffix list, like CH's documented behavior.
    fn("firstSignificantSubdomain", 1) { a =>
      val host = ParseUrl(Seq(
        If(RLike(a.head, Literal("^[a-zA-Z][a-zA-Z0-9+.-]*://")), a.head,
          Concat(Seq(Literal("http://"), a.head))), Literal("HOST")), failOnError = false)
      val ls = StringSplit(host, Literal("[.]"), Literal(-1))
      val n = Size(ls)
      val secondLast = ElementAt(ls, Subtract(n, Literal(1)), None, failOnError = false)
      val penult = In(secondLast,
        Seq("com", "net", "org", "co", "edu", "gov", "mil", "ac").map(Literal(_)))
      If(And(GreaterThanOrEqual(n, Literal(3)), penult),
        ElementAt(ls, Subtract(n, Literal(2)), None, failOnError = false),
        If(GreaterThanOrEqual(n, Literal(2)),
          ElementAt(ls, Subtract(n, Literal(1)), None, failOnError = false), host)) },
    fn("toTypeName", 1) { a => ChTypeName(a.head) },

    // ---- round-8 second harvest (array search/rotate, sub-second and
    // year-zero date math, UTF-8 normalization/validation, erf/gamma
    // specials via commons-math3 StaticInvoke, *Stable aggregate
    // spellings, arrayReduce dispatch). `monthname`/`median`/`mode` are
    // NOT aliased — Spark owns those names. ----

    // CH arrayLast(f, arr): LAST element satisfying f. Like arrayFirst,
    // the no-match result is NULL (nearest Spark semantic to CH's
    // type-default).
    fn("arrayLast", 2) { a =>
      val (body, vars) = userLambda(a.head, "arrayLast")
      val acc = UnresolvedNamedLambdaVariable(Seq("ch_acc_"))
      val out = UnresolvedNamedLambdaVariable(Seq("ch_out_"))
      ArrayAggregate(a(1), Slice(a(1), Literal(1), Literal(0)),
        LambdaFunction(
          If(body, CreateArray(Seq(vars.head)), acc), Seq(acc) ++ vars),
        LambdaFunction(
          ElementAt(out, Literal(-1), None, failOnError = false), Seq(out))) },
    // 1-based index of the first/last match, 0 when nothing matches (CH)
    fn("arrayFirstIndex", 2) { a => arrayMatchIndex(a, first = true) },
    fn("arrayLastIndex", 2) { a => arrayMatchIndex(a, first = false) },
    // rank of each element's FIRST occurrence, in order of appearance
    fn("arrayEnumerateDense", 1) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("ch_x_"))
      ArrayTransform(a.head,
        LambdaFunction(ArrayPosition(ArrayDistinct(a.head), x), Seq(x))) },
    // contiguous-subsequence containment (CH hasSubstr)
    fn("hasSubstr", 2) { a =>
      val na = Size(a.head)
      val nb = Size(a(1))
      val i = UnresolvedNamedLambdaVariable(Seq("ch_i_"))
      If(EqualTo(nb, Literal(0)), Literal(true),
        If(GreaterThan(nb, na), Literal(false),
          ArrayExists(
            Sequence(Literal(1), Add(Subtract(na, nb), Literal(1)), None),
            LambdaFunction(EqualNullSafe(Slice(a.head, i, nb), a(1)), Seq(i))))) },
    fn("arrayRotateLeft", 2) { a => arrayRotate(a.head, a(1)) },
    fn("arrayRotateRight", 2) { a => arrayRotate(a.head, UnaryMinus(a(1))) },
    fnVar("arrayShiftLeft", 2) { a =>
      arrayShift(a.head, a(1), a.lift(2)) },
    fnVar("arrayShiftRight", 2) { a =>
      arrayShift(a.head, UnaryMinus(a(1)), a.lift(2)) },
    // CH arrayPartialSort(limit, arr): the first `limit` positions are
    // the sorted prefix, the REST is explicitly unspecified order — a
    // full sort is a conforming implementation, and it keeps the result
    // deterministic for the oracle
    fn("arrayPartialSort", 2) { a => new SortArray(a(1), Literal(true)) },
    fn("arrayPartialReverseSort", 2) { a => new SortArray(a(1), Literal(false)) },
    // arrayReduce('agg', arr): literal-dispatched onto the matching
    // array spelling (composed via UnresolvedFunction so each target
    // resolves through this same registry)
    fn("arrayReduce", 2) { a =>
      import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      litString(a.head, "arrayReduce").toLowerCase(java.util.Locale.ROOT) match {
        case "sum" => UnresolvedFunction(Seq("arraySum"), Seq(a(1)), isDistinct = false)
        case "min" => ArrayMin(a(1))
        case "max" => ArrayMax(a(1))
        case "avg" => UnresolvedFunction(Seq("arrayAvg"), Seq(a(1)), isDistinct = false)
        case "product" => UnresolvedFunction(Seq("arrayProduct"), Seq(a(1)), isDistinct = false)
        case "count" => Cast(Size(a(1)), LongType)
        case "any" => ElementAt(a(1), Literal(1), None, failOnError = false)
        case "anylast" => ElementAt(a(1), Literal(-1), None, failOnError = false)
        case "uniq" | "uniqexact" => Cast(Size(ArrayDistinct(a(1))), LongType)
        case other => throw new IllegalArgumentException(
          s"arrayReduce: unsupported aggregate '$other'")
      } },

    // ---- sub-second / year-zero date math ----
    fn("toStartOfSecond", 1) { a =>
      TruncTimestamp(Literal("second"), Cast(a.head, TimestampType)) },
    fn("toStartOfMillisecond", 1) { a =>
      TruncTimestamp(Literal("millisecond"), Cast(a.head, TimestampType)) },
    fn("toStartOfMicrosecond", 1) { a =>
      TruncTimestamp(Literal("microsecond"), Cast(a.head, TimestampType)) },
    fn("toMillisecond", 1) { a =>
      Cast(Pmod(IntegralDivide(
        UnixMicros(Cast(a.head, TimestampType)), Literal(1000L)),
        Literal(1000L)), IntegerType) },
    fn("addMilliseconds", 2) { a =>
      TimestampAdd("MILLISECOND", a(1), Cast(a.head, TimestampType)) },
    fn("subtractMilliseconds", 2) { a =>
      TimestampAdd("MILLISECOND", UnaryMinus(a(1)), Cast(a.head, TimestampType)) },
    fn("addMicroseconds", 2) { a =>
      TimestampAdd("MICROSECOND", a(1), Cast(a.head, TimestampType)) },
    fn("subtractMicroseconds", 2) { a =>
      TimestampAdd("MICROSECOND", UnaryMinus(a(1)), Cast(a.head, TimestampType)) },
    // proleptic-Gregorian day counts anchored at 0000-01-01 (epoch day
    // 1970-01-01 is day 719528 — CH toDaysSinceYearZero docs) and the
    // Modified Julian Day anchor (epoch = MJD 40587)
    fn("toDaysSinceYearZero", 1) { a =>
      Add(Cast(DateDiff(Cast(a.head, DateType), Literal(0, DateType)), LongType),
        Literal(719528L)) },
    fn("fromDaysSinceYearZero", 1) { a =>
      DateAdd(Literal(0, DateType),
        Cast(Subtract(Cast(a.head, LongType), Literal(719528L)), IntegerType)) },
    fn("toModifiedJulianDay", 1) { a =>
      Add(Cast(DateDiff(Cast(a.head, DateType), Literal(0, DateType)), LongType),
        Literal(40587L)) },
    fn("fromModifiedJulianDay", 1) { a =>
      DateAdd(Literal(0, DateType),
        Cast(Subtract(Cast(a.head, LongType), Literal(40587L)), IntegerType)) },
    // DateTime64 epoch extractors; micros is the engine precision, so
    // the Nano forms carry/expect exact multiples of 1000
    fn("toUnixTimestamp64Milli", 1) { a =>
      UnixMillis(Cast(a.head, TimestampType)) },
    fn("toUnixTimestamp64Micro", 1) { a =>
      UnixMicros(Cast(a.head, TimestampType)) },
    fn("toUnixTimestamp64Nano", 1) { a =>
      Multiply(UnixMicros(Cast(a.head, TimestampType)), Literal(1000L)) },
    fn("fromUnixTimestamp64Milli", 1) { a => MillisToTimestamp(a.head) },
    fn("fromUnixTimestamp64Micro", 1) { a => MicrosToTimestamp(a.head) },
    fn("fromUnixTimestamp64Nano", 1) { a =>
      MicrosToTimestamp(IntegralDivide(a.head, Literal(1000L))) },
    // now64([precision]) / nowInBlock: micros-precision current instant
    // (the precision hint only affects CH's display scale)
    fnVar("now64", 0) { _ => CurrentTimestamp() },
    fn("nowInBlock", 0) { _ => CurrentTimestamp() },
    // timeSlots(start, duration[, size]): starts of the size-second
    // grid cells intersecting [start, start+duration]
    fnVar("timeSlots", 2) { a =>
      val size = if (a.length >= 3) litInt(a(2), "timeSlots").toLong else 1800L
      require(size > 0, "timeSlots: size must be positive")
      val start = Cast(a.head, TimestampType)
      val stop = TimestampAdd("SECOND", Cast(a(1), IntegerType), start)
      new Sequence(floorToSeconds(start, size), floorToSeconds(stop, size),
        Literal.create(java.time.Duration.ofSeconds(size), DayTimeIntervalType())) },

    // ---- string tail ----
    fn("countMatches", 2) { a => Cast(RegExpCount(a.head, a(1)), LongType) },
    fn("substringIndex", 3) { a => SubstringIndex(a.head, a(1), a(2)) },
    fn("normalizeUTF8NFC", 1) { a => normalizeUtf8(a.head, "NFC") },
    fn("normalizeUTF8NFD", 1) { a => normalizeUtf8(a.head, "NFD") },
    fn("normalizeUTF8NFKC", 1) { a => normalizeUtf8(a.head, "NFKC") },
    fn("normalizeUTF8NFKD", 1) { a => normalizeUtf8(a.head, "NFKD") },
    fn("isValidUTF8", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, BooleanType, "isValidUtf8",
        Seq(Cast(a.head, BinaryType)), Seq(BinaryType)) },
    fn("toValidUTF8", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, StringType, "toValidUtf8",
        Seq(Cast(a.head, BinaryType)), Seq(BinaryType)) },

    // ---- special functions (commons-math3 ships with Spark) ----
    fn("erf", 1) { a => mathSpecial("erf", classOf[org.apache.commons.math3.special.Erf], a.head) },
    fn("erfc", 1) { a => mathSpecial("erfc", classOf[org.apache.commons.math3.special.Erf], a.head) },
    fn("lgamma", 1) { a => mathSpecial("logGamma", classOf[org.apache.commons.math3.special.Gamma], a.head) },
    fn("tgamma", 1) { a => mathSpecial("gamma", classOf[org.apache.commons.math3.special.Gamma], a.head) },

    // ---- aggregate tail ----
    // CH's numerically-stable spellings: Spark's implementations are
    // already the stable (Welford/merge-form) algorithms
    fn("corrStable", 2) { a => Corr(Cast(a.head, DoubleType), Cast(a(1), DoubleType)) },
    fn("covarPopStable", 2) { a => CovPopulation(Cast(a.head, DoubleType), Cast(a(1), DoubleType)) },
    fn("covarSampStable", 2) { a => CovSample(Cast(a.head, DoubleType), Cast(a(1), DoubleType)) },
    fn("stddevPopStable", 1) { a => StddevPop(Cast(a.head, DoubleType)) },
    fn("stddevSampStable", 1) { a => StddevSamp(Cast(a.head, DoubleType)) },
    fn("varPopStable", 1) { a => VariancePop(Cast(a.head, DoubleType)) },
    fn("varSampStable", 1) { a => VarianceSamp(Cast(a.head, DoubleType)) },
    fn("medianExact", 1) { a =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        Seq("quantileExact"), Seq(a.head, Literal(0.5d)), isDistinct = false) },
    // CH sumCount(x) → named (sum, count) tuple
    fn("sumCount", 1) { a =>
      CreateNamedStruct(Seq(
        Literal("sum"), Sum(a.head).toAggregateExpression(),
        Literal("count"), Count(Seq(a.head)).toAggregateExpression())) },
    fn("argMaxIf", 3) { a =>
      MaxBy(a.head, If(a(2), a(1), Literal(null, NullType))) },
    fn("argMinIf", 3) { a =>
      MinBy(a.head, If(a(2), a(1), Literal(null, NullType))) },
    fn("JSONExtractKeys", 1) { a => JsonObjectKeys(a.head) },

    // ---- operator-function spellings (CH exposes every operator as a
    // named function and generated SQL uses them: `equals(a, b)`,
    // `less(x, 3)` …; `plus`/`minus`/`divide`/`modulo` are mapped
    // above) ----
    fn("equals", 2) { a => EqualTo(a.head, a(1)) },
    fn("notEquals", 2) { a => Not(EqualTo(a.head, a(1))) },
    fn("less", 2) { a => LessThan(a.head, a(1)) },
    fn("greater", 2) { a => GreaterThan(a.head, a(1)) },
    fn("lessOrEquals", 2) { a => LessThanOrEqual(a.head, a(1)) },
    fn("greaterOrEquals", 2) { a => GreaterThanOrEqual(a.head, a(1)) },
    fnVar("xor", 2) { a =>
      a.map(e => Cast(e, BooleanType)).reduceLeft[Expression](
        (x, y) => Not(EqualTo(x, y))) },
    fn("notLike", 2) { a => Not(new Like(a.head, a(1))) },
    fn("notILike", 2) { a => Not(new ILike(a.head, a(1))) },

    // ---- combinator tail ----
    // collect_list/set skip NULLs, matching CH's groupArray NULL rule
    fn("groupArrayIf", 2) { a =>
      CollectList(If(a(1), a.head, Literal(null, NullType))) },
    fn("groupUniqArrayIf", 2) { a =>
      CollectSet(If(a(1), a.head, Literal(null, NullType))) },
    fn("uniqCombined64", 1) { a => new HyperLogLogPlusPlus(a.head) },

    // ---- casts and best-effort parsing ----
    fn("toDate32", 1) { a => Cast(a.head, DateType) },
    fn("toDate32OrNull", 1) { a => tryCast(a.head, DateType) },
    fnVar("toDateTime64", 1) { a => Cast(a.head, TimestampType) },
    // accurateCast[OrNull](x, 'CHType'): the §1.2 type mapping applied
    // to a literal CH type name (same table the CAST/:: rescue uses)
    fn("accurateCast", 2) { a => chNamedCast(a, orNull = false) },
    fn("accurateCastOrNull", 2) { a => chNamedCast(a, orNull = true) },
    fn("parseDateTimeBestEffort", 1) { a => Cast(a.head, TimestampType) },
    fn("parseDateTimeBestEffortOrNull", 1) { a => tryCast(a.head, TimestampType) },
    fn("parseDateTime32BestEffort", 1) { a => Cast(a.head, TimestampType) },
    fn("parseDateTime32BestEffortOrNull", 1) { a => tryCast(a.head, TimestampType) },

    // ---- Map-family aggregates: sumMap/minMap/maxMap over parallel
    // (keys, values) arrays or a map column → (sorted keys, per-key
    // aggregate). Composed over collect_list like quantileExact: the
    // group's pairs are collected exactly, so per-group memory is the
    // group's pair count (metric-map cardinalities; the same documented
    // bound as the exact-quantile path). ----
    fnVar("sumMap", 1) { a => mapAggregate(a, "sum") },
    fnVar("minMap", 1) { a => mapAggregate(a, "min") },
    fnVar("maxMap", 1) { a => mapAggregate(a, "max") },

    // ---- CH vector-distance family over the §4.2 static kernels (the
    // embedding fixtures are Array(Float32); the cast widens to the
    // kernels' array<double> input) ----
    fn("dotProduct", 2) { a =>
      VecExpressions.VecDot(vecArg(a.head), vecArg(a(1))) },
    fn("L2Norm", 1) { a => VecExpressions.VecNorm(vecArg(a.head)) },
    fn("L1Norm", 1) { a => VecExpressions.VecUnaryK(vecArg(a.head), "l1Norm") },
    fn("LinfNorm", 1) { a => VecExpressions.VecUnaryK(vecArg(a.head), "linfNorm") },
    fn("L1Distance", 2) { a =>
      VecExpressions.VecBinaryK(vecArg(a.head), vecArg(a(1)), "l1Dist") },
    fn("L2Distance", 2) { a =>
      VecExpressions.VecBinaryK(vecArg(a.head), vecArg(a(1)), "l2Dist") },
    fn("L2SquaredDistance", 2) { a =>
      VecExpressions.VecBinaryK(vecArg(a.head), vecArg(a(1)), "l2SqDist") },
    fn("LinfDistance", 2) { a =>
      VecExpressions.VecBinaryK(vecArg(a.head), vecArg(a(1)), "linfDist") },
    fn("cosineDistance", 2) { a =>
      VecExpressions.VecBinaryK(vecArg(a.head), vecArg(a(1)), "cosineDistance") },

    // ---- third-pass tail: whitespace split, occurrence enumeration,
    // dateTrunc spelling, lambda-first map HOFs, Jaccard ----
    fn("splitByWhitespace", 1) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("ch_w_"))
      ArrayFilter(StringSplit(a.head, Literal("\\s+"), Literal(-1)),
        LambdaFunction(Not(EqualTo(x, Literal(""))), Seq(x))) },
    // 1-based occurrence rank of each element among its equals so far
    fn("arrayEnumerateUniq", 1) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("ch_x_"))
      val i = UnresolvedNamedLambdaVariable(Seq("ch_i_"))
      val y = UnresolvedNamedLambdaVariable(Seq("ch_y_"))
      ArrayTransform(a.head, LambdaFunction(
        Size(ArrayFilter(
          Slice(a.head, Literal(1), Add(i, Literal(1))),
          LambdaFunction(EqualNullSafe(y, x), Seq(y)))),
        Seq(x, i))) },
    // CH dateTrunc('unit', ts) — same order as Spark's date_trunc, only
    // the camelCase spelling differs
    fn("dateTrunc", 2) { a => TruncTimestamp(a.head, Cast(a(1), TimestampType)) },
    // CH map HOFs put the lambda FIRST; mapFilter lands on the builtin
    // (its root IS the higher-order function, as the analyzer requires)
    fn("mapFilter", 2) { a => MapFilter(a(1), a.head) },
    fn("mapExists", 2) { a => mapPredicate(a, all = false) },
    fn("mapAll", 2) { a => mapPredicate(a, all = true) },
    fn("arrayJaccardIndex", 2) { a =>
      val inter = Cast(Size(ArrayIntersect(a.head, a(1))), DoubleType)
      val union = Cast(Size(ArrayDistinct(Concat(Seq(a.head, a(1))))), DoubleType)
      If(EqualTo(union, Literal(0.0d)), Literal(Double.NaN), Divide(inter, union)) },

    // ---- fourth-pass audit tail (89-spelling probe, round 8): keyed
    // array sorts above, forward-fill, flat-JSON extractors, IP
    // validation, canonical rand, deterministic quantile, bar render ----

    // arrayFill(f, arr): where f(x) is false, repeat the previous kept
    // element (the first element always stays); arrayReverseFill scans
    // right-to-left (implemented as reverse ∘ fill ∘ reverse — valid
    // because f sees only the element itself)
    fn("arrayFill", 2) { a => arrayFillExpr(a.head, a(1), reversed = false) },
    fn("arrayReverseFill", 2) { a => arrayFillExpr(a.head, a(1), reversed = true) },
    // CH randCanonical(): uniform [0, 1) — Spark's rand semantics
    // exactly (CH's rand() itself returns UInt32 and is NOT aliased:
    // Spark owns that name with different semantics)
    fn("randCanonical", 0) { _ =>
      new Rand(Literal(scala.util.Random.nextLong()), hideSeed = true) },
    // quantileDeterministic(p)(x, det): the determinism tag only seeds
    // CH's reservoir sampling; the exact percentile is already
    // deterministic, so the tag drops (parameter swap puts p last)
    fn("quantileDeterministic", 3) { a =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        Seq("quantileExact"), Seq(a.head, a(2)), isDistinct = false) },
    fn("medianDeterministic", 2) { a =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        Seq("quantileExact"), Seq(a.head, Literal(0.5d)), isDistinct = false) },
    // IP-literal validation via the native parse expressions in TRY mode
    fn("isIPv4String", 1) { a =>
      IsNotNull(TryEval(ValueExpressions.Ipv4Binary(a.head))) },
    fn("isIPv6String", 1) { a =>
      IsNotNull(TryEval(ValueExpressions.Ipv6Binary(a.head))) },
    // flat-document JSON accessors (simpleJSON* / legacy visitParam*):
    // CH restricts them to top-level fields — $.key on the builtin JSON
    // path engine is a superset of that contract. ExtractRaw returns
    // get_json_object's rendering (objects raw, strings unquoted —
    // documented nearest equivalent).
    fn("simpleJSONExtractString", 2) { a => flatJson(a) },
    fn("visitParamExtractString", 2) { a => flatJson(a) },
    fn("simpleJSONExtractRaw", 2) { a => flatJson(a) },
    fn("visitParamExtractRaw", 2) { a => flatJson(a) },
    fn("simpleJSONExtractInt", 2) { a => Cast(flatJson(a), LongType) },
    fn("visitParamExtractInt", 2) { a => Cast(flatJson(a), LongType) },
    fn("simpleJSONExtractUInt", 2) { a => Cast(flatJson(a), LongType) },
    fn("simpleJSONExtractFloat", 2) { a => Cast(flatJson(a), DoubleType) },
    fn("visitParamExtractFloat", 2) { a => Cast(flatJson(a), DoubleType) },
    fn("simpleJSONExtractBool", 2) { a => Cast(flatJson(a), BooleanType) },
    fn("visitParamExtractBool", 2) { a => Cast(flatJson(a), BooleanType) },
    fn("simpleJSONHas", 2) { a => IsNotNull(flatJson(a)) },
    fn("visitParamHas", 2) { a => IsNotNull(flatJson(a)) },
    // bar(x, min, max[, width=80]): unicode bar of length
    // width·(x−min)/(max−min), clamped; the fractional char uses the
    // eighth-block glyphs like CH's renderer
    fnVar("bar", 3) { a =>
      val widthD = Cast(a.lift(3).getOrElse(Literal(80)), DoubleType)
      val x = Cast(a.head, DoubleType)
      val lo = Cast(a(1), DoubleType)
      val hi = Cast(a(2), DoubleType)
      val w = Multiply(Divide(Subtract(x, lo), Subtract(hi, lo)), widthD)
      val clamped = Least(Seq(Greatest(Seq(w, Literal(0.0d))), widthD))
      val whole = Cast(Floor(clamped), IntegerType)
      val fracIdx = Cast(Floor(Multiply(
        Subtract(clamped, Floor(clamped)), Literal(8.0d))), IntegerType)
      Concat(Seq(
        StringRepeat(Literal("█"), whole),
        If(GreaterThan(fracIdx, Literal(0)),
          Substring(Literal("▏▎▍▌▋▊▉"), fracIdx, Literal(1)),
          Literal("")))) },

    // ---- fifth-pass probe batch (windows, aggregates, casts, dates) ----
    fn("denseRank", 0) { _ => new DenseRank() },
    // Kahan compensation is about float summation error; Spark's Sum over
    // doubles is the same result contract (partial-merge order already
    // unspecified in CH too)
    fn("sumKahan", 1) { a => Sum(Cast(a.head, DoubleType)) },
    // CH sums integers with wraparound; Spark's non-ANSI Sum over longs
    // is the nearest semantic (documented: widths differ past Int64)
    fn("sumWithOverflow", 1) { a => Sum(a.head) },
    fn("uniqTheta", 1) { a => new HyperLogLogPlusPlus(a.head) },
    // deterministic any() (pinned to min) — the -If form keeps the pin
    fn("anyIf", 2) { a => Min(If(a(1), a.head, Literal(null, NullType))) },
    fn("anyLastIf", 2) { a =>
      Last(If(a(1), a.head, Literal(null, NullType)), ignoreNulls = true) },
    // Spark aggregates already return NULL over an empty/all-null input —
    // exactly the -OrNull contract (CH's plain sum returns 0 instead)
    fn("sumOrNull", 1) { a => Sum(a.head) },
    fn("avgOrNull", 1) { a => Average(a.head) },
    fn("minOrNull", 1) { a => Min(a.head) },
    fn("maxOrNull", 1) { a => Max(a.head) },
    // slope between the min-x and max-x points of the group
    fn("boundingRatio", 2) { a =>
      val x = Cast(a.head, DoubleType)
      val y = Cast(a(1), DoubleType)
      Divide(
        Subtract(MaxBy(y, x).toAggregateExpression(),
          MinBy(y, x).toAggregateExpression()),
        Subtract(Max(x).toAggregateExpression(),
          Min(x).toAggregateExpression())) },
    // variadic in CH; extra arguments pass straight through to Concat
    fnVar("concatAssumeInjective", 2) { a => Concat(a) },

    // ---- round-9 probe pass (126-spelling functional audit): string
    // search, demographic rounding, array set ops, map arithmetic,
    // base58, CIDR membership — all composites over builtin codegen'd
    // expressions or StaticInvoke kernels ----
    // leftmost match position among the needles, 0 when none
    fn("multiSearchFirstPosition", 2) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("ms_fp"))
      val p = UnresolvedNamedLambdaVariable(Seq("ms_pp"))
      Coalesce(Seq(
        ArrayMin(ArrayFilter(
          ArrayTransform(a(1),
            LambdaFunction(new StringLocate(x, a.head), Seq(x))),
          LambdaFunction(GreaterThan(p, Literal(0)), Seq(p)))),
        Literal(0))) },
    // ---- round-10 probe pass 8 ----
    // per-needle first position (1-based, 0 when absent), as UInt64s.
    // Positions are CHARACTER-based (StringLocate) where CH counts
    // BYTES — identical on ASCII, documented deviation on multi-byte
    // text (the same note as the jaro mappings; CH's own *UTF8 variants
    // are the character-based spellings).
    fn("multiSearchAllPositions", 2) { a =>
      val x = UnresolvedNamedLambdaVariable(Seq("ms_ap"))
      ArrayTransform(a(1),
        LambdaFunction(Cast(new StringLocate(x, a.head), LongType), Seq(x))) },
    // any map KEY matching the LIKE pattern
    fn("mapContainsKeyLike", 2) { a =>
      val k = UnresolvedNamedLambdaVariable(Seq("mk_like"))
      ArrayExists(MapKeys(a.head),
        LambdaFunction(new Like(k, a(1)), Seq(k))) },
    fn("bitNot", 1) { a => BitwiseNot(a.head) },
    fn("bitHammingDistance", 2) { a =>
      BitwiseCount(BitwiseXor(a.head, a(1))) },
    // CH parseDateTime(str, fmt): MySQL-style %-format — shares the
    // formatDateTime specifier table; unknown specifiers throw rather
    // than parse wrong. failOnError=true: CH parseDateTime THROWS on
    // unparseable input (the OrNull spelling below is the null-safe
    // one); the default ctor would return NULL under ANSI-off and
    // silently collapse the two spellings.
    fn("parseDateTime", 2) { a =>
      new ParseToTimestamp(Cast(a.head, StringType),
        Some(Literal(chFormatToJava(litString(a(1), "parseDateTime")))),
        TimestampType, None, true) },
    fn("parseDateTimeOrNull", 2) { a =>
      // the 5-arg ctor's failOnError=false IS try_to_timestamp
      new ParseToTimestamp(Cast(a.head, StringType),
        Some(Literal(chFormatToJava(litString(a(1), "parseDateTimeOrNull")))),
        TimestampType, None, false) },
    fn("roundDuration", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, LongType, "roundDuration",
        Seq(Cast(a.head, LongType)), Seq(LongType)) },
    fn("roundAge", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, LongType, "roundAge",
        Seq(Cast(a.head, LongType)), Seq(LongType)) },
    fn("javaHash", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, IntegerType, "javaHash",
        Seq(Cast(a.head, StringType)), Seq(StringType)) },
    fn("base58Encode", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, StringType, "base58Encode",
        Seq(Cast(a.head, StringType)), Seq(StringType)) },
    fn("base58Decode", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, StringType, "base58Decode",
        Seq(Cast(a.head, StringType)), Seq(StringType)) },
    fn("isIPAddressInRange", 2) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, BooleanType, "isIpInRange",
        Seq(Cast(a.head, StringType), Cast(a(1), StringType)),
        Seq(StringType, StringType)) },
    fn("arrayDotProduct", 2) { a =>
      VecExpressions.VecDot(vecArg(a.head), vecArg(a(1))) },
    fn("arrayAUC", 2) { a =>
      VecExpressions.VecBinaryK(vecArg(a.head), vecArg(a(1)), "auc") },
    // distinct union, like CH
    fnVar("arrayUnion", 2) { a => ArrayDistinct(Concat(a)) },
    // two-array form: distinct elements not present in both
    fn("arraySymmetricDifference", 2) { a =>
      ArrayDistinct(Concat(Seq(
        ArrayExcept(a.head, a(1)), ArrayExcept(a(1), a.head)))) },
    // CH arrayElement: 1-based, negative = from end; OOB → NULL
    // (documented deviation: CH returns the type default)
    fn("arrayElement", 2) { a =>
      ElementAt(a.head, a(1), None, failOnError = false) },
    // zip with NULL padding to the longest array
    fnVar("arrayZipUnaligned", 2) { a =>
      val g = Greatest(a.map(arr => Cast(Size(arr), LongType)))
      val axis = If(LessThanOrEqual(g, Literal(0L)),
        Slice(new Sequence(Literal(0L), Literal(0L)), Literal(1), Literal(0)),
        new Sequence(Literal(1L), g))
      val i = UnresolvedNamedLambdaVariable(Seq("ch_zu_"))
      ArrayTransform(axis, LambdaFunction(
        CreateStruct(a.map(arr => ElementAt(arr, Cast(i, IntegerType), None,
          failOnError = false))), Seq(i))) },
    fn("mid", 3) { a => Substring(a.head, a(1), a(2)) },
    fnVar("caseWithExpr", 3) { a => CaseKeyWhen(a.head, a.tail) },
    fn("nanOrZero", 1) { a =>
      val d = Cast(a.head, DoubleType)
      If(IsNaN(d), Literal(0.0), d) },
    fn("toIPv4", 1) { a =>
      Cast(Conv(Hex(ValueExpressions.Ipv4Binary(a.head)), Literal(16), Literal(10)), LongType) },
    // map arithmetic over the key UNION (MapZipWith): absent keys count 0
    fn("mapAdd", 2) { a => mapMerge(a.head, a(1), "add") },
    fn("mapSubtract", 2) { a => mapMerge(a.head, a(1), "sub") },
    // m2 overrides m1 on shared keys, union otherwise
    fn("mapUpdate", 2) { a => mapMerge(a.head, a(1), "update") },
    // string prefix up to the first NUL byte
    fn("toStringCutToZero", 1) { a =>
      ElementAt(StringSplit(a.head, Literal("\u0000"), Literal(2)),
        Literal(1), None, failOnError = false) },
    fn("makeDate", 3) { a => MakeDate(a.head, a(1), a(2)) },
    fnVar("makeDateTime", 6) { a =>
      MakeTimestamp(a.head, a(1), a(2), a(3), a(4),
        Cast(a(5), DecimalType(8, 6)), a.lift(6)) },
    // ISO week numbering both fields (CH default mode 0 counts Sunday
    // weeks — documented deviation toward the ISO forms Spark ships)
    fn("toYearWeek", 1) { a =>
      val d = Cast(a.head, DateType)
      Add(Multiply(Cast(YearOfWeek(d), IntegerType), Literal(100)),
        WeekOfYear(d)) },
    // CH addDate(ts, interval) / subDate(ts, interval) do timestamp
    // arithmetic; CH's addInterval combines two intervals into a tuple
    // (no Spark analog) and stays unmapped/loud.
    fn("addDate", 2) { a => Add(Cast(a.head, TimestampType), a(1)) },
    fn("subDate", 2) { a => Subtract(Cast(a.head, TimestampType), a(1)) },
    fn("widthBucket", 4) { a => WidthBucket(Cast(a.head, DoubleType),
      Cast(a(1), DoubleType), Cast(a(2), DoubleType), Cast(a(3), LongType)) },
    fn("isNotDistinctFrom", 2) { a => EqualNullSafe(a.head, a(1)) },
    fn("isDistinctFrom", 2) { a => Not(EqualNullSafe(a.head, a(1))) },
    fn("toUUIDOrNull", 1) { a =>
      TryEval(ValueExpressions.UuidString(ValueExpressions.UuidBinary(a.head))) },
    fn("formatReadableTimeDelta", 1) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, StringType, "formatReadableTimeDelta",
        Seq(Cast(a.head, DoubleType)), Seq(DoubleType)) },
    // CH stringJaccardIndex: Jaccard over the two strings' BYTE sets
    fn("stringJaccardIndex", 2) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, DoubleType, "stringJaccardIndex",
        Seq(Cast(a.head, StringType), Cast(a(1), StringType)),
        Seq(StringType, StringType)) },
    fn("damerauLevenshteinDistance", 2) { a =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        CHValues.getClass, IntegerType, "damerauLevenshtein",
        Seq(Cast(a.head, StringType), Cast(a(1), StringType)),
        Seq(StringType, StringType)) }) ++ emptyArrays

  /** CH `emptyArray<Type>()` constructors — typed empty-array literals,
    * the element type from the §1.2 mapping ([[graft.types.CHType.toSpark]]:
    * UInt8→short, UInt32→long, UInt64→decimal(20,0), …). */
  private def emptyArrays
      : Seq[(FunctionIdentifier, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, FunctionBuilder)] =
    Seq("UInt8", "UInt16", "UInt32", "UInt64", "Int8", "Int16", "Int32", "Int64",
      "Float32", "Float64", "String", "Date", "DateTime").map { chName =>
      val t = graft.types.CHType.toSpark(graft.types.CHType.parse(chName))._1
      fn(s"emptyArray$chName", 0) { _ =>
        Literal.create(Seq.empty[Any], ArrayType(t)) }
    }

  /** CH map arithmetic over the key UNION via MapZipWith: `add`/`sub`
    * treat an absent key as 0; `update` takes m2's value whenever the KEY
    * is present in m2 (CH mapUpdate) — guarded by MapContainsKey rather
    * than Coalesce, because inside MapZipWith a NULL v2 conflates "key
    * absent in m2" with "key present, value NULL" and CH keeps m2's NULL
    * in the latter case. */
  private def mapMerge(m1: Expression, m2: Expression, op: String): Expression = {
    val k = UnresolvedNamedLambdaVariable(Seq("ch_mm_k"))
    val v1 = UnresolvedNamedLambdaVariable(Seq("ch_mm_a"))
    val v2 = UnresolvedNamedLambdaVariable(Seq("ch_mm_b"))
    val body = op match {
      case "add" => Add(Coalesce(Seq(v1, Literal(0))), Coalesce(Seq(v2, Literal(0))))
      case "sub" => Subtract(Coalesce(Seq(v1, Literal(0))), Coalesce(Seq(v2, Literal(0))))
      // short-circuit: the MapContainsKey scan of m2 only runs for keys
      // whose zipped v2 is NULL (ambiguous absent-vs-null) — the common
      // non-null case takes v2 directly, keeping the merge linear
      case _ => If(And(IsNull(v2), Not(MapContainsKey(m2, k))), v1, v2)
    }
    MapZipWith(m1, m2, LambdaFunction(body, Seq(k, v1, v2)))
  }

  /** get_json_object over a top-level key (the simpleJSON/visitParam
    * contract): path = '$.' + key. */
  private def flatJson(a: Seq[Expression]): Expression =
    GetJsonObject(a.head, Concat(Seq(Literal("$."), Cast(a(1), StringType))))

  /** Keyed array sort (CH `arraySort(f, arr)`): decorate with
    * struct(key, element), sort, strip — struct ordering sorts by the
    * key first; CH's stable tie order becomes element-value tie order. */
  private def arraySortBy(a: Seq[Expression], asc: Boolean): Expression = {
    // CH arraySort([f,] arr1, arr2, ...): the multi-array form zips the
    // arrays positionally and binds the lambda's parameters to the
    // zipped elements; the SORTED array is always the FIRST one. The
    // lambda's arity must match the array count — a mismatch would
    // otherwise silently bind a parameter to ArrayTransform's element
    // INDEX. Ties on the key break by the first array's element value
    // (the same documented stable-sort deviation as the 1-array form).
    val (body, vars) = userLambda(a.head, "arraySort")
    val arrays = a.tail
    require(vars.length == arrays.length,
      s"arraySort/arrayReverseSort: lambda takes ${vars.length} parameter(s) " +
        s"but ${arrays.length} array(s) were given — CH zips them positionally")
    val s = UnresolvedNamedLambdaVariable(Seq("ch_srt_"))
    val decorated =
      if (arrays.length == 1)
        ArrayTransform(arrays.head,
          LambdaFunction(CreateNamedStruct(Seq(
            Literal("k"), body, Literal("v"), vars.head)), vars))
      else {
        val zipped = ArraysZip(arrays, arrays.indices.map(i => Literal(s"a$i")))
        val ev = UnresolvedNamedLambdaVariable(Seq("ch_srtz_"))
        val rebound = body.transformUp {
          case u: UnresolvedNamedLambdaVariable if vars.indexOf(u) >= 0 =>
            UnresolvedExtractValue(ev, Literal(s"a${vars.indexOf(u)}"))
        }
        ArrayTransform(zipped,
          LambdaFunction(CreateNamedStruct(Seq(
            Literal("k"), rebound,
            Literal("v"), UnresolvedExtractValue(ev, Literal("a0")))), Seq(ev)))
      }
    ArrayTransform(new SortArray(decorated, Literal(asc)),
      LambdaFunction(UnresolvedExtractValue(s, Literal("v")), Seq(s)))
  }

  /** arrayFill / arrayReverseFill core: left-to-right fold that repeats
    * the last kept element wherever the predicate fails. */
  private def arrayFillExpr(f: Expression, arr0: Expression, reversed: Boolean): Expression = {
    val (body, vars) = userLambda(f, "arrayFill")
    val arr = if (reversed) Reverse(arr0) else arr0
    val acc = UnresolvedNamedLambdaVariable(Seq("ch_fl_acc_"))
    val out = UnresolvedNamedLambdaVariable(Seq("ch_fl_out_"))
    val keepX = Concat(Seq(acc, CreateArray(Seq(vars.head))))
    val repeatPrev = Concat(Seq(acc,
      CreateArray(Seq(ElementAt(acc, Literal(-1), None, failOnError = false)))))
    // the built root must BE the higher-order function (analyzer rule),
    // so the un-reverse of the reversed scan happens in the finish lambda
    ArrayAggregate(arr, Slice(arr, Literal(1), Literal(0)),
      LambdaFunction(
        If(Or(body, EqualTo(Size(acc), Literal(0))), keepX, repeatPrev),
        Seq(acc) ++ vars),
      LambdaFunction(if (reversed) Reverse(out) else out, Seq(out)))
  }

  private def vecArg(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType))

  /** CH `mapExists`/`mapAll`((k, v) -> p, m): the (k, v) lambda is
    * rebound over map_entries structs so the built root is the
    * higher-order ArrayExists/ArrayForAll the analyzer requires. */
  private def mapPredicate(a: Seq[Expression], all: Boolean): Expression = {
    val (body, vars) = userLambda(a.head, if (all) "mapAll" else "mapExists")
    require(vars.length == 2, "map predicate lambda expects (key, value)")
    val e = UnresolvedNamedLambdaVariable(Seq("ch_me_"))
    val rebound = body.transformUp {
      case u: UnresolvedNamedLambdaVariable if u == vars(0) =>
        UnresolvedExtractValue(e, Literal("key"))
      case u: UnresolvedNamedLambdaVariable if u == vars(1) =>
        UnresolvedExtractValue(e, Literal("value"))
    }
    val lam = LambdaFunction(rebound, Seq(e))
    if (all) ArrayForAll(MapEntries(a(1)), lam)
    else ArrayExists(MapEntries(a(1)), lam)
  }

  /** accurateCast[OrNull](x, 'CHType'): resolve the literal CH type
    * name through the §1.2 table and cast (TRY mode for OrNull). */
  private def chNamedCast(a: Seq[Expression], orNull: Boolean): Expression = {
    val name = litString(a(1), "accurateCast")
    val (dt, _) = graft.types.CHType.toSpark(graft.types.CHType.parse(name))
    if (orNull) tryCast(a.head, dt) else Cast(a.head, dt)
  }

  /** sumMap/minMap/maxMap core: collect all (k, v) pairs of the group,
    * then per distinct sorted key reduce the matching values. Accepts
    * (keysArr, valsArr) or a single map column. */
  private def mapAggregate(a: Seq[Expression], op: String): Expression = {
    val (pairsPerRow, kf, vf) = a match {
      case Seq(m) => (MapEntries(m), "key", "value")
      case Seq(k, v) =>
        (ArraysZip(Seq(k, v), Seq(Literal("k"), Literal("v"))), "k", "v")
      case _ => throw new IllegalArgumentException(
        s"${op}Map expects (keys, values) arrays or one map column")
    }
    val pairs = Flatten(CollectList(pairsPerRow).toAggregateExpression())
    val p = UnresolvedNamedLambdaVariable(Seq("ch_mp_"))
    val keys = new SortArray(
      ArrayDistinct(ArrayTransform(pairs,
        LambdaFunction(UnresolvedExtractValue(p, Literal(kf)), Seq(p)))),
      Literal(true))
    val kk = UnresolvedNamedLambdaVariable(Seq("ch_mk_"))
    val q = UnresolvedNamedLambdaVariable(Seq("ch_mq_"))
    val r = UnresolvedNamedLambdaVariable(Seq("ch_mr_"))
    val matching = ArrayTransform(
      ArrayFilter(pairs, LambdaFunction(
        EqualNullSafe(UnresolvedExtractValue(q, Literal(kf)), kk), Seq(q))),
      LambdaFunction(UnresolvedExtractValue(r, Literal(vf)), Seq(r)))
    val acc = UnresolvedNamedLambdaVariable(Seq("ch_ma_"))
    val x = UnresolvedNamedLambdaVariable(Seq("ch_mx_"))
    val out = UnresolvedNamedLambdaVariable(Seq("ch_mo_"))
    val reduced = op match {
      case "sum" => ArrayAggregate(matching, Literal(0.0d),
        LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)),
        LambdaFunction(out, Seq(out)))
      case "min" => ArrayMin(matching)
      case "max" => ArrayMax(matching)
    }
    CreateNamedStruct(Seq(
      Literal("keys"), keys,
      Literal("values"), ArrayTransform(keys, LambdaFunction(reduced, Seq(kk)))))
  }

  /** 1-based first/last match index, 0 when no element satisfies f.
    * A single fold whose accumulator carries (position, hit): the root
    * must BE the higher-order function — the analyzer rejects a lambda
    * argument whose built call's root isn't one. */
  private def arrayMatchIndex(a: Seq[Expression], first: Boolean): Expression = {
    val (body, vars) = userLambda(a.head, "arrayFirstIndex")
    val acc = UnresolvedNamedLambdaVariable(Seq("ch_acc_"))
    val out = UnresolvedNamedLambdaVariable(Seq("ch_out_"))
    val i = UnresolvedExtractValue(acc, Literal("i"))
    val hit = UnresolvedExtractValue(acc, Literal("hit"))
    val matched = Add(i, Literal(1L))
    val nextHit =
      if (first) If(EqualTo(hit, Literal(0L)), If(body, matched, hit), hit)
      else If(body, matched, hit)
    ArrayAggregate(a(1),
      CreateNamedStruct(Seq(
        Literal("i"), Literal(0L), Literal("hit"), Literal(0L))),
      LambdaFunction(
        CreateNamedStruct(Seq(
          Literal("i"), matched, Literal("hit"), nextHit)),
        Seq(acc) ++ vars),
      LambdaFunction(UnresolvedExtractValue(out, Literal("hit")), Seq(out)))
  }

  /** Left rotation by n (negative n rotates right); empty arrays pass
    * through (pmod by zero would be NULL). */
  private def arrayRotate(arr: Expression, n: Expression): Expression = {
    val sz = Size(arr)
    val m = Pmod(Cast(n, IntegerType), sz)
    If(LessThanOrEqual(sz, Literal(1)), arr,
      Concat(Seq(
        Slice(arr, Add(m, Literal(1)), Subtract(sz, m)),
        Slice(arr, Literal(1), m))))
  }

  /** Left shift by n with fill (negative n shifts right). The fill
    * default is a typed NULL unless provided — CH fills with the type
    * default; NULL is this engine's documented nearest equivalent. */
  private def arrayShift(arr: Expression, n: Expression, fill: Option[Expression]): Expression = {
    val sz = Size(arr)
    val nn = Cast(n, IntegerType)
    // a typed NULL of the element type, without knowing the type here
    val d = fill.getOrElse(ElementAt(arr, Literal(Int.MaxValue), None, failOnError = false))
    val absN = Abs(nn)
    val shiftedLeft = Concat(Seq(
      Slice(arr, Add(nn, Literal(1)), Subtract(sz, nn)),
      ArrayRepeat(d, nn)))
    val shiftedRight = Concat(Seq(
      ArrayRepeat(d, absN),
      Slice(arr, Literal(1), Subtract(sz, absN))))
    CaseWhen(Seq(
      (EqualTo(nn, Literal(0)), arr),
      (GreaterThanOrEqual(absN, sz), ArrayRepeat(d, sz)),
      (GreaterThan(nn, Literal(0)), shiftedLeft)),
      shiftedRight)
  }

  private def normalizeUtf8(e: Expression, form: String): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      CHValues.getClass, StringType, "normalizeUtf8",
      Seq(Cast(e, StringType), Literal(form)), Seq(StringType, StringType))

  private def mathSpecial(method: String, cls: Class[_], e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      cls, DoubleType, method, Seq(Cast(e, DoubleType)), Seq(DoubleType))
}
