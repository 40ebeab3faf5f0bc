package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Every CH dialect alias resolves from SQL text and agrees with the
  * Spark-native spelling it maps onto. */
class ChDialectSpec extends SparkSpec {
  import spark.implicits._

  private def one(sql: String): Any =
    spark.sql(s"SELECT $sql AS r").head.get(0)

  test("conditional aggregates match their -If combinator semantics") {
    Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)).toDF("id", "v")
      .createOrReplaceTempView("chd")
    val r = spark.sql(
      """SELECT countIf(id % 2 = 0) AS c, sumIf(v, id > 1) AS s,
        |  avgIf(v, id > 2) AS a, minIf(v, id > 1) AS mn, maxIf(v, id < 4) AS mx
        |FROM chd""".stripMargin).head
    assert(r === Row(2L, 90.0, 35.0, 20.0, 30.0))
  }

  test("distinct and sketch aggregates") {
    Seq(1, 2, 2, 3, 3, 3).toDF("x").createOrReplaceTempView("chu")
    assert(spark.sql("SELECT uniqExact(x) FROM chu").head.get(0) === 3)
    val hll = spark.sql("SELECT uniq(x) FROM chu").head.getLong(0)
    assert(hll >= 2L && hll <= 4L) // approximate
    assert(spark.sql("SELECT groupUniqArray(x) FROM chu").head
      .getSeq[Int](0).sorted === Seq(1, 2, 3))
    assert(spark.sql("SELECT median(x) FROM chu").head.get(0).toString.toDouble === 2.5)
    assert(spark.sql("SELECT quantileExact(x, 0.0) FROM chu").head.get(0).toString.toDouble === 1.0)
  }

  test("to* conversions, date helpers, arithmetic spellings") {
    assert(one("toInt32('42')") === 42)
    assert(one("toUInt64('18446744073709551615')").toString === "18446744073709551615")
    assert(one("toString(7.5)") === "7.5")
    assert(one("toDate('2024-05-17')").toString === "2024-05-17")
    assert(one("toStartOfMonth(toDate('2024-05-17'))").toString === "2024-05-01")
    assert(one("toYYYYMM(toDate('2024-05-17'))") === 202405)
    assert(one("toYYYYMMDD(toDate('2024-05-17'))") === 20240517)
    assert(one("intDiv(7, 2)") === 3L)
    assert(one("modulo(7, 3)") === 1)
    assert(one("plus(2, 3)") === 5 && one("minus(5, 2)") === 3)
    assert(one("multiply(4, 3)") === 12 && one("divide(7, 2)") === 3.5)
    assert(one("bitAnd(12, 10)") === 8 && one("bitXor(12, 10)") === 6)
    assert(one("bitShiftLeft(1, 4)") === 16)
  }

  test("array and string spellings") {
    assert(one("has(array(1,2,3), 2)") === true)
    assert(one("indexOf(array(10,20,30), 30)") === 3L)
    assert(one("arrayDistinct(array(1,1,2))").asInstanceOf[scala.collection.Seq[_]].toSeq === Seq(1, 2))
    assert(one("arraySort(array(3,1,2))").asInstanceOf[scala.collection.Seq[_]].toSeq === Seq(1, 2, 3))
    assert(one("arrayStringConcat(array('a','b'), '-')") === "a-b")
    assert(one("arraySum(array(1.5, 2.5))") === 4.0)
    assert(one("lowerUTF8('ÅBC')") === "åbc")
    assert(one("lengthUTF8('héllo')") === 5)
    assert(one("match('abc123', '[a-z]+[0-9]+')") === true)
    assert(one("replaceAll('a-b-c', '-', '_')") === "a_b_c")
    assert(one("replaceRegexpAll('a1b2', '[0-9]', '#')") === "a#b#")
    assert(one("splitByChar('.', 'a.b.c')").asInstanceOf[scala.collection.Seq[_]].toSeq === Seq("a", "b", "c"))
    assert(one("positionUTF8('hello', 'll')") === 3)
  }

  test("arrayJoin explodes like the CH row expander") {
    Seq((1, Seq("x", "y"))).toDF("id", "tags").createOrReplaceTempView("chaj")
    val rows = spark.sql("SELECT id, arrayJoin(tags) AS t FROM chaj")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows === Seq((1, "x"), (1, "y")))
  }

  private def seqOf(sql: String): Seq[Any] =
    one(sql).asInstanceOf[scala.collection.Seq[Any]].toSeq

  test("higher-order array functions take the lambda FIRST, CH-style") {
    assert(seqOf("arrayMap(x -> x * 2, array(1,2,3))") === Seq(2, 4, 6))
    assert(seqOf("arrayFilter(x -> x % 2 = 0, array(1,2,3,4))") === Seq(2, 4))
    assert(one("arrayExists(x -> x > 2, array(1,2,3))") === true)
    assert(one("arrayAll(x -> x > 0, array(1,2,3))") === true)
    assert(one("arrayAll(x -> x > 1, array(1,2,3))") === false)
    assert(one("arrayCount(x -> x > 1, array(1,2,3))") === 2)
    assert(one("arrayFirst(x -> x > 1, array(1,2,3))") === 2)
    assert(one("arrayFirst(x -> x > 9, array(1,2,3))") === null)
  }

  test("array utilities") {
    assert(seqOf("arraySlice(array(1,2,3,4,5), 2, 3)") === Seq(2, 3, 4))
    assert(seqOf("arraySlice(array(1,2,3,4,5), 3)") === Seq(3, 4, 5))
    assert(seqOf("arrayFlatten(array(array(1,2), array(3)))") === Seq(1, 2, 3))
    assert(one("arrayUniq(array(1,1,2,3,3))") === 3)
    assert(seqOf("arrayPushBack(array(1,2), 3)") === Seq(1, 2, 3))
    assert(seqOf("arrayPushFront(array(2,3), 1)") === Seq(1, 2, 3))
    assert(seqOf("arrayPopBack(array(1,2,3))") === Seq(1, 2))
    assert(seqOf("arrayPopBack(array())") === Seq())
    assert(seqOf("arrayPopFront(array(1,2,3))") === Seq(2, 3))
    assert(seqOf("arrayIntersect(array(1,2,3), array(2,3,4))").sortBy(_.toString) === Seq(2, 3))
    assert(seqOf("arrayReverseSort(array(1,3,2))") === Seq(3, 2, 1))
    assert(one("arrayMin(array(3,1,2))") === 1)
    assert(one("arrayMax(array(3,1,2))") === 3)
    assert(one("arrayAvg(array(1,2,3,4))") === 2.5)
    assert(seqOf("arrayEnumerate(array('a','b','c'))") === Seq(1, 2, 3))
  }

  test("argMin/argMax/anyValue/anyLast/quantile aggregates") {
    Seq(("a", 3), ("b", 1), ("c", 9)).toDF("k", "v").createOrReplaceTempView("chag")
    val r = spark.sql(
      """SELECT argMin(k, v) AS amn, argMax(k, v) AS amx,
        |  anyValue(k) AS av, anyLast(k) AS al FROM chag""".stripMargin).head
    assert(r.getString(0) === "b" && r.getString(1) === "c")
    assert(Set("a", "b", "c").contains(r.getString(2)))
    assert(Set("a", "b", "c").contains(r.getString(3)))
    assert(spark.sql("SELECT quantile(v) FROM chag").head.get(0).toString.toDouble === 3.0)
    assert(spark.sql("SELECT quantile(v, 1.0) FROM chag").head.get(0).toString.toDouble === 9.0)
    assert(spark.sql("SELECT uniqCombined(v) FROM chag").head.getLong(0) === 3L)
    assert(spark.sql("SELECT groupBitAnd(v) FROM chag").head.getInt(0) === (3 & 1 & 9))
    assert(spark.sql("SELECT groupBitOr(v) FROM chag").head.getInt(0) === (3 | 1 | 9))
    assert(spark.sql("SELECT groupBitXor(v) FROM chag").head.getInt(0) === (3 ^ 1 ^ 9))
    val s = spark.sql(
      "SELECT covarPop(v, v), varSamp(v), stddevSamp(v), varPop(v) FROM chag").head
    assert(math.abs(s.getDouble(0) - s.getDouble(3)) < 1e-9) // covarPop(v,v) = varPop
    assert(math.abs(s.getDouble(2) - math.sqrt(s.getDouble(1))) < 1e-9)
  }

  test("date component extraction and truncation") {
    val d = "toDate('2024-05-17')" // a Friday
    assert(one(s"toYear($d)") === 2024)
    assert(one(s"toQuarter($d)") === 2)
    assert(one(s"toMonth($d)") === 5)
    assert(one(s"toDayOfMonth($d)") === 17)
    assert(one(s"toDayOfYear($d)") === 138)
    assert(one(s"toDayOfWeek($d)") === 5) // CH: Monday=1 … Friday=5
    assert(one(s"toStartOfYear($d)").toString === "2024-01-01")
    assert(one(s"toStartOfQuarter($d)").toString === "2024-04-01")
    assert(one(s"toMonday($d)").toString === "2024-05-13")
    val ts = "toDateTime('2024-05-17 13:42:57')"
    assert(one(s"toHour($ts)") === 13)
    assert(one(s"toMinute($ts)") === 42)
    assert(one(s"toSecond($ts)") === 57)
    assert(one(s"toStartOfHour($ts)").toString === "2024-05-17 13:00:00.0")
    assert(one(s"toStartOfMinute($ts)").toString === "2024-05-17 13:42:00.0")
  }

  test("date arithmetic and CH dateDiff semantics") {
    val d = "toDate('2024-05-17')"
    assert(one(s"addDays($d, 20)").toString === "2024-06-06")
    assert(one(s"subtractDays($d, 17)").toString === "2024-04-30")
    assert(one(s"addWeeks($d, 2)").toString === "2024-05-31")
    assert(one(s"addMonths($d, 2)").toString === "2024-07-17")
    assert(one(s"subtractMonths($d, 5)").toString === "2023-12-17")
    assert(one(s"addYears($d, 1)").toString === "2025-05-17")
    assert(one(s"subtractYears($d, 25)").toString === "1999-05-17")
    // CH dateDiff(unit, s, e) = toRelative<Unit>Num(e) - toRelative<Unit>Num(s):
    // calendar-BOUNDARY counting, not elapsed periods
    def rel(unit: String, a: String, b: String): Long =
      spark.sql(s"SELECT toRelative${unit}Num(toDate('$b')) - toRelative${unit}Num(toDate('$a')) AS r")
        .head.get(0).toString.toLong
    assert(rel("Day", "2024-05-17", "2024-05-20") === 3L)
    assert(rel("Year", "2023-12-31", "2024-01-01") === 1L)
    assert(rel("Month", "2024-01-31", "2024-02-01") === 1L)
    assert(rel("Quarter", "2024-03-31", "2024-04-01") === 1L)
    // Sun 2024-05-19 → Mon 2024-05-20 crosses a week boundary
    assert(rel("Week", "2024-05-19", "2024-05-20") === 1L)
    assert(rel("Week", "2024-05-20", "2024-05-26") === 0L)
    assert(one("toRelativeDayNum(toDate('1970-01-11'))") === 10)
    assert(one("toRelativeHourNum(toDateTime('1970-01-02 03:00:00'))") === 27L)
    assert(one("toRelativeMinuteNum(toDateTime('1970-01-01 02:05:00'))") === 125L)
    assert(one("toUnixTimestamp(toDateTime('1970-01-01 00:01:40'))") === 100L)
    assert(one("fromUnixTimestamp(100)").toString === "1970-01-01 00:01:40.0")
    assert(one("formatDateTime(toDateTime('2024-05-17 13:42:57'), '%Y-%m-%d %H:%i:%S')")
      === "2024-05-17 13:42:57")
    assert(one("formatDateTime(toDate('2024-05-17'), '%F')") === "2024-05-17")
  }

  test("multiIf, null handling, guarded division") {
    assert(one("multiIf(1 > 2, 'a', 2 > 1, 'b', 'z')") === "b")
    assert(one("multiIf(1 > 2, 'a', 2 > 3, 'b', 'z')") === "z")
    assert(one("assumeNotNull(5)") === 5)
    assert(one("toNullable(7)") === 7)
    assert(one("intDivOrZero(7, 2)") === 3L)
    assert(one("intDivOrZero(7, 0)") === 0L)
    assert(one("moduloOrZero(7, 3)") === 1)
    assert(one("moduloOrZero(7, 0)") === 0)
  }

  test("string spellings") {
    assert(one("substringUTF8('hello', 2, 3)") === "ell")
    assert(one("trimBoth('  x  ')") === "x")
    assert(one("trimLeft('  x  ')") === "x  ")
    assert(one("trimRight('  x  ')") === "  x")
    assert(one("reverseUTF8('abc')") === "cba")
    assert(one("leftUTF8('hello', 2)") === "he")
    assert(one("rightUTF8('hello', 2)") === "lo")
    assert(one("rightPad('ab', 4, '*')") === "ab**")
    assert(one("base64Encode('hi')") === "aGk=")
    assert(one("base64Decode('aGk=')") === "hi")
  }

  test("JSON extraction with CH key arguments") {
    val j = """'{"k": "v", "n": 42, "f": 1.5, "b": true, "arr": [1,2,3]}'"""
    assert(one(s"JSONExtractString($j, 'k')") === "v")
    assert(one(s"JSONExtractInt($j, 'n')") === 42L)
    assert(one(s"JSONExtractFloat($j, 'f')") === 1.5)
    assert(one(s"JSONExtractBool($j, 'b')") === true)
    assert(one(s"JSONHas($j, 'k')") === true)
    assert(one(s"JSONHas($j, 'missing')") === false)
    assert(one("JSONLength('[1,2,3]')") === 3)
  }

  test("math, tuples, maps") {
    assert(one("exp2(10)") === 1024.0)
    assert(one("exp10(3)") === 1000.0)
    assert(one("roundBankers(cast(2.5 AS DOUBLE), 0)") === 2.0)
    assert(one("roundBankers(cast(3.5 AS DOUBLE), 0)") === 4.0)
    assert(one("tupleElement(tuple('a', 7), 1)") === "a")
    assert(one("tupleElement(tuple('a', 7), 2)") === 7)
    assert(one("tupleElement(named_struct('x', 5), 'x')") === 5)
    assert(seqOf("mapKeys(map('a', 1, 'b', 2))").sortBy(_.toString) === Seq("a", "b"))
    assert(seqOf("mapValues(map('a', 1, 'b', 2))").sortBy(_.toString) === Seq(1, 2))
    assert(one("mapContains(map('a', 1), 'a')") === true)
    assert(one("mapContains(map('a', 1), 'z')") === false)
  }

  test("UUID/IP transport spellings round-trip through the native expressions") {
    val u = "018f3f4a-1111-7222-8333-abcdefabcdef"
    assert(one(s"UUIDNumToString(UUIDStringToNum('$u'))") === u)
    assert(one(s"IPv6NumToString(IPv6StringToNum('2001:db8::1'))") === "2001:db8::1")
    assert(one("IPv4StringToNum('1.2.3.4')") === (1L << 24 | 2L << 16 | 3L << 8 | 4L))
    assert(one("IPv4NumToString(16909060)") === "1.2.3.4")
    assert(one("generateUUIDv4()").toString.length === 36)
  }

  test("avgWeighted and -If uniq combinators") {
    Seq((1.0, 1.0), (2.0, 3.0), (10.0, 0.0)).toDF("x", "w").createOrReplaceTempView("chaw")
    // (1*1 + 2*3 + 10*0) / (1 + 3 + 0) = 7/4
    assert(spark.sql("SELECT avgWeighted(x, w) FROM chaw").head.getDouble(0) === 1.75)
    Seq(1, 2, 2, 3, 4, 4).toDF("v").createOrReplaceTempView("chui")
    assert(spark.sql("SELECT uniqExactIf(v, v % 2 = 0) FROM chui").head.get(0) === 2)
    val u = spark.sql("SELECT uniqIf(v, v % 2 = 0) FROM chui").head.getLong(0)
    assert(u >= 1L && u <= 3L)
  }

  test("lagInFrame/leadInFrame window spellings") {
    Seq((1, 10), (2, 20), (3, 30)).toDF("i", "v").createOrReplaceTempView("chwf")
    val rows = spark.sql(
      """SELECT i, lagInFrame(v) OVER (ORDER BY i) AS lg,
        |  leadInFrame(v, 1, -1) OVER (ORDER BY i) AS ld
        |FROM chwf ORDER BY i""".stripMargin).collect()
    assert(rows.map(r => Option(r.get(1))).toSeq === Seq(None, Some(10), Some(20)))
    assert(rows.map(_.getInt(2)).toSeq === Seq(20, 30, -1))
  }

  test("interval-aligned truncation") {
    val ts = "toDateTime('2024-05-17 13:47:29')"
    assert(one(s"toStartOfFiveMinutes($ts)").toString === "2024-05-17 13:45:00.0")
    assert(one(s"toStartOfTenMinutes($ts)").toString === "2024-05-17 13:40:00.0")
    assert(one(s"toStartOfFifteenMinutes($ts)").toString === "2024-05-17 13:45:00.0")
    assert(one(s"toStartOfInterval($ts, INTERVAL 30 MINUTE)").toString === "2024-05-17 13:30:00.0")
    assert(one(s"toStartOfInterval($ts, INTERVAL 1 HOUR)").toString === "2024-05-17 13:00:00.0")
    assert(one(s"toStartOfInterval($ts, INTERVAL 1 MONTH)").toString === "2024-05-01")
    assert(one(s"toStartOfInterval($ts, INTERVAL 3 MONTH)").toString === "2024-04-01")
    assert(one(s"toStartOfInterval($ts, INTERVAL 12 MONTH)").toString === "2024-01-01")
  }

  test("OrNull/OrZero safe casts and decimal conversions") {
    assert(one("toInt32OrNull('42')") === 42)
    assert(one("toInt32OrNull('nope')") === null)
    assert(one("toInt32OrZero('nope')") === 0)
    assert(one("toInt64OrZero('7')") === 7L)
    assert(one("toFloat64OrNull('x')") === null)
    assert(one("toFloat64OrZero('2.5')") === 2.5)
    assert(one("toDateOrNull('not-a-date')") === null)
    assert(one("toDateOrNull('2024-05-17')").toString === "2024-05-17")
    assert(one("toDateTimeOrNull('nope')") === null)
    assert(one("toDecimal32('3.14159', 2)").toString === "3.14")
    assert(one("toDecimal64(2.5, 1)").toString === "2.5")
    assert(one("toDecimal128('1e20', 0)").toString === "100000000000000000000")
  }

  test("URL function family") {
    val u = "'https://www.example.co.uk/a/b?x=1&y=2#frag'"
    assert(one(s"protocol($u)") === "https")
    assert(one(s"domain($u)") === "www.example.co.uk")
    assert(one(s"domainWithoutWWW($u)") === "example.co.uk")
    assert(one(s"topLevelDomain($u)") === "uk")
    assert(one(s"path($u)") === "/a/b")
    assert(one(s"pathFull($u)") === "/a/b?x=1&y=2")
    assert(one(s"queryString($u)") === "x=1&y=2")
    assert(one(s"fragment($u)") === "frag")
    assert(one(s"extractURLParameter($u, 'y')") === "2")
    assert(one(s"extractURLParameter($u, 'zz')") === "")
    assert(one(s"cutQueryString($u)") === "https://www.example.co.uk/a/b#frag")
    assert(one(s"cutFragment($u)") === "https://www.example.co.uk/a/b?x=1&y=2")
    assert(one("domain('not a url')") === "")
  }

  test("geo distance") {
    // Paris (2.3522E, 48.8566N) → London (-0.1276E, 51.5072N) ≈ 343.5 km
    val d = one("greatCircleDistance(2.3522, 48.8566, -0.1276, 51.5072)")
      .asInstanceOf[Double]
    assert(d > 330000.0 && d < 360000.0)
    assert(one("greatCircleDistance(0.0, 0.0, 0.0, 0.0)") === 0.0)
    // geoDistance uses a slightly larger mean radius
    val g = one("geoDistance(2.3522, 48.8566, -0.1276, 51.5072)").asInstanceOf[Double]
    assert(math.abs(g - d) / d < 0.001)
  }

  test("array math: difference, cumulative sum, bit helpers") {
    assert(seqOf("arrayDifference(array(1, 4, 9, 16))") === Seq(0, 3, 5, 7))
    assert(seqOf("arrayDifference(array(5))") === Seq(0))
    assert(seqOf("arrayDifference(array())") === Seq())
    assert(seqOf("arrayCumSum(array(1, 2, 3, 4))") === Seq(1, 3, 6, 10))
    assert(seqOf("arrayCumSum(CAST(array() AS ARRAY<INT>))") === Seq())
    assert(one("bitTest(10, 1)") === 1.toByte)
    assert(one("bitTest(10, 2)") === 0.toByte)
    assert(one("intExp2(10)") === 1024L)
    assert(one("intExp10(3)") === 1000L)
    assert(one("ifNotFinite(cast('Infinity' AS DOUBLE), -1.0)") === -1.0)
    assert(one("ifNotFinite(cast('NaN' AS DOUBLE), -1.0)") === -1.0)
    assert(one("ifNotFinite(cast(2.5 AS DOUBLE), -1.0)") === 2.5)
  }

  test("string tokenizers and search helpers") {
    assert(seqOf("splitByString('::', 'a::b::c')") === Seq("a", "b", "c"))
    assert(seqOf("splitByRegexp('[0-9]+', 'a1b22c')") === Seq("a", "b", "c"))
    assert(seqOf("alphaTokens('abc2def 3ghi')") === Seq("abc", "def", "ghi"))
    assert(seqOf("tokens('hello, wörld_9!')") === Seq("hello", "wörld_9"))
    assert(seqOf("extractAll('a1b22c', '[0-9]+')") === Seq("1", "22"))
    assert(one("countSubstrings('ababab', 'ab')") === 3L)
    assert(one("countSubstrings('aaa', '')") === 0L)
    assert(one("concatWithSeparator('-', 'a', 'b')") === "a-b")
    assert(one("positionCaseInsensitive('Hello', 'LL')") === 3)
    assert(one("appendTrailingCharIfAbsent('dir', '/')") === "dir/")
    assert(one("appendTrailingCharIfAbsent('dir/', '/')") === "dir/")
  }

  test("timeSlot and YYYYMMDD conversions") {
    assert(one("timeSlot(toDateTime('2024-05-17 13:47:29'))").toString
      === "2024-05-17 13:30:00.0")
    assert(one("YYYYMMDDToDate(20240517)").toString === "2024-05-17")
    assert(one("YYYYMMDDhhmmssToDateTime(20240517134257)").toString
      === "2024-05-17 13:42:57.0")
  }

  test("parameterized-aggregate syntax quantile(p)(x) parses via ChSqlParser") {
    Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10).toDF("v").createOrReplaceTempView("chpq")
    // nearest-rank (CH semantics): an actual element, never interpolated
    assert(spark.sql("SELECT quantileExact(0.5)(v) FROM chpq")
      .head.get(0).toString.toDouble === 5.0)
    assert(spark.sql("SELECT round(quantile(1.0)(v), 1) FROM chpq")
      .head.get(0).toString.toDouble === 10.0)
    val qs = spark.sql("SELECT quantiles(0.0, 1.0)(v) FROM chpq").head
      .getSeq[Double](0)
    assert(qs === Seq(1.0, 10.0))
    assert(spark.sql("SELECT uniqCombined(12)(v) FROM chpq").head.getLong(0) >= 9L)
    // uniqUpTo: exact while <= N, else N+1
    assert(spark.sql("SELECT uniqUpTo(3)(v) FROM chpq").head.getInt(0) === 4)
    assert(spark.sql("SELECT uniqUpTo(20)(v) FROM chpq").head.getInt(0) === 10)
    // nested inside an expression, with other args around it
    assert(spark.sql("SELECT round(quantileExact(0.5)(v) + 1.0, 1) FROM chpq")
      .head.get(0).toString.toDouble === 6.0)
  }

  test("ChSqlRewrite never touches quoted text or valid Spark SQL") {
    assert(ChSqlRewrite("SELECT 'quantile(0.5)(x)' AS s") === "SELECT 'quantile(0.5)(x)' AS s")
    assert(ChSqlRewrite("SELECT `quantile` FROM t -- quantile(1)(x)")
      === "SELECT `quantile` FROM t -- quantile(1)(x)")
    val plain = "SELECT percentile(v, 0.5), count(*) FROM t WHERE a > (SELECT max(b) FROM u)"
    assert(ChSqlRewrite(plain) === plain)
    assert(ChSqlRewrite("SELECT quantile(0.9)(x) FROM t") === "SELECT quantile(x, 0.9) FROM t")
    assert(ChSqlRewrite("SELECT quantiles(0.1, 0.9)(x + 1) FROM t")
      === "SELECT percentile(x + 1, array(0.1, 0.9)) FROM t")
    // two occurrences both rewrite; string in between survives
    assert(ChSqlRewrite("SELECT quantile(0.1)(a), ')(', quantile(0.2)(b) FROM t")
      === "SELECT quantile(a, 0.1), ')(', quantile(b, 0.2) FROM t")
  }

  test("comments inside CH clauses parse like their comment-free twins") {
    // (CH text, the same text without its comment): a comment inside a
    // rewritten clause is neither read as code nor spliced into the
    // generated text, where a `--` would swallow what follows
    val cases = Seq(
      "SELECT number FROM numbers(10 /* , 5 */)" -> "SELECT number FROM numbers(10)",
      "SELECT number FROM numbers(10 -- , 5\n)" -> "SELECT number FROM numbers(10)",
      "SELECT x, y FROM t ARRAY JOIN arr AS x /* , */, brr AS y" ->
        "SELECT x, y FROM t ARRAY JOIN arr AS x, brr AS y",
      "SELECT x FROM t ARRAY JOIN arr AS x -- trailing note" ->
        "SELECT x FROM t ARRAY JOIN arr AS x",
      "SELECT a, b FROM t ORDER BY b LIMIT 1 BY a -- , b\n" ->
        "SELECT a, b FROM t ORDER BY b LIMIT 1 BY a",
      "SELECT a, count() FROM t GROUP BY a -- )\n WITH TOTALS" ->
        "SELECT a, count() FROM t GROUP BY a WITH TOTALS")
    val parser = new ChSqlParser(org.apache.spark.sql.catalyst.parser.CatalystSqlParser)
    // aliases carry fresh expression ids per parse
    def plan(sql: String) = parser.parsePlan(sql).treeString.replaceAll("#\\d+", "#")
    for ((ch, twin) <- cases) assert(plan(ch) === plan(twin), ch)
  }

  test("a comment next to a head or tail clause reads like its comment-free twin") {
    (1 to 5).toDF("a").createOrReplaceTempView("chcmt")
    // (form, its text with `%s` where a comment goes, once before the
    // clause and once after it, and whether it is a tail clause, whose
    // rescued text must then equal the twin's)
    val forms = Seq(
      ("trailing ;", Seq("SELECT a FROM chcmt %s;", "SELECT a FROM chcmt;%s"), true),
      ("FORMAT", Seq("SELECT a FROM chcmt %s FORMAT JSONEachRow",
        "SELECT a FROM chcmt FORMAT JSONEachRow %s"), true),
      ("INTO OUTFILE", Seq("SELECT a FROM chcmt %s INTO OUTFILE 'o.csv' APPEND",
        "SELECT a FROM chcmt INTO OUTFILE 'o.csv' APPEND %s"), true),
      ("SETTINGS", Seq("SELECT a FROM chcmt %s SETTINGS max_threads = 3, max_block_size = 64",
        "SELECT a FROM chcmt SETTINGS max_threads = 3, max_block_size = 64 %s"), true),
      ("OFFSET … FETCH", Seq("SELECT a FROM chcmt ORDER BY a %s OFFSET 1 ROWS FETCH FIRST 3 ROWS ONLY",
        "SELECT a FROM chcmt ORDER BY a OFFSET 1 ROWS FETCH FIRST 3 ROWS ONLY %s"), true),
      ("EXPLAIN AST", Seq("%s EXPLAIN AST SELECT a FROM chcmt",
        "EXPLAIN AST %s SELECT a FROM chcmt"), false),
      ("DROP … SYNC", Seq("%s DROP TABLE IF EXISTS chcmt_d SYNC",
        "DROP TABLE IF EXISTS chcmt_d SYNC %s"), false))
    def plan(sql: String) =
      spark.sessionState.sqlParser.parsePlan(sql).treeString.replaceAll("#\\d+", "#")
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    val wrong = try for {
      (form, shapes, tail) <- forms
      shape <- shapes
      comment <- Seq("-- c", "/* c */")
      text = shape.format(if (shape.endsWith("%s")) comment else comment + "\n")
      twin = shape.format("").replace("  ", " ").trim
      same = scala.util.Try {
        val (r, t) = (ChSqlRewrite.rescue(text), ChSqlRewrite.rescue(twin))
        plan(text) == plan(twin) && r.settings == t.settings && (!tail || r.sql == t.sql)
      }
      if !same.getOrElse(false)
    } yield s"$form: $text" finally {
      ChSqlRewrite.drainPendingSettings(spark)
      spark.conf.set("spark.sql.shuffle.partitions", prior)
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    assert(ChSqlRewrite.rescue("SELECT a FROM chcmt SETTINGS max_threads = 3 -- c").settings ===
      Seq("max_threads" -> "3"))
    assert(spark.sql("SELECT a FROM chcmt ORDER BY a FETCH FIRST 3 ROWS ONLY -- c")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
  }

  test("always-on pass is identity on marker-ADJACENT valid Spark SQL (generated)") {
    // names that CONTAIN rewrite-trigger substrings without being them:
    // the scanners must match whole tokens/shapes only. 2k generated
    // queries over these must come back byte-identical.
    val idents = Seq("untupled", "my_untuple", "numbers_tbl", "number",
      "final_score", "finally", "sample_rate", "sampler", "globals",
      "asof_ts", "anyval", "array_col", "qualify_flag", "settings_v")
    val rng = new scala.util.Random(11)
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    (1 to 2000).foreach { _ =>
      val c1 = pick(idents); val c2 = pick(idents); val t = pick(idents)
      val sql = rng.nextInt(4) match {
        case 0 => s"SELECT $c1, $c2 FROM $t WHERE $c1 > 5"
        case 1 => s"SELECT $c1 AS x FROM $t GROUP BY $c1 HAVING count(*) > ${rng.nextInt(9)}"
        case 2 => s"SELECT t1.$c1 FROM $t t1 JOIN ${pick(idents)} t2 ON t1.$c1 = t2.$c2"
        case 3 => s"SELECT $c1, '$c2 untuple(x) numbers(5)' AS s FROM $t ORDER BY $c1 LIMIT ${1 + rng.nextInt(99)}"
      }
      assert(ChSqlRewrite(sql) === sql, s"always-on pass mutated valid SQL: $sql")
    }
    // bare column literally named untuple (no parens) survives too
    assert(ChSqlRewrite("SELECT untuple FROM t") === "SELECT untuple FROM t")
  }

  test("trailing FORMAT clause and semicolon are stripped like a CH client") {
    assert(spark.sql("SELECT 1 AS x FORMAT JSONEachRow").head.getInt(0) === 1)
    assert(spark.sql("SELECT 2 AS x FORMAT Pretty;").head.getInt(0) === 2)
    assert(spark.sql("SELECT 3 AS x;").head.getInt(0) === 3)
    // a string literal ending in a FORMAT-like tail is untouched
    assert(one("'use FORMAT JSON'") === "use FORMAT JSON")
    // the strip is RESCUE-tier: the always-on pass leaves the text alone...
    assert(ChSqlRewrite("SELECT countIf(x > 0) FROM t FORMAT CSV;")
      === "SELECT countIf(x > 0) FROM t FORMAT CSV")
    // ...and the rescue pass (after a parse failure) removes it
    assert(ChSqlRewrite.rescue("SELECT countIf(x > 0) FROM t FORMAT CSV;").sql
      === "SELECT countIf(x > 0) FROM t")
    // INTO OUTFILE is likewise a client concern: the clause (with its
    // modifiers) strips in rescue and the result stays a DataFrame
    assert(spark.sql("SELECT 4 AS x INTO OUTFILE '/tmp/out.csv' FORMAT CSV")
      .head.getInt(0) === 4)
    assert(ChSqlRewrite.rescue(
      "SELECT 4 AS x INTO OUTFILE '/tmp/out.csv' AND STDOUT APPEND").sql
      === "SELECT 4 AS x")
    // valid Spark SQL that merely ENDS in format-shaped tokens parses
    // fine and is never rewritten (the parse-first contract)
    Seq(("a", 2), ("b", 1)).toDF("format", "v").createOrReplaceTempView("chfmt")
    assert(spark.sql("SELECT v FROM chfmt ORDER BY format DESC")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(spark.sql("SELECT f.format FROM chfmt f").collect().length === 2)
  }

  test("hasAll/hasAny/range array spellings") {
    assert(one("hasAny(array(1,2,3), array(3,9))") === true)
    assert(one("hasAny(array(1,2,3), array(8,9))") === false)
    assert(one("hasAll(array(1,2,3), array(1,3))") === true)
    assert(one("hasAll(array(1,2,3), array(1,9))") === false)
    assert(seqOf("range(4)") === Seq(0L, 1L, 2L, 3L))
    assert(seqOf("range(0)") === Seq())
  }

  test("CH EXPLAIN operations map onto Spark EXPLAIN modes") {
    assert(ChSqlRewrite("EXPLAIN PIPELINE SELECT 1") === "EXPLAIN FORMATTED SELECT 1")
    assert(ChSqlRewrite("explain ast SELECT 1") === "explain EXTENDED SELECT 1")
    assert(ChSqlRewrite("EXPLAIN ESTIMATE SELECT 1") === "EXPLAIN COST SELECT 1")
    // runs end-to-end through spark.sql
    val out = spark.sql("EXPLAIN PIPELINE SELECT 1 AS x").head.getString(0)
    assert(out.contains("Physical Plan"))
    // plain Spark EXPLAIN unaffected
    assert(ChSqlRewrite("EXPLAIN SELECT 1") === "EXPLAIN SELECT 1")
    assert(ChSqlRewrite("EXPLAIN FORMATTED SELECT 1") === "EXPLAIN FORMATTED SELECT 1")
  }

  test("CH SELECT TOP n rewrites to LIMIT; unsafe shapes fail loudly") {
    def rw(s: String): String = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT TOP 5 a, b FROM t ORDER BY a")
      === "SELECT a, b FROM t ORDER BY a LIMIT 5")
    assert(rw("SELECT DISTINCT TOP 3 a FROM t")
      === "SELECT DISTINCT a FROM t LIMIT 3")
    // column literally named `top` (no following integer) is untouched
    assert(rw("SELECT TOP FROM t") === "SELECT TOP FROM t")
    // the quoted word `limit` in a string must NOT trip the TOP+LIMIT guard
    assert(rw("SELECT TOP 2 a FROM t WHERE b <> 'limit'")
      === "SELECT a FROM t WHERE b <> 'limit' LIMIT 2")
    // loud failures: WITH TIES, subquery placement, TOP combined with LIMIT
    intercept[org.apache.spark.sql.AnalysisException] {
      rw("SELECT TOP 3 WITH TIES a FROM t ORDER BY a")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      rw("SELECT x FROM (SELECT TOP 3 x FROM t) q")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      rw("SELECT TOP 3 a FROM t LIMIT 5")
    }
    // end-to-end through spark.sql
    spark.range(10).selectExpr("id AS a").createOrReplaceTempView("chtop")
    assert(spark.sql("SELECT TOP 4 a FROM chtop ORDER BY a DESC").count() === 4L)
  }

  test("round-7 audit spellings: dates, predicates, search, hashes, case") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql").head.get(0)
    assert(one("timezone()") === "UTC")
    assert(one("currentDatabase()") === "default")
    assert(one("isFinite(1.5)") === true)
    assert(one("isFinite(CAST('NaN' AS DOUBLE))") === false)
    assert(one("isFinite(CAST('Infinity' AS DOUBLE))") === false)
    assert(one("isInfinite(CAST('-Infinity' AS DOUBLE))") === true)
    assert(one("isInfinite(2.0)") === false)
    assert(one("toISOWeek(DATE '2024-01-01')") === 1)
    // 2023-01-01 falls in ISO week 52 of ISO year 2022
    assert(one("toISOWeek(DATE '2023-01-01')") === 52)
    assert(one("toISOYear(DATE '2023-01-01')") === 2022)
    assert(one("multiSearchAny('hello world', array('xx', 'o w'))") === true)
    assert(one("multiSearchAny('hello', array('xx', 'yy'))") === false)
    assert(one("multiMatchAny('hello', array('^h.*o$'))") === true)
    assert(one("multiMatchAny('hello', array('^x'))") === false)
    // md5('abc') = 900150983cd24fb0…; first 8 bytes big-endian as UInt64
    assert(one("halfMD5('abc')").toString === "10376663631224000432")
    // Hive string hash = Java String.hashCode
    assert(one("hiveHash('abc')") === 96354)
    assert(one("toTime(TIMESTAMP '2024-01-15 10:30:05')").toString
      === "1970-01-02 10:30:05.0")
    assert(one("age('year', TIMESTAMP '2020-06-15 00:00:00', TIMESTAMP '2024-06-14 00:00:00')") === 3L)
    assert(one("age('day', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-02 01:00:00')") === 1L)
    assert(one("age('hour', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 02:59:00')") === 2L)
    // negative spans: CH age truncates toward zero (symmetric), so a
    // -1.5-day span is -1 (a floor route would give -2)
    assert(one("age('day', TIMESTAMP '2024-01-02 12:00:00', TIMESTAMP '2024-01-01 00:00:00')") === -1L)
    assert(one("age('hour', TIMESTAMP '2024-01-01 02:59:00', TIMESTAMP '2024-01-01 00:00:00')") === -2L)
    assert(one("age('year', TIMESTAMP '2024-06-14 00:00:00', TIMESTAMP '2020-06-15 00:00:00')") === -3L)
    assert(one("age('month', TIMESTAMP '2024-03-10 00:00:00', TIMESTAMP '2024-01-25 00:00:00')") === -1L)
    assert(one("arrayCompact(array(1, 1, 2, 2, 1))") === Seq(1, 2, 1))
    assert(one("arrayCompact(array(CAST(NULL AS INT), NULL, 1))") === Seq(null, 1))
    assert(one("caseWithExpression(2, 1, 'a', 2, 'b', 'z')") === "b")
    assert(one("caseWithExpression(9, 1, 'a', 2, 'b', 'z')") === "z")
  }

  test("CH dateDiff with a quoted unit rescues onto toRelative*Num") {
    def rw(s: String): String = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT dateDiff('day', a, b) FROM t")
      === "SELECT (toRelativeDayNum(b) - toRelativeDayNum(a)) FROM t")
    assert(rw("SELECT date_diff('month', f(x, 1), g(y)) FROM t")
      === "SELECT (toRelativeMonthNum(g(y)) - toRelativeMonthNum(f(x, 1))) FROM t")
    // valid Spark 2-arg datediff inside failing text is untouched
    assert(rw("SELECT datediff(a, b) FROM t FORMAT CSV")
      .startsWith("SELECT datediff(a, b)"))
    // CH boundary-counting semantics end-to-end: Jan-31 → Feb-01 is ONE
    // month boundary even though no complete month elapsed
    assert(spark.sql(
      "SELECT dateDiff('month', DATE '2024-01-31', DATE '2024-02-01')")
      .head.get(0) === 1)
    assert(spark.sql(
      "SELECT dateDiff('day', TIMESTAMP '2024-01-01 23:59:00', TIMESTAMP '2024-01-02 00:01:00')")
      .head.get(0) === 1)
  }

  test("round-8 harvest: array search/rotate/shift and arrayReduce") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql AS v").head.get(0)
    assert(one("arrayLast(x -> x < 4, array(1, 5, 2, 9))") === 2)
    assert(one("arrayLast(x -> x > 100, array(1, 5))") === null)
    assert(one("arrayFirstIndex(x -> x > 3, array(1, 5, 2, 9))") === 2L)
    assert(one("arrayLastIndex(x -> x > 3, array(1, 5, 2, 9))") === 4L)
    assert(one("arrayFirstIndex(x -> x > 99, array(1, 5))") === 0L)
    assert(one("arrayEnumerateDense(array(10, 20, 10, 30))")
      .asInstanceOf[scala.collection.Seq[Int]] === Seq(1, 2, 1, 3))
    assert(one("hasSubstr(array(1, 2, 3, 4), array(2, 3))") === true)
    assert(one("hasSubstr(array(1, 2, 3, 4), array(2, 4))") === false)
    assert(one("hasSubstr(array(1, 2), array())") === true)
    assert(one("arrayRotateLeft(array(1, 2, 3, 4, 5), 2)")
      .asInstanceOf[scala.collection.Seq[Int]] === Seq(3, 4, 5, 1, 2))
    assert(one("arrayRotateRight(array(1, 2, 3, 4, 5), 1)")
      .asInstanceOf[scala.collection.Seq[Int]] === Seq(5, 1, 2, 3, 4))
    assert(one("arrayRotateLeft(array(1, 2, 3), -1)")
      .asInstanceOf[scala.collection.Seq[Int]] === Seq(3, 1, 2))
    assert(one("arrayShiftLeft(array(1, 2, 3, 4), 2, 0)")
      .asInstanceOf[scala.collection.Seq[Int]] === Seq(3, 4, 0, 0))
    assert(one("arrayShiftRight(array(1, 2, 3, 4), 1, 9)")
      .asInstanceOf[scala.collection.Seq[Int]] === Seq(9, 1, 2, 3))
    assert(one("arrayShiftLeft(array(1, 2), 1)")
      .asInstanceOf[scala.collection.Seq[Any]] === Seq(2, null))
    assert(one("arrayPartialSort(2, array(3, 1, 2))")
      .asInstanceOf[scala.collection.Seq[Int]] === Seq(1, 2, 3))
    assert(one("arrayReduce('sum', array(1, 2, 3))") === 6.0) // arraySum returns Float64, like CH's arraySum on wide ints
    assert(one("arrayReduce('max', array(1, 7, 3))") === 7)
    assert(one("arrayReduce('count', array(1, 7, 3))") === 3L)
    assert(one("arrayReduce('uniq', array(1, 1, 3))") === 2L)
    intercept[Exception] { one("arrayReduce('nope', array(1))") }
  }

  test("round-8 harvest: sub-second/year-zero date math") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql AS v").head.get(0)
    assert(one("toMillisecond(TIMESTAMP '2024-03-05 10:20:30.456')") === 456)
    assert(one("CAST(toStartOfSecond(TIMESTAMP '2024-03-05 10:20:30.456') AS STRING)")
      === "2024-03-05 10:20:30")
    assert(one("CAST(addMilliseconds(TIMESTAMP '2024-03-05 10:20:30', 1500) AS STRING)")
      === "2024-03-05 10:20:31.5")
    // CH docs: toDaysSinceYearZero('2023-09-08') = 739136,
    // toModifiedJulianDay('2020-01-01') = 58849
    assert(one("toDaysSinceYearZero(DATE '2023-09-08')") === 739136L)
    assert(one("CAST(fromDaysSinceYearZero(739136) AS STRING)") === "2023-09-08")
    assert(one("toModifiedJulianDay(DATE '2020-01-01')") === 58849L)
    assert(one("CAST(fromModifiedJulianDay(58849) AS STRING)") === "2020-01-01")
    assert(one("toUnixTimestamp64Milli(TIMESTAMP '1970-01-01 00:00:01.5')") === 1500L)
    assert(one("toUnixTimestamp64Nano(TIMESTAMP '1970-01-01 00:00:00.000001')") === 1000L)
    assert(one("CAST(fromUnixTimestamp64Milli(1500) AS STRING)")
      === "1970-01-01 00:00:01.5")
    assert(one("CAST(fromUnixTimestamp64Nano(1500000000) AS STRING)")
      === "1970-01-01 00:00:01.5")
    val slots = spark.sql(
      "SELECT timeSlots(TIMESTAMP '2024-01-01 10:17:00', 3000) AS v")
      .head.getSeq[java.sql.Timestamp](0)
    assert(slots.map(_.toString) === Seq(
      "2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0", "2024-01-01 11:00:00.0"))
  }

  test("round-8 harvest: UTF-8 tools, specials, aggregate tail") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql AS v").head.get(0)
    assert(one("countMatches('aaa', 'aa')") === 1L)
    assert(one("countMatches('a1b22c333', '[0-9]+')") === 3L)
    assert(one("substringIndex('www.example.com', '.', 2)") === "www.example")
    // NFC composes e + combining acute into é; NFD decomposes back
    assert(one("length(normalizeUTF8NFC('e\\u0301'))") === 1)
    assert(one("length(normalizeUTF8NFD('\\u00e9'))") === 2)
    assert(one("isValidUTF8('plain ascii')") === true)
    assert(one("isValidUTF8(unhex('FF'))") === false)
    assert(one("isValidUTF8(unhex('C3A9'))") === true) // é
    assert(one("isValidUTF8(unhex('C0AF'))") === false) // overlong '/'
    assert(one("toValidUTF8(unhex('61FF62'))") === "a�b")
    assert(math.abs(one("erf(1.0)").asInstanceOf[Double] - 0.8427007929497149) < 1e-12)
    assert(math.abs(one("erfc(1.0)").asInstanceOf[Double] - 0.15729920705028513) < 1e-12)
    assert(math.abs(one("tgamma(5.0)").asInstanceOf[Double] - 24.0) < 1e-9)
    assert(math.abs(one("lgamma(5.0)").asInstanceOf[Double] - math.log(24.0)) < 1e-12)
    spark.range(101).selectExpr("CAST(id AS DOUBLE) AS v", "id % 2 = 0 AS even")
      .createOrReplaceTempView("chr8agg")
    assert(one("(SELECT medianExact(v) FROM chr8agg)") === 50.0)
    val sc = spark.sql("SELECT sumCount(v) AS s FROM chr8agg").head.getStruct(0)
    assert(sc.getDouble(0) === 5050.0 && sc.getLong(1) === 101L)
    assert(one("(SELECT argMaxIf(v, v, even) FROM chr8agg)") === 100.0)
    assert(one("(SELECT argMinIf(v, v, NOT even) FROM chr8agg)") === 1.0)
    assert(one("(SELECT corrStable(v, v * -2 + 1) FROM chr8agg)") === -1.0)
    assert(one("(SELECT stddevPopStable(v) FROM chr8agg)").asInstanceOf[Double] > 0)
    assert(one("""JSONExtractKeys('{"a":1,"b":2}')""")
      .asInstanceOf[scala.collection.Seq[String]] === Seq("a", "b"))
  }

  test("operator spellings, combinator tail, best-effort casts") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql AS v").head.get(0)
    assert(one("equals(2, 2)") === true)
    assert(one("notEquals(2, 3)") === true)
    assert(one("less(1, 2)") === true)
    assert(one("greaterOrEquals(2, 2)") === true)
    assert(one("xor(true, false)") === true)
    assert(one("xor(true, true, true)") === true)
    assert(one("xor(1, 1)") === false)
    assert(one("notLike('abc', 'a%')") === false)
    assert(one("notILike('ABC', 'a%')") === false)
    spark.range(10).selectExpr("id", "id % 2 = 0 AS even")
      .createOrReplaceTempView("chcomb")
    assert(spark.sql("SELECT sort_array(groupArrayIf(id, even)) AS v FROM chcomb")
      .head.getSeq[Long](0) === Seq(0L, 2L, 4L, 6L, 8L))
    assert(spark.sql("SELECT size(groupUniqArrayIf(id % 3, even)) AS v FROM chcomb")
      .head.getInt(0) === 3)
    assert(spark.sql("SELECT uniqCombined64(id) AS v FROM chcomb").head.getLong(0) === 10L)
    // parameterized precision form strips like uniqCombined
    assert(spark.sql("SELECT uniqCombined64(14)(id) AS v FROM chcomb").head.getLong(0) === 10L)
    assert(one("CAST(toDate32('2021-02-03') AS STRING)") === "2021-02-03")
    assert(one("toDate32OrNull('nope')") === null)
    assert(one("CAST(toDateTime64('2021-02-03 04:05:06.789', 3) AS STRING)")
      === "2021-02-03 04:05:06.789")
    assert(one("accurateCast('123', 'UInt8')") === 123)
    assert(one("accurateCastOrNull('999', 'Int8')") === null)
    assert(one("CAST(parseDateTimeBestEffort('2021-02-03T04:05:06') AS STRING)")
      === "2021-02-03 04:05:06")
    assert(one("parseDateTimeBestEffortOrNull('garbage')") === null)
  }

  test("sumMap / minMap / maxMap aggregate parallel arrays and maps") {
    import spark.implicits._
    Seq(
      (1, Seq("a", "b"), Seq(1.0, 2.0)),
      (1, Seq("b", "c"), Seq(10.0, 5.0)),
      (2, Seq("a"), Seq(7.0)))
      .toDF("g", "ks", "vs").createOrReplaceTempView("chmapagg")
    val rows = spark.sql(
      """SELECT g, sumMap(ks, vs) AS sm, minMap(ks, vs) AS mn, maxMap(ks, vs) AS mx
        |FROM chmapagg GROUP BY g ORDER BY g""".stripMargin).collect()
    val sm1 = rows(0).getStruct(1)
    assert(sm1.getSeq[String](0) === Seq("a", "b", "c"))
    assert(sm1.getSeq[Double](1) === Seq(1.0, 12.0, 5.0))
    val mn1 = rows(0).getStruct(2)
    assert(mn1.getSeq[Double](1) === Seq(1.0, 2.0, 5.0))
    val mx1 = rows(0).getStruct(3)
    assert(mx1.getSeq[Double](1) === Seq(1.0, 10.0, 5.0))
    assert(rows(1).getStruct(1).getSeq[Double](1) === Seq(7.0))
    // single-map-column form
    val viaMap = spark.sql(
      """SELECT sumMap(map_from_arrays(ks, vs)) AS sm
        |FROM chmapagg WHERE g = 1""".stripMargin).head.getStruct(0)
    assert(viaMap.getSeq[String](0) === Seq("a", "b", "c"))
    assert(viaMap.getSeq[Double](1) === Seq(1.0, 12.0, 5.0))
  }

  test("CH vector-distance family over the codegen'd vec kernels") {
    def one(sql: String): Double =
      spark.sql(s"SELECT $sql AS v").head.getDouble(0)
    assert(one("dotProduct(array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0))") === 32.0)
    assert(one("L1Norm(array(1.0, -2.0, 3.0))") === 6.0)
    assert(one("L2Norm(array(3.0, 4.0))") === 5.0)
    assert(one("LinfNorm(array(1.0, -7.0, 3.0))") === 7.0)
    assert(one("L1Distance(array(1.0, 2.0), array(4.0, 6.0))") === 7.0)
    assert(one("L2Distance(array(1.0, 2.0), array(4.0, 6.0))") === 5.0)
    assert(one("L2SquaredDistance(array(1.0, 2.0), array(4.0, 6.0))") === 25.0)
    assert(one("LinfDistance(array(1.0, 2.0), array(4.0, 6.0))") === 4.0)
    assert(math.abs(one("cosineDistance(array(1.0, 0.0), array(0.0, 1.0))") - 1.0) < 1e-12)
    assert(math.abs(one("cosineDistance(array(2.0, 0.0), array(5.0, 0.0))")) < 1e-12)
    // float32 inputs widen through the cast (the embeddings fixture shape)
    assert(one("L2Distance(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), array(4.0, 6.0))") === 5.0)
  }

  test("third-pass tail: whitespace split, enumerate, map HOFs, Jaccard") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql AS v").head.get(0)
    assert(one("splitByWhitespace('  a  bb\\tc ')")
      .asInstanceOf[scala.collection.Seq[String]] === Seq("a", "bb", "c"))
    assert(one("arrayEnumerateUniq(array(10, 20, 10, 10))")
      .asInstanceOf[scala.collection.Seq[Int]] === Seq(1, 1, 2, 3))
    assert(one("CAST(dateTrunc('month', TIMESTAMP '2024-03-15 10:20:30') AS STRING)")
      === "2024-03-01 00:00:00")
    assert(one("map_keys(mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)))")
      .asInstanceOf[scala.collection.Seq[String]] === Seq("b"))
    assert(one("mapExists((k, v) -> k = 'a' AND v = 1, map('a', 1))") === true)
    assert(one("mapAll((k, v) -> v > 0, map('a', 1, 'b', 0))") === false)
    assert(one("arrayJaccardIndex(array(1, 2, 3), array(2, 3, 4))") === 0.5)
    assert(one("arrayJaccardIndex(array(), array())")
      .asInstanceOf[Double].isNaN)
  }

  test("SipHash-2-4 core matches the paper's test vectors") {
    // Aumasson & Bernstein, "SipHash: a fast short-input PRF", Appendix A:
    // key = 00 01 … 0f (k0/k1 little-endian), 15-byte message 00 01 … 0e
    val k0 = 0x0706050403020100L
    val k1 = 0x0f0e0d0c0b0a0908L
    assert(CHValues.sipHash24(k0, k1, Array.emptyByteArray)
      === 0x726fdb47dd0e0e31L)
    assert(CHValues.sipHash24(k0, k1, Array.tabulate(15)(_.toByte))
      === 0xa129ca6149be45e5L)
    // zero-key wrapper = the CH sipHash64 spelling; plumbing consistency
    val viaSql = spark.sql("SELECT sipHash64('abc') AS h").head.getDecimal(0)
    val raw = CHValues.sipHash64("abc".getBytes("UTF-8"))
    val expected = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(raw).add(
        if (raw < 0) java.math.BigInteger.ONE.shiftLeft(64) else java.math.BigInteger.ZERO))
    assert(viaSql.compareTo(expected) === 0)
  }

  test("farmFingerprint64 / murmur3 kernels match Guava's independent implementations") {
    // Guava (on Spark's classpath) carries INDEPENDENT implementations
    // of FarmHash Fingerprint64, MurmurHash3_x64_128 and SipHash-2-4 —
    // a true cross-implementation golden check, swept across every
    // length-branch boundary of the kernels (0..16, 17..32, 33..64,
    // 64+ incl. multi-block and the 1-mod-64 edge).
    import com.google.common.hash.Hashing
    val rng = new scala.util.Random(42)
    val lengths = (0 to 70) ++ Seq(127, 128, 129, 191, 192, 193, 255, 256, 1000)
    for (len <- lengths) {
      val b = new Array[Byte](len)
      rng.nextBytes(b)
      assert(CHValues.farmFingerprint64(b) ===
        Hashing.farmHashFingerprint64().hashBytes(b).asLong(),
        s"farmFingerprint64 diverges from Guava at len=$len")
      val g = Hashing.murmur3_128(0).hashBytes(b).asBytes()
      assert(CHValues.murmurHash3_128(b).toSeq === g.toSeq,
        s"murmurHash3_128 diverges from Guava at len=$len")
      // CH murmurHash3_64 = XOR of the two digest halves
      def le64(a: Array[Byte], off: Int): Long =
        (0 until 8).map(i => (a(off + i) & 0xffL) << (8 * i)).reduce(_ | _)
      assert(CHValues.murmurHash3_64(b) === (le64(g, 0) ^ le64(g, 8)))
      // murmurHash3_32 (x86_32, seed 0) — Guava murmur3_32 zero-extended
      assert(CHValues.murmurHash3_32(b) ===
        (Hashing.murmur3_32_fixed().hashBytes(b).asInt() & 0xffffffffL),
        s"murmurHash3_32 diverges from Guava at len=$len")
      // bonus cross-pin: the SipHash-2-4 core against Guava's keys
      assert(CHValues.sipHash24(0x0706050403020100L, 0x0f0e0d0c0b0a0908L, b) ===
        Hashing.sipHash24(0x0706050403020100L, 0x0f0e0d0c0b0a0908L).hashBytes(b).asLong(),
        s"sipHash24 diverges from Guava at len=$len")
    }
  }

  test("isValidJson / jaro kernels match DuckDB golden corpora (randomized, 900 cases)") {
    // corpora generated by scripts: random JSON-ish strings / string
    // pairs with DuckDB's json_valid / jaro(_winkler)_similarity
    // verdicts — an INDEPENDENT-implementation check over randomized
    // inputs, far beyond the hand-picked vectors. Base64 keeps control
    // chars and tabs intact in the TSV.
    import org.apache.spark.unsafe.types.UTF8String
    def b64(s: String) = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    val jsonLines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_json_valid.tsv"), "UTF-8").getLines().toSeq
    assert(jsonLines.size >= 500)
    jsonLines.foreach { line =>
      val Array(enc, verdict) = line.split("\t")
      val s = b64(enc)
      assert(CHValues.isValidJson(UTF8String.fromString(s)) === (verdict == "1"),
        s"isValidJson disagrees with DuckDB on: $s")
    }
    val jaroLines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_jaro.tsv"), "UTF-8").getLines().toSeq
    assert(jaroLines.size >= 250)
    jaroLines.foreach { line =>
      val Array(ea, eb, j, w) = line.split("\t")
      val (a, b) = (b64(ea), b64(eb))
      assert(math.abs(CHValues.jaroSimilarity(
        UTF8String.fromString(a), UTF8String.fromString(b)) - j.toDouble) < 1e-9,
        s"jaro disagrees with DuckDB on ('$a', '$b')")
      assert(math.abs(CHValues.jaroWinklerSimilarity(
        UTF8String.fromString(a), UTF8String.fromString(b)) - w.toDouble) < 1e-9,
        s"jaroWinkler disagrees with DuckDB on ('$a', '$b')")
    }
  }

  test("formatDateTime specifier translation matches DuckDB strftime (randomized, 400 cases)") {
    // golden corpus: random timestamps x random CH %-format strings,
    // rendered by DuckDB's strftime through the per-specifier twin table
    // (%i→%M etc.) — independently certifies chFormatToJava's Java
    // pattern semantics (zero padding, 2-digit years, %j day-of-year,
    // %p AM/PM...) beyond hand-picked formats. %Q has no DuckDB twin
    // and keeps its hand pin.
    def b64(s: String) = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_formatdatetime.tsv"), "UTF-8").getLines().toSeq
    assert(lines.size >= 350)
    lines.foreach { line =>
      val Array(ets, efmt, eres) = line.split("\t")
      val (ts, fmt, expected) = (b64(ets), b64(efmt), b64(eres))
      val got = spark.sql(
        s"SELECT formatDateTime(TIMESTAMP '$ts', '$fmt') AS r").head.getString(0)
      assert(got === expected,
        s"formatDateTime('$ts', '$fmt') = '$got', DuckDB strftime says '$expected'")
    }
  }

  test("edit-distance kernels match DuckDB goldens (randomized, 300 pairs)") {
    // levenshteinDistance (Spark's builtin) and the
    // damerauLevenshteinDistance kernel vs DuckDB's native functions;
    // the corpus includes the ('ca','abc') class separating TRUE
    // Damerau-Levenshtein (2) from the restricted/OSA variant (3)
    def b64(s: String) = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_editdist.tsv"), "UTF-8").getLines().toSeq
    assert(lines.size >= 250)
    lines.foreach { line =>
      val Array(ea, eb, lev, dam) = line.split("\t")
      val (a, b) = (b64(ea), b64(eb))
      val row = spark.sql(
        s"SELECT levenshteinDistance('$a', '$b') AS l, " +
          s"damerauLevenshteinDistance('$a', '$b') AS d").head
      assert(row.getInt(0) === lev.toInt, s"levenshtein('$a','$b')")
      assert(row.getInt(1) === dam.toInt, s"damerauLevenshtein('$a','$b')")
    }
  }

  test("date/week spellings match DuckDB goldens (randomized, 500 cases, edge-heavy)") {
    // random dates biased to year boundaries (week numbering) and
    // month ends (clamping): toStartOfWeek Sunday/Monday modes,
    // toMonday, toISOWeek, toYearWeek, quarter/last-day trunc,
    // addMonths clamping, day-of-year — each vs its DuckDB twin.
    def b64(s: String) = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_dates.tsv"), "UTF-8").getLines().toSeq
    assert(lines.size >= 450)
    lines.foreach { line =>
      val Array(eexpr, eres) = line.split("\t")
      val (expr, expected) = (b64(eexpr), b64(eres))
      val got = String.valueOf(spark.sql(s"SELECT $expr AS r").head.get(0))
      assert(got === expected, s"$expr = '$got', DuckDB says '$expected'")
    }
  }

  test("cityHash64 v1.0.2: structural pins and branch behavior") {
    // No independent CityHash-1.0.2 implementation exists in this
    // sandbox (Guava never shipped CityHash; the reference's cityhash-rs
    // crate source is not vendored), so this kernel is certified by:
    // (1) the algebraic pin len=0 → k2 (the algorithm returns the
    // constant directly); (2) byte/length sensitivity across every
    // branch boundary; (3) the b_fnh4 golden oracle freezing today's
    // values so any future kernel drift fails the driver gate loudly.
    assert(CHValues.cityHash64(Array.emptyByteArray) === 0x9ae16a3b2f90404fL)
    val rng = new scala.util.Random(7)
    for (len <- (1 to 70) ++ Seq(128, 129, 1000)) {
      val b = new Array[Byte](len)
      rng.nextBytes(b)
      val h = CHValues.cityHash64(b)
      assert(h === CHValues.cityHash64(b.clone()), "determinism")
      val flipped = b.clone(); flipped(len / 2) = (flipped(len / 2) ^ 1).toByte
      assert(h !== CHValues.cityHash64(flipped), s"byte sensitivity at len=$len")
      assert(h !== CHValues.cityHash64(b ++ Array(0.toByte)), s"length sensitivity at len=$len")
    }
    // murmurHash2_64: MurmurHash64A structure — the empty input hashes
    // the seed/finalizer only; verified value from the reference
    // algorithm with seed 0, len 0 (h = 0, finalize only → 0)
    assert(CHValues.murmurHash2_64(Array.emptyByteArray) === 0L)
  }

  test("Spark's XxHash64 kernel is spec-XXH64 (why CH xxHash64 is NOT aliased)") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // published XXH64 vectors (xxHash reference implementation test
    // suite) at CH's seed 0 — the kernel is conformant, but the CH
    // spelling collides case-insensitively with Spark's builtin
    // `xxhash64` (seed 42), so no dialect alias is possible without
    // shadowing; the builtin must keep winning:
    assert(XxHash64(Seq(Literal("abc")), 0L).eval(null) === 0x44bc2cf5ad770999L)
    assert(XxHash64(Seq(Literal("")), 0L).eval(null) === 0xef46db3751d8e999L)
    assert(spark.sql("SELECT xxHash64('abc') AS h").head.getLong(0) ===
      spark.sql("SELECT xxhash64('abc') AS h").head.getLong(0))
  }

  test("CH LIMIT offset, count comma form rewrites to LIMIT/OFFSET") {
    def rw(s: String): String = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT a FROM t ORDER BY a LIMIT 3, 7")
      === "SELECT a FROM t ORDER BY a LIMIT 7 OFFSET 3")
    // nested: the splice is local, both levels rewrite
    assert(rw("SELECT * FROM (SELECT a FROM t ORDER BY a LIMIT 1, 2) u LIMIT 0, 1")
      === "SELECT * FROM (SELECT a FROM t ORDER BY a LIMIT 2 OFFSET 1) u LIMIT 1 OFFSET 0")
    // LIMIT o, n BY k belongs to the LIMIT BY rewrite, not this one
    assert(rw("SELECT a FROM t ORDER BY a LIMIT 1, 2 BY a").contains("row_number()"))
    // quoted comma forms are never touched
    assert(rw("SELECT 'LIMIT 1, 2' FROM t x JOIN u") ===
      "SELECT 'LIMIT 1, 2' FROM t x JOIN u")
    spark.range(10).selectExpr("id AS a").createOrReplaceTempView("chlimc")
    assert(spark.sql("SELECT a FROM chlimc ORDER BY a LIMIT 4, 3")
      .collect().map(_.getLong(0)).toSeq === Seq(4L, 5L, 6L))
  }

  test("quantilesExact / quantilesTDigest multi-quantile forms") {
    spark.range(101).selectExpr("CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("chqm")
    val exact = spark.sql("SELECT quantilesExact(0.1, 0.5, 0.9)(v) AS q FROM chqm")
      .head.getSeq[Double](0)
    assert(exact === Seq(10.0, 50.0, 90.0))
    val td = spark.sql("SELECT quantilesTDigest(0.5)(v) AS q FROM chqm")
      .head.getSeq[Double](0)
    assert(td.length == 1 && math.abs(td.head - 50.0) <= 1.0)
  }

  test("standard-SQL FETCH FIRST tail rewrites to LIMIT/OFFSET") {
    def rw(s: String): String = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT a FROM t ORDER BY a FETCH FIRST 7 ROWS ONLY")
      === "SELECT a FROM t ORDER BY a LIMIT 7")
    assert(rw("SELECT a FROM t ORDER BY a OFFSET 3 ROWS FETCH NEXT 7 ROWS ONLY")
      === "SELECT a FROM t ORDER BY a LIMIT 7 OFFSET 3")
    assert(rw("SELECT a FROM t ORDER BY a FETCH FIRST 1 ROW ONLY")
      === "SELECT a FROM t ORDER BY a LIMIT 1")
    // not a query tail → untouched (only the CH clause position rewrites)
    assert(rw("SELECT fetch FROM t") === "SELECT fetch FROM t")
    // a FETCH-shaped tail inside a trailing comment is NOT spliced even
    // though a bare `fetch` token exists elsewhere — the scanner confirms
    // the match region sits outside quotes/comments before rewriting
    assert(rw("SELECT fetch FROM t -- FETCH FIRST 5 ROWS ONLY")
      === "SELECT fetch FROM t -- FETCH FIRST 5 ROWS ONLY")
    intercept[org.apache.spark.sql.AnalysisException] {
      rw("SELECT a FROM t ORDER BY a FETCH FIRST 3 ROWS WITH TIES")
    }
    spark.range(10).selectExpr("id AS a").createOrReplaceTempView("chfetch")
    assert(spark.sql(
      "SELECT a FROM chfetch ORDER BY a OFFSET 2 ROWS FETCH FIRST 4 ROWS ONLY")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L, 4L, 5L))
  }

  test("CH ARRAY JOIN clause rewrites onto LATERAL VIEW explode") {
    def rw(s: String): String = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT id, x FROM t ARRAY JOIN tags AS x WHERE x <> ''")
      === "SELECT id, x FROM t LATERAL VIEW explode(tags) ch_aj_ AS x WHERE x <> ''")
    assert(rw("SELECT id, x FROM t LEFT ARRAY JOIN tags AS x")
      === "SELECT id, x FROM t LATERAL VIEW explode_outer(tags) ch_aj_ AS x ")
    // expression form with an inner AS cast
    assert(rw("SELECT x FROM t ARRAY JOIN splitByChar(',', s) AS x ORDER BY x")
      === "SELECT x FROM t LATERAL VIEW explode(splitByChar(',', s)) ch_aj_ AS x ORDER BY x")
    // the rewrite is ALWAYS-ON (Spark parses `t ARRAY JOIN tags` as
    // alias + inner join, failing only at analysis — rescue can't see it)
    assert(ChSqlRewrite("SELECT id, x FROM t ARRAY JOIN tags AS x")
      === "SELECT id, x FROM t LATERAL VIEW explode(tags) ch_aj_ AS x ")
    // multi-array = POSITIONAL zip: first array drives posexplode, the
    // rest index by the shared position (chained explodes would
    // cross-product — wrong)
    assert(rw("SELECT * FROM t ARRAY JOIN a AS x, b AS y WHERE x > 0")
      === "SELECT * FROM t LATERAL VIEW posexplode(a) ch_aj_0 AS ch_aj_pos_, x " +
        "LATERAL VIEW explode(array(get(b, ch_aj_pos_))) ch_aj_1 AS y WHERE x > 0")
    // a complex expr without an alias still bails → loud parse failure
    val noAlias = "SELECT * FROM t ARRAY JOIN f(a), b AS y"
    assert(rw(noAlias) === noAlias)
    // plain LEFT JOIN untouched
    val lj = "SELECT * FROM a LEFT JOIN b ON a.id = b.id"
    assert(rw(lj) === lj)

    Seq((1, Seq("p", "q")), (2, Seq.empty[String])).toDF("id", "tags")
      .createOrReplaceTempView("chajc")
    val rows = spark.sql(
      "SELECT id, x FROM chajc ARRAY JOIN tags AS x ORDER BY id, x")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows === Seq((1, "p"), (1, "q")))
    val leftRows = spark.sql(
      "SELECT id, x FROM chajc LEFT ARRAY JOIN tags AS x ORDER BY id, x")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(leftRows === Seq((1, Some("p")), (1, Some("q")), (2, None)))
  }

  test("multi-array ARRAY JOIN zips positionally end-to-end") {
    Seq(
      (1, Seq("p", "q"), Seq(10, 20)),
      (2, Seq("r"), Seq(30)),
      (3, Seq("s", "t"), Seq(40))) // unequal: missing element → NULL
      .toDF("id", "tags", "vals").createOrReplaceTempView("chajm")
    val rows = spark.sql(
      "SELECT id, x, v FROM chajm ARRAY JOIN tags AS x, vals AS v ORDER BY id, x")
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    assert(rows === Seq(
      (1, "p", Some(10)), (1, "q", Some(20)), (2, "r", Some(30)),
      (3, "s", Some(40)), (3, "t", None)))
    // LEFT multi-array keeps empty-array rows
    val left = spark.sql(
      "SELECT id, x, v FROM chajm LEFT ARRAY JOIN tags AS x, vals AS v WHERE id = 2")
      .collect()
    assert(left.length === 1 && left(0).getString(1) === "r")
    // bare-column form has no faithful Spark rewrite (CH REPLACES the
    // column; a self-aliased LATERAL VIEW is AMBIGUOUS_REFERENCE) —
    // it bails untouched and fails loudly, never silently
    val bare = "SELECT id, tags FROM chajm ARRAY JOIN tags"
    assert(ChSqlRewrite(bare) === bare)
  }

  test("SETTINGS clause strips, maps join_algorithm to a strategy hint, applies confs") {
    // capture + strip
    val r = ChSqlRewrite.rescue(
      "SELECT a FROM t SETTINGS max_threads = 8, join_algorithm = 'hash'")
    assert(r.sql === "SELECT /*+ SHUFFLE_HASH(t) */ a FROM t")
    assert(r.settings === Seq("max_threads" -> "8"))
    // a literal containing a SETTINGS-shaped tail is untouched
    val lit = "SELECT 'x SETTINGS a = 1' AS s"
    assert(ChSqlRewrite.rescue(lit).sql === lit)

    // join_algorithm='hash' influences the chosen strategy (the b_jn11
    // lever): the plan materializes a ShuffledHashJoin even though the
    // sides are broadcast-small
    spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS v")
      .createOrReplaceTempView("chsetl")
    spark.range(0, 100).selectExpr("id AS k", "id % 3 AS w")
      .createOrReplaceTempView("chsetr")
    val hinted = spark.sql(
      """SELECT chsetl.k, v, w FROM chsetl JOIN chsetr ON chsetl.k = chsetr.k
        |SETTINGS join_algorithm = 'hash'""".stripMargin)
    assert(hinted.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      hinted.queryExecution.executedPlan.toString)
    assert(hinted.count() === 100)

    // non-hint keys land on the session through the A15 mapping — and
    // scope to the ONE query, like CH (src/query.rs:71-166): applied at
    // the rescued parse, restored when that query's execution completes
    // (or at the next statement, whichever first)
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val q = spark.sql("SELECT 1 AS x SETTINGS max_threads = 7")
      // between parse and execution the conf is live (this is where the
      // planner reads it)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "7")
      q.collect()
      // the next statement closes the scope synchronously even if the
      // async execution-end listener hasn't fired yet
      spark.sql("SELECT 1").collect()
      assert(spark.conf.get("spark.sql.shuffle.partitions") === prior)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("SETTINGS scope ends with its own query's execution, not another query's") {
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val q = spark.sql("SELECT 1 AS x SETTINGS max_threads = 7")
      // an unrelated execution (no parse, so no backstop) ends first:
      // its execution-end event must leave the scope open
      spark.range(1).collect()
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "7")
      q.collect()
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === prior)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("round-8 dialect tail: time arithmetic, bit ops, folds, formatters") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql").head.get(0)
    assert(one("addHours(TIMESTAMP '2024-01-01 10:00:00', 3)").toString
      === "2024-01-01 13:00:00.0")
    assert(one("subtractHours(TIMESTAMP '2024-01-01 10:00:00', 11)").toString
      === "2023-12-31 23:00:00.0")
    assert(one("addMinutes(TIMESTAMP '2024-01-01 10:00:00', 90)").toString
      === "2024-01-01 11:30:00.0")
    assert(one("subtractSeconds(TIMESTAMP '2024-01-01 00:00:00', 1)").toString
      === "2023-12-31 23:59:59.0")
    assert(one("addQuarters(DATE '2024-01-15', 2)").toString === "2024-07-15")
    assert(one("subtractWeeks(DATE '2024-01-15', 2)").toString === "2024-01-01")
    assert(one("toYYYYMMDDhhmmss(TIMESTAMP '2024-03-05 07:08:09')") === 20240305070809L)
    assert(one("dateName('month', DATE '2024-04-10')") === "April")
    assert(one("dateName('weekday', DATE '2024-04-10')") === "Wednesday")
    assert(one("dateName('year', DATE '2024-04-10')") === "2024")
    assert(one("arrayProduct(array(2, 3, 4))") === 24.0)
    assert(one("arrayCumSumNonNegative(array(1, 1, -4, 1))") === Seq(1, 2, 0, 1))
    assert(one("countEqual(array(1, 2, 1, 1), 1)") === 3L)
    assert(one("bitTestAll(7, 0, 1, 2)") === true)
    assert(one("bitTestAll(5, 0, 1)") === false)
    assert(one("bitTestAny(4, 0, 2)") === true)
    assert(one("bitTestAny(4, 0, 1)") === false)
    assert(one("bitRotateLeft(1, 1)") === 2L)
    assert(one("bitRotateRight(1, 1)") === java.lang.Long.MIN_VALUE)
    assert(one("roundToExp2(100)") === 64L)
    assert(one("roundToExp2(0.5)") === 0L)
    assert(one("gcd(12, 18)") === 6L)
    assert(one("gcd(0, 0)") === 0L)
    assert(one("gcd(-12, 18)") === 6L)
    assert(one("lcm(4, 6)") === 12L)
    assert(one("formatReadableSize(1024)") === "1.00 KiB")
    assert(one("formatReadableSize(123)") === "123.00 B")
    assert(one("formatReadableSize(5242880)") === "5.00 MiB")
    assert(one("formatReadableQuantity(1234567)") === "1.23 million")
    assert(one("formatReadableQuantity(42)") === "42.00")
    assert(one("netloc('https://user@example.com:8080/path?q=1')")
      === "user@example.com:8080")
    assert(one("netloc('example.com/path')") === "example.com")
    assert(one("firstSignificantSubdomain('https://news.clickhouse.com.tr/story')")
      === "clickhouse")
    assert(one("firstSignificantSubdomain('https://www.example.org/x')")
      === "example")
    assert(one("toTypeName(CAST(1 AS BIGINT))") === "Int64")
    assert(one("toTypeName(array(CAST(1.5 AS DOUBLE)))") === "Array(Float64)")
    assert(one("toTypeName('x')") === "String")
    // CH transform(x, from, to[, default]) — always-on rewrite (Spark
    // owns the 2-arg `transform` HOF, which must stay untouched)
    assert(one("transform(2, array(1, 2, 3), array('a', 'b', 'c'), 'zz')") === "b")
    assert(one("transform(9, array(1, 2, 3), array('a', 'b', 'c'), 'zz')") === "zz")
    assert(one("transform(9, array(1, 2), array(11, 22))") === 9)
    assert(one("transform(array(1, 2), x -> x * 10)") === Seq(10, 20))
  }

  test("CH {name:Type} params rewrite to named markers; Identifier pre-binds") {
    def rw(s: String): String = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT * FROM t WHERE id = {id:UInt64} AND name LIKE {p:String}")
      === "SELECT * FROM t WHERE id = :id AND name LIKE :p")
    assert(rw("SELECT {xs:Array(Int32)} AS a") === "SELECT :xs AS a")
    // a braced form inside a string literal is untouched
    assert(rw("SELECT '{id:UInt64}' AS s") === "SELECT '{id:UInt64}' AS s")
    // a brace without the name:Type shape (format remnant) is untouched
    assert(rw("SELECT 1 AS x -- {db} braces in comment")
      === "SELECT 1 AS x -- {db} braces in comment")
    // Identifier params never become value bindings — loud pointer
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      rw("SELECT * FROM {t:Identifier}")
    }
    assert(e.getMessage.contains("Params.sql"))
    // end-to-end: identifier substitutes client-side, value binds engine-side
    spark.range(5).selectExpr("id AS k").createOrReplaceTempView("chbp")
    val rows = graft.settings.Params.sql(spark,
      "SELECT k FROM {t:Identifier} WHERE k >= {lo:Int64} ORDER BY k",
      Map("t" -> "chbp", "lo" -> 3L)).collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(3L, 4L))
    // invalid identifier values fail validation, never splice
    intercept[IllegalArgumentException] {
      graft.settings.Params.sql(spark,
        "SELECT k FROM {t:Identifier}", Map("t" -> "chbp` WHERE 1=1 --"))
    }
  }

  test("ARRAY JOIN over a map surfaces key/value under the alias") {
    Seq((1L, Map("a" -> "x", "b" -> "y")), (2L, Map("c" -> "z")))
      .toDF("id", "metrics").createOrReplaceTempView("chmapaj")
    val rows = spark.sql(
      """SELECT id, m.key, m.value FROM chmapaj ARRAY JOIN metrics AS m
        |ORDER BY id, m.key""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rows === Seq((1L, "a", "x"), (1L, "b", "y"), (2L, "c", "z")))
    // dialect introspection spellings resolve on tagged structs
    assert(spark.sql(
      "SELECT dynamicType(named_struct('dynamic_type', 'Int64', 'value', '42'))")
      .head.getString(0) === "Int64")
    assert(spark.sql(
      "SELECT variantType(named_struct('variant_type', 'String', 'v0', 'a'))")
      .head.getString(0) === "String")
    // numbers_mt mirrors numbers
    assert(spark.sql("SELECT number FROM system.numbers_mt LIMIT 3")
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
  }

  test("SETTINGS scope unwinds after a FAILED analysis too") {
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.range(3).selectExpr("id AS k").createOrReplaceTempView("chsetfail")
      // the rescued parse succeeds and applies the conf; ANALYSIS then
      // fails (unknown column) so no execution listener will ever fire
      intercept[Exception] {
        spark.sql("SELECT no_such_col FROM chsetfail SETTINGS max_threads = 11")
      }
      // the next statement's parse drains the pending scope
      spark.sql("SELECT 1").collect()
      assert(spark.conf.get("spark.sql.shuffle.partitions") === prior)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("SAMPLE clause rewrites to the deterministic md5-hash sample") {
    ChSqlRewrite.registerSampleKey("chsmpl", "id")
    // floor(0.1 * 65536) = 6553 = 0x1999
    assert(ChSqlRewrite.rescue("SELECT id FROM chsmpl SAMPLE 0.1 ORDER BY id").sql
      === "SELECT id FROM (SELECT * FROM chsmpl WHERE substring(md5(" +
        "CAST(id AS STRING)), 1, 4) < '1999') chsmpl ORDER BY id")
    // the k/m fraction spelling
    assert(ChSqlRewrite.rescue("SELECT id FROM chsmpl SAMPLE 1/4").sql
      .contains("< '4000'"))
    // no registered key → loud CH-style failure, not silent wrongness
    val err = intercept[IllegalArgumentException] {
      ChSqlRewrite.rescue("SELECT x FROM chnokey SAMPLE 0.5")
    }
    assert(err.getMessage.contains("sampling key"))

    spark.range(0, 2000).toDF("id").createOrReplaceTempView("chsmpl")
    val sampled = spark.sql("SELECT id FROM chsmpl SAMPLE 0.1")
    val nSampled = sampled.count()
    // deterministic: same rows every run, ~10% of 2000
    assert(nSampled === spark.sql("SELECT id FROM chsmpl SAMPLE 0.1").count())
    assert(nSampled > 100 && nSampled < 320, s"got $nSampled of 2000")
    val manual = spark.sql(
      "SELECT id FROM chsmpl WHERE substring(md5(CAST(id AS STRING)), 1, 4) < '1999'")
    assert(sampled.collect().map(_.getLong(0)).sorted.toSeq
      === manual.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("URL encoding, edit distance, array constructors") {
    // CH percent-encodes space (%20) and leaves '+' alone on decode;
    // the FORM variants are the '+' flavor (round-10 exactness fix)
    assert(one("encodeURLComponent('a b&c')") === "a%20b%26c")
    assert(one("decodeURLComponent('a+b%26c')") === "a+b&c")
    assert(one("decodeURLComponent('a%20b%2Bc')") === "a b+c")
    assert(one("encodeURLFormComponent('a b&c')") === "a+b%26c")
    assert(one("decodeURLFormComponent('a+b%26c')") === "a b&c")
    assert(one("decodeURLComponent(encodeURLComponent('x + y/z?'))") === "x + y/z?")
    // RFC-3986 unreserved set: '~' stays raw, '*' percent-encodes
    // (Java's form flavor has both backwards — post-corrected)
    assert(one("encodeURLComponent('a~b*c')") === "a~b%2Ac")
    assert(one("encodeURLFormComponent('a~b*c d')") === "a~b%2Ac+d")
    assert(one("decodeURLComponent(encodeURLComponent('~*~ %7E'))") === "~*~ %7E")
    assert(one("levenshteinDistance('kitten', 'sitting')") === 3)
    assert(one("editDistance('abc', 'abd')") === 1)
    assert(one("regexpQuoteMeta('a.b*c')") === "a\\.b\\*c")
    assert(one(s"match('a.b*c', regexpQuoteMeta('a.b*c'))") === true)
    assert(seqOf("arrayWithConstant(3, 7)") === Seq(7, 7, 7))
    assert(seqOf("arrayResize(array(1,2,3), 2)") === Seq(1, 2))
    assert(seqOf("arrayResize(array(1,2), 4, 0)") === Seq(1, 2, 0, 0))
    assert(one("negate(5)") === -5)
  }

  test("BFloat16 raw-bits conversions match the wire form") {
    // 1.0f = 0x3F800000 → bf16 bits 0x3F80
    assert(one("toBFloat16(cast(1.0 AS FLOAT))") === 0x3F80)
    assert(one("bfloat16ToFloat32(16256)") === 1.0f)
    // round-trip is exact for values representable in bf16
    assert(one("bfloat16ToFloat32(toBFloat16(cast(-2.5 AS FLOAT)))") === -2.5f)
    assert(one("bfloat16ToFloat32(toBFloat16(cast(0.0 AS FLOAT)))") === 0.0f)
    // truncation loses low mantissa bits but stays within bf16 epsilon
    val x = spark.sql("SELECT bfloat16ToFloat32(toBFloat16(cast(3.14159 AS FLOAT)))")
      .head.getFloat(0)
    assert(math.abs(x - 3.14159f) < 0.02f)
  }

  test("ChSqlRewrite is a no-op on every declared oracle SQL text") {
    // the whole DuckDB oracle corpus (200+ realistic SQL strings with
    // quotes, regexes, lambdas, window frames, CTEs) must pass through
    // the rewriter byte-identical — the shim only ever touches call
    // shapes no valid query can contain
    val oracles = graft.SparkEntry.oracleSql.values.toSeq
    assert(oracles.nonEmpty)
    // ASOF JOIN is the one spelling shared by the DuckDB oracle dialect
    // and CH: those texts are a LEGITIMATE rewrite target (never valid
    // Spark SQL), so they are the only allowed divergence
    val asof = "(?is).*\\bASOF\\s+(LEFT\\s+|INNER\\s+)?JOIN\\b.*".r
    val changed = oracles.filter(sql =>
      !asof.matches(sql) && ChSqlRewrite(sql) != sql)
    assert(changed.isEmpty,
      s"rewriter modified ${changed.size} oracle SQL texts, e.g.:\n${changed.headOption.getOrElse("")}")
  }

  test("star REPLACE modifier rewrites onto EXCEPT + trailing aliases") {
    def rw(s: String) = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT * REPLACE (upper(x) AS x) FROM t")
      === "SELECT * EXCEPT (x), (upper(x)) AS x FROM t")
    // combined with an existing EXCEPT list, and multiple items
    assert(rw("SELECT * EXCEPT (a) REPLACE (x + 1 AS x, lower(y) AS y) FROM t")
      === "SELECT * EXCEPT (a, x, y), (x + 1) AS x, (lower(y)) AS y FROM t")
    Seq((1, 2, "ab")).toDF("a", "x", "y").createOrReplaceTempView("chrep")
    val row = spark.sql(
      "SELECT * REPLACE (x * 10 AS x, upper(y) AS y) FROM chrep").head
    assert(row.getAs[Int]("a") === 1)
    assert(row.getAs[Int]("x") === 20)
    assert(row.getAs[String]("y") === "AB")
    // the builtin replace() FUNCTION never matches (no AS items)
    val fine = "SELECT a * REPLACE(y, 'a', 'b') FROM chrep"
    assert(ChSqlRewrite.rescue(fine).sql === fine)
    // qualified star keeps its qualifier
    assert(spark.sql("SELECT t.* REPLACE (x + 1 AS x) FROM chrep t")
      .head.getAs[Int]("x") === 3)
  }

  test("the rescue pass never crashes on the oracle corpus") {
    // rescue only runs after a parse failure in production, but it must
    // stay total on arbitrary realistic SQL: either a rewritten string
    // or one of the documented loud contracts, never an internal error
    val oracles = graft.SparkEntry.oracleSql.values.toSeq
    assert(oracles.nonEmpty)
    oracles.foreach { sql =>
      try { ChSqlRewrite.rescue(sql); () }
      catch { case _: IllegalArgumentException => () /* loud contract */ }
    }
  }

  test("ChSqlRewrite is idempotent on its positive cases") {
    val cases = Seq(
      "SELECT quantile(0.9)(x), quantiles(0.1,0.5)(y) FROM t ARRAY JOIN a AS e FORMAT CSV;",
      "EXPLAIN PIPELINE SELECT uniqUpTo(3)(v) FROM t",
      "SELECT countIf(x > 0) FROM t LEFT ARRAY JOIN tags AS tg")
    for (c <- cases) {
      val once = ChSqlRewrite(c)
      assert(ChSqlRewrite(once) === once, s"not idempotent for: $c")
    }
  }

  test("no alias shadows a Spark builtin function (case-insensitive)") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName.toLowerCase).toSet
    // dateDiff intentionally overlays builtin datediff but PRESERVES its
    // 2-arg semantics exactly (asserted above) — the only allowed overlap
    val allowed = Set("datediff")
    val clashes = ChDialect.all.map(_._1.funcName)
      .filter(n => builtin.contains(n.toLowerCase) && !allowed.contains(n.toLowerCase))
    assert(clashes.isEmpty, s"dialect aliases shadow Spark builtins: $clashes")
  }

  test("zero-arg count() rewrites to count(*) always-on") {
    assert(ChSqlRewrite("SELECT count() FROM t") === "SELECT count(*) FROM t")
    assert(ChSqlRewrite("SELECT count( ) AS n, count(x) FROM t")
      === "SELECT count(*) AS n, count(x) FROM t")
    // quoted and argumented forms untouched
    assert(ChSqlRewrite("SELECT 'count()' AS s, count(*) FROM t")
      === "SELECT 'count()' AS s, count(*) FROM t")
    Seq(1, 2, 3).toDF("v").createOrReplaceTempView("chcnt")
    assert(spark.sql("SELECT count() AS n FROM chcnt").head.getLong(0) === 3L)
  }

  test("PREWHERE merges into WHERE as a parenthesized conjunction") {
    def rw(s: String) = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT * FROM t PREWHERE a > 1 WHERE b = 2 OR c = 3 GROUP BY d")
      === "SELECT * FROM t WHERE (a > 1) AND (b = 2 OR c = 3) GROUP BY d")
    assert(rw("SELECT * FROM t PREWHERE a IN (SELECT x FROM u) ORDER BY b")
      === "SELECT * FROM t WHERE a IN (SELECT x FROM u) ORDER BY b")
    // end-to-end: PREWHERE + WHERE with an OR proves precedence survives
    Seq((1, 10), (2, 20), (3, 30), (4, 40)).toDF("a", "b")
      .createOrReplaceTempView("chpw")
    val got = spark.sql(
      "SELECT a FROM chpw PREWHERE a > 1 WHERE b = 20 OR b = 40 ORDER BY a")
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(2, 4))
    // without a trailing WHERE the keyword alone swaps
    assert(spark.sql("SELECT a FROM chpw PREWHERE a >= 3 ORDER BY a")
      .collect().map(_.getInt(0)).toSeq === Seq(3, 4))
  }

  test("GROUP BY ... WITH TOTALS becomes GROUPING SETS with a NULL-key totals row") {
    def rw(s: String) = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT k, count() AS n FROM t GROUP BY k WITH TOTALS")
      === "SELECT k, count(*) AS n FROM t GROUP BY GROUPING SETS ((k), ())")
    assert(rw("SELECT k, j, sum(v) AS s FROM t GROUP BY k, j WITH TOTALS HAVING s > 0")
      === "SELECT k, j, sum(v) AS s FROM t GROUP BY GROUPING SETS ((k, j), ()) HAVING s > 0")
    // WITH ROLLUP / WITH CUBE are valid Spark — untouched by the rewriter
    val rollup = "SELECT k, count(*) FROM t GROUP BY k WITH ROLLUP"
    assert(ChSqlRewrite(rollup) === rollup)
    Seq(("x", 1), ("x", 2), ("y", 3)).toDF("k", "v").createOrReplaceTempView("chtot")
    val rows = spark.sql(
      "SELECT k, sum(v) AS s FROM chtot GROUP BY k WITH TOTALS ORDER BY k NULLS LAST")
      .collect().map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getLong(1)).toSeq
    assert(rows === Seq("x" -> 3L, "y" -> 3L, (null: String) -> 6L))
  }

  test("LIMIT n BY rewrites onto a row_number window with order re-applied") {
    Seq(("a", 3), ("a", 2), ("a", 1), ("b", 9), ("b", 8))
      .toDF("k", "v").createOrReplaceTempView("chlb")
    // top-2 per key under the query's ORDER BY
    val top2 = spark.sql(
      "SELECT k, v FROM chlb ORDER BY v DESC LIMIT 2 BY k")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    assert(top2.sorted === Seq("a" -> 2, "a" -> 3, "b" -> 8, "b" -> 9))
    // OFFSET skips the per-group head; trailing plain LIMIT still applies
    val skip1 = spark.sql(
      "SELECT k, v FROM chlb ORDER BY v DESC LIMIT 1 OFFSET 1 BY k LIMIT 10")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    assert(skip1.sorted === Seq("a" -> 2, "b" -> 8))
    // CH's `LIMIT o, n BY` comma form
    val comma = spark.sql(
      "SELECT k, v FROM chlb ORDER BY v DESC LIMIT 1, 1 BY k")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    assert(comma.sorted === Seq("a" -> 2, "b" -> 8))
    // a plain LIMIT is never misread as LIMIT BY
    assert(spark.sql("SELECT k, v FROM chlb ORDER BY v DESC LIMIT 2")
      .collect().length === 2)
  }

  test("GLOBAL distribution hints drop in the right tier") {
    // always-on: the join subset (parses as an alias otherwise)
    assert(ChSqlRewrite("SELECT * FROM a GLOBAL JOIN b ON a.x = b.x")
      === "SELECT * FROM a JOIN b ON a.x = b.x")
    assert(ChSqlRewrite("SELECT * FROM a GLOBAL LEFT JOIN b ON a.x = b.x")
      === "SELECT * FROM a LEFT JOIN b ON a.x = b.x")
    // a column actually named `global` in a non-join position is safe
    val colUse = "SELECT global FROM t WHERE global = 1"
    assert(ChSqlRewrite(colUse) === colUse)
    // rescue-only: GLOBAL IN never parses, so the wide set is safe there
    assert(ChSqlRewrite.rescue("SELECT * FROM t WHERE x GLOBAL IN (1, 2)").sql
      === "SELECT * FROM t WHERE x IN (1, 2)")
    assert(ChSqlRewrite.rescue("SELECT * FROM t WHERE x GLOBAL NOT IN (1, 2)").sql
      === "SELECT * FROM t WHERE x NOT IN (1, 2)")
    // end-to-end through the session parser
    Seq(1, 2, 3).toDF("x").createOrReplaceTempView("chgl")
    assert(spark.sql("SELECT x FROM chgl WHERE x GLOBAL IN (2, 3) ORDER BY x")
      .collect().map(_.getInt(0)).toSeq === Seq(2, 3))
  }

  test("ASOF JOIN rewrites onto a decorrelated LATERAL latest-match probe") {
    Seq((1, 100L), (1, 200L), (2, 50L)).toDF("k", "ts")
      .createOrReplaceTempView("chasof_l")
    Seq((1, 90L, "a"), (1, 150L, "b"), (3, 10L, "c")).toDF("k", "rts", "p")
      .createOrReplaceTempView("chasof_r")
    // ASOF LEFT JOIN: latest right at-or-before each left ts; no match → NULL
    val leftRows = spark.sql(
      """SELECT l.k, l.ts, r.p FROM chasof_l l
        |ASOF LEFT JOIN chasof_r r ON l.k = r.k AND l.ts >= r.rts
        |ORDER BY l.k, l.ts""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(leftRows === Seq((1, 100L, "a"), (1, 200L, "b"), (2, 50L, null)))
    // inner ASOF drops the unmatched left row; CH's LEFT-first spelling
    val innerRows = spark.sql(
      """SELECT l.k, r.p FROM chasof_l l
        |ASOF JOIN chasof_r r ON l.k = r.k AND l.ts >= r.rts
        |ORDER BY l.k, l.ts""".stripMargin).collect()
    assert(innerRows.length === 2)
    val chSpelling = spark.sql(
      """SELECT l.k, r.p FROM chasof_l l
        |LEFT ASOF JOIN chasof_r r ON l.k = r.k AND l.ts >= r.rts
        |ORDER BY l.k, l.ts""".stripMargin).collect()
    assert(chSpelling.length === 3)
    // forward direction: earliest right strictly after the left ts
    val fwd = spark.sql(
      """SELECT l.ts, r.rts FROM chasof_l l
        |ASOF LEFT JOIN chasof_r r ON l.k = r.k AND l.ts < r.rts
        |ORDER BY l.ts""".stripMargin)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(fwd === Seq((50L, -1L), (100L, 150L), (200L, -1L)))
    // a malformed ON clause fails loudly, never silently joins all matches
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM chasof_l l ASOF JOIN chasof_r r ON l.k = r.k")
    }
    assert(e.getMessage.contains("ASOF JOIN"))
    // side detection is token-aware: a LEFT alias ENDING in the right
    // alias's letters ('leap' contains the substring 'p.') must not be
    // misread as referencing right alias 'p'
    val prefix = spark.sql(
      """SELECT leap.ts, p.p AS pp FROM chasof_l leap
        |ASOF LEFT JOIN chasof_r p ON leap.k = p.k AND leap.ts >= p.rts
        |ORDER BY leap.k, leap.ts""".stripMargin)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(prefix === Seq((100L, "a"), (200L, "b"), (50L, null)))
    // no cartesian product in the decorrelated plan
    val plan = spark.sql(
      """SELECT l.k, r.p FROM chasof_l l
        |ASOF LEFT JOIN chasof_r r ON l.k = r.k AND l.ts >= r.rts""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ASOF and ANY JOIN accept the USING spelling") {
    Seq((1, 100L), (1, 200L), (2, 50L)).toDF("k", "ts")
      .createOrReplaceTempView("chusing_l")
    Seq((1, 90L, "a"), (1, 150L, "b"), (3, 10L, "c")).toDF("k", "ts", "p")
      .createOrReplaceTempView("chusing_r")
    // USING (k, ts): k equality, last column is the >= match
    val rows = spark.sql(
      """SELECT l.ts, r.p FROM chusing_l l
        |ASOF LEFT JOIN chusing_r r USING (k, ts)
        |ORDER BY l.k, l.ts""".stripMargin)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(rows === Seq((100L, "a"), (200L, "b"), (50L, null)))
    // ANY USING: all columns equalities; the inner form drops unmatched
    assert(spark.sql(
      "SELECT count(*) AS n FROM chusing_l l ANY LEFT JOIN chusing_r r USING (k)")
      .head.getLong(0) === 3L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM chusing_l l ANY JOIN chusing_r r USING (k)")
      .head.getLong(0) === 2L)
    // no nameable left relation -> loud guidance toward ON
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM (SELECT 1 AS k, 2 AS ts) ASOF JOIN chusing_r r USING (k, ts)"))
    assert(e.getMessage.contains("USING"))
  }

  test("ANY JOIN probes at most one right match per left row") {
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
      .createOrReplaceTempView("chany_l")
    Seq((1, 10), (1, 11), (2, 20)).toDF("k", "w")
      .createOrReplaceTempView("chany_r")
    // left ANY: every left row exactly once, matched rows pick ONE right
    val rows = spark.sql(
      """SELECT l.k, l.v, r.w FROM chany_l l
        |ANY LEFT JOIN chany_r r ON l.k = r.k
        |ORDER BY l.k""".stripMargin)
      .collect().map(r => (r.getInt(0), if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(rows.map(_._1) === Seq(1, 2, 3))           // no row multiplication
    assert(Set(10, 11).contains(rows.head._2))        // one arbitrary match
    assert(rows(1)._2 === 20)
    assert(rows(2)._2 === -1)                         // unmatched → NULL
    // inner ANY drops unmatched left rows; CH's LEFT-first spelling works
    assert(spark.sql(
      "SELECT l.k FROM chany_l l ANY JOIN chany_r r ON l.k = r.k").collect()
      .length === 2)
    assert(spark.sql(
      "SELECT l.k FROM chany_l l LEFT ANY JOIN chany_r r ON l.k = r.k").collect()
      .length === 3)
    // ANY RIGHT JOIN has no lateral analog — loud failure
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM chany_l l ANY RIGHT JOIN chany_r r ON l.k = r.k")
    }
    assert(e.getMessage.contains("ANY RIGHT JOIN"))
    // quantified comparison ANY (valid Spark) is untouched
    val quant = "SELECT * FROM t WHERE x > ANY (SELECT y FROM u)"
    assert(ChSqlRewrite(quant) === quant)
  }

  test("ORDER BY ... WITH FILL generates the missing grid rows") {
    Seq((1, 10), (2, 20), (5, 50), (9, 90)).toDF("x", "v")
      .createOrReplaceTempView("chfill")
    // explicit [FROM, TO) grid: TO is exclusive; off-grid rows survive
    val rows = spark.sql(
      """SELECT x, v FROM chfill WHERE x < 6
        |ORDER BY x WITH FILL FROM 1 TO 6""".stripMargin)
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(rows === Seq((1, 10), (2, 20), (3, -1), (4, -1), (5, 50)))
    // STEP widens the grid stride
    val stepped = spark.sql(
      "SELECT x, v FROM chfill ORDER BY x WITH FILL FROM 1 TO 10 STEP 4")
      .collect().map(_.getInt(0)).toSeq
    assert(stepped === Seq(1, 2, 5, 9)) // grid 1,5,9 ∪ data 1,2,5,9
    // omitted bounds derive from the result's own min/max
    val derived = spark.sql(
      "SELECT x, v FROM chfill WHERE x >= 2 ORDER BY x WITH FILL")
      .collect().map(_.getInt(0)).toSeq
    assert(derived === (2 to 9))
    // a trailing LIMIT still applies after the fill
    assert(spark.sql(
      "SELECT x, v FROM chfill ORDER BY x WITH FILL FROM 1 TO 10 LIMIT 3")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    // INTERPOLATE (col): fill rows carry the last ORIGINAL value forward;
    // original rows keep their own values (x=9 stays 90, not a carry)
    val interp = spark.sql(
      "SELECT x, v FROM chfill ORDER BY x WITH FILL FROM 1 TO 10 INTERPOLATE (v)")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(interp === Seq((1, 10), (2, 20), (3, 20), (4, 20), (5, 50),
      (6, 50), (7, 50), (8, 50), (9, 90)))
    // self-affine `col AS expr`: each fill row applies the step again
    val aff = spark.sql(
      "SELECT x, v FROM chfill ORDER BY x WITH FILL FROM 1 TO 4 INTERPOLATE (v AS v + 1)")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(aff === Seq((1, 10), (2, 20), (3, 21), (5, 50), (9, 90)))
    // DESC fill: axis runs downward, TO exclusive at the bottom
    val down = spark.sql(
      "SELECT x, v FROM chfill ORDER BY x DESC WITH FILL FROM 4 TO 1")
      .collect().map(_.getInt(0)).toSeq
    assert(down === Seq(9, 5, 4, 3, 2, 1))
  }

  test("probe pass 8: jaro, parseDateTime, JSON_VALUE family, map key LIKE, multi-positions, bit tail, URL %20") {
    // jaro family — classic textbook vectors, DuckDB-portable variant
    // (empty/empty → 0, Winkler boost only above the 0.7 threshold)
    assert(math.abs(one("jaroSimilarity('DWAYNE', 'DUANE')").asInstanceOf[Double] - 0.822222) < 1e-6)
    assert(math.abs(one("jaroWinklerSimilarity('MARTHA', 'MARHTA')").asInstanceOf[Double] - 0.961111) < 1e-6)
    assert(one("jaroSimilarity('', '')") === 0.0)
    assert(one("jaroSimilarity('ab', 'ba')") === 0.0) // window 0: no matches
    // below the 0.7 boost threshold the prefix does NOT boost
    assert(math.abs(one("jaroWinklerSimilarity('abcdef', 'abczzz')").asInstanceOf[Double] - 0.666667) < 1e-6)
    // parseDateTime: MySQL %-format through the shared translator
    assert(one("parseDateTime('2024-03-05 12:30:00', '%Y-%m-%d %H:%i:%s')").toString
      === "2024-03-05 12:30:00.0")
    assert(one("parseDateTimeOrNull('garbage', '%Y-%m-%d')") === null)
    intercept[Exception] { spark.sql("SELECT parseDateTime('x', '%q')").collect() }
    // CH parseDateTime THROWS on unparseable input (the OrNull spelling
    // is the null-safe one — the two must stay distinguishable)
    intercept[Exception] {
      spark.sql("SELECT parseDateTime('garbage', '%Y-%m-%d')").collect()
    }
    // SQL-standard JSON spellings over JSONPath
    assert(one("""JSON_VALUE('{"a": {"b": 7}}', '$.a.b')""") === "7")
    assert(one("""JSON_QUERY('{"a": [1, 2]}', '$.a')""") === "[1,2]")
    assert(one("""JSON_EXISTS('{"a": 1}', '$.b')""") === false)
    assert(one("""JSONArrayLength('[1, 2, 3]')""") === 3)
    // isValidJSON: strict RFC-8259 whole-document validation
    assert(one("""isValidJSON('{"a": [1, 2.5e3, "x\\n", null, true]}')""") === true)
    assert(one("isValidJSON('[]')") === true)
    assert(one("isValidJSON('42')") === true)       // bare scalar (DuckDB convention)
    assert(one("isValidJSON('01')") === false)      // leading zero
    assert(one("""isValidJSON('{"a": 1,}')""") === false) // trailing comma
    assert(one("""isValidJSON('{"a" 1}')""") === false)   // missing colon
    assert(one("""isValidJSON('{"a": 1} x')""") === false) // trailing garbage
    assert(one("""isValidJSON('"\\q"')""") === false)      // bad escape
    assert(one("isValidJSON('not json')") === false)
    // \u escape digits must be ASCII hex — a Unicode digit (U+0663,
    // Arabic-Indic THREE) in the escape is invalid JSON per RFC 8259
    // (Character.digit would have accepted it)
    val uniEscape = "\"\\" + "u12" + '٣' + "4\""
    assert(graft.functions.CHValues.isValidJson(
      org.apache.spark.unsafe.types.UTF8String.fromString(uniEscape)) === false)
    // map key LIKE
    assert(one("mapContainsKeyLike(map('prefix_a', 1, 'other', 2), 'prefix%')") === true)
    assert(one("mapContainsKeyLike(map('x', 1), 'prefix%')") === false)
    // per-needle positions (1-based, 0 absent)
    assert(one("multiSearchAllPositions('hello world', array('world', 'zzz', 'h'))")
      .asInstanceOf[scala.collection.Seq[Long]].toSeq === Seq(7L, 0L, 1L))
    // bit tail
    assert(one("bitNot(0)") === -1)
    assert(one("bitHammingDistance(0, 255)") === 8)
    // CH format(): auto {} and positional {n} braces, {{ }} escapes
    assert(one("format('{} - {}', 'a', 'b')") === "a - b")
    assert(one("format('{1} {0} {1}', 'x', 'y')") === "y x y")
    assert(one("format('100{{}}%', 'unused')") === "100{}%")
    intercept[Exception] { spark.sql("SELECT format('{:.2f}', 1.0)").collect() }
    // fmt/CH forbid mixing {} with {n}
    intercept[Exception] { spark.sql("SELECT format('{} {1}', 'a', 'b')").collect() }
    assert(one("initcapUTF8('hello world')") === "Hello World")
  }

  test("probe pass 9: XML codec, hasToken, ngrams, mapPopulateSeries, hostName") {
    assert(one("encodeXMLComponent(\"a<b>&'c\\\"\")") === "a&lt;b&gt;&amp;&apos;c&quot;")
    assert(one("decodeXMLComponent('a&lt;b&gt;&amp;&apos;c&quot;')") === "a<b>&'c\"")
    assert(one("decodeXMLComponent('&#65;&#x42;&#x1F600;')") === "AB😀")
    // lenient: unknown/unterminated references pass through
    assert(one("decodeXMLComponent('a &nope; &amp b &')") === "a &nope; &amp b &")
    assert(one("decodeXMLComponent(encodeXMLComponent('x < 1 && y > \"2\"'))")
      === "x < 1 && y > \"2\"")
    // hasToken: whole tokens only, same tokenizer as tokens() —
    // '_' is a TOKEN char here (documented deviation: CH's alphabet is
    // ASCII-alnum and treats '_' as a separator)
    assert(one("hasToken('select * from t_1 where x', 't_1')") === true)
    assert(one("hasToken('select * from t_1 where x', 't')") === false)
    intercept[Exception] { spark.sql("SELECT hasToken('a b', 'a b')").collect() }
    // ngrams: sliding char windows; short input -> empty
    assert(one("array_join(ngrams('abcd', 3), ',')") === "abc,bcd")
    assert(one("size(ngrams('ab', 3))") === 0)
    // mapPopulateSeries: dense [min..max] with 0-fill (+ explicit max)
    assert(one("array_join(map_values(mapPopulateSeries(map(1, 10, 4, 40))), ',')")
      === "10,0,0,40")
    assert(one("array_join(map_values(mapPopulateSeries(map(1, 10), 3)), ',')")
      === "10,0,0")
    // guards: explicit max below min(keys) and an empty input both give
    // the EMPTY map — never NULL, never a descending -1-step series
    assert(one("size(map_values(mapPopulateSeries(map(5, 10), 3)))") === 0)
    assert(one("size(map_values(mapPopulateSeries(map_filter(map(1, 2), (k, v) -> false))))") === 0)
    // decode: surrogate-range numeric refs pass through, not '?'
    assert(one("decodeXMLComponent('&#xD800;')") === "&#xD800;")
    // CH initcap word boundaries: any non-alnum starts a word
    assert(one("initcapUTF8('1-urgent and 4-not specified')") === "1-Urgent And 4-Not Specified")
    assert(one("initcapUTF8('hELLo-wORLD')") === "Hello-World")
    assert(one("length(hostName()) > 0") === true)
  }

  test("untuple(t) expands a tuple column via star expansion") {
    Seq((1, (10, "a")), (2, (20, "b"))).toDF("id", "t")
      .createOrReplaceTempView("untuple_v")
    val out = spark.sql("SELECT id, untuple(t) FROM untuple_v ORDER BY id")
    assert(out.columns.toSeq === Seq("id", "_1", "_2"))
    assert(out.collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
      === Seq((1, 10, "a"), (2, 20, "b")))
    // qualified argument form
    assert(spark.sql("SELECT untuple(u.t) FROM untuple_v u WHERE id = 1")
      .collect().head.getInt(0) === 10)
    // a computed-expression argument stays verbatim and fails LOUDLY
    // (Spark cannot star-expand a non-column expression)
    intercept[Exception] {
      spark.sql("SELECT untuple(named_struct('a', 1)) FROM untuple_v").collect()
    }
    // the spelling inside a string literal is never touched
    assert(spark.sql("SELECT 'untuple(x)' AS s").head.getString(0) === "untuple(x)")
  }

  test("numbers(N) table function maps onto the range TVF") {
    assert(spark.sql("SELECT count(*) AS n FROM numbers(10)").head.getLong(0) === 10L)
    // CH column name `number`, qualified reference, offset form
    assert(spark.sql("SELECT sum(number) AS s FROM numbers(5)").head.getLong(0) === 10L)
    assert(spark.sql("SELECT max(numbers.number) AS m FROM numbers(5)")
      .head.getLong(0) === 4L)
    assert(spark.sql("SELECT min(number) AS m, max(number) AS x FROM numbers(5, 10)")
      .head.toSeq === Seq(5L, 14L))
    // a user alias survives
    assert(spark.sql("SELECT t.number FROM numbers(3) t ORDER BY t.number")
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    // joins against a real view work
    Seq(0L, 2L).toDF("k").createOrReplaceTempView("chnum")
    assert(spark.sql(
      "SELECT count(*) AS n FROM numbers(4) JOIN chnum ON number = k")
      .head.getLong(0) === 2L)
  }

  test("CH type names in CAST and :: map onto the engine's Spark types") {
    def rw(s: String) = ChSqlRewrite.rescue(s).sql
    assert(rw("SELECT CAST(x AS UInt32) FROM t PREWHERE a")
      === "SELECT CAST(x AS BIGINT) FROM t WHERE a")
    assert(rw("SELECT CAST(x AS LowCardinality(String)) FROM t PREWHERE a")
      === "SELECT CAST(x AS STRING) FROM t WHERE a")
    // end-to-end (the CH type alone makes the text unparseable → rescue)
    assert(spark.sql("SELECT CAST(7 AS UInt64) AS v").head.getDecimal(0).longValue === 7L)
    assert(spark.sql("SELECT CAST('2024-03-01 10:00:00' AS DateTime64(3)) AS ts")
      .head.getTimestamp(0).toString.startsWith("2024-03-01"))
    assert(spark.sql("SELECT 300::UInt8 AS v").head.getShort(0) === 300.toShort)
    assert(spark.sql("SELECT '5'::Nullable(Int64) AS v").head.getLong(0) === 5L)
    // valid Spark type spellings never change
    val ok = "SELECT CAST(x AS DECIMAL(10,2)), y::INT FROM t"
    assert(ChSqlRewrite(ok) === ok)
  }

  test("SETTINGS join hint lands on the MAIN query's SELECT, not a CTE body") {
    val rw = ChSqlRewrite.rescue(
      "WITH top AS (SELECT 1 AS a) SELECT * FROM u JOIN top ON u.a = top.a " +
        "SETTINGS join_algorithm = 'hash'").sql
    // the hint must follow the depth-0 SELECT that comes after the CTE
    assert(rw.matches("(?s)WITH top AS \\(SELECT 1 AS a\\) SELECT /\\*\\+ SHUFFLE_HASH.*"), rw)
    assert(!rw.contains("(SELECT /*+"), rw)
  }

  test("scalar WITH items become a one-row cross-joined relation") {
    def rw(s: String) = ChSqlRewrite.rescue(s).sql
    assert(rw("WITH 5 AS lim SELECT v FROM t WHERE v < lim")
      === "SELECT v FROM (SELECT (5) AS lim) ch_with_ CROSS JOIN t WHERE v < lim")
    // end-to-end: constants, expressions, several items, aggregation
    Seq(1, 5, 9, 13).toDF("v").createOrReplaceTempView("chw")
    assert(spark.sql("WITH 8 AS cut SELECT count(*) AS n FROM chw WHERE v < cut")
      .head.getLong(0) === 2L)
    assert(spark.sql(
      "WITH 2 + 3 AS lo, upper('x') AS tag SELECT concat(tag, v - lo) AS s " +
        "FROM chw WHERE v = 9").head.getString(0) === "X4")
    // no FROM: the one-row relation alone drives the select
    assert(spark.sql("WITH 6 * 7 AS ans SELECT ans").head.getInt(0) === 42)
    // ... and trailing clauses stay AFTER the injected FROM
    assert(spark.sql("WITH 5 AS x SELECT x + 1 AS y LIMIT 1").head.getInt(0) === 6)
    // a real subquery CTE is Spark's own and stays untouched
    val cte = "WITH m AS (SELECT max(v) AS mv FROM chw) SELECT mv FROM m"
    assert(ChSqlRewrite.rescue(cte).sql === cte)
    assert(spark.sql(cte).head.getInt(0) === 13)
  }

  test("interval constructors, mapFromArrays, toLastDayOfMonth") {
    assert(one("CAST(DATE '2024-01-15' + toIntervalDay(3) AS STRING)") === "2024-01-18")
    assert(one("CAST(DATE '2024-01-15' + toIntervalMonth(2) AS STRING)") === "2024-03-15")
    assert(one("CAST(TIMESTAMP '2024-01-01 00:00:00' + toIntervalHour(25) AS STRING)")
      .toString.startsWith("2024-01-02 01"))
    assert(one("CAST(TIMESTAMP '2024-01-01 00:00:00' + toIntervalSecond(90) AS STRING)")
      .toString.contains("00:01:30"))
    assert(one("CAST(toLastDayOfMonth(DATE '2024-02-10') AS STRING)") === "2024-02-29")
    assert(one("mapFromArrays(array('a', 'b'), array(1, 2))['b']") === 2)
    // scalar-subquery WITH item (CH allows it) flows through the rewrite
    Seq(1, 7, 3).toDF("v").createOrReplaceTempView("chsubq")
    assert(spark.sql(
      "WITH (SELECT max(v) FROM chsubq) AS mx SELECT count(*) AS n FROM chsubq WHERE v < mx")
      .head.getLong(0) === 2L)
  }

  test("first-match replace, polymorphic empty, bitCount") {
    // replaceOne: first literal occurrence only; empty needle → unchanged
    assert(one("replaceOne('aXbXc', 'X', '_')") === "a_bXc")
    assert(one("replaceOne('abc', '', '_')") === "abc")
    assert(one("replaceOne('abc', 'z', '_')") === "abc")
    // replaceRegexpOne: first regex match, CH \\1 backreference syntax
    assert(one("replaceRegexpOne('a1b2', '([0-9])', '[\\\\1]')") === "a[1]b2")
    assert(one("replaceRegexpOne('cost: 5$', '\\\\$', ' usd')") === "cost: 5 usd")
    // a dangling trailing backslash in the replacement is a literal one
    assert(one("replaceRegexpOne('ab', 'b', 'z\\\\')") === "az\\")
    // empty/notEmpty across strings, arrays and maps
    assert(one("empty('')") === true)
    assert(one("empty('x')") === false)
    assert(one("empty(array())") === true)
    assert(one("empty(array(1))") === false)
    assert(one("empty(map())") === true)
    assert(one("notEmpty('x')") === true)
    assert(one("empty(CAST(NULL AS STRING))") === null)
    // bitCount = population count
    assert(one("bitCount(255)") === 8)
    assert(one("bitCount(CAST(0 AS BIGINT))") === 0)
    // whole-stage codegen keeps the kernels inline on a parquet-backed plan
    val df = graft.Tables.t(spark, sf0001, "documents")
      .selectExpr("replaceOne(text, 'the', '###') AS r", "empty(text) AS e")
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
    assert(df.count() > 0)
  }

  test("star APPLY keeps a quoted qualifier whole") {
    Seq((1, "ab")).toDF("k", "s").createOrReplaceTempView("chapplyq")
    val q = "SELECT `my t`.* APPLY (toString) FROM chapplyq AS `my t`"
    assert(ChSqlRewrite.rescue(q).sql ===
      "SELECT ch_star_apply('toString', '', `my t`.*) FROM chapplyq AS `my t`")
    assert(spark.sql(q).collect().map(_.toSeq).toSeq === Seq(Seq("1", "ab")))
  }

  test("star APPLY modifier expands per resolved column") {
    Seq((1, "ab", 5L), (22, "cd", 100L)).toDF("k", "s", "v")
      .createOrReplaceTempView("chapply")
    // text tier: the rescue pass wraps the star in the resolver marker
    assert(ChSqlRewrite.rescue("SELECT * APPLY (toString) FROM chapply").sql
      === "SELECT ch_star_apply('toString', '', *) FROM chapply")
    // plain APPLY keeps original column names (documented deviation)
    val a1 = spark.sql("SELECT * APPLY (toString) FROM chapply ORDER BY k")
    assert(a1.columns.toSeq === Seq("k", "s", "v"))
    assert(a1.schema.fields.forall(_.dataType.typeName == "string"))
    // EXCEPT + chained APPLY + qualified star: length(toString(col))
    val rows = spark.sql(
      """SELECT t.* EXCEPT (s) APPLY (toString) APPLY (length)
        |FROM chapply t ORDER BY v""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows === Seq((1, 1), (2, 3)))
    // REPLACE + APPLY compose: replaced expr chains the function too
    val ra = spark.sql(
      """SELECT * EXCEPT (s) REPLACE (v + 1 AS v) APPLY (toString)
        |FROM chapply ORDER BY k""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(ra === Seq(("1", "6"), ("22", "101")))
    // aggregate list: * APPLY(sum) wraps the AggregateFunction
    val ag = spark.sql(
      "SELECT * APPLY (sum) FROM (SELECT k, v FROM chapply)").head
    assert((ag.getLong(0), ag.getLong(1)) === (23L, 105L))
    // a bare multiplication star is untouched by the rescue scan
    assert(ChSqlRewrite.rescue("SELECT 2 * (k) FROM chapply").sql
      === "SELECT 2 * (k) FROM chapply")
    // ORDER BY ordinal onto the star: CH's ordinal points at the first
    // result column — the rule maps the marker reference accordingly
    // instead of leaving a dangling attribute
    val ord = spark.sql("SELECT * APPLY (toString) FROM chapply ORDER BY 1 DESC")
      .collect().map(_.getString(0)).toSeq
    assert(ord === Seq("22", "1"))
    // two structurally IDENTICAL markers (one per UNION branch) must each
    // keep their own branch's expansion — the rule keys by marker
    // instance, so equality collisions can't last-wins across branches
    val un = spark.sql(
      """SELECT * APPLY (toString) FROM chapply WHERE k = 1
        |UNION ALL SELECT * APPLY (toString) FROM chapply WHERE k = 22
        |ORDER BY 1 DESC""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(un === Seq(("22", "cd", "100"), ("1", "ab", "5")))
    // GROUP BY onto the star: Spark's analyzer already rejects the
    // star-with-ordinal-grouping shape with its own clear error (the
    // rule's second-pass loud failure backstops any shape that slips
    // through to a non-Sort reference)
    val ex = intercept[Exception] {
      spark.sql("SELECT * APPLY (toString) FROM chapply GROUP BY 1").collect()
    }
    assert(ex.getMessage.contains("STAR_GROUP_BY_POS")
      || ex.getMessage.contains("* APPLY"), s"got: ${ex.getMessage}")
  }

  test("WITH FILL DESC and expression INTERPOLATE forms") {
    // descending fill, derived bounds, default STEP -1
    val d = spark.sql(
      """SELECT n, v FROM (SELECT CAST(id * 2 AS BIGINT) AS n, id AS v FROM range(3))
        |ORDER BY n DESC WITH FILL""".stripMargin)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(d.toSeq === Seq(4L -> 2L, 3L -> -1L, 2L -> 1L, 1L -> -1L, 0L -> 0L))
    // multiplicative recursive interpolation: x doubles per fill row
    val m = spark.sql(
      """SELECT n, x FROM (SELECT * FROM VALUES (CAST(0 AS BIGINT), 2.0D),
        |  (CAST(3 AS BIGINT), 16.0D) AS t(n, x))
        |ORDER BY n WITH FILL FROM 0 TO 6 INTERPOLATE (x AS x * 2)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(m === Seq(0L -> 2.0, 1L -> 4.0, 2L -> 8.0, 3L -> 16.0, 4L -> 32.0, 5L -> 64.0))
    // constant interpolation
    val c = spark.sql(
      """SELECT n, x FROM (SELECT * FROM VALUES (CAST(0 AS BIGINT), 7.5D) AS t(n, x))
        |ORDER BY n WITH FILL FROM 0 TO 3 INTERPOLATE (x AS 0.5)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(c === Seq(0L -> 7.5, 1L -> 0.5, 2L -> 0.5))
    // an interpolation expression over OTHER columns has no faithful
    // closed form — loud failure, not a silent wrong answer
    val e = intercept[Exception](spark.sql(
      """SELECT n, x FROM (SELECT * FROM VALUES (CAST(0 AS BIGINT), 1.0D, 2.0D)
        |  AS t(n, x, y))
        |ORDER BY n WITH FILL FROM 0 TO 3 INTERPOLATE (x AS y + 1)""".stripMargin))
    assert(e.getMessage.contains("INTERPOLATE"), e.getMessage)
  }

  test("LIMIT BY bails loudly when the captured ORDER BY is ordinal") {
    Seq((1, 10), (1, 20), (2, 30)).toDF("k", "v").createOrReplaceTempView("chlbord")
    // ORDER BY 2 only resolves ordinally at the TOP level; inside the
    // window spec it would become a constant — keep the parse failure
    val e = intercept[Exception](
      spark.sql("SELECT k, v FROM chlbord ORDER BY 2 LIMIT 1 BY k").collect())
    assert(e.getMessage.toLowerCase.contains("syntax") ||
      e.getMessage.contains("LIMIT"), e.getMessage)
    // named sorts still rewrite fine
    val ok = spark.sql("SELECT k, v FROM chlbord ORDER BY v DESC LIMIT 1 BY k")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(ok === Map(1 -> 20, 2 -> 30))
  }

  test("numbers() rewrite stands down when the user registered that name") {
    assert(spark.sql("SELECT count(*) AS c FROM numbers(5)").head.getLong(0) === 5L)
    spark.udf.register("numbers", (n: Long) => n * 2)
    try {
      // the user's scalar function wins: FROM numbers(…) is no longer
      // rewritten, and the scalar call resolves to the UDF
      intercept[Exception](spark.sql("SELECT count(*) FROM numbers(5)").collect())
      assert(spark.sql("SELECT numbers(4) AS v").head.getLong(0) === 8L)
    } finally {
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("numbers"))
    }
    assert(spark.sql("SELECT count(*) AS c FROM numbers(3)").head.getLong(0) === 3L)
  }

  test("SETTINGS are not applied when the rescued text still fails to parse") {
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      intercept[Exception](
        spark.sql("SELEC x SETTINGS max_threads = 11").collect())
      assert(spark.conf.get("spark.sql.shuffle.partitions") === prior)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("FROM t FINAL dedups latest-version-per-key for registered tables only") {
    Seq((1, "a", 10, 100L), (1, "a", 20, 200L), (2, "b", 30, 50L))
      .toDF("id", "kind", "v", "ver").createOrReplaceTempView("chfin")
    // unregistered: FINAL keeps Spark's alias reading — no dedup
    assert(spark.sql("SELECT id, v FROM chfin FINAL").collect().length === 3)
    ChSqlRewrite.registerFinalKey("chfin", "id, kind", "ver DESC")
    val rows = spark.sql("SELECT id, v FROM chfin FINAL ORDER BY id")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toSeq
    assert(rows === Seq(1 -> 20, 2 -> 30))
    // qualified references through the FINAL subquery keep the table name
    assert(spark.sql("SELECT chfin.v FROM chfin FINAL WHERE chfin.id = 1")
      .head.getInt(0) === 20)
  }

  test("QUALIFY filters on select aliases, raw windows, and keeps ORDER BY/LIMIT") {
    Seq((1, 10), (1, 20), (1, 30), (2, 5), (2, 50))
      .toDF("g", "v").createOrReplaceTempView("chq")
    // alias reference: top-1 per group
    val top1 = spark.sql(
      """SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v DESC) AS rn
        |FROM chq QUALIFY rn = 1 ORDER BY g""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toSeq
    assert(top1 === Seq(1 -> 30, 2 -> 50))
    // raw window expression in the predicate (no alias in the select list)
    val big = spark.sql(
      """SELECT g, v FROM chq
        |QUALIFY sum(v) OVER (PARTITION BY g) > 55 ORDER BY v""".stripMargin)
      .collect().map(_.getInt(1)).toSeq
    assert(big === Seq(10, 20, 30))
    // trailing LIMIT survives in the rewritten outer query
    val lim = spark.sql(
      """SELECT g, v, rank() OVER (ORDER BY v DESC) AS r FROM chq
        |QUALIFY r <= 3 ORDER BY r LIMIT 2""".stripMargin)
      .collect().map(_.getInt(1)).toSeq
    assert(lim === Seq(50, 30))
    // QUALIFY after a top-level UNION binds to the LAST branch in CH;
    // wrapping the whole union would silently differ — must fail loudly
    intercept[Exception](spark.sql(
      """SELECT g, v FROM chq UNION ALL
        |SELECT g, v, row_number() OVER (ORDER BY v) AS rn FROM chq
        |QUALIFY rn = 1""".stripMargin).collect())
    // ...while a parenthesized union INSIDE the body is fine
    val sub = spark.sql(
      """SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
        |FROM (SELECT * FROM chq UNION ALL SELECT * FROM chq) u
        |QUALIFY rn = 1 ORDER BY g""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toSeq
    assert(sub === Seq(1 -> 10, 2 -> 5))
  }

  test("fourth audit-tail spellings: keyed sorts, fills, JSON, IP, quantile") {
    def one(q: String) = spark.sql(q).head.get(0)
    assert(one("SELECT arraySort(x -> -x, array(1,3,2))") ===
      Seq(3, 2, 1))
    assert(one("SELECT arrayReverseSort(x -> x % 3, array(1,2,3,4))") ===
      Seq(2, 4, 1, 3))
    assert(one("SELECT arrayFill(x -> x > 0, array(5,0,0,3,0))") ===
      Seq(5, 5, 5, 3, 3))
    // reverse fill: nothing to the right of the last element, it stays
    assert(one("SELECT arrayReverseFill(x -> x > 0, array(0,2,0,3,0))") ===
      Seq(2, 2, 3, 3, 0))
    assert(one("SELECT quantileDeterministic(0.5)(c, 42) FROM (SELECT id AS c FROM range(5))")
      === 2.0)
    assert(one("SELECT isIPv6String('::1')") === true)
    assert(one("SELECT isIPv6String('1.2.3.4')") === false)
    assert(one("""SELECT simpleJSONExtractInt('{"a":7}', 'a')""") === 7L)
    assert(one("""SELECT visitParamHas('{"a":1}', 'b')""") === false)
    // literal 3.5 is decimal-typed; BRound keeps the decimal family
    assert(one("SELECT roundBankers(3.5)").toString.toDouble === 4.0)
    val r = one("SELECT randCanonical()").asInstanceOf[Double]
    assert(r >= 0.0 && r < 1.0)
    assert(one("SELECT bar(3, 0, 8, 4)") === "█▌")
  }

  test("bracket array literals rewrite; indexing brackets stay untouched") {
    def one(q: String) = spark.sql(q).head.get(0)
    assert(one("SELECT [1,2,3]") === Seq(1, 2, 3))
    assert(one("SELECT [[1],[2,3]]") === Seq(Seq(1), Seq(2, 3)))
    // a literal immediately indexed: first bracket is a literal (follows
    // SELECT), second indexes the value — with CH's 1-BASED semantics
    // (round 9: rescued CH text indexes like CH; keeping Spark's 0-based
    // bracket would silently shift every rescued index by one)
    assert(one("SELECT [10,20][1]") === 10)
    assert(one("SELECT [10,20][-1]") === 20) // negative counts from the end
    assert(one("SELECT [10,20][9]") === null) // OOB → NULL (doc'd deviation)
    // Spark-VALID text never reaches the rescue: native 0-based stands
    assert(one("SELECT array(7,8)[1]") === 8)
    // rescued indexing wraps dotted/call/paren bases and maps too
    assert(one("SELECT map('k', 5)['k'] SETTINGS max_threads = 4") === 5)
    assert(one("SELECT array(7,8,9)[2] SETTINGS max_threads = 4") === 8)
    assert(one("SELECT (array(1,2))[2] SETTINGS max_threads = 4") === 2)
    assert(one("SELECT sort_array(array(3,1))[1] SETTINGS max_threads = 4") === 1)
    assert(one("SELECT [[1],[2,3]][2][1] SETTINGS max_threads = 4") === 2)
    // literals after keywords, commas, operators and inside calls
    assert(one("SELECT arraySum([1.0, 2.5])") === 3.5)
    assert(one("SELECT transform(2, [1,2], ['a','b'], 'z')") === "b")
    assert(one("SELECT CASE WHEN has([1,3], 3) THEN 'y' ELSE 'n' END") === "y")
    // bracket inside a string literal is untouched
    assert(one("SELECT 'a[1]'") === "a[1]")
    // CH `x IN [..]` is a bracketed tuple, not an array argument
    assert(spark.sql("SELECT x FROM (SELECT 2 AS x) WHERE x IN [1, 2, 3]")
      .collect().map(_.getInt(0)).toSeq === Seq(2))
    assert(spark.sql("SELECT x FROM (SELECT 9 AS x) WHERE x NOT IN [1, 2]")
      .collect().map(_.getInt(0)).toSeq === Seq(9))
  }

  test("fifth-pass spellings: aggregates, dates, string kernels") {
    def one(q: String) = spark.sql(q).head.get(0)
    spark.sql("SELECT 1 AS id, 3.5 AS x UNION ALL SELECT 2, 1.5 UNION ALL SELECT 3, 9.0")
      .createOrReplaceTempView("fp")
    assert(one("SELECT anyIf(id, x > 2) FROM fp") === 1)
    // boundingRatio: slope between the min-x and max-x points
    val br = one("SELECT round(boundingRatio(x, id), 4) FROM fp").asInstanceOf[Double]
    assert(math.abs(br - (3.0 - 2.0) / (9.0 - 1.5)) < 1e-4, s"boundingRatio $br")
    assert(one("SELECT toYearWeek(toDate('2020-01-15'))") === 202003)
    assert(one("SELECT formatReadableTimeDelta(90061.5)")
      === "1 day, 1 hour, 1 minute, 1.5 seconds")
    assert(one("SELECT stringJaccardIndex('abc', 'abd')") === 0.5)
    // true Damerau-Levenshtein (Lowrance-Wagner): one transposition;
    // and the classic OSA-vs-full-DL discriminator 'ca'->'abc' is 2
    // (OSA would say 3) -- matches DuckDB's damerau_levenshtein
    assert(one("SELECT damerauLevenshteinDistance('abc', 'acb')") === 1)
    assert(one("SELECT damerauLevenshteinDistance('ca', 'abc')") === 2)
    assert(one("SELECT toUUIDOrNull('bad')") === null)
    assert(one("SELECT toStringCutToZero(concat('ab', char(0), 'cd'))") === "ab")
  }

  test("round-9 advisor closures: loud multi-array sort, addDate, variadic concat") {
    def one(q: String) = spark.sql(q).head.get(0)
    // multi-array keyed sort zips positionally like CH: the FIRST array
    // sorts by keys computed over all of them
    assert(one("SELECT arraySort((x, y) -> y, array(30,10,20), array(3,1,2))") ===
      Seq(10, 20, 30))
    assert(one("SELECT arrayReverseSort((x, y) -> y, array(30,10,20), array(3,1,2))") ===
      Seq(30, 20, 10))
    // three arrays, key mixes them
    assert(one("SELECT arraySort((x, y, z) -> y + z, array(7,8,9), array(5,0,0), array(0,0,1))") ===
      Seq(8, 9, 7))
    // lambda arity must match the array count — a mismatch would bind a
    // parameter to the element index, silently diverging from CH
    val err = intercept[Exception] {
      spark.sql("SELECT arraySort((x, y) -> y, array(1,2))").collect()
    }
    assert(err.getMessage.contains("zips them positionally"), err.getMessage)
    // addDate/subDate carry CH's timestamp-arithmetic semantics
    // (addInterval — interval-tuple composition — stays unmapped/loud)
    assert(one("SELECT CAST(addDate(toDateTime('2020-01-01 00:00:00'), INTERVAL 1 DAY) AS STRING)")
      .toString.startsWith("2020-01-02"))
    assert(one("SELECT CAST(subDate(toDateTime('2020-01-02 00:00:00'), INTERVAL 1 DAY) AS STRING)")
      .toString.startsWith("2020-01-01"))
    assert(intercept[Exception] {
      spark.sql("SELECT addInterval(INTERVAL 1 DAY, INTERVAL 1 HOUR)").collect()
    }.getMessage.toLowerCase.contains("addinterval"))
    // concatAssumeInjective is variadic in CH
    assert(one("SELECT concatAssumeInjective('a', 'b', 'c', 'd')") === "abcd")
    // WITH scalar-CTE position opens a bracket literal
    assert(one("WITH [1,2,3] AS arr SELECT arraySum(arr)") === 6.0)
    // month formatting uses CH's 30.5-day month constant: 61 d = exactly 2 mo
    assert(one("SELECT formatReadableTimeDelta(5270400)") === "2 months")
  }

  test("round-9 probe-pass spellings: search, rounding, array/map ops, base58, CIDR") {
    def one(q: String) = spark.sql(q).head.get(0)
    assert(one("SELECT multiSearchFirstPosition('hello world', ['world', 'xyz'])") === 7)
    assert(one("SELECT multiSearchFirstPosition('hello', ['xyz'])") === 0)
    assert(one("SELECT roundDuration(95)") === 60L)
    assert(one("SELECT roundDuration(0)") === 0L)
    assert(one("SELECT roundDuration(40000)") === 36000L)
    assert(one("SELECT roundAge(35)") === 35L)
    assert(one("SELECT roundAge(3)") === 17L)
    assert(one("SELECT arrayDotProduct([1.0, 2.0], [3.0, 4.0])") === 11.0)
    // the classic ROC fixture: AUC = 0.75
    assert(one("SELECT arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1])") === 0.75)
    assert(one("SELECT arraySort(arrayUnion([1, 2], [2, 3]))") === Seq(1, 2, 3))
    assert(one("SELECT arraySort(arraySymmetricDifference([1, 2], [2, 3]))") === Seq(1, 3))
    // 1-based, negative from end, OOB → NULL (documented deviation from
    // CH's type default)
    assert(one("SELECT arrayElement([10, 20], 2)") === 20)
    assert(one("SELECT arrayElement([10, 20], -1)") === 20)
    assert(one("SELECT arrayElement([10, 20], 5)") === null)
    val zu = one("SELECT arrayZipUnaligned([1, 2], [30])")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
    assert(zu.map(r => (r.get(0), r.get(1))) === Seq((1, 30), (2, null)))
    assert(one("SELECT mid('hello', 2, 3)") === "ell")
    assert(one("SELECT caseWithExpr(2, 1, 'a', 2, 'b', 'z')") === "b")
    assert(one("SELECT nanOrZero(CAST('NaN' AS DOUBLE))") === 0.0)
    assert(one("SELECT toIPv4('1.2.3.4')") === 16909060L)
    assert(one("SELECT element_at(mapAdd(map('a', 1), map('a', 2, 'b', 5)), 'a')") === 3)
    assert(one("SELECT element_at(mapAdd(map('a', 1), map('a', 2, 'b', 5)), 'b')") === 5)
    assert(one("SELECT element_at(mapSubtract(map('a', 3), map('a', 1)), 'a')") === 2)
    assert(one("SELECT element_at(mapUpdate(map('a', 1, 'b', 2), map('b', 9)), 'b')") === 9)
    // mapUpdate keeps m2's explicit NULL on a shared key (MapContainsKey
    // guard — a Coalesce would silently fall back to m1's value)
    assert(one("SELECT element_at(mapUpdate(map('a', 1), map('a', CAST(NULL AS INT))), 'a')") === null)
    assert(one("SELECT size(emptyArrayInt32())") === 0)
    assert(one("SELECT size(emptyArrayString())") === 0)
    // element types follow the CH→Spark type mapping
    import org.apache.spark.sql.types.{ArrayType, DecimalType, ShortType, TimestampType}
    def emptyElem(f: String) =
      spark.sql(s"SELECT $f() AS r").schema("r").dataType.asInstanceOf[ArrayType].elementType
    assert(emptyElem("emptyArrayUInt64") === DecimalType(20, 0))
    assert(emptyElem("emptyArrayDateTime") === TimestampType)
    assert(emptyElem("emptyArrayUInt8") === ShortType)
    // javaHash: 31*h + signed UTF-8 byte (CH JavaHashImpl). Agrees with
    // String.hashCode on ASCII; diverges on multi-byte chars.
    assert(one("SELECT javaHash('abc')") === 96354)
    assert(one("SELECT javaHash('ы')") === 31 * (0xD1 - 256) + (0x8B - 256)) // -1574, from raw bytes
    // base58: round trip + the leading-zero-byte → '1' rule
    assert(one("SELECT base58Decode(base58Encode('hello world'))") === "hello world")
    assert(one("SELECT substring(base58Encode(concat(char(0), 'a')), 1, 1)") === "1")
    assert(intercept[Exception] {
      spark.sql("SELECT base58Decode('0OIl')").collect() // not in the alphabet
    }.getMessage.contains("invalid character"))
    assert(one("SELECT isIPAddressInRange('127.0.0.1', '127.0.0.0/8')") === true)
    assert(one("SELECT isIPAddressInRange('128.0.0.1', '127.0.0.0/8')") === false)
    assert(one("SELECT isIPAddressInRange('2001:db8::1', '2001:db8::/32')") === true)
    assert(one("SELECT isIPAddressInRange('2001:db9::1', '2001:db8::/32')") === false)
    // strict-literal parse: hostname-shaped / malformed strings are
    // rejected in-process and can NEVER reach a DNS resolver
    assert(one("SELECT isIPAddressInRange('cafe', '10.0.0.0/8')") === false)
    assert(one("SELECT isIPAddressInRange('abc.def', '10.0.0.0/8')") === false)
    assert(one("SELECT isIPAddressInRange('999.1.1.1', '10.0.0.0/8')") === false)
    assert(one("SELECT isIPAddressInRange('1.2.3', '10.0.0.0/8')") === false)
    assert(one("SELECT isIPAddressInRange('2001:db8::1::2', '2001:db8::/32')") === false)
    assert(one("SELECT isIPAddressInRange('::ffff:192.168.0.1', '::ffff:192.168.0.0/112')") === true)
    // RFC 4291: the dotted-quad may only be the FINAL 32 bits — a head
    // v4 before '::' is invalid (inet_pton rejects '1.2.3.4::' too)
    assert(one("SELECT isIPAddressInRange('1.2.3.4::', '102:304::/32')") === false)
    // only ASCII hex digits form IPv6 groups (Character.digit would
    // accept Unicode digits / fullwidth hex letters)
    val uniGroup = "٣٣::1" // Arabic-Indic THREEs
    assert(graft.functions.CHValues.isIpInRange(
      org.apache.spark.unsafe.types.UTF8String.fromString(uniGroup),
      org.apache.spark.unsafe.types.UTF8String.fromString("::/0")) === false)
  }

  test("CH CREATE TABLE DDL: types map, ENGINE tail drops, FINAL/SAMPLE keys register") {
    import org.apache.spark.sql.types._
    // the py-clickhouse-arrow README DDL, verbatim
    spark.sql("CREATE TABLE ch_ddl_t1 (id UInt64, name String) ENGINE = Memory")
    try {
      val sch = spark.table("ch_ddl_t1").schema
      assert(sch("id").dataType === DecimalType(20, 0))
      assert(sch("name").dataType === StringType)
      spark.sql("INSERT INTO ch_ddl_t1 VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql("SELECT count(*) FROM ch_ddl_t1").head.getLong(0) === 2L)
    } finally spark.sql("DROP TABLE IF EXISTS ch_ddl_t1")

    // tests-suite shape: IF NOT EXISTS, Nullable column, MergeTree ORDER BY,
    // storage SETTINGS tail
    spark.sql(
      """CREATE TABLE IF NOT EXISTS ch_ddl_t2 (
        |  id Int32,
        |  name Nullable(String)
        |) ENGINE = MergeTree() ORDER BY id SETTINGS index_granularity = 8192""".stripMargin)
    try {
      assert(spark.table("ch_ddl_t2").schema("id").dataType === IntegerType)
      assert(spark.table("ch_ddl_t2").schema("name").nullable)
    } finally spark.sql("DROP TABLE IF EXISTS ch_ddl_t2")

    // ReplacingMergeTree(ver) ORDER BY k registers the FINAL key: read-time
    // dedup picks the max-version row per key
    spark.sql(
      "CREATE TABLE ch_ddl_t3 (k Int32, ver Int32, v String) " +
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k")
    try {
      spark.sql("INSERT INTO ch_ddl_t3 VALUES (1, 1, 'old'), (1, 2, 'new'), (2, 1, 'only')")
      val rows = spark.sql("SELECT k, v FROM ch_ddl_t3 FINAL ORDER BY k")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows === Seq(1 -> "new", 2 -> "only"))
    } finally spark.sql("DROP TABLE IF EXISTS ch_ddl_t3")

    // SAMPLE BY registers the sampling key; SAMPLE k then works on the table
    spark.sql(
      "CREATE TABLE ch_ddl_t4 (id Int64) ENGINE = MergeTree() ORDER BY id SAMPLE BY id")
    try {
      spark.sql("INSERT INTO ch_ddl_t4 SELECT id FROM range(100)")
      val sampled = spark.sql("SELECT count(*) AS n FROM ch_ddl_t4 SAMPLE 0.5").head.getLong(0)
      assert(sampled > 0 && sampled < 100, s"sampled $sampled")
    } finally spark.sql("DROP TABLE IF EXISTS ch_ddl_t4")

    // semantics-bearing constructs with no Spark analog fail loudly
    assert(intercept[Exception] {
      spark.sql("CREATE TABLE ch_ddl_bad1 (id Int32, d Date MATERIALIZED today()) ENGINE = Memory")
    }.getMessage.contains("MATERIALIZED"))
    assert(intercept[Exception] {
      spark.sql("CREATE TABLE ch_ddl_bad2 (id Int32, ts DateTime) ENGINE = MergeTree() ORDER BY id TTL ts + INTERVAL 1 DAY")
    }.getMessage.contains("TTL"))
    // Spark-intended DDL that fails keeps ITS OWN error (no ENGINE => untouched)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE ch_ddl_bad3 (id NOSUCHTYPE) USING parquet")
    }
    assert(!e.getMessage.contains("CH DDL"), e.getMessage)

    // harvested: CH's synchronous-drop modifier strips (Spark drops are
    // always synchronous); both the database and table forms
    spark.sql("CREATE DATABASE IF NOT EXISTS ch_ddl_db")
    spark.sql("DROP DATABASE IF EXISTS ch_ddl_db SYNC")
    spark.sql("DROP TABLE IF EXISTS ch_ddl_nope SYNC")

    // ON CLUSTER drops (Spark's one-catalog DDL is cluster-wide already)
    spark.sql("DROP TABLE IF EXISTS ch_ddl_oc")
    spark.sql("CREATE TABLE ch_ddl_oc ON CLUSTER prod (id Int32) ENGINE = Memory")
    try assert(spark.table("ch_ddl_oc").schema("id").dataType === IntegerType)
    finally spark.sql("DROP TABLE IF EXISTS ch_ddl_oc")

    // CH CTAS: ENGINE tail before AS SELECT, no column list
    spark.sql("DROP TABLE IF EXISTS ch_ctas1")
    spark.sql(
      "CREATE TABLE ch_ctas1 ENGINE = MergeTree() ORDER BY id " +
        "AS SELECT id, id * 2 AS v FROM range(5)")
    try {
      assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) AS s FROM ch_ctas1").head.getLong(0) === 20L)
    } finally spark.sql("DROP TABLE IF EXISTS ch_ctas1")
    // schema + CTAS cannot be expressed in Spark: loud, with guidance
    assert(intercept[Exception] {
      spark.sql("CREATE TABLE ch_ctas_bad (id Int32) ENGINE = Memory AS SELECT 1 AS id")
    }.getMessage.contains("CTAS"))

    // every §1.2 CH type spelling in ONE wide CREATE maps to exactly what
    // CHType.toSpark declares (the DDL path reuses the same table, but a
    // scanner bug could truncate a parenthesized type — pin each field)
    val chTypes = Seq(
      "UInt8", "UInt16", "UInt32", "UInt64", "Int8", "Int16", "Int32",
      "Int64", "Int128", "Float32", "Float64", "String", "FixedString(4)",
      "Date", "Date32", "DateTime", "DateTime64(3)", "Decimal(10, 2)",
      "UUID", "Bool", "IPv4", "IPv6", "LowCardinality(String)",
      "Nullable(Int32)", "Array(Int32)", "Map(String, Int64)",
      "Tuple(Int32, String)", "Enum8('a' = 1, 'b' = 2)", "BFloat16")
    val colDefs = chTypes.zipWithIndex
      .map { case (t0, i) => s"c$i $t0" }.mkString(", ")
    spark.sql("DROP TABLE IF EXISTS ch_ddl_types")
    spark.sql(s"CREATE TABLE ch_ddl_types ($colDefs) ENGINE = Memory")
    try {
      val sch = spark.table("ch_ddl_types").schema
      // Spark DDL normalizes container-element nullability (ARRAY<INT>
      // elements become nullable), which the write-side mapping doesn't —
      // the TYPE SHAPE must match exactly, nullability normalized away
      def norm(dt: DataType): DataType = dt match {
        case ArrayType(e, _) => ArrayType(norm(e), containsNull = true)
        case MapType(k, v, _) => MapType(norm(k), norm(v), valueContainsNull = true)
        case StructType(fs) => StructType(fs.map(f =>
          f.copy(dataType = norm(f.dataType), nullable = true)))
        case other => other
      }
      chTypes.zipWithIndex.foreach { case (t0, i) =>
        val expect = graft.types.CHType.toSpark(graft.types.CHType.parse(t0))._1
        assert(norm(sch(s"c$i").dataType) === norm(expect),
          s"$t0 mapped to ${sch(s"c$i").dataType}")
      }
    } finally spark.sql("DROP TABLE IF EXISTS ch_ddl_types")

    // CH INSERT ... VALUES with bracket array literals rides the same
    // rescue (bracket rewrite inside the VALUES tuple)
    spark.sql("CREATE TABLE ch_ddl_t5 (id Int32, xs Array(Int32)) ENGINE = Memory")
    try {
      spark.sql("INSERT INTO ch_ddl_t5 VALUES (1, [10, 20]), (2, [])")
      val rows = spark.sql("SELECT id, size(xs) AS n FROM ch_ddl_t5 ORDER BY id")
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toSeq
      assert(rows === Seq(1 -> 2, 2 -> 0))
    } finally spark.sql("DROP TABLE IF EXISTS ch_ddl_t5")
  }

  test("round-10 advisor closures: formatDateTime NULL anchor, extra-arg guards") {
    // specifier-free formats must still propagate NULL (the segment-wise
    // renderer made them pure Literals, losing the input anchor)
    assert(one("formatDateTime(CAST(NULL AS TIMESTAMP), 'abc')") === null)
    assert(one("formatDateTime(CAST(NULL AS TIMESTAMP), '')") === null)
    assert(one("formatDateTime(toDateTime('2024-05-17 13:42:57'), 'abc')") === "abc")
    assert(one("formatDateTime(toDateTime('2024-05-17 13:42:57'), '')") === "")
    // NULL propagation with specifiers was already correct — pin it
    assert(one("formatDateTime(CAST(NULL AS TIMESTAMP), '%Y')") === null)
    // CH accepts a timezone 3rd arg on toStartOfWeek and a different
    // signature on mapPopulateSeries — both must fail loudly, not
    // silently return session-timezone / truncated results
    intercept[Exception](one("toStartOfWeek(toDate('2024-05-17'), 1, 'UTC')"))
    intercept[Exception](one("mapPopulateSeries(map(1, 10), 3, 99)"))
  }
}
